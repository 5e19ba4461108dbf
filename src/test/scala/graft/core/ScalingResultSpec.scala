package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.bench.Scaling
import graft.bench.Scaling.{Level, Result}

/** Pure-JVM pins for the scaling capture's statistics and JSON schema —
  * the record BENCH_r{N}.json / BASELINE.md quote, so a field rename or a
  * statistic change is caught here instead of at grading time. */
class ScalingResultSpec extends AnyFunSuite {

  private def lvl(cpus: Int, seconds: Double, nTurns: Long = 1000L) =
    Level(cpus, seconds, nTurns / seconds, 42L)

  private val levels = Vector(lvl(4, 10.0), lvl(16, 3.125))

  private def result(pairs: Vector[Map[Int, Double]], ls: Vector[Level] = levels,
                     hostCpus: Int = 16) =
    Result(10L, 1000L, ls, pairs, hostCpus)

  test("median: odd, even and single-element samples") {
    assert(Scaling.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Scaling.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Scaling.median(Seq(7.5)) == 7.5)
    intercept[IllegalArgumentException](Scaling.median(Seq.empty))
  }

  test("efficiency is the median of per-pair (s_lo/s_hi)/(cpus_hi/cpus_lo)") {
    // per-pair ratios: 10/3.125/4 = 0.8, 10/2.5/4 = 1.0, 10/3.5714.../4 = 0.7
    val r = result(Vector(
      Map(4 -> 10.0, 16 -> 3.125), Map(4 -> 10.0, 16 -> 2.5), Map(4 -> 10.0, 16 -> 10.0 / 2.8)))
    assert(r.pairRatios.zip(Seq(0.8, 1.0, 0.7)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    assert(math.abs(r.efficiency.get - 0.8) < 1e-9)
    assert(r.nullReason.isEmpty)
    // even pair count: the mean of the middle two ratios
    val even = result(Vector(Map(4 -> 10.0, 16 -> 3.125), Map(4 -> 10.0, 16 -> 2.5)))
    assert(math.abs(even.efficiency.get - 0.9) < 1e-9)
  }

  test("paired median cancels a drifting window; min-based cannot") {
    // pair 2 runs in a 2x-slower window: its ratio is still 0.8
    val pairs = Vector(
      Map(4 -> 10.0, 16 -> 3.125), // eff 0.8
      Map(4 -> 20.0, 16 -> 6.25)) // eff 0.8, slower regime
    assert(math.abs(result(pairs).efficiency.get - 0.8) < 1e-9)
    // a lo-only fast stretch (turbo on 4 threads) lowers the 4-thread level
    // seconds: a min-based ratio over the levels reads 0.64, below every
    // per-pair ratio, while the headline stays on the pair record at 0.8
    val fastLo = Vector(lvl(4, 8.0), lvl(16, 3.125))
    val minBased = (fastLo(1).turnsPerSec / fastLo(0).turnsPerSec) /
      (fastLo(1).cpus.toDouble / fastLo(0).cpus)
    assert(math.abs(minBased - 0.64) < 1e-9)
    val biased = result(pairs, ls = fastLo)
    assert(math.abs(biased.efficiency.get - 0.8) < 1e-9)
  }

  test("oversubscribed host: efficiency null with a reason, no ratio recorded") {
    val r = result(Vector(Map(4 -> 10.0, 16 -> 3.125)), hostCpus = 4)
    assert(r.efficiency.isEmpty)
    assert(r.pairRatios.isEmpty)
    assert(r.nullReason.exists(_.contains("4 processors")), r.nullReason)
    val j = r.json
    assert(j.contains("\"efficiency\":null,\"efficiency_null_reason\":\"host has 4 processors"), j)
    assert(j.contains("\"pair_ratios\":[]"), j)
    // a host exactly at the top level records the ratio
    assert(result(Vector(Map(4 -> 10.0, 16 -> 3.125)), hostCpus = 16).efficiency.isDefined)
  }

  test("kernel ceiling: efficiency over extreme levels, NaN when absent") {
    val base = result(Vector.empty)
    assert(base.kernelEfficiency.isNaN)
    val r = base.copy(kernelTps = Map(4 -> 200000.0, 16 -> 514400.0))
    assert(math.abs(r.kernelEfficiency - 0.643) < 1e-3)
  }

  test("json carries every graded field; kernel_ceiling null when unmeasured") {
    val base = result(Vector(Map(4 -> 10.0, 16 -> 3.125)))
    val j0 = base.json
    for (k <- Seq("\"n_convs\"", "\"n_turns\"", "\"levels\"", "\"efficiency\"",
        "\"pair_ratios\"", "\"bursts\"", "\"kernel_ceiling\"", "\"occupancy_pinned_to_cores\""))
      assert(j0.contains(k), s"missing $k in $j0")
    assert(j0.contains("\"efficiency\":0.800,\"pair_ratios\":[0.800],\"bursts\":1"), j0)
    assert(!j0.contains("efficiency_null_reason"), j0)
    assert(j0.contains("\"kernel_ceiling\":null"))
    assert(j0.contains("\"kernel_ceiling_pre\":null"))
    val j1 = base.copy(kernelTps = Map(4 -> 200000.0, 16 -> 514400.0)).json
    assert(j1.contains("\"kernel_ceiling\":{\"tps\":{\"4\":200000,\"16\":514400},\"efficiency\":0.643}"), j1)
  }

  test("kernel ceiling BRACKET: pre endpoint independent of post, both in json") {
    val base = result(Vector.empty)
    val r = base.copy(kernelTpsPre = Map(4 -> 200000.0, 16 -> 696000.0),
      kernelTps = Map(4 -> 200000.0, 16 -> 514400.0))
    assert(math.abs(r.kernelEfficiencyPre - 0.870) < 1e-3)
    assert(math.abs(r.kernelEfficiency - 0.643) < 1e-3)
    assert(r.json.contains(
      "\"kernel_ceiling_pre\":{\"tps\":{\"4\":200000,\"16\":696000},\"efficiency\":0.870}"), r.json)
    // a pre-only measurement (post probe failed/skipped) still renders
    assert(base.copy(kernelTpsPre = Map(4 -> 1.0, 16 -> 4.0)).json
      .contains("\"kernel_ceiling\":null"))
  }

  test("oversubscribed host: kernel ceilings keep their tps, efficiency null") {
    val r = result(Vector(Map(4 -> 10.0, 16 -> 3.125)), hostCpus = 4).copy(
      kernelTpsPre = Map(4 -> 200000.0, 16 -> 210000.0),
      kernelTps = Map(4 -> 200000.0, 16 -> 205000.0))
    val j = r.json
    assert(j.contains("\"kernel_ceiling\":{\"tps\":{\"4\":200000,\"16\":205000},\"efficiency\":null}"), j)
    assert(j.contains("\"kernel_ceiling_pre\":{\"tps\":{\"4\":200000,\"16\":210000},\"efficiency\":null}"), j)
    assert(j.contains("\"efficiency_null_reason\":\"host has 4 processors"), j)
    assert(r.kernelEfficiency.isNaN && r.kernelEfficiencyPre.isNaN)
    // the ballast is capped at the host's cores (ballastSpinners)
    assert(j.contains("\"occupancy_pinned_to_cores\":4}"), j)
  }

  test("ballast spinners: the top level's cores, capped at the host's") {
    // at least as many cores as the top level: unchanged, top - cpus
    assert(Scaling.ballastSpinners(top = 16, cpus = 4, hostCpus = 16) == 12)
    assert(Scaling.ballastSpinners(top = 16, cpus = 4, hostCpus = 64) == 12)
    assert(Scaling.ballastSpinners(top = 16, cpus = 16, hostCpus = 64) == 0)
    // fewer: only the host's idle cores, never a negative count
    assert(Scaling.ballastSpinners(top = 16, cpus = 4, hostCpus = 8) == 4)
    assert(Scaling.ballastSpinners(top = 16, cpus = 4, hostCpus = 4) == 0)
    assert(Scaling.ballastSpinners(top = 16, cpus = 16, hostCpus = 4) == 0)
  }
}
