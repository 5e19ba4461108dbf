package graft.spark

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity
import graft.pipeline.Pipeline

/** Trained-IVF robustness (r3 verdict #3): id-seeded cells fail when the
  * first nCells vectors happen to be clustered; Lloyd-trained cells must
  * not. The fixture is exactly that adversarial corpus — every seed id
  * drawn from ONE cluster — plus a shuffled-id corpus for the general
  * case. Also home of the monster-conversation fold guard trip test. */
class AnnTrainSpec extends AnyFunSuite with SparkFixture {

  test("annPq: ranks are dense top-k and a planted exact duplicate wins rank 1") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val raw = (0L until 120L).map(id => (id, Array.fill(64)(rnd.nextFloat()), 0))
    // plant: vector 50 is byte-identical to query 0 — its codes hit the
    // per-subspace MINIMUM of query 0's ADC table in every subspace, so no
    // other vector can score a smaller approximate distance
    val rows = raw.map { case (id, v, l) => (id, if (id == 50L) raw.head._2 else v, l) }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.annPq(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    // dense ranks 1..5 for each of the 20 queries
    assert(got.map(t => (t._1, t._2)).toSet ===
      (for (q <- 0L until 20L; rk <- 1L to 5L) yield (q, rk)).toSet)
    val q0 = got.filter(_._1 == 0L).sortBy(_._2)
    assert(q0.head._3 === 50L, s"planted duplicate must rank first, got ${q0.head}")
    assert(q0.head._5, "the duplicate is also the exact nearest neighbor")
  }

  test("annIvfPq: dense top-k, planted duplicate wins rank 1 in its own cell") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val raw = (0L until 120L).map(id => (id, Array.fill(64)(rnd.nextFloat()), 0))
    // vector 50 is byte-identical to query 0: same coarse cell (probed
    // first), identical residual, so its codes hit the per-subspace ADC
    // row minimum — no candidate can score a smaller approximate distance
    val rows = raw.map { case (id, v, l) => (id, if (id == 50L) raw.head._2 else v, l) }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.annIvfPq(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4), r.getBoolean(5)))
    assert(got.map(t => (t._1, t._2)).toSet ===
      (for (q <- 0L until 20L; rk <- 1L to 5L) yield (q, rk)).toSet)
    val q0 = got.filter(_._1 == 0L).sortBy(_._2)
    assert(q0.head._3 === 50L, s"planted duplicate must rank first, got ${q0.head}")
    assert(q0.head._6, "the duplicate is also the exact nearest neighbor")
    // candidates only ever come from probed cells
    val cellsPerQuery = got.groupBy(_._1).values.map(_.map(_._4).distinct.size)
    assert(cellsPerQuery.forall(_ <= Similarity.IvfPqProbe))
  }

  test("annIvfAppend: a delta vector identical to a query surfaces at rank 1, flagged") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val raw = (0L until 160L).map(id => (id, Array.fill(64)(rnd.nextFloat()), 0))
    // id 51 is in the DELTA slice (51 % 4 = 3) and byte-identical to query
    // 0: the frozen-centroid assignment puts it in query 0's own cell
    // (identical vector, identical cell), so the appended batch is
    // immediately searchable and must win rank 1 with from_delta = true
    assert(51L % Similarity.IvfAppendDeltaMod == Similarity.IvfAppendDeltaMod - 1)
    val rows = raw.map { case (id, v, l) => (id, if (id == 51L) raw.head._2 else v, l) }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.annIvfAppend(emb, nCells = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(5)))
    assert(got.map(t => (t._1, t._2)).toSet ===
      (for (q <- 0L until 20L; rk <- 1L to 5L) yield (q, rk)).toSet)
    val q0 = got.filter(_._1 == 0L).sortBy(_._2)
    assert(q0.head._3 === 51L, s"planted delta duplicate must rank first, got ${q0.head}")
    assert(q0.head._4, "rank-1 neighbor must be flagged from_delta")
    // the flag marks exactly the delta slice
    assert(got.forall(t => t._4 == (t._3 % Similarity.IvfAppendDeltaMod ==
      Similarity.IvfAppendDeltaMod - 1)))
    // drift monitor over the same index: every vector lands in exactly one
    // cell, the standing/delta split matches the mod rule, and a mean
    // never exceeds its cell's max contribution bound (sanity, not drift)
    val drift = Similarity.annIvfDrift(emb, nCells = 16).collect()
    assert(drift.map(_.getLong(1)).sum === 120L) // 160 ids, 40 are % 4 == 3
    assert(drift.map(_.getLong(2)).sum === 40L)
    drift.foreach { r =>
      if (r.getLong(1) > 0) assert(r.getLong(5) * r.getLong(1) <= r.getLong(3))
      if (r.getLong(2) > 0) assert(r.getLong(6) * r.getLong(2) <= r.getLong(4))
    }
  }

  test("annIvfDrift: a drifted delta batch inflates delta_msd; an in-distribution one does not") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0L until 320L).map(id => (id, Array.fill(64)(rnd.nextFloat()), 0))
    // corpus-level mean squared distance: total sqdist / total count over cells
    def msd(rows: Array[org.apache.spark.sql.Row], sumIdx: Int, nIdx: Int): Double =
      rows.map(_.getLong(sumIdx)).sum.toDouble / rows.map(_.getLong(nIdx)).sum
    // in-distribution delta: both slices uniform over the same cube, so the
    // frozen standing-trained centroids explain the delta equally well
    val inDist = base.toDF("vec_id", "embedding", "label")
    val d1 = Similarity.annIvfDrift(inDist, nCells = 16).collect()
    val (s1, del1) = (msd(d1, 3, 1), msd(d1, 4, 2))
    assert(del1 <= s1 * 2.0,
      s"in-distribution delta flagged as drifted: standing_msd=$s1 delta_msd=$del1")
    // drifted delta: the arriving batch sits far outside the training cube —
    // the monitor must light up long before anyone measures recall
    val drifted = base.map { case (id, v, l) =>
      (id, if (id % Similarity.IvfAppendDeltaMod == Similarity.IvfAppendDeltaMod - 1)
        v.map(_ + 8.0f) else v, l)
    }.toDF("vec_id", "embedding", "label")
    val d2 = Similarity.annIvfDrift(drifted, nCells = 16).collect()
    val (s2, del2) = (msd(d2, 3, 1), msd(d2, 4, 2))
    assert(del2 >= s2 * 10.0,
      s"drifted delta not flagged: standing_msd=$s2 delta_msd=$del2")
    // the standing side's own fit is unchanged by what arrives in the delta
    assert(d1.map(_.getLong(1)).sum === d2.map(_.getLong(1)).sum)
  }

  test("annIvfPersisted: the store round trip (write/read/append/search) is bit-identical to the in-flight index") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val emb = (0L until 320L).map(id => (id, Array.fill(64)(rnd.nextFloat()), 0))
      .toDF("vec_id", "embedding", "label")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4), r.getBoolean(5))
    val persisted = Similarity.annIvfPersisted(emb, nCells = 16).collect().map(key)
    val inflight = Similarity.annIvfAppend(emb, nCells = 16).collect().map(key)
    assert(persisted.toSeq === inflight.toSeq,
      "persisted-index search must equal the in-flight index search exactly")
    // delta vectors added via the SECOND stored snapshot genuinely surface
    assert(persisted.exists(_._6), "no appended (delta-snapshot) neighbor surfaced")
  }

  test("annIvfRetrain: drifted scenario fires and warm-start retrain repairs the delta fit; in-dist passes the frozen index through") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val emb = (0L until 320L).map(id => (id, Array.fill(64)(rnd.nextFloat()), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.annIvfRetrain(emb, nCells = 16).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(got.map(t => (t._1, t._2)).toSeq === Seq(
      ("drifted", "delta"), ("drifted", "standing"),
      ("in_dist", "delta"), ("in_dist", "standing")))
    val m = got.map(t => (t._1, t._2) -> t).toMap
    // slice counts follow the shared mod rule (320 ids, 80 are % 4 == 3)
    assert(got.filter(_._2 == "delta").forall(_._3 == 80L))
    assert(got.filter(_._2 == "standing").forall(_._3 == 240L))
    // in_dist: the decision must not fire and the frozen index IS the
    // result — msd passthrough bit-for-bit, on both slices
    assert(!m(("in_dist", "delta"))._6, "in-distribution delta tripped a retrain")
    got.filter(_._1 == "in_dist").foreach(t =>
      assert(t._5 === t._4, s"no-retrain branch must pass the frozen msd through: $t"))
    // the rule is genuinely the msd comparison, visible in the outputs
    val dd = m(("drifted", "delta")); val ds = m(("drifted", "standing"))
    val id = m(("in_dist", "delta")); val is = m(("in_dist", "standing"))
    assert(dd._4 > Similarity.RetrainMsdFactor * ds._4)
    assert(id._4 <= Similarity.RetrainMsdFactor * is._4)
    // drifted: fires, and the warm-start retrain actually repairs the
    // drifted batch's fit (the loop's whole point)
    assert(dd._6, s"drift did not trip the retrain rule: $dd")
    assert(dd._5 < dd._4, s"retrain must reduce the drifted delta msd: $dd")
    // a factor too high to trip leaves even the drifted scenario frozen
    val lax = Similarity.annIvfRetrain(emb, nCells = 16, factor = 1000000L).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(lax.forall(t => !t._4 && t._3 === t._2))
    intercept[IllegalArgumentException](Similarity.annIvfRetrain(emb, factor = 0L))
    intercept[IllegalArgumentException](Similarity.annIvfRetrain(emb, driftShift = 0L))
  }

  private val dim = 8
  private val nClusters = 8
  private val perCluster = 30

  /** Well-separated cluster centers: near-one on the own axis, small
    * deterministic floor elsewhere. */
  private def center(c: Int, d: Int): Double =
    if (d == c) 0.9 else 0.05 + 0.01 * ((c * 7 + d) % 3)

  /** Deterministic jitter in [-0.03, 0.03]. */
  private def jit(c: Int, m: Int, d: Int): Double =
    0.01 * (((c * 31 + m * 17 + d * 13) % 7) - 3)

  private def vec(c: Int, m: Int): Array[Float] =
    Array.tabulate(dim)(d => (center(c, d) + jit(c, m, d)).toFloat)

  /** Corpus with an id assignment chosen by `idOf(cluster, member)`. */
  private def corpus(idOf: (Int, Int) => Int) = {
    import spark.implicits._
    (for (c <- 0 until nClusters; m <- 0 until perCluster)
      yield (idOf(c, m).toLong, vec(c, m), s"c$c"))
      .toDF("vec_id", "embedding", "label")
  }

  private def recallPpm(emb: org.apache.spark.sql.DataFrame, trainIters: Int): Long = {
    val truth = Similarity.knnBruteForce(emb, nQueries = 20, k = 5)
      .select("query_id", "neighbor_id")
    val ann = Similarity
      .annIvf(emb, nQueries = 20, k = 5, nCells = 8, nProbe = 2, trainIters = trainIters)
      .select("query_id", "neighbor_id")
    val hits = truth.join(ann, Seq("query_id", "neighbor_id")).count()
    hits * 1000000L / truth.count()
  }

  test("adversarial seeds (all from one cluster): training does not lower recall") {
    // ids 0..29 = cluster 0 (so every one of the 8 seed ids AND most query
    // ids sit in one tight cluster); remaining clusters fill the id space
    val emb = corpus((c, m) => c * perCluster + m)
    val untrained = recallPpm(emb, trainIters = 0)
    val trained = recallPpm(emb, trainIters = 2)
    assert(trained >= untrained,
      s"training regressed recall: untrained=$untrained trained=$trained")
    assert(trained >= 800000L, s"trained recall too low: $trained ppm")
  }

  test("shuffled ids: trained recall holds up and cells stop being degenerate") {
    // deterministic pseudo-shuffle of ids — seed quality is "luck"
    val n = nClusters * perCluster
    val perm = (0 until n).sortBy(i => (i * 131 + 17) % n * n + i)
    val idx = perm.zipWithIndex.map { case (orig, shuf) => orig -> shuf }.toMap
    val emb = corpus((c, m) => idx(c * perCluster + m))
    val untrained = recallPpm(emb, trainIters = 0)
    val trained = recallPpm(emb, trainIters = 2)
    assert(trained >= untrained,
      s"training regressed recall: untrained=$untrained trained=$trained")
    assert(trained >= 800000L, s"trained recall too low: $trained ppm")
  }

  test("monster conversation trips the fold budget loudly, with the conv_id") {
    val turns = Iterator.tabulate(5)(i => ("conv-monster", i, "raw", "x" * 10))
    val fold = new Pipeline.GroupFold(turns, _ => Nil, (_, t) => t,
      maxConvPages = 3, maxConvChars = 1000000L)
    val e = intercept[IllegalStateException](fold.toVector)
    assert(e.getMessage.contains("conv-monster"))
    // the message states the counts and the limits, and points at no route:
    // every fold route buffers a conversation under the same limits
    assert(e.getMessage.contains("(4 pages / 40 chars buffered; limits 3 pages / 1000000 chars)"),
      e.getMessage)
    // char budget trips independently of the page budget
    val turns2 = Iterator.tabulate(2)(i => ("conv-fat", i, "raw", "y" * 600))
    val fold2 = new Pipeline.GroupFold(turns2, _ => Nil, (_, t) => t,
      maxConvPages = 100, maxConvChars = 1000L)
    val e2 = intercept[IllegalStateException](fold2.toVector)
    assert(e2.getMessage.contains("conv-fat"))
    // a conversation inside both budgets folds normally
    val ok = new Pipeline.GroupFold(
      Iterator.tabulate(3)(i => ("conv-ok", i, "raw", "z")), _ => Nil, (_, t) => t,
      maxConvPages = 3, maxConvChars = 1000L)
    assert(ok.toVector.isEmpty) // no rules → no segment rows, but no throw
  }
}
