package graft.bench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.core.extract.Extractor
import graft.gen.SyntheticTranscripts
import graft.schema.Turn

/** No-Spark microbenchmark of the extraction kernels: same payload corpus,
  * N threads hammering [[Extractor.safeExtract]] — isolates kernel thread
  * scaling from Spark scheduling/shuffle/GC effects. [[measure]] is also
  * the scaling session's KERNEL-CEILING probe ([[Scaling.run]]): the
  * pipeline's N→4N efficiency cannot exceed what raw threads achieve on
  * this box in this window, so recording both in one JSON lets a reader
  * tell hardware weather (kernel ceiling moved) from a Spark regression
  * (pipeline fell away from the ceiling).
  *
  * `main` first prints each tool's warm single-thread cost ([[warmPerTool]]:
  * median µs/turn over [[Reps]] passes after one discarded warm-up pass),
  * then the throughput of each thread level.
  * Usage: runMain graft.bench.KernelBench [nConvs] [threadList]
  */
object KernelBench {

  /** Throughput (turns/sec) of `threads` workers extracting the corpus
    * once, split into equal chunks. Fails loudly on timeout. */
  def measure(turns: Array[Turn], threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    val done = new CountDownLatch(threads)
    val sink = new AtomicLong()
    val chunks = turns.grouped(math.max(1, turns.length / threads + 1)).toArray
    val t0 = System.nanoTime()
    chunks.foreach { chunk =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var acc = 0L
          chunk.foreach { t =>
            val (ex, _) = Extractor.safeExtract(t.tool, t.text)
            acc += ex.text.length
          }
          sink.addAndGet(acc)
          done.countDown()
        }
      })
    }
    // any chunking mismatch: count down remaining
    (chunks.length until threads).foreach(_ => done.countDown())
    val completed = done.await(600, TimeUnit.SECONDS)
    val sec = (System.nanoTime() - t0) / 1e9
    // shutdownNow interrupts stragglers so a timed-out level cannot keep
    // hammering cores while the NEXT level is being measured; and an
    // incomplete level must fail loudly, not report garbage throughput
    pool.shutdownNow()
    require(completed, s"kernel bench: level $threads timed out after 600s")
    turns.length / sec
  }

  /** Median throughput of three reps per thread level (the same
    * statistic as the Spark levels' median seconds), after one warmup
    * pass at the highest level. */
  def ceiling(seed: Long, nConvs: Int, levels: Seq[Int]): Map[Int, Double] = {
    val turns =
      (0 until nConvs).flatMap(i => SyntheticTranscripts.turnsFor(seed, i.toLong)).toArray
    measure(turns, levels.max): Unit // warmup: JIT + page-in
    levels.map(t => t -> Scaling.median((1 to 3).map(_ => measure(turns, t)))).toMap
  }

  /** Timed single-thread passes per tool in [[warmPerTool]]. */
  private val Reps = 7

  /** Extracted chars of every pass, summed so the JIT cannot drop the work. */
  @volatile private var sink = 0L

  /** Median µs/turn of one thread extracting each tool's turns, over
    * [[Reps]] passes after one discarded warm-up pass (JIT + page-in).
    * Each pass times the tools in turn, so drift in the window reaches all
    * of them alike. Keys are `tool` values (`""` is passthrough). */
  private def warmPerTool(turns: Array[Turn]): Seq[(String, Int, Double)] = {
    val byTool = turns.groupBy(_.tool).toSeq.sortBy(_._1)
    def pass(ts: Array[Turn]): Double = {
      val t0 = System.nanoTime()
      var chars = 0L
      var i = 0
      while (i < ts.length) {
        chars += Extractor.safeExtract(ts(i).tool, ts(i).text)._1.text.length
        i += 1
      }
      val us = (System.nanoTime() - t0) / 1e3 / ts.length
      sink += chars
      us
    }
    byTool.foreach { case (_, ts) => pass(ts): Unit }
    val samples = (1 to Reps).map(_ => byTool.map { case (_, ts) => pass(ts) })
    byTool.indices.map { k =>
      val (tool, ts) = byTool(k)
      (tool, ts.length, Scaling.median(samples.map(_(k))))
    }
  }

  def main(args: Array[String]): Unit = {
    val nConvs = if (args.length > 0) args(0).toInt else 8000
    val threadLevels = if (args.length > 1) args(1).split(",").toSeq.map(_.toInt) else Seq(1, 8, 32)

    val turns = (0 until nConvs).flatMap(i => SyntheticTranscripts.turnsFor(42L, i.toLong)).toArray
    println(s"corpus: ${turns.length} turns")

    warmPerTool(turns).foreach { case (tool, n, us) =>
      val name = if (tool.isEmpty) "passthrough" else tool
      println(f"tool=$name%-11s turns=$n%6d warm_median_us_per_turn=$us%.2f (1 thread, $Reps reps)")
    }

    measure(turns, threadLevels.max): Unit // warmup
    threadLevels.foreach { t =>
      val tps = measure(turns, t)
      println(f"threads=$t%2d turns/sec=$tps%.0f")
    }
  }
}
