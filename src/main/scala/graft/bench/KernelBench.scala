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

  def main(args: Array[String]): Unit = {
    val nConvs = if (args.length > 0) args(0).toInt else 8000
    val threadLevels = if (args.length > 1) args(1).split(",").toSeq.map(_.toInt) else Seq(1, 8, 32)

    val turns = (0 until nConvs).flatMap(i => SyntheticTranscripts.turnsFor(42L, i.toLong)).toArray
    println(s"corpus: ${turns.length} turns")

    measure(turns, threadLevels.max): Unit // warmup
    threadLevels.foreach { t =>
      val tps = measure(turns, t)
      println(f"threads=$t%2d turns/sec=$tps%.0f")
    }
  }
}
