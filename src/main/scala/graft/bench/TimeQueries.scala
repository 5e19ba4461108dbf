package graft.bench

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}

/** Ad-hoc per-query timer for performance iteration: runs the named
  * [[graft.SparkEntry.queries]] entries (all of them if no args) against
  * SPARK_GRAFT_SF_DIR with one cold and `SPARK_GRAFT_REPS` (default 2)
  * warm passes, printing per-query cold seconds, every warm sample and
  * their median. Unlike
  * [[graft.Bench]] this has NO driver contract — no JSON line, no scaling
  * session — it exists so a single query's plan change can be measured in
  * seconds instead of re-running the full 100+-query bench. Each warm
  * sample also prints the Spark jobs and stages it ran (stages skipped
  * because their shuffle output was reused are not counted), from a
  * listener read after the listener bus drains, so a plan change that
  * adds a job or a stage shows next to its timing. The same listener names
  * each warm sample's top stage, the one with the most task time (summed
  * executor run time of its tasks), with that task time.
  *
  * The timed action is `.count()` DELIBERATELY, for parity with
  * [[graft.Bench]] (the graded metric): both let Catalyst prune the final
  * projection and elide the output sort, so a number measured here moves
  * the bench number. To profile a query's full output cost instead (e.g.
  * projection-heavy ops like d_redact), write to the `noop` sink — but
  * don't tune the bench against that, it measures a different plan.
  * Usage: runMain graft.bench.TimeQueries [queryName ...]
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = Scaling.session(cpus)
    val wanted =
      if (args.isEmpty) graft.SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    val missing = wanted.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val sc = spark.sparkContext
    val (jobs, stages) = (new AtomicInteger, new AtomicInteger)
    val noStage = (0L, "-")
    val top = new AtomicReference[(Long, String)](noStage) // (task ms, stage name)
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val ms = Option(e.stageInfo.taskMetrics).fold(0L)(_.executorRunTime)
        top.accumulateAndGet((ms, e.stageInfo.name), (a, b) => if (b._1 > a._1) b else a)
      }
    })
    // one run: its seconds, jobs, stages and top stage
    final case class Sample(s: Double, jobs: Int, stages: Int, top: (Long, String))
    wanted.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def once(): Sample = {
        BusDrain(sc)
        jobs.set(0); stages.set(0); top.set(noStage)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        BusDrain(sc)
        Sample(t, jobs.get, stages.get, top.get)
      }
      val cold = once().s
      val warm = (1 to reps).map(_ => once())
      println(f"$name%-28s cold $cold%7.2f s  warm median ${Scaling.median(warm.map(_.s))}%7.2f s  " +
        warm.map(w => f"${w.s}%.2f").mkString("(", "/", ")") +
        "  jobs/stages " + warm.map(w => s"${w.jobs}/${w.stages}").mkString(" ") +
        "  top stage " + warm.map(w => f"${w.top._2} ${w.top._1 / 1e3}%.2f s").mkString(" | "))
    }
    spark.stop()
  }
}
