package graft.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for specs — one per suite, local[4] keeps the
  * suite fast while still exercising real shuffles across partitions. */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  @transient lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName(suiteName)
    .config("spark.sql.shuffle.partitions", 7) // deliberately odd, non-aligned
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Spark jobs `body` starts, as the stage count of each. Listener events
    * arrive asynchronously, so the jobs are read once the listener bus has
    * delivered every event posted while `body` ran. */
  def jobsOf[A](body: => A): (A, Seq[Int]) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    val stages = new ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          stages.add(e.stageInfos.size)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val a = try body finally sc.clearJobGroup()
      BusDrain(sc)
      (a, stages.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // session is shared process-wide; don't stop between suites
    super.afterAll()
  }
}
