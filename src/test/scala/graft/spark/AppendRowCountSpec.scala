package graft.spark

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.SnapshotStore

/** The manifest `row_count` of [[SnapshotStore.append]] is observed inside
  * the write job. It must still equal what was committed when a task
  * attempt fails after emitting rows and is retried, when nothing is
  * written, and when two appends run at once in one session.
  *
  * Retries need `local[N,F]` (plain `local[N]` fails a job on its first
  * task failure), and a JVM holds one SparkContext: the suite stops the
  * shared session, runs on its own `local[4,2]` one and stops that, so
  * the next suite's `getOrCreate` starts a fresh shared session. */
class AppendRowCountSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    stopSessions()
    SparkSession.builder()
      .master("local[4,2]")
      .appName(suiteName)
      .config("spark.sql.shuffle.partitions", 7)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    try stopSessions() finally super.afterAll()
  }

  private def stopSessions(): Unit = {
    (SparkSession.getActiveSession ++ SparkSession.getDefaultSession).foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def freshStore(): SnapshotStore =
    new SnapshotStore(Files.createTempDirectory("graft-rowcount").toString)

  private def committed(store: SnapshotStore, id: Long): (Long, Long) =
    (store.rowCount(id).get, store.read(spark, id).count())

  test("row_count is exact when a task's first attempt fails after emitting rows") {
    import spark.implicits._
    val store = freshStore()
    // partition 0's first attempt emits ALL its rows, then throws: a count
    // taken from that attempt would over-report
    val flaky = spark.range(0L, 1000L, 1L, 4).as[Long].mapPartitions { it =>
      val tc = TaskContext.get()
      val failFirst = tc.partitionId() == 0 && tc.attemptNumber() == 0
      it ++ {
        if (failFirst) throw new IllegalStateException("injected first-attempt failure")
        Iterator.empty
      }
    }.toDF("id")
    val id = store.append(flaky)
    assert(committed(store, id) === ((1000L, 1000L)))
  }

  test("appending an empty DataFrame records row_count 0") {
    import spark.implicits._
    val store = freshStore()
    val empty = spark.range(0L, 100L).where($"id" < 0L).toDF()
    val id = store.append(empty)
    assert(committed(store, id) === ((0L, 0L)))
  }

  test("concurrent appends in one session each record their own count") {
    val store = freshStore()
    val sizes = Seq(300L, 700L)
    val ids = Await.result(Future.sequence(sizes.map { n =>
      Future(store.append(spark.range(0L, n, 1L, 3).toDF()))
    }), 2.minutes)
    assert(ids.distinct.size == 2)
    assert(ids.map(committed(store, _)) === sizes.map(n => (n, n)))
  }
}
