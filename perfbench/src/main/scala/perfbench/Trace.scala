package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One timed call into a layer, recorded by the benchmark around the call.
  * Times are nanoseconds since the run started. */
final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
  var endNs: Long = -1L
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced runs carry no tracing cost. Enabled, every Spark job started
  * inside a span gets the span's id as its job group, which is how
  * [[LayerListener]] attributes tasks to spans. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val origin = System.nanoTime()
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil
  var sc: Option[SparkContext] = None

  def now: Long = System.nanoTime() - origin

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(spans.length + 1, stack.headOption.fold(0)(_.id), name, now)
      spans += s
      stack = s :: stack
      sc.foreach(_.setJobGroup(Tracer.group(s.id), name))
      try body
      finally {
        s.endNs = now
        stack = stack.tail
        sc.foreach(c => stack.headOption match {
          case Some(p) => c.setJobGroup(Tracer.group(p.id), p.name)
          case None => c.clearJobGroup()
        })
      }
    }

  def children(id: Int): Seq[Span] = spans.iterator.filter(_.parent == id).toSeq

  def descendants(id: Int): Seq[Span] = {
    val kids = children(id)
    kids ++ kids.flatMap(k => descendants(k.id))
  }

  /** Duration minus the part of the interval the direct children cover. */
  def selfNs(s: Span): Long = s.durNs - children(s.id).map(_.durNs).sum

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    spans.foreach { s =>
      val cs = s.counters.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      sb ++= s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)},"counters":{$cs}}""" + "\n"
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Per span name: count, total seconds, self seconds. */
  def summary: Seq[(String, Int, Double, Double)] =
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(_.durNs).sum / 1e9, ss.map(selfNs).sum / 1e9)
    }.sortBy(-_._3)
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  def group(id: Int): String = GroupPrefix + id
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)
}

/** Task and job counters per span, from Spark's listener bus. */
final class LayerListener extends SparkListener {
  import LayerListener.TaskRec

  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpans = ArrayBuffer.empty[Int]
  private val stageSpans = ArrayBuffer.empty[Int]
  private val taskRecs = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Tracer.spanOf(p.getProperty("spark.jobGroup.id"))).getOrElse(0)
    jobSpans += span
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpans += stageSpan.getOrElse(e.stageInfo.stageId, 0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      taskRecs += TaskRec(stageSpan.getOrElse(e.stageId, 0), e.taskInfo.duration,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled)
  }

  def jobs(spans: Set[Int]): Int = synchronized(jobSpans.count(spans))
  def stages(spans: Set[Int]): Int = synchronized(stageSpans.count(spans))
  def tasks(spans: Set[Int]): Seq[TaskRec] = synchronized(taskRecs.filter(t => spans(t.span)).toSeq)
}

object LayerListener {
  final case class TaskRec(span: Int, durMs: Long, shuffleWrite: Long, shuffleRead: Long,
                           spill: Long)
}
