package perfbench

import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLongArray}

import scala.collection.immutable.ArraySeq
import scala.util.hashing.MurmurHash3

import graft.core.extract.Extractor
import graft.core.seg.Demarcator
import graft.gen.SyntheticTranscripts
import graft.pipeline.Pipeline
import graft.schema.{ConvRule, ConvSegment, Turn}

/** Generator parameters of one workload. A "unit" is one conversation of the
  * input table: `concat` consecutive generator conversations under the first
  * one's `conv_id` (1 = the generator's own conversations). The corpus is cut
  * by unit into `deltas` jobs; each job is segmented and committed on its own.
  */
final case class Shape(
    name: String,
    convs: Int,
    concat: Int,
    deltas: Int,
    blankTool: Boolean,
    warmConvs: Int)

object Shape {
  val Names: Seq[String] = Seq("mixed", "passthrough_long", "incremental")

  /** The workloads' generator parameters (README.md says why each exists).
    * `tiny` is the self-test scale: every code path, a few seconds per run. */
  def apply(name: String, tiny: Boolean): Shape = {
    def n(full: Int, small: Int) = if (tiny) small else full
    name match {
      case "mixed" =>
        Shape(name, n(6000, 120), 1, 1, blankTool = false, n(120, 24))
      case "passthrough_long" =>
        Shape(name, n(6000, 120), 8, 1, blankTool = true, n(120, 24))
      case "incremental" =>
        Shape(name, n(1200, 120), 1, 4, blankTool = false, n(120, 24))
      case other => throw new IllegalArgumentException(
        s"unknown workload $other (${Names.mkString("|")})")
    }
  }
}

/** The workload's input, a pure function of `(shape, seed)`. */
final class Corpus(val shape: Shape, val seed: Long) extends Serializable {

  def units: Int = shape.convs / shape.concat

  def convId(u: Long): String = SyntheticTranscripts.convId(u * shape.concat)

  /** Units `[lo, hi)` of delta `k`. */
  def deltaUnits(k: Int): (Int, Int) =
    ((units.toLong * k / shape.deltas).toInt, (units.toLong * (k + 1) / shape.deltas).toInt)

  /** Turns of unit `u`, and how many carry a planted decode corruption
    * (an html/pdf turn of the original conversation hit by
    * [[SyntheticTranscripts.isCorruptTurn]]). */
  def unit(u: Long): (Seq[Turn], Int) = {
    val first = u * shape.concat
    val cid = convId(u)
    var idx = 0
    var planted = 0
    val turns = (0 until shape.concat).flatMap { j =>
      val c = first + j
      SyntheticTranscripts.turnsFor(seed, c).map { t =>
        if ((t.tool == Extractor.ToolHtml || t.tool == Extractor.ToolPdf) &&
            SyntheticTranscripts.isCorruptTurn(c, t.turn_idx)) planted += 1
        idx += 1
        t.copy(conv_id = cid, turn_idx = idx, tool = if (shape.blankTool) "" else t.tool)
      }
    }
    (turns, planted)
  }

  def turns(u: Long): Seq[Turn] = unit(u)._1

  /** Only the first conversation's rules survive a concatenation. */
  def rules(u: Long): Seq[ConvRule] = SyntheticTranscripts.rulesFor(seed, u * shape.concat)
}

/** No-Spark reference result of one unit. */
final case class UnitRef(
    turns: Int, planted: Int, errors: Int, segments: Int, digest: Long, rules: Int, found: Int)

/** Single-process kernel times of the reference computation, in nanoseconds
  * summed over worker threads. Tool index: 0 html, 1 pdf, 2 passthrough. */
final case class KernelTimes(
    toolNs: Seq[Long], toolTurns: Seq[Long], extractNs: Long, foldNs: Long)

object Reference {

  /** Order-independent digest: the wrapping sum of a 64-bit hash per row. */
  def rowHash(s: ConvSegment): Long =
    (MurmurHash3.productHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.productHash(s, 0x1b873593).toLong & 0xffffffffL)

  def digest(rows: Iterable[ConvSegment]): Long = rows.foldLeft(0L)(_ + rowHash(_))

  private def toolIndex(tool: String): Int = tool match {
    case Extractor.ToolHtml => 0
    case Extractor.ToolPdf => 1
    case _ => 2
  }

  /** Runs `f(0 until n)` on `threads` workers (inline when 1). */
  def parFor(n: Int, threads: Int)(f: Int => Unit): Unit =
    if (threads <= 1) (0 until n).foreach(f)
    else {
      val pool = Executors.newFixedThreadPool(threads)
      val next = new AtomicInteger(0)
      try {
        val futures = (0 until threads).map(_ => pool.submit(new Callable[Unit] {
          def call(): Unit = {
            var i = next.getAndIncrement()
            while (i < n) { f(i); i = next.getAndIncrement() }
          }
        }))
        futures.foreach(_.get())
      } finally pool.shutdownNow()
    }

  /** `Extractor.safeExtract` then `Demarcator.demarcateIsolated` per unit,
    * the per-conversation computation the Spark job distributes. Three
    * phases (generate, extract, fold), each a span, so the two kernels are
    * timed apart from generation and from each other. */
  def compute(corpus: Corpus, threads: Int, tracer: Tracer): (Array[UnitRef], KernelTimes) = {
    val n = corpus.units
    val raw = new Array[Seq[Turn]](n)
    val planted = new Array[Int](n)
    tracer.span("reference.generate") {
      parFor(n, threads) { u => val (ts, p) = corpus.unit(u.toLong); raw(u) = ts; planted(u) = p }
    }
    val pages = new Array[IndexedSeq[String]](n)
    val errors = new Array[Int](n)
    val toolNs = new AtomicLongArray(3)
    val toolTurns = new AtomicLongArray(3)
    tracer.span("extract.kernel") {
      parFor(n, threads) { u =>
        val ts = raw(u)
        val out = new Array[String](ts.length)
        var errs = 0
        for (k <- 0 until 3) {
          val t0 = System.nanoTime()
          var c = 0
          var i = 0
          while (i < ts.length) {
            val t = ts(i)
            if (toolIndex(t.tool) == k) {
              val (ex, err) = Extractor.safeExtract(t.tool, t.text)
              out(i) = ex.text
              if (err) errs += 1
              c += 1
            }
            i += 1
          }
          toolNs.addAndGet(k, System.nanoTime() - t0)
          toolTurns.addAndGet(k, c.toLong)
        }
        pages(u) = ArraySeq.unsafeWrapArray(out)
        errors(u) = errs
        raw(u) = null
      }
    }
    val refs = new Array[UnitRef](n)
    val foldNs = new AtomicLongArray(1)
    tracer.span("seg.fold") {
      parFor(n, threads) { u =>
        val rules = corpus.rules(u.toLong).map(Pipeline.toCoreRule)
        val t0 = System.nanoTime()
        val (rows, _) = Demarcator.demarcateIsolated(pages(u), rules)
        foldNs.addAndGet(0, System.nanoTime() - t0)
        val cid = corpus.convId(u.toLong)
        // the ConvSegment mapping of the Spark fold (Pipeline.GroupFold)
        val segs = rows.map(r => ConvSegment(
          conv_id = cid,
          DocReceivedId = r.DocReceivedId.getOrElse(0L),
          FromPageNumber = r.FromPageNumber,
          ToPageNumber = r.ToPageNumber,
          FileNumber = r.FileNumber.getOrElse(""),
          DocumentTypeId = r.DocumentTypeId.getOrElse(""),
          UploadDataSheetId = r.UploadDataSheetId.getOrElse(0L),
          TotalNumberOfpages = r.TotalNumberOfpages,
          NoOfPages = r.NoOfPages,
          Sequence = r.Sequence.getOrElse(""),
          SessionId = r.SessionId.getOrElse("")))
        refs(u) = UnitRef(pages(u).length, planted(u), errors(u), segs.length, digest(segs),
          rules.length, rows.count(_.FromPageNumber > 0))
        pages(u) = null
      }
    }
    val tNs = (0 until 3).map(toolNs.get)
    (refs, KernelTimes(tNs, (0 until 3).map(toolTurns.get), tNs.sum, foldNs.get(0)))
  }
}
