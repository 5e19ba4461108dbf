package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.extract.Extractor
import graft.core.seg.{Demarcator, Rule}
import graft.core.xml.SubDocXml
import graft.plans.SegmentPlans
import graft.schema._

/** Per-partition (rows_in, rows_out, errors) metrics collected INSIDE a
  * single pass of the pipeline — the mechanism that lets `SubmitMain` write
  * the lineage snapshot without a second extraction pass (VERDICT r2 #1:
  * the default path used to extract every turn twice). Within a task,
  * [[add]] sums (a route may add once per conversation); across tasks,
  * [[merge]] keeps ONE value per partition id — the last successful
  * attempt's — instead of summing. A re-executed map stage (the
  * `--two-stage` extraction after a fetch failure) or a second action over
  * the same plan re-reports whole partitions, and a sum would count them
  * twice; a partition's counts are a function of its input, so replacing
  * keeps lineage exact. */
final class PartitionStatsAcc
    extends org.apache.spark.util.AccumulatorV2[(Int, Long, Long, Long), Map[Int, (Long, Long, Long)]] {
  // every access synchronized: executor heartbeats serialize registered
  // task accumulators CONCURRENTLY with the task thread's add() — an
  // unguarded mutable.Map resize mid-serialization throws or snapshots
  // corrupt state (the race Spark fixed for its own CollectionAccumulator
  // in SPARK-34731)
  private val m = scala.collection.mutable.Map.empty[Int, (Long, Long, Long)]
  override def isZero: Boolean = m.synchronized(m.isEmpty)
  override def copy(): PartitionStatsAcc = {
    val c = new PartitionStatsAcc
    m.synchronized(m.foreach { case (k, v) => c.m(k) = v })
    c
  }
  override def reset(): Unit = m.synchronized(m.clear())
  override def add(v: (Int, Long, Long, Long)): Unit = m.synchronized {
    val (p, i, o, e) = v
    val cur = m.getOrElse(p, (0L, 0L, 0L))
    m(p) = (cur._1 + i, cur._2 + o, cur._3 + e)
  }
  override def merge(other: org.apache.spark.util.AccumulatorV2[(Int, Long, Long, Long), Map[Int, (Long, Long, Long)]]): Unit = {
    val theirs = other.value
    m.synchronized(m ++= theirs)
  }
  override def value: Map[Int, (Long, Long, Long)] = m.synchronized(m.toMap)
}

/** The end-to-end extraction + segmentation pipeline (SURVEY §3.1 "Spark
  * lifecycle we build"). Every batch route runs [[Pipeline.GroupFold]] —
  * a streaming fold over (conv_id, turn_idx)-sorted rows, one conversation
  * in memory at a time (the reference's pages-in-memory bound,
  * `ocr_processor.py:247`) — inside one of the two Catalyst nodes in
  * [[graft.plans.SegmentPlans]]: [[segmentFused]] (rules broadcast) or,
  * above [[segmentAuto]]'s rule limits, the join node; [[segmentTwoStage]]
  * salts extraction of a hot conversation across all tasks first, so a
  * 10^6-turn conversation only serializes in the (cheap, string-scan) fold.
  */
object Pipeline {

  /** Monster-conversation budget for the per-conversation fold paths. One
    * conversation is the memory unit of the fold (mirroring the reference's
    * all-pages-of-one-PDF bound, `ocr_processor.py:247`): a conversation
    * whose buffered pages exceed these limits fails LOUDLY with its conv_id
    * and a pointer to the salted `--two-stage` route instead of OOMing an
    * executor 40 hours into a 10^12-turn job. Chars, not bytes: JVM strings
    * cost ≥2 bytes/char, so 256M chars ≈ 0.5–1 GiB of heap in one task —
    * already the red line for a default 4 GiB executor. */
  val DefaultMaxConvPages: Int = 1000000
  val DefaultMaxConvChars: Long = 256L * 1024 * 1024

  /** Default rule-decode quarantine action: log the conv_id at WARN on the
    * executor (the reference logs the failed message and moves on,
    * `main.py:394-402`). Routes that carry a lineage accumulator layer an
    * error tick on top of this. */
  private[graft] val logRuleDecodeError: String => Unit = cid =>
    org.slf4j.LoggerFactory.getLogger("graft.pipeline.Pipeline")
      .warn(s"quarantined conversation $cid: malformed rule Sequence failed " +
        "integer decode; zero segments emitted")

  private[graft] def guardConv(cid: String, nPages: Int, nChars: Long,
                               maxPages: Int, maxChars: Long): Unit = {
    if (nPages > maxPages || nChars > maxChars)
      throw new IllegalStateException(
        s"conversation $cid exceeds the single-task fold budget " +
          s"($nPages pages / $nChars chars buffered; limits $maxPages pages / " +
          s"$maxChars chars) — route monster conversations through the salted " +
          "two-stage path (SubmitMain --two-stage) or raise the budget")
  }

  /** Per-turn payload extraction, the first stage of [[segmentTwoStage]].
    * Salted repartition — partition key includes turn_idx so a hot
    * conversation cannot straggle extraction.
    * With `stats` set, per-partition (rows, rows, errors) are accumulated in
    * THIS pass (task-completion flush) so lineage needs no second action. */
  def extract(turns: Dataset[Turn], partitions: Int = 0,
              stats: Option[PartitionStatsAcc] = None): Dataset[ExtractedTurn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val p = if (partitions > 0) partitions else spark.sessionState.conf.numShufflePartitions
    turns
      .repartition(p, hash($"conv_id", $"turn_idx"))
      .as[Turn]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var in = 0L
        var errs = 0L
        for (acc <- stats; tc <- Option(TaskContext.get()))
          tc.addTaskCompletionListener[Unit](_ => acc.add((pid, in, in, errs)))
        it.map { t =>
          in += 1
          val (ex, err) = Extractor.safeExtract(t.tool, t.text)
          if (err) errs += 1
          ExtractedTurn(
            conv_id = t.conv_id,
            turn_idx = t.turn_idx,
            role = t.role,
            tool = t.tool,
            text = ex.text,
            span_starts = ex.spans.iterator.map(_.start).toArray,
            span_ends = ex.spans.iterator.map(_.end).toArray,
            error = err,
            part_id = pid
          )
        }
      }
  }

  def toCoreRule(r: ConvRule): Rule = Rule(
    // NULL column (absent field) stays None, mirroring the reference's
    // `identifier.get("DocumentTypeID")` (ocr_processor.py:496)
    documentTypeId = Option(r.DocumentTypeID),
    // nullable parquet strings: Option(...) (not Some) so a NULL column
    // becomes None — Some(null) would NPE inside demarcate's sequence
    // sort or leak null through getOrElse("") at emit; identifier-class
    // fields null-coalesce to "" exactly like the join node's rowToRule,
    // so the two fold nodes agree on NULL-bearing rule tables
    documentTypeName = Option(r.DocumentTypeName).getOrElse(""),
    startingIdentifier = Option(r.StartingIdentifier).getOrElse(""),
    startingIdentifierPlus1 = Option(r.StartingIdentifierPlus1).getOrElse(""),
    endingIdentifier = Option(r.EndingIdentifier).getOrElse(""),
    endingIdentifierMinus1 = Option(r.EndingIdentifierMinus1).getOrElse(""),
    noOfPages = r.NoOfPages,
    occurence = r.Occurence,
    startingMinusN = Option(r.StartingMinusN).getOrElse(""),
    endingMinusN = Option(r.EndingMinusN).getOrElse(""),
    sequence = Option(r.Sequence),
    docReceivedId = Some(r.DocReceivedId),
    firmFile = Option(r.FirmFile),
    uploadDatasheetId = Some(r.UploadDatasheetid),
    sessionId = Option(r.SessionId)
  )

  /** Streaming grouping iterator: consumes a (conv_id, turn_idx)-sorted
    * partition of (conv_id, turn_idx, tool, payload) rows, buffers exactly
    * one conversation at a time (applying `extractPage` per turn as it
    * buffers), runs the demarcation fold, emits its segment rows. Asserts
    * sortedness — the north rule's "stable turn ordering" is a guaranteed
    * invariant, not a hope. */
  private[graft] final class GroupFold(
      it: Iterator[(String, Int, String, String)],
      rulesFor: String => Seq[Rule],
      extractPage: (String, String) => String,
      maxConvPages: Int = DefaultMaxConvPages,
      maxConvChars: Long = DefaultMaxConvChars,
      // rule-decode quarantine hook (reference isolates the failed message,
      // main.py:394-402): called with the conv_id when a malformed rule
      // Sequence fails decode; the conversation emits zero segments and the
      // fold continues. Routes with a lineage accumulator tick errors here.
      onRuleDecodeError: String => Unit = logRuleDecodeError
  ) extends Iterator[ConvSegment] {
    private var pending: Iterator[ConvSegment] = Iterator.empty
    private var lookahead: (String, Int, String, String) = _
    private var hasLookahead = false

    private def foldOne(): Unit = {
      // collect one conversation (consecutive rows, sorted by turn_idx)
      val first = if (hasLookahead) lookahead else it.next()
      hasLookahead = false
      val cid = first._1
      val pages = Vector.newBuilder[String]
      var lastIdx = Int.MinValue
      var nPages = 0
      var nChars = 0L
      var cur = first
      var done = false
      while (!done) {
        require(cur._2 > lastIdx, s"turn ordering violated in $cid: ${cur._2} after $lastIdx")
        lastIdx = cur._2
        val page = extractPage(cur._3, cur._4)
        nPages += 1
        nChars += page.length.toLong
        guardConv(cid, nPages, nChars, maxConvPages, maxConvChars)
        pages += page
        if (it.hasNext) {
          val nxt = it.next()
          if (nxt._1 == cid) cur = nxt
          else { lookahead = nxt; hasLookahead = true; done = true }
        } else done = true
      }
      val (rows, decodeFailed) = Demarcator.demarcateIsolated(pages.result(), rulesFor(cid))
      if (decodeFailed) onRuleDecodeError(cid)
      pending = rows.iterator.map(ConvSegment.of(cid, _))
    }

    def hasNext: Boolean = {
      while (!pending.hasNext && (hasLookahead || it.hasNext)) foldOne()
      pending.hasNext
    }
    def next(): ConvSegment = { if (!hasNext) throw new NoSuchElementException; pending.next() }
  }

  /** The default fold: raw turns into [[SegmentPlans.segment]], which
    * extracts inside the fold, with a broadcast rule lookup (the
    * reference's envelope→rule enrichment, `main.py:232-236`). The planner
    * places the `conv_id` exchange: none on input bucketed by `conv_id`,
    * else one AQE may coalesce (whole hash partitions, sorted after the
    * merged read). `buckets > 0` pins the width with a repartition. */
  def segmentFused(
      turns: Dataset[Turn],
      rules: Broadcast[Map[String, Seq[Rule]]],
      buckets: Int = 0,
      stats: Option[PartitionStatsAcc] = None
  ): Dataset[ConvSegment] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val cols = turns.select($"conv_id", $"turn_idx", $"tool", $"text")
    SegmentPlans.segment(if (buckets > 0) cols.repartition(buckets, $"conv_id") else cols,
      cid => rules.value.getOrElse(cid, Nil), stats).as[ConvSegment]
  }

  /** Routes between the two fold nodes by rule-corpus SIZE IN BYTES as
    * well as count: at or below both limits the corpus is collected once
    * and broadcast ([[segmentFused]] — cheapest, no shuffle of the rules);
    * above either, rules stay distributed and co-partition with the turns
    * under [[SegmentPlans.segmentJoin]]. The byte gate matters because a
    * row-count gate alone would let 10^5 rules × 10 KB identifier strings
    * collect gigabytes to the driver; the estimate (2 bytes/char JVM
    * strings + per-row overhead) comes from the same single cheap
    * aggregation as the count — one action against a table that is tiny
    * relative to the turns. */
  def segmentAuto(
      turns: Dataset[Turn],
      rules: Dataset[ConvRule],
      buckets: Int = 0,
      broadcastRuleLimit: Long = 1000000L,
      stats: Option[PartitionStatsAcc] = None,
      broadcastByteLimit: Long = 256L << 20
  ): Dataset[ConvSegment] = {
    import org.apache.spark.sql.types.StringType
    val spark = turns.sparkSession
    import spark.implicits._
    val strCols = rules.schema.fields.filter(_.dataType == StringType)
      .map(f => s"length(coalesce(`${f.name}`, ''))")
    val perRowHeap =
      if (strCols.isEmpty) "CAST(96 AS BIGINT)"
      else s"CAST(2 * (${strCols.mkString(" + ")}) + 96 AS BIGINT)"
    val sz = rules.toDF()
      .selectExpr(s"$perRowHeap AS sz")
      .selectExpr("CAST(count(*) AS BIGINT) AS n", "CAST(coalesce(sum(sz), 0) AS BIGINT) AS heap")
      .head()
    val (n, heap) = (sz.getLong(0), sz.getLong(1))
    if (n <= broadcastRuleLimit && heap <= broadcastByteLimit) {
      val ruleMap = rules.collect().groupBy(_.conv_id)
        .map { case (k, v) => k -> v.toSeq.map(toCoreRule) }
      segmentFused(turns, spark.sparkContext.broadcast(ruleMap), buckets, stats = stats)
    } else SegmentPlans.segmentJoin(turns, rules, stats).as[ConvSegment]
  }

  /** `SubmitMain --two-stage`: salted [[extract]] (which fills `stats`),
    * then the join node folds the text with extraction off — a U+FFFD in
    * extracted text (a decoded `&#xFFFD;`) is never re-quarantined. */
  def segmentTwoStage(
      turns: Dataset[Turn],
      rules: Dataset[ConvRule],
      partitions: Int = 0,
      stats: Option[PartitionStatsAcc] = None
  ): Dataset[ConvSegment] = {
    val spark = turns.sparkSession
    import spark.implicits._
    SegmentPlans.segmentJoinExtracted(extract(turns, partitions, stats), rules).as[ConvSegment]
  }

  /** Per-partition lineage rows for the extraction stage (north rule:
    * partition id, input snapshot, rows in/out, extraction error counts). */
  def extractionLineage(extracted: Dataset[ExtractedTurn], snapshotId: Long): Dataset[PartitionLineage] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    extracted
      .groupBy($"part_id")
      .agg(count(lit(1)).as("rows"), sum(when($"error", 1L).otherwise(0L)).as("errs"))
      .select(
        lit("extract").as("stage"),
        $"part_id",
        lit(snapshotId).as("snapshot_id"),
        $"rows".as("rows_in"),
        $"rows".as("rows_out"),
        $"errs".as("errors"))
      .as[PartitionLineage]
  }

  /** Lineage rows from a [[PartitionStatsAcc]] filled during a SINGLE pass
    * of the pipeline (the accumulator is registered by the caller and
    * populated by whichever action materialized the segments) — replaces
    * the second extraction pass `SubmitMain` used to run just for lineage.
    * The handful of (part_id → counters) entries is driver-resident by
    * construction (it IS the accumulator value), so `createDataset` here is
    * not a collect — sized by partition count, not data. */
  def lineageFromStats(spark: SparkSession, stage: String,
                       stats: Map[Int, (Long, Long, Long)],
                       snapshotId: Long): Dataset[PartitionLineage] = {
    import spark.implicits._
    spark.createDataset(stats.toSeq.sortBy(_._1).map { case (p, (in, out, errs)) =>
      PartitionLineage(stage, p, snapshotId, in, out, errs)
    })
  }

  /** Debug consolidation view — the reference's artifact consolidator
    * (`test/consolidate.py:6-41`: concat per-folder page texts with a
    * header line) as one aggregate: per conversation, extracted turn texts
    * concatenated in turn order with `=== turn N ===` headers. */
  def consolidate(extracted: Dataset[ExtractedTurn]): org.apache.spark.sql.DataFrame =
    extracted.toDF()
      .groupBy("conv_id")
      .agg(
        expr("concat_ws('\n', transform(sort_array(collect_list(struct(turn_idx, text))), " +
          "s -> concat('=== turn ', s.turn_idx, ' ===\n', s.text)))").as("consolidated"),
        count(lit(1)).as("n_turns"))

  /** XML rendering of one conversation's segment set — the reference's
    * `create_subdocument_xml` (`data_models.py:7-32`) as a per-group column. */
  def renderXml(segments: Dataset[ConvSegment]): Dataset[(String, String)] = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments
      .groupByKey(_.conv_id)
      .mapGroups { (cid, rows) =>
        val ordered = rows.toVector.sortBy(r => r.Sequence.toIntOption.getOrElse(999))
        val coreRows = ordered.map(r => graft.core.seg.SegmentRow(
          DocReceivedId = Some(r.DocReceivedId),
          FromPageNumber = r.FromPageNumber,
          ToPageNumber = r.ToPageNumber,
          FileNumber = Some(r.FileNumber),
          DocumentTypeId = Some(r.DocumentTypeId),
          UploadDataSheetId = Some(r.UploadDataSheetId),
          TotalNumberOfpages = r.TotalNumberOfpages,
          NoOfPages = r.NoOfPages,
          Sequence = Some(r.Sequence),
          SessionId = Some(r.SessionId)))
        (cid, SubDocXml.render(coreRows))
      }
  }

  /** Full pipeline for a synthetic corpus of `nConvs` conversations —
    * broadcast-vs-join selected by rule-corpus size ([[segmentAuto]]). */
  def run(spark: SparkSession, nConvs: Long, corpusSeed: Long = 42L): Dataset[ConvSegment] = {
    val turns = graft.gen.SyntheticTranscripts.turns(spark, nConvs, corpusSeed)
    val rules = graft.gen.SyntheticTranscripts.rules(spark, nConvs, corpusSeed)
    segmentAuto(turns, rules)
  }
}
