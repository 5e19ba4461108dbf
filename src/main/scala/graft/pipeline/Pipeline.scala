package graft.pipeline

import org.apache.spark.{SparkConf, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.io.LZ4CompressionCodec
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.Platform

import graft.core.extract.Extractor
import graft.core.seg.{Demarcator, Rule, SegmentRow}
import graft.core.xml.SubDocXml
import graft.plans.{SegmentJoinExec, SegmentPlans}
import graft.schema._

/** Per-partition (rows_in, rows_out, errors) metrics collected INSIDE a
  * single pass of the pipeline — the mechanism that lets `SubmitMain` write
  * the lineage snapshot without a second extraction pass (VERDICT r2 #1:
  * the default path used to extract every turn twice). Within a task,
  * [[add]] sums (a route may add once per conversation); across tasks,
  * [[merge]] keeps ONE value per partition id — the last successful
  * attempt's — instead of summing. A re-executed fold task (after a fetch
  * failure) or a second action over the same plan re-reports whole
  * partitions, and a sum would count them twice; a partition's counts are
  * a function of its input, so replacing keeps lineage exact. */
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

/** A rule corpus collected for broadcast ([[Pipeline.loadRules]]): the
  * rule rows in [[SegmentPlans.RuleCols]] order as consecutive
  * `[8-byte size][UnsafeRow bytes]` records in ONE byte array, so
  * serializing it is a copy and the block manager sizes it at a glance —
  * a map of ~10^4 case classes costs both a visit per object. The
  * `conv_id` index is built once per JVM that reads the broadcast, with
  * the join node's decoder [[SegmentJoinExec.rowToRule]]; rules of a NULL
  * `conv_id` can match no conversation and are left out. */
final class RuleRows private[graft] (bytes: Array[Byte]) extends Serializable {
  @transient private lazy val byConv: Map[String, Seq[Rule]] = {
    val row = new UnsafeRow(SegmentPlans.RuleCols.size)
    val sizes = java.nio.ByteBuffer.wrap(bytes)
    val b = Vector.newBuilder[(String, Rule)]
    var off = 0
    while (off < bytes.length) {
      val size = sizes.getLong(off).toInt
      row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + off + 8, size)
      if (!row.isNullAt(0)) b += row.getUTF8String(0).toString -> SegmentJoinExec.rowToRule(row)
      off += 8 + size
    }
    b.result().groupMap(_._1)(_._2)
  }

  /** The rules of conversation `cid`, in load order. */
  def rulesFor(cid: String): Seq[Rule] = byConv.getOrElse(cid, Nil)
}

/** The end-to-end extraction + segmentation pipeline (SURVEY §3.1 "Spark
  * lifecycle we build"). Every segmentation route runs [[Pipeline.GroupFold]]
  * — a streaming fold over (conv_id, turn_idx)-sorted rows, one
  * conversation in memory at a time (the reference's pages-in-memory
  * bound, `ocr_processor.py:247`): the batch routes inside one of the two
  * Catalyst nodes in [[graft.plans.SegmentPlans]] — [[segmentFused]]
  * (rules broadcast) or, above [[segmentAuto]]'s rule limits, the join
  * node — the `segment_rows` UDTF per input row and the streaming fold per
  * closed conversation. The batch nodes extract inside the fold, so a hot
  * conversation is extracted and folded in one task, under
  * [[DefaultMaxConvPages]]/[[DefaultMaxConvChars]]: on generated input
  * with 25 % of all turns in one conversation, this ran 5× faster than a
  * salted extraction stage ahead of the fold (1.31 against 7.26 s,
  * 4 vCPU). Spreading a hot conversation's extraction over all tasks
  * belongs in the scan stage, before the `conv_id` exchange (ROADMAP D1).
  */
object Pipeline {

  /** Monster-conversation budget for the per-conversation fold paths. One
    * conversation is the memory unit of the fold (mirroring the reference's
    * all-pages-of-one-PDF bound, `ocr_processor.py:247`): a conversation
    * whose buffered pages exceed these limits fails LOUDLY with its conv_id,
    * its counts and the limits instead of OOMing an executor 40 hours into
    * a 10^12-turn job. Every fold route buffers a conversation under these
    * same limits. Chars, not bytes: JVM strings cost ≥2 bytes/char, so 256M
    * chars ≈ 0.5–1 GiB of heap in one task — already the red line for a
    * default 4 GiB executor. */
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
          s"$maxChars chars)")
  }

  /** Per-turn payload extraction with text spans — the oracle queries'
    * view of the extraction kernel (`t_extract*`, `t_consolidate`,
    * `t_lineage`). Salted repartition at the session's shuffle width: the
    * partition key includes turn_idx, so a hot conversation cannot
    * straggle extraction. */
  def extract(turns: Dataset[Turn]): Dataset[ExtractedTurn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns
      .repartition(spark.sessionState.conf.numShufflePartitions, hash($"conv_id", $"turn_idx"))
      .as[Turn]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        it.map { t =>
          val (ex, err) = Extractor.safeExtract(t.tool, t.text)
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

  /** The one fold core of every segmentation route — both Catalyst fold
    * nodes, `segment_rows` and the streaming fold. Consumes a (conv_id,
    * turn_idx)-sorted stream of (conv_id, turn_idx, tool, payload) rows,
    * buffers exactly one conversation at a time (applying `extractPage`
    * per turn as it buffers, under the fold budget), runs the demarcation
    * fold and yields the conversation's core segment rows with its conv_id
    * (none: skipped); each caller maps them to its own output. Asserts
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
  ) extends Iterator[(String, Vector[SegmentRow])] {
    private var pending: (String, Vector[SegmentRow]) = _
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
      if (rows.nonEmpty) pending = (cid, rows)
    }

    def hasNext: Boolean = {
      while (pending == null && (hasLookahead || it.hasNext)) foldOne()
      pending != null
    }
    def next(): (String, Vector[SegmentRow]) = {
      if (!hasNext) throw new NoSuchElementException
      try pending finally pending = null
    }
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
  ): Dataset[ConvSegment] =
    foldBroadcast(turns, cid => rules.value.getOrElse(cid, Nil), buckets, stats)

  /** The broadcast fold behind [[segmentFused]] and [[segmentAuto]]'s
    * broadcast branch: the four turn columns, pinned to `buckets`
    * partitions when `buckets > 0`, into the fold node. */
  private def foldBroadcast(
      turns: Dataset[Turn],
      rulesFor: String => Seq[Rule],
      buckets: Int,
      stats: Option[PartitionStatsAcc]
  ): Dataset[ConvSegment] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val cols = turns.select($"conv_id", $"turn_idx", $"tool", $"text")
    SegmentPlans.segment(if (buckets > 0) cols.repartition(buckets, $"conv_id") else cols,
      rulesFor, stats).as[ConvSegment]
  }

  /** Routes between the two fold nodes by rule-corpus SIZE IN BYTES as
    * well as count. [[loadRules]] runs ONE job over the rules: every task
    * counts its partition's rows and estimated heap (2 bytes/char JVM
    * strings + 96 bytes per row) and returns the rows themselves,
    * LZ4-compressed, only while the partition stays within 1/P of both
    * limits (P = rule partitions), so the driver never receives more than
    * the limits. At or below both limits in total the rows are broadcast
    * as one byte array ([[RuleRows]]) into the fold node — a second
    * collect, each partition capped at its first-job count, runs only when
    * some partition went over its share; above either limit, or past the
    * ~2 GiB of encoded rows one array holds ([[MaxRuleBytes]]), rules stay
    * distributed and co-partition with the turns under
    * [[SegmentPlans.segmentJoin]]. The byte gate matters because a
    * row-count gate alone would let 10^5 rules × 10 KB identifier strings
    * collect gigabytes to the driver. Both branches decode a rule row with
    * the same [[graft.plans.SegmentJoinExec.rowToRule]], so a NULL numeric
    * rule field reads as 0 on either. */
  def segmentAuto(
      turns: Dataset[Turn],
      rules: Dataset[ConvRule],
      buckets: Int = 0,
      broadcastRuleLimit: Long = 1000000L,
      stats: Option[PartitionStatsAcc] = None,
      broadcastByteLimit: Long = 256L << 20
  ): Dataset[ConvSegment] =
    loadRules(rules, broadcastRuleLimit, broadcastByteLimit) match {
      case Some(rows) =>
        val bc = turns.sparkSession.sparkContext.broadcast(rows)
        foldBroadcast(turns, cid => bc.value.rulesFor(cid), buckets, stats)
      case None =>
        val spark = turns.sparkSession
        import spark.implicits._
        SegmentPlans.segmentJoin(turns, rules, stats).as[ConvSegment]
    }

  /** The most encoded rule bytes [[loadRules]] collects: what one JVM
    * array holds, less room for the compressed stream's block headers. */
  private[graft] val MaxRuleBytes: Long = Int.MaxValue - (16L << 20)

  /** The codec of the rule rows a task returns — LZ4, as Spark's own
    * collect, so `spark.driver.maxResultSize` counts compressed bytes. */
  private lazy val RuleCodec = new LZ4CompressionCodec(new SparkConf(false))

  /** The rule corpus collected for broadcast when it is within `maxRows`
    * rows, `maxHeap` estimated heap bytes and `maxBytes` encoded bytes,
    * else None. One job over the rules projected in
    * [[SegmentPlans.RuleCols]] order; each task runs [[loadPartition]]
    * with a 1/P share of each limit. When the totals fit but some
    * partition went over its share, a second job collects with each
    * partition's own first-job counts as its share, so the driver never
    * receives more than the totals it checked; a partition that grew in
    * between sends the corpus to the join node. */
  private[graft] def loadRules(rules: Dataset[ConvRule], maxRows: Long, maxHeap: Long,
                               maxBytes: Long = MaxRuleBytes): Option[RuleRows] = {
    val projected = rules.toDF().select(SegmentPlans.RuleCols.map(col): _*)
    val schema = projected.schema
    val rdd = projected.queryExecution.toRdd
    val p = math.max(rdd.getNumPartitions, 1)
    def load(shares: Array[(Long, Long, Long)]): Array[RulePart] =
      rules.sparkSession.sparkContext.runJob(rdd, (ctx: TaskContext, it: Iterator[InternalRow]) => {
        val (r, h, b) = shares(ctx.partitionId())
        loadPartition(it, schema, r, h, b)
      })
    val first = load(Array.fill(p)((maxRows / p, maxHeap / p, maxBytes / p)))
    if (first.map(_.rows).sum > maxRows || first.map(_.heap).sum > maxHeap ||
        first.map(_.bytes).sum > maxBytes) None
    else {
      val parts =
        if (first.forall(_.data.isDefined)) first
        else load(first.map(f => (f.rows, f.heap, f.bytes)))
      if (parts.forall(_.data.isDefined)) Some(ruleRows(parts.toSeq)) else None
    }
  }

  /** One task's result in [[loadRules]]: the partition's row count,
    * estimated heap and encoded bytes, and its rows, compressed, if all
    * three stayed within the task's share. */
  private[graft] final case class RulePart(rows: Long, heap: Long, bytes: Long,
                                           data: Option[Array[Byte]])

  /** Counts every row of a rules partition (`schema` = its columns), its
    * estimated heap — 2 × chars of the string columns + 96 per row — and
    * its encoded bytes. Rows are kept as `[8-byte size][UnsafeRow bytes]`
    * records while the partition is within `maxRows`, `maxHeap` and
    * `maxBytes`; past any, the kept rows are dropped and counting goes on.
    * The rows are UnsafeRows, as Spark's own collect takes them. */
  private[graft] def loadPartition(it: Iterator[InternalRow], schema: StructType,
                                   maxRows: Long, maxHeap: Long, maxBytes: Long): RulePart = {
    val strCols = schema.fields.indices.filter(schema(_).dataType == StringType).toArray
    val size = java.nio.ByteBuffer.allocate(8)
    val copyBuf = new Array[Byte](4096)
    val out = new java.io.ByteArrayOutputStream()
    var kept = RuleCodec.compressedOutputStream(out)
    var rows = 0L
    var heap = 0L
    var bytes = 0L
    it.foreach { row =>
      val u = row.asInstanceOf[UnsafeRow]
      var chars = 0L
      strCols.foreach(i => if (!u.isNullAt(i)) chars += u.getUTF8String(i).numChars)
      rows += 1
      heap += 2 * chars + 96
      bytes += 8 + u.getSizeInBytes
      if (kept != null) {
        if (rows > maxRows || heap > maxHeap || bytes > maxBytes) kept = null
        else {
          kept.write(size.putLong(0, u.getSizeInBytes.toLong).array(), 0, 8)
          u.writeToStream(kept, copyBuf)
        }
      }
    }
    if (kept != null) kept.close()
    RulePart(rows, heap, bytes, Option(kept).map(_ => out.toByteArray))
  }

  /** The kept rows of `parts`, decompressed into one [[RuleRows]]. */
  private[graft] def ruleRows(parts: Seq[RulePart]): RuleRows = {
    val all = new Array[Byte](parts.map(_.bytes).sum.toInt)
    var off = 0
    for (part <- parts; data <- part.data) {
      val in = new java.io.DataInputStream(
        RuleCodec.compressedInputStream(new java.io.ByteArrayInputStream(data)))
      try in.readFully(all, off, part.bytes.toInt) finally in.close()
      off += part.bytes.toInt
    }
    new RuleRows(all)
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
    * populated by whichever action materialized the segments), so no
    * second extraction pass runs just for lineage. The handful of
    * (part_id → counters) entries is driver-resident by construction (it
    * IS the accumulator value), sized by partition count, not data. The
    * result's plan is a `LocalRelation`, which `SnapshotStore.append`
    * writes from the driver without a Spark job. */
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
        val coreRows = ordered.map(r => SegmentRow(
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
