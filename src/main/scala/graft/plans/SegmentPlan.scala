package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.extract.Extractor
import graft.core.seg.Rule
import graft.pipeline.Pipeline
import graft.schema.{ConvRule, Turn}

/** The segmentation fold as a FIRST-CLASS Catalyst operator — the brief's
  * option (c): a custom `LogicalPlan` node, a `SparkStrategy`, and a
  * physical `SparkPlan` registered through `SparkSessionExtensions` /
  * `experimental.extraStrategies`. These two nodes drive every batch
  * segmentation route in [[Pipeline]]; both take raw turns and extract
  * each page inside the fold, so a hot conversation is extracted and
  * folded in one task under the [[Pipeline.DefaultMaxConvPages]] /
  * [[Pipeline.DefaultMaxConvChars]] budget.
  *
  * The point of doing it at this layer: the physical node DECLARES its
  * needs — `requiredChildDistribution = ClusteredDistribution(conv_id)`,
  * `requiredChildOrdering = (conv_id, turn_idx)` — and Catalyst's
  * `EnsureRequirements` plans the exchange + sort. If the input is already
  * bucketed/sorted by `conv_id` (Iceberg/bucketed tables at 10^12 turns),
  * the optimizer elides the shuffle entirely — something a hand-rolled
  * `repartition().sortWithinPartitions()` can never do, because it is
  * unconditional (PlanSpec pins both).
  */
object SegmentPlans {

  /** Fresh output attributes in [[graft.schema.ConvSegment]] field order. */
  def segmentOutput(): Seq[Attribute] = Seq(
    AttributeReference("conv_id", StringType, nullable = false)(),
    AttributeReference("DocReceivedId", LongType, nullable = false)(),
    AttributeReference("FromPageNumber", IntegerType, nullable = false)(),
    AttributeReference("ToPageNumber", IntegerType, nullable = false)(),
    AttributeReference("FileNumber", StringType, nullable = false)(),
    AttributeReference("DocumentTypeId", StringType, nullable = false)(),
    AttributeReference("UploadDataSheetId", LongType, nullable = false)(),
    AttributeReference("TotalNumberOfpages", IntegerType, nullable = false)(),
    AttributeReference("NoOfPages", IntegerType, nullable = false)(),
    AttributeReference("Sequence", StringType, nullable = false)(),
    AttributeReference("SessionId", StringType, nullable = false)())

  /** Idempotent, RACE-SAFE strategy registration: extraStrategies is a
    * plain var, so two threads planning on the same session could each
    * read-modify-write the Seq and silently drop one registration (the
    * loser's query then fails on an unresolvable node). One process-wide
    * lock serializes the tiny critical section. */
  private val registerLock = new Object
  private def ensureStrategy(spark: org.apache.spark.sql.SparkSession): Unit =
    registerLock.synchronized {
      if (!spark.experimental.extraStrategies.contains(SegmentStrategy))
        spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ SegmentStrategy
    }

  /** Dataset-API entry: project `conv_id`, `turn_idx`, `tool`, `text`,
    * wrap the child plan in the logical operator, ensure the strategy is
    * registered, and rebuild a DataFrame. With `stats` set, per-partition
    * (turns in, segments out, errors) accumulate inside the operator's
    * single pass. */
  def segment(turns: org.apache.spark.sql.Dataset[_],
              rulesFor: String => Seq[Rule],
              stats: Option[graft.pipeline.PartitionStatsAcc] = None): org.apache.spark.sql.DataFrame = {
    val spark = turns.sparkSession
    ensureStrategy(spark)
    val child = turns.select("conv_id", "turn_idx", "tool", "text")
      .queryExecution.analyzed
    org.apache.spark.sql.classic.GraftDatasetBridge.ofRows(
      spark, SegmentConversations(child, rulesFor, stats))
  }

  /** Rule columns in the fixed projection order — the [[ConvRule]] field
    * order — that [[SegmentJoinExec.rowToRule]] decodes by index. */
  private[graft] val RuleCols: Seq[String] = Encoders.product[ConvRule].schema.fieldNames.toSeq

  /** TWO-CHILD variant: rules arrive as a co-partitioned PLAN, not a
    * driver-side map — the 10^12-conversation regime, where collecting or
    * broadcasting the rule corpus is impossible. Both children declare
    * `ClusteredDistribution(conv_id)` and Catalyst's `EnsureRequirements`
    * co-partitions them (and elides either side's exchange when that side
    * is already bucketed by conv_id); the physical node merge-joins the
    * sorted streams one conversation at a time. [[Pipeline.segmentAuto]],
    * the production route, always takes this node. */
  def segmentJoin(turns: org.apache.spark.sql.Dataset[Turn],
                  rules: org.apache.spark.sql.Dataset[ConvRule],
                  stats: Option[graft.pipeline.PartitionStatsAcc] = None): org.apache.spark.sql.DataFrame = {
    val spark = turns.sparkSession
    ensureStrategy(spark)
    val tChild = turns.select("conv_id", "turn_idx", "tool", "text")
      .queryExecution.analyzed
    val rChild = rules.toDF().select(RuleCols.map(org.apache.spark.sql.functions.col): _*)
      .queryExecution.analyzed
    org.apache.spark.sql.classic.GraftDatasetBridge.ofRows(
      spark, SegmentConversationsJoin(tChild, rChild, stats))
  }
}

/** Logical whole-operator node: one conversation in → its segment rows out.
  * `output` rides in the constructor so `copy()` keeps expr ids stable. */
final case class SegmentConversations(
    child: LogicalPlan,
    rulesFor: String => Seq[Rule],
    lineageStats: Option[graft.pipeline.PartitionStatsAcc] = None,
    output: Seq[Attribute] = SegmentPlans.segmentOutput()
) extends UnaryNode {
  // plans print the output, not the rule closure or the accumulator
  override def stringArgs: Iterator[Any] = Iterator(output)
  // the node GENERATES its output (it is not derived from child attrs) —
  // without this, CheckAnalysis reports the segment columns as missing
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  // the fold reads the child's columns by name, so ColumnPruning must keep
  // them all under a Project (count(), select) — as Spark's ObjectConsumer
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): SegmentConversations =
    copy(child = newChild)
}

/** Logical two-child node: raw turns ⋈ rules on conv_id → segment rows,
  * extracting inside the fold like [[SegmentConversations]]. */
final case class SegmentConversationsJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    lineageStats: Option[graft.pipeline.PartitionStatsAcc] = None,
    output: Seq[Attribute] = SegmentPlans.segmentOutput()
) extends BinaryNode {
  override def stringArgs: Iterator[Any] = Iterator(output)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    left.outputSet ++ right.outputSet
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): SegmentConversationsJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: logical node → physical node. */
object SegmentStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: SegmentConversations =>
      SegmentExec(s.output, s.rulesFor, s.lineageStats, planLater(s.child)) :: Nil
    case s: SegmentConversationsJoin =>
      SegmentJoinExec(s.output, s.lineageStats, planLater(s.left), planLater(s.right)) :: Nil
    case _ => Nil
  }
}

/** Physical operator. Declares clustering + ordering requirements and runs
  * the same streaming one-conversation-at-a-time fold as the pipeline
  * (constant memory beyond one conversation). */
final case class SegmentExec(
    output: Seq[Attribute],
    rulesFor: String => Seq[Rule],
    lineageStats: Option[graft.pipeline.PartitionStatsAcc],
    child: SparkPlan
) extends UnaryExecNode {

  override def stringArgs: Iterator[Any] = Iterator(output)

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  private def ord(name: String): Int = child.output.indexWhere(_.name == name)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(child.output(ord("conv_id")))) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(child.output(ord("conv_id")), Ascending),
      SortOrder(child.output(ord("turn_idx")), Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val (ci, ti, to, te) = (ord("conv_id"), ord("turn_idx"), ord("tool"), ord("text"))
    val rules = rulesFor
    val acc = lineageStats
    child.execute().mapPartitions { it =>
      SegmentJoinExec.foldPartition(it, ci, ti, to, te, rules, acc)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SegmentExec =
    copy(child = newChild)
}

/** Physical two-child operator: both children declare
  * `ClusteredDistribution(conv_id)` — EnsureRequirements co-partitions
  * them with matching partition counts (and skips either exchange when
  * that side is already hash-laid-out on conv_id) — and each is sorted by
  * conv_id (turns secondarily by turn_idx). Execution is a streaming
  * sorted-merge: per partition, the rules iterator is advanced in lockstep
  * with the conversation fold, so memory stays one conversation + its
  * rule list regardless of corpus size. No driver-side rule state exists
  * anywhere — this is the route that survives 10^12 conversations. */
final case class SegmentJoinExec(
    output: Seq[Attribute],
    lineageStats: Option[graft.pipeline.PartitionStatsAcc],
    left: SparkPlan,
    right: SparkPlan
) extends BinaryExecNode {

  override def stringArgs: Iterator[Any] = Iterator(output)

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  private def lOrd(name: String): Int = left.output.indexWhere(_.name == name)

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(left.output(lOrd("conv_id")))),
    ClusteredDistribution(Seq(right.output.head)))

  // rules side: conv_id first, then EVERY remaining rule column — a total
  // deterministic order, so two rules tying on Sequence fold in the same
  // order on every run and route. (With unique Sequence values per
  // conversation — the reference corpus's contract — the tie-break is
  // inert and all routes agree with the reference's stable payload-order
  // sort; a shuffled table has no payload order to preserve.)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(left.output(lOrd("conv_id")), Ascending),
      SortOrder(left.output(lOrd("turn_idx")), Ascending)),
    right.output.map(a => SortOrder(a, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val (ci, ti, to, te) = (lOrd("conv_id"), lOrd("turn_idx"), lOrd("tool"), lOrd("text"))
    val acc = lineageStats
    left.execute().zipPartitions(right.execute()) { (tIt, rIt0) =>
      // rules stream keyed by UTF8String so the merge compares in the SAME
      // binary order the exchanges sorted both sides with (Java String
      // comparison diverges from UTF-8 byte order for supplementary-plane
      // ids — a silent rules-cursor misalignment, not an error). Keys are
      // cloned out of the reused row buffer; a NULL conv_id rule (sorted
      // NullsFirst to the partition head) can never match a conversation
      // and is skipped instead of NPE-ing the cursor.
      val rIt = rIt0.flatMap { row =>
        if (row.isNullAt(0)) None
        else Some((row.getUTF8String(0).clone(), SegmentJoinExec.rowToRule(row)))
      }.buffered
      // advance-and-collect: convs are folded in ascending order, so one
      // forward pass over the rules stream serves every lookup
      val rulesFor: String => Seq[Rule] = { cid =>
        val ck = UTF8String.fromString(cid)
        while (rIt.hasNext && rIt.head._1.compareTo(ck) < 0) rIt.next()
        val b = Vector.newBuilder[Rule]
        while (rIt.hasNext && rIt.head._1.compareTo(ck) == 0) b += rIt.next()._2
        b.result()
      }
      SegmentJoinExec.foldPartition(tIt, ci, ti, to, te, rulesFor, acc)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SegmentJoinExec =
    copy(left = newLeft, right = newRight)
}

object SegmentJoinExec {

  /** Shared per-partition decode → [[Pipeline.GroupFold]] (each page
    * through `Extractor.safeExtract`) → UnsafeRow encode used by BOTH
    * physical operators, and so by every batch route. Rows with a NULL
    * conv_id are counted as input and SKIPPED (no rule can match them);
    * NULL tool/text extract as passthrough/empty; a NULL turn_idx fails
    * loudly, naming the conversation. Each segment row is written straight
    * into one reused UnsafeRow in [[SegmentPlans.segmentOutput]] order,
    * absent optional fields as 0 / "" (as `ConvSegment.of`). */
  private[plans] def foldPartition(
      it: Iterator[InternalRow],
      ci: Int, ti: Int, to: Int, te: Int,
      rulesFor: String => Seq[Rule],
      acc: Option[graft.pipeline.PartitionStatsAcc]): Iterator[InternalRow] = {
    val pid = org.apache.spark.TaskContext.getPartitionId()
    var in = 0L
    var out = 0L
    var errs = 0L
    for (a <- acc; tc <- Option(org.apache.spark.TaskContext.get()))
      tc.addTaskCompletionListener[Unit](_ => a.add((pid, in, out, errs)))
    def str(row: InternalRow, i: Int): String =
      if (row.isNullAt(i)) null else row.getUTF8String(i).toString
    // copy out of the reused UnsafeRow before buffering
    val tuples = it.flatMap { row =>
      in += 1
      if (row.isNullAt(ci)) None
      else {
        val cid = row.getUTF8String(ci).toString
        if (row.isNullAt(ti))
          throw new IllegalArgumentException(s"NULL turn_idx in conversation $cid")
        Some((cid, row.getInt(ti), str(row, to), str(row, te)))
      }
    }
    val w = new UnsafeRowWriter(11)
    def utf8(s: Option[String]): UTF8String = UTF8String.fromString(s.getOrElse(""))
    new Pipeline.GroupFold(tuples, rulesFor,
      (tool, text) => {
        val (ex, err) = Extractor.safeExtract(tool, text)
        if (err) errs += 1
        ex.text
      },
      // rule-decode quarantine ticks the same lineage error counter as the
      // other stats-carrying routes (routes-agree contract)
      onRuleDecodeError = cid => {
        errs += 1; graft.pipeline.Pipeline.logRuleDecodeError(cid)
      })
      .flatMap { case (cid, rows) =>
        val c = UTF8String.fromString(cid)
        rows.iterator.map { r =>
          out += 1
          w.reset() // every field is non-null: the null bits stay zero
          w.write(0, c)
          w.write(1, r.DocReceivedId.getOrElse(0L))
          w.write(2, r.FromPageNumber)
          w.write(3, r.ToPageNumber)
          w.write(4, utf8(r.FileNumber))
          w.write(5, utf8(r.DocumentTypeId))
          w.write(6, r.UploadDataSheetId.getOrElse(0L))
          w.write(7, r.TotalNumberOfpages)
          w.write(8, r.NoOfPages)
          w.write(9, utf8(r.Sequence))
          w.write(10, utf8(r.SessionId))
          w.getRow: InternalRow
        }
      }
  }

  /** Where a rule row holds each [[SegmentPlans.RuleCols]] field — its
    * ordinal, -1 when absent — and whether the field is BIGINT. */
  private[graft] final case class RuleLayout(ord: Array[Int], isLong: Array[Boolean])

  /** The layout of rule rows of `schema`, fields found by name. */
  private[graft] def ruleLayout(schema: StructType): RuleLayout = {
    val ord = SegmentPlans.RuleCols.map(schema.fieldNames.indexOf(_)).toArray
    RuleLayout(ord, ord.map(i => i >= 0 && schema(i).dataType == LongType))
  }

  /** Rule rows projected from a `Dataset[ConvRule]`: the join node's rules
    * side. */
  private lazy val ProjectedRules = ruleLayout(Encoders.product[ConvRule].schema)

  /** Decode one rule row to the core rule — same mapping as
    * [[Pipeline.toCoreRule]], with a NULL numeric field as 0 (None for
    * `DocReceivedId`/`UploadDatasheetid`, which `ConvSegment.of` writes as
    * 0) and an absent field as NULL. A BIGINT `NoOfPages`/`Occurence` must
    * fit an INT. The one rule decoder of the join node and of
    * `segment_rows`, which passes its rule struct's layout. */
  private[graft] def rowToRule(row: InternalRow, layout: RuleLayout = ProjectedRules): Rule = {
    val ord = layout.ord
    def present(k: Int): Boolean = ord(k) >= 0 && !row.isNullAt(ord(k))
    def sOpt(k: Int): Option[String] = Option.when(present(k))(row.getUTF8String(ord(k)).toString)
    def s(k: Int): String = sOpt(k).getOrElse("")
    def lOpt(k: Int): Option[Long] = Option.when(present(k))(
      if (layout.isLong(k)) row.getLong(ord(k)) else row.getInt(ord(k)).toLong)
    // an out-of-INT-range BIGINT must fail here, not wrap and run the fold
    // with a wrong page count
    def int(k: Int): Int = lOpt(k).fold(0) { v =>
      require(v.isValidInt, s"rule field '${SegmentPlans.RuleCols(k)}' value $v overflows INT")
      v.toInt
    }
    Rule(
      // NULL stays None (reference: `identifier.get("DocumentTypeID")`);
      // the other OPTIONAL fields get the same treatment — Some("") for a
      // NULL Sequence would throw NumberFormatException in demarcate's
      // sort and diverge from the broadcast route's None (which sorts as
      // the missing-sequence default)
      documentTypeId = sOpt(1),
      documentTypeName = s(2),
      startingIdentifier = s(3),
      startingIdentifierPlus1 = s(4),
      endingIdentifier = s(5),
      endingIdentifierMinus1 = s(6),
      noOfPages = int(7),
      occurence = int(8),
      startingMinusN = s(9),
      endingMinusN = s(10),
      sequence = sOpt(11),
      docReceivedId = lOpt(12),
      firmFile = sOpt(13),
      uploadDatasheetId = lOpt(14),
      sessionId = sOpt(15))
  }
}
