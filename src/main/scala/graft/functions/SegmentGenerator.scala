package graft.functions

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.Pipeline
import graft.plans.SegmentJoinExec
import graft.schema.ConvRule

/** `segment_rows(turns, rules)` — the demarcation fold
  * (`/root/reference/ocr_processor.py:439-507`) exposed as a SQL
  * table-valued Generator: one conversation's turns in, one row per rule
  * out — the UDTF leg of the UDx surface next to the scalar expressions
  * (`py_*`) and the custom aggregate (`kmv_kth`).
  *
  *  - `turns`: `ARRAY<STRUCT<turn_idx INT, text STRING>>` — sorted here by
  *    `turn_idx` (collect_list order is non-deterministic). A NULL
  *    element or `turn_idx` fails, so does a repeated `turn_idx`; a NULL
  *    text reads as "". No turns, no rows — as on every batch route.
  *  - `rules`: array of structs carrying the reference rule fields
  *    (`Input_Sample1.json:12-25` names, resolved BY NAME so any field
  *    order works; an absent optional field reads as NULL), decoded by
  *    the fold nodes' own [[graft.plans.SegmentJoinExec.rowToRule]].
  *
  * Used as `SELECT conv_id, segment_rows(...).*` after a `groupBy` —
  * Catalyst plans the standard `Generate` node over the aggregated
  * arrays. The eval path is `CodegenFallback` like every generator; each
  * row runs the batch routes' fold core, [[graft.pipeline.Pipeline.GroupFold]]
  * (ordering check, per-conversation budget, rule-decode quarantine), so
  * SQL users get the same segments. Absent optional fields stay NULL in
  * the output, where the batch routes write 0 / "". */
case class SegmentRowsGenerator(turns: Expression, rules: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(turns, rules)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SegmentRowsGenerator =
    copy(turns = newChildren(0), rules = newChildren(1))

  override def elementSchema: StructType = StructType(Seq(
    StructField("DocReceivedId", LongType),
    StructField("FromPageNumber", IntegerType, nullable = false),
    StructField("ToPageNumber", IntegerType, nullable = false),
    StructField("FileNumber", StringType),
    StructField("DocumentTypeId", StringType),
    StructField("UploadDataSheetId", LongType),
    StructField("TotalNumberOfpages", IntegerType, nullable = false),
    StructField("NoOfPages", IntegerType, nullable = false),
    StructField("Sequence", StringType),
    StructField("SessionId", StringType)))

  private def structFields(e: Expression): Option[StructType] = e.dataType match {
    case ArrayType(st: StructType, _) => Some(st)
    case _ => None
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val turnsOk = structFields(turns).exists { s =>
      s.exists(f => f.name == "turn_idx" && f.dataType == IntegerType) &&
        s.exists(f => f.name == "text" && f.dataType == StringType)
    }
    if (!turnsOk)
      return TypeCheckResult.TypeCheckFailure(
        "segment_rows: first arg must be ARRAY<STRUCT<turn_idx INT, text STRING>>")
    structFields(rules) match {
      case Some(s) =>
        val missing = SegmentRowsGenerator.RequiredRuleFields
          .filterNot(s.fieldNames.contains)
        if (missing.nonEmpty)
          return TypeCheckResult.TypeCheckFailure(
            s"segment_rows: rules struct is missing fields: ${missing.mkString(", ")}")
        // present fields must carry the expected type — a mistyped field
        // (e.g. NoOfPages as STRING from schemaless JSON) must fail HERE,
        // not silently run the fold with a default value
        val mistyped = s.fields.flatMap { f =>
          SegmentRowsGenerator.RuleFieldKinds.get(f.name).flatMap {
            case 'S' if f.dataType != StringType => Some(s"${f.name} must be STRING, got ${f.dataType.sql}")
            case 'I' if f.dataType != IntegerType && f.dataType != LongType =>
              Some(s"${f.name} must be INT or BIGINT, got ${f.dataType.sql}")
            case _ => None
          }
        }
        if (mistyped.isEmpty) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"segment_rows: mistyped rule fields: ${mistyped.mkString("; ")}")
      case None => TypeCheckResult.TypeCheckFailure(
        "segment_rows: second arg must be ARRAY<STRUCT<rule fields>>")
    }
  }

  private lazy val turnsSchema = structFields(turns).get
  private lazy val tIdx = turnsSchema.fieldIndex("turn_idx")
  private lazy val tText = turnsSchema.fieldIndex("text")
  private lazy val rulesSchema = structFields(rules).get
  // rule-struct field ordinals, resolved by name ONCE per expression
  private lazy val ruleLayout = SegmentJoinExec.ruleLayout(rulesSchema)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val tArr = turns.eval(input).asInstanceOf[ArrayData]
    val rArr = rules.eval(input).asInstanceOf[ArrayData]
    if (tArr == null || rArr == null) return Nil

    // sorted here, so collect_list non-determinism can't corrupt the order
    val sorted = Array.tabulate(tArr.numElements()) { i =>
      val row = tArr.getStruct(i, turnsSchema.length)
      // a null array ELEMENT (json nulls, array(…, NULL)) must fail with
      // this loud invariant, not a raw NPE from row.isNullAt
      require(row != null && !row.isNullAt(tIdx),
        "turn ordering violated in segment_rows: null turn_idx")
      (row.getInt(tIdx), if (row.isNullAt(tText)) "" else row.getUTF8String(tText).toString)
    }.sortBy(_._1)
    val coreRules = (0 until rArr.numElements()).map { i =>
      val row = rArr.getStruct(i, rulesSchema.length)
      require(row != null, s"segment_rows: rules[$i] is a null struct")
      SegmentJoinExec.rowToRule(row, ruleLayout)
    }

    // the batch routes' fold: a duplicate turn_idx fails its ordering
    // invariant ("turn ordering violated in segment_rows: N after N"), and
    // a malformed rule Sequence quarantines the row — ZERO segment rows
    // (the reference fails one message, main.py:394-402), never the query
    new Pipeline.GroupFold(
      sorted.iterator.map { case (idx, text) => (SegmentRowsGenerator.Conv, idx, null, text) },
      _ => coreRules, (_, text) => text,
      onRuleDecodeError = _ => {
        // segment_rows has no conversation key in scope, so the rules' own
        // identifiers (DocReceivedId/SessionId) name the input row
        val ids = coreRules.flatMap(r =>
          r.docReceivedId.map(_.toString).orElse(r.sessionId)).distinct
        org.slf4j.LoggerFactory.getLogger("graft.functions.SegmentRowsGenerator")
          .warn("segment_rows: malformed rule integer field failed decode; zero " +
            s"segments emitted for the row (rule ids: ${
              if (ids.isEmpty) "none" else ids.take(8).mkString(",")})")
      }).flatMap(_._2).map { r =>
      InternalRow(
        r.DocReceivedId.map(Long.box).orNull,
        r.FromPageNumber,
        r.ToPageNumber,
        r.FileNumber.map(UTF8String.fromString).orNull,
        r.DocumentTypeId.map(UTF8String.fromString).orNull,
        r.UploadDataSheetId.map(Long.box).orNull,
        r.TotalNumberOfpages,
        r.NoOfPages,
        r.Sequence.map(UTF8String.fromString).orNull,
        r.SessionId.map(UTF8String.fromString).orNull)
    }
  }

  override def prettyName: String = "segment_rows"
}

object SegmentRowsGenerator {
  /** Rule-struct fields the analyzer requires to be present. */
  val RequiredRuleFields: Seq[String] = Seq(
    "DocumentTypeID", "StartingIdentifier", "StartingIdentifierPlus1",
    "EndingIdentifier", "EndingIdentifierMinus1", "NoOfPages", "Occurence",
    "StartingMinusN", "EndingMinusN", "Sequence")

  /** Expected kind per rule field the fold reads, from the fold nodes'
    * rule schema ([[ConvRule]] less `conv_id`): 'S' = STRING, 'I' = INT or
    * BIGINT. Unknown extra fields are ignored. */
  val RuleFieldKinds: Map[String, Char] =
    Encoders.product[ConvRule].schema.fields.iterator.filter(_.name != "conv_id").map { f =>
      f.name -> (f.dataType match {
        case StringType => 'S'
        case IntegerType | LongType => 'I'
      })
    }.toMap

  /** The conversation name [[Pipeline.GroupFold]] reports for a row. */
  private val Conv = "segment_rows"
}
