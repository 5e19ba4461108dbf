package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.seg.{Demarcator, Rule}

/** `segment_rows(turns, rules)` — the demarcation fold
  * (`/root/reference/ocr_processor.py:439-507`) exposed as a SQL
  * table-valued Generator: one conversation's turns in, one row per rule
  * out — the UDTF leg of the UDx surface next to the scalar expressions
  * (`py_*`) and the custom aggregate (`kmv_kth`).
  *
  *  - `turns`: `ARRAY<STRUCT<turn_idx INT, text STRING>>` — sorted here by
  *    `turn_idx` (the stable-turn-ordering invariant is enforced inside
  *    the function, so `collect_list` non-determinism can't corrupt it).
  *  - `rules`: array of structs carrying the reference rule fields
  *    (`Input_Sample1.json:12-25` names, resolved BY NAME so any
  *    field order works).
  *
  * Used as `SELECT conv_id, segment_rows(...).*` after a `groupBy` —
  * Catalyst plans the standard `Generate` node over the aggregated
  * arrays. The eval path is `CodegenFallback` like every generator; the
  * per-row work is the same core fold (`Demarcator.demarcateIsolated`)
  * the batch routes' Catalyst fold nodes run, so SQL users get
  * byte-identical segments. */
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

  private def idxOf(s: StructType, f: String): Option[Int] = {
    val i = s.fieldNames.indexOf(f)
    if (i < 0) None else Some(i)
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val turnsOk = structFields(turns).exists { s =>
      idxOf(s, "turn_idx").exists(i => s(i).dataType == IntegerType) &&
        idxOf(s, "text").exists(i => s(i).dataType == StringType)
    }
    if (!turnsOk)
      return TypeCheckResult.TypeCheckFailure(
        "segment_rows: first arg must be ARRAY<STRUCT<turn_idx INT, text STRING>>")
    structFields(rules) match {
      case Some(s) =>
        val missing = SegmentRowsGenerator.RequiredRuleFields
          .filterNot(f => idxOf(s, f).isDefined)
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
  private lazy val tIdx = idxOf(turnsSchema, "turn_idx").get
  private lazy val tText = idxOf(turnsSchema, "text").get
  private lazy val rulesSchema = structFields(rules).get
  // field name → (index, dataType), resolved ONCE — eval must not re-scan
  // fieldNames per rule per input row
  private lazy val rIdx: Map[String, (Int, DataType)] =
    rulesSchema.fields.zipWithIndex.map { case (f, i) => f.name -> (i, f.dataType) }.toMap

  private def str(row: InternalRow, f: String, dflt: String): String =
    rIdx.get(f) match {
      case Some((i, StringType)) if !row.isNullAt(i) => row.getUTF8String(i).toString
      case _ => dflt
    }
  private def int(row: InternalRow, f: String): Int =
    rIdx.get(f) match {
      case Some((i, IntegerType)) if !row.isNullAt(i) => row.getInt(i)
      case Some((i, LongType)) if !row.isNullAt(i) =>
        val v = row.getLong(i)
        // LongType is accepted for schemaless-JSON convenience, but an
        // out-of-int-range value must fail HERE, not silently wrap and
        // run the fold with a wrong page count
        require(v >= Int.MinValue && v <= Int.MaxValue,
          s"segment_rows: rule field '$f' value $v overflows INT")
        v.toInt
      case _ => 0
    }
  private def longOpt(row: InternalRow, f: String): Option[Long] =
    rIdx.get(f) match {
      case Some((i, LongType)) if !row.isNullAt(i) => Some(row.getLong(i))
      case Some((i, IntegerType)) if !row.isNullAt(i) => Some(row.getInt(i).toLong)
      case _ => None
    }
  private def strOpt(row: InternalRow, f: String): Option[String] =
    rIdx.get(f) match {
      case Some((i, StringType)) if !row.isNullAt(i) => Some(row.getUTF8String(i).toString)
      case _ => None
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val tArr = turns.eval(input).asInstanceOf[ArrayData]
    val rArr = rules.eval(input).asInstanceOf[ArrayData]
    if (tArr == null || rArr == null) return Nil

    val sorted = Array.tabulate(tArr.numElements()) { i =>
      val row = tArr.getStruct(i, turnsSchema.length)
      // a null array ELEMENT (json nulls, array(…, NULL)) must fail with
      // the loud invariant below, not a raw NPE from row.isNullAt
      val idx: Integer =
        if (row == null || row.isNullAt(tIdx)) null else Int.box(row.getInt(tIdx))
      val text =
        if (row == null || row.isNullAt(tText)) "" else row.getUTF8String(tText).toString
      (idx, text)
    }.sortBy(t => if (t._1 == null) Int.MaxValue else t._1.intValue())
    // same loud invariant as the batch routes' fold
    // (Pipeline.GroupFold's "turn ordering violated"): null or duplicate
    // turn_idx must fail here too, not silently fold to different output
    var lastIdx = Int.MinValue
    sorted.foreach { case (idx, _) =>
      require(idx != null, "turn ordering violated in segment_rows: null turn_idx")
      require(idx.intValue() > lastIdx,
        s"turn ordering violated in segment_rows: ${idx.intValue()} after $lastIdx")
      lastIdx = idx.intValue()
    }
    val pages = sorted.map(_._2).toIndexedSeq

    val coreRules = (0 until rArr.numElements()).map { i =>
      val row = rArr.getStruct(i, rulesSchema.length)
      require(row != null, s"segment_rows: rules[$i] is a null struct")
      Rule(
        documentTypeId = strOpt(row, "DocumentTypeID"),
        documentTypeName = str(row, "DocumentTypeName", ""),
        startingIdentifier = str(row, "StartingIdentifier", ""),
        startingIdentifierPlus1 = str(row, "StartingIdentifierPlus1", ""),
        endingIdentifier = str(row, "EndingIdentifier", ""),
        endingIdentifierMinus1 = str(row, "EndingIdentifierMinus1", ""),
        noOfPages = int(row, "NoOfPages"),
        occurence = int(row, "Occurence"),
        startingMinusN = str(row, "StartingMinusN", " "),
        endingMinusN = str(row, "EndingMinusN", " "),
        sequence = strOpt(row, "Sequence"),
        docReceivedId = longOpt(row, "DocReceivedId"),
        firmFile = strOpt(row, "FirmFile"),
        uploadDatasheetId = longOpt(row, "UploadDatasheetid"),
        sessionId = strOpt(row, "SessionId"))
    }

    // per-row rule-decode quarantine, matching every pipeline route: a
    // malformed Sequence yields ZERO segment rows for this input row (the
    // reference fails one message, main.py:394-402), never the query
    val (segRows, decodeFailed) = Demarcator.demarcateIsolated(pages, coreRules)
    if (decodeFailed) {
      // identify the quarantined row the way the pipeline routes log a
      // conv_id — segment_rows has no conversation key in scope, so the
      // rules' own identifiers (DocReceivedId/SessionId) name the input
      val ids = coreRules.flatMap(r =>
        r.docReceivedId.map(_.toString).orElse(r.sessionId)).distinct
      org.slf4j.LoggerFactory.getLogger("graft.functions.SegmentRowsGenerator")
        .warn("segment_rows: malformed rule integer field failed decode; zero " +
          s"segments emitted for the row (rule ids: ${
            if (ids.isEmpty) "none" else ids.take(8).mkString(",")})")
    }
    segRows.map { r =>
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

  /** Expected kind per known rule field: 'S' = string, 'I' = integral.
    * Unknown extra fields are ignored. */
  val RuleFieldKinds: Map[String, Char] = Map(
    "DocumentTypeID" -> 'S', "DocumentTypeName" -> 'S',
    "StartingIdentifier" -> 'S', "StartingIdentifierPlus1" -> 'S',
    "EndingIdentifier" -> 'S', "EndingIdentifierMinus1" -> 'S',
    "NoOfPages" -> 'I', "Occurence" -> 'I',
    "StartingMinusN" -> 'S', "EndingMinusN" -> 'S', "Sequence" -> 'S',
    "DocReceivedId" -> 'I', "FirmFile" -> 'S',
    "UploadDatasheetid" -> 'I', "SessionId" -> 'S')
}
