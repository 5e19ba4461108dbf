package graft.spark

import org.scalatest.funsuite.AnyFunSuite

import graft.core.seg.Demarcator
import graft.functions.GraftFunctions
import graft.gen.SyntheticTranscripts
import graft.pipeline.Pipeline

/** `segment_rows` — the demarcation fold as a SQL table-valued generator:
  * SQL users must get byte-identical segments to the core fold, with the
  * turn ordering enforced INSIDE the function (collect_list order is
  * non-deterministic by contract). */
class SegmentGeneratorSpec extends AnyFunSuite with SparkFixture {

  test("SQL segment_rows equals the core demarcation fold") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val seed = 42L
    val nConvs = 6L

    val turnRows = (0L until nConvs).flatMap { i =>
      SyntheticTranscripts.turnsFor(seed, i).map(t => (t.conv_id, t.turn_idx, t.text))
    }
    // shuffled input: the generator must restore (turn_idx) order itself
    val shuffled = new scala.util.Random(7).shuffle(turnRows)
    shuffled.toDF("conv_id", "turn_idx", "text").createOrReplaceTempView("sg_turns")

    val ruleRows = (0L until nConvs).flatMap { i =>
      val cid = SyntheticTranscripts.convId(i)
      SyntheticTranscripts.rulesFor(seed, i).map(r => r.copy(conv_id = cid))
    }
    ruleRows.toDF().createOrReplaceTempView("sg_rules")

    val got = spark.sql(
      """WITH g AS (SELECT conv_id, collect_list(struct(turn_idx, text)) AS turns
        |           FROM sg_turns GROUP BY conv_id),
        |r AS (SELECT conv_id, collect_list(struct(
        |        DocumentTypeID, DocumentTypeName, StartingIdentifier,
        |        StartingIdentifierPlus1, EndingIdentifier, EndingIdentifierMinus1,
        |        NoOfPages, Occurence, StartingMinusN, EndingMinusN, Sequence,
        |        DocReceivedId, FirmFile, UploadDatasheetid, SessionId)) AS rules
        |      FROM sg_rules GROUP BY conv_id)
        |SELECT g.conv_id, segment_rows(g.turns, r.rules)
        |FROM g JOIN r ON g.conv_id = r.conv_id""".stripMargin)
      .collect()
      .map { w =>
        (w.getString(0), (
          if (w.isNullAt(1)) None else Some(w.getLong(1)),
          w.getInt(2), w.getInt(3),
          Option(w.getString(4)), Option(w.getString(5)),
          if (w.isNullAt(6)) None else Some(w.getLong(6)),
          w.getInt(7), w.getInt(8),
          Option(w.getString(9)), Option(w.getString(10))))
      }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._9) }

    (0L until nConvs).foreach { i =>
      val cid = SyntheticTranscripts.convId(i)
      val pages = SyntheticTranscripts.turnsFor(seed, i)
        .sortBy(_.turn_idx).map(_.text).toIndexedSeq
      val rules = SyntheticTranscripts.rulesFor(seed, i).map(Pipeline.toCoreRule)
      val want = Demarcator.demarcate(pages, rules).map(r => (
        r.DocReceivedId, r.FromPageNumber, r.ToPageNumber, r.FileNumber,
        r.DocumentTypeId, r.UploadDataSheetId, r.TotalNumberOfpages,
        r.NoOfPages, r.Sequence, r.SessionId)).sortBy(_._9)
      assert(got(cid).toSeq === want.toSeq, s"mismatch for $cid")
    }
  }

  test("segment_rows rejects a rules struct with missing fields") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq((1, "x")).toDF("turn_idx", "text")
      .selectExpr("array(struct(turn_idx, text)) AS turns",
        "array(struct('a' AS DocumentTypeID)) AS rules")
      .createOrReplaceTempView("sg_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT segment_rows(turns, rules) FROM sg_bad").collect()
    }
    assert(e.getMessage.contains("missing") || e.getMessage.contains("DATATYPE_MISMATCH"),
      e.getMessage)
  }

  test("segment_rows rejects mistyped rule fields loudly, never defaults them") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // NoOfPages as STRING — the schemaless-JSON shape that must FAIL
    // analysis rather than silently run with noOfPages = 0
    Seq((1, "x")).toDF("turn_idx", "text")
      .selectExpr("array(struct(turn_idx, text)) AS turns",
        """array(struct(
          |  'a' AS DocumentTypeID, 's' AS StartingIdentifier,
          |  '' AS StartingIdentifierPlus1, 'e' AS EndingIdentifier,
          |  '' AS EndingIdentifierMinus1, '4' AS NoOfPages, 1 AS Occurence,
          |  ' ' AS StartingMinusN, ' ' AS EndingMinusN, '1' AS Sequence)) AS rules""".stripMargin)
      .createOrReplaceTempView("sg_mistyped")
    val e = intercept[Exception] {
      spark.sql("SELECT segment_rows(turns, rules) FROM sg_mistyped").collect()
    }
    assert(e.getMessage.contains("mistyped") || e.getMessage.contains("DATATYPE_MISMATCH"),
      e.getMessage)
  }

  /** One well-typed rule: START … END, one page at the least. */
  private val OneRule =
    """array(struct(
      |  'a' AS DocumentTypeID, 'START' AS StartingIdentifier,
      |  '' AS StartingIdentifierPlus1, 'END' AS EndingIdentifier,
      |  '' AS EndingIdentifierMinus1, 0 AS NoOfPages, 1 AS Occurence,
      |  ' ' AS StartingMinusN, ' ' AS EndingMinusN, '1' AS Sequence))""".stripMargin

  /** `segment_rows(turns, OneRule)` collected; `turns` is a SQL expression. */
  private def segmentRows(turns: String, rules: String = OneRule): Seq[org.apache.spark.sql.Row] = {
    GraftFunctions.register(spark)
    spark.sql(s"SELECT segment_rows($turns, $rules)").collect().toSeq
  }

  test("segment_rows fails loudly on a duplicate or NULL turn_idx and on a NULL turns element") {
    val cases = Seq(
      "array(struct(1 AS turn_idx, 'START' AS text), struct(1 AS turn_idx, 'END' AS text))" ->
        "turn ordering violated in segment_rows: 1 after 1",
      "array(struct(1 AS turn_idx, 'START' AS text), struct(CAST(NULL AS INT) AS turn_idx, 'END' AS text))" ->
        "turn ordering violated in segment_rows: null turn_idx",
      "array(struct(1 AS turn_idx, 'START' AS text), NULL)" ->
        "turn ordering violated in segment_rows: null turn_idx")
    for ((turns, msg) <- cases) {
      val e = intercept[Exception](segmentRows(turns))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => t.getMessage != null && t.getMessage.contains(msg)), s"$turns: $e")
    }
  }

  test("segment_rows over an empty turns array emits nothing, as every batch route") {
    assert(segmentRows("CAST(array() AS ARRAY<STRUCT<turn_idx: INT, text: STRING>>)").isEmpty)
    // NULL text reads as "": page 2 still counts
    val rows = segmentRows(
      "array(struct(1 AS turn_idx, 'START' AS text), struct(2 AS turn_idx, CAST(NULL AS STRING) AS text), " +
        "struct(3 AS turn_idx, 'END' AS text))")
    assert(rows.map(r => (r.getInt(1), r.getInt(2), r.getInt(6))) == Seq((1, 3, 3)), rows)
  }

  test("segment_rows reads BIGINT counts within INT range and NULLs absent optional fields") {
    val turns = "array(struct(1 AS turn_idx, 'START x' AS text), struct(2 AS turn_idx, 'y' AS text), " +
      "struct(3 AS turn_idx, 'END' AS text))"
    val asInt = segmentRows(turns)
    assert(asInt.map(r => (r.getInt(1), r.getInt(2))) == Seq((1, 3)), asInt)
    assert(segmentRows(turns, OneRule.replace("0 AS NoOfPages, 1 AS Occurence",
      "CAST(0 AS BIGINT) AS NoOfPages, CAST(1 AS BIGINT) AS Occurence")) == asInt)
    // DocReceivedId, UploadDatasheetid, FileNumber and SessionId are absent
    val r = asInt.head
    assert(r.isNullAt(0) && r.isNullAt(3) && r.isNullAt(5) && r.isNullAt(9), r)
    val e = intercept[Exception](segmentRows(turns,
      OneRule.replace("0 AS NoOfPages", s"${1L << 40} AS NoOfPages")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(t =>
      t.getMessage != null && t.getMessage.contains(s"NoOfPages' value ${1L << 40} overflows INT")), e.toString)
  }
}
