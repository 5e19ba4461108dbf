package graft.spark

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.extract.Extractor
import graft.core.seg.{Demarcator, Rule}
import graft.gen.SyntheticTranscripts
import graft.pipeline.Pipeline
import graft.schema._
import graft.streaming.StreamingSegmenter

/** Every distributed route × several CORPUS SEEDS against the sequential
  * oracle: PipelineSpec proves route equality on the canonical seed-42
  * corpus; this spec re-derives the invariant on fresh corpus shapes so a
  * route bug that happens to be invisible under one rule/page distribution
  * (e.g. an ordering assumption only violated by a specific Sequence mix)
  * still fails. All routes run the one fold core (`Pipeline.GroupFold`)
  * and must agree row for row, with shuffled input: the broadcast node
  * over a rule map and `segmentAuto` (`SubmitMain`'s route: the join node,
  * rules co-partitioned with the turns), each with a planned and with a
  * pinned (`buckets = 8`) exchange, the `segment_rows` UDTF and the
  * streaming fold. Each corpus runs as two tests: the four fold-node legs,
  * and `segment_rows` with the streaming fold. */
class RouteEquivalenceSpec extends AnyFunSuite with SparkFixture {

  /** The fold-node routes, by name. */
  private def nodeRoutes(turns: Dataset[Turn], rules: Dataset[ConvRule],
                         bc: Broadcast[Map[String, Seq[Rule]]]): Seq[(String, Dataset[ConvSegment])] = Seq(
    "broadcast node" -> Pipeline.segmentFused(turns, bc),
    "broadcast node, buckets = 8" -> Pipeline.segmentFused(turns, bc, buckets = 8),
    "join node" -> Pipeline.segmentAuto(turns, rules),
    "join node, buckets = 8" -> Pipeline.segmentAuto(turns, rules, buckets = 8))

  /** The routes off the fold nodes, by name. The streaming query runs
    * here, to completion. */
  private def coreRoutes(turns: Dataset[Turn], rules: Dataset[ConvRule],
                         bc: Broadcast[Map[String, Seq[Rule]]]): Seq[(String, Dataset[ConvSegment])] = Seq(
    "segment_rows" -> viaSegmentRows(turns, rules),
    "streaming" -> viaStreaming(turns, bc))

  private val FourRoutes = "all four routes"

  /** The route sets a corpus test runs, under the name its test carries. */
  private val routeSets = Seq[(String, (Dataset[Turn], Dataset[ConvRule],
      Broadcast[Map[String, Seq[Rule]]]) => Seq[(String, Dataset[ConvSegment])])](
    FourRoutes -> nodeRoutes, "segment_rows and the streaming fold" -> coreRoutes)

  /** `segment_rows` over `collect_list(struct(turn_idx, text))` of the
    * extracted turns, joined to each conversation's collected rules; its
    * NULLs read as 0 / "", as `ConvSegment.of` writes an absent field. */
  private def viaSegmentRows(turns: Dataset[Turn], rules: Dataset[ConvRule]): Dataset[ConvSegment] = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val convTurns = Pipeline.extract(turns).groupBy("conv_id")
      .agg(collect_list(struct($"turn_idx", $"text")).as("turns"))
    val ruleFields = rules.columns.filter(_ != "conv_id").map(col).toSeq
    val convRules = rules.toDF().groupBy("conv_id")
      .agg(collect_list(struct(ruleFields: _*)).as("rules"))
    val defaults = Map[String, Any]("DocReceivedId" -> 0L, "UploadDataSheetId" -> 0L,
      "FileNumber" -> "", "DocumentTypeId" -> "", "Sequence" -> "", "SessionId" -> "")
    val segs = convTurns.join(convRules, "conv_id").selectExpr("conv_id", "segment_rows(turns, rules)")
    segs.select(segs.columns.toSeq.map(c =>
      defaults.get(c).fold(col(c))(d => coalesce(col(c), lit(d)).as(c))): _*).as[ConvSegment]
  }

  private val streamQueries = new java.util.concurrent.atomic.AtomicInteger

  /** `StreamingSegmenter.segments` over one micro-batch: every turn and a
    * far-future sentinel turn, whose watermark then closes every
    * conversation in the next (no-data) batch. */
  private def viaStreaming(turns: Dataset[Turn],
                           bc: Broadcast[Map[String, Seq[Rule]]]): Dataset[ConvSegment] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Turn]
    val name = s"route_streaming_${streamQueries.incrementAndGet()}"
    val rulesFor = (cid: String) => bc.value.getOrElse(cid, Nil)
    val query = StreamingSegmenter.segments(input.toDS(), rulesFor,
      watermark = "1 minute", idleGapMs = 60000L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val all = turns.collect()
      input.addData(all.toSeq :+ Turn("conv-sentinel", 1, "user", "x", "",
        new java.sql.Timestamp(all.map(_.ts.getTime).max + 24 * 3600 * 1000L)))
      query.processAllAvailable()
    } finally query.stop()
    spark.table(name).where($"conv_id" =!= "conv-sentinel").as[ConvSegment]
  }

  private def routes(turns: Dataset[Turn], rules: Dataset[ConvRule],
                     bc: Broadcast[Map[String, Seq[Rule]]]): Seq[(String, Dataset[ConvSegment])] =
    nodeRoutes(turns, rules, bc) ++ coreRoutes(turns, rules, bc)

  private def oracle(seed: Long, nConvs: Long): Seq[ConvSegment] =
    (0L until nConvs).flatMap(SegmentOracle.segments(seed, _))
      .sortBy(s => (s.conv_id, s.Sequence.toInt))

  for (seed <- Seq(7L, 1234L, 98765L, 13L, 271828L, 314159L, 5550123L, 86400L);
       (label, routesOf) <- routeSets) {
    test(s"$label equal the sequential oracle (corpus seed $seed)") {
      import spark.implicits._
      val nConvs = 40L
      val want = oracle(seed, nConvs)
      assert(want.nonEmpty)
      val turns = SyntheticTranscripts.turns(spark, nConvs, seed)
        .orderBy(hash($"text")).as[Turn] // shuffled input on every route
      val rules = SyntheticTranscripts.rules(spark, nConvs, seed)
      val ruleMap = (0L until nConvs).map { ci =>
        SyntheticTranscripts.convId(ci) ->
          SyntheticTranscripts.rulesFor(seed, ci).map(Pipeline.toCoreRule)
      }.toMap
      val bc = spark.sparkContext.broadcast(ruleMap)
      def norm(xs: Array[ConvSegment]): Seq[ConvSegment] =
        xs.sortBy(s => (s.conv_id, s.Sequence.toInt)).toSeq
      for ((route, segs) <- routesOf(turns, rules, bc))
        assert(norm(segs.collect()) == want, route)
    }
  }

  // count() and select() put a Project directly over the fold node, which
  // ColumnPruning narrows to the columns the node references
  test("count and select over every route's output equal the oracle") {
    import spark.implicits._
    val (seed, nConvs) = (1234L, 30L)
    val want = oracle(seed, nConvs)
    assert(want.nonEmpty)
    val turns = SyntheticTranscripts.turns(spark, nConvs, seed)
      .orderBy(hash($"text")).as[Turn]
    val rules = SyntheticTranscripts.rules(spark, nConvs, seed)
    val bc = spark.sparkContext.broadcast((0L until nConvs).map { ci =>
      SyntheticTranscripts.convId(ci) ->
        SyntheticTranscripts.rulesFor(seed, ci).map(Pipeline.toCoreRule)
    }.toMap)
    for ((route, segs) <- routes(turns, rules, bc)) {
      assert(segs.count() == want.size, s"$route: count()")
      assert(segs.select("conv_id").count() == want.size, s"$route: select(conv_id).count()")
      val picked = segs.select("Sequence", "conv_id").as[(String, String)].collect()
      assert(picked.toSeq.sortBy { case (sq, c) => (c, sq.toInt) } ==
        want.map(s => (s.Sequence, s.conv_id)), s"$route: select(Sequence, conv_id)")
    }
  }

  /** The sequential fold of the generated turns under `ruleMap` (which
    * must hold every conversation), with rule-decode quarantine
    * (`demarcateIsolated`) and the test's own output mapping. */
  private def sequential(seed: Long, nConvs: Long,
                         ruleMap: Map[String, Seq[Rule]]): Seq[ConvSegment] =
    (0L until nConvs).flatMap { ci =>
      val cid = SyntheticTranscripts.convId(ci)
      val pages = SyntheticTranscripts.turnsFor(seed, ci).sortBy(_.turn_idx)
        .map(t => Extractor.safeExtract(t.tool, t.text)._1.text)
      Demarcator.demarcateIsolated(pages.toVector, ruleMap(cid))._1.map { r =>
        ConvSegment(cid, r.DocReceivedId.getOrElse(0L), r.FromPageNumber,
          r.ToPageNumber, r.FileNumber.getOrElse(""), r.DocumentTypeId.getOrElse(""),
          r.UploadDataSheetId.getOrElse(0L), r.TotalNumberOfpages, r.NoOfPages,
          r.Sequence.getOrElse(""), r.SessionId.getOrElse(""))
      }
    }.sortBy(s => (s.conv_id, s.Sequence.toInt))

  import RouteEquivalenceSpec.mutate

  for (seed <- Seq(31L, 4242L, 161803L, 2718L, 777L, 424243L);
       (label, routesOf) <- routeSets) {
    test(s"$label equal the sequential fold on an ADVERSARIAL rule corpus (seed $seed)") {
      import spark.implicits._
      val nConvs = 25L
      val turns = SyntheticTranscripts.turns(spark, nConvs, seed)
        .orderBy(hash($"text")).as[Turn]
      val rules = SyntheticTranscripts.rules(spark, nConvs, seed).map(mutate)
      val ruleMap = (0L until nConvs).map { ci =>
        SyntheticTranscripts.convId(ci) ->
          SyntheticTranscripts.rulesFor(seed, ci).map(r => Pipeline.toCoreRule(mutate(r)))
      }.toMap
      val bc = spark.sparkContext.broadcast(ruleMap)
      // sequential fold over the SAME mutated rules; demarcateIsolated,
      // because mutation case 4 plants a non-integer StartingMinusN —
      // int("x") raises in the reference too (ocr_processor.py:457) and
      // must quarantine that conversation identically on every route
      val want = sequential(seed, nConvs, ruleMap)
      assert(want.nonEmpty)
      def norm(xs: Array[ConvSegment]): Seq[ConvSegment] =
        xs.sortBy(s => (s.conv_id, s.Sequence.toInt)).toSeq
      for ((route, segs) <- routesOf(turns, rules, bc))
        assert(norm(segs.collect()) == want, route)
    }
  }

  test("NULL numeric and string rule fields fold identically on every route (parquet rules table)") {
    import spark.implicits._
    val (seed, nConvs) = (2024L, 20L)
    // NULLs in the four numeric columns (a typed ConvRule cannot hold them)
    // and in four string columns, each on its own hash-chosen third of the rules
    def nullSome(c: String, k: Int) =
      when(pmod(hash($"conv_id", $"Sequence", lit(k)), lit(3)) === 0, lit(null))
        .otherwise(col(c)).as(c)
    val nulled = Map("DocReceivedId" -> 1, "UploadDatasheetid" -> 2, "NoOfPages" -> 3,
      "Occurence" -> 4, "DocumentTypeID" -> 5, "EndingIdentifierMinus1" -> 6,
      "FirmFile" -> 7, "SessionId" -> 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-null-rules").resolve("rules").toString
    val gen = SyntheticTranscripts.rules(spark, nConvs, seed).toDF()
    gen.select(gen.columns.toSeq.map(c => nulled.get(c).fold(col(c))(nullSome(c, _))): _*)
      .write.parquet(dir)
    val rules = spark.read.schema(org.apache.spark.sql.Encoders.product[ConvRule].schema)
      .parquet(dir).as[ConvRule]
    val raw = spark.read.parquet(dir)
    for (c <- nulled.keys)
      assert(raw.where(col(c).isNull).count() > 0, s"no NULL planted in $c")
    // the contract both decoders follow: a NULL number reads as 0, a NULL
    // string as toCoreRule reads it
    val ruleMap = raw.collect().toSeq.map { r =>
      def i(c: String) = if (r.isNullAt(r.fieldIndex(c))) 0 else r.getAs[Int](c)
      def l(c: String) = if (r.isNullAt(r.fieldIndex(c))) 0L else r.getAs[Long](c)
      def s(c: String) = r.getAs[String](c)
      ConvRule(s("conv_id"), s("DocumentTypeID"), s("DocumentTypeName"),
        s("StartingIdentifier"), s("StartingIdentifierPlus1"), s("EndingIdentifier"),
        s("EndingIdentifierMinus1"), i("NoOfPages"), i("Occurence"), s("StartingMinusN"),
        s("EndingMinusN"), s("Sequence"), l("DocReceivedId"), s("FirmFile"),
        l("UploadDatasheetid"), s("SessionId"))
    }.groupBy(_.conv_id).map { case (cid, rs) => cid -> rs.map(Pipeline.toCoreRule) }
    val want = sequential(seed, nConvs, ruleMap)
    assert(want.nonEmpty)
    val turns = SyntheticTranscripts.turns(spark, nConvs, seed)
      .orderBy(hash($"text")).as[Turn]
    def norm(xs: Array[ConvSegment]): Seq[ConvSegment] =
      xs.sortBy(s => (s.conv_id, s.Sequence.toInt)).toSeq
    val all = routes(turns, rules, spark.sparkContext.broadcast(ruleMap))
    assert(all.toMap.apply("join node").queryExecution.executedPlan.toString.contains("SegmentJoin"))
    for ((route, segs) <- all)
      assert(norm(segs.collect()) == want, route)
  }

  for ((label, routesOf) <- routeSets) {
    test(s"poisoned rule decode quarantines ONE conversation identically on $label") {
      import spark.implicits._
      val (seed, nConvs) = (7L, 12L)
      // conv-0's rules get Sequence="" (the reference's int("") ValueError),
      // conv-1's get a non-integer — both must quarantine (zero segments,
      // job completes); every other conversation must be untouched
      val poisonedIds = Set(SyntheticTranscripts.convId(0L), SyntheticTranscripts.convId(1L))
      def poison(r: ConvRule): ConvRule =
        if (r.conv_id == SyntheticTranscripts.convId(0L)) r.copy(Sequence = "")
        else if (r.conv_id == SyntheticTranscripts.convId(1L)) r.copy(Sequence = "not-a-number")
        else r
      val turns = SyntheticTranscripts.turns(spark, nConvs, seed)
        .orderBy(hash($"text")).as[Turn]
      val rules = SyntheticTranscripts.rules(spark, nConvs, seed).map(poison)
      val ruleMap = (0L until nConvs).map { ci =>
        SyntheticTranscripts.convId(ci) ->
          SyntheticTranscripts.rulesFor(seed, ci).map(r => Pipeline.toCoreRule(poison(r)))
      }.toMap
      val bc = spark.sparkContext.broadcast(ruleMap)
      val want = oracle(seed, nConvs).filterNot(s => poisonedIds.contains(s.conv_id))
      assert(want.nonEmpty)
      def norm(xs: Array[ConvSegment]): Seq[ConvSegment] =
        xs.sortBy(s => (s.conv_id, s.Sequence.toInt)).toSeq
      def check(got: Array[ConvSegment], route: String): Unit = {
        assert(got.count(s => poisonedIds.contains(s.conv_id)) == 0,
          s"$route: poisoned conversations must emit zero segments")
        assert(norm(got) == want, s"$route: unpoisoned conversations diverged")
      }
      for ((route, segs) <- routesOf(turns, rules, bc)) check(segs.collect(), route)
      if (label == FourRoutes) {
        // both fold nodes also surface the quarantine in lineage, identically:
        // every turn in, every segment out, and the two poisoned conversations
        // PLUS the corpus's planted U+FFFD extraction corruptions as errors
        val corruptTurns = (0L until nConvs).map(ci => SyntheticTranscripts.turnsFor(seed, ci)
          .count(_.text.indexOf(Extractor.CorruptMarker) >= 0)).sum
        val nTurns = (0L until nConvs).map(ci => SyntheticTranscripts.turnsFor(seed, ci).size).sum
        def totals(node: String, fold: Option[graft.pipeline.PartitionStatsAcc] => Dataset[ConvSegment])
            : (Long, Long, Long) = {
          val acc = new graft.pipeline.PartitionStatsAcc
          spark.sparkContext.register(acc, s"poisoned_route_stats_$node")
          fold(Some(acc)).collect()
          val v = acc.value.values
          (v.map(_._1).sum, v.map(_._2).sum, v.map(_._3).sum)
        }
        val viaBroadcast = totals("broadcast", acc => Pipeline.segmentFused(turns, bc, stats = acc))
        assert(viaBroadcast == totals("join", acc => Pipeline.segmentAuto(turns, rules, stats = acc)),
          "broadcast and join nodes must give the same lineage")
        assert(viaBroadcast == ((nTurns.toLong, want.size.toLong, 2L + corruptTurns)),
          s"lineage must count $nTurns turns, ${want.size} segments and 2 rule quarantines " +
            s"+ $corruptTurns extraction corruptions, got $viaBroadcast")
      }
    }
  }
}

/** Companion holding the closure-safe mutation (a suite method would drag
  * the non-serializable ScalaTest engine into the Spark closure). */
object RouteEquivalenceSpec {
  /** Deterministic ADVERSARIAL rule mutation — fat identifiers, missing
    * fields, unicode whitespace, degenerate pipe-alternatives, non-integer
    * offsets — applied identically to the distributed rules and the
    * sequential oracle, so the route equivalence is exercised on rule
    * shapes the generator never draws. */
  def mutate(r: ConvRule): ConvRule = {
    val h = (r.conv_id + "|" + r.Sequence).hashCode & 0x7fffffff
    (h % 8: @unchecked) match {
      case 0 => r.copy(StartingIdentifier =
        r.StartingIdentifier + " " + Seq.fill(400)("pad").mkString(" "))
      case 1 => r.copy(EndingIdentifier = "", EndingIdentifierMinus1 = "")
      case 2 => r.copy(StartingIdentifier =
        "  " + r.StartingIdentifier + "\t ")
      case 3 => r.copy(StartingIdentifier = r.StartingIdentifier + "||  | ",
        EndingIdentifier = " |" + r.EndingIdentifier)
      case 4 => r.copy(StartingMinusN = "x", EndingMinusN = "", DocumentTypeID = "")
      case 5 => r.copy(Occurence = 0, NoOfPages = 3)
      // UNICODE whitespace around identifiers: NBSP / ideographic space /
      // paragraph separator are whitespace under CPython str.strip() (the
      // T1 semantics the PyText layer implements) but NOT under Java's
      // String.trim (which stops at \u0020) - the exact divergence class
      // route equivalence must hold through
      case 6 => r.copy(StartingIdentifier =
        "\u00a0" + r.StartingIdentifier + "\u3000",
        EndingIdentifier = "\u2029" + r.EndingIdentifier + "\u00a0")
      case 7 => r.copy(Sequence = "0" + r.Sequence, // stringly-int: int("07") = 7
        StartingIdentifier = r.StartingIdentifier + "\r\n")
    }
  }
}
