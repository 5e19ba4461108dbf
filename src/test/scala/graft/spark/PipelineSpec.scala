package graft.spark

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.extract.Extractor
import graft.core.seg.Demarcator
import graft.core.xml.SubDocXml
import graft.gen.SyntheticTranscripts
import graft.pipeline.{PartitionStatsAcc, Pipeline}
import graft.schema._

/** End-to-end parity: the distributed pipeline must equal the sequential
  * single-threaded oracle (core kernels applied conv-by-conv in turn order)
  * — per-turn text equality under stable turn ordering (the north rule),
  * and field-for-field segment equality, even when the input arrives
  * shuffled. */
class PipelineSpec extends AnyFunSuite with SparkFixture {

  private val Seed = 42L
  private val NConvs = 30L

  private def oracleSegments(convIdx: Long): Vector[ConvSegment] =
    SegmentOracle.segments(Seed, convIdx)

  /** `rules` collected into the rule map `segmentFused` broadcasts. */
  private def broadcastRules(rules: Dataset[ConvRule]) =
    spark.sparkContext.broadcast(rules.collect().toSeq.groupBy(_.conv_id)
      .map { case (cid, rs) => cid -> rs.map(Pipeline.toCoreRule) })

  test("generator is deterministic and partition-independent") {
    import spark.implicits._
    val a = SyntheticTranscripts.turns(spark, 10, Seed, parallelism = 1).collect().sortBy(t => (t.conv_id, t.turn_idx))
    val b = SyntheticTranscripts.turns(spark, 10, Seed, parallelism = 7).collect().sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
    // hot conversation skew exists (conv 0 is hot: idx % 97 == 0)
    val sizes = a.groupBy(_.conv_id).map(_._2.length)
    assert(sizes.max > 3 * (sizes.sum / sizes.size))
  }

  test("per-turn extracted text equality vs sequential oracle, shuffled input") {
    import spark.implicits._
    // shuffle the input rows: ordering must be restored by the pipeline alone
    val turns = SyntheticTranscripts.turns(spark, NConvs, Seed)
      .orderBy(hash($"text"))
      .as[Turn]
    val got = Pipeline.extract(turns).collect()
      .map(e => (e.conv_id, e.turn_idx) -> (e.text, e.span_starts.toSeq, e.span_ends.toSeq)).toMap

    var checked = 0
    (0L until NConvs).foreach { ci =>
      SyntheticTranscripts.turnsFor(Seed, ci).foreach { t =>
        val (ex, _) = Extractor.safeExtract(t.tool, t.text)
        val g = got((t.conv_id, t.turn_idx))
        assert(g._1 == ex.text, s"text mismatch at ${t.conv_id}/${t.turn_idx}")
        assert(g._2 == ex.spans.map(_.start) && g._3 == ex.spans.map(_.end),
          s"span mismatch at ${t.conv_id}/${t.turn_idx}")
        checked += 1
      }
    }
    assert(checked == got.size && checked > 300)
  }

  test("segments equal sequential oracle, field for field (broadcast path)") {
    import spark.implicits._
    val turns = SyntheticTranscripts.turns(spark, NConvs, Seed).orderBy(hash($"text")).as[Turn]
    val ruleMap = (0L until NConvs).map { ci =>
      SyntheticTranscripts.convId(ci) -> SyntheticTranscripts.rulesFor(Seed, ci).map(Pipeline.toCoreRule)
    }.toMap
    val bc = spark.sparkContext.broadcast(ruleMap)
    // at a pinned width: the explicit repartition under the node
    val got = Pipeline.segmentFused(turns, bc, buckets = 8).collect()
      .groupBy(_.conv_id).map { case (k, v) => k -> v.sortBy(_.Sequence.toInt).toVector }

    (0L until NConvs).foreach { ci =>
      val cid = SyntheticTranscripts.convId(ci)
      val want = oracleSegments(ci).sortBy(_.Sequence.toInt)
      assert(got(cid) == want, s"segment mismatch for $cid")
    }
    // sanity: the corpus exercises both found and zeroed rows
    val all = got.values.flatten
    assert(all.exists(_.FromPageNumber > 0) && all.exists(_.FromPageNumber == 0))
  }

  test("fused single-shuffle path equals sequential oracle, shuffled input") {
    import spark.implicits._
    val turns = SyntheticTranscripts.turns(spark, NConvs, Seed).orderBy(hash($"text")).as[Turn]
    val ruleMap = (0L until NConvs).map { ci =>
      SyntheticTranscripts.convId(ci) -> SyntheticTranscripts.rulesFor(Seed, ci).map(Pipeline.toCoreRule)
    }.toMap
    val bc = spark.sparkContext.broadcast(ruleMap)
    val got = Pipeline.segmentFused(turns, bc)
      .collect().sortBy(s => (s.conv_id, s.Sequence.toInt)).toSeq
    val want = (0L until NConvs).flatMap(oracleSegments).sortBy(s => (s.conv_id, s.Sequence.toInt))
    assert(got == want)
  }

  test("segmentAuto routes both branches to identical segments") {
    import spark.implicits._
    val turns = SyntheticTranscripts.turns(spark, NConvs, Seed).as[Turn]
    val rules = SyntheticTranscripts.rules(spark, NConvs, Seed)
    val want = (0L until NConvs).flatMap(oracleSegments).sortBy(s => (s.conv_id, s.Sequence.toInt))
    // the two rule branches of the fold: a broadcast rule map into the
    // closure node (segmentFused), and segmentAuto's join node
    val viaBroadcast = Pipeline.segmentFused(turns, broadcastRules(rules))
      .collect().sortBy(s => (s.conv_id, s.Sequence.toInt)).toSeq
    val viaCogroup = Pipeline.segmentAuto(turns, rules)
      .collect().sortBy(s => (s.conv_id, s.Sequence.toInt)).toSeq
    assert(viaBroadcast == want)
    assert(viaCogroup == want)
  }

  test("orphan rules (conv_id with no turns) emit nothing on every route") {
    import spark.implicits._
    // rules exist for 5 conversations but turns only for 3: the join node
    // drops the orphans exactly like the turns-driven broadcast route
    val turns = SyntheticTranscripts.turns(spark, 3, Seed).as[Turn]
    val rules5 = SyntheticTranscripts.rules(spark, 5, Seed)
    val want = (0L until 3L).flatMap(oracleSegments).sortBy(s => (s.conv_id, s.Sequence.toInt))
    val viaBroadcast = Pipeline.segmentFused(turns, broadcastRules(rules5))
      .collect().sortBy(s => (s.conv_id, s.Sequence.toInt)).toSeq
    val viaJoin = Pipeline.segmentAuto(turns, rules5)
      .collect().sortBy(s => (s.conv_id, s.Sequence.toInt)).toSeq
    assert(viaBroadcast == want)
    assert(viaJoin == want)
  }

  test("corpus hygiene: U+FFFD corruption only on parser-bound turns") {
    // the identity (passthrough) oracle and the `_raw_turns`-replaying
    // DuckDB oracles require passthrough payloads to stay marker-free;
    // parser turns must carry SOME markers or the error gate is vacuous
    var corrupt, clean = 0
    (0L until 50L).foreach { ci =>
      SyntheticTranscripts.turnsFor(Seed, ci).foreach { t =>
        val has = t.text.indexOf(Extractor.CorruptMarker) >= 0
        if (has) {
          assert(t.tool == "html" || t.tool == "pdf",
            s"marker on non-parser turn ${t.conv_id}/${t.turn_idx} tool='${t.tool}'")
          corrupt += 1
        } else clean += 1
      }
    }
    assert(corrupt > 10, s"only $corrupt corrupt turns in 50 convs")
    assert(clean > corrupt * 10, "corruption must stay a small minority")
  }

  test("extraction lineage counts rows and isolates failures") {
    import spark.implicits._
    val good = SyntheticTranscripts.turns(spark, 5, Seed).as[Turn]
    val extracted = Pipeline.extract(good)
    val lin = Pipeline.extractionLineage(extracted, snapshotId = 7L).collect()
    assert(lin.map(_.rows_in).sum == good.count())
    assert(lin.forall(_.snapshot_id == 7L))
    // the corpus deterministically plants U+FFFD decode-corrupted parser
    // turns; lineage must count exactly those quarantines — and there must
    // be at least one, or the error branch is untested
    val wantErrs = (0L until 5L).map(ci => SyntheticTranscripts.turnsFor(Seed, ci)
      .count(_.text.indexOf(Extractor.CorruptMarker) >= 0)).sum
    assert(wantErrs > 0, "fixture must exercise the quarantine branch")
    assert(lin.map(_.errors).sum == wantErrs.toLong)
  }

  test("PartitionStatsAcc keeps one value per partition id across merges") {
    val driver = new PartitionStatsAcc
    def task(adds: (Int, Long, Long, Long)*): PartitionStatsAcc = {
      val t = new PartitionStatsAcc
      adds.foreach(t.add) // within a task, adds sum (per-conversation adds)
      t
    }
    driver.merge(task((0, 3L, 1L, 0L), (0, 2L, 1L, 1L)))
    driver.merge(task((1, 4L, 2L, 0L)))
    // partition 0 reported again (a re-executed stage): replaced, not summed
    driver.merge(task((0, 5L, 2L, 1L)))
    assert(driver.value == Map(0 -> ((5L, 2L, 1L)), 1 -> ((4L, 2L, 0L))))
  }

  test("lineage stats stay exact when the extraction stage runs twice") {
    import spark.implicits._
    val turns = SyntheticTranscripts.turns(spark, 5, Seed).as[Turn]
    val bc = spark.sparkContext.broadcast((0L until 5L).map { ci =>
      SyntheticTranscripts.convId(ci) -> SyntheticTranscripts.rulesFor(Seed, ci).map(Pipeline.toCoreRule)
    }.toMap)
    val acc = new PartitionStatsAcc
    spark.sparkContext.register(acc, "graft.partition_lineage.rerun")
    val segs = Pipeline.segmentFused(turns, bc, stats = Some(acc))
    // two actions over one plan re-run every fold task (which extracts),
    // as a resubmitted stage would
    val n = segs.collect().length
    assert(segs.collect().length == n)
    assert(acc.value.values.map(_._1).sum == turns.count())
    assert(acc.value.values.map(_._2).sum == n.toLong)
  }

  test("dedup clustering: chained near-dups collapse to one component") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (10L, base),                       // chain: 10-11 similar, 11-12 similar
      (11L, base + " lambda"),
      (12L, base + " lambda mu"),
      (20L, "totally different words entirely unrelated content here now"),
      (21L, "totally different words entirely unrelated content here now"), // exact dup of 20
      (30L, "a lone short document that matches nothing else at all")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.dedupClusters(docs, thresholdPpm = 700000L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // 10,11,12 one component rooted at 10 (transitive: 10-12 may not be a
    // direct edge but the chain connects them)
    assert(got(10L) == ((10L, 3L, true)))
    assert(got(11L) == ((10L, 3L, false)))
    assert(got(12L) == ((10L, 3L, false)))
    assert(got(20L) == ((20L, 2L, true)) && got(21L) == ((20L, 2L, false)))
    assert(got(30L) == ((30L, 1L, true)))
  }

  test("dedupKeepBest keeps the highest-diversity member, not the min-id root") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (10L, base + " alpha"),            // near-dup of 11, repeated token
      (11L, base),                       //   -> higher diversity than 10
      (20L, "totally different words entirely unrelated content here now"),
      (21L, "totally different words entirely unrelated content here now"),
      (40L, null.asInstanceOf[String])   // null text: -1 sentinel singleton
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.dedupKeepBest(docs, thresholdPpm = 700000L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    // component root is min-id 10, but the KEPT doc is 11 (1000000 ppm
    // beats 10's 10/11 = 909090); exact dups tie-break to the lower id
    assert(got(10L) == ((10L, 2L, 909090L, false)))
    assert(got(11L) == ((10L, 2L, 1000000L, true)))
    assert(got(20L) == ((20L, 2L, 1000000L, true)))
    assert(got(21L) == ((20L, 2L, 1000000L, false)))
    assert(got(40L) == ((40L, 1L, -1L, true)))
  }

  test("lshRecall grades banding against exact truncated-twin Jaccard") {
    import spark.implicits._
    def toks(n: Int) = (0 until n).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (0L, toks(20)),  // keep 50: twin = 10 tokens, 8 of 18 shingles
      (3L, toks(10)),  // keep 80: twin = 8 tokens, 6 of 8 shingles
      (4L, toks(20)),  // keep 90: twin = 18 tokens, 16 of 18 shingles
      (7L, toks(7))    // < 8 tokens: excluded from the eval
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.lshRecall(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(got.keySet == Set(0L, 3L, 4L))
    // exact subset Jaccard: |shingles(prefix)| / |shingles(full)|
    assert(got(0L)._1 == 50L && got(0L)._2 == 8000000L / 18L)  // 444444, not a dup
    assert(got(3L)._1 == 80L && got(3L)._2 == 750000L)
    assert(got(4L)._1 == 90L && got(4L)._2 == 16000000L / 18L) // 888888, a dup
    assert(!got(0L)._4 && got(3L)._4 && got(4L)._4)
    // banding is probabilistic per doc, but the reported flags must agree
    // with the band count and the count must fit the 8-band layout
    got.values.foreach { case (_, _, nsb, _, found) =>
      assert(nsb >= 0L && nsb <= 8L && found == (nsb > 0L))
    }
    // loud range guard: an id at/above the twin offset would silently alias
    // a twin row onto a real document — it must fail, not corrupt the gate
    val bad = Seq((graft.ops.Dedup.RecallTwinOffset, toks(10))).toDF("doc_id", "text")
    val e = intercept[Exception](graft.ops.Dedup.lshRecall(bad).collect())
    assert(e.getMessage != null && e.toString.contains("SparkRuntimeException")
      || e.getMessage.contains("aliases the twin offset")
      || Option(e.getCause).exists(_.getMessage.contains("aliases the twin offset")),
      s"expected the range guard to fire, got $e")
  }

  test("splitAssign never splits a near-dup cluster across splits") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (10L, base + " alpha"),
      (11L, base),                       // near-dup cluster {10, 11}
      (20L, "totally different words entirely unrelated content here now"),
      (21L, "totally different words entirely unrelated content here now"),
      (30L, "lone unrelated singleton document body with distinct words")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.splitAssign(docs, thresholdPpm = 700000L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getString(4)))).toMap
    assert(got.keySet == Set(10L, 11L, 20L, 21L, 30L)) // every doc assigned
    // cluster-atomic: same component -> same bucket -> same split
    assert(got(10L) == got(11L) && got(20L) == got(21L))
    got.values.foreach { case (_, bucket, split) =>
      assert(bucket >= 0L && bucket < 1000000L)
      assert(Set("train", "val", "test")(split))
    }
    // determinism: the assignment is a pure function of the component id
    val again = graft.ops.Dedup.splitAssign(docs, thresholdPpm = 700000L).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(again == got.map { case (k, v) => k -> v._3 })
  }

  test("salted extraction balances a monster conversation across partitions") {
    import spark.implicits._
    // one conversation dominates the corpus: stage A's hash(conv_id, turn_idx)
    // salting must spread it; no partition may hold a straggler share
    val big = (1 to 20000).map(i => Turn("conv-huge", i, "user", s"payload $i text", "",
      new java.sql.Timestamp(SyntheticTranscripts.BaseEpochMs + i)))
    val small = (0L until 5L).flatMap(ci => SyntheticTranscripts.turnsFor(Seed, ci))
    val turns = spark.createDataset(big ++ small)
    val parts = Pipeline.extract(turns).groupByKey(_.part_id)
      .count().collect().map(_._2)
    assert(parts.length == spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "all salted partitions used")
    val mean = parts.sum.toDouble / parts.length
    assert(parts.max < mean * 1.5, s"salting imbalance: ${parts.mkString(",")}")
  }

  test("single monster conversation folds in one pass (memory bounded per conv)") {
    import spark.implicits._
    val n = 20000
    val marker = 17777
    val turns = spark.createDataset((1 to n).map(i =>
      Turn("conv-huge", i, "user", if (i == marker) "zq start here" else s"filler text $i", "",
        new java.sql.Timestamp(SyntheticTranscripts.BaseEpochMs + i))))
    val rule = graft.core.seg.Rule(
      documentTypeId = Some("BIG"), startingIdentifier = "zq start here",
      sequence = Some("1"), docReceivedId = Some(1L))
    val bc = spark.sparkContext.broadcast(Map("conv-huge" -> Seq(rule)))
    val segs = Pipeline.segmentFused(turns, bc).collect()
    assert(segs.length == 1)
    assert(segs(0).FromPageNumber == marker && segs(0).ToPageNumber == n)
    assert(segs(0).TotalNumberOfpages == n)
  }

  test("the fold keeps a decoded U+FFFD entity: page 2 is not re-quarantined") {
    import spark.implicits._
    // the entity decodes to the very character raw payloads are refused
    // for; extracting the extracted text again would blank page 2
    val html = "<p>alpha START here &#xFFFD; " + ("filler words " * 15) + "</p>"
    val (ex, err) = Extractor.safeExtract("html", html)
    assert(!err && ex.text.contains('\uFFFD'), ex.text)
    val ts = new java.sql.Timestamp(0L)
    val turns = Seq(Turn("c-ent", 1, "user", "intro page", "", ts),
      Turn("c-ent", 2, "user", html, "html", ts),
      Turn("c-ent", 3, "user", "the END marker", "", ts)).toDS()
    val rules = Seq(ConvRule("c-ent", "DT", "t", "START", " ", "END", " ",
      0, 1, " ", " ", "1", 7L, "ff", 9L, "s")).toDS()
    val want = Pipeline.segmentFused(turns, broadcastRules(rules)).collect().toSeq
    assert(want.map(_.FromPageNumber) == Seq(2), want)
    // SubmitMain's route
    assert(Pipeline.segmentAuto(turns, rules).collect().toSeq == want)
  }

  test("the fold reads NULL tool/text as passthrough/empty and rejects a NULL turn_idx") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val schema = StructType(spark.emptyDataset[Turn].schema.map(_.copy(nullable = true)))
    val ts = new java.sql.Timestamp(0L)
    def fold(rows: Row*) = {
      val turns = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).as[Turn]
      val bc = spark.sparkContext.broadcast(Map("c-null" -> Seq(graft.core.seg.Rule(
        documentTypeId = Some("DT"), startingIdentifier = "START", endingIdentifier = "END",
        sequence = Some("1"), docReceivedId = Some(1L)))))
      Pipeline.segmentFused(turns, bc).collect().toSeq
    }
    val withNulls = fold(Row("c-null", 1, "user", "alpha START", null, ts),
      Row("c-null", 2, "user", null, "html", ts), Row("c-null", 3, "user", "the END", "", ts))
    assert(withNulls.map(s => (s.FromPageNumber, s.ToPageNumber)) == Seq((1, 3)), withNulls)
    assert(withNulls == fold(Row("c-null", 1, "user", "alpha START", "", ts),
      Row("c-null", 2, "user", "", "html", ts), Row("c-null", 3, "user", "the END", "", ts)))
    val e = intercept[org.apache.spark.SparkException](
      fold(Row("c-null", null, "user", "alpha START", "", ts)))
    assert(e.getMessage.contains("NULL turn_idx in conversation c-null"), e.getMessage)
  }

  test("a duplicate turn_idx fails both fold nodes loudly, naming the conversation") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val turns = Seq(Turn("c-dup", 1, "user", "alpha START", "", ts),
      Turn("c-dup", 2, "user", "middle", "", ts), Turn("c-dup", 2, "user", "the END", "", ts)).toDS()
    val rules = Seq(ConvRule("c-dup", "DT", "t", "START", " ", "END", " ",
      0, 1, " ", " ", "1", 7L, "ff", 9L, "s")).toDS()
    for ((node, segs) <- Seq("closure node" -> Pipeline.segmentFused(turns, broadcastRules(rules)),
                             "join node" -> Pipeline.segmentAuto(turns, rules))) {
      val e = intercept[org.apache.spark.SparkException](segs.collect())
      assert(e.getMessage.contains("turn ordering violated in c-dup: 2 after 2"),
        s"$node: ${e.getMessage}")
    }
  }

  test("observe() metrics report extraction row and error counts") {
    import spark.implicits._
    val turns = SyntheticTranscripts.turns(spark, 8, Seed).as[Turn]
    val obs = new org.apache.spark.sql.Observation()
    val df = Pipeline.extract(turns).toDF()
      .observe(obs, count(lit(1)).as("rows"),
        sum(when(col("error"), 1L).otherwise(0L)).as("errs"))
    val n = df.count()
    val wantErrs = (0L until 8L).map(ci => SyntheticTranscripts.turnsFor(Seed, ci)
      .count(_.text.indexOf(Extractor.CorruptMarker) >= 0)).sum
    assert(obs.get("rows") == n && n > 0)
    assert(wantErrs > 0, "fixture must exercise the quarantine branch")
    assert(obs.get("errs") == wantErrs.toLong)
  }

  test("consolidation view concatenates turns in order with headers") {
    import spark.implicits._
    val turns = SyntheticTranscripts.turns(spark, 3, Seed).orderBy(hash($"text")).as[Turn]
    val got = Pipeline.consolidate(Pipeline.extract(turns)).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    (0L until 3L).foreach { ci =>
      val cid = SyntheticTranscripts.convId(ci)
      val ts = SyntheticTranscripts.turnsFor(Seed, ci).sortBy(_.turn_idx)
      val want = ts.map(t => s"=== turn ${t.turn_idx} ===\n${graft.core.extract.Extractor.safeExtract(t.tool, t.text)._1.text}")
        .mkString("\n")
      assert(got(cid)._1 == want)
      assert(got(cid)._2 == ts.length.toLong)
    }
  }

  test("xml rendering matches core renderer per conversation") {
    import spark.implicits._
    val turns = SyntheticTranscripts.turns(spark, 6, Seed).as[Turn]
    val ruleMap = (0L until 6L).map { ci =>
      SyntheticTranscripts.convId(ci) -> SyntheticTranscripts.rulesFor(Seed, ci).map(Pipeline.toCoreRule)
    }.toMap
    val bc = spark.sparkContext.broadcast(ruleMap)
    val segs = Pipeline.segmentFused(turns, bc)
    val got = Pipeline.renderXml(segs).collect().toMap
    (0L until 6L).foreach { ci =>
      val cid = SyntheticTranscripts.convId(ci)
      val want = SubDocXml.render(
        oracleSegments(ci).sortBy(_.Sequence.toInt).map(s => graft.core.seg.SegmentRow(
          Some(s.DocReceivedId), s.FromPageNumber, s.ToPageNumber, Some(s.FileNumber),
          Some(s.DocumentTypeId), Some(s.UploadDataSheetId), s.TotalNumberOfpages,
          s.NoOfPages, Some(s.Sequence), Some(s.SessionId))))
      assert(got(cid) == want)
    }
  }
}
