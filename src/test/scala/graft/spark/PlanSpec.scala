package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.SyntheticTranscripts
import graft.pipeline.Pipeline
import graft.plans.{SegmentExec, SegmentJoinExec}
import graft.queries.Relational

/** Physical-plan shape assertions — the 100 TB contract, checked in CI:
  * filters and projections must reach the parquet scan, small dims must
  * broadcast (no fact-side shuffle), and the fused transcript pipeline must
  * cost exactly ONE exchange. A regression here is a silent 10–100×
  * slowdown at scale long before it shows up in a local benchmark.
  */
class PlanSpec extends AnyFunSuite with SparkFixture {

  private val Sf = "/root/testdata/sf0.001"

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Number of shuffle-exchange NODES (a node renders several times in
    * formatted output: tree line + detail section). */
  private def shuffleCount(df: DataFrame): Int =
    "\\(\\d+\\) Exchange".r.findAllIn(formatted(df)).size

  /** The physical plan with its exchanges placed. Call it before the
    * query runs: AQE then still holds its initial plan, not query stages. */
  private def prepared(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def exchanges(p: SparkPlan): Int = p.collect { case e: ShuffleExchangeExec => e }.size

  /** The seed-42 oracle's segments for the first `n` conversations, as rows. */
  private def oracleRows(n: Long): Seq[String] =
    (0L until n).flatMap(SegmentOracle.segments(42L, _))
      .map(s => org.apache.spark.sql.Row.fromTuple(s).toString).sorted

  test("q8: predicates push into the parquet scan; only needed columns read") {
    val p = formatted(Relational.q8Pushdown(spark, Sf))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // projection pruning: the 4 needed columns and none of the others
    assert(p.contains("l_extendedprice") && p.contains("l_discount"), p)
    assert(!p.contains("l_orderkey") && !p.contains("l_comment"), p)
  }

  test("q2/q9: dimension joins broadcast (no shuffle of the fact side)") {
    val p2 = formatted(Relational.q2JoinAgg(spark, Sf))
    assert(p2.contains("BroadcastHashJoin"), p2)
    val p9 = formatted(Relational.q9MultiJoin(spark, Sf))
    assert(p9.contains("BroadcastHashJoin"), p9)
    assert(!p9.contains("SortMergeJoin"), p9)
  }

  test("q3: top-k plans as TakeOrderedAndProject, never a global sort") {
    // orderBy(...).limit(k) must stay the per-partition-heap + merge plan;
    // a refactor regressing it to Sort+GlobalLimit would sort the whole
    // table at scale for 10 rows
    val p = formatted(Relational.q3TopK(spark, Sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("\\(\\d+\\) Sort\\b".r.findFirstIn(p).isEmpty, p)
  }

  test("stream-dedup twin: partial-aggregating agg pair, no window rank") {
    import spark.implicits._
    val docs = Seq((0L, "a", 5L), (1L, "a", 3L), (2L, "b", 1L))
      .toDF("doc_id", "text", "epoch")
    val p = formatted(graft.ops.Dedup.streamDedupTwin(docs))
    // a window rank would ship EVERY duplicate row through the shuffle;
    // the agg must combine map-side (partial + final pair — SortAggregate
    // here: a struct-min buffer is not hash-agg-able, but the partial
    // still collapses local duplicates before the exchange)
    assert(!p.contains("Window"), p)
    assert("(?:Sort|Hash)Aggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q1: aggregate is partial (map-side combine) before the exchange") {
    val p = formatted(Relational.q1Agg(spark, Sf))
    val firstAgg = p.indexOf("HashAggregate")
    val firstExchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && firstExchange >= 0)
    // formatted plans list operators leaves-last; a partial aggregate exists
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  /** `p` and every node below it, descending into AQE query stages (the
    * leaves of an adaptive tree). */
  private def subtree(p: SparkPlan): Seq[SparkPlan] = p match {
    case q: QueryStageExec => q +: subtree(q.plan)
    case other => other +: other.children.flatMap(subtree)
  }

  /** The nodes of `df`'s final adaptive plan, after running it. */
  private def finalNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => subtree(a.executedPlan)
      case other => fail(s"not an adaptive plan:\n$other")
    }
  }

  /** The shuffle reads under `p`, and the partitions `p` yields. */
  private def reads(p: SparkPlan): (Seq[AQEShuffleReadExec], Int) =
    (subtree(p).collect { case r: AQEShuffleReadExec => r }, p.execute().getNumPartitions)

  test("fused pipeline: AQE coalesces the conv_id shuffle unless buckets pin it") {
    val turns = SyntheticTranscripts.turns(spark, 10)
    val ruleMap = (0L until 10L).map { ci =>
      SyntheticTranscripts.convId(ci) -> SyntheticTranscripts.rulesFor(42L, ci).map(Pipeline.toCoreRule)
    }.toMap
    val bc = spark.sparkContext.broadcast(ruleMap)
    /** The fold's input reads after execution, from the final adaptive plan. */
    def foldReads(buckets: Int): (Seq[AQEShuffleReadExec], Int) = {
      val all = finalNodes(Pipeline.segmentFused(turns, bc, buckets).toDF())
      reads(all.collectFirst { case m: SegmentExec => m }.getOrElse(fail(s"no fold in\n$all")))
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // a few KB of turns over 7 session partitions: merged at runtime
    val (auto, autoParts) = foldReads(0)
    assert(auto.exists(_.hasCoalescedPartition), auto)
    assert(autoParts < spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // a pinned width is a contract: no coalescing, exactly 8 partitions
    val (pinned, pinnedParts) = foldReads(8)
    assert(!pinned.exists(_.hasCoalescedPartition), pinned)
    assert(pinnedParts == 8)
  }

  test("segmentAuto: AQE coalesces both join sides unless buckets pin them") {
    val turns = SyntheticTranscripts.turns(spark, 10)
    val rules = SyntheticTranscripts.rules(spark, 10)
    /** The reads of the join node's turns and rules sides. */
    def sideReads(buckets: Int): Seq[(Seq[AQEShuffleReadExec], Int)] = {
      val all = finalNodes(Pipeline.segmentAuto(turns, rules, buckets).toDF())
      val join = all.collectFirst { case j: SegmentJoinExec => j }.getOrElse(fail(s"no join in\n$all"))
      Seq(reads(join.left), reads(join.right))
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    for ((rs, n) <- sideReads(0)) {
      assert(rs.exists(_.hasCoalescedPartition), rs)
      assert(n < width)
    }
    // a pinned width holds on both sides, below and above the session width
    for (buckets <- Seq(3, 8); (rs, n) <- sideReads(buckets)) {
      assert(!rs.exists(_.hasCoalescedPartition), s"buckets = $buckets: $rs")
      assert(n == buckets, s"buckets = $buckets: $n partitions")
    }
  }

  test("bucketed tables co-locate the join: zero exchanges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val orders = Relational.tbl(spark, Sf, "orders").select("o_custkey", "o_totalprice")
    val customer = Relational.tbl(spark, Sf, "customer").select("c_custkey", "c_nationkey")
    try {
      orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$dir/orders_b").saveAsTable("orders_b")
      customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$dir/customer_b").saveAsTable("customer_b")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("orders_b")
          .join(spark.table("customer_b"),
            col("o_custkey") === col("c_custkey"))
        assert(shuffleCount(joined) == 0, formatted(joined))
        assert(formatted(joined).contains("SortMergeJoin"), formatted(joined))
        assert(joined.count() > 0)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("d_exact_dedup: single shuffle on the digest (partial count before it)") {
    val docs = Relational.tbl(spark, Sf, "documents")
    val df = graft.ops.Dedup.exact(docs)
    // one exchange for the groupBy, one for the final orderBy range partitioning
    assert(shuffleCount(df) <= 2, formatted(df))
  }

  test("ngram jaccard: df-cap bounds hot-shingle join fan-out") {
    import spark.implicits._
    // 80 identical docs: every shingle has document frequency 80. Below the
    // cap the shared shingles leave the universe entirely — ZERO join rows
    // instead of 80² candidate rows per shingle; above it, the full 80·79/2
    // identical pairs emerge. This is the bound that keeps one boilerplate
    // shingle from emitting k² rows at web scale.
    val docs = (1 to 80).map(i => (i.toLong, "common shingle words here now"))
      .toDF("doc_id", "text")
    assert(graft.ops.Dedup.ngramJaccard(docs, thresholdPpm = 1L, dfCap = 64L).count() == 0)
    assert(graft.ops.Dedup.ngramJaccard(docs, thresholdPpm = 1L, dfCap = 100L)
      .count() == 80L * 79 / 2)
  }

  test("ngram jaccard: df filter shares the join's shuffle (no extra exchange)") {
    // At scale the pair join is a sort-merge join; the window-based df
    // filter must then REUSE the hashpartitioning(s) exchange for both join
    // sides rather than adding a groupBy+join shuffle of its own. Broadcast
    // is disabled to get the at-scale join shape at test size.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Relational.tbl(spark, Sf, "documents")
      val df = graft.ops.Dedup.ngramJaccard(docs)
      df.collect() // AQE reuses identical shuffle stages at RUNTIME
      val p = df.queryExecution.executedPlan.toString
      val stageIds = "ShuffleQueryStage (\\d+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
      assert(p.contains("ReusedExchange") || stageIds.distinct.size < stageIds.size,
        p.take(4000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("custom SegmentConversations operator: Catalyst plans the exchange + sort; results match") {
    val n = 6L
    val turns = SyntheticTranscripts.turns(spark, n)
    val ruleMap = SyntheticTranscripts.rules(spark, n).collect()
      .groupBy(_.conv_id).map { case (k, v) => k -> v.toSeq.map(Pipeline.toCoreRule) }
    val bc = spark.sparkContext.broadcast(ruleMap)

    // the default route IS the operator
    val df = Pipeline.segmentFused(turns, bc).toDF()
    val p = formatted(df)
    // the physical operator only DECLARES ClusteredDistribution(conv_id) +
    // (conv_id, turn_idx) ordering; the exchange and sort below it must be
    // Catalyst's EnsureRequirements insertions — exactly one of each: the
    // fused route's single shuffle by conv_id
    assert(p.contains("Segment ("), p) // SegmentExec renders as "Segment"
    assert(shuffleCount(df) == 1, p)
    assert(p.contains("Sort ("), p)
    // plans print the node's output, not the rule closure
    val seg = prepared(df).collectFirst { case s: SegmentExec => s }.getOrElse(fail(p))
    assert(!seg.simpleString(1000).contains("Lambda"), seg.simpleString(1000))

    assert(df.collect().map(_.toString).sorted.toSeq == oracleRows(n),
      "custom-operator output must equal the sequential oracle")
  }

  test("custom operator over a bucketed+sorted turns table: ZERO exchanges") {
    // the payoff of declaring requirements instead of calling repartition:
    // a table already bucketed by conv_id and sorted by (conv_id, turn_idx)
    // — the 10^12-turn Iceberg layout — satisfies the operator's
    // distribution and ordering, so Catalyst plans NO shuffle and NO sort
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-turns-bucketed").toString
    val n = 6L
    val turns = SyntheticTranscripts.turns(spark, n)
    val ruleMap = SyntheticTranscripts.rules(spark, n).collect()
      .groupBy(_.conv_id).map { case (k, v) => k -> v.toSeq.map(Pipeline.toCoreRule) }
    val bc = spark.sparkContext.broadcast(ruleMap)
    try {
      turns.write.bucketBy(4, "conv_id").sortBy("conv_id", "turn_idx")
        .option("path", s"$dir/turns_b").saveAsTable("turns_b")
      val bucketed = spark.table("turns_b").as[graft.schema.Turn]
      val df = graft.plans.SegmentPlans.segment(bucketed, cid => bc.value.getOrElse(cid, Nil))
      val p = formatted(df)
      assert(shuffleCount(df) == 0, p)
      // a WITHIN-partition sort remains: since SPARK-28632 a bucketed scan
      // no longer advertises its sortBy ordering (only the legacy flag
      // restores it) — the expensive part, the network shuffle, is gone
      assert(p.contains("Bucketed: true"), p)
      assert(df.collect().map(_.toString).sorted.toSeq == oracleRows(n))
    } finally spark.sql("DROP TABLE IF EXISTS turns_b")
  }

  test("default route over a bucketed turns table: no turns-side exchange on either rule branch") {
    // the routes themselves, not the bare nodes: the broadcast route
    // (segmentFused) plans no exchange at all, segmentAuto's join node
    // shuffles only the rules
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-turns-bucketed-auto").toString
    val n = 6L
    val rules = SyntheticTranscripts.rules(spark, n)
    try {
      SyntheticTranscripts.turns(spark, n).write.bucketBy(4, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .option("path", s"$dir/turns_ba").saveAsTable("turns_ba")
      val bucketed = spark.table("turns_ba").as[graft.schema.Turn]
      val bc = spark.sparkContext.broadcast(rules.collect().toSeq.groupBy(_.conv_id)
        .map { case (k, v) => k -> v.map(Pipeline.toCoreRule) })
      val viaBroadcast = Pipeline.segmentFused(bucketed, bc).toDF()
      assert(exchanges(prepared(viaBroadcast)) == 0, formatted(viaBroadcast))
      assert(viaBroadcast.collect().map(_.toString).sorted.toSeq == oracleRows(n))
      val viaJoin = Pipeline.segmentAuto(bucketed, rules).toDF()
      val join = prepared(viaJoin).collectFirst { case j: SegmentJoinExec => j }
        .getOrElse(fail(formatted(viaJoin)))
      assert(exchanges(join.left) == 0, formatted(viaJoin))
      assert(viaJoin.collect().map(_.toString).sorted.toSeq == oracleRows(n))
    } finally spark.sql("DROP TABLE IF EXISTS turns_ba")
  }

  test("two-child segment join: both sides co-partitioned, no driver rule state") {
    // the scale form of the custom operator: rules are a CHILD PLAN under
    // ClusteredDistribution(conv_id), so EnsureRequirements co-partitions
    // them with the turns — one exchange per side, zero rule bytes on the
    // driver — and the merge fold's output equals the fused path exactly
    val n = 6L
    val turns = SyntheticTranscripts.turns(spark, n)
    val rules = SyntheticTranscripts.rules(spark, n)
    val df = graft.plans.SegmentPlans.segmentJoin(turns, rules)
    val p = formatted(df)
    assert(shuffleCount(df) == 2, p) // one per child, both on conv_id
    assert(p.contains("SegmentJoin"), p)
    val got = df.collect().map(_.toString).sorted.toSeq
    val ruleMap = rules.collect()
      .groupBy(_.conv_id).map { case (k, v) => k -> v.toSeq.map(Pipeline.toCoreRule) }
    val bc = spark.sparkContext.broadcast(ruleMap)
    val want = Pipeline.segmentFused(turns, bc).toDF().collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }

  test("segment join aligns rules for conv ids where UTF-8 and UTF-16 orders differ") {
    // "conv-😀" (supplementary plane: UTF-16 surrogates sort BELOW U+E000,
    // UTF-8 bytes sort ABOVE it) vs "conv-x": a String-comparison
    // merge cursor would misalign on exactly this pair and silently drop
    // one conversation's rules
    import spark.implicits._
    val idA = "conv-😀" // 😀
    val idB = "conv-x"
    assert(idA.compareTo(idB) < 0) // UTF-16 order...
    assert(org.apache.spark.unsafe.types.UTF8String.fromString(idA)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(idB)) > 0) // ...reversed in UTF-8
    val ts = new java.sql.Timestamp(0L)
    val turns = Seq(idA, idB).flatMap { cid =>
      Seq(graft.schema.Turn(cid, 1, "user", "alpha START here", "", ts),
        graft.schema.Turn(cid, 2, "user", "middle content", "", ts),
        graft.schema.Turn(cid, 3, "user", "the END marker", "", ts))
    }.toDS()
    val rules = Seq(idA, idB).map { cid =>
      graft.schema.ConvRule(cid, s"DT-$cid", "t", "START", " ", "END", " ",
        0, 1, " ", " ", "1", 7L, "ff", 9L, "s")
    }.toDS()
    val got = graft.plans.SegmentPlans.segmentJoin(turns, rules)
      .collect().map(r => r.getString(0) -> (r.getInt(2), r.getInt(3))).toMap
    // both conversations found their rule: pages 1..3 claimed
    assert(got === Map(idA -> ((1, 3)), idB -> ((1, 3))), got.toString)
  }

  test("d_chunk is map-only: explode rides the scan, no join, no aggregate") {
    val docs = Relational.tbl(spark, Sf, "documents")
    val plan = graft.ops.DocTextOps.chunk(docs)
    // only the deterministic output-order range exchange; chunking itself
    // never shuffles — at 100 TB it is a pure map pass
    assert(shuffleCount(plan) === 1, formatted(plan))
    val p = formatted(plan)
    assert(!p.contains("Join"), "chunking must not plan a join")
    assert(!p.contains("HashAggregate"), "chunking must not plan an aggregate")
  }

  test("d_redact: scan-parallel scrub — only the output-order exchange") {
    val docs = Relational.tbl(spark, Sf, "documents")
    val plan = graft.ops.DocTextOps.piiRedact(docs)
    // one range exchange for the deterministic output ordering; the
    // redaction itself must stay map-side (no aggregation, no join)
    assert(shuffleCount(plan) === 1, formatted(plan))
    val p = formatted(plan)
    assert(!p.contains("Join"), "PII scrub must not plan a join")
  }

  test("d_tfidf: corpus-size factor broadcasts; top-k window keys on doc_id") {
    val docs = Relational.tbl(spark, Sf, "documents")
    val p = formatted(graft.ops.DocTextOps.tfidfTopTerms(docs))
    // the 1-row N-docs aggregate joins via broadcast, never a shuffled cross
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // the rank window partitions by the high-cardinality doc_id (bounded
    // rows per partition), not by a global or low-cardinality key
    assert(p.contains("Window"), p)
    assert("Window.*doc_id".r.findFirstIn(p).isDefined || p.contains("[doc_id"), p)
  }

  test("d_collocations: top-k is TakeOrdered; totals broadcast; floor precedes the joins") {
    val docs = Relational.tbl(spark, Sf, "documents")
    val plan = graft.ops.DocTextOps.collocations(docs)
    val p = formatted(plan)
    // never a global sort of the pair table — top-k must be TakeOrdered
    assert(p.contains("TakeOrderedAndProject"), p)
    // the two 1-row totals ride broadcasts, not shuffled cross joins
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // the minCount floor prunes the pair table BEFORE the marginal joins:
    // the filter on the bigram count must sit under an aggregate, not
    // above a join output
    assert("c_xy#\\d+L? >= 5".r.findFirstIn(p).isDefined, p)
  }

  test("t_echo: one conv_id-clustered window, overlap stays map-side after it") {
    import spark.implicits._
    val turns = (1 to 50).flatMap(c => Seq(
      (s"c$c", 1, "user", "a b c"), (s"c$c", 2, "assistant", "a b d")))
      .toDF("conv_id", "turn_idx", "role", "text")
    val plan = graft.ops.TranscriptOps.echoDetect(turns)
    val p = formatted(plan)
    // the running-last window partitions by conv_id (conversation-bounded
    // state), and nothing joins or re-aggregates after it
    assert(p.contains("windowspecdefinition(conv_id"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("d_fim is map-only: hash draws and substrings ride the scan") {
    val docs = Relational.tbl(spark, Sf, "documents")
    val plan = graft.ops.DocTextOps.fimTransform(docs)
    // only the deterministic output-order range exchange — the transform
    // itself must stay a pure map pass at any corpus size
    assert(shuffleCount(plan) === 1, formatted(plan))
    val p = formatted(plan)
    assert(!p.contains("Join"), "FIM must not plan a join")
    assert(!p.contains("HashAggregate"), "FIM must not plan an aggregate")
  }

  test("t_pref_pairs: extremum groupBy reuses the prompt_key window's shuffle") {
    import spark.implicits._
    val turns = (1 to 40).flatMap(c => Seq(
      (s"c$c", 1, "user", s"q$c"), (s"c$c", 2, "assistant", "a a b")))
      .toDF("conv_id", "turn_idx", "role", "text")
    val p = formatted(graft.ops.TranscriptOps.prefPairs(turns))
    // ranking shuffles ONCE on prompt_key: the group-extremum aggregate
    // must ride the window's partitioning, not re-exchange (the window's
    // exchange is the only hashpartitioning(prompt_key in the plan)
    assert("hashpartitioning\\(prompt_key".r.findAllIn(p).size === 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t_len_buckets: returned plan reads only the checkpointed rollup") {
    import spark.implicits._
    val turns = (1 to 30).map(c => (s"c$c", 1, "user", "a b c"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val p = formatted(graft.ops.TranscriptOps.lenBuckets(turns))
    // the corpus pass happened ONCE at checkpoint time: both output
    // branches (bucket rows + the folded global row) read the tiny
    // checkpointed table, never the input again
    assert(!p.contains("LocalTableScan"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("d_epochs: one per-source aggregate, corpus total broadcasts") {
    val docs = Relational.tbl(spark, Sf, "documents")
    val plan = graft.ops.DocTextOps.epochAllocation(docs)
    val p = formatted(plan)
    // the corpus is scanned ONCE: the total folds from the per-source
    // rollup via a tiny single-partition window, never a second pass
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size === 1, p)
    // source rollup + the tiny window's single partition + output order
    assert(shuffleCount(plan) <= 3, p)
  }

  test("q13 quantiles: no window over the low-cardinality group key") {
    val df = Relational.q13Quantiles(spark, Sf)
    val p = formatted(df)
    assert(!p.contains("Window"), p) // parallel two-pass rank, not a 5-task sort
  }
}
