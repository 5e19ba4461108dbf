package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact-integer fixed-point log2, shared by the selection operators and
  * their DuckDB oracles. For `v >= 1`:
  *
  *   lp(v) = 64·⌊log2 v⌋ + (64·v DIV 2^⌊log2 v⌋) − 64
  *
  * i.e. log2 in 1/64 units with linear interpolation between powers of two
  * (max error ~0.086 bits analytic + 1/64 truncation, property-tested).
  * ⌊log2 v⌋ comes from the binary
  * digit count — `length(bin(v)) - 1` — which both Spark and DuckDB compute
  * identically on positive BIGINTs, so the score is engine-exact where a
  * float `ln()` could drift in the last ulp and flip a hash. */
object FixedLog {
  /** Spark SQL fragment; `v` must evaluate to a positive BIGINT. */
  def spark(v: String): String =
    s"(64 * (length(bin($v)) - 1) + (($v) * 64) DIV shiftleft(CAST(1 AS BIGINT), length(bin($v)) - 1) - 64)"

  /** DuckDB fragment with identical semantics (`//` and Spark `DIV` both
    * truncate toward zero — verified on negative operands too). */
  def duck(v: String): String =
    s"(64 * (length(bin($v)) - 1) + (($v) * 64) // (1::BIGINT << (length(bin($v)) - 1)) - 64)"

  /** JVM twin for specs. */
  def lp(v: Long): Long = {
    require(v >= 1, s"FixedLog.lp: v must be positive, got $v")
    val f = 63 - java.lang.Long.numberOfLeadingZeros(v)
    64L * f + (v * 64L) / (1L << f) - 64L
  }
}

/** Corpus SELECTION operators — the "which documents feed the training mix,
  * and with what weight" layer that sits between hygiene (dedup /
  * decontamination, [[Dedup]] / [[DocTextOps]]) and assembly (chunk / pack /
  * mix). All scores are fixed-point integers ([[FixedLog]]) so every verdict
  * replays bit-for-bit in the DuckDB oracle. */
object Selection {

  /** Reference/target language slice standing in for the trusted corpus
    * (CCNet's Wikipedia, DSIR's target set) — shared with the oracles. */
  val DefaultRefLang = "en"

  /** OOV-injection twin for the registered `d_ngram_lm` gate: the
    * synthetic languages share one vocabulary, so [[stupidBackoff]]'s
    * α²·1/N unknown-word branch would never fire on the raw corpus and a
    * scorer that never reaches level 3 would pass. Documents with
    * `doc_id % OovTwinMod = 0` OUTSIDE the reference slice (the model's
    * training text stays untouched) get [[OovSentinel]] appended — a
    * token no generator vocabulary contains — so `n_oov` realizes both
    * values at sf0.01. Shared with the DuckDB oracle. */
  val OovTwinMod = 17L
  val OovSentinel = "~oov~"
  def oovTwinSql: String =
    s"CASE WHEN doc_id % $OovTwinMod = 0 AND lang != '$DefaultRefLang'" +
      s" AND text IS NOT NULL THEN text || ' $OovSentinel' ELSE text END"

  /** Guard for lang codes interpolated into SQL filter strings: a quote
    * would break parsing (or, crafted, widen the reference slice) — the
    * same rule SnapshotStore applies to interpolated app ids. */
  private def langLit(l: String): String = {
    require(l != null && !l.contains("'"),
      s"language code '$l' must not contain quotes")
    l
  }

  private def bigrams(documents: DataFrame) =
    documents.where("size(split(text, ' ')) >= 2")
      .selectExpr("doc_id", "lang", s"${Shingles.ws} AS ws")
      .selectExpr("doc_id", "lang",
        s"explode(${Shingles.grams(2, distinct = false)}) AS g")

  /** Reference-model FLUENCY scoring, after CCNet (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): score each document by how familiar its word bigrams are to a
    * language model trained on a trusted reference corpus (CCNet uses a
    * Wikipedia KenLM; here the model is the corpus's own `lang = refLang`
    * slice — no external data in this sandbox — and the LM is add-one
    * bigram counts on a fixed-point log2 scale instead of Kneser–Ney
    * floats, so the score is engine-exact).
    *
    * Higher `avg_log2_x64` = more high-frequency reference bigrams = more
    * fluent under the reference model; unseen bigrams contribute lp(1)=0.
    * Shape at 100 TB: the reference model is eval-suite/wiki-scale, not
    * corpus-scale — broadcast-joined against the exploded corpus bigrams
    * (real pipelines also prune the vocab to top-M first), then one
    * per-document aggregation that rides the scan partitioning. */
  def lmScore(documents: DataFrame, refLang: String = DefaultRefLang): DataFrame = {
    val big = bigrams(documents)
    val ref = big.where(s"lang = '${langLit(refLang)}'")
      .groupBy("g").agg(count(lit(1)).as("c"))
    big.join(broadcast(ref), Seq("g"), "left")
      .selectExpr("doc_id", s"${FixedLog.spark("coalesce(c, CAST(0 AS BIGINT)) + 1")} AS lp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("lm_log2_x64"))
      .selectExpr("doc_id", "n_bigrams", "lm_log2_x64",
        "lm_log2_x64 DIV n_bigrams AS avg_log2_x64")
      .orderBy("doc_id")
  }

  /** Hashed-feature bucket count for [[dsirWeights]] — shared with the
    * DuckDB oracle so the two cannot drift. Real DSIR uses 10k buckets;
    * 256 keeps every bucket populated on the small synthetic corpora. */
  val DefaultDsirBuckets = 256

  /** DSIR importance scores (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): featurize each document as hashed
    * bigram buckets, fit unigram bucket models for the TARGET distribution
    * (the `lang = targetLang` slice) and the RAW distribution (the whole
    * corpus), and score log p_target(doc) − p_raw(doc) under them. Both
    * models are add-one bucket counts on the fixed-point log2 scale.
    *
    * Since the target slice is a subset of raw, every per-bigram ratio is
    * ≤ 0; we report the NEGATED log-ratio (`neg_log2_x64 ≥ 0`, smaller =
    * more target-like; the resampling weight is 2^(−neg/64)) so ranking
    * reads ascending. Shape at 100 TB: the bucket table is `buckets` rows
    * — a broadcast — built in one pass (conditional + total count in the
    * same aggregation), and scoring is a map-side join + one per-document
    * aggregation; nothing scales beyond the corpus scan. */
  def dsirWeights(documents: DataFrame, targetLang: String = DefaultRefLang,
                  buckets: Int = DefaultDsirBuckets): DataFrame = {
    require(buckets >= 1, s"dsirWeights: buckets must be >= 1, got $buckets")
    val bx = bigrams(documents)
      .selectExpr("doc_id", "lang", s"${Shingles.h32("g")} % $buckets AS b")
    val tbl = bx.groupBy("b").agg(
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("t"),
      count(lit(1)).as("r"))
    bx.join(broadcast(tbl), Seq("b"))
      .selectExpr("doc_id",
        s"${FixedLog.spark("r + 1")} - ${FixedLog.spark("t + 1")} AS w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("w").as("neg_log2_x64"))
      .selectExpr("doc_id", "n_bigrams", "neg_log2_x64",
        "neg_log2_x64 DIV n_bigrams AS avg_neg_log2_x64")
      .orderBy("doc_id")
  }

  /** Per-source keep budget for [[sourceCap]] — shared with the oracle. */
  val DefaultSourceCap = 10

  /** Per-SOURCE document cap — the per-domain budget every crawl pipeline
    * applies so one boilerplate-heavy domain cannot dominate the mix
    * (RefinedWeb/C4 keep fixed per-domain budgets): keep the top `cap`
    * documents of each source by (lexical diversity DESC, doc_id ASC) —
    * the [[DocTextOps.qualityScore]] diversity signal, integer-exact.
    *
    * Deliberately NOT a row_number window: a window partitioned by source
    * pins every document of a hot domain into ONE task — the exact skew
    * this operator exists to police. Instead the classic two-phase exact
    * top-k: stage 1 keeps a bounded `cap`-slot heap per source per
    * PARTITION (map-only, memory ≤ sources·cap slots per task), so at most
    * cap·partitions rows per source reach the stage-2 shuffle regardless
    * of how hot the domain is. */
  def sourceCap(documents: DataFrame, cap: Int = DefaultSourceCap): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // null text/source rows cannot rank (and would NPE the typed encoder);
    // mirrored by the oracle's WHERE
    val scored = documents.where("text IS NOT NULL AND source IS NOT NULL")
      .selectExpr("doc_id", "source",
        "(CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000000)" +
          " DIV size(split(text, ' ')) AS diversity_ppm")
      .as[(Long, String, Long)]
    // strictly better under (diversity DESC, doc_id ASC); total given distinct ids
    def better(a: (Long, Long), b: (Long, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    // dequeue() must pop the WORST entry: under lt = better, max = worst
    val worstOnTop = Ordering.fromLessThan[(Long, Long)](better)
    val partial = scored.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.PriorityQueue[(Long, Long)]]
      it.foreach { case (id, src, div) =>
        val pq = heaps.getOrElseUpdate(src,
          scala.collection.mutable.PriorityQueue.empty(worstOnTop))
        pq.enqueue((div, id))
        if (pq.size > cap) pq.dequeue()
      }
      heaps.iterator.flatMap { case (src, pq) =>
        pq.iterator.map { case (div, id) => (id, src, div) }
      }
    }
    partial.groupByKey(_._2).flatMapGroups { (src, it) =>
      val top = it.toArray.sortBy { case (id, _, div) => (-div, id) }.take(cap)
      top.iterator.zipWithIndex.map { case ((id, _, div), i) =>
        (id, src, div, (i + 1).toLong)
      }
    }
      .toDF("doc_id", "source", "diversity_ppm", "rk")
      .orderBy("source", "rk")
  }

  /** CCNet head/middle/tail PERPLEXITY BUCKETING (Wenzek et al. 2020 §4.4
    * — after LM scoring, CCNet splits each language into equal thirds by
    * perplexity and typically trains on head+middle): per-language
    * terciles of [[lmScore]]'s `avg_log2_x64` (higher = more fluent under
    * the reference model = `head`). Ties share a bucket — the split is by
    * score VALUE, not row rank, so the assignment is a pure function of
    * the (lang, score) multiset: deterministic, reshuffle-stable, and
    * never splits equal-quality documents across buckets the way a
    * row-numbered ntile would.
    *
    * Shape at 100 TB: deliberately NOT `ntile() OVER (PARTITION BY lang)`
    * — that window pins every document of a language into one sorting
    * task. Instead the [[DocTextOps.histQuantiles]] pattern: aggregate to
    * per-(lang, score) BIN counts (cardinality ≤ langs × the score value
    * range — the fixed-point grid is what bounds it), run the cumulative
    * window over the tiny bin table, and broadcast the bin→bucket map
    * back onto the per-document rows. The per-document side stays
    * map-only after the lmScore aggregation. */
  /** Value-tercile bucket labels over `scored(partCol, avg_log2_x64)` — the
    * bin-aggregate + cumulative-window + broadcast-map-back core shared by
    * [[pplBuckets]] and [[ccnetPipeline]] (one builder, so the two replays
    * cannot drift). Returns one `(partCol, avg_log2_x64, ppl_bucket)` row
    * per distinct bin; join it back broadcast. */
  private def tercileLabels(scored: DataFrame, partCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bins = scored.groupBy(partCol, "avg_log2_x64")
      .agg(count(lit(1)).as("n_docs"))
    val desc = Window.partitionBy(partCol).orderBy(col("avg_log2_x64").desc)
    bins
      .withColumn("c_above", coalesce(
        sum("n_docs").over(desc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum("n_docs").over(Window.partitionBy(partCol)))
      .selectExpr(partCol, "avg_log2_x64",
        "CASE WHEN 3 * c_above < n THEN 'head' " +
          "WHEN 3 * c_above < 2 * n THEN 'middle' ELSE 'tail' END AS ppl_bucket")
  }

  /** Per-document LM score + per-language tercile label — the shared
    * core of [[pplBuckets]] and [[annealPlan]] (one dataflow, the two
    * cannot drift). One `(doc_id, lang, avg_log2_x64, ppl_bucket)` row
    * per scorable document, unordered. */
  private def bucketedScores(documents: DataFrame, refLang: String): DataFrame = {
    val scored = lmScore(documents, refLang)
      .join(documents.select("doc_id", "lang"), Seq("doc_id"))
    scored.join(broadcast(tercileLabels(scored, "lang")), Seq("lang", "avg_log2_x64"))
      .select("doc_id", "lang", "avg_log2_x64", "ppl_bucket")
  }

  def pplBuckets(documents: DataFrame, refLang: String = DefaultRefLang): DataFrame =
    bucketedScores(documents, refLang).orderBy("doc_id")

  /** Anneal-phase share of the training budget, per-mille (100 = the last
    * 10% of training steps run on the high-quality pool — the
    * Llama-3-style decay-phase recipe's order of magnitude). */
  val DefaultAnnealFracPermille = 100L

  /** TWO-PHASE ANNEALING SCHEDULE — the "decay phase on high-quality
    * data" plan modern pretraining runs execute (Llama 3's annealing,
    * MiniCPM's two-phase schedule): the MAIN phase spreads most of the
    * token budget uniformly over the whole scorable corpus, the ANNEAL
    * phase spends the final `annealFracPermille` of the budget ONLY on
    * the head perplexity tercile ([[pplBuckets]]'s buckets — same
    * builder, the two cannot drift). The output is the per-(lang, bucket)
    * PLAN table a run scheduler consumes: group sizes, main/anneal token
    * allocations, and the resulting per-group epoch counts — head groups
    * train visibly hotter (they absorb the anneal budget on top of their
    * uniform share), which IS the recipe's point and keeps every column
    * non-constant at sf0.01.
    *
    * Arithmetic: budget = `budgetPermille` of the scorable corpus's own
    * tokens ([[DocTextOps.epochAllocation]]'s scale-invariance trick);
    * every product is divmod-factored, exact for corpora up to ~9.2e12
    * tokens per the [[DocTextOps.mixCorpus]] bound (larger corpora need
    * the decimal variant). Unscorable documents (<2 tokens — no bigrams,
    * no perplexity) are outside the plan, the [[ccnetPipeline]] default.
    *
    * Shape at 100 TB: lmScore's aggregation + the tercile bin table, then
    * a ≤ langs×3-row rollup and TWO 1-row broadcast totals — the corpus
    * is never reshuffled beyond lmScore's own shape. */
  def annealPlan(documents: DataFrame, refLang: String = DefaultRefLang,
                 budgetPermille: Long = DocTextOps.DefaultEpochBudgetPermille,
                 annealFracPermille: Long = DefaultAnnealFracPermille): DataFrame = {
    require(annealFracPermille >= 0 && annealFracPermille <= 1000,
      s"annealPlan: annealFracPermille must be in [0, 1000], got $annealFracPermille")
    require(budgetPermille >= 0,
      s"annealPlan: budgetPermille must be >= 0, got $budgetPermille")
    val grouped = bucketedScores(documents, refLang)
      .join(documents.selectExpr("doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens"), Seq("doc_id"))
      .groupBy("lang", "ppl_bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("group_tokens"))
    // totals via a single-partition window over the ≤ langs×3-row rollup
    // (the histQuantiles pattern) — a crossJoin(broadcast(agg)) would
    // re-run the whole scoring pipeline for the 1-row total
    val w0 = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    grouped
      .withColumn("corpus_toks", sum("group_tokens").over(w0))
      .withColumn("head_toks",
        sum(when(col("ppl_bucket") === "head", col("group_tokens"))
          .otherwise(0L)).over(w0))
      .withColumn("budget_tokens", expr(
        s"corpus_toks DIV 1000 * $budgetPermille + corpus_toks % 1000 * $budgetPermille DIV 1000"))
      .withColumn("anneal_budget", expr(
        s"budget_tokens DIV 1000 * $annealFracPermille + budget_tokens % 1000 * $annealFracPermille DIV 1000"))
      // per-pool token rates in millionths of an epoch (divmod: the
      // remainder product is <= corpus_toks * 1e6, the documented bound)
      .withColumn("me6", expr(
        """(budget_tokens - anneal_budget) DIV greatest(corpus_toks, 1) * 1000000
          | + (budget_tokens - anneal_budget) % greatest(corpus_toks, 1) * 1000000
          |     DIV greatest(corpus_toks, 1)""".stripMargin))
      .withColumn("ae6", expr(
        """anneal_budget DIV greatest(head_toks, 1) * 1000000
          | + anneal_budget % greatest(head_toks, 1) * 1000000
          |     DIV greatest(head_toks, 1)""".stripMargin))
      .withColumn("main_alloc_tokens", expr(
        "group_tokens DIV 1000000 * me6 + group_tokens % 1000000 * me6 DIV 1000000"))
      .withColumn("anneal_alloc_tokens", expr(
        """CASE WHEN ppl_bucket = 'head'
          |  THEN group_tokens DIV 1000000 * ae6 + group_tokens % 1000000 * ae6 DIV 1000000
          |  ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .selectExpr("lang", "ppl_bucket", "n_docs", "group_tokens",
        "main_alloc_tokens", "anneal_alloc_tokens",
        "main_alloc_tokens + anneal_alloc_tokens AS total_alloc_tokens",
        """(main_alloc_tokens + anneal_alloc_tokens) DIV greatest(group_tokens, 1) * 1000
          | + (main_alloc_tokens + anneal_alloc_tokens) % greatest(group_tokens, 1) * 1000
          |     DIV greatest(group_tokens, 1) AS epochs_pm""".stripMargin)
      .orderBy("lang", "ppl_bucket")
  }

  /** The composed CCNet recipe (Wenzek et al. 2020) as ONE oracled
    * dataflow — dedup, language-ID, reference-LM scoring, per-language
    * perplexity terciles, keep head+middle — with one lineage row per
    * input document so every drop names its stage:
    *
    *  1. near-dup KEEP-BEST ([[Dedup.dedupKeepBest]] — CCNet's paragraph
    *     hash dedup, in the non-vacuous near-dup form this corpus
    *     exercises: exact hashes are all-distinct at sf0.01);
    *  2. language-ID on the survivors ([[DocTextOps.langIdTrigram]] —
    *     CCNet's fastText stage; the trigram model, not the stopword
    *     profile, because the stopword heuristic predicts one language
    *     for this whole corpus while the trigram distances genuinely
    *     split it; downstream grouping uses the PREDICTED language, as
    *     CCNet does, not the declared label);
    *  3. [[lmScore]] against the trusted `refLang` slice (CCNet's
    *     Wikipedia-KenLM stand-in, as in `d_lm_score`);
    *  4. per-PREDICTED-language value terciles ([[tercileLabels]] — the
    *     same builder as [[pplBuckets]]);
    *  5. `selected` iff the document survived dedup, was scorable (≥2
    *     tokens), and sits in head or middle — CCNet §4.4's training cut.
    *
    * Unscorable survivors (fewer than 2 tokens: no bigrams, no
    * perplexity) carry NULL score/bucket and are not selected — dropping
    * what the model cannot score is the honest default. Shape at 100 TB:
    * the stages reuse their operators' own shapes (banded pair-finding,
    * broadcast LM, bin-table terciles); the lineage assembly is two left
    * joins keyed doc_id riding the scan partitioning. */
  def ccnetPipeline(documents: DataFrame, refLang: String = DefaultRefLang): DataFrame = {
    // kb's lazy tail (quality scan + per-cluster window over the
    // checkpointed CC labels) feeds the survivor filter, the LID/LM
    // stages through it, AND the final lineage join — 4+ plan
    // instantiations; sl feeds both the tercile bins and the bucket join.
    // Both are NARROW (id + flag / id + score + lang), so caching them is
    // cheap where convDedup's wide shingle arrays were not: measured
    // 10.6 s → 5.6 s warm at sf0.1. Reclaimed by the ContextCleaner with
    // the plan.
    val kb = Dedup.dedupKeepBest(documents)
      .selectExpr("doc_id", "keep AS dedup_keep")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val surv = documents.join(kb.where("dedup_keep").select("doc_id"), Seq("doc_id"))
      .where("text IS NOT NULL")
    val lid = DocTextOps.langIdTrigram(surv).select("doc_id", "lang_pred")
    val sl = lmScore(surv, refLang).select("doc_id", "avg_log2_x64")
      .join(lid, Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bucketed = sl
      .join(broadcast(tercileLabels(sl, "lang_pred")), Seq("lang_pred", "avg_log2_x64"))
    documents.select("doc_id")
      .join(kb, Seq("doc_id"), "left")
      .join(bucketed, Seq("doc_id"), "left")
      .selectExpr("doc_id", "coalesce(dedup_keep, false) AS dedup_keep",
        "lang_pred", "avg_log2_x64", "ppl_bucket",
        "coalesce(ppl_bucket IN ('head', 'middle'), false) AS selected")
      .orderBy("doc_id")
  }

  /** Global token budget for [[tokenBudget]] — shared with the oracle.
    * Sized to bite at every test scale (sf0.01 holds ~27k corpus tokens —
    * ~55% keep; sf0.1 holds ~271k — ~5.5% keep), so both verdicts are
    * driver-gate-visible at both scales. */
  val DefaultTokenBudget = 15000L

  /** BUDGETED SELECTION — "take the best documents until the token budget
    * is spent", the greedy score-ordered prefix every fixed-compute
    * pretraining run uses to cut a corpus down to its token target
    * (data-constrained scaling: spend the budget on the highest-quality
    * tokens first). Order is (quality DESC, doc_id ASC) with lexical
    * diversity as the quality signal ([[DocTextOps.qualityScore]]'s
    * integer micro-ratio); a document is kept iff its INCLUSIVE running
    * token total under that order fits the budget — with positive token
    * counts that set is exactly the greedy prefix.
    *
    * Shape at 100 TB: the naive form is one global sort + one global
    * running sum — a single-task window over the corpus. Here the
    * [[DocTextOps.histQuantiles]] pattern again: per-SCORE bins carry
    * token sums, the budget line is found on the bin table's cumulative
    * window (bins fully under the line keep everything, bins past it drop
    * everything), and only documents in the ONE boundary bin that
    * straddles the budget need a per-document running sum — a window
    * partitioned by that single score value, bounded by the bin size, not
    * the corpus. The broadcast bin map decides every other row map-side. */
  def tokenBudget(documents: DataFrame, budget: Long = DefaultTokenBudget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0, s"tokenBudget: budget must be >= 0, got $budget")
    val s = documents.where("text IS NOT NULL")
      .selectExpr("doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens",
        "(CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000000)" +
          " DIV size(split(text, ' ')) AS score")
    val bins = s.groupBy("score").agg(sum("n_tokens").as("bin_tokens"))
    // single-partition window over the BIN aggregate (histQuantiles
    // pattern): cardinality is the score value range, not the corpus
    val desc = Window.orderBy(col("score").desc)
    val cum = bins
      .withColumn("cum_before", coalesce(
        sum("bin_tokens").over(desc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .selectExpr("score", "cum_before", "cum_before + bin_tokens AS cum_incl")
    val verdict = s.join(broadcast(cum), Seq("score"))
    val full = verdict.where(s"cum_incl <= $budget OR cum_before >= $budget")
      .selectExpr("doc_id", "n_tokens", "score", s"cum_incl <= $budget AS keep")
    // the one straddling bin: per-doc running sum, bounded by the bin size
    val intra = Window.partitionBy("score").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val boundary = verdict.where(s"cum_before < $budget AND cum_incl > $budget")
      .withColumn("cum", col("cum_before") + sum("n_tokens").over(intra))
      .selectExpr("doc_id", "n_tokens", "score", s"cum <= $budget AS keep")
    full.unionByName(boundary).orderBy("doc_id")
  }

  /** log2(0.4)·64 rounded to the nearest integer — the STUPID BACKOFF
    * penalty α = 0.4 on the fixed-point log2 grid, shared with the DuckDB
    * oracle (Brants et al. use α = 0.4 throughout). */
  val BackoffAlphaLog2X64 = -85L

  /** STUPID BACKOFF n-gram LM scoring (Brants, Popat, Xu, Och, Dean 2007,
    * "Large Language Models in Machine Translation" — THE distributed
    * web-scale n-gram LM: Google's MapReduce formulation that drops
    * Kneser–Ney's normalized discounts for a fixed backoff penalty
    * precisely so the model is a pile of raw counts a cluster can build
    * with plain aggregations). Train bigram + unigram counts on the
    * `lang = refLang` slice (the trusted corpus, as [[lmScore]]); score
    * every document's bigram positions:
    *
    *   S(w₂|w₁) = c(w₁w₂)/c(w₁)          if the bigram is in the model
    *            = α · c(w₂)/N            else if w₂ is in the vocab
    *            = α² · 1/N               else (OOV — α applied twice,
    *                                      count floored to 1)
    *
    * all on the [[FixedLog]] log2×64 grid (α = [[BackoffAlphaLog2X64]]),
    * so every score replays bit-for-bit in the DuckDB oracle. Unlike
    * [[lmScore]] (add-one counts, no model structure) this exercises the
    * real LM shape: per-document backoff and OOV counts are in the output,
    * and reference-language documents score near their MLE while
    * out-of-language ones cascade down the backoff levels.
    *
    * Shape at 100 TB: the model IS two count aggregations (the paper's
    * point); scoring is two equi-joins on (w₁,w₂)/(w₂) that AQE broadcasts
    * while the model fits and shuffles when it doesn't — never an
    * all-pairs, and the N total rides a 1-row broadcast. */
  def stupidBackoff(documents: DataFrame, refLang: String = DefaultRefLang): DataFrame = {
    val toks = documents.where(s"lang = '${langLit(refLang)}' AND text IS NOT NULL")
      .selectExpr(s"explode(${Shingles.ws}) AS w")
    val uni = toks.groupBy("w").agg(count(lit(1)).as("c1"))
    // an EMPTY reference slice must fail loudly, not score every position
    // as OOV against lp(0)'s out-of-contract value — the check rides the
    // 1-row aggregate (no extra job)
    val nTot = toks.agg(count(lit(1)).as("n0"))
      .selectExpr("IF(n0 >= 1, n0, raise_error(" +
        s"'stupidBackoff: reference-language slice ($refLang) is empty')) AS n_total")
    val probe = documents.where("size(split(text, ' ')) >= 2")
      .selectExpr("doc_id", s"${Shingles.ws} AS ws")
      .selectExpr("doc_id",
        "explode(transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))) AS p")
      .selectExpr("doc_id", "p.w1 AS w1", "p.w2 AS w2")
    val bi = probe.join(documents.where(s"lang = '${langLit(refLang)}'").select("doc_id"), "doc_id")
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val lp = FixedLog.spark _
    probe
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c1", "c1w1"), Seq("w1"), "left")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c1", "c1w2"), Seq("w2"), "left")
      .crossJoin(broadcast(nTot))
      .selectExpr("doc_id",
        "c2 IS NULL AND c1w2 IS NOT NULL AS backoff",
        "c1w2 IS NULL AS oov",
        s"""CASE WHEN c2 IS NOT NULL THEN ${lp("c2")} - ${lp("c1w1")}
           |     WHEN c1w2 IS NOT NULL THEN $BackoffAlphaLog2X64 + ${lp("c1w2")} - ${lp("n_total")}
           |     ELSE ${2 * BackoffAlphaLog2X64} - ${lp("n_total")}
           |END AS s""".stripMargin)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("backoff"), 1L).otherwise(0L)).as("n_backoff"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
        sum("s").as("sb_log2_x64"))
      .selectExpr("doc_id", "n_bigrams", "n_backoff", "n_oov", "sb_log2_x64",
        "sb_log2_x64 DIV n_bigrams AS avg_log2_x64")
      .orderBy("doc_id")
  }

  /** Perceptron layout, shared with the DuckDB oracle: hashed-token weight
    * buckets, bounded training-set size, and training passes. 256 buckets
    * keeps the replayed weight vector manageable (real quality classifiers
    * hash into 10^5+); 256 training docs is the bounded-labeled-set shape
    * (see [[perceptronTrain]]). */
  val ClfBuckets = 256
  val ClfTrainN = 256
  val ClfPasses = 3

  /** QUALITY-CLASSIFIER TRAINING — the selection stage real pipelines run
    * as a learned model (GPT-3's LR-vs-WebText filter, CCNet's fastText
    * step): an AVERAGED ONLINE PERCEPTRON (Freund & Schapire 1999 voted
    * perceptron, Collins 2002 averaging) over hashed bag-of-words counts —
    * the classifier whose arithmetic is integer-exact end-to-end, so
    * unlike any float LR every margin, every sequential update and the
    * averaged model replay bit-for-bit in the DuckDB oracle (a recursive
    * CTE walks the same steps). Target y = ±1 ("is this the reference
    * language?" — the deterministic stand-in for the human quality label;
    * no external data in this sandbox).
    *
    * Training is deliberately NOT distributed — and that is the honest
    * 100 TB shape: production quality classifiers train on a BOUNDED
    * labeled set (GPT-3's filter: a few hundred thousand docs) and
    * batch-apply to the 10^12-doc corpus. The training set here is the
    * `trainN` hash-smallest documents by (h32(doc_id), doc_id) — a
    * TakeOrderedAndProject whose driver collect is trainN·(buckets+3)
    * longs, INDEPENDENT of corpus size — visited in that same
    * deterministic order for `passes` sweeps. The plain batch-update
    * variant was tried and rejected: on this corpus its rounds misclassify
    * the two classes ALTERNATELY, and complementary mis-sets make
    * w₃ = w₁ + Σ₊x − Σ₋x = 2·w₁ — a period-2 oscillation whose final
    * model predicts one class for everything; the online perceptron's
    * final w is in turn order-sensitive
    * on non-separable data; the AVERAGED model (prediction by Σ_t w_t,
    * sign-invariant to the 1/T scaling, so the sums stay in Long) is the
    * standard stable variant. Output: one row per pass with the update
    * count (the convergence signal), end-of-pass bias and weight L1 — the
    * model's cross-engine checksum.
    *
    * Margins stay exact while passes·trainN·max|x|² < 2^63 — ~10^13 at
    * 10^4-token docs; beyond it, scale counts down before training.
    *
    * Honesty note on the shipped corpus: the synthetic `documents` table
    * draws every language from the SAME token pool (verified: 31 distinct
    * tokens, all shared), so the lang label is not linearly separable from
    * bag-of-words by construction and accuracy sits near the majority rate
    * (~59% at sf0.001) with a non-degenerate mixed-prediction model — the
    * separable regime (updates → 0, perfect margins) is pinned by the
    * hand-computed spec instead. */
  def perceptronTrain(documents: DataFrame, buckets: Int = ClfBuckets,
                      trainN: Int = ClfTrainN, passes: Int = ClfPasses,
                      refLang: String = DefaultRefLang): DataFrame =
    perceptronImpl(documents, buckets, trainN, passes, refLang)._1

  /** The APPLY step of [[perceptronTrain]]: score every document under the
    * averaged model (Σ_t w_t, Σ_t b_t) — margin, predicted label, and
    * whether it matches the training target. The scoring pass is map-only
    * against the broadcast weight vector (the 100 TB shape: classify rides
    * the corpus scan; training cost amortizes over every later crawl). */
  def perceptronScore(documents: DataFrame, buckets: Int = ClfBuckets,
                      trainN: Int = ClfTrainN, passes: Int = ClfPasses,
                      refLang: String = DefaultRefLang): DataFrame =
    perceptronImpl(documents, buckets, trainN, passes, refLang)._2

  private def perceptronImpl(documents: DataFrame, buckets: Int, trainN: Int,
                             passes: Int, refLang: String): (DataFrame, DataFrame) = {
    require(buckets >= 1 && trainN >= 1 && passes >= 1,
      s"perceptron: buckets/trainN/passes must be >= 1, got $buckets/$trainN/$passes")
    val spark = documents.sparkSession
    import spark.implicits._
    // map-only featurization: dense per-doc bucket counts via the md5
    // first-4-bytes hash (== Shingles.h32, the JVM twin winnowing uses),
    // plus the doc's own sample-order hash
    def featurize = documents.where("text IS NOT NULL")
      .select(col("doc_id").cast("long"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def h32(s: String): Long = Shingles.sliceU32(
          md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)), 0)
        it.map { case (id, lang, text) =>
          val x = new Array[Long](buckets)
          text.split(" ", -1).foreach(t => x((h32(t) % buckets).toInt) += 1L)
          (id, h32(id.toString), if (lang == refLang) 1L else -1L, x)
        }
      }
    // bounded deterministic training set: the trainN hash-smallest docs
    // (TakeOrderedAndProject — the collect is trainN rows regardless of
    // corpus size), visited in (h, doc_id) order
    val sample = featurize.toDF("doc_id", "h", "y", "x")
      .orderBy("h", "doc_id").limit(trainN)
      .as[(Long, Long, Long, Array[Long])].collect()
    require(sample.nonEmpty, "perceptronTrain: corpus has no non-null-text documents")
    val k = sample.length.toLong
    val w = new Array[Long](buckets)
    val wsum = new Array[Long](buckets)
    var b = 0L
    var bsum = 0L
    val hist = Vector.newBuilder[(Long, Long, Long, Long, Long)]
    for (p <- 1 to passes) {
      var upd = 0L
      sample.foreach { case (_, _, y, x) =>
        var dot = b
        var i = 0
        while (i < buckets) { dot += w(i) * x(i); i += 1 }
        if (y * dot <= 0L) {
          i = 0
          while (i < buckets) { w(i) += y * x(i); i += 1 }
          b += y
          upd += 1L
        }
        // averaging accumulates the CURRENT model after every example,
        // updated or not (Collins 2002)
        i = 0
        while (i < buckets) { wsum(i) += w(i); i += 1 }
        bsum += b
      }
      hist += ((p.toLong, k, upd, b, w.map(math.abs).sum))
    }
    val train = hist.result()
      .toDF("pass", "n_train", "n_updates", "bias", "w_l1")
      .orderBy("pass")
    // scoring is map-only against the AVERAGED model broadcast — sign
    // under Σ_t w_t == sign under the 1/T-scaled average, all in Long
    val bc = spark.sparkContext.broadcast((wsum, bsum))
    val score = featurize
      .map { case (id, _, y, x) =>
        val (wv, bs) = bc.value
        var dot = bs
        var i = 0
        while (i < wv.length) { dot += wv(i) * x(i); i += 1 }
        (id, dot, dot > 0L, y > 0L, (dot > 0L) == (y > 0L))
      }
      .toDF("doc_id", "margin", "pred_ref", "is_ref", "correct")
      .orderBy("doc_id")
    (train, score)
  }
}
