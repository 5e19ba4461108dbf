package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.ops.{Dedup, DocTextOps, EventOps, Evolution, FixedLog, GraphOps, Incremental, Layout, Multimodal, Selection, Similarity}
import graft.queries.Relational
import graft.pipeline.Pipeline

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query families:
  *  - `q*`  relational operator checklist over the TPC-H-ish tables
  *  - `ev*` event analytics (windows / sessionization / JSON props)
  *  - `d*`  documents: dedup + text analysis (training-data ops)
  *  - `e*`  embeddings: similarity search
  *  - `m*`  multimodal binary-column plumbing (stubbed decode)
  *  - `t*`  the transcript extraction/segmentation pipeline itself
  *    (not SQL-expressible — DuckDB cannot run the HTML/PDF extractors or
  *    the stateful demarcation fold; their oracle is the sequential core
  *    implementation, enforced in `sbt -batch test` → rows-only here)
  */
object SparkEntry {

  /** Flagship: full extract+segment pipeline on a small synthetic corpus;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.run(spark, nConvs = 8).toDF()

  private def docs(s: SparkSession, dir: String) = Relational.tbl(s, dir, "documents")
  private def embs(s: SparkSession, dir: String) = Relational.tbl(s, dir, "embeddings")

  /** `(doc_id, lang, text)` view of the synthetic transcript corpus for the
    * separable-classifier twin (`d_clf_sep_*`): one row per turn, doc_id
    * densely derived from the padded conv index and turn_idx (turn_idx is
    * bounded far below the 100000 stride), label = the turn's tool — html
    * payloads carry markup tokens, so the label IS linearly separable from
    * hashed BoW. Mirrored by the oracle's `clfSepSrc` over the _raw_turns
    * fixture dump. */
  private def clfSepDocs(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val n = graft.gen.SyntheticTranscripts.convsForSfDir(dir)
    graft.gen.SyntheticTranscripts.turns(s, n).toDF()
      .selectExpr(
        "CAST(substring(conv_id, 6) AS BIGINT) * 100000 + turn_idx AS doc_id",
        "tool AS lang", "text")
  }
  private def events(s: SparkSession, dir: String) = Relational.tbl(s, dir, "events")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // relational checklist
    "q1_agg" -> ((s, d) => Relational.q1Agg(s, d)),
    "q2_join_agg" -> ((s, d) => Relational.q2JoinAgg(s, d)),
    "q3_topk" -> ((s, d) => Relational.q3TopK(s, d)),
    "q4_window" -> ((s, d) => Relational.q4Window(s, d)),
    "q5_setops" -> ((s, d) => Relational.q5SetOps(s, d)),
    "q6_semi_anti" -> ((s, d) => Relational.q6SemiAnti(s, d)),
    "q7_rollup" -> ((s, d) => Relational.q7Rollup(s, d)),
    "q8_pushdown" -> ((s, d) => Relational.q8Pushdown(s, d)),
    "q9_multijoin" -> ((s, d) => Relational.q9MultiJoin(s, d)),
    "q10_above_avg" -> ((s, d) => Relational.q10AboveAvg(s, d)),
    "q11_envelope_decode" -> ((s, d) => graft.ops.EnvelopeOps.decodeRoundTrip(docs(s, d))),
    "q12_cube" -> ((s, d) => Relational.q12Cube(s, d)),
    "q13_quantiles" -> ((s, d) => Relational.q13Quantiles(s, d)),
    "q14_validate" -> ((s, d) =>
      graft.ops.EnvelopeOps.validateEnvelope(graft.ops.EnvelopeOps.synthesizeEnvelopes(docs(s, d)))),
    "q15_pivot" -> ((s, d) => Relational.q15Pivot(s, d)),
    // event analytics
    "ev_tumbling" -> ((s, d) => EventOps.tumblingCounts(events(s, d))),
    "ev_sessionize" -> ((s, d) => EventOps.sessionize(events(s, d))),
    "ev_session_stats" -> ((s, d) => EventOps.sessionStats(events(s, d))),
    "ev_prop_extract" -> ((s, d) => EventOps.propExtract(events(s, d))),
    "ev_asof" -> ((s, d) => EventOps.asofViewBeforePurchase(events(s, d))),
    "ev_funnel" -> ((s, d) => EventOps.funnel(events(s, d))),
    "ev_interval_join" -> ((s, d) => EventOps.intervalJoin(events(s, d))),
    "ev_retention" -> ((s, d) => EventOps.retention(events(s, d))),
    "ev_anomaly" -> ((s, d) => EventOps.eventAnomaly(events(s, d))),
    "ev_hopping" -> ((s, d) => EventOps.hoppingCounts(events(s, d))),
    "ev_skew_join" -> ((s, d) => EventOps.skewJoinProfile(events(s, d))),
    "ev_zorder" -> ((s, d) => Layout.zorderCompare(events(s, d))),
    "d_inverted_index" -> ((s, d) => DocTextOps.invertedIndex(docs(s, d))),
    // documents: dedup + text analysis
    // exact-duplicate twin (Dedup.ExactTwinMod): re-keyed copies make
    // dup_count = 2 clusters real — all-distinct texts alone can't tell a
    // correct grouping from a too-fine one
    "d_exact_dedup" -> ((s, d) => {
      val base = docs(s, d).select("doc_id", "text")
      Dedup.exact(base.union(base
        .where(s"doc_id % ${Dedup.ExactTwinMod} = 0")
        .selectExpr(s"doc_id + ${Dedup.RecallTwinOffset} AS doc_id", "text")))
    }),
    "d_token_stats" -> ((s, d) => DocTextOps.tokenStats(docs(s, d))),
    "d_token_bpe" -> ((s, d) => DocTextOps.tokenBpe(docs(s, d))),
    "d_quality" -> ((s, d) => DocTextOps.qualityScore(docs(s, d))),
    "d_quality_filter" -> ((s, d) => DocTextOps.qualityFilter(docs(s, d))),
    "d_quality_rules" -> ((s, d) => DocTextOps.qualityRules(docs(s, d))),
    "d_sample" -> ((s, d) => DocTextOps.stratifiedSample(docs(s, d))),
    "d_langid_stopword" -> ((s, d) => DocTextOps.langIdStopword(docs(s, d))),
    // separable twin (the d_clf_sep pattern): same operator over the
    // stopword-planted corpus, where every score column and argmax branch
    // is realized — the natural corpus's single shared vocab keeps
    // lang_pred constant 'en' there (see DocTextOps.langTwinSql)
    "d_langid_sep" -> ((s, d) => DocTextOps.langIdStopword(
      docs(s, d).selectExpr("doc_id", "lang", s"${DocTextOps.langTwinSql} AS text"))),
    "d_langid_trigram" -> ((s, d) => DocTextOps.langIdTrigram(docs(s, d))),
    "d_fingerprint" -> ((s, d) => DocTextOps.fingerprint(docs(s, d))),
    "d_tfidf" -> ((s, d) => DocTextOps.tfidfTopTerms(docs(s, d))),
    "d_collocations" -> ((s, d) => DocTextOps.collocations(docs(s, d))),
    "d_redact" -> ((s, d) => DocTextOps.piiRedact(docs(s, d))),
    "d_kmv_distinct" -> ((s, d) => DocTextOps.kmvDistinct(docs(s, d))),
    "d_downselect" -> ((s, d) => DocTextOps.downselect(docs(s, d))),
    "d_pipeline" -> ((s, d) => DocTextOps.selectionPipeline(docs(s, d))),
    "d_ccnet" -> ((s, d) => Selection.ccnetPipeline(docs(s, d))),
    "d_decontaminate" -> ((s, d) => DocTextOps.decontaminate(docs(s, d))),
    "d_bloom_decontaminate" -> ((s, d) => DocTextOps.bloomDecontaminate(docs(s, d))),
    "d_contam_overlap" -> ((s, d) => DocTextOps.contamOverlap(docs(s, d))),
    "d_lm_score" -> ((s, d) => Selection.lmScore(docs(s, d))),
    "d_ppl_buckets" -> ((s, d) => Selection.pplBuckets(docs(s, d))),
    // two-phase annealing schedule: main budget uniform over the scorable
    // corpus, anneal budget on the head perplexity tercile only
    "d_anneal" -> ((s, d) => Selection.annealPlan(docs(s, d))),
    "d_token_budget" -> ((s, d) => Selection.tokenBudget(docs(s, d))),
    "d_dsir_weights" -> ((s, d) => Selection.dsirWeights(docs(s, d))),
    "d_source_cap" -> ((s, d) => Selection.sourceCap(docs(s, d))),
    // OOV twin (Selection.OovTwinMod): a sentinel token outside every
    // generator vocabulary, appended off the reference slice, makes the
    // α²/N unknown-word branch driver-visible
    "d_ngram_lm" -> ((s, d) => Selection.stupidBackoff(
      docs(s, d).withColumn("text", expr(Selection.oovTwinSql)))),
    "d_clf_train" -> ((s, d) => Selection.perceptronTrain(docs(s, d))),
    "d_clf_score" -> ((s, d) => Selection.perceptronScore(docs(s, d))),
    // separable twin: same trainer over the transcript corpus, where the
    // label (tool = html) IS learnable from BoW — convergence + >90%
    // accuracy become gate-visible (the documents corpus's identical
    // 31-token vocab caps honest accuracy near the majority rate)
    "d_clf_sep_train" -> ((s, d) =>
      Selection.perceptronTrain(clfSepDocs(s, d), refLang = "html")),
    "d_clf_sep_score" -> ((s, d) =>
      Selection.perceptronScore(clfSepDocs(s, d), refLang = "html")),
    "d_hll_distinct" -> ((s, d) => DocTextOps.hllDistinct(docs(s, d))),
    "d_repetition" -> ((s, d) => DocTextOps.repetitionSignals(docs(s, d))),
    "d_cms_freq" -> ((s, d) => DocTextOps.cmsFreq(docs(s, d))),
    // binWidth derived from the observed value range (auto-sized single-
    // partition bin window); the oracle replays the same derivation
    "d_hist_quantiles" -> ((s, d) => {
      val dd = docs(s, d)
      DocTextOps.histQuantiles(dd, DocTextOps.derivedBinWidth(dd))
    }),
    // coarse-width twin: derivedBinWidth resolves to 1 on this corpus
    // (n_chars range < 65536), so the auto-sized query's bin == value and
    // abs_err is constant 0 — the within-bin rank-interpolation branch
    // (the operator's whole reason to exist at wide ranges) would be
    // driver-invisible without forcing a many-values-per-bin width
    "d_hist_quantiles_coarse" -> ((s, d) =>
      DocTextOps.histQuantiles(docs(s, d), binWidth = 64L)),
    "d_incr_view" -> ((s, d) => Incremental.incrementalView(docs(s, d))),
    "d_schema_evolve" -> ((s, d) => Evolution.schemaEvolveRoundTrip(docs(s, d))),
    "d_chunk" -> ((s, d) => DocTextOps.chunk(docs(s, d))),
    // fill-in-middle augmentation (hash-derived coin + cuts, PSM
    // sentinels); the dump carries md5 of the re-rendered text
    "d_fim" -> ((s, d) => DocTextOps.fimTransform(docs(s, d))
      .selectExpr("doc_id", "mode", "cut_lo", "cut_hi", "n_chars",
        "md5(fim_text) AS fim_md5")),
    "d_corpus_build" -> ((s, d) => DocTextOps.corpusBuild(docs(s, d))),
    "d_pack" -> ((s, d) => DocTextOps.packSequences(docs(s, d))),
    "d_shard" -> ((s, d) => DocTextOps.shardCorpus(docs(s, d))),
    "d_mix" -> ((s, d) => DocTextOps.mixCorpus(docs(s, d))),
    // data-constrained epoch planning: per-source budget slices, epoch
    // counts, and the repeat-value cap (budget scales with the corpus so
    // the over/under-cap branches realize at every sf)
    "d_epochs" -> ((s, d) => DocTextOps.epochAllocation(docs(s, d))),
    "d_bpe_train" -> ((s, d) => DocTextOps.bpeTrain(docs(s, d))),
    "d_bpe_encode" -> ((s, d) => DocTextOps.bpeEncode(docs(s, d))),
    "d_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(docs(s, d))),
    // mid-document planted-phrase twin (Dedup.SubstrTwinMod): the corpus's
    // natural duplicated substrings are all prefixes, so span_start > 0
    // and the multi-island split would otherwise never be driver-visible
    "d_substr_dedup" -> ((s, d) => Dedup.substrDedup(
      docs(s, d).withColumn("text", expr(Dedup.substrTwinSparkSql())))),
    "d_substr_cut" -> ((s, d) => Dedup.substrCut(
      docs(s, d).withColumn("text", expr(Dedup.substrTwinSparkSql())))),
    "d_winnow_pairs" -> ((s, d) => Dedup.winnowPairs(docs(s, d))),
    "d_dedup_clusters" -> ((s, d) => Dedup.dedupClusters(docs(s, d))),
    "d_dedup_keep_best" -> ((s, d) => Dedup.dedupKeepBest(docs(s, d))),
    "d_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(docs(s, d))),
    "d_lsh_recall" -> ((s, d) => Dedup.lshRecall(docs(s, d))),
    "d_split" -> ((s, d) => Dedup.splitAssign(docs(s, d))),
    "d_incr_dedup" -> ((s, d) => Dedup.incrementalMinhash(docs(s, d))),
    "d_simhash" -> ((s, d) => Dedup.simhash(docs(s, d))),
    // deterministic event times spread over 36 min (< the 1h watermark
    // horizon), so the streaming and batch first-occurrence semantics
    // coincide — StreamingSpec asserts that equality on the real stream
    "d_stream_dedup" -> ((s, d) => Dedup.streamDedupTwin(docs(s, d).selectExpr(
      "doc_id", "text", "CAST(1767225600 + (doc_id % 37) * 60 AS BIGINT) AS epoch"))),
    "d_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(docs(s, d))),
    // embeddings: similarity
    "e_knn" -> ((s, d) => Similarity.knnBruteForce(embs(s, d))),
    "e_neardup" -> ((s, d) => Similarity.nearDupPairs(embs(s, d))),
    "e_ann_lsh" -> ((s, d) => Similarity.annLsh(embs(s, d))),
    "e_ann_ivf" -> ((s, d) => Similarity.annIvf(embs(s, d))),
    "e_ann_recall" -> ((s, d) => Similarity.annRecall(embs(s, d))),
    "e_centroids" -> ((s, d) => Similarity.labelCentroids(embs(s, d))),
    "e_kmeans" -> ((s, d) => Similarity.kmeans(embs(s, d))),
    "e_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(embs(s, d))),
    "e_ann_pq" -> ((s, d) => Similarity.annPq(embs(s, d))),
    "e_ann_ivfpq" -> ((s, d) => Similarity.annIvfPq(embs(s, d))),
    "e_ann_incr" -> ((s, d) => Similarity.annIvfAppend(embs(s, d))),
    "e_ann_persisted" -> ((s, d) => Similarity.annIvfPersisted(embs(s, d))),
    "e_ann_drift" -> ((s, d) => Similarity.annIvfDrift(embs(s, d))),
    "e_ann_retrain" -> ((s, d) => Similarity.annIvfRetrain(embs(s, d))),
    "d_pagerank" -> ((s, d) => GraphOps.pagerank(docs(s, d))),
    // multimodal plumbing
    "m_features" -> ((s, d) => Multimodal.features(docs(s, d))),
    "m_feature_summary" -> ((s, d) => Multimodal.featureSummary(docs(s, d))),
    "m_resize" -> ((s, d) =>
      Multimodal.resize(Multimodal.synthesize(docs(s, d))).toDF().orderBy("doc_id")),
    "m_frames" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.synthesize(docs(s, d))).toDF().orderBy("doc_id")),
    // transcript pipeline (core-oracle checked in sbt test; rows-only here)
    "t_extract" -> ((s, d) => {
      val n = graft.gen.SyntheticTranscripts.convsForSfDir(d)
      // ordered because the golden-parquet oracle compares positionally
      // (EliminateSorts drops the sort under Bench's count(), so the
      // benchmark cost profile is unchanged)
      Pipeline.extract(graft.gen.SyntheticTranscripts.turns(s, n)).toDF()
        .selectExpr("conv_id", "turn_idx", "role", "tool", "text",
          "size(span_starts) AS n_spans", "error")
        .orderBy("conv_id", "turn_idx")
    }),
    // passthrough subset of the extraction output — reference semantics are
    // IDENTITY with one full-payload span (Extractor.scala:28, mirroring
    // the reference's per-page text artifacts, main.py:201-207), which
    // DuckDB verifies against the _raw_turns fixture dump; only the two
    // parser kernels (html/pdf) stay sbt-test-only
    "t_extract_passthrough" -> ((s, d) => {
      val n = graft.gen.SyntheticTranscripts.convsForSfDir(d)
      Pipeline.extract(graft.gen.SyntheticTranscripts.turns(s, n)).toDF()
        .where("tool NOT IN ('html', 'pdf')")
        .selectExpr("conv_id", "turn_idx", "tool", "text",
          "size(span_starts) AS n_spans",
          "span_starts[0] AS span_start", "span_ends[0] AS span_end", "error")
        .orderBy("conv_id", "turn_idx")
    }),
    // the HTML/PDF PARSER KERNELS against a frozen golden parquet — the
    // last driver blind spot (r3 verdict #3): a FIXED 150-conv fixture
    // (sf-independent, seed 42) is extracted and compared value-for-value
    // (text + char spans) against golden/extract_parsers/, regenerated only
    // by tools/freeze_parser_golden.sh when kernel behavior deliberately
    // changes. Reference analog: the per-page text artifacts the service
    // writes for every document (main.py:201-207).
    "t_extract_parsers" -> ((s, _) =>
      Pipeline.extract(graft.gen.SyntheticTranscripts.turns(s, 150L)).toDF()
        .where("tool IN ('html', 'pdf')")
        .selectExpr("conv_id", "turn_idx", "tool", "text",
          "CAST(size(span_starts) AS INT) AS n_spans",
          "concat_ws(',', span_starts) AS span_starts_csv",
          "concat_ws(',', span_ends) AS span_ends_csv", "error")
        .orderBy("conv_id", "turn_idx")),
    // assistant-parrot quality gate over the RAW transcript table (the
    // oracle replays it from the _raw_turns fixture dump)
    "t_echo" -> ((s, d) => {
      val n = graft.gen.SyntheticTranscripts.convsForSfDir(d)
      graft.ops.TranscriptOps.echoDetect(
        graft.gen.SyntheticTranscripts.turns(s, n).toDF())
    }),
    // conversation-level MinHash near-dedup over the RAW transcript table,
    // gated on the deterministic retried-session fork scenario (the oracle
    // replays forks, bands, and verdicts from the _raw_turns fixture dump)
    "t_conv_dedup" -> ((s, d) => {
      val n = graft.gen.SyntheticTranscripts.convsForSfDir(d)
      graft.ops.TranscriptOps.convDedup(
        graft.gen.SyntheticTranscripts.turns(s, n).toDF())
    }),
    // the composed transcript pipeline: conv near-dedup keep rule -> echo
    // quality gate -> shelf packing of the selected pool, one lineage row
    // per conversation (the transcript-native d_pipeline)
    "t_pipeline" -> ((s, d) => {
      val n = graft.gen.SyntheticTranscripts.convsForSfDir(d)
      graft.ops.TranscriptOps.transcriptPipeline(
        graft.gen.SyntheticTranscripts.turns(s, n).toDF())
    }),
    // store-backed incremental conversation dedup: standing fingerprints
    // + bands persisted as SnapshotStore tables, delta batch probes the
    // STORED index one-sidedly, admitted convs appended back
    "t_conv_dedup_incr" -> ((s, d) => {
      val n = graft.gen.SyntheticTranscripts.convsForSfDir(d)
      graft.ops.TranscriptOps.convDedupIncr(
        graft.gen.SyntheticTranscripts.turns(s, n).toDF())
    }),
    // conversation -> training-sequence transforms over the raw transcript
    // table: per-turn char spans + assistant loss mask (the linear shape a
    // packer consumes) and the quadratic (prompt, completion) SFT export
    "t_loss_mask" -> ((s, d) => {
      val n = graft.gen.SyntheticTranscripts.convsForSfDir(d)
      graft.ops.TranscriptOps.lossMaskSpans(
        graft.gen.SyntheticTranscripts.turns(s, n).toDF())
    }),
    "t_sft_pairs" -> ((s, d) => {
      val n = graft.gen.SyntheticTranscripts.convsForSfDir(d)
      graft.ops.TranscriptOps.sftPairs(
        graft.gen.SyntheticTranscripts.turns(s, n).toDF())
    }),
    // whole-conversation shelf packing (shared core with d_pack) with
    // per-turn token spans in PACKED coordinates + the assistant loss mask
    "t_pack_masked" -> ((s, d) => {
      val n = graft.gen.SyntheticTranscripts.convsForSfDir(d)
      graft.ops.TranscriptOps.packMasked(
        graft.gen.SyntheticTranscripts.turns(s, n).toDF())
    }),
    // length-bucketed batching report: power-of-two buckets vs the
    // pad-to-global-max baseline, floor-mean padding waste per bucket
    "t_len_buckets" -> ((s, d) => {
      val n = graft.gen.SyntheticTranscripts.convsForSfDir(d)
      graft.ops.TranscriptOps.lenBuckets(
        graft.gen.SyntheticTranscripts.turns(s, n).toDF())
    }),
    // RLHF preference-pair construction: rollouts grouped on prompt
    // rendering, responses ranked by type-token ratio; gated on the
    // deterministic retried-rollout scenario (the oracle replays forks,
    // grouping, and ranking from the _raw_turns fixture dump)
    "t_pref_pairs" -> ((s, d) => {
      val n = graft.gen.SyntheticTranscripts.convsForSfDir(d)
      graft.ops.TranscriptOps.prefPairs(
        graft.gen.SyntheticTranscripts.turns(s, n).toDF())
    }),
    "t_segment" -> ((s, d) =>
      Pipeline.run(s, graft.gen.SyntheticTranscripts.convsForSfDir(d)).toDF()
        .orderBy("conv_id", "Sequence")),
    "t_xml" -> ((s, d) =>
      Pipeline.renderXml(Pipeline.run(s, math.min(50L, graft.gen.SyntheticTranscripts.convsForSfDir(d))))
        .toDF("conv_id", "xml")),
    "t_consolidate" -> ((s, d) => {
      val n = math.min(100L, graft.gen.SyntheticTranscripts.convsForSfDir(d))
      Pipeline.consolidate(Pipeline.extract(graft.gen.SyntheticTranscripts.turns(s, n)))
        .selectExpr("conv_id", "n_turns",
          "CAST(length(consolidated) AS BIGINT) AS n_chars",
          "md5(consolidated) AS content_md5")
        .orderBy("conv_id")
    }),
    // totals view of the per-partition lineage (partition ids are a Spark
    // planning artifact no other engine can derive — SubmitMain still
    // snapshots the per-partition rows, PipelineSpec checks them)
    "t_lineage" -> ((s, d) => {
      val n = graft.gen.SyntheticTranscripts.convsForSfDir(d)
      Pipeline.extractionLineage(
        Pipeline.extract(graft.gen.SyntheticTranscripts.turns(s, n)), snapshotId = 1L).toDF()
        .groupBy("stage", "snapshot_id")
        .agg(expr("SUM(rows_in) AS rows_in"), expr("SUM(rows_out) AS rows_out"),
          expr("SUM(errors) AS errors"))
    })
  )

  // ------------------------------------------------------------------
  // DuckDB oracle SQL. Hash constants are generated from the SAME Scala
  // functions the Spark side uses (Dedup.permA/permB), so the two cannot
  // drift. DuckDB lists are 1-based; Spark arrays 0-based — mirrored below.
  // ------------------------------------------------------------------

  private val P = "2147483647"

  /** DuckDB: 32-bit int from the first 8 hex chars of md5. */
  private def dh32(col: String) = s"(('0x' || substr(md5($col), 1, 8))::BIGINT)"

  /** DuckDB token-equality occurrence count — mirrors `DocTextOps.cnt`
    * (the whitespace-token filter, not the padded-replace trick, which
    * undercounts adjacent repeats of the same word). */
  private def dcnt(w: String) =
    s"len(list_filter(string_split(text, ' '), t -> t = '$w'))::BIGINT"

  /** The stopword_hits fragment shared by the d_quality* and d_downselect
    * oracles (mirrors `DocTextOps.qualityScore`). */
  private def dStopwordHits: String =
    s"""${dcnt("the")} + ${dcnt("a")} + ${dcnt("of")}"""

  /** Per-language sampling-rate CASE shared by the d_sample / d_downselect
    * oracles — generated from `DocTextOps.DefaultSampleRates` so the two
    * engines read ONE rate table. */
  private def dRateExpr(col: String): String =
    "CASE " + DocTextOps.DefaultSampleRates
      .map { case (l, r) => s"WHEN $col = '$l' THEN $r" }.mkString(" ") +
      s" ELSE ${DocTextOps.DefaultSampleRateElse} END"

  /** Shared CTE chain replaying [[graft.ops.DocTextOps.packSequences]]'s
    * shelf rule — per-doc token counts and the (n_tokens DESC, doc_id)
    * cumulative-before window — used by both the `d_pack` and `d_shard`
    * oracles so the packing replay cannot drift between them. */
  private def packCtes: String =
    """WITH d AS (SELECT doc_id::BIGINT AS doc_id,
      |             COALESCE(len(string_split(text, ' ')), 0)::BIGINT AS n_tokens FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |        COALESCE(sum(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
      |      FROM d)""".stripMargin

  /** Shared CTE chain replaying [[graft.ops.Selection.perceptronTrain]]'s
    * SEQUENTIAL averaged-perceptron updates: hashed-token feature counts,
    * the hash-ordered bounded training set, dense per-example bucket
    * vectors, then a RECURSIVE CTE `tr` that walks every (pass × example)
    * step carrying the weight LIST, bias, and the Collins averaging
    * accumulators — list_zip/list_transform keep the arithmetic in BIGINT
    * so every margin replays bit-for-bit. Used by both `d_clf_train` and
    * `d_clf_score` (which read the pass-boundary rows / the final
    * accumulators respectively). */
  private def perceptronCtes: String =
    perceptronCtesFor("documents", graft.ops.Selection.DefaultRefLang)

  /** The `(doc_id, lang, text)` projection of the transcript fixture used
    * by the `d_clf_sep_*` oracles: doc_id densely derived from the padded
    * conv index and turn_idx, label column = the turn's tool. Mirrors
    * [[clfSepDocs]] exactly. */
  private def clfSepSrc: String =
    """(SELECT CAST(substr(conv_id, 6) AS BIGINT) * 100000 + turn_idx AS doc_id,
      |   tool AS lang, text
      | FROM read_parquet('__VERIFY_OUT__/_raw_turns/*.parquet'))""".stripMargin

  /** Pass-boundary readout shared by the `d_clf_train` / `d_clf_sep_train`
    * oracles. */
  private def clfTrainTail: String =
    """SELECT s // (SELECT k FROM nk) AS pass,
      |  (SELECT k FROM nk) AS n_train,
      |  nupd - lag(nupd, 1, 0::BIGINT) OVER (ORDER BY s) AS n_updates,
      |  bias,
      |  list_sum(list_transform(w, v -> abs(v)))::BIGINT AS w_l1
      |FROM tr WHERE s % (SELECT k FROM nk) = 0 AND s > 0 ORDER BY pass""".stripMargin

  /** Averaged-model scoring readout shared by the `d_clf_score` /
    * `d_clf_sep_score` oracles: the final averaging accumulators
    * (Σ_t w_t, Σ_t bias_t) applied back over every document's counts. */
  private def clfScoreTail: String =
    s""",
       |fin AS (SELECT wsum, bsum FROM tr
       |        WHERE s = ${Selection.ClfPasses} * (SELECT k FROM nk)),
       |wrows AS (SELECT i AS b, f.wsum[i + 1] AS wt
       |          FROM fin f, (SELECT unnest(range(0, ${Selection.ClfBuckets})) AS i) t(i)),
       |sums AS (SELECT f.doc_id, sum(f.c * w.wt)::BIGINT AS t
       |         FROM fx f JOIN wrows w USING (b) GROUP BY 1),
       |sc AS (SELECT d.doc_id, d.y,
       |         coalesce(s.t, 0) + (SELECT bsum FROM fin) AS margin
       |       FROM docs0 d LEFT JOIN sums s USING (doc_id))
       |SELECT doc_id, margin, margin > 0 AS pred_ref, y > 0 AS is_ref,
       |  (margin > 0) = (y > 0) AS correct
       |FROM sc ORDER BY doc_id""".stripMargin

  /** [[perceptronCtes]] over an arbitrary `(doc_id, lang, text)` relation
    * `src` with reference class `lang` — the separable-corpus twin
    * (`d_clf_sep_*`) trains the SAME recursive replay over the transcript
    * fixture, where the label (tool = html) IS linearly separable from
    * bag-of-words (markup tokens), so the gate shows the trainer actually
    * fitting instead of the documents corpus's vocab-identity ceiling. */
  private def perceptronCtesFor(src: String, lang: String): String = {
    val b = graft.ops.Selection.ClfBuckets
    val trainN = graft.ops.Selection.ClfTrainN
    val passes = graft.ops.Selection.ClfPasses
    s"""WITH RECURSIVE tok AS (SELECT doc_id,
      |    (CASE WHEN lang = '$lang' THEN 1 ELSE -1 END)::BIGINT AS y,
      |    unnest(string_split(text, ' ')) AS w
      |  FROM $src WHERE text IS NOT NULL),
      |fx AS MATERIALIZED (SELECT doc_id, y, ${dh32("w")} % $b AS b, count(*)::BIGINT AS c
      |       FROM tok GROUP BY 1, 2, 3),
      |docs0 AS MATERIALIZED (SELECT DISTINCT doc_id, y FROM fx),
      |xv AS MATERIALIZED (SELECT doc_id, map(list(b ORDER BY b), list(c ORDER BY b)) AS mp
      |       FROM fx GROUP BY 1),
      |train AS MATERIALIZED (SELECT doc_id, y,
      |    row_number() OVER (ORDER BY ${dh32("doc_id::VARCHAR")}, doc_id) AS stp
      |  FROM docs0 QUALIFY stp <= $trainN),
      |nk AS MATERIALIZED (SELECT count(*)::BIGINT AS k FROM train),
      |exs AS MATERIALIZED (SELECT t.stp, t.y,
      |    list_transform(range(0, $b), i -> coalesce(map_extract(x.mp, i)[1], 0::BIGINT)) AS xl
      |  FROM train t JOIN xv x USING (doc_id)),
      |tr(s, w, bias, wsum, bsum, nupd) AS (
      |  SELECT 0::BIGINT, [0::BIGINT for i in range($b)], 0::BIGINT,
      |         [0::BIGINT for i in range($b)], 0::BIGINT, 0::BIGINT
      |  UNION ALL
      |  SELECT s + 1, wn, bn,
      |    list_transform(list_zip(wsum, wn), p -> p[1] + p[2]),
      |    bsum + bn,
      |    nupd + (CASE WHEN mis THEN 1 ELSE 0 END)
      |  FROM (
      |    SELECT z.*,
      |      CASE WHEN mis THEN list_transform(list_zip(w, exl), p -> p[1] + ey * p[2])
      |           ELSE w END AS wn,
      |      bias + CASE WHEN mis THEN ey ELSE 0 END AS bn
      |    FROM (
      |      SELECT t.*, e.y AS ey, e.xl AS exl,
      |        e.y * (list_sum(list_transform(list_zip(t.w, e.xl), p -> p[1] * p[2]))::BIGINT
      |               + t.bias) <= 0 AS mis
      |      FROM tr t JOIN exs e ON e.stp = (t.s % (SELECT k FROM nk)) + 1
      |      WHERE t.s < $passes * (SELECT k FROM nk)) z) )""".stripMargin
  }

  /** CTE chain t0,p1,t1,…,p`k`,t`k` replaying [[graft.ops.DocTextOps]]'s
    * BPE merge rounds (argmax pair by count DESC / pair ASC, padded-replace
    * application) — shared by the `d_bpe_train` and `d_bpe_encode` oracles
    * so the two replays cannot drift. */
  private def bpeCtes(k: Int): String = {
    val sb = new StringBuilder("WITH t0 AS (SELECT doc_id, text AS txt FROM documents)")
    for (i <- 1 to k) {
      val prev = s"t${i - 1}"
      sb ++= s""",
        |p$i AS (SELECT pr, count(*)::BIGINT AS c FROM (
        |    SELECT unnest([ws[j] || ' ' || ws[j+1] for j in range(1, len(ws))]) AS pr
        |    FROM (SELECT string_split(txt, ' ') AS ws FROM $prev
        |          WHERE len(string_split(txt, ' ')) >= 2))
        |  GROUP BY 1 ORDER BY c DESC, pr LIMIT 1),
        |t$i AS (SELECT doc_id, trim(replace(replace(
        |    ' ' || replace(txt, ' ', '  ') || ' ',
        |    ' ' || (SELECT replace(pr, ' ', '  ') FROM p$i) || ' ',
        |    ' ' || (SELECT replace(pr, ' ', '@@') FROM p$i) || ' '),
        |    '  ', ' ')) AS txt FROM $prev)""".stripMargin
    }
    sb.toString
  }

  /** CTE chain `d,wins0,wins,dup,isl,grp,spans` replaying
    * [[graft.ops.Dedup.substrDedup]] — windows as a list comprehension
    * (DuckDB's `range()` cannot be lateral over a column), 64-bit
    * md5-prefix window keys, the same gaps-and-islands merge, ending in
    * `spans(doc_id, span_start, span_end, n_windows)`; shared by the
    * `d_substr_dedup` and `d_substr_cut` oracles so the find and apply
    * replays cannot drift. */
  /** Mid-document planted-phrase twin CTE ([[graft.ops.Dedup.SubstrTwinMod]]
    * rule, the DuckDB mirror of `Dedup.substrTwinSparkSql`) — yields
    * `sdd(doc_id, text)`, the input both substr oracles read. */
  private def dSubstrTwin: String = {
    def phr(tag: String) =
      graft.ops.Dedup.substrTwinPhrase(tag).map(t => s"'$t'").mkString(", ")
    s"""sdd AS (SELECT doc_id,
       |    CASE WHEN doc_id % ${Dedup.SubstrTwinMod} = 0 AND text IS NOT NULL AND len(ws) >= 4
       |         THEN array_to_string(list_concat(list_concat(list_concat(list_concat(
       |              ws[1 : q1], [${phr("a")}]), ws[q1 + 1 : q3]), [${phr("b")}]), ws[q3 + 1 :]), ' ')
       |         ELSE text END AS text
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws,
       |          len(string_split(text, ' ')) // 4 AS q1,
       |          3 * len(string_split(text, ' ')) // 4 AS q3 FROM documents))""".stripMargin
  }

  private def substrCtes(w: Int, from: String = "documents"): String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $from
       |           WHERE len(string_split(text, ' ')) >= $w),
       |wins0 AS (SELECT doc_id, unnest([{'start': CAST(i - 1 AS BIGINT),
       |    'h': substr(md5(array_to_string(ws[i : i + ${w - 1}], ' ')), 1, 16)}
       |    for i in range(1, len(ws) - ${w - 2})]) AS win FROM d),
       |wins AS (SELECT doc_id, win.start AS start, win.h AS h FROM wins0),
       |dup AS (SELECT doc_id, start FROM wins
       |        JOIN (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2) dk USING (h)),
       |isl AS (SELECT doc_id, start,
       |    CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) <= $w
       |         THEN 0 ELSE 1 END AS ni FROM dup),
       |grp AS (SELECT doc_id, start,
       |    sum(ni) OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS g
       |  FROM isl),
       |spans AS (SELECT doc_id, min(start) AS span_start, max(start) + $w AS span_end,
       |    count(*)::BIGINT AS n_windows
       |  FROM grp GROUP BY doc_id, g)""".stripMargin

  /** Per-doc distinct 3-shingle CTE chain over an arbitrary doc relation
    * (must expose doc_id, text) — parameterized so composed pipelines can
    * cluster a FILTERED pool with the same replay. */
  private def dShingleDocsFrom(from: String): String =
    s"""docs AS (SELECT doc_id, text, string_split(text, ' ') ws FROM $from
       |         WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (SELECT doc_id,
       |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                        for i in range(1, len(ws) - 1)]) AS shs
       |       FROM docs)""".stripMargin

  private val dShingleDocs = dShingleDocsFrom("documents")

  /** Shingle-pair Jaccard CTE chain; `cap` mirrors [[Dedup.DefaultDfCap]]
    * (shingles above the document-frequency cap are dropped from the
    * universe on BOTH sides — sizes and intersections). */
  private def dJaccard(cap: Option[Long]): String = {
    val filt = cap match {
      case Some(c) =>
        s"""shx0 AS (SELECT doc_id, unnest(shs) AS s FROM sh),
           |keep AS (SELECT s FROM (SELECT s, count(*) AS df FROM shx0 GROUP BY 1) WHERE df <= $c),
           |shx AS (SELECT doc_id, s FROM shx0 JOIN keep USING (s)),""".stripMargin
      case None => "shx AS (SELECT doc_id, unnest(shs) AS s FROM sh),"
    }
    s"""$filt
       |sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY 1),
       |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
       |          FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |jac AS (SELECT da, db, (i * 1000000) // (sa.n + sb.n - i) AS jaccard_ppm
       |        FROM inter JOIN sizes sa ON da = sa.doc_id
       |                   JOIN sizes sb ON db = sb.doc_id)""".stripMargin
  }

  /** Connected-components CTE chain over the `jac` pair table (shared by
    * `d_dedup_clusters` and `d_dedup_keep_best`): transitive closure via a
    * recursive reach, component = least reachable id, singletons labelled
    * by themselves. Callers prepend `WITH RECURSIVE $dShingleDocs,
    * ${dJaccard(...)}` and end with `lab` (doc_id, component) + `sz`
    * (component, cluster_size). */
  private def dClusterCtesFrom(from: String): String =
    s"""edges AS (SELECT da AS a, db AS b FROM jac WHERE jaccard_ppm >= 800000),
       |sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
       |reach AS (SELECT a, b FROM sym
       |          UNION
       |          SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a),
       |lab AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
       |        FROM $from d LEFT JOIN comp c USING (doc_id)),
       |sz AS (SELECT component, count(*) AS cluster_size FROM lab GROUP BY 1)""".stripMargin

  private val dClusterCtes = dClusterCtesFrom("documents")

  /** Keep-best ranking CTEs replaying [[graft.ops.Dedup.dedupKeepBest]]'s
    * representative choice — expects the cluster CTEs (`lab`, `sz`) in
    * scope; yields `qual` and `r(doc_id, component, cluster_size,
    * diversity_ppm, rn)`. ONE builder shared by the `d_dedup_keep_best`
    * and `d_ccnet` oracles so the survivor choice cannot drift. */
  private val dKeepBestCtes: String =
    s"""qual AS (SELECT doc_id,
       |    coalesce((CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000)
       |      // len(string_split(text, ' ')), -1) AS diversity_ppm
       |  FROM documents),
       |r AS (SELECT l.doc_id, l.component, sz.cluster_size, q.diversity_ppm,
       |    row_number() OVER (PARTITION BY l.component
       |      ORDER BY q.diversity_ppm DESC, l.doc_id ASC) AS rn
       |  FROM lab l JOIN sz USING (component) JOIN qual q USING (doc_id))""".stripMargin

  /** Reference-LM CTEs replaying [[graft.ops.Selection.lmScore]] over
    * `src` — yields `big(doc_id, lang, g)`, `ref(g, c)` and
    * `scored(doc_id, avg_log2_x64)`. ONE builder shared by the
    * `d_lm_score`, `d_ppl_buckets` and `d_ccnet` oracles. */
  private def dLmCtes(src: String): String = {
    val lp = FixedLog.duck("coalesce(ref.c, 0) + 1")
    s"""big AS (SELECT doc_id, lang,
       |    unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS g
       |  FROM (SELECT doc_id, lang, string_split(text, ' ') ws FROM $src
       |        WHERE len(string_split(text, ' ')) >= 2)),
       |ref AS (SELECT g, count(*)::BIGINT AS c FROM big
       |        WHERE lang = '${graft.ops.Selection.DefaultRefLang}' GROUP BY 1),
       |scored AS (SELECT b.doc_id, sum($lp)::BIGINT // count(*) AS avg_log2_x64
       |           FROM big b LEFT JOIN ref USING (g) GROUP BY 1)""".stripMargin
  }

  /** Stopword-profile language-ID CTEs replaying
    * [[graft.ops.DocTextOps.langIdStopword]] over `src` — yields
    * `lid(doc_id, lang_declared, score_*, lang_pred)`. ONE builder shared
    * by the `d_langid_stopword` and `d_ccnet` oracles. */
  private def dLangPredCtes(src: String): String = {
    val scoreCols = graft.ops.DocTextOps.langStops
      .map { case (l, ws) => ws.map(dcnt).mkString(" + ") + s" AS score_$l" }
      .mkString(",\n|    ")
    s"""lids AS (SELECT doc_id, lang AS lang_declared,
       |    $scoreCols FROM $src),
       |lidm AS (SELECT *, greatest(greatest(score_en, score_de), greatest(score_es, score_fr)) AS best FROM lids),
       |lid AS (SELECT doc_id, lang_declared, score_en, score_de, score_es, score_fr,
       |  CASE WHEN score_en = best THEN 'en' WHEN score_de = best THEN 'de'
       |       WHEN score_es = best THEN 'es' WHEN score_fr = best THEN 'fr'
       |       ELSE 'und' END AS lang_pred
       |FROM lidm)""".stripMargin
  }

  /** Value-tercile CTEs replaying [[graft.ops.Selection]]'s shared
    * `tercileLabels` over an `sl(doc_id, <part>, avg_log2_x64)` CTE in
    * scope — yields `tbins`, `tlab` and `buck(sl.*, ppl_bucket)`. ONE
    * builder shared by the `d_ppl_buckets` and `d_ccnet` oracles. */
  private def dTercileCtes(part: String): String =
    s"""tbins AS (SELECT $part, avg_log2_x64, count(*)::BIGINT AS n_docs
       |          FROM sl GROUP BY 1, 2),
       |tlab AS (SELECT $part, avg_log2_x64,
       |    coalesce(sum(n_docs) OVER (PARTITION BY $part ORDER BY avg_log2_x64 DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_above,
       |    sum(n_docs) OVER (PARTITION BY $part) AS n FROM tbins),
       |buck AS (SELECT sl.*, CASE WHEN 3 * c_above < n THEN 'head'
       |       WHEN 3 * c_above < 2 * n THEN 'middle' ELSE 'tail' END AS ppl_bucket
       |  FROM sl JOIN tlab USING ($part, avg_log2_x64))""".stripMargin

  /** DuckDB exact-fold cosine between DOUBLE[] columns a and b. */
  private def dCos(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), [$x[i] * $y[i] for i in range(1, len($x) + 1)]), (acc, v) -> acc + v)"
    s"(${dot(a, b)}) / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  private def dMoneySum(c: String) = s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  /** Signature + banding CTE fragment replaying [[Dedup.bandedOf]] — ONE
    * construction shared by the `d_minhash_lsh`, `d_incr_dedup` and
    * `d_lsh_recall` oracles so the band layout cannot drift between
    * replays. Expects the `sh(doc_id, shs)` CTE in scope; yields `hs`,
    * `sigt` and `banded(doc_id, band, key)`. */
  private def dBandedCtes: String = dBandedCtesFrom(s"${dh32("s")} % $P")

  /** [[dBandedCtes]] with the per-shingle reduction pluggable: `hExpr`
    * maps element `s` of `sh.shs` to its banded hash row. The default
    * hashes shingle STRINGS; the stored-hashed-index replay
    * ([[convDedupIncrOracle]]) passes `s % P` because its `sh` already
    * carries `h32` values — the same first step, pre-applied. */
  private def dBandedCtesFrom(hExpr: String): String = {
    val sigs = (0 until Dedup.NumPerms).map { k =>
      s"list_min([(${Dedup.permA(k)} * h + ${Dedup.permB(k)}) % $P for h in hh]) AS sig$k"
    }
    val bands = (0 until Dedup.Bands).map { b =>
      val ks = b * Dedup.RowsPerBand until (b + 1) * Dedup.RowsPerBand
      val combined = ks.foldLeft("CAST(0 AS BIGINT)")((acc, k) => s"(($acc) * 31 + sig$k) % $P")
      s"SELECT doc_id, $b AS band, $combined AS key FROM sigt"
    }
    s"""hs AS (SELECT doc_id, [$hExpr for s in shs] AS hh FROM sh),
       |sigt AS (SELECT doc_id, ${sigs.mkString(", ")} FROM hs),
       |banded AS (${bands.mkString(" UNION ALL ")})""".stripMargin
  }

  private def minhashOracle: String = {
    s"""WITH $dShingleDocs,
       |$dBandedCtes,
       |cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared_bands
       |         FROM banded x JOIN banded y
       |           ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |         GROUP BY 1, 2),
       |${dJaccard(None)}
       |SELECT doc_a, doc_b, n_shared_bands, jaccard_ppm
       |FROM cand JOIN jac ON doc_a = da AND doc_b = db
       |WHERE jaccard_ppm >= 500000
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Replays [[Dedup.incrementalMinhash]]: the same bands, the one-sided
    * delta probe, exact-Jaccard verification via least/greatest pair
    * lookup (LEFT join: a banded collision with zero shared shingles
    * verifies at Jaccard 0 — probed, not a dup). */
  private def incrDedupOracle: String = {
    s"""WITH $dShingleDocs,
       |$dBandedCtes,
       |cand AS (SELECT x.doc_id AS doc_id, y.doc_id AS partner, count(*) AS nsb
       |         FROM banded x JOIN banded y
       |           ON x.band = y.band AND x.key = y.key AND x.doc_id != y.doc_id
       |          AND x.doc_id % ${Dedup.DefaultDeltaMod} = ${Dedup.DefaultDeltaMod - 1} AND (y.doc_id % ${Dedup.DefaultDeltaMod} != ${Dedup.DefaultDeltaMod - 1} OR y.doc_id < x.doc_id)
       |         GROUP BY 1, 2),
       |${dJaccard(None)},
       |ver AS (SELECT c.doc_id, c.partner, coalesce(j.jaccard_ppm, 0) AS jaccard_ppm
       |        FROM cand c LEFT JOIN jac j
       |          ON j.da = least(c.doc_id, c.partner) AND j.db = greatest(c.doc_id, c.partner)),
       |agg AS (SELECT doc_id, count(*)::BIGINT AS n_candidates,
       |          sum(CASE WHEN jaccard_ppm >= 500000 THEN 1 ELSE 0 END)::BIGINT AS n_dups,
       |          min(CASE WHEN jaccard_ppm >= 500000 THEN partner END) AS dup_of
       |        FROM ver GROUP BY 1)
       |SELECT d.doc_id, coalesce(n_candidates, 0)::BIGINT AS n_candidates,
       |  coalesce(n_dups, 0)::BIGINT AS n_dups, dup_of,
       |  coalesce(n_dups, 0) = 0 AS admitted
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |WHERE d.doc_id % ${Dedup.DefaultDeltaMod} = ${Dedup.DefaultDeltaMod - 1} ORDER BY d.doc_id""".stripMargin
  }

  /** Replays [[graft.ops.TranscriptOps.convDedup]] over the raw-turns
    * fixture dump: the retried-session fork CTE (drop-last-turn twin for
    * `h32(conv_id) % ConvForkMod = 0`), per-turn shingle unions as
    * conversation fingerprints, the SAME band CTEs as the doc-level paths
    * ([[dBandedCtes]] — conv_id aliased as doc_id so the fragment is
    * shared verbatim), the symmetric candidate probe, exact-Jaccard
    * verification via least/greatest pair lookup (LEFT join: a banded
    * collision with zero shared shingles verifies at 0 — probed, never a
    * dup), and per-conversation verdicts. */
  /** The retried-session scenario union as CTEs (`base`, `allt`) —
    * replays [[graft.ops.TranscriptOps]]'s shared `forkedTurns` (role and
    * turn_idx carried for downstream echo/pack replays). Shared by the
    * `t_conv_dedup` and `t_pipeline` oracles. */
  private def convForkCtes: String = {
    val fm = graft.ops.TranscriptOps.ConvForkMod
    s"""base AS (SELECT conv_id, turn_idx, role, text,
       |    max(turn_idx) OVER (PARTITION BY conv_id) AS max_idx
       |  FROM read_parquet('__VERIFY_OUT__/_raw_turns/*.parquet')
       |  WHERE text IS NOT NULL),
       |allt AS (SELECT conv_id, turn_idx, role, text FROM base
       |  UNION ALL
       |  SELECT conv_id || '~f', turn_idx, role, text FROM base
       |  WHERE ${dh32("conv_id")} % $fm = 0 AND turn_idx < max_idx)""".stripMargin
  }

  /** Echo-overlap replay CTEs over a turn source `src` (must provide
    * conv_id, turn_idx, role, text): the running-last-user window and the
    * distinct-token overlap scoring — yields `et` and
    * `eo(conv_id, turn_idx, n_distinct_tokens, overlap_ppm)`. ONE builder
    * shared by the `t_echo` and `t_pipeline` oracles so the standalone
    * and composed echo replays cannot drift. */
  private def dEchoCtes(src: String): String =
    s"""et AS (SELECT conv_id, turn_idx, role, text,
       |    last_value(CASE WHEN role = 'user' THEN text END IGNORE NULLS)
       |      OVER (PARTITION BY conv_id ORDER BY turn_idx
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_user
       |  FROM $src),
       |eo AS (SELECT conv_id, turn_idx,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
       |    CAST(len(list_filter(list_distinct(string_split(text, ' ')),
       |        x -> list_contains(list_distinct(string_split(prev_user, ' ')), x))) AS BIGINT)
       |      * 1000000 // len(list_distinct(string_split(text, ' '))) AS overlap_ppm
       |  FROM et
       |  WHERE role = 'assistant' AND prev_user IS NOT NULL AND text IS NOT NULL)"""
      .stripMargin

  /** Conversation-dedup core over an `allt(conv_id, text, …)` CTE in
    * scope: fingerprints, bands, symmetric candidate probe, exact-Jaccard
    * verification, per-conversation verdict aggregate — yields `sh` and
    * `agg`. ONE fragment shared by the `t_conv_dedup` and `t_pipeline`
    * oracles so the composed replay cannot drift. */
  private def convDedupCoreCtes: String = {
    val thr = graft.ops.TranscriptOps.ConvDupThresholdPpm
    s"""sh AS (SELECT conv_id AS doc_id, list_distinct(flatten(list(shs))) AS shs FROM (
       |    SELECT conv_id, [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                     for i in range(1, len(ws) - 1)] AS shs
       |    FROM (SELECT conv_id, string_split(text, ' ') AS ws FROM allt)
       |    WHERE len(ws) >= 3) GROUP BY 1),
       |$dBandedCtes,
       |cand AS (SELECT x.doc_id AS doc_id, y.doc_id AS partner
       |         FROM banded x JOIN banded y
       |           ON x.band = y.band AND x.key = y.key AND x.doc_id != y.doc_id
       |         GROUP BY 1, 2),
       |${dJaccard(None)},
       |ver AS (SELECT c.doc_id, c.partner, coalesce(j.jaccard_ppm, 0) AS jaccard_ppm
       |        FROM cand c LEFT JOIN jac j
       |          ON j.da = least(c.doc_id, c.partner) AND j.db = greatest(c.doc_id, c.partner)),
       |agg AS (SELECT doc_id, count(*)::BIGINT AS n_candidates,
       |          max(jaccard_ppm)::BIGINT AS max_jaccard_ppm,
       |          sum(CASE WHEN jaccard_ppm >= $thr THEN 1 ELSE 0 END)::BIGINT AS n_dups,
       |          min(CASE WHEN jaccard_ppm >= $thr THEN partner END) AS dup_of
       |        FROM ver GROUP BY 1)""".stripMargin
  }

  private def convDedupOracle: String =
    s"""WITH $convForkCtes,
       |$convDedupCoreCtes
       |SELECT s.doc_id AS conv_id, s.doc_id LIKE '%~f' AS is_fork,
       |  coalesce(n_candidates, 0)::BIGINT AS n_candidates,
       |  coalesce(max_jaccard_ppm, 0)::BIGINT AS max_jaccard_ppm,
       |  coalesce(n_dups, 0)::BIGINT AS n_dups, dup_of,
       |  coalesce(n_dups, 0) > 0 AS is_dup
       |FROM sh s LEFT JOIN agg USING (doc_id) ORDER BY conv_id""".stripMargin

  /** Replays [[graft.ops.TranscriptOps.transcriptPipeline]]: the shared
    * fork + dedup-core fragments, the canonical-is-min keep rule over the
    * conversation universe, the t_echo overlap replay rolled up per
    * conversation, and the d_pack shelf over the selected pool. */
  private def transcriptPipelineOracle: String = {
    val echoThr = graft.ops.TranscriptOps.DefaultEchoThresholdPpm
    val convThr = graft.ops.TranscriptOps.EchoConvThresholdPpm
    val budget = graft.ops.DocTextOps.DefaultPackBudget
    s"""WITH $convForkCtes,
       |$convDedupCoreCtes,
       |u AS (SELECT DISTINCT conv_id FROM allt),
       |dk AS (SELECT u.conv_id,
       |    coalesce(a.n_dups, 0) > 0 AS is_dup, a.dup_of,
       |    coalesce(a.n_dups, 0) = 0 OR u.conv_id < a.dup_of AS dedup_keep
       |  FROM u LEFT JOIN agg a ON u.conv_id = a.doc_id),
       |${dEchoCtes("allt")},
       |ce AS (SELECT conv_id, count(*)::BIGINT AS n_echo_scored,
       |    (sum(CASE WHEN overlap_ppm >= $echoThr THEN 1 ELSE 0 END) * 1000000
       |      // count(*))::BIGINT AS echo_ppm
       |  FROM eo GROUP BY 1),
       |lin AS (SELECT dk.conv_id, dk.conv_id LIKE '%~f' AS is_fork, dk.is_dup,
       |    dk.dup_of, dk.dedup_keep,
       |    coalesce(ce.n_echo_scored, 0)::BIGINT AS n_echo_scored, ce.echo_ppm,
       |    ce.echo_ppm IS NULL OR ce.echo_ppm < $convThr AS echo_keep,
       |    dk.dedup_keep AND (ce.echo_ppm IS NULL OR ce.echo_ppm < $convThr) AS selected
       |  FROM dk LEFT JOIN ce ON dk.conv_id = ce.conv_id),
       |tok AS (SELECT conv_id, sum(1 + len(string_split(text, ' ')))::BIGINT AS n_tokens
       |  FROM allt WHERE role IS NOT NULL GROUP BY 1),
       |sel AS (SELECT l.conv_id, t.n_tokens,
       |    CAST(regexp_extract(l.conv_id, '([0-9]+)', 1) AS BIGINT)
       |      + CASE WHEN l.conv_id LIKE '%~f' THEN 1000000000 ELSE 0 END AS conv_num
       |  FROM lin l JOIN tok t ON l.conv_id = t.conv_id WHERE l.selected),
       |pk AS (SELECT conv_num,
       |    COALESCE(sum(n_tokens) OVER (ORDER BY n_tokens DESC, conv_num
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
       |  FROM sel)
       |SELECT l.conv_id, l.is_fork, l.is_dup, l.dup_of, l.dedup_keep,
       |  l.n_echo_scored, l.echo_ppm, l.echo_keep, l.selected,
       |  CASE WHEN l.selected THEN tok.n_tokens END AS n_tokens,
       |  pk.cum_before // $budget AS pack_id,
       |  pk.cum_before % $budget AS pack_offset
       |FROM lin l
       |LEFT JOIN tok ON l.conv_id = tok.conv_id
       |LEFT JOIN sel ON l.conv_id = sel.conv_id
       |LEFT JOIN pk ON sel.conv_num = pk.conv_num
       |ORDER BY l.conv_id""".stripMargin
  }

  /** Replays [[graft.ops.TranscriptOps.convDedupIncr]]: the standing/
    * delta split and drop-last-turn retry twins as CTEs, the SAME shingle
    * + band fragments as [[convDedupOracle]] (hash-reduced — the stored
    * index keeps h32 values), a one-sided candidate probe whose partner
    * side is the standing set plus SMALLER-ID batchmates (the
    * incrementalMinhash intra-batch rule), delta membership decided by
    * the delta-universe CTE (set membership, not id patterns), and
    * admission verdicts over the FULL delta universe — fingerprint-less
    * conversations included. */
  private def convDedupIncrOracle: String = {
    val fm = graft.ops.TranscriptOps.ConvForkMod
    val thr = graft.ops.TranscriptOps.ConvDupThresholdPpm
    s"""WITH base AS (SELECT conv_id, turn_idx, text,
       |    max(turn_idx) OVER (PARTITION BY conv_id) AS max_idx
       |  FROM read_parquet('__VERIFY_OUT__/_raw_turns/*.parquet')
       |  WHERE text IS NOT NULL),
       |deltat AS (SELECT conv_id || '~f' AS conv_id, text FROM base
       |  WHERE ${dh32("conv_id")} % $fm = 0 AND turn_idx < max_idx
       |  UNION ALL
       |  SELECT conv_id, text FROM base WHERE ${dh32("conv_id")} % $fm = 1),
       |dl AS (SELECT DISTINCT conv_id AS doc_id FROM deltat),
       |allt AS (SELECT conv_id, text FROM base WHERE ${dh32("conv_id")} % $fm != 1
       |  UNION ALL SELECT conv_id, text FROM deltat),
       |sh AS (SELECT conv_id AS doc_id,
       |    list_sort(list_distinct([${dh32("g")} for g in
       |      list_distinct(flatten(list(shs)))])) AS shs FROM (
       |    SELECT conv_id, [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                     for i in range(1, len(ws) - 1)] AS shs
       |    FROM (SELECT conv_id, string_split(text, ' ') AS ws FROM allt)
       |    WHERE len(ws) >= 3) GROUP BY 1),
       |${dBandedCtesFrom(s"s % $P")},
       |cand AS (SELECT x.doc_id AS doc_id, y.doc_id AS partner
       |         FROM banded x
       |         JOIN dl dx ON x.doc_id = dx.doc_id
       |         JOIN banded y ON x.band = y.band AND x.key = y.key
       |          AND x.doc_id != y.doc_id
       |         LEFT JOIN dl dy ON y.doc_id = dy.doc_id
       |         WHERE dy.doc_id IS NULL OR y.doc_id < x.doc_id
       |         GROUP BY 1, 2),
       |${dJaccard(None)},
       |ver AS (SELECT c.doc_id, c.partner, coalesce(j.jaccard_ppm, 0) AS jaccard_ppm
       |        FROM cand c LEFT JOIN jac j
       |          ON j.da = least(c.doc_id, c.partner) AND j.db = greatest(c.doc_id, c.partner)),
       |agg AS (SELECT doc_id, count(*)::BIGINT AS n_candidates,
       |          max(jaccard_ppm)::BIGINT AS max_jaccard_ppm,
       |          sum(CASE WHEN jaccard_ppm >= $thr THEN 1 ELSE 0 END)::BIGINT AS n_dups,
       |          min(CASE WHEN jaccard_ppm >= $thr THEN partner END) AS dup_of
       |        FROM ver GROUP BY 1)
       |SELECT dl.doc_id AS conv_id, dl.doc_id LIKE '%~f' AS is_fork,
       |  coalesce(n_candidates, 0)::BIGINT AS n_candidates,
       |  coalesce(max_jaccard_ppm, 0)::BIGINT AS max_jaccard_ppm,
       |  coalesce(n_dups, 0)::BIGINT AS n_dups, dup_of,
       |  coalesce(n_dups, 0) = 0 AS admitted
       |FROM dl LEFT JOIN agg ON dl.doc_id = agg.doc_id
       |ORDER BY conv_id""".stripMargin
  }

  /** 60-bit hash: first 15 md5 hex chars (sign-safe in every engine). */
  private def dh60(col: String) = s"(('0x' || substr(md5($col), 1, 15))::BIGINT)"

  /** Squared integer-grid distance on the 2^-20 fixed-point grid — the ONE
    * arithmetic both Lloyd replays ([[kmeansOracle]], [[annIvfOracle]])
    * must mirror bit-exactly against the Spark side; shared so a future
    * grid/fold change cannot desynchronize one replay from the other. */
  private def dLloydDist(x: String, m: String, dim: Int) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [($x[i]-$m[i])*($x[i]-$m[i]) for i in range(1, ${dim + 1})]), (a,b) -> a+b)"

  /** CTE chain replaying every Lloyd round of [[Similarity.kmeans]] /
    * [[Similarity.semanticDedup]] on the same 2^-20 integer grid with the
    * same truncating division — engine-exact (a float k-means could not be
    * oracled). Returns (the `WITH …` prefix, the final-assignment relation
    * holding `vec_id, x, cl, d`); shared so the two replays cannot drift. */
  private def lloydCtes(k: Int, iters: Int, dim: Int): (String, String) = {
    def dist(x: String, m: String) = dLloydDist(x, m, dim)
    val sb = new StringBuilder
    sb ++= "WITH x AS (SELECT CAST(vec_id AS BIGINT) vec_id, [CAST(floor(v::DOUBLE * 1048576) AS BIGINT) for v in embedding] AS x FROM embeddings),\n"
    sb ++= s"c0 AS (SELECT CAST(vec_id AS BIGINT) cl, x AS m FROM x WHERE vec_id < $k)"
    var prev = "c0"
    for (it <- 1 to iters) {
      sb ++= s""",
                |a$it AS (SELECT vec_id, x, min((d, cl))[2] AS cl, min(d) AS d FROM (
                |  SELECT x.vec_id, x.x, c.cl, ${dist("x.x", "c.m")} AS d FROM x, $prev c) GROUP BY 1, 2)""".stripMargin
      if (it < iters) {
        sb ++= s""",
                  |c$it AS (SELECT cl, list(s // n ORDER BY pos) AS m FROM (
                  |  SELECT cl, i AS pos, sum(x[i]) AS s, count(*) AS n
                  |  FROM a$it, range(1, ${dim + 1}) r(i) GROUP BY 1, 2) GROUP BY cl)""".stripMargin
        prev = s"c$it"
      }
    }
    (sb.toString, s"a$iters")
  }

  /** Replays [[Similarity.annPq]]: per-subspace Lloyd codebook chains on
    * vector slices (same integer grid, same smallest-cl argmin via the
    * struct-min), the encode assignment, per-query ADC tables, table-sum
    * approximate ranking, and the exact-grid-top-k validation flag. */
  private def pqOracle: String = {
    val m = Similarity.PqSubspaces
    val ks = Similarity.PqCodebook
    val rounds = Similarity.PqTrainRounds
    val (nQ, k) = (20, 5)
    val dim = 64
    val dsub = dim / m
    val sb = new StringBuilder
    sb ++= "WITH x AS (SELECT CAST(vec_id AS BIGINT) vec_id, [CAST(floor(v::DOUBLE * 1048576) AS BIGINT) for v in embedding] AS x FROM embeddings)"
    for (s <- 0 until m) {
      val (lo, hi) = (s * dsub + 1, (s + 1) * dsub)
      sb ++= s",\nxs$s AS (SELECT vec_id, x[$lo:$hi] AS x FROM x)"
      sb ++= s",\ns${s}c0 AS (SELECT vec_id AS cl, x AS m FROM xs$s WHERE vec_id < $ks)"
      var prev = s"s${s}c0"
      for (it <- 1 to rounds + 1) { // last assignment = the encode pass
        sb ++= s""",
          |s${s}a$it AS (SELECT vec_id, x, min((d, cl))[2] AS cl FROM (
          |  SELECT x.vec_id, x.x, c.cl, ${dLloydDist("x.x", "c.m", dsub)} AS d
          |  FROM xs$s x, $prev c) GROUP BY 1, 2)""".stripMargin
        if (it <= rounds) {
          sb ++= s""",
            |s${s}c$it AS (SELECT cl, list(s // n ORDER BY pos) AS m FROM (
            |  SELECT cl, i AS pos, sum(x[i]) AS s, count(*) AS n
            |  FROM s${s}a$it, range(1, ${dsub + 1}) r(i) GROUP BY 1, 2) GROUP BY cl)""".stripMargin
          prev = s"s${s}c$it"
        }
      }
      // per-query exact subspace distance to every surviving centroid
      sb ++= s""",
        |dq$s AS (SELECT q.vec_id AS query_id, c.cl, ${dLloydDist("q.x", "c.m", dsub)} AS d
        |         FROM xs$s q, s${s}c$rounds c WHERE q.vec_id < $nQ),
        |contrib$s AS (SELECT dq.query_id, e.vec_id AS neighbor_id, dq.d
        |              FROM s${s}a${rounds + 1} e JOIN dq$s dq USING (cl))""".stripMargin
    }
    val unions = (0 until m).map(s => s"SELECT * FROM contrib$s").mkString("\nUNION ALL ")
    sb ++= s""",
      |adist AS (SELECT query_id, neighbor_id, sum(d)::BIGINT AS adist
      |          FROM ($unions)
      |          WHERE neighbor_id != query_id GROUP BY 1, 2),
      |aranked AS (SELECT query_id, neighbor_id, adist,
      |    row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
      |  FROM adist),
      |exact AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |                       ORDER BY ${dLloydDist("q.x", "x.x", dim)}, x.vec_id) AS er
      |  FROM x q JOIN x ON x.vec_id != q.vec_id WHERE q.vec_id < $nQ)
      |SELECT a.query_id, a.rank::BIGINT AS rank, a.neighbor_id, a.adist,
      |  e.neighbor_id IS NOT NULL AS in_exact_topk
      |FROM aranked a LEFT JOIN (SELECT query_id, neighbor_id FROM exact WHERE er <= $k) e
      |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |WHERE a.rank <= $k
      |ORDER BY a.query_id, a.rank""".stripMargin
    sb.toString
  }

  /** Replays [[Similarity.annIvfAppend]]: [[annIvfOracle]]'s chain with
    * training restricted to the STANDING slice (outside the shared
    * deltaMod rule), cells seeded from the first nCells standing ids under
    * a DENSE rank (= Spark's array index), frozen-centroid assignment and
    * search over the FULL corpus, and the from_delta provenance flag. */
  /** CTE prefix `base,xg,xb,t0..tN` training STANDING-slice IVF cells with
    * a DENSE index (= Spark's array position): xg = the 2^-20 grid, xb =
    * the slice outside the deltaMod rule, seeds = the first nCells
    * standing ids, then the Lloyd rounds with dead-cell keep. Shared by
    * the `e_ann_incr` and `e_ann_drift` oracles so the training replays
    * cannot drift. Returns (prefix, final-cells CTE name). */
  private def standingIvfCtes(nCells: Int, trainIters: Int, dim: Int, dm: Int): (String, String) = {
    def dist(x: String, m: String) = dLloydDist(x, m, dim)
    val train = new StringBuilder
    train ++= "WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
    train ++= s"xg AS (SELECT vec_id, [CAST(floor(e * 1048576) AS BIGINT) for e in v] AS x FROM base),\n"
    train ++= s"xb AS (SELECT * FROM xg WHERE (vec_id % $dm) != ${dm - 1}),\n"
    train ++= s"t0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, x AS m FROM " +
      s"(SELECT vec_id, x FROM xb ORDER BY vec_id LIMIT $nCells))"
    var prev = "t0"
    for (it <- 1 to trainIters) {
      train ++= s""",
                   |ta$it AS (SELECT vec_id, x, min((d, cl))[2] AS cl FROM (
                   |  SELECT xb.vec_id, xb.x, c.cl, ${dist("xb.x", "c.m")} AS d FROM xb, $prev c) GROUP BY 1, 2),
                   |t$it AS (SELECT p.cl, coalesce(u.m, p.m) AS m FROM $prev p LEFT JOIN (
                   |  SELECT cl, list(s // n ORDER BY pos) AS m FROM (
                   |    SELECT cl, i AS pos, sum(x[i]) AS s, count(*) AS n
                   |    FROM ta$it, range(1, ${dim + 1}) r(i) GROUP BY 1, 2) GROUP BY cl) u ON u.cl = p.cl)""".stripMargin
      prev = s"t$it"
    }
    (train.toString, prev)
  }

  private def annIvfAppendOracle: String = {
    val (nCells, nProbe, nQ, k, trainIters, dim) = (32, 3, 20, 5, 2, 64)
    val dm = Similarity.IvfAppendDeltaMod
    val (train, prev) = standingIvfCtes(nCells, trainIters, dim, dm)
    s"""$train,
       |cents AS (SELECT cl AS cent_id, [mm / 1048576.0 for mm in m] AS cv FROM $prev),
       |simsq AS (SELECT b.vec_id, c.cent_id, ${dCos("b.v", "c.cv")} AS csim
       |          FROM base b CROSS JOIN cents c),
       |ranked AS (SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
       |  FROM simsq),
       |assign AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cent_id AS cell
       |           FROM ranked WHERE vec_id < $nQ AND rn <= $nProbe),
       |cand AS (SELECT p.query_id, CAST(a.cell AS INT) AS cell, b.vec_id AS neighbor_id,
       |           ${dCos("q.v", "b.v")} AS sim
       |         FROM probes p
       |         JOIN assign a ON a.cell = p.cell
       |         JOIN base b ON b.vec_id = a.vec_id AND b.vec_id != p.query_id
       |         JOIN base q ON q.vec_id = p.query_id)
       |SELECT query_id, rank, neighbor_id, cell, sim,
       |  (neighbor_id % $dm) = ${dm - 1} AS from_delta FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM cand) WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Replays [[Similarity.annIvfDrift]]: the SAME standing-slice training
    * chain ([[standingIvfCtes]]), then every vector's min-(d, cl) grid
    * assignment with its squared distance, aggregated per cell into
    * standing/delta counts, exact sums and truncating-integer means. */
  private def annIvfDriftOracle: String = {
    val (nCells, trainIters, dim) = (32, 2, 64)
    val dm = Similarity.IvfAppendDeltaMod
    val (train, prev) = standingIvfCtes(nCells, trainIters, dim, dm)
    def s(cond: String) = s"sum(CASE WHEN $cond THEN 1 ELSE 0 END)::BIGINT"
    def ds(cond: String) = s"coalesce(sum(CASE WHEN $cond THEN d END), 0)::BIGINT"
    s"""$train,
       |ad AS (SELECT vec_id, is_delta, m[2] AS cell, m[1] AS d FROM (
       |  SELECT vec_id, (vec_id % $dm) = ${dm - 1} AS is_delta, min((d, cl)) AS m FROM (
       |    SELECT xg.vec_id, c.cl, ${dLloydDist("xg.x", "c.m", dim)} AS d
       |    FROM xg, $prev c) GROUP BY 1, 2))
       |SELECT CAST(cell AS INT) AS cell,
       |  ${s("NOT is_delta")} AS n_standing,
       |  ${s("is_delta")} AS n_delta,
       |  ${ds("NOT is_delta")} AS standing_sqdist_sum,
       |  ${ds("is_delta")} AS delta_sqdist_sum,
       |  CASE WHEN ${s("NOT is_delta")} > 0
       |       THEN ${ds("NOT is_delta")} // ${s("NOT is_delta")} END AS standing_msd,
       |  CASE WHEN ${s("is_delta")} > 0
       |       THEN ${ds("is_delta")} // ${s("is_delta")} END AS delta_msd
       |FROM ad GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Replays [[Similarity.annIvfRetrain]]: the shared standing training
    * chain ([[standingIvfCtes]]) gives the frozen cells; per scenario
    * (`g0` = the raw grid, `g1` = delta shifted out of the training cube
    * by `+ RetrainDriftShift`)
    * the per-slice frozen fit, the `delta_msd > factor·standing_msd`
    * decision, the warm-start Lloyd rounds seeded from the frozen cells
    * (dead-cell keep) and the retrained fit — then a CASE on the decision
    * picks the ACTIONED index's msd, exactly the loop the Spark side runs.
    * All exact integer arithmetic; the grid straddles 0 (testdata floats
    * are zero-centered) but DuckDB `//` and Java `/` both truncate toward
    * zero, so the centroid-mean and msd divisions replay bit-for-bit. */
  private def annIvfRetrainOracle: String = {
    val (nCells, trainIters, dim) = (32, 2, 64)
    val dm = Similarity.IvfAppendDeltaMod
    val factor = Similarity.RetrainMsdFactor
    val shift = Similarity.RetrainDriftShift
    val (train, frozen) = standingIvfCtes(nCells, trainIters, dim, dm)
    def dist(x: String, m: String) = dLloydDist(x, m, dim)
    // per-slice fit of scenario table `g` under centroid CTE `cents`:
    // nearest-cell sqdist per vector, then (n, Σd) per slice — shared by
    // the frozen (f*) and post-retrain (rt*) measurements so the fit
    // replay cannot drift between them
    def fitCtes(p: String, g: String, cents: String) =
      s""",
        |${p}a AS (SELECT vec_id, (vec_id % $dm) = ${dm - 1} AS is_delta,
        |    min((d, cl))[1] AS d FROM (
        |  SELECT g.vec_id, c.cl, ${dist("g.x", "c.m")} AS d FROM $g g, $cents c)
        |  GROUP BY 1, 2),
        |$p AS (SELECT is_delta, count(*)::BIGINT AS n, sum(d)::BIGINT AS s
        |       FROM ${p}a GROUP BY 1)""".stripMargin
    val sb = new StringBuilder(train)
    sb ++= s""",
      |g0 AS (SELECT vec_id, x FROM xg),
      |g1 AS (SELECT vec_id, CASE WHEN (vec_id % $dm) = ${dm - 1}
      |         THEN [xi + $shift for xi in x] ELSE x END AS x FROM xg)""".stripMargin
    for (s <- 0 to 1) {
      sb ++= fitCtes(s"f$s", s"g$s", frozen)
      sb ++= s""",
        |due$s AS (SELECT (SELECT s // n FROM f$s WHERE is_delta) >
        |  $factor * (SELECT s // n FROM f$s WHERE NOT is_delta) AS due)""".stripMargin
      var prev = frozen
      for (it <- 1 to trainIters) {
        sb ++= s""",
          |r${s}a$it AS (SELECT vec_id, x, min((d, cl))[2] AS cl FROM (
          |  SELECT g.vec_id, g.x, c.cl, ${dist("g.x", "c.m")} AS d
          |  FROM g$s g, $prev c) GROUP BY 1, 2),
          |r$s$it AS (SELECT p.cl, coalesce(u.m, p.m) AS m FROM $prev p LEFT JOIN (
          |  SELECT cl, list(s // n ORDER BY pos) AS m FROM (
          |    SELECT cl, i AS pos, sum(x[i]) AS s, count(*) AS n
          |    FROM r${s}a$it, range(1, ${dim + 1}) r(i) GROUP BY 1, 2) GROUP BY cl) u
          |  ON u.cl = p.cl)""".stripMargin
        prev = s"r$s$it"
      }
      sb ++= fitCtes(s"rt$s", s"g$s", prev)
    }
    def scen(s: Int, name: String) =
      s"""SELECT '$name' AS scenario,
         |  CASE WHEN f.is_delta THEN 'delta' ELSE 'standing' END AS slice,
         |  f.n, f.s // f.n AS frozen_msd,
         |  CASE WHEN (SELECT due FROM due$s) THEN r.s // r.n
         |       ELSE f.s // f.n END AS result_msd,
         |  (SELECT due FROM due$s) AS retrain_due
         |FROM f$s f JOIN rt$s r USING (is_delta)""".stripMargin
    sb ++= s"""
      |SELECT scenario, slice, n, frozen_msd, result_msd, retrain_due FROM (
      |${scen(0, "in_dist")}
      |UNION ALL
      |${scen(1, "drifted")}
      |) ORDER BY scenario, slice""".stripMargin
    sb.toString
  }

  /** Replays [[Similarity.annIvfPq]]: the coarse Lloyd chain with
    * dead-cell keep (the [[annIvfOracle]] rule), per-vector integer
    * residuals, per-subspace residual codebook chains with dead-code drop
    * (the [[pqOracle]] rule), probe ranking by (coarse distance, cell),
    * the per-(query, probed-cell) ADC contributions summed across
    * subspaces, and the exact-grid-top-k validation flag. All squared-L2
    * integer arithmetic — `//` and Java `/` both truncate toward zero, so
    * the signed residual means replay exactly. */
  private def ivfPqOracle: String = {
    val nCells = Similarity.IvfPqCells
    val nProbe = Similarity.IvfPqProbe
    val cr = Similarity.IvfPqCoarseRounds
    val m = Similarity.PqSubspaces
    val ks = Similarity.PqCodebook
    val rounds = Similarity.PqTrainRounds
    val (nQ, k) = (20, 5)
    val dim = 64
    val dsub = dim / m
    val sb = new StringBuilder
    sb ++= "WITH x AS (SELECT CAST(vec_id AS BIGINT) vec_id, [CAST(floor(v::DOUBLE * 1048576) AS BIGINT) for v in embedding] AS x FROM embeddings)"
    // ---- coarse chain: seeds = vec_id < nCells, dead cells KEEP their
    // previous centroid (cell indices must stay stable)
    sb ++= s",\ng0 AS (SELECT vec_id AS cl, x AS m FROM x WHERE vec_id < $nCells)"
    var prev = "g0"
    for (it <- 1 to cr) {
      sb ++= s""",
        |ga$it AS (SELECT vec_id, x, min((d, cl))[2] AS cl FROM (
        |  SELECT x.vec_id, x.x, c.cl, ${dLloydDist("x.x", "c.m", dim)} AS d
        |  FROM x, $prev c) GROUP BY 1, 2),
        |g$it AS (SELECT p.cl, coalesce(u.m, p.m) AS m FROM $prev p LEFT JOIN (
        |  SELECT cl, list(s // n ORDER BY pos) AS m FROM (
        |    SELECT cl, i AS pos, sum(x[i]) AS s, count(*) AS n
        |    FROM ga$it, range(1, ${dim + 1}) r(i) GROUP BY 1, 2) GROUP BY cl) u ON u.cl = p.cl)""".stripMargin
      prev = s"g$it"
    }
    // ---- final assignment + integer residuals
    sb ++= s""",
      |asg AS (SELECT vec_id, min((d, cl))[2] AS cell FROM (
      |  SELECT x.vec_id, c.cl, ${dLloydDist("x.x", "c.m", dim)} AS d
      |  FROM x, $prev c) GROUP BY 1),
      |rs AS (SELECT a.vec_id, a.cell, [q.x[i] - c.m[i] for i in range(1, ${dim + 1})] AS r
      |       FROM asg a JOIN x q ON q.vec_id = a.vec_id JOIN $prev c ON c.cl = a.cell)""".stripMargin
    // ---- per-subspace residual codebook chains; last assignment = encode
    for (s <- 0 until m) {
      val (lo, hi) = (s * dsub + 1, (s + 1) * dsub)
      sb ++= s",\nr$s AS (SELECT vec_id, r[$lo:$hi] AS x FROM rs)"
      sb ++= s",\nb${s}c0 AS (SELECT vec_id AS cl, x AS m FROM r$s WHERE vec_id < $ks)"
      var bp = s"b${s}c0"
      for (it <- 1 to rounds + 1) {
        sb ++= s""",
          |b${s}a$it AS (SELECT vec_id, x, min((d, cl))[2] AS cl FROM (
          |  SELECT x.vec_id, x.x, c.cl, ${dLloydDist("x.x", "c.m", dsub)} AS d
          |  FROM r$s x, $bp c) GROUP BY 1, 2)""".stripMargin
        if (it <= rounds) {
          sb ++= s""",
            |b${s}c$it AS (SELECT cl, list(s // n ORDER BY pos) AS m FROM (
            |  SELECT cl, i AS pos, sum(x[i]) AS s, count(*) AS n
            |  FROM b${s}a$it, range(1, ${dsub + 1}) r(i) GROUP BY 1, 2) GROUP BY cl)""".stripMargin
          bp = s"b${s}c$it"
        }
      }
    }
    // ---- probes by (coarse distance, cell), query residual per probed cell
    sb ++= s""",
      |qp AS (SELECT query_id, cl AS cell FROM (
      |  SELECT query_id, cl, row_number() OVER (PARTITION BY query_id ORDER BY d, cl) AS rn
      |  FROM (SELECT x.vec_id AS query_id, c.cl, ${dLloydDist("x.x", "c.m", dim)} AS d
      |        FROM x, $prev c WHERE x.vec_id < $nQ)) WHERE rn <= $nProbe),
      |qr AS (SELECT p.query_id, p.cell, [q.x[i] - c.m[i] for i in range(1, ${dim + 1})] AS qr
      |       FROM qp p JOIN x q ON q.vec_id = p.query_id JOIN $prev c ON c.cl = p.cell)""".stripMargin
    // ---- ADC contributions: candidate's code centroid vs query residual
    for (s <- 0 until m) {
      val (lo, hi) = (s * dsub + 1, (s + 1) * dsub)
      sb ++= s""",
        |ct$s AS (SELECT q.query_id, a.vec_id AS neighbor_id, a.cell,
        |    ${dLloydDist("q.qs", "bk.m", dsub)} AS dd
        |  FROM (SELECT query_id, cell, qr[$lo:$hi] AS qs FROM qr) q
        |  JOIN asg a ON a.cell = q.cell AND a.vec_id != q.query_id
        |  JOIN b${s}a${rounds + 1} e ON e.vec_id = a.vec_id
        |  JOIN b${s}c$rounds bk ON bk.cl = e.cl)""".stripMargin
    }
    val unions = (0 until m).map(s => s"SELECT * FROM ct$s").mkString("\nUNION ALL ")
    sb ++= s""",
      |adist AS (SELECT query_id, neighbor_id, cell, sum(dd)::BIGINT AS adist
      |          FROM ($unions) GROUP BY 1, 2, 3),
      |aranked AS (SELECT query_id, neighbor_id, cell, adist,
      |    row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
      |  FROM adist),
      |exact AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |                       ORDER BY ${dLloydDist("q.x", "x.x", dim)}, x.vec_id) AS er
      |  FROM x q JOIN x ON x.vec_id != q.vec_id WHERE q.vec_id < $nQ)
      |SELECT a.query_id, a.rank::BIGINT AS rank, a.neighbor_id,
      |  CAST(a.cell AS INT) AS cell, a.adist,
      |  e.neighbor_id IS NOT NULL AS in_exact_topk
      |FROM aranked a LEFT JOIN (SELECT query_id, neighbor_id FROM exact WHERE er <= $k) e
      |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |WHERE a.rank <= $k
      |ORDER BY a.query_id, a.rank""".stripMargin
    sb.toString
  }

  private def kmeansOracle: String = {
    val (ctes, fin) = lloydCtes(8, 3, 64)
    s"""$ctes
       |SELECT cl AS cluster, count(*)::BIGINT AS n_members, min(vec_id) AS min_vec_id,
       |  sum(d)::BIGINT AS inertia
       |FROM $fin GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Replays [[Similarity.semanticDedup]]: the Lloyd assignment above, then
    * within-cluster pair verdicts with the same left-fold cosine — a vector
    * is dropped iff some same-cluster smaller-id vector clears the shared
    * threshold. */
  private def semanticDedupOracle: String = {
    val (ctes, fin) = lloydCtes(8, 3, 64)
    val t = s"CAST('${Similarity.DefaultSemThreshold}' AS DOUBLE)"
    s"""$ctes,
       |base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |asg AS (SELECT a.vec_id, a.cl AS cluster, b.v FROM $fin a JOIN base b USING (vec_id)),
       |drp AS (SELECT DISTINCT y.vec_id FROM asg x JOIN asg y
       |          ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |        WHERE ${dCos("x.v", "y.v")} >= $t)
       |SELECT a.vec_id, a.cluster, d.vec_id IS NULL AS kept
       |FROM asg a LEFT JOIN drp d USING (vec_id) ORDER BY a.vec_id""".stripMargin
  }

  /** Replays [[GraphOps.pagerank]]'s integer rank flow (ppb ranks, 85/100
    * damping, truncating division) over the same deterministic citation
    * overlay — engine-exact across all rounds. */
  private def pagerankOracle: String = {
    // sum() returns HUGEINT in DuckDB — cast back to BIGINT so the typed
    // hash of rank_ppb matches Spark's LongType output (the r3 red row).
    def it(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT nodes.id, CAST((CAST(150000000 AS BIGINT) // (SELECT n FROM nn)) + 85 * COALESCE(c.s, CAST(0 AS BIGINT)) // 100 AS BIGINT) AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS id, sum(x.r // d.outdeg)::BIGINT AS s
         |    FROM $prev x JOIN deg d ON x.id = d.src JOIN e ON e.src = x.id
         |    GROUP BY 1) c ON nodes.id = c.id)""".stripMargin
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
       |nodes AS (SELECT doc_id AS id FROM documents),
       |e AS (SELECT DISTINCT src, dst FROM (
       |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
       |  UNION ALL SELECT doc_id, doc_id // 3 FROM documents
       |  UNION ALL SELECT doc_id, (doc_id * 131 + 17) % (SELECT n FROM nn) FROM documents
       |) WHERE src != dst),
       |deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY 1),
       |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) // (SELECT n FROM nn) AS r FROM nodes),
       |${it("r0", "r1")},
       |${it("r1", "r2")},
       |${it("r2", "r3")}
       |SELECT id AS doc_id, r::BIGINT AS rank_ppb FROM r3 ORDER BY r DESC, id LIMIT 20""".stripMargin
  }

  // BMP arithmetic mirrored from graft.core.media.MediaCodec: 24-bpp,
  // 54-byte headers, rows padded to 4 bytes; dims derived as in
  // Multimodal.synthesize. WAV: 44-byte canonical header + 1 byte/sample.
  private val dModality =
    "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END"
  // corrupt-header twin rule (Multimodal.corruptHeaders) — zeroed magic
  // byte ⇒ the sniffer must answer (0, 0, false)
  private val dHdrCorrupt =
    s"doc_id % ${Multimodal.HeaderCorruptMod} = 0 AND doc_id % 3 != 1"
  private val dBmpW = "(n_chars % 64 + 1)"
  private val dBmpH = "(n_chars % 48 + 1)"
  private val dBmpBytes = s"(54 + (($dBmpW * 3 + 3) // 4 * 4) * $dBmpH)"
  // Y4M arithmetic mirrored from MediaCodec.encodeY4m / Multimodal video
  // synthesis: text stream header (its length depends on the dim digits),
  // then per frame 'FRAME\n' + W*H*3 C444 plane bytes
  private val dVidW = "(n_chars % 16 + 1)"
  private val dVidH = "(n_chars % 12 + 1)"
  private val dVidFrames = "(strlen(text) // 64 + 1)"
  private def dY4mHeader(w: String, h: String) =
    s"(length('YUV4MPEG2 W' || $w || ' H' || $h || ' F25:1 Ip A1:1 C444') + 1)"
  private val dVidBytes =
    s"(${dY4mHeader(dVidW, dVidH)} + $dVidFrames * (6 + $dVidW * $dVidH * 3))"

  private def simhashCte: String =
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |th AS (SELECT doc_id, ${dh60("w")} AS h FROM tok),
       |votes AS (SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |          FROM th, range(0, ${graft.ops.Dedup.SimhashBits}) t(b) GROUP BY 1, 2),
       |simt AS (SELECT doc_id,
       |           CAST(SUM(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
       |         FROM votes GROUP BY 1)""".stripMargin

  private def annOracle: String = {
    def planeComp(p: Int) =
      s"(('0x' || substr(md5('plane-' || $p || '-' || (i - 1)), 1, 8))::BIGINT / 2147483648.0 - 1.0)"
    def dot(p: Int) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), [v[i] * ${planeComp(p)} for i in range(1, len(v) + 1)]), (acc, y) -> acc + y)"
    val bucket = (0 until Similarity.AnnPlanes)
      .map(p => s"(CASE WHEN ${dot(p)} >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")
    val probes = Similarity.probeMasks.map(m => s"xor(bucket, $m)")
      .mkString("[", ", ", "]")
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |bkt AS (SELECT vec_id, v, CAST($bucket AS BIGINT) AS bucket FROM base),
       |q AS (SELECT vec_id AS query_id, qv, CAST(pb AS BIGINT) AS bucket FROM (
       |    SELECT vec_id, v AS qv, unnest($probes) AS pb FROM bkt WHERE vec_id < 20)),
       |scored AS (SELECT query_id, b.bucket, b.vec_id AS neighbor_id, ${dCos("qv", "v")} AS sim
       |           FROM bkt b JOIN q USING (bucket) WHERE b.vec_id != query_id)
       |SELECT query_id, rank, neighbor_id, bucket, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** XML re-render of the t_segment dump (the segmentation itself is
    * core-oracled in sbt test; THIS checks the `data_models.py:7-32` output
    * format independently): rebuild each row's element lines and the
    * pretty-print layout with pure string ops over the dumped segments. */
  private def xmlOracle: String = {
    def esc(v: String) =
      s"replace(replace(replace($v, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    def num(k: String) = s"'    <$k>' || CAST($k AS VARCHAR) || '</$k>' || chr(10)"
    def str(k: String) =
      s"(CASE WHEN $k = '' THEN '    <$k/>' ELSE '    <$k>' || ${esc(k)} || '</$k>' END) || chr(10)"
    // field order mirrors graft.core.xml.SubDocXml.fields; numeric fields
    // are never empty (the segment schema is non-optional)
    val lines = Seq(num("DocReceivedId"), num("FromPageNumber"), num("ToPageNumber"),
      str("FileNumber"), str("DocumentTypeId"), num("UploadDataSheetId"),
      num("TotalNumberOfpages"), num("NoOfPages"), str("Sequence"), str("SessionId"))
      .mkString(" ||\n    ")
    s"""WITH seg AS (SELECT * FROM read_parquet('__VERIFY_OUT__/t_segment/*.parquet')
       |            WHERE conv_id < 'conv-00000050'),
       |rows_xml AS (SELECT conv_id,
       |    COALESCE(TRY_CAST(Sequence AS INTEGER), 999) AS seqk,
       |    '  <SubDocumentRow>' || chr(10) ||
       |    $lines
       |    || '  </SubDocumentRow>' || chr(10) AS rx
       |  FROM seg)
       |SELECT conv_id,
       |  '<SubDocumentDetails>' || chr(10) || string_agg(rx, '' ORDER BY seqk) ||
       |  '</SubDocumentDetails>' || chr(10) AS xml
       |FROM rows_xml GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Cavnar–Trenkle rank-distance language ID in SQL. The per-language
    * ranked profiles are emitted as literal VALUES rows from the SAME
    * constants the Scala kernel uses (`TrigramLangId.languageProfiles`), so
    * the two cannot drift. */
  private def trigramOracle: String =
    s"""WITH ${dTrigramCtes("documents")}
       |SELECT doc_id, lang_declared, lang_pred, dist_de, dist_en, dist_es, dist_fr
       |FROM lid ORDER BY doc_id""".stripMargin

  /** Trigram language-ID CTEs replaying
    * [[graft.ops.DocTextOps.langIdTrigram]] over `src` (profiles as
    * literal VALUES rows) — yields `lid(doc_id, lang_declared, lang_pred,
    * dist_*)`. ONE builder shared by the `d_langid_trigram` and `d_ccnet`
    * oracles so the rank-distance replay cannot drift. */
  private def dTrigramCtes(src: String): String = {
    import graft.core.text.TrigramLangId
    val profRows = TrigramLangId.Langs.flatMap { l =>
      TrigramLangId.languageProfiles(l).toSeq.sortBy(_._2).map { case (t, r) =>
        s"('$l', '${t.replace("'", "''")}', $r)"
      }
    }.mkString(", ")
    val pen = TrigramLangId.ProfileSize
    val maxL = Long.MaxValue
    s"""docw AS (SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(lower(text), '[^\\p{L}]+'), w -> length(w) > 0) AS ws
       |  FROM $src),
       |tg AS (SELECT doc_id,
       |    unnest(flatten([[substring('_' || w || '_', i, 3) for i in range(1, length(w) + 1)] for w in ws])) AS t
       |  FROM docw),
       |tcnt AS (SELECT doc_id, t, count(*) AS c FROM tg GROUP BY 1, 2),
       |dp AS (SELECT doc_id, t, r FROM (
       |    SELECT doc_id, t, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, t) - 1 AS r FROM tcnt)
       |  WHERE r < $pen),
       |lp(lang, t, lr) AS (VALUES $profRows),
       |dist AS (SELECT dp.doc_id, lc.l AS lang,
       |    CAST(SUM(CASE WHEN lp.lr IS NULL THEN $pen ELSE abs(dp.r - lp.lr) END) AS BIGINT) AS d
       |  FROM dp CROSS JOIN (SELECT unnest(['de','en','es','fr']) AS l) lc
       |  LEFT JOIN lp ON lp.lang = lc.l AND lp.t = dp.t
       |  GROUP BY 1, 2),
       |piv AS (SELECT doc_id,
       |    MAX(CASE WHEN lang = 'de' THEN d END) AS dist_de,
       |    MAX(CASE WHEN lang = 'en' THEN d END) AS dist_en,
       |    MAX(CASE WHEN lang = 'es' THEN d END) AS dist_es,
       |    MAX(CASE WHEN lang = 'fr' THEN d END) AS dist_fr
       |  FROM dist GROUP BY 1),
       |lid AS (SELECT d.doc_id, d.lang AS lang_declared,
       |  CASE WHEN p.doc_id IS NULL THEN 'und'
       |       WHEN p.dist_de <= p.dist_en AND p.dist_de <= p.dist_es AND p.dist_de <= p.dist_fr THEN 'de'
       |       WHEN p.dist_en <= p.dist_es AND p.dist_en <= p.dist_fr THEN 'en'
       |       WHEN p.dist_es <= p.dist_fr THEN 'es'
       |       ELSE 'fr' END AS lang_pred,
       |  COALESCE(p.dist_de, $maxL) AS dist_de,
       |  COALESCE(p.dist_en, $maxL) AS dist_en,
       |  COALESCE(p.dist_es, $maxL) AS dist_es,
       |  COALESCE(p.dist_fr, $maxL) AS dist_fr
       |FROM docw d LEFT JOIN piv p ON d.doc_id = p.doc_id)""".stripMargin
  }

  /** IVF ANN oracle: replays the deterministic Lloyd TRAINING rounds of
    * [[Similarity.annIvf]] (2^-20 integer grid, min-(d, cl) tie-break,
    * `// `-update, empty cell keeps its previous centroid), converts the
    * trained centroids back to DOUBLE with the exact /2^20, then the same
    * argmax assignment, probe ranking and exact rerank — all cosines the
    * same left-fold arithmetic. */
  private def annIvfOracle: String = {
    // constants mirror Similarity.annIvf's defaults (32 cells, 3 probes,
    // 2 training rounds); dim 64 matches the driver testdata (as e_kmeans)
    val (nCells, nProbe, nQ, k, trainIters, dim, trainMod) = (32, 3, 20, 5, 2, 64, 1)
    def dist(x: String, m: String) = dLloydDist(x, m, dim)
    val train = new StringBuilder
    train ++= s"xg AS (SELECT vec_id, [CAST(floor(e * 1048576) AS BIGINT) for e in v] AS x FROM base),\n"
    // xt = the training sample; trainMod mirrors Similarity.annIvf's md5
    // hash-bucket rule (the 100 TB knob — 1 = full corpus on the small
    // test corpora, where sampling under ~64 points/cell craters recall)
    train ++= (if (trainMod == 1) "xt AS (SELECT * FROM xg),\n"
               else s"xt AS (SELECT * FROM xg WHERE ${dh32("CAST(vec_id AS BIGINT)::VARCHAR")} % $trainMod = 0),\n")
    train ++= s"t0 AS (SELECT vec_id AS cl, x AS m FROM xg WHERE vec_id < $nCells)"
    var prev = "t0"
    for (it <- 1 to trainIters) {
      train ++= s""",
                   |ta$it AS (SELECT vec_id, x, min((d, cl))[2] AS cl FROM (
                   |  SELECT xt.vec_id, xt.x, c.cl, ${dist("xt.x", "c.m")} AS d FROM xt, $prev c) GROUP BY 1, 2),
                   |t$it AS (SELECT p.cl, coalesce(u.m, p.m) AS m FROM $prev p LEFT JOIN (
                   |  SELECT cl, list(s // n ORDER BY pos) AS m FROM (
                   |    SELECT cl, i AS pos, sum(x[i]) AS s, count(*) AS n
                   |    FROM ta$it, range(1, ${dim + 1}) r(i) GROUP BY 1, 2) GROUP BY cl) u ON u.cl = p.cl)""".stripMargin
      prev = s"t$it"
    }
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$train,
       |cents AS (SELECT cl AS cent_id, [mm / 1048576.0 for mm in m] AS cv FROM $prev),
       |simsq AS (SELECT b.vec_id, c.cent_id, ${dCos("b.v", "c.cv")} AS csim
       |          FROM base b CROSS JOIN cents c),
       |ranked AS (SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
       |  FROM simsq),
       |assign AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cent_id AS cell
       |           FROM ranked WHERE vec_id < $nQ AND rn <= $nProbe),
       |cand AS (SELECT p.query_id, CAST(a.cell AS INT) AS cell, b.vec_id AS neighbor_id,
       |           ${dCos("q.v", "b.v")} AS sim
       |         FROM probes p
       |         JOIN assign a ON a.cell = p.cell
       |         JOIN base b ON b.vec_id = a.vec_id AND b.vec_id != p.query_id
       |         JOIN base q ON q.vec_id = p.query_id)
       |SELECT query_id, rank, neighbor_id, cell, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM cand) WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  private def knnOracle: String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 20),
       |scored AS (SELECT query_id, b.vec_id AS neighbor_id, ${dCos("qv", "v")} AS sim
       |           FROM base b, q WHERE b.vec_id != query_id)
       |SELECT query_id, rank, neighbor_id, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "e_ann_ivf" -> annIvfOracle,
    // oracles over other queries' dumps (__VERIFY_OUT__ → Verify's outDir):
    // consolidation re-derived per turn with ordered string_agg; lineage
    // totals re-counted from the extracted rows; XML re-rendered from the
    // segment rows; trigram language-ID recomputed from literal profiles
    "t_consolidate" ->
      """SELECT conv_id, count(*) AS n_turns,
        |  CAST(SUM(length('=== turn ' || turn_idx || ' ===' || chr(10) || text)) + count(*) - 1 AS BIGINT) AS n_chars,
        |  md5(string_agg('=== turn ' || turn_idx || ' ===' || chr(10) || text, chr(10) ORDER BY turn_idx)) AS content_md5
        |FROM read_parquet('__VERIFY_OUT__/t_extract/*.parquet')
        |WHERE conv_id < 'conv-00000100'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_lineage" ->
      """SELECT 'extract' AS stage, CAST(1 AS BIGINT) AS snapshot_id,
        |  count(*) AS rows_in, count(*) AS rows_out,
        |  CAST(SUM(CASE WHEN error THEN 1 ELSE 0 END) AS BIGINT) AS errors
        |FROM read_parquet('__VERIFY_OUT__/t_extract/*.parquet')""".stripMargin,
    "t_xml" -> xmlOracle,
    // dump-vs-golden for the flagship extraction + segmentation queries:
    // the oracle IS the frozen pipeline output (values byte-for-byte), so
    // behavior drift goes red at the driver gate instead of only in sbt
    // test. These two goldens are bound to the driver's gate SF (sf0.01 →
    // convsForSfDir count) and regenerated ONLY by
    // tools/freeze_parser_golden.sh when semantics deliberately change;
    // the underlying kernels' correctness is separately established by the
    // hand-verified + reference-generated goldens in sbt test.
    "t_extract" ->
      """SELECT conv_id, turn_idx, role, tool, text, n_spans, error
        |FROM read_parquet('__REPO__/golden/extract_full/*.parquet')
        |ORDER BY conv_id, turn_idx""".stripMargin,
    "t_segment" ->
      """SELECT conv_id, DocReceivedId, FromPageNumber, ToPageNumber,
        |  FileNumber, DocumentTypeId, UploadDataSheetId, TotalNumberOfpages,
        |  NoOfPages, Sequence, SessionId
        |FROM read_parquet('__REPO__/golden/segments/*.parquet')
        |ORDER BY conv_id, Sequence""".stripMargin,
    // parser-kernel subset at a FIXED 150-conv fixture (sf-independent)
    "t_extract_parsers" ->
      """SELECT conv_id, turn_idx, tool, text, n_spans,
        |  span_starts_csv, span_ends_csv, error
        |FROM read_parquet('__REPO__/golden/extract_parsers/*.parquet')
        |ORDER BY conv_id, turn_idx""".stripMargin,
    "t_extract_passthrough" ->
      """SELECT conv_id, turn_idx, tool, text,
        |  CAST(CASE WHEN length(text) = 0 THEN 0 ELSE 1 END AS INT) AS n_spans,
        |  CAST(CASE WHEN length(text) = 0 THEN NULL ELSE 0 END AS INT) AS span_start,
        |  CAST(CASE WHEN length(text) = 0 THEN NULL ELSE length(text) END AS INT) AS span_end,
        |  FALSE AS error
        |FROM read_parquet('__VERIFY_OUT__/_raw_turns/*.parquet')
        |WHERE tool NOT IN ('html', 'pdf')
        |ORDER BY conv_id, turn_idx""".stripMargin,
    // replays TranscriptOps.echoDetect over the raw-turns fixture dump:
    // running last user text per conversation, distinct-token overlap ppm
    "t_echo" ->
      s"""WITH ${dEchoCtes("read_parquet('__VERIFY_OUT__/_raw_turns/*.parquet')")}
         |SELECT conv_id, turn_idx, n_distinct_tokens, overlap_ppm,
         |  overlap_ppm >= ${graft.ops.TranscriptOps.DefaultEchoThresholdPpm} AS is_echo
         |FROM eo ORDER BY conv_id, turn_idx""".stripMargin,
    "t_conv_dedup" -> convDedupOracle,
    "t_conv_dedup_incr" -> convDedupIncrOracle,
    "t_pipeline" -> transcriptPipelineOracle,
    // chat-template span arithmetic replayed as a window sum: a turn
    // renders as role || ': ' || text, '\n'-joined; span math mirrors
    // TranscriptOps.lossMaskSpans
    "t_loss_mask" ->
      """SELECT conv_id, turn_idx, role,
        |  CAST(coalesce(sum(length(role) + 2 + length(text) + 1)
        |      OVER (PARTITION BY conv_id ORDER BY turn_idx
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS span_start,
        |  CAST(coalesce(sum(length(role) + 2 + length(text) + 1)
        |      OVER (PARTITION BY conv_id ORDER BY turn_idx
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + length(role) + 2 + length(text) AS BIGINT) AS span_end,
        |  role = 'assistant' AS loss_mask
        |FROM read_parquet('__VERIFY_OUT__/_raw_turns/*.parquet')
        |WHERE role IS NOT NULL AND text IS NOT NULL
        |ORDER BY conv_id, turn_idx""".stripMargin,
    // the quadratic export twin: prompt = the '\n'-joined rendering of
    // every prior renderable turn (string_agg respects the window frame)
    "t_sft_pairs" ->
      """WITH r AS (SELECT conv_id, turn_idx, role, text,
        |    role || ': ' || text AS rt
        |  FROM read_parquet('__VERIFY_OUT__/_raw_turns/*.parquet')
        |  WHERE role IS NOT NULL AND text IS NOT NULL)
        |, p AS (SELECT conv_id, turn_idx, role, text,
        |    CAST(coalesce(count(rt) OVER w, 0) AS BIGINT) AS n_ctx_turns,
        |    coalesce(string_agg(rt, chr(10)) OVER w, '') AS prompt
        |  FROM r
        |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT conv_id, turn_idx, n_ctx_turns, prompt, text AS completion
        |FROM p WHERE role = 'assistant'
        |ORDER BY conv_id, turn_idx""".stripMargin,
    // replays TranscriptOps.packMasked: rendered-turn token counts
    // (role: contributes 1 token), within-conversation running sum, then
    // d_pack's shelf rule over one row per conversation
    "t_pack_masked" ->
      s"""WITH t AS (SELECT conv_id, turn_idx, role, text,
         |    CAST(substr(conv_id, 6) AS BIGINT) AS conv_num,
         |    (1 + len(string_split(text, ' ')))::BIGINT AS rt_toks
         |  FROM read_parquet('__VERIFY_OUT__/_raw_turns/*.parquet')
         |  WHERE role IS NOT NULL AND text IS NOT NULL),
         |w AS (SELECT *, COALESCE(sum(rt_toks)
         |      OVER (PARTITION BY conv_id ORDER BY turn_idx
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |    AS within_start FROM t),
         |ct AS (SELECT conv_num, sum(rt_toks)::BIGINT AS n_tokens FROM t GROUP BY conv_num),
         |c AS (SELECT conv_num,
         |    COALESCE(sum(n_tokens) OVER (ORDER BY n_tokens DESC, conv_num
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
         |  FROM ct)
         |SELECT w.conv_id, w.turn_idx, w.role,
         |  c.cum_before // ${graft.ops.DocTextOps.DefaultPackBudget} AS pack_id,
         |  c.cum_before % ${graft.ops.DocTextOps.DefaultPackBudget} + w.within_start AS pack_tok_start,
         |  c.cum_before % ${graft.ops.DocTextOps.DefaultPackBudget} + w.within_start + w.rt_toks AS pack_tok_end,
         |  w.role = 'assistant' AS loss_mask
         |FROM w JOIN c ON w.conv_num = c.conv_num
         |ORDER BY w.conv_id, w.turn_idx""".stripMargin,
    // replays TranscriptOps.lenBuckets: rendered-turn token sums per
    // conversation, power-of-two bucket tops via bin() digit count, the
    // same floor-mean waste formula, plus the global pad-to-max row
    "t_len_buckets" ->
      """WITH t AS (SELECT conv_id, (1 + len(string_split(text, ' ')))::BIGINT AS rt_toks
        |    FROM read_parquet('__VERIFY_OUT__/_raw_turns/*.parquet')
        |    WHERE role IS NOT NULL AND text IS NOT NULL),
        |c AS (SELECT conv_id, sum(rt_toks)::BIGINT AS n FROM t GROUP BY conv_id),
        |b AS (SELECT n, CASE WHEN (n & (n - 1)) = 0 THEN n
        |        ELSE (1::BIGINT << length(bin(n))) END AS bucket_hi FROM c),
        |per AS (SELECT 'bucket' AS scope, bucket_hi, count(*)::BIGINT AS n_seqs,
        |          sum(n)::BIGINT AS sum_tokens FROM b GROUP BY bucket_hi),
        |gmax AS (SELECT 'global' AS scope, max(n)::BIGINT AS bucket_hi,
        |          count(*)::BIGINT AS n_seqs, sum(n)::BIGINT AS sum_tokens FROM c),
        |u AS (SELECT * FROM per UNION ALL SELECT * FROM gmax)
        |SELECT scope, bucket_hi, n_seqs, sum_tokens,
        |  bucket_hi * n_seqs AS padded_tokens,
        |  (bucket_hi - sum_tokens // n_seqs) * 1000000 // bucket_hi AS waste_ppm
        |FROM u ORDER BY scope, bucket_hi""".stripMargin,
    // replays TranscriptOps.prefPairs from the raw-turns fixture dump:
    // retried-rollout forks (same h32 rule), prompt_key = md5 of the
    // chat-template rendering before the last assistant turn, responses
    // ranked by type-token ratio ppm, extremum pair per rollout group
    "t_pref_pairs" ->
      s"""WITH rt AS (SELECT conv_id, turn_idx, role, text
         |    FROM read_parquet('__VERIFY_OUT__/_raw_turns/*.parquet')
         |    WHERE role IS NOT NULL AND text IS NOT NULL),
         |la AS (SELECT conv_id, max(CASE WHEN role = 'assistant' THEN turn_idx END) AS la_idx
         |       FROM rt GROUP BY conv_id),
         |base AS (SELECT rt.conv_id, rt.turn_idx, rt.role, rt.text, la.la_idx
         |         FROM rt JOIN la USING (conv_id) WHERE la.la_idx IS NOT NULL),
         |rolled AS (
         |  SELECT conv_id, turn_idx, role, text, la_idx FROM base
         |  UNION ALL
         |  SELECT conv_id || '~r', turn_idx, role,
         |    CASE WHEN turn_idx = la_idx THEN
         |      CASE WHEN ${dh32("(conv_id || ':rw')")} % 2 = 0
         |           THEN text || ' ' || text
         |           ELSE text || ' uq0 uq1 uq2 uq3' END
         |    ELSE text END, la_idx
         |  FROM base WHERE ${dh32("conv_id")} % ${graft.ops.TranscriptOps.PrefForkMod} = 0),
         |sc AS (SELECT conv_id,
         |    md5(coalesce(string_agg(CASE WHEN turn_idx < la_idx
         |          THEN role || ': ' || text END, chr(10) ORDER BY turn_idx), '')) AS prompt_key,
         |    CAST(len(list_distinct(string_split(max(CASE WHEN turn_idx = la_idx THEN text END), ' '))) AS BIGINT)
         |      * 1000000 // len(string_split(max(CASE WHEN turn_idx = la_idx THEN text END), ' ')) AS score_ppm
         |  FROM rolled GROUP BY conv_id),
         |g AS (SELECT prompt_key, count(*)::BIGINT AS n_rollouts,
         |      max(score_ppm) AS cs, min(score_ppm) AS rs
         |    FROM sc GROUP BY prompt_key)
         |SELECT g.prompt_key, g.n_rollouts,
         |  min(CASE WHEN sc.score_ppm = g.cs THEN sc.conv_id END) AS chosen_conv,
         |  max(CASE WHEN sc.score_ppm = g.rs THEN sc.conv_id END) AS rejected_conv,
         |  g.cs AS chosen_score_ppm, g.rs AS rejected_score_ppm,
         |  g.cs - g.rs AS margin_ppm,
         |  min(CASE WHEN sc.score_ppm = g.cs THEN sc.conv_id END) LIKE '%~r' AS chosen_is_retry
         |FROM sc JOIN g ON sc.prompt_key = g.prompt_key
         |WHERE g.n_rollouts >= 2
         |GROUP BY g.prompt_key, g.n_rollouts, g.cs, g.rs
         |ORDER BY g.prompt_key""".stripMargin,
    "d_langid_trigram" -> trigramOracle,
    // evolved-store round trip (Evolution.schemaEvolveRoundTrip): batches
    // split doc_id % 3; `extra` added with batch 1 (NULL before), `legacy`
    // dropped before batch 2 — a store that leaks `legacy` fails on schema;
    // `nb` written INT by batches 0/1 then WIDENED to BIGINT (batch 2's
    // values exceed int range) — a store that fails to up-cast the old
    // files fails on schema or value
    "d_schema_evolve" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(doc_id * 3 + 1 AS BIGINT) AS val1,
        |  CASE WHEN doc_id % 3 = 0 THEN NULL
        |       ELSE CAST(doc_id * 2 AS BIGINT) END AS extra,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 100 + 3000000000
        |            ELSE doc_id % 100 END AS BIGINT) AS nb
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dMoneySum("l_quantity")} AS sum_qty,
         |  ${dMoneySum("l_extendedprice")} AS sum_base_price,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_join_agg" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders, ${dMoneySum("o_totalprice")} AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q4_window" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  row_number() OVER w AS order_seq,
        |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS orders_so_far
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, order_seq""".stripMargin,
    "q5_setops" ->
      """(SELECT DISTINCT o_custkey AS custkey FROM orders
        | EXCEPT
        | SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |INTERSECT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000
        |ORDER BY custkey""".stripMargin,
    "q6_semi_anti" ->
      s"""WITH hv AS (SELECT o_custkey FROM orders
        |  WHERE o_totalprice > ${Relational.HighValueOrder}),
        |active AS (
        |  SELECT c_nationkey, COUNT(*) AS n_active FROM customer
        |  WHERE c_custkey IN (SELECT o_custkey FROM hv) GROUP BY 1),
        |inactive AS (
        |  SELECT c_nationkey, COUNT(*) AS n_inactive FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM hv) GROUP BY 1)
        |SELECT n_nationkey, n_name,
        |  COALESCE(n_active, 0) AS n_active, COALESCE(n_inactive, 0) AS n_inactive
        |FROM nation
        |LEFT JOIN active ON n_nationkey = active.c_nationkey
        |LEFT JOIN inactive ON n_nationkey = inactive.c_nationkey
        |ORDER BY n_nationkey""".stripMargin,
    "q7_rollup" ->
      s"""SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
         |  COALESCE(l_linestatus, '<all>') AS linestatus,
         |  COUNT(*) AS n, ${dMoneySum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY returnflag, linestatus""".stripMargin,
    "q8_pushdown" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q9_multijoin" ->
      s"""SELECT s_nationkey, COUNT(*) AS n_lineitems, ${dMoneySum("l_quantity")} AS total_qty,
         |  COUNT(DISTINCT p_partkey) AS n_parts
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |              JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_above_avg" ->
      """WITH avgp AS (
        |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |  FROM orders GROUP BY 1 HAVING COUNT(*) >= 2)
        |SELECT o.o_custkey, COUNT(*) AS n_above
        |FROM orders o JOIN avgp ON o.o_custkey = avgp.o_custkey
        |WHERE o.o_totalprice > avg_price * 1.5
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_cube" ->
      s"""SELECT COALESCE(o_orderpriority, '<all>') AS priority,
         |  COALESCE(o_orderstatus, '<all>') AS status,
         |  COUNT(*) AS n, ${dMoneySum("o_totalprice")} AS revenue
         |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
         |ORDER BY priority, status""".stripMargin,
    "q13_quantiles" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT o_orderpriority,
        |  MAX(CASE WHEN rn = (n + 1) // 2 THEN o_totalprice END) AS p50,
        |  MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN o_totalprice END) AS p90,
        |  MAX(n) AS n
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_envelope_decode" ->
      """WITH env AS (
        |  SELECT doc_id, base64(encode(to_json(struct_pack(
        |    ClientFileName := source, BatchId := doc_id, Body := substring(text, 1, 40)
        |  )))) AS env FROM documents),
        |dec AS (SELECT doc_id, decode(from_base64(env)) AS j FROM env)
        |SELECT doc_id,
        |  json_extract_string(j, '$.ClientFileName') AS client_file,
        |  CAST(json_extract_string(j, '$.BatchId') AS BIGINT) AS batch_id,
        |  CAST(length(json_extract_string(j, '$.Body')) AS BIGINT) AS body_len
        |FROM dec ORDER BY doc_id""".stripMargin,
    "q14_validate" ->
      """WITH env AS (
        |  SELECT doc_id, '{' || concat_ws(', ',
        |    CASE WHEN doc_id % 7 = 0 THEN NULL
        |         ELSE '"ClientFileName": "' || (CASE WHEN doc_id % 11 = 0 THEN ''
        |              ELSE replace(replace(source, '\', '\\'), '"', '\"') END) || '"' END,
        |    CASE WHEN doc_id % 5 = 0 THEN NULL
        |         ELSE '"UploadDatasheetid": ' || CAST(doc_id * 10 + 1 AS VARCHAR) END,
        |    CASE WHEN doc_id % 3 = 0 THEN NULL
        |         ELSE '"DocReceivedId": ' || CAST(doc_id * 10 + 2 AS VARCHAR) END,
        |    '"BatchId": ' || CAST(doc_id AS VARCHAR)) || '}' AS env
        |  FROM documents),
        |x AS (SELECT doc_id,
        |  json_extract_string(env, '$.ClientFileName') AS client_file,
        |  CAST(json_extract_string(env, '$.UploadDatasheetid') AS BIGINT) AS upload_datasheet_id,
        |  CAST(json_extract_string(env, '$.DocReceivedId') AS BIGINT) AS doc_received_id,
        |  CAST(json_extract_string(env, '$.BatchId') AS BIGINT) AS batch_id
        |  FROM env)
        |SELECT doc_id, client_file, upload_datasheet_id, doc_received_id, batch_id,
        |  (client_file IS NOT NULL AND client_file != '') AS valid,
        |  concat_ws(',',
        |    CASE WHEN upload_datasheet_id IS NULL THEN 'UploadDatasheetid' END,
        |    CASE WHEN doc_received_id IS NULL THEN 'DocReceivedId' END,
        |    CASE WHEN batch_id IS NULL THEN 'BatchId' END) AS missing_warn
        |FROM x ORDER BY doc_id""".stripMargin,
    "q15_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS epoch FROM events),
        |b AS (SELECT *, CASE WHEN prev_epoch IS NULL OR epoch - prev_epoch > 1800 THEN 1 ELSE 0 END AS is_break
        |      FROM (SELECT *, lag(epoch) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_epoch FROM e)),
        |s AS (SELECT *, SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM b)
        |SELECT user_id, session_seq::BIGINT AS session_seq, COUNT(*) AS n_events,
        |  MIN(epoch) AS session_start_epoch, MAX(epoch) AS session_end_epoch,
        |  MAX(epoch) - MIN(epoch) AS duration_sec
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_session_stats" ->
      """WITH e AS (SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS epoch FROM events),
        |b AS (SELECT *, CASE WHEN prev_epoch IS NULL OR epoch - prev_epoch > 1800 THEN 1 ELSE 0 END AS is_break
        |      FROM (SELECT *, lag(epoch) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_epoch FROM e)),
        |s AS (SELECT *, SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM b),
        |sess AS (SELECT user_id, session_seq, COUNT(*) AS n_events,
        |           MAX(epoch) - MIN(epoch) AS duration_sec FROM s GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_sessions, SUM(n_events)::BIGINT AS n_events,
        |  MAX(duration_sec) AS max_duration_sec
        |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_asof" ->
      """WITH v AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS vepoch,
        |         max(event_id) AS view_event_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (
        |  SELECT user_id, event_id AS purchase_event_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS pepoch
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_event_id, p.user_id, p.pepoch,
        |  v.view_event_id, v.vepoch, p.pepoch - v.vepoch AS lag_sec
        |FROM p ASOF JOIN v ON p.user_id = v.user_id AND v.vepoch <= p.pepoch
        |ORDER BY purchase_event_id""".stripMargin,
    "ev_funnel" ->
      """WITH base AS (SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS epoch FROM events),
        |v AS (SELECT user_id, min(epoch) AS t_view FROM base WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT b.user_id, min(b.epoch) AS t_click FROM base b JOIN v USING (user_id)
        |      WHERE b.event_type = 'click' AND b.epoch >= v.t_view GROUP BY 1),
        |p AS (SELECT b.user_id, min(b.epoch) AS t_purchase FROM base b JOIN c USING (user_id)
        |      WHERE b.event_type = 'purchase' AND b.epoch >= c.t_click GROUP BY 1)
        |SELECT count(*) AS n_view, count(t_click) AS n_click_after_view,
        |  count(t_purchase) AS n_purchase_after_click,
        |  CAST(sum(t_purchase - t_view) AS BIGINT) AS total_view_to_purchase_sec
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,
    "ev_interval_join" ->
      """WITH e AS (SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS epoch FROM events),
        |b AS (SELECT *, CASE WHEN prev_epoch IS NULL OR epoch - prev_epoch > 1800 THEN 1 ELSE 0 END AS is_break
        |      FROM (SELECT *, lag(epoch) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_epoch FROM e)),
        |s AS (SELECT *, SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM b),
        |sess AS (SELECT user_id, session_seq, MIN(epoch) AS s, MAX(epoch) AS e FROM s GROUP BY 1, 2),
        |iv AS (SELECT CAST(user_id * 1000000 + session_seq AS BIGINT) AS interval_id, s, e
        |       FROM sess WHERE user_id < 10)
        |SELECT interval_id, iv.s AS s, iv.e AS e, count(*) AS n_events
        |FROM iv JOIN e ON e.epoch BETWEEN iv.s AND iv.e
        |GROUP BY 1, 2, 3 ORDER BY interval_id""".stripMargin,
    "ev_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM wk GROUP BY 1)
        |SELECT c.cohort_wk, wk.wk - c.cohort_wk AS week_offset,
        |  COUNT(DISTINCT wk.user_id) AS n_users
        |FROM wk JOIN c ON wk.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // replays EventOps.eventAnomaly: per-(type, day) counts z-scored with
    // exact integer moments — the |z| >= T decision multiplies through the
    // variance denominator so no sqrt/float appears on either engine
    "ev_anomaly" -> {
      val t2 = graft.ops.EventOps.DefaultZThreshold * graft.ops.EventOps.DefaultZThreshold
      s"""WITH daily AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS epoch_day,
         |    count(*)::BIGINT AS cnt
         |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2),
         |stats AS (SELECT event_type, count(*)::BIGINT AS d, sum(cnt)::BIGINT AS s,
         |    sum(cnt * cnt)::BIGINT AS q
         |  FROM daily GROUP BY 1)
         |SELECT daily.event_type, epoch_day, cnt,
         |  (CASE WHEN d * q - s * s > 0
         |    THEN (cnt * d - s) * (cnt * d - s) * 1000000 // (d * q - s * s)
         |    ELSE 0 END)::BIGINT AS z2_ppm,
         |  d * q - s * s > 0 AND (cnt * d - s) * (cnt * d - s) >= $t2 * (d * q - s * s) AS anomaly
         |FROM daily JOIN stats USING (event_type)
         |ORDER BY 1, 2""".stripMargin
    },
    "ev_hopping" ->
      """SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 1800 - h) * 1800 AS win_start_epoch,
        |  event_type, count(*) AS n_events
        |FROM events, range(0, 2) t(h)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_skew_join" ->
      """WITH e AS (SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS epoch FROM events),
        |b AS (SELECT *, CASE WHEN prev_epoch IS NULL OR epoch - prev_epoch > 1800 THEN 1 ELSE 0 END AS is_break
        |      FROM (SELECT *, lag(epoch) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_epoch FROM e)),
        |s AS (SELECT *, SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM b),
        |sess AS (SELECT user_id, session_seq FROM s GROUP BY 1, 2),
        |prof AS (SELECT user_id, COUNT(*) AS n_sessions FROM sess GROUP BY 1)
        |SELECT ev.event_type, COUNT(*) AS n_events,
        |  SUM(CASE WHEN prof.n_sessions >= 3 THEN 1 ELSE 0 END)::BIGINT AS n_from_heavy_users,
        |  CAST(SUM(CASE WHEN prof.n_sessions >= 3 THEN CAST(ev.value AS DECIMAL(18,3)) END) AS DOUBLE) AS heavy_user_value
        |FROM events ev JOIN prof ON ev.user_id = prof.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d_inverted_index" ->
      """SELECT term, count(*)::BIGINT AS df,
        |  array_to_string(list_sort(list(doc_id))[1:100], ',') AS postings
        |FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_prop_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
        |  SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50 THEN 1 ELSE 0 END)::BIGINT AS n_high
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "d_exact_dedup" ->
      s"""WITH t AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + ${Dedup.RecallTwinOffset}, text FROM documents
        |  WHERE doc_id % ${Dedup.ExactTwinMod} = 0)
        |SELECT md5(text) AS content_hash, COUNT(*) AS dup_count, MIN(doc_id) AS keep_doc_id
        |FROM t WHERE text IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "d_token_stats" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        |  length(text) AS n_chars_actual,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    [CAST(1 + length(w) // 6 AS BIGINT) for w in string_split(text, ' ')]),
        |    (acc, x) -> acc + x) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d_token_bpe" -> {
      val pat = "'" + graft.ops.DocTextOps.BpePattern.replace("'", "''") + "'"
      val spice = "' it''s 42nd-place!  --  don''t'"
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, $pat, 0)) AS n_bpe_tokens,
         |  len(list_distinct(regexp_extract_all(text, $pat, 0))) AS n_bpe_distinct,
         |  list_max([length(x) for x in regexp_extract_all(text, $pat, 0)]) AS max_token_len,
         |  len(regexp_extract_all(concat(text, $spice), $pat, 0)) AS n_bpe_tokens_spiced
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "d_quality" ->
      s"""SELECT doc_id, length(text) AS n_chars_actual,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  $dStopwordHits AS stopword_hits,
         |  (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000) // len(string_split(text, ' ')) AS diversity_ppm,
         |  (CAST(length(text) - len(string_split(text, ' ')) + 1 AS BIGINT) * 1000000) // len(string_split(text, ' ')) AS mean_word_len_ppm
         |FROM documents ORDER BY doc_id""".stripMargin,
    "d_quality_filter" ->
      s"""WITH q AS (SELECT doc_id, length(text) AS n_chars_actual,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  $dStopwordHits AS stopword_hits,
         |  (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000) // len(string_split(text, ' ')) AS diversity_ppm,
         |  (CAST(length(text) - len(string_split(text, ' ')) + 1 AS BIGINT) * 1000000) // len(string_split(text, ' ')) AS mean_word_len_ppm
         |FROM documents)
         |SELECT doc_id, n_chars_actual, n_tokens, stopword_hits, diversity_ppm, mean_word_len_ppm,
         |  (n_chars_actual >= 80 AND n_tokens >= 16 AND stopword_hits >= 1 AND
         |   diversity_ppm >= 300000 AND mean_word_len_ppm BETWEEN 2000000 AND 12000000) AS keep
         |FROM q ORDER BY doc_id""".stripMargin,
    // replays DocTextOps.qualityRules: signals in DuckDB list algebra, then
    // the SAME interpolated rule predicates / first-failed CASE / keep fold
    "d_quality_rules" -> {
      val rules = DocTextOps.QualityRuleTable
      val flags = rules.map { case (n, p) => s"($p) AS pass_$n" }.mkString(",\n|  ")
      val firstFailed = rules
        .map { case (n, _) => s"WHEN NOT pass_$n THEN '$n'" }
        .mkString("CASE ", " ", " ELSE '' END AS first_failed")
      val keep = rules.map { case (n, _) => s"pass_$n" }.mkString(" AND ")
      val signals = graft.ops.DocTextOps.QualitySignals.duck.mkString(",\n|  ")
      s"""WITH s AS (SELECT doc_id,
         |  $signals
         |FROM documents WHERE text IS NOT NULL),
         |f AS (SELECT *,
         |  $flags
         |FROM s)
         |SELECT doc_id, n_chars, n_tokens, stopword_tokens, diversity_ppm,
         |  mean_word_len_ppm, ${rules.map { case (n, _) => s"pass_$n" }.mkString(", ")},
         |  $firstFailed, ($keep) AS keep
         |FROM f ORDER BY doc_id""".stripMargin
    },
    "d_sample" ->
      s"""WITH s AS (SELECT doc_id, lang,
         |  ${dh32("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |  CAST(${dRateExpr("lang")} AS BIGINT) AS rate
         |  FROM documents)
         |SELECT doc_id, lang, bucket, rate FROM s WHERE bucket < rate
         |ORDER BY doc_id""".stripMargin,
    "d_langid_stopword" ->
      // word lists shared with the Spark side via DocTextOps.langStops
      s"""WITH ${dLangPredCtes("documents")}
         |SELECT doc_id, lang_declared, score_en, score_de, score_es, score_fr,
         |  lang_pred
         |FROM lid ORDER BY doc_id""".stripMargin,
    "d_langid_sep" ->
      // twin rule shared with the Spark side via DocTextOps.langTwinSql
      s"""WITH twin AS (SELECT doc_id, lang,
         |  ${graft.ops.DocTextOps.langTwinSql} AS text FROM documents),
         |${dLangPredCtes("twin")}
         |SELECT doc_id, lang_declared, score_en, score_de, score_es, score_fr,
         |  lang_pred
         |FROM lid ORDER BY doc_id""".stripMargin,
    "d_fingerprint" ->
      s"""WITH $dShingleDocs
         |SELECT d.doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [CAST(unicode(c) AS BIGINT) for c in string_split(d.text, '')]),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS fp_text,
         |  list_min([${dh32("s")} for s in shs]) AS fp_shingle_min,
         |  list_max([${dh32("s")} for s in shs]) AS fp_shingle_max
         |FROM docs d JOIN sh ON d.doc_id = sh.doc_id ORDER BY d.doc_id""".stripMargin,
    "d_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfp AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, term, tf, df,
        |  tf * 1000000 * n_docs // df AS score_ppm
        |  FROM tf JOIN dfp USING (term) CROSS JOIN n),
        |ranked AS (SELECT doc_id, term, tf, df, score_ppm,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tf, df, score_ppm FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // replays DocTextOps.collocations: per-term FixedLog PMI over unigram +
    // bigram counts from multi-token documents, minCount floor, top-k
    "d_collocations" -> {
      import graft.ops.DocTextOps.{DefaultCollocMinCount, DefaultCollocTopK}
      def f(v: String) = FixedLog.duck(v)
      s"""WITH toks AS (SELECT string_split(text, ' ') AS ws FROM documents
         |              WHERE len(string_split(text, ' ')) >= 2),
         |uni AS (SELECT x, count(*)::BIGINT AS c_x
         |        FROM (SELECT unnest(ws) AS x FROM toks) GROUP BY 1),
         |bi AS (SELECT string_split(g, ' ')[1] AS x, string_split(g, ' ')[2] AS y,
         |         count(*)::BIGINT AS c_xy
         |       FROM (SELECT unnest([ws[i] || ' ' || ws[i+1]
         |                            for i in range(1, len(ws))]) AS g FROM toks)
         |       GROUP BY 1, 2 HAVING count(*) >= $DefaultCollocMinCount),
         |tot AS (SELECT CAST((SELECT sum(c_x) FROM uni) AS BIGINT) AS n_uni,
         |        CAST((SELECT sum(len(ws) - 1) FROM toks) AS BIGINT) AS n_bi)
         |SELECT x, y, c_xy, c_x, c_y,
         |  ${f("c_xy")} - ${f("c_x")} - ${f("c_y")}
         |    + 2 * ${f("n_uni")} - ${f("n_bi")} AS pmi_x64
         |FROM bi JOIN uni USING (x)
         |JOIN (SELECT x AS y, c_x AS c_y FROM uni) USING (y) CROSS JOIN tot
         |ORDER BY pmi_x64 DESC, x, y LIMIT $DefaultCollocTopK""".stripMargin
    },
    "d_redact" -> {
      val e = graft.ops.DocTextOps.EmailRe
      val p = graft.ops.DocTextOps.PhoneRe
      val ip = graft.ops.DocTextOps.IpRe
      // splice shared verbatim with the Spark side (count-varying)
      s"""WITH t AS (SELECT doc_id, ${graft.ops.DocTextOps.piiSpliceSql} AS t FROM documents),
         |r AS (SELECT doc_id, t,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$e', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$p', '<PHONE>', 'g') AS red
         |  FROM t)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '$e', 0)) AS n_emails,
         |  len(regexp_extract_all(t, '$p', 0)) AS n_phones,
         |  len(regexp_extract_all(t, '$ip', 0)) AS n_ips,
         |  CAST(length(red) AS BIGINT) AS redacted_len,
         |  md5(red) AS redacted_md5
         |FROM r ORDER BY doc_id""".stripMargin
    },
    "d_kmv_distinct" ->
      s"""WITH docs AS (SELECT doc_id, lang, string_split(text, ' ') ws FROM documents
         |              WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (SELECT doc_id, lang,
         |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         |                        for i in range(1, len(ws) - 1)]) AS shs
         |       FROM docs),
         |hh AS (SELECT lang, unnest([${dh32("s")} for s in shs]) AS h FROM sh),
         |dh AS (SELECT DISTINCT lang, h FROM hh),
         |ex AS (SELECT lang, count(*) AS n_exact FROM dh GROUP BY 1),
         |kk AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM dh),
         |hkt AS (SELECT lang, CASE WHEN count(*) = 64 THEN max(h) END AS hk
         |        FROM kk WHERE rn <= 64 GROUP BY 1),
         |j AS (SELECT ex.lang, n_exact, hk,
         |        CASE WHEN hk IS NULL THEN n_exact ELSE 63 * 4294967296 // hk END AS n_est
         |      FROM ex JOIN hkt USING (lang))
         |SELECT lang, n_exact, hk, n_est,
         |  abs(n_est - n_exact) * 1000000 // n_exact AS err_ppm
         |FROM j ORDER BY lang""".stripMargin,
    // replays DocTextOps.hllDistinct: per-(lang, register) max rho from the
    // top-4/bottom-28 bit split of the 32-bit shingle hash, harmonic
    // estimate scaled by 2^29, linear-counting branch on the FixedLog grid
    "d_hll_distinct" -> {
      val m = 1 << DocTextOps.HllP
      val (wMod, pow29) = (1L << (32 - DocTextOps.HllP), 1L << (33 - DocTextOps.HllP))
      val maxRho = 33 - DocTextOps.HllP
      s"""WITH docs AS (SELECT doc_id, lang, string_split(text, ' ') ws FROM documents
         |              WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (SELECT doc_id, lang,
         |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         |                        for i in range(1, len(ws) - 1)]) AS shs
         |       FROM docs),
         |hh AS (SELECT lang, unnest([${dh32("s")} for s in shs]) AS h FROM sh),
         |rr AS (SELECT lang, h // $wMod AS reg, h % $wMod AS w FROM hh),
         |mj AS (SELECT lang, reg,
         |         max(CASE WHEN w = 0 THEN $maxRho ELSE $maxRho - length(bin(w)) END) AS mj
         |       FROM rr GROUP BY 1, 2),
         |ag AS (SELECT lang, count(*)::BIGINT AS n_regs_set,
         |         sum(1::BIGINT << ($maxRho - mj))::BIGINT AS s_set FROM mj GROUP BY 1),
         |ex AS (SELECT lang, count(DISTINCT h)::BIGINT AS n_exact FROM hh GROUP BY 1),
         |j AS (SELECT ag.lang, n_regs_set, $m - n_regs_set AS v_zero,
         |        s_set + ($m - n_regs_set) * $pow29 AS s_scaled, n_exact
         |      FROM ag JOIN ex USING (lang)),
         |j2 AS (SELECT *, ${DocTextOps.HllAlpha16Ppm}::BIGINT * $m * $m * $pow29
         |                   // s_scaled // 1000000 AS est_raw FROM j),
         |j3 AS (SELECT *, CASE WHEN est_raw <= ${5 * m / 2} AND v_zero > 0
         |         THEN $m * (${FixedLog.duck(m.toString)} - ${FixedLog.duck("v_zero")})
         |                * ${DocTextOps.Ln2Ppm} // 64000000
         |         ELSE est_raw END AS n_est FROM j2)
         |SELECT lang, n_regs_set, v_zero, s_scaled, n_exact, est_raw, n_est,
         |  abs(n_est - n_exact) * 1000000 // n_exact AS err_ppm
         |FROM j3 ORDER BY lang""".stripMargin
    },
    // replays Selection.stupidBackoff: refLang bigram/unigram counts, the
    // three-level backoff CASE on the FixedLog grid
    "d_ngram_lm" -> {
      val a = Selection.BackoffAlphaLog2X64
      val n = FixedLog.duck("(SELECT n FROM nn)")
      s"""WITH dd AS (SELECT doc_id, lang,
         |    CASE WHEN doc_id % ${Selection.OovTwinMod} = 0
         |              AND lang != '${Selection.DefaultRefLang}'
         |              AND text IS NOT NULL
         |         THEN text || ' ${Selection.OovSentinel}' ELSE text END AS text
         |  FROM documents),
         |rt AS (SELECT unnest(string_split(text, ' ')) AS w FROM dd
         |            WHERE lang = '${Selection.DefaultRefLang}' AND text IS NOT NULL),
         |uni AS (SELECT w, count(*)::BIGINT AS c1 FROM rt GROUP BY 1),
         |nn AS (SELECT count(*)::BIGINT AS n FROM rt),
         |probe AS (SELECT doc_id, string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2
         |  FROM (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS g
         |        FROM (SELECT doc_id, string_split(text, ' ') ws FROM dd
         |              WHERE len(string_split(text, ' ')) >= 2))),
         |bi AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM probe p
         |       JOIN (SELECT doc_id FROM dd WHERE lang = '${Selection.DefaultRefLang}') r
         |         USING (doc_id)
         |       GROUP BY 1, 2),
         |sc AS (SELECT p.doc_id,
         |    b.c2 IS NULL AND u2.c1 IS NOT NULL AS backoff,
         |    u2.c1 IS NULL AS oov,
         |    CASE WHEN b.c2 IS NOT NULL THEN ${FixedLog.duck("b.c2")} - ${FixedLog.duck("u1.c1")}
         |         WHEN u2.c1 IS NOT NULL THEN $a + ${FixedLog.duck("u2.c1")} - $n
         |         ELSE ${2 * a} - $n END AS s
         |  FROM probe p LEFT JOIN bi b USING (w1, w2)
         |    LEFT JOIN uni u1 ON u1.w = p.w1
         |    LEFT JOIN uni u2 ON u2.w = p.w2)
         |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |  sum(CASE WHEN backoff THEN 1 ELSE 0 END)::BIGINT AS n_backoff,
         |  sum(CASE WHEN oov THEN 1 ELSE 0 END)::BIGINT AS n_oov,
         |  sum(s)::BIGINT AS sb_log2_x64,
         |  sum(s)::BIGINT // count(*) AS avg_log2_x64
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // replays Selection.perceptronTrain: pass-boundary rows of the
    // recursive sequential-update walk (per-pass update count via a
    // cumulative-count lag diff)
    "d_clf_train" -> s"$perceptronCtes\n$clfTrainTail",
    // replays Selection.perceptronScore: the final averaging accumulators
    // (Σ_t w_t, Σ_t bias_t) applied back over every document's counts
    "d_clf_score" -> s"$perceptronCtes$clfScoreTail",
    // the SEPARABLE twin over the transcript fixture: label = (tool =
    // 'html'), learnable from BoW (markup tokens) — the trainer converges
    // (updates fall across passes) and scores >90% where the documents
    // corpus's identical-vocab ceiling sits near the majority rate
    "d_clf_sep_train" -> s"${perceptronCtesFor(clfSepSrc, "html")}\n$clfTrainTail",
    "d_clf_sep_score" -> s"${perceptronCtesFor(clfSepSrc, "html")}$clfScoreTail",
    "d_downselect" ->
      s"""WITH q AS (SELECT doc_id,
         |  (length(text) >= 80 AND len(string_split(text, ' ')) >= 16 AND
         |   $dStopwordHits >= 1 AND
         |   (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000) // len(string_split(text, ' ')) >= 300000 AND
         |   (CAST(length(text) - len(string_split(text, ' ')) + 1 AS BIGINT) * 1000000) // len(string_split(text, ' ')) BETWEEN 2000000 AND 12000000) AS q_keep
         |FROM documents),
         |f AS (SELECT doc.doc_id, doc.lang, q.q_keep, md5(doc.text) AS content_hash,
         |  ${dh32("CAST(doc.doc_id AS VARCHAR)")} % 100 AS bucket,
         |  CAST(${dRateExpr("doc.lang")} AS BIGINT) AS rate
         |  FROM documents doc JOIN q ON doc.doc_id = q.doc_id),
         |c AS (SELECT content_hash, min(doc_id) AS keep_doc_id FROM f WHERE q_keep GROUP BY 1)
         |SELECT f.doc_id, f.lang, f.q_keep,
         |  f.q_keep AND f.doc_id = c.keep_doc_id AS is_canonical,
         |  (f.q_keep AND f.doc_id = c.keep_doc_id) AND f.bucket < f.rate AS sampled
         |FROM f LEFT JOIN c USING (content_hash) ORDER BY f.doc_id""".stripMargin,
    // replays DocTextOps.selectionPipeline: quality gate -> near-dup
    // keep-best over the surviving pool (the parameterized shingle/cluster
    // CTEs re-run the d_dedup_* replay against `pool`) -> 4-gram
    // contamination fraction -> cluster-atomic split, one verdict row per
    // input document
    "d_pipeline" -> {
      val bucket = s"${dh32("r.component::VARCHAR || ':split'")} % 1000000"
      s"""WITH RECURSIVE qual0 AS (SELECT doc_id,
         |  coalesce((length(text) >= 80 AND len(string_split(text, ' ')) >= 16 AND
         |   $dStopwordHits >= 1 AND
         |   (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000) // len(string_split(text, ' ')) >= 300000 AND
         |   (CAST(length(text) - len(string_split(text, ' ')) + 1 AS BIGINT) * 1000000) // len(string_split(text, ' ')) BETWEEN 2000000 AND 12000000), false) AS q_keep
         |FROM documents),
         |pool AS (SELECT d.doc_id, d.text FROM documents d JOIN qual0 USING (doc_id)
         |         WHERE q_keep AND d.doc_id % 97 != 0),
         |${dShingleDocsFrom("pool")},
         |${dJaccard(Some(graft.ops.Dedup.DefaultDfCap))},
         |${dClusterCtesFrom("pool")},
         |div AS (SELECT doc_id,
         |    coalesce((CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000)
         |      // len(string_split(text, ' ')), -1) AS diversity_ppm
         |  FROM pool),
         |rsel AS (SELECT l.doc_id, l.component,
         |    row_number() OVER (PARTITION BY l.component
         |      ORDER BY q.diversity_ppm DESC, l.doc_id ASC) AS rn
         |  FROM lab l JOIN div q USING (doc_id)),
         |cdocs AS (SELECT doc_id, string_split(text, ' ') ws FROM documents
         |          WHERE len(string_split(text, ' ')) >= 4),
         |cg AS (SELECT doc_id,
         |        unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
         |                              for i in range(1, len(ws) - 2)])) AS g
         |      FROM cdocs),
         |cbench AS (SELECT DISTINCT g FROM cg WHERE doc_id % 97 = 0),
         |cov AS (SELECT d.doc_id, (count(b.g) * 1000000 // count(*))::BIGINT AS overlap_ppm
         |        FROM cg d LEFT JOIN cbench b USING (g)
         |        WHERE d.doc_id % 97 != 0 GROUP BY 1)
         |SELECT d.doc_id, d.lang, d.doc_id % 97 = 0 AS is_bench, q.q_keep,
         |  r.component,
         |  coalesce(r.rn = 1, false) AS keep_best,
         |  coalesce(c.overlap_ppm, 0)::BIGINT AS overlap_ppm,
         |  coalesce(c.overlap_ppm, 0) >= ${graft.ops.DocTextOps.DefaultContamPpm} AS contam_drop,
         |  CASE WHEN r.component IS NULL THEN NULL
         |       WHEN $bucket < ${graft.ops.Dedup.DefaultTestPpm} THEN 'test'
         |       WHEN $bucket < ${graft.ops.Dedup.DefaultTestPpm + graft.ops.Dedup.DefaultValPpm} THEN 'val'
         |       ELSE 'train' END AS split,
         |  d.doc_id % 97 != 0 AND q.q_keep AND coalesce(r.rn = 1, false)
         |    AND NOT coalesce(c.overlap_ppm, 0) >= ${graft.ops.DocTextOps.DefaultContamPpm} AS selected
         |FROM documents d JOIN qual0 q USING (doc_id)
         |LEFT JOIN rsel r ON d.doc_id = r.doc_id
         |LEFT JOIN cov c ON d.doc_id = c.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    "d_decontaminate" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') ws FROM documents
        |              WHERE len(string_split(text, ' ')) >= 4),
        |g AS (SELECT doc_id,
        |        unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
        |                              for i in range(1, len(ws) - 2)])) AS g
        |      FROM docs),
        |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
        |SELECT d.doc_id, count(b.g)::BIGINT AS n_contaminated_ngrams,
        |  count(b.g) > 0 AS contaminated
        |FROM g d LEFT JOIN bench b USING (g)
        |WHERE d.doc_id % 97 != 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // replays DocTextOps.contamOverlap: distinct 4-grams per training doc,
    // hit-count vs the benchmark slice, exact integer ppm fraction +
    // threshold verdict
    "d_contam_overlap" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') ws FROM documents
         |              WHERE len(string_split(text, ' ')) >= 4),
         |g AS (SELECT doc_id,
         |        unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
         |                              for i in range(1, len(ws) - 2)])) AS g
         |      FROM docs),
         |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
         |SELECT d.doc_id, count(*)::BIGINT AS n_grams, count(b.g)::BIGINT AS n_hit,
         |  (count(b.g) * 1000000 // count(*))::BIGINT AS overlap_ppm,
         |  count(b.g) * 1000000 // count(*) >= ${graft.ops.DocTextOps.DefaultContamPpm} AS drop_doc
         |FROM g d LEFT JOIN bench b USING (g)
         |WHERE d.doc_id % 97 != 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // replays DocTextOps.bloomDecontaminate: the filter's set bits as a
    // DISTINCT position table (4 disjoint md5 slices per bench gram), a
    // probe gram is a bloom hit iff all 4 of its positions are set
    "d_bloom_decontaminate" -> {
      val m = graft.ops.DocTextOps.DefaultBloomBits
      def pos(g: String) = s"('0x' || substr(md5($g), 1 + 8 * CAST(r AS INT), 8))::BIGINT % $m"
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') ws FROM documents
         |              WHERE len(string_split(text, ' ')) >= 4),
         |g AS (SELECT doc_id,
         |        unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
         |                              for i in range(1, len(ws) - 2)])) AS g
         |      FROM docs),
         |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
         |bits AS (SELECT DISTINCT ${pos("g")} AS pos FROM bench, range(0, 4) t(r)),
         |probe AS (SELECT doc_id, g FROM g WHERE doc_id % 97 != 0),
         |ph AS (SELECT doc_id, g, count(bits.pos) = 4 AS bhit
         |       FROM (SELECT doc_id, g, ${pos("g")} AS pos FROM probe, range(0, 4) t(r)) p
         |       LEFT JOIN bits USING (pos) GROUP BY doc_id, g),
         |eh AS (SELECT p.doc_id, p.g, b.g IS NOT NULL AS ehit
         |       FROM probe p LEFT JOIN bench b USING (g))
         |SELECT ph.doc_id, count(*)::BIGINT AS n_grams,
         |  sum(CASE WHEN bhit THEN 1 ELSE 0 END)::BIGINT AS n_bloom_hits,
         |  sum(CASE WHEN ehit THEN 1 ELSE 0 END)::BIGINT AS n_exact_hits,
         |  (sum(CASE WHEN bhit THEN 1 ELSE 0 END)
         |    - sum(CASE WHEN ehit THEN 1 ELSE 0 END))::BIGINT AS fp_grams,
         |  sum(CASE WHEN bhit THEN 1 ELSE 0 END) > 0 AS flagged
         |FROM ph JOIN eh USING (doc_id, g)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // replays Selection.lmScore: add-one bigram counts from the refLang
    // slice, fixed-point log2 (FixedLog — engine-exact integer math)
    "d_lm_score" -> {
      val lp = FixedLog.duck("coalesce(ref.c, 0) + 1")
      s"""WITH ${dLmCtes("documents")}
         |SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
         |  sum($lp)::BIGINT AS lm_log2_x64,
         |  sum($lp)::BIGINT // count(*) AS avg_log2_x64
         |FROM big b LEFT JOIN ref USING (g)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // replays Selection.pplBuckets: lmScore's avg joined with lang, then
    // value-tercile labels from the per-(lang, score) bin cumulative window
    "d_ppl_buckets" ->
      s"""WITH ${dLmCtes("documents")},
         |sl AS (SELECT s.doc_id, d.lang, s.avg_log2_x64
         |       FROM scored s JOIN documents d USING (doc_id)),
         |${dTercileCtes("lang")}
         |SELECT doc_id, lang, avg_log2_x64, ppl_bucket
         |FROM buck ORDER BY doc_id""".stripMargin,
    // replays Selection.annealPlan: the same LM-score + tercile CTEs,
    // then the per-(lang, bucket) rollup with divmod budget arithmetic
    "d_anneal" -> {
      val bpm = graft.ops.DocTextOps.DefaultEpochBudgetPermille
      val afm = graft.ops.Selection.DefaultAnnealFracPermille
      s"""WITH ${dLmCtes("documents")},
         |sl AS (SELECT s.doc_id, d.lang, s.avg_log2_x64
         |       FROM scored s JOIN documents d USING (doc_id)),
         |${dTercileCtes("lang")},
         |tok AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
         |        FROM documents),
         |g AS (SELECT b.lang, b.ppl_bucket, count(*)::BIGINT AS n_docs,
         |        sum(t.n_tokens)::BIGINT AS group_tokens
         |      FROM buck b JOIN tok t USING (doc_id) GROUP BY 1, 2),
         |tot AS (SELECT sum(group_tokens)::BIGINT AS corpus_toks,
         |        sum(CASE WHEN ppl_bucket = 'head' THEN group_tokens ELSE 0 END)::BIGINT AS head_toks
         |      FROM g),
         |x AS (SELECT g.*, corpus_toks, head_toks,
         |    corpus_toks // 1000 * $bpm + corpus_toks % 1000 * $bpm // 1000 AS budget_tokens
         |  FROM g, tot),
         |y AS (SELECT *, budget_tokens // 1000 * $afm + budget_tokens % 1000 * $afm // 1000 AS anneal_budget FROM x),
         |z AS (SELECT *,
         |    (budget_tokens - anneal_budget) // greatest(corpus_toks, 1) * 1000000
         |      + (budget_tokens - anneal_budget) % greatest(corpus_toks, 1) * 1000000
         |          // greatest(corpus_toks, 1) AS me6,
         |    anneal_budget // greatest(head_toks, 1) * 1000000
         |      + anneal_budget % greatest(head_toks, 1) * 1000000
         |          // greatest(head_toks, 1) AS ae6 FROM y),
         |a AS (SELECT *,
         |    group_tokens // 1000000 * me6 + group_tokens % 1000000 * me6 // 1000000 AS main_alloc,
         |    CASE WHEN ppl_bucket = 'head'
         |      THEN group_tokens // 1000000 * ae6 + group_tokens % 1000000 * ae6 // 1000000
         |      ELSE 0 END AS anneal_alloc FROM z)
         |SELECT lang, ppl_bucket, n_docs, group_tokens,
         |  main_alloc AS main_alloc_tokens, anneal_alloc AS anneal_alloc_tokens,
         |  main_alloc + anneal_alloc AS total_alloc_tokens,
         |  (main_alloc + anneal_alloc) // greatest(group_tokens, 1) * 1000
         |    + (main_alloc + anneal_alloc) % greatest(group_tokens, 1) * 1000
         |        // greatest(group_tokens, 1) AS epochs_pm
         |FROM a ORDER BY lang, ppl_bucket""".stripMargin
    },
    // replays Selection.tokenBudget: the bin-windowed greedy prefix equals
    // the naive global running sum under (score DESC, doc_id) — tokens are
    // positive, so "inclusive cumsum fits" IS the greedy prefix
    "d_token_budget" ->
      s"""WITH s AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000)
         |      // len(string_split(text, ' ')) AS score
         |  FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT *, sum(n_tokens) OVER (ORDER BY score DESC, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM s)
         |SELECT doc_id, n_tokens, score, cum <= ${Selection.DefaultTokenBudget} AS keep
         |FROM c ORDER BY doc_id""".stripMargin,
    // replays Selection.dsirWeights: hashed bigram buckets, negated
    // target-vs-raw fixed-point log ratio
    "d_dsir_weights" -> {
      val w = s"${FixedLog.duck("tbl.r + 1")} - ${FixedLog.duck("tbl.t + 1")}"
      s"""WITH bx AS (SELECT doc_id, lang, ${dh32("g")} % ${Selection.DefaultDsirBuckets} AS b
         |  FROM (SELECT doc_id, lang,
         |          unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS g
         |        FROM (SELECT doc_id, lang, string_split(text, ' ') ws FROM documents
         |              WHERE len(string_split(text, ' ')) >= 2))),
         |tbl AS (SELECT b, sum(CASE WHEN lang = '${Selection.DefaultRefLang}' THEN 1 ELSE 0 END)::BIGINT AS t,
         |               count(*)::BIGINT AS r FROM bx GROUP BY 1)
         |SELECT bx.doc_id, count(*)::BIGINT AS n_bigrams,
         |  sum($w)::BIGINT AS neg_log2_x64,
         |  sum($w)::BIGINT // count(*) AS avg_neg_log2_x64
         |FROM bx JOIN tbl USING (b)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // replays Selection.sourceCap (the two-stage top-k == one window here)
    "d_source_cap" ->
      s"""WITH s AS (SELECT doc_id, source,
         |    (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000)
         |      // len(string_split(text, ' ')) AS diversity_ppm
         |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |                                   ORDER BY diversity_ppm DESC, doc_id) AS rk FROM s)
         |SELECT doc_id, source, diversity_ppm, rk::BIGINT AS rk
         |FROM r WHERE rk <= ${Selection.DefaultSourceCap} ORDER BY source, rk""".stripMargin,
    "d_repetition" ->
      """WITH base AS (SELECT doc_id, CAST(length(text) AS BIGINT) nc, string_split(text, ' ') ws
        |              FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |gg AS (
        |  SELECT doc_id, nc, 2 AS w, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS g FROM base
        |  UNION ALL
        |  SELECT doc_id, nc, 3 AS w, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]) AS g FROM base),
        |tf AS (SELECT doc_id, nc, w, g, count(*) AS c FROM gg GROUP BY 1, 2, 3, 4),
        |agg AS (SELECT doc_id, nc, max(CASE WHEN w = 2 THEN (c, g) END) AS m2,
        |          COALESCE(SUM(CASE WHEN w = 3 AND c >= 2 THEN c * length(g) ELSE 0 END), 0)::BIGINT AS dup3
        |        FROM tf GROUP BY 1, 2)
        |SELECT doc_id, m2[1]::BIGINT AS top_bigram_cnt, m2[2] AS top_bigram,
        |  m2[1] * length(m2[2]) * 1000000 // nc AS top_bigram_char_ppm,
        |  dup3 AS dup_trigram_chars, dup3 * 1000000 // nc AS dup_trigram_char_ppm
        |FROM agg ORDER BY doc_id""".stripMargin,
    // hash rows = disjoint 8-hex-char slices of ONE md5 per token (the
    // round-4 sketch formulation — mirrors DocTextOps.cmsFreq)
    "d_cms_freq" ->
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |probes AS (SELECT w, count(*)::BIGINT AS n_exact FROM toks
         |           GROUP BY 1 ORDER BY n_exact DESC, w LIMIT 8),
         |cells AS (SELECT r, ('0x' || substr(md5(w), 1 + 8 * CAST(r AS INT), 8))::BIGINT % 32 AS c, count(*)::BIGINT AS v
         |          FROM toks, range(0, 4) t(r) GROUP BY 1, 2),
         |pc AS (SELECT w, n_exact, r, ('0x' || substr(md5(w), 1 + 8 * CAST(r AS INT), 8))::BIGINT % 32 AS c
         |       FROM probes, range(0, 4) t(r))
         |SELECT pc.w AS term, pc.n_exact, min(cells.v) AS n_est,
         |  (min(cells.v) - pc.n_exact) * 1000000 // pc.n_exact AS overest_ppm
         |FROM pc JOIN cells ON pc.r = cells.r AND pc.c = cells.c
         |GROUP BY 1, 2 ORDER BY 2 DESC, 1""".stripMargin,
    "d_chunk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 1),
        |n AS (SELECT doc_id, ws, len(ws)::BIGINT AS t,
        |        CASE WHEN len(ws) <= 16 THEN 1
        |             ELSE (len(ws) - 16 + 11) // 12 + 1 END::BIGINT AS n_chunks
        |      FROM d),
        |e AS (SELECT doc_id, ws, t, n_chunks, unnest(range(0, n_chunks))::BIGINT AS chunk_idx FROM n)
        |SELECT doc_id, chunk_idx, n_chunks,
        |  chunk_idx * 12 AS tok_start,
        |  least(t, chunk_idx * 12 + 16) AS tok_end,
        |  array_to_string(ws[(chunk_idx * 12 + 1):least(t, chunk_idx * 12 + 16)], ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    // the composed pipeline: chunk + pack REPLAYED over the d_downselect
    // dump (each stage's own oracle is elsewhere; this one checks the
    // stages compose) — constants mirror corpusBuild's 16/12 window and
    // 256-token budget
    "d_corpus_build" ->
      """WITH kept AS (SELECT doc_id FROM read_parquet('__VERIFY_OUT__/d_downselect/*.parquet') WHERE sampled),
        |surv AS (SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)),
        |d2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM surv
        |       WHERE len(string_split(text, ' ')) >= 1),
        |n AS (SELECT doc_id, ws, len(ws)::BIGINT AS t,
        |        CASE WHEN len(ws) <= 16 THEN 1
        |             ELSE (len(ws) - 16 + 11) // 12 + 1 END::BIGINT AS n_chunks
        |      FROM d2),
        |e AS (SELECT doc_id, ws, t, unnest(range(0, n_chunks))::BIGINT AS chunk_idx FROM n),
        |ch AS (SELECT doc_id::BIGINT * 1000000 + chunk_idx AS ck,
        |         len(string_split(array_to_string(ws[(chunk_idx * 12 + 1):least(t, chunk_idx * 12 + 16)], ' '), ' '))::BIGINT AS n_tokens
        |       FROM e),
        |c AS (SELECT ck, n_tokens,
        |        COALESCE(sum(n_tokens) OVER (ORDER BY n_tokens DESC, ck
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
        |      FROM ch)
        |SELECT ck AS chunk_key, ck // 1000000 AS src_doc_id, ck % 1000000 AS chunk_idx,
        |  n_tokens, cum_before // 256 AS pack_id, cum_before % 256 AS pack_offset
        |FROM c ORDER BY chunk_key""".stripMargin,
    "d_pack" ->
      s"""$packCtes
         |SELECT doc_id, n_tokens, cum_before // ${DocTextOps.DefaultPackBudget} AS pack_id,
         |  cum_before % ${DocTextOps.DefaultPackBudget} AS pack_offset
         |FROM c ORDER BY doc_id""".stripMargin,
    // replays DocTextOps.fimTransform: same hash coin + two hash cut
    // draws on the character grid, same PSM sentinel rendering
    "d_fim" ->
      s"""WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
         |           FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT doc_id, text, n_chars,
         |    ${dh32("(CAST(doc_id AS VARCHAR) || ':fim')")} % 1000 < ${DocTextOps.FimRatePerMille} AS sel,
         |    least(${dh32("(CAST(doc_id AS VARCHAR) || ':a')")} % (n_chars + 1),
         |          ${dh32("(CAST(doc_id AS VARCHAR) || ':b')")} % (n_chars + 1)) AS lo,
         |    greatest(${dh32("(CAST(doc_id AS VARCHAR) || ':a')")} % (n_chars + 1),
         |             ${dh32("(CAST(doc_id AS VARCHAR) || ':b')")} % (n_chars + 1)) AS hi
         |  FROM d)
         |SELECT doc_id,
         |  CASE WHEN sel THEN 'psm' ELSE 'ar' END AS mode,
         |  CASE WHEN sel THEN lo END AS cut_lo,
         |  CASE WHEN sel THEN hi END AS cut_hi,
         |  n_chars,
         |  md5(CASE WHEN sel THEN '<|fim_prefix|>' || substr(text, 1, lo) ||
         |      '<|fim_suffix|>' || substr(text, hi + 1) ||
         |      '<|fim_middle|>' || substr(text, lo + 1, hi - lo)
         |    ELSE text END) AS fim_md5
         |FROM c ORDER BY doc_id""".stripMargin,
    // replays DocTextOps.shardCorpus: d_pack's cumulative chain grouped to
    // packs, then the h32(pack_id)-keyed shard + within-shard rank
    "d_shard" -> {
      val ns = graft.ops.DocTextOps.DefaultShards
      s"""$packCtes,
         |p AS (SELECT cum_before // ${DocTextOps.DefaultPackBudget} AS pack_id,
         |        count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS pack_tokens
         |      FROM c GROUP BY 1),
         |h AS (SELECT *, ${dh32("pack_id::VARCHAR")} AS h FROM p)
         |SELECT pack_id, h % $ns AS shard,
         |  row_number() OVER (PARTITION BY h % $ns ORDER BY h, pack_id)::BIGINT AS seq_idx,
         |  n_docs, pack_tokens
         |FROM h ORDER BY shard, seq_idx""".stripMargin
    },
    "d_bpe_train" -> {
      // replays every merge round of DocTextOps.bpeTrain, unrolled like
      // the k-means oracle: per round, the argmax pair (count DESC, pair
      // ASC) and the padded-replace merge application, both engine-exact.
      // The unroll assumes the corpus supports all k rounds (true for the
      // driver corpus by a wide margin); bpeTrain's early stop on
      // exhaustion exists for API safety on degenerate inputs, which this
      // fixed-round oracle deliberately does not model
      val k = graft.ops.DocTextOps.DefaultBpeMerges
      val rows = (1 to k).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS step, (SELECT pr FROM p$i) AS pair,
           |  (SELECT replace(pr, ' ', '@@') FROM p$i) AS merged,
           |  (SELECT c FROM p$i) AS pair_count,
           |  (SELECT sum(len(string_split(txt, ' ')))::BIGINT FROM t$i) AS corpus_tokens_after""".stripMargin
      }
      bpeCtes(k) + "\n" + rows.mkString("\nUNION ALL\n") + "\nORDER BY step"
    },
    // replays DocTextOps.bpeEncode: the same merge-round chain, read out
    // per document instead of per round
    "d_bpe_encode" -> {
      val k = graft.ops.DocTextOps.DefaultBpeMerges
      s"""${bpeCtes(k)}
         |SELECT doc_id, len(string_split(txt, ' '))::BIGINT AS n_tokens,
         |  ((length(txt) - length(replace(txt, '@@', ''))) // 2)::BIGINT AS n_merges,
         |  md5(txt) AS encoded_md5
         |FROM t$k WHERE txt IS NOT NULL ORDER BY doc_id""".stripMargin
    },
    // replays DocTextOps.epochAllocation: same share table, same
    // divmod-factored budget/alloc/epoch arithmetic
    "d_epochs" -> {
      val cases = graft.ops.DocTextOps.DefaultMixTargets.toSeq.sorted
        .map { case (src, t) => s"WHEN '$src' THEN $t" }.mkString(" ")
      val bpm = graft.ops.DocTextOps.DefaultEpochBudgetPermille
      val cap = graft.ops.DocTextOps.DefaultRepeatCapEpochs
      s"""WITH bysrc AS (SELECT source, count(*)::BIGINT AS n_docs,
         |      sum(COALESCE(len(string_split(text, ' ')), 0))::BIGINT AS source_tokens
         |    FROM documents GROUP BY 1),
         |tot AS (SELECT sum(source_tokens)::BIGINT AS corpus_tokens FROM bysrc),
         |x AS (SELECT source, n_docs, source_tokens,
         |    (CASE source $cases ELSE 0 END)::BIGINT AS share_ppm,
         |    corpus_tokens // 1000 * $bpm + corpus_tokens % 1000 * $bpm // 1000 AS budget_tokens
         |  FROM bysrc, tot),
         |a AS (SELECT *, share_ppm * (budget_tokens // 1000000)
         |      + share_ppm * (budget_tokens % 1000000) // 1000000 AS alloc_tokens FROM x),
         |e AS (SELECT *, alloc_tokens // greatest(source_tokens, 1) * 1000
         |      + alloc_tokens % greatest(source_tokens, 1) * 1000
         |          // greatest(source_tokens, 1) AS epochs_pm FROM a)
         |SELECT source, n_docs, source_tokens, share_ppm, alloc_tokens, epochs_pm,
         |  least(alloc_tokens, $cap * source_tokens) AS effective_tokens,
         |  alloc_tokens > $cap * source_tokens AS over_cap
         |FROM e ORDER BY source""".stripMargin
    },
    "d_mix" -> {
      // one copy of the target table, shared with the Spark-side default
      val cases = graft.ops.DocTextOps.DefaultMixTargets.toSeq.sorted
        .map { case (src, t) => s"WHEN '$src' THEN $t" }.mkString(" ")
      s"""WITH toks AS (SELECT doc_id, source,
         |         COALESCE(len(string_split(text, ' ')), 0)::BIGINT AS n_tokens FROM documents),
         |bysrc AS (SELECT source, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS tokens_total
         |          FROM toks GROUP BY 1),
         |tot AS (SELECT sum(tokens_total)::BIGINT AS corpus_tokens FROM bysrc),
         |rates AS (SELECT source, n_docs, tokens_total,
         |    (CASE source $cases ELSE 0 END)::BIGINT AS target_ppm,
         |    least(1000000,
         |      target_ppm * least(corpus_tokens // greatest(tokens_total, 1), 1000000)
         |      + target_ppm * (corpus_tokens % greatest(tokens_total, 1))
         |          // greatest(tokens_total, 1)) AS rate_ppm
         |  FROM bysrc, tot),
         |samp AS (SELECT t.source, count(*)::BIGINT AS n_docs_sampled,
         |    sum(t.n_tokens)::BIGINT AS tokens_sampled
         |  FROM toks t JOIN rates r ON t.source = r.source
         |  WHERE ${dh32("CAST(t.doc_id AS VARCHAR)")} % 1000000 < r.rate_ppm
         |  GROUP BY 1),
         |j AS (SELECT r.source, r.n_docs, r.tokens_total, r.target_ppm, r.rate_ppm,
         |    COALESCE(s.n_docs_sampled, 0)::BIGINT AS n_docs_sampled,
         |    COALESCE(s.tokens_sampled, 0)::BIGINT AS tokens_sampled
         |  FROM rates r LEFT JOIN samp s ON r.source = s.source),
         |w AS (SELECT *, greatest(sum(tokens_sampled) OVER (), 1)::BIGINT AS ts_all FROM j)
         |SELECT source, n_docs, tokens_total, target_ppm, rate_ppm,
         |  n_docs_sampled, tokens_sampled,
         |  (tokens_sampled // ts_all) * 1000000 + (tokens_sampled % ts_all) * 1000000 // ts_all AS achieved_ppm
         |FROM w ORDER BY source""".stripMargin
    },
    "d_incr_view" ->
      """SELECT lang, source, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS n_chars_sum,
        |  count(DISTINCT doc_id % 3)::BIGINT AS n_batches_seen
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_zorder" -> {
      val z = graft.ops.Layout.zValueExpr("x", "y", 8, "//")
      val y = graft.ops.Layout.yExpr("CAST(floor(epoch(ts)) AS BIGINT)", "//")
      def arm(cell: String, name: String) =
        s"""SELECT '$name' AS layout, $cell AS cell, count(*)::BIGINT AS cnt,
           |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
           |FROM k GROUP BY 2""".stripMargin
      s"""WITH base AS (SELECT CAST(user_id % 256 AS BIGINT) AS x, $y AS y FROM events),
         |k AS (SELECT x, y, ($z) // 256 AS zcell, y AS tcell, x AS ucell FROM base),
         |c AS (${arm("zcell", "zorder")}
         |  UNION ALL ${arm("tcell", "time_major")}
         |  UNION ALL ${arm("ucell", "user_major")}),
         |agg AS (SELECT layout, count(*)::BIGINT AS n_cells, sum(cnt)::BIGINT AS n_rows,
         |  sum(CASE WHEN min_x <= 47 AND max_x >= 32 THEN 1 ELSE 0 END)::BIGINT AS cells_user_slice,
         |  sum(CASE WHEN min_y <= 31 AND max_y >= 16 THEN 1 ELSE 0 END)::BIGINT AS cells_time_slice
         |FROM c GROUP BY 1)
         |SELECT layout, n_cells, n_rows, cells_user_slice, cells_time_slice,
         |  greatest(cells_user_slice, cells_time_slice) AS worst_slice_cells
         |FROM agg ORDER BY layout""".stripMargin
    },
    // binWidth replays DocTextOps.derivedBinWidth: ceil(range/2^16), then
    // the smallest power of two >= it — exact integer shifts, no log2 float
    "d_hist_quantiles" ->
      """WITH rng AS (SELECT CASE WHEN min(n_chars) IS NULL THEN 1::BIGINT
        |         ELSE (CAST(max(n_chars) AS BIGINT) - CAST(min(n_chars) AS BIGINT) + 1 + 65535) // 65536 END AS needed
        |       FROM documents),
        |bw AS (SELECT min(1::BIGINT << g) AS w FROM generate_series(0, 62) t(g), rng
        |       WHERE (1::BIGINT << g) >= rng.needed),
        |b AS (SELECT n_chars // bw.w AS bin, count(*)::BIGINT AS cnt FROM documents, bw GROUP BY 1),
        |c AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin)::BIGINT AS cum FROM b),
        |t AS (SELECT sum(cnt)::BIGINT AS n_total FROM b),
        |q AS (SELECT unnest([250000, 500000, 750000, 900000, 990000])::BIGINT AS q_ppm),
        |tg AS (SELECT q_ppm, n_total, (q_ppm * n_total + 999999) // 1000000 AS target FROM q, t),
        |pk AS (SELECT q_ppm, n_total, target, min(bin) AS bin
        |       FROM tg JOIN c ON c.cum >= tg.target GROUP BY 1, 2, 3),
        |pe AS (SELECT pk.q_ppm, pk.n_total, pk.target, pk.bin, c.cnt,
        |         c.cum - c.cnt AS cum_before FROM pk JOIN c USING (bin)),
        |ex AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS rn FROM documents),
        |r AS (SELECT pe.q_ppm, pe.n_total, pe.bin * bw.w AS bin_lo, pe.cnt AS bin_cnt,
        |        pe.bin * bw.w + (pe.target - pe.cum_before - 1) * bw.w // pe.cnt AS est,
        |        CAST(ex.n_chars AS BIGINT) AS exact
        |      FROM pe JOIN ex ON ex.rn = pe.target, bw)
        |SELECT q_ppm, n_total, bin_lo, bin_cnt, est, exact, abs(est - exact) AS abs_err
        |FROM r ORDER BY q_ppm""".stripMargin,
    // same CTE chain with the width FORCED to 64 (no rng/bw derivation) —
    // realizes the interpolation branch and nonzero abs_err
    "d_hist_quantiles_coarse" ->
      """WITH b AS (SELECT n_chars // 64 AS bin, count(*)::BIGINT AS cnt FROM documents GROUP BY 1),
        |c AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin)::BIGINT AS cum FROM b),
        |t AS (SELECT sum(cnt)::BIGINT AS n_total FROM b),
        |q AS (SELECT unnest([250000, 500000, 750000, 900000, 990000])::BIGINT AS q_ppm),
        |tg AS (SELECT q_ppm, n_total, (q_ppm * n_total + 999999) // 1000000 AS target FROM q, t),
        |pk AS (SELECT q_ppm, n_total, target, min(bin) AS bin
        |       FROM tg JOIN c ON c.cum >= tg.target GROUP BY 1, 2, 3),
        |pe AS (SELECT pk.q_ppm, pk.n_total, pk.target, pk.bin, c.cnt,
        |         c.cum - c.cnt AS cum_before FROM pk JOIN c USING (bin)),
        |ex AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS rn FROM documents),
        |r AS (SELECT pe.q_ppm, pe.n_total, pe.bin * 64 AS bin_lo, pe.cnt AS bin_cnt,
        |        pe.bin * 64 + (pe.target - pe.cum_before - 1) * 64 // pe.cnt AS est,
        |        CAST(ex.n_chars AS BIGINT) AS exact
        |      FROM pe JOIN ex ON ex.rn = pe.target)
        |SELECT q_ppm, n_total, bin_lo, bin_cnt, est, exact, abs(est - exact) AS abs_err
        |FROM r ORDER BY q_ppm""".stripMargin,
    "d_ngram_jaccard" ->
      s"""WITH $dShingleDocs,
         |${dJaccard(Some(graft.ops.Dedup.DefaultDfCap))}
         |SELECT da AS doc_a, db AS doc_b, jaccard_ppm FROM jac
         |WHERE jaccard_ppm >= 800000 ORDER BY doc_a, doc_b""".stripMargin,
    "d_dedup_clusters" ->
      s"""WITH RECURSIVE $dShingleDocs,
         |${dJaccard(Some(graft.ops.Dedup.DefaultDfCap))},
         |$dClusterCtes
         |SELECT l.doc_id, l.component, sz.cluster_size,
         |  l.doc_id = l.component AS is_canonical
         |FROM lab l JOIN sz USING (component) ORDER BY l.doc_id""".stripMargin,
    // replays Dedup.dedupKeepBest: same clusters, survivor = highest
    // integer lexical-diversity ppm (doc_id asc tie-break); NULL text
    // scores the -1 sentinel
    "d_dedup_keep_best" ->
      s"""WITH RECURSIVE $dShingleDocs,
         |${dJaccard(Some(graft.ops.Dedup.DefaultDfCap))},
         |$dClusterCtes,
         |$dKeepBestCtes
         |SELECT doc_id, component, cluster_size, diversity_ppm, rn = 1 AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    // replays Selection.ccnetPipeline: keep-best dedup (shared cluster +
    // keep-best CTEs), lang-ID + reference-LM over the SURVIVORS (shared
    // builders re-sourced on `surv`), per-predicted-lang terciles (shared
    // tercile CTEs), lineage row per input document
    "d_ccnet" ->
      s"""WITH RECURSIVE $dShingleDocs,
         |${dJaccard(Some(graft.ops.Dedup.DefaultDfCap))},
         |$dClusterCtes,
         |$dKeepBestCtes,
         |kb AS (SELECT doc_id, rn = 1 AS dedup_keep FROM r),
         |surv AS (SELECT d.* FROM documents d JOIN kb USING (doc_id)
         |         WHERE dedup_keep AND d.text IS NOT NULL),
         |${dLmCtes("surv")},
         |${dTrigramCtes("surv")},
         |sl AS (SELECT s.doc_id, l.lang_pred, s.avg_log2_x64
         |       FROM scored s JOIN lid l USING (doc_id)),
         |${dTercileCtes("lang_pred")}
         |SELECT d.doc_id, coalesce(kb.dedup_keep, false) AS dedup_keep,
         |  b.lang_pred, b.avg_log2_x64, b.ppl_bucket,
         |  coalesce(b.ppl_bucket IN ('head', 'middle'), false) AS selected
         |FROM documents d LEFT JOIN kb USING (doc_id) LEFT JOIN buck b USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "d_minhash_lsh" -> minhashOracle,
    // replays Dedup.lshRecall: each doc vs its prefix-truncated twin (keep
    // 50..90% by doc_id%5), exact subset Jaccard, one banding pass over
    // originals+twins, shared-band count via the 1:1 offset join
    "d_lsh_recall" -> {
      val off = graft.ops.Dedup.RecallTwinOffset
      def grams(c: String) =
        s"list_distinct([$c[i] || ' ' || $c[i+1] || ' ' || $c[i+2] for i in range(1, len($c) - 1)])"
      s"""WITH docs0 AS (SELECT doc_id, string_split(text, ' ') ws
         |               FROM documents WHERE len(string_split(text, ' ')) >= 8),
         |base0 AS (SELECT doc_id, ws, 50 + (doc_id % 5) * 10 AS keep_pct,
         |            ws[1 : CAST(len(ws) * (50 + (doc_id % 5) * 10) // 100 AS INT)] AS wv
         |          FROM docs0),
         |base AS (SELECT doc_id, keep_pct, ${grams("ws")} AS sa, ${grams("wv")} AS sb FROM base0),
         |jacd AS (SELECT doc_id, keep_pct,
         |           (CAST(len(list_filter(sb, x -> list_contains(sa, x))) AS BIGINT) * 1000000)
         |             // (len(sa) + len(sb) - len(list_filter(sb, x -> list_contains(sa, x)))) AS jaccard_ppm
         |         FROM base),
         |sh AS (SELECT doc_id, sa AS shs FROM base
         |       UNION ALL SELECT doc_id + $off, sb FROM base),
         |$dBandedCtes,
         |shared AS (SELECT x.doc_id, count(*)::BIGINT AS nsb
         |           FROM banded x JOIN banded y
         |             ON x.doc_id + $off = y.doc_id AND x.band = y.band AND x.key = y.key
         |           GROUP BY 1)
         |SELECT j.doc_id, keep_pct::BIGINT AS keep_pct, jaccard_ppm,
         |  coalesce(nsb, 0)::BIGINT AS n_shared_bands,
         |  jaccard_ppm >= 500000 AS is_dup, coalesce(nsb, 0) > 0 AS found
         |FROM jacd j LEFT JOIN shared s ON j.doc_id = s.doc_id
         |ORDER BY j.doc_id""".stripMargin
    },
    // replays Dedup.splitAssign: cluster-atomic split assignment by the
    // salted component hash (near-dup clusters never straddle splits)
    "d_split" ->
      s"""WITH RECURSIVE $dShingleDocs,
         |${dJaccard(Some(graft.ops.Dedup.DefaultDfCap))},
         |$dClusterCtes
         |SELECT l.doc_id, l.component, sz.cluster_size,
         |  ${dh32("l.component::VARCHAR || ':split'")} % 1000000 AS bucket_ppm,
         |  CASE WHEN ${dh32("l.component::VARCHAR || ':split'")} % 1000000 < ${graft.ops.Dedup.DefaultTestPpm} THEN 'test'
         |       WHEN ${dh32("l.component::VARCHAR || ':split'")} % 1000000 < ${graft.ops.Dedup.DefaultTestPpm + graft.ops.Dedup.DefaultValPpm} THEN 'val'
         |       ELSE 'train' END AS split
         |FROM lab l JOIN sz USING (component) ORDER BY l.doc_id""".stripMargin,
    "d_incr_dedup" -> incrDedupOracle,
    "d_stream_dedup" ->
      """WITH t AS (SELECT doc_id, md5(text) AS content_hash,
        |    CAST(1767225600 + (doc_id % 37) * 60 AS BIGINT) AS epoch
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY content_hash
        |        ORDER BY epoch, doc_id) AS rn FROM t)
        |SELECT doc_id, content_hash, epoch FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "d_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM simt ORDER BY doc_id""".stripMargin,
    "d_simhash_pairs" -> {
      import graft.ops.Dedup.{SimhashBlocks, SimhashBlockBits}
      val joins = (0 until SimhashBlocks).map { i =>
        s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           |FROM blk a JOIN blk b ON a.blk$i = b.blk$i AND a.doc_id < b.doc_id""".stripMargin
      }
      val blkCols = (0 until SimhashBlocks)
        .map(i => s"(simhash // ${1L << (SimhashBlockBits * i)}) % ${1L << SimhashBlockBits} AS blk$i")
        .mkString(", ")
      s"""WITH $simhashCte,
         |blk AS (SELECT doc_id, simhash, $blkCols FROM simt)
         |SELECT DISTINCT doc_a, doc_b, hamming FROM (${joins.mkString(" UNION ALL ")})
         |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
    },
    "e_knn" -> knnOracle,
    "e_ann_recall" ->
      s"""WITH tknn AS (SELECT query_id, neighbor_id FROM ($knnOracle)),
         |tivf AS (SELECT query_id, neighbor_id FROM ($annIvfOracle)),
         |tlsh AS (SELECT query_id, neighbor_id FROM ($annOracle))
         |SELECT method, n_hits, n_possible, (n_hits * 1000000) // n_possible AS recall_ppm
         |FROM (
         |  SELECT 'ivf' AS method,
         |    (SELECT count(*) FROM tknn JOIN tivf USING (query_id, neighbor_id)) AS n_hits,
         |    (SELECT count(*) FROM tknn) AS n_possible
         |  UNION ALL
         |  SELECT 'lsh',
         |    (SELECT count(*) FROM tknn JOIN tlsh USING (query_id, neighbor_id)),
         |    (SELECT count(*) FROM tknn))
         |ORDER BY method""".stripMargin,
    "e_neardup" ->
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${dCos("a.v", "b.v")} AS sim
         |FROM base a JOIN base b ON a.vec_id < b.vec_id
         |WHERE ${dCos("a.v", "b.v")} >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,
    "e_ann_lsh" -> annOracle,
    "e_centroids" ->
      """SELECT label, CAST(i - 1 AS INT) AS pos,
        |  CAST(SUM(CAST(floor(embedding[i]::DOUBLE * 1048576) AS BIGINT)) AS BIGINT) AS sum_scaled,
        |  COUNT(*) AS n
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "e_kmeans" -> kmeansOracle,
    "e_semantic_dedup" -> semanticDedupOracle,
    "e_ann_pq" -> pqOracle,
    "e_ann_ivfpq" -> ivfPqOracle,
    "e_ann_incr" -> annIvfAppendOracle,
    // the persisted-index round trip is search-identical to e_ann_incr by
    // construction (same kernels; centroid grids round-trip parquet BIGINTs
    // exactly) — the SAME oracle therefore pins that the store round trip
    // (write_index -> read_index -> append -> two-snapshot search) loses or
    // corrupts nothing
    "e_ann_persisted" -> annIvfAppendOracle,
    "e_ann_drift" -> annIvfDriftOracle,
    "e_ann_retrain" -> annIvfRetrainOracle,
    // replays Dedup.substrDedup: the shared span CTE chain (substrCtes),
    // read out as the maximal duplicated spans
    "d_substr_dedup" ->
      s"""WITH $dSubstrTwin,
         |${substrCtes(Dedup.DefaultSubstrW, "sdd")}
         |SELECT doc_id, span_start, span_end, n_windows
         |FROM spans ORDER BY doc_id, span_start""".stripMargin,
    // replays Dedup.winnowPairs: gram hashes as a list comprehension, each
    // window's rightmost-minimum via list_reduce (b.h <= a.h keeps the
    // LATER gram — the paper's tie rule), then the df-capped pair join
    "d_winnow_pairs" -> {
      val (k, w) = (Dedup.WinnowK, Dedup.WinnowW)
      val gram = (1 until k).foldLeft("ws[i]")((acc, j) => s"$acc || ' ' || ws[i+$j]")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') ws FROM documents
         |           WHERE len(string_split(text, ' ')) >= ${k + w - 1}),
         |hv AS (SELECT doc_id,
         |         [('0x' || substr(md5($gram), 1, 8))::BIGINT
         |          for i in range(1, len(ws) - ${k - 2})] AS hs FROM d),
         |sel AS (SELECT doc_id, unnest([
         |    list_reduce([{'h': hs[j], 'p': CAST(j - 1 AS BIGINT)} for j in range(i, i + $w)],
         |                (a, b) -> CASE WHEN b.h <= a.h THEN b ELSE a END)
         |    for i in range(1, len(hs) - ${w - 2})]) AS s FROM hv),
         |prints AS (SELECT DISTINCT doc_id, s.h AS h FROM sel),
         |ok AS (SELECT h FROM prints GROUP BY h HAVING count(*) <= ${Dedup.DefaultDfCap}),
         |pp AS (SELECT doc_id, h FROM prints JOIN ok USING (h)),
         |sets AS (SELECT doc_id, count(*)::BIGINT AS n FROM pp GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS shared
         |          FROM pp a JOIN pp b ON a.h = b.h AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared, sa.n AS a_prints, sb.n AS b_prints,
         |  shared * 1000000 // least(sa.n, sb.n) AS containment_ppm
         |FROM pairs JOIN sets sa ON sa.doc_id = doc_a
         |           JOIN sets sb ON sb.doc_id = doc_b
         |WHERE shared >= ${Dedup.WinnowMinShared}
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // replays Dedup.substrCut: the same spans, applied — every token whose
    // 0-based index falls inside a span is removed, survivors re-joined
    "d_substr_cut" ->
      s"""WITH $dSubstrTwin,
         |${substrCtes(Dedup.DefaultSubstrW, "sdd")},
         |tok AS (SELECT doc_id, tk.i AS i, tk.t AS t
         |        FROM (SELECT doc_id,
         |                unnest([{'i': CAST(i - 1 AS BIGINT), 't': ws[i]}
         |                        for i in range(1, len(ws) + 1)]) AS tk
         |              FROM (SELECT doc_id, string_split(text, ' ') ws FROM sdd
         |                    WHERE text IS NOT NULL))),
         |cut AS (SELECT tok.doc_id, tok.i, tok.t, count(s.doc_id) > 0 AS cut
         |        FROM tok LEFT JOIN spans s
         |          ON tok.doc_id = s.doc_id AND tok.i >= s.span_start AND tok.i < s.span_end
         |        GROUP BY tok.doc_id, tok.i, tok.t)
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |  sum(CASE WHEN NOT cut THEN 1 ELSE 0 END)::BIGINT AS n_kept_tokens,
         |  sum(CASE WHEN cut THEN 1 ELSE 0 END)::BIGINT AS n_cut_tokens,
         |  md5(coalesce(string_agg(CASE WHEN NOT cut THEN t END, ' ' ORDER BY i), '')) AS cleaned_md5
         |FROM cut GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d_pagerank" -> pagerankOracle,
    "m_features" ->
      s"""SELECT doc_id, $dModality AS modality,
         |  CAST(CASE WHEN doc_id % 3 = 0 THEN $dBmpBytes
         |            WHEN doc_id % 3 = 1 THEN 44 + strlen(text)
         |            ELSE $dVidBytes END AS INT) AS n_bytes,
         |  CAST(CASE WHEN $dHdrCorrupt THEN 0
         |            WHEN doc_id % 3 = 0 THEN $dBmpW
         |            WHEN doc_id % 3 = 1 THEN strlen(text)
         |            ELSE $dVidW END AS INT) AS width,
         |  CAST(CASE WHEN $dHdrCorrupt THEN 0
         |            WHEN doc_id % 3 = 0 THEN $dBmpH
         |            WHEN doc_id % 3 = 1 THEN 1
         |            ELSE $dVidH END AS INT) AS height,
         |  NOT ($dHdrCorrupt) AS header_ok
         |FROM documents ORDER BY doc_id""".stripMargin,
    "m_resize" ->
      s"""WITH r AS (SELECT doc_id, text, n_chars,
         |    greatest(1, $dBmpW // 2) AS w2, greatest(1, $dBmpH // 2) AS h2,
         |    greatest(1, $dVidW // 2) AS vw2, greatest(1, $dVidH // 2) AS vh2
         |  FROM documents)
         |SELECT doc_id, $dModality AS modality,
         |  CAST(CASE WHEN doc_id % 3 = 0 THEN w2
         |            WHEN doc_id % 3 = 1 THEN (strlen(text) + 1) // 2
         |            ELSE vw2 END AS INT) AS width_out,
         |  CAST(CASE WHEN doc_id % 3 = 0 THEN h2
         |            WHEN doc_id % 3 = 1 THEN 1
         |            ELSE vh2 END AS INT) AS height_out,
         |  CAST(CASE WHEN doc_id % 3 = 0 THEN 54 + ((w2 * 3 + 3) // 4 * 4) * h2
         |            WHEN doc_id % 3 = 1 THEN 44 + (strlen(text) + 1) // 2
         |            ELSE ${dY4mHeader("vw2", "vh2")} + $dVidFrames * (6 + vw2 * vh2 * 3)
         |       END AS INT) AS n_bytes_out
         |FROM r ORDER BY doc_id""".stripMargin,
    "m_frames" ->
      s"""WITH m AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN $dBmpBytes - 54 ELSE strlen(text) END AS body,
         |    $dVidFrames AS vid_frames, $dVidW * $dVidH * 3 AS vid_fsz
         |  FROM documents),
         |f AS (SELECT doc_id, body, vid_frames, vid_fsz,
         |        CASE WHEN doc_id % 3 = 2 THEN vid_frames ELSE (body + 15) // 16 END AS n_frames
         |      FROM m)
         |SELECT doc_id, $dModality AS modality,
         |  CAST(n_frames AS INT) AS n_frames,
         |  CAST((n_frames + 3) // 4 AS INT) AS n_frames_kept,
         |  CAST(CASE
         |    WHEN doc_id % 3 = 2 THEN ((n_frames + 3) // 4) * vid_fsz
         |    WHEN n_frames = 0 THEN 0
         |    ELSE ((n_frames + 3) // 4) * 16 -
         |      (CASE WHEN (n_frames - 1) % 4 = 0 AND body % 16 <> 0 THEN 16 - body % 16 ELSE 0 END)
         |  END AS INT) AS n_bytes_kept
         |FROM f ORDER BY doc_id""".stripMargin,
    "m_feature_summary" ->
      s"""SELECT $dModality AS modality,
         |  COUNT(*) AS n,
         |  SUM(CASE WHEN doc_id % 3 = 0 THEN $dBmpBytes
         |           WHEN doc_id % 3 = 1 THEN 44 + strlen(text)
         |           ELSE $dVidBytes END)::BIGINT AS total_bytes,
         |  MAX(CAST(CASE WHEN $dHdrCorrupt THEN 0
         |               WHEN doc_id % 3 = 0 THEN $dBmpW
         |               WHEN doc_id % 3 = 1 THEN strlen(text)
         |               ELSE $dVidW END AS INT)) AS max_width,
         |  MIN(CASE WHEN $dHdrCorrupt THEN 0 ELSE 1 END) AS all_headers_ok
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
