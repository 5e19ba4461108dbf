package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Deduplication operators over `documents` — exact, MinHash+LSH, SimHash,
  * and n-gram Jaccard. All pure DataFrame algebra, designed to the same
  * plan shape they'd need at 100 TB:
  *
  *  - exact: one hash-aggregate (map-side partial) on md5(text).
  *  - n-gram Jaccard: explode distinct shingles → document-frequency cap
  *    (bounds any shingle's join fan-out; see [[DefaultDfCap]]) →
  *    self-equi-join on shingle (shuffle on shingle — never an all-pairs
  *    cross join) → count → filter.
  *  - MinHash/LSH: shingles → per-doc signature + band keys (one JIT'd
  *    typed kernel) → self-equi-join on (band, band hash) → exact-Jaccard
  *    verify of the candidates only.
  *  - SimHash: token hash → 60 bit-position votes → per-doc 60-bit sketch
  *    (same typed-kernel shape); pair scan joins on 15-bit pigeonhole
  *    blocks.
  *
  * Hash arithmetic is md5-derived 32-bit integers with explicit modular
  * math — reproducible bit-for-bit by the DuckDB oracle.
  */
object Dedup {

  /** Exact duplicate groups: md5 of raw text. `dup_count > 1` marks a
    * duplicate cluster; `keep` is the canonical (min doc_id) survivor —
    * standard exact-dedup shape: one shuffle on the 16-byte digest.
    * NULL-text documents are EXCLUDED (matching the file's other ops):
    * md5(NULL) is NULL and GROUP BY would collapse every null-text doc
    * into one bogus "duplicate" cluster whose non-canonical members a
    * downstream keep-filter would silently delete.
    * Member lists are opt-in: at corpus scale a duplicate cluster can hold
    * millions of ids, and `collect_list` would materialize them all in one
    * aggregation buffer. */
  def exact(documents: DataFrame, withMembers: Boolean = false): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("dup_count"),
      min("doc_id").as("keep_doc_id")) ++
      (if (withMembers) Seq(sort_array(collect_list("doc_id")).as("doc_ids")) else Nil)
    documents
      .where("text IS NOT NULL")
      .selectExpr("doc_id", "md5(text) AS content_hash")
      .groupBy("content_hash")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("content_hash")
  }

  private val P = 2147483647L // 2^31 - 1
  val NumPerms = 32
  val Bands = 8
  val RowsPerBand: Int = NumPerms / Bands

  /** a_k, b_k permutation constants — small enough that a_k * h (< 2^31 each)
    * never overflows a signed 64-bit int in any engine. */
  def permA(k: Int): Long = ((2L * k + 1L) * 2654435761L) % P
  def permB(k: Int): Long = ((k + 1L) * 40503L * 65537L) % P

  /** Per-doc distinct 3-shingle sets (docs with ≥3 tokens). */
  private def shingleSetsOf(documents: DataFrame): DataFrame =
    documents
      .where("size(split(text, ' ')) >= 3")
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", s"${Shingles.ws} AS ws")
      .selectExpr("doc_id", s"${Shingles.shingles} AS shs")

  private val PermAs: Array[Long] = (0 until NumPerms).map(permA).toArray
  private val PermBs: Array[Long] = (0 until NumPerms).map(permB).toArray

  /** Shingle sets → [[NumPerms]] permutation minima → [[Bands]] banded
    * keys (rolling-31 combine), exploded to one (id, band, key) row per
    * band. `sets` is (id, shs): the id column passes through under its
    * own name and type (Long doc ids, String conv ids), and `shs` holds
    * either shingle strings or their `Shingles.h32` hashes — the string
    * path's first move is that reduction, so both give the same keys. ONE
    * construction for every MinHash operator (doc-level, conversation-
    * level, stored-index) and mirrored by the DuckDB oracles, so the band
    * layout cannot drift between them.
    *
    * Runs as a JIT'd Scala function, not SQL array lambdas: higher-order
    * expressions are interpreted (no whole-stage codegen) and the 32
    * per-shingle permutation evaluations dominated the operator's cost.
    * The arithmetic is the exact formula the DuckDB oracles replay —
    * md5-first-8-hex-chars hash, `(a_k·h + b_k) % P` minima, rolling-31
    * band combine — all exact integer ops. */
  private[ops] def banded(sets: DataFrame): DataFrame = {
    val Array(id, shs) = sets.columns
    val keys = sets.schema(shs).dataType match {
      case ArrayType(StringType, _) => udf((s: Array[String]) => bandKeys(s))
      case _ => udf((hs: Array[Long]) => bandKeysFromHashes(hs))
    }
    sets.select(col(id), posexplode(keys(col(shs))).as(Seq("band", "key")))
  }

  /** One MD5 per executor thread: the banding UDF runs once per row. */
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private def bandKeys(shs: Array[String]): Array[Long] = {
    val md = md5.get
    bandKeysFromHashes(shs.map(s =>
      Shingles.sliceU32(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)), 0)))
  }

  private def bandKeysFromHashes(hs: Array[Long]): Array[Long] = {
    val sigs = Array.fill(NumPerms)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i) % P
      var k = 0
      while (k < NumPerms) {
        val v = (PermAs(k) * h + PermBs(k)) % P
        if (v < sigs(k)) sigs(k) = v
        k += 1
      }
      i += 1
    }
    val keys = new Array[Long](Bands)
    var b = 0
    while (b < Bands) {
      var key = 0L
      var k = b * RowsPerBand
      while (k < (b + 1) * RowsPerBand) { key = (key * 31 + sigs(k)) % P; k += 1 }
      keys(b) = key
      b += 1
    }
    keys
  }

  /** Appends `jaccard_ppm`, the exact integer Jaccard of two distinct-set
    * array columns in parts per million (`inter · 10^6 DIV union`), to
    * the `keep` columns. The intersection is projected once and read
    * twice. */
  private def withJaccardPpm(df: DataFrame, keep: Seq[String],
                             sa: String, sb: String): DataFrame =
    df.selectExpr(keep ++ Seq(s"size(array_intersect($sa, $sb)) AS inter",
        s"size($sa) AS na", s"size($sb) AS nb"): _*)
      .selectExpr(keep :+ "(CAST(inter AS BIGINT) * 1000000) DIV (na + nb - inter) AS jaccard_ppm": _*)

  /** Candidate verification, the one kernel behind every MinHash operator:
    * band-join `xBands` (aliased `x`) with `yBands` (`y`) on equal
    * (band, key) under the caller's `pairPred`, count shared bands per
    * pair, then score each pair by exact Jaccard of its two shingle sets,
    * looked up in `xSets` and `ySets` (id, shs). Output
    * `(a, b, n_shared_bands, jaccard_ppm)`; the id column is the one
    * [[banded]] passed through.
    *
    * Verification joins only the (few) LSH candidates back to the sets and
    * intersects arrays — O(candidates × shingles-per-set), never the
    * shingle×shingle join. */
  private[ops] def verifiedPairs(xBands: DataFrame, yBands: DataFrame, pairPred: String,
                                 xSets: DataFrame, ySets: DataFrame,
                                 a: String, b: String): DataFrame = {
    val id = xBands.columns(0)
    val candidates = xBands.as("x")
      .join(yBands.as("y"), expr(s"x.band = y.band AND x.key = y.key AND $pairPred"))
      .groupBy(col(s"x.$id").as(a), col(s"y.$id").as(b))
      .agg(count(lit(1)).as("n_shared_bands"))
      .join(xSets.toDF(a, "shs_a"), a)
      .join(ySets.toDF(b, "shs_b"), b)
    withJaccardPpm(candidates, Seq(a, b, "n_shared_bands"), "shs_a", "shs_b")
  }

  /** Verdict rollup over [[verifiedPairs]] output (id, partner, …,
    * jaccard_ppm): per id, `n_candidates`, `max_jaccard_ppm`, `n_dups`
    * (pairs at or above `thresholdPpm`) and `dup_of` (the smallest such
    * partner), left-joined onto `universe` (one id column) so an id with
    * no candidate reads 0/0/0/NULL instead of vanishing. */
  private[ops] def verdicts(universe: DataFrame, pairs: DataFrame,
                            thresholdPpm: Long): DataFrame = {
    val Array(id, partner) = pairs.columns.take(2)
    val dup = col("jaccard_ppm") >= thresholdPpm
    universe
      .join(pairs.groupBy(id).agg(
        count(lit(1)).as("n_candidates"),
        max("jaccard_ppm").as("max_jaccard_ppm"),
        sum(when(dup, 1L).otherwise(0L)).as("n_dups"),
        min(when(dup, col(partner))).as("dup_of")), Seq(id), "left")
      .selectExpr(id,
        "CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates",
        "CAST(coalesce(max_jaccard_ppm, 0) AS BIGINT) AS max_jaccard_ppm",
        "CAST(coalesce(n_dups, 0) AS BIGINT) AS n_dups", "dup_of")
  }

  /** MinHash + LSH near-duplicate pairs, verified with exact Jaccard over
    * distinct 3-shingles. Emits (doc_a, doc_b, n_shared_bands, jaccard_ppm)
    * for candidate pairs with Jaccard ≥ `thresholdPpm`. Jaccard is reported
    * in exact integer parts-per-million: inter * 1e6 / union.
    *
    * Verification joins the (few) LSH candidates back to per-doc shingle
    * SETS and intersects arrays — O(candidates × shingles-per-doc), never
    * the full shingle×shingle join (that shape lives in [[ngramJaccard]]
    * where all-pairs output is the actual ask). */
  def minhashLsh(documents: DataFrame, thresholdPpm: Long = 500000L): DataFrame = {
    val shingleSets = shingleSetsOf(documents)
    val bands = banded(shingleSets)
    verifiedPairs(bands, bands, "x.doc_id < y.doc_id", shingleSets, shingleSets, "doc_a", "doc_b")
      .where(s"jaccard_ppm >= $thresholdPpm")
      .orderBy("doc_a", "doc_b")
  }

  /** Default delta split for the registered `d_incr_dedup` query —
    * referenced by the DuckDB oracle so the two cannot drift. */
  val DefaultDeltaMod = 3L

  /** Incremental near-duplicate ADMISSION — the shape that matters when a
    * 100 TB corpus grows by daily crawl batches: the new DELTA
    * (`doc_id % deltaMod = deltaMod-1` here — the stand-in for "today's
    * batch") probes the accumulated index's LSH bands and its own earlier
    * docs, and index×index pairs are NEVER regenerated, so each refresh
    * costs O(delta · bands), not O(corpus²) and not even
    * O(full re-dedup). In production the index side's signatures are
    * PRE-COMPUTED state (a banded table maintained by exactly these
    * appends); they are recomputed here only so the registered query is
    * self-contained over one input table.
    *
    * A delta doc is `admitted` iff it has no VERIFIED near-dup (exact
    * shingle Jaccard ≥ threshold) among index docs or earlier delta docs
    * (canonical-is-min-doc_id semantics, as in the batch dedup ops);
    * `dup_of` reports the smallest matching partner. Candidates without a
    * shared shingle verify at Jaccard 0 — counted as probed, never as
    * dups. */
  def incrementalMinhash(documents: DataFrame, thresholdPpm: Long = 500000L,
                         deltaMod: Long = DefaultDeltaMod): DataFrame = {
    val d = deltaMod - 1
    val shingleSets = shingleSetsOf(documents)
    val bands = banded(shingleSets)
    // one-sided probe: x is a delta doc; y is any index doc or an EARLIER
    // delta doc — the index never self-joins
    val pairs = verifiedPairs(bands.where(s"doc_id % $deltaMod = $d"), bands,
      s"x.doc_id != y.doc_id AND (y.doc_id % $deltaMod != $d OR y.doc_id < x.doc_id)",
      shingleSets, shingleSets, "doc_id", "partner")
    // verdicts for EVERY delta document, not just shingle-bearing ones: a
    // short (<3-token) doc has no shingles, hence no possible near-dup —
    // it must surface as admitted=true, not silently vanish from the
    // refresh output
    verdicts(documents.where(s"doc_id % $deltaMod = $d")
        .select(col("doc_id").cast("long").as("doc_id")), pairs, thresholdPpm)
      .selectExpr("doc_id", "n_candidates", "n_dups", "dup_of", "n_dups = 0 AS admitted")
      .orderBy("doc_id")
  }

  /** Document-frequency cap on join shingles: a shingle present in k
    * documents emits k² candidate rows from the self-join, so one
    * boilerplate shingle ("click here to subscribe …") shared by 10⁶ docs
    * would emit 10¹² rows. Shingles with df > cap are dropped from the
    * shingle UNIVERSE — both intersections and set sizes are computed over
    * the df-filtered sets, so the metric stays an exact set Jaccard (of the
    * filtered sets) and the DuckDB oracle applies the identical cap. 64
    * bounds any single shingle's join contribution at 64² = 4096 rows. */
  val DefaultDfCap = 64L

  /** Exact Jaccard over distinct df-capped 3-shingles for every pair
    * sharing ≥1 surviving shingle: explode → df filter → equi-join on
    * shingle → intersection counts. The scale-correct shape: shuffle keyed
    * by shingle with a per-key row bound, never |D|² pairs. */
  private def jaccardJoin(documents: DataFrame, dfCap: Long): DataFrame = {
    val sh = documents
      .where("size(split(text, ' ')) >= 3")
      .selectExpr("doc_id", s"${Shingles.ws} AS ws")
      .selectExpr("doc_id", s"explode(${Shingles.shingles}) AS s")
    // shingles are distinct per doc, so a count window over s = document
    // frequency. Computed as a WINDOW (not groupBy+join) so the df filter
    // rides the exact hashpartitioning(s) exchange the pair self-join needs
    // — Catalyst reuses one shuffle for the filter and both join sides.
    val shf = sh
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("s")))
      .where(s"df <= $dfCap")
      .drop("df")
    val sizes = shf.groupBy("doc_id").agg(count(lit(1)).as("n"))
    shf.as("a")
      .join(shf.as("b"), expr("a.s = b.s AND a.doc_id < b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .selectExpr("doc_a", "doc_b", "(inter * 1000000) DIV (na + nb - inter) AS jaccard_ppm")
  }

  /** All near-duplicate pairs by exact n-gram Jaccard ≥ threshold over the
    * df-capped shingle universe (see [[DefaultDfCap]]). */
  def ngramJaccard(documents: DataFrame, thresholdPpm: Long = 800000L,
                   dfCap: Long = DefaultDfCap): DataFrame =
    jaccardJoin(documents, dfCap)
      .where(s"jaccard_ppm >= $thresholdPpm")
      .orderBy("doc_a", "doc_b")

  /** Winnowing parameters, shared with the DuckDB oracle: gram width
    * (tokens per k-gram), selection-window width (consecutive gram hashes
    * per window), and the minimum shared fingerprints for a reported pair.
    * The guarantee is the paper's: any shared run of at least
    * `k + w - 1` tokens yields at least one shared fingerprint. */
  val WinnowK = 3
  val WinnowW = 4
  val WinnowMinShared = 2L

  /** Document fingerprinting by WINNOWING (Schleimer, Wilkerson, Aiken
    * 2003, "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS algorithm): hash every `k`-token gram, slide a `w`-hash window,
    * and select each window's minimum hash (RIGHTMOST on ties, the paper's
    * rule); the selected (hash, position) set is the document's
    * fingerprint. Pairs sharing ≥ `minShared` distinct fingerprint hashes
    * are reported with a containment score — the CONTAINMENT detector next
    * to [[minhashLsh]] (whole-document resemblance) and [[substrDedup]]
    * (exact spans): a small document pasted into a large one shares most
    * of ITS fingerprints while Jaccard over the union stays tiny.
    *
    * Scale shape: selection is MAP-ONLY per-row array algebra (the
    * winnowing density guarantee bounds fingerprints to ~2/(w+1) of the
    * grams); pair-finding is the same df-capped equi-join as
    * [[ngramJaccard]] — a boilerplate fingerprint shared by more than
    * `dfCap` documents is excluded (visibly, by the cap contract) instead
    * of exploding into a hot O(df²) key. Containment is integer ppm
    * against the SMALLER fingerprint set — counted over the SAME
    * df-filtered universe as `shared` (the [[DefaultDfCap]] contract:
    * intersections and set sizes from the filtered sets) — so pasted-
    * subset pairs score near 10^6 regardless of size skew. */
  def winnowPairs(documents: DataFrame, k: Int = WinnowK, w: Int = WinnowW,
                  minShared: Long = WinnowMinShared,
                  dfCap: Long = DefaultDfCap): DataFrame = {
    val prints = winnowFingerprints(documents, k, w)
    val dfOk = prints.groupBy("h")
      .agg(countDistinct("doc_id").as("df"))
      .where(s"df <= $dfCap")
      .select("h")
    val p = prints.select("doc_id", "h").distinct().join(dfOk, Seq("h"))
    // set sizes over the df-FILTERED universe, the one `shared` counts in
    // — an uncapped denominator would dilute containment for any doc
    // holding a boilerplate fingerprint
    val sets = p.groupBy("doc_id").agg(count(lit(1)).as("n_prints"))
    p.as("a").join(p.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .where(s"shared >= $minShared")
      .join(sets.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_prints", "a_prints"), Seq("doc_a"))
      .join(sets.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_prints", "b_prints"), Seq("doc_b"))
      .selectExpr("doc_a", "doc_b", "shared", "a_prints", "b_prints",
        "shared * 1000000 DIV least(a_prints, b_prints) AS containment_ppm")
      .orderBy("doc_a", "doc_b")
  }

  /** The selected (doc_id, gram position, gram hash) winnowing
    * fingerprints — one row per selected window minimum, deduplicated by
    * position (adjacent windows usually re-select the same gram).
    *
    * A JIT'd typed kernel, not SQL array algebra: the nested
    * transform/aggregate form gets its gram-hash array INLINED into every
    * window reference by projection collapse, recomputing the full md5
    * gram array per access — measured 113 s for 500 sf0.01 docs vs ~1 s
    * here. Each gram is hashed exactly once (`Shingles.sliceU32(dig, 0)`
    * == the oracle's first-8-hex-chars rule), and the window walk keeps
    * the paper's rightmost-minimum tie rule (`<=` updates on later
    * grams). */
  private[ops] def winnowFingerprints(documents: DataFrame, k: Int, w: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val ws = if (text == null) null else text.split(" ", -1)
          if (ws == null || ws.length < k + w - 1) Iterator.empty
          else {
            val n = ws.length - k + 1
            val hs = new Array[Long](n)
            var i = 0
            while (i < n) {
              val sb = new java.lang.StringBuilder(ws(i))
              var j = 1
              while (j < k) { sb.append(' ').append(ws(i + j)); j += 1 }
              hs(i) = Shingles.sliceU32(
                md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)), 0)
              i += 1
            }
            val out = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
            var s = 0
            while (s <= n - w) {
              var best = s
              var j = s + 1
              while (j < s + w) { if (hs(j) <= hs(best)) best = j; j += 1 }
              out += ((best.toLong, hs(best)))
              s += 1
            }
            out.iterator.map { case (p, h) => (id, p, h) }
          }
        }
      }
      .toDF("doc_id", "pos", "h")
  }

  /** Window width (tokens) for [[substrDedup]] — shared with the DuckDB
    * oracle so the two cannot drift. Real corpora use ~50 (the Lee et al.
    * threshold); 8 keeps the small synthetic docs exercising the merge. */
  val DefaultSubstrW = 8

  /** Exact substring-level duplication spans — the cross-document twin of
    * the document-level dedups above, after Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", the ExactSubstr dedup):
    * any `w`-token window whose text occurs ≥2 times ANYWHERE in the corpus
    * (other documents or a repeat within the same one) is duplicated, and
    * per document the overlapping/adjacent duplicated windows merge into
    * maximal token spans `[span_start, span_end)` — the regions a training
    * pipeline would cut (vs dropping whole near-dup documents).
    *
    * Scale shape (the paper's suffix array is a single-machine structure;
    * this is its keyed-shuffle reformulation): window generation is
    * MAP-ONLY (one `transform` over the pre-split token array), and only
    * `(doc_id, start, 64-bit window hash)` ever leaves the scan — never
    * window text. Duplication is one hash aggregation keyed by window hash
    * (map-side partials absorb hot boilerplate windows; the join back is
    * AQE-skew-splittable, unlike a count-over-window which would pin every
    * occurrence of one hash into a single task), and span merging is one
    * per-document sort — gaps-and-islands over windows of identical width
    * `w`: a window starting ≤ `w` after its predecessor overlaps or abuts
    * it, so islands are exactly the maximal covered spans. Output volume is
    * spans, not windows. The window stream is deliberately REGENERATED on
    * the probe side of the join (two scans of the corpus) rather than
    * cached: re-running a codegen'd projection is cheaper at corpus scale
    * than materializing ~one row per corpus token. */
  def substrDedup(documents: DataFrame, w: Int = DefaultSubstrW): DataFrame = {
    val wins = documents
      .selectExpr("doc_id", s"${Shingles.ws} AS ws")
      .where(s"size(ws) >= $w")
      .selectExpr("doc_id",
        s"""explode(transform(sequence(0, size(ws) - $w), s -> named_struct(
           |  'start', CAST(s AS BIGINT),
           |  'h', substring(md5(concat_ws(' ', slice(ws, s + 1, $w))), 1, 16)))) AS win""".stripMargin)
      .selectExpr("doc_id", "win.start AS start", "win.h AS h")
    val dupKeys = wins.groupBy("h").agg(count(lit(1)).as("n")).where("n >= 2").select("h")
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("start")
    wins.join(dupKeys, Seq("h"))
      .select("doc_id", "start")
      // starts are distinct within a doc, so RANGE/ROWS framing coincide
      .withColumn("ni", when(col("start") - lag("start", 1).over(byDoc) <= w, lit(0)).otherwise(lit(1)))
      .withColumn("g", sum("ni").over(byDoc))
      .groupBy("doc_id", "g")
      .agg(min("start").as("span_start"), (max("start") + lit(w)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
      .orderBy("doc_id", "span_start")
  }

  /** The APPLY step of [[substrDedup]] — Lee et al.'s pipeline does not
    * just FIND duplicated substrings, it cuts them and trains on the
    * remainder: removes every duplicated token span from every document
    * and emits the cleaned corpus (md5-pinned text plus before/kept/cut
    * token counts). Documents untouched by any span round-trip exactly
    * (split-on-space then join-with-space is the identity, so
    * `cleaned_md5 == md5(text)` for them — asserted in the spec).
    *
    * Shape at 100 TB: spans per document are disjoint and each ≥ `w`
    * tokens wide, so `collect_list` holds ≤ n_tokens/w structs — bounded
    * by the document, not the corpus; the join back to the text is a plain
    * equi-join on doc_id, and the cut itself is a per-row array filter.
    * The `exists` probe is O(tokens·spans) per row — fine while spans stay
    * sparse; a corpus where most tokens sit in spans would warrant a typed
    * sorted-merge walk instead. */
  def substrCut(documents: DataFrame, w: Int = DefaultSubstrW): DataFrame = {
    val spans = substrDedup(documents, w)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    documents.where("text IS NOT NULL")
      .selectExpr("doc_id", "text", s"${Shingles.ws} AS ws")
      .join(spans, Seq("doc_id"), "left")
      .selectExpr("doc_id", "CAST(size(ws) AS BIGINT) AS n_tokens",
        // order-independent probe, so collect_list's nondeterministic span
        // order cannot leak into the result
        """filter(ws, (t, i) -> spans IS NULL OR
          |  NOT exists(spans, s -> i >= s.span_start AND i < s.span_end)) AS kept""".stripMargin)
      .selectExpr("doc_id", "n_tokens",
        "CAST(size(kept) AS BIGINT) AS n_kept_tokens",
        "n_tokens - size(kept) AS n_cut_tokens",
        "md5(concat_ws(' ', kept)) AS cleaned_md5")
      .orderBy("doc_id")
  }

  /** SimHash sketch width and pigeonhole-block layout. 60 bits (top 15 hex
    * chars of md5): the widest md5 prefix that still fits a SIGNED 64-bit
    * int in every engine (16 hex chars can set the sign bit — DuckDB has no
    * unsigned BIGINT), split into 4 × 15-bit blocks. Each block key has
    * 2^15 = 32768 values, so the per-block equi-join bucket holds ~n/32768
    * docs — at 10⁸ docs that is ~3k per bucket (vs n/256 for the 8-bit
    * blocks of a 32-bit sketch, which degenerates quadratic at scale). */
  val SimhashBits = 60
  val SimhashBlocks = 4
  val SimhashBlockBits: Int = SimhashBits / SimhashBlocks

  /** Per-document 60-bit SimHash over token md5 hashes (frequency-weighted
    * bit votes; ties at vote 0 count as a set bit). ONE JIT'd per-row
    * kernel — no shuffle, no 60×-token row explosion, and no interpreted
    * higher-order SQL lambdas (they never enter whole-stage codegen and
    * dominated the operator's cost). The integer sketch is
    * formulation-independent, so the DuckDB oracle's grouped-votes
    * derivation matches exactly. */
  private def simhashTyped(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val bits = SimhashBits
    // null text is EXCLUDED (no sketch, no pairs) — the contract of the
    // previous explode-based form and of the DuckDB oracles, whose
    // unnest(string_split(NULL)) yields no rows for the document
    documents.where("text IS NOT NULL")
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text")
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          // Spark split keeps trailing empties (str.split(regex, -1))
          val ws = text.split(" ", -1)
          val votes = new Array[Long](bits)
          var i = 0
          while (i < ws.length) {
            // Shingles.h60: first 15 lowercase-hex md5 chars base-16 =
            // first 7 digest bytes, then the high nibble of byte 7
            val d = md.digest(ws(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            var h = 0L
            var j = 0
            while (j < 7) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
            h = (h << 4) | ((d(7) & 0xffL) >>> 4)
            var b = 0
            while (b < bits) {
              if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
              b += 1
            }
            i += 1
          }
          var sh = 0L
          var b = 0
          while (b < bits) { if (votes(b) >= 0L) sh |= 1L << b; b += 1 }
          (id, sh)
        }
      }
      .toDF("doc_id", "simhash")
  }

  def simhash(documents: DataFrame): DataFrame =
    simhashTyped(documents).orderBy("doc_id")

  /** Connected components over an undirected Long edge list by ALTERNATING
    * large-star / small-star contraction (Kiveris, Lattanzi, Mirrokni,
    * Rastogi, Vassilvitskii: "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — O(log n) rounds, versus the O(diameter) of
    * plain min-label propagation, so an adversarial chain topology
    * converges in ~2·log₂(n) rounds instead of `diameter` driver-side
    * Spark jobs. Each round:
    *
    *  - '''large-star''': every node links its strictly-larger neighbors to
    *    the minimum of its neighborhood (including itself);
    *  - '''small-star''': every node links itself and its ≤ neighbors to
    *    that minimum.
    *
    * The fixpoint is a union of stars, each rooted at its component's
    * global minimum. Both half-rounds are one `reduceByKey` (map-side
    * combined min) plus one shuffled join that streams/spills per key
    * (`ExternalAppendOnlyMap`), so a giant component's root key is a
    * straggler, never an OOM.
    *
    * Round state: each round's canonical edge set is persisted
    * MEMORY_AND_DISK (reliably checkpointed too when
    * `sparkContext.setCheckpointDir` is configured — the
    * executor-loss-safe mode) and the superseded round is explicitly
    * unpersisted, so neither plan nor cache grows with iteration count.
    * Convergence is exact set equality between rounds; non-convergence
    * within `maxIters` fails loudly instead of returning silently split
    * components.
    *
    * Returns (labels `(doc_id, component)` — one row per node in `nodes`,
    * singletons labeled with their own id — , rounds taken). The labels
    * DataFrame is eagerly local-checkpointed and every internal RDD is
    * unpersisted before returning: the one lineage-free copy backing the
    * result is all that outlives the call. */
  def connectedComponentsFromEdges(edgesDf: DataFrame, nodes: DataFrame,
                                   maxIters: Int = 20): (DataFrame, Int) = {
    val spark = edgesDf.sparkSession
    import spark.implicits._
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    val nPart = spark.sessionState.conf.numShufflePartitions
    type E = org.apache.spark.rdd.RDD[(Long, Long)]

    // canonical form: (larger, smaller), self-loops dropped, deduped —
    // both half-rounds assume set-valued neighborhoods
    def canon(e: E, p: Int): E =
      e.flatMap { case (u, v) =>
        if (u == v) Iterator.empty
        else Iterator((math.max(u, v), math.min(u, v)))
      }.distinct(p)

    def largeStar(e: E, part: org.apache.spark.HashPartitioner): E = {
      val dir = e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
      // min(u, ·) folded in with preservesPartitioning so the join below
      // REUSES the reduceByKey's partitioning instead of re-shuffling the
      // per-node mins every round (a plain .map would drop the partitioner)
      val mins = dir.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        .mapPartitions(
          _.map { case (u, m) => (u, math.min(u, m)) },
          preservesPartitioning = true)
      dir.filter { case (u, v) => v > u }
        .join(mins, part)
        .map { case (_, (v, m)) => (v, m) }
    }

    def smallStar(e: E, part: org.apache.spark.HashPartitioner): E = {
      // input edges are (larger, smaller) — canon emits them that way and
      // largeStar's output (v, m) has m strictly below v — so every edge
      // is already keyed by its LARGER endpoint; m = min of the ≤
      // neighbors (always one of them). Emit (v, m) per non-min neighbor
      // and the (u, m) self-link ONCE, riding on the v == m record — an
      // (u, m) per record would double the rows the next distinct absorbs.
      val mins = e.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      e.join(mins, part).flatMap { case (u, (v, m)) =>
        if (v == m) Iterator((u, m)) else Iterator((v, m))
      }
    }

    def materialize(e: E): E = {
      val r = e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (reliable) r.checkpoint()
      r
    }

    var cur = materialize(canon(
      edgesDf.toDF("a", "b").select(col("a").cast("long"), col("b").cast("long"))
        .as[(Long, Long)].rdd, nPart))
    var curCount = cur.count()
    // RDD stages get no AQE coalescing, so size the per-round partitioner to
    // the MEASURED canonical edge count (~6 shuffle stages per round; at 500k
    // edges/partition each task holds a few tens of MB). A tiny edge set runs
    // its rounds in a handful of tasks instead of paying nPart-tasks-per-stage
    // scheduling overhead × O(log n) rounds; a 100 TB edge set saturates the
    // configured parallelism exactly as before. Star contraction only ever
    // shrinks the edge set, so the round-0 count is the safe high-water mark.
    val roundParts = math.max(1L, math.min(nPart.toLong, curCount / 500000L + 1L)).toInt
    val part = new org.apache.spark.HashPartitioner(roundParts)
    var rounds = 0
    var converged = curCount == 0L // no edges → all singletons, nothing to fold
    while (!converged && rounds < maxIters) {
      val next = materialize(canon(smallStar(largeStar(cur, part), part), roundParts))
      val nextCount = next.count()
      // exact set equality: same size and next ∖ cur empty ⇒ next == cur
      converged = nextCount == curCount && next.subtract(cur, roundParts).isEmpty()
      cur.unpersist(blocking = false)
      cur = next
      curCount = nextCount
      rounds += 1
    }
    require(converged,
      s"connectedComponents: large-star/small-star did not converge in $maxIters rounds " +
        "— raise maxIters (expected ~2*log2(n) rounds)")
    // fixpoint edges are stars (node, component-min root); min() guards the
    // theoretical impossibility of a residual double edge
    val starDf = spark.createDataset(cur).toDF("doc_id", "root")
      .groupBy("doc_id").agg(min("root").as("root"))
    val labels = nodes.select(col("doc_id").cast("long").as("doc_id"))
      .join(starDf, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("component"))
      .localCheckpoint(true)
    cur.unpersist(blocking = false)
    (labels, rounds)
  }

  /** Near-duplicate CLUSTERS: connected components over the n-gram-Jaccard
    * edge set (see [[connectedComponentsFromEdges]] for the algorithm and
    * its O(log n) round bound). Every document gets a row — singletons form
    * their own component; the canonical survivor is the min doc_id. This is
    * the stage after pair-finding in a real dedup pipeline: pairs →
    * clusters → keep one per cluster. */
  def dedupClusters(documents: DataFrame, thresholdPpm: Long = 800000L,
                    maxIters: Int = 20): DataFrame = {
    val edges = ngramJaccard(documents, thresholdPpm).select("doc_a", "doc_b")
    val (labels, _) = connectedComponentsFromEdges(
      edges, documents.select(col("doc_id")), maxIters)
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "component")
      .select(col("doc_id"), col("component"), col("cluster_size"),
        (col("doc_id") === col("component")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Cluster-representative SELECTION — the survivor-picking step a
    * production dedup pipeline runs after [[dedupClusters]] (FineWeb /
    * RefinedWeb shape: near-dup clusters keep their best member, not an
    * arbitrary one): within each component, the kept document is the one
    * with the highest lexical-diversity score (the integer `diversity_ppm`
    * micro-ratio [[graft.ops.DocTextOps.qualityScore]] emits), doc_id
    * ascending as the total tie-break. Documents with NULL text score −1
    * — they can only be singletons (a null text produces no shingles, so
    * no edges), so the sentinel never competes inside a real cluster.
    *
    * Shape at 100 TB: clustering is the existing O(log n)-round CC; the
    * quality column is one scan; selection is ONE hash shuffle on
    * `component` plus a per-cluster window bounded by the cluster size —
    * no driver-side state, no all-pairs anything. */
  def dedupKeepBest(documents: DataFrame, thresholdPpm: Long = 800000L,
                    maxIters: Int = 20): DataFrame = {
    val clusters = dedupClusters(documents, thresholdPpm, maxIters)
      .select("doc_id", "component", "cluster_size")
    val quality = documents.selectExpr("doc_id",
      "coalesce((CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000000)" +
        " DIV size(split(text, ' ')), -1) AS diversity_ppm")
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(col("diversity_ppm").desc, col("doc_id").asc)
    clusters.join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(byCluster))
      .selectExpr("doc_id", "component", "cluster_size", "diversity_ppm",
        "rn = 1 AS keep")
      .orderBy("doc_id")
  }

  /** doc_id offset separating twin rows from originals in [[lshRecall]]'s
    * banding input — above any real doc_id; shared with the DuckDB oracle. */
  val RecallTwinOffset: Long = 1L << 40

  /** Exact-duplicate twin rule for the registered `d_exact_dedup` gate:
    * the corpus's texts are all distinct, so every cluster is a singleton
    * and a grouping key accidentally too fine (md5(text) keyed with
    * doc_id, say) would pass the gate unnoticed. The `doc_id %
    * ExactTwinMod = 0` slice is re-keyed above [[RecallTwinOffset]] and
    * unioned back, so real `dup_count = 2` clusters exist with
    * `keep_doc_id` = the original. Shared with the DuckDB oracle. */
  val ExactTwinMod = 41L

  /** Planted-phrase twin for the registered `d_substr_dedup` /
    * `d_substr_cut` gates: the corpus's natural duplicated substrings are
    * all near-whole-doc PREFIXES (every sf0.01 span has `span_start = 0`,
    * one island per doc), so the gaps-and-islands split and the
    * mid-document cut paths would never be driver-visible — a fold that
    * emitted one giant span per doc regardless of gaps would pass.
    * Documents with `doc_id % SubstrTwinMod = 0` get TWO fixed
    * [[DefaultSubstrW]]-token sentinel phrases (tokens outside every
    * generator vocabulary, so islands can't accidentally extend) spliced
    * in at the ¼ and ¾ token positions — the SAME phrases across twin
    * docs, so exactly the phrase-aligned windows duplicate mid-document,
    * and the two landing sites are always further than `w` apart: every
    * twin doc realizes `span_start > 0` AND the multi-island split
    * (except the three whose natural whole-doc span swallows the
    * phrases — 44/374/462 at sf0.01, the merge branch). Shared with the
    * DuckDB oracle. */
  val SubstrTwinMod = 22L
  def substrTwinPhrase(tag: String, w: Int = DefaultSubstrW): Seq[String] =
    (0 until w).map(i => s"~s$tag$i~")
  def substrTwinSparkSql(w: Int = DefaultSubstrW): String = {
    def arr(tag: String) =
      substrTwinPhrase(tag, w).map(t => s"'$t'").mkString(", ")
    val ws = "split(text, ' ')"
    val (q1, q3) = (s"(size($ws) DIV 4)", s"(3 * size($ws) DIV 4)")
    s"CASE WHEN doc_id % $SubstrTwinMod = 0 AND text IS NOT NULL AND size($ws) >= 4" +
      s" THEN concat_ws(' ', concat(slice($ws, 1, $q1), array(${arr("a")})," +
      s" slice($ws, $q1 + 1, $q3 - $q1), array(${arr("b")})," +
      s" slice($ws, $q3 + 1, size($ws)))) ELSE text END"
  }

  /** LSH quality gate — [[minhashLsh]]'s analog of
    * [[graft.ops.Similarity.annRecall]]: measures the banding's operating
    * point against exact ground truth, so the perm/band knobs are TUNED,
    * not guessed, before a full-corpus run. A natural corpus can't gate
    * this (near-dup pairs cluster at Jaccard ≈1 where banding never
    * misses), so the truth pairs are CONSTRUCTED: each document is paired
    * with its own prefix truncation at a doc-determined keep fraction
    * (50/60/70/80/90% by `doc_id % 5`), which places exact Jaccard right
    * across the banding S-curve's slope (8 bands × 4 rows passes ~40% at
    * Jaccard 0.5 and ~95% at 0.8) — so hits AND misses are both
    * driver-gate-visible. Per document: the twin's exact `jaccard_ppm`
    * (prefix shingles are a subset, so it's exact set Jaccard),
    * `n_shared_bands` between the two signatures (0 = an LSH miss),
    * `is_dup` at `thresholdPpm`, and `found` — recall at a Jaccard level
    * is the `found` fraction of its `is_dup` rows, inspectable from the
    * dump, and the miss rate must track the S-curve.
    *
    * Scale shape: the eval is O(corpus) — twin construction is map-only
    * array algebra, both signature sets ride ONE banding pass over the
    * doubled input, and the shared-band count is a 1:1 equi-join on
    * (doc_id, band, key) — no pair explosion anywhere, so the gate can
    * run on the full corpus at any scale, not just a sample. */
  def lshRecall(documents: DataFrame, thresholdPpm: Long = 500000L): DataFrame = {
    val twins = documents
      .where("size(split(text, ' ')) >= 8") // keep≥50% leaves ≥3 twin tokens
      // loud range guard (the repo convention — monster-conv budget, bin
      // caps, maxDays): an id at or above the twin offset (or negative)
      // would silently ALIAS a twin row onto a real document and corrupt
      // the shared-band counts the gate exists to measure
      .selectExpr(
        s"IF(doc_id >= 0 AND doc_id < $RecallTwinOffset, doc_id, " +
          "CAST(raise_error(CONCAT('lshRecall: doc_id ', CAST(doc_id AS STRING), " +
          s"' outside [0, $RecallTwinOffset) aliases the twin offset')) AS BIGINT)) AS doc_id",
        "text")
      .selectExpr("doc_id", s"${Shingles.ws} AS ws")
      .selectExpr("doc_id", "ws", "50 + (doc_id % 5) * 10 AS keep_pct")
      .selectExpr("doc_id", "keep_pct",
        s"${Shingles.shingles} AS sa",
        s"${Shingles.shinglesOf("slice(ws, 1, CAST(size(ws) * keep_pct DIV 100 AS INT))")} AS sb")
    val base = withJaccardPpm(twins, Seq("doc_id", "keep_pct", "sa", "sb"), "sa", "sb")
    val bands = banded(
      base.selectExpr("doc_id", "sa AS shs")
        .union(base.selectExpr(s"doc_id + $RecallTwinOffset AS doc_id", "sb AS shs")))
    val shared = bands.as("x")
      .join(bands.as("y"), expr(
        s"x.doc_id + $RecallTwinOffset = y.doc_id AND x.band = y.band AND x.key = y.key"))
      .groupBy(col("x.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("nsb"))
    base.join(shared, Seq("doc_id"), "left")
      .selectExpr("doc_id", "CAST(keep_pct AS BIGINT) AS keep_pct", "jaccard_ppm",
        "CAST(coalesce(nsb, 0) AS BIGINT) AS n_shared_bands",
        s"jaccard_ppm >= $thresholdPpm AS is_dup",
        "coalesce(nsb, 0) > 0 AS found")
      .orderBy("doc_id")
  }

  /** Split-fraction defaults for [[splitAssign]] (ppm of the bucket space),
    * shared with the DuckDB oracle. */
  val DefaultTestPpm = 100000L
  val DefaultValPpm = 100000L

  /** The salted component-hash bucket expression behind [[splitAssign]] —
    * ONE definition shared with [[graft.ops.DocTextOps.selectionPipeline]]
    * so the composed pipeline's splits can never drift from the standalone
    * `d_split` query's. */
  def splitBucketExpr: String =
    s"${Shingles.h32("concat(CAST(component AS STRING), ':split')")} % 1000000"

  /** The bucket→split CASE shared by the same two call sites; `bucketExpr`
    * is any integer expression in [0, 10^6). */
  def splitCaseSql(bucketExpr: String, testPpm: Long = DefaultTestPpm,
                   valPpm: Long = DefaultValPpm): String =
    s"CASE WHEN $bucketExpr < $testPpm THEN 'test' " +
      s"WHEN $bucketExpr < ${testPpm + valPpm} THEN 'val' ELSE 'train' END"

  /** LEAKAGE-SAFE train/val/test split — the assignment step after dedup
    * that a naive per-document hash split gets wrong: two near-duplicate
    * documents hashed independently can land in train AND test, leaking
    * eval content into training. Here the unit of assignment is the
    * near-dup CLUSTER ([[dedupClusters]]'s component): every member gets
    * the component hash's bucket, so a cluster lands in exactly one split
    * by construction. The split is a pure function of the component id —
    * deterministic, reshuffle-stable, and reproducible from the manifest
    * alone (a salted md5, decorrelated from every other hash bucket in
    * the engine by the `:split` salt).
    *
    * Per-stratum fractions are binomial-approximate (exact stratification
    * would need a global rank per stratum — a sort the hash form avoids);
    * documents whose clusters merge across corpus versions can migrate
    * splits, which is the correct behavior (the merged cluster must not
    * straddle). Shape at 100 TB: clustering is the existing O(log n)
    * rounds; assignment is map-only hash arithmetic on the labelled
    * output. */
  def splitAssign(documents: DataFrame, testPpm: Long = DefaultTestPpm,
                  valPpm: Long = DefaultValPpm, thresholdPpm: Long = 800000L,
                  maxIters: Int = 20): DataFrame = {
    require(testPpm >= 0 && valPpm >= 0 && testPpm + valPpm <= 1000000,
      s"splitAssign: test+val ppm must fit in [0, 1000000], got $testPpm + $valPpm")
    dedupClusters(documents, thresholdPpm, maxIters)
      .selectExpr("doc_id", "component", "cluster_size",
        s"$splitBucketExpr AS bucket_ppm")
      .selectExpr("doc_id", "component", "cluster_size", "bucket_ppm",
        s"${splitCaseSql("bucket_ppm", testPpm, valPpm)} AS split")
      .orderBy("doc_id")
  }

  /** Batch twin of the streaming bounded-state dedup
    * ([[graft.streaming.StreamingSegmenter.dedupDocs]], built on
    * `dropDuplicatesWithinWatermark`). The streaming operator keeps the
    * first-ARRIVING row per content hash; this query keeps the first
    * (event-time, doc_id) row. The two coincide exactly when (a) each
    * hash's duplicates land within one watermark horizon and (b) rows
    * arrive in (event-time, doc_id) order — the replay-from-a-sorted-log
    * case; under out-of-order arrival the streaming side keeps whichever
    * duplicate arrived first (that tolerance is what the watermark buys),
    * while this twin stays deterministic. StreamingSpec asserts the
    * equality against the real streaming path on such an ordered closed
    * input, giving the streaming semantics a DuckDB-oracle-visible twin.
    * Input columns: (doc_id, text, epoch).
    *
    * Plan shape: first-occurrence is `min(struct(epoch, doc_id))` per hash
    * — one aggregate with map-side PARTIAL combine (a struct-min buffer
    * plans as SortAggregate, but each task still collapses its local
    * duplicates to one row per hash before the shuffle), not a window
    * rank, which would ship every duplicate row through the exchange and
    * sort full partitions. PlanSpec asserts the partial pair and that no
    * Window survives. */
  def streamDedupTwin(docsWithEpoch: DataFrame): DataFrame =
    docsWithEpoch
      .where("text IS NOT NULL") // as [[exact]]: no bogus NULL-hash cluster
      .selectExpr("md5(text) AS content_hash", "epoch", "doc_id")
      .groupBy("content_hash")
      .agg(min(struct(col("epoch"), col("doc_id"))).as("first"))
      .select(col("first.doc_id").as("doc_id"), col("content_hash"),
        col("first.epoch").as("epoch"))
      .orderBy("doc_id")

  /** SimHash near-dup pairs by the 4-block pigeonhole multi-index: any two
    * 60-bit sketches within Hamming distance 3 agree exactly on at least
    * one of the four 15-bit blocks, so candidates come from four equi-joins
    * on block values, never an all-pairs scan. Sketches come from
    * [[simhashTyped]] — the JIT'd per-row kernel (the earlier grouped-votes
    * explode/aggregate derivation measured 2-3× slower and was retired). */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-block multi-index is complete only for distance <= 3")
    val blocks = (0 until SimhashBlocks)
      .map(i => s"(simhash DIV ${1L << (SimhashBlockBits * i)}) % ${1L << SimhashBlockBits}")
      .mkString(", ")
    val blk = simhashTyped(documents)
      .selectExpr("doc_id", "simhash", s"posexplode(array($blocks)) AS (bi, bv)")
    blk.as("a")
      .join(blk.as("b"), expr("a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id"))
      .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b",
        "CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming")
      .where(s"hamming <= $maxHamming")
      .distinct()
      .orderBy("doc_a", "doc_b")
  }
}
