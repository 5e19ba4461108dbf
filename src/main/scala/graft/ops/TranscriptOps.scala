package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Conversation-level QUALITY signals over the flagship transcript table
  * (`BASELINE.json` `input_hint` schema: conv_id, turn_idx, role, text,
  * tool, ts) — the transcript-native analogs of the document hygiene layer:
  * chat-data pipelines filter assistant turns the way web pipelines filter
  * documents, and the first signal they compute is "did the model just
  * parrot the user?".
  */
object TranscriptOps {

  /** Echo verdict threshold (ppm of the assistant turn's distinct tokens
    * that also appear in the preceding user turn) — shared with the DuckDB
    * oracle. 60% splits the synthetic corpus near its median (sf0.01:
    * 530 echo / 556 clean), so both verdicts stay driver-gate-visible. */
  val DefaultEchoThresholdPpm = 600000L

  /** ECHO DETECTION — flag assistant turns that substantially repeat the
    * most recent preceding user turn (copy/parrot filtering, the assistant-
    * turn quality gate chat-data pipelines run before training on agent
    * transcripts). For each assistant turn, the signal is the distinct-token
    * overlap with the last user turn before it in the same conversation:
    *
    *   overlap_ppm = |tokens(assistant) ∩ tokens(user)| · 10^6 DIV |tokens(assistant)|
    *
    * in exact integer arithmetic (set semantics on both sides), `is_echo`
    * iff `overlap_ppm >= thresholdPpm`. Assistant turns with no preceding
    * user turn are out of scope (no row). Tool turns between the user turn
    * and the assistant reply don't reset the pairing — the reply is judged
    * against what the USER last said, which is the parroting definition.
    *
    * Shape at 100 TB: the only shuffle is the conv_id-clustered window
    * (running `last` of the user text over turn_idx order) — the same
    * `ClusteredDistribution(conv_id)` the segmentation fold declares, so a
    * conv_id-bucketed table runs this with ZERO exchanges, and window state
    * is one string per partition row, bounded by the conversation. The
    * overlap itself is per-row column algebra after the window. */
  def echoDetect(turns: DataFrame,
                 thresholdPpm: Long = DefaultEchoThresholdPpm): DataFrame = {
    require(thresholdPpm >= 0, s"echoDetect: thresholdPpm must be >= 0, got $thresholdPpm")
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    turns
      .withColumn("prev_user",
        last(when(col("role") === "user", col("text")), ignoreNulls = true).over(w))
      .where("role = 'assistant' AND prev_user IS NOT NULL AND text IS NOT NULL")
      .selectExpr("conv_id", "turn_idx",
        "array_distinct(split(text, ' ')) AS toks",
        "array_distinct(split(prev_user, ' ')) AS utoks")
      .selectExpr("conv_id", "turn_idx",
        "CAST(size(toks) AS BIGINT) AS n_distinct_tokens",
        "CAST(size(array_intersect(toks, utoks)) AS BIGINT) * 1000000" +
          " DIV size(toks) AS overlap_ppm")
      .selectExpr("conv_id", "turn_idx", "n_distinct_tokens", "overlap_ppm",
        s"overlap_ppm >= $thresholdPpm AS is_echo")
      .orderBy("conv_id", "turn_idx")
  }

  /** Fork rule for [[convDedup]]'s deterministic retried-session twin
    * scenario: conversations with `h32(conv_id) % ConvForkMod = 0` get a
    * fork. Shared with the DuckDB oracle so the two cannot drift. */
  val ConvForkMod = 4L

  /** Near-dup verdict threshold for [[convDedup]] (exact shingle-Jaccard
    * ppm). 50% cleanly separates the synthetic corpus: drop-last-turn forks
    * verify at 83–99%, the closest unrelated conversation pair under 20%. */
  val ConvDupThresholdPpm = 500000L

  /** CONVERSATION-LEVEL NEAR-DEDUP — the transcript-native twin of
    * [[Dedup.minhashLsh]]: agent pipelines re-run sessions (retries,
    * speculative rollouts, resumed conversations), and training on the
    * transcript table means the SAME dialogue minus its tail appears many
    * times. A conversation's fingerprint is the union of its turns'
    * distinct 3-token shingles (per-turn shingling — no cross-turn-boundary
    * grams, so turn insertion/removal perturbs only the affected turns);
    * near-dup candidates come from the SAME MinHash band layout as the
    * doc-level paths ([[Dedup.bandKeys]] — one kernel, one arithmetic) and
    * are verified by exact shingle Jaccard.
    *
    * Because the synthetic corpus holds no natural near-dup conversations
    * (closest unrelated pair <20% Jaccard — checked, not assumed), the gate
    * runs on a deterministic RETRIED-SESSION scenario built in-query, the
    * [[graft.ops.Similarity]] retrain-twin house pattern: conversations
    * matching [[ConvForkMod]]'s hash rule gain a fork (`conv_id || '~f'`)
    * with the LAST turn dropped — the "session resumed, tail lost" shape —
    * and dedup runs over the union, so BOTH verdicts realize at sf0.01
    * (~48 fork pairs at 83–99% Jaccard; everything else clean). One fork
    * pair sits at 83% and can miss all 8 bands — honest LSH recall (the
    * band layout targets ≥~85%); its members then read `is_dup = false`
    * WITH `n_candidates = 0`, which is exactly what a production index
    * would report. A production run feeds real batches with `forkMod = 0`
    * (no scenario twins); the verdict columns are the contract.
    *
    * Output: one row per conversation in the unioned corpus —
    * `(conv_id, is_fork, n_candidates, max_jaccard_ppm, n_dups, dup_of,
    * is_dup)`, `dup_of` = smallest verified partner (canonical-is-min, as
    * in the doc-level ops).
    *
    * Shape at 100 TB: the fork window and the shingle-union aggregation are
    * both conv_id-clustered (the flagship table's bucket key — zero extra
    * exchanges on a bucketed scan); the candidate join shuffles on
    * (band, key) with fan-out bounded by band-bucket sizes, never all
    * pairs; verification joins the (few) candidates back to fingerprint
    * sets. Per-conversation state is the distinct-shingle set — bounded by
    * the conversation, same budget discipline as the segmentation fold's
    * monster-conversation guard. */
  def convDedup(turns: DataFrame, thresholdPpm: Long = ConvDupThresholdPpm,
                forkMod: Long = ConvForkMod): DataFrame = {
    require(forkMod >= 0, s"convDedup: forkMod must be >= 0 (0 = no scenario forks), got $forkMod")
    val spark = turns.sparkSession
    import spark.implicits._
    // forkMod = 0 is the PRODUCTION mode: no scenario twins, dedup exactly
    // the conversations fed in (the registered gate query keeps the default
    // so both verdicts realize on the synthetic corpus)
    val allTurns = forkedTurns(turns, forkMod, Seq("conv_id", "turn_idx", "text"))
    // the fingerprint subtree feeds four plan branches (both band sides,
    // both verify lookups) and is deliberately NOT persisted: caching the
    // wide shingle-array rows measured 2.4× slower than the codegen'd
    // recompute at sf0.1 (cache fill dominates), the same trade
    // Dedup.minhashLsh makes. A production pipeline stores fingerprints as
    // a table instead — the convDedup analog of the persisted ANN index's
    // postings — and reads them once per branch.
    val fingerprints = convFingerprints(allTurns)
    val banded = convBands(fingerprints)
    val candidates = banded.as("x")
      .join(banded.as("y"),
        expr("x.band = y.band AND x.key = y.key AND x.conv_id != y.conv_id"))
      .groupBy(col("x.conv_id").as("conv_id"), col("y.conv_id").as("partner"))
      .agg(count(lit(1)).as("n_shared_bands"))
    val verified = candidates
      .join(fingerprints.selectExpr("conv_id", "shs AS shs_a"), "conv_id")
      .join(fingerprints.selectExpr("conv_id AS partner", "shs AS shs_b"), "partner")
      .selectExpr("conv_id", "partner",
        "size(array_intersect(shs_a, shs_b)) AS inter",
        "size(shs_a) AS na", "size(shs_b) AS nb")
      .selectExpr("conv_id", "partner",
        "(CAST(inter AS BIGINT) * 1000000) DIV (na + nb - inter) AS jaccard_ppm")
    val verdicts = verified.groupBy("conv_id").agg(
      count(lit(1)).as("n_candidates"),
      max("jaccard_ppm").as("max_jaccard_ppm"),
      sum(when(col("jaccard_ppm") >= thresholdPpm, 1L).otherwise(0L)).as("n_dups"),
      min(when(col("jaccard_ppm") >= thresholdPpm, col("partner"))).as("dup_of"))
    fingerprints.select("conv_id")
      .join(verdicts, Seq("conv_id"), "left")
      .selectExpr("conv_id", "conv_id LIKE '%~f' AS is_fork",
        "CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates",
        "CAST(coalesce(max_jaccard_ppm, 0) AS BIGINT) AS max_jaccard_ppm",
        "CAST(coalesce(n_dups, 0) AS BIGINT) AS n_dups", "dup_of",
        "coalesce(n_dups, 0) > 0 AS is_dup")
      .orderBy("conv_id")
  }

  /** The retried-session scenario union shared by [[convDedup]] and
    * [[transcriptPipeline]] (one fork construction, the composed replay
    * cannot drift): renderable turns plus, for conversations matching
    * `h32(conv_id) % forkMod = 0`, a drop-last-turn twin `conv_id || '~f'`.
    * `forkMod = 0` disables the scenario (production mode). `cols` keeps
    * each caller's column contract: dedup needs no `role`, so a
    * 3-column (conv_id, turn_idx, text) frame stays valid input there. */
  private def forkedTurns(turns: DataFrame, forkMod: Long,
                          cols: Seq[String] = Seq("conv_id", "turn_idx", "role", "text")): DataFrame = {
    val base = turns.where("text IS NOT NULL").select(cols.map(col): _*)
    if (forkMod == 0) base
    else base.union(base
      .withColumn("max_idx", max("turn_idx").over(Window.partitionBy("conv_id")))
      .where(s"${Shingles.h32("conv_id")} % $forkMod = 0 AND turn_idx < max_idx")
      .selectExpr(cols.map {
        case "conv_id" => "conv_id || '~f' AS conv_id"
        case c => c
      }: _*))
  }

  /** Conversation fingerprints — union of per-turn distinct 3-shingles
    * over `(conv_id, text)` rows (the [[convDedup]] fingerprint kernel,
    * shared with [[convDedupIncr]] so the in-flight and store-backed
    * paths cannot drift). Turns under 3 tokens contribute nothing;
    * conversations with no contributing turn have no fingerprint. */
  private def convFingerprints(convTurns: DataFrame): DataFrame =
    convTurns
      .selectExpr("conv_id", s"${Shingles.ws} AS ws")
      .where("size(ws) >= 3")
      .selectExpr("conv_id", s"${Shingles.shingles} AS shs")
      .groupBy("conv_id")
      .agg(array_distinct(flatten(collect_list("shs"))).as("shs"))

  /** Fingerprints → MinHash band keys via [[Dedup.bandKeys]] (one
    * arithmetic with the doc-level paths and the DuckDB replays). */
  private def convBands(fingerprints: DataFrame): DataFrame = {
    val spark = fingerprints.sparkSession
    import spark.implicits._
    fingerprints.as[(String, Array[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, shs) =>
          val keys = Dedup.bandKeys(md, shs)
          keys.indices.iterator.map(b => (id, b, keys(b)))
        }
      }
      .toDF("conv_id", "band", "key")
  }

  /** COMPACT (hashed) conversation fingerprints for the stored index:
    * each distinct 3-shingle reduced to its unsigned-32-bit `h32`, the
    * array sorted — 8 bytes per shingle instead of a ~30-byte string, so
    * index snapshots write and read several times faster. Hash collisions
    * collapse deterministically (both engines reduce with the same
    * md5-prefix hash, so replays agree exactly); band keys from these
    * hashes are bit-identical to the string path's
    * ([[Dedup.bandKeysFromHashes]]). */
  private def convHashedFps(convTurns: DataFrame): DataFrame =
    convFingerprints(convTurns).selectExpr("conv_id",
      s"array_sort(array_distinct(transform(shs, s -> ${Shingles.h32("s")}))) AS shs")

  /** Hashed fingerprints → band keys (stored-index path). */
  private def convBandsFromHashes(fingerprints: DataFrame): DataFrame = {
    val spark = fingerprints.sparkSession
    import spark.implicits._
    fingerprints.as[(String, Array[Long])]
      .mapPartitions(_.flatMap { case (id, hs) =>
        val keys = Dedup.bandKeysFromHashes(hs)
        keys.indices.iterator.map(b => (id, b, keys(b)))
      })
      .toDF("conv_id", "band", "key")
  }

  /** INCREMENTAL conversation dedup against a PERSISTED fingerprint
    * index — the production shape [[convDedup]]'s scaladoc promises: a
    * standing corpus's fingerprints and band keys live as SnapshotStore
    * tables (the conversation analog of the persisted ANN index), and
    * each incoming DELTA batch probes the STORED bands one-sidedly,
    * verifies candidates by exact shingle Jaccard against the STORED
    * fingerprints, and appends only its admitted (non-duplicate)
    * conversations back to the index — so the next batch dedups against
    * standing ∪ admitted without ever recomputing the standing side.
    *
    * The gate scenario splits the corpus deterministically: standing =
    * conversations with `h32(conv_id) % ConvForkMod != 1`; the delta
    * batch = drop-last-turn RETRY twins (`conv_id || '~f'`) of the
    * `h32 % ConvForkMod = 0` standing conversations (must verify as
    * dups, 83–99% Jaccard) unioned with the `h32 % ConvForkMod = 1`
    * conversations, which the index has never seen (must admit). Both
    * `admitted` branches realize at sf0.01; the one 83%-Jaccard fork
    * that misses all 8 bands surfaces as admitted with
    * `n_candidates = 0` — honest LSH recall, identical to [[convDedup]].
    * The store here is scratch (self-contained gate); a production
    * pipeline passes a durable root and runs build/probe/append on its
    * own schedule.
    *
    * Shape at 100 TB: the standing side is READ, never recomputed — the
    * probe is O(delta · bands) against the stored band table plus the
    * (small) delta band table itself: duplicates arriving in the SAME
    * batch dedup against their smaller-id batchmates
    * (incrementalMinhash's `y < x` rule), so an intra-batch pair can
    * never double-enter the index. Verification joins only the candidate
    * pairs back to the fingerprint tables; the append writes O(admitted)
    * rows. Delta conversations too short to fingerprint (every renderable
    * turn under 3 tokens) surface as `admitted = true` with zero
    * candidates — the [[graft.ops.Dedup.incrementalMinhash]] admission
    * contract, store-backed. */
  def convDedupIncr(turns: DataFrame,
                    thresholdPpm: Long = ConvDupThresholdPpm): DataFrame = {
    val spark = turns.sparkSession
    val fm = ConvForkMod
    // the max_idx window (fork twins drop their last turn) is only needed
    // on the forked subset — the standing pass runs window-free
    val renderable = turns.where("text IS NOT NULL")
    val standFps = convHashedFps(
      renderable.where(s"${Shingles.h32("conv_id")} % $fm != 1")
        .select("conv_id", "text"))
    val deltaTurns =
      renderable.where(s"${Shingles.h32("conv_id")} % $fm = 0")
        .withColumn("max_idx", max("turn_idx").over(Window.partitionBy("conv_id")))
        .where("turn_idx < max_idx")
        .selectExpr("conv_id || '~f' AS conv_id", "text")
        .union(renderable.where(s"${Shingles.h32("conv_id")} % $fm = 1")
          .select("conv_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-conv-index")
    try {
      val bandStore = new graft.io.SnapshotStore(dir.resolve("bands").toString)
      val fpStore = new graft.io.SnapshotStore(dir.resolve("fps").toString)
      // 1. BUILD: the standing fingerprint aggregation runs ONCE — its
      //    store snapshot is then the only standing-side source (bands
      //    derive from the STORED fingerprints, verification reads them
      //    back), so the expensive shingle pass is paid once, not per
      //    consumer (the first cut recomputed it ~7× and was 6× slower)
      val standSnap = fpStore.append(standFps)
      val storedFps = fpStore.read(spark, standSnap)
      bandStore.append(convBandsFromHashes(storedFps))
      val storedBands = bandStore.read(spark, bandStore.latest.get)
      // 2. PROBE: the delta fingerprints materialize once (checkpoint) and
      //    feed banding, verification and the admitted append; the delta
      //    UNIVERSE (every delta conv id, including fingerprint-less short
      //    conversations) is the output's left side — incrementalMinhash's
      //    contract: a conv the index cannot fingerprint is ADMITTED, not
      //    silently dropped
      val deltaIds = deltaTurns.select("conv_id").distinct().localCheckpoint(true)
      val delta = convHashedFps(deltaTurns).localCheckpoint(true)
      val deltaBands = convBandsFromHashes(delta)
      // candidate partners: the stored standing bands, PLUS earlier
      // (smaller-id) conversations of the SAME delta batch — without the
      // intra-batch side, two duplicates arriving together would both be
      // admitted and both enter the index (incrementalMinhash's
      // `y.doc_id < x.doc_id` rule, conversation-flavored)
      val probeSide = storedBands
        .selectExpr("conv_id", "band", "key", "false AS y_is_delta")
        .unionByName(deltaBands
          .selectExpr("conv_id", "band", "key", "true AS y_is_delta"))
      val cand = deltaBands.as("x")
        .join(probeSide.as("y"),
          expr("x.band = y.band AND x.key = y.key AND x.conv_id != y.conv_id" +
            " AND (NOT y.y_is_delta OR y.conv_id < x.conv_id)"))
        .groupBy(col("x.conv_id").as("conv_id"), col("y.conv_id").as("partner"))
        .agg(count(lit(1)).as("n_shared_bands"))
      val partnerFps = storedFps.select("conv_id", "shs").unionByName(delta)
      val ver = cand
        .join(delta.selectExpr("conv_id", "shs AS shs_a"), "conv_id")
        .join(partnerFps.selectExpr("conv_id AS partner", "shs AS shs_b"), "partner")
        .selectExpr("conv_id", "partner",
          "size(array_intersect(shs_a, shs_b)) AS inter",
          "size(shs_a) AS na", "size(shs_b) AS nb")
        .selectExpr("conv_id", "partner",
          "(CAST(inter AS BIGINT) * 1000000) DIV (na + nb - inter) AS jaccard_ppm")
      val verdicts = ver.groupBy("conv_id").agg(
        count(lit(1)).as("n_candidates"),
        max("jaccard_ppm").as("max_jaccard_ppm"),
        sum(when(col("jaccard_ppm") >= thresholdPpm, 1L).otherwise(0L)).as("n_dups"),
        min(when(col("jaccard_ppm") >= thresholdPpm, col("partner"))).as("dup_of"))
      val out = deltaIds
        .join(verdicts, Seq("conv_id"), "left")
        .selectExpr("conv_id", "conv_id LIKE '%~f' AS is_fork",
          "CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates",
          "CAST(coalesce(max_jaccard_ppm, 0) AS BIGINT) AS max_jaccard_ppm",
          "CAST(coalesce(n_dups, 0) AS BIGINT) AS n_dups", "dup_of",
          "coalesce(n_dups, 0) = 0 AS admitted")
        .localCheckpoint(true)
      // 3. APPEND: admitted conversations WITH fingerprints join the
      //    index; the invariant reads the MANIFEST row count (zero extra
      //    jobs) against cheap counts over the checkpointed frames
      //    (fingerprint-less admissions are admitted but not indexable)
      val adSnap = fpStore.append(
        delta.join(out.where("admitted").select("conv_id"), "conv_id"))
      bandStore.append(convBandsFromHashes(fpStore.read(spark, adSnap)))
      val appended = fpStore.rowCount(adSnap)
      val expected = out.where("admitted").count() - (deltaIds.count() - delta.count())
      require(appended.contains(expected),
        s"convDedupIncr: appended $appended fingerprints, expected $expected admitted-with-fingerprint")
      out.orderBy("conv_id")
    } finally graft.io.SnapshotStore.deleteRecursively(dir)
  }

  /** Conversation-level echo-rate threshold for [[transcriptPipeline]]'s
    * quality gate (ppm of scored assistant turns that are echoes; strict
    * `<` keep). 50% splits the synthetic corpus 90 keep / 110 drop at
    * sf0.01, so both branches stay driver-gate-visible. */
  val EchoConvThresholdPpm = 500000L

  /** THE COMPOSED TRANSCRIPT PIPELINE — raw agent transcripts to packed
    * training sequences as ONE oracled dataflow, the transcript-native
    * capstone next to [[graft.ops.Selection]]'s `d_pipeline`/`d_ccnet`:
    *
    *  1. conversation NEAR-DEDUP ([[convDedup]] over the shared
    *     [[forkedTurns]] scenario union) with the canonical-is-min keep
    *     rule: a duplicate survives iff it precedes its smallest verified
    *     partner (`NOT is_dup OR conv_id < dup_of`), so exactly one
    *     member of each dup pair trains; conversations too short to
    *     fingerprint carry no dedup signal and are kept;
    *  2. ECHO QUALITY GATE ([[echoDetect]] rolled up per conversation):
    *     drop conversations whose assistant turns echo the user in
    *     `>= echoConvThresholdPpm` of scored cases — the parrot-session
    *     filter; conversations with NO scored assistant turn (no
    *     user-assistant adjacency) carry no signal and are kept;
    *  3. sequence PACKING of the selected conversations
    *     ([[graft.ops.DocTextOps.packByTokens]] — the same shelf rule as
    *     [[packMasked]]/`d_pack`, rendered-turn token counts), so every
    *     selected conversation lands at `(pack_id, pack_offset)` and the
    *     output IS the trainer's manifest.
    *
    * One verdict row per conversation in the (forked) universe — kept or
    * dropped, every drop names its stage — the drop-lineage discipline
    * the composed document pipelines established. `numKeyExpr` maps a
    * conv id to the numeric pack key (fork twins offset by 10^9 so a
    * surviving fork can never collide with its original's key).
    *
    * Shape at 100 TB: each stage keeps its own operator's shape (banded
    * candidate probe, conv-clustered window + rollup, one-row-per-conv
    * prefix-sum packing); the lineage assembly is left joins on conv_id
    * riding the same clustering. */
  def transcriptPipeline(turns: DataFrame,
                         dupThresholdPpm: Long = ConvDupThresholdPpm,
                         forkMod: Long = ConvForkMod,
                         echoThresholdPpm: Long = DefaultEchoThresholdPpm,
                         echoConvThresholdPpm: Long = EchoConvThresholdPpm,
                         budget: Long = DocTextOps.DefaultPackBudget,
                         numKeyExpr: String =
                           "TRY_CAST(regexp_extract(conv_id, '([0-9]+)', 1) AS BIGINT)" +
                             " + IF(conv_id LIKE '%~f', CAST(1000000000 AS BIGINT), CAST(0 AS BIGINT))"): DataFrame = {
    val forked = forkedTurns(turns, forkMod)
    val universe = forked.select("conv_id").distinct()
    // 1. dedup verdicts + canonical-is-min keep (forkMod = 0 here: the
    //    scenario union is already materialized in `forked`)
    val dd = convDedup(forked, dupThresholdPpm, forkMod = 0L)
      .selectExpr("conv_id", "is_dup", "dup_of",
        "NOT is_dup OR conv_id < dup_of AS dedup_keep")
    // 2. conversation-level echo rate over the same union
    val convEcho = echoDetect(forked, echoThresholdPpm)
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_echo_scored"),
        sum(when(col("is_echo"), 1L).otherwise(0L)).as("n_echoed"))
      .selectExpr("conv_id", "n_echo_scored",
        "n_echoed * 1000000 DIV n_echo_scored AS echo_ppm")
    // lineage feeds two consumers (the pack assignment and the final
    // projection) and is deliberately NOT persisted: its verdict columns
    // join from UNIQUE-keyed aggregates, so consumers that do not read
    // them (the pack path needs only `selected`) get the joins ELIMINATED
    // by Catalyst — forcing materialization with a persist was measured
    // SLOWER (8.8 s vs 7.5 s warm at sf0.1) than letting each consumer
    // prune its own slice, the convDedup fingerprint trade again
    val lineage = universe
      .join(dd, Seq("conv_id"), "left")
      .join(convEcho, Seq("conv_id"), "left")
      .selectExpr("conv_id", "conv_id LIKE '%~f' AS is_fork",
        "coalesce(is_dup, false) AS is_dup", "dup_of",
        "coalesce(dedup_keep, true) AS dedup_keep",
        "CAST(coalesce(n_echo_scored, 0) AS BIGINT) AS n_echo_scored",
        "echo_ppm",
        s"echo_ppm IS NULL OR echo_ppm < $echoConvThresholdPpm AS echo_keep")
      .selectExpr("conv_id", "is_fork", "is_dup", "dup_of", "dedup_keep",
        "n_echo_scored", "echo_ppm", "echo_keep",
        "dedup_keep AND echo_keep AS selected")
    // 3. shelf-pack the selected conversations (rendered-turn tokens)
    val toks = forked.where("role IS NOT NULL")
      .selectExpr("conv_id", "CAST(1 + size(split(text, ' ')) AS BIGINT) AS rt_toks")
      .groupBy("conv_id").agg(sum("rt_toks").as("n_tokens"))
    val keyed = lineage.where("selected").select("conv_id")
      .join(toks, Seq("conv_id"))
      .selectExpr("conv_id", "n_tokens", s"$numKeyExpr AS doc_id")
    // the pack key must be total and injective over the selected pool — a
    // NULL (id without digits under the default) would silently drop a
    // conversation's pack coordinates, a collision would fan out the final
    // join with nondeterministic shelf offsets; fail loudly naming ids
    val badKey = keyed.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), min("conv_id").as("a"), max("conv_id").as("b"))
      .where("doc_id IS NULL OR n > 1").limit(1).collect()
    require(badKey.isEmpty, {
      val r = badKey.head
      s"transcriptPipeline: numKeyExpr is not an injective total key — " +
        (if (r.isNullAt(0)) s"conv '${r.getString(2)}' maps to NULL"
         else s"convs '${r.getString(2)}' and '${r.getString(3)}' collide on key ${r.getLong(0)}")
    })
    val packs = DocTextOps.packByTokens(keyed.select("n_tokens", "doc_id"), budget)
    // the key is injective over the SELECTED pool only: a dropped conv
    // sharing a selected one's key ('doc7' vs 'conv7') must not pick up its
    // pack coordinates, so dropped rows join with a NULL key
    lineage
      .join(toks, Seq("conv_id"), "left")
      .withColumn("conv_num", expr(s"CASE WHEN selected THEN $numKeyExpr END"))
      .join(packs.selectExpr("doc_id AS conv_num", "pack_id", "pack_offset"),
        Seq("conv_num"), "left")
      .selectExpr("conv_id", "is_fork", "is_dup", "dup_of", "dedup_keep",
        "n_echo_scored", "echo_ppm", "echo_keep", "selected",
        "CASE WHEN selected THEN n_tokens END AS n_tokens",
        "pack_id", "pack_offset")
      .orderBy("conv_id")
  }

  /** Chat-template rendering shared by [[lossMaskSpans]] and [[sftPairs]]
    * (and their DuckDB oracles): a turn renders as `role || ': ' || text`,
    * turns join with a single `\n`. Turns with NULL role or NULL text are
    * not renderable and drop out of both ops (nothing to train on, nothing
    * to put in context) — the echoDetect out-of-scope convention. */
  private val renderedTurn = "concat(role, ': ', text)"

  /** LOSS-MASK SPANS — the conversation-to-training-sequence transform in
    * its LINEAR form: render the whole conversation once (chat template
    * above) and emit, per renderable turn, its character span
    * `[span_start, span_end)` within that rendering plus
    * `loss_mask = (role = 'assistant')` — train on what the model said,
    * mask what the user and the tools said. This is how transcript
    * corpora actually feed a trainer at scale: ONE rendered sequence per
    * conversation plus O(1) span metadata per turn, against which the
    * packer ([[graft.ops.DocTextOps]] `packSequences`) cuts windows.
    *
    * Span arithmetic is a running sum of rendered lengths (+1 per `\n`
    * joiner), so `span_end` of turn k equals `span_start` of turn k+1
    * minus 1 and the last `span_end` equals the rendered conversation's
    * total length — the spec reconstructs the rendering and checks the
    * substrings, the driver gate replays the same window sum in SQL.
    *
    * Shape at 100 TB: one conv_id-clustered window (the flagship table's
    * bucket key — zero exchanges on a bucketed scan), O(1) window state
    * (a running long), no strings materialized beyond the input rows. */
  def lossMaskSpans(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    turns.where("role IS NOT NULL AND text IS NOT NULL")
      .withColumn("rt_len", expr(s"CAST(length($renderedTurn) AS BIGINT)"))
      .withColumn("span_start", coalesce(sum(col("rt_len") + 1L).over(w), lit(0L)))
      .selectExpr("conv_id", "turn_idx", "role", "span_start",
        "span_start + rt_len AS span_end",
        "role = 'assistant' AS loss_mask")
      .orderBy("conv_id", "turn_idx")
  }

  /** SFT PAIR EXPORT — the same transform in its QUADRATIC export form:
    * one `(prompt, completion)` row per assistant turn, `prompt` = the
    * chat-template rendering of every renderable turn before it,
    * `completion` = the assistant turn's text. This is the JSONL shape
    * SFT exports materialize; each prompt repeats the conversation
    * prefix, so a conversation's output is O(turns · chars) — the
    * documented trade against [[lossMaskSpans]]'s linear spans, which a
    * 100 TB pipeline should prefer and which this op exists to contrast
    * (the two agree: `prompt` here equals the rendering cut at the
    * assistant turn's `span_start`). Assistant turns that open a
    * conversation export with `prompt = ''` (a cold open — kept, as SFT
    * exports keep them; none occur in the synthetic corpus, so the spec
    * pins that branch with explicit vectors).
    *
    * Shape at 100 TB: one conv_id-clustered window carrying the rendered
    * prefix — per-row output is the quadratic part, the shuffle is still
    * the single bucket-key exchange; conversations are bounded by the
    * same monster-conversation budget discipline as the segmentation
    * fold. */
  def sftPairs(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    turns.where("role IS NOT NULL AND text IS NOT NULL")
      .withColumn("rt", expr(renderedTurn))
      .withColumn("ctx", collect_list("rt").over(w))
      .where("role = 'assistant'")
      .selectExpr("conv_id", "turn_idx",
        "CAST(size(ctx) AS BIGINT) AS n_ctx_turns",
        "array_join(ctx, '\n') AS prompt", "text AS completion")
      .orderBy("conv_id", "turn_idx")
  }

  /** MASKED SEQUENCE PACKING — the capstone of the
    * transcript→training-batch chain: whole rendered conversations are
    * packed into fixed-token-budget training sequences by the SAME shelf
    * rule as the document packer ([[DocTextOps.packByTokens]] — one
    * implementation, the two packers cannot drift), and every turn's
    * token span lands in PACKED coordinates with its loss mask:
    * `(pack_id, pack_tok_start, pack_tok_end, loss_mask)` — what a
    * trainer's data loader actually consumes. Tokens are whitespace
    * tokens of the chat-template rendering ([[lossMaskSpans]]'s template;
    * `role || ':'` contributes one token, so a turn spans
    * `1 + n_tokens(text)`). A conversation that straddles a shelf
    * boundary keeps its contiguous span (`pack_tok_end` may exceed the
    * budget) — [[DocTextOps.packSequences]]'s documented shelf semantics,
    * the reader wraps.
    *
    * `numKeyExpr` supplies the numeric conversation key the shelf order
    * ties on (n_tokens DESC, key ASC); the default parses the flagship
    * generator's dense `conv_%d` ordinal — callers with other id shapes
    * pass their own dense key.
    *
    * Shape at 100 TB: the turn spans ride the conv_id-clustered window
    * (zero exchanges on a bucketed scan); the pack assignment is the
    * packer's distributed prefix sum over ONE ROW PER CONVERSATION
    * (corpus/avg-conv-size rows, not turns); the join back is
    * conv-keyed. */
  /** Fork rule for [[prefPairs]]'s deterministic retried-rollout scenario
    * (same house pattern as [[ConvForkMod]]; shared with the DuckDB
    * oracle). `forkMod = 0` disables the scenario — production mode. */
  val PrefForkMod = 4L

  /** PREFERENCE-PAIR CONSTRUCTION — the transcript-native RLHF/DPO data
    * stage: agent pipelines roll out the SAME prompt more than once
    * (retries, best-of-n sampling, speculative rollouts), and preference
    * training consumes `(prompt, chosen, rejected)` triples built by
    * grouping rollouts on prompt identity and ranking their final
    * responses by a quality signal. Here:
    *
    *  - a conversation's RESPONSE is its last renderable assistant turn;
    *    its PROMPT is the chat-template rendering ([[lossMaskSpans]]'s
    *    template) of every renderable turn before that response; rollouts
    *    group on `prompt_key = md5(prompt)` (group by a 128-bit key, not
    *    megabyte prompt strings — the at-scale shape; a production run
    *    would salt the key with session metadata if cold-open prompts
    *    (`md5('')`) are hot enough to skew the shuffle);
    *  - the quality signal is the response's TYPE-TOKEN RATIO in exact
    *    integer ppm (`distinct_tokens · 10^6 DIV tokens` — the degenerate-
    *    repetition signal, [[graft.ops.DocTextOps]] `repetitionScore`'s
    *    cheapest cousin; any integer score column slots in);
    *  - per group with ≥2 rollouts: `chosen` = highest score (tie → the
    *    LEXICALLY SMALLEST conv_id among top scorers), `rejected` = lowest
    *    score (tie → largest conv_id), so a full-tie group still emits a
    *    deterministic pair of two distinct conversations with
    *    `margin_ppm = 0` — the caller's filter line.
    *
    * The synthetic corpus holds no natural rollout groups (every prompt
    * rendering is distinct — checked, not assumed), so the gate runs the
    * deterministic RETRIED-ROLLOUT scenario in-query: conversations with
    * `h32(conv_id) % forkMod = 0` gain a rollout twin (`conv_id || '~r'`)
    * whose response is rewritten by the conv-hash-chosen class —
    * self-repeat (`text ⧺ text`, type-token ratio strictly halves → the
    * ORIGINAL must win) or enrichment (4 novel tokens appended → the TWIN
    * must win iff the original response repeats any token). Both
    * `chosen_is_retry` branches realize at sf0.01; production feeds real
    * rollout batches with `forkMod = 0`.
    *
    * Shape at 100 TB: prompt/response assembly is ONE conv_id-clustered
    * aggregation (the flagship bucket key — zero exchanges on a bucketed
    * scan, state bounded by the conversation); ranking shuffles once on
    * `prompt_key` with per-group state = one (score, conv_id) extremum
    * pair, group sizes = rollout counts (small by construction); no
    * windows over the corpus, no all-pairs anything. */
  def prefPairs(turns: DataFrame, forkMod: Long = PrefForkMod): DataFrame = {
    require(forkMod >= 0, s"prefPairs: forkMod must be >= 0 (0 = no scenario retries), got $forkMod")
    val rt = turns.where("role IS NOT NULL AND text IS NOT NULL")
      .withColumn("la_idx",
        max(when(col("role") === "assistant", col("turn_idx")))
          .over(Window.partitionBy("conv_id")))
      .where("la_idx IS NOT NULL")
      .select("conv_id", "turn_idx", "role", "text", "la_idx")
    val rolled =
      if (forkMod == 0) rt
      else rt.union(rt
        .where(s"${Shingles.h32("conv_id")} % $forkMod = 0")
        .selectExpr("conv_id || '~r' AS conv_id", "turn_idx", "role",
          s"""CASE WHEN turn_idx = la_idx THEN
             |  CASE WHEN ${Shingles.h32("concat(conv_id, ':rw')")} % 2 = 0
             |       THEN concat(text, ' ', text)
             |       ELSE concat(text, ' uq0 uq1 uq2 uq3') END
             |ELSE text END AS text""".stripMargin, "la_idx"))
    val scored = rolled
      .groupBy("conv_id")
      .agg(sort_array(collect_list(struct(col("turn_idx"), col("role"), col("text")))).as("ts"),
        first("la_idx").as("la_idx"))
      .selectExpr("conv_id",
        s"md5(array_join(transform(filter(ts, s -> s.turn_idx < la_idx), s -> concat(s.role, ': ', s.text)), '\n')) AS prompt_key",
        "filter(ts, s -> s.turn_idx = la_idx)[0].text AS resp")
      .selectExpr("conv_id", "prompt_key",
        "CAST(size(array_distinct(split(resp, ' '))) AS BIGINT) * 1000000" +
          " DIV size(split(resp, ' ')) AS score_ppm")
    val g = Window.partitionBy("prompt_key")
    scored
      .withColumn("n_rollouts", count(lit(1)).over(g))
      .withColumn("cs", max("score_ppm").over(g))
      .withColumn("rs", min("score_ppm").over(g))
      .where("n_rollouts >= 2")
      .groupBy("prompt_key", "n_rollouts", "cs", "rs")
      .agg(min(when(col("score_ppm") === col("cs"), col("conv_id"))).as("chosen_conv"),
        max(when(col("score_ppm") === col("rs"), col("conv_id"))).as("rejected_conv"))
      .selectExpr("prompt_key", "CAST(n_rollouts AS BIGINT) AS n_rollouts",
        "chosen_conv", "rejected_conv",
        "cs AS chosen_score_ppm", "rs AS rejected_score_ppm",
        "cs - rs AS margin_ppm", "chosen_conv LIKE '%~r' AS chosen_is_retry")
      .orderBy("prompt_key")
  }

  /** LENGTH-BUCKETED BATCHING REPORT — the padding-waste accounting that
    * decides a trainer's batching strategy: rendered conversations (token
    * counts = [[packMasked]]'s rendered-turn arithmetic) are assigned to
    * power-of-two length buckets (`bucket_hi` = smallest power of two ≥
    * the sequence's token count — the bucketed-batching scheme dynamic-
    * shape trainers use), and each bucket reports how much compute
    * pad-to-bucket-top wastes; a final `scope = 'global'` row reports the
    * no-bucketing baseline (every sequence padded to the corpus max), so
    * the table IS the bucketing-vs-naive comparison.
    *
    * `waste_ppm` is computed scale-safely as
    * `(bucket_hi − sum_tokens DIV n_seqs) · 10^6 DIV bucket_hi` — the
    * floor-mean occupancy — because the textbook
    * `(padded − sum) · 10^6 DIV padded` overflows Long once a bucket
    * holds ~10^12 padded tokens (both engines replay the same formula,
    * so the gate stays hash-exact).
    *
    * Shape at 100 TB: per-conversation token totals ride the conv_id-
    * clustered aggregation (the flagship bucket key); the bucket rollup
    * aggregates to ≤64 rows with map-side partials; the global row is a
    * 1-row aggregate. Nothing else moves. */
  def lenBuckets(turns: DataFrame): DataFrame = {
    // ONE corpus pass: the conv-clustered agg rolls straight into the
    // <=64-row bucket table (eagerly materialized — it is tiny), and the
    // global pad-to-max row FOLDS from that table (max_n carries the
    // per-bucket max so the corpus is not scanned a second time). The
    // eager localCheckpoint means CALLING this runs the corpus pass
    // immediately (plan inspection included) and pins a <=64-row RDD
    // until the reference is collected — both accepted: the alternative
    // (a lazy union whose branches each re-instantiate the aggregation)
    // scans the corpus twice at any scale
    val per = turns.where("role IS NOT NULL AND text IS NOT NULL")
      .selectExpr("conv_id", "CAST(1 + size(split(text, ' ')) AS BIGINT) AS rt_toks")
      .groupBy("conv_id").agg(sum("rt_toks").as("n"))
      .selectExpr("n",
        "CASE WHEN (n & (n - 1)) = 0 THEN n" +
          " ELSE shiftleft(CAST(1 AS BIGINT), length(bin(n))) END AS bucket_hi")
      .groupBy("bucket_hi")
      .agg(count(lit(1)).as("n_seqs"), sum("n").as("sum_tokens"), max("n").as("max_n"))
      .localCheckpoint(true)
    val buckets = per.selectExpr("'bucket' AS scope", "bucket_hi",
      "CAST(n_seqs AS BIGINT) AS n_seqs", "sum_tokens")
    val global = per.agg(max("max_n").as("bucket_hi"),
        sum("n_seqs").as("n_seqs"), sum("sum_tokens").as("sum_tokens"))
      .selectExpr("'global' AS scope", "bucket_hi",
        "CAST(n_seqs AS BIGINT) AS n_seqs", "sum_tokens")
    buckets.unionByName(global)
      .selectExpr("scope", "bucket_hi", "n_seqs", "sum_tokens",
        "bucket_hi * n_seqs AS padded_tokens",
        "(bucket_hi - sum_tokens DIV n_seqs) * 1000000 DIV bucket_hi AS waste_ppm")
      .orderBy("scope", "bucket_hi")
  }

  def packMasked(turns: DataFrame, budget: Long = DocTextOps.DefaultPackBudget,
                 numKeyExpr: String = "CAST(substr(conv_id, 6) AS BIGINT)"): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    val t = turns.where("role IS NOT NULL AND text IS NOT NULL")
      .withColumn("rt_toks", expr("CAST(1 + size(split(text, ' ')) AS BIGINT)"))
      .withColumn("within_start", coalesce(sum(col("rt_toks")).over(w), lit(0L)))
      .withColumn("conv_num", expr(numKeyExpr))
    val packs = DocTextOps.packByTokens(
      t.groupBy("conv_num").agg(sum("rt_toks").as("n_tokens"))
        .selectExpr("n_tokens", "conv_num AS doc_id"), budget)
    t.join(packs.selectExpr("doc_id AS conv_num", "pack_id", "pack_offset"),
        Seq("conv_num"))
      .selectExpr("conv_id", "turn_idx", "role", "pack_id",
        "pack_offset + within_start AS pack_tok_start",
        "pack_offset + within_start + rt_toks AS pack_tok_end",
        "role = 'assistant' AS loss_mask")
      .orderBy("conv_id", "turn_idx")
  }
}
