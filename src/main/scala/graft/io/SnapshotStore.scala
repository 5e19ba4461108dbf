package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Minimal snapshot-versioned parquet table — the in-sandbox stand-in for an
  * Iceberg table (no Iceberg runtime jar ships with this image; see SURVEY
  * §7). Gives the two properties the north rule actually needs:
  *
  *  - **atomic append**: data files land first in a uniquely-named staging
  *    dir, then a manifest JSON naming that dir is published via hard-link
  *    (an atomic FAIL-IF-EXISTS compare-and-swap on the snapshot id — the
  *    Iceberg optimistic-commit model); a snapshot is visible iff its
  *    manifest exists, readers never see partial writes, and two
  *    concurrent writers can neither clobber each other's data files nor
  *    both publish under one id;
  *  - **snapshot identity / ranges**: monotonically increasing ids enable
  *    incremental (from, to] reads — the batch analog of the reference's
  *    queue offsets.
  *
  * On a real cluster the binding swaps to Iceberg (`writeTo(...).append()`,
  * `VERSION AS OF`) with no pipeline-API change.
  */
final class SnapshotStore(val root: String) {

  private def dataDir(id: Long): Path = Paths.get(root, "data", s"snap=$id")
  private def manifestDir: Path = Paths.get(root, "_manifests")

  private def manifestIds: Seq[Long] = {
    val d = manifestDir
    if (!Files.exists(d)) Nil
    else {
      val stream = Files.list(d)
      try {
        val it = stream.iterator()
        val out = Vector.newBuilder[Long]
        while (it.hasNext) {
          val name = it.next().getFileName.toString
          if (name.endsWith(".json")) out += name.stripSuffix(".json").toLong
        }
        out.result().sorted
      } finally stream.close()
    }
  }

  private val ReplacesRe = """"replaces": "([0-9,]*)"""".r

  /** Every committed manifest with its `replaces` list (empty for plain
    * appends). Tolerates a concurrent cleanup deleting a file mid-walk. */
  private def manifestReplaces: Seq[(Long, Seq[Long])] =
    manifestIds.flatMap { id =>
      val m = manifestDir.resolve(s"$id.json")
      if (!Files.exists(m)) None // raced with cleanup
      else Some(id -> ReplacesRe.findFirstMatchIn(
        new String(Files.readAllBytes(m), StandardCharsets.UTF_8))
        .toSeq.flatMap(_.group(1).split(',').filter(_.nonEmpty).map(_.toLong)))
    }

  /** Ids retired by a committed compaction (union over every manifest's
    * `replaces` list — a replaced id never becomes live again, so stale
    * manifests awaiting cleanup can't resurrect one). */
  private def retiredIds: Set[Long] = manifestReplaces.flatMap(_._2).toSet

  /** Live snapshots: committed manifests minus compaction-retired ids. */
  def snapshots: Seq[Long] = {
    val retired = retiredIds
    manifestIds.filterNot(retired.contains)
  }

  private val DropColsRe = """"drop_cols": "([^"]*)"""".r
  private val SchemaOnlyRe = """"schema_only": "true"""".r

  /** True when snapshot `id` is a metadata-only commit (no data files) —
    * e.g. a [[dropColumn]]. Such ids participate in snapshot ordering but
    * are skipped by every parquet path list. */
  def isSchemaOnly(id: Long): Boolean = {
    val m = manifestDir.resolve(s"$id.json")
    Files.exists(m) && SchemaOnlyRe.findFirstIn(
      new String(Files.readAllBytes(m), StandardCharsets.UTF_8)).isDefined
  }

  /** Live snapshots that actually carry data files. Classification reads
    * each LISTED id's manifest directly (not a separate dir scan): a
    * schema-only commit landing between two scans could otherwise be
    * misclassified as data and break the subsequent parquet read. */
  def dataSnapshots: Seq[Long] = snapshots.filterNot(isSchemaOnly)

  /** Columns dropped as of snapshot `asOf` — the union of every committed
    * manifest's `drop_cols` at or below it (drop commits record the column;
    * compaction/upsert replacement manifests carry the cumulative set so
    * the drop survives physical cleanup of the drop manifest itself). */
  def droppedColumns(asOf: Long = Long.MaxValue): Set[String] =
    manifestIds.filter(_ <= asOf).flatMap { id =>
      val m = manifestDir.resolve(s"$id.json")
      if (!Files.exists(m)) Nil
      else DropColsRe.findFirstMatchIn(
        new String(Files.readAllBytes(m), StandardCharsets.UTF_8))
        .toSeq.flatMap(_.group(1).split(',').filter(_.nonEmpty))
    }.toSet

  /** DROP-COLUMN schema evolution — the manifest-only complement of the
    * ADD-COLUMN path (Iceberg's model: data files are untouched; readers
    * project the column away; the next compaction removes it physically).
    * Commits a metadata-only snapshot whose manifest records the new
    * cumulative dropped set. Loud contracts: the column must exist in the
    * current read schema, and a dropped NAME cannot be re-added later
    * (this store identifies columns by name, not Iceberg field ids — name
    * reuse would resurrect pre-drop values out of old data files, so
    * [[append]] rejects it instead). A renamed column is dropped by its
    * CURRENT name (the rename chain applies before the drop set on every
    * read, so dropping the new name removes the pre-rename data too). */
  def dropColumn(spark: SparkSession, col: String): Long = {
    // same metacharacter guard as renameColumn: a ',' would corrupt the
    // comma-joined drop_cols encoding into two phantom drops, a '"' the
    // manifest JSON parse
    require(!col.exists(",\"".contains(_)),
      s"dropColumn: column name '$col' must not contain ',' or quotes")
    val dataIds = dataSnapshots
    require(dataIds.nonEmpty, "dropColumn: table has no data snapshots")
    val chain = renamedColumns()
    val dropped = droppedColumns()
    val current = applyEvolution(readMerged(spark, dataIds), Long.MaxValue).columns.toSet
    require(current.contains(col),
      s"dropColumn: '$col' is not in the current schema ${current.toSeq.sorted.mkString("[", ",", "]")}")
    val stage = Paths.get(root, "data", s"stage-${java.util.UUID.randomUUID}")
    Files.createDirectories(stage)
    commitStaged(stage,
      () => Map("schema_only" -> "true",
        "drop_cols" -> (droppedColumns() + col).toSeq.sorted.mkString(",")),
      // the drop was validated against the schema produced by (chain,
      // dropped) at planning; a concurrent evolution commit invalidates
      // that validation — abort loudly rather than commit a stale verdict
      () => renamedColumns() == chain && droppedColumns() == dropped)
      .getOrElse(throw new IllegalStateException(
        "dropColumn aborted: a concurrent schema-evolution commit landed; retry"))
  }

  private val RenameColsRe = """"rename_cols": "([^"]*)"""".r

  private def encodeChain(chain: Seq[(String, String)]): String =
    chain.map { case (f, t) => s"$f>$t" }.mkString(",")

  private val WidenColsRe = """"widen_cols": "([^"]*)"""".r

  /** Widening-allowed primitive promotions (the Iceberg v2 set for flat
    * columns): the value space only grows, so old data files remain exact
    * under the cast and no reader can lose information. */
  private val WidenPromotions: Map[String, String] = Map("int" -> "bigint", "float" -> "double")

  /** Longest encoded `from>to,…` chain recorded at or below `asOf` — the
    * ONE manifest fold behind [[renamedColumns]] and [[widenedColumns]]
    * (full history per commit, length monotone in commit id, replacement
    * manifests carry it forward so the record survives physical cleanup
    * of the evolution commit itself). */
  private def chainFromManifests(re: scala.util.matching.Regex,
                                 asOf: Long): Seq[(String, String)] =
    manifestIds.filter(_ <= asOf).foldLeft(Seq.empty[(String, String)]) { (best, id) =>
      val m = manifestDir.resolve(s"$id.json")
      if (!Files.exists(m)) best
      else {
        val cur = re.findFirstMatchIn(
          new String(Files.readAllBytes(m), StandardCharsets.UTF_8))
          .toSeq.flatMap(_.group(1).split(',').filter(_.nonEmpty).map { e =>
            val i = e.indexOf('>')
            (e.substring(0, i), e.substring(i + 1))
          })
        if (cur.length > best.length) cur else best
      }
    }

  /** Cumulative ordered (column, target-type) widen list as of `asOf` —
    * recorded and resolved exactly like the rename chain. */
  def widenedColumns(asOf: Long = Long.MaxValue): Seq[(String, String)] =
    chainFromManifests(WidenColsRe, asOf)

  /** TYPE-WIDENING schema evolution — the fourth manifest-only op next to
    * ADD / DROP / RENAME: `int -> bigint` or `float -> double` (the
    * Iceberg promotion set). Data files are untouched; readers up-cast the
    * column on the fly (mixed-era scans union the eras with the wide
    * type); appends after the widen may write either width (reads
    * normalize); the next compaction materializes the wide type
    * physically. Time travel honors the commit id: a read below it still
    * surfaces the narrow type. The column is named in the CURRENT evolved
    * schema; a LATER rename keeps the widen attached (widen names resolve
    * through the rename chain at read time). */
  def widenColumn(spark: SparkSession, col: String, to: String): Long = {
    require(!col.exists(">,\"".contains(_)),
      s"widenColumn: column name '$col' must not contain '>', ',' or quotes")
    val target = to.toLowerCase(java.util.Locale.ROOT) match {
      case "long" | "bigint" => "bigint"
      case "double" => "double"
      case other => throw new IllegalArgumentException(
        s"widenColumn: unsupported target type '$other' — only int->bigint and " +
          "float->double are lossless widenings this store supports")
    }
    val dataIds = dataSnapshots
    require(dataIds.nonEmpty, "widenColumn: table has no data snapshots")
    val chain = renamedColumns()
    val dropped = droppedColumns()
    val widens = widenedColumns()
    val current = applyEvolution(readMerged(spark, dataIds), Long.MaxValue)
    val field = current.schema.fields.find(_.name == col).getOrElse(
      throw new IllegalArgumentException(
        s"widenColumn: '$col' is not in the current schema " +
          current.columns.sorted.mkString("[", ",", "]")))
    val from = field.dataType.typeName match {
      case "integer" => "int"
      case t => t
    }
    require(WidenPromotions.get(from).contains(target),
      s"widenColumn: '$col' is $from — cannot widen to $target (allowed: " +
        WidenPromotions.map { case (f, t) => s"$f->$t" }.mkString(", ") + ")")
    val stage = Paths.get(root, "data", s"stage-${java.util.UUID.randomUUID}")
    Files.createDirectories(stage)
    commitStaged(stage,
      () => Map("schema_only" -> "true",
        "widen_cols" -> encodeChain(widens :+ (col -> target))),
      // same stale-validation guard as drop/rename: abort if any schema
      // evolution landed between planning and commit
      () => renamedColumns() == chain && droppedColumns() == dropped &&
        widenedColumns() == widens)
      .getOrElse(throw new IllegalStateException(
        "widenColumn aborted: a concurrent schema-evolution commit landed; retry"))
  }

  /** Cumulative ORDERED rename chain as of snapshot `asOf`. Every rename
    * commit records the FULL history in commit order, and replacement
    * manifests (compaction/upsert) carry it forward — so the chain at any
    * point is simply the longest recorded list at or below `asOf` (length
    * is monotone in commit id; order inside the string is the commit
    * order, which [[applyRenameChain]] must respect for chains like
    * a→b then b→c). */
  def renamedColumns(asOf: Long = Long.MaxValue): Seq[(String, String)] =
    chainFromManifests(RenameColsRe, asOf)

  /** RENAME-COLUMN schema evolution — the third manifest-only op next to
    * ADD (schema-merge reads) and DROP: data files are untouched; readers
    * apply the rename chain on the fly (old files surface the value under
    * the new name); appends after the rename write the new name; the next
    * compaction materializes it physically. Because this store identifies
    * columns by NAME, the old name is permanently retired — [[append]]
    * rejects it like a dropped name (new data under a retired name would
    * be folded into the renamed column out of old files) — and the target
    * must be genuinely fresh: not in the current schema, never dropped,
    * never itself retired by an earlier rename (either reuse would make
    * old data files ambiguous). Chains (a→b, later b→c) compose in commit
    * order. Time travel honors the chain: a snapshot read below the
    * rename's id still surfaces the old name. */
  def renameColumn(spark: SparkSession, from: String, to: String): Long = {
    require(from != to, s"renameColumn: '$from' -> '$to' is a no-op")
    Seq(from, to).foreach(c => require(!c.exists(">,\"".contains(_)),
      s"renameColumn: column name '$c' must not contain '>', ',' or quotes"))
    val dataIds = dataSnapshots
    require(dataIds.nonEmpty, "renameColumn: table has no data snapshots")
    val chain = renamedColumns()
    val dropped = droppedColumns()
    val current = applyEvolution(readMerged(spark, dataIds), Long.MaxValue).columns.toSet
    require(current.contains(from),
      s"renameColumn: '$from' is not in the current schema ${current.toSeq.sorted.mkString("[", ",", "]")}")
    require(!current.contains(to), s"renameColumn: '$to' already exists in the schema")
    require(!dropped.contains(to),
      s"renameColumn: '$to' was DROPPED from this table — name reuse would " +
        "resurrect pre-drop values out of old data files; pick a fresh name")
    require(!chain.exists(_._1 == to),
      s"renameColumn: '$to' is the retired source of an earlier rename — " +
        "reusing it would fold new data into that rename's target out of old files")
    val stage = Paths.get(root, "data", s"stage-${java.util.UUID.randomUUID}")
    Files.createDirectories(stage)
    commitStaged(stage,
      () => Map("schema_only" -> "true",
        "rename_cols" -> encodeChain(chain :+ (from -> to))),
      // renamedColumns keeps only the LONGEST recorded chain, so a racing
      // rename committing its own same-length chain would be permanently
      // shadowed (its rename silently lost); and this rename's freshness
      // checks were made against (chain, dropped). Abort loudly if either
      // changed between planning and commit.
      () => renamedColumns() == chain && droppedColumns() == dropped)
      .getOrElse(throw new IllegalStateException(
        "renameColumn aborted: a concurrent schema-evolution commit landed; retry"))
  }

  /** The current name of `col` after every rename at or below `asOf`. */
  def currentName(col: String, asOf: Long = Long.MaxValue): String =
    resolveName(renamedColumns(asOf), col)

  /** [[currentName]] against a PRECOMPUTED chain — the per-snapshot loops
    * below must not re-scan every manifest per id (O(n²) at 10^3+ commits). */
  private def resolveName(chain: Seq[(String, String)], col: String): String =
    chain.foldLeft(col) { case (c, (f, t)) => if (c == f) t else c }

  /** The id of the newest committed COMPACTED snapshot (0 if none). The
    * compacted snapshot rewrites older data under a NEWER id, so any
    * incremental checkpoint below this id (other than 0 = full read)
    * would re-see rewritten rows and cannot be served exactly any more —
    * see [[readRange]]. */
  def compactionWatermark: Long =
    manifestReplaces.collect { case (id, r) if r.nonEmpty => id }
      .foldLeft(0L)(math.max)

  def latest: Option[Long] = snapshots.lastOption

  /** Append `df` as the next snapshot; returns its id. Visible only after
    * the manifest rename commits.
    *
    * `statsCol` (optional) records that LONG column's min/max in the
    * manifest — the snapshot-level analog of Iceberg manifest column
    * stats. Costs one extra aggregation job at write time; buys
    * [[readRangePruned]] the right to skip entire snapshots whose range
    * can't match a predicate, without opening their files. */
  def append(
      df: DataFrame,
      meta: Map[String, String] = Map.empty,
      statsCol: Option[String] = None): Long = {
    requireNoDroppedNames(df)
    requireNoRetiredNames(df)
    // exact committed row count, recorded in the manifest so consumers
    // (e.g. SubmitMain's summary line) never rescan the table. It is
    // observed INSIDE the write job — no readback of the staged files. The
    // observation sits directly under the write, so it is computed in the
    // write's result stage, and the DAGScheduler applies a ResultTask's
    // accumulator updates once per partition, only from the successful
    // attempt (the one the commit coordinator let commit): failed, retried
    // and speculative attempts never add. The no-arg Observation has a
    // unique name, so concurrent appends in one session cannot mix counts.
    val observed = Observation()
    val stage = stageWrite(df.observe(observed, count(lit(1)).as("n")))
    val nRows = observed.get("n").asInstanceOf[Long]
    val withStats = meta + ("row_count" -> nRows.toString) ++
      stagedStats(df.sparkSession, stage, statsCol)
    commitStaged(stage, () => withStats, () => true).get
  }

  /** Write `df` to a uniquely-named staging dir under root/data — data
    * files never land at an id-derived path, so two concurrent writers can
    * NEVER clobber each other's files; the manifest that wins the commit
    * points at its own stage dir. */
  private def stageWrite(df: DataFrame): Path = {
    val stage = Paths.get(root, "data", s"stage-${java.util.UUID.randomUUID}")
    df.write.mode("errorifexists").parquet(stage.toString)
    stage
  }

  /** Optimistic-concurrency commit of a staged write (the Iceberg commit
    * model on a plain filesystem): loop { allocate the next id → re-run
    * `decide` → publish via hard-link, which FAILS atomically if that id
    * was committed first }. A competing commit either lands before our
    * `decide` re-check (it sees the new state and may abort) or collides
    * on the id (we loop and re-decide) — there is no interleaving where
    * two writers both publish under one id, and none where a same-app
    * exactly-once append double-commits (see [[appendExactlyOnce]]).
    * Returns None (stage deleted) when `decide` aborts. */
  private def commitStaged(
      stage: Path,
      meta: () => Map[String, String],
      decide: () => Boolean): Option[Long] = {
    try {
      while (true) {
        // allocate above every manifest ever committed (incl. retired ones
        // still awaiting cleanup) so ids never collide after a compaction
        val id = manifestIds.lastOption.getOrElse(0L) + 1L
        if (!decide()) { deleteRecursively(stage); return None }
        // meta is re-evaluated per attempt: a competing commit that forced
        // our id collision may have advanced state the manifest must
        // reflect (e.g. another app's ledger mark carried by a replace)
        if (tryCommitManifest(id, meta() + ("data" -> stage.getFileName.toString)))
          return Some(id)
      }
      None // unreachable
    } catch {
      // never leak the staged files on a failed commit path
      case e: Throwable => deleteRecursively(stage); throw e
    }
  }

  private def deleteRecursively(d: Path): Unit = SnapshotStore.deleteRecursively(d)

  /** Manifest stats entries for the files that LANDED under `id` — read
    * back so the stats describe exactly what readers will see. ONE job
    * computes per-FILE min/max (grouped on `input_file_name()` — the
    * Iceberg manifest-entry granularity); the snapshot-level range is
    * folded from the file ranges for free. File stats are recorded up to
    * [[SnapshotStore.MaxFileStats]] files per snapshot (a manifest is a
    * small JSON, not a stats table); beyond that only the overflow count
    * lands and readers fall back to snapshot-level pruning — visible,
    * never silent. */
  private def stagedStats(
      spark: SparkSession, dataPath: Path, statsCol: Option[String]): Seq[(String, String)] =
    statsCol.toSeq.flatMap { c =>
      import org.apache.spark.sql.functions.{col, input_file_name, max, min}
      val per = spark.read.parquet(dataPath.toString)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(c).cast("long")).as("mn"), max(col(c).cast("long")).as("mx"))
        .collect()
        .filterNot(_.isNullAt(1))
        .map(r => (Paths.get(new java.net.URI(r.getString(0)).getPath).getFileName.toString,
          r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      if (per.isEmpty) Nil
      else {
        val snap = Seq("stats_col" -> c,
          "stats_min" -> per.map(_._2).min.toString,
          "stats_max" -> per.map(_._3).max.toString)
        val files =
          if (per.length <= SnapshotStore.MaxFileStats)
            Seq("file_stats" -> per.map { case (f, mn, mx) => s"$f:$mn:$mx" }.mkString(";"))
          else Seq("file_stats_overflow" -> per.length.toString)
        snap ++ files
      }
    }

  /** Copy-on-write MERGE (upsert) keyed by `keyCol`: rows of `updates`
    * replace any live rows sharing a key; unmatched update keys are plain
    * inserts. Only the snapshots that actually CONTAIN a matching key are
    * rewritten — their surviving rows plus all of `updates` land as ONE new
    * snapshot whose manifest `replaces` the touched inputs (the same
    * atomic-rename commit as [[compact]]: readers see the old set or the
    * new one, never both); untouched snapshots keep their files byte-for-
    * byte. Physical deletion of the rewritten inputs is the same lazy
    * [[expireRetired]] step.
    *
    * Affected-snapshot detection prunes with manifest stats first (a
    * snapshot whose recorded [min,max] for `keyCol` can't intersect the
    * update-key range is untouched without opening a file), then confirms
    * with a per-snapshot semi-join probe.
    *
    * Contract notes, both loud: `updates` must be key-unique (a MERGE with
    * duplicate source keys is ambiguous — rejected, not last-writer-wins);
    * and like compaction, a committed upsert advances the
    * [[compactionWatermark]], so incremental checkpoints taken below it
    * fail in [[readRange]] instead of silently re-seeing rewritten rows —
    * the Iceberg CoW contract for incremental scans over replaced data. */
  def upsert(
      spark: SparkSession,
      updates: DataFrame,
      keyCol: String,
      statsCol: Option[String] = None,
      cleanup: Boolean = true): Long = {
    // capture the conflict-check baseline BEFORE any other planning read:
    // a concurrent append landing mid-planning (key probes below run many
    // Spark jobs) must make decide() fail — captured after the probes it
    // would be INCLUDED in the baseline and the write-skew check would
    // wave the conflicting snapshot through unprobed
    val liveAtPlan = snapshots.toSet
    val droppedAtPlan = droppedColumns() // one manifest scan, reused below
    val chainAtPlan = renamedColumns()
    val widensAtPlan = widenedColumns()
    requireNoDroppedNames(updates, droppedAtPlan)
    requireNoRetiredNames(updates, chainAtPlan)
    val live = dataSnapshots
    if (live.isEmpty) return append(updates, statsCol = statsCol)
    val keys = updates.select(keyCol).distinct().localCheckpoint(true)
    require(keys.count() == updates.count(),
      s"upsert: updates carry duplicate '$keyCol' keys — merge would be ambiguous")
    val keyRange = updates.selectExpr(
      s"CAST(min($keyCol) AS LONG) AS mn", s"CAST(max($keyCol) AS LONG) AS mx").head()
    val candidates = live.filter { id =>
      snapshotStats(id) match {
        // stats may be recorded under a pre-rename name; values are unchanged
        case Some((c, mn, mx)) if resolveName(chainAtPlan, c) == keyCol && !keyRange.isNullAt(0) =>
          mx >= keyRange.getLong(0) && mn <= keyRange.getLong(1)
        case _ => true // no usable stats: must probe
      }
    }
    val affected = candidates.filter { id =>
      // probe under the CURRENT schema, not the snapshot's own era — a
      // pre-rename snapshot must resolve the key by its current name
      applyDropSet(
        applyRenameChain(spark.read.parquet(dataPathOf(id).toString), chainAtPlan),
        droppedAtPlan)
        .join(keys, Seq(keyCol), "left_semi").limit(1).count() > 0
    }
    if (affected.isEmpty) return append(updates, statsCol = statsCol)
    val survivors = applyWidenSet(applyDropSet(
        applyRenameChain(readMerged(spark, affected), chainAtPlan), droppedAtPlan),
        chainAtPlan, widensAtPlan)
      .join(keys, Seq(keyCol), "left_anti")
    // union SCHEMA = survivors ∪ updates: an update column the affected
    // snapshots never carried must land (survivors surface it as NULL),
    // not be silently projected away — the same ADD-COLUMN evolution
    // contract the multi-snapshot reads honor. The REVERSE direction stays
    // loud: updates omitting a column the affected rows carry would
    // silently NULL that column in every rewritten row (copy-on-write
    // replaces whole rows — there are no partial updates)
    // name comparison honors the session's resolver (unionByName resolves
    // case-insensitively under the default spark.sql.caseSensitive=false)
    val cs = spark.sessionState.conf.caseSensitiveAnalysis
    def normName(c: String) = if (cs) c else c.toLowerCase(java.util.Locale.ROOT)
    val missing = survivors.columns.map(normName).toSet -- updates.columns.map(normName).toSet
    require(missing.isEmpty,
      s"upsert: updates omit live column(s) ${missing.toSeq.sorted.mkString(",")} " +
        "carried by the matched rows — a CoW merge rewrites whole rows, so the " +
        "omitted values would be silently destroyed; select them into the updates")
    val merged = survivors.unionByName(updates, allowMissingColumns = true)
    val stage = stageWrite(merged)
    val stats = stagedStats(spark, stage, statsCol)
    val dropMeta =
      if (droppedAtPlan.isEmpty) Map.empty[String, String]
      else Map("drop_cols" -> droppedAtPlan.toSeq.sorted.mkString(","))
    val renameMeta =
      if (chainAtPlan.isEmpty) Map.empty[String, String]
      else Map("rename_cols" -> encodeChain(chainAtPlan))
    val widenMeta =
      if (widensAtPlan.isEmpty) Map.empty[String, String]
      else Map("widen_cols" -> encodeChain(widensAtPlan))
    val id = commitStaged(stage,
      // ledger marks carried GLOBALLY (not just from the replaced inputs):
      // txnLastBatch scans newest-first, so a replacement manifest must
      // dominate every older mark for every app — and re-evaluated per
      // commit attempt so a mark committed during our id race is included
      () => Map("replaces" -> affected.mkString(",")) ++ dropMeta ++ renameMeta ++
        widenMeta ++ globalTxns ++ stats,
      // abort if the LIVE SET changed at all since planning: a retired
      // input means double-replace, and a concurrent APPEND may have
      // landed rows with matching keys that this rewrite would silently
      // leave duplicated (write skew) — Iceberg's conflicting-data-files
      // validation, taken conservatively
      () => snapshots.toSet == liveAtPlan)
      .getOrElse(throw new IllegalStateException(
        "upsert aborted: the table changed under a concurrent commit; retry the upsert"))
    if (cleanup) expireRetired()
    id
  }

  /** Publish snapshot `id`: temp-file write + HARD-LINK into place. Unlike
    * a rename (which silently replaces an existing target on POSIX), the
    * link creation FAILS atomically when `id` was already committed — the
    * compare-and-swap that makes concurrent commits safe. Returns false
    * on a lost race; the caller re-reads state and retries under the next
    * id. */
  private def tryCommitManifest(id: Long, meta: Map[String, String]): Boolean = {
    // guard against a maintenance GC having reclaimed our stage while the
    // stats job / commit retries ran (the age floor in expireOrphanStages
    // makes this practically impossible; this check makes it loud, never
    // a committed manifest pointing at deleted data)
    meta.get("data").foreach { d =>
      val stage = Paths.get(root, "data", d)
      require(Files.exists(stage),
        s"commit aborted: staged data $stage disappeared (orphan GC raced an in-flight commit?)")
    }
    Files.createDirectories(manifestDir)
    val json = {
      val kv = (meta ++ Map("snapshot_id" -> id.toString, "rows" -> "")).map {
        case (k, v) => s""""$k": "${v.replace("\"", "\\\"")}""""
      }
      kv.mkString("{", ", ", "}")
    }
    val tmp = manifestDir.resolve(s".$id.${java.util.UUID.randomUUID}.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    try { Files.createLink(manifestDir.resolve(s"$id.json"), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally {
      // tmp cleanup failure is benign and must NEVER surface after the
      // link committed — commitStaged's catch would delete live data
      try { Files.deleteIfExists(tmp); () } catch { case _: Exception => () }
    }
  }

  /** Data location for snapshot `id`: the staging dir its manifest points
    * at, or the legacy id-derived dir for manifests without one. */
  private def dataPathOf(id: Long): Path = {
    val m = manifestDir.resolve(s"$id.json")
    val named =
      if (!Files.exists(m)) None
      else """"data": "([^"]*)"""".r.findFirstMatchIn(
        new String(Files.readAllBytes(m), StandardCharsets.UTF_8)).map(_.group(1))
    named.map(n => Paths.get(root, "data", n)).getOrElse(dataDir(id))
  }

  /** Physical data location of snapshot `id` (the staged dir its manifest
    * names) — the file-listing surface tooling and tests inspect. */
  def dataLocation(id: Long): Path = dataPathOf(id)

  /** Loud re-add guard: a dropped NAME cannot return (see [[dropColumn]]).
    * Pass a precomputed set to avoid a second manifest scan per op. */
  /** Name comparison under the SESSION's resolver: the read path's
    * `df.drop` / rename resolution is case-insensitive under the default
    * `spark.sql.caseSensitive=false`, so these guards must be too — an
    * exact-case check would wave a differently-cased re-add through and
    * the read-side drop would then silently swallow its values forever. */
  private def normName(df: DataFrame, c: String): String =
    if (df.sparkSession.sessionState.conf.caseSensitiveAnalysis) c
    else c.toLowerCase(java.util.Locale.ROOT)

  private def requireNoDroppedNames(df: DataFrame,
                                    dropped: Set[String] = null): Unit = {
    val d = (if (dropped == null) droppedColumns() else dropped).map(normName(df, _))
    val clash = df.columns.filter(c => d.contains(normName(df, c)))
    require(clash.isEmpty,
      s"columns ${clash.toSeq.sorted.mkString(",")} were DROPPED from this table; " +
        "re-adding a dropped name would resurrect pre-drop values out of old " +
        "data files (this store identifies columns by name, not field id) — " +
        "use a fresh column name")
  }

  /** The full schema-evolution projection as of `asOf`: the rename chain
    * first (files written before a rename surface the value under the new
    * name), then the drop set (whose names are post-rename by
    * construction — [[dropColumn]] validates against the evolved schema),
    * then the widen set (each widen's recorded name resolved through the
    * FULL chain — a widen recorded pre-rename follows its column to the
    * new name; recording post-rename under a not-yet-current name is
    * impossible since [[widenColumn]] validates against the evolved
    * schema). The pairs cannot interleave incorrectly: a drop's name can
    * never be a rename source (a renamed-away name is not in the schema to
    * drop) and a rename target can never be a dropped name
    * ([[renameColumn]] rejects it), so chain-then-set-then-cast is
    * order-exact. */
  private def applyEvolution(df: DataFrame, asOf: Long): DataFrame = {
    val chain = renamedColumns(asOf)
    applyWidenSet(applyDropSet(applyRenameChain(df, chain), droppedColumns(asOf)),
      chain, widenedColumns(asOf))
  }

  /** Up-cast every widened column still present (a widened-then-dropped
    * column is simply absent). Cast of an already-wide column is a no-op
    * the optimizer removes, so post-compaction reads pay nothing. */
  private def applyWidenSet(df: DataFrame, chain: Seq[(String, String)],
                            widens: Seq[(String, String)]): DataFrame =
    widens.foldLeft(df) { case (d, (n, t)) =>
      val cur = resolveName(chain, n)
      if (d.columns.contains(cur)) d.withColumn(cur, d(cur).cast(t)) else d
    }

  /** Apply the ordered rename chain to a (possibly mixed-era) relation:
    * both names present (old files + post-rename files under mergeSchema)
    * → fold the old column into the new one (disjoint by construction —
    * [[append]] rejects the retired name, so no row carries both); only
    * the old name → plain rename; only the new name (post-compaction) →
    * no-op. Exact name matching, like every other store surface. */
  private def applyRenameChain(df: DataFrame, chain: Seq[(String, String)]): DataFrame =
    chain.foldLeft(df) { case (d, (f, t)) =>
      val has = d.columns.toSet
      if (has(f) && has(t))
        d.withColumn(t, org.apache.spark.sql.functions.coalesce(d(t), d(f))).drop(f)
      else if (has(f)) d.withColumnRenamed(f, t)
      else d
    }

  /** Loud retired-name guard, the rename twin of [[requireNoDroppedNames]]:
    * writing under a rename's SOURCE name would fold the new data into the
    * rename's target out of old files. Pass a precomputed chain to avoid a
    * second manifest scan per op. */
  private def requireNoRetiredNames(df: DataFrame,
                                    chain: Seq[(String, String)] = null): Unit = {
    val c = if (chain == null) renamedColumns() else chain
    val renamedTo = c.map { case (f, t) => normName(df, f) -> t }.toMap
    val clash = df.columns.filter(col => renamedTo.contains(normName(df, col))).sorted
    require(clash.isEmpty,
      clash.map(f => s"'$f' (renamed to '${renamedTo(normName(df, f))}')").mkString(", ") +
        ": these columns were RENAMED on this table; write the new name(s)")
  }

  private def applyDropSet(df: DataFrame, dropped: Set[String]): DataFrame =
    if (dropped.isEmpty) df else df.drop(dropped.toSeq.sorted: _*)

  /** Read one snapshot (time-travel: only drops committed at or below `id`
    * apply, mirroring Iceberg's per-snapshot schema). */
  def read(spark: SparkSession, id: Long): DataFrame = {
    require(snapshots.contains(id), s"snapshot $id not committed")
    require(!isSchemaOnly(id),
      s"snapshot $id is a metadata-only (schema) commit — it has no data to read")
    applyEvolution(spark.read.parquet(dataPathOf(id).toString), id)
  }

  /** One relation over several snapshots with ADD-COLUMN schema evolution:
    * `mergeSchema` unions the per-snapshot parquet schemas, so rows written
    * before a column existed surface it as NULL — the Iceberg evolution
    * contract — and DROP-COLUMN projection (columns dropped at or below the
    * newest requested id vanish from the relation). Every multi-snapshot
    * read below goes through here (a plain multi-path read would silently
    * project everything onto the FIRST file's schema, dropping later
    * columns). Callers pass data ids only and apply [[applyEvolution]] at their
    * own asOf bound (a schema commit can be NEWER than the newest data id in
    * the range, so the bound is the range end, not `ids.max`). */
  private def readMerged(spark: SparkSession, ids: Seq[Long]): DataFrame =
    mergedScan(spark, ids.map(id => dataPathOf(id).toString))

  /** Multi-era scan primitive: parquet `mergeSchema` while every era agrees
    * on types (ONE scan node — the cheap steady state), switching to
    * per-path reads folded with `unionByName(allowMissingColumns = true)`
    * once any widen is recorded — parquet schema merging cannot reconcile
    * int/bigint eras, while union coercion widens them exactly (and
    * missing columns still null-fill, the same ADD-COLUMN contract). The
    * union plan grows with the path count; compaction collapses it back to
    * the single-scan shape, which is the maintenance cadence a
    * high-frequency append table runs anyway. */
  // widen-PRESENCE cache for the scan-path routing decision below: widens
  // are cumulative and never removed, so the verdict is a pure function of
  // the manifest set — keyed by (count, max id), both from the directory
  // listing every operation performs anyway. Without this, EVERY scan of a
  // widen-free store (the steady state) re-read and re-regexed the entire
  // manifest directory just to learn "no widens" — O(#manifests) file
  // reads per read at the 10^3-commit scale this file's own resolveName
  // comment warns about. A concurrent commit changes the key and refreshes.
  @volatile private var widenPresence: ((Int, Long), Boolean) = ((-1, -1L), false)
  private def anyWiden: Boolean = {
    val ids = manifestIds
    val key = (ids.size, if (ids.isEmpty) 0L else ids.max)
    val cached = widenPresence
    if (cached._1 == key) cached._2
    else {
      val v = widenedColumns().nonEmpty
      widenPresence = (key, v)
      v
    }
  }

  private def mergedScan(spark: SparkSession, paths: Seq[String]): DataFrame =
    if (!anyWiden)
      spark.read.option("mergeSchema", "true").parquet(paths: _*)
    else
      paths.map(p => spark.read.parquet(p))
        .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Incremental read of snapshots in (fromExclusive, toInclusive].
    *
    * A checkpoint strictly inside a compacted range cannot be served
    * exactly (the compacted snapshot holds the WHOLE retired prefix, so
    * the reader would re-see rows it already processed) — that read fails
    * loudly instead of silently duplicating; `fromExclusive = 0` (a full
    * read from the beginning) stays valid across compactions, as does any
    * checkpoint at or above the watermark. Same contract as expiring
    * snapshots under an Iceberg incremental scan. */
  def readRange(spark: SparkSession, fromExclusive: Long, toInclusive: Long): DataFrame = {
    val wm = compactionWatermark
    require(fromExclusive == 0L || fromExclusive >= wm,
      s"checkpoint $fromExclusive predates the compaction watermark $wm: " +
        "the retired snapshots were rewritten; restart from a full read (from=0)")
    val ids = dataSnapshots.filter(id => id > fromExclusive && id <= toInclusive)
    require(ids.nonEmpty, s"no data snapshots in ($fromExclusive, $toInclusive]")
    applyEvolution(readMerged(spark, ids), toInclusive)
  }

  /** Column stats recorded for snapshot `id` at append time:
    * (column, min, max), if any. */
  def snapshotStats(id: Long): Option[(String, Long, Long)] = {
    val m = manifestDir.resolve(s"$id.json")
    if (!Files.exists(m)) None
    else {
      val s = new String(Files.readAllBytes(m), StandardCharsets.UTF_8)
      def f(k: String) = (s""""$k": "([^"]*)"""").r.findFirstMatchIn(s).map(_.group(1))
      for { c <- f("stats_col"); mn <- f("stats_min"); mx <- f("stats_max") }
        yield (c, mn.toLong, mx.toLong)
    }
  }

  /** Exact row count recorded in snapshot `id`'s manifest at append time
    * (absent for metadata-only commits and manifests written before the
    * field existed). */
  def rowCount(id: Long): Option[Long] = {
    val m = manifestDir.resolve(s"$id.json")
    if (!Files.exists(m)) None
    else """"row_count": "([0-9]+)"""".r
      .findFirstMatchIn(new String(Files.readAllBytes(m), StandardCharsets.UTF_8))
      .map(_.group(1).toLong)
  }

  private val TxnRe = """"txn_([^"]+)": "([0-9]+)"""".r

  /** Highest batch id ever committed for `appId`, scanning manifests still
    * on disk (including compaction-retired ones awaiting cleanup — a
    * replayed batch must stay deduplicated in the commit/cleanup gap).
    * [[compact]] and [[upsert]] carry each app's max forward into their
    * replacement manifest, so the ledger survives physical cleanup.
    *
    * Scans NEWEST-first with early exit: per-app batch ids are strictly
    * increasing in commit order ([[appendExactlyOnce]] refuses anything at
    * or below the mark, and carried marks are maxes), so the newest
    * manifest mentioning the app holds its max — the common steady-state
    * cost is one or two manifest reads, not O(total commits). */
  def txnLastBatch(appId: String): Option[Long] =
    manifestIds.reverseIterator.flatMap { id =>
      val m = manifestDir.resolve(s"$id.json")
      if (!Files.exists(m)) Iterator.empty
      else TxnRe.findAllMatchIn(
        new String(Files.readAllBytes(m), StandardCharsets.UTF_8))
        .collect { case mm if mm.group(1) == appId => mm.group(2).toLong }
    }.nextOption()

  /** Per-app max batch ids across EVERY manifest still on disk — carried
    * into any replacement manifest so (a) dedup survives physical cleanup
    * of the replaced inputs and (b) the replacement, being the newest
    * manifest, dominates every older mark, keeping [[txnLastBatch]]'s
    * newest-first early exit exact even when the replacement covers only a
    * PREFIX of the table (a partial compact must not shadow a newer
    * append's mark with an older carried one). */
  private def globalTxns: Map[String, String] =
    manifestIds.flatMap { id =>
      val m = manifestDir.resolve(s"$id.json")
      if (!Files.exists(m)) Nil
      else TxnRe.findAllMatchIn(
        new String(Files.readAllBytes(m), StandardCharsets.UTF_8))
        .map(mm => mm.group(1) -> mm.group(2).toLong).toSeq
    }.groupMapReduce(_._1)(_._2)(math.max)
      .map { case (app, b) => s"txn_$app" -> b.toString }

  /** Idempotent append keyed by `(appId, batchId)` — the sink half of the
    * streaming exactly-once contract (Structured Streaming's foreachBatch
    * is at-least-once: a failed epoch REPLAYS with the same batchId).
    * Batch ids per app are monotonically increasing, so any batch at or
    * below the recorded high-water mark is a replay → skipped, returning
    * None; a fresh batch commits atomically with the mark in the SAME
    * manifest (no second commit point to lose). Same semantics as a Delta
    * `txn` action / Iceberg's commit-level `wap.id` dedup.
    *
    * Safe under SPLIT-BRAIN double drivers (a zombie driver resuming the
    * same epoch a restarted driver already committed): data is staged to a
    * unique dir (no clobber possible), and the ledger check re-runs inside
    * [[commitStaged]]'s optimistic loop AFTER the candidate id is
    * allocated — a competing same-app commit is either visible to that
    * re-check or collides on the id's hard-link CAS, so exactly one of
    * the two drivers publishes the batch and the other deletes its stage
    * and returns None. */
  def appendExactlyOnce(
      df: DataFrame,
      appId: String,
      batchId: Long,
      statsCol: Option[String] = None): Option[Long] = {
    require(!appId.contains("\""), s"appId must not contain quotes: $appId")
    requireNoDroppedNames(df)
    requireNoRetiredNames(df)
    def fresh = !txnLastBatch(appId).exists(_ >= batchId)
    if (!fresh) return None // cheap pre-check before staging any data
    val stage = stageWrite(df)
    val m = Map(s"txn_$appId" -> batchId.toString) ++
      stagedStats(df.sparkSession, stage, statsCol)
    commitStaged(stage, () => m, () => fresh)
  }

  /** Per-file (basename, min, max) stats recorded for snapshot `id`, if
    * the manifest carries them for `col` (under its recorded pre-rename
    * name or the current one). */
  def fileStats(id: Long, col: String): Option[Seq[(String, Long, Long)]] =
    fileStats(id, col, renamedColumns())

  private def fileStats(id: Long, col: String,
      chain: Seq[(String, String)]): Option[Seq[(String, Long, Long)]] = {
    val m = manifestDir.resolve(s"$id.json")
    if (!Files.exists(m)) return None
    val s = new String(Files.readAllBytes(m), StandardCharsets.UTF_8)
    def f(k: String) = (s""""$k": "([^"]*)"""").r.findFirstMatchIn(s).map(_.group(1))
    for {
      c <- f("stats_col") if resolveName(chain, c) == col
      enc <- f("file_stats")
    } yield enc.split(';').toSeq.filter(_.nonEmpty).map { e =>
      val Array(name, mn, mx) = e.split(':')
      (name, mn.toLong, mx.toLong)
    }
  }

  /** Split snapshot `id`'s data files into (kept paths, skipped count) for
    * a `col BETWEEN lo AND hi` predicate using the per-file manifest
    * stats; None when the manifest has no file stats for `col` (caller
    * reads the whole snapshot — stats only ever PRUNE). */
  def pruneFiles(id: Long, col: String, lo: Long, hi: Long): Option[(Seq[String], Int)] =
    pruneFiles(id, col, lo, hi, renamedColumns())

  private def pruneFiles(id: Long, col: String, lo: Long, hi: Long,
      chain: Seq[(String, String)]): Option[(Seq[String], Int)] =
    fileStats(id, col, chain).map { fs =>
      val (keep, skip) = fs.partition { case (_, mn, mx) => mx >= lo && mn <= hi }
      (keep.map { case (name, _, _) => dataPathOf(id).resolve(name).toString }, skip.size)
    }

  /** Split the live snapshots of (fromExclusive, toInclusive] into
    * (kept, skipped) for a `col BETWEEN lo AND hi` predicate using the
    * manifest stats: a snapshot is skipped iff its recorded [min,max] for
    * exactly `col` cannot intersect [lo,hi]. Snapshots without stats for
    * that column are conservatively kept — stats only ever PRUNE. */
  def pruneSnapshots(fromExclusive: Long, toInclusive: Long,
      col: String, lo: Long, hi: Long): (Seq[Long], Seq[Long]) = {
    val chain = renamedColumns() // once, not per snapshot
    snapshots.filter(id => id > fromExclusive && id <= toInclusive)
      .partition { id =>
        snapshotStats(id) match {
          case Some((c, mn, mx)) if resolveName(chain, c) == col => mx >= lo && mn <= hi
          case _ => true
        }
      }
  }

  /** [[readRange]] plus two-level predicate pruning — the manifest analog
    * of Iceberg's file skipping: snapshots whose recorded stats range for
    * `col` cannot match `[lo, hi]` are never opened (no footer read, no
    * task), and within a kept snapshot, individual data FILES whose
    * per-file range cannot match are dropped from the scan when the
    * manifest carries file stats (a snapshot written range-sorted on
    * `col` then answers a point/range query opening ~1 file). The
    * residual `BETWEEN` filter still applies to the kept files (and
    * pushes down into their parquet scans), so stats accelerate, never
    * decide, membership. */
  def readRangePruned(spark: SparkSession, fromExclusive: Long, toInclusive: Long,
      col: String, lo: Long, hi: Long): DataFrame = {
    val wm = compactionWatermark
    require(fromExclusive == 0L || fromExclusive >= wm,
      s"checkpoint $fromExclusive predates the compaction watermark $wm: " +
        "the retired snapshots were rewritten; restart from a full read (from=0)")
    val (kept0, _) = pruneSnapshots(fromExclusive, toInclusive, col, lo, hi)
    val kept = kept0.filterNot(isSchemaOnly)
    val all = dataSnapshots.filter(id => id > fromExclusive && id <= toInclusive)
    require(all.nonEmpty, s"no data snapshots in ($fromExclusive, $toInclusive]")
    // ONE chain read for the whole loop — the public pruneFiles overload
    // would re-scan every manifest per kept snapshot (O(n²) at 10^3+
    // commits on the hottest read path)
    val chain = renamedColumns()
    val paths = kept.flatMap { id =>
      pruneFiles(id, col, lo, hi, chain) match {
        case Some((keepPaths, _)) => keepPaths
        case None => Seq(dataPathOf(id).toString) // no file stats: whole snapshot
      }
    }
    val base =
      if (paths.nonEmpty) mergedScan(spark, paths)
      else // everything pruned: empty result with the table's FULL merged
        // schema (a first-snapshot-only read would lack later-era added
        // columns, making .select on the empty result throw where the
        // unpruned path succeeds); lit(false) keeps it schema-only cost
        mergedScan(spark, all.map(dataPathOf(_).toString))
          .where(org.apache.spark.sql.functions.lit(false))
    applyEvolution(base, toInclusive).where(s"$col BETWEEN $lo AND $hi")
  }

  /** Compact every live snapshot with id ≤ `upToInclusive` into ONE new
    * snapshot — the small-files maintenance action a high-frequency append
    * stream needs at scale (10^5 incremental commits of a 100 TB table
    * would otherwise each be read as their own file listing forever).
    *
    * Crash-safe by the same manifest rule as [[append]]: the new data
    * files land first, then a single manifest rename commits a snapshot
    * whose `replaces` list retires the inputs — readers either see the old
    * set or the new one, never both, and never a partial state. Physical
    * deletion of retired data is the SEPARATE, idempotent, lazily-safe
    * [[expireRetired]] step (run here unless `cleanup = false`): a crash
    * between commit and cleanup leaves stale files that no reader lists.
    *
    * Returns the compacted snapshot id. */
  def compact(spark: SparkSession, upToInclusive: Long, cleanup: Boolean = true): Long = {
    val inputs = snapshots.filter(_ <= upToInclusive)
    require(inputs.size >= 2,
      s"compaction needs >= 2 live snapshots <= $upToInclusive, found ${inputs.size}")
    val dataInputs = inputs.filterNot(isSchemaOnly)
    require(dataInputs.nonEmpty,
      s"compaction over <= $upToInclusive covers only metadata-only snapshots")
    // the rewrite applies the CURRENT cumulative drop set — compaction is
    // the step that removes dropped columns physically (Iceberg's model);
    // the set is still carried in the replacement manifest so drops keep
    // projecting any older non-compacted data and keep rejecting re-adds
    val dropped = droppedColumns()
    val chain = renamedColumns()
    val widens = widenedColumns()
    // the rewrite also materializes any widened types physically (the
    // widen twin of the drop-removal above)
    val merged = applyWidenSet(
      applyDropSet(applyRenameChain(readMerged(spark, dataInputs), chain), dropped),
      chain, widens)
    val stage = stageWrite(merged)
    // stats survive compaction when every data input carries them for the
    // same column: merged range = [min of mins, max of maxes] — no extra job
    val inStats = dataInputs.map(snapshotStats)
    // inputs may record the SAME logical column under pre- and post-rename
    // names (values are unchanged by a rename) — resolve through the chain
    // before asking "one column?", else a renamed table's compaction would
    // silently drop the stats its bulk manifest needs for pruning
    val statNames = inStats.flatten.map(s => resolveName(chain, s._1)).distinct
    val stats =
      if (inStats.forall(_.isDefined) && statNames.size == 1)
        // the rewrite stored the column under its CURRENT name — map the
        // carried stats name through the chain so pruning keeps working
        Seq("stats_col" -> statNames.head,
          "stats_min" -> inStats.flatten.map(_._2).min.toString,
          "stats_max" -> inStats.flatten.map(_._3).max.toString)
      else Nil
    val dropMeta =
      if (dropped.isEmpty) Map.empty[String, String]
      else Map("drop_cols" -> dropped.toSeq.sorted.mkString(","))
    val renameMeta =
      if (chain.isEmpty) Map.empty[String, String]
      else Map("rename_cols" -> encodeChain(chain))
    val widenMeta =
      if (widens.isEmpty) Map.empty[String, String]
      else Map("widen_cols" -> encodeChain(widens))
    val id = commitStaged(stage,
      () => Map("replaces" -> inputs.mkString(",")) ++ dropMeta ++ renameMeta ++
        widenMeta ++ globalTxns ++ stats,
      () => inputs.forall(snapshots.contains))
      .getOrElse(throw new IllegalStateException(
        "compact aborted: an input snapshot was retired by a concurrent commit"))
    if (cleanup) expireRetired()
    id
  }

  /** Delete stage dirs referenced by NO manifest and older than
    * `olderThanMs` — orphans from writers that crashed between staging and
    * commit (the manifest never linked, so nothing else will ever reclaim
    * them). The age guard keeps in-flight commits safe: a live writer's
    * stage is always younger than the threshold. Run alongside
    * [[expireRetired]] from the maintenance job. Returns the number of
    * orphans removed. */
  def expireOrphanStages(olderThanMs: Long = 24L * 3600 * 1000): Int = {
    require(olderThanMs >= 3600L * 1000,
      s"expireOrphanStages: age threshold must be >= 1h (got ${olderThanMs}ms) — " +
        "a shorter window could reclaim the stage of an in-flight commit")
    val dataRoot = Paths.get(root, "data")
    if (!Files.exists(dataRoot)) return 0
    val referenced = manifestIds.map(id => dataPathOf(id).getFileName.toString).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val candidates = Vector.newBuilder[Path]
    val stream = Files.list(dataRoot)
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        val name = p.getFileName.toString
        if (name.startsWith("stage-") && !referenced.contains(name) &&
          Files.getLastModifiedTime(p).toMillis < cutoff)
          candidates += p
      }
    } finally stream.close()
    val orphans = candidates.result()
    orphans.foreach(deleteRecursively)
    orphans.size
  }

  /** Delete data + manifests of compaction-retired snapshots. Idempotent,
    * safe to run (or re-run after a crash) any time after the compacted
    * manifest committed — retired ids are invisible to readers already.
    * The data path is resolved from the manifest BEFORE it is deleted
    * (staged dirs are named in the manifest, not derived from the id). */
  def expireRetired(): Unit =
    retiredIds.foreach { id =>
      deleteRecursively(dataPathOf(id))
      Files.deleteIfExists(manifestDir.resolve(s"$id.json"))
    }
}

/** Checkpoint-resumable run of the extraction+segmentation pipeline:
  * conversations are processed in `buckets` id-range chunks; each completed
  * chunk commits its output and a done-marker atomically-enough (marker
  * rename after data write), so a crashed run re-executes only unfinished
  * chunks and never duplicates output — reproducing the reference's
  * redelivery semantics (undeleted queue messages reappear,
  * `main.py:396-397`) in batch form.
  *
  * Poison handling: a bucket whose processing throws is left incomplete
  * (retried by the next run — the redelivery analog) with its attempt count
  * persisted; once attempts reach `maxAttempts` the bucket is QUARANTINED —
  * recorded with its error in a quarantine table and skipped by later runs —
  * so a deterministically-crashing conversation can never wedge the job
  * forever (the batch analog of the reference deleting poison messages,
  * `main.py:399-402`).
  */
object SnapshotStore {
  /** Cap on per-file stats entries in one manifest (a manifest is a small
    * JSON document; a 100 TB snapshot with 10^5 files needs a real stats
    * table — Iceberg's manifest FILES — not a flat string). */
  val MaxFileStats = 512

  /** Recursive delete shared by the store's stage cleanup and callers
    * tearing down query-scoped scratch stores — ONE deletion semantics
    * (NIO walk, depth-first, tolerant of already-gone entries). */
  private[graft] def deleteRecursively(d: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(d)) {
      val it = java.nio.file.Files.walk(d)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).iterator()
      while (it.hasNext) java.nio.file.Files.deleteIfExists(it.next())
    }
}

object ResumableJob {

  /** Outcome of one [[run]]: `completed` chunks committed this run,
    * `failed` chunks that threw but remain retryable (bucket → error —
    * callers CAN distinguish a complete run from a partial one), and
    * `quarantinedNow` chunks whose failure this run reached `maxAttempts`
    * and were durably quarantined. A fully-successful run over `n` pending
    * buckets has `completed.size == n` and the other two empty. */
  final case class RunReport(
      completed: Seq[Int],
      failed: Seq[(Int, String)],
      quarantinedNow: Seq[Int]) {
    def allSucceeded: Boolean = failed.isEmpty && quarantinedNow.isEmpty
  }

  private def markerPath(workRoot: String, bucket: Int): Path =
    Paths.get(workRoot, "_done", s"bucket-$bucket.done")

  private def attemptsPath(workRoot: String, bucket: Int): Path =
    Paths.get(workRoot, "_attempts", s"bucket-$bucket.count")

  private def quarantinePath(workRoot: String, bucket: Int): Path =
    Paths.get(workRoot, "_quarantine", s"bucket-$bucket.json")

  def completedBuckets(workRoot: String, buckets: Int): Set[Int] =
    (0 until buckets).filter(b => Files.exists(markerPath(workRoot, b))).toSet

  def quarantinedBuckets(workRoot: String, buckets: Int): Set[Int] =
    (0 until buckets).filter(b => Files.exists(quarantinePath(workRoot, b))).toSet

  def attempts(workRoot: String, bucket: Int): Int = {
    val p = attemptsPath(workRoot, bucket)
    if (Files.exists(p)) new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toInt
    else 0
  }

  /** Quarantine table: (bucket, error) rows for every quarantined chunk. */
  def readQuarantine(workRoot: String, buckets: Int): Seq[(Int, String)] =
    (0 until buckets).flatMap { b =>
      val p = quarantinePath(workRoot, b)
      if (Files.exists(p)) Some(b -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      else None
    }

  private def atomicWrite(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.getParent.resolve("." + p.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Runs the pipeline over `nConvs` synthetic conversations in `buckets`
    * chunks; `failAfter` aborts after that many newly-completed chunks (test
    * hook simulating a mid-job crash); `poisonBuckets` makes those buckets
    * throw deterministically (test hook simulating an unparseable
    * conversation). Returns a [[RunReport]] — failed-but-retryable buckets
    * are surfaced, not swallowed, so a caller (or operator) can distinguish
    * a partial run from a complete one and can reset the attempt counter of
    * a bucket whose failures were transient infrastructure rather than a
    * poison conversation. */
  def run(
      spark: SparkSession,
      nConvs: Long,
      workRoot: String,
      buckets: Int,
      corpusSeed: Long = 42L,
      failAfter: Option[Int] = None,
      poisonBuckets: Set[Int] = Set.empty,
      maxAttempts: Int = 3
  ): RunReport = {
    import graft.gen.SyntheticTranscripts
    import graft.pipeline.Pipeline
    val done = completedBuckets(workRoot, buckets)
    val quarantined = quarantinedBuckets(workRoot, buckets)
    val completedNow = Vector.newBuilder[Int]
    val failedNow = Vector.newBuilder[(Int, String)]
    val quarantinedNow = Vector.newBuilder[Int]
    var newlyDone = 0
    val per = math.max(1L, (nConvs + buckets - 1) / buckets)
    for (b <- 0 until buckets if !done.contains(b) && !quarantined.contains(b)) {
      if (failAfter.exists(newlyDone >= _))
        throw new RuntimeException(s"injected failure before bucket $b")
      val lo = b * per
      val hi = math.min(nConvs, lo + per)
      try {
        if (lo < hi) {
          import spark.implicits._
          if (poisonBuckets.contains(b))
            throw new RuntimeException(s"poisoned conversation in bucket $b")
          val turns = spark.range(lo, hi, 1, spark.sparkContext.defaultParallelism)
            .flatMap(i => SyntheticTranscripts.turnsFor(corpusSeed, i))
          val ruleMap = (lo until hi).map { i =>
            SyntheticTranscripts.convId(i) ->
              SyntheticTranscripts.rulesFor(corpusSeed, i).map(Pipeline.toCoreRule)
          }.toMap
          val bc = spark.sparkContext.broadcast(ruleMap)
          val segs = Pipeline.segment(Pipeline.extract(turns), bc)
          segs.write.mode("overwrite").parquet(s"$workRoot/segments/bucket=$b")
        }
        atomicWrite(markerPath(workRoot, b), s"""{"bucket": $b, "convs": [$lo, $hi)}""")
        completedNow += b
        newlyDone += 1
      } catch {
        case e: Exception =>
          val n = attempts(workRoot, b) + 1
          atomicWrite(attemptsPath(workRoot, b), n.toString)
          if (n >= maxAttempts) {
            // full JSON string escape: Spark exception messages routinely
            // span lines — a raw newline would corrupt the quarantine record
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName).flatMap {
              case '"' => "\\\""
              case '\\' => "\\\\"
              case c if c < ' ' => f"\\u${c.toInt}%04x"
              case c => c.toString
            }
            atomicWrite(quarantinePath(workRoot, b),
              s"""{"bucket": $b, "convs": [$lo, $hi), "attempts": $n, "error": "$msg"}""")
            quarantinedNow += b
          } else
            // incomplete, not quarantined → the next run retries it
            failedNow += (b -> Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
    RunReport(completedNow.result(), failedNow.result(), quarantinedNow.result())
  }

  def readSegments(spark: SparkSession, workRoot: String): DataFrame =
    spark.read.parquet(s"$workRoot/segments")
}
