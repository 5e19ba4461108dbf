package graft.io

import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

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
  * A manifest is `_manifests/<id>.json`, one flat JSON object of string
  * values written by [[SnapshotStore.encodeManifest]] and read back only
  * by [[SnapshotStore.decodeManifest]]. Every metadata question a call asks
  * is answered from ONE listing of that directory, each manifest parsed
  * once (like a Delta Lake snapshot rebuilt from one read of its log);
  * nothing is cached across calls. The keys:
  *
  * | key | written by | read by |
  * |---|---|---|
  * | `data` | every commit: its stage dir | every read, `dataLocation`, `expireRetired`, `expireOrphanStages` |
  * | `schema` | every data commit: the Spark schema of the rows it staged, as JSON | every read, `upsert`'s key probes, schema ops |
  * | `snapshot_id` | every commit | nothing (the file name is the id) |
  * | `row_count` | `append` | `rowCount` |
  * | `replaces` | `compact`, `upsert` | `snapshots`, `compactionWatermark`, `expireRetired` |
  * | `schema_only` | `dropColumn`, `renameColumn`, `widenColumn` | `isSchemaOnly`, `dataSnapshots`, every read |
  * | `drop_cols` | `dropColumn`; carried by `compact`, `upsert` | `droppedColumns`, every read |
  * | `rename_cols` | `renameColumn`; carried by `compact`, `upsert` | `renamedColumns`, every read, stats-name resolution |
  * | `widen_cols` | `widenColumn`; carried by `compact`, `upsert` | `widenedColumns`, every read |
  * | `stats_col`, `stats_min`, `stats_max` | writes with a `statsCol`; merged by `compact` | `snapshotStats`, `pruneSnapshots`, `readRangePruned`, `upsert` |
  * | `file_stats`, `file_stats_overflow` | writes with a `statsCol` | `fileStats`, `pruneFiles`, `readRangePruned` |
  * | `txn_<appId>` | `appendExactlyOnce`; global max carried by `compact`, `upsert` | `txnLastBatch`, `appendExactlyOnce` |
  * | any other key | `append`'s `meta` (e.g. `table`, `segments_snapshot`) | nothing in the store |
  *
  * On a real cluster the binding swaps to Iceberg (`writeTo(...).append()`,
  * `VERSION AS OF`) with no pipeline-API change.
  */
final class SnapshotStore(val root: String) {
  import SnapshotStore.{Evolution, Staged, encodeChain}

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

  /** The one place manifest bytes are read. None when the file is gone:
    * a concurrent [[expireRetired]] may delete a retired manifest after a
    * listing named it. */
  private def readManifest(id: Long): Option[Manifest] =
    try {
      val text = new String(
        Files.readAllBytes(manifestDir.resolve(s"$id.json")), StandardCharsets.UTF_8)
      Some(new Manifest(id, SnapshotStore.decodeManifest(text)))
    } catch {
      case _: NoSuchFileException => None
      case e: IllegalArgumentException =>
        throw new IllegalStateException(s"manifest $id: ${e.getMessage}", e)
    }

  /** One committed manifest: its id and the fields the codec read. Every
    * per-snapshot view is a projection of these fields. */
  private final class Manifest(val id: Long, fields: Map[String, String]) {
    private def list(key: String, sep: Char = ','): Seq[String] =
      fields.get(key).toSeq.flatMap(_.split(sep)).filter(_.nonEmpty)
    def replaces: Seq[Long] = list("replaces").map(_.toLong)
    def schemaOnly: Boolean = fields.get("schema_only").contains("true")
    def dropped: Seq[String] = list("drop_cols")
    def pairs(key: String): Seq[(String, String)] = list(key).map { e =>
      val i = e.indexOf('>')
      (e.substring(0, i), e.substring(i + 1))
    }
    def rowCount: Option[Long] = fields.get("row_count").map(_.toLong)
    def txns: Map[String, Long] = fields.collect {
      case (k, v) if k.startsWith("txn_") => k.stripPrefix("txn_") -> v.toLong
    }
    def stats: Option[(String, Long, Long)] =
      for (c <- fields.get("stats_col"); mn <- fields.get("stats_min"); mx <- fields.get("stats_max"))
        yield (c, mn.toLong, mx.toLong)

    /** The schema of the rows in this snapshot's data dir, recorded by the
      * commit that staged them, so no read asks the files' footers. Every
      * data commit records one, so a data manifest without it is corrupt,
      * not legacy. */
    lazy val schema: StructType = DataType.fromJson(fields.getOrElse("schema",
      throw new IllegalStateException(s"manifest $id records no schema"))).asInstanceOf[StructType]

    /** The stage dir the commit named. Every commit names one, so a
      * manifest without it is corrupt, not legacy. */
    def dataPath: Path = Paths.get(root, "data", fields.getOrElse("data",
      throw new IllegalStateException(s"manifest $id names no data dir")))

    /** False only when recorded stats for `col` (under its pre-rename
      * name or the current one) cannot intersect [lo, hi]: stats without
      * a usable range keep the snapshot — stats only ever PRUNE. */
    def mayMatch(col: String, lo: Long, hi: Long, evo: Evolution): Boolean = stats match {
      case Some((c, mn, mx)) if evo.resolve(c) == col => mx >= lo && mn <= hi
      case _ => true
    }

    /** Per-file (basename, min, max) stats recorded for `col`. */
    def fileStats(col: String, evo: Evolution): Option[Seq[(String, Long, Long)]] =
      for (c <- fields.get("stats_col") if evo.resolve(c) == col; _ <- fields.get("file_stats"))
        yield list("file_stats", ';').map { e =>
          val Array(name, mn, mx) = e.split(':')
          (name, mn.toLong, mx.toLong)
        }

    /** (kept paths, skipped count) of this snapshot's files for a
      * `col BETWEEN lo AND hi` predicate; None without file stats for `col`. */
    def pruneFiles(col: String, lo: Long, hi: Long, evo: Evolution): Option[(Seq[String], Int)] =
      fileStats(col, evo).map { fs =>
        val (keep, skip) = fs.partition { case (_, mn, mx) => mx >= lo && mn <= hi }
        (keep.map { case (name, _, _) => dataPath.resolve(name).toString }, skip.size)
      }
  }

  /** One listing of `_manifests/` and every table-level view derived from
    * it. Manifests are parsed once, on the first view that needs them, and
    * only those the listing named: a commit landing later is not seen, so
    * the checks [[commitStaged]] runs against a listing always describe
    * the state its id was allocated against. */
  private final class Listing(ids: Seq[Long]) {
    /** Above every manifest ever committed (incl. retired ones still
      * awaiting cleanup), so ids never collide after a compaction. */
    def nextId: Long = ids.lastOption.getOrElse(0L) + 1L
    lazy val all: Seq[Manifest] = ids.flatMap(readManifest)

    /** Ids retired by a committed compaction (union over every manifest's
      * `replaces` list — a replaced id never becomes live again, so stale
      * manifests awaiting cleanup can't resurrect one). */
    lazy val retired: Set[Long] = all.flatMap(_.replaces).toSet
    lazy val live: Seq[Manifest] = all.filterNot(m => retired(m.id))
    def liveIds: Seq[Long] = live.map(_.id)
    def data: Seq[Manifest] = live.filterNot(_.schemaOnly)
    def get(id: Long): Option[Manifest] = all.find(_.id == id)

    /** Drops are the union of every `drop_cols` at or below `asOf`. Rename
      * and widen commits record their FULL history in commit order and
      * replacement manifests carry it forward, so each chain is the longest
      * one recorded at or below `asOf` (length is monotone in commit id;
      * the order inside it is the commit order the renames must apply in,
      * for chains like a→b then b→c). */
    def evolution(asOf: Long): Evolution = {
      val upTo = all.takeWhile(_.id <= asOf)
      def longest(key: String) = upTo.map(_.pairs(key))
        .foldLeft(Seq.empty[(String, String)])((best, c) => if (c.length > best.length) c else best)
      Evolution(longest("rename_cols"), upTo.flatMap(_.dropped).toSet, longest("widen_cols"))
    }
    lazy val current: Evolution = evolution(Long.MaxValue)

    def watermark: Long = all.filter(_.replaces.nonEmpty).lastOption.fold(0L)(_.id)

    /** Per-app max batch ids across EVERY manifest still on disk, including
      * compaction-retired ones awaiting cleanup — a replayed batch must
      * stay deduplicated in the commit/cleanup gap. */
    def txns: Map[String, Long] = all.flatMap(_.txns).groupMapReduce(_._1)(_._2)(math.max)

    /** What a replacement manifest carries forward: the evolution record it
      * was planned against and the per-app ledger marks of THIS listing —
      * global, not just the replaced inputs', so dedup survives physical
      * cleanup of the inputs even when the replacement covers only a prefix
      * of the table. */
    def carried(planned: Evolution): Map[String, String] =
      planned.fields ++ txns.map { case (app, b) => s"txn_$app" -> b.toString }
  }

  private def listing(): Listing = new Listing(manifestIds)

  /** Live snapshots: committed manifests minus compaction-retired ids. */
  def snapshots: Seq[Long] = listing().liveIds

  /** True when snapshot `id` is a metadata-only commit (no data files) —
    * e.g. a [[dropColumn]]. Such ids participate in snapshot ordering but
    * are skipped by every parquet path list. */
  def isSchemaOnly(id: Long): Boolean = readManifest(id).exists(_.schemaOnly)

  /** Live snapshots that actually carry data files, classified from the
    * same listing that found them live. */
  def dataSnapshots: Seq[Long] = listing().data.map(_.id)

  /** Columns dropped as of snapshot `asOf` — the union of every committed
    * manifest's `drop_cols` at or below it (drop commits record the column;
    * compaction/upsert replacement manifests carry the cumulative set so
    * the drop survives physical cleanup of the drop manifest itself). */
  def droppedColumns(asOf: Long = Long.MaxValue): Set[String] = listing().evolution(asOf).dropped

  /** Cumulative ordered (column, target-type) widen list as of `asOf` —
    * recorded and resolved exactly like the rename chain. */
  def widenedColumns(asOf: Long = Long.MaxValue): Seq[(String, String)] =
    listing().evolution(asOf).widens

  /** Cumulative ORDERED rename chain as of snapshot `asOf` (see
    * `Listing.evolution`). */
  def renamedColumns(asOf: Long = Long.MaxValue): Seq[(String, String)] =
    listing().evolution(asOf).renames

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
    // comma-joined drop_cols encoding into two phantom drops
    require(!col.exists(",\"".contains(_)),
      s"dropColumn: column name '$col' must not contain ',' or quotes")
    val (evo, current) = planSchemaOp(spark, "dropColumn")
    require(current.columns.contains(col),
      s"dropColumn: '$col' is not in the current schema ${current.columns.sorted.mkString("[", ",", "]")}")
    commitSchemaOnly("dropColumn", evo, "drop_cols" -> (evo.dropped + col).toSeq.sorted.mkString(","))
  }

  /** Widening-allowed primitive promotions (the Iceberg v2 set for flat
    * columns): the value space only grows, so old data files remain exact
    * under the cast and no reader can lose information. */
  private val WidenPromotions: Map[String, String] = Map("int" -> "bigint", "float" -> "double")

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
    val (evo, current) = planSchemaOp(spark, "widenColumn")
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
    commitSchemaOnly("widenColumn", evo,
      "widen_cols" -> encodeChain(evo.widens :+ (col -> target)))
  }

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
    val (evo, currentDf) = planSchemaOp(spark, "renameColumn")
    val current = currentDf.columns.toSet
    require(current.contains(from),
      s"renameColumn: '$from' is not in the current schema ${current.toSeq.sorted.mkString("[", ",", "]")}")
    require(!current.contains(to), s"renameColumn: '$to' already exists in the schema")
    require(!evo.dropped.contains(to),
      s"renameColumn: '$to' was DROPPED from this table — name reuse would " +
        "resurrect pre-drop values out of old data files; pick a fresh name")
    require(!evo.renames.exists(_._1 == to),
      s"renameColumn: '$to' is the retired source of an earlier rename — " +
        "reusing it would fold new data into that rename's target out of old files")
    commitSchemaOnly("renameColumn", evo,
      "rename_cols" -> encodeChain(evo.renames :+ (from -> to)))
  }

  /** The current evolution record and the evolved relation over every data
    * snapshot — what a schema op validates against. */
  private def planSchemaOp(spark: SparkSession, op: String): (Evolution, DataFrame) = {
    val l = listing()
    require(l.data.nonEmpty, s"$op: table has no data snapshots")
    (l.current, l.current(readMerged(spark, l, whole(l.data))))
  }

  /** Commit a metadata-only snapshot recording `field`. The op was
    * validated against the schema `planned` produces; a concurrent
    * evolution commit invalidates that validation (and, since a chain
    * keeps only its LONGEST record, a racing rename committing a
    * same-length chain would be shadowed for good) — so the commit aborts
    * loudly if the record changed between planning and commit. */
  private def commitSchemaOnly(op: String, planned: Evolution, field: (String, String)): Long = {
    val stage = Paths.get(root, "data", s"stage-${java.util.UUID.randomUUID}")
    Files.createDirectories(stage)
    commitStaged(Staged(stage, None), _ => Map("schema_only" -> "true", field), _.current == planned)
      .getOrElse(throw new IllegalStateException(
        s"$op aborted: a concurrent schema-evolution commit landed; retry"))
  }

  /** The id of the newest committed COMPACTED snapshot (0 if none). The
    * compacted snapshot rewrites older data under a NEWER id, so any
    * incremental checkpoint below this id (other than 0 = full read)
    * would re-see rewritten rows and cannot be served exactly any more —
    * see [[readRange]]. */
  def compactionWatermark: Long = listing().watermark

  def latest: Option[Long] = snapshots.lastOption

  /** Append `df` as the next snapshot; returns its id. Visible only after
    * the manifest rename commits.
    *
    * `meta` adds caller keys to the manifest (e.g. `table`); a key the
    * store writes itself (see the key table above) is rejected before
    * any data is staged — it would retire snapshots, hide the rows or
    * forge a ledger mark.
    *
    * The manifest records the exact committed `row_count`, so consumers
    * (e.g. SubmitMain's summary line) never rescan the table. The write
    * path, and with it where the count comes from, is chosen from `df`'s
    * optimized plan (see [[stageWrite]]):
    *
    *  - a non-streaming `LocalRelation` (`createDataset(Seq)`,
    *    `Pipeline.lineageFromStats`): its rows already sit on the driver,
    *    which writes them as one parquet file with no Spark job. The count
    *    is the relation's size, exact by construction;
    *  - any other plan: a Spark write with an `observe` directly under it.
    *    The observation is computed in the write's result stage, and the
    *    DAGScheduler applies a ResultTask's accumulator updates once per
    *    partition, only from the successful attempt (the one the commit
    *    coordinator let commit): failed, retried and speculative attempts
    *    never add. The no-arg Observation has a unique name, so concurrent
    *    appends in one session cannot mix counts.
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
    val owned = meta.keys.filter(SnapshotStore.storeOwned).toSeq.sorted
    require(owned.isEmpty,
      s"append: meta key(s) ${owned.mkString(", ")} are written by the store itself")
    requireNewNames(df, listing().current)
    val staged = stageWrite(df, countRows = true)
    val fields = meta + ("row_count" -> staged.rows.get.toString) ++
      stagedStats(df.sparkSession, staged, statsCol)
    commitStaged(staged, _ => fields, _ => true).get
  }

  /** Write `df` to a uniquely-named staging dir under root/data — data
    * files never land at an id-derived path, so two concurrent writers can
    * NEVER clobber each other's files; the manifest that wins the commit
    * points at its own stage dir. Returns the dir and, when the count is
    * known for free (a driver write) or `countRows` asks for an observed
    * one, the exact number of rows written, with the schema of the rows
    * the commit records for every later read.
    *
    * Rows of a non-streaming `LocalRelation` are already on the driver:
    * planning, a stage of tasks and a Hadoop job commit would cost more
    * than writing them, so [[writeFromDriver]] writes them directly. Every
    * other plan is a Spark write, as is a frame with duplicate column
    * names (the Spark write reports them). */
  private def stageWrite(df: DataFrame, countRows: Boolean = false): Staged = {
    val stage = Paths.get(root, "data", s"stage-${java.util.UUID.randomUUID}")
    df.queryExecution.optimizedPlan match {
      case rel: LocalRelation if !rel.isStreaming && uniqueNames(df) =>
        writeFromDriver(df.sparkSession, rel, stage)
        Staged(stage, Some(rel.schema), Some(rel.data.size.toLong))
      case _ if countRows =>
        val observed = Observation()
        df.observe(observed, count(lit(1)).as("n")).write.mode("errorifexists").parquet(stage.toString)
        Staged(stage, Some(df.schema), Some(observed.get("n").asInstanceOf[Long]))
      case _ =>
        df.write.mode("errorifexists").parquet(stage.toString)
        Staged(stage, Some(df.schema))
    }
  }

  /** No two columns share a name under the session's resolver. A Spark
    * write rejects such a frame, so it is left to that path to say so. */
  private def uniqueNames(df: DataFrame): Boolean = {
    val names = df.columns.map(normName(df, _))
    names.distinct.length == names.length
  }

  /** Write `rel`'s rows into `stage` as one parquet file, on the calling
    * thread, through the writer a Spark write task opens: the factory of
    * `ParquetFileFormat.prepareWrite` over the session's Hadoop conf, so
    * the codec, footer and parquet schema are those of a Spark-written
    * file. An empty relation writes a schema-only file, as Spark does. */
  private def writeFromDriver(spark: SparkSession, rel: LocalRelation, stage: Path): Unit = {
    val schema = rel.schema
    val format = new ParquetFileFormat()
    // the schema checks a Spark write runs while planning: an empty schema,
    // types parquet cannot hold (duplicate names never reach this path)
    DataSource.validateSchema("parquet", schema, spark.sessionState.conf)
    DataSourceUtils.verifySchema(format, schema)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = format.prepareWrite(spark, job, Map.empty, schema)
    val attempt = new TaskAttemptID(new TaskID(new JobID("driver", 0), TaskType.MAP, 0), 0)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, attempt)
    try {
      Files.createDirectories(stage)
      val file = stage.resolve(
        s"part-00000-${java.util.UUID.randomUUID}-c000${factory.getFileExtension(ctx)}")
      val writer = factory.newInstance(file.toUri.toString, schema, ctx)
      try rel.data.foreach(writer.write) finally writer.close()
    } catch {
      case e: Throwable => deleteRecursively(stage); throw e
    }
  }

  /** Optimistic-concurrency commit of a staged write (the Iceberg commit
    * model on a plain filesystem): loop { list the manifests → allocate the
    * next id → run `decide` against that listing → publish via hard-link,
    * which FAILS atomically if that id was committed first }. A competing
    * commit either is in our listing (`decide` sees the new state and may
    * abort) or collides on the id (we loop and re-decide) — there is no
    * interleaving where two writers both publish under one id, and none
    * where a same-app exactly-once append double-commits (see
    * [[appendExactlyOnce]]). The manifest names the stage dir and records
    * its schema. Returns None (stage deleted) when `decide` aborts. */
  private def commitStaged(
      staged: Staged,
      meta: Listing => Map[String, String],
      decide: Listing => Boolean): Option[Long] = {
    val stage = staged.dir
    val own = Map("data" -> stage.getFileName.toString) ++ staged.schema.map("schema" -> _.json)
    try {
      while (true) {
        val l = listing()
        val id = l.nextId
        if (!decide(l)) { deleteRecursively(stage); return None }
        // meta is re-evaluated per attempt: a competing commit that forced
        // our id collision may have advanced state the manifest must
        // reflect (e.g. another app's ledger mark carried by a replace)
        if (tryCommitManifest(id, meta(l) ++ own))
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
      spark: SparkSession, staged: Staged, statsCol: Option[String]): Seq[(String, String)] =
    statsCol.toSeq.flatMap { c =>
      import org.apache.spark.sql.functions.{col, input_file_name, max, min}
      val per = spark.read.schema(staged.schema.get).parquet(staged.dir.toString)
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
    val l = listing()
    val liveAtPlan = l.liveIds.toSet
    val evo = l.current
    requireNewNames(updates, evo)
    if (l.data.isEmpty) return append(updates, statsCol = statsCol)
    val keys = updates.select(keyCol).distinct().localCheckpoint(true)
    require(keys.count() == updates.count(),
      s"upsert: updates carry duplicate '$keyCol' keys — merge would be ambiguous")
    val keyRange = updates.selectExpr(
      s"CAST(min($keyCol) AS LONG) AS mn", s"CAST(max($keyCol) AS LONG) AS mx").head()
    // stats may be recorded under a pre-rename name; values are unchanged
    val candidates = l.data.filter(m => keyRange.isNullAt(0) ||
      m.mayMatch(keyCol, keyRange.getLong(0), keyRange.getLong(1), evo))
    // probe under the CURRENT schema, not the snapshot's own era — a
    // pre-rename snapshot must resolve the key by its current name
    val affected = candidates.filter { m =>
      evo.project(spark.read.schema(m.schema).parquet(m.dataPath.toString))
        .join(keys, Seq(keyCol), "left_semi").limit(1).count() > 0
    }
    if (affected.isEmpty) return append(updates, statsCol = statsCol)
    val survivors = evo(readMerged(spark, l, whole(affected)))
      .join(keys, Seq(keyCol), "left_anti")
    // union SCHEMA = survivors ∪ updates: an update column the affected
    // snapshots never carried must land (survivors surface it as NULL),
    // not be silently projected away — the same ADD-COLUMN evolution
    // contract the multi-snapshot reads honor. The REVERSE direction stays
    // loud: updates omitting a column the affected rows carry would
    // silently NULL that column in every rewritten row (copy-on-write
    // replaces whole rows — there are no partial updates)
    val missing = survivors.columns.map(normName(updates, _)).toSet --
      updates.columns.map(normName(updates, _))
    require(missing.isEmpty,
      s"upsert: updates omit live column(s) ${missing.toSeq.sorted.mkString(",")} " +
        "carried by the matched rows — a CoW merge rewrites whole rows, so the " +
        "omitted values would be silently destroyed; select them into the updates")
    val merged = survivors.unionByName(updates, allowMissingColumns = true)
    val staged = stageWrite(merged)
    val stats = stagedStats(spark, staged, statsCol)
    val id = commitStaged(staged,
      now => Map("replaces" -> affected.map(_.id).mkString(",")) ++ now.carried(evo) ++ stats,
      // abort if the LIVE SET changed at all since planning: a retired
      // input means double-replace, and a concurrent APPEND may have
      // landed rows with matching keys that this rewrite would silently
      // leave duplicated (write skew) — Iceberg's conflicting-data-files
      // validation, taken conservatively
      _.liveIds.toSet == liveAtPlan)
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
    val stage = Paths.get(root, "data", meta("data"))
    require(Files.exists(stage),
      s"commit aborted: staged data $stage disappeared (orphan GC raced an in-flight commit?)")
    Files.createDirectories(manifestDir)
    val json = SnapshotStore.encodeManifest(meta + ("snapshot_id" -> id.toString))
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

  /** Physical data location of snapshot `id` (the staged dir its manifest
    * names) — the file-listing surface tooling and tests inspect. */
  def dataLocation(id: Long): Path =
    readManifest(id).getOrElse(throw new IllegalArgumentException(s"snapshot $id has no manifest"))
      .dataPath

  /** Name comparison under the SESSION's resolver: the read path's
    * `df.drop` / rename resolution is case-insensitive under the default
    * `spark.sql.caseSensitive=false`, so these guards must be too — an
    * exact-case check would wave a differently-cased re-add through and
    * the read-side drop would then silently swallow its values forever. */
  private def normName(df: DataFrame, c: String): String =
    if (df.sparkSession.sessionState.conf.caseSensitiveAnalysis) c
    else c.toLowerCase(java.util.Locale.ROOT)

  /** Loud guards on the names a write may use: a dropped NAME cannot
    * return (see [[dropColumn]]), and writing under a rename's SOURCE name
    * would fold the new data into the rename's target out of old files. */
  private def requireNewNames(df: DataFrame, evo: Evolution): Unit = {
    val d = evo.dropped.map(normName(df, _))
    val dropped = df.columns.filter(c => d.contains(normName(df, c)))
    require(dropped.isEmpty,
      s"columns ${dropped.toSeq.sorted.mkString(",")} were DROPPED from this table; " +
        "re-adding a dropped name would resurrect pre-drop values out of old " +
        "data files (this store identifies columns by name, not field id) — " +
        "use a fresh column name")
    val renamedTo = evo.renames.map { case (f, t) => normName(df, f) -> t }.toMap
    val retired = df.columns.filter(col => renamedTo.contains(normName(df, col))).sorted
    require(retired.isEmpty,
      retired.map(f => s"'$f' (renamed to '${renamedTo(normName(df, f))}')").mkString(", ") +
        ": these columns were RENAMED on this table; write the new name(s)")
  }

  /** Read one snapshot (time-travel: only drops committed at or below `id`
    * apply, mirroring Iceberg's per-snapshot schema). */
  def read(spark: SparkSession, id: Long): DataFrame = {
    val l = listing()
    val m = l.live.find(_.id == id)
    require(m.isDefined, s"snapshot $id not committed")
    require(!m.get.schemaOnly,
      s"snapshot $id is a metadata-only (schema) commit — it has no data to read")
    l.evolution(id)(spark.read.schema(m.get.schema).parquet(m.get.dataPath.toString))
  }

  /** Each of `ms` with all of its data files, for [[readMerged]]. */
  private def whole(ms: Seq[Manifest]): Seq[(Manifest, Seq[String])] =
    ms.map(m => m -> Seq(m.dataPath.toString))

  /** One relation over data snapshots (`parts`: each snapshot with the
    * files of it to scan) with ADD-COLUMN schema evolution: rows written
    * before a column existed surface it as NULL — the Iceberg evolution
    * contract. Every multi-snapshot read goes through here (a plain
    * multi-path read would silently project everything onto the FIRST
    * file's schema, dropping later columns). Callers apply the listing's
    * evolution at their own asOf bound (a schema commit can be NEWER than
    * the newest data id in the range, so the bound is the range end, not
    * `ids.max`).
    *
    * Planned from the manifests alone: each snapshot's schema is the one
    * its commit recorded, so building the relation opens no footer and
    * starts no Spark job. While no widen is recorded, the snapshots'
    * schemas fold into one read schema (`mergeSchemas`: id order, so the
    * column order is deterministic) over ONE scan node —
    * the cheap steady state. Once any widen is recorded, each snapshot is
    * read under its own schema and the reads fold with
    * `unionByName(allowMissingColumns = true)`: one read schema cannot
    * hold both the int and the bigint era of a column, while union
    * coercion widens them exactly (and missing columns still null-fill).
    * The union plan grows with the snapshot count; compaction collapses it
    * back to the single-scan shape, which is the maintenance cadence a
    * high-frequency append table runs anyway. */
  private def readMerged(
      spark: SparkSession, l: Listing, parts: Seq[(Manifest, Seq[String])]): DataFrame =
    if (l.current.widens.isEmpty) {
      val schema = SnapshotStore.mergeSchemas(parts.map { case (m, _) => m.id -> m.schema },
        spark.sessionState.conf.caseSensitiveAnalysis)
      spark.read.schema(schema).parquet(parts.flatMap(_._2): _*)
    } else
      parts.map { case (m, files) => spark.read.schema(m.schema).parquet(files: _*) }
        .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Data snapshots of (fromExclusive, toInclusive], after the checkpoint
    * check every range read makes. A checkpoint strictly inside a
    * compacted range cannot be served exactly (the compacted snapshot
    * holds the WHOLE retired prefix, so the reader would re-see rows it
    * already processed) — that read fails loudly instead of silently
    * duplicating; `fromExclusive = 0` (a full read from the beginning)
    * stays valid across compactions, as does any checkpoint at or above
    * the watermark. Same contract as expiring snapshots under an Iceberg
    * incremental scan. */
  private def dataInRange(l: Listing, fromExclusive: Long, toInclusive: Long): Seq[Manifest] = {
    val wm = l.watermark
    require(fromExclusive == 0L || fromExclusive >= wm,
      s"checkpoint $fromExclusive predates the compaction watermark $wm: " +
        "the retired snapshots were rewritten; restart from a full read (from=0)")
    val ms = l.data.filter(m => m.id > fromExclusive && m.id <= toInclusive)
    require(ms.nonEmpty, s"no data snapshots in ($fromExclusive, $toInclusive]")
    ms
  }

  /** Incremental read of snapshots in (fromExclusive, toInclusive]; see
    * [[dataInRange]] for the checkpoint contract. */
  def readRange(spark: SparkSession, fromExclusive: Long, toInclusive: Long): DataFrame = {
    val l = listing()
    val ms = dataInRange(l, fromExclusive, toInclusive)
    l.evolution(toInclusive)(readMerged(spark, l, whole(ms)))
  }

  /** Column stats recorded for snapshot `id` at append time:
    * (column, min, max), if any. */
  def snapshotStats(id: Long): Option[(String, Long, Long)] = readManifest(id).flatMap(_.stats)

  /** Exact row count recorded in snapshot `id`'s manifest at append time
    * (absent for metadata-only commits and manifests written before the
    * field existed). */
  def rowCount(id: Long): Option[Long] = readManifest(id).flatMap(_.rowCount)

  /** Highest batch id ever committed for `appId`, over every manifest still
    * on disk. [[compact]] and [[upsert]] carry each app's max forward into
    * their replacement manifest, so the ledger survives physical cleanup. */
  def txnLastBatch(appId: String): Option[Long] = listing().txns.get(appId)

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
    val l = listing()
    requireNewNames(df, l.current)
    def fresh(now: Listing) = !now.txns.get(appId).exists(_ >= batchId)
    if (!fresh(l)) return None // cheap pre-check before staging any data
    val staged = stageWrite(df)
    val m = Map(s"txn_$appId" -> batchId.toString) ++
      stagedStats(df.sparkSession, staged, statsCol)
    commitStaged(staged, _ => m, fresh)
  }

  /** Per-file (basename, min, max) stats recorded for snapshot `id`, if
    * the manifest carries them for `col` (under its recorded pre-rename
    * name or the current one). */
  def fileStats(id: Long, col: String): Option[Seq[(String, Long, Long)]] = {
    val l = listing()
    l.get(id).flatMap(_.fileStats(col, l.current))
  }

  /** Split snapshot `id`'s data files into (kept paths, skipped count) for
    * a `col BETWEEN lo AND hi` predicate using the per-file manifest
    * stats; None when the manifest has no file stats for `col` (caller
    * reads the whole snapshot — stats only ever PRUNE). */
  def pruneFiles(id: Long, col: String, lo: Long, hi: Long): Option[(Seq[String], Int)] = {
    val l = listing()
    l.get(id).flatMap(_.pruneFiles(col, lo, hi, l.current))
  }

  /** Split the live snapshots of (fromExclusive, toInclusive] into
    * (kept, skipped) for a `col BETWEEN lo AND hi` predicate using the
    * manifest stats: a snapshot is skipped iff its recorded [min,max] for
    * exactly `col` cannot intersect [lo,hi]. Snapshots without stats for
    * that column are conservatively kept — stats only ever PRUNE. */
  def pruneSnapshots(fromExclusive: Long, toInclusive: Long,
      col: String, lo: Long, hi: Long): (Seq[Long], Seq[Long]) = {
    val l = listing()
    val (kept, skipped) = l.live.filter(m => m.id > fromExclusive && m.id <= toInclusive)
      .partition(_.mayMatch(col, lo, hi, l.current))
    (kept.map(_.id), skipped.map(_.id))
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
    val l = listing()
    val all = dataInRange(l, fromExclusive, toInclusive)
    val parts = all.filter(_.mayMatch(col, lo, hi, l.current)).map { m =>
      m -> m.pruneFiles(col, lo, hi, l.current).fold(Seq(m.dataPath.toString))(_._1)
    }.filter(_._2.nonEmpty)
    val base =
      if (parts.nonEmpty) readMerged(spark, l, parts)
      else // everything pruned: empty result with the table's FULL merged
        // schema (a first-snapshot-only read would lack later-era added
        // columns, making .select on the empty result throw where the
        // unpruned path succeeds); lit(false) keeps it schema-only cost
        readMerged(spark, l, whole(all)).where(lit(false))
    l.evolution(toInclusive)(base).where(s"$col BETWEEN $lo AND $hi")
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
    val l = listing()
    val inputs = l.live.filter(_.id <= upToInclusive)
    require(inputs.size >= 2,
      s"compaction needs >= 2 live snapshots <= $upToInclusive, found ${inputs.size}")
    val dataInputs = inputs.filterNot(_.schemaOnly)
    require(dataInputs.nonEmpty,
      s"compaction over <= $upToInclusive covers only metadata-only snapshots")
    // the rewrite applies the CURRENT evolution record — compaction is the
    // step that removes dropped columns and materializes renames and widened
    // types physically (Iceberg's model); the record is still carried in the
    // replacement manifest so it keeps projecting any older non-compacted
    // data and keeps rejecting re-adds
    val evo = l.current
    val staged = stageWrite(evo(readMerged(spark, l, whole(dataInputs))))
    // stats survive compaction when every data input carries them for the
    // same column: merged range = [min of mins, max of maxes] — no extra job
    val inStats = dataInputs.map(_.stats)
    // inputs may record the SAME logical column under pre- and post-rename
    // names (values are unchanged by a rename) — resolve through the chain
    // before asking "one column?", else a renamed table's compaction would
    // silently drop the stats its bulk manifest needs for pruning
    val statNames = inStats.flatten.map(s => evo.resolve(s._1)).distinct
    val stats =
      if (inStats.forall(_.isDefined) && statNames.size == 1)
        // the rewrite stored the column under its CURRENT name — map the
        // carried stats name through the chain so pruning keeps working
        Seq("stats_col" -> statNames.head,
          "stats_min" -> inStats.flatten.map(_._2).min.toString,
          "stats_max" -> inStats.flatten.map(_._3).max.toString)
      else Nil
    val inputIds = inputs.map(_.id)
    val id = commitStaged(staged,
      now => Map("replaces" -> inputIds.mkString(",")) ++ now.carried(evo) ++ stats,
      now => inputIds.forall(now.liveIds.contains))
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
    val referenced = listing().all.map(_.dataPath.getFileName.toString).toSet
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
  def expireRetired(): Unit = {
    val l = listing()
    l.all.filter(m => l.retired(m.id)).foreach { m =>
      deleteRecursively(m.dataPath)
      Files.deleteIfExists(manifestDir.resolve(s"${m.id}.json"))
    }
  }
}

object SnapshotStore {
  /** Cap on per-file stats entries in one manifest (a manifest is a small
    * JSON document; a 100 TB snapshot with 10^5 files needs a real stats
    * table — Iceberg's manifest FILES — not a flat string). */
  val MaxFileStats = 512

  /** A write staged under `dir`, not yet committed: the schema of its rows
    * (None for a metadata-only commit, which stages no files) and, when
    * known, how many rows it holds. */
  private final case class Staged(dir: Path, schema: Option[StructType], rows: Option[Long] = None)

  private def encodeChain(chain: Seq[(String, String)]): String =
    chain.map { case (f, t) => s"$f>$t" }.mkString(",")

  /** The schema-evolution record as of one snapshot: the ordered rename
    * chain, the drop set and the ordered (column, target type) widen list.
    *
    * Applied to a relation as rename chain first (files written before a
    * rename surface the value under the new name), then the drop set (whose
    * names are post-rename by construction — `dropColumn` validates against
    * the evolved schema), then the widen set (each widen's recorded name
    * resolved through the FULL chain — a widen recorded pre-rename follows
    * its column to the new name; recording post-rename under a
    * not-yet-current name is impossible since `widenColumn` validates
    * against the evolved schema). The pairs cannot interleave incorrectly:
    * a drop's name can never be a rename source (a renamed-away name is not
    * in the schema to drop) and a rename target can never be a dropped name
    * (`renameColumn` rejects it), so chain-then-set-then-cast is
    * order-exact. */
  private final case class Evolution(
      renames: Seq[(String, String)], dropped: Set[String], widens: Seq[(String, String)]) {

    /** The current name of `col` after every rename in the chain. */
    def resolve(col: String): String =
      renames.foldLeft(col) { case (c, (f, t)) => if (c == f) t else c }

    /** Rename chain, then drop set. Renames on a (possibly mixed-era)
      * relation: both names present (old files + post-rename files in one
      * merged read schema) → fold the old column into the new one
      * (disjoint by construction — `append` rejects the retired name, so
      * no row carries both); only the old name → plain rename; only the new name
      * (post-compaction) → no-op. Exact name matching, like every other
      * store surface. */
    def project(df: DataFrame): DataFrame = {
      val renamed = renames.foldLeft(df) { case (d, (f, t)) =>
        val has = d.columns.toSet
        if (has(f) && has(t))
          d.withColumn(t, org.apache.spark.sql.functions.coalesce(d(t), d(f))).drop(f)
        else if (has(f)) d.withColumnRenamed(f, t)
        else d
      }
      if (dropped.isEmpty) renamed else renamed.drop(dropped.toSeq.sorted: _*)
    }

    /** [[project]], then up-cast every widened column still present (a
      * widened-then-dropped column is simply absent). Cast of an
      * already-wide column is a no-op the optimizer removes, so
      * post-compaction reads pay nothing. */
    def apply(df: DataFrame): DataFrame =
      widens.foldLeft(project(df)) { case (d, (n, t)) =>
        val cur = resolve(n)
        if (d.columns.contains(cur)) d.withColumn(cur, d(cur).cast(t)) else d
      }

    /** The record as manifest fields, for a replacement manifest to carry
      * so it survives physical cleanup of the evolution commits. */
    def fields: Map[String, String] =
      Map("drop_cols" -> dropped.toSeq.sorted.mkString(","),
        "rename_cols" -> encodeChain(renames), "widen_cols" -> encodeChain(widens)).filter(_._2.nonEmpty)
  }

  /** The read schema of several data snapshots, given as (id, recorded
    * schema), folded in id order: a column keeps the name, type and
    * position of its first appearance, a column new in a later snapshot is
    * appended, and every column is nullable (older rows lack newer
    * columns). Names match under the session's resolver (`caseSensitive`).
    * A column whose type differs between two snapshots (nullability aside)
    * fails loudly, naming it and both ids: such eras need a recorded widen,
    * which the store's `readMerged` reads through its union path. */
  private def mergeSchemas(schemas: Seq[(Long, StructType)], caseSensitive: Boolean): StructType = {
    def key(name: String) = if (caseSensitive) name else name.toLowerCase(java.util.Locale.ROOT)
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, (Long, StructField)]
    for ((id, schema) <- schemas.sortBy(_._1); f <- schema.fields) seen.get(key(f.name)) match {
      case None => seen(key(f.name)) = id -> f
      case Some((first, g)) =>
        if (loose(g.dataType) != loose(f.dataType)) throw new IllegalStateException(
          s"column '${f.name}' is ${g.dataType.catalogString} in snapshot $first but " +
            s"${f.dataType.catalogString} in snapshot $id; only a recorded widenColumn " +
            "may change a column's type")
    }
    StructType(seen.values.map(_._2.copy(nullable = true)).toSeq)
  }

  /** `t` with every nested nullability flag set and field metadata
    * dropped: the part of a type two snapshots must agree on. */
  private def loose(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, loose(f.dataType))))
    case a: ArrayType => ArrayType(loose(a.elementType), containsNull = true)
    case m: MapType => MapType(loose(m.keyType), loose(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Manifest keys the store writes itself (see the key table on the
    * class); `append`'s caller `meta` may not set them. */
  private def storeOwned(key: String): Boolean =
    Set("data", "schema", "snapshot_id", "row_count", "replaces", "schema_only",
      "drop_cols", "rename_cols", "widen_cols")(key) ||
      Seq("stats_", "file_stats", "txn_").exists(key.startsWith)

  /** Manifest text: one flat JSON object of string values. Keys and values
    * escape `"`, `\` and every control character (the latter as a JSON
    * four-hex-digit escape); everything else, supplementary-plane
    * characters included, is written as is. */
  private[graft] def encodeManifest(fields: Map[String, String]): String = {
    def str(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    fields.map { case (k, v) => s""""${str(k)}": "${str(v)}"""" }.mkString("{", ", ", "}")
  }

  /** The fields of one manifest's text: the inverse of [[encodeManifest]],
    * undoing exactly its three escapes. Anything else throws. */
  private[graft] def decodeManifest(text: String): Map[String, String] = {
    var i = 0
    def fail(what: String) = throw new IllegalArgumentException(s"malformed at char $i: $what")
    def at(c: Char): Boolean = {
      while (i < text.length && text.charAt(i).isWhitespace) i += 1
      i < text.length && text.charAt(i) == c
    }
    def expect(c: Char): Unit = if (at(c)) i += 1 else fail(s"expected '$c'")
    def str(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      while (i < text.length && text.charAt(i) != '"') {
        if (text.charAt(i) != '\\') { sb.append(text.charAt(i)); i += 1 }
        else if (text.startsWith("\\u", i) && i + 6 <= text.length) {
          sb.append(Integer.parseInt(text.substring(i + 2, i + 6), 16).toChar); i += 6
        } else if (i + 1 < text.length && "\"\\".indexOf(text.charAt(i + 1)) >= 0) {
          sb.append(text.charAt(i + 1)); i += 2
        } else fail("unknown escape")
      }
      expect('"')
      sb.toString
    }
    val out = Map.newBuilder[String, String]
    expect('{')
    var more = !at('}')
    while (more) {
      val k = str()
      expect(':')
      out += k -> str()
      more = at(',')
      if (more) i += 1
    }
    expect('}')
    out.result()
  }

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
          val convs = spark.range(lo, hi, 1, spark.sparkContext.defaultParallelism)
          val turns = convs.flatMap(i => SyntheticTranscripts.turnsFor(corpusSeed, i))
          val rules = convs.flatMap(i => SyntheticTranscripts.rulesFor(corpusSeed, i))
          val segs = Pipeline.segmentAuto(turns, rules)
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
