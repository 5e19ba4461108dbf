package graft.spark

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.SnapshotStore
import graft.schema.{ConvSegment, PartitionLineage}

/** Model-based randomized exercise of the SnapshotStore op surface: a
  * seeded sequence of append / add-column append / exactly-once append /
  * dropColumn / renameColumn / widenColumn / compact / upsert is replayed
  * against an in-memory model, asserting after every few ops that
  * `readRange(0, latest)` returns exactly the model's rows (missing columns
  * as NULL, dropped columns absent, narrow columns int until widened) and
  * that every metadata view — the evolution record, the watermark, the
  * ledger mark, the live and data snapshots and their row counts — agrees
  * with the model: the whole-store consistency invariant no single-path
  * spec can cover. */
class StorePropertySpec extends AnyFunSuite with SparkFixture {

  /** model row: key -> (col -> value); absent col = null on read */
  private type Model = scala.collection.mutable.LinkedHashMap[Long, Map[String, Long]]

  /** model snapshot: the keys it holds, its recorded row count, and
    * whether it carries data (false for a schema-only commit) */
  private final case class Snap(keys: Set[Long], rowCount: Option[Long], data: Boolean)

  /** Columns in `ints` are written as INT (narrow, widenable), the rest as
    * BIGINT. */
  private def writeDf(rows: Seq[(Long, Map[String, Long])], cols: Seq[String],
                      ints: Set[String]) = {
    val schema = StructType(StructField("k", LongType, nullable = false) +:
      cols.map(c => StructField(c, if (ints(c)) IntegerType else LongType, nullable = true)))
    val data = rows.map { case (k, m) =>
      Row.fromSeq(k +: cols.map(c => m.get(c).map[Any](v => if (ints(c)) v.toInt else v).orNull))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  private def check(store: SnapshotStore, model: Model, dropped: Set[String],
                    allCols: Seq[String], ints: Set[String], tag: String,
                    rng: scala.util.Random): Unit = {
    val visible = allCols.filterNot(dropped.contains)
    val got = store.readRange(spark, 0L, store.latest.get)
    assert(got.columns.sorted.toSeq == ("k" +: visible).sorted,
      s"[$tag] schema mismatch: ${got.columns.sorted.toSeq}")
    visible.foreach { c =>
      val want = if (ints(c)) IntegerType else LongType
      assert(got.schema(c).dataType == want, s"[$tag] '$c' reads as ${got.schema(c).dataType}")
    }
    val gotRows = got.collect().map { r =>
      r.getLong(r.fieldIndex("k")) -> visible.flatMap { c =>
        val i = r.fieldIndex(c)
        if (r.isNullAt(i)) None else Some(c -> r.getAs[Number](i).longValue)
      }.toMap
    }.toMap
    val want = model.map { case (k, m) =>
      k -> m.filter { case (c, _) => !dropped.contains(c) }
    }.toMap
    assert(gotRows == want, s"[$tag] contents diverged from model")
    // stats-pruned read over a random key slice must agree with the model
    // (snapshots/files outside [lo, hi] are skipped via manifest stats;
    // pruning must accelerate, never decide, membership)
    if (model.nonEmpty) {
      val keys = model.keys.toVector.sorted
      val lo = keys(rng.nextInt(keys.size))
      val hi = lo + rng.nextInt(6)
      val pruned = store.readRangePruned(spark, 0L, store.latest.get, "k", lo, hi)
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      val wantKeys = keys.filter(k => k >= lo && k <= hi)
      assert(pruned == wantKeys, s"[$tag] pruned read [$lo,$hi] diverged: $pruned vs $wantKeys")
    }
  }

  for (seed <- Seq(11L, 23L)) test(s"random op sequence matches the model (seed $seed)") {
    val rng = new scala.util.Random(seed)
    val store = new SnapshotStore(
      Files.createTempDirectory(s"graft-storeprop-$seed").toString)
    val model: Model = scala.collection.mutable.LinkedHashMap.empty
    val snaps = scala.collection.mutable.LinkedHashMap.empty[Long, Snap]
    var allCols = Vector("a", "b")
    var ints = Set("b") // narrow columns not yet widened
    var dropped = Set.empty[String]
    var renames = Vector.empty[(String, String)]
    var widens = Vector.empty[(String, String)]
    var watermark = 0L
    var nextKey = 0L
    var nextCol = 0

    def freshRows(n: Int, cols: Seq[String]): Seq[(Long, Map[String, Long])] =
      (0 until n).map { _ =>
        val k = nextKey; nextKey += 1
        k -> cols.map(c => c -> (k * 31 + c.hashCode % 97)).toMap
      }
    def df(rows: Seq[(Long, Map[String, Long])], cols: Seq[String]) = writeDf(rows, cols, ints)
    def appended(id: Long, rows: Seq[(Long, Map[String, Long])], rowCount: Boolean): Unit = {
      rows.foreach { case (k, m) => model(k) = m }
      snaps(id) = Snap(rows.map(_._1).toSet, if (rowCount) Some(rows.size.toLong) else None, data = true)
    }
    def schemaCommit(id: Long): Unit = snaps(id) = Snap(Set.empty, None, data = false)

    // first snapshot so every later op has something to act on
    val init = freshRows(4, allCols)
    appended(store.append(df(init, allCols), statsCol = Some("k")), init, rowCount = true)
    var batchMark = 0L // exactly-once ledger model for app "prop"
    val took = scala.collection.mutable.Set.empty[String] // op kinds that took effect

    for (op <- 1 to 24) {
      rng.nextInt(8) match {
        case 0 => // plain append over the current visible schema
          val cols = allCols.filterNot(dropped.contains)
          val rows = freshRows(1 + rng.nextInt(3), cols)
          appended(store.append(df(rows, cols), statsCol = Some("k")), rows, rowCount = true)
        case 5 => // exactly-once append: a replayed batch must be a no-op
          val cols = allCols.filterNot(dropped.contains)
          if (rng.nextBoolean() && batchMark > 0) {
            // replay an already-committed batch id: nothing may land
            val before = store.snapshots
            val rows = freshRows(1, cols)
            val r = store.appendExactlyOnce(df(rows, cols), "prop",
              batchId = 1L + rng.nextInt(batchMark.toInt), statsCol = Some("k"))
            assert(r.isEmpty, s"replayed batch committed at op $op")
            assert(store.snapshots == before, s"replayed batch changed the table at op $op")
            took += "replay"
            nextKey -= 1 // the row never landed; reuse its key
          } else {
            batchMark += 1
            val rows = freshRows(1 + rng.nextInt(2), cols)
            val r = store.appendExactlyOnce(df(rows, cols), "prop",
              batchId = batchMark, statsCol = Some("k"))
            assert(r.isDefined, s"fresh batch $batchMark refused at op $op")
            appended(r.get, rows, rowCount = false)
            took += "exactlyOnce"
          }
        case 1 => // ADD-COLUMN append: a brand-new column appears, INT half the time
          val c = s"x$nextCol"; nextCol += 1
          allCols = allCols :+ c
          if (rng.nextBoolean()) ints += c
          val cols = allCols.filterNot(dropped.contains)
          val rows = freshRows(1 + rng.nextInt(2), cols)
          appended(store.append(df(rows, cols)), rows, rowCount = true)
        case 2 => // DROP-COLUMN (keep at least one non-key column visible)
          val candidates = allCols.filterNot(dropped.contains)
          if (candidates.size > 1) {
            val c = candidates(rng.nextInt(candidates.size))
            schemaCommit(store.dropColumn(spark, c))
            took += "drop"
            dropped += c
            // re-adding the dropped name must be rejected loudly
            intercept[IllegalArgumentException] {
              store.append(df(freshRows(1, Seq(c)), Seq(c)))
            }
            nextKey -= 1 // the rejected row never landed; reuse its key
          }
        case 3 => // compact everything so far
          if (store.snapshots.size >= 2) {
            val id = store.compact(spark, upToInclusive = store.latest.get)
            val keys = snaps.values.flatMap(_.keys).toSet
            snaps.clear()
            snaps(id) = Snap(keys, None, data = true)
            watermark = id
            took += "compact"
          }
        case 6 => // RENAME-COLUMN: old rows must surface under the new name
          val candidates = allCols.filterNot(dropped.contains)
          if (candidates.nonEmpty) {
            val c = candidates(rng.nextInt(candidates.size))
            val c2 = s"r$nextCol"; nextCol += 1
            schemaCommit(store.renameColumn(spark, c, c2))
            took += "rename"
            renames :+= (c -> c2)
            allCols = allCols.map(x => if (x == c) c2 else x)
            if (ints(c)) ints = ints - c + c2
            model.foreach { case (k, m) =>
              if (m.contains(c)) model(k) = m - c + (c2 -> m(c))
            }
            // the retired source name must be rejected loudly
            intercept[IllegalArgumentException] {
              store.append(df(freshRows(1, Seq(c)), Seq(c)))
            }
            nextKey -= 1 // the rejected row never landed; reuse its key
          }
        case 7 => // WIDEN-COLUMN: a narrow column reads as BIGINT from now on
          val candidates = allCols.filter(c => ints(c) && !dropped(c))
          if (candidates.nonEmpty) {
            val c = candidates(rng.nextInt(candidates.size))
            schemaCommit(store.widenColumn(spark, c, "bigint"))
            took += "widen"
            widens :+= (c -> "bigint")
            ints -= c
          }
        case 4 => // upsert: update some existing keys + insert a new one
          val cols = allCols.filterNot(dropped.contains)
          val keys = model.keys.toVector
          val updKeys = rng.shuffle(keys).take(1 + rng.nextInt(2))
          val ins = freshRows(1, cols)
          val upd = updKeys.map(k => k -> cols.map(c => c -> (k * 7 + op)).toMap)
          val id = store.upsert(spark, df(upd ++ ins, cols), "k", statsCol = Some("k"))
          (upd ++ ins).foreach { case (k, m) => model(k) = m }
          val affected = snaps.filter { case (_, s) => s.data && s.keys.exists(updKeys.contains) }
          affected.keys.foreach(snaps.remove)
          snaps(id) = Snap(affected.values.flatMap(_.keys).toSet ++ updKeys ++ ins.map(_._1),
            None, data = true)
          watermark = id
          took += "upsert"
      }
      if (op % 5 == 0 || op == 24) {
        val tag = s"seed=$seed op=$op"
        check(store, model, dropped, allCols, ints, tag, rng)
        assert(store.droppedColumns() == dropped, s"[$tag] droppedColumns")
        assert(store.renamedColumns() == renames, s"[$tag] renamedColumns")
        assert(store.widenedColumns() == widens, s"[$tag] widenedColumns")
        assert(store.compactionWatermark == watermark, s"[$tag] compactionWatermark")
        assert(store.txnLastBatch("prop") == Some(batchMark).filter(_ > 0), s"[$tag] txnLastBatch")
        assert(store.snapshots == snaps.keys.toSeq, s"[$tag] snapshots")
        assert(store.dataSnapshots == snaps.collect { case (id, s) if s.data => id }.toSeq,
          s"[$tag] dataSnapshots")
        snaps.foreach { case (id, s) =>
          assert(store.rowCount(id) == s.rowCount, s"[$tag] rowCount($id)")
        }
      }
    }
    val kinds = Set("replay", "exactlyOnce", "drop", "compact", "rename", "widen", "upsert")
    assert(kinds.subsetOf(took), s"op kinds that never took effect: ${kinds -- took}")
  }

  test("manifest codec round-trips quotes, backslashes, control and supplementary characters") {
    val values = Seq("\"", "\\", "\n", "\u0000", "\uD83D\uDE00", "\\\"\\u0041\t\"\\", "", "a:b;c,d>e")
    val fields = values.zipWithIndex.map { case (v, i) => s"k$i$v" -> v }.toMap
    val text = SnapshotStore.encodeManifest(fields)
    assert(SnapshotStore.decodeManifest(text) == fields)
    assert(!text.exists(_ < ' '), "a control character was written raw")
    // the text is plain JSON, not a private dialect
    val viaJackson = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(text, classOf[java.util.Map[String, String]])
    assert(viaJackson.asScala.toMap == fields)

    // through a commit: a caller value holding every such character is
    // written and parsed back on every later listing
    val store = new SnapshotStore(Files.createTempDirectory("graft-codec").toString)
    val id = store.append(df1(Seq(1L, 2L)), Map("table" -> values.mkString))
    assert(store.rowCount(id).contains(2L))
    assert(store.snapshots == Seq(id))
  }

  private def df1(keys: Seq[Long]) =
    writeDf(keys.map(k => k -> Map("v" -> k)), Seq("v"), Set.empty)

  test("append rejects manifest keys the store writes itself, naming the key, before staging") {
    val store = new SnapshotStore(Files.createTempDirectory("graft-reserved").toString)
    val first = store.append(df1(Seq(1L)), statsCol = Some("k"))
    for (key <- Seq("data", "schema", "snapshot_id", "row_count", "replaces", "schema_only",
      "drop_cols", "rename_cols", "widen_cols", "stats_col", "stats_min", "stats_max",
      "file_stats", "file_stats_overflow", "txn_app")) {
      val e = intercept[IllegalArgumentException](
        store.append(df1(Seq(2L)), Map("table" -> "t", key -> "1")))
      assert(e.getMessage.contains(key), e.getMessage)
    }
    // nothing committed, nothing staged, nothing retired or hidden
    assert(store.snapshots == Seq(first) && store.dataSnapshots == Seq(first))
    assert(Files.list(Paths.get(store.root, "data")).count() == 1L)
    assert(store.txnLastBatch("app").isEmpty)
    // caller keys the store does not own still land
    val id = store.append(df1(Seq(2L)), Map("table" -> "segments", "segments_snapshot" -> "1"))
    assert(store.readRange(spark, 0L, id).count() == 2L)
  }

  test("a manifest that names no data dir fails loudly, naming its id") {
    val store = new SnapshotStore(Files.createTempDirectory("graft-nodata").toString)
    store.append(df1(Seq(1L)))
    Files.write(Paths.get(store.root, "_manifests", "2.json"),
      SnapshotStore.encodeManifest(Map("snapshot_id" -> "2")).getBytes(StandardCharsets.UTF_8))
    val e = intercept[IllegalStateException](store.dataLocation(2L))
    assert(e.getMessage.contains("manifest 2"), e.getMessage)
    intercept[IllegalStateException](store.readRange(spark, 0L, 2L))
  }

  test("a data manifest that records no schema fails loudly, naming its id") {
    val store = new SnapshotStore(Files.createTempDirectory("graft-noschema").toString)
    store.append(df1(Seq(1L)))
    // a manifest naming real data but no schema: reads must not infer one
    val data = store.dataLocation(1L).getFileName.toString
    Files.write(Paths.get(store.root, "_manifests", "2.json"), SnapshotStore.encodeManifest(
      Map("snapshot_id" -> "2", "data" -> data)).getBytes(StandardCharsets.UTF_8))
    for (read <- Seq(() => store.readRange(spark, 0L, 2L), () => store.read(spark, 2L),
      () => store.readRangePruned(spark, 0L, 2L, "k", 0L, 9L))) {
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("manifest 2") && e.getMessage.contains("schema"), e.getMessage)
    }
  }

  /** The (name, type, nullability) set of `df`'s columns. */
  private def fields(df: DataFrame): Set[(String, DataType, Boolean)] =
    df.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSet

  /** `df`'s rows as a multiset, columns taken in `cols` order. */
  private def rows(df: DataFrame, cols: Seq[String]): Map[Row, Int] =
    df.select(cols.map(col): _*).collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }

  test("reads are planned from the manifests: no Spark job, and Spark's inference agrees") {
    import spark.implicits._
    val store = new SnapshotStore(Files.createTempDirectory("graft-planned").toString)
    def seg(cid: String, doc: Long) =
      ConvSegment(cid, doc, 1, 2, s"f$doc", "t", doc * 10, 2, 2, "s", s"x$doc")
    // segments (a Spark write, with stats) and lineage (a driver write), as
    // the submitted job commits them
    val s1 = store.append(Seq(seg("a", 1L), seg("b", 2L), seg("c", 3L)).toDF().repartition(2),
      Map("table" -> "segments"), statsCol = Some("DocReceivedId"))
    store.append(Seq(PartitionLineage("segment", 0, s1, 3L, 3L, 0L)).toDF(), Map("table" -> "lineage"))
    // an added INT column, then a drop and a rename, then a post-rename append
    val s3 = store.append(Seq(seg("d", 4L), seg("e", 5L)).toDF().withColumn("score", lit(7)),
      statsCol = Some("DocReceivedId"))
    store.dropColumn(spark, "SessionId")
    store.renameColumn(spark, "FileNumber", "file_no")
    val s6 = store.append(Seq(seg("f", 6L)).toDF().drop("SessionId")
      .withColumnRenamed("FileNumber", "file_no").withColumn("score", lit(8)))

    // the oracle: Spark's own footer inference over the same files, with
    // the recorded evolution applied by hand
    def inferred(paths: Seq[String]) = spark.read.option("mergeSchema", "true").parquet(paths: _*)
    def dirs(ids: Long*) = ids.map(store.dataLocation(_).toString)
    def evolve(df: DataFrame, widened: Boolean): DataFrame = {
      val renamed =
        if (!df.columns.contains("file_no")) df.withColumnRenamed("FileNumber", "file_no")
        else if (!df.columns.contains("FileNumber")) df
        else df.withColumn("file_no", coalesce(col("file_no"), col("FileNumber"))).drop("FileNumber")
      val dropped = renamed.drop("SessionId")
      if (widened) dropped.withColumn("score", col("score").cast("bigint")) else dropped
    }
    def same(tag: String, got: => DataFrame, want: DataFrame): Unit = {
      val (df, jobs) = jobsOf(got)
      assert(jobs.isEmpty, s"[$tag] building the read started jobs with stage counts $jobs")
      assert(fields(df) == fields(want), s"[$tag] ${df.schema} vs ${want.schema}")
      assert(rows(df, want.columns.toSeq) == rows(want, want.columns.toSeq), s"[$tag] rows differ")
    }
    def pruned(from: Long, to: Long, lo: Long, hi: Long): Seq[String] = {
      val (kept, _) = store.pruneSnapshots(from, to, "DocReceivedId", lo, hi)
      store.dataSnapshots.filter(kept.contains).flatMap(id =>
        store.pruneFiles(id, "DocReceivedId", lo, hi).fold(dirs(id))(_._1))
    }

    same("read below the drop", store.read(spark, s1), inferred(dirs(s1)))
    same("read of the added column", store.read(spark, s3), inferred(dirs(s3)))
    same("read after the rename", store.read(spark, s6), evolve(inferred(dirs(s6)), widened = false))
    val all = store.dataSnapshots
    same("readRange", store.readRange(spark, 0L, s6), evolve(inferred(dirs(all: _*)), widened = false))
    same("readRange from a checkpoint", store.readRange(spark, s1, s6),
      evolve(inferred(dirs(all.filter(_ > s1): _*)), widened = false))
    same("readRangePruned", store.readRangePruned(spark, 0L, s6, "DocReceivedId", 2L, 4L),
      evolve(inferred(pruned(0L, s6, 2L, 4L)), widened = false).where("DocReceivedId BETWEEN 2 AND 4"))

    // a widen, then a wide append: each snapshot is read under its own
    // schema and the eras union, as per-snapshot inference would
    store.widenColumn(spark, "score", "bigint")
    val s8 = store.append(Seq(seg("g", 7L)).toDF().drop("SessionId")
      .withColumnRenamed("FileNumber", "file_no").withColumn("score", lit(3000000000L)))
    def unioned(paths: Seq[String]) =
      paths.map(p => spark.read.parquet(p)).reduce(_.unionByName(_, allowMissingColumns = true))
    val widened = store.dataSnapshots
    assert(widened.last == s8)
    same("readRange after the widen", store.readRange(spark, 0L, s8),
      evolve(unioned(dirs(widened: _*)), widened = true))
    same("readRangePruned after the widen", store.readRangePruned(spark, 0L, s8, "DocReceivedId", 1L, 9L),
      evolve(unioned(pruned(0L, s8, 1L, 9L)), widened = true).where("DocReceivedId BETWEEN 1 AND 9"))
    same("read of the wide append", store.read(spark, s8), evolve(inferred(dirs(s8)), widened = true))
  }
}
