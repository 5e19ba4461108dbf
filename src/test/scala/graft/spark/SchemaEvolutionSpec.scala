package graft.spark

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

import graft.io.SnapshotStore

/** ADD-COLUMN schema evolution across snapshots: rows written before a
  * column existed surface it as NULL on read, and the evolved schema
  * survives compaction and upsert — the Iceberg evolution contract.
  *
  * Also the two write paths of [[SnapshotStore.append]]: a `LocalRelation`
  * is written by the driver without a Spark job, and its file must be
  * indistinguishable from a Spark-written one to every reader. */
class SchemaEvolutionSpec extends AnyFunSuite with SparkFixture {

  private def freshStore(tag: String): SnapshotStore =
    new SnapshotStore(Files.createTempDirectory(s"graft-evolve-$tag").toString)

  test("readRange merges evolved schemas; old rows carry NULL for new columns") {
    import spark.implicits._
    val store = freshStore("read")
    // the old era is written by Spark (repartition), the new one by the driver
    store.append(Seq((1L, "x")).toDF("k", "v").repartition(1))
    store.append(Seq((2L, "y", "extra2")).toDF("k", "v", "w"))
    val got = store.readRange(spark, 0L, 2L)
    // snapshots fold in id order: a later era's new column comes last
    assert(got.columns.toSeq === Seq("k", "v", "w"))
    val byK = got.collect().map(r => r.getLong(0) -> Option(r.getAs[String]("w"))).toMap
    assert(byK === Map(1L -> None, 2L -> Some("extra2")))
  }

  test("compaction and upsert preserve the evolved superset schema") {
    import spark.implicits._
    val store = freshStore("compact")
    store.append(Seq((1L, "x")).toDF("k", "v"))
    store.append(Seq((2L, "y", "w2")).toDF("k", "v", "w"))
    val cid = store.compact(spark, upToInclusive = 2L)
    val afterCompact = store.read(spark, cid)
    assert(afterCompact.columns.sorted.toSeq === Seq("k", "v", "w"))

    val uid = store.upsert(spark,
      Seq((1L, "X", "w1"), (3L, "z", "w3")).toDF("k", "v", "w"), "k")
    val all = store.readRange(spark, 0L, uid).collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.getAs[String]("w")))).toMap
    assert(all === Map(
      1L -> ("X", Some("w1")), 2L -> ("y", Some("w2")), 3L -> ("z", Some("w3"))))
  }

  test("dropColumn: manifest-only, projected on read, time travel intact") {
    import spark.implicits._
    val store = freshStore("drop")
    val s1 = store.append(Seq((1L, "x", 10L)).toDF("k", "v", "legacy"))
    val s2 = store.append(Seq((2L, "y", 20L)).toDF("k", "v", "legacy"))
    val dropId = store.dropColumn(spark, "legacy")
    assert(store.isSchemaOnly(dropId))
    // data files untouched (manifest-only op): the physical dir still has
    // the column; reads project it away
    assert(spark.read.parquet(store.dataLocation(s1).toString)
      .columns.contains("legacy"))
    assert(store.readRange(spark, 0L, dropId).columns.sorted.toSeq === Seq("k", "v"))
    // time travel below the drop still sees the column
    assert(store.read(spark, s2).columns.sorted.toSeq === Seq("k", "legacy", "v"))
    // dropped name cannot be re-added
    val e = intercept[IllegalArgumentException](
      store.append(Seq((3L, "z", 30L)).toDF("k", "v", "legacy")))
    assert(e.getMessage.contains("legacy"))
    // dropping a column that is not in the schema fails loudly
    intercept[IllegalArgumentException](store.dropColumn(spark, "nope"))
  }

  test("drop survives compaction and upsert; compaction removes it physically") {
    import spark.implicits._
    val store = freshStore("dropcompact")
    store.append(Seq((1L, "x", 10L)).toDF("k", "v", "legacy"))
    store.append(Seq((2L, "y", 20L)).toDF("k", "v", "legacy"))
    val dropId = store.dropColumn(spark, "legacy")
    val cid = store.compact(spark, upToInclusive = dropId)
    // physically gone from the compacted files AND still projected
    assert(spark.read.parquet(store.dataLocation(cid).toString)
      .columns.sorted.toSeq === Seq("k", "v"))
    // the drop set is carried by the replacement manifest (the drop
    // manifest itself was retired + expired by the compaction cleanup)
    assert(store.droppedColumns() === Set("legacy"))
    intercept[IllegalArgumentException](
      store.append(Seq((3L, "z", 30L)).toDF("k", "v", "legacy")))
    // upsert over the evolved store keeps the contract
    val uid = store.upsert(spark, Seq((2L, "Y"), (4L, "w")).toDF("k", "v"), "k")
    assert(store.droppedColumns() === Set("legacy"))
    val all = store.readRange(spark, 0L, uid).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(all === Map(1L -> "x", 2L -> "Y", 4L -> "w"))
    intercept[IllegalArgumentException](
      store.upsert(spark, Seq((5L, "q", 50L)).toDF("k", "v", "legacy"), "k"))
  }

  test("renameColumn: manifest-only, old files surface the new name, time travel intact") {
    import spark.implicits._
    val store = freshStore("rename")
    val s1 = store.append(Seq((1L, "x")).toDF("k", "v"))
    val rid = store.renameColumn(spark, "v", "val")
    assert(store.isSchemaOnly(rid))
    // data files untouched: the physical dir still has the OLD name
    assert(spark.read.parquet(store.dataLocation(s1).toString).columns.contains("v"))
    // reads surface the new name, with pre-rename values under it
    val got = store.readRange(spark, 0L, rid)
    assert(got.columns.sorted.toSeq === Seq("k", "val"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "x")))
    // time travel below the rename still sees the old name
    assert(store.read(spark, s1).columns.sorted.toSeq === Seq("k", "v"))
    // post-rename appends write the new name; the retired name is rejected
    val s3 = store.append(Seq((2L, "y")).toDF("k", "val"))
    val e = intercept[IllegalArgumentException](
      store.append(Seq((3L, "z")).toDF("k", "v")))
    assert(e.getMessage.contains("RENAMED"))
    // mixed eras merge: old files' values fold into the renamed column
    val all = store.readRange(spark, 0L, s3).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("val")).toMap
    assert(all === Map(1L -> "x", 2L -> "y"))
    // guards: unknown source, existing/retired target
    intercept[IllegalArgumentException](store.renameColumn(spark, "nope", "q"))
    intercept[IllegalArgumentException](store.renameColumn(spark, "val", "k"))
    intercept[IllegalArgumentException](store.renameColumn(spark, "k", "v"))
  }

  test("rename chains compose; compaction materializes and carries the chain") {
    import spark.implicits._
    val store = freshStore("renamechain")
    store.append(Seq((1L, 10L)).toDF("k", "a"))
    store.renameColumn(spark, "a", "b")
    store.append(Seq((2L, 20L)).toDF("k", "b"))
    val r2 = store.renameColumn(spark, "b", "c")
    // a -> b -> c composes in commit order across mixed-era files
    val got = store.readRange(spark, 0L, r2).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("c")).toMap
    assert(got === Map(1L -> 10L, 2L -> 20L))
    val cid = store.compact(spark, upToInclusive = r2)
    // physically materialized under the final name
    assert(spark.read.parquet(store.dataLocation(cid).toString)
      .columns.sorted.toSeq === Seq("c", "k"))
    // the chain is carried: both retired names stay rejected after cleanup
    assert(store.renamedColumns() === Seq("a" -> "b", "b" -> "c"))
    intercept[IllegalArgumentException](store.append(Seq((3L, 30L)).toDF("k", "a")))
    intercept[IllegalArgumentException](store.append(Seq((3L, 30L)).toDF("k", "b")))
    // and post-compaction reads/appends under the final name work
    val s4 = store.append(Seq((3L, 30L)).toDF("k", "c"))
    assert(store.readRange(spark, 0L, s4).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("c")).toMap ===
      Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
  }

  test("rename interacts with drop and upsert; stats keep pruning across the rename") {
    import spark.implicits._
    val store = freshStore("renamemix")
    store.append(Seq((1L, "x", 10L)).toDF("k", "v", "aux"), statsCol = Some("k"))
    store.append(Seq((2L, "y", 20L)).toDF("k", "v", "aux"), statsCol = Some("k"))
    store.renameColumn(spark, "k", "id")
    // upsert keyed by the NEW name over pre-rename snapshots
    val uid = store.upsert(spark,
      Seq((2L, "Y", 21L), (3L, "z", 30L)).toDF("id", "v", "aux"), "id")
    // columns fold in snapshot-id order (the pre-rename snapshot's k, v,
    // aux, then the upsert's new id); folding k into id keeps id's slot
    val merged = store.readRange(spark, 0L, uid)
    assert(merged.columns.toSeq === Seq("v", "aux", "id"))
    val rows = merged.collect().map(r => r.getLong(2) -> r.getString(0)).toMap
    assert(rows === Map(1L -> "x", 2L -> "Y", 3L -> "z"))
    // dropping by the CURRENT name removes pre-rename data too
    store.renameColumn(spark, "aux", "aux2")
    val did = store.dropColumn(spark, "aux2")
    assert(store.readRange(spark, 0L, did).columns.sorted.toSeq === Seq("id", "v"))
    // the retired old name cannot return even after its target was dropped
    intercept[IllegalArgumentException](store.append(Seq((4L, "w", 1L)).toDF("id", "v", "aux")))
    // a rename target may not reuse a dropped or retired name
    intercept[IllegalArgumentException](store.renameColumn(spark, "v", "aux2"))
    intercept[IllegalArgumentException](store.renameColumn(spark, "v", "aux"))
    // snapshot stats recorded under the OLD name still prune under the new:
    // rows with id in [5,6] live only in the last append below
    val s5 = store.append(Seq((5L, "p")).toDF("id", "v"), statsCol = Some("id"))
    val (kept, skipped) = store.pruneSnapshots(0L, s5, "id", 5L, 6L)
    assert(kept.contains(s5))
    assert(skipped.nonEmpty, "pre-rename stats under 'k' must still prune id-range reads")
  }

  test("compaction keeps stats when inputs mix pre- and post-rename stat names") {
    import spark.implicits._
    val store = freshStore("renamestats")
    store.append(Seq((1L, "x")).toDF("k", "v"), statsCol = Some("k"))
    store.renameColumn(spark, "k", "id")
    store.append(Seq((9L, "y")).toDF("id", "v"), statsCol = Some("id"))
    // inputs record stats under 'k' AND 'id' — the same logical column
    // through the chain; the compacted manifest must keep them (under the
    // current name) or every pruned read opens the bulk snapshot forever
    val cid = store.compact(spark, upToInclusive = store.latest.get)
    assert(store.snapshotStats(cid) === Some(("id", 1L, 9L)))
    val (kept, skipped) = store.pruneSnapshots(0L, cid, "id", 100L, 200L)
    assert(kept.isEmpty && skipped.contains(cid))
  }

  test("evolution guards are resolver-aware and reject manifest metacharacters") {
    import spark.implicits._
    val store = freshStore("guards")
    store.append(Seq((1L, "x", "w1")).toDF("k", "v", "w"))
    store.dropColumn(spark, "w")
    // default spark.sql.caseSensitive=false: the read path's drop resolves
    // case-insensitively, so a differently-cased re-add must be rejected
    // too (it would be silently dropped from every read)
    intercept[IllegalArgumentException](
      store.append(Seq((2L, "y", "W2")).toDF("k", "v", "W")))
    store.renameColumn(spark, "v", "val")
    intercept[IllegalArgumentException](
      store.append(Seq((3L, "z")).toDF("k", "V")))
    // a ',' in a dropped name would corrupt the comma-joined manifest set
    intercept[IllegalArgumentException](store.dropColumn(spark, "a,b"))
  }

  test("readRangePruned: an everything-pruned read keeps the FULL merged schema") {
    import spark.implicits._
    val store = freshStore("prunedschema")
    store.append(Seq((1L, "x")).toDF("k", "v"), statsCol = Some("k"))
    store.append(Seq((2L, "y", "w2")).toDF("k", "v", "w"), statsCol = Some("k"))
    val got = store.readRangePruned(spark, 0L, 2L, "k", 100L, 200L)
    assert(got.count() === 0L)
    // the later-era column must be selectable on the empty result, exactly
    // as it is on the unpruned path
    assert(got.select("w").columns.toSeq === Seq("w"))
    assert(got.columns.sorted.toSeq === Seq("k", "v", "w"))
  }

  test("upsert: new columns land as evolution; omitting a live column is rejected") {
    import spark.implicits._
    val store = freshStore("partial")
    store.append(Seq((1L, "x", "w1")).toDF("k", "v", "w"))
    store.append(Seq((2L, "y", "w2")).toDF("k", "v", "w"))
    // a partial update would silently NULL 'w' in the rewritten rows —
    // rejected loudly (CoW replaces whole rows, no partial updates)
    val e = intercept[IllegalArgumentException](
      store.upsert(spark, Seq((1L, "X")).toDF("k", "v"), "k"))
    assert(e.getMessage.contains("omit live column"))
    // the REVERSE direction is evolution: a brand-new update column lands,
    // survivors surface it as NULL
    val uid = store.upsert(spark,
      Seq((1L, "X", "w1b", 9L)).toDF("k", "v", "w", "z"), "k")
    val rows = store.readRange(spark, 0L, uid).collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.getAs[java.lang.Long]("z")))).toMap
    assert(rows === Map(1L -> ("X", Some(9L)), 2L -> ("y", None)))
  }

  test("a column whose type changes without a widen fails the read, naming it and both snapshots") {
    import spark.implicits._
    val store = freshStore("conflict")
    val s1 = store.append(Seq((1L, 10)).toDF("k", "n"))
    val s2 = store.append(Seq((2L, 20L)).toDF("k", "n"))
    for (read <- Seq(() => store.readRange(spark, 0L, s2), () => store.dropColumn(spark, "k"))) {
      val e = intercept[IllegalStateException](read())
      assert(Seq("'n'", "int", "bigint", s"snapshot $s1", s"snapshot $s2").forall(e.getMessage.contains),
        e.getMessage)
    }
    // each snapshot alone still reads under its own type
    assert(store.read(spark, s1).schema("n").dataType === org.apache.spark.sql.types.IntegerType)
  }

  test("widenColumn: manifest-only, mixed-era reads up-cast, time travel intact") {
    import spark.implicits._
    val store = freshStore("widen")
    val s1 = store.append(Seq((1L, 10, 1.5f)).toDF("k", "n", "x"))
    val wid = store.widenColumn(spark, "n", "long")
    assert(store.isSchemaOnly(wid))
    // appends after the widen may write the WIDE type; mixed-era read
    // up-casts the old files — the Iceberg int->long promotion
    val s3 = store.append(Seq((2L, 3000000000L, 2.5f)).toDF("k", "n", "x"))
    val got = store.readRange(spark, 0L, s3)
    assert(got.schema("n").dataType === org.apache.spark.sql.types.LongType)
    assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 10L, 2L -> 3000000000L))
    // time travel below the widen still surfaces the narrow type
    assert(store.read(spark, s1).schema("n").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // float -> double too, and the second widen composes with the first
    val wid2 = store.widenColumn(spark, "x", "double")
    val got2 = store.readRange(spark, 0L, wid2)
    assert(got2.schema("x").dataType === org.apache.spark.sql.types.DoubleType)
    assert(got2.schema("n").dataType === org.apache.spark.sql.types.LongType)
    // invalid widenings are rejected loudly: wrong source type, unknown
    // target, re-widening an already-wide column
    intercept[IllegalArgumentException](store.widenColumn(spark, "k", "double"))
    intercept[IllegalArgumentException](store.widenColumn(spark, "n", "string"))
    intercept[IllegalArgumentException](store.widenColumn(spark, "n", "long"))
    intercept[IllegalArgumentException](store.widenColumn(spark, "missing", "long"))
  }

  test("widen survives compaction (materialized), upsert, and a later rename") {
    import spark.implicits._
    val store = freshStore("widenlife")
    store.append(Seq((1L, 10)).toDF("k", "n"))
    store.append(Seq((2L, 20)).toDF("k", "n"))
    store.widenColumn(spark, "n", "long")
    // compaction materializes the wide type physically and carries the
    // record forward in its replacement manifest
    val cid = store.compact(spark, upToInclusive = 3L)
    assert(spark.read.parquet(store.dataLocation(cid).toString)
      .schema("n").dataType === org.apache.spark.sql.types.LongType)
    assert(store.read(spark, cid).schema("n").dataType ===
      org.apache.spark.sql.types.LongType)
    // upsert rewrites under the wide type; narrow-typed survivors up-cast
    val uid = store.upsert(spark, Seq((2L, 3000000000L), (3L, 30L)).toDF("k", "n"), "k")
    val rows = store.readRange(spark, 0L, uid).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(1L -> 10L, 2L -> 3000000000L, 3L -> 30L))
    // a LATER rename keeps the widen attached to the column
    val rid = store.renameColumn(spark, "n", "count")
    val after = store.readRange(spark, 0L, rid)
    assert(after.columns.sorted.toSeq === Seq("count", "k"))
    assert(after.schema("count").dataType === org.apache.spark.sql.types.LongType)
    assert(after.collect().map(r => r.getAs[Long]("count")).sorted.toSeq ===
      Seq(10L, 30L, 3000000000L))
  }

  private def parquetFiles(dir: Path): Seq[Path] = {
    val listing = Files.list(dir)
    try listing.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally listing.close()
  }

  /** The one parquet file of snapshot `id`: its footer's parquet schema, the
    * Spark row schema it records, and the codec of every column chunk. */
  private def footer(store: SnapshotStore, id: Long): (String, String, Set[String]) = {
    val Seq(file) = parquetFiles(store.dataLocation(id))
    val in = HadoopInputFile.fromPath(new HPath(file.toUri), spark.sessionState.newHadoopConf())
    val reader = ParquetFileReader.open(in)
    try {
      val meta = reader.getFooter
      (meta.getFileMetaData.getSchema.toString,
        meta.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"),
        meta.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet)
    } finally reader.close()
  }

  test("a driver-resident relation commits one parquet file without a Spark job") {
    import spark.implicits._
    val store = freshStore("driver")
    val df = Seq((1L, "a", 2.5), (2L, null, -1.0), (3L, "c", 0.0)).toDF("k", "v", "x")
    val (id, jobs) = jobsOf(store.append(df, Map("table" -> "t")))
    assert(jobs.isEmpty, s"driver append started jobs with stage counts $jobs")
    assert(parquetFiles(store.dataLocation(id)).size == 1)
    assert(store.rowCount(id) == Some(3L))
    assert(store.read(spark, id).orderBy("k").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 2.5), (2L, null, -1.0), (3L, "c", 0.0)))
  }

  test("driver-written and Spark-written files agree on footer schema, codec and rows") {
    import spark.implicits._
    val store = freshStore("footer")
    val df = Seq((1L, "a", Option(7)), (2L, "b", None), (3L, "\u03a3", Option(-1)))
      .toDF("k", "v", "n")
    val driver = store.append(df)
    val (viaSpark, jobs) = jobsOf(store.append(df.repartition(1)))
    assert(jobs.nonEmpty, "repartition(1) must take the Spark write")
    val (schemaD, rowMetaD, codecD) = footer(store, driver)
    assert((schemaD, rowMetaD, codecD) == footer(store, viaSpark))
    assert(codecD.nonEmpty)
    assert(store.read(spark, driver).schema == store.read(spark, viaSpark).schema)
    assert(store.read(spark, driver).collect().toSet == store.read(spark, viaSpark).collect().toSet)
    assert(store.rowCount(driver) == store.rowCount(viaSpark))
  }

  test("an empty local relation commits a readable schema-only file with row_count 0") {
    import spark.implicits._
    val store = freshStore("driverempty")
    val (id, jobs) = jobsOf(store.append(Seq.empty[(Long, String)].toDF("k", "v")))
    assert(jobs.isEmpty)
    assert(parquetFiles(store.dataLocation(id)).size == 1)
    assert(store.rowCount(id) == Some(0L))
    val back = store.read(spark, id)
    assert(back.columns.toSeq == Seq("k", "v"))
    assert(back.count() == 0L)
  }

  test("the driver path rejects what a Spark write rejects, committing nothing") {
    import spark.implicits._
    val store = freshStore("driverreject")
    val dup = Seq((1L, 2L)).toDF("k", "K")
    for (df <- Seq(dup, dup.repartition(1), spark.emptyDataFrame))
      intercept[org.apache.spark.sql.AnalysisException](store.append(df))
    assert(store.snapshots.isEmpty)
  }
}
