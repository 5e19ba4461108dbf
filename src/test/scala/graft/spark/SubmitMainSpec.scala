package graft.spark

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SubmitMain
import graft.io.SnapshotStore
import graft.gen.SyntheticTranscripts
import graft.pipeline.Pipeline
import graft.core.extract.Extractor
import graft.core.seg.Demarcator

/** The spark-submit entry: synthetic corpus in, two committed snapshots
  * out (segments + lineage), counts matching the sequential oracle. */
class SubmitMainSpec extends AnyFunSuite with SparkFixture {

  test("SubmitMain commits segment and lineage snapshots matching the oracle") {
    spark // force fixture session so getOrCreate() inside main reuses it
    val out = Files.createTempDirectory("graft-submit").toString
    val (_, jobs) = jobsOf(SubmitMain.main(Array("--synthetic-convs", "12", "--out", out)))
    // the segments write: AQE submits the map stage of each conv_id
    // shuffle, turns and rules, as a job of its own, then the result job.
    // No job loads rules before it, and the lineage rows sit on the
    // driver and are committed without a fourth job.
    assert(jobs.size == 3, s"jobs by stage count: $jobs")

    val store = new SnapshotStore(out)
    assert(store.snapshots == Seq(1L, 2L))
    val segs = store.read(spark, 1L)
    val lineage = store.read(spark, 2L)

    val wantSegs = (0L until 12L).map { ci =>
      val turns = SyntheticTranscripts.turnsFor(42L, ci)
      val pages = turns.sortBy(_.turn_idx).map(t => Extractor.safeExtract(t.tool, t.text)._1.text)
      Demarcator.demarcate(pages.toVector,
        SyntheticTranscripts.rulesFor(42L, ci).map(Pipeline.toCoreRule)).size
    }.sum
    assert(segs.count() == wantSegs.toLong)

    // lineage derives from the SINGLE fused pass (stage "segment"):
    // rows_in = turns consumed, rows_out = segments emitted. The old
    // two-pass shape (a second salted extraction just for lineage) could
    // only ever report rows_out == rows_in == turns, so rows_out == the
    // segment count is the proof extraction ran once.
    val totalTurns = (0L until 12L).map(ci => SyntheticTranscripts.turnsFor(42L, ci).size).sum
    assert(lineage.select("stage").distinct().collect().map(_.getString(0)).toSeq == Seq("segment"))
    assert(lineage.selectExpr("sum(rows_in)").collect()(0).getLong(0) == totalTurns.toLong)
    assert(lineage.selectExpr("sum(rows_out)").collect()(0).getLong(0) == wantSegs.toLong)
    val wantErrs = (0L until 12L).map(ci => SyntheticTranscripts.turnsFor(42L, ci)
      .count(_.text.indexOf(Extractor.CorruptMarker) >= 0)).sum
    assert(wantErrs > 0, "fixture must exercise the quarantine branch")
    assert(lineage.selectExpr("sum(errors)").collect()(0).getLong(0) == wantErrs.toLong)
  }

  test("AQE on or off: identical segment rows and lineage sums") {
    spark
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    def run(aqe: Boolean) = {
      spark.conf.set(key, aqe.toString)
      val out = Files.createTempDirectory(s"graft-submit-aqe-$aqe").toString
      SubmitMain.main(Array("--synthetic-convs", "12", "--out", out))
      val store = new SnapshotStore(out)
      val segs = store.read(spark, 1L).orderBy("conv_id", "Sequence").collect().toSeq
      val sums = store.read(spark, 2L)
        .selectExpr("sum(rows_in)", "sum(rows_out)", "sum(errors)").collect()(0)
      (segs, (sums.getLong(0), sums.getLong(1), sums.getLong(2)), store.rowCount(1L))
    }
    try {
      val on = run(aqe = true)
      val off = run(aqe = false)
      assert(on._1.nonEmpty)
      assert(on == off)
      assert(on._3 == Some(on._1.length.toLong))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("json and csv format turns+rules input produce identical segments to synthetic") {
    spark
    val out1 = Files.createTempDirectory("graft-submit-syn").toString
    SubmitMain.main(Array("--synthetic-convs", "8", "--out", out1))
    val a = new SnapshotStore(out1).read(spark, 1L).orderBy("conv_id", "Sequence").collect()
    for (fmt <- Seq("json", "csv")) {
      val dataRoot = Files.createTempDirectory(s"graft-submit-$fmt-in").toString
      // pdf/html payloads carry embedded newlines and quotes — exactly what
      // the csv multiLine/escape options exist for
      val tw = SyntheticTranscripts.turns(spark, 8).toDF().write
      val rw = SyntheticTranscripts.rules(spark, 8).toDF().write
      if (fmt == "csv") {
        tw.option("header", "true").option("escape", "\"").csv(s"$dataRoot/turns")
        rw.option("header", "true").option("escape", "\"").csv(s"$dataRoot/rules")
      } else {
        tw.json(s"$dataRoot/turns")
        rw.json(s"$dataRoot/rules")
      }
      val out2 = Files.createTempDirectory(s"graft-submit-$fmt").toString
      SubmitMain.main(Array("--turns", s"$dataRoot/turns", "--rules", s"$dataRoot/rules",
        "--format", fmt, "--out", out2))
      val b = new SnapshotStore(out2).read(spark, 1L).orderBy("conv_id", "Sequence").collect()
      assert(a.toSeq == b.toSeq, s"format $fmt diverged")
    }
  }

  test("unknown flags fail before any work, naming the known ones") {
    // a typo must not silently run the default route; --catalyst,
    // --two-stage and the two broadcast limits are gone
    for (bad <- Seq(Array("--bucket", "8"), Array("--catalyst"), Array("--two-stage"),
                    Array("--broadcast-rule-limit", "5"), Array("--broadcast-byte-limit", "5"))) {
      val out = Files.createTempDirectory("graft-submit-badflag").toString
      val e = intercept[IllegalArgumentException](
        SubmitMain.main(Array("--synthetic-convs", "8", "--out", out) ++ bad))
      assert(e.getMessage.contains(s"unknown flag ${bad.head}"), e.getMessage)
      assert(e.getMessage.contains("--buckets"), e.getMessage)
      assert(new SnapshotStore(out).snapshots.isEmpty)
    }
    // every flag takes a value: a trailing --out must not write to ./true
    val out = Files.createTempDirectory("graft-submit-novalue").toString
    val cwd = new java.io.File("true")
    val existed = cwd.exists()
    for (args <- Seq(Array("--out", out, "--synthetic-convs", "8", "--seed"),
                     Array("--synthetic-convs", "8", "--seed", "--out", out))) {
      val e = intercept[IllegalArgumentException](SubmitMain.main(args))
      assert(e.getMessage.contains("flag --seed needs a value"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](
      SubmitMain.main(Array("--synthetic-convs", "8", "--out")))
    assert(e.getMessage.contains("flag --out needs a value"), e.getMessage)
    assert(new SnapshotStore(out).snapshots.isEmpty)
    assert(cwd.exists() == existed, "a valueless --out must not create ./true")
  }

  test("flag values are validated before any work, naming the flag") {
    val input = Array("--turns", "/nonexistent/turns", "--rules", "/nonexistent/rules")
    val synthetic = Array("--synthetic-convs", "8")
    for ((args, flag) <- Seq(
           (synthetic ++ Array("--buckets", "-1"), "--buckets"),
           (synthetic ++ Array("--buckets", "0"), "--buckets"),
           (synthetic ++ Array("--buckets", "x"), "--buckets"),
           (Array("--synthetic-convs", "0"), "--synthetic-convs"),
           (Array("--synthetic-convs", "x"), "--synthetic-convs"),
           (synthetic ++ Array("--seed", "x"), "--seed"),
           (input ++ Array("--format", "xml"), "--format"),
           (synthetic ++ Array("--format", "xml"), "--format"),
           (synthetic ++ Array("--format", "json"), "--format"),
           (synthetic ++ Array("--rules", "/nonexistent/rules"), "--rules"),
           (synthetic ++ input, "--turns"))) {
      val out = Files.createTempDirectory("graft-submit-badvalue").toString
      val e = intercept[IllegalArgumentException](SubmitMain.main(args ++ Array("--out", out)))
      assert(e.getMessage.contains(s"flag $flag "), s"${args.mkString(" ")}: ${e.getMessage}")
      assert(new SnapshotStore(out).snapshots.isEmpty, args.mkString(" "))
    }
  }
}
