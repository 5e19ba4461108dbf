package graft

import org.apache.spark.sql.SparkSession

import graft.gen.SyntheticTranscripts
import graft.io.SnapshotStore
import graft.pipeline.{PartitionStatsAcc, Pipeline}
import graft.schema.{ConvRule, Turn}

/** spark-submit entry point — the production shape of the north rule:
  *
  * {{{
  * spark-submit --class graft.SubmitMain \
  *   --conf spark.sql.extensions=graft.functions.GraftExtensions \
  *   ocrspark.jar \
  *   --turns /data/transcripts.parquet --rules /data/rules.parquet \
  *   --out /data/segments_store [--buckets 4096] [--format parquet|json|csv]
  * }}}
  *
  * Or with the deterministic synthetic corpus (no external data):
  * `--synthetic-convs 100000 [--seed 42]`.
  *
  * Reads the turns table, segments per conversation, and commits TWO
  * snapshots to the output [[SnapshotStore]]: the segment rows and the
  * per-partition lineage/metrics rows. One route, `Pipeline.segmentAuto`:
  * raw turns and the rules table shuffle by `conv_id` into the join node,
  * which attaches each conversation's rules and extracts and segments in
  * one pass. No rule row reaches the driver. The node declares
  * `ClusteredDistribution(conv_id)` on both sides, so a table bucketed by
  * `conv_id` is not shuffled at all. A hot conversation is extracted and
  * folded in one task, buffered under
  * `Pipeline.DefaultMaxConvPages`/`DefaultMaxConvChars`; that beat a salted
  * extraction stage ahead of the fold on hot-conversation input (see
  * [[Pipeline]]).
  *
  * `--buckets N` pins the conv_id shuffle of both the turns and the rules
  * at N partitions. Without it the shuffle starts from
  * `spark.sql.shuffle.partitions` and AQE (on by default) coalesces small
  * partitions, so a small delta is not written as hundreds of tiny files.
  * Every flag takes a value; any other `--name`, a flag without a value,
  * a value of the wrong form (`--buckets` and `--synthetic-convs` take
  * positive integers, `--seed` an integer, `--format` parquet|json|csv),
  * or an input flag next to `--synthetic-convs` is rejected before any
  * work.
  *
  * Lineage derives from a [[PartitionStatsAcc]] filled INSIDE the single
  * pass that materializes the segments — extraction never runs twice.
  * The segments append's `row_count` is observed inside its write job, so
  * the job never re-reads what it wrote. The lineage rows are the
  * accumulator's value, already on the driver, so the driver writes the
  * lineage snapshot itself, as one parquet file with no Spark job, and
  * its `row_count` is the number of those rows (see
  * [[SnapshotStore.append]]). Master/executors come from spark-submit;
  * nothing here assumes local mode.
  */
object SubmitMain {

  /** Every flag [[main]] reads; a typo must fail, not run the default. */
  private val KnownFlags = Seq("turns", "rules", "synthetic-convs", "seed", "out",
    "format", "master", "buckets")

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i)
      require(k.startsWith("--"), s"unexpected argument $k")
      require(KnownFlags.contains(k.drop(2)),
        s"unknown flag $k (known: ${KnownFlags.map("--" + _).mkString(" ")})")
      require(i + 1 < args.length && !args(i + 1).startsWith("--"), s"flag $k needs a value")
      m(k.drop(2)) = args(i + 1); i += 2
    }
    def check(flag: String, ok: String => Boolean, want: String): Unit =
      m.get(flag).foreach(v => require(ok(v), s"flag --$flag must be $want, got '$v'"))
    check("buckets", _.toIntOption.exists(_ > 0), "a positive integer")
    check("synthetic-convs", _.toLongOption.exists(_ > 0), "a positive integer")
    check("seed", _.toLongOption.isDefined, "an integer")
    check("format", Set("parquet", "json", "csv"), "one of parquet|json|csv")
    // the synthetic corpus reads no input, so an input flag next to it
    // would be silently ignored
    for (f <- Seq("turns", "rules", "format") if m.contains("synthetic-convs"))
      require(!m.contains(f), s"flag --$f cannot be combined with --synthetic-convs")
    m.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val out = opts.getOrElse("out",
      sys.error("--out <snapshot store dir> is required"))
    val seed = opts.getOrElse("seed", "42").toLong
    // master normally comes from spark-submit; --master is the sandbox path
    val builder = SparkSession.builder()
    opts.get("master").foreach(builder.master)
    val spark = builder.getOrCreate()
    import spark.implicits._

    // --format parquet|json|csv (default parquet). Schemas are DECLARED
    // from the case-class encoders, never inferred — schema inference is a
    // full extra read of the input, unaffordable at 10^12 rows.
    val fmt = opts.getOrElse("format", "parquet")
    // FAILFAST: a malformed record must abort the job, not silently become
    // a null/shifted row that corrupts the committed segments downstream.
    // csv needs multiLine + escape because transcript text payloads
    // routinely contain embedded newlines and quotes.
    def readAs[T: org.apache.spark.sql.Encoder](path: String): org.apache.spark.sql.Dataset[T] = {
      val schema = implicitly[org.apache.spark.sql.Encoder[T]].schema
      (fmt match {
        case "parquet" => spark.read.schema(schema).parquet(path)
        case "json" => spark.read.schema(schema).option("mode", "FAILFAST").json(path)
        case "csv" => spark.read.schema(schema)
          .option("header", "true").option("mode", "FAILFAST")
          // enforceSchema=false VALIDATES the header against the declared
          // schema; the default ignores the header and binds columns by
          // position, so a column-order mismatch between writer and schema
          // would silently scramble string fields (identifier classes swap
          // type-check under FAILFAST)
          .option("enforceSchema", "false")
          .option("multiLine", "true").option("escape", "\"")
          // default nullValue is the empty string — that would silently
          // turn every empty tool/identifier column into null (and " " is
          // a MEANINGFUL rule value, so a NUL sentinel marks true nulls)
          .option("nullValue", "\u0000")
          .csv(path)
      }).as[T]
    }
    val (turns, rules): (org.apache.spark.sql.Dataset[Turn], org.apache.spark.sql.Dataset[ConvRule]) =
      (opts.get("turns"), opts.get("synthetic-convs")) match {
        case (Some(path), _) =>
          val r = opts.getOrElse("rules", sys.error("--rules required with --turns"))
          (readAs[Turn](path), readAs[ConvRule](r))
        case (None, Some(n)) =>
          (SyntheticTranscripts.turns(spark, n.toLong, seed),
            SyntheticTranscripts.rules(spark, n.toLong, seed))
        case _ => sys.error("need --turns+--rules or --synthetic-convs")
      }

    val buckets = opts.get("buckets").map(_.toInt).getOrElse(0)
    val stats = new PartitionStatsAcc
    spark.sparkContext.register(stats, "graft.partition_lineage")
    val segments = Pipeline.segmentAuto(turns, rules, buckets, Some(stats)).toDF()

    val store = new SnapshotStore(out)
    // the ONE pass over the turns: fills `stats` while writing segments
    val segSnap = store.append(segments, Map("table" -> "segments"))
    val linSnap = store.append(
      Pipeline.lineageFromStats(spark, "segment", stats.value, snapshotId = segSnap).toDF(),
      Map("table" -> "lineage", "segments_snapshot" -> segSnap.toString))
    // committed row count comes from the append manifest (exact: observed
    // in the write's result stage, once per committed partition — see
    // SnapshotStore.append) — not a full readback scan of the
    // just-committed table (an extra read pass at 10^12 turns)
    val nSegs = store.rowCount(segSnap).get
    println(s"""{"segments_snapshot":$segSnap,"lineage_snapshot":$linSnap,"segments":$nSegs}""")
  }
}
