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
  *   --out /data/segments_store --buckets 4096 [--two-stage | --catalyst] \
  *   [--format parquet|json|csv]
  * }}}
  *
  * Or with the deterministic synthetic corpus (no external data):
  * `--synthetic-convs 100000 [--seed 42]`.
  *
  * Reads the turns table, segments per conversation, and commits TWO
  * snapshots to the output [[SnapshotStore]]: the segment rows and the
  * per-partition lineage/metrics rows. Routes:
  *
  *  - default: the fused single-shuffle path, rules broadcast at or below
  *    `--broadcast-rule-limit` rules (default 1e6) AND
  *    `--broadcast-byte-limit` estimated heap bytes (default 256 MiB —
  *    fat rule strings route to cogroup even at low counts), else
  *    shuffle-cogrouped (`Pipeline.segmentAuto`);
  *  - `--two-stage`: salted extraction + regroup for monster-conversation
  *    corpora (a single conversation big enough to straggle one fused
  *    task);
  *  - `--catalyst`: the whole-operator Catalyst route, two-child form
  *    ([[graft.plans.SegmentPlans.segmentJoin]]) — turns AND rules are
  *    children of one physical node that DECLARES
  *    `ClusteredDistribution(conv_id)` + `(conv_id, turn_idx)` ordering,
  *    so `EnsureRequirements` co-partitions the rule corpus with the turns
  *    (no driver collect, no broadcast — rules scale with the table), and
  *    on a turns table already bucketed+sorted by conv_id (the 10^12-turn
  *    Iceberg layout) elides that side's shuffle entirely, which the
  *    unconditional `repartition` of the fused path never can.
  *
  * `--buckets N` pins the conv_id shuffle of the default route at N
  * partitions. Without it the route starts from the session's
  * `spark.sql.shuffle.partitions` and, with AQE on (Spark's default), lets
  * AQE coalesce small partitions from the actual shuffle sizes, so a small
  * delta is not folded and written as hundreds of tiny tasks and files.
  *
  * Lineage derives from a [[PartitionStatsAcc]] filled INSIDE whichever
  * single pass materialized the segments — no route runs extraction twice.
  * Each append's `row_count` is observed inside its own write job, so the
  * job never re-reads what it wrote. Master/executors come from
  * spark-submit; nothing here assumes local mode.
  */
object SubmitMain {

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i)
      require(k.startsWith("--"), s"unexpected argument $k")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        m(k.drop(2)) = args(i + 1); i += 2
      } else { m(k.drop(2)) = "true"; i += 1 }
    }
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
        case other => sys.error(s"unknown --format $other (parquet|json|csv)")
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
    val ruleLimit = opts.get("broadcast-rule-limit").map(_.toLong).getOrElse(1000000L)
    val byteLimit = opts.get("broadcast-byte-limit").map(_.toLong).getOrElse(256L << 20)
    val stats = new PartitionStatsAcc
    spark.sparkContext.register(stats, "graft.partition_lineage")
    val (segments, stage) =
      if (opts.contains("two-stage"))
        // salted per-turn extraction (stats filled there), then regroup
        (Pipeline.segmentCogroup(
          Pipeline.extract(turns, partitions = buckets, stats = Some(stats)), rules).toDF(),
          "extract")
      else if (opts.contains("catalyst"))
        // whole-operator Catalyst route, TWO-child form: rules arrive as a
        // co-partitioned plan (ClusteredDistribution on both children), so
        // no rule corpus is ever collected or broadcast — the only route
        // shape that survives 10^12 conversations
        (graft.plans.SegmentPlans.segmentJoin(turns, rules, Some(stats)), "segment")
      else
        // fused single-shuffle; broadcast vs cogroup by rule-corpus size
        // (count AND estimated heap bytes — fat rules route to cogroup)
        (Pipeline.segmentAuto(turns, rules, buckets, ruleLimit, Some(stats), byteLimit).toDF(),
          "segment")

    val store = new SnapshotStore(out)
    // the ONE pass over the turns: fills `stats` while writing segments
    val segSnap = store.append(segments, Map("table" -> "segments"))
    val linSnap = store.append(
      Pipeline.lineageFromStats(spark, stage, stats.value, snapshotId = segSnap).toDF(),
      Map("table" -> "lineage", "segments_snapshot" -> segSnap.toString))
    // committed row count comes from the append manifest (exact: observed
    // in the write's result stage, once per committed partition — see
    // SnapshotStore.append) — not a full readback scan of the
    // just-committed table (an extra read pass at 10^12 turns)
    val nSegs = store.rowCount(segSnap).get
    println(s"""{"segments_snapshot":$segSnap,"lineage_snapshot":$linSnap,"segments":$nSegs}""")
  }
}
