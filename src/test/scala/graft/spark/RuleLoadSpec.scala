package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.SyntheticTranscripts
import graft.pipeline.Pipeline
import graft.plans.{SegmentJoinExec, SegmentPlans}
import graft.schema._

/** `segmentAuto`'s rule loading: ONE job over the rules sizes the corpus
  * and, when every partition stays within its 1/P share of both limits,
  * brings the rows back too. These tests pin the job count, the
  * per-partition share, the routing decision against the sizing aggregate
  * it replaced, and that the broadcast rows decode to the rules the typed
  * path would build. */
class RuleLoadSpec extends AnyFunSuite with SparkFixture {

  private val Seed = 42L

  /** The projected rule rows of `rules`, as the loading job reads them. */
  private def projected(rules: Dataset[ConvRule]) =
    rules.toDF().select(SegmentPlans.RuleCols.map(col): _*)

  /** The routing inputs of the sizing aggregate `segmentAuto` ran before
    * the loading job: row count and 2 × chars of the string columns + 96
    * per row, in SQL. */
  private def sizing(rules: Dataset[ConvRule]): (Long, Long) = {
    val strs = projected(rules).schema.fields.filter(_.dataType == StringType)
      .map(f => s"length(coalesce(`${f.name}`, ''))")
    val r = projected(rules)
      .selectExpr(s"CAST(2 * (${strs.mkString(" + ")}) + 96 AS BIGINT) AS sz")
      .selectExpr("count(*)", "CAST(coalesce(sum(sz), 0) AS BIGINT)").head()
    (r.getLong(0), r.getLong(1))
  }

  /** Encoded size of projected rule rows: an 8-byte size + the UnsafeRow. */
  private def encoded(rows: Array[InternalRow]): Long =
    rows.map(r => 8L + r.asInstanceOf[UnsafeRow].getSizeInBytes).sum

  private def oracle(nConvs: Long): Seq[ConvSegment] =
    (0L until nConvs).flatMap(SegmentOracle.segments(Seed, _)).sortBy(s => (s.conv_id, s.Sequence.toInt))

  private def norm(xs: Array[ConvSegment]): Seq[ConvSegment] =
    xs.sortBy(s => (s.conv_id, s.Sequence.toInt)).toSeq

  private def isJoin(segs: Dataset[ConvSegment]): Boolean =
    segs.queryExecution.executedPlan.toString.contains("SegmentJoin")

  test("rowToRule of every projected rule row equals toCoreRule of the same ConvRule") {
    import spark.implicits._
    // generator corpus, plus NULLs planted in every nullable string column
    val base = (0L until 40L).flatMap(SyntheticTranscripts.rulesFor(Seed, _))
    val rules = base.zipWithIndex.map { case (r, i) =>
      i % 4 match {
        case 0 => r
        case 1 => r.copy(DocumentTypeID = null, StartingIdentifierPlus1 = null,
          EndingIdentifierMinus1 = null, Sequence = null)
        case 2 => r.copy(DocumentTypeName = null, StartingIdentifier = null,
          EndingIdentifier = null, FirmFile = null)
        case 3 => r.copy(StartingMinusN = null, EndingMinusN = null, SessionId = null)
      }
    }
    val rows: Array[InternalRow] =
      projected(rules.toDS()).queryExecution.executedPlan.executeCollect()
    assert(rows.length == rules.size)
    rows.zip(rules).foreach { case (row, r) =>
      assert(SegmentJoinExec.rowToRule(row) == Pipeline.toCoreRule(r), r.toString)
    }
    // and the broadcast rows index them per conversation, in load order
    val loaded = Pipeline.loadRules(rules.toDS(), Long.MaxValue, Long.MaxValue).get
    rules.groupBy(_.conv_id).foreach { case (cid, rs) =>
      assert(loaded.rulesFor(cid) == rs.map(Pipeline.toCoreRule), cid)
    }
    assert(loaded.rulesFor("no-such-conversation").isEmpty)
  }

  test("a corpus within the limits loads in ONE single-stage job and takes the broadcast branch") {
    import spark.implicits._
    val nConvs = 30L
    val dir = Files.createTempDirectory("graft-rule-load").resolve("rules").toString
    SyntheticTranscripts.rules(spark, nConvs, Seed).write.parquet(dir)
    val rules = spark.read.schema(Encoders.product[ConvRule].schema).parquet(dir).as[ConvRule]
    val turns = SyntheticTranscripts.turns(spark, nConvs, Seed)
    val (segs, jobs) = jobsOf(Pipeline.segmentAuto(turns, rules))
    assert(jobs == Seq(1), s"rule loading must be one single-stage job, got stage counts $jobs")
    assert(!isJoin(segs), "a small corpus must take the broadcast branch")
    assert(norm(segs.collect()) == oracle(nConvs))
  }

  test("a partition over its 1/P share still broadcasts, through a second collect") {
    import spark.implicits._
    val nConvs = 20L
    val turns = SyntheticTranscripts.turns(spark, nConvs, Seed)
    // four partitions, the first holding 14 of the 20 conversations' rules
    val heavy = (0L until 14L).flatMap(SyntheticTranscripts.rulesFor(Seed, _))
    val light = (14L until nConvs).flatMap(SyntheticTranscripts.rulesFor(Seed, _))
    val sc = spark.sparkContext
    val rules = spark.createDataset(sc.parallelize(heavy, 1))
      .union(spark.createDataset(sc.parallelize(light, 3)))
    assert(rules.rdd.getNumPartitions == 4)
    val (n, heap) = sizing(rules)
    assert(heavy.size > n / 4)
    // exactly at each limit in turn: the total fits, the heavy partition
    // is over its share of that limit
    for ((rowLimit, byteLimit) <- Seq((n, Long.MaxValue), (Long.MaxValue, heap))) {
      val (segs, jobs) = jobsOf(Pipeline.segmentAuto(turns, rules,
        broadcastRuleLimit = rowLimit, broadcastByteLimit = byteLimit))
      assert(jobs == Seq(1, 1), s"limits ($rowLimit, $byteLimit): expected the sizing " +
        s"job and one second collect, got stage counts $jobs")
      assert(!isJoin(segs), s"limits ($rowLimit, $byteLimit) fit the corpus: broadcast branch")
      val got = norm(segs.collect())
      assert(got == oracle(nConvs))
      assert(got == norm(Pipeline.segmentAuto(turns, rules, broadcastRuleLimit = 0L).collect()))
    }
  }

  test("a partition that grew between the two jobs sends the corpus to the join node") {
    import spark.implicits._
    val heavy = (0L until 14L).flatMap(SyntheticTranscripts.rulesFor(Seed, _))
    val light = (14L until 20L).flatMap(SyntheticTranscripts.rulesFor(Seed, _))
    val extra = SyntheticTranscripts.rulesFor(Seed, 20L).take(1)
    val lightParts = light.grouped((light.size + 2) / 3).toVector
    val n = (heavy.size + light.size).toLong
    assert(heavy.size > n / 4 && heavy.size + extra.size <= n)
    RuleLoadSpec.heavyPasses.set(0)
    // four partitions; the heavy one returns one rule more from its second pass on
    val rules = spark.createDataset(spark.sparkContext.parallelize(0 until 4, 4)
      .mapPartitionsWithIndex { (i, _) =>
        if (i > 0) lightParts.lift(i - 1).getOrElse(Nil).iterator
        else if (RuleLoadSpec.heavyPasses.incrementAndGet() == 1) heavy.iterator
        else (heavy ++ extra).iterator
      })
    // the first job counts n rows, the heavy partition over its n/4 share;
    // the second may return no more than the first counted
    assert(Pipeline.loadRules(rules, n, Long.MaxValue).isEmpty)
    assert(RuleLoadSpec.heavyPasses.get == 2, "expected exactly the sizing job and one second collect")
  }

  test("a partition returns no rows past its share of any limit, and counts every row") {
    val rules = SyntheticTranscripts.rules(spark, 12L, Seed)
    val df = projected(rules)
    val rows = df.queryExecution.executedPlan.executeCollect()
    val (n, heap) = sizing(rules)
    val bytes = encoded(rows)
    assert(rows.length.toLong == n && n > 3)
    def load(maxRows: Long, maxHeap: Long, maxBytes: Long) =
      Pipeline.loadPartition(rows.iterator, df.schema, maxRows, maxHeap, maxBytes)
    val all = load(n, heap, bytes)
    assert((all.rows, all.heap, all.bytes) == ((n, heap, bytes)),
      "counts differ from the sizing aggregate and the encoded row sizes")
    val kept = Pipeline.ruleRows(Seq(all))
    rules.collect().groupBy(_.conv_id).foreach { case (cid, rs) =>
      assert(kept.rulesFor(cid) == rs.toSeq.map(Pipeline.toCoreRule), cid)
    }
    val pastShare = (0L until n).map(load(_, Long.MaxValue, Long.MaxValue)) ++
      Seq(load(n, heap - 1, bytes), load(n, heap, bytes - 1), load(n, heap, 0L))
    for (p <- pastShare) {
      assert(p.data.isEmpty, s"rows returned past a share: $p")
      assert((p.rows, p.heap, p.bytes) == ((n, heap, bytes)), "counting must go on past the share")
    }
  }

  test("the routing decision equals the sizing aggregate's at both limits, on every corpus shape") {
    import spark.implicits._
    val corpora = Seq(
      "generator" -> SyntheticTranscripts.rules(spark, 25L, Seed),
      "adversarial" -> SyntheticTranscripts.rules(spark, 25L, 4242L).map(RouteEquivalenceSpec.mutate),
      "NULL strings" -> SyntheticTranscripts.rules(spark, 25L, 7L)
        .map(r => r.copy(StartingIdentifier = null, FirmFile = null)),
      "empty" -> spark.emptyDataset[ConvRule])
    for ((name, rules) <- corpora) {
      val (n, heap) = sizing(rules)
      val bytes = encoded(projected(rules).queryExecution.executedPlan.executeCollect())
      assert(Pipeline.loadRules(rules, n, heap).isDefined, s"$name: fits at ($n, $heap)")
      assert(Pipeline.loadRules(rules, n, heap, bytes).isDefined, s"$name: fits in $bytes bytes")
      if (n > 0) {
        assert(Pipeline.loadRules(rules, n - 1, heap).isEmpty, s"$name: one row over")
        assert(Pipeline.loadRules(rules, n, heap - 1).isEmpty, s"$name: one byte over")
        assert(Pipeline.loadRules(rules, n, heap, bytes - 1).isEmpty,
          s"$name: one encoded byte over what the array may hold")
      }
    }
  }
}

object RuleLoadSpec {
  /** Evaluations of the growing partition (tasks run in this JVM). */
  val heavyPasses = new java.util.concurrent.atomic.AtomicInteger
}
