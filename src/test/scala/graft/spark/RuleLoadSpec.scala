package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.SyntheticTranscripts
import graft.pipeline.Pipeline
import graft.plans.{SegmentJoinExec, SegmentPlans}

/** How rules reach the fold: the join node decodes each projected rule row
  * to the rule the typed path would build, and `segmentAuto` leaves the
  * rules distributed — building its Dataset loads nothing. */
class RuleLoadSpec extends AnyFunSuite with SparkFixture {

  private val Seed = 42L

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
    val rows: Array[InternalRow] = rules.toDS().toDF().select(SegmentPlans.RuleCols.map(col): _*)
      .queryExecution.executedPlan.executeCollect()
    assert(rows.length == rules.size)
    rows.zip(rules).foreach { case (row, r) =>
      assert(SegmentJoinExec.rowToRule(row) == Pipeline.toCoreRule(r), r.toString)
    }
  }

  test("building segmentAuto's Dataset starts no Spark job and plans the join node") {
    val turns = SyntheticTranscripts.turns(spark, 12L, Seed)
    val rules = SyntheticTranscripts.rules(spark, 12L, Seed)
    val (segs, jobs) = jobsOf(Pipeline.segmentAuto(turns, rules))
    assert(jobs.isEmpty, s"segmentAuto must not run a job before the action, got stage counts $jobs")
    assert(segs.queryExecution.executedPlan.toString.contains("SegmentJoin"))
    assert(segs.collect().sortBy(s => (s.conv_id, s.Sequence.toInt)).toSeq ==
      (0L until 12L).flatMap(SegmentOracle.segments(Seed, _)).sortBy(s => (s.conv_id, s.Sequence.toInt)))
  }
}
