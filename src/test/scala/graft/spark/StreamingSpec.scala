package graft.spark

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core.extract.Extractor
import graft.core.seg.Demarcator
import graft.gen.SyntheticTranscripts
import graft.pipeline.Pipeline
import graft.schema.Turn
import graft.streaming.StreamingSegmenter

/** Structured Streaming path: turns arrive incrementally; a conversation's
  * segments are emitted once the event-time watermark passes its idle gap,
  * and must equal the batch/sequential oracle exactly. */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private val Seed = 42L

  test("streaming segments equal sequential oracle after watermark close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Turn]
    val nConvs = 4L
    val seed = Seed // local copy: the lambda must not capture the suite
    val rulesFor = (cid: String) => {
      val idx = cid.stripPrefix("conv-").toLong
      SyntheticTranscripts.rulesFor(seed, idx).map(Pipeline.toCoreRule)
    }
    val out = StreamingSegmenter.segments(
      input.toDS(), rulesFor, watermark = "1 minute", idleGapMs = 60000L)

    val query = out.writeStream
      .format("memory")
      .queryName("stream_segments")
      .outputMode("append")
      .start()

    // feed turns split across two batches, interleaved across conversations
    val allTurns = (0L until nConvs).flatMap(i => SyntheticTranscripts.turnsFor(Seed, i))
    val (b1, b2) = allTurns.sortBy(_.ts.getTime).splitAt(allTurns.size / 2)
    input.addData(b1)
    query.processAllAvailable()
    input.addData(b2)
    query.processAllAvailable()
    // sentinel far-future turn pushes the watermark past every idle gap
    input.addData(Turn("conv-sentinel", 1, "user", "x", "", new Timestamp(
      allTurns.map(_.ts.getTime).max + 24 * 3600 * 1000L)))
    query.processAllAvailable()
    query.stop()

    val got = spark.table("stream_segments").as[graft.schema.ConvSegment].collect()
      .filter(_.conv_id != "conv-sentinel")
      .groupBy(_.conv_id).map { case (k, v) => k -> v.sortBy(_.Sequence.toInt).toVector }

    (0L until nConvs).foreach { ci =>
      val cid = SyntheticTranscripts.convId(ci)
      val turns = SyntheticTranscripts.turnsFor(Seed, ci)
      val pages = turns.sortBy(_.turn_idx).map(t => Extractor.safeExtract(t.tool, t.text)._1.text)
      val want = Demarcator.demarcate(pages.toVector, rulesFor(cid))
        .sortBy(_.Sequence.map(_.toInt).getOrElse(999))
      val gotRows = got.getOrElse(cid, Vector.empty)
      assert(gotRows.size == want.size, s"row count for $cid")
      gotRows.zip(want).foreach { case (g, w) =>
        assert(g.FromPageNumber == w.FromPageNumber && g.ToPageNumber == w.ToPageNumber
          && g.NoOfPages == w.NoOfPages && g.DocumentTypeId == w.DocumentTypeId.getOrElse(""),
          s"mismatch for $cid seq ${g.Sequence}")
      }
    }
  }

  test("at-least-once redelivery folds identically; conflicting duplicate quarantines the conv") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Turn]
    val seed = Seed
    val rulesFor = (cid: String) => {
      val idx = cid.stripPrefix("conv-").toLong
      SyntheticTranscripts.rulesFor(seed, idx).map(Pipeline.toCoreRule)
    }
    val out = StreamingSegmenter.segments(
      input.toDS(), rulesFor, watermark = "1 minute", idleGapMs = 60000L)
    val query = out.writeStream.format("memory").queryName("stream_redelivery")
      .outputMode("append").start()

    val turns = SyntheticTranscripts.turnsFor(Seed, 0L)
    val cid = SyntheticTranscripts.convId(0L)
    // batch 1: all turns; batch 2: the producer re-delivers three of them
    // verbatim (same turn_idx, same text) — the at-least-once shape
    input.addData(turns)
    query.processAllAvailable()
    input.addData(turns.take(3))
    query.processAllAvailable()
    // a second conversation poisoned by a CONFLICTING duplicate: same
    // turn_idx as an existing turn but different text
    val poisoned = SyntheticTranscripts.turnsFor(Seed, 1L)
    val pcid = SyntheticTranscripts.convId(1L)
    input.addData(poisoned)
    input.addData(Seq(poisoned.head.copy(text = poisoned.head.text + " CONFLICT")))
    query.processAllAvailable()
    val maxTs = (turns ++ poisoned).map(_.ts.getTime).max
    input.addData(Turn("conv-sentinel", 1, "user", "x", "",
      new Timestamp(maxTs + 24 * 3600 * 1000L)))
    query.processAllAvailable()
    query.stop()

    val got = spark.table("stream_redelivery").as[graft.schema.ConvSegment].collect()
    // redelivered conv folds exactly as the sequential oracle — duplicates
    // collapsed, no boundary shift, no failure
    val pages = turns.sortBy(_.turn_idx).map(t => Extractor.safeExtract(t.tool, t.text)._1.text)
    val want = Demarcator.demarcate(pages.toVector, rulesFor(cid))
    assert(got.count(_.conv_id == cid) == want.size)
    // the conflicting conv is quarantined: zero segments, query alive
    assert(got.count(_.conv_id == pcid) == 0,
      "conflicting duplicate turn_idx must quarantine the conversation")
  }

  test("close-time duplicate policy: sorted, identical rows collapse, a conflict quarantines") {
    val policy = StreamingSegmenter.closeTurns[(Int, String)]("conv-x", _: List[(Int, String)])(_._1)
    assert(policy(List(3 -> "c", 1 -> "a", 2 -> "b")) == Some(List(1 -> "a", 2 -> "b", 3 -> "c")))
    assert(policy(List(2 -> "b", 1 -> "a", 2 -> "b", 2 -> "b")) == Some(List(1 -> "a", 2 -> "b")))
    assert(policy(List(1 -> "a", 2 -> "b", 1 -> "z")).isEmpty)
    assert(policy(List(1 -> "a", 1 -> "z", 1 -> "a")).isEmpty)
    assert(policy(Nil) == Some(Nil))
  }

  test("streaming echo verdicts equal the batch twin on closed input; redelivery-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Turn]
    val out = StreamingSegmenter.echoVerdicts(
      input.toDS(), watermark = "1 minute", idleGapMs = 60000L)
    val query = out.writeStream.format("memory").queryName("stream_echo")
      .outputMode("append").start()

    val nConvs = 4L
    val allTurns = (0L until nConvs).flatMap(i => SyntheticTranscripts.turnsFor(Seed, i))
    val (b1, b2) = allTurns.sortBy(_.ts.getTime).splitAt(allTurns.size / 2)
    input.addData(b1)
    query.processAllAvailable()
    input.addData(b2)
    query.processAllAvailable()
    // at-least-once redelivery of a verbatim slice must not change verdicts
    input.addData(b2.take(3))
    query.processAllAvailable()
    // a conversation poisoned by a conflicting duplicate turn_idx
    val poisoned = SyntheticTranscripts.turnsFor(Seed, nConvs)
    val pcid = SyntheticTranscripts.convId(nConvs)
    input.addData(poisoned)
    input.addData(Seq(poisoned.head.copy(text = poisoned.head.text + " CONFLICT")))
    query.processAllAvailable()
    val maxTs = (allTurns ++ poisoned).map(_.ts.getTime).max
    input.addData(Turn("conv-sentinel", 1, "user", "x", "",
      new Timestamp(maxTs + 24 * 3600 * 1000L)))
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("stream_echo").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .filterNot(_._1 == "conv-sentinel").toSet
    val batch = graft.ops.TranscriptOps.echoDetect(allTurns.toDF()).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    assert(streamed.filterNot(_._1 == pcid) == batch,
      s"streaming ${streamed.size} rows != batch ${batch.size}")
    assert(batch.nonEmpty, "the synthetic corpus must produce verdicts")
    assert(streamed.count(_._1 == pcid) == 0,
      "conflicting duplicate turn_idx must quarantine the conversation")
  }

  test("windowed turn-rate aggregation with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val out = StreamingSegmenter.turnRates(input.toDS(), watermark = "1 minute")
    val query = out.writeStream.format("memory").queryName("turn_rates")
      .outputMode("append").start()
    input.addData(SyntheticTranscripts.turnsFor(Seed, 1L))
    query.processAllAvailable()
    input.addData(Seq(Turn("late", 1, "user", "x", "",
      new Timestamp(SyntheticTranscripts.BaseEpochMs + 48 * 3600 * 1000L))))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("turn_rates").collect()
    assert(rows.map(_.getAs[Long]("n_turns")).sum > 0)
  }
  test("streaming exact dedup: duplicates dropped within the watermark, state evicted after") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingSegmenter.StreamDoc
    val input = MemoryStream[StreamDoc]
    val out = StreamingSegmenter.dedupDocs(input.toDS(), watermark = "10 minutes")
    val query = out.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)

    input.addData(StreamDoc(1, "alpha", ts(0)), StreamDoc(3, "beta", ts(1)))
    query.processAllAvailable()
    // duplicates inside the horizon: dropped
    input.addData(StreamDoc(2, "alpha", ts(2)), StreamDoc(4, "beta", ts(2)))
    query.processAllAvailable()
    // far-future doc advances the watermark past both hashes' expiry
    input.addData(StreamDoc(5, "gamma", ts(60)))
    query.processAllAvailable()
    // same content AFTER eviction: emitted again (bounded state, not a set)
    input.addData(StreamDoc(6, "alpha", ts(61)))
    query.processAllAvailable()
    query.stop()

    val ids = spark.table("stream_dedup").select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L, 5L, 6L), s"got $ids")
  }

  // the twin's contract holds for ORDERED arrival (see streamDedupTwin
  // scaladoc): out-of-order duplicates keep first-ARRIVING in the stream
  // but first-event-time in the twin, so the test replays a sorted log
  test("batch twin equals the streaming dedup on an ordered within-horizon input") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingSegmenter.StreamDoc
    // duplicates spread over < the 1h horizon, same epoch formula as the
    // d_stream_dedup query (epoch = base + (doc_id % 37) * 60)
    val texts = Vector("alpha", "beta", "alpha", "gamma", "beta", "alpha", "delta", "gamma")
    val docs = texts.zipWithIndex.map { case (t, i) =>
      StreamDoc(i.toLong, t, new Timestamp((1767225600L + (i % 37) * 60L) * 1000L))
    }
    val input = MemoryStream[StreamDoc]
    val out = StreamingSegmenter.dedupDocs(input.toDS(), watermark = "1 hour")
    val query = out.writeStream.format("memory").queryName("stream_dedup_twin")
      .outputMode("append").start()
    // arrival in (event-time, doc_id) order — the order the batch twin ranks
    input.addData(docs.sortBy(d => (d.ts.getTime, d.doc_id)))
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("stream_dedup_twin")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val twin = graft.ops.Dedup.streamDedupTwin(
      docs.toDF().selectExpr("doc_id", "text", "CAST(ts AS BIGINT) AS epoch"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamed == twin, s"streaming $streamed != batch twin $twin")
  }

  test("streaming hopping windows equal the batch twin once the watermark closes them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingSegmenter.StreamEvent
    val t0 = 1767225600L // multiple of 3600
    val main = Seq(
      StreamEvent("view", new Timestamp((t0 + 100) * 1000L)),
      StreamEvent("view", new Timestamp((t0 + 1900) * 1000L)),
      StreamEvent("click", new Timestamp((t0 + 1900) * 1000L)),
      StreamEvent("view", new Timestamp((t0 + 5000) * 1000L)))
    val input = MemoryStream[StreamEvent]
    val out = StreamingSegmenter.hoppingRates(input.toDS())
    val query = out.writeStream.format("memory").queryName("stream_hopping")
      .outputMode("append").start()
    input.addData(main)
    query.processAllAvailable()
    // far-future event advances the watermark past every main window's end;
    // its own (still-open) windows are not emitted
    input.addData(StreamEvent("flush", new Timestamp((t0 + 48 * 3600) * 1000L)))
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("stream_hopping")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.ops.EventOps.hoppingCounts(
      main.zipWithIndex.map { case (e, i) => (i.toLong, e.ts, 0L, e.event_type, "1.0", "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch, s"streaming $streamed != batch $batch")
  }

  test("streaming anomaly monitor equals the batch twin on closed input") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingSegmenter.StreamEvent
    val day = 86400L
    val t0 = 1767225600L // multiple of 86400
    def ev(et: String, d: Long, off: Long) =
      StreamEvent(et, new Timestamp((t0 + d * day + off) * 1000L))
    // type a: 2/day for 5 days, then a 6-event spike; type b: constant 1/day
    val main =
      (0L until 5L).flatMap(d => Seq(ev("a", d, 1L), ev("a", d, 2L))) ++
      (0L until 6L).map(i => ev("a", 5L, i + 1L)) ++
      (0L until 3L).map(d => ev("b", d, 1L))
    val input = MemoryStream[StreamEvent]
    val out = StreamingSegmenter.anomalyRates(input.toDS())
    val query = out.writeStream.format("memory").queryName("stream_anomaly")
      .outputMode("append").start()
    // two CHRONOLOGICAL batches (as a real source delivers — an event
    // arriving days behind the watermark is late data and is correctly
    // dropped): state must accumulate day counts across micro-batches
    val sorted = main.sortBy(_.ts.getTime)
    input.addData(sorted.take(8))
    query.processAllAvailable()
    input.addData(sorted.drop(8))
    query.processAllAvailable()
    // far-future event advances the watermark past a+b's idle timeouts;
    // its own (still-open) type is not emitted
    input.addData(ev("flush", 30L, 0L))
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("stream_anomaly").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    val batch = graft.ops.EventOps.eventAnomaly(
      main.zipWithIndex.map { case (e, i) => (i.toLong, e.ts, 0L, e.event_type, "1.0", "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(streamed == batch, s"streaming $streamed != batch $batch")
    assert(streamed.exists(_._5), "the spike day must flag in both engines")
  }

  test("stream-static enrichment join: broadcast per micro-batch, unmatched rows survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingSegmenter.StreamEvent
    val dim = Seq(("view", "read"), ("click", "interact")).toDF("event_type", "category")
    val input = MemoryStream[StreamEvent]
    val out = StreamingSegmenter.enrich(input.toDS(), dim)
    val query = out.writeStream.format("memory").queryName("stream_enrich")
      .outputMode("append").start()
    input.addData(
      StreamEvent("view", new Timestamp(1000L)),
      StreamEvent("click", new Timestamp(2000L)),
      StreamEvent("mystery", new Timestamp(3000L)))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("stream_enrich")
      .collect().map(r => r.getString(0) -> Option(r.getString(2))).toMap
    assert(got === Map(
      "view" -> Some("read"), "click" -> Some("interact"), "mystery" -> None))
    // the static side carries the broadcast hint — no shuffle of the stream
    val hinted = StreamingSegmenter.enrich(input.toDS(), dim)
      .queryExecution.analyzed.toString
    assert(hinted.contains("ResolvedHint"), hinted)
  }

}
