package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.extract.Extractor
import graft.core.seg.Rule
import graft.pipeline.Pipeline
import graft.schema.{ConvSegment, Turn}

/** Structured Streaming twin of the batch pipeline: `readStream` → per-turn
  * extraction (stateless map — identical kernels to the batch path) →
  * stateful per-conversation assembly with `flatMapGroupsWithState` →
  * segments on conversation completion.
  *
  * A conversation is emitted when its event-time watermark passes
  * `last turn ts + idleGapMs` (the streaming analog of the reference's
  * visibility-timeout/redelivery loop, `main.py:363-410`: a conversation is
  * "done" when no new turns can arrive). State holds one conversation's
  * extracted turns — the same memory bound as the batch fold.
  */
object StreamingSegmenter {

  final case class ConvState(turns: List[(Int, String)], lastTs: Long, nChars: Long)
  final case class ExtractedStreamTurn(conv_id: String, turn_idx: Int, text: String, ts: Timestamp)

  /** Windowed turn-rate aggregation with watermarking — the standard
    * streaming agg surface (tumbling event-time window + late-data bound). */
  def turnRates(turns: Dataset[Turn], watermark: String = "10 minutes"): Dataset[org.apache.spark.sql.Row] = {
    turns
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("tool"))
      .agg(count(lit(1)).as("n_turns"))
      .select(col("window.start").as("window_start"), col("tool"), col("n_turns"))
  }

  /** Stateful segmentation: buffers extracted turns per conversation and,
    * once the conversation has been idle past the watermark, folds them
    * through the batch routes' core, [[Pipeline.GroupFold]], mapping its
    * rows with `ConvSegment.of`. Identical re-delivered turns collapse; a
    * conflicting duplicate `turn_idx` quarantines the conversation (zero
    * segments, logged), as does a malformed rule `Sequence`. `rulesFor`
    * must be a deterministic serializable lookup (broadcast map or
    * generator-backed). */
  def segments(
      turns: Dataset[Turn],
      rulesFor: String => Seq[Rule],
      watermark: String = "10 minutes",
      idleGapMs: Long = 30 * 60 * 1000L
  ): Dataset[ConvSegment] = {
    val spark = turns.sparkSession
    import spark.implicits._

    // watermark is declared AFTER the extraction map: an object map emits a
    // fresh ts column, which would drop the event-time tag if set earlier.
    // Null event times are dropped UP FRONT: the watermark machinery
    // ignores them and the late-row filter passes them (NULL predicate),
    // so they would reach the state function and NPE on ts.getTime
    val extracted = turns
      .filter(_.ts != null)
      .map { t =>
        val (ex, _) = Extractor.safeExtract(t.tool, t.text)
        ExtractedStreamTurn(t.conv_id, t.turn_idx, ex.text, t.ts)
      }
      .withWatermark("ts", watermark)

    extracted
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvState, ConvSegment](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (cid: String, rows: Iterator[ExtractedStreamTurn], state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            // an at-least-once source legitimately re-delivers a turn
            // across micro-batches: identical (turn_idx, text) duplicates
            // are dropped at state-UPDATE time (so they never inflate the
            // guardConv budget or sit in the state store); the close-time
            // policy collapses any left and quarantines a genuinely
            // CONFLICTING duplicate (zero segments, the batch pipeline's E5
            // whole-doc-failure shape) instead of `require`-poisoning a
            // query that could never restart past the bad input.
            closeTurns(cid, st.turns)(_._1) match {
              case None => Iterator.empty
              case Some(deduped) =>
                // the batch routes' fold core over the already-extracted
                // pages, with its rule-decode quarantine
                new Pipeline.GroupFold(
                  deduped.iterator.map { case (idx, text) => (cid, idx, null, text) },
                  rulesFor, (_, text) => text)
                  .flatMap { case (c, segRows) => segRows.iterator.map(ConvSegment.of(c, _)) }
            }
          } else {
            val prev = state.getOption.getOrElse(ConvState(Nil, 0L, 0L))
            val add = rows.map(r => (r.turn_idx, r.text, r.ts.getTime)).toList
            // identical (turn_idx, text) redeliveries are dropped AT UPDATE
            // TIME, before they enter state or count against guardConv: a
            // heavily-redelivered conversation near the memory budget must
            // not poison-pill the query with duplicate-inflated nChars (and
            // duplicates must not sit in the state store until timeout).
            // The transient per-batch set is O(conversation) — the same
            // bound guardConv enforces on the state itself.
            val seen = scala.collection.mutable.HashSet.empty[(Int, String)]
            prev.turns.foreach(seen += _)
            val fresh = add.filter(a => seen.add((a._1, a._2)))
            // PREPEND the batch (order is restored by the sort at emit):
            // appending would copy the whole accumulated list every
            // micro-batch — quadratic in conversation length
            val st = ConvState(
              fresh.map(a => (a._1, a._2)) ::: prev.turns,
              math.max(prev.lastTs, if (add.isEmpty) 0L else add.map(_._3).max),
              prev.nChars + fresh.iterator.map(_._2.length.toLong).sum)
            // the batch fold's single-task budget, enforced on the state
            // store too: fail loudly instead of growing executor state
            // until the task OOMs
            Pipeline.guardConv(cid, st.turns.length, st.nChars,
              Pipeline.DefaultMaxConvPages, Pipeline.DefaultMaxConvChars)
            state.update(st)
            // complete once the watermark passes last-turn-ts + idle gap
            state.setTimeoutTimestamp(st.lastTs + idleGapMs)
            Iterator.empty
          }
      }
  }

  final case class StreamEvent(event_type: String, ts: Timestamp)

  /** Hopping-window event rates — the streaming twin of
    * [[graft.ops.EventOps.hoppingCounts]] (1 h window advancing every
    * 30 min; Spark aligns window edges to epoch 0, the same edges as the
    * batch query's `(epoch DIV 1800 − h)·1800` arithmetic). Append mode +
    * watermark: a window row is emitted exactly once, when the event-time
    * watermark passes its end. */
  def hoppingRates(events: Dataset[StreamEvent], watermark: String = "10 minutes"): Dataset[org.apache.spark.sql.Row] =
    events.toDF()
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .selectExpr("CAST(unix_timestamp(window.start) AS BIGINT) AS win_start_epoch",
        "event_type", "n_events")

  final case class AnomalyState(days: Map[Long, Long], lastTs: Long)
  final case class AnomalyRow(event_type: String, epoch_day: Long, cnt: Long,
                              z2_ppm: Long, anomaly: Boolean)

  /** Streaming twin of [[graft.ops.EventOps.eventAnomaly]] — the ingest
    * monitor running ON the stream it monitors. Per event type, state holds
    * one (epoch_day → count) map — bounded by the observed DAY span
    * (`maxDays`, guarded loudly), never by event count — and once the
    * event-time watermark passes the type's last event + `idleGapMs`, every
    * day is emitted scored against the type's full accumulated moments,
    * with the batch twin's exact integer arithmetic (truncating division on
    * nonnegative operands agrees between JVM `/` and SQL `DIV`; epoch_day
    * uses the same seconds-DIV-86400 bucket). On a closed input the output
    * is asserted EQUAL to the batch query — the same contract the
    * segments/hopping/dedup twins honor, under the same PRECONDITION all
    * idle-gap operators carry: a type that goes quiet past `idleGapMs`
    * mid-stream is CLOSED then and there, so if it later resumes, the
    * resumed traffic is a new observation window (the day it straddles is
    * emitted twice with split counts — exactly as a conversation resuming
    * past [[segments]]' idle gap splits). Size `idleGapMs` above the
    * monitored types' real inter-event gaps. Events with NULL `event_type`
    * are excluded to match the batch twin (whose equi-join can never match
    * a NULL key) — count malformed events upstream if they matter. A true
    * online variant would score each day against the moments so far;
    * scoring at close keeps the twin equality exact, and the
    * trailing-history variant is one `setTimeoutTimestamp` change away. */
  def anomalyRates(events: Dataset[StreamEvent], watermark: String = "10 minutes",
                   idleGapMs: Long = 30 * 60 * 1000L,
                   zThreshold: Long = graft.ops.EventOps.DefaultZThreshold,
                   maxDays: Int = 10000): Dataset[AnomalyRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.filter(e => e.ts != null && e.event_type != null)
      .withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomalyState, AnomalyRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (et: String, rows: Iterator[StreamEvent], state: GroupState[AnomalyState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            val d = st.days.size.toLong
            val s = st.days.valuesIterator.sum
            val q = st.days.valuesIterator.map(c => c * c).sum
            val var2 = d * q - s * s
            st.days.toSeq.sortBy(_._1).iterator.map { case (day, cnt) =>
              val dev = cnt * d - s
              val dev2 = dev * dev
              AnomalyRow(et, day, cnt,
                if (var2 > 0) dev2 * 1000000L / var2 else 0L,
                var2 > 0 && dev2 >= zThreshold * zThreshold * var2)
            }
          } else {
            val prev = state.getOption.getOrElse(AnomalyState(Map.empty, 0L))
            var days = prev.days
            var lastTs = prev.lastTs
            rows.foreach { e =>
              val day = (e.ts.getTime / 1000L) / 86400L
              days = days.updated(day, days.getOrElse(day, 0L) + 1L)
              lastTs = math.max(lastTs, e.ts.getTime)
            }
            require(days.size <= maxDays,
              s"anomalyRates: type '$et' spans ${days.size} days > maxDays=$maxDays " +
                "— widen the day bucket or raise the bound")
            state.update(AnomalyState(days, lastTs))
            state.setTimeoutTimestamp(lastTs + idleGapMs)
            Iterator.empty
          }
      }
  }

  /** The close-time duplicate policy of [[segments]] and [[echoVerdicts]]
    * over one conversation's buffered rows: sort by `turnIdx` (stable),
    * drop identical neighbours, and quarantine the conversation (None, with
    * a WARN) when a turn_idx still repeats with different content. */
  private[graft] def closeTurns[T](cid: String, rows: List[T])(turnIdx: T => Int): Option[List[T]] = {
    val deduped = rows.sortBy(turnIdx).foldRight(List.empty[T]) {
      (cur, acc) => if (acc.nonEmpty && acc.head == cur) acc else cur :: acc
    }
    if (deduped.iterator.zip(deduped.iterator.drop(1)).exists { case (a, b) => turnIdx(a) == turnIdx(b) }) {
      org.slf4j.LoggerFactory.getLogger("graft.streaming.StreamingSegmenter")
        .warn(s"quarantined conversation $cid: conflicting duplicate turn_idx")
      None
    } else Some(deduped)
  }

  final case class EchoConvState(turns: List[(Int, String, String)], lastTs: Long, nChars: Long)
  final case class EchoVerdict(conv_id: String, turn_idx: Int, n_distinct_tokens: Long,
                               overlap_ppm: Long, is_echo: Boolean)

  /** Streaming twin of [[graft.ops.TranscriptOps.echoDetect]] — the
    * assistant-parrot gate running ON the live transcript stream, in the
    * same conversation-close shape as [[segments]]: state buffers one
    * conversation's `(turn_idx, role, text)` rows (the same `guardConv`
    * memory budget as the fold), and once the event-time watermark passes
    * `last turn ts + idleGapMs` the verdicts are computed over the sorted
    * conversation with the batch operator's exact arithmetic — Spark's
    * `split` keeps trailing empties (`String.split(sep, -1)`), set-semantic
    * distinct/intersect, truncating nonnegative integer division — so on a
    * closed input the output is asserted EQUAL to the batch query.
    * Identical `(turn_idx, role, text)` redeliveries are dropped at
    * state-update time; a CONFLICTING duplicate turn_idx quarantines the
    * conversation (zero verdicts, the [[segments]] rule) instead of
    * poisoning the query. NULL-text user turns never update the pairing and
    * NULL-text assistant turns get no verdict — exactly the batch
    * operator's `ignoreNulls` window + filter. */
  def echoVerdicts(turns: Dataset[Turn], watermark: String = "10 minutes",
                   idleGapMs: Long = 30 * 60 * 1000L,
                   thresholdPpm: Long = graft.ops.TranscriptOps.DefaultEchoThresholdPpm
                  ): Dataset[EchoVerdict] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.filter(_.ts != null)
      .withWatermark("ts", watermark)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[EchoConvState, EchoVerdict](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (cid: String, rows: Iterator[Turn], state: GroupState[EchoConvState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            closeTurns(cid, st.turns)(_._1) match {
              case None => Iterator.empty
              case Some(sorted) =>
                var lastUser: Option[Set[String]] = None
                sorted.iterator.flatMap { case (idx, role, text) =>
                  if (role == "user") {
                    if (text != null) lastUser = Some(text.split(" ", -1).toSet)
                    Iterator.empty
                  } else if (role == "assistant" && text != null && lastUser.isDefined) {
                    val toks = text.split(" ", -1).distinct
                    val overlap = toks.count(lastUser.get.contains) * 1000000L / toks.length
                    Iterator.single(EchoVerdict(cid, idx, toks.length.toLong,
                      overlap, overlap >= thresholdPpm))
                  } else Iterator.empty
                }.toVector.iterator
            }
          } else {
            val prev = state.getOption.getOrElse(EchoConvState(Nil, 0L, 0L))
            val seen = scala.collection.mutable.HashSet.empty[(Int, String, String)]
            prev.turns.foreach(seen += _)
            var lastTs = prev.lastTs
            val fresh = rows.flatMap { t =>
              lastTs = math.max(lastTs, t.ts.getTime)
              val row = (t.turn_idx, t.role, t.text)
              if (seen.add(row)) Some(row) else None
            }.toList
            val st = EchoConvState(fresh ::: prev.turns, lastTs,
              prev.nChars + fresh.iterator.map(r =>
                if (r._3 == null) 0L else r._3.length.toLong).sum)
            Pipeline.guardConv(cid, st.turns.length, st.nChars,
              Pipeline.DefaultMaxConvPages, Pipeline.DefaultMaxConvChars)
            state.update(st)
            state.setTimeoutTimestamp(st.lastTs + idleGapMs)
            Iterator.empty
          }
      }
  }

  final case class StreamDoc(doc_id: Long, text: String, ts: Timestamp)

  /** Streaming exact dedup — the streaming twin of `Dedup.exact`: the first
    * occurrence of each content hash passes, later duplicates within the
    * watermark horizon are dropped, and per-hash state is EVICTED once the
    * watermark passes its expiry. Bounded state is the property that
    * matters on an unbounded stream: a plain `dropDuplicates` would grow
    * its hash state forever at 10^12 docs, `dropDuplicatesWithinWatermark`
    * holds only one horizon's worth. */
  def dedupDocs(docs: Dataset[StreamDoc], watermark: String = "1 hour"): Dataset[org.apache.spark.sql.Row] =
    docs.toDF()
      .where("text IS NOT NULL") // as Dedup.exact: no bogus NULL-hash state
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-static enrichment join — the standard dimension-lookup shape:
    * each micro-batch broadcast-joins against the static dimension table,
    * statelessly (no watermark, no state store — the static side is
    * re-resolvable per batch, which is also how dimension UPDATES become
    * visible between batches on a real table source). Left join: events
    * with no dimension row pass through with NULLs rather than silently
    * disappearing from the stream. */
  def enrich(events: Dataset[StreamEvent],
             dim: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    events.toDF().join(broadcast(dim), Seq("event_type"), "left")
}
