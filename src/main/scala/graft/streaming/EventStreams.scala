package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming analytics over an event stream
  * (`event_id, ts, user_id, event_type, value`) — the streaming-native side
  * the reference lacks entirely (SURVEY.md §2.10): event-time tumbling
  * windows under a watermark, and custom sessionization state via
  * `flatMapGroupsWithState`.
  */
object EventStreams {

  /** Tumbling event-time window counts with a watermark: late events
    * beyond `watermark` are dropped, windows finalize (append mode) once
    * the watermark passes their end. */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
                     windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  final case class SessionEvent(user_id: Long, ts: Timestamp, event_type: String)
  /** State timestamps in MICROSECONDS — the batch twin
    * ([[graft.ops.Sessions]]) compares `unix_micros`, and the driver
    * tables carry micros precision; a millis (`getTime`) comparison here
    * could split a session differently than batch on a gap within 1 ms of
    * the threshold (the round-3 sub-second-precision bug class). */
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class Session(user_id: Long, startMs: Long, endMs: Long, nEvents: Int)

  /** `java.sql.Timestamp` → epoch micros (getTime's millis part already
    * floors the nanos, so rebuild from whole seconds + nanos/1000). */
  private def epochMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Gap-based sessionization with explicit state: a user's session is
    * closed (emitted once) when a later event arrives more than `gapMs`
    * after the session's last event — purely event-driven state, so the
    * output is deterministic in event time (no wall-clock timeouts).
    * The gap decision runs in micros (micros-precision timestamps agree
    * with the batch face); emitted `startMs`/`endMs` stay millis.
    *
    * MEMORY CONTRACT (the streaming analogue of the hot-key note on the
    * plain batch form, `SessionsReference.sessionize` in test code, which
    * [[graft.ops.Sessions.sessionizeBucketed]] avoids): cross-batch state
    * per user is O(1) — one open `SessionState` — but each user's
    * PER-MICROBATCH slice is buffered and sorted in one task. Bounded
    * triggers (rate limits, `maxFilesPerTrigger`/`maxBytesPerTrigger` on a
    * file source) bound that slice; an UNBOUNDED drain (one AvailableNow
    * batch over a whole history) puts a user's entire history in one
    * executor's heap — split such drains into multiple batches. The
    * one-user-100%-of-rows multi-batch spec (EventStreamsSpec) pins the
    * cross-batch session continuation this contract relies on. Events are
    * sorted per batch; ACROSS batches the source must deliver a user's
    * events in nondecreasing event-time order for exact batch parity (an
    * older-than-open-session straggler folds into the open session rather
    * than reopening a closed one — closed sessions are immutable). */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long = 30 * 60 * 1000L)
  : Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMicros = gapMs * 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => epochMicros(e.ts))
          var closed = Vector.empty[Session]
          var cur = state.getOption
          sorted.foreach { e =>
            val t = epochMicros(e.ts)
            cur match {
              case Some(s) if t - s.last <= gapMicros =>
                cur = Some(SessionState(s.start, t, s.n + 1))
              case Some(s) =>
                closed :+= Session(user, s.start / 1000L, s.last / 1000L, s.n)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }
}
