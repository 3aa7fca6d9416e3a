package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Stateful streaming sessionization — the custom-state streaming twin
  * of `ChangelogOps.sessionize` (reference semantics: gap rule over
  * per-key event time; see lawrencejones/pgsink's per-table ordered
  * consume loop for the keyed-state shape the engine generalizes).
  *
  * Two implementations of the same contract, chosen by what the caller
  * needs:
  *
  *  - [[sessionWindowStats]] — the declarative form: Spark's built-in
  *    `session_window(ts, gap)` aggregation. Catalyst owns the state
  *    store (`SessionWindowStateStore*Exec`), merges overlapping
  *    sessions, and flushes a session only when the watermark passes
  *    its close. Prefer this whenever the per-session result is an
  *    aggregate Spark can express — it gets partial aggregation,
  *    codegen, and RocksDB-backed state for free.
  *
  *  - [[sessions]] — the custom-state form: `flatMapGroupsWithState`
  *    with `EventTimeTimeout`. One `OpenSession` record per key
  *    (constant-size state — NOT a buffer of events), closed sessions
  *    emitted as soon as the gap rule fires inside a batch, the final
  *    open session flushed by the event-time timeout when the
  *    watermark passes `last + gap`. This is the shape to extend when
  *    the per-session logic stops being an aggregate (first-touch
  *    attribution, per-session token budgets, ordered funnels).
  *
  * Scale posture: state is one fixed-width record per ACTIVE key, keyed
  * rows hash-shuffle once onto the state store's partitioning, and
  * every session closes (gap rule or timeout) so state cannot grow
  * monotonically. At 100 TB / 1e9 keys the state store is
  * `keys × ~64 B` per partition — RocksDB territory, not heap — and the
  * operator's cost stays one shuffle per micro-batch.
  *
  * Late data: events later than the watermark delay are dropped by the
  * watermark (same contract as the built-in session window). Events
  * late-but-within-watermark merge into the key's open session when
  * they land inside the gap; an in-gap event that arrives AFTER the
  * timeout already flushed its session starts a new session — the
  * documented at-least-once boundary every event-time-timeout design
  * shares.
  */
object StatefulSessions {

  /** One event in, keyed by `user`. `ts` stays in the row so the
    * watermarked event-time column survives into the stateful
    * operator; `tsUs` is the same instant in epoch micros so state
    * holds plain longs.
    */
  case class SessionEvent(user: Long, ts: Timestamp, tsUs: Long, value: Double)

  /** Constant-size per-key state: the currently-open session. */
  case class OpenSession(startUs: Long, lastUs: Long, n: Long, sum: Double)

  /** One closed session out. */
  case class ClosedSession(
      user: Long, startUs: Long, endUs: Long, n_events: Long, sum_value: Double)

  /** Custom-state streaming sessionization. `events` must carry
    * `user_id: Long`, `ts: Timestamp` (watermark-eligible, i.e. not
    * NTZ — `ImportSource.table` already guarantees this) and
    * `value: Double`.
    */
  def sessions(events: DataFrame, gapSeconds: Long,
      watermarkDelay: String): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L

    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("user"), col("ts"),
        unix_micros(col("ts")).as("tsUs"), col("value"))
      .as[SessionEvent]
      .groupByKey(_.user)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent],
            state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap with no new events: the open
            // session is final
            val s = state.get
            state.remove()
            Iterator.single(
              ClosedSession(user, s.startUs, s.lastUs, s.n, s.sum))
          } else {
            // batch-local events arrive unordered; the gap rule needs
            // time order. Sorting a key's batch slice is bounded by
            // the micro-batch, not the stream. In-gap late events from
            // a previous batch extend the open session's bounds.
            val evs = it.toArray.sortBy(_.tsUs)
            val (open, closed) =
              foldBatch(user, state.getOption.orNull, evs, gapUs)
            state.update(open)
            // flush when the watermark passes the session close; the
            // state API clamps are on us: the timeout must sit strictly
            // beyond the current watermark
            val closeMs = open.lastUs / 1000L + gapSeconds * 1000L
            state.setTimeoutTimestamp(
              math.max(closeMs, state.getCurrentWatermarkMs() + 1L))
            closed.iterator
          }
      }
  }

  /** The session gap rule over one micro-batch's events for a key:
    * close every session the gap rule finishes, return the still-open
    * tail.
    */
  private def foldBatch(user: Long, prior: OpenSession,
      evs: Array[SessionEvent], gapUs: Long)
      : (OpenSession, List[ClosedSession]) = {
    var open = prior
    val closed = List.newBuilder[ClosedSession]
    for (e <- evs) {
      open match {
        case null =>
          open = OpenSession(e.tsUs, e.tsUs, 1L, e.value)
        case o if e.tsUs - o.lastUs > gapUs =>
          closed += ClosedSession(user, o.startUs, o.lastUs, o.n, o.sum)
          open = OpenSession(e.tsUs, e.tsUs, 1L, e.value)
        case o =>
          open = OpenSession(math.min(o.startUs, e.tsUs),
            math.max(o.lastUs, e.tsUs), o.n + 1L, o.sum + e.value)
      }
    }
    (open, closed.result())
  }

  /** Declarative twin: built-in `session_window` aggregation with the
    * same gap, emitting per-session (n_events, sum_value) once the
    * watermark closes the session. Append mode — each session is
    * emitted exactly once.
    */
  def sessionWindowStats(events: DataFrame, gapSeconds: Long,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))
}
