package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful sessionization over the event stream — the custom-state
  * streaming operator the reference's domain implies (user_session
  * analysis) but its batch stack can't express incrementally.
  *
  * `flatMapGroupsWithState` keyed by user: events extend an open session
  * until [[GapSeconds]] of silence; the session is emitted on timeout (or
  * stream end). State per key is one small case class — bounded by active
  * users, the canonical scale profile for this operator.
  */
object Sessionize {

  /** The silence that closes a session: 30 minutes. */
  private val GapSeconds = 1800L

  final case class SessionEvent(user_id: Long, event_time: Timestamp, event_type: String)

  final case class SessionState(start: Long, end: Long, events: Int, purchases: Int)

  final case class UserSession(user_id: Long, session_start: Timestamp,
                               session_end: Timestamp, n_events: Int,
                               n_purchases: Int, duration_sec: Long)

  /** Pure state-transition function (shared by the streaming operator and
    * the batch test harness — deterministic, no wall-clock access).
    *
    * Implemented as an interval merge: the batch's (sorted) events fold
    * into session intervals, which then merge with the open session from
    * state in interval order. A late (within-watermark) event therefore
    * joins the open session only if it lands within [[GapSeconds]] of it on
    * EITHER side — an event older than (session_start − gap) forms its own
    * closed session instead of regressing session_start past the gap
    * boundary. */
  def updateState(userId: Long, events: Iterator[SessionEvent],
                  state: GroupState[SessionState]): Iterator[UserSession] = {
    val gapMs = GapSeconds * 1000
    val sorted = events.toSeq.sortBy(_.event_time.getTime)
    val batchSessions = sorted.foldLeft(List.empty[SessionState]) { (acc, e) =>
      val t = e.event_time.getTime
      val p = if (e.event_type == "purchase") 1 else 0
      acc match {
        case h :: rest if t - h.end <= gapMs =>
          h.copy(end = math.max(h.end, t),
            events = h.events + 1, purchases = h.purchases + p) :: rest
        case _ => SessionState(t, t, 1, p) :: acc
      }
    }.reverse
    // Newest session at head after the fold below.
    val merged = (state.getOption.toList ::: batchSessions)
      .sortBy(s => (s.start, s.end))
      .foldLeft(List.empty[SessionState]) { (acc, s) =>
        acc match {
          case h :: rest if s.start - h.end <= gapMs =>
            SessionState(math.min(h.start, s.start), math.max(h.end, s.end),
              h.events + s.events, h.purchases + s.purchases) :: rest
          case _ => s :: acc
        }
      }
    if (state.hasTimedOut) {
      state.remove()
      merged.reverse.map(toSession(userId, _)).iterator
    } else {
      merged.headOption.foreach { s =>
        state.update(s)
        // Register the close-on-silence timeout every batch (an idle key is
        // only re-invoked by its timeout — skipping registration in the
        // first, watermark-0 batch would leave the session open forever).
        // Clamp above the watermark: setTimeoutTimestamp rejects the past.
        state.setTimeoutTimestamp(
          math.max(s.end + gapMs, state.getCurrentWatermarkMs() + 1))
      }
      // Everything but the newest session closes now, oldest first.
      merged.drop(1).reverse.map(toSession(userId, _)).iterator
    }
  }

  private def toSession(userId: Long, s: SessionState): UserSession =
    UserSession(userId, new Timestamp(s.start), new Timestamp(s.end),
      s.events, s.purchases, (s.end - s.start) / 1000)

  /** Batch sessionization — the same gap rule as the streaming operator,
    * expressed relationally so it is SQL-oracle-checkable and runs as two
    * window passes + one aggregation over ONE shuffle on user_id (the
    * window and the groupBy share the hash partitioning; no state store).
    *
    * session boundary: first event per user, or gap from the previous
    * event > gapSeconds; session_idx = running count of boundaries.
    * Input needs (event_id, user_id, ts, event_type); ties within a
    * timestamp are ordered by event_id so the lag is total-ordered.
    *
    * `ts` may be TIMESTAMP (an instant — epoch math is always exact) or
    * TIMESTAMP_NTZ — but NTZ wall-clock times only convert to epoch
    * millis through the session timezone, and a DST-shifting zone would
    * corrupt gaps/durations around transitions, so NTZ input requires the
    * session pinned to UTC (enforced, not just documented). */
  def batchSessions(events: DataFrame, gapSeconds: Long = GapSeconds): DataFrame = {
    if (events.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType) {
      val tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
      // Any zero-offset fixed zone is fine (UTC, Etc/UTC, GMT, +00:00, Z);
      // only zones with shifting rules corrupt NTZ→epoch gap math.
      val normalized = java.time.ZoneId.of(tz).normalized()
      require(normalized == java.time.ZoneOffset.UTC,
        s"batchSessions on TIMESTAMP_NTZ needs a UTC session timezone " +
          s"(got $tz): NTZ→epoch conversion via a DST-shifting zone corrupts gap math")
    }
    val tMs = unix_millis(col("ts").cast("timestamp"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      // A null timestamp cannot be placed in any session: it sorts at a
      // NULLS FIRST/LAST boundary (engines disagree — Spark FIRST, the
      // DuckDB oracle LAST) and its gap math is NULL, so it would both
      // diverge from the oracle AND corrupt the boundary flags of its
      // neighbors. Dropped at entry — the same policy AsofJoin applies to
      // null-key/null-time rows.
      .filter(col("ts").isNotNull)
      .withColumn("__new", when(lag(tMs, 1).over(w).isNull ||
        tMs - lag(tMs, 1).over(w) > gapSeconds * 1000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("__new")).over(run))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        (max(tMs) - min(tMs)).as("duration_ms"))
  }

  /** Streaming sessionization: watermarked event-time state with per-key
    * timeouts. Input must carry (user_id, event_time, event_type). */
  def sessions(spark: SparkSession, events: Dataset[SessionEvent]): Dataset[UserSession] = {
    import spark.implicits._
    events
      .withWatermark("event_time", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (k: Long, it: Iterator[SessionEvent], st: GroupState[SessionState]) =>
          updateState(k, it, st))
  }
}
