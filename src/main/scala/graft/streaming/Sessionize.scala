package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Gap-based user sessionization — the custom-state streaming operator
  * (KeyValueGroupedDataset.flatMapGroupsWithState) with an exactly
  * equivalent batch twin:
  *
  *   a session = consecutive events of one user with inter-event gap
  *   <= GapMinutes; emitted as (user_id, session_start, n_events,
  *   total_value).
  *
  * Batch twin: lag + cumulative-sum session indexing over a per-user
  * window — restatable in DuckDB, so the driver query `st_sessionize`
  * is oracle-checked. The streaming path holds one open session per
  * user in GroupState, closes it on a gap or event-time timeout
  * (watermark), and is pinned against the batch twin in tests
  * (stream-emitted sessions == batch sessions that the final watermark
  * has passed).
  *
  * Scale: state per key is ONE open session (constant size), the
  * pattern that holds at 10^12 events; the batch twin's window shuffle
  * is one exchange keyed on user_id.
  *
  * Parity contract: session BOUNDARIES and event counts are exactly
  * equal between stream and batch (both compare gaps in exact
  * microseconds). total_value is equal at 6 decimals up to floating
  * re-association ONLY: the stream folds per-batch partial sums in
  * interval-merge order, the batch twin aggregates in an unspecified
  * order, so two sums within 1 ulp of a 0.5e-6 rounding boundary can
  * round differently — fixtures pin totals with exactly-representable
  * values, and exact-total consumers should recompute from events.
  */
object Sessionize {

  val GapMinutes = 10

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)
  /** Per-user state: disjoint open sessions, ordered by start. */
  final case class OpenSessions(sessions: Vector[SessionState])
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                           n_events: Long, total_value: Double)

  private val GapMs = GapMinutes * 60 * 1000L
  private val GapUs = GapMs * 1000L

  /** HALF_UP at 6 places — matches Spark's round() in the batch twin. */
  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact MICROSECONDS since epoch — the same precision the batch
    * twin compares gaps in (unix_micros); Timestamp.getTime truncates
    * to ms and would split sub-ms knife-edge gaps differently.
    */
  private[streaming] def micros(ts: java.sql.Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000

  private def tsFromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000000 * 1000)
    t.setNanos((us % 1000000).toInt * 1000)
    t
  }

  /** Streaming sessionization over a watermarked event stream.
    *
    * State per user is a SET of disjoint open sessions (intervals),
    * not a single one: events within a micro-batch arrive unordered,
    * and across micro-batches an ADMISSIBLE late event (above the
    * watermark) may precede, fall inside, or BRIDGE previously seen
    * sessions. Each invocation folds prior intervals and new events
    * (as singleton intervals) through a gap-tolerant interval merge —
    * equivalent to sessionizing the union of all underlying event
    * timestamps, so stream == batch for every admissible arrival
    * order (round-2 ADVICE: the old single-session state moved lastTs
    * BACKWARD on late events and could split or time out early).
    *
    * A session is emitted exactly when the watermark passes its close
    * point (lastTs + gap): no admissible event can attach to it any
    * more. The state size is bounded by the number of disjoint
    * sessions still above the watermark — one, in the common case,
    * since the watermark lags max event time by exactly one gap.
    */
  def sessionizeStream(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", s"$GapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSessions, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[OpenSessions]) =>
          val wmUs = state.getCurrentWatermarkMs * 1000L
          val prior = state.getOption.map(_.sessions).getOrElse(Vector.empty)
          // all times in exact MICROSECONDS (batch-twin parity). The
          // event_id tiebreak keeps the fold order of SAME-TIMESTAMP
          // events deterministic (double addition does not
          // re-associate, so iterator order would otherwise leak into
          // total_value's last ulp); prior intervals sort before
          // singletons at an equal start.
          val units = (prior.map(s => (s, Long.MinValue)) ++ it.map { e =>
            val t = micros(e.ts); (SessionState(t, t, 1, e.value), e.event_id)
          }).sortBy { case (s, tie) => (s.start, s.lastTs, tie) }.map(_._1)
          val merged = Vector.newBuilder[SessionState]
          var cur: SessionState = null
          units.foreach { u =>
            if (cur == null) cur = u
            else if (u.start - cur.lastTs <= GapUs)
              cur = SessionState(cur.start, math.max(cur.lastTs, u.lastTs),
                cur.n + u.n, cur.total + u.total)
            else { merged += cur; cur = u }
          }
          if (cur != null) merged += cur
          // final once no admissible event (>= watermark) can attach
          val (closed, open) = merged.result().partition(s => s.lastTs + GapUs < wmUs)
          if (open.nonEmpty) {
            state.update(OpenSessions(open))
            // close when the watermark passes the earliest open close
            // point (ms API: round UP so a session never times out a
            // fraction of a ms early; clamp above the watermark, which
            // the timeout API requires)
            state.setTimeoutTimestamp(math.max(state.getCurrentWatermarkMs + 1,
              (open.map(_.lastTs).min + GapUs + 999) / 1000))
          } else state.remove()
          closed.iterator.map(s => Session(userId, tsFromMicros(s.start), s.n, round6(s.total)))
      }
  }

  /** Batch twin: identical session boundaries via lag + cumulative sum
    * (one window shuffle on user_id). total_value rounded to 6 like
    * every cross-engine double in the driver contract.
    */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    // gaps compared in exact MICROSECONDS: second-truncating
    // unix_timestamp here vs fractional epoch() in the oracle split
    // knife-edge gaps differently (found by the driver gate)
    // cast("timestamp"): parquet may surface ts as TIMESTAMP_NTZ, which
    // unix_micros rejects; in the UTC driver session the cast is the
    // identity on the wall clock, and gap DIFFERENCES are tz-invariant
    val marked = events.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("prev_ts").cast("timestamp")) > GapMs * 1000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("total_value"))
      .select(col("user_id"), col("session_start"), col("n_events"), col("total_value"))
  }

  /** DuckDB oracle of sessionizeBatch over the `events` table. */
  def batchOracleSql: String =
    s"""WITH m AS (
       |  SELECT user_id, ts, event_id, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > ${GapMs * 1000L} THEN 1 ELSE 0 END AS new_s
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
       |s AS (
       |  SELECT user_id, ts, value,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
       |  FROM m)
       |SELECT user_id, epoch_us(min(ts)) AS session_start_epoch,
       |  count(*) AS n_events, round(sum(value), 6) AS total_value
       |FROM s GROUP BY user_id, session_idx""".stripMargin
}
