package graft.queries

import graft.operators.Dedup
import graft.queries.EventQueries.rankOk
import graft.queries.QueryInputs._
import org.apache.spark.sql.functions._

/** Batch twins of the Structured Streaming surface (`st_*`): each runs
  * the same code path as its stream, and the stream is pinned equal to
  * the twin in StreamingSpec/MultimodalSpec.
  */
object StreamingQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Streaming face of the quantile summary: per-(day-window, type)
    // approx_percentile as a standard streaming aggregation (GK
    // sketches are mergeable state — EventsStream.quantilesWindowedAgg;
    // rank contract pinned against the stream in StreamingSpec). Same
    // rank-bound oracle as ev_quantiles_approx, per window.
    QuerySpec("st_quantiles", (s, dir) => {
      val acc = 1000
      // explicit not-null gate on BOTH engines (oracle SQL mirrors
      // it): a null-ts group would survive DuckDB's GROUP BY but be
      // dropped by this join's non-null-safe window key, and null
      // values would inflate n without entering the rank counts —
      // the review-pass latent-asymmetry finding
      val evSrc = events(s, dir).where(col("ts").isNotNull && col("value").isNotNull)
      val q = graft.streaming.EventsStream.quantilesWindowedAgg(evSrc, acc)
        .select(col("window_start_ms"), col("event_type"), col("n"),
          col("ap")(0).as("a50"), col("ap")(1).as("a90"), col("ap")(2).as("a99"))
      val ev = evSrc.select(
        unix_millis(window(col("ts"), "1 day").getField("start").cast("timestamp")).as("wsm"),
        col("event_type").as("et"), col("value"))
      q.join(ev, col("window_start_ms") === col("wsm") && col("event_type") === col("et"))
        .groupBy(col("window_start_ms"), col("event_type"), col("n"),
          col("a50"), col("a90"), col("a99"))
        .agg(rankOk(0.5, col("a50"), acc).as("p50_ok"),
          rankOk(0.9, col("a90"), acc).as("p90_ok"),
          rankOk(0.99, col("a99"), acc).as("p99_ok"))
        .select(col("window_start_ms"), col("event_type"), col("n"),
          col("p50_ok"), col("p90_ok"), col("p99_ok"))
    },
      oracle = """SELECT CAST(epoch_ms(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS window_start_ms,
          |  event_type, count(*) AS n,
          |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
          |FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
          |GROUP BY 1, 2""".stripMargin),

    // Streaming twin: the EXACT aggregation the Structured Streaming
    // surface runs (watermarked 5-min tumbling windows; EventsStream.
    // windowedAgg) executed over the same code path in batch mode —
    // the oracle-checkable face of the readStream query (the stream
    // itself is pinned equal to this twin in MultimodalSpec)
    QuerySpec("st_windowed_agg", (s, dir) =>
      graft.streaming.EventsStream.batchEquivalent(s, s"$dir/events.parquet")
        .select(unix_timestamp(col("window_start")).cast("long").as("window_start_epoch"),
          col("event_type"), col("n"), col("total_value")),
      oracle = ("SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS window_start_epoch, " +
          "event_type, count(*) AS n, round(sum(value), 6) AS total_value FROM events GROUP BY 1, 2")),

    // Streaming JSON-props rollup twin: stateless in-plan extraction
    // feeding the watermarked windowed aggregation (one definition
    // runs as stream and twin; stream ≡ twin pinned in StreamingSpec)
    QuerySpec("st_json_extract", (s, dir) =>
      graft.streaming.EventsStream.jsonBatchEquivalent(s, s"$dir/events.parquet")
        .select(unix_timestamp(col("window_start")).cast("long").as("window_start_epoch"),
          col("event_type"), col("n_with_k"), col("sum_k")),
      oracle = ("SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS window_start_epoch, " +
          "event_type, count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k, " +
          "CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k " +
          "FROM events GROUP BY 1, 2")),

    // Streaming windowed heavy hitters twin: per-day-window
    // Misra-Gries whose m-counter buffers live in the state store and
    // merge across micro-batches. Same contract oracle as
    // ta_heavy_hitters, per window: hot keys present (inner join),
    // undercount bracketed — counter values are merge-order-dependent
    // and never oracled. Stream ≡ contract pinned in StreamingSpec.
    QuerySpec("st_heavy_hitters", (s, dir) => {
      val evPath = s"$dir/events.parquet"
      val sk = graft.streaming.EventsStream.heavyBatchEquivalent(s, evPath)
      val est = sk.select(col("window_start_ms"), col("n"),
          explode(col("hh")).as("e"))
        .select(col("window_start_ms"), col("n"),
          col("e.key").as("key"), col("e.est").as("est"))
      val ev = s.read.schema(graft.streaming.EventsStream.eventsSchema)
        .parquet(evPath).where(col("event_id").isNotNull)
      val key = when(col("event_id") % 10 < 5,
          concat(lit("hot_"), (col("event_id") % 10).cast("string")))
        .otherwise(concat(lit("cold_"), col("event_id").cast("string")))
      val exact = ev
        .select(window(col("ts"), "1 day").as("w"), key.as("key"))
        .groupBy(unix_millis(col("w.start").cast("timestamp")).as("window_start_ms"),
          col("key"))
        .agg(count(lit(1)).as("exact_cnt"))
      exact.join(est, Seq("window_start_ms", "key"))
        .where(col("exact_cnt") * 64 > col("n"))
        .select(col("window_start_ms"), col("key"), col("exact_cnt"),
          (col("est") <= col("exact_cnt")).as("under_ok"),
          ((col("exact_cnt") - col("est")) * 64 <= col("n")).as("gap_ok"))
    },
      oracle = """WITH t AS (SELECT CAST(epoch_ms(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS window_start_ms,
          |    CASE WHEN event_id % 10 < 5 THEN 'hot_' || CAST(event_id % 10 AS VARCHAR)
          |         ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
          |  FROM events WHERE event_id IS NOT NULL),
          |  nn AS (SELECT window_start_ms, count(*) AS n FROM t GROUP BY 1)
          |SELECT t.window_start_ms, t.key, count(*) AS exact_cnt,
          |  TRUE AS under_ok, TRUE AS gap_ok
          |FROM t JOIN nn USING (window_start_ms)
          |GROUP BY t.window_start_ms, t.key, nn.n HAVING count(*) * 64 > nn.n""".stripMargin),

    // Stream-static enrichment twin: micro-batch broadcast join
    // against the nation dim feeding the watermarked windowed rollup
    // (stateless join, only the agg holds state; stream ≡ twin pinned
    // in StreamingSpec)
    QuerySpec("st_enrich", (s, dir) =>
      graft.streaming.EventsStream.enrichedBatchEquivalent(
          s, s"$dir/events.parquet",
          s.read.parquet(s"$dir/nation.parquet")
            .select(col("n_nationkey").cast("long").as("n_nationkey"),
              col("n_name")))
        .select(unix_timestamp(col("window_start")).cast("long").as("window_start_epoch"),
          col("n_name"), col("n"), col("total_value")),
      oracle = ("SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', e.ts)) AS BIGINT) AS window_start_epoch, " +
          "n.n_name, count(*) AS n, round(sum(e.value), 6) AS total_value " +
          "FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey GROUP BY 1, 2")),

    // Streaming windowed anomaly twin: per-(user, day-window) z-score
    // flags — the custom-state stream (buffer per open window, emit at
    // event-time timeout) restated as two batch window functions
    // (stream ≡ twin pinned in StreamingSpec)
    QuerySpec("st_anomaly", (s, dir) =>
      graft.streaming.EventsStream.anomalyBatch(events(s, dir)),
      oracle = """SELECT user_id, window_start_ms, event_id, value, z FROM (
          |  SELECT user_id,
          |    CAST(epoch_ms(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS window_start_ms,
          |    event_id, value,
          |    round((value - avg(value) OVER w) / (stddev_pop(value) OVER w), 6) AS z
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id, time_bucket(INTERVAL '1 day', ts))
          |  QUALIFY (stddev_pop(value) OVER w) > 0)
          |WHERE z >= 2.0""".stripMargin),

    // Streaming FIRST-TOUCH funnel twin: three conditional mins per
    // user — monotone, order-insensitive — so the funnel runs as a
    // plain streaming aggregation and stream ≡ batch holds under ANY
    // arrival order (stronger than the watermark-admissible family;
    // pinned in StreamingSpec with a scrambled-batch run). Contrast
    // ev_funnel's chained min-after semantics, which needs the full
    // event set per stage and is the BATCH-only face.
    QuerySpec("st_funnel", (s, dir) =>
      graft.streaming.EventsStream.funnelBatchEquivalent(s, s"$dir/events.parquet"),
      oracle = """WITH f AS (SELECT user_id,
          |    min(CASE WHEN event_type = 'view' THEN ts END) AS v,
          |    min(CASE WHEN event_type = 'click' THEN ts END) AS c,
          |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1)
          |SELECT user_id, CAST(1
          |  + (CASE WHEN c IS NOT NULL AND c > v THEN 1 ELSE 0 END)
          |  + (CASE WHEN c IS NOT NULL AND c > v AND p IS NOT NULL AND p > c
          |     THEN 1 ELSE 0 END) AS BIGINT) AS reached
          |FROM f WHERE v IS NOT NULL""".stripMargin),

    // Stateful-streaming twin: gap-based user sessionization — the
    // flatMapGroupsWithState operator's batch twin (identical session
    // boundaries via lag + cumulative sum; stream ≡ batch pinned in
    // StreamingSpec). Custom per-key state is the §2.8 capability the
    // watermarked windowed agg alone doesn't exercise.
    QuerySpec("st_sessionize", (s, dir) =>
      graft.streaming.Sessionize.sessionizeBatch(events(s, dir))
        .select(col("user_id"),
          unix_micros(col("session_start").cast("timestamp")).as("session_start_epoch"),
          col("n_events"), col("total_value")),
      oracle = graft.streaming.Sessionize.batchOracleSql),

    // Streaming exact-dedup twin: first event per (user_id,
    // event_type) under the deterministic earliest-(ts, event_id)
    // statement of first arrival — the batch face of
    // EventsStream.dedupStream (stream ≡ twin pinned in StreamingSpec)
    QuerySpec("st_dedup", (s, dir) =>
      graft.streaming.EventsStream.dedupBatch(events(s, dir))
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_epoch"), col("value")),
      oracle = ("WITH r AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_epoch, value, " +
          "row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC) AS rn " +
          "FROM events) " +
          "SELECT user_id, event_type, event_id, ts_epoch, value FROM r WHERE rn = 1")),

    // Streaming ingest-gate twin: the ACCRETING admission pipeline —
    // new docs (odd ids) arrive in 3 ordered micro-batches and each
    // batch is gated against corpus ∪ earlier admissions, so a doc
    // admitted at batch k rejects its near-dups at batch k+1 (stream ≡
    // twin pinned in StreamingSpec; the stream materializes per-batch,
    // so only the twin's plan grows with K)
    QuerySpec("st_ingest", (s, dir) => {
      val d = docs(s, dir)
      graft.streaming.IngestStream.ingestBatchTwin(
        corpus = d.where(col("doc_id") % 2 === 0),
        newDocs = d.where(col("doc_id") % 2 =!= 0),
        batchOf = pmod(floor(col("doc_id") / 100).cast("long"), lit(3)),
        nBatches = 3, bands = 8, rowsPerBand = 4, threshold = 0.8)
    },
      oracle = Dedup.streamingIngestOracleSql(
        corpusPred = "doc_id % 2 = 0", batchExpr = "(doc_id // 100) % 3",
        nBatches = 3, bands = 8, rowsPerBand = 4, threshold = 0.8)),

    // INDEXED face of the accreting ingest gate: identical admission
    // semantics (SAME chained oracle as st_ingest) but the reference
    // side is persisted sketch state — corpus sketched once, each
    // batch probes the accreted digest/bucket/toks slices and appends
    // its own. The production path at 100 TB: no per-batch corpus
    // re-scan (IngestIndex scaladoc; no-corpus-read pinned in
    // StreamingSpec by deleting the corpus dir after init).
    QuerySpec("st_ingest_indexed", (s, dir) => {
      val d = docs(s, dir)
      graft.streaming.IngestIndex.ingestBatchTwinIndexed(
        corpus = d.where(col("doc_id") % 2 === 0),
        newDocs = d.where(col("doc_id") % 2 =!= 0),
        batchOf = pmod(floor(col("doc_id") / 100).cast("long"), lit(3)),
        nBatches = 3, bands = 8, rowsPerBand = 4, threshold = 0.8)
    },
      // indexed gate ≡ re-sketching gate by construction — verified by
      // holding both to the SAME chained oracle
      oracle = Dedup.streamingIngestOracleSql(
        corpusPred = "doc_id % 2 = 0", batchExpr = "(doc_id // 100) % 3",
        nBatches = 3, bands = 8, rowsPerBand = 4, threshold = 0.8))
  )
}
