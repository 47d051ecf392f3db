package graft.queries

import graft.queries.QueryInputs._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-table analytics (`ev_*`): JSON props, anomalies, histograms,
  * funnels, quantiles, transitions, sequences, retention, distinct
  * counts and rolling stats.
  */
object EventQueries {

  /** The approx-quantile rank-contract flag (shared by the type-level
    * and windowed quantile oracles): used inside a grouped agg whose
    * rows carry `n` (group size) and `value`; TRUE iff the candidate
    * value's exact rank interval [count(<a), count(<=a)] intersects
    * p*n ± (n/accuracy + 1) — the bound approx_percentile guarantees.
    */
  private[queries] def rankOk(p: Double, a: Column, acc: Int): Column = {
    val target = lit(p) * col("n").cast("double")
    val slack = col("n").cast("double") / lit(acc.toDouble) + lit(1.0)
    (sum(when(col("value") < a, 1L).otherwise(0L)).cast("double") <= target + slack) &&
      (sum(when(col("value") <= a, 1L).otherwise(0L)).cast("double") >= target - slack)
  }

  val specs: Seq[QuerySpec] = Seq(
    // Semi-structured extraction: JSON payload column parsed in-plan
    // (get_json_object is codegen'd — no UDF) and aggregated — the
    // props-bag pattern every event pipeline carries; parse errors and
    // absent keys surface as NULLs that the aggregate skips. The
    // fixture's props are all well-formed, so the dirty-data path is
    // exercised by PLANTING deterministic corruption in-plan (same
    // CASE on both engines): malformed JSON (% 97), absent key
    // (% 101), non-integer k (% 103). try_cast (not cast) is load-
    // bearing — the session runs ANSI mode, where cast('oops' AS
    // BIGINT) throws instead of yielding NULL.
    QuerySpec("ev_json_extract", (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          when(col("event_id") % 97 === 0, lit("{not json"))
            .when(col("event_id") % 101 === 0, lit("""{"j":1}"""))
            .when(col("event_id") % 103 === 0, lit("""{"k":"oops"}"""))
            .otherwise(col("props")).as("pr"))
        .select(col("event_type"),
          get_json_object(col("pr"), "$.k").try_cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"),
          sum(col("k")).cast("long").as("sum_k"),
          max(col("k")).cast("long").as("max_k")),
      // json_valid guard + TRY_CAST = DuckDB's try-semantics twin of
      // Spark get_json_object + try_cast (json_extract_string on
      // malformed JSON and CAST('oops') both THROW in DuckDB)
      oracle = """WITH p AS (SELECT event_type,
          |    CASE WHEN event_id % 97 = 0 THEN '{not json'
          |         WHEN event_id % 101 = 0 THEN '{"j":1}'
          |         WHEN event_id % 103 = 0 THEN '{"k":"oops"}'
          |         ELSE props END AS pr FROM events),
          |k AS (SELECT event_type,
          |    TRY_CAST(CASE WHEN json_valid(pr) THEN json_extract_string(pr, '$.k') END AS BIGINT) AS k
          |  FROM p)
          |SELECT event_type, count(k) AS n_with_k,
          |  CAST(sum(k) AS BIGINT) AS sum_k, CAST(max(k) AS BIGINT) AS max_k
          |FROM k GROUP BY event_type""".stripMargin),

    // Per-user anomaly flagging: events whose value exceeds the USER'S
    // own mean by >= 2.5 population standard deviations — per-entity
    // z-score outliers, one shuffle on user_id feeding both window
    // aggregates; the threshold compares the ROUNDED z on both engines
    // so the knife edge cuts identically
    QuerySpec("ev_anomaly", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          avg(col("value")).over(w).as("mu"),
          stddev_pop(col("value")).over(w).as("sd"))
        .where(col("sd") > 0)
        .select(col("user_id"), col("event_id"), col("value"),
          round((col("value") - col("mu")) / col("sd"), 6).as("z"))
        .where(col("z") >= 2.5)
    },
      oracle = """SELECT user_id, event_id, value, z FROM (
          |  SELECT user_id, event_id, value,
          |    round((value - avg(value) OVER w) / (stddev_pop(value) OVER w), 6) AS z
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id)
          |  QUALIFY (stddev_pop(value) OVER w) > 0)
          |WHERE z >= 2.5""".stripMargin),

    // Equi-width HISTOGRAM per event type (the distribution summary
    // behind every monitoring dashboard): one hash agg on the
    // (type, bucket) pair — bucket ids are integer floor(value/w), so
    // bins are exact and mergeable; empty bins are absent rows by
    // design (the renderer densifies, not the engine — at 10^12 rows
    // materializing empties would manufacture |types|x|range| rows).
    QuerySpec("ev_histogram", (s, dir) =>
      events(s, dir).where(col("value").isNotNull)
        .groupBy(col("event_type"),
          floor(col("value") / 100.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 6).as("lo"),
          round(max(col("value")), 6).as("hi")),
      oracle = """SELECT event_type, CAST(floor(value / 100.0) AS BIGINT) AS bucket,
          |  count(*) AS n, round(min(value), 6) AS lo, round(max(value), 6) AS hi
          |FROM events WHERE value IS NOT NULL GROUP BY 1, 2""".stripMargin),

    // FUNNEL analytics (ordered-stage sequence match): how far does
    // each user get through view -> click(after) -> purchase(after)?
    // Each stage is one conditional min-ts agg chained through an
    // equi-join on user_id — stage k's input is stage k-1's survivors,
    // so candidate volume only shrinks; no per-user event array is
    // ever materialized and nothing sorts. Timestamps are compared
    // in-plan only (never output — engines may disagree on rendering,
    // not ordering).
    QuerySpec("ev_funnel", (s, dir) => {
      val e = events(s, dir)
        .where(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), col("ts"))
      val s1 = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = e.join(s1, Seq("user_id"))
        .where(col("event_type") === "click" && col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = e.join(s2, Seq("user_id"))
        .where(col("event_type") === "purchase" && col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1L) + when(col("t2").isNotNull, 1L).otherwise(0L)
            + when(col("t3").isNotNull, 1L).otherwise(0L)).as("reached"))
    },
      oracle = """WITH e AS (SELECT user_id, event_type, ts FROM events
          |    WHERE ts IS NOT NULL AND user_id IS NOT NULL),
          |  s1 AS (SELECT user_id, min(ts) AS t1 FROM e
          |    WHERE event_type = 'view' GROUP BY 1),
          |  s2 AS (SELECT e.user_id, min(ts) AS t2 FROM e JOIN s1 USING (user_id)
          |    WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
          |  s3 AS (SELECT e.user_id, min(ts) AS t3 FROM e JOIN s2 USING (user_id)
          |    WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
          |SELECT s1.user_id, CAST(1
          |  + (CASE WHEN s2.user_id IS NOT NULL THEN 1 ELSE 0 END)
          |  + (CASE WHEN s3.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached
          |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin),

    // Exact interpolated quantiles per event type (Spark `percentile`
    // ≡ DuckDB `quantile_cont`, same type-7 linear interpolation) —
    // the latency/size-distribution summary every event pipeline ships;
    // one shuffle, partial aggregation upstream
    // r07 (round-6 verdict #6): percentiles route through the
    // Quantiles size switch — exact below ExactMaxRows (every driver
    // scale: bit-identical to the old direct percentile, same oracle),
    // bounded-memory approx_percentile above (the 10^12-row OOM
    // guard); approx-regime contract pinned in SparkEntrySpec.
    QuerySpec("ev_quantiles", (s, dir) => {
      val ev = events(s, dir)
      val exact = graft.operators.Quantiles.useExact(ev)
      ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        round(graft.operators.Quantiles.pct(exact, "value", 0.5), 6).as("p50"),
        round(graft.operators.Quantiles.pct(exact, "value", 0.9), 6).as("p90"),
        round(graft.operators.Quantiles.pct(exact, "value", 0.99), 6).as("p99"))
    },
      oracle = """SELECT event_type, count(*) AS n,
          |  round(quantile_cont(value, 0.5), 6) AS p50,
          |  round(quantile_cont(value, 0.9), 6) AS p90,
          |  round(quantile_cont(value, 0.99), 6) AS p99
          |FROM events GROUP BY event_type""".stripMargin),

    // PRODUCTION face of the quantile summary (round-4 verdict #1):
    // exact `percentile` materializes a per-group value buffer — with
    // 5 event types over a 10^12-row events table one aggregation
    // buffer absorbs ~1/5 of the corpus, an executor OOM invisible at
    // sf0.1. approx_percentile is the scale shape: a bounded-memory
    // mergeable GK sketch, rank error <= n/accuracy by contract. The
    // sketch value itself is merge-order-dependent, so the ORACLE
    // checks the CONTRACT, not the value: the approx value's true
    // rank interval [count(<v), count(<=v)], computed exactly
    // in-plan, must intersect [p*n - n/acc - 1, p*n + n/acc + 1];
    // DuckDB independently states n and the always-true bound flags.
    // (The rank-back-join is oracle harness, not production cost; a
    // production run ships the sketch output directly. Value-space
    // |approx-exact| bounds don't exist for arbitrary distributions —
    // rank space is the guarantee GK actually makes; the skewed-
    // distribution sandwich vs exact percentile is pinned in
    // SparkEntrySpec.)
    QuerySpec("ev_quantiles_approx", (s, dir) => {
      val acc = 1000
      // not-null value gate on both engines: sketch and rank counts
      // both ignore nulls, but n=count(*) would not — null-heavy data
      // would flip the ok-flags while the oracle stated TRUE
      val evSrc = events(s, dir).where(col("value").isNotNull)
      val q = evSrc.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        expr(s"approx_percentile(value, array(0.5D, 0.9D, 0.99D), $acc)").as("ap"))
        .select(col("event_type"), col("n"),
          col("ap")(0).as("a50"), col("ap")(1).as("a90"), col("ap")(2).as("a99"))
      val ev = evSrc.select(col("event_type").as("et"), col("value"))
      q.join(ev, col("event_type") === col("et"))
        .groupBy(col("event_type"), col("n"), col("a50"), col("a90"), col("a99"))
        .agg(rankOk(0.5, col("a50"), acc).as("p50_ok"),
          rankOk(0.9, col("a90"), acc).as("p90_ok"),
          rankOk(0.99, col("a99"), acc).as("p99_ok"))
        .select(col("event_type"), col("n"), col("p50_ok"), col("p90_ok"), col("p99_ok"))
    },
      // the sketch contract stated from the oracle's side: exact n,
      // and the rank-bound flags MUST all hold (the Spark side
      // computes them from exact back-join rank counts — a sketch
      // whose error exceeded n/acc+1 would hash-mismatch here)
      oracle = """SELECT event_type, count(*) AS n,
          |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
          |FROM events WHERE value IS NOT NULL GROUP BY event_type""".stripMargin),

    // Event TRANSITION matrix (Markov flow between consecutive events
    // per user — the "what happens after an error" summary): one lag
    // window per user (partition bounded by user activity, the same
    // safe shape as ev_rolling) feeding one hash agg on the
    // (from, to) pair. All integer counts.
    QuerySpec("ev_transitions", (s, dir) => {
      val w = Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev"))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("from_evt"), col("event_type").as("to_evt"))
        .agg(count(lit(1)).as("n"))
    },
      oracle = """WITH t AS (SELECT event_type,
          |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      AS prev
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
          |SELECT prev AS from_evt, event_type AS to_evt, count(*) AS n
          |FROM t WHERE prev IS NOT NULL GROUP BY 1, 2""".stripMargin),

    // SEQUENCE PATTERN MATCHING over per-user event journeys
    // (MATCH_RECOGNIZE-lite): each user's events collapse to an
    // ordered initial-string ('vcpse' alphabet) via ONE hash agg —
    // collect_list partials merge map-side, array_sort orders by
    // (ts, event_id) inside the row, and adjacency patterns become
    // plain regexes on the journey (codegen'd). No window, no
    // per-user partition sort; state is bounded by per-entity
    // activity, the inherent floor for sequence reconstruction.
    QuerySpec("ev_sequence_match", (s, dir) => {
      val ini = substring(col("event_type"), 1, 1).as("i")
      events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), ini))),
          x => x.getField("i")), "").as("journey"))
        .select(col("user_id"),
          length(col("journey")).cast("long").as("n_events"),
          col("journey").rlike("cp").as("direct_purchase"),
          col("journey").rlike("ee").as("error_streak"),
          col("journey"))
    },
      oracle = """WITH j AS (SELECT user_id,
          |    string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
          |      AS journey
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1)
          |SELECT user_id, CAST(length(journey) AS BIGINT) AS n_events,
          |  regexp_matches(journey, 'cp') AS direct_purchase,
          |  regexp_matches(journey, 'ee') AS error_streak, journey
          |FROM j""".stripMargin),

    // COHORT RETENTION (first-seen day -> activity at day offset k):
    // the engagement summary every event product ships. Cohort is one
    // min-date agg; the join back is user-keyed; day offsets are
    // integer datediffs, so every output cell is an exact integer.
    // Two shuffles total (cohort agg + the (cohort, k) rollup).
    QuerySpec("ev_retention", (s, dir) => {
      val e = events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val cohorts = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
      e.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort"), datediff(col("d"), col("cohort")).as("k"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .select(col("cohort").cast("string").as("cohort_day"),
          col("k").cast("long").as("day_offset"), col("n_active"))
    },
      oracle = """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
          |    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |  c AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1)
          |SELECT CAST(c.cohort AS VARCHAR) AS cohort_day,
          |  CAST(date_diff('day', c.cohort, e.d) AS BIGINT) AS day_offset,
          |  count(DISTINCT e.user_id) AS n_active
          |FROM e JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin),

    // APPROX DISTINCT under a mergeable sketch: per-type
    // approx_count_distinct(user_id) (HyperLogLog++, rsd 0.05) against
    // the exact distinct count computed in-plan. The sketch is
    // register-max mergeable, so its value is PARTITION-ORDER
    // INDEPENDENT — deterministic for fixed data — but engine-specific
    // (DuckDB's HLL differs), so the oracle checks the CONTRACT: exact
    // n (deterministic both engines) + a bounded-relative-error flag.
    // HLL's 5% rsd is a standard deviation, not a hard bound; the 20%
    // gate is ~4 sigma — validated on the fixture, documented as
    // probabilistic (unlike the MG/GK hard guarantees).
    QuerySpec("ev_approx_distinct", (s, dir) => {
      val ev = events(s, dir)
        .where(col("event_type").isNotNull && col("user_id").isNotNull)
      ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.05).as("n_est"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_est") - col("n_exact")) * 5 <= col("n_exact"))
            .as("within_20pct"))
    },
      oracle = """SELECT event_type, count(DISTINCT user_id) AS n_exact,
          |  abs(approx_count_distinct(user_id) - count(DISTINCT user_id)) * 5
          |    <= count(DISTINCT user_id) AS within_20pct
          |FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          |GROUP BY 1""".stripMargin),

    // ROLLING row-frame stats per entity (last-4-events sum/min/max/
    // avg ordered by (ts, event_id)) — the feature-engineering shape
    // for sessions/fraud/rate features. All four aggregates share ONE
    // window spec, so the plan pays a single (user_id)-hash exchange
    // and one sort; the frame is row-bounded, so state per row is
    // O(4) however long the partition. The measure is floor(value*100)
    // — an exact integer both engines derive from the same double
    // product — so frame sums are order-free integers and the avg is
    // one rounded division at the end.
    QuerySpec("ev_rolling", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-3, 0)
      val m = floor(col("value") * 100)
      events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("roll_cnt"),
          sum(m).over(w).as("roll_sum"),
          min(m).over(w).as("roll_min"),
          max(m).over(w).as("roll_max"))
        .select(col("user_id"), col("event_id"), col("roll_cnt"),
          col("roll_sum"), col("roll_min"), col("roll_max"),
          round(col("roll_sum") / col("roll_cnt"), 6).as("roll_avg"))
    },
      oracle = """SELECT user_id, event_id,
          |  CAST(count(*) OVER w AS BIGINT) AS roll_cnt,
          |  CAST(sum(m) OVER w AS BIGINT) AS roll_sum,
          |  CAST(min(m) OVER w AS BIGINT) AS roll_min,
          |  CAST(max(m) OVER w AS BIGINT) AS roll_max,
          |  ROUND(CAST(sum(m) OVER w AS DOUBLE) / count(*) OVER w, 6) AS roll_avg
          |FROM (SELECT user_id, event_id, ts, CAST(floor(value * 100) AS BIGINT) AS m
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |    AND value IS NOT NULL)
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin)
  )
}
