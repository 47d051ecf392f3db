package graft.queries

import graft.queries.QueryInputs._
import org.apache.spark.sql.functions._

/** Joins (`j*`): pivot, resume anti-join, broadcast dims, AS-OF, range,
  * interval-overlap and fuzzy joins.
  */
object JoinQueries {

  val specs: Seq[QuerySpec] = Seq(
    // J4: classic small-dim broadcast join (the "broadcast small dims"
    // pattern of the 100 TB design): per-nation customer account stats,
    // nation (25 rows) broadcast against the big fact side
    QuerySpec("j4_dim_join", (s, dir) => {
      val nation = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"), col("n_name"))
      s.read.parquet(s"$dir/customer.parquet")
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 6).as("total_acctbal"))
    },
      oracle = ("SELECT n.n_name, count(*) AS n_customers, round(sum(c.c_acctbal), 6) AS total_acctbal " +
          "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY 1")),

    // J5: AS-OF JOIN — each event enriched with the user's most recent
    // order at event time (inclusive, largest-orderkey tie rule). The
    // union-tag + running-last implementation: ONE shuffle on the key,
    // no range join, no per-left argmax (see operators/AsOf.scala)
    QuerySpec("j5_asof_join", (s, dir) =>
      graft.operators.AsOf.asofJoin(
        events(s, dir), leftKey = "user_id", leftTs = "ts", leftId = "event_id",
        s.read.parquet(s"$dir/orders.parquet"),
        rightKey = "o_custkey", rightTs = "o_orderdate", rightId = "o_orderkey",
        rightVal = "o_totalprice"),
      oracle = graft.operators.AsOf.asofOracleSql(
        "events", "user_id", "ts", "event_id",
        "orders", "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")),

    // Skew-safe AS-OF: the same join sharded over (key, time-bucket)
    // with per-bucket carry-in — the variant that survives one user
    // holding most of the event history. Held to the SAME oracle as
    // j5_asof_join (identity pinned under a one-hot-key fixture in
    // OperatorsSpec).
    QuerySpec("j5_asof_bucketed", (s, dir) =>
      graft.operators.AsOf.asofJoinBucketed(
        events(s, dir), leftKey = "user_id", leftTs = "ts", leftId = "event_id",
        s.read.parquet(s"$dir/orders.parquet"),
        rightKey = "o_custkey", rightTs = "o_orderdate", rightId = "o_orderkey",
        rightVal = "o_totalprice", nBuckets = 16),
      oracle = graft.operators.AsOf.asofOracleSql(
        "events", "user_id", "ts", "event_id",
        "orders", "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")),

    // J2: checkpoint/resume anti-join (broadcast hash anti-join)
    QuerySpec("j2_resume_antijoin", (s, dir) => {
      import s.implicits._
      val completed = Seq(0L, 1L, 2L, 3L).toDF("pid")
      docs(s, dir).withColumn("pid", col("doc_id") % 32)
        .join(broadcast(completed), Seq("pid"), "left_anti")
        .select(col("doc_id"), col("pid"))
    },
      oracle = "SELECT doc_id, (doc_id % 32) AS pid FROM documents WHERE (doc_id % 32) NOT IN (0, 1, 2, 3)"),

    // RANGE JOIN: event values classified into overlapping price
    // bands via bucket expansion — the equi-join-on-bucket spine that
    // keeps interval containment a hash join (the naive BETWEEN
    // predicate plans a nested loop). Bands lo=7b, hi=7b+9 overlap by
    // 2, so boundary values match two bands (multi-match pinned).
    QuerySpec("j6_range_join", (s, dir) => {
      val bands = s.range(0, 71).select(col("id").as("band"),
        (col("id") * 7).cast("double").as("lo"),
        (col("id") * 7 + 9).cast("double").as("hi"))
      graft.operators.RangeJoin.rangeJoin(
          events(s, dir).select(col("event_id"), col("value")), "value",
          bands, "lo", "hi", bucketWidth = 10.0)
        .select(col("event_id"), col("band"), col("value"))
    },
      oracle = """WITH bands AS (SELECT b AS band, CAST(b * 7 AS DOUBLE) AS lo,
          |    CAST(b * 7 + 9 AS DOUBLE) AS hi
          |  FROM (SELECT unnest(generate_series(0, 70)) AS b))
          |SELECT e.event_id, bands.band, e.value
          |FROM events e JOIN bands ON e.value >= bands.lo AND e.value <= bands.hi""".stripMargin),

    // INTERVAL-OVERLAP JOIN: per-user click windows × error windows
    // ([value, value+20] each) — both sides bucket-expanded, pair
    // kept only in the first shared bucket, user_id as the extra hash
    // key that bounds candidate volume per entity. Overlap length is
    // pure double arithmetic, identical in both engines.
    QuerySpec("j7_interval_overlap", (s, dir) => {
      val ev = events(s, dir)
      def side(t: String, p: String) = ev
        .where(col("event_type") === t)
        .select(col("user_id"), col("event_id").as(s"${p}_id"),
          col("value").as(s"${p}_lo"),
          (col("value") + lit(20.0)).as(s"${p}_hi"))
      graft.operators.RangeJoin.intervalOverlapJoin(
          side("click", "a"), "a_lo", "a_hi",
          side("error", "b"), "b_lo", "b_hi",
          bucketWidth = 25.0, equiKeys = Seq("user_id"))
        .select(col("user_id"), col("a_id"), col("b_id"),
          round(least(col("a_hi"), col("b_hi")) -
            greatest(col("a_lo"), col("b_lo")), 6).as("overlap"))
    },
      oracle = """WITH a AS (SELECT user_id, event_id AS a_id, value AS a_lo,
          |    value + 20.0 AS a_hi FROM events WHERE event_type = 'click'),
          |  b AS (SELECT user_id, event_id AS b_id, value AS b_lo,
          |    value + 20.0 AS b_hi FROM events WHERE event_type = 'error')
          |SELECT a.user_id, a.a_id, b.b_id,
          |  ROUND(LEAST(a.a_hi, b.b_hi) - GREATEST(a.a_lo, b.b_lo), 6) AS overlap
          |FROM a JOIN b ON a.user_id = b.user_id
          |  AND a.a_lo <= b.b_hi AND b.b_lo <= a.a_hi""".stripMargin),

    // FUZZY JOIN (record linkage): dirty single-edit variants matched
    // back to canonical strings under levenshtein <= 2 via the
    // lossless positional q-gram filter — equi-join on (gram,
    // pos-bucket), count filter, short-string fallback branch, exact
    // verify. Output is bit-identical to the brute-force predicate
    // join the oracle runs; the Spark side never forms |L| x |R|.
    QuerySpec("j8_fuzzy_join", (s, dir) => {
      val F = graft.operators.FuzzyJoin
      val d = docs(s, dir)
      F.fuzzyJoin(
        d.select(col("doc_id").as("l_id"), F.canonicalCol(col("doc_id")).as("l_s")),
        "l_id", "l_s",
        d.select(col("doc_id").as("r_id"), F.dirtyCol(col("doc_id")).as("r_s")),
        "r_id", "r_s", d = 2, q = 3)
    },
      oracle = {
        val F = graft.operators.FuzzyJoin
        s"""WITH l AS (SELECT doc_id AS l_id, ${F.canonicalSql("doc_id")} AS l_s FROM documents),
           |  r AS (SELECT doc_id AS r_id, ${F.dirtySql("doc_id")} AS r_s FROM documents)
           |SELECT l.l_id, r.r_id, CAST(levenshtein(l.l_s, r.r_s) AS BIGINT) AS dist
           |FROM l JOIN r ON abs(length(l.l_s) - length(r.r_s)) <= 2
           |  AND levenshtein(l.l_s, r.r_s) <= 2""".stripMargin
      }),

    // J1: backend-keyed result merge as a pivot (ocr_evaluation.py:160-172
    // analogue): per-user event counts pivoted by type
    QuerySpec("j1_backend_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      events(s, dir).groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
    },
      oracle = ("SELECT user_id, " +
          Seq("click", "error", "purchase", "signup", "view").map(t =>
            s"CAST(count(*) FILTER (WHERE event_type = '$t') AS BIGINT) AS n_$t").mkString(", ") +
          " FROM events GROUP BY 1"))
  )
}
