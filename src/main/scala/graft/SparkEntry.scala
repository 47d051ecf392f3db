package graft

import graft.queries.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: one query per implemented operator (SURVEY.md §2)
  * plus the training-data-pipeline operators, each with an equivalent
  * DuckDB oracle where SQL-expressible.
  *
  * Each query is declared once, with its oracle, as a
  * [[graft.queries.QuerySpec]] in one family file under
  * `graft.queries`; `queries` and `oracleSql` are views over that list.
  *
  * Oracle strategy: every generated fixture field is a pure function of
  * (doc_id, text), so the DuckDB oracle can re-state the expected
  * distributed result as plain SQL over the same parquet — including
  * the full OCR pipeline, whose expected output per doc_id is a CASE
  * over the (pre-normalized) embedded vocabulary. The Spark side
  * really renders and recognizes pixels; the oracle only states the
  * answer.
  *
  * Cross-engine exactness rules used throughout:
  *   - integral outputs cast to BIGINT/long on both sides;
  *   - doubles produced only by rational arithmetic or round(x, 6);
  *   - regexes restricted to syntax with identical Java/RE2 semantics;
  *   - ties in rankings broken by explicit unique keys.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("ocr_extract")(spark, "/root/testdata/sf0.001")

  /** Dev-loop query filter shared by Bench and Verify
    * (SPARK_GRAFT_ONLY=a,b; the driver never sets it). An empty or
    * typo'd filter is a HARD ERROR, never a silent no-op: a gate that
    * green-lights after verifying zero queries is exactly the
    * vacuous-pass class the missing-output check guards against.
    */
  def onlyFilter(): Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map { v =>
      val s = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      require(s.nonEmpty, "SPARK_GRAFT_ONLY is set but names no queries")
      val unknown = s -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
      System.err.println(
        s"[graft] SPARK_GRAFT_ONLY active: ${s.size} of ${queries.size} queries selected")
      s
    }

  /** Every driver query by name: (session, input dir) => result. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    QuerySpec.all.map(q => q.name -> q.run).toMap

  /** Every query's DuckDB oracle by name. A hash map, like `queries`:
    * Verify writes oracle_sql.json in its iteration order.
    */
  val oracleSql: Map[String, String] = QuerySpec.all.map(q => q.name -> q.oracle).toMap
}
