package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Size-switched grouped percentiles (round-6 verdict #6): exact
  * `percentile` materializes EVERY group member in one aggregation
  * buffer — correct and oracle-friendly at sandbox scale, but with 5
  * event types over a 10^12-row table one buffer absorbs ~1/5 of the
  * corpus: an executor OOM invisible at sf0.1. The production default
  * must be safe BY CONSTRUCTION, so callers route percentile columns
  * through this switch: one cheap columnar row count decides, exact
  * below `ExactMaxRows`, the bounded-memory mergeable GK sketch
  * (`approx_percentile`, rank error <= n/accuracy by contract) above.
  *
  * The exact regime is bit-identical to a direct `percentile` call —
  * the driver's scales (sf0.001-0.1) always take it, so every
  * declared quantile oracle is unchanged; the approx regime's rank
  * contract is pinned in SparkEntrySpec (the ev_quantiles_approx
  * bound, restated over the switch).
  */
object Quantiles {

  /** Default switch point. ~1e8 rows keeps the worst single-group
    * exact buffer at ~800 MB of doubles — inside one executor's
    * budget; production tunes it to (executor memory / 8 bytes) with
    * headroom, or pins `exact = false` for known-huge tables.
    */
  val ExactMaxRows: Long = 100000000L

  /** One row count decides the regime for a whole statement (never
    * per-column): `df.count()`, one Spark job over whatever `df` is.
    * Callers pass the UNFILTERED table scan, whose count reads no
    * column (its `ReadSchema` is empty); a filter would make it scan
    * and test the filtered column first.
    */
  def useExact(df: DataFrame, exactMaxRows: Long = ExactMaxRows): Boolean =
    df.count() <= exactMaxRows

  /** Percentile aggregation column under the chosen regime. */
  def pct(exact: Boolean, valueCol: String, p: Double,
          accuracy: Int = 10000): Column =
    if (exact) expr(s"percentile($valueCol, ${p}D)")
    else expr(s"approx_percentile($valueCol, ${p}D, $accuracy)").cast("double")
}
