package graft.cli
import org.apache.spark.sql.SparkSession

/** Dev-only plan auditor: print each named SparkEntry query's SHUFFLE
  * count and its Exchange/Scan lines (the two plan features every
  * scale review here starts from — shuffle structure and what reaches
  * the parquet scan), then its full `explain("formatted")` plan, the
  * text a before/after plan diff compares. Broadcast exchanges are
  * counted separately: they are the cheap kind, and folding them into
  * the headline number sends reviewers chasing phantom shuffles.
  * Usage (redirect stdout to keep a plan, e.g. under plans/):
  *   sbt 'runMain graft.cli.PlanAudit <sfDir> <query> [query...]'
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanAudit <sfDir> <query> [query...]")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    run(spark, args.head, args.tail.toSeq)
    spark.stop()
  }

  /** Session-agnostic body (CliSmokeSpec-coverable); returns each
    * query's formatted plan in argument order.
    */
  def run(spark: SparkSession, sfDir: String, queries: Seq[String]): Seq[(String, String)] =
    for (q <- queries) yield {
      val qe = graft.SparkEntry.queries(q)(spark, sfDir).queryExecution
      val plan = qe.executedPlan.toString
      // word-anchored: bare "Exchange " would also hit ReusedExchange /
      // BroadcastExchange lines and inflate the one number this tool
      // exists to report accurately (round-5 advice). Reused exchanges
      // are reported separately — they are plan-sharing wins, not new
      // shuffles.
      val shuffles = "(?<![A-Za-z])Exchange ".r.findAllIn(plan).size
      val bcast = "(?<![A-Za-z])BroadcastExchange ".r.findAllIn(plan).size
      val reused = "(?<![A-Za-z])ReusedExchange ".r.findAllIn(plan).size
      println(s"=== $q: $shuffles shuffles, $bcast broadcasts, $reused reused")
      println(plan.linesIterator.filter(l => l.contains("Exchange") || l.contains("Scan "))
        .mkString("\n").take(2500))
      val formatted = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      println(formatted)
      q -> formatted
    }
}
