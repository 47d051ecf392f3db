package perfbench

import graft.SparkEntry
import org.apache.spark.sql.graft.ColumnBridge

/** Self-tests of the benchmark's own checks.
  *
  *  - A store that blanks every `BlankEvery`-th page must lower
  *    `correct_rate` and raise `error_rate` by exactly the blanked share
  *    of the checked spans.
  *  - One pass of the curate queries on a small input is written out for
  *    `run.py`, which checks it against the oracles and then plants a
  *    wrong row that its check must reject.
  */
object SelfTest {
  import Main._

  val BlankEvery = 4

  def run(ctx: Ctx): Outcome = {
    val a = ctx.args
    val spark = ctx.spark
    val corpus = Inputs.extraction(a.seed, Workloads.ScannedShape.copy(nDocs = 30))
    val ex = new Extraction(spark, corpus, s"${a.work}/selftest-pages", a.cores)
    ex.write()
    val clean = ex.extractPass(new PageStore(ex.pagesDir))
    val blanked = ex.extractPass(new BlankingPageStore(ex.pagesDir, BlankEvery))
    val blankSpans = corpus.docs.iterator.flatMap(_.spans)
      .count(sp => sp.kind == "image" && BlankingPageStore.blanked(sp.media_ref, BlankEvery)).toLong
    val share = blankSpans.toDouble / corpus.spanCount
    val ok = clean.correct == clean.checked && clean.failed == 0 &&
      blanked.checked == clean.checked &&
      clean.correct - blanked.correct == blankSpans &&
      blanked.failed - clean.failed == blankSpans
    println(f"selftest blanking: share=$share%.6f correct_rate ${clean.correctRate}%.6f -> ${blanked.correctRate}%.6f, " +
      f"error_rate ${clean.errorRate}%.6f -> ${blanked.errorRate}%.6f: ${if (ok) "PASS" else "FAIL"}")

    val (docs, events, _) = Inputs.curate(a.seed, Workloads.CurateShape.copy(nDocs = 300, nEvents = 3000))
    val dataDir = s"${a.work}/selftest-curate"
    Workloads.writeCurate(spark, dataDir, docs, events)
    val checks = Workloads.CurateQueries.map { q =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val dir = s"${a.work}/selftest-out/$q"
      SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite").parquet(dir)
      ColumnBridge.reclaimNewRdds(spark, before)
      (q, 0, dir)
    }
    Outcome(
      metrics = Seq("selftest.blank_share" -> share,
        "selftest.correct_rate_drop" -> (clean.correctRate - blanked.correctRate),
        "selftest.error_rate_rise" -> (blanked.errorRate - clean.errorRate)),
      attempted = 1, failed = if (ok) 0 else 1, props = Nil, checks = checks, dataDir = dataDir)
  }
}
