package graft.operators

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input hardening: a 100 TB web corpus WILL contain null
  * text, empty strings, whitespace-only docs, single tokens, and
  * pathologically long documents — none of which the driver fixtures
  * exercise. Every text operator must process such rows without
  * throwing, and with defensible semantics (degenerate docs drop out
  * of similarity paths rather than matching everything).
  */
class RobustnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val weird = {
    val big = (0 until 50000).map(i => s"w${i % 700}").mkString(" ")
    Seq(
      (0L, null.asInstanceOf[String], "en"),
      (1L, "", "en"),
      (2L, "   \t  \n ", "en"),
      (3L, "one", "en"),
      (4L, "a perfectly normal little document with several words", "en"),
      (5L, "a perfectly normal little document with several words", "en"), // exact dup of 4
      (6L, big, "en"))
      .toDF("doc_id", "text", "lang")
  }

  test("dedup family survives null/empty/whitespace/huge docs") {
    // exact dedup: the only group with >1 member is the real dup pair
    // (null-text rows must not all collapse into one "duplicate" blob
    // that exact-dedup would then drop to a single survivor — md5 of
    // NULL is NULL, and null-digest rows group together; that is the
    // declared semantic on BOTH engines, so just pin it)
    val groups = Dedup.exactGroups(weird).where(col("n_docs") > 1)
      .select("n_docs").as[Long].collect().toList
    assert(groups == List(2L), s"exact groups: $groups")

    val lsh = Dedup.minhashLshPairsPoly(weird, bands = 8, rowsPerBand = 4, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == Set((4L, 5L)), s"degenerate docs must not enter LSH pairs: $lsh")

    assert(Dedup.simhashPairsPoly(weird, maxHamming = 4)
      .where(col("id_a") < 4 || col("id_b") < 4).count() == 0,
      "token-free docs must not simhash-match")

    // the verbatim dup pair is exactly 8 tokens long, so it shares its
    // single 8-span; no degenerate doc may produce any other pair
    assert(Dedup.spanOverlapPairs(weird, n = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet == Set((4L, 5L)))
    assert(Dedup.containmentPairs(weird, n = 3, idWindow = 10, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet == Set((4L, 5L)))
  }

  test("ingest gates admit/reject degenerate docs consistently on both faces") {
    val isCorpus = col("doc_id") <= 3
    val kept = Dedup.incrementalIngestFilter(weird, isCorpus,
      bands = 8, rowsPerBand = 4, threshold = 0.8).as[Long].collect().toSet
    // 4 is fresh (admitted), 5 exact-dups 4 but 4 is NOT corpus -> both
    // admitted (the gate dedups against the REFERENCE set only), 6 fresh
    assert(kept == Set(4L, 5L, 6L), s"re-sketch gate: $kept")

    val sm = Dedup.sketchMeta(weird.where(isCorpus))
    val bm = Dedup.sketchMeta(weird.where(!isCorpus))
    val keptIdx = Dedup.indexedIngestFilter(bm, Dedup.bandedOf(bm, bands = 8, rowsPerBand = 4),
        Dedup.InMemorySketchState(sm, Dedup.bandedOf(sm, bands = 8, rowsPerBand = 4)),
        threshold = 0.8)
      .as[Long].collect().toSet
    assert(keptIdx == kept, s"indexed gate diverged: $keptIdx vs $kept")

    // a null-text NEW doc against a null-text CORPUS doc: null digests
    // join nowhere (SQL null semantics), so it is ADMITTED — pin the
    // semantic so a future "fix" can't silently flip it on one face only
    val nulls = Seq((10L, null.asInstanceOf[String]), (11L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val keptNull = Dedup.incrementalIngestFilter(nulls, col("doc_id") === 10,
      bands = 8, rowsPerBand = 4, threshold = 0.8).as[Long].collect().toSet
    assert(keptNull == Set(11L), s"null-vs-null admission: $keptNull")
  }

  test("text stats / search / chunking survive degenerate docs") {
    import graft.text.TextStats
    val stats = weird.select(col("doc_id"),
      TextStats.wsTokenCountCol(col("text")).as("n_tokens"),
      Dedup.repetitionFracCol(col("text"), 2).as("rep2"))
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(stats(3L)._1.contains(1L) && stats(6L)._1.contains(50000L), s"token counts: $stats")
    assert(!stats.values.exists(v => v._2.exists(_.isNaN)), "repetition must never be NaN")

    val chunks = weird.select(col("doc_id"),
      Dedup.chunkTokensCol(col("text"), size = 128, overlap = 16).as("chunks"))
    assert(chunks.count() == 7) // no throw, one row per doc

    val top = Search.bm25TopK(weird, Seq("normal", "words"), k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(top == Set(4L, 5L), s"bm25 over degenerate corpus: $top")

    assert(Search.unigramLogProb(weird).count() == 4) // docs 3,4,5,6 have tokens
  }
}
