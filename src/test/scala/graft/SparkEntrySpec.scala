package graft

import graft.pipeline.SparkTestSession
import graft.queries.QuerySpec
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract pinning: every inventory query runs and returns
  * rows on the smoke scale; the registry declares the contract once; plans
  * keep column pruning intact (the scan must not read unused columns).
  */
class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query registry rejects duplicate names and declares the 122 contract queries") {
    val spec = QuerySpec("q", (s, dir) => s.read.parquet(dir), "SELECT 1")
    val err = intercept[IllegalArgumentException](
      QuerySpec.unique(Seq(spec, spec.copy(name = "r"), spec.copy(oracle = "SELECT 2"))))
    assert(err.getMessage.contains("declared more than once: q"), err.getMessage)
    val contract = """a10_articles_dates a12_key_patterns a14_rollup a1_reassembly a3_page_conf
      a4_weighted_confidence a5_flat_confidence a7_corpus_rollup a8_backend_stats
      a9_doc_analysis ann_cosine_topk ann_ivf_topk ann_lsh_topk ann_sq8_topk dd_components
      dd_containment dd_embed_components dd_embed_cosine dd_embed_cosine_lsh dd_exact_groups
      dd_jaccard_pairs dd_minhash_lsh dd_ngram_jaccard dd_simhash dd_span_overlap ev_anomaly
      ev_approx_distinct ev_funnel ev_histogram ev_json_extract ev_quantiles
      ev_quantiles_approx ev_retention ev_rolling ev_sequence_match ev_transitions
      eval_envelope ex_boilerplate_lines ex_domain_rank ex_html_main ex_html_meta
      ex_layout_order ex_links ex_url_canonical ex_web_pipeline j1_backend_pivot
      j2_resume_antijoin j4_dim_join j5_asof_bucketed j5_asof_join j6_range_join
      j7_interval_overlap j8_fuzzy_join mm_audio_features mm_frame_sample mm_media_meta
      mm_png_decode mm_resize ocr_conf_filter ocr_extract ocr_lines ocr_metrics p1_needs_ocr
      p2_pdf_type p3_conf_floor r2r4_rankings r5_page_range src_json_ingest st_anomaly
      st_dedup st_enrich st_funnel st_heavy_hitters st_ingest st_ingest_indexed
      st_json_extract st_quantiles st_sessionize st_windowed_agg structured_doc
      t2_normalize_basic t3_normalize_enhanced t4_preview t5_counts t6_a2_eval_view
      t7_basename ta_bigram_logprob ta_bm25_indexed ta_bm25_topk ta_bpe_tokenize ta_chunking
      ta_cms_freq ta_collocations ta_heavy_hitters ta_hybrid_search ta_keywords_tfidf
      ta_ngram_freq ta_repetition ta_text_stats ta_token_freq ta_unigram_logprob
      tp_bloom_prefilter tp_cluster_keep tp_corpus_filter tp_decontaminate tp_full_curation
      tp_fuzzy_components tp_global_order tp_incremental_ingest tp_ingest_containment
      tp_ingest_ngram tp_lsh_components tp_mixture_sample tp_nb_classify tp_pack_sequences
      tp_pack_sequences_bpe tp_redact tp_stratified_sample tp_topk_per_group tp_upsample
      tp_weighted_sample tp_winsorize""".split("\\s+").toSet
    assert(contract.size == 122)
    assert(QuerySpec.all.size == 122)
    assert(SparkEntry.queries.keySet == contract)
    assert(SparkEntry.oracleSql.keySet == contract)
  }

  test("all queries execute and return rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("column pruning: t5_counts scan reads only doc_id + text") {
    val plan = SparkEntry.queries("t5_counts")(spark, sf)
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: ([^\\n]*)".r.findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), plan.take(500))
    assert(!readSchema.contains("n_chars") && !readSchema.contains("lang"),
      s"scan reads unused columns: $readSchema")
  }

  test("filter pushdown: j2 anti-join keeps parquet scan filters minimal and broadcasts") {
    val plan = SparkEntry.queries("j2_resume_antijoin")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"anti-join not broadcast:\n${plan.take(800)}")
  }

  test("mm decode queries run behind the shared salted repartition") {
    // the per-image decode work must fan out across session partitions
    // (not inherit the parquet scan's few input splits): the salted
    // hash exchange has to appear below the decode map
    Seq("mm_resize", "mm_frame_sample", "mm_media_meta", "ocr_lines").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("hashpartitioning(xxhash64("),
        s"$q missing the salted repartition:\n${plan.take(800)}")
    }
  }

  test("ann queries broadcast the query side and plan NO per-query window") {
    for (q <- Seq("ann_cosine_topk", "ann_sq8_topk", "ann_lsh_topk", "ann_ivf_topk")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"$q does not broadcast the query side:\n${plan.take(800)}")
      // round-5 verdict #2: the full-width row_number exchange over the
      // scored join is the 10^12-vector scale-killer — top-k must be
      // the k-capped partial aggregate, never a window
      assert(!plan.contains("Window"), s"$q still plans a window:\n${plan.take(900)}")
      assert(plan.contains("partial_topk_by_score"),
        s"$q top-k must partial-aggregate map-side:\n${plan.take(900)}")
    }
  }

  test("flagship plan: exactly ONE shuffle (the explicit salted repartition)") {
    val plan = SparkEntry.queries("ocr_extract")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 Exchange, got $exchanges:\n${plan.take(1200)}")
    assert(plan.contains("xxhash64"), "repartition key must be the salted doc_id hash")
    assert(plan.contains("MapPartitions"), "OCR stage must be a narrow mapPartitions")
  }

  test("no query plans a CartesianProduct") {
    // global audit: a cartesian anywhere is O(n^2) at scale. The only
    // sanctioned nested-loop is the r2r4 broadcast of a 1-row maxes
    // aggregate (constant-size side), so BroadcastNestedLoopJoin is
    // allowed; CartesianProduct never is.
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n${plan.take(800)}")
    }
  }

  test("lsh candidate joins: no cartesian product anywhere, hot-key anti-join broadcasts") {
    for (q <- Seq("dd_minhash_lsh", "dd_simhash", "dd_embed_cosine_lsh", "ann_lsh_topk")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian:\n${plan.take(800)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested-loop join:\n${plan.take(800)}")
    }
    // the hot-bucket cap must be an anti-join (not a window sort), and
    // AQE must pick broadcast for the (tiny) hot-key side at runtime —
    // inspect the FINAL adaptive plan, after execution
    val df = SparkEntry.queries("dd_minhash_lsh")(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val mh = df.queryExecution.executedPlan.toString
    assert(mh.contains("LeftAnti"), s"hot-bucket cap is not an anti-join:\n${mh.take(1200)}")
    assert(mh.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the hot-key side:\n${mh.take(1200)}")
    assert(!mh.contains("WindowExec"), "hot-bucket cap regressed to a window count")
  }

  test("sessionize batch twin: one shuffle keyed on user_id feeds both window and agg") {
    val plan = SparkEntry.queries("st_sessionize")(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    // the window partitioning must be reused by the groupBy (no second
    // full-data exchange on the same key)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"sessionize re-shuffles on the same key ($exchanges exchanges):\n${plan.take(1200)}")
  }

  test("bm25 plan: TakeOrdered top-k, corpus stats ride a broadcast (no corpus shuffle)") {
    val plan = SparkEntry.queries("ta_bm25_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, not a global sort:\n${plan.take(800)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"one-row stats must broadcast:\n${plan.take(800)}")
    // the only exchange allowed is the one-row stats aggregate's
    // SinglePartition reduction — the corpus side must stay unshuffled
    val corpusExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(corpusExchanges == 0,
      s"bm25 shuffles the corpus ($corpusExchanges hash exchanges):\n${plan.take(1200)}")
  }

  test("asof join and per-user anomaly: exactly ONE hash exchange each (no join, no re-shuffle)") {
    for ((q, nx) <- Seq("j5_asof_join" -> 1, "ev_anomaly" -> 1)) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must not plan a join at all:\n${plan.take(800)}")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == nx, s"$q: expected $nx hash exchange, got $exchanges:\n${plan.take(1200)}")
    }
  }

  test("bucketed asof and windowed anomaly: big side shuffles once on its sharded key") {
    // j5_asof_bucketed: the expensive running-last WINDOW over the
    // union evaluates exactly ONCE (round-5 plan audit caught a
    // double evaluation — finals derived from the scanned output
    // re-ran the whole sort+window). The cell summary costs a second,
    // column-pruned (ts, user_id) scan feeding a partial-aggregated
    // groupBy — a narrow pass, never a second window sort.
    val ap = SparkEntry.queries("j5_asof_bucketed")(spark, sf)
      .queryExecution.executedPlan.toString
    // the union window is the one sorting on is_left (the side
    // tiebreak); the other Window[last] is the keys x buckets carry
    // summary — constant-size, not counted
    assert("Window \\[last[^\\n]*is_left".r.findAllIn(ap).length == 1,
      s"bucketed asof must run the union window exactly once:\n${ap.take(1500)}")
    assert("events\\.parquet".r.findAllIn(ap).length <= 2,
      s"bucketed asof re-scans the big side beyond the narrow summary pass:\n${ap.take(1500)}")
    assert("hashpartitioning\\(k#\\d+L?, bkt#\\d+L?".r.findFirstIn(ap).isDefined,
      s"bucketed asof must shard the window on (k, bkt):\n${ap.take(1200)}")
    // st_anomaly: the windowed z-score twin keeps the single-exchange
    // shape of ev_anomaly (one (user_id, window) shuffle, no join)
    val an = SparkEntry.queries("st_anomaly")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!an.contains("Join"), s"st_anomaly must not plan a join:\n${an.take(800)}")
    assert("Exchange hashpartitioning".r.findAllIn(an).length == 1,
      s"st_anomaly must shuffle exactly once:\n${an.take(1200)}")
    // ev_rolling: all four frame aggregates share one window spec —
    // one user_id exchange, one sort, a single Window operator
    val ro = SparkEntry.queries("ev_rolling")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(ro).length == 1,
      s"ev_rolling must shuffle exactly once:\n${ro.take(1200)}")
    assert("Window".r.findAllIn(ro).length == 1,
      s"ev_rolling must evaluate ONE Window operator:\n${ro.take(1200)}")
    // tp_global_order: the corpus-side rank window must be keyed on
    // the bucket (never a corpus-wide single-partition sort); the only
    // SinglePartition exchange feeds the ~101-row offsets table
    val go = SparkEntry.queries("tp_global_order")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(bkt#\\d+L?".r.findFirstIn(go).isDefined,
      s"tp_global_order's rank window must partition by bkt:\n${go.take(1500)}")
  }

  test("whole-stage codegen covers the normalization path") {
    val plan = SparkEntry.queries("t2_normalize_basic")(spark, sf)
      .queryExecution.executedPlan.toString
    // executedPlan.toString marks codegen stages with "*(n)"
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"), plan.take(500))
  }
}
