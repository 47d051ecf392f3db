package graft

import graft.fixtures.{DocGen, Vocab}
import graft.image.SynthRenderer
import graft.operators.{Dedup, Search, Similarity}
import graft.pipeline.ExtractionJob
import graft.text.{ArabicNormalizer => N, DocumentAnalyzer => DA, TextStats => TS}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract: one query per implemented operator (SURVEY.md §2)
  * plus the training-data-pipeline operators, each with an equivalent
  * DuckDB oracle where SQL-expressible.
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

  /** BM25 probe query: the rare planted near-dup marker plus three
    * common vocabulary terms — exercises the idf spread end to end.
    * Single definition consumed by BOTH the query and its oracle.
    */
  private val BmTerms = Seq("dup", "spark", "vector", "join")

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

  /** One persisted BM25 index per input dir per JVM (ta_bm25_indexed).
    * Keyed by input-dir PATH: the dev-only assumption (true for the
    * driver's immutable testdata) is that a dir's data never changes
    * within a JVM — production callers own their index lifecycle via
    * SearchIndex directly. Each temp index dir is deleted at JVM exit
    * so repeated runs don't accrete them (round-5 advice).
    */
  private val bmIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.SearchIndex.Index]()

  private def deleteOnExit(dir: String): String = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rec)); f.delete(); ()
      }
      rec(new java.io.File(dir))
    }))
    dir
  }

  /** Synthetic page chrome around each doc's text, SINGLE-SOURCED for
    * the query and oracle faces of ex_html_main / ex_web_pipeline
    * (the round-3 rule: any constant an operator and its oracle share
    * is generated from one definition so the two cannot drift). The
    * strings contain no single quotes, so the SQL face embeds them
    * directly.
    */
  private def pagePieces(withNav: Boolean): (String, String) = {
    val nav = if (withNav)
      "<nav><ul><li><a href=\"/1\">News</a></li><li><a href=\"/2\">Sports</a></li></ul></nav>"
    else ""
    ("<html><body><header><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
      "<a href=\"/c\">Contact</a></header>" + nav + "<article><p>",
      "</p></article><footer>Copyright 2026 <a href=\"/tos\">Terms</a></footer></body></html>")
  }
  private def pageCol(withNav: Boolean): Column = {
    val (pre, post) = pagePieces(withNav)
    concat(lit(pre), col("text"), lit(post))
  }
  private def pageSql(withNav: Boolean): String = {
    val (pre, post) = pagePieces(withNav)
    s"'$pre' || text || '$post'"
  }

  /** Full page WITH a metadata head for ex_html_meta: mixed-case
    * <TITLE> (pins case-insensitive matching), a description that is
    * MISSING on every 3rd doc (pins the no-match -> '' path), a
    * canonical link, robots noindex on every 7th doc.
    */
  private def headPageCol: Column = concat(
    lit("<html><head><TITLE>Doc "), col("doc_id").cast("string"),
    lit(" | Example</TITLE>"),
    when(col("doc_id") % 3 =!= 0,
      concat(lit("<meta name=\"description\" content=\""),
        substring(col("text"), 1, 40), lit("\"/>"))).otherwise(lit("")),
    lit("<link rel=\"canonical\" href=\"https://example.com/doc/"),
    col("doc_id").cast("string"), lit("\"/>"),
    when(col("doc_id") % 7 === 0,
      lit("<meta name=\"robots\" content=\"nofollow,noindex\"/>"))
      .otherwise(lit("")),
    lit("</head><body><p>"), col("text"), lit("</p></body></html>"))
  private def headPageSql: String =
    """'<html><head><TITLE>Doc ' || doc_id || ' | Example</TITLE>' ||
      |CASE WHEN doc_id % 3 <> 0
      |  THEN '<meta name="description" content="' || substring(text, 1, 40) || '"/>'
      |  ELSE '' END ||
      |'<link rel="canonical" href="https://example.com/doc/' || doc_id || '"/>' ||
      |CASE WHEN doc_id % 7 = 0
      |  THEN '<meta name="robots" content="nofollow,noindex"/>' ELSE '' END ||
      |'</head><body><p>' || text || '</p></body></html>'""".stripMargin.replace("\n", " ")

  /** The approx-quantile rank-contract flag (shared by the type-level
    * and windowed quantile oracles): used inside a grouped agg whose
    * rows carry `n` (group size) and `value`; TRUE iff the candidate
    * value's exact rank interval [count(<a), count(<=a)] intersects
    * p*n ± (n/accuracy + 1) — the bound approx_percentile guarantees.
    */
  private def rankOk(p: Double, a: Column, acc: Int): Column = {
    val target = lit(p) * col("n").cast("double")
    val slack = col("n").cast("double") / lit(acc.toDouble) + lit(1.0)
    (sum(when(col("value") < a, 1L).otherwise(0L)).cast("double") <= target + slack) &&
      (sum(when(col("value") <= a, 1L).otherwise(0L)).cast("double") >= target - slack)
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  // ---- shared fixture expressions (Spark side) ---------------------------

  /** Raw vocab sentence drawn by doc_id (same draw as the SQL CASE). */
  private def vocabRawCol: Column =
    element_at(array(Vocab.Sentences.map(lit): _*), (col("doc_id") % Vocab.V).cast("int") + 1)

  /** Arabic-augmented text: vocab sentence + driver text (gives the
    * Arabic-analysis operators real positives on the English corpus).
    */
  private def augmentedCol: Column = concat(vocabRawCol, lit(" "), col("text"))

  // needs-OCR predicate char class (smart.py:53) — literal ranges work
  // identically in Java regex and RE2
  private val ValidCharClass =
    "[؀-ۿݐ-ݿa-zA-Z0-9\\s.,:;!?()\\-+=]"
  private val ArtifactClass = "[�□▪◦●]"

  /** Salted repartition shared by every per-image driver query: the
    * SAME hash family as the flagship job, with the partition count
    * taken from the SESSION (spark.sql.shuffle.partitions) rather than
    * a literal — so task count scales with the cluster instead of
    * funneling 100x inputs into 32 tasks. The input only needs a
    * `doc_id` column (Doc rows or bare ids both work).
    */
  private def salted[I](ds: org.apache.spark.sql.Dataset[I]): org.apache.spark.sql.Dataset[I] = {
    val parts = ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    ExtractionJob.byKey(ds, ExtractionJob.Config(numPartitions = parts))
  }

  /** Shared skeleton of the per-image OCR driver queries: salted
    * repartition, one engine per task, flatMap body.
    */
  private def ocrMapPartitions[I, O: org.apache.spark.sql.Encoder](
      ds: org.apache.spark.sql.Dataset[I])(
      f: (I, graft.ocr.OcrEngine) => IterableOnce[O]): org.apache.spark.sql.Dataset[O] =
    salted(ds).mapPartitions { it =>
      val engine = new graft.ocr.OcrEngine(graft.ocr.GlyphClassifier.default)
      it.flatMap(i => f(i, engine))
    }

  /** fetch + magic-sniff decode of one media_ref. */
  private def fetchImage(ref: String): graft.image.GrayImage =
    graft.image.ImageCodec.decode(graft.image.SynthMediaStore.fetch(ref))

  // ---- the operator inventory --------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O1-O5 + T1 + T2 + A1 + S1-S7: the full extraction pipeline over the
    // interleaved span table synthesized 1:1 from documents.parquet
    "ocr_extract" -> ((s, dir) => {
      val extracted = ExtractionJob.extract(s, DocGen.fromDriverDocs(s, dir))
      extracted
        .select(col("doc_id"), explode(col("spans")).as("sp"))
        .select(col("doc_id"), col("sp.offset").cast("long").as("offset"),
          col("sp.kind").as("kind"), col("sp.text").as("text"))
    }),

    // A3-A7/S9: per-document extraction metrics
    "ocr_metrics" -> ((s, dir) => {
      ExtractionJob.extract(s, DocGen.fromDriverDocs(s, dir))
        .select(col("doc_id"),
          col("metrics.ocr_spans").cast("long").as("ocr_spans"),
          col("metrics.direct_spans").cast("long").as("direct_spans"),
          col("metrics.failed_spans").cast("long").as("failed_spans"),
          col("metrics.glyphs_classified").cast("long").as("glyphs"),
          col("metrics.lines_segmented").cast("long").as("lines"))
    }),

    // T2: basic Arabic normalization (smart.py:187-203) — native
    // single-pass Catalyst expression (codegen'd; 4x fewer string scans
    // than the chained regexp/translate form, property-tested equal)
    "t2_normalize_basic" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.functions.GraftFunctions.normalizeArabicBasic(augmentedCol).as("norm"))),

    // T3: enhanced normalization (smart-structured.py:324-345)
    "t3_normalize_enhanced" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.functions.GraftFunctions.normalizeArabicEnhanced(
          concat(augmentedCol, lit(" "), lit(DiacriticProbe))).as("norm"))),

    // P1: page needs-OCR predicate (smart.py:29-77)
    "p1_needs_ocr" -> ((s, dir) => {
      val t = col("text")
      val stripped = length(trim(t)).cast("double")
      val valid = regexp_count(t, lit(ValidCharClass)).cast("double")
      val artifacts = regexp_count(t, lit(ArtifactClass)).cast("double")
      docs(s, dir).select(col("doc_id"),
        (stripped < 50.0 || (valid / stripped) < 0.3 || (artifacts / stripped) > 0.05)
          .as("needs_ocr"))
    }),

    // P2: doc-level text/scanned detection (file_handler.py:17-24; pages
    // stood in by '.'-chunks)
    "p2_pdf_type" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        when(size(filter(transform(slice(split(col("text"), "\\.", -1), 1, 3), x => trim(x)),
          x => length(x) >= 20)) > 0, "text").otherwise("scanned").as("pdf_type"))),

    // T4: raw-text preview (structured.py:66)
    "t4_preview" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        when(length(col("text")) > 500, concat(substring(col("text"), 1, 500), lit("...")))
          .otherwise(col("text")).as("preview"))),

    // T5: char/word counting (smart-structured.py:226-227)
    "t5_counts" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        length(col("text")).cast("long").as("char_count"),
        TS.wsTokenCountCol(col("text")).cast("long").as("word_count"))),

    // A1: page->document reassembly (smart.py:178), '.'-chunks as pages
    "a1_reassembly" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        array_join(filter(transform(split(col("text"), "\\.", -1), x => trim(x)),
          x => x =!= ""), "\n\n").as("full_text"))),

    // A4: weighted doc confidence (paddleocr_backend.py:151-165 pattern)
    "a4_weighted_confidence" -> ((s, dir) =>
      lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_discount") * col("l_quantity")) / sum(col("l_quantity")), 6)
          .as("weighted_conf"),
          count(lit(1)).as("n"))),

    // A5: flat pooled confidence (tesseract_backend.py:170,192 pattern)
    "a5_flat_confidence" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(avg(col("value")), 6).as("flat_conf"), count(lit(1)).as("n"))),

    // A7: corpus roll-up (smart.py:287-302)
    "a7_corpus_rollup" -> ((s, dir) =>
      docs(s, dir).groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          round(avg(col("n_chars")), 6).as("avg_chars"))),

    // A9: document-type analysis (smart-structured.py:283-308)
    "a9_doc_analysis" -> ((s, dir) =>
      DA.analyzeDf(docs(s, dir), lower(augmentedCol), "doc_id")
        .select(col("doc_id"), col("document_type"), round(col("confidence"), 6).as("confidence"))),

    // A10+A11: article count + date detection (smart-structured.py:310-316)
    "a10_articles_dates" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        DA.articleCountCol(augmentedCol).cast("long").as("article_count"),
        DA.containsDatesCol(augmentedCol).as("contains_dates"))),

    // A12: key patterns (smart-structured.py:318-320)
    "a12_key_patterns" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        array_join(DA.keyPatternsCol(concat(augmentedCol, lit(". "), col("text"))), "|")
          .as("key_patterns"))),

    // R2-R4: accuracy/speed/weighted-performance rankings
    // (ocr_evaluation.py:233-279); "backends" stood in by sources
    "r2r4_rankings" -> ((s, dir) => {
      val perSource = docs(s, dir).groupBy(col("source"))
        .agg(round(avg(length(col("text"))), 6).as("conf"),
          round(sum(col("n_chars")) / 100.0, 6).as("speed"))
      // column-max normalization via broadcast 1-row aggregate, not a
      // global window (which would funnel all rows to one partition)
      val maxes = perSource.agg(max(col("conf")).as("max_conf"), max(col("speed")).as("max_speed"))
      val withNorm = perSource.crossJoin(broadcast(maxes))
        .withColumn("score",
          round((col("conf") / col("max_conf")) * 0.6 + (col("speed") / col("max_speed")) * 0.4, 6))
      // final rank is over the per-backend summary (<= #sources rows by
      // construction, like the reference's <=4 backends) — the global
      // window is fine at that cardinality
      withNorm.select(col("source"), col("score"),
        row_number().over(Window.orderBy(col("score").desc, col("source").asc))
          .cast("long").as("rank"))
    }),

    // R5: page-range limit (paddleocr_backend.py:107-121 corrected
    // semantics): first 3 events per user
    "r5_page_range" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      events(s, dir).withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("rn"))
    }),

    // J4: classic small-dim broadcast join (the "broadcast small dims"
    // pattern of the 100 TB design): per-nation customer account stats,
    // nation (25 rows) broadcast against the big fact side
    "j4_dim_join" -> ((s, dir) => {
      val nation = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"), col("n_name"))
      s.read.parquet(s"$dir/customer.parquet")
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 6).as("total_acctbal"))
    }),

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
    "ev_json_extract" -> ((s, dir) =>
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
          max(col("k")).cast("long").as("max_k"))),

    // Per-user anomaly flagging: events whose value exceeds the USER'S
    // own mean by >= 2.5 population standard deviations — per-entity
    // z-score outliers, one shuffle on user_id feeding both window
    // aggregates; the threshold compares the ROUNDED z on both engines
    // so the knife edge cuts identically
    "ev_anomaly" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          avg(col("value")).over(w).as("mu"),
          stddev_pop(col("value")).over(w).as("sd"))
        .where(col("sd") > 0)
        .select(col("user_id"), col("event_id"), col("value"),
          round((col("value") - col("mu")) / col("sd"), 6).as("z"))
        .where(col("z") >= 2.5)
    }),

    // J5: AS-OF JOIN — each event enriched with the user's most recent
    // order at event time (inclusive, largest-orderkey tie rule). The
    // union-tag + running-last implementation: ONE shuffle on the key,
    // no range join, no per-left argmax (see operators/AsOf.scala)
    "j5_asof_join" -> ((s, dir) =>
      graft.operators.AsOf.asofJoin(
        events(s, dir), leftKey = "user_id", leftTs = "ts", leftId = "event_id",
        s.read.parquet(s"$dir/orders.parquet"),
        rightKey = "o_custkey", rightTs = "o_orderdate", rightId = "o_orderkey",
        rightVal = "o_totalprice")),

    // Skew-safe AS-OF: the same join sharded over (key, time-bucket)
    // with per-bucket carry-in — the variant that survives one user
    // holding most of the event history. Held to the SAME oracle as
    // j5_asof_join (identity pinned under a one-hot-key fixture in
    // OperatorsSpec).
    "j5_asof_bucketed" -> ((s, dir) =>
      graft.operators.AsOf.asofJoinBucketed(
        events(s, dir), leftKey = "user_id", leftTs = "ts", leftId = "event_id",
        s.read.parquet(s"$dir/orders.parquet"),
        rightKey = "o_custkey", rightTs = "o_orderdate", rightId = "o_orderkey",
        rightVal = "o_totalprice", nBuckets = 16)),

    // A14: hierarchical roll-up (lang x source with subtotals + grand
    // total) — ROLLUP is one shuffle with partial aggregation; the
    // grouping() flags disambiguate subtotal rows from any real
    // NULL/'ALL' values in the data
    "a14_rollup" -> ((s, dir) =>
      docs(s, dir).rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          grouping(col("lang")).cast("long").as("g_lang"),
          grouping(col("source")).cast("long").as("g_source"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("g_lang"), col("g_source"), col("n_docs"), col("total_chars"))),

    // J2: checkpoint/resume anti-join (broadcast hash anti-join)
    "j2_resume_antijoin" -> ((s, dir) => {
      import s.implicits._
      val completed = Seq(0L, 1L, 2L, 3L).toDF("pid")
      docs(s, dir).withColumn("pid", col("doc_id") % 32)
        .join(broadcast(completed), Seq("pid"), "left_anti")
        .select(col("doc_id"), col("pid"))
    }),

    // Dedup: exact duplicate groups (hash groupBy)
    "dd_exact_groups" -> ((s, dir) =>
      Dedup.exactGroups(docs(s, dir)).select(col("text_md5"), col("n_docs"), col("keep_id"))),

    // Dedup: windowed word-set Jaccard near-dup pairs
    "dd_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(docs(s, dir), idWindow = 25, threshold = 0.8)),

    // Dedup: windowed word-3-gram SHINGLE Jaccard near-dup pairs —
    // order-sensitive similarity (same vocabulary, different phrasing
    // shares unigrams but few shingles); same block equi-join shape
    "dd_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), n = 3, idWindow = 25, threshold = 0.5)),

    // Dedup: windowed shingle CONTAINMENT pairs — the ASYMMETRIC
    // signal (|A∩B| / min): a short doc verbatim-quoted inside a long
    // one scores ~1.0 where Jaccard sails under the threshold;
    // excerpt/quotation reuse is its own duplication class. No size
    // prefilter by design
    "dd_containment" -> ((s, dir) =>
      Dedup.containmentPairs(docs(s, dir), n = 3, idWindow = 25, threshold = 0.6)),

    // Dedup: near-dup CLUSTER resolution — connected components over
    // the windowed-Jaccard candidate pairs, every member labeled with
    // its component's smallest doc id (keep = label == doc_id). The
    // oracle recomputes reachability with a recursive CTE.
    "dd_components" -> ((s, dir) =>
      Dedup.nearDupComponents(
          Dedup.jaccardPairs(docs(s, dir), idWindow = 25, threshold = 0.8))
        .select(col("id"), col("label"))),

    // Dedup: cluster resolution COMPOSES over any pair source — here
    // the embedding-cosine near-dup pairs (same star contraction, same
    // recursive-CTE oracle over the embed-pair SQL)
    "dd_embed_components" -> ((s, dir) =>
      Dedup.nearDupComponents(
          Similarity.embedCosinePairs(embeddings(s, dir), idWindow = 50, threshold = 0.3))
        .select(col("id"), col("label"))),

    // Dedup: MinHash-LSH candidate pairs over the cross-engine poly
    // hash family — the FULL shingle->minhash->band->bucket->verify
    // pipeline is oracle-checked in DuckDB
    "dd_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairsPoly(docs(s, dir), bands = 8, rowsPerBand = 4, threshold = 0.8)),

    // CORPUS-WIDE cluster resolution — the production dedup face at
    // 100 TB: banded MinHash-LSH candidate pairs over the WHOLE corpus
    // (no id window) feeding star-contraction components. Composes the
    // two already-audited plans end to end; previously only exercised
    // piecewise (round-4 verdict #3).
    "tp_lsh_components" -> ((s, dir) =>
      Dedup.nearDupComponents(
          Dedup.minhashLshPairsPoly(docs(s, dir), bands = 8, rowsPerBand = 4, threshold = 0.8))
        .select(col("id"), col("label"))),

    // Dedup: SimHash near-dup pairs (poly 30-bit signature, 10-bit
    // third blocking; oracle-checked end to end like dd_minhash_lsh)
    "dd_simhash" -> ((s, dir) =>
      Dedup.simhashPairsPoly(docs(s, dir), maxHamming = 4)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),

    // Dedup: embedding-cosine near-dup pairs (exact windowed block join)
    "dd_embed_cosine" -> ((s, dir) =>
      Similarity.embedCosinePairs(embeddings(s, dir), idWindow = 50, threshold = 0.3)),

    // Dedup: embedding-cosine near-dup at scale (LSH bucket blocking) —
    // the bucket formula is cross-engine, so the APPROXIMATE result is
    // oracle-checked (recall additionally validated in OperatorsSpec)
    "dd_embed_cosine_lsh" -> ((s, dir) =>
      Similarity.embedCosineLshPairs(embeddings(s, dir), planes = 6, threshold = 0.3)),

    // ANN: IVF cell-probe top-k at EXHAUSTIVE probing (nProbe = nCells)
    // — exercises the full IVF machinery (driver k-means, cell
    // assignment, probe fan-out) under a setting provably equal to
    // brute force, so the brute-force SQL is its oracle; approximate
    // nProbe < nCells recall is pinned in OperatorsSpec
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.annIvfTopK(emb, emb.where(col("vec_id") < 8), k = 3, nCells = 16, nProbe = 16)
        .select(col("query_id"), col("neighbor_id"), col("score"), col("rank").cast("long").as("rank"))
    }),

    // ANN: brute-force cosine top-k (exactness baseline)
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.cosineTopK(emb, emb.where(col("vec_id") < 8), k = 3)
        .select(col("query_id"), col("neighbor_id"), col("score"), col("rank").cast("long").as("rank"))
    }),

    // ANN over an INT8-compressed corpus (FAISS SQ8-style, 4x memory
    // cut — at 10^12 vectors the footprint, not the math, is the
    // constraint): asymmetric scoring against full-precision queries,
    // quantization + score restated verbatim in the oracle (recall vs
    // exact top-k pinned in OperatorsSpec)
    "ann_sq8_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.sq8TopK(emb, emb.where(col("vec_id") < 8), k = 3)
        .select(col("query_id"), col("neighbor_id"), col("score"), col("rank").cast("long").as("rank"))
    }),

    // ANN: LSH-bucketed top-k with 1-bit multi-probe (scale path) —
    // the probe-set rule is cross-engine, so the approximate result is
    // oracle-checked directly; recall bounds validated in tests
    "ann_lsh_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.annLshTopK(emb, emb.where(col("vec_id") < 8), k = 3, planes = 8, probeBits = 1)
        .select(col("query_id"), col("neighbor_id"), col("score"), col("rank").cast("long").as("rank"))
    }),

    // Training-corpus filter: the composed keep/drop decision a data
    // pipeline runs before training — quality floor + language gate +
    // exact-dedup keeper (keep the smallest doc_id per digest), one
    // aggregation + one broadcast-able semi-join over the stats scan
    "tp_corpus_filter" -> ((s, dir) => {
      val d = docs(s, dir)
      val keepers = Dedup.exactGroups(d).select(col("keep_id").as("doc_id"))
      d.select(col("doc_id"),
          TS.qualityScoreCol(col("text")).as("quality"),
          TS.langIdCol(col("text")).as("lang_pred"))
        .where(col("quality") >= 0.5 && col("lang_pred") === "en")
        .join(keepers, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("quality"))
    }),

    // Cluster-representative selection: the KEEP decision a dedup
    // pipeline actually ships — near-dup clusters resolved by star
    // contraction, then ONE representative per cluster chosen by
    // QUALITY (not min-id): argmax via row_number over (quality desc,
    // id asc), member count riding the same label partition (one
    // shuffle, two window functions, zero extra exchanges)
    "tp_cluster_keep" -> ((s, dir) => {
      val labels = Dedup.nearDupComponents(
        Dedup.jaccardPairs(docs(s, dir), idWindow = 25, threshold = 0.8)
          .select(col("id_a"), col("id_b")))
      val q = docs(s, dir).select(col("doc_id"), TS.qualityScoreCol(col("text")).as("quality"))
      val byLabel = Window.partitionBy(col("label"))
      val pick = byLabel.orderBy(col("quality").desc, col("id").asc)
      labels.join(q, col("id") === col("doc_id"))
        .select(col("label"), col("id"), col("quality"),
          row_number().over(pick).as("rn"),
          count(lit(1)).over(byLabel).as("n_members"))
        .where(col("rn") === 1)
        .select(col("label"), col("id").as("keep_id"),
          col("quality").as("keep_quality"), col("n_members"))
    }),

    // The FULL curation pipeline as ONE composed query — what a
    // production training-data run actually ships: exact-dedup keepers
    // -> quality floor + repetition ceiling gates -> near-dup cluster
    // resolution among the survivors, dropping every non-representative
    // cluster member. Each stage is an already-oracle-checked operator;
    // this query pins that they COMPOSE (the oracle restates the whole
    // chain, recursive components included)
    "tp_full_curation" -> ((s, dir) => {
      val d = docs(s, dir)
      val keepers = Dedup.exactGroups(d).select(col("keep_id").as("doc_id"))
      // the gated survivor set is MATERIALIZED once (r07): it feeds
      // the near-dup pair mining AND the final anti-join — the
      // un-materialized plan re-ran the exact-dedup semi-join +
      // quality/repetition gates for each consumer (the components
      // base-checkpoint rationale applied one level up)
      val gated = d.join(keepers, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("text"),
          TS.qualityScoreCol(col("text")).as("quality"))
        .where(col("quality") >= 0.5 &&
          Dedup.repetitionFracCol(col("text"), 2) <= 0.9)
        .localCheckpoint(false)
      val labels = Dedup.nearDupComponents(
        Dedup.jaccardPairs(gated, idWindow = 25, threshold = 0.8)
          .select(col("id_a"), col("id_b")))
      val drops = labels.where(col("id") =!= col("label")).select(col("id").as("doc_id"))
      gated.join(drops, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("quality"))
    }),

    // Incremental ingestion gate: dedup a NEW batch (odd doc_ids)
    // against the EXISTING corpus (even doc_ids) — exact digest
    // anti-join + cross-set banded MinHash near-dup semi-join; keeps
    // new docs that duplicate nothing already ingested
    "tp_incremental_ingest" -> ((s, dir) =>
      Dedup.incrementalIngestFilter(docs(s, dir), col("doc_id") % 2 === 0,
        bands = 8, rowsPerBand = 4, threshold = 0.8)),

    // Corpus-wide exact span duplication: doc pairs sharing identical
    // 8-word spans via an inverted index on span hashes (Lee et al.
    // exact-substring dedup at span granularity) — corpus-wide, not
    // id-windowed; global boilerplate spans capped out by the hot-key
    // anti-join
    "dd_span_overlap" -> ((s, dir) =>
      Dedup.spanOverlapPairs(docs(s, dir), n = 8)),

    // Order-sensitive ingest gate: same admission pipeline, but the
    // similarity unit is word TRIGRAM shingles (dd_ngram_jaccard's
    // unit) — docs sharing vocabulary but not phrasing pass, reworded
    // near-dups are still rejected
    "tp_ingest_ngram" -> ((s, dir) =>
      Dedup.incrementalIngestFilter(docs(s, dir), col("doc_id") % 2 === 0,
        bands = 8, rowsPerBand = 4, threshold = 0.5, shingleN = 3)),

    // EXCERPT-AWARE ingest gate: Jaccard-only admission lets through a
    // new doc that embeds a corpus doc verbatim inside much new text;
    // this variant also rejects on trigram-shingle CONTAINMENT >= 0.9
    // (dd_containment's kernel in the verify). Narrow bands
    // (rowsPerBand=1) keep candidate recall high at excerpt-level
    // Jaccard — the containment verify supplies the precision
    // (excerpt fixture pinned in OperatorsSpec)
    "tp_ingest_containment" -> ((s, dir) =>
      Dedup.incrementalIngestFilter(docs(s, dir), col("doc_id") % 2 === 0,
        bands = 32, rowsPerBand = 1, threshold = 0.5, shingleN = 3,
        containment = Some(0.9))),

    // Repetition quality signals (Gopher-rule style): per-doc
    // duplicate-token / duplicate-2-gram / duplicate-3-gram fractions
    // + the filter flag a curation pipeline would gate on — one narrow
    // projection, three native shingle passes, no shuffle at all
    "ta_repetition" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        Dedup.repetitionFracCol(col("text"), 1).as("dup_token_frac"),
        Dedup.repetitionFracCol(col("text"), 2).as("dup_2gram_frac"),
        Dedup.repetitionFracCol(col("text"), 3).as("dup_3gram_frac"),
        (Dedup.repetitionFracCol(col("text"), 2) > 0.9).as("flagged"))),

    // Equi-width HISTOGRAM per event type (the distribution summary
    // behind every monitoring dashboard): one hash agg on the
    // (type, bucket) pair — bucket ids are integer floor(value/w), so
    // bins are exact and mergeable; empty bins are absent rows by
    // design (the renderer densifies, not the engine — at 10^12 rows
    // materializing empties would manufacture |types|x|range| rows).
    "ev_histogram" -> ((s, dir) =>
      events(s, dir).where(col("value").isNotNull)
        .groupBy(col("event_type"),
          floor(col("value") / 100.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 6).as("lo"),
          round(max(col("value")), 6).as("hi"))),

    // WINSORIZATION (per-group outlier clipping at [p05, p95]) — the
    // standard robust-stats step before aggregating noisy measures.
    // Bounds come from one grouped percentile agg (|groups| rows,
    // broadcast back into the row stream), the clip is a codegen'd
    // least/greatest projection — rows shuffle once for the bounds
    // agg and never again. At a 10^12-row table swap the exact
    // percentile for approx_percentile exactly as ev_quantiles_approx
    // does (the exact buffer per group is the scale hazard there).
    // Output is per-row (the transform itself), so no double-sum
    // order dependence anywhere.
    "tp_winsorize" -> ((s, dir) => {
      val ev = events(s, dir).where(col("value").isNotNull)
      // r07: clip bounds through the Quantiles size switch (exact at
      // every driver scale — same oracle; see ev_quantiles)
      val exact = graft.operators.Quantiles.useExact(ev)
      val bounds = ev.groupBy(col("event_type")).agg(
        graft.operators.Quantiles.pct(exact, "value", 0.05).as("lo"),
        graft.operators.Quantiles.pct(exact, "value", 0.95).as("hi"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          round(least(greatest(col("value"), col("lo")), col("hi")), 6)
            .as("clipped"),
          (col("value") < col("lo") || col("value") > col("hi"))
            .as("was_outlier"))
    }),

    // FUNNEL analytics (ordered-stage sequence match): how far does
    // each user get through view -> click(after) -> purchase(after)?
    // Each stage is one conditional min-ts agg chained through an
    // equi-join on user_id — stage k's input is stage k-1's survivors,
    // so candidate volume only shrinks; no per-user event array is
    // ever materialized and nothing sorts. Timestamps are compared
    // in-plan only (never output — engines may disagree on rendering,
    // not ordering).
    "ev_funnel" -> ((s, dir) => {
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
    }),

    // Exact interpolated quantiles per event type (Spark `percentile`
    // ≡ DuckDB `quantile_cont`, same type-7 linear interpolation) —
    // the latency/size-distribution summary every event pipeline ships;
    // one shuffle, partial aggregation upstream
    // r07 (round-6 verdict #6): percentiles route through the
    // Quantiles size switch — exact below ExactMaxRows (every driver
    // scale: bit-identical to the old direct percentile, same oracle),
    // bounded-memory approx_percentile above (the 10^12-row OOM
    // guard); approx-regime contract pinned in SparkEntrySpec.
    "ev_quantiles" -> ((s, dir) => {
      val ev = events(s, dir)
      val exact = graft.operators.Quantiles.useExact(ev)
      ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        round(graft.operators.Quantiles.pct(exact, "value", 0.5), 6).as("p50"),
        round(graft.operators.Quantiles.pct(exact, "value", 0.9), 6).as("p90"),
        round(graft.operators.Quantiles.pct(exact, "value", 0.99), 6).as("p99"))
    }),

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
    "ev_quantiles_approx" -> ((s, dir) => {
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
    }),

    // Streaming face of the quantile summary: per-(day-window, type)
    // approx_percentile as a standard streaming aggregation (GK
    // sketches are mergeable state — EventsStream.quantilesWindowedAgg;
    // rank contract pinned against the stream in StreamingSpec). Same
    // rank-bound oracle as ev_quantiles_approx, per window.
    "st_quantiles" -> ((s, dir) => {
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
    }),

    // Unigram LM quality scoring (CCNet-style): per-doc mean token
    // log-probability under the corpus's own unigram distribution —
    // the cheap-LM filter before model-based scoring
    "ta_unigram_logprob" -> ((s, dir) =>
      Search.unigramLogProb(docs(s, dir))),

    // HTML MAIN-CONTENT EXTRACTION (the north rule's "HTML boilerplate
    // strip / DOM heuristics", stated as a declarative operator): each
    // doc's text is wrapped in-plan into a full synthetic page —
    // header/nav link chrome, the content in <article><p>, a footer —
    // and HtmlMain recovers the content by block segmentation +
    // text-density scoring. One narrow projection, no shuffle; same
    // page construction + extraction restated verbatim in the oracle.
    "ex_html_main" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.operators.HtmlMain.mainContentCol(pageCol(withNav = true)).as("main_text"))),

    // LINK EXTRACTION + inbound anchor-text aggregation: every <a>
    // (href, anchor) pair is pulled by one regexp_extract_all pass,
    // zipped, exploded, and grouped by target — inbound anchor text
    // is the classic off-page relevance/label signal, and the link
    // rows are the edge list DomainRank consumes. Two deterministic
    // per-doc links are planted into the page (targets in a fixed
    // 101-slot space so in-degree is meaningful at every SF). One
    // narrow projection + one hash agg on the target key.
    "ex_links" -> ((s, dir) => {
      val re = "<a href=\"([^\"]*)\">([^<]*)</a>"
      val page = concat(
        lit("<html><body><p>"), col("text"),
        lit("</p><a href=\"/doc/"), pmod(col("doc_id") * 7 + 3, lit(101)).cast("string"),
        lit("\">ref "), pmod(col("doc_id"), lit(13)).cast("string"),
        lit("</a> <a href=\"/doc/"), pmod(col("doc_id") * 11 + 5, lit(101)).cast("string"),
        lit("\">see "), pmod(col("doc_id"), lit(17)).cast("string"),
        lit("</a></body></html>"))
      docs(s, dir)
        .select(col("doc_id"), explode(arrays_zip(
          regexp_extract_all(page, lit(re), lit(1)),
          regexp_extract_all(page, lit(re), lit(2)))).as("l"))
        .select(col("l.0").as("href"), col("l.1").as("anchor"))
        .groupBy(col("href")).agg(
          count(lit(1)).as("n_inlinks"),
          countDistinct(col("anchor")).as("n_anchors"),
          min(col("anchor")).as("first_anchor"))
    }),

    // Page METADATA extraction (head-side complement of the body
    // strip): title, meta description (missing on every 3rd doc —
    // pins no-match semantics), canonical link (what feeds URL-level
    // dedup), robots-noindex flag (the hard crawl pre-filter). One
    // codegen'd regex per field over the synthesized page, no shuffle.
    "ex_html_meta" -> ((s, dir) => {
      val H = graft.operators.HtmlMain
      docs(s, dir).select(col("doc_id"),
        H.metaTitleCol(headPageCol).as("title"),
        H.metaDescriptionCol(headPageCol).as("description"),
        H.canonicalLinkCol(headPageCol).as("canonical_url"),
        H.noindexCol(headPageCol).as("noindex"))
    }),

    // The WEB-PIPELINE capstone: page HTML in -> training doc out.
    // Composes ex_html_main's extraction with the curation gates over
    // the EXTRACTED text (quality floor + exact-dedup keeper) — the
    // end-to-end chain the north rule describes, in one oracle
    "ex_web_pipeline" -> ((s, dir) => {
      // extraction runs once (r07): the un-materialized form re-ran
      // the HtmlMain strip (a heavy chained-regex projection) for both
      // the exact-dedup digest pass and the quality pass
      val extracted = docs(s, dir).select(col("doc_id"),
        graft.operators.HtmlMain.mainContentCol(pageCol(withNav = false)).as("text"))
        .localCheckpoint(false)
      val keepers = Dedup.exactGroups(extracted).select(col("keep_id").as("doc_id"))
      extracted
        .select(col("doc_id"), TS.qualityScoreCol(col("text")).as("quality"))
        .where(col("quality") >= 0.5)
        .join(keepers, Seq("doc_id"), "left_semi")
    }),

    // CORPUS-frequency boilerplate line removal (CCNet-style): lines
    // recurring across > 20 documents are chrome the corpus reveals
    // (per-page heuristics cannot); heavy set found by one hash agg
    // over per-doc-distinct lines, rebuild is a broadcast-set array
    // filter — document text never shuffles. 20 is the fixture's
    // absolute threshold (production: frac x corpus_size from stats).
    "ex_boilerplate_lines" -> ((s, dir) =>
      graft.operators.Boilerplate.stripFrequentLines(
        docs(s, dir).select(col("doc_id"),
          graft.operators.Boilerplate.pageCol(col("text"), col("source")).as("page")),
        maxDocs = 20)),

    // Benchmark DECONTAMINATION (GPT-3 appendix C): training docs
    // sharing any 8-gram shingle with the eval split (doc_id%29==0,
    // the small designated benchmark set) are flagged with their
    // shared-shingle count. Eval shingle set broadcasts; the corpus
    // side never shuffles before the tiny matched-rows agg.
    "tp_decontaminate" -> ((s, dir) =>
      Dedup.decontaminate(docs(s, dir), col("doc_id") % 29 === 0, n = 8)),

    // MODEL-BASED classification as pure dataflow: multinomial Naive
    // Bayes trained on the corpus's own (lang, token) counts and
    // applied back in the same plan — train is one hash agg, the
    // model broadcasts, scores round(,6) before the argmax so float
    // sum order can never flip the winner across engines.
    "tp_nb_classify" -> ((s, dir) =>
      graft.operators.NaiveBayes.langClassify(docs(s, dir))),

    // LAYOUT reading-order recovery (the north rule's "PDF/layout
    // parse"): span boxes on a synthetic two-column page; the
    // operator finds the gutter by the 1-D XY-cut gap argmax and
    // re-serializes column-major/top-down. One narrow doc_id shuffle,
    // all windows share it.
    "ex_layout_order" -> ((s, dir) =>
      graft.operators.LayoutOrder.readingOrder(
        graft.operators.LayoutOrder.spanBoxes(docs(s, dir)))),

    // RANGE JOIN: event values classified into overlapping price
    // bands via bucket expansion — the equi-join-on-bucket spine that
    // keeps interval containment a hash join (the naive BETWEEN
    // predicate plans a nested loop). Bands lo=7b, hi=7b+9 overlap by
    // 2, so boundary values match two bands (multi-match pinned).
    "j6_range_join" -> ((s, dir) => {
      val bands = s.range(0, 71).select(col("id").as("band"),
        (col("id") * 7).cast("double").as("lo"),
        (col("id") * 7 + 9).cast("double").as("hi"))
      graft.operators.RangeJoin.rangeJoin(
          events(s, dir).select(col("event_id"), col("value")), "value",
          bands, "lo", "hi", bucketWidth = 10.0)
        .select(col("event_id"), col("band"), col("value"))
    }),

    // INTERVAL-OVERLAP JOIN: per-user click windows × error windows
    // ([value, value+20] each) — both sides bucket-expanded, pair
    // kept only in the first shared bucket, user_id as the extra hash
    // key that bounds candidate volume per entity. Overlap length is
    // pure double arithmetic, identical in both engines.
    "j7_interval_overlap" -> ((s, dir) => {
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
    }),

    // FUZZY JOIN (record linkage): dirty single-edit variants matched
    // back to canonical strings under levenshtein <= 2 via the
    // lossless positional q-gram filter — equi-join on (gram,
    // pos-bucket), count filter, short-string fallback branch, exact
    // verify. Output is bit-identical to the brute-force predicate
    // join the oracle runs; the Spark side never forms |L| x |R|.
    "j8_fuzzy_join" -> ((s, dir) => {
      val F = graft.operators.FuzzyJoin
      val d = docs(s, dir)
      F.fuzzyJoin(
        d.select(col("doc_id").as("l_id"), F.canonicalCol(col("doc_id")).as("l_s")),
        "l_id", "l_s",
        d.select(col("doc_id").as("r_id"), F.dirtyCol(col("doc_id")).as("r_s")),
        "r_id", "r_s", d = 2, q = 3)
    }),

    // RECORD-LINKAGE composition: fuzzy-join edges resolved into
    // entity clusters by the same star-contraction components engine
    // the near-dup pipeline uses — canonical and dirty records live
    // in disjoint id spaces (dirty offset by 10^6), every edge is a
    // verified levenshtein<=2 match, and each cluster is one real-
    // world entity. The oracle recursively closes the brute-force
    // pair SQL — the tp_lsh_components pattern over j8's edges.
    "tp_fuzzy_components" -> ((s, dir) => {
      val F = graft.operators.FuzzyJoin
      val d = docs(s, dir)
      val pairs = F.fuzzyJoin(
          d.select(col("doc_id").as("l_id"), F.canonicalCol(col("doc_id")).as("l_s")),
          "l_id", "l_s",
          d.select(col("doc_id").as("r_id"), F.dirtyCol(col("doc_id")).as("r_s")),
          "r_id", "r_s", d = 2, q = 3)
        .select(col("l_id").as("id_a"), (col("r_id") + 1000000L).as("id_b"))
      Dedup.nearDupComponents(pairs).select(col("id"), col("label"))
    }),

    // Schema-enforced JSON INGESTION with corrupt-record routing: the
    // first stage of every semi-structured 100 TB ingest. Lines are
    // parsed through the real Jackson path (from_json with an explicit
    // schema — the jsonl-source semantics without filesystem side
    // effects: the fixture TRUNCATES every 13th serialized line
    // in-plan — trailing-garbage corruption is NOT enough, Jackson
    // accepts a valid leading object and ignores the tail, a parser
    // fact this query pins), malformed rows surface as NULL structs
    // and are routed, not dropped silently. The oracle states the
    // expected routing outcome from the corruption rule — a parser
    // that mangled a field or passed a corrupt line would
    // hash-mismatch.
    "src_json_ingest" -> ((s, dir) => {
      val line = to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
      val raw = docs(s, dir).select(col("doc_id").as("src_id"),
        when(col("doc_id") % 13 === 0, line.substr(lit(1), length(line) - 5))
          .otherwise(line).as("line"))
      // PERMISSIVE + corrupt-record column: the jsonl-source routing
      // semantics exactly — a malformed line lands raw in _corrupt
      // (fields null), a parsed line leaves _corrupt null
      raw.select(col("src_id"),
          from_json(col("line"),
            "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt STRING",
            Map("mode" -> "PERMISSIVE",
              "columnNameOfCorruptRecord" -> "_corrupt")).as("r"))
        .select(col("src_id"), col("r.doc_id").as("doc_id"),
          col("r.lang").as("lang"), col("r.n_chars").as("n_chars"),
          col("r._corrupt").isNull.as("valid"))
    }),

    // Event TRANSITION matrix (Markov flow between consecutive events
    // per user — the "what happens after an error" summary): one lag
    // window per user (partition bounded by user activity, the same
    // safe shape as ev_rolling) feeding one hash agg on the
    // (from, to) pair. All integer counts.
    "ev_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev"))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("from_evt"), col("event_type").as("to_evt"))
        .agg(count(lit(1)).as("n"))
    }),

    // SEQUENCE PATTERN MATCHING over per-user event journeys
    // (MATCH_RECOGNIZE-lite): each user's events collapse to an
    // ordered initial-string ('vcpse' alphabet) via ONE hash agg —
    // collect_list partials merge map-side, array_sort orders by
    // (ts, event_id) inside the row, and adjacency patterns become
    // plain regexes on the journey (codegen'd). No window, no
    // per-user partition sort; state is bounded by per-entity
    // activity, the inherent floor for sequence reconstruction.
    "ev_sequence_match" -> ((s, dir) => {
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
    }),

    // COHORT RETENTION (first-seen day -> activity at day offset k):
    // the engagement summary every event product ships. Cohort is one
    // min-date agg; the join back is user-keyed; day offsets are
    // integer datediffs, so every output cell is an exact integer.
    // Two shuffles total (cohort agg + the (cohort, k) rollup).
    "ev_retention" -> ((s, dir) => {
      val e = events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val cohorts = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
      e.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort"), datediff(col("d"), col("cohort")).as("k"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .select(col("cohort").cast("string").as("cohort_day"),
          col("k").cast("long").as("day_offset"), col("n_active"))
    }),

    // Domain RANKING for crawl prioritization: PageRank power
    // iteration over the doc-derived domain link graph — ranks
    // broadcast each step so the edge table never shuffles; one
    // |domains|-sized partial-sum exchange per iteration.
    "ex_domain_rank" -> ((s, dir) =>
      graft.operators.DomainRank.pageRank(
        graft.operators.DomainRank.linkEdges(docs(s, dir)))),

    // URL canonicalization + URL-level dedup (the pre-fetch dedup of
    // every crawl pipeline): crawl-variant URLs (host case, default
    // port, www alias, utm params, fragment) collapse to one
    // canonical form; meaningful query params survive. Chained
    // anchored regexes, one hash agg on the canonical string.
    "ex_url_canonical" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.operators.UrlCanon.canonicalCol(
          graft.operators.UrlCanon.urlCol(col("doc_id"))).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).cast("long").as("n_variants"),
          min(col("doc_id")).as("keep_id"))),

    // Fractional UPSAMPLING with replacement (rare-language
    // oversampling, the replication twin of tp_mixture_sample's
    // downsampling gate): weight 3.5x emits 3 copies always + a 4th
    // behind a deterministic integer-hash gate with probability 0.5 —
    // epochs-style mixing without engine RNG. explode(sequence(...))
    // is a narrow generator (no shuffle); the copy multiplier is
    // decided per row at scan time.
    "tp_upsample" -> ((s, dir) => {
      val w10 = when(col("lang") === "zh", 35)
        .when(col("lang") === "fr", 20).otherwise(10)
      val gate = pmod(pmod(col("doc_id"), lit(1000003L)) * 131071L + 17L,
        lit(1000003L)) % 10
      val copies = (w10 / 10).cast("long") +
        when(gate < w10 % 10, 1L).otherwise(0L)
      docs(s, dir).select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), copies)).as("copy_no"))
    }),

    // GLOBAL TRAINING ORDER (deterministic shuffle of the corpus into
    // a total order) — the step that serializes a curated corpus into
    // training sequence. The naive row_number() over a global ORDER BY
    // funnels the entire corpus through ONE partition; the scale shape
    // is the two-pass bucket rank: (1) bucket rows by a range of the
    // sort key and count per bucket (one small agg), (2) cumulative
    // bucket offsets via a window over the ~101-row bucket table (tiny
    // by construction — that window is the only single-partition step
    // and it never sees corpus rows), (3) rank = offset + row_number
    // WITHIN the bucket (window keyed on bucket, partitions stay
    // ~|corpus|/101). Sort key is a bijective LCG scramble of doc_id
    // (injective below the 1000003 modulus; doc_id tie-break keeps the
    // order total past it), so the "shuffle" is reproducible and the
    // oracle can state the same total order directly.
    "tp_global_order" -> ((s, dir) => {
      // bucket count is THE scaling knob: production sets it to
      // ~|corpus| / rows-per-partition (10^12 docs at 10^7 rows per
      // partition -> 10^5 buckets: the offsets table stays
      // driver-trivial while no rank-window partition outgrows an
      // executor); ~101 fits the fixture
      val bucketWidth = 10000L
      val h = pmod(col("doc_id") * 131071L + 17L, lit(1000003L))
      val rows = docs(s, dir).select(col("doc_id"), h.as("h"),
        (h / bucketWidth).cast("long").as("bkt"))
      val offsets = rows.groupBy(col("bkt")).agg(count(lit(1)).as("c"))
        .withColumn("offset", coalesce(sum(col("c")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("bkt"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("bkt"), col("offset"))
      rows.join(broadcast(offsets), Seq("bkt"))
        .withColumn("rank", col("offset") + row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("bkt"))
            .orderBy(col("h"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("rank"))
    }),

    // Data MIXING: deterministic per-language sampling (downsample the
    // dominant language, keep the rest at high rate) — the mixture
    // step every pre-training corpus assembly runs. The gate is a pure
    // integer hash of doc_id (the planeWeight idiom — no engine RNG,
    // so the sample is reproducible and oracle-checkable), one
    // pushed-down filter, zero shuffles. The id is REDUCED mod M
    // before the multiply and re-pmod'd after: the inner pmod bounds
    // the product under 2^63 for ANY long id (ANSI mode would throw
    // on overflow) and keeps the gate nonneg for negative hash-derived
    // ids — DuckDB's signed % is twinned with the ((x%M)+M)%M form.
    // BLOOM-PREFILTERED DIGEST ANTI-JOIN: admit docs whose content
    // digest is not in a reject set (decontamination / resume / ingest
    // gating). The bloom (built by Spark's distributed sketch agg over
    // the reject side) broadcasts into the corpus scan: probe-negative
    // rows are DEFINITELY clean (no false negatives) and skip the join
    // entirely; only the ~fpp fraction of maybe-members reaches the
    // exact anti-join. The final answer is EXACTLY the plain anti-join
    // — the oracle states it as such, so a single lost true member
    // (a bloom false negative) would hash-mismatch the gate.
    "tp_bloom_prefilter" -> ((s, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val d = docs(s, dir).select(col("doc_id"), md5(col("text")).as("digest"))
      val reject = d.where(col("doc_id") % 3 === 0).select(col("digest"))
      // sized for the sf0.1 reject cardinality; production sizes from
      // the reject set's known/sketched count (or shards by prefix)
      val bloom = reject.stat.bloomFilter("digest", 100000L, 0.03)
      val probe = ColumnBridge.column(graft.functions.BloomMightContain(
        ColumnBridge.expression(col("digest")),
        graft.functions.BloomMightContain.serialize(bloom)))
      // no distinct on the reject side: anti-join is existence-based,
      // and deduping it first would cost the very shuffle the bloom
      // exists to avoid
      val definitelyClean = d.where(!probe)
      val verified = d.where(probe)
        .join(reject, Seq("digest"), "left_anti")
      definitelyClean.unionByName(verified).select(col("doc_id"))
    }),

    // GROUP-WISE TOP-K (best 5 docs per language by quality): the
    // same TopKByScore partial aggregate that replaced the ANN
    // windows — per-task buffers cap at k, the shuffle carries
    // tasks x k rows per group instead of every group member, and no
    // rank window ever materializes a group on one partition. Tie
    // rule (score desc, id asc) restated as the oracle's row_number
    // ordering.
    "tp_topk_per_group" -> ((s, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val scored = docs(s, dir).select(col("lang"), col("doc_id"),
        TS.qualityScoreCol(col("text")).as("score"))
      val agg = ColumnBridge.column(graft.functions.TopKByScore(
        ColumnBridge.expression(col("score")),
        ColumnBridge.expression(col("doc_id")), 5).toAggregateExpression())
      scored.groupBy(col("lang")).agg(agg.as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
          col("t.neighbor_id").as("doc_id"),
          round(col("t.score"), 6).as("quality"))
    }),

    // WEIGHTED SAMPLING WITHOUT REPLACEMENT (exponential clocks):
    // each doc gets `w` integer hash draws and keeps the minimum;
    // ordering docs by that min is distributed EXACTLY as successive
    // weighted sampling (min of w uniforms orders like an Exp(w)
    // arrival — the Efraimidis-Spirakis scheme with integer weights),
    // so top-n by draw IS the weighted sample. All-integer hashing
    // (the tp_mixture_sample idiom) keeps both engines bit-equal — no
    // engine RNG, no float pow/ln. The draw is computed IN-ROW
    // (array_min over the w sub-hashes, no explode/groupBy), so the
    // whole query is a narrow scan + TakeOrdered: per-partition
    // partial top-n, one tiny merge — no global sort at any scale.
    "tp_weighted_sample" -> ((s, dir) => {
      val P = 1000003L
      docs(s, dir).where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("lang"),
          when(col("lang") === "zh", 4)
            .when(col("lang") === "fr", 2).otherwise(1).as("w"))
        .select(col("doc_id"), col("lang"),
          array_min(transform(sequence(lit(1), col("w")),
            r => (pmod(col("doc_id") * 8 + r, lit(P)) * 131071L + 17L) % P))
            .as("draw"))
        .orderBy(col("draw").asc, col("doc_id").asc)
        .limit(100)
    }),

    "tp_mixture_sample" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), col("lang"),
        (pmod(pmod(col("doc_id"), lit(1000003L)) * 131071L + 17L, lit(1000003L)) % 100).as("u"),
        when(col("lang") === "en", 50).otherwise(90).as("rate"))
        .where(col("u") < col("rate"))
        .select(col("doc_id"), col("lang"))),

    // SEQUENCE PACKING: assign docs to fixed-token-budget training
    // sequences — greedy start-bin assignment (a doc lands in the bin
    // where its running-token prefix starts; combine with ta_chunking
    // to split docs longer than the budget). Packing is sequential by
    // nature, so the order is SHARDED (doc_id % 8) and the cumulative
    // sum runs per shard: one bounded window exchange, never a global
    // single-partition sort — shards are the parallelism unit,
    // exactly how distributed packers shard. 8 here is the fixture
    // constant the oracle restates; production sets the shard count
    // to O(cluster parallelism) so each shard's sorted run fits an
    // executor (the operator itself is shard-count-agnostic).
    "tp_pack_sequences" -> ((s, dir) => {
      val budget = 512
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs(s, dir).select(col("doc_id"),
          pmod(col("doc_id"), lit(8)).as("shard"),
          size(Dedup.wordSeqCol(col("text"))).cast("long").as("n_tokens"))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / budget)
            .cast("long").as("seq_bin"))
    }),

    // Bigram LM scoring: order-sensitive LM quality signal (scrambled
    // word order scores low where unigram frequency is blind) — same
    // explode/aggregate/broadcast-join shape as the unigram face
    "ta_bigram_logprob" -> ((s, dir) =>
      Search.bigramLogProb(docs(s, dir))),

    // SUBWORD (BPE) tokenization — the unit real token budgets are
    // counted in (round-5 verdict #5): merges trained deterministically
    // on the driver vocabulary (BpeTokenizer scaladoc), applied as M
    // chained codegen'd string replaces over an enclosed char encoding;
    // the FULL token sequence and count are oracle-checked (the DuckDB
    // SQL is generated from the same trained merge table). Narrow
    // per-row projection: no shuffle, no UDF. The encoded intermediate
    // is staged in its own select so both derived columns read ONE
    // evaluation (codegen CSE; the HtmlMain staging rule).
    "ta_bpe_tokenize" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          graft.text.BpeTokenizer.encodeCol(lower(col("text"))).as("enc"))
        .select(col("doc_id"),
          graft.text.BpeTokenizer.tokensFromEncCol(col("enc")).as("bpe_tokens"),
          graft.text.BpeTokenizer.countFromEncCol(col("enc")).as("n_bpe_tokens"))),

    // Sequence packing budgeted in SUBWORD tokens — tp_pack_sequences'
    // production twin (training bins are BPE-token budgets, not word
    // counts); identical shard/window shape, the count column swaps
    "tp_pack_sequences_bpe" -> ((s, dir) => {
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs(s, dir)
        .select(col("doc_id"),
          graft.text.BpeTokenizer.encodeCol(lower(col("text"))).as("enc"))
        .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
          graft.text.BpeTokenizer.countFromEncCol(col("enc")).as("n_tokens"))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / 512)
            .cast("long").as("seq_bin"))
    }),

    // PII redaction — the scrub pass curation pipelines run before
    // training (emails / phone numbers / IPv4): deterministic
    // synthetic contacts are planted in-plan (the fixture has no PII),
    // then counted on the original and scrubbed by three chained
    // regexp_replace — all codegen'd, no UDF; patterns are shared
    // Java-regex/RE2 syntax so DuckDB restates them verbatim.
    // CONTRACT: n_redactions counts pattern MATCHES ON THE ORIGINAL,
    // not substitutions — a string matching two classes at once (an
    // IP embedded inside an email local part) counts twice but is
    // consumed by the first replace; the planted fixture keeps the
    // classes disjoint (%7 email branch wins before %11) so the two
    // notions coincide here
    "tp_redact" -> ((s, dir) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "[0-9]{3}-[0-9]{4}"
      val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
      docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"), lit("@example.com now")))
          .when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" from 10.0.0."), (col("doc_id") % 250).cast("string")))
          .otherwise(col("text")).as("t"))
        .select(col("doc_id"),
          (regexp_count(col("t"), lit(email)) + regexp_count(col("t"), lit(phone)) +
            regexp_count(col("t"), lit(ip))).cast("long").as("n_redactions"),
          regexp_replace(regexp_replace(regexp_replace(col("t"),
            lit(email), lit("<EMAIL>")), lit(phone), lit("<PHONE>")), lit(ip), lit("<IP>"))
            .as("redacted"))
    }),

    // Corpus keyword search: BM25 top-k over a probe query mixing the
    // rare near-dup marker ("dup", df~5%) with common vocabulary —
    // retrieval-based curation (contamination checks, topical subset
    // pulls). One narrow tf/dl pass, a one-row corpus-stats broadcast,
    // TakeOrdered top-k
    "ta_bm25_topk" -> ((s, dir) =>
      Search.bm25TopK(docs(s, dir), BmTerms, k = 25)),

    // Build-once/query-many face of BM25: corpus tokenized ONCE into a
    // term-hash-partitioned postings index (lake seam), the query
    // reads only the probed terms' partitions — same scores, held to
    // the SAME oracle as ta_bm25_topk (SearchIndex scaladoc;
    // PartitionFilters pruning pinned in OperatorsSpec). The index is
    // cached per input dir for the JVM's lifetime — build-once is the
    // operator's POINT, so bench pass 2 (and the per-query min)
    // measures the amortized probe, not a rebuild, and repeated runs
    // don't accrete temp dirs (review round-5).
    "ta_bm25_indexed" -> ((s, dir) => {
      val idx = bmIdxCache.computeIfAbsent(dir, d => {
        val tmp = deleteOnExit(
          java.nio.file.Files.createTempDirectory("graft-bmidx").toString)
        graft.operators.SearchIndex.build(docs(s, d), new graft.lake.ParquetLake(tmp), "bm")
      })
      graft.operators.SearchIndex.queryTopK(s, idx, BmTerms, k = 25)
    }),

    // Corpus-wide top-k frequent word TRIGRAMS (boilerplate-phrase
    // discovery — the diagnostic face of dd_span_overlap's hot-span
    // cap): ChunkTokens at (n, n-1) enumerates every n-gram in one
    // native pass (step 1, all windows full once len >= n); explode is
    // map-side, count partially aggregates, top-k is TakeOrdered
    "ta_ngram_freq" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(Dedup.chunkTokensCol(lower(col("text")), 3, 2)).as("ngram"))
        // ONE whole-doc tokenization; sub-trigram remainders (docs
        // shorter than 3 words chunk to one short window) are dropped
        // by a per-ngram 3-token check — bounded-length splits instead
        // of a second full-document tokenization pass
        .where(size(split(col("ngram"), " ")) === 3)
        .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram").asc)
        .limit(20)),

    // Corpus vocabulary statistics: global token frequencies, top 20 —
    // explode is map-side, the count aggregates partially before the
    // one shuffle, and the top-k is a driver-sized TakeOrdered (no
    // global sort materialization)
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
    "ev_approx_distinct" -> ((s, dir) => {
      val ev = events(s, dir)
        .where(col("event_type").isNotNull && col("user_id").isNotNull)
      ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.05).as("n_est"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_est") - col("n_exact")) * 5 <= col("n_exact"))
            .as("within_20pct"))
    }),

    // HEAVY HITTERS under a bounded-memory sketch: mergeable
    // Misra-Gries (capacity 64) over a canonical hot/cold stream — 5
    // hot keys at ~10% each drowned in unique cold keys (the testdata
    // tables are deliberately uniform, so the regime is derived
    // deterministically from event_id; scale-invariant at every SF).
    // Exact groupBy(key) here shuffles one row per DISTINCT key
    // (billions at corpus scale); the sketch's partial buffers cap at
    // m entries per task. Counter VALUES depend on merge order, so the
    // oracle checks the CONTRACT (the ev_quantiles_approx pattern):
    // every key with true freq > n/m is present (inner join), its
    // estimate undercounts (est <= exact), and the undercount is
    // bounded (exact - est <= n/m, integer arithmetic both sides).
    "ta_heavy_hitters" -> ((s, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val toks = events(s, dir).where(col("event_id").isNotNull)
        .select(when(col("event_id") % 10 < 5,
            concat(lit("hot_"), (col("event_id") % 10).cast("string")))
          .otherwise(concat(lit("cold_"), col("event_id").cast("string")))
          .as("key"))
      val mg = ColumnBridge.column(graft.functions.MisraGries(
        ColumnBridge.expression(col("key")), 64).toAggregateExpression())
      val est = toks.agg(mg.as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.key").as("key"), col("e.est").as("est"))
      val n = toks.agg(count(lit(1)).as("n"))
      toks.groupBy(col("key")).agg(count(lit(1)).as("exact_cnt"))
        .crossJoin(broadcast(n))
        .where(col("exact_cnt") * 64 > col("n"))
        .join(est, Seq("key"))
        .select(col("key"), col("exact_cnt"),
          (col("est") <= col("exact_cnt")).as("under_ok"),
          ((col("exact_cnt") - col("est")) * 64 <= col("n")).as("gap_ok"))
    }),

    // ROLLING row-frame stats per entity (last-4-events sum/min/max/
    // avg ordered by (ts, event_id)) — the feature-engineering shape
    // for sessions/fraud/rate features. All four aggregates share ONE
    // window spec, so the plan pays a single (user_id)-hash exchange
    // and one sort; the frame is row-bounded, so state per row is
    // O(4) however long the partition. The measure is floor(value*100)
    // — an exact integer both engines derive from the same double
    // product — so frame sums are order-free integers and the avg is
    // one rounded division at the end.
    "ev_rolling" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
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
    }),

    // POINT-FREQUENCY estimates under a COUNT-MIN sketch — the lookup
    // sibling of ta_heavy_hitters' Misra-Gries: MG can only speak
    // about keys it retained; CMS answers "how often did THIS key
    // occur" for ANY probe key (including absent ones) from
    // depth x width counters built by one mergeable treeAggregate —
    // never the per-distinct-key groupBy shuffle. Error sign is
    // opposite to MG: NO undercount ever (hard guarantee), overcount
    // <= 2*eps*n with P(fail) <= 4^-depth per key (Markov per row,
    // depth=7 at confidence 0.99 -> ~6e-5; validated at sf0.001/0.01/
    // 0.1, seed fixed). The exact side semi-joins to the probe keys
    // FIRST, so the contract check itself never shuffles the
    // vocabulary either. Flags only in the output (the estimates are
    // deterministic for fixed data+seed but engine-specific).
    "ta_cms_freq" -> ((s, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge
      import s.implicits._
      val toks = events(s, dir).where(col("event_id").isNotNull)
        .select(when(col("event_id") % 10 < 5,
            concat(lit("hot_"), (col("event_id") % 10).cast("string")))
          .otherwise(concat(lit("cold_"), col("event_id").cast("string")))
          .as("key"))
      val cms = toks.stat.countMinSketch("key", eps = 0.002,
        confidence = 0.99, seed = 42)
      val est = ColumnBridge.column(graft.functions.CmsEstimate(
        ColumnBridge.expression(col("key")),
        graft.functions.CmsEstimate.serialize(cms)))
      val probes = s.range(0, 5)
        .select(concat(lit("hot_"), col("id").cast("string")).as("key"))
        .unionByName(Seq("cold_7", "cold_77", "absent_a", "absent_b").toDF("key"))
      val exact = toks.join(broadcast(probes), Seq("key"))
        .groupBy(col("key")).agg(count(lit(1)).as("exact_cnt"))
      val n = toks.agg(count(lit(1)).as("n"))
      probes.join(exact, Seq("key"), "left")
        .na.fill(0L, Seq("exact_cnt"))
        .crossJoin(broadcast(n))
        .select(col("key"), col("exact_cnt"),
          (est >= col("exact_cnt")).as("over_ok"),
          ((est - col("exact_cnt")) * 250 <= col("n")).as("bound_ok"))
    }),

    // HYBRID RETRIEVAL (BM25 recall -> vector rerank): the lexical
    // top-50 provides cheap candidates; ONLY those 50 pay a cosine
    // against the query vector (vec 0). The candidate set broadcasts
    // into the embeddings scan, so the expensive vector side touches
    // |candidates| rows however big the corpus — the standard
    // two-stage retrieval shape. hybrid = 0.1*bm25 + cosine, formed
    // from the two already-rounded components so both engines add
    // identical doubles.
    "ta_hybrid_search" -> ((s, dir) => {
      val bm = Search.bm25TopK(docs(s, dir), BmTerms, k = 50)
      val emb = embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val q = embeddings(s, dir).where(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      broadcast(bm).join(emb, Seq("doc_id"))
        .crossJoin(broadcast(q))
        .select(col("doc_id"), col("score"),
          round(Similarity.cosineCol(col("embedding"), col("q_emb")), 6)
            .as("cosine"))
        .select(col("doc_id"), col("score"), col("cosine"),
          round(col("score") * 0.1 + col("cosine"), 6).as("hybrid"))
        .orderBy(col("hybrid").desc, col("doc_id").asc)
        .limit(10)
    }),

    // STRATIFIED SAMPLING with an exact per-stratum quota: a
    // deterministic integer-hash draw ranks docs WITHIN each lang and
    // the k-capped partial aggregate takes exactly min(20, |stratum|)
    // — the sampling twin of tp_topk_per_group (score = hash, not
    // quality), so quota sampling costs one bounded-buffer shuffle,
    // never a per-stratum sort.
    "tp_stratified_sample" -> ((s, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val draw = pmod(pmod(col("doc_id"), lit(1000003L)) * 131071L + 17L,
        lit(1000003L))
      val scored = docs(s, dir).select(col("lang"), col("doc_id"),
        (-draw).cast("double").as("score"))
      val agg = ColumnBridge.column(graft.functions.TopKByScore(
        ColumnBridge.expression(col("score")),
        ColumnBridge.expression(col("doc_id")), 20).toAggregateExpression())
      scored.groupBy(col("lang")).agg(agg.as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
          col("t.neighbor_id").as("doc_id"))
    }),

    // COLLOCATION MINING (PMI over adjacent-token bigrams): the
    // phrase-detection pass before tokenizer training. All counts are
    // integers from two hash aggs (unigrams, bigrams); PMI is ONE ln
    // over their exact integer ratio, so both engines feed the same
    // rational into the same log. The uniform testdata has no natural
    // collocations, so one is planted deterministically ('zig zag' on
    // every 5th doc — pmi ~ ln(nu^2/(nb*c)) >> 0 while noise bigrams
    // sit near 0). Long arithmetic stays under 2^63 through sf0.1 x
    // 100 (nu^2 * c_ab ~ 1e17); past that, pre-divide or go decimal.
    "ta_collocations" -> ((s, dir) => {
      val txt = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" zig zag"))).otherwise(col("text"))
      // r07: the corpus totals need NO explode at all — nu is the sum
      // of per-doc token counts and nb the sum of per-doc bigram
      // counts (identical values to counting the exploded streams),
      // so both ride ONE narrow scalar agg. Neither count table is
      // checkpointed (measured): materializing vocab-sized string
      // tables costs more than the one extra explode it saves, so the
      // unigram table recomputes per join (2 explodes, vs 3+2 before
      // the totals derivation).
      val w = docs(s, dir).select(Dedup.wordSeqCol(txt).as("w"))
        .where(size(col("w")) >= 2)
      val totals = w.agg(sum(size(col("w"))).as("nu"),
        sum(size(col("w")) - 1).as("nb"))
      val uc = w.select(explode(col("w")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      w.select(explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("a"),
            element_at(col("w"), i + 1).as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
        .where(col("c_ab") >= 20)
        .join(uc.select(col("t").as("a"), col("c").as("c_a")), Seq("a"))
        .join(uc.select(col("t").as("b"), col("c").as("c_b")), Seq("b"))
        .crossJoin(broadcast(totals))
        .select(col("a"), col("b"), col("c_ab"),
          round(log((col("c_ab") * col("nu") * col("nu")) /
            (col("nb") * col("c_a") * col("c_b"))), 6).as("pmi"))
    }),

    // KEYWORD EXTRACTION (tf-idf top-3 per doc): tf from one
    // (doc, term) hash agg over the exploded token stream, df from a
    // second agg over those already-distinct pairs, smooth idf
    // ln((N+1)/(df+1))+1, rank per doc. The rank window partitions by
    // doc_id, so each partition holds ONE document's distinct terms
    // (bounded by document length) — the safe window shape, unlike
    // the per-query corpus-wide windows TopKByScore replaced. The
    // rank ORDERS BY THE ROUNDED score (then term asc): both engines
    // feed the same integer ratio into ln, but Java Math.log and
    // DuckDB's libm may differ in the last ulp — ranking raw doubles
    // would hinge on that; at 6 decimals the comparison is engine-
    // identical and residual ties break deterministically (the BM25
    // summation-order lesson, applied at authoring time).
    "ta_keywords_tfidf" -> ((s, dir) => {
      // tf is MATERIALIZED once (r07): it feeds both the df aggregate
      // and the scored join — un-materialized, each consumer re-ran
      // the corpus explode+agg
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(Dedup.wordSeqCol(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      val scored = tf.join(dfT, Seq("term")).crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * (log((col("n") + 1) / (col("df") + 1)) + 1), 6))
      scored.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("term").asc)))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("term"), col("score"))
    }),

    "ta_token_freq" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(Dedup.tokensCol(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)),

    // Training chunking: token-bounded chunks with overlap (64/16) —
    // the step between cleaning and tokenization; chunk boundaries
    // and remainder semantics restated exactly in the oracle
    "ta_chunking" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          posexplode(Dedup.chunkTokensCol(col("text"), size = 64, overlap = 16))
            .as(Seq("chunk_idx", "chunk_text")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_text"),
          size(split(col("chunk_text"), " ")).cast("long").as("n_tokens"))),

    // Text analysis: token counts, quality score, language ID, fingerprint
    "ta_text_stats" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TS.tokenCountCol(col("text")).cast("long").as("bpe_tokens"),
        TS.wsTokenCountCol(col("text")).cast("long").as("ws_tokens"),
        TS.qualityScoreCol(col("text")).as("quality"),
        TS.langIdCol(col("text")).as("lang_pred"),
        TS.fingerprintCol(col("text")).as("fingerprint"))),

    // T6+A2: evaluation view — "--- Page N ---" headers and "\n"-joined
    // full text (tesseract_backend.py:167,190; '.'-chunks as pages)
    "t6_a2_eval_view" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        array_join(
          transform(split(col("text"), "\\.", -1),
            (x, i) => concat(lit("--- Page "), (i + 1).cast("string"), lit(" ---\n"), trim(x))),
          "\n").as("eval_text"))),

    // J1: backend-keyed result merge as a pivot (ocr_evaluation.py:160-172
    // analogue): per-user event counts pivoted by type
    "j1_backend_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      events(s, dir).groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
    }),

    // A8: cross-backend statistics + best/fastest argmax
    // (ocr_evaluation.py:281-290); deterministic tie-break via
    // (metric, source) struct ordering
    "a8_backend_stats" -> ((s, dir) => {
      val perSource = docs(s, dir).groupBy(col("source"))
        .agg(round(avg(length(col("text"))), 6).as("conf"),
          round(sum(col("n_chars")) / 100.0, 6).as("speed"))
      perSource.agg(
        round(avg(col("conf")), 6).as("avg_conf"),
        round(avg(col("speed")), 6).as("avg_speed"),
        max(struct(col("conf"), col("source"))).getField("source").as("best_source"),
        max(struct(col("speed"), col("source"))).getField("source").as("fastest_source"))
    }),

    // T7: filename/basename projection (smart.py:345-346)
    "t7_basename" -> ((s, dir) => {
      val path = concat(col("source"), lit("/doc-"), col("doc_id"), lit(".pdf"))
      docs(s, dir).select(col("doc_id"),
        regexp_extract(path, "([^/]+)$", 1).as("basename"),
        regexp_extract(path, "([^/]+)\\.pdf$", 1).as("stem"))
    }),

    // O1 line-level results: the reference's `[bbox, (text, conf)]` line
    // shape (paddleocr_backend.py:63) surfaced as rows — raw recognized
    // line text per image span, exactly matching the rendered layout
    // Salted repartition matters here: without it this fan-out
    // inherits the parquet's few input partitions and the per-image
    // OCR runs on a handful of cores (measured 7x slower in round 1)
    "ocr_lines" -> ((s, dir) => {
      import s.implicits._
      ocrMapPartitions(DocGen.fromDriverDocs(s, dir)) { (d, engine) =>
        d.spans.filter(_.kind == "image").flatMap { sp =>
          engine.recognize(fetchImage(sp.media_ref)).lines.zipWithIndex.map { case (l, j) =>
            (d.doc_id, sp.offset.toLong, j.toLong, l.text)
          }
        }
      }.toDF("doc_id", "offset", "line_idx", "line_text")
    }),

    // P3+P4: line-confidence floor + valid-word filter as a driver
    // query (easyocr_backend.py:113-121 floor semantics, the 0.3 floor
    // of src/config.py:27,34,44; tesseract_backend.py:138-142 empty
    // filter). Noise-free renders make every real line's confidence
    // exactly 1.0, so the SAME recognized page is provably KEPT at the
    // reference's 0.3 floor and provably DROPPED at an unattainable
    // 1.01 floor — both sides of the gate, deterministically oracle-
    // statable. (A garbage-input negative is impossible by design:
    // nearest-template confidence floors around ~0.7 even on noise
    // blobs, so only the floor value itself discriminates exactly.)
    "p3_conf_floor" -> ((s, dir) => {
      import s.implicits._
      ocrMapPartitions(docs(s, dir).select(col("doc_id")).as[Long]) { (id, engine) =>
        val img = fetchImage(graft.image.SynthMediaStore.ref(
          Vocab.Sentences(Vocab.sentenceIdx1(id)), Vocab.Angles(Vocab.angleIdx1(id)), 0, id))
        // recognize ONCE, filter per floor: the OCR pass is the
        // expensive part and both floors see the same page
        val full = engine.recognize(img)
        Seq(0.3, 1.01).map { floor =>
          val r = engine.applyLineFloor(full, floor)
          (id, floor, r.lines.size.toLong, r.text)
        }
      }.toDF("doc_id", "floor", "kept_lines", "kept_text")
    }),

    // A3: per-page (per image span) average line confidence — on the
    // noise-free corpus every glyph matches its template exactly, so
    // the per-page mean is exactly 1.0 and one line exists per span
    // (single-line layout pinned by VocabLayoutSpec)
    "a3_page_conf" -> ((s, dir) => {
      import s.implicits._
      ocrMapPartitions(DocGen.fromDriverDocsClean(s, dir)) { (d, engine) =>
        d.spans.filter(_.kind == "image").map { sp =>
          val r = engine.recognize(fetchImage(sp.media_ref))
          val avg = if (r.lines.isEmpty) 0.0 else r.lines.map(_.confidence).sum / r.lines.size
          (d.doc_id, sp.offset.toLong, r.lines.size.toLong,
            BigDecimal(avg).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.toDF("doc_id", "offset", "n_lines", "avg_line_conf")
    }),

    // Evaluation envelope (ocr_evaluation.py:102-126): the per-run
    // record {backend_name, pdf_path, pages_processed, success} plus
    // the extracted word count the per-backend metrics derive their
    // words/sec from (tesseract_backend.py:220-223), surfaced per
    // document from the extraction output (deterministic fields only;
    // evaluation_time/timestamp are nondeterministic and live in the
    // lineage table instead)
    "eval_envelope" -> ((s, dir) =>
      ExtractionJob.extract(s, DocGen.fromDriverDocs(s, dir)).toDF
        .select(col("doc_id"),
          lit("graft").as("backend_name"),
          concat(col("doc_id"), lit(".pdf")).as("pdf_path"),
          size(col("spans")).cast("long").as("pages_processed"),
          TS.wsTokenCountCol(concat_ws(" ",
            transform(col("spans"), sp => sp.getField("text")))).cast("long").as("total_words"),
          (col("metrics.failed_spans") === 0 && col("error").isNull).as("success"))),

    // OCR-quality gate: keep documents whose pooled glyph confidence
    // clears a threshold — the standard training-data filter over OCR'd
    // corpora (confidence floor semantics of src/config.py:81). Run on
    // the NOISE-FREE corpus, where every glyph matches its template
    // exactly and mean confidence is exactly 1.0 — oracle-statable.
    // The noisy-corpus bounds (>= MinValidConf) stay pinned in
    // PipelineSpec.
    "ocr_conf_filter" -> ((s, dir) =>
      ExtractionJob.extract(s, DocGen.fromDriverDocsClean(s, dir))
        .select(col("doc_id"), round(col("metrics.mean_confidence"), 6).as("mean_conf"))
        .where(col("mean_conf") >= 0.99)),

    // Structured output format (smart-structured.py:130-260): the full
    // nested per-document schema, flattened to its oracle-checkable
    // scalars (the nested shape is pinned in StructuredViewSpec)
    "structured_doc" -> ((s, dir) =>
      graft.pipeline.StructuredView.flat(
        ExtractionJob.extract(s, DocGen.fromDriverDocs(s, dir)).toDF)),

    // Streaming twin: the EXACT aggregation the Structured Streaming
    // surface runs (watermarked 5-min tumbling windows; EventsStream.
    // windowedAgg) executed over the same code path in batch mode —
    // the oracle-checkable face of the readStream query (the stream
    // itself is pinned equal to this twin in MultimodalSpec)
    "st_windowed_agg" -> ((s, dir) =>
      graft.streaming.EventsStream.batchEquivalent(s, s"$dir/events.parquet")
        .select(unix_timestamp(col("window_start")).cast("long").as("window_start_epoch"),
          col("event_type"), col("n"), col("total_value"))),

    // Streaming JSON-props rollup twin: stateless in-plan extraction
    // feeding the watermarked windowed aggregation (one definition
    // runs as stream and twin; stream ≡ twin pinned in StreamingSpec)
    "st_json_extract" -> ((s, dir) =>
      graft.streaming.EventsStream.jsonBatchEquivalent(s, s"$dir/events.parquet")
        .select(unix_timestamp(col("window_start")).cast("long").as("window_start_epoch"),
          col("event_type"), col("n_with_k"), col("sum_k"))),

    // Streaming windowed heavy hitters twin: per-day-window
    // Misra-Gries whose m-counter buffers live in the state store and
    // merge across micro-batches. Same contract oracle as
    // ta_heavy_hitters, per window: hot keys present (inner join),
    // undercount bracketed — counter values are merge-order-dependent
    // and never oracled. Stream ≡ contract pinned in StreamingSpec.
    "st_heavy_hitters" -> ((s, dir) => {
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
    }),

    // Stream-static enrichment twin: micro-batch broadcast join
    // against the nation dim feeding the watermarked windowed rollup
    // (stateless join, only the agg holds state; stream ≡ twin pinned
    // in StreamingSpec)
    "st_enrich" -> ((s, dir) =>
      graft.streaming.EventsStream.enrichedBatchEquivalent(
          s, s"$dir/events.parquet",
          s.read.parquet(s"$dir/nation.parquet")
            .select(col("n_nationkey").cast("long").as("n_nationkey"),
              col("n_name")))
        .select(unix_timestamp(col("window_start")).cast("long").as("window_start_epoch"),
          col("n_name"), col("n"), col("total_value"))),

    // Streaming windowed anomaly twin: per-(user, day-window) z-score
    // flags — the custom-state stream (buffer per open window, emit at
    // event-time timeout) restated as two batch window functions
    // (stream ≡ twin pinned in StreamingSpec)
    "st_anomaly" -> ((s, dir) =>
      graft.streaming.EventsStream.anomalyBatch(events(s, dir))),

    // Multimodal: frame sampling over multi-frame payloads ("video"):
    // decode -> split frames -> sample every 2nd -> per-frame metadata
    "mm_frame_sample" -> ((s, dir) => {
      import s.implicits._
      salted(docs(s, dir).select(col("doc_id")).as[Long]).map { id =>
        val text = Vocab.Sentences(Vocab.sentenceIdx1(id))
        val nFrames = (id % 4 + 2).toInt
        val ref = graft.image.FrameCodec.ref(text, nFrames, id)
        val frames = graft.image.FrameCodec.split(graft.image.FrameCodec.fetch(ref))
        val sampled = graft.image.FrameCodec.frameSample(frames, 2)
        (id, frames.size.toLong, sampled.size.toLong,
          sampled.head.width.toLong, sampled.head.height.toLong)
      }.toDF("doc_id", "n_frames", "n_sampled", "width", "height")
    }),

    // Streaming FIRST-TOUCH funnel twin: three conditional mins per
    // user — monotone, order-insensitive — so the funnel runs as a
    // plain streaming aggregation and stream ≡ batch holds under ANY
    // arrival order (stronger than the watermark-admissible family;
    // pinned in StreamingSpec with a scrambled-batch run). Contrast
    // ev_funnel's chained min-after semantics, which needs the full
    // event set per stage and is the BATCH-only face.
    "st_funnel" -> ((s, dir) =>
      graft.streaming.EventsStream.funnelBatchEquivalent(s, s"$dir/events.parquet")),

    // Stateful-streaming twin: gap-based user sessionization — the
    // flatMapGroupsWithState operator's batch twin (identical session
    // boundaries via lag + cumulative sum; stream ≡ batch pinned in
    // StreamingSpec). Custom per-key state is the §2.8 capability the
    // watermarked windowed agg alone doesn't exercise.
    "st_sessionize" -> ((s, dir) =>
      graft.streaming.Sessionize.sessionizeBatch(events(s, dir))
        .select(col("user_id"),
          unix_micros(col("session_start").cast("timestamp")).as("session_start_epoch"),
          col("n_events"), col("total_value"))),

    // Streaming exact-dedup twin: first event per (user_id,
    // event_type) under the deterministic earliest-(ts, event_id)
    // statement of first arrival — the batch face of
    // EventsStream.dedupStream (stream ≡ twin pinned in StreamingSpec)
    "st_dedup" -> ((s, dir) =>
      graft.streaming.EventsStream.dedupBatch(events(s, dir))
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_epoch"), col("value"))),

    // Streaming ingest-gate twin: the ACCRETING admission pipeline —
    // new docs (odd ids) arrive in 3 ordered micro-batches and each
    // batch is gated against corpus ∪ earlier admissions, so a doc
    // admitted at batch k rejects its near-dups at batch k+1 (stream ≡
    // twin pinned in StreamingSpec; the stream materializes per-batch,
    // so only the twin's plan grows with K)
    "st_ingest" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.streaming.IngestStream.ingestBatchTwin(
        corpus = d.where(col("doc_id") % 2 === 0),
        newDocs = d.where(col("doc_id") % 2 =!= 0),
        batchOf = pmod(floor(col("doc_id") / 100).cast("long"), lit(3)),
        nBatches = 3, bands = 8, rowsPerBand = 4, threshold = 0.8)
    }),

    // INDEXED face of the accreting ingest gate: identical admission
    // semantics (SAME chained oracle as st_ingest) but the reference
    // side is persisted sketch state — corpus sketched once, each
    // batch probes the accreted digest/bucket/toks slices and appends
    // its own. The production path at 100 TB: no per-batch corpus
    // re-scan (IngestIndex scaladoc; no-corpus-read pinned in
    // StreamingSpec by deleting the corpus dir after init).
    "st_ingest_indexed" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.streaming.IngestIndex.ingestBatchTwinIndexed(
        corpus = d.where(col("doc_id") % 2 === 0),
        newDocs = d.where(col("doc_id") % 2 =!= 0),
        batchOf = pmod(floor(col("doc_id") / 100).cast("long"), lit(3)),
        nBatches = 3, bands = 8, rowsPerBand = 4, threshold = 0.8)
    }),

    // Multimodal AUDIO: opaque PCM payload -> decode -> windowed
    // feature extraction (rms + zero crossings), the audio face of the
    // decode/feature-extract path. Square-wave synthesis makes every
    // feature closed-form in the ref parameters, so the oracle states
    // them exactly (see AudioCodec).
    "mm_audio_features" -> ((s, dir) => {
      import s.implicits._
      salted(docs(s, dir).select(col("doc_id")).as[Long]).map { id =>
        val n = (8000 + (id % 5) * 1000).toInt
        val period = (40 + (id % 7) * 8).toInt
        val amp = (1000 + (id % 3) * 500).toInt
        val ref = graft.image.AudioCodec.ref(id, n, period, amp)
        val f = graft.image.AudioCodec.features(
          graft.image.AudioCodec.decode(graft.image.AudioCodec.fetch(ref)))
        (id, f.nSamples,
          BigDecimal(f.rms).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          f.zeroCrossings)
      }.toDF("doc_id", "n_samples", "rms", "zero_crossings")
    }),

    // Multimodal: deterministic nearest-neighbor resize (the
    // cost-bounding step before per-frame inference): decode -> halve
    // -> emit source + target dims
    "mm_resize" -> ((s, dir) => {
      import s.implicits._
      salted(docs(s, dir).select(col("doc_id")).as[Long]).map { id =>
        val ref = graft.image.SynthMediaStore.ref(
          Vocab.Sentences(Vocab.sentenceIdx1(id)), Vocab.Angles(Vocab.angleIdx1(id)), 0, id)
        val img = graft.image.ImageCodec.decode(graft.image.SynthMediaStore.fetch(ref))
        val half = graft.image.ImageOps.resize(img, img.width / 2, img.height / 2)
        (id, img.width.toLong, img.height.toLong, half.width.toLong, half.height.toLong)
      }.toDF("doc_id", "width", "height", "half_width", "half_height")
    }),

    // Multimodal: PNG media path end-to-end — render -> PNG encode
    // (stored-deflate, from-scratch codec) -> magic-sniff decode ->
    // full OCR. Same pixels as the PGM path, so the oracle states
    // dims + recognized text identically; exercises the reference's
    // actual page-render format (smart.py:91-96).
    "mm_png_decode" -> ((s, dir) => {
      import s.implicits._
      ocrMapPartitions(docs(s, dir).select(col("doc_id")).as[Long]) { (id, engine) =>
        val img = fetchImage(graft.image.SynthMediaStore.refPng(
          Vocab.Sentences(Vocab.sentenceIdx1(id)), Vocab.Angles(Vocab.angleIdx1(id)),
          Vocab.Noises(Vocab.noiseIdx1(id)), id))
        Iterator.single((id, img.width.toLong, img.height.toLong, engine.recognize(img).text))
      }.toDF("doc_id", "width", "height", "png_text")
    }),

    // Multimodal: media metadata (decode the span images, emit dims)
    "mm_media_meta" -> ((s, dir) => {
      import s.implicits._
      salted(DocGen.fromDriverDocs(s, dir))
        .flatMap { d =>
          d.spans.filter(_.kind == "image").map { sp =>
            val img = graft.image.PgmCodec.decode(graft.image.SynthMediaStore.fetch(sp.media_ref))
            (d.doc_id, sp.offset.toLong, img.width.toLong, img.height.toLong)
          }
        }
        .toDF("doc_id", "offset", "width", "height")
    })
  )

  // a constant probe string exercising diacritic stripping + Arabic
  // punctuation mapping on every t3 row
  private val DiacriticProbe = "وَثِيقَه رَسْمِيَّه؟ نعم۔"

  // ---- oracle SQL ---------------------------------------------------------

  import N.sqlLit

  /** CASE over the vocab indexed by `idxExpr`, values via `f`. */
  private def vocabCase(idxExpr: String, f: Int => String): String =
    s"(CASE $idxExpr " +
      Vocab.Sentences.indices.map(i => s"WHEN $i THEN ${f(i)}").mkString(" ") + " END)"

  private def vocabRawSql(idxExpr: String): String =
    vocabCase(idxExpr, i => sqlLit(Vocab.Sentences(i)))

  private val augmentedSql = vocabRawSql("(doc_id % " + Vocab.V + ")") + " || ' ' || text"

  def oracleSql: Map[String, String] = {
    val normVocab = Vocab.Sentences.map(N.normalizeBasic)
    // glyph count = non-space, non-tatweel chars (tatweel renders as a
    // connector stroke, never a classified glyph); lines from layout
    val glyphs = Vocab.Sentences.map(_.count(c => c != ' ' && c != graft.image.SynthFont.Tatweel))
    val lines = Vocab.Sentences.map(sent => SynthRenderer.layout(sent).lines.size)
    // image dims: width depends on the sentence; height on sentence+angle
    def dimCase(sentIdx: String, angIdx: String, which: String): String =
      s"(CASE $sentIdx " + Vocab.Sentences.indices.map { i =>
        val inner = s"(CASE $angIdx " + Vocab.Angles.indices.map { j =>
          val (w, h) = SynthRenderer.dimensions(Vocab.Sentences(i), Vocab.Angles(j))
          s"WHEN $j THEN ${if (which == "w") w else h}"
        }.mkString(" ") + " END)"
        s"WHEN $i THEN $inner"
      }.mkString(" ") + " END)"

    val s1 = s"((doc_id * 31 + 7) % ${Vocab.V})"
    val s2 = s"((doc_id * 17 + 3) % ${Vocab.V})"
    val a1i = s"(doc_id % ${Vocab.Angles.length})"
    val a2i = s"((doc_id // 5) % ${Vocab.Angles.length})"

    Map(
      "ocr_extract" ->
        (s"SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS BIGINT) AS offset, 'text' AS kind, substr(text, 1, 120) AS text FROM documents " +
          s"UNION ALL SELECT 'doc-' || CAST(doc_id AS VARCHAR), 1, 'image', ${vocabCase(s1, i => sqlLit(normVocab(i)))} FROM documents " +
          s"UNION ALL SELECT 'doc-' || CAST(doc_id AS VARCHAR), 2, 'image', ${vocabCase(s2, i => sqlLit(normVocab(i)))} FROM documents"),

      "ocr_metrics" ->
        (s"SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, CAST(2 AS BIGINT) AS ocr_spans, " +
          s"CAST(1 AS BIGINT) AS direct_spans, CAST(0 AS BIGINT) AS failed_spans, " +
          s"CAST(${vocabCase(s1, i => glyphs(i).toString)} + ${vocabCase(s2, i => glyphs(i).toString)} AS BIGINT) AS glyphs, " +
          s"CAST(${vocabCase(s1, i => lines(i).toString)} + ${vocabCase(s2, i => lines(i).toString)} AS BIGINT) AS lines FROM documents"),

      "t2_normalize_basic" ->
        s"SELECT doc_id, ${N.normalizeBasicSql(s"($augmentedSql)")} AS norm FROM documents",

      "t3_normalize_enhanced" ->
        s"SELECT doc_id, ${N.normalizeEnhancedSql(s"($augmentedSql || ' ' || ${sqlLit(DiacriticProbe)})")} AS norm FROM documents",

      "p1_needs_ocr" -> {
        val stripped = "CAST(length(trim(text)) AS DOUBLE)"
        val valid = s"CAST(len(regexp_extract_all(text, ${sqlLit(ValidCharClass)})) AS DOUBLE)"
        val artifacts = s"CAST(len(regexp_extract_all(text, ${sqlLit(ArtifactClass)})) AS DOUBLE)"
        s"SELECT doc_id, ($stripped < 50.0 OR ($valid / $stripped) < 0.3 OR ($artifacts / $stripped) > 0.05) AS needs_ocr FROM documents"
      },

      "p2_pdf_type" ->
        ("SELECT doc_id, (CASE WHEN len(list_filter(list_transform(string_split(text, '.')[1:3], x -> trim(x)), " +
          "x -> length(x) >= 20)) > 0 THEN 'text' ELSE 'scanned' END) AS pdf_type FROM documents"),

      "t4_preview" ->
        "SELECT doc_id, (CASE WHEN length(text) > 500 THEN substr(text, 1, 500) || '...' ELSE text END) AS preview FROM documents",

      "t5_counts" ->
        (s"SELECT doc_id, CAST(length(text) AS BIGINT) AS char_count, " +
          s"CAST(${TS.wsTokenCountSql("text")} AS BIGINT) AS word_count FROM documents"),

      "a1_reassembly" ->
        ("SELECT doc_id, array_to_string(list_filter(list_transform(string_split(text, '.'), x -> trim(x)), " +
          "x -> x <> ''), chr(10) || chr(10)) AS full_text FROM documents"),

      "a4_weighted_confidence" ->
        ("SELECT l_returnflag, round(sum(l_discount * l_quantity) / sum(l_quantity), 6) AS weighted_conf, " +
          "count(*) AS n FROM lineitem GROUP BY 1"),

      "a5_flat_confidence" ->
        "SELECT event_type, round(avg(value), 6) AS flat_conf, count(*) AS n FROM events GROUP BY 1",

      "a7_corpus_rollup" ->
        ("SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
          "round(avg(n_chars), 6) AS avg_chars FROM documents GROUP BY 1, 2"),

      "a9_doc_analysis" -> {
        val lowered = s"lower($augmentedSql)"
        val m = DA.maxCountSql("lowered")
        val (typ, conf) = DA.docTypeSql("t.lowered")
        s"SELECT doc_id, $typ AS document_type, round($conf, 6) AS confidence FROM " +
          s"(SELECT doc_id, lowered, $m AS m FROM " +
          s"(SELECT doc_id, $lowered AS lowered FROM documents) raw) t"
      },

      "a10_articles_dates" ->
        (s"SELECT doc_id, CAST(${DA.articleCountSql(s"($augmentedSql)")} AS BIGINT) AS article_count, " +
          s"${DA.containsDatesSql(s"($augmentedSql)")} AS contains_dates FROM documents"),

      "a12_key_patterns" ->
        (s"SELECT doc_id, array_to_string(list_transform(list_filter(list_transform(" +
          s"string_split($augmentedSql || '. ' || text, '.')[1:5], " +
          raw"x -> regexp_replace(x, '^\s+|\s+$$', '', 'g')), " +
          s"x -> length(x) > 10), x -> substr(x, 1, 100)), '|') AS key_patterns FROM documents"),

      "r2r4_rankings" ->
        ("WITH per_source AS (SELECT source, round(avg(length(text)), 6) AS conf, " +
          "round(sum(n_chars) / 100.0, 6) AS speed FROM documents GROUP BY 1), " +
          "n AS (SELECT source, conf / max(conf) OVER () AS conf_n, speed / max(speed) OVER () AS speed_n FROM per_source), " +
          "sc AS (SELECT source, round(conf_n * 0.6 + speed_n * 0.4, 6) AS score FROM n) " +
          "SELECT source, score, CAST(row_number() OVER (ORDER BY score DESC, source ASC) AS BIGINT) AS rank FROM sc"),

      "r5_page_range" ->
        ("WITH r AS (SELECT user_id, event_id, CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS BIGINT) AS rn " +
          "FROM events) SELECT user_id, event_id, rn FROM r WHERE rn <= 3"),

      "j4_dim_join" ->
        ("SELECT n.n_name, count(*) AS n_customers, round(sum(c.c_acctbal), 6) AS total_acctbal " +
          "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY 1"),

      "a14_rollup" ->
        ("SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source, " +
          "CAST(GROUPING(lang) AS BIGINT) AS g_lang, CAST(GROUPING(source) AS BIGINT) AS g_source, " +
          "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars " +
          "FROM documents GROUP BY ROLLUP(lang, source)"),

      "j2_resume_antijoin" ->
        "SELECT doc_id, (doc_id % 32) AS pid FROM documents WHERE (doc_id % 32) NOT IN (0, 1, 2, 3)",

      "dd_exact_groups" ->
        "SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keep_id FROM documents GROUP BY 1",

      "dd_jaccard_pairs" -> Dedup.jaccardPairsOracleSql(idWindow = 25, threshold = 0.8),

      "dd_ngram_jaccard" -> Dedup.ngramJaccardOracleSql(n = 3, idWindow = 25, threshold = 0.5),

      "dd_components" ->
        // edge list = the dd_jaccard_pairs oracle, ids only (nested as
        // a subquery: the recursive CTE can't absorb its WITH chain)
        Dedup.componentsOracleSql("SELECT * FROM (" +
          Dedup.jaccardPairsOracleSql(idWindow = 25, threshold = 0.8, idsOnly = true) + ") q"),

      // poly-hash sketch pipelines: oracles generated from the same
      // constants as the operators (Dedup/Similarity *.OracleSql)
      "dd_minhash_lsh" -> Dedup.minhashLshOracleSql(bands = 8, rowsPerBand = 4, threshold = 0.8),

      // recursive CTE over the corpus-wide LSH-pair SQL — the same
      // composition the Spark side runs
      "tp_lsh_components" -> Dedup.componentsOracleSql("SELECT id_a, id_b FROM (" +
        Dedup.minhashLshOracleSql(bands = 8, rowsPerBand = 4, threshold = 0.8) + ") q"),

      "tp_incremental_ingest" -> Dedup.incrementalIngestOracleSql(
        corpusPred = "doc_id % 2 = 0", bands = 8, rowsPerBand = 4, threshold = 0.8),

      "tp_ingest_ngram" -> Dedup.incrementalIngestOracleSql(
        corpusPred = "doc_id % 2 = 0", bands = 8, rowsPerBand = 4, threshold = 0.5,
        shingleN = 3),

      "tp_ingest_containment" -> Dedup.incrementalIngestOracleSql(
        corpusPred = "doc_id % 2 = 0", bands = 32, rowsPerBand = 1, threshold = 0.5,
        shingleN = 3, containment = Some(0.9)),

      "ta_bm25_topk" -> Search.bm25OracleSql(BmTerms, k = 25),

      "ta_hybrid_search" ->
        s"""WITH bm AS (SELECT * FROM (${Search.bm25OracleSql(BmTerms, k = 50)}) b),
           |e AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
           |r AS (SELECT bm.doc_id, bm.score,
           |    round(list_inner_product(e.e, q.qe) /
           |      (sqrt(list_inner_product(e.e, e.e)) * sqrt(list_inner_product(q.qe, q.qe))), 6) AS cosine
           |  FROM bm JOIN e ON bm.doc_id = e.doc_id CROSS JOIN q)
           |SELECT doc_id, score, cosine, round(score * 0.1 + cosine, 6) AS hybrid
           |FROM r ORDER BY hybrid DESC, doc_id ASC LIMIT 10""".stripMargin,

      "tp_stratified_sample" ->
        """WITH d AS (SELECT lang, doc_id,
          |    ((((doc_id % 1000003) + 1000003) % 1000003) * 131071 + 17) % 1000003 AS draw
          |  FROM documents),
          |r AS (SELECT lang, doc_id, row_number() OVER (
          |    PARTITION BY lang ORDER BY draw ASC, doc_id ASC) AS rank FROM d)
          |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id FROM r WHERE rank <= 20""".stripMargin,

      // the persisted index must reproduce the one-shot ranking exactly
      "ta_bm25_indexed" -> Search.bm25OracleSql(BmTerms, k = 25),

      "ta_unigram_logprob" -> Search.unigramLogProbOracleSql,

      "ta_bigram_logprob" -> Search.bigramLogProbOracleSql,

      // generated from the SAME trained merge table as the query —
      // the tokenization itself is what's being checked
      "ta_bpe_tokenize" -> {
        val B = graft.text.BpeTokenizer
        s"""SELECT doc_id, ${B.tokensFromEncSql("enc")} AS bpe_tokens,
           |  ${B.countFromEncSql("enc")} AS n_bpe_tokens
           |FROM (SELECT doc_id, ${B.encodeSql("lower(text)")} AS enc FROM documents) t""".stripMargin
      },

      "tp_pack_sequences_bpe" -> {
        val B = graft.text.BpeTokenizer
        s"""SELECT doc_id, doc_id % 8 AS shard, n_tokens,
           |  CAST(floor(COALESCE(sum(n_tokens) OVER w, 0) / 512) AS BIGINT) AS seq_bin
           |FROM (SELECT doc_id, ${B.countFromEncSql(s"(${B.encodeSql("lower(text)")})")} AS n_tokens
           |  FROM documents)
           |WINDOW w AS (PARTITION BY doc_id % 8 ORDER BY doc_id
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
      },

      "tp_bloom_prefilter" ->
        """SELECT doc_id FROM documents WHERE md5(text) NOT IN
          |  (SELECT md5(text) FROM documents WHERE doc_id % 3 = 0)""".stripMargin,

      "tp_topk_per_group" ->
        s"""WITH q AS (SELECT lang, doc_id,
           |    ${graft.text.TextStats.qualityScoreSql("text")} AS quality FROM documents),
           |  r AS (SELECT lang, doc_id, quality, row_number() OVER (
           |    PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS rank FROM q)
           |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id,
           |  ROUND(quality, 6) AS quality FROM r WHERE rank <= 5""".stripMargin,

      "tp_weighted_sample" ->
        """WITH d AS (SELECT doc_id, lang,
          |    CASE WHEN lang = 'zh' THEN 4 WHEN lang = 'fr' THEN 2 ELSE 1 END AS w
          |  FROM documents WHERE doc_id IS NOT NULL)
          |SELECT doc_id, lang,
          |  list_min(list_transform(generate_series(1, w),
          |    r -> ((((doc_id * 8 + r) % 1000003) + 1000003) % 1000003 * 131071 + 17) % 1000003)) AS draw
          |FROM d ORDER BY draw, doc_id LIMIT 100""".stripMargin,

      "tp_upsample" ->
        """WITH d AS (SELECT doc_id, lang,
          |    CASE WHEN lang = 'zh' THEN 35 WHEN lang = 'fr' THEN 20
          |      ELSE 10 END AS w10,
          |    ((((doc_id % 1000003) + 1000003) % 1000003) * 131071 + 17)
          |      % 1000003 % 10 AS g
          |  FROM documents)
          |SELECT doc_id, lang, CAST(unnest(generate_series(1, (w10 // 10)
          |  + CASE WHEN g < w10 % 10 THEN 1 ELSE 0 END)) AS BIGINT) AS copy_no
          |FROM d""".stripMargin,

      "tp_global_order" ->
        """SELECT doc_id, CAST(row_number() OVER (
          |    ORDER BY (doc_id * 131071 + 17) % 1000003, doc_id) AS BIGINT) AS rank
          |FROM documents""".stripMargin,

      "tp_mixture_sample" ->
        """SELECT doc_id, lang FROM documents
          |WHERE (((((doc_id % 1000003) + 1000003) % 1000003) * 131071 + 17) % 1000003) % 100
          |  < CASE WHEN lang = 'en' THEN 50 ELSE 90 END""".stripMargin,

      "tp_pack_sequences" ->
        """SELECT doc_id, doc_id % 8 AS shard, n_tokens,
          |  CAST(floor(COALESCE(sum(n_tokens) OVER w, 0) / 512) AS BIGINT) AS seq_bin
          |FROM (SELECT doc_id,
          |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
          |  FROM documents)
          |WINDOW w AS (PARTITION BY doc_id % 8 ORDER BY doc_id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin,

      "ex_html_main" ->
        s"SELECT doc_id, ${graft.operators.HtmlMain.mainContentSql(pageSql(withNav = true))} AS main_text FROM documents",

      "ex_links" ->
        """WITH p AS (SELECT doc_id, '<html><body><p>' || text || '</p><a href="/doc/'
          |    || CAST((doc_id * 7 + 3) % 101 AS VARCHAR) || '">ref '
          |    || CAST(doc_id % 13 AS VARCHAR) || '</a> <a href="/doc/'
          |    || CAST((doc_id * 11 + 5) % 101 AS VARCHAR) || '">see '
          |    || CAST(doc_id % 17 AS VARCHAR) || '</a></body></html>' AS html
          |  FROM documents),
          |  l AS (SELECT
          |    unnest(regexp_extract_all(html, '<a href="([^"]*)">([^<]*)</a>', 1)) AS href,
          |    unnest(regexp_extract_all(html, '<a href="([^"]*)">([^<]*)</a>', 2)) AS anchor
          |  FROM p)
          |SELECT href, count(*) AS n_inlinks,
          |  count(DISTINCT anchor) AS n_anchors, min(anchor) AS first_anchor
          |FROM l GROUP BY 1""".stripMargin,

      "ex_html_meta" -> {
        val H = graft.operators.HtmlMain
        s"""WITH p AS (SELECT doc_id, $headPageSql AS html FROM documents)
           |SELECT doc_id, ${H.metaTitleSql("html")} AS title,
           |  ${H.metaDescriptionSql("html")} AS description,
           |  ${H.canonicalLinkSql("html")} AS canonical_url,
           |  ${H.noindexSql("html")} AS noindex
           |FROM p""".stripMargin
      },

      "ex_web_pipeline" ->
        s"""WITH ext AS (SELECT doc_id, ${graft.operators.HtmlMain.mainContentSql(pageSql(withNav = false))} AS t FROM documents),
           |keepers AS (SELECT min(doc_id) AS doc_id FROM ext GROUP BY md5(t))
           |SELECT e.doc_id, ${TS.qualityScoreSql("e.t")} AS quality
           |FROM ext e
           |WHERE ${TS.qualityScoreSql("e.t")} >= 0.5
           |  AND e.doc_id IN (SELECT doc_id FROM keepers)""".stripMargin,

      "ex_boilerplate_lines" ->
        graft.operators.Boilerplate.stripFrequentLinesOracleSql(
          graft.operators.Boilerplate.pageSql("text", "source"), maxDocs = 20),

      "tp_decontaminate" ->
        Dedup.decontaminateOracleSql("doc_id % 29 = 0", n = 8),

      "tp_nb_classify" ->
        graft.operators.NaiveBayes.langClassifyOracleSql,

      "ex_layout_order" ->
        s"""WITH ${graft.operators.LayoutOrder.spanBoxesSql},
           |${graft.operators.LayoutOrder.readingOrderSql("spans")}
           |SELECT doc_id,
           |  row_number() OVER (PARTITION BY doc_id ORDER BY colno, y, x) AS read_order,
           |  colno, tok
           |FROM c""".stripMargin,

      "ex_domain_rank" ->
        graft.operators.DomainRank.pageRankOracleSql,

      "j6_range_join" ->
        """WITH bands AS (SELECT b AS band, CAST(b * 7 AS DOUBLE) AS lo,
          |    CAST(b * 7 + 9 AS DOUBLE) AS hi
          |  FROM (SELECT unnest(generate_series(0, 70)) AS b))
          |SELECT e.event_id, bands.band, e.value
          |FROM events e JOIN bands ON e.value >= bands.lo AND e.value <= bands.hi""".stripMargin,

      "j7_interval_overlap" ->
        """WITH a AS (SELECT user_id, event_id AS a_id, value AS a_lo,
          |    value + 20.0 AS a_hi FROM events WHERE event_type = 'click'),
          |  b AS (SELECT user_id, event_id AS b_id, value AS b_lo,
          |    value + 20.0 AS b_hi FROM events WHERE event_type = 'error')
          |SELECT a.user_id, a.a_id, b.b_id,
          |  ROUND(LEAST(a.a_hi, b.b_hi) - GREATEST(a.a_lo, b.b_lo), 6) AS overlap
          |FROM a JOIN b ON a.user_id = b.user_id
          |  AND a.a_lo <= b.b_hi AND b.b_lo <= a.a_hi""".stripMargin,

      "tp_fuzzy_components" -> {
        val F = graft.operators.FuzzyJoin
        Dedup.componentsOracleSql(
          s"""SELECT l.l_id AS id_a, r.r_id + 1000000 AS id_b FROM
             |  (SELECT doc_id AS l_id, ${F.canonicalSql("doc_id")} AS l_s FROM documents) l
             |  JOIN (SELECT doc_id AS r_id, ${F.dirtySql("doc_id")} AS r_s FROM documents) r
             |  ON abs(length(l.l_s) - length(r.r_s)) <= 2
             |    AND levenshtein(l.l_s, r.r_s) <= 2""".stripMargin)
      },

      // the routing CONTRACT stated from the corruption rule: corrupt
      // lines (every 13th) parse to nothing, the rest round-trip
      "src_json_ingest" ->
        """SELECT doc_id AS src_id,
          |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE doc_id END AS doc_id,
          |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
          |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars END AS n_chars,
          |  doc_id % 13 <> 0 AS valid
          |FROM documents""".stripMargin,

      "ev_transitions" ->
        """WITH t AS (SELECT event_type,
          |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      AS prev
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
          |SELECT prev AS from_evt, event_type AS to_evt, count(*) AS n
          |FROM t WHERE prev IS NOT NULL GROUP BY 1, 2""".stripMargin,

      "ev_sequence_match" ->
        """WITH j AS (SELECT user_id,
          |    string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
          |      AS journey
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1)
          |SELECT user_id, CAST(length(journey) AS BIGINT) AS n_events,
          |  regexp_matches(journey, 'cp') AS direct_purchase,
          |  regexp_matches(journey, 'ee') AS error_streak, journey
          |FROM j""".stripMargin,

      "ev_retention" ->
        """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
          |    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |  c AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1)
          |SELECT CAST(c.cohort AS VARCHAR) AS cohort_day,
          |  CAST(date_diff('day', c.cohort, e.d) AS BIGINT) AS day_offset,
          |  count(DISTINCT e.user_id) AS n_active
          |FROM e JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin,

      "j8_fuzzy_join" -> {
        val F = graft.operators.FuzzyJoin
        s"""WITH l AS (SELECT doc_id AS l_id, ${F.canonicalSql("doc_id")} AS l_s FROM documents),
           |  r AS (SELECT doc_id AS r_id, ${F.dirtySql("doc_id")} AS r_s FROM documents)
           |SELECT l.l_id, r.r_id, CAST(levenshtein(l.l_s, r.r_s) AS BIGINT) AS dist
           |FROM l JOIN r ON abs(length(l.l_s) - length(r.r_s)) <= 2
           |  AND levenshtein(l.l_s, r.r_s) <= 2""".stripMargin
      },

      "ex_url_canonical" ->
        s"""WITH u AS (SELECT doc_id, ${graft.operators.UrlCanon.urlSql("doc_id")} AS url FROM documents)
           |SELECT ${graft.operators.UrlCanon.canonicalSql("url")} AS canonical_url,
           |  CAST(count(*) AS BIGINT) AS n_variants, min(doc_id) AS keep_id
           |FROM u GROUP BY 1""".stripMargin,

      // same planted contacts, counts on the original, chained global
      // replaces ('g' — DuckDB replaces first-only by default)
      "tp_redact" -> {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "[0-9]{3}-[0-9]{4}"
        val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
        s"""WITH p AS (SELECT doc_id,
           |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || doc_id || '@example.com now'
           |         WHEN doc_id % 11 = 0 THEN text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |              || ' from 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
           |         ELSE text END AS t FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '$email')) + len(regexp_extract_all(t, '$phone'))
           |    + len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_redactions,
           |  regexp_replace(regexp_replace(regexp_replace(t,
           |    '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g') AS redacted
           |FROM p""".stripMargin
      },

      "ev_histogram" ->
        """SELECT event_type, CAST(floor(value / 100.0) AS BIGINT) AS bucket,
          |  count(*) AS n, round(min(value), 6) AS lo, round(max(value), 6) AS hi
          |FROM events WHERE value IS NOT NULL GROUP BY 1, 2""".stripMargin,

      "tp_winsorize" ->
        """WITH b AS (SELECT event_type, quantile_cont(value, 0.05) AS lo,
          |    quantile_cont(value, 0.95) AS hi
          |  FROM events WHERE value IS NOT NULL GROUP BY 1)
          |SELECT e.event_id, e.event_type,
          |  round(least(greatest(e.value, b.lo), b.hi), 6) AS clipped,
          |  (e.value < b.lo OR e.value > b.hi) AS was_outlier
          |FROM events e JOIN b USING (event_type)
          |WHERE e.value IS NOT NULL""".stripMargin,

      "ev_funnel" ->
        """WITH e AS (SELECT user_id, event_type, ts FROM events
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
          |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,

      "ev_quantiles" ->
        """SELECT event_type, count(*) AS n,
          |  round(quantile_cont(value, 0.5), 6) AS p50,
          |  round(quantile_cont(value, 0.9), 6) AS p90,
          |  round(quantile_cont(value, 0.99), 6) AS p99
          |FROM events GROUP BY event_type""".stripMargin,

      // the sketch contract stated from the oracle's side: exact n,
      // and the rank-bound flags MUST all hold (the Spark side
      // computes them from exact back-join rank counts — a sketch
      // whose error exceeded n/acc+1 would hash-mismatch here)
      "ev_quantiles_approx" ->
        """SELECT event_type, count(*) AS n,
          |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
          |FROM events WHERE value IS NOT NULL GROUP BY event_type""".stripMargin,

      "st_quantiles" ->
        """SELECT CAST(epoch_ms(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS window_start_ms,
          |  event_type, count(*) AS n,
          |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
          |FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
          |GROUP BY 1, 2""".stripMargin,

      "tp_full_curation" -> {
        val pairs = "SELECT * FROM (" +
          Dedup.jaccardPairsOracleSql(idWindow = 25, threshold = 0.8,
            idsOnly = true, rel = "gated") + ") q"
        s"""WITH keep AS (SELECT min(doc_id) AS kid FROM documents GROUP BY md5(text)),
           |pre AS (SELECT doc_id, lang, text,
           |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w,
           |    ${graft.text.TextStats.qualityScoreSql("text")} AS quality
           |  FROM documents WHERE doc_id IN (SELECT kid FROM keep)),
           |gated AS (SELECT doc_id, lang, text, quality FROM pre
           |  WHERE quality >= 0.5 AND ${Dedup.repetitionFracSql("w", 2)} <= 0.9),
           |labels AS (${Dedup.componentsOracleSql(pairs)}),
           |drops AS (SELECT id FROM labels WHERE id <> label)
           |SELECT doc_id, quality FROM gated
           |WHERE doc_id NOT IN (SELECT id FROM drops)""".stripMargin
      },

      // json_valid guard + TRY_CAST = DuckDB's try-semantics twin of
      // Spark get_json_object + try_cast (json_extract_string on
      // malformed JSON and CAST('oops') both THROW in DuckDB)
      "ev_json_extract" ->
        """WITH p AS (SELECT event_type,
          |    CASE WHEN event_id % 97 = 0 THEN '{not json'
          |         WHEN event_id % 101 = 0 THEN '{"j":1}'
          |         WHEN event_id % 103 = 0 THEN '{"k":"oops"}'
          |         ELSE props END AS pr FROM events),
          |k AS (SELECT event_type,
          |    TRY_CAST(CASE WHEN json_valid(pr) THEN json_extract_string(pr, '$.k') END AS BIGINT) AS k
          |  FROM p)
          |SELECT event_type, count(k) AS n_with_k,
          |  CAST(sum(k) AS BIGINT) AS sum_k, CAST(max(k) AS BIGINT) AS max_k
          |FROM k GROUP BY event_type""".stripMargin,

      "ev_anomaly" ->
        """SELECT user_id, event_id, value, z FROM (
          |  SELECT user_id, event_id, value,
          |    round((value - avg(value) OVER w) / (stddev_pop(value) OVER w), 6) AS z
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id)
          |  QUALIFY (stddev_pop(value) OVER w) > 0)
          |WHERE z >= 2.5""".stripMargin,

      "j5_asof_join" -> graft.operators.AsOf.asofOracleSql(
        "events", "user_id", "ts", "event_id",
        "orders", "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),

      "j5_asof_bucketed" -> graft.operators.AsOf.asofOracleSql(
        "events", "user_id", "ts", "event_id",
        "orders", "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),

      "ta_ngram_freq" ->
        s"""WITH t AS (SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
           |  FROM documents),
           |g AS (SELECT unnest(list_transform(generate_series(1, len(w) - 2),
           |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ngram
           |  FROM t WHERE len(w) >= 3)
           |SELECT ngram, count(*) AS n FROM g GROUP BY ngram
           |ORDER BY n DESC, ngram ASC LIMIT 20""".stripMargin,

      "ta_repetition" ->
        s"""WITH t AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
           |  FROM documents)
           |SELECT doc_id,
           |  ${Dedup.repetitionFracSql("w", 1)} AS dup_token_frac,
           |  ${Dedup.repetitionFracSql("w", 2)} AS dup_2gram_frac,
           |  ${Dedup.repetitionFracSql("w", 3)} AS dup_3gram_frac,
           |  (${Dedup.repetitionFracSql("w", 2)} > 0.9) AS flagged
           |FROM t""".stripMargin,

      "dd_span_overlap" -> Dedup.spanOverlapOracleSql(n = 8),

      "st_ingest" -> Dedup.streamingIngestOracleSql(
        corpusPred = "doc_id % 2 = 0", batchExpr = "(doc_id // 100) % 3",
        nBatches = 3, bands = 8, rowsPerBand = 4, threshold = 0.8),

      // indexed gate ≡ re-sketching gate by construction — verified by
      // holding both to the SAME chained oracle
      "st_ingest_indexed" -> Dedup.streamingIngestOracleSql(
        corpusPred = "doc_id % 2 = 0", batchExpr = "(doc_id // 100) % 3",
        nBatches = 3, bands = 8, rowsPerBand = 4, threshold = 0.8),

      "dd_containment" -> Dedup.containmentOracleSql(n = 3, idWindow = 25, threshold = 0.6),

      "tp_cluster_keep" -> {
        val labels = Dedup.componentsOracleSql("SELECT * FROM (" +
          Dedup.jaccardPairsOracleSql(idWindow = 25, threshold = 0.8, idsOnly = true) + ") q")
        s"""WITH labels AS ($labels),
           |q AS (SELECT doc_id, ${TS.qualityScoreSql("text")} AS quality FROM documents),
           |j AS (SELECT l.id, l.label, q.quality FROM labels l JOIN q ON q.doc_id = l.id),
           |r AS (SELECT label, id, quality,
           |    row_number() OVER (PARTITION BY label ORDER BY quality DESC, id ASC) AS rn,
           |    count(*) OVER (PARTITION BY label) AS n_members FROM j)
           |SELECT label, id AS keep_id, quality AS keep_quality,
           |  CAST(n_members AS BIGINT) AS n_members FROM r WHERE rn = 1""".stripMargin
      },

      "dd_simhash" -> Dedup.simhashOracleSql(maxHamming = 4),

      "dd_embed_cosine_lsh" -> Similarity.embedCosineLshOracleSql(planes = 6, threshold = 0.3),

      "ann_lsh_topk" -> Similarity.annLshTopKOracleSql(k = 3, planes = 8, probeBits = 1,
        queryPred = "vec_id < 8"),

      // exhaustive probing (nProbe = nCells) is provably brute force
      "ann_ivf_topk" ->
        ("WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 8), " +
          "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
          "s AS (SELECT query_id, vec_id AS neighbor_id, " +
          "round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 6) AS score " +
          "FROM q JOIN c ON vec_id <> query_id), " +
          "r AS (SELECT query_id, neighbor_id, score, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank FROM s) " +
          "SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 3"),

      // noise-free corpus: every glyph matches its template exactly
      "ocr_conf_filter" ->
        "SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, CAST(1.0 AS DOUBLE) AS mean_conf FROM documents",

      "p3_conf_floor" -> {
        // clean render: one line (single-line layout pinned by the
        // Vocab guard test) at confidence exactly 1.0 — kept at the
        // 0.3 floor, dropped at the unattainable 1.01 floor
        def rawLine(idx: String) =
          vocabCase(idx, i => sqlLit(Vocab.Sentences(i).replace("ـ", "")))
        s"SELECT doc_id, CAST(0.3 AS DOUBLE) AS floor, CAST(1 AS BIGINT) AS kept_lines, " +
          s"${rawLine(s1)} AS kept_text FROM documents " +
          s"UNION ALL SELECT doc_id, 1.01, 0, '' FROM documents"
      },

      "a3_page_conf" ->
        ("SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, CAST(1 AS BIGINT) AS offset, " +
          "CAST(1 AS BIGINT) AS n_lines, CAST(1.0 AS DOUBLE) AS avg_line_conf FROM documents " +
          "UNION ALL SELECT 'doc-' || CAST(doc_id AS VARCHAR), 2, 1, 1.0 FROM documents"),

      "eval_envelope" -> {
        val joined = s"(substr(text, 1, 120) || ' ' || ${vocabCase(s1, i => sqlLit(normVocab(i)))} " +
          s"|| ' ' || ${vocabCase(s2, i => sqlLit(normVocab(i)))})"
        "SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, 'graft' AS backend_name, " +
          "'doc-' || CAST(doc_id AS VARCHAR) || '.pdf' AS pdf_path, " +
          s"CAST(3 AS BIGINT) AS pages_processed, " +
          s"CAST(${TS.wsTokenCountSql(joined)} AS BIGINT) AS total_words, " +
          "TRUE AS success FROM documents"
      },

      "dd_embed_components" -> Dedup.componentsOracleSql(
        Similarity.embedCosinePairsOracleSql(idWindow = 50, threshold = 0.3, idsOnly = true)),

      "dd_embed_cosine" ->
        Similarity.embedCosinePairsOracleSql(idWindow = 50, threshold = 0.3),

      "ann_cosine_topk" ->
        ("WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 8), " +
          "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
          "s AS (SELECT query_id, vec_id AS neighbor_id, " +
          "round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 6) AS score " +
          "FROM q JOIN c ON vec_id <> query_id), " +
          "r AS (SELECT query_id, neighbor_id, score, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank FROM s) " +
          "SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 3"),

      "ann_sq8_topk" -> Similarity.sq8TopKOracleSql(k = 3, queryPred = "vec_id < 8"),

      "tp_corpus_filter" ->
        (s"WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) " +
          s"SELECT d.doc_id, ${TS.qualityScoreSql("d.text")} AS quality FROM documents d " +
          s"WHERE ${TS.qualityScoreSql("d.text")} >= 0.5 AND ${TS.langIdSql("d.text")} = 'en' " +
          s"AND d.doc_id IN (SELECT doc_id FROM keepers)"),

      "ev_approx_distinct" ->
        """SELECT event_type, count(DISTINCT user_id) AS n_exact,
          |  abs(approx_count_distinct(user_id) - count(DISTINCT user_id)) * 5
          |    <= count(DISTINCT user_id) AS within_20pct
          |FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          |GROUP BY 1""".stripMargin,

      "ta_heavy_hitters" ->
        """WITH t AS (SELECT CASE WHEN event_id % 10 < 5
          |    THEN 'hot_' || CAST(event_id % 10 AS VARCHAR)
          |    ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
          |  FROM events WHERE event_id IS NOT NULL),
          |  nn AS (SELECT count(*) AS n FROM t)
          |SELECT t.key, count(*) AS exact_cnt, TRUE AS under_ok, TRUE AS gap_ok
          |FROM t, nn GROUP BY t.key, nn.n HAVING count(*) * 64 > nn.n""".stripMargin,

      "ev_rolling" ->
        """SELECT user_id, event_id,
          |  CAST(count(*) OVER w AS BIGINT) AS roll_cnt,
          |  CAST(sum(m) OVER w AS BIGINT) AS roll_sum,
          |  CAST(min(m) OVER w AS BIGINT) AS roll_min,
          |  CAST(max(m) OVER w AS BIGINT) AS roll_max,
          |  ROUND(CAST(sum(m) OVER w AS DOUBLE) / count(*) OVER w, 6) AS roll_avg
          |FROM (SELECT user_id, event_id, ts, CAST(floor(value * 100) AS BIGINT) AS m
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |    AND value IS NOT NULL)
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin,

      "ta_cms_freq" ->
        """WITH t AS (SELECT CASE WHEN event_id % 10 < 5
          |    THEN 'hot_' || CAST(event_id % 10 AS VARCHAR)
          |    ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
          |  FROM events WHERE event_id IS NOT NULL),
          |  p AS (SELECT 'hot_' || CAST(i AS VARCHAR) AS key
          |      FROM (SELECT unnest(generate_series(0, 4)) AS i)
          |    UNION ALL SELECT * FROM (VALUES ('cold_7'), ('cold_77'),
          |      ('absent_a'), ('absent_b')) v(key))
          |SELECT p.key, CAST(count(t.key) AS BIGINT) AS exact_cnt,
          |  TRUE AS over_ok, TRUE AS bound_ok
          |FROM p LEFT JOIN t ON p.key = t.key GROUP BY p.key""".stripMargin,

      "ta_collocations" ->
        """WITH d AS (SELECT CASE WHEN doc_id % 5 = 0 THEN text || ' zig zag'
          |    ELSE text END AS text FROM documents),
          |  w AS (SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '') AS w FROM d),
          |  w2 AS (SELECT w FROM w WHERE len(w) >= 2),
          |  uni AS (SELECT unnest(w) AS t FROM w2),
          |  uc AS (SELECT t, count(*) AS c FROM uni GROUP BY 1),
          |  nu AS (SELECT count(*) AS nu FROM uni),
          |  bi AS (SELECT w[i] AS a, w[i + 1] AS b
          |    FROM w2, UNNEST(generate_series(1, len(w) - 1)) AS un(i)),
          |  nb AS (SELECT count(*) AS nb FROM bi),
          |  cab AS (SELECT a, b, count(*) AS c_ab FROM bi GROUP BY 1, 2
          |    HAVING count(*) >= 20)
          |SELECT cab.a, cab.b, cab.c_ab,
          |  ROUND(ln((cab.c_ab * nu.nu * nu.nu) / (nb.nb * ua.c * ub.c)), 6) AS pmi
          |FROM cab JOIN uc ua ON ua.t = cab.a JOIN uc ub ON ub.t = cab.b, nu, nb""".stripMargin,

      "ta_keywords_tfidf" ->
        """WITH w AS (SELECT doc_id,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '')) AS term FROM documents),
          |  tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
          |  dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          |  nn AS (SELECT count(*) AS n FROM documents),
          |  s AS (SELECT tf.doc_id, tf.term,
          |      ROUND(tf.tf * (ln((nn.n + 1.0) / (dft.df + 1.0)) + 1), 6) AS score
          |    FROM tf JOIN dft USING (term), nn),
          |  r AS (SELECT doc_id, term, score, row_number() OVER (
          |      PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
          |    FROM s)
          |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
          |  score FROM r WHERE rank <= 3""".stripMargin,

      "ta_token_freq" ->
        ("WITH t AS (SELECT unnest(list_filter(list_distinct(regexp_split_to_array(lower(text), '\\s+')), x -> x <> '')) AS token FROM documents) " +
          "SELECT token, count(*) AS n FROM t GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 20"),

      "ta_chunking" ->
        ("WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM documents), " +
          "s AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0), " +
          "c AS (SELECT doc_id, i AS chunk_idx, " +
          "array_to_string(w[i*48+1 : least(i*48+64, n)], ' ') AS chunk_text " +
          "FROM s, UNNEST(generate_series(0, CASE WHEN n <= 64 THEN 0 ELSE ((n - 64) + 47) // 48 END)) AS un(i)) " +
          "SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk_text, " +
          "CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_tokens FROM c"),

      "ta_text_stats" ->
        (s"SELECT doc_id, CAST(${TS.tokenCountSql("text")} AS BIGINT) AS bpe_tokens, " +
          s"CAST(${TS.wsTokenCountSql("text")} AS BIGINT) AS ws_tokens, " +
          s"${TS.qualityScoreSql("text")} AS quality, ${TS.langIdSql("text")} AS lang_pred, " +
          s"${TS.fingerprintSql("text")} AS fingerprint FROM documents"),

      "t6_a2_eval_view" ->
        ("SELECT doc_id, array_to_string(list_transform(string_split(text, '.'), " +
          "(x, i) -> '--- Page ' || i || ' ---' || chr(10) || trim(x)), chr(10)) AS eval_text FROM documents"),

      "j1_backend_pivot" ->
        ("SELECT user_id, " +
          Seq("click", "error", "purchase", "signup", "view").map(t =>
            s"CAST(count(*) FILTER (WHERE event_type = '$t') AS BIGINT) AS n_$t").mkString(", ") +
          " FROM events GROUP BY 1"),

      "a8_backend_stats" ->
        ("WITH per_source AS (SELECT source, round(avg(length(text)), 6) AS conf, " +
          "round(sum(n_chars) / 100.0, 6) AS speed FROM documents GROUP BY 1) " +
          "SELECT round(avg(conf), 6) AS avg_conf, round(avg(speed), 6) AS avg_speed, " +
          "(SELECT source FROM per_source ORDER BY conf DESC, source DESC LIMIT 1) AS best_source, " +
          "(SELECT source FROM per_source ORDER BY speed DESC, source DESC LIMIT 1) AS fastest_source " +
          "FROM per_source"),

      "t7_basename" ->
        ("SELECT doc_id, regexp_extract(source || '/doc-' || CAST(doc_id AS VARCHAR) || '.pdf', '([^/]+)$', 1) AS basename, " +
          "regexp_extract(source || '/doc-' || CAST(doc_id AS VARCHAR) || '.pdf', '([^/]+)\\.pdf$', 1) AS stem FROM documents"),

      "ocr_lines" -> {
        // raw recognized text: kashida (tatweel) renders as a baseline
        // connector stroke and is consumed by segmentation, never
        // classified — so it is absent from the line text even BEFORE
        // normalization strips it
        def rawLine(idx: String) =
          vocabCase(idx, i => sqlLit(Vocab.Sentences(i).replace("ـ", "")))
        s"SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, CAST(1 AS BIGINT) AS offset, " +
          s"CAST(0 AS BIGINT) AS line_idx, ${rawLine(s1)} AS line_text FROM documents " +
          s"UNION ALL SELECT 'doc-' || CAST(doc_id AS VARCHAR), 2, 0, ${rawLine(s2)} FROM documents"
      },

      "structured_doc" -> {
        val p0 = "substr(text, 1, 120)"
        val p1 = vocabCase(s1, i => sqlLit(normVocab(i)))
        val p2 = vocabCase(s2, i => sqlLit(normVocab(i)))
        val (typ, conf) = DA.docTypeSql("h.lowered")
        s"WITH e AS (SELECT doc_id, $p0 AS p0, $p1 AS p1, $p2 AS p2 FROM documents), " +
          "f AS (SELECT doc_id, array_to_string(list_filter([p0, p1, p2], x -> regexp_matches(x, '\\S')), chr(10) || chr(10)) AS ft, " +
          "len(list_filter([p0, p1, p2], x -> regexp_matches(x, '\\S'))) AS ne FROM e), " +
          "g AS (SELECT doc_id, ft, ne, lower(ft) AS lowered FROM f), " +
          s"h AS (SELECT doc_id, ft, ne, lowered, ${DA.maxCountSql("lowered")} AS m FROM g) " +
          "SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, CAST(3 AS BIGINT) AS total_pages, " +
          "CAST(2 AS BIGINT) AS ocr_pages, CAST(1 AS BIGINT) AS direct_pages, " +
          "CAST(3 - ne AS BIGINT) AS failed_pages, CAST(length(ft) AS BIGINT) AS total_characters, " +
          s"CAST(${TS.wsTokenCountSql("ft")} AS BIGINT) AS total_words, CAST(ne AS BIGINT) AS non_empty_pages, " +
          s"$typ AS document_type, round($conf, 6) AS confidence, " +
          s"CAST(${DA.articleCountSql("ft")} AS BIGINT) AS article_count, " +
          s"${DA.containsDatesSql("ft")} AS contains_dates FROM h"
      },

      "st_windowed_agg" ->
        ("SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS window_start_epoch, " +
          "event_type, count(*) AS n, round(sum(value), 6) AS total_value FROM events GROUP BY 1, 2"),

      "st_funnel" ->
        """WITH f AS (SELECT user_id,
          |    min(CASE WHEN event_type = 'view' THEN ts END) AS v,
          |    min(CASE WHEN event_type = 'click' THEN ts END) AS c,
          |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1)
          |SELECT user_id, CAST(1
          |  + (CASE WHEN c IS NOT NULL AND c > v THEN 1 ELSE 0 END)
          |  + (CASE WHEN c IS NOT NULL AND c > v AND p IS NOT NULL AND p > c
          |     THEN 1 ELSE 0 END) AS BIGINT) AS reached
          |FROM f WHERE v IS NOT NULL""".stripMargin,

      "st_json_extract" ->
        ("SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS window_start_epoch, " +
          "event_type, count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k, " +
          "CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k " +
          "FROM events GROUP BY 1, 2"),

      "st_heavy_hitters" ->
        """WITH t AS (SELECT CAST(epoch_ms(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS window_start_ms,
          |    CASE WHEN event_id % 10 < 5 THEN 'hot_' || CAST(event_id % 10 AS VARCHAR)
          |         ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
          |  FROM events WHERE event_id IS NOT NULL),
          |  nn AS (SELECT window_start_ms, count(*) AS n FROM t GROUP BY 1)
          |SELECT t.window_start_ms, t.key, count(*) AS exact_cnt,
          |  TRUE AS under_ok, TRUE AS gap_ok
          |FROM t JOIN nn USING (window_start_ms)
          |GROUP BY t.window_start_ms, t.key, nn.n HAVING count(*) * 64 > nn.n""".stripMargin,

      "st_enrich" ->
        ("SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', e.ts)) AS BIGINT) AS window_start_epoch, " +
          "n.n_name, count(*) AS n, round(sum(e.value), 6) AS total_value " +
          "FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey GROUP BY 1, 2"),

      "st_anomaly" ->
        """SELECT user_id, window_start_ms, event_id, value, z FROM (
          |  SELECT user_id,
          |    CAST(epoch_ms(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS window_start_ms,
          |    event_id, value,
          |    round((value - avg(value) OVER w) / (stddev_pop(value) OVER w), 6) AS z
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id, time_bucket(INTERVAL '1 day', ts))
          |  QUALIFY (stddev_pop(value) OVER w) > 0)
          |WHERE z >= 2.0""".stripMargin,

      "mm_frame_sample" -> {
        val dims = Vocab.Sentences.map(t => SynthRenderer.dimensions(t, 0))
        s"SELECT doc_id, CAST((doc_id % 4 + 2) AS BIGINT) AS n_frames, " +
          s"CAST((doc_id % 4 + 2 + 1) // 2 AS BIGINT) AS n_sampled, " +
          s"CAST(${vocabCase(s1, i => dims(i)._1.toString)} AS BIGINT) AS width, " +
          s"CAST(${vocabCase(s1, i => dims(i)._2.toString)} AS BIGINT) AS height FROM documents"
      },

      "st_sessionize" -> graft.streaming.Sessionize.batchOracleSql,

      "st_dedup" ->
        ("WITH r AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_epoch, value, " +
          "row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC) AS rn " +
          "FROM events) " +
          "SELECT user_id, event_type, event_id, ts_epoch, value FROM r WHERE rn = 1"),

      "mm_audio_features" ->
        ("SELECT doc_id, CAST(8000 + (doc_id % 5) * 1000 AS BIGINT) AS n_samples, " +
          "round(CAST(1000 + (doc_id % 3) * 500 AS DOUBLE), 6) AS rms, " +
          "CAST((8000 + (doc_id % 5) * 1000 - 1) // ((40 + (doc_id % 7) * 8) // 2) AS BIGINT) AS zero_crossings " +
          "FROM documents"),

      "mm_resize" ->
        (s"SELECT doc_id, CAST(${dimCase(s1, a1i, "w")} AS BIGINT) AS width, " +
          s"CAST(${dimCase(s1, a1i, "h")} AS BIGINT) AS height, " +
          s"CAST(${dimCase(s1, a1i, "w")} // 2 AS BIGINT) AS half_width, " +
          s"CAST(${dimCase(s1, a1i, "h")} // 2 AS BIGINT) AS half_height FROM documents"),

      "mm_png_decode" -> {
        def rawLine(idx: String) =
          vocabCase(idx, i => sqlLit(Vocab.Sentences(i).replace("ـ", "")))
        s"SELECT doc_id, CAST(${dimCase(s1, a1i, "w")} AS BIGINT) AS width, " +
          s"CAST(${dimCase(s1, a1i, "h")} AS BIGINT) AS height, " +
          s"${rawLine(s1)} AS png_text FROM documents"
      },

      "mm_media_meta" ->
        (s"SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, CAST(1 AS BIGINT) AS offset, " +
          s"CAST(${dimCase(s1, a1i, "w")} AS BIGINT) AS width, CAST(${dimCase(s1, a1i, "h")} AS BIGINT) AS height FROM documents " +
          s"UNION ALL SELECT 'doc-' || CAST(doc_id AS VARCHAR), 2, " +
          s"CAST(${dimCase(s2, a2i, "w")} AS BIGINT), CAST(${dimCase(s2, a2i, "h")} AS BIGINT) FROM documents")
    )
  }
}
