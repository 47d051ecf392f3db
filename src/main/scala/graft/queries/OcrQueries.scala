package graft.queries

import graft.fixtures.{DocGen, Vocab}
import graft.image.SynthRenderer
import graft.pipeline.ExtractionJob
import graft.queries.QueryInputs._
import graft.text.{ArabicNormalizer => N, DocumentAnalyzer => DA, TextStats => TS}
import graft.text.ArabicNormalizer.sqlLit
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference pipeline's operators: OCR extraction and its metrics
  * (`ocr_*`, `p3`, `a3`, `eval_envelope`, `structured_doc`), text
  * normalization and projections (`t*`), page predicates (`p*`),
  * document analysis and roll-ups (`a*`) and the backend rankings
  * (`r*`).
  *
  * The OCR oracles state each doc's expected text as a CASE over the
  * pre-normalized embedded vocabulary, indexed by the same doc_id draws
  * `DocGen.fromDriverDocs` renders from.
  */
object OcrQueries {

  // ---- vocabulary fixture, Spark side ------------------------------------

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

  // a constant probe string exercising diacritic stripping + Arabic
  // punctuation mapping on every t3 row
  private val DiacriticProbe = "وَثِيقَه رَسْمِيَّه؟ نعم۔"

  // ---- vocabulary fixture, SQL side --------------------------------------

  /** CASE over the vocab indexed by `idxExpr`, values via `f`. */
  private[queries] def vocabCase(idxExpr: String, f: Int => String): String =
    s"(CASE $idxExpr " +
      Vocab.Sentences.indices.map(i => s"WHEN $i THEN ${f(i)}").mkString(" ") + " END)"

  private def vocabRawSql(idxExpr: String): String =
    vocabCase(idxExpr, i => sqlLit(Vocab.Sentences(i)))

  private val augmentedSql = vocabRawSql("(doc_id % " + Vocab.V + ")") + " || ' ' || text"

  /** Sentence index of a doc's first and second image span. */
  private[queries] val s1 = s"((doc_id * 31 + 7) % ${Vocab.V})"
  private[queries] val s2 = s"((doc_id * 17 + 3) % ${Vocab.V})"

  private val normVocab = Vocab.Sentences.map(N.normalizeBasic)
  // glyph count = non-space, non-tatweel chars (tatweel renders as a
  // connector stroke, never a classified glyph); lines from layout
  private val glyphs = Vocab.Sentences.map(_.count(c => c != ' ' && c != graft.image.SynthFont.Tatweel))
  private val lines = Vocab.Sentences.map(sent => SynthRenderer.layout(sent).lines.size)

  /** Raw recognized line text of the sentence at `idx`: kashida
    * (tatweel) renders as a baseline connector stroke and is consumed
    * by segmentation, never classified — so it is absent from the line
    * text even BEFORE normalization strips it.
    */
  private[queries] def rawLineSql(idx: String): String =
    vocabCase(idx, i => sqlLit(Vocab.Sentences(i).replace("ـ", "")))

  val specs: Seq[QuerySpec] = Seq(
    // O1-O5 + T1 + T2 + A1 + S1-S7: the full extraction pipeline over the
    // interleaved span table synthesized 1:1 from documents.parquet
    QuerySpec("ocr_extract", (s, dir) => {
      val extracted = ExtractionJob.extract(s, DocGen.fromDriverDocs(s, dir))
      extracted
        .select(col("doc_id"), explode(col("spans")).as("sp"))
        .select(col("doc_id"), col("sp.offset").cast("long").as("offset"),
          col("sp.kind").as("kind"), col("sp.text").as("text"))
    },
      oracle = (s"SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS BIGINT) AS offset, 'text' AS kind, substr(text, 1, 120) AS text FROM documents " +
          s"UNION ALL SELECT 'doc-' || CAST(doc_id AS VARCHAR), 1, 'image', ${vocabCase(s1, i => sqlLit(normVocab(i)))} FROM documents " +
          s"UNION ALL SELECT 'doc-' || CAST(doc_id AS VARCHAR), 2, 'image', ${vocabCase(s2, i => sqlLit(normVocab(i)))} FROM documents")),

    // A3-A7/S9: per-document extraction metrics
    QuerySpec("ocr_metrics", (s, dir) => {
      ExtractionJob.extract(s, DocGen.fromDriverDocs(s, dir))
        .select(col("doc_id"),
          col("metrics.ocr_spans").cast("long").as("ocr_spans"),
          col("metrics.direct_spans").cast("long").as("direct_spans"),
          col("metrics.failed_spans").cast("long").as("failed_spans"),
          col("metrics.glyphs_classified").cast("long").as("glyphs"),
          col("metrics.lines_segmented").cast("long").as("lines"))
    },
      oracle = (s"SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, CAST(2 AS BIGINT) AS ocr_spans, " +
          s"CAST(1 AS BIGINT) AS direct_spans, CAST(0 AS BIGINT) AS failed_spans, " +
          s"CAST(${vocabCase(s1, i => glyphs(i).toString)} + ${vocabCase(s2, i => glyphs(i).toString)} AS BIGINT) AS glyphs, " +
          s"CAST(${vocabCase(s1, i => lines(i).toString)} + ${vocabCase(s2, i => lines(i).toString)} AS BIGINT) AS lines FROM documents")),

    // T2: basic Arabic normalization (smart.py:187-203) — native
    // single-pass Catalyst expression (codegen'd; 4x fewer string scans
    // than the chained regexp/translate form, property-tested equal)
    QuerySpec("t2_normalize_basic", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.functions.GraftFunctions.normalizeArabicBasic(augmentedCol).as("norm")),
      oracle = s"SELECT doc_id, ${N.normalizeBasicSql(s"($augmentedSql)")} AS norm FROM documents"),

    // T3: enhanced normalization (smart-structured.py:324-345)
    QuerySpec("t3_normalize_enhanced", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.functions.GraftFunctions.normalizeArabicEnhanced(
          concat(augmentedCol, lit(" "), lit(DiacriticProbe))).as("norm")),
      oracle = s"SELECT doc_id, ${N.normalizeEnhancedSql(s"($augmentedSql || ' ' || ${sqlLit(DiacriticProbe)})")} AS norm FROM documents"),

    // P1: page needs-OCR predicate (smart.py:29-77)
    QuerySpec("p1_needs_ocr", (s, dir) => {
      val t = col("text")
      val stripped = length(trim(t)).cast("double")
      val valid = regexp_count(t, lit(ValidCharClass)).cast("double")
      val artifacts = regexp_count(t, lit(ArtifactClass)).cast("double")
      docs(s, dir).select(col("doc_id"),
        (stripped < 50.0 || (valid / stripped) < 0.3 || (artifacts / stripped) > 0.05)
          .as("needs_ocr"))
    },
      oracle = {
        val stripped = "CAST(length(trim(text)) AS DOUBLE)"
        val valid = s"CAST(len(regexp_extract_all(text, ${sqlLit(ValidCharClass)})) AS DOUBLE)"
        val artifacts = s"CAST(len(regexp_extract_all(text, ${sqlLit(ArtifactClass)})) AS DOUBLE)"
        s"SELECT doc_id, ($stripped < 50.0 OR ($valid / $stripped) < 0.3 OR ($artifacts / $stripped) > 0.05) AS needs_ocr FROM documents"
      }),

    // P2: doc-level text/scanned detection (file_handler.py:17-24; pages
    // stood in by '.'-chunks)
    QuerySpec("p2_pdf_type", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        when(size(filter(transform(slice(split(col("text"), "\\.", -1), 1, 3), x => trim(x)),
          x => length(x) >= 20)) > 0, "text").otherwise("scanned").as("pdf_type")),
      oracle = ("SELECT doc_id, (CASE WHEN len(list_filter(list_transform(string_split(text, '.')[1:3], x -> trim(x)), " +
          "x -> length(x) >= 20)) > 0 THEN 'text' ELSE 'scanned' END) AS pdf_type FROM documents")),

    // T4: raw-text preview (structured.py:66)
    QuerySpec("t4_preview", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        when(length(col("text")) > 500, concat(substring(col("text"), 1, 500), lit("...")))
          .otherwise(col("text")).as("preview")),
      oracle = "SELECT doc_id, (CASE WHEN length(text) > 500 THEN substr(text, 1, 500) || '...' ELSE text END) AS preview FROM documents"),

    // T5: char/word counting (smart-structured.py:226-227)
    QuerySpec("t5_counts", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        length(col("text")).cast("long").as("char_count"),
        TS.wsTokenCountCol(col("text")).cast("long").as("word_count")),
      oracle = (s"SELECT doc_id, CAST(length(text) AS BIGINT) AS char_count, " +
          s"CAST(${TS.wsTokenCountSql("text")} AS BIGINT) AS word_count FROM documents")),

    // A1: page->document reassembly (smart.py:178), '.'-chunks as pages
    QuerySpec("a1_reassembly", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        array_join(filter(transform(split(col("text"), "\\.", -1), x => trim(x)),
          x => x =!= ""), "\n\n").as("full_text")),
      oracle = ("SELECT doc_id, array_to_string(list_filter(list_transform(string_split(text, '.'), x -> trim(x)), " +
          "x -> x <> ''), chr(10) || chr(10)) AS full_text FROM documents")),

    // A4: weighted doc confidence (paddleocr_backend.py:151-165 pattern)
    QuerySpec("a4_weighted_confidence", (s, dir) =>
      lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_discount") * col("l_quantity")) / sum(col("l_quantity")), 6)
          .as("weighted_conf"),
          count(lit(1)).as("n")),
      oracle = ("SELECT l_returnflag, round(sum(l_discount * l_quantity) / sum(l_quantity), 6) AS weighted_conf, " +
          "count(*) AS n FROM lineitem GROUP BY 1")),

    // A5: flat pooled confidence (tesseract_backend.py:170,192 pattern)
    QuerySpec("a5_flat_confidence", (s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(avg(col("value")), 6).as("flat_conf"), count(lit(1)).as("n")),
      oracle = "SELECT event_type, round(avg(value), 6) AS flat_conf, count(*) AS n FROM events GROUP BY 1"),

    // A7: corpus roll-up (smart.py:287-302)
    QuerySpec("a7_corpus_rollup", (s, dir) =>
      docs(s, dir).groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          round(avg(col("n_chars")), 6).as("avg_chars")),
      oracle = ("SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
          "round(avg(n_chars), 6) AS avg_chars FROM documents GROUP BY 1, 2")),

    // A9: document-type analysis (smart-structured.py:283-308)
    QuerySpec("a9_doc_analysis", (s, dir) =>
      DA.analyzeDf(docs(s, dir), lower(augmentedCol), "doc_id")
        .select(col("doc_id"), col("document_type"), round(col("confidence"), 6).as("confidence")),
      oracle = {
        val lowered = s"lower($augmentedSql)"
        val m = DA.maxCountSql("lowered")
        val (typ, conf) = DA.docTypeSql("t.lowered")
        s"SELECT doc_id, $typ AS document_type, round($conf, 6) AS confidence FROM " +
          s"(SELECT doc_id, lowered, $m AS m FROM " +
          s"(SELECT doc_id, $lowered AS lowered FROM documents) raw) t"
      }),

    // A10+A11: article count + date detection (smart-structured.py:310-316)
    QuerySpec("a10_articles_dates", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        DA.articleCountCol(augmentedCol).cast("long").as("article_count"),
        DA.containsDatesCol(augmentedCol).as("contains_dates")),
      oracle = (s"SELECT doc_id, CAST(${DA.articleCountSql(s"($augmentedSql)")} AS BIGINT) AS article_count, " +
          s"${DA.containsDatesSql(s"($augmentedSql)")} AS contains_dates FROM documents")),

    // A12: key patterns (smart-structured.py:318-320)
    QuerySpec("a12_key_patterns", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        array_join(DA.keyPatternsCol(concat(augmentedCol, lit(". "), col("text"))), "|")
          .as("key_patterns")),
      oracle = (s"SELECT doc_id, array_to_string(list_transform(list_filter(list_transform(" +
          s"string_split($augmentedSql || '. ' || text, '.')[1:5], " +
          raw"x -> regexp_replace(x, '^\s+|\s+$$', '', 'g')), " +
          s"x -> length(x) > 10), x -> substr(x, 1, 100)), '|') AS key_patterns FROM documents")),

    // R2-R4: accuracy/speed/weighted-performance rankings
    // (ocr_evaluation.py:233-279); "backends" stood in by sources
    QuerySpec("r2r4_rankings", (s, dir) => {
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
    },
      oracle = ("WITH per_source AS (SELECT source, round(avg(length(text)), 6) AS conf, " +
          "round(sum(n_chars) / 100.0, 6) AS speed FROM documents GROUP BY 1), " +
          "n AS (SELECT source, conf / max(conf) OVER () AS conf_n, speed / max(speed) OVER () AS speed_n FROM per_source), " +
          "sc AS (SELECT source, round(conf_n * 0.6 + speed_n * 0.4, 6) AS score FROM n) " +
          "SELECT source, score, CAST(row_number() OVER (ORDER BY score DESC, source ASC) AS BIGINT) AS rank FROM sc")),

    // R5: page-range limit (paddleocr_backend.py:107-121 corrected
    // semantics): first 3 events per user
    QuerySpec("r5_page_range", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      events(s, dir).withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("rn"))
    },
      oracle = ("WITH r AS (SELECT user_id, event_id, CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS BIGINT) AS rn " +
          "FROM events) SELECT user_id, event_id, rn FROM r WHERE rn <= 3")),

    // A14: hierarchical roll-up (lang x source with subtotals + grand
    // total) — ROLLUP is one shuffle with partial aggregation; the
    // grouping() flags disambiguate subtotal rows from any real
    // NULL/'ALL' values in the data
    QuerySpec("a14_rollup", (s, dir) =>
      docs(s, dir).rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          grouping(col("lang")).cast("long").as("g_lang"),
          grouping(col("source")).cast("long").as("g_source"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("g_lang"), col("g_source"), col("n_docs"), col("total_chars")),
      oracle = ("SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source, " +
          "CAST(GROUPING(lang) AS BIGINT) AS g_lang, CAST(GROUPING(source) AS BIGINT) AS g_source, " +
          "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars " +
          "FROM documents GROUP BY ROLLUP(lang, source)")),

    // T6+A2: evaluation view — "--- Page N ---" headers and "\n"-joined
    // full text (tesseract_backend.py:167,190; '.'-chunks as pages)
    QuerySpec("t6_a2_eval_view", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        array_join(
          transform(split(col("text"), "\\.", -1),
            (x, i) => concat(lit("--- Page "), (i + 1).cast("string"), lit(" ---\n"), trim(x))),
          "\n").as("eval_text")),
      oracle = ("SELECT doc_id, array_to_string(list_transform(string_split(text, '.'), " +
          "(x, i) -> '--- Page ' || i || ' ---' || chr(10) || trim(x)), chr(10)) AS eval_text FROM documents")),

    // A8: cross-backend statistics + best/fastest argmax
    // (ocr_evaluation.py:281-290); deterministic tie-break via
    // (metric, source) struct ordering
    QuerySpec("a8_backend_stats", (s, dir) => {
      val perSource = docs(s, dir).groupBy(col("source"))
        .agg(round(avg(length(col("text"))), 6).as("conf"),
          round(sum(col("n_chars")) / 100.0, 6).as("speed"))
      perSource.agg(
        round(avg(col("conf")), 6).as("avg_conf"),
        round(avg(col("speed")), 6).as("avg_speed"),
        max(struct(col("conf"), col("source"))).getField("source").as("best_source"),
        max(struct(col("speed"), col("source"))).getField("source").as("fastest_source"))
    },
      oracle = ("WITH per_source AS (SELECT source, round(avg(length(text)), 6) AS conf, " +
          "round(sum(n_chars) / 100.0, 6) AS speed FROM documents GROUP BY 1) " +
          "SELECT round(avg(conf), 6) AS avg_conf, round(avg(speed), 6) AS avg_speed, " +
          "(SELECT source FROM per_source ORDER BY conf DESC, source DESC LIMIT 1) AS best_source, " +
          "(SELECT source FROM per_source ORDER BY speed DESC, source DESC LIMIT 1) AS fastest_source " +
          "FROM per_source")),

    // T7: filename/basename projection (smart.py:345-346)
    QuerySpec("t7_basename", (s, dir) => {
      val path = concat(col("source"), lit("/doc-"), col("doc_id"), lit(".pdf"))
      docs(s, dir).select(col("doc_id"),
        regexp_extract(path, "([^/]+)$", 1).as("basename"),
        regexp_extract(path, "([^/]+)\\.pdf$", 1).as("stem"))
    },
      oracle = ("SELECT doc_id, regexp_extract(source || '/doc-' || CAST(doc_id AS VARCHAR) || '.pdf', '([^/]+)$', 1) AS basename, " +
          "regexp_extract(source || '/doc-' || CAST(doc_id AS VARCHAR) || '.pdf', '([^/]+)\\.pdf$', 1) AS stem FROM documents")),

    // O1 line-level results: the reference's `[bbox, (text, conf)]` line
    // shape (paddleocr_backend.py:63) surfaced as rows — raw recognized
    // line text per image span, exactly matching the rendered layout
    // Salted repartition matters here: without it this fan-out
    // inherits the parquet's few input partitions and the per-image
    // OCR runs on a handful of cores (measured 7x slower in round 1)
    QuerySpec("ocr_lines", (s, dir) => {
      import s.implicits._
      ocrMapPartitions(DocGen.fromDriverDocs(s, dir)) { (d, engine) =>
        d.spans.filter(_.kind == "image").flatMap { sp =>
          engine.recognize(fetchImage(sp.media_ref)).lines.zipWithIndex.map { case (l, j) =>
            (d.doc_id, sp.offset.toLong, j.toLong, l.text)
          }
        }
      }.toDF("doc_id", "offset", "line_idx", "line_text")
    },
      oracle = s"SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, CAST(1 AS BIGINT) AS offset, " +
        s"CAST(0 AS BIGINT) AS line_idx, ${rawLineSql(s1)} AS line_text FROM documents " +
        s"UNION ALL SELECT 'doc-' || CAST(doc_id AS VARCHAR), 2, 0, ${rawLineSql(s2)} FROM documents"),

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
    QuerySpec("p3_conf_floor", (s, dir) => {
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
    },
      oracle = {
        // clean render: one line (single-line layout pinned by the
        // Vocab guard test) at confidence exactly 1.0 — kept at the
        // 0.3 floor, dropped at the unattainable 1.01 floor
        s"SELECT doc_id, CAST(0.3 AS DOUBLE) AS floor, CAST(1 AS BIGINT) AS kept_lines, " +
          s"${rawLineSql(s1)} AS kept_text FROM documents " +
          s"UNION ALL SELECT doc_id, 1.01, 0, '' FROM documents"
      }),

    // A3: per-page (per image span) average line confidence — on the
    // noise-free corpus every glyph matches its template exactly, so
    // the per-page mean is exactly 1.0 and one line exists per span
    // (single-line layout pinned by VocabLayoutSpec)
    QuerySpec("a3_page_conf", (s, dir) => {
      import s.implicits._
      ocrMapPartitions(DocGen.fromDriverDocsClean(s, dir)) { (d, engine) =>
        d.spans.filter(_.kind == "image").map { sp =>
          val r = engine.recognize(fetchImage(sp.media_ref))
          val avg = if (r.lines.isEmpty) 0.0 else r.lines.map(_.confidence).sum / r.lines.size
          (d.doc_id, sp.offset.toLong, r.lines.size.toLong,
            BigDecimal(avg).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.toDF("doc_id", "offset", "n_lines", "avg_line_conf")
    },
      oracle = ("SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, CAST(1 AS BIGINT) AS offset, " +
          "CAST(1 AS BIGINT) AS n_lines, CAST(1.0 AS DOUBLE) AS avg_line_conf FROM documents " +
          "UNION ALL SELECT 'doc-' || CAST(doc_id AS VARCHAR), 2, 1, 1.0 FROM documents")),

    // Evaluation envelope (ocr_evaluation.py:102-126): the per-run
    // record {backend_name, pdf_path, pages_processed, success} plus
    // the extracted word count the per-backend metrics derive their
    // words/sec from (tesseract_backend.py:220-223), surfaced per
    // document from the extraction output (deterministic fields only;
    // evaluation_time/timestamp are nondeterministic and live in the
    // lineage table instead)
    QuerySpec("eval_envelope", (s, dir) =>
      ExtractionJob.extract(s, DocGen.fromDriverDocs(s, dir)).toDF
        .select(col("doc_id"),
          lit("graft").as("backend_name"),
          concat(col("doc_id"), lit(".pdf")).as("pdf_path"),
          size(col("spans")).cast("long").as("pages_processed"),
          TS.wsTokenCountCol(concat_ws(" ",
            transform(col("spans"), sp => sp.getField("text")))).cast("long").as("total_words"),
          (col("metrics.failed_spans") === 0 && col("error").isNull).as("success")),
      oracle = {
        val joined = s"(substr(text, 1, 120) || ' ' || ${vocabCase(s1, i => sqlLit(normVocab(i)))} " +
          s"|| ' ' || ${vocabCase(s2, i => sqlLit(normVocab(i)))})"
        "SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, 'graft' AS backend_name, " +
          "'doc-' || CAST(doc_id AS VARCHAR) || '.pdf' AS pdf_path, " +
          s"CAST(3 AS BIGINT) AS pages_processed, " +
          s"CAST(${TS.wsTokenCountSql(joined)} AS BIGINT) AS total_words, " +
          "TRUE AS success FROM documents"
      }),

    // OCR-quality gate: keep documents whose pooled glyph confidence
    // clears a threshold — the standard training-data filter over OCR'd
    // corpora (confidence floor semantics of src/config.py:81). Run on
    // the NOISE-FREE corpus, where every glyph matches its template
    // exactly and mean confidence is exactly 1.0 — oracle-statable.
    // The noisy-corpus bounds (>= MinValidConf) stay pinned in
    // PipelineSpec.
    QuerySpec("ocr_conf_filter", (s, dir) =>
      ExtractionJob.extract(s, DocGen.fromDriverDocsClean(s, dir))
        .select(col("doc_id"), round(col("metrics.mean_confidence"), 6).as("mean_conf"))
        .where(col("mean_conf") >= 0.99),
      // noise-free corpus: every glyph matches its template exactly
      oracle = "SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, CAST(1.0 AS DOUBLE) AS mean_conf FROM documents"),

    // Structured output format (smart-structured.py:130-260): the full
    // nested per-document schema, flattened to its oracle-checkable
    // scalars (the nested shape is pinned in StructuredViewSpec)
    QuerySpec("structured_doc", (s, dir) =>
      graft.pipeline.StructuredView.flat(
        ExtractionJob.extract(s, DocGen.fromDriverDocs(s, dir)).toDF),
      oracle = {
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
      })
  )
}
