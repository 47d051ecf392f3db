package graft.queries

import graft.operators.Dedup
import graft.queries.QueryInputs._
import graft.text.{TextStats => TS}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Web extraction (`ex_*`, `src_json_ingest`): HTML main content,
  * links, metadata, boilerplate, layout order, URL canonicalization,
  * domain rank and schema-enforced JSON ingestion.
  */
object WebQueries {

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

  val specs: Seq[QuerySpec] = Seq(
    // HTML MAIN-CONTENT EXTRACTION (the north rule's "HTML boilerplate
    // strip / DOM heuristics", stated as a declarative operator): each
    // doc's text is wrapped in-plan into a full synthetic page —
    // header/nav link chrome, the content in <article><p>, a footer —
    // and HtmlMain recovers the content by block segmentation +
    // text-density scoring. One narrow projection, no shuffle; same
    // page construction + extraction restated verbatim in the oracle.
    QuerySpec("ex_html_main", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.operators.HtmlMain.mainContentCol(pageCol(withNav = true)).as("main_text")),
      oracle = s"SELECT doc_id, ${graft.operators.HtmlMain.mainContentSql(pageSql(withNav = true))} AS main_text FROM documents"),

    // LINK EXTRACTION + inbound anchor-text aggregation: every <a>
    // (href, anchor) pair is pulled by one regexp_extract_all pass,
    // zipped, exploded, and grouped by target — inbound anchor text
    // is the classic off-page relevance/label signal, and the link
    // rows are the edge list DomainRank consumes. Two deterministic
    // per-doc links are planted into the page (targets in a fixed
    // 101-slot space so in-degree is meaningful at every SF). One
    // narrow projection + one hash agg on the target key.
    QuerySpec("ex_links", (s, dir) => {
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
    },
      oracle = """WITH p AS (SELECT doc_id, '<html><body><p>' || text || '</p><a href="/doc/'
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
          |FROM l GROUP BY 1""".stripMargin),

    // Page METADATA extraction (head-side complement of the body
    // strip): title, meta description (missing on every 3rd doc —
    // pins no-match semantics), canonical link (what feeds URL-level
    // dedup), robots-noindex flag (the hard crawl pre-filter). One
    // codegen'd regex per field over the synthesized page, no shuffle.
    QuerySpec("ex_html_meta", (s, dir) => {
      val H = graft.operators.HtmlMain
      docs(s, dir).select(col("doc_id"),
        H.metaTitleCol(headPageCol).as("title"),
        H.metaDescriptionCol(headPageCol).as("description"),
        H.canonicalLinkCol(headPageCol).as("canonical_url"),
        H.noindexCol(headPageCol).as("noindex"))
    },
      oracle = {
        val H = graft.operators.HtmlMain
        s"""WITH p AS (SELECT doc_id, $headPageSql AS html FROM documents)
           |SELECT doc_id, ${H.metaTitleSql("html")} AS title,
           |  ${H.metaDescriptionSql("html")} AS description,
           |  ${H.canonicalLinkSql("html")} AS canonical_url,
           |  ${H.noindexSql("html")} AS noindex
           |FROM p""".stripMargin
      }),

    // The WEB-PIPELINE capstone: page HTML in -> training doc out.
    // Composes ex_html_main's extraction with the curation gates over
    // the EXTRACTED text (quality floor + exact-dedup keeper) — the
    // end-to-end chain the north rule describes, in one oracle
    QuerySpec("ex_web_pipeline", (s, dir) => {
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
    },
      oracle = s"""WITH ext AS (SELECT doc_id, ${graft.operators.HtmlMain.mainContentSql(pageSql(withNav = false))} AS t FROM documents),
           |keepers AS (SELECT min(doc_id) AS doc_id FROM ext GROUP BY md5(t))
           |SELECT e.doc_id, ${TS.qualityScoreSql("e.t")} AS quality
           |FROM ext e
           |WHERE ${TS.qualityScoreSql("e.t")} >= 0.5
           |  AND e.doc_id IN (SELECT doc_id FROM keepers)""".stripMargin),

    // CORPUS-frequency boilerplate line removal (CCNet-style): lines
    // recurring across > 20 documents are chrome the corpus reveals
    // (per-page heuristics cannot); heavy set found by one hash agg
    // over per-doc-distinct lines, rebuild is a broadcast-set array
    // filter — document text never shuffles. 20 is the fixture's
    // absolute threshold (production: frac x corpus_size from stats).
    QuerySpec("ex_boilerplate_lines", (s, dir) =>
      graft.operators.Boilerplate.stripFrequentLines(
        docs(s, dir).select(col("doc_id"),
          graft.operators.Boilerplate.pageCol(col("text"), col("source")).as("page")),
        maxDocs = 20),
      oracle = graft.operators.Boilerplate.stripFrequentLinesOracleSql(
          graft.operators.Boilerplate.pageSql("text", "source"), maxDocs = 20)),

    // LAYOUT reading-order recovery (the north rule's "PDF/layout
    // parse"): span boxes on a synthetic two-column page; the
    // operator finds the gutter by the 1-D XY-cut gap argmax and
    // re-serializes column-major/top-down. One narrow doc_id shuffle,
    // all windows share it.
    QuerySpec("ex_layout_order", (s, dir) =>
      graft.operators.LayoutOrder.readingOrder(
        graft.operators.LayoutOrder.spanBoxes(docs(s, dir))),
      oracle = s"""WITH ${graft.operators.LayoutOrder.spanBoxesSql},
           |${graft.operators.LayoutOrder.readingOrderSql("spans")}
           |SELECT doc_id,
           |  row_number() OVER (PARTITION BY doc_id ORDER BY colno, y, x) AS read_order,
           |  colno, tok
           |FROM c""".stripMargin),

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
    QuerySpec("src_json_ingest", (s, dir) => {
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
    },
      // the routing CONTRACT stated from the corruption rule: corrupt
      // lines (every 13th) parse to nothing, the rest round-trip
      oracle = """SELECT doc_id AS src_id,
          |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE doc_id END AS doc_id,
          |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
          |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars END AS n_chars,
          |  doc_id % 13 <> 0 AS valid
          |FROM documents""".stripMargin),

    // Domain RANKING for crawl prioritization: PageRank power
    // iteration over the doc-derived domain link graph — ranks
    // broadcast each step so the edge table never shuffles; one
    // |domains|-sized partial-sum exchange per iteration.
    QuerySpec("ex_domain_rank", (s, dir) =>
      graft.operators.DomainRank.pageRank(
        graft.operators.DomainRank.linkEdges(docs(s, dir))),
      oracle = graft.operators.DomainRank.pageRankOracleSql),

    // URL canonicalization + URL-level dedup (the pre-fetch dedup of
    // every crawl pipeline): crawl-variant URLs (host case, default
    // port, www alias, utm params, fragment) collapse to one
    // canonical form; meaningful query params survive. Chained
    // anchored regexes, one hash agg on the canonical string.
    QuerySpec("ex_url_canonical", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.operators.UrlCanon.canonicalCol(
          graft.operators.UrlCanon.urlCol(col("doc_id"))).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).cast("long").as("n_variants"),
          min(col("doc_id")).as("keep_id")),
      oracle = s"""WITH u AS (SELECT doc_id, ${graft.operators.UrlCanon.urlSql("doc_id")} AS url FROM documents)
           |SELECT ${graft.operators.UrlCanon.canonicalSql("url")} AS canonical_url,
           |  CAST(count(*) AS BIGINT) AS n_variants, min(doc_id) AS keep_id
           |FROM u GROUP BY 1""".stripMargin)
  )
}
