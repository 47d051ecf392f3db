package graft.queries

import graft.operators.{Dedup, Search, Similarity}
import graft.queries.QueryInputs._
import graft.text.{TextStats => TS}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Corpus text analytics (`ta_*`): LM scoring, tokenization, retrieval,
  * frequency sketches, collocations, keywords and chunking.
  */
object TextAnalyticsQueries {

  /** BM25 probe query: the rare planted near-dup marker plus three
    * common vocabulary terms — exercises the idf spread end to end.
    * Single definition consumed by BOTH the query and its oracle.
    */
  private val BmTerms = Seq("dup", "spark", "vector", "join")

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

  val specs: Seq[QuerySpec] = Seq(
    // Repetition quality signals (Gopher-rule style): per-doc
    // duplicate-token / duplicate-2-gram / duplicate-3-gram fractions
    // + the filter flag a curation pipeline would gate on — one narrow
    // projection, three native shingle passes, no shuffle at all
    QuerySpec("ta_repetition", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        Dedup.repetitionFracCol(col("text"), 1).as("dup_token_frac"),
        Dedup.repetitionFracCol(col("text"), 2).as("dup_2gram_frac"),
        Dedup.repetitionFracCol(col("text"), 3).as("dup_3gram_frac"),
        (Dedup.repetitionFracCol(col("text"), 2) > 0.9).as("flagged")),
      oracle = s"""WITH t AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
           |  FROM documents)
           |SELECT doc_id,
           |  ${Dedup.repetitionFracSql("w", 1)} AS dup_token_frac,
           |  ${Dedup.repetitionFracSql("w", 2)} AS dup_2gram_frac,
           |  ${Dedup.repetitionFracSql("w", 3)} AS dup_3gram_frac,
           |  (${Dedup.repetitionFracSql("w", 2)} > 0.9) AS flagged
           |FROM t""".stripMargin),

    // Unigram LM quality scoring (CCNet-style): per-doc mean token
    // log-probability under the corpus's own unigram distribution —
    // the cheap-LM filter before model-based scoring
    QuerySpec("ta_unigram_logprob", (s, dir) =>
      Search.unigramLogProb(docs(s, dir)),
      oracle = Search.unigramLogProbOracleSql),

    // Bigram LM scoring: order-sensitive LM quality signal (scrambled
    // word order scores low where unigram frequency is blind) — same
    // explode/aggregate/broadcast-join shape as the unigram face
    QuerySpec("ta_bigram_logprob", (s, dir) =>
      Search.bigramLogProb(docs(s, dir)),
      oracle = Search.bigramLogProbOracleSql),

    // SUBWORD (BPE) tokenization — the unit real token budgets are
    // counted in (round-5 verdict #5): merges trained deterministically
    // on the driver vocabulary (BpeTokenizer scaladoc), applied as M
    // chained codegen'd string replaces over an enclosed char encoding;
    // the FULL token sequence and count are oracle-checked (the DuckDB
    // SQL is generated from the same trained merge table). Narrow
    // per-row projection: no shuffle, no UDF. The encoded intermediate
    // is staged in its own select so both derived columns read ONE
    // evaluation (codegen CSE; the HtmlMain staging rule).
    QuerySpec("ta_bpe_tokenize", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          graft.text.BpeTokenizer.encodeCol(lower(col("text"))).as("enc"))
        .select(col("doc_id"),
          graft.text.BpeTokenizer.tokensFromEncCol(col("enc")).as("bpe_tokens"),
          graft.text.BpeTokenizer.countFromEncCol(col("enc")).as("n_bpe_tokens")),
      // generated from the SAME trained merge table as the query —
      // the tokenization itself is what's being checked
      oracle = {
        val B = graft.text.BpeTokenizer
        s"""SELECT doc_id, ${B.tokensFromEncSql("enc")} AS bpe_tokens,
           |  ${B.countFromEncSql("enc")} AS n_bpe_tokens
           |FROM (SELECT doc_id, ${B.encodeSql("lower(text)")} AS enc FROM documents) t""".stripMargin
      }),

    // Corpus keyword search: BM25 top-k over a probe query mixing the
    // rare near-dup marker ("dup", df~5%) with common vocabulary —
    // retrieval-based curation (contamination checks, topical subset
    // pulls). One narrow tf/dl pass, a one-row corpus-stats broadcast,
    // TakeOrdered top-k
    QuerySpec("ta_bm25_topk", (s, dir) =>
      Search.bm25TopK(docs(s, dir), BmTerms, k = 25),
      oracle = Search.bm25OracleSql(BmTerms, k = 25)),

    // Build-once/query-many face of BM25: corpus tokenized ONCE into a
    // term-hash-partitioned postings index (lake seam), the query
    // reads only the probed terms' partitions — same scores, held to
    // the SAME oracle as ta_bm25_topk (SearchIndex scaladoc;
    // PartitionFilters pruning pinned in OperatorsSpec). The index is
    // cached per input dir for the JVM's lifetime — build-once is the
    // operator's POINT, so bench pass 2 (and the per-query min)
    // measures the amortized probe, not a rebuild, and repeated runs
    // don't accrete temp dirs (review round-5).
    QuerySpec("ta_bm25_indexed", (s, dir) => {
      val idx = bmIdxCache.computeIfAbsent(dir, d => {
        val tmp = deleteOnExit(
          java.nio.file.Files.createTempDirectory("graft-bmidx").toString)
        graft.operators.SearchIndex.build(docs(s, d), new graft.lake.ParquetLake(tmp), "bm")
      })
      graft.operators.SearchIndex.queryTopK(s, idx, BmTerms, k = 25)
    },
      // the persisted index must reproduce the one-shot ranking exactly
      oracle = Search.bm25OracleSql(BmTerms, k = 25)),

    // Corpus-wide top-k frequent word TRIGRAMS (boilerplate-phrase
    // discovery — the diagnostic face of dd_span_overlap's hot-span
    // cap): ChunkTokens at (n, n-1) enumerates every n-gram in one
    // native pass (step 1, all windows full once len >= n); explode is
    // map-side, count partially aggregates, top-k is TakeOrdered
    QuerySpec("ta_ngram_freq", (s, dir) =>
      docs(s, dir)
        .select(explode(Dedup.chunkTokensCol(lower(col("text")), 3, 2)).as("ngram"))
        // ONE whole-doc tokenization; sub-trigram remainders (docs
        // shorter than 3 words chunk to one short window) are dropped
        // by a per-ngram 3-token check — bounded-length splits instead
        // of a second full-document tokenization pass
        .where(size(split(col("ngram"), " ")) === 3)
        .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram").asc)
        .limit(20),
      oracle = s"""WITH t AS (SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
           |  FROM documents),
           |g AS (SELECT unnest(list_transform(generate_series(1, len(w) - 2),
           |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ngram
           |  FROM t WHERE len(w) >= 3)
           |SELECT ngram, count(*) AS n FROM g GROUP BY ngram
           |ORDER BY n DESC, ngram ASC LIMIT 20""".stripMargin),

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
    QuerySpec("ta_heavy_hitters", (s, dir) => {
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
    },
      oracle = """WITH t AS (SELECT CASE WHEN event_id % 10 < 5
          |    THEN 'hot_' || CAST(event_id % 10 AS VARCHAR)
          |    ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
          |  FROM events WHERE event_id IS NOT NULL),
          |  nn AS (SELECT count(*) AS n FROM t)
          |SELECT t.key, count(*) AS exact_cnt, TRUE AS under_ok, TRUE AS gap_ok
          |FROM t, nn GROUP BY t.key, nn.n HAVING count(*) * 64 > nn.n""".stripMargin),

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
    QuerySpec("ta_cms_freq", (s, dir) => {
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
    },
      oracle = """WITH t AS (SELECT CASE WHEN event_id % 10 < 5
          |    THEN 'hot_' || CAST(event_id % 10 AS VARCHAR)
          |    ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
          |  FROM events WHERE event_id IS NOT NULL),
          |  p AS (SELECT 'hot_' || CAST(i AS VARCHAR) AS key
          |      FROM (SELECT unnest(generate_series(0, 4)) AS i)
          |    UNION ALL SELECT * FROM (VALUES ('cold_7'), ('cold_77'),
          |      ('absent_a'), ('absent_b')) v(key))
          |SELECT p.key, CAST(count(t.key) AS BIGINT) AS exact_cnt,
          |  TRUE AS over_ok, TRUE AS bound_ok
          |FROM p LEFT JOIN t ON p.key = t.key GROUP BY p.key""".stripMargin),

    // HYBRID RETRIEVAL (BM25 recall -> vector rerank): the lexical
    // top-50 provides cheap candidates; ONLY those 50 pay a cosine
    // against the query vector (vec 0). The candidate set broadcasts
    // into the embeddings scan, so the expensive vector side touches
    // |candidates| rows however big the corpus — the standard
    // two-stage retrieval shape. hybrid = 0.1*bm25 + cosine, formed
    // from the two already-rounded components so both engines add
    // identical doubles.
    QuerySpec("ta_hybrid_search", (s, dir) => {
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
    },
      oracle = s"""WITH bm AS (SELECT * FROM (${Search.bm25OracleSql(BmTerms, k = 50)}) b),
           |e AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
           |r AS (SELECT bm.doc_id, bm.score,
           |    round(list_inner_product(e.e, q.qe) /
           |      (sqrt(list_inner_product(e.e, e.e)) * sqrt(list_inner_product(q.qe, q.qe))), 6) AS cosine
           |  FROM bm JOIN e ON bm.doc_id = e.doc_id CROSS JOIN q)
           |SELECT doc_id, score, cosine, round(score * 0.1 + cosine, 6) AS hybrid
           |FROM r ORDER BY hybrid DESC, doc_id ASC LIMIT 10""".stripMargin),

    // COLLOCATION MINING (PMI over adjacent-token bigrams): the
    // phrase-detection pass before tokenizer training. All counts are
    // integers from two hash aggs (unigrams, bigrams); PMI is ONE ln
    // over their exact integer ratio, so both engines feed the same
    // rational into the same log. The uniform testdata has no natural
    // collocations, so one is planted deterministically ('zig zag' on
    // every 5th doc — pmi ~ ln(nu^2/(nb*c)) >> 0 while noise bigrams
    // sit near 0). Long arithmetic stays under 2^63 through sf0.1 x
    // 100 (nu^2 * c_ab ~ 1e17); past that, pre-divide or go decimal.
    QuerySpec("ta_collocations", (s, dir) => {
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
    },
      oracle = """WITH d AS (SELECT CASE WHEN doc_id % 5 = 0 THEN text || ' zig zag'
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
          |FROM cab JOIN uc ua ON ua.t = cab.a JOIN uc ub ON ub.t = cab.b, nu, nb""".stripMargin),

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
    QuerySpec("ta_keywords_tfidf", (s, dir) => {
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
          Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("term").asc)))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("term"), col("score"))
    },
      oracle = """WITH w AS (SELECT doc_id,
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
          |  score FROM r WHERE rank <= 3""".stripMargin),

    // Corpus vocabulary statistics: global token frequencies, top 20 —
    // explode is map-side, the count aggregates partially before the
    // one shuffle, and the top-k is a driver-sized TakeOrdered (no
    // global sort materialization)
    QuerySpec("ta_token_freq", (s, dir) =>
      docs(s, dir)
        .select(explode(Dedup.tokensCol(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20),
      oracle = ("WITH t AS (SELECT unnest(list_filter(list_distinct(regexp_split_to_array(lower(text), '\\s+')), x -> x <> '')) AS token FROM documents) " +
          "SELECT token, count(*) AS n FROM t GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 20")),

    // Training chunking: token-bounded chunks with overlap (64/16) —
    // the step between cleaning and tokenization; chunk boundaries
    // and remainder semantics restated exactly in the oracle
    QuerySpec("ta_chunking", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          posexplode(Dedup.chunkTokensCol(col("text"), size = 64, overlap = 16))
            .as(Seq("chunk_idx", "chunk_text")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_text"),
          size(split(col("chunk_text"), " ")).cast("long").as("n_tokens")),
      oracle = ("WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM documents), " +
          "s AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0), " +
          "c AS (SELECT doc_id, i AS chunk_idx, " +
          "array_to_string(w[i*48+1 : least(i*48+64, n)], ' ') AS chunk_text " +
          "FROM s, UNNEST(generate_series(0, CASE WHEN n <= 64 THEN 0 ELSE ((n - 64) + 47) // 48 END)) AS un(i)) " +
          "SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk_text, " +
          "CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_tokens FROM c")),

    // Text analysis: token counts, quality score, language ID, fingerprint
    QuerySpec("ta_text_stats", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TS.tokenCountCol(col("text")).cast("long").as("bpe_tokens"),
        TS.wsTokenCountCol(col("text")).cast("long").as("ws_tokens"),
        TS.qualityScoreCol(col("text")).as("quality"),
        TS.langIdCol(col("text")).as("lang_pred"),
        TS.fingerprintCol(col("text")).as("fingerprint")),
      oracle = (s"SELECT doc_id, CAST(${TS.tokenCountSql("text")} AS BIGINT) AS bpe_tokens, " +
          s"CAST(${TS.wsTokenCountSql("text")} AS BIGINT) AS ws_tokens, " +
          s"${TS.qualityScoreSql("text")} AS quality, ${TS.langIdSql("text")} AS lang_pred, " +
          s"${TS.fingerprintSql("text")} AS fingerprint FROM documents"))
  )
}
