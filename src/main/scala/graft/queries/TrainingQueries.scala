package graft.queries

import graft.operators.Dedup
import graft.queries.QueryInputs._
import graft.text.{TextStats => TS}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Training-data pipeline steps (`tp_*`): corpus filters, curation and
  * ingest gates, decontamination, sampling, ordering, packing and
  * redaction.
  */
object TrainingQueries {

  val specs: Seq[QuerySpec] = Seq(
    // CORPUS-WIDE cluster resolution — the production dedup face at
    // 100 TB: banded MinHash-LSH candidate pairs over the WHOLE corpus
    // (no id window) feeding star-contraction components. Composes the
    // two already-audited plans end to end; previously only exercised
    // piecewise (round-4 verdict #3).
    QuerySpec("tp_lsh_components", (s, dir) =>
      Dedup.nearDupComponents(
          Dedup.minhashLshPairsPoly(docs(s, dir), bands = 8, rowsPerBand = 4, threshold = 0.8))
        .select(col("id"), col("label")),
      // recursive CTE over the corpus-wide LSH-pair SQL — the same
      // composition the Spark side runs
      oracle = Dedup.componentsOracleSql("SELECT id_a, id_b FROM (" +
        Dedup.minhashLshOracleSql(bands = 8, rowsPerBand = 4, threshold = 0.8) + ") q")),

    // Training-corpus filter: the composed keep/drop decision a data
    // pipeline runs before training — quality floor + language gate +
    // exact-dedup keeper (keep the smallest doc_id per digest), one
    // aggregation + one broadcast-able semi-join over the stats scan
    QuerySpec("tp_corpus_filter", (s, dir) => {
      val d = docs(s, dir)
      val keepers = Dedup.exactGroups(d).select(col("keep_id").as("doc_id"))
      d.select(col("doc_id"),
          TS.qualityScoreCol(col("text")).as("quality"),
          TS.langIdCol(col("text")).as("lang_pred"))
        .where(col("quality") >= 0.5 && col("lang_pred") === "en")
        .join(keepers, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("quality"))
    },
      oracle = (s"WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) " +
          s"SELECT d.doc_id, ${TS.qualityScoreSql("d.text")} AS quality FROM documents d " +
          s"WHERE ${TS.qualityScoreSql("d.text")} >= 0.5 AND ${TS.langIdSql("d.text")} = 'en' " +
          s"AND d.doc_id IN (SELECT doc_id FROM keepers)")),

    // Cluster-representative selection: the KEEP decision a dedup
    // pipeline actually ships — near-dup clusters resolved by star
    // contraction, then ONE representative per cluster chosen by
    // QUALITY (not min-id): argmax via row_number over (quality desc,
    // id asc), member count riding the same label partition (one
    // shuffle, two window functions, zero extra exchanges)
    QuerySpec("tp_cluster_keep", (s, dir) => {
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
    },
      oracle = {
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
      }),

    // The FULL curation pipeline as ONE composed query — what a
    // production training-data run actually ships: exact-dedup keepers
    // -> quality floor + repetition ceiling gates -> near-dup cluster
    // resolution among the survivors, dropping every non-representative
    // cluster member. Each stage is an already-oracle-checked operator;
    // this query pins that they COMPOSE (the oracle restates the whole
    // chain, recursive components included)
    QuerySpec("tp_full_curation", (s, dir) => {
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
    },
      oracle = {
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
      }),

    // Incremental ingestion gate: dedup a NEW batch (odd doc_ids)
    // against the EXISTING corpus (even doc_ids) — exact digest
    // anti-join + cross-set banded MinHash near-dup semi-join; keeps
    // new docs that duplicate nothing already ingested
    QuerySpec("tp_incremental_ingest", (s, dir) =>
      Dedup.incrementalIngestFilter(docs(s, dir), col("doc_id") % 2 === 0,
        bands = 8, rowsPerBand = 4, threshold = 0.8),
      oracle = Dedup.incrementalIngestOracleSql(
        corpusPred = "doc_id % 2 = 0", bands = 8, rowsPerBand = 4, threshold = 0.8)),

    // Order-sensitive ingest gate: same admission pipeline, but the
    // similarity unit is word TRIGRAM shingles (dd_ngram_jaccard's
    // unit) — docs sharing vocabulary but not phrasing pass, reworded
    // near-dups are still rejected
    QuerySpec("tp_ingest_ngram", (s, dir) =>
      Dedup.incrementalIngestFilter(docs(s, dir), col("doc_id") % 2 === 0,
        bands = 8, rowsPerBand = 4, threshold = 0.5, shingleN = 3),
      oracle = Dedup.incrementalIngestOracleSql(
        corpusPred = "doc_id % 2 = 0", bands = 8, rowsPerBand = 4, threshold = 0.5,
        shingleN = 3)),

    // EXCERPT-AWARE ingest gate: Jaccard-only admission lets through a
    // new doc that embeds a corpus doc verbatim inside much new text;
    // this variant also rejects on trigram-shingle CONTAINMENT >= 0.9
    // (dd_containment's kernel in the verify). Narrow bands
    // (rowsPerBand=1) keep candidate recall high at excerpt-level
    // Jaccard — the containment verify supplies the precision
    // (excerpt fixture pinned in OperatorsSpec)
    QuerySpec("tp_ingest_containment", (s, dir) =>
      Dedup.incrementalIngestFilter(docs(s, dir), col("doc_id") % 2 === 0,
        bands = 32, rowsPerBand = 1, threshold = 0.5, shingleN = 3,
        containment = Some(0.9)),
      oracle = Dedup.incrementalIngestOracleSql(
        corpusPred = "doc_id % 2 = 0", bands = 32, rowsPerBand = 1, threshold = 0.5,
        shingleN = 3, containment = Some(0.9))),

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
    QuerySpec("tp_winsorize", (s, dir) => {
      // r07: clip bounds through the Quantiles size switch (exact at
      // every driver scale — same oracle; see ev_quantiles). The switch
      // counts the unfiltered scan, as ev_quantiles does.
      val exact = graft.operators.Quantiles.useExact(events(s, dir))
      val ev = events(s, dir).where(col("value").isNotNull)
      val bounds = ev.groupBy(col("event_type")).agg(
        graft.operators.Quantiles.pct(exact, "value", 0.05).as("lo"),
        graft.operators.Quantiles.pct(exact, "value", 0.95).as("hi"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          round(least(greatest(col("value"), col("lo")), col("hi")), 6)
            .as("clipped"),
          (col("value") < col("lo") || col("value") > col("hi"))
            .as("was_outlier"))
    },
      // bounds rounded to 6 places: DuckDB's interpolation can land one
      // ulp below a bound Spark states exactly (238.41999999999996 vs
      // 238.42), flipping was_outlier for values equal to it. Event
      // values have at most 2 decimals, so every bound has at most 4 and
      // no value lies between the rounded and the exact bound.
      oracle = """WITH b AS (SELECT event_type, round(quantile_cont(value, 0.05), 6) AS lo,
          |    round(quantile_cont(value, 0.95), 6) AS hi
          |  FROM events WHERE value IS NOT NULL GROUP BY 1)
          |SELECT e.event_id, e.event_type,
          |  round(least(greatest(e.value, b.lo), b.hi), 6) AS clipped,
          |  (e.value < b.lo OR e.value > b.hi) AS was_outlier
          |FROM events e JOIN b USING (event_type)
          |WHERE e.value IS NOT NULL""".stripMargin),

    // Benchmark DECONTAMINATION (GPT-3 appendix C): training docs
    // sharing any 8-gram shingle with the eval split (doc_id%29==0,
    // the small designated benchmark set) are flagged with their
    // shared-shingle count. Eval shingle set broadcasts; the corpus
    // side never shuffles before the tiny matched-rows agg.
    QuerySpec("tp_decontaminate", (s, dir) =>
      Dedup.decontaminate(docs(s, dir), col("doc_id") % 29 === 0, n = 8),
      oracle = Dedup.decontaminateOracleSql("doc_id % 29 = 0", n = 8)),

    // MODEL-BASED classification as pure dataflow: multinomial Naive
    // Bayes trained on the corpus's own (lang, token) counts and
    // applied back in the same plan — train is one hash agg, the
    // model broadcasts, scores round(,6) before the argmax so float
    // sum order can never flip the winner across engines.
    QuerySpec("tp_nb_classify", (s, dir) =>
      graft.operators.NaiveBayes.langClassify(docs(s, dir)),
      oracle = graft.operators.NaiveBayes.langClassifyOracleSql),

    // RECORD-LINKAGE composition: fuzzy-join edges resolved into
    // entity clusters by the same star-contraction components engine
    // the near-dup pipeline uses — canonical and dirty records live
    // in disjoint id spaces (dirty offset by 10^6), every edge is a
    // verified levenshtein<=2 match, and each cluster is one real-
    // world entity. The oracle recursively closes the brute-force
    // pair SQL — the tp_lsh_components pattern over j8's edges.
    QuerySpec("tp_fuzzy_components", (s, dir) => {
      val F = graft.operators.FuzzyJoin
      val d = docs(s, dir)
      val pairs = F.fuzzyJoin(
          d.select(col("doc_id").as("l_id"), F.canonicalCol(col("doc_id")).as("l_s")),
          "l_id", "l_s",
          d.select(col("doc_id").as("r_id"), F.dirtyCol(col("doc_id")).as("r_s")),
          "r_id", "r_s", d = 2, q = 3)
        .select(col("l_id").as("id_a"), (col("r_id") + 1000000L).as("id_b"))
      Dedup.nearDupComponents(pairs).select(col("id"), col("label"))
    },
      oracle = {
        val F = graft.operators.FuzzyJoin
        Dedup.componentsOracleSql(
          s"""SELECT l.l_id AS id_a, r.r_id + 1000000 AS id_b FROM
             |  (SELECT doc_id AS l_id, ${F.canonicalSql("doc_id")} AS l_s FROM documents) l
             |  JOIN (SELECT doc_id AS r_id, ${F.dirtySql("doc_id")} AS r_s FROM documents) r
             |  ON abs(length(l.l_s) - length(r.r_s)) <= 2
             |    AND levenshtein(l.l_s, r.r_s) <= 2""".stripMargin)
      }),

    // Fractional UPSAMPLING with replacement (rare-language
    // oversampling, the replication twin of tp_mixture_sample's
    // downsampling gate): weight 3.5x emits 3 copies always + a 4th
    // behind a deterministic integer-hash gate with probability 0.5 —
    // epochs-style mixing without engine RNG. explode(sequence(...))
    // is a narrow generator (no shuffle); the copy multiplier is
    // decided per row at scan time.
    QuerySpec("tp_upsample", (s, dir) => {
      val w10 = when(col("lang") === "zh", 35)
        .when(col("lang") === "fr", 20).otherwise(10)
      val gate = pmod(pmod(col("doc_id"), lit(1000003L)) * 131071L + 17L,
        lit(1000003L)) % 10
      val copies = (w10 / 10).cast("long") +
        when(gate < w10 % 10, 1L).otherwise(0L)
      docs(s, dir).select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), copies)).as("copy_no"))
    },
      oracle = """WITH d AS (SELECT doc_id, lang,
          |    CASE WHEN lang = 'zh' THEN 35 WHEN lang = 'fr' THEN 20
          |      ELSE 10 END AS w10,
          |    ((((doc_id % 1000003) + 1000003) % 1000003) * 131071 + 17)
          |      % 1000003 % 10 AS g
          |  FROM documents)
          |SELECT doc_id, lang, CAST(unnest(generate_series(1, (w10 // 10)
          |  + CASE WHEN g < w10 % 10 THEN 1 ELSE 0 END)) AS BIGINT) AS copy_no
          |FROM d""".stripMargin),

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
    QuerySpec("tp_global_order", (s, dir) => {
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
          Window.orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("bkt"), col("offset"))
      rows.join(broadcast(offsets), Seq("bkt"))
        .withColumn("rank", col("offset") + row_number().over(
          Window.partitionBy(col("bkt"))
            .orderBy(col("h"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("rank"))
    },
      oracle = """SELECT doc_id, CAST(row_number() OVER (
          |    ORDER BY (doc_id * 131071 + 17) % 1000003, doc_id) AS BIGINT) AS rank
          |FROM documents""".stripMargin),

    // BLOOM-PREFILTERED DIGEST ANTI-JOIN: admit docs whose content
    // digest is not in a reject set (decontamination / resume / ingest
    // gating). The bloom (built by Spark's distributed sketch agg over
    // the reject side) broadcasts into the corpus scan: probe-negative
    // rows are DEFINITELY clean (no false negatives) and skip the join
    // entirely; only the ~fpp fraction of maybe-members reaches the
    // exact anti-join. The final answer is EXACTLY the plain anti-join
    // — the oracle states it as such, so a single lost true member
    // (a bloom false negative) would hash-mismatch the gate.
    QuerySpec("tp_bloom_prefilter", (s, dir) => {
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
    },
      oracle = """SELECT doc_id FROM documents WHERE md5(text) NOT IN
          |  (SELECT md5(text) FROM documents WHERE doc_id % 3 = 0)""".stripMargin),

    // GROUP-WISE TOP-K (best 5 docs per language by quality): the
    // same TopKByScore partial aggregate that replaced the ANN
    // windows — per-task buffers cap at k, the shuffle carries
    // tasks x k rows per group instead of every group member, and no
    // rank window ever materializes a group on one partition. Tie
    // rule (score desc, id asc) restated as the oracle's row_number
    // ordering.
    QuerySpec("tp_topk_per_group", (s, dir) => {
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
    },
      oracle = s"""WITH q AS (SELECT lang, doc_id,
           |    ${graft.text.TextStats.qualityScoreSql("text")} AS quality FROM documents),
           |  r AS (SELECT lang, doc_id, quality, row_number() OVER (
           |    PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS rank FROM q)
           |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id,
           |  ROUND(quality, 6) AS quality FROM r WHERE rank <= 5""".stripMargin),

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
    QuerySpec("tp_weighted_sample", (s, dir) => {
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
    },
      oracle = """WITH d AS (SELECT doc_id, lang,
          |    CASE WHEN lang = 'zh' THEN 4 WHEN lang = 'fr' THEN 2 ELSE 1 END AS w
          |  FROM documents WHERE doc_id IS NOT NULL)
          |SELECT doc_id, lang,
          |  list_min(list_transform(generate_series(1, w),
          |    r -> ((((doc_id * 8 + r) % 1000003) + 1000003) % 1000003 * 131071 + 17) % 1000003)) AS draw
          |FROM d ORDER BY draw, doc_id LIMIT 100""".stripMargin),

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
    QuerySpec("tp_mixture_sample", (s, dir) =>
      docs(s, dir).select(col("doc_id"), col("lang"),
        (pmod(pmod(col("doc_id"), lit(1000003L)) * 131071L + 17L, lit(1000003L)) % 100).as("u"),
        when(col("lang") === "en", 50).otherwise(90).as("rate"))
        .where(col("u") < col("rate"))
        .select(col("doc_id"), col("lang")),
      oracle = """SELECT doc_id, lang FROM documents
          |WHERE (((((doc_id % 1000003) + 1000003) % 1000003) * 131071 + 17) % 1000003) % 100
          |  < CASE WHEN lang = 'en' THEN 50 ELSE 90 END""".stripMargin),

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
    QuerySpec("tp_pack_sequences", (s, dir) => {
      val budget = 512
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs(s, dir).select(col("doc_id"),
          pmod(col("doc_id"), lit(8)).as("shard"),
          size(Dedup.wordSeqCol(col("text"))).cast("long").as("n_tokens"))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / budget)
            .cast("long").as("seq_bin"))
    },
      oracle = """SELECT doc_id, doc_id % 8 AS shard, n_tokens,
          |  CAST(floor(COALESCE(sum(n_tokens) OVER w, 0) / 512) AS BIGINT) AS seq_bin
          |FROM (SELECT doc_id,
          |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
          |  FROM documents)
          |WINDOW w AS (PARTITION BY doc_id % 8 ORDER BY doc_id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin),

    // Sequence packing budgeted in SUBWORD tokens — tp_pack_sequences'
    // production twin (training bins are BPE-token budgets, not word
    // counts); identical shard/window shape, the count column swaps
    QuerySpec("tp_pack_sequences_bpe", (s, dir) => {
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
    },
      oracle = {
        val B = graft.text.BpeTokenizer
        s"""SELECT doc_id, doc_id % 8 AS shard, n_tokens,
           |  CAST(floor(COALESCE(sum(n_tokens) OVER w, 0) / 512) AS BIGINT) AS seq_bin
           |FROM (SELECT doc_id, ${B.countFromEncSql(s"(${B.encodeSql("lower(text)")})")} AS n_tokens
           |  FROM documents)
           |WINDOW w AS (PARTITION BY doc_id % 8 ORDER BY doc_id
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
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
    QuerySpec("tp_redact", (s, dir) => {
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
    },
      // same planted contacts, counts on the original, chained global
      // replaces ('g' — DuckDB replaces first-only by default)
      oracle = {
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
      }),

    // STRATIFIED SAMPLING with an exact per-stratum quota: a
    // deterministic integer-hash draw ranks docs WITHIN each lang and
    // the k-capped partial aggregate takes exactly min(20, |stratum|)
    // — the sampling twin of tp_topk_per_group (score = hash, not
    // quality), so quota sampling costs one bounded-buffer shuffle,
    // never a per-stratum sort.
    QuerySpec("tp_stratified_sample", (s, dir) => {
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
    },
      oracle = """WITH d AS (SELECT lang, doc_id,
          |    ((((doc_id % 1000003) + 1000003) % 1000003) * 131071 + 17) % 1000003 AS draw
          |  FROM documents),
          |r AS (SELECT lang, doc_id, row_number() OVER (
          |    PARTITION BY lang ORDER BY draw ASC, doc_id ASC) AS rank FROM d)
          |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id FROM r WHERE rank <= 20""".stripMargin)
  )
}
