package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design: exact dedup is a single hash aggregation (map-side
  * partial combine, one shuffle on the digest). MinHash-LSH and
  * SimHash avoid the O(n^2) pairwise join entirely: candidates come
  * from banded-signature / hamming-block equi-joins (shuffle keyed on
  * small band buckets), then only candidates are verified. At 10^12
  * docs the verify join is the tiny tail, not the head.
  */
object Dedup {

  /** Word tokens (lowercased, distinct) — the unit for Jaccard-style
    * similarity. split() emits a phantom "" token for leading/trailing
    * whitespace (limit -1 semantics); dropping it matters — two
    * unrelated docs that merely both end in '\n' would otherwise share
    * a token, inflating Jaccard and biasing every sketch.
    */
  def tokensCol(text: Column): Column =
    array_remove(array_distinct(split(lower(text), "\\s+")), "")

  /** ORDERED non-empty word tokens (shingling needs sequence order,
    * unlike the set-semantics tokensCol).
    */
  def wordSeqCol(text: Column): Column =
    filter(split(lower(text), "\\s+"), x => x =!= "")

  /** Distinct word n-gram shingles — n consecutive words joined with
    * one space, the n-gram unit for Jaccard similarity. They capture
    * local word ORDER, which unigram word sets cannot; docs with fewer
    * than n words shingle to an empty set. Returned as SORTED
    * cross-engine poly-hash LONGS, built
    * in one native pass over the word array (no shingle strings, no
    * per-element HOF re-evaluation): the verify join then merges
    * 8-byte sets instead of re-hashing multi-word strings per
    * candidate pair. Hash collisions collapse identically on both
    * engines (same family), so oracle equality is preserved exactly.
    */
  def shingleHashesCol(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.ShingleHashes(
      ColumnBridge.expression(wordSeqCol(text)), n))
  }

  /** Shared spine of every WINDOWED pair operator: same-language docs
    * within an id window, candidates generated by the BLOCK EQUI-JOIN
    * (not a range join — a naive `a.id < b.id <= a.id + w` predicate
    * plans as a nested-loop cross product, O(n^2) at any scale; a
    * window-w pair spans at most two consecutive id-blocks of width w,
    * so probing block and block+1 makes it a shuffled hash join with
    * linear candidate volume). The measure over the two sorted
    * shingle-hash sets and any extra prefilter are the only things the
    * unigram-Jaccard / n-gram-Jaccard / containment faces differ in —
    * the blocking correctness argument lives HERE once (round-4
    * review: three verbatim copies invited drift).
    */
  private def windowedShinglePairs(docs: DataFrame, n: Int, idWindow: Int,
                                   measureName: String,
                                   measure: (Column, Column) => Column,
                                   prefilter: (Column, Column) => Column,
                                   threshold: Double): DataFrame = {
    // the slim sketch table feeds BOTH sides of the self-join; without
    // the checkpoint each side re-runs the text scan + ShingleHashes
    // (r07 optimization — reclaimed per-query by Bench/Verify)
    val t = docs.select(col("doc_id"), col("lang"), shingleHashesCol(col("text"), n).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("blk", floor(col("doc_id") / idWindow))
      .localCheckpoint(false)
    val probe = t.withColumn("probe_blk", explode(array(col("blk"), col("blk") + 1)))
    val a = probe.as("a"); val b = t.as("b")
    a.join(b,
        col("a.lang") === col("b.lang") && col("a.probe_blk") === col("b.blk") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.doc_id") <= col("a.doc_id") + idWindow &&
          prefilter(col("a.sh"), col("b.sh")))
      .select(
        col("a.doc_id").as("id_a"),
        col("b.doc_id").as("id_b"),
        round(measure(col("a.sh"), col("b.sh")), 6).as(measureName))
      .where(col(measureName) >= threshold)
  }

  /** Size prefilter: J >= t forces min(|A|,|B|) >= t * max(|A|,|B|)
    * (|A∩B| <= min, |A∪B| >= max) — prunes length-mismatched pairs
    * before the merge pays O(|A|+|B|). Result-preserving against the
    * unrounded Jaccard; the oracle applies the SAME prefilter so the
    * round(J,6) knife edge prunes identically on both engines.
    */
  private def jaccardSizeOk(threshold: Double)(a: Column, b: Column): Column =
    least(size(a), size(b)).cast("double") >=
      lit(threshold) * greatest(size(a), size(b)).cast("double")

  /** Zero-allocation sorted-merge Jaccard over two hash sets (vs the
    * hash-set-building array_intersect/array_distinct per candidate).
    */
  private def mergeJaccard(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.SortedLongJaccard(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Windowed n-gram-shingle Jaccard near-dup pairs: the windowed
    * spine with similarity over distinct word n-grams instead of the
    * unigram word set. Docs shingling empty (fewer than n words) never
    * pair — an empty set has no meaningful Jaccard to anything.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, idWindow: Int, threshold: Double): DataFrame =
    windowedShinglePairs(docs, n, idWindow, "jaccard",
      mergeJaccard, jaccardSizeOk(threshold), threshold)

  /** Windowed n-gram-shingle CONTAINMENT pairs: |A∩B| / min(|A|,|B|)
    * over distinct shingle sets — the asymmetric near-dup signal. A
    * short doc verbatim-quoted inside a long one scores ~1.0 here
    * while its Jaccard is only ~|A|/|B| and sails under every
    * symmetric threshold; excerpt/quotation reuse is a duplication
    * class of its own in training corpora. Same block equi-join shape
    * as jaccardPairs, but NO size prefilter (containment is
    * deliberately size-ratio-unbounded — the mismatched-length pair is
    * the whole point).
    */
  def containmentPairs(docs: DataFrame, n: Int, idWindow: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    def cont(a: Column, b: Column) = ColumnBridge.column(
      graft.functions.SortedLongContainment(
        ColumnBridge.expression(a), ColumnBridge.expression(b)))
    // no size prefilter by design: containment is deliberately
    // size-ratio-unbounded — the mismatched-length pair is the point
    windowedShinglePairs(docs, n, idWindow, "containment",
      cont, (_, _) => lit(true), threshold)
  }

  /** DuckDB oracle of containmentPairs (same hash family/constants). */
  def containmentOracleSql(n: Int, idWindow: Int, threshold: Double): String = {
    val cont = "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "CAST(least(len(a.sh), len(b.sh)) AS DOUBLE), 6)"
    s"""WITH t AS (SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
       |  FROM documents),
       |st AS (SELECT doc_id, lang,
       |    ${shingleListSql("w", n)} AS shs
       |  FROM t),
       |h AS (SELECT doc_id, lang,
       |    ${shingleHashListSql("shs")} AS sh FROM st),
       |nz AS (SELECT * FROM h WHERE len(sh) > 0)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, $cont AS containment
       |FROM nz a JOIN nz b
       |  ON a.lang = b.lang AND a.doc_id < b.doc_id AND b.doc_id <= a.doc_id + $idWindow
       |WHERE $cont >= $threshold""".stripMargin
  }

  /** DuckDB oracle of jaccardPairs (same hashed-token-set face). Pass
    * `idsOnly = true` for the edge-list form the components oracle
    * embeds.
    */
  /** The size prefilter, restated for the oracles: J >= t forces
    * min(|A|,|B|) >= t * max(|A|,|B|), so pruning on it is
    * result-preserving against the UNROUNDED Jaccard — and because
    * round(J, 6) can nudge a just-below-t pair over the line, the
    * SAME prefilter is applied on BOTH engines so even that knife
    * edge prunes identically.
    */
  private def sizeOkSql(a: String, b: String, threshold: Double): String =
    s"CAST(least(len($a), len($b)) AS DOUBLE) >= $threshold * CAST(greatest(len($a), len($b)) AS DOUBLE)"

  def jaccardPairsOracleSql(idWindow: Int, threshold: Double, idsOnly: Boolean = false,
                            rel: String = "documents"): String = {
    val jac = "round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
      "CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 6)"
    val proj = if (idsOnly) "" else s", $jac AS jaccard"
    s"""WITH w AS (SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS words
       |  FROM $rel),
       |t AS (SELECT doc_id, lang, ${tokenHashesSql("words")} AS toks FROM w),
       |nz AS (SELECT * FROM t WHERE len(toks) > 0)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b$proj
       |FROM nz a JOIN nz b
       |  ON a.lang = b.lang AND a.doc_id < b.doc_id AND b.doc_id <= a.doc_id + $idWindow
       |  AND ${sizeOkSql("a.toks", "b.toks", threshold)}
       |WHERE $jac >= $threshold""".stripMargin
  }

  /** DuckDB oracle of ngramJaccardPairs (same constants, same poly
    * hash family — polyHash restated as the unicode-fold, so even a
    * hash collision collapses identically on both engines).
    */
  def ngramJaccardOracleSql(n: Int, idWindow: Int, threshold: Double): String = {
    val jac = "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6)"
    s"""WITH t AS (SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
       |  FROM documents),
       |st AS (SELECT doc_id, lang,
       |    ${shingleListSql("w", n)} AS shs
       |  FROM t),
       |h AS (SELECT doc_id, lang,
       |    ${shingleHashListSql("shs")} AS sh FROM st),
       |nz AS (SELECT * FROM h WHERE len(sh) > 0)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jac AS jaccard
       |FROM nz a JOIN nz b
       |  ON a.lang = b.lang AND a.doc_id < b.doc_id AND b.doc_id <= a.doc_id + $idWindow
       |  AND ${sizeOkSql("a.sh", "b.sh", threshold)}
       |WHERE $jac >= $threshold""".stripMargin
  }

  /** Corpus-WIDE exact span duplication: pairs of docs sharing at
    * least one identical n-word span, with the shared-span count —
    * the span-granular analogue of exact-substring training-data
    * dedup (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"), where verbatim boilerplate/citation reuse is
    * the target rather than whole-doc similarity.
    *
    * Unlike the windowed Jaccard paths this is NOT id-blocked: the
    * candidate structure is an INVERTED INDEX on shingle hashes (one
    * posting per (span-hash, doc)), so any two docs anywhere in the
    * corpus sharing a span meet on its hash — one explode, one
    * hot-key cap, one equi-join, all linear in posting volume. Spans
    * shared by more than `maxPostings` docs (global boilerplate —
    * headers, licenses) are dropped by the same anti-join cap as the
    * LSH buckets: they would pair everyone with everyone (quadratic)
    * while signalling template reuse, not doc-pair duplication.
    * Shingle hashes per doc are DISTINCT, so n_spans counts distinct
    * shared spans.
    */
  def spanOverlapPairs(docs: DataFrame, n: Int,
                       maxPostings: Int = MaxBucketSize): DataFrame = {
    // hash once, materialize the slim (doc_id, sh-array) sketch: the
    // posting list is consumed four times (hot-key agg, anti-join,
    // both join sides) and each un-materialized reference re-ran the
    // text scan + ShingleHashes (r07; re-exploding the checkpointed
    // hash arrays is cheap by comparison)
    val hashed = docs.select(col("doc_id"), shingleHashesCol(col("text"), n).as("shs"))
      .localCheckpoint(false)
    val inv = hashed.select(col("doc_id"), explode(col("shs")).as("sh"))
    val cold = dropHotBuckets(inv, Seq("sh"), maxPostings)
    cold.as("a").join(cold.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).cast("long").as("n_spans"))
  }

  /** DuckDB oracle of spanOverlapPairs (same hash family/constants). */
  def spanOverlapOracleSql(n: Int, maxPostings: Int = MaxBucketSize): String = {
    s"""WITH t AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
       |  FROM documents),
       |st AS (SELECT doc_id,
       |    ${shingleListSql("w", n)} AS shs FROM t),
       |h AS (SELECT doc_id, ${shingleHashListSql("shs")} AS shl
       |  FROM st WHERE len(shs) > 0),
       |inv AS (SELECT doc_id, unnest(shl) AS sh FROM h),
       |cold AS (SELECT * FROM inv QUALIFY count(*) OVER (PARTITION BY sh) <= $maxPostings)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_spans
       |FROM cold a JOIN cold b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin
  }

  /** Per-doc REPETITION fractions (Gopher-rule-style quality
    * signals): for n-gram width n, 1 - distinct/total over the doc's
    * own n-grams — high values flag the looping/boilerplate-stuffed
    * docs a training pipeline filters before tokenization. Distinct is
    * counted over the 62-bit shingle hashes (one native pass), so the
    * oracle's hash-collision behavior is identical by construction.
    * Docs with fewer than n words score 0.0 (nothing to repeat).
    */
  def repetitionFracCol(text: Column, n: Int): Column = {
    val total = greatest(size(wordSeqCol(text)) - (n - 1), lit(0)).cast("double")
    val distinctN = size(shingleHashesCol(text, n)).cast("double")
    when(total > 0, round(lit(1.0) - distinctN / total, 6)).otherwise(lit(0.0))
  }

  /** DuckDB twin of repetitionFracCol over a word list `w`. */
  def repetitionFracSql(w: String, n: Int): String = {
    val distinctN =
      s"len(${shingleHashListSql(s"list_transform(generate_series(1, len($w) - ${n - 1}), i -> ${shingleJoinExprSql(w, n)})")})"
    val total = s"greatest(len($w) - ${n - 1}, 0)"
    s"(CASE WHEN $total > 0 THEN round(1.0 - CAST($distinctN AS DOUBLE) / CAST($total AS DOUBLE), 6) ELSE 0.0 END)"
  }

  /** Benchmark DECONTAMINATION (the GPT-3 appendix-C step every
    * training corpus build runs): flag training documents that share
    * at least one n-gram shingle with any document of a designated
    * evaluation set, so eval-set leakage is removed from the training
    * split BEFORE training rather than explained away after. Returns
    * (doc_id, n_shared) for contaminated TRAINING docs only —
    * n_shared is the distinct shared-shingle count (per-doc shingles
    * are already distinct), the evidence a removal audit keeps.
    *
    * Scale shape: the eval side is small by definition (benchmarks
    * are thousands of docs, the corpus is billions), so its distinct
    * shingle-hash set is BROADCAST and the corpus side never
    * shuffles — one narrow explode of 8-byte hashes, a broadcast
    * hash semi-join inside the scan stage, and a final aggregation
    * over only the matched (rare) rows. n defaults to 8: long enough
    * that natural-language n-gram collisions are vanishing (GPT-3
    * used 13-gram word overlap; the family is the same), short
    * enough to catch partial/excerpt leakage that whole-doc digests
    * miss.
    */
  def decontaminate(docs: DataFrame, isEval: Column, n: Int = 8): DataFrame = {
    val sh = docs.select(col("doc_id"), isEval.as("is_eval"),
      shingleHashesCol(col("text"), n).as("sh"))
    val evalSet = sh.where(col("is_eval")).select(explode(col("sh")).as("sh")).distinct()
    sh.where(!col("is_eval"))
      .select(col("doc_id"), explode(col("sh")).as("sh"))
      .join(broadcast(evalSet), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_shared"))
  }

  /** DuckDB oracle of [[decontaminate]] (same hash family/constants,
    * so shingle-hash collisions collapse identically).
    */
  def decontaminateOracleSql(evalPredSql: String, n: Int = 8): String =
    s"""WITH t AS (SELECT doc_id, ($evalPredSql) AS is_eval,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
       |  FROM documents),
       |st AS (SELECT doc_id, is_eval, ${shingleListSql("w", n)} AS shs FROM t),
       |h AS (SELECT doc_id, is_eval, ${shingleHashListSql("shs")} AS sh FROM st),
       |ev AS (SELECT DISTINCT unnest(sh) AS sh FROM h WHERE is_eval),
       |tr AS (SELECT doc_id, unnest(sh) AS sh FROM h WHERE NOT is_eval)
       |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM tr JOIN ev USING (sh) GROUP BY 1""".stripMargin

  /** Exact duplicate groups by content digest (md5). */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(count("*").cast("long").as("n_docs"), min(col(idCol)).as("keep_id"))

  /** One base-`base` code-point poly fold over a string expr (DuckDB). */
  private def polyFoldSql(expr: String, base: Long): String = {
    import graft.functions.SketchKernels.PolyM
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      raw"list_transform(regexp_extract_all($expr, '[\s\S]'), ch -> CAST(unicode(ch) AS BIGINT))), " +
      s"(a, b) -> (a * $base + b) % $PolyM)"
  }

  /** DuckDB twin of SketchKernels.combinedHash: (hA << 31) + hB with
    * both addends < 2^31, exact in BIGINT.
    */
  private def combinedHashSql(expr: String): String =
    s"(${polyFoldSql(expr, 131L)} * 2147483648 + ${polyFoldSql(expr, graft.functions.SketchKernels.Poly2Base)})"

  // ---- shared DuckDB shingle builders --------------------------------------
  // Single-sourced (round-4 review): five oracles restate the same
  // word-n-gram construction; a tokenizer/joiner change must land in
  // exactly one place or one operator silently desynchronizes from
  // its oracle.

  /** `w[i] || ' ' || w[i+1] || ...` over a 1-based DuckDB word list. */
  private def shingleJoinExprSql(w: String, n: Int): String =
    (0 until n).map(k => if (k == 0) s"$w[i]" else s"$w[i+$k]").mkString(" || ' ' || ")

  /** Distinct shingle STRINGS of a word list (empty when too short —
    * the Spark side's "too short to shingle" marker).
    */
  private def shingleListSql(w: String, n: Int): String =
    s"""CASE WHEN len($w) >= $n THEN
       |      list_distinct(list_transform(generate_series(1, len($w) - ${n - 1}), i -> ${shingleJoinExprSql(w, n)}))
       |    ELSE CAST([] AS VARCHAR[]) END""".stripMargin

  /** Distinct combined 62-bit hashes of a shingle-string list — the
    * DuckDB face of ShingleHashes' output set.
    */
  private def shingleHashListSql(shs: String): String =
    s"list_distinct(list_transform($shs, s -> ${combinedHashSql("s")}))"

  /** DuckDB face of `shingleHashesCol(_, 1)` — the sorted distinct
    * 62-bit combined hashes of the word SET — over a word list `w`.
    * 62-bit per round-3 advice: verify-side sets need collision
    * fidelity the lone 31-bit family lacks at ~100k tokens.
    */
  private[operators] def tokenHashesSql(w: String): String =
    s"list_distinct(list_transform($w, s -> ${combinedHashSql("s")}))"

  /** Windowed unigram (word-set) Jaccard near-dup pairs: the windowed
    * spine at shingle width 1 (width-1 shingles ARE the distinct word
    * set, and the bucket-equivalence law is property-tested). The exact
    * quadratic fallback used to validate the LSH path on samples.
    */
  def jaccardPairs(docs: DataFrame, idWindow: Int, threshold: Double): DataFrame =
    windowedShinglePairs(docs, 1, idWindow, "jaccard",
      mergeJaccard, jaccardSizeOk(threshold), threshold)

  /** Default cap on LSH bucket population. A degenerate corpus (every
    * doc similar) makes some buckets hold a large fraction of the
    * corpus, turning the candidate join quadratic; dropping hot
    * buckets is the standard recall/cost trade (hot-bucket members are
    * still paired through their other, selective bands).
    */
  val MaxBucketSize = 64

  /** Drop members of over-populated (band, bucket) groups. Implemented
    * as a groupBy-count + anti-join of the hot keys (replacing a
    * window count, which paid a full sort per bucket partition). The
    * join strategy is deliberately left to AQE: hot keys are normally
    * few (each holds > maxBucketSize rows, so at most n/maxBucketSize
    * exist) and AQE broadcasts them at runtime — but an adversarially
    * self-similar corpus can make MOST buckets hot, and a forced
    * broadcast() of ~n/bands keys would kill the job where a shuffled
    * anti-join degrades gracefully.
    */
  private def dropHotBuckets(banded: DataFrame, keys: Seq[String], maxBucketSize: Int): DataFrame = {
    val hot = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucketSize)
      .select(keys.map(col): _*)
    banded.join(hot, keys, "left_anti")
  }

  /** Candidate pairs from a banded (doc_id, band, bucket) table,
    * verified with ONE Jaccard per unique pair. Shape chosen for
    * scale: the banded table is SLIM (no token arrays), so the
    * candidate self-join shuffles three small columns; candidates
    * dedupe on the two-long id pair BEFORE verification (a pair
    * sharing k bands would otherwise shuffle its token arrays and pay
    * the Jaccard k times); token-HASH sets (sorted longs) join back
    * once per side, and the verify is the zero-allocation sorted-merge
    * kernel. `withToks` must carry (doc_id, toks: array<long>, sorted
    * distinct).
    */
  private def lshPairsVerified(withToks: DataFrame, cold: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val a = cold.as("a"); val b = cold.as("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val mergeJac = ColumnBridge.column(graft.functions.SortedLongJaccard(
      ColumnBridge.expression(col("toks_a")), ColumnBridge.expression(col("toks_b"))))
    pairs
      .join(withToks.select(col("doc_id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(withToks.select(col("doc_id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .select(col("id_a"), col("id_b"), round(mergeJac, 6).as("jaccard"))
  }

  /** Token-bounded training chunks with overlap over the ORDERED,
    * case-preserving token sequence (chunking feeds the tokenizer;
    * lowercasing is the dedup paths' normalization, not chunking's).
    */
  def chunkTokensCol(text: Column, size: Int, overlap: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.ChunkTokens(
      ColumnBridge.expression(filter(split(text, "\\s+"), x => x =!= "")), size, overlap))
  }

  /** Incremental ingestion gate over RAW TEXT — the dedup decision a
    * production pipeline runs when a NEW batch lands against an
    * EXISTING corpus, both given as rows of `docs` split by `isCorpus`
    * (rows where it is null belong to neither side). Each side is
    * sketched once with [[sketchMeta]] and banded with [[bandedOf]];
    * the decision itself is [[indexedIngestFilter]] over the in-memory
    * corpus sketch, so both entry points run the one gate. Returns the
    * kept new-side doc_ids.
    */
  def incrementalIngestFilter(docs: DataFrame, isCorpus: Column,
                              bands: Int, rowsPerBand: Int, threshold: Double,
                              maxBucketSize: Int = MaxBucketSize,
                              shingleN: Int = 1,
                              containment: Option[Double] = None): DataFrame = {
    // each side's text is tokenized and hashed ONCE per call (r07): the
    // digest anti-join, the band explosion and both verify-side toks
    // lookups read the slim checkpointed sketch (st_ingest chains three
    // gates; blocks are reclaimed per-query by Bench/Verify)
    val sm = sketchMeta(docs.where(isCorpus), shingleN).localCheckpoint(false)
    val bm = sketchMeta(docs.where(!isCorpus), shingleN).localCheckpoint(false)
    // both checkpoints carry the caller's doc_id attribute; a caller
    // joining its own input against the result (IngestStream's batch
    // twin) fails Spark's conflicting-reference resolution unless the
    // result's doc_id is a fresh attribute
    indexedIngestFilter(bm, bandedOf(bm, bands, rowsPerBand),
      InMemorySketchState(sm, bandedOf(sm, bands, rowsPerBand)),
      threshold, maxBucketSize, containment)
      .select(col("doc_id").as("doc_id"))
  }

  /** The row-per-doc sketch (doc_id, digest, toks) — the ONE pass over
    * text of every MinHash path: the exact md5 digest plus the sorted
    * distinct combined hashes of the doc's word n-gram shingles
    * (`shingleN` = 1: the unigram word SET; n > 1: ORDER-sensitive
    * n-grams). A PERSISTED ingest index stores it as its `meta` table.
    * Callers that MATERIALIZE it derive the banded postings from the
    * checkpoint via [[bandedOf]], so text is scanned and hashed exactly
    * once. (digest and toks share a table deliberately: they accrete
    * and materialize together every batch — column pruning serves
    * whichever a step needs.)
    */
  def sketchMeta(docs: DataFrame, shingleN: Int = 1): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("digest"),
      shingleHashesCol(col("text"), shingleN).as("toks"))

  /** Banded (doc_id, band, bucket) LSH postings of a sketch carrying
    * (doc_id, toks) — pure integer mixing over the stored hashes, no
    * text access. Buckets come from the >>> 31 base extraction
    * (MinHashPolyBucketsFromCombined), so no token/shingle string set
    * is ever re-hashed for the minhash side; the width-1 equivalence
    * to string-token banding is a property-tested law
    * (SketchKernelProps: FromCombined(shingleHashes(w,1)) ==
    * minhashPolyBuckets(distinct words) — min over the distinct hash
    * SET equals min over per-token hashes). Docs without tokens band to
    * nothing.
    */
  def bandedOf(meta: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val bks = ColumnBridge.column(graft.functions.MinHashPolyBucketsFromCombined(
      ColumnBridge.expression(col("toks")), bands, rowsPerBand))
    meta
      .withColumn("bks", bks)
      .where(col("bks").isNotNull)
      .select(col("doc_id"), posexplode(col("bks")).as(Seq("band", "bucket")))
  }

  /** The three access paths the admission gate needs from its
    * reference-side sketch state. Each takes the (small) batch-derived
    * probe relation so a PERSISTED implementation can prune state
    * partitions before the scan (round-5 verdict #1); returning a
    * SUPERSET of the matching rows is always correct — the gate
    * re-applies the exact join predicates.
    */
  trait SketchState {
    /** At least the state digests equal to some batch digest. */
    def digests(batchDigests: DataFrame): DataFrame
    /** At least the (doc_id, band, bucket) postings whose (band,
      * bucket) appears in `probedBuckets` — and for every such bucket,
      * ALL of its postings (the rep cap needs complete per-bucket
      * membership).
      */
    def banded(probedBuckets: DataFrame): DataFrame
    /** At least the (doc_id, toks) rows for the given candidate ids. */
    def toksFor(ids: DataFrame): DataFrame
  }

  /** In-memory state (incrementalIngestFilter, the indexed batch twin,
    * tests): no pruning — the gate's own joins do all the narrowing.
    */
  final case class InMemorySketchState(meta: DataFrame, bandedAll: DataFrame)
      extends SketchState {
    override def digests(batchDigests: DataFrame): DataFrame = meta.select(col("digest"))
    override def banded(probedBuckets: DataFrame): DataFrame = bandedAll
    override def toksFor(ids: DataFrame): DataFrame = meta.select(col("doc_id"), col("toks"))
  }

  /** The ADMISSION GATE — the one place the ingest decision is made:
    * keep a batch doc iff it is (a) not an exact duplicate of any
    * state doc (digest anti-join) and (b) not a verified near-duplicate
    * of any state doc (cross-set banded MinHash join: batch buckets
    * probe state postings — candidate volume linear in the batch —
    * verified on the hashed token sets). The batch arrives as its
    * [[sketchMeta]] + [[bandedOf]] slices and the reference side
    * through the `SketchState` seam: in memory
    * ([[incrementalIngestFilter]], the batch twins) or as persisted,
    * partition-pruned parquet (IngestIndex.PrunedSketchState), which
    * never re-reads corpus text. The state-side cost is (a) one digest
    * anti-join, (b) a semi-join of the postings against the batch's
    * broadcast bucket set — three narrow columns — and (c) a toks
    * lookup for candidate partners only.
    *
    * Hot-bucket policy — this is an ADMISSION decision, not pair
    * mining, so whole hot buckets are never dropped (round-3 advice: a
    * new doc near-duplicating a template repeated > maxBucketSize
    * times in the corpus would lose every shared bucket and be
    * admitted — heavy duplication is exactly when the gate must fire).
    * Instead the STATE side keeps the `maxBucketSize` lowest-doc_id
    * REPRESENTATIVES per (band, bucket) — any near-dup of the bucket's
    * contents still meets a representative and verifies — and the
    * batch side is never capped. The cap is applied AFTER the bucket
    * semi-join: per-bucket membership is unchanged by the probe
    * filter, so the representatives are identical to a full-state
    * window, but the window only ever sorts the probed buckets'
    * postings.
    *
    * `containment` makes the admission excerpt-aware (round-4 verdict
    * #6): a batch doc that embeds a state doc verbatim inside much NEW
    * text has low symmetric Jaccard and would be admitted, so a
    * candidate also rejects when |A∩B|/min ≥ ct (the dd_containment
    * kernel). NOTE on recall: candidates still come from the
    * Jaccard-tuned bands, so run excerpt hunts with narrow bands
    * (rowsPerBand=1, more bands — collision prob 1-(1-J)^bands stays
    * high even at excerpt-level J) and let containment supply the
    * precision; the guaranteed-recall face for exact span reuse is
    * spanOverlapPairs.
    *
    * Returns the kept batch doc_ids.
    */
  def indexedIngestFilter(batchMeta: DataFrame, batchBanded: DataFrame,
                          state: SketchState, threshold: Double,
                          maxBucketSize: Int = MaxBucketSize,
                          containment: Option[Double] = None): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val afterExact = batchMeta.select(col("doc_id"), col("digest"))
      .join(state.digests(batchMeta.select(col("digest"))).select(col("digest")),
        Seq("digest"), "left_anti")
      .select(col("doc_id"))
    val probedBuckets = batchBanded.select(col("band"), col("bucket")).distinct()
    val probed = state.banded(probedBuckets)
      .join(broadcast(probedBuckets), Seq("band", "bucket"), "left_semi")
    val wRep = Window.partitionBy(col("band"), col("bucket")).orderBy(col("doc_id"))
    val reps = probed.withColumn("rn", row_number().over(wRep))
      .where(col("rn") <= maxBucketSize).drop("rn")
    // candidates materialize ONCE (small: bucket-mates only): they feed
    // both the pruned toks lookup — which derives its partition set
    // from them — and the verify join
    val cands = batchBanded.as("a")
      .join(reps.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("id_new"), col("b.doc_id").as("id_old"))
      .distinct()
      .localCheckpoint(true)
    val mergeJac = ColumnBridge.column(graft.functions.SortedLongJaccard(
      ColumnBridge.expression(col("ta")), ColumnBridge.expression(col("tb"))))
    val dupPred = containment match {
      case None => round(mergeJac, 6) >= threshold
      case Some(ct) =>
        val mergeCont = ColumnBridge.column(graft.functions.SortedLongContainment(
          ColumnBridge.expression(col("ta")), ColumnBridge.expression(col("tb"))))
        round(mergeJac, 6) >= threshold || round(mergeCont, 6) >= ct
    }
    val stateToks = state.toksFor(cands.select(col("id_old").as("doc_id")))
    val nearDupNew = cands
      .join(batchMeta.select(col("doc_id").as("id_new"), col("toks").as("ta")), "id_new")
      .join(stateToks.select(col("doc_id").as("id_old"), col("toks").as("tb")), "id_old")
      .where(dupPred)
      .select(col("id_new").as("doc_id")).distinct()
    afterExact.join(nearDupNew, Seq("doc_id"), "left_anti").select(col("doc_id"))
  }

  /** CTE block restating ONE admission-gate decision over a relation
    * `$baseRel(doc_id, text, is_corpus)`; every CTE name carries the
    * `$p` prefix so blocks can be CHAINED (the streaming oracle runs
    * one per micro-batch with an accreting base). The final CTE
    * `${p}kept` holds the admitted new-side doc_ids. `shingleN` > 1
    * restates the order-sensitive face: shingle strings -> distinct
    * combined hashes -> the base-131 fold recovered by division (the
    * SQL twin of the kernel's `>>> 31`).
    */
  private def ingestGateCtesSql(p: String, baseRel: String,
                                bands: Int, rowsPerBand: Int, threshold: Double,
                                maxBucketSize: Int, shingleN: Int,
                                containment: Option[Double] = None): String = {
    val (sigCols, bucketCols, bandStructs) = minhashBandSql(bands, rowsPerBand)
    val headCtes = if (shingleN == 1)
      s"""${p}t AS (SELECT doc_id, is_corpus, list_filter(list_distinct(regexp_split_to_array(lower(text), '\\s+')), x -> x <> '') AS toks FROM $baseRel),
         |${p}h AS (SELECT doc_id, is_corpus, $polyHashListSql AS hs, $combinedHashListSql AS hs2 FROM ${p}t WHERE len(toks) > 0),
         |${p}sig AS (SELECT doc_id, is_corpus, list_distinct(hs2) AS ht, $sigCols FROM ${p}h),""".stripMargin
    else {
      s"""${p}t AS (SELECT doc_id, is_corpus, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w FROM $baseRel),
         |${p}st AS (SELECT doc_id, is_corpus,
         |    ${shingleListSql("w", shingleN)} AS shs FROM ${p}t),
         |${p}h AS (SELECT doc_id, is_corpus, ${shingleHashListSql("shs")} AS ht
         |  FROM ${p}st WHERE len(shs) > 0),
         |${p}hb AS (SELECT doc_id, is_corpus, ht, list_transform(ht, x -> x // 2147483648) AS hs FROM ${p}h),
         |${p}sig AS (SELECT doc_id, is_corpus, ht, $sigCols FROM ${p}hb),""".stripMargin
    }
    s"""$headCtes
       |${p}bk AS (SELECT doc_id, is_corpus, ht, $bucketCols FROM ${p}sig),
       |${p}banded AS (SELECT doc_id, is_corpus, ht, u['band'] AS band, u['bucket'] AS bucket
       |  FROM ${p}bk, UNNEST([$bandStructs]) AS un(u)),
       |${p}reps AS (SELECT * FROM ${p}banded WHERE is_corpus
       |  QUALIFY row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) <= $maxBucketSize),
       |${p}cand AS (SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
       |  FROM ${p}banded a JOIN ${p}reps b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE NOT a.is_corpus),
       |${p}neardup AS (SELECT DISTINCT c.id_new FROM ${p}cand c
       |  JOIN ${p}sig sa ON sa.doc_id = c.id_new
       |  JOIN ${p}sig sb ON sb.doc_id = c.id_old
       |  WHERE ${jaccardSql("sa.ht", "sb.ht")} >= $threshold${
            containment.map(ct => s" OR ${containmentSql("sa.ht", "sb.ht")} >= $ct").getOrElse("")}),
       |${p}exact AS (SELECT DISTINCT n.doc_id FROM $baseRel n JOIN $baseRel c
       |  ON NOT n.is_corpus AND c.is_corpus AND md5(n.text) = md5(c.text)),
       |${p}kept AS (SELECT doc_id FROM $baseRel WHERE NOT is_corpus
       |  AND doc_id NOT IN (SELECT doc_id FROM ${p}exact)
       |  AND doc_id NOT IN (SELECT id_new FROM ${p}neardup))""".stripMargin
  }

  /** DuckDB oracle of incrementalIngestFilter (same constants; the
    * corpus/new split is restated by `corpusPred` over `documents`).
    */
  def incrementalIngestOracleSql(corpusPred: String, bands: Int, rowsPerBand: Int,
                                 threshold: Double,
                                 maxBucketSize: Int = MaxBucketSize,
                                 shingleN: Int = 1,
                                 containment: Option[Double] = None): String =
    s"""WITH base AS (SELECT doc_id, text, ($corpusPred) AS is_corpus FROM documents),
       |${ingestGateCtesSql("g_", "base", bands, rowsPerBand, threshold, maxBucketSize, shingleN, containment)}
       |SELECT doc_id FROM g_kept""".stripMargin

  /** DuckDB oracle of IngestStream.ingestBatchTwin: `nBatches` gate
    * blocks chained in batch order, each block's base = corpus ∪ all
    * earlier admissions ∪ its own batch — the accreting-corpus
    * semantics of the streaming gate, restated as one SQL statement.
    */
  def streamingIngestOracleSql(corpusPred: String, batchExpr: String, nBatches: Int,
                               bands: Int, rowsPerBand: Int, threshold: Double,
                               maxBucketSize: Int = MaxBucketSize,
                               shingleN: Int = 1): String = {
    val blocks = (0 until nBatches).map { k =>
      val prevAdmissions = (0 until k).map(j =>
        s"  UNION ALL SELECT doc_id, text, TRUE AS is_corpus FROM adm$j").mkString("\n")
      s"""b$k AS (SELECT doc_id, text, TRUE AS is_corpus FROM all0 WHERE is_corpus
         |$prevAdmissions
         |  UNION ALL SELECT doc_id, text, FALSE AS is_corpus FROM all0 WHERE NOT is_corpus AND bno = $k),
         |${ingestGateCtesSql(s"g${k}_", s"b$k", bands, rowsPerBand, threshold, maxBucketSize, shingleN)},
         |adm$k AS (SELECT doc_id, text FROM all0
         |  WHERE NOT is_corpus AND bno = $k AND doc_id IN (SELECT doc_id FROM g${k}_kept))""".stripMargin
    }.mkString(",\n")
    val out = (0 until nBatches).map(k =>
      s"SELECT doc_id, CAST($k AS BIGINT) AS batch_id FROM g${k}_kept").mkString("\nUNION ALL ")
    s"""WITH all0 AS (SELECT doc_id, text, ($corpusPred) AS is_corpus, ($batchExpr) AS bno FROM documents),
       |$blocks
       |$out""".stripMargin
  }

  /** Native poly band buckets (cross-engine family; one pass). */
  def minhashPolyBuckets(tokens: Column, bands: Int, rowsPerBand: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.MinHashPolyBuckets(
      ColumnBridge.expression(tokens), bands, rowsPerBand))
  }

  /** MinHash-LSH candidate pairs over the CROSS-ENGINE polynomial hash
    * family (SketchKernels.minhashPoly): signatures banded `bands` x
    * `rowsPerBand`; docs sharing any band bucket are candidates,
    * verified with true token Jaccard >= threshold. Every step is
    * restatable in DuckDB SQL (minhashLshOracleSql generates the
    * oracle from the same constants).
    *
    * Pair MINING, so hot buckets are dropped whole (dropHotBuckets) —
    * unlike the admission gate's representative cap. Both the
    * (doc_id, toks) sketch and its postings are MATERIALIZED (r07):
    * the sketch is read by the two verify-side toks joins, the
    * postings by the hot-bucket agg + anti-join + both sides of the
    * candidate join — un-materialized, each reference re-ran the text
    * scan + hashing (~4x per query). The checkpoints are slim and
    * reclaimed per-query by Bench/Verify.
    */
  def minhashLshPairsPoly(docs: DataFrame, bands: Int, rowsPerBand: Int, threshold: Double,
                          maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val withToks = sketchMeta(docs).drop("digest").localCheckpoint(false)
    val banded = bandedOf(withToks, bands, rowsPerBand).localCheckpoint(false)
    lshPairsVerified(withToks, dropHotBuckets(banded, Seq("band", "bucket"), maxBucketSize))
      .where(col("jaccard") >= threshold)
  }

  /** Native cross-engine 30-bit poly-SimHash column. */
  def simhashPolyCol(tokens: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.SimHashPoly(ColumnBridge.expression(tokens)))
  }

  /** SimHash near-dup pairs over the cross-engine poly hash: the
    * 30-bit signature is blocked on `blocks` equal-width chunks
    * (pigeonhole: any pair at hamming <= blocks-1 shares a chunk
    * EXACTLY; beyond that the blocking is the usual recall/cost
    * heuristic). The oracle-checked face of the SimHash operator
    * (simhashOracleSql, generated from the same constants).
    *
    * Default 3 chunks of 10 bits. 10-bit chunks saturate on dense
    * self-similar corpora (2^10 buckets — BASELINE.md); raising
    * `blocks` (5 x 6-bit, 6 x 5-bit) trades candidate volume for
    * recall at hamming <= blocks-1. `blocks` must divide 30.
    */
  def simhashPairsPoly(docs: DataFrame, maxHamming: Int,
                       maxBucketSize: Int = MaxBucketSize, blocks: Int = 3): DataFrame = {
    import graft.functions.SketchKernels.PolySimBits
    require(PolySimBits % blocks == 0, s"blocks=$blocks must divide $PolySimBits")
    val width = PolySimBits / blocks
    // one signature pass, materialized (r07): the blocked table is
    // consumed four times downstream and each reference re-ran the
    // text scan + SimHash otherwise; the checkpoint is 2 longs per doc
    val sh = docs.select(col("doc_id"), simhashPolyCol(tokensCol(col("text"))).as("simhash"))
      .where(col("simhash").isNotNull)
      .localCheckpoint(false)
    val blocked = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until blocks).map { q =>
        shiftright(col("simhash"), q * width).bitwiseAND((1L << width) - 1)
      }: _*)).as(Seq("q", "block")))
    val cold = dropHotBuckets(blocked, Seq("q", "block"), maxBucketSize)
    val a = cold.as("a"); val b = cold.as("b")
    a.join(b,
        col("a.q") === col("b.q") && col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Near-duplicate CLUSTER resolution: connected components over a
    * candidate-pair edge list (id_a < id_b), labeling every member
    * with the smallest doc id of its component — the step that turns
    * pair output into a keep/drop decision (keep = label == doc_id).
    *
    * Algorithm: ALTERNATING LARGE-STAR / SMALL-STAR contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — O(log^2 n) rounds guaranteed, ~log n observed,
    * independent of component DIAMETER. (Round 2 used min-label
    * propagation, whose round count is the diameter: a 5,000-doc
    * windowed-Jaccard chain already exceeded 100 rounds. Star
    * contraction resolves the same graph in single-digit rounds.)
    *
    *   large-star: every node links its LARGER neighbors to its
    *     neighborhood minimum (halves long paths each round);
    *   small-star: every node links its not-larger neighbors to that
    *     minimum (flattens local structure onto the minimum).
    *
    * Both steps preserve connected components exactly and only ever
    * link a node to a smaller one, so the fixed point is a forest of
    * STARS rooted at each component's minimum id. Each step is one
    * groupBy (per-node min) + one join back over the EDGE list — no
    * adjacency materialization, no driver-side data. Convergence is
    * the STRUCTURAL star-forest test itself (no node both root and
    * leaf, no leaf with two roots), one aggregate job per round — it
    * detects the fixed point the round it appears (a checksum
    * comparison needs an extra confirming round) and has no
    * false-convergence mode to guard against (r07).
    *
    * Checkpoint seam: by default rounds truncate lineage with
    * `localCheckpoint` (fastest; blocks are NON-recomputable under
    * executor loss — fine on local[32]). On a real cluster pass
    * `reliable = true` after `sc.setCheckpointDir(...)`: rounds then
    * use reliable `checkpoint()` files that survive executor loss
    * (files live until context stop unless
    * spark.cleaner.referenceTracking.cleanCheckpoints is set).
    *
    * Storage hygiene: each round's checkpoint blocks are unpersisted
    * as soon as the next round is materialized, the final labels are
    * materialized eagerly, and `base` + the converged edge list are
    * freed before returning — the only blocks that outlive the call
    * are the returned node-label table itself (2 longs per node; the
    * round-3 review found ~rounds x edge-list copies squatting in the
    * BlockManager for the life of the session).
    */
  def nearDupComponents(pairs: DataFrame, maxIters: Int = 50,
                        reliable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    if (reliable)
      require(pairs.sparkSession.sparkContext.getCheckpointDir.nonEmpty,
        "reliable=true needs sc.setCheckpointDir(...) first")
    def ckpt(df: DataFrame, eager: Boolean): DataFrame =
      if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
    // canonicalized pair list materialized ONCE — BOTH the edge set
    // and the node set derive from this checkpoint, so the upstream
    // candidate-pair query runs exactly once (deriving nodes from the
    // raw `pairs` would re-run it when the result is consumed)
    val base = ckpt(pairs.select(
        least(col("id_a"), col("id_b")).as("lo"),
        greatest(col("id_a"), col("id_b")).as("hi"))
      .distinct(), true)
    val nodes = base.select(col("lo").as("id"))
      .union(base.select(col("hi").as("id"))).distinct()
    // self-loops carry no connectivity (their ids stay in `nodes`)
    var edges = base.where(col("lo") =!= col("hi"))

    // CONVERGENCE TEST (r07): "is the edge set a star forest?" — ONE
    // aggregate pass per round. Strictly better than the former
    // consecutive-checksum comparison on both axes: (a) exactness — a
    // star forest IS the alternating-contraction fixed point (shown
    // below), so there is no checksum-collision false-convergence mode
    // at all and the former post-loop structural re-check is subsumed;
    // (b) rounds — the checksum needed one extra confirming round to
    // observe an unchanged set, this detects the fixed point the round
    // it appears (measured: 8 rounds -> 7 on the sf0.1 windowed-
    // Jaccard graph, and an already-star input runs ZERO rounds).
    // Why star forest <=> fixed point: every emitted edge satisfies
    // lo < hi (both ops link only toward a neighborhood minimum), and
    // on a star forest largeStar emits each star unchanged (the root
    // is its own neighborhood min; leaves have no larger neighbors)
    // and smallStar re-emits each leaf's root link — so stars are
    // fixed; conversely any non-star state has a node that is both a
    // root and a leaf (or a leaf with two roots), which the next
    // smallStar rewires. Components are preserved exactly by both ops,
    // so the first star forest reached is THE fixed point: roots are
    // component minima (lo < hi forces the unique only-lo node of a
    // star to be its component's minimum).
    // The test input is always a DEDUPED edge set (base is distinct'ed
    // and each round ends in smallStar's distinct), so "n distinct
    // roots of a leaf" is a plain row count per hi — no countDistinct,
    // whose planner rewrite would add a second aggregation exchange to
    // every round's test.
    def isStarForest(e: DataFrame): Boolean = {
      val bad = e
        .select(col("lo").as("id"), lit(true).as("is_lo"))
        .union(e.select(col("hi"), lit(false)))
        .groupBy(col("id"))
        .agg(
          max(when(col("is_lo"), 1).otherwise(0)).as("as_lo"),
          max(when(!col("is_lo"), 1).otherwise(0)).as("as_hi"),
          sum(when(!col("is_lo"), 1L).otherwise(0L)).as("n_roots"))
        .where((col("as_lo") === 1 && col("as_hi") === 1) || col("n_roots") > 1)
        .limit(1).count()
      bad == 0L
    }
    // Each star op is ONE per-node-min window pass over the edge list
    // (one exchange, min computed in the same stage) — a groupBy +
    // join-back costs two exchanges per op. The composite round dedupes
    // once at the end: intermediate duplicate edges cannot change any
    // min. Hot-node skew puts a node's neighborhood in one partition —
    // inherent to the per-node reduce either way.
    // large-star: m(u) = min(N(u) ∪ {u}); emit (m(u), v) for v ∈ N(u), v > u
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))
      nbrs.withColumn("m", least(col("u"), min(col("v")).over(Window.partitionBy(col("u")))))
        .where(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi"))
    }
    // small-star: orient edges toward the smaller endpoint; per node u
    // with smaller-neighbor set N(u), m = min(N(u)); emit (m, v) for
    // v ∈ N(u) \ {m} and (m, u) — the v == m row is rewritten to the
    // (m, u) root link, so one projection emits both kinds.
    // `dedup` (r07): the distinct exchange is needed only on rounds
    // the convergence test (or the final labels join) will consume —
    // duplicate edges change no min, and each op emits at most one
    // row per INPUT edge instance (largeStar: one per v>u orientation;
    // smallStar: one per directed edge), so the un-deduped multiset
    // never grows across the untested early rounds it flows through.
    def smallStar(e: DataFrame, dedup: Boolean): DataFrame = {
      val directed = e.select(col("hi").as("u"), col("lo").as("v"))
      val out = directed
        .withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
        .select(col("m").as("lo"),
          when(col("v") === col("m"), col("u")).otherwise(col("v")).as("hi"))
      if (dedup) out.distinct() else out
    }

    // the input may already be a star forest (tiny graphs, re-runs):
    // then zero rounds run — the test doubles as the empty-edge check
    var converged = isStarForest(edges)
    var it = 0
    // DEFERRED testing (r07): real near-dup graphs never converge in
    // the first few rounds (observed 5-8 on the bench graphs), so
    // testing every early round pays a per-round aggregation + job
    // round-trip that cannot succeed. Rounds before `MinTestRound`
    // stay LAZY — their checkpoints materialize inside the first
    // tested round's job (one action pipelines them) — and testing is
    // per-round from there on. A graph that does converge early just
    // runs no-op rounds on its fixed point until the first test (the
    // fixed-point set is unchanged by the ops, so those rounds cost
    // one small pipelined pass each). The maxIters exit always tests.
    // Lazily-stacked round checkpoints are tracked in `pendingRounds`
    // and freed together once a test materializes them (never base:
    // round-1 `edges` is a filter whose plan CONTAINS base's
    // checkpoint — unpersisting it would free base while `nodes`
    // still needs it).
    val pendingRounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (!converged && it < maxIters) {
      // dedup only the rounds a test (or the final labels join) will
      // read — see smallStar's dedup note
      val willTest = (it + 1) >= MinTestRound || (it + 1) == maxIters
      val next = ckpt(smallStar(largeStar(edges), dedup = willTest), false)
      pendingRounds += next
      edges = next
      it += 1
      if (it >= MinTestRound || it == maxIters) {
        // the star-forest aggregate is the action that materializes
        // every pending round's checkpoint in one job
        converged = isStarForest(next)
        pendingRounds.dropRight(1).foreach(ColumnBridge.unpersistCheckpoint(_))
        pendingRounds.dropInPlace(pendingRounds.size - 1)
      }
    }
    // silent non-convergence would hand downstream keep/drop WRONG
    // labels (multiple "representatives" per cluster); fail loudly
    if (!converged)
      throw new IllegalStateException(
        s"nearDupComponents did not converge in $maxIters rounds; raise maxIters")
    // materialize the labels eagerly so every upstream block (base +
    // the converged rounds) can be freed HERE instead of leaking until
    // session end; the caller gets a self-contained checkpoint
    val labels = ckpt(nodes
      .join(edges.select(col("hi").as("id"), col("lo").as("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label")), true)
    pendingRounds.foreach(ColumnBridge.unpersistCheckpoint(_))
    ColumnBridge.unpersistCheckpoint(base)
    labels
  }

  /** First contraction round worth testing for convergence — rounds
    * below this stay lazy and materialize inside the first test's job
    * (see the deferred-testing note in [[nearDupComponents]]).
    */
  private val MinTestRound = 4

  /** DuckDB oracle of nearDupComponents: min reachable id per node via
    * a recursive CTE (UNION dedupes, so the recursion is finite).
    * `pairsSql` must yield (id_a, id_b) with id_a < id_b.
    */
  def componentsOracleSql(pairsSql: String): String =
    // one recursive self-reference (DuckDB's requirement): edges are
    // made bidirectional first, then labels flow along directed edges
    s"""WITH RECURSIVE edges AS ($pairsSql),
       |dedges AS (SELECT id_a AS u, id_b AS v FROM edges UNION ALL SELECT id_b, id_a FROM edges),
       |nodes AS (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT d.v, r.lbl FROM reach r JOIN dedges d ON d.u = r.id)
       |SELECT id, min(lbl) AS label FROM reach GROUP BY id""".stripMargin

  // ---- DuckDB oracle SQL for the poly pipelines ---------------------------
  //
  // Generated from the SAME constants as the Spark path (PolyM, permA/
  // permB, the 1000003 band fold, the 10-bit thirds), so the oracle and
  // the operator cannot drift apart. Every arithmetic step stays below
  // 2^63: A_p, h < 2^31 so A_p*h + B_p < 2^62; the band fold's
  // g*1000003 + sig < 2^52.

  /** toks CTE body shared by the poly oracles (DuckDB). */
  private def toksSql: String =
    "SELECT doc_id, list_filter(list_distinct(regexp_split_to_array(lower(text), '\\s+')), " +
      "x -> x <> '') AS toks FROM documents"

  /** Per-token 31-bit polynomial hash list (DuckDB twin of polyHash) —
    * feeds the MINHASH permutations, which need sub-2^63 arithmetic.
    */
  private def polyHashListSql: String =
    s"list_transform(toks, tk -> ${polyFoldSql("tk", 131L)})"

  /** Per-token 62-bit combined hash list — feeds the VERIFY sets. */
  private def combinedHashListSql: String =
    s"list_transform(toks, tk -> ${combinedHashSql("tk")})"

  private def jaccardSql(a: String, b: String): String =
    s"round(CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"CAST(len(list_distinct(list_concat($a, $b))) AS DOUBLE), 6)"

  /** SortedLongContainment's SQL twin: |A∩B| / min(|A|,|B|). */
  private def containmentSql(a: String, b: String): String =
    s"round(CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"CAST(least(len($a), len($b)) AS DOUBLE), 6)"

  /** SQL fragments of the poly-MinHash signature/band fold, generated
    * ONCE for every oracle that bands (the self-join LSH oracle and
    * the cross-set ingest oracle must never drift apart).
    */
  private def minhashBandSql(bands: Int, rowsPerBand: Int): (String, String, String) = {
    import graft.functions.SketchKernels.{PolyM, permA, permB}
    val sigCols = (0 until bands * rowsPerBand).map { p =>
      s"list_min(list_transform(hs, x -> (${permA(p)} * x + ${permB(p)}) % $PolyM)) AS s$p"
    }.mkString(", ")
    val bucketCols = (0 until bands).map { b =>
      val fold = (0 until rowsPerBand).foldLeft("CAST(0 AS BIGINT)") { (acc, r) =>
        s"(($acc * 1000003 + s${b * rowsPerBand + r}) % $PolyM)"
      }
      s"$fold AS bk$b"
    }.mkString(", ")
    val bandStructs = (0 until bands).map(b => s"{'band': $b, 'bucket': bk$b}").mkString(", ")
    (sigCols, bucketCols, bandStructs)
  }

  def minhashLshOracleSql(bands: Int, rowsPerBand: Int, threshold: Double,
                          maxBucketSize: Int = MaxBucketSize): String = {
    val (sigCols, bucketCols, bandStructs) = minhashBandSql(bands, rowsPerBand)
    // verify over the DISTINCT token-hash sets (the Spark side merges
    // sorted hash sets; collisions collapse identically here)
    s"""WITH t AS ($toksSql),
       |h AS (SELECT doc_id, $polyHashListSql AS hs, $combinedHashListSql AS hs2 FROM t WHERE len(toks) > 0),
       |sig AS (SELECT doc_id, list_distinct(hs2) AS ht, $sigCols FROM h),
       |bk AS (SELECT doc_id, ht, $bucketCols FROM sig),
       |banded AS (SELECT doc_id, ht, u['band'] AS band, u['bucket'] AS bucket
       |  FROM bk, UNNEST([$bandStructs]) AS un(u)),
       |cold AS (SELECT * FROM banded QUALIFY count(*) OVER (PARTITION BY band, bucket) <= $maxBucketSize),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    ${jaccardSql("a.ht", "b.ht")} AS jaccard
       |  FROM cold a JOIN cold b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= $threshold""".stripMargin
  }

  def simhashOracleSql(maxHamming: Int, maxBucketSize: Int = MaxBucketSize,
                       blocks: Int = 3): String = {
    import graft.functions.SketchKernels.PolySimBits
    require(PolySimBits % blocks == 0, s"blocks=$blocks must divide $PolySimBits")
    val bitSum = (0 until PolySimBits).map { b =>
      s"(CASE WHEN 2 * list_sum(list_transform(hs, x -> (x >> $b) & 1)) > len(hs) " +
        s"THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val third = PolySimBits / blocks
    val blockStructs = (0 until blocks).map { q =>
      s"{'q': $q, 'block': (sh >> ${q * third}) & ${(1L << third) - 1}}"
    }.mkString(", ")
    s"""WITH t AS ($toksSql),
       |h AS (SELECT doc_id, $polyHashListSql AS hs FROM t WHERE len(toks) > 0),
       |sim AS (SELECT doc_id, $bitSum AS sh FROM h),
       |blocked AS (SELECT doc_id, sh, u['q'] AS q, u['block'] AS block
       |  FROM sim, UNNEST([$blockStructs]) AS un(u)),
       |cold AS (SELECT * FROM blocked QUALIFY count(*) OVER (PARTITION BY q, block) <= $maxBucketSize),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    bit_count(xor(a.sh, b.sh)) AS hamming
       |  FROM cold a JOIN cold b ON a.q = b.q AND a.block = b.block AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM pairs WHERE hamming <= $maxHamming""".stripMargin
  }
}
