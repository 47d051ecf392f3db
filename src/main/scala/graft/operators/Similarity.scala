package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exactness baseline: broadcast the
  * (small) query set, one narrow pass over the corpus, per-query top-k
  * via window — no corpus self-shuffle. The scale path is LSH
  * bucketing (random-hyperplane signs): candidates share a bucket, so
  * the join is keyed on the bucket value instead of a cross product.
  * All arithmetic is Catalyst HOFs over doubles with a fixed fold
  * order, so scores are reproducible bit-for-bit.
  */
object Similarity {

  /** Native dot product (primitive loop in codegen, same fold order). */
  def dotCol(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.DotProductF32(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  def normCol(a: Column): Column = sqrt(dotCol(a, a))

  def cosineCol(a: Column, b: Column): Column =
    dotCol(a, b) / (normCol(a) * normCol(b))

  /** Per-query top-k over a `(query_id, neighbor_id, score)` relation
    * with a BOUNDED partial aggregate instead of a row_number window
    * (round-5 verdict #2: the window form shuffles EVERY scored corpus
    * row for a query into one partition — the scale-killer for the
    * brute faces at 10^12 vectors). TopKByScore's partial buffers cap
    * at k, so the shuffle carries at most tasks x k rows per query and
    * the merged candidates never touch a sort of the full scored set.
    * Selection and order semantics are identical to
    * `row_number() OVER (ORDER BY score DESC, neighbor_id ASC) <= k`
    * (rank = array position + 1), pinned against the window form in
    * OperatorsSpec.
    */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val agg = ColumnBridge.column(graft.functions.TopKByScore(
      ColumnBridge.expression(col("score")),
      ColumnBridge.expression(col("neighbor_id")), k).toAggregateExpression())
    scored.groupBy(col("query_id")).agg(agg.as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.neighbor_id").as("neighbor_id"),
        col("t.score").as("score"), (col("pos") + 1).as("rank"))
  }

  /** Exact brute-force cosine top-k neighbors for each query vector.
    * `queries` must be small (it is broadcast).
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms precomputed once per side — the per-pair work is a single
    // dot product, not three
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      normCol(col("embedding")).as("q_nrm"))
    val c = corpus.select(col("vec_id"), col("embedding"), normCol(col("embedding")).as("c_nrm"))
    val scored = c
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dotCol(col("q_emb"), col("embedding")) / (col("q_nrm") * col("c_nrm")), 6).as("score"))
    topKPerQuery(scored, k)
  }

  /** INT8 scalar-quantized brute-force top-k (FAISS SQ8-style): each
    * corpus vector compresses 4x to (codes in [-127,127], one scale =
    * max|x|), queries stay full precision (asymmetric scoring). At
    * 10^12 x 64-dim float32 vectors the raw corpus is ~256 TB; SQ8
    * cuts the resident ANN working set to a quarter for ~1e-2 cosine
    * error. Every step — scale, quantize (floor(x*127/scale + 0.5),
    * identical rounding on both engines), decode-free integer-dot
    * scoring (the scale CANCELS in cosine, so the score needs only
    * the int codes and the query) — is exact double arithmetic
    * restated verbatim in the DuckDB oracle, so the COMPRESSED search
    * result is oracle-checked end to end (ann_sq8_topk), not just
    * recall-tested.
    */
  /** SQ8 scale: max|x| over the vector (exposed so tests pin the
    * SHIPPED formula, not a copy).
    */
  def sq8ScaleCol(emb: Column): Column =
    aggregate(emb, lit(0.0), (acc, v) => greatest(acc, abs(v.cast("double"))))

  /** SQ8 codes in [-127, 127]: floor(x*127/scale + 0.5) — identical
    * rounding on both engines; all-zero for a zero-scale vector.
    */
  def sq8CodesCol(emb: Column, scale: Column): Column =
    when(scale === 0.0, transform(emb, _ => lit(0)))
      .otherwise(transform(emb,
        x => floor(x.cast("double") * 127.0 / scale + 0.5).cast("int")))

  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val codeNorm = sqrt(aggregate(col("codes"), lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double")))
    val c = corpus.select(col("vec_id"), col("embedding"))
      .withColumn("sq_scale", sq8ScaleCol(col("embedding")))
      .withColumn("codes", sq8CodesCol(col("embedding"), col("sq_scale")))
      .select(col("vec_id"), col("codes"), codeNorm.as("c_nrm"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      normCol(col("embedding")).as("q_nrm"))
    val dotIQ = aggregate(
      zip_with(col("codes"), col("q_emb"), (cd, qv) => cd.cast("double") * qv.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val scored = c
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .where(col("c_nrm") > 0)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dotIQ / (col("c_nrm") * col("q_nrm")), 6).as("score"))
    topKPerQuery(scored, k)
  }

  /** DuckDB oracle of sq8TopK (same quantization formula verbatim). */
  def sq8TopKOracleSql(k: Int, queryPred: String): String =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
       |    FROM embeddings WHERE $queryPred),
       |cs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |sc AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale FROM cs),
       |cd AS (SELECT vec_id, CASE WHEN scale = 0 THEN list_transform(e, x -> CAST(0 AS DOUBLE))
       |    ELSE list_transform(e, x -> CAST(CAST(floor(x * 127.0 / scale + 0.5) AS INT) AS DOUBLE)) END AS codes
       |  FROM sc),
       |s AS (SELECT query_id, vec_id AS neighbor_id,
       |    round(list_inner_product(codes, qe) /
       |      (sqrt(list_inner_product(codes, codes)) * sqrt(list_inner_product(qe, qe))), 6) AS score
       |  FROM q JOIN cd ON vec_id <> query_id
       |  WHERE list_inner_product(codes, codes) > 0),
       |r AS (SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= $k""".stripMargin

  /** Deterministic pseudo-random hyperplanes: plane p, dim d weight in
    * [-1, 1] from an integer mix — equivalent to a fixed seeded
    * projection matrix. The mix is pure sub-2^63 integer arithmetic
    * (p*131071 + d < 2^21; * 2654435761 < 2^53), so the SAME formula is
    * restated verbatim in the DuckDB oracles (lshBucketSql) — that is
    * what makes the approximate LSH results oracle-checkable.
    */
  private[operators] val PlaneMixA = 131071L
  private[operators] val PlaneMixB = 2654435761L
  private[operators] val PlaneMod = 1000001L

  /** Native LSH bucket (primitive loop in codegen, same fold order). */
  def lshBucketCol(emb: Column, planes: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.LshBucket(ColumnBridge.expression(emb), planes))
  }

  /** DuckDB twin of lshBucketCol over a DOUBLE[] expression `e`.
    * DuckDB lambda indexes are 1-based, hence the (i-1).
    */
  def lshBucketSql(e: String, planes: Int): String =
    (0 until planes).map { p =>
      val w = s"((CAST(${p.toLong * PlaneMixA} AS BIGINT) + (i - 1)) * $PlaneMixB) % $PlaneMod"
      val proj = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform($e, (x, i) -> x * ((CAST($w AS DOUBLE) - 500000.0) / 500000.0))), " +
        "(a, b) -> a + b)"
      s"(CASE WHEN $proj > 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Embedding-cosine near-duplicate pairs (exact, windowed): candidate
    * pairs restricted to an id window, implemented as the same BLOCK
    * EQUI-JOIN as Dedup.jaccardPairs (a naive range predicate plans as
    * a nested-loop cross product). This is the oracle-checkable
    * baseline; `embedCosineLshPairs` is the scale path.
    */
  def embedCosinePairs(embeddings: DataFrame, idWindow: Int, threshold: Double): DataFrame = {
    val t = embeddings.select(col("vec_id"), col("embedding"),
        normCol(col("embedding")).as("nrm"))
      .withColumn("blk", floor(col("vec_id") / idWindow))
    val probe = t.withColumn("probe_blk", explode(array(col("blk"), col("blk") + 1)))
    val a = probe.as("a"); val b = t.as("b")
    a.join(b,
        col("a.probe_blk") === col("b.blk") &&
          col("a.vec_id") < col("b.vec_id") &&
          col("b.vec_id") <= col("a.vec_id") + idWindow)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(dotCol(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")), 6)
          .as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** DuckDB oracle of embedCosinePairs, generated from the same
    * constants as the operator (round-3 review: the SQL was duplicated
    * verbatim in two oracles — the only remaining place an operator
    * and its oracle could drift apart). `idsOnly = true` yields the
    * edge-list subquery form the components oracle embeds.
    */
  def embedCosinePairsOracleSql(idWindow: Int, threshold: Double,
                                idsOnly: Boolean = false): String = {
    val full =
      "WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "round(list_inner_product(a.e, b.e) / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 6) AS cosine " +
        s"FROM t a JOIN t b ON a.vec_id < b.vec_id AND b.vec_id <= a.vec_id + $idWindow) " +
        s"SELECT id_a, id_b${if (idsOnly) "" else ", cosine"} FROM p WHERE cosine >= $threshold"
    if (idsOnly) s"SELECT id_a, id_b FROM ($full) q" else full
  }

  /** Embedding-cosine near-dup at scale: candidates share an LSH
    * bucket (one shuffle keyed on the bucket), verified with the exact
    * cosine. Same hot-bucket cap rationale as Dedup.MaxBucketSize.
    */
  def embedCosineLshPairs(embeddings: DataFrame, planes: Int, threshold: Double,
                          maxBucketSize: Int = Dedup.MaxBucketSize): DataFrame = {
    val t = embeddings.select(col("vec_id"), col("embedding"),
      normCol(col("embedding")).as("nrm"),
      lshBucketCol(col("embedding"), planes).as("bucket"))
    // hot-bucket cap as a groupBy-count + anti-join; join strategy
    // left to AQE (broadcast when hot keys are few — the normal case —
    // graceful shuffle when an adversarial corpus makes most buckets
    // hot); same rationale as Dedup.dropHotBuckets
    val hot = t.groupBy(col("bucket")).agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucketSize).select(col("bucket"))
    val cold = t.join(hot, Seq("bucket"), "left_anti")
    val a = cold.as("a"); val b = cold.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(dotCol(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")), 6)
          .as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** DuckDB oracle of embedCosineLshPairs: same bucket formula, same
    * hot-bucket cap, same round-6 cosine verify.
    */
  def embedCosineLshOracleSql(planes: Int, threshold: Double,
                              maxBucketSize: Int = Dedup.MaxBucketSize): String =
    s"""WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |b AS (SELECT vec_id, e, ${lshBucketSql("e", planes)} AS bucket FROM t),
       |cold AS (SELECT * FROM b QUALIFY count(*) OVER (PARTITION BY bucket) <= $maxBucketSize),
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(list_inner_product(a.e, b.e) / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 6) AS cosine
       |  FROM cold a JOIN cold b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cosine FROM p WHERE cosine >= $threshold""".stripMargin

  // ---- IVF (inverted-file) ANN: the second scale path ------------------

  private def centroidMatrix(centroids: Array[(Int, Array[Double])]): Seq[Seq[Double]] =
    centroids.sortBy(_._1).map(_._2.toSeq).toSeq

  /** Native probe-cell assignment (primitive codegen loop over a
    * reference-object centroid matrix; same distance fold and
    * (distance, cell) tie-break as the HOF twin). The corpus
    * assignment pass — the part that scales with corpus size — runs
    * through this.
    */
  def ivfProbeCellsCol(emb: Column, centroids: Array[(Int, Array[Double])], nProbe: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.IvfProbeCells(
      ColumnBridge.expression(emb), centroidMatrix(centroids), nProbe))
  }

  /** Nearest-centroid cell id (native). */
  def ivfCellCol(emb: Column, centroids: Array[(Int, Array[Double])]): Column =
    element_at(ivfProbeCellsCol(emb, centroids, 1), 1)

  /** Max sample collected to the driver for centroid training. */
  val KMeansSampleCap = 16384

  /** Deterministic IVF centroids: Lloyd iterations on a driver-side
    * sample (the k lowest vec_ids seed; the `KMeansSampleCap` lowest
    * vec_ids train). Sample-based training is the production design —
    * at 10^12 vectors nobody Lloyd-iterates the full corpus, and a
    * distributed iteration over a tiny sample is all scheduler
    * overhead (measured ~1s/iteration of pure job latency). The
    * ASSIGNMENT pass — the part that actually scales with corpus
    * size — stays a narrow distributed projection against the
    * broadcast centroid literals.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int): Array[(Int, Array[Double])] = {
    val sample: Array[Array[Double]] = corpus.orderBy(col("vec_id")).limit(KMeansSampleCap)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty corpus")
    var cents: Array[Array[Double]] = sample.take(k).map(_.clone())
    val dim = cents(0).length
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var j = 0
          val cv = cents(c)
          while (j < dim) { val t = v(j) - cv(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else { val m = sums(c); var j = 0; while (j < dim) { m(j) /= counts(c); j += 1 }; m }
      }
    }
    cents.zipWithIndex.map { case (v, i) => (i, v) }
  }

  /** ANN via IVF: corpus vectors live in exactly one cell (narrow
    * assignment against broadcast centroid literals — no shuffle);
    * each query probes its `nProbe` nearest cells; candidates re-score
    * exactly; per-query top-k. Recall vs brute force validated in
    * tests. Unlike LSH this gives a recall knob (nProbe) independent
    * of the corpus partitioning.
    */
  def annIvfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nCells: Int, nProbe: Int, kmeansIters: Int = 2): DataFrame = {
    val cents = kmeansCentroids(corpus, nCells, kmeansIters)
    val c = corpus.select(col("vec_id"), col("embedding"),
      normCol(col("embedding")).as("c_nrm"),
      ivfCellCol(col("embedding"), cents).as("cell"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        normCol(col("embedding")).as("q_nrm"),
        explode(ivfProbeCellsCol(col("embedding"), cents, nProbe)).as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dotCol(col("q_emb"), col("embedding")) / (col("q_nrm") * col("c_nrm")), 6).as("score"))
    // a probed cell can still be corpus-sized (hot cluster): the same
    // bounded top-k as the brute faces keeps the shuffle candidate-
    // capped here too
    topKPerQuery(scored, k)
  }

  /** All bucket-signature masks with popcount <= probeBits (the
    * standard multi-probe sequence: the exact bucket, then 1-bit
    * flips, then 2-bit flips, ...). Size is sum of C(planes, i) —
    * driver-side tiny for practical planes/probeBits.
    */
  private def probeMasks(planes: Int, probeBits: Int): Seq[Long] = {
    val masks = Seq.newBuilder[Long]
    def rec(start: Int, left: Int, acc: Long): Unit = {
      masks += acc
      if (left > 0) {
        var p = start
        while (p < planes) { rec(p + 1, left - 1, acc | (1L << p)); p += 1 }
      }
    }
    rec(0, probeBits, 0L)
    masks.result()
  }

  /** ANN via LSH buckets with MULTI-PROBE: candidates are corpus
    * vectors whose bucket is within hamming distance `probeBits` of
    * the query's bucket (probeBits = 0 reproduces the exact-bucket
    * baseline; probeBits = planes degenerates to brute force). The
    * probe fan-out happens on the tiny broadcast QUERY side — the
    * corpus pass stays a narrow shuffle-free projection. Re-scored
    * exactly, per-query top-k. Sparse-bucket queries (the single-probe
    * weakness: a bucket holding < k corpus vectors silently truncates
    * the result) recover their neighbors from the flipped buckets.
    */
  def annLshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int,
                 probeBits: Int = 1): DataFrame = {
    val bucketed = corpus.select(col("vec_id"), col("embedding"),
      normCol(col("embedding")).as("c_nrm"),
      lshBucketCol(col("embedding"), planes).as("bucket"))
    val masks = probeMasks(planes, probeBits)
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        normCol(col("embedding")).as("q_nrm"),
        lshBucketCol(col("embedding"), planes).as("q_bucket"))
      .withColumn("bucket",
        explode(array(masks.map(m => col("q_bucket").bitwiseXOR(lit(m))): _*)))
    val scored = bucketed
      .join(broadcast(q), Seq("bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dotCol(col("q_emb"), col("embedding")) / (col("q_nrm") * col("c_nrm")), 6).as("score"))
    // a hot LSH bucket can be corpus-sized: bounded top-k, not a window
    topKPerQuery(scored, k)
  }

  /** DuckDB oracle of annLshTopK: the probe-set membership test is
    * restated as bit_count(xor(corpus_bucket, query_bucket)) <=
    * probeBits — the oracle checks the APPROXIMATE result itself, not
    * a brute-force stand-in.
    */
  def annLshTopKOracleSql(k: Int, planes: Int, probeBits: Int, queryPred: String): String =
    s"""WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |b AS (SELECT vec_id, e, ${lshBucketSql("e", planes)} AS bucket FROM t),
       |q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qb FROM b WHERE $queryPred),
       |s AS (SELECT query_id, vec_id AS neighbor_id,
       |    round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 6) AS score
       |  FROM q JOIN b ON vec_id <> query_id AND bit_count(xor(bucket, qb)) <= $probeBits),
       |r AS (SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= $k""".stripMargin
}
