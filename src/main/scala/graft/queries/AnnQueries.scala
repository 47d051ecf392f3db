package graft.queries

import graft.operators.Similarity
import graft.queries.QueryInputs._
import org.apache.spark.sql.functions._

/** Approximate nearest neighbours over the embeddings table (`ann_*`):
  * the first 8 vectors query the corpus for their top 3.
  */
object AnnQueries {

  val specs: Seq[QuerySpec] = Seq(
    // ANN: IVF cell-probe top-k at EXHAUSTIVE probing (nProbe = nCells)
    // — exercises the full IVF machinery (driver k-means, cell
    // assignment, probe fan-out) under a setting provably equal to
    // brute force, so the brute-force SQL is its oracle; approximate
    // nProbe < nCells recall is pinned in OperatorsSpec
    QuerySpec("ann_ivf_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.annIvfTopK(emb, emb.where(col("vec_id") < 8), k = 3, nCells = 16, nProbe = 16)
        .select(col("query_id"), col("neighbor_id"), col("score"), col("rank").cast("long").as("rank"))
    },
      // exhaustive probing (nProbe = nCells) is provably brute force
      oracle = ("WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 8), " +
          "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
          "s AS (SELECT query_id, vec_id AS neighbor_id, " +
          "round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 6) AS score " +
          "FROM q JOIN c ON vec_id <> query_id), " +
          "r AS (SELECT query_id, neighbor_id, score, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank FROM s) " +
          "SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 3")),

    // ANN: brute-force cosine top-k (exactness baseline)
    QuerySpec("ann_cosine_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.cosineTopK(emb, emb.where(col("vec_id") < 8), k = 3)
        .select(col("query_id"), col("neighbor_id"), col("score"), col("rank").cast("long").as("rank"))
    },
      oracle = ("WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 8), " +
          "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
          "s AS (SELECT query_id, vec_id AS neighbor_id, " +
          "round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 6) AS score " +
          "FROM q JOIN c ON vec_id <> query_id), " +
          "r AS (SELECT query_id, neighbor_id, score, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank FROM s) " +
          "SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 3")),

    // ANN over an INT8-compressed corpus (FAISS SQ8-style, 4x memory
    // cut — at 10^12 vectors the footprint, not the math, is the
    // constraint): asymmetric scoring against full-precision queries,
    // quantization + score restated verbatim in the oracle (recall vs
    // exact top-k pinned in OperatorsSpec)
    QuerySpec("ann_sq8_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.sq8TopK(emb, emb.where(col("vec_id") < 8), k = 3)
        .select(col("query_id"), col("neighbor_id"), col("score"), col("rank").cast("long").as("rank"))
    },
      oracle = Similarity.sq8TopKOracleSql(k = 3, queryPred = "vec_id < 8")),

    // ANN: LSH-bucketed top-k with 1-bit multi-probe (scale path) —
    // the probe-set rule is cross-engine, so the approximate result is
    // oracle-checked directly; recall bounds validated in tests
    QuerySpec("ann_lsh_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.annLshTopK(emb, emb.where(col("vec_id") < 8), k = 3, planes = 8, probeBits = 1)
        .select(col("query_id"), col("neighbor_id"), col("score"), col("rank").cast("long").as("rank"))
    },
      oracle = Similarity.annLshTopKOracleSql(k = 3, planes = 8, probeBits = 1,
        queryPred = "vec_id < 8"))
  )
}
