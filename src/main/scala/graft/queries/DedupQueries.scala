package graft.queries

import graft.operators.{Dedup, Similarity}
import graft.queries.QueryInputs._
import org.apache.spark.sql.functions._

/** Near-duplicate detection (`dd_*`): exact groups, windowed and
  * sketched pair mining, and cluster resolution. Most oracles are
  * generated from the same constants as the operators
  * (`Dedup`/`Similarity` `*OracleSql`).
  */
object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Dedup: exact duplicate groups (hash groupBy)
    QuerySpec("dd_exact_groups", (s, dir) =>
      Dedup.exactGroups(docs(s, dir)).select(col("text_md5"), col("n_docs"), col("keep_id")),
      oracle = "SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keep_id FROM documents GROUP BY 1"),

    // Dedup: windowed word-set Jaccard near-dup pairs
    QuerySpec("dd_jaccard_pairs", (s, dir) =>
      Dedup.jaccardPairs(docs(s, dir), idWindow = 25, threshold = 0.8),
      oracle = Dedup.jaccardPairsOracleSql(idWindow = 25, threshold = 0.8)),

    // Dedup: windowed word-3-gram SHINGLE Jaccard near-dup pairs —
    // order-sensitive similarity (same vocabulary, different phrasing
    // shares unigrams but few shingles); same block equi-join shape
    QuerySpec("dd_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), n = 3, idWindow = 25, threshold = 0.5),
      oracle = Dedup.ngramJaccardOracleSql(n = 3, idWindow = 25, threshold = 0.5)),

    // Dedup: windowed shingle CONTAINMENT pairs — the ASYMMETRIC
    // signal (|A∩B| / min): a short doc verbatim-quoted inside a long
    // one scores ~1.0 where Jaccard sails under the threshold;
    // excerpt/quotation reuse is its own duplication class. No size
    // prefilter by design
    QuerySpec("dd_containment", (s, dir) =>
      Dedup.containmentPairs(docs(s, dir), n = 3, idWindow = 25, threshold = 0.6),
      oracle = Dedup.containmentOracleSql(n = 3, idWindow = 25, threshold = 0.6)),

    // Dedup: near-dup CLUSTER resolution — connected components over
    // the windowed-Jaccard candidate pairs, every member labeled with
    // its component's smallest doc id (keep = label == doc_id). The
    // oracle recomputes reachability with a recursive CTE.
    QuerySpec("dd_components", (s, dir) =>
      Dedup.nearDupComponents(
          Dedup.jaccardPairs(docs(s, dir), idWindow = 25, threshold = 0.8))
        .select(col("id"), col("label")),
      // edge list = the dd_jaccard_pairs oracle, ids only (nested as
      // a subquery: the recursive CTE can't absorb its WITH chain)
      oracle = Dedup.componentsOracleSql("SELECT * FROM (" +
          Dedup.jaccardPairsOracleSql(idWindow = 25, threshold = 0.8, idsOnly = true) + ") q")),

    // Dedup: cluster resolution COMPOSES over any pair source — here
    // the embedding-cosine near-dup pairs (same star contraction, same
    // recursive-CTE oracle over the embed-pair SQL)
    QuerySpec("dd_embed_components", (s, dir) =>
      Dedup.nearDupComponents(
          Similarity.embedCosinePairs(embeddings(s, dir), idWindow = 50, threshold = 0.3))
        .select(col("id"), col("label")),
      oracle = Dedup.componentsOracleSql(
        Similarity.embedCosinePairsOracleSql(idWindow = 50, threshold = 0.3, idsOnly = true))),

    // Dedup: MinHash-LSH candidate pairs over the cross-engine poly
    // hash family — the FULL shingle->minhash->band->bucket->verify
    // pipeline is oracle-checked in DuckDB
    QuerySpec("dd_minhash_lsh", (s, dir) =>
      Dedup.minhashLshPairsPoly(docs(s, dir), bands = 8, rowsPerBand = 4, threshold = 0.8),
      // poly-hash sketch pipelines: oracles generated from the same
      // constants as the operators (Dedup/Similarity *.OracleSql)
      oracle = Dedup.minhashLshOracleSql(bands = 8, rowsPerBand = 4, threshold = 0.8)),

    // Dedup: SimHash near-dup pairs (poly 30-bit signature, 10-bit
    // third blocking; oracle-checked end to end like dd_minhash_lsh)
    QuerySpec("dd_simhash", (s, dir) =>
      Dedup.simhashPairsPoly(docs(s, dir), maxHamming = 4)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming")),
      oracle = Dedup.simhashOracleSql(maxHamming = 4)),

    // Dedup: embedding-cosine near-dup pairs (exact windowed block join)
    QuerySpec("dd_embed_cosine", (s, dir) =>
      Similarity.embedCosinePairs(embeddings(s, dir), idWindow = 50, threshold = 0.3),
      oracle = Similarity.embedCosinePairsOracleSql(idWindow = 50, threshold = 0.3)),

    // Dedup: embedding-cosine near-dup at scale (LSH bucket blocking) —
    // the bucket formula is cross-engine, so the APPROXIMATE result is
    // oracle-checked (recall additionally validated in OperatorsSpec)
    QuerySpec("dd_embed_cosine_lsh", (s, dir) =>
      Similarity.embedCosineLshPairs(embeddings(s, dir), planes = 6, threshold = 0.3),
      oracle = Similarity.embedCosineLshOracleSql(planes = 6, threshold = 0.3)),

    // Corpus-wide exact span duplication: doc pairs sharing identical
    // 8-word spans via an inverted index on span hashes (Lee et al.
    // exact-substring dedup at span granularity) — corpus-wide, not
    // id-windowed; global boilerplate spans capped out by the hot-key
    // anti-join
    QuerySpec("dd_span_overlap", (s, dir) =>
      Dedup.spanOverlapPairs(docs(s, dir), n = 8),
      oracle = Dedup.spanOverlapOracleSql(n = 8))
  )
}
