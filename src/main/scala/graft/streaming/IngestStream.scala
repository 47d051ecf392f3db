package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the incremental ingestion gate: new-document
  * files land in the lake and each micro-batch is admitted against the
  * existing corpus PLUS everything admitted in earlier micro-batches —
  * the corpus ACCRETES, so a doc admitted at batch k rejects its
  * near-duplicates arriving at batch k+1. This self-referential
  * sequencing is what distinguishes the streaming gate from re-running
  * the batch gate per file: the reference set is a moving target that
  * only the stream's processing order defines.
  *
  * Scale shape: each micro-batch re-sketches its reference set and runs
  * the one admission gate, `Dedup.indexedIngestFilter` (digest
  * anti-join + cross-set banded MinHash, candidate volume linear in
  * the batch), through `Dedup.incrementalIngestFilter`; the reference
  * set is read back from the admitted sink — no unbounded
  * driver/executor state; the "state" IS the idempotent
  * batch-id-partitioned parquet sink, which replays safely after a
  * crash (a replayed batch overwrites its own partition and reads
  * only partitions with SMALLER batch ids as corpus, so re-admission
  * is deterministic).
  */
object IngestStream {

  /** One admission decision: which `batch` docs survive against
    * `corpus`. Shared by the stream and the batch twin.
    */
  def gate(corpus: DataFrame, batch: DataFrame,
           bands: Int, rowsPerBand: Int, threshold: Double,
           shingleN: Int = 1): DataFrame = {
    val combined = corpus.select(col("doc_id"), col("text"), lit(true).as("is_c"))
      .unionByName(batch.select(col("doc_id"), col("text"), lit(false).as("is_c")))
    Dedup.incrementalIngestFilter(combined, col("is_c"),
      bands, rowsPerBand, threshold, shingleN = shingleN)
  }

  /** Start the streaming gate: parquet doc files in `inDir` are
    * admitted micro-batch by micro-batch against `corpusDir` ∪ the
    * previously admitted output, writing admitted (doc_id, text,
    * batch_id) under `outDir/batch_id=k`.
    */
  def ingestStream(spark: SparkSession, corpusDir: String, inDir: String,
                   outDir: String, checkpointDir: String,
                   bands: Int = 8, rowsPerBand: Int = 4, threshold: Double = 0.8,
                   shingleN: Int = 1): StreamingQuery = {
    val schema = spark.read.parquet(corpusDir).select("doc_id", "text").schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
    in.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val corpus = s.read.parquet(corpusDir).select("doc_id", "text")
        // on replay the current batch's own partition may already
        // exist — admit only against strictly earlier batches
        val admitted =
          try s.read.option("basePath", outDir).parquet(outDir)
            .where(col("batch_id") < batchId).select("doc_id", "text")
          catch { case _: org.apache.spark.sql.AnalysisException => // first batch: no sink yet
            s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], corpus.schema)
          }
        val kept = gate(corpus.unionByName(admitted), batch.select("doc_id", "text"),
          bands, rowsPerBand, threshold, shingleN)
        batch.select("doc_id", "text").join(kept, Seq("doc_id"), "left_semi")
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .start()
  }

  /** Batch twin of the accreting stream: `newDocs` partitioned into
    * `nBatches` by `batchOf` (a deterministic 0-based long expression)
    * and gated SEQUENTIALLY in batch order, each round's admissions
    * joining the reference set of the next. Returns (doc_id,
    * batch_id).
    *
    * Each round's admissions are MATERIALIZED (eager checkpoint) —
    * the twin's analogue of the stream writing each batch's output to
    * parquet. Without it, gate k's DataFrame feeds BOTH the result
    * union and round k+1's reference set, so round k+1 re-evaluates
    * gate k (and transitively every earlier gate) — measured 23s for
    * 3 rounds at sf0.1 where three independent gates cost ~6s. The
    * checkpoints are small (admitted ids+text) and freed by the
    * Bench/Verify per-query reclamation; the twin exists for tests
    * and the oracle — the production path is the stream.
    */
  def ingestBatchTwin(corpus: DataFrame, newDocs: DataFrame, batchOf: Column,
                      nBatches: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double, shingleN: Int = 1): DataFrame = {
    val tagged = newDocs.select(col("doc_id"), col("text"), batchOf.as("bno"))
    var ref = corpus.select(col("doc_id"), col("text"))
    var out: DataFrame = null
    for (bi <- 0 until nBatches) {
      val b = tagged.where(col("bno") === bi).select(col("doc_id"), col("text"))
      val kept = gate(ref, b, bands, rowsPerBand, threshold, shingleN)
      val admitted = b.join(kept, Seq("doc_id"), "left_semi").localCheckpoint(true)
      val labeled = admitted.select(col("doc_id"), lit(bi.toLong).as("batch_id"))
      out = if (out == null) labeled else out.unionByName(labeled)
      ref = ref.unionByName(admitted)
    }
    out
  }
}
