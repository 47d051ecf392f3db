package graft.streaming

import graft.model.Doc
import graft.pipeline.ExtractionJob
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ingestion twin of the FLAGSHIP extraction job: new
  * document files landing in the lake are extracted micro-batch by
  * micro-batch through the exact same `ExtractionJob.extract`
  * transformation (salted repartition, broadcast weights, nested
  * spans), with resumability supplied by the Structured Streaming
  * checkpoint — the streaming analogue of the batch path's
  * checkpoint-table anti-join (SURVEY.md §2.8 meets §3.4).
  *
  * `foreachBatch` + checkpointLocation gives at-least-once batch
  * delivery with exactly-once SOURCE progress: a killed run restarts
  * from the last committed micro-batch, reprocessing at most one
  * (the same granularity contract as the batch resume path; an
  * idempotent sink — e.g. overwrite-by-batch-id partition, or the
  * production Iceberg MERGE — upgrades it to exactly-once end to end).
  */
object DocsStream {

  val docSchema = Encoders.product[Doc].schema

  /** Start the streaming extraction: parquet Doc files in `inDir` ->
    * extracted parquet in `outDir`, progress in `checkpointDir`.
    */
  def extractStream(spark: SparkSession, inDir: String, outDir: String,
                    checkpointDir: String,
                    cfg: ExtractionJob.Config = ExtractionJob.Config()): StreamingQuery = {
    import spark.implicits._
    val in = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
      .as[Doc]
    in.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Doc], batchId: Long) =>
        // idempotent-per-batch sink: one output partition dir per
        // micro-batch id, overwritten on replay after a crash
        ExtractionJob.extract(batch.sparkSession, batch, cfg).toDF
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .start()
  }
}
