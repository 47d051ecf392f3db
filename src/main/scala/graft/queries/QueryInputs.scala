package graft.queries

import graft.pipeline.ExtractionJob
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

/** The driver tables the query families read, and the per-image task
  * skeleton they share.
  */
private[graft] object QueryInputs {

  def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
  def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Salted repartition shared by every per-image driver query: the
    * SAME hash family as the flagship job, with the partition count
    * taken from the SESSION (spark.sql.shuffle.partitions) rather than
    * a literal — so task count scales with the cluster instead of
    * funneling 100x inputs into 32 tasks. The input only needs a
    * `doc_id` column (Doc rows or bare ids both work).
    */
  def salted[I](ds: Dataset[I]): Dataset[I] = {
    val parts = ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    ExtractionJob.byKey(ds, ExtractionJob.Config(numPartitions = parts))
  }

  /** Shared skeleton of the per-image OCR driver queries: salted
    * repartition, one engine per task, flatMap body.
    */
  def ocrMapPartitions[I, O: Encoder](ds: Dataset[I])(
      f: (I, graft.ocr.OcrEngine) => IterableOnce[O]): Dataset[O] =
    salted(ds).mapPartitions { it =>
      val engine = new graft.ocr.OcrEngine(graft.ocr.GlyphClassifier.default)
      it.flatMap(i => f(i, engine))
    }

  /** fetch + magic-sniff decode of one media_ref. */
  def fetchImage(ref: String): graft.image.GrayImage =
    graft.image.ImageCodec.decode(graft.image.SynthMediaStore.fetch(ref))
}
