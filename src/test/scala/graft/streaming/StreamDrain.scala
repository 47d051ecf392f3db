package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** The one harness the specs run every stream face through: feed a
  * parquet dir as a file stream, process everything available, stop,
  * read the sink. Each file is one micro-batch, so arrival order is
  * file modification order; with static input the drained result is
  * deterministic.
  */
object StreamDrain {

  /** The events file source under the declared events schema. */
  def events(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(EventsStream.eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** The same files read as one batch: the twin side of each stream
    * check.
    */
  def batchEvents(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(EventsStream.eventsSchema).parquet(dir)

  /** The same source typed as the custom-state operators' input. */
  def typedEvents(spark: SparkSession, dir: String): Dataset[Sessionize.Event] = {
    import spark.implicits._
    events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Sessionize.Event]
  }

  /** Process all available input, then stop. Returns `q`, whose
    * `recentProgress` still holds one entry per micro-batch.
    */
  def drain(q: StreamingQuery): StreamingQuery = {
    try q.processAllAvailable()
    finally q.stop()
    q
  }

  /** Drain `ds` into the in-memory table `name`. */
  def toMemory(ds: Dataset[_], outputMode: String, name: String): (DataFrame, StreamingQuery) = {
    val q = drain(ds.writeStream.outputMode(outputMode).format("memory").queryName(name).start())
    (ds.sparkSession.table(name), q)
  }
}
