package graft.pipeline

import graft.image.{MediaStore, SynthMediaStore}
import graft.model._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The flagship extraction job (SURVEY.md §3.4) — the Spark-native
  * lifecycle replacing the reference's sequential per-file loop
  * (process_all_pdfs, scripts/all-pdf-to-json-smart.py:222-302):
  *
  *   read -> salted repartition on xxhash64(doc_id, salt) -> checkpoint
  *   anti-join (resume) -> mapPartitions(OcrStage) -> sink + lineage
  *
  * Scale notes (designed for 10^12 docs / 1000 executors, tested on
  * local[N]):
  *   - spans stay NESTED: reassembly is within-row, zero shuffles
  *     beyond the single explicit repartition;
  *   - the repartition key is salted (xxhash64(doc_id, salt)) so
  *     adversarial doc_id distributions and image-heavy documents
  *     spread across partitions; AQE handles residual skew;
  *   - the logical partition id is the Spark partition the row lands
  *     in: pmod(hash(key), numPartitions), the id HashPartitioning
  *     computes for `repartition(numPartitions, key)`;
  *   - model weights are compiled in: one classifier per executor JVM,
  *     nothing broadcast;
  *   - media bytes are fetched inside the task (never shuffled);
  *   - resume is a broadcast anti-join against the tiny completed-
  *     partition set, so a killed run redoes only unfinished
  *     partitions (exactly-once via temp-file + atomic rename commit,
  *     data before mark). The production seam is an Iceberg table
  *     commit per partition; the sink protocol is identical.
  */
object ExtractionJob {

  final case class Config(
      numPartitions: Int = 32,
      salt: Long = 42L,
      runId: String = "run-0",
      mediaStore: MediaStore = SynthMediaStore
  )

  /** Salted partitioning key: xxhash64(doc_id, salt). */
  def keyCol(cfg: Config): org.apache.spark.sql.Column = xxhash64(col("doc_id"), lit(cfg.salt))

  /** Logical partition id: pmod(hash(keyCol), numPartitions), which is
    * how HashPartitioning places a row when repartitioning on keyCol,
    * so it equals spark_partition_id() after `byKey`. ONE definition
    * shared by extract and the resumable path (the resume anti-join is
    * only sound if both sides agree on it). Repartitioning on the pid
    * itself would hash it a second time and leave partitions empty.
    */
  def pidCol(cfg: Config): org.apache.spark.sql.Column =
    pmod(hash(keyCol(cfg)), lit(cfg.numPartitions))

  /** Tag of the pid function, kept in the resume fingerprint so a
    * checkpoint written under another pid function is refused.
    */
  val PidFunction = "pmod(hash(xxhash64(doc_id,salt)),n)"

  /** The one salted repartition: row -> Spark partition pidCol(cfg). */
  def byKey[T](ds: Dataset[T], cfg: Config): Dataset[T] = ds.repartition(cfg.numPartitions, keyCol(cfg))

  /** Pure transformation: extraction as a Dataset op (used by queries
    * and the bench; no checkpointing).
    */
  def extract(spark: SparkSession, docs: Dataset[Doc], cfg: Config = Config()): Dataset[ExtractedDoc] =
    byKey(docs, cfg).mapPartitions(new OcrStage(cfg.mediaStore))(extractedDocEncoder)

  /** Derived once: reflecting over the case class costs milliseconds a call. */
  private lazy val extractedDocEncoder: Encoder[ExtractedDoc] = Encoders.product[ExtractedDoc]

  /** S9 (SURVEY.md §2.1): job-level metrics via Dataset.observe — the
    * Spark-native replacement for the reference's per-file progress
    * prints (smart.py:287-302). The observation is collected by the
    * driver after any action on the returned Dataset, with zero extra
    * passes; durable per-partition lineage still goes through the
    * checkpoint table (runResumable).
    */
  def extractObserved(spark: SparkSession, docs: Dataset[Doc], cfg: Config = Config())
      : (Dataset[ExtractedDoc], org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(s"graft-extract-${cfg.runId}")
    val observed = extract(spark, docs, cfg).observe(obs,
      count(lit(1)).as("docs"),
      sum(col("metrics.ocr_spans")).cast("long").as("ocr_spans"),
      sum(col("metrics.direct_spans")).cast("long").as("direct_spans"),
      sum(col("metrics.failed_spans")).cast("long").as("failed_spans"),
      sum(col("metrics.glyphs_classified")).cast("long").as("glyphs_classified"))
    (observed, obs)
  }

  final case class RunSummary(
      runId: String,
      processedPartitions: Int,
      skippedPartitions: Int,
      docs: Long,
      ocrSpans: Long,
      directSpans: Long,
      failedSpans: Long
  )

  /** Resumable run: partition-granular checkpointing with durable
    * per-partition data commits. Logical partition id =
    * pmod(hash(xxhash64(doc_id, salt)), numPartitions) — a pure
    * function of the row, so it is stable across runs, and it is the
    * task the repartition sends the row to (one pid per task).
    */
  def runResumable(spark: SparkSession, docs: Dataset[Doc], outDir: String,
                   cfg: Config = Config()): RunSummary = {
    import spark.implicits._
    val store = new CheckpointStore(s"$outDir/checkpoint")
    // refuse to resume under a different partitioning: completed pids
    // only mean "these docs are durable" under the SAME pid function
    store.verifyOrWriteConfig(cfg.runId, cfg.numPartitions, cfg.salt, PidFunction)
    val completed = store.completedPids(cfg.runId)
    // data nested per run_id, mirroring the checkpoint layout: two runs
    // sharing an outDir keep separate data AND separate marks (a flat
    // data/ dir would let run B clobber run A's files via
    // REPLACE_EXISTING while A's marks stayed valid)
    Files.createDirectories(Paths.get(dataDir(outDir, cfg.runId)))

    val withPid = docs.withColumn("pid", pidCol(cfg))
    val completedDf = completed.toSeq.toDF("pid")
    val pending = byKey(withPid.join(broadcast(completedDf), Seq("pid"), "left_anti"), cfg)
      .select(col("pid"), col("doc_id"), col("spans"))
      .as[(Int, String, Seq[Span])]

    val runId = cfg.runId
    val mediaStore = cfg.mediaStore
    val runDataDir = dataDir(outDir, cfg.runId)
    val chkDir = s"$outDir/checkpoint"

    pending.foreachPartition { (it: Iterator[(Int, String, Seq[Span])]) =>
      // byKey sends a row with pid p to Spark partition p, so this task
      // writes exactly one pid; a row from another pid would be committed
      // under this task's mark
      val pid = TaskContext.getPartitionId()
      val stage = new OcrStage(mediaStore)
      val engine = stage.newEngine()
      lazy val tmp = Paths.get(runDataDir, s".pid=$pid.jsonl.tmp-${java.util.UUID.randomUUID()}")
      lazy val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(tmp), StandardCharsets.UTF_8))
      val m = new Array[Long](6) // docs,lines,glyphs,ocr,direct,failed
      it.foreach { case (rowPid, docId, spans) =>
        if (rowPid != pid)
          throw new IllegalStateException(s"row of pid $rowPid reached the task of partition $pid")
        val out = stage.extractDoc(Doc(docId, spans), engine)
        w.write(JsonIo.toJson(out)); w.write("\n")
        m(0) += 1; m(1) += out.metrics.lines_segmented; m(2) += out.metrics.glyphs_classified
        m(3) += out.metrics.ocr_spans; m(4) += out.metrics.direct_spans; m(5) += out.metrics.failed_spans
      }
      // input exhausted: commit data (rename), then the mark — in that
      // order, so a mark implies durable data
      if (m(0) > 0) {
        w.close()
        Files.move(tmp, Paths.get(runDataDir, s"pid=$pid.jsonl"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        new CheckpointStore(chkDir).markCompleted(CheckpointRow(runId, pid, m(0), m(1), m(2), m(3), m(4), m(5),
          System.currentTimeMillis()))
      }
    }

    val rows = store.rows(cfg.runId)
    RunSummary(cfg.runId,
      processedPartitions = rows.size - completed.size,
      skippedPartitions = completed.size,
      docs = rows.map(_.doc_count).sum,
      ocrSpans = rows.map(_.ocr_spans).sum,
      directSpans = rows.map(_.direct_spans).sum,
      failedSpans = rows.map(_.failed_spans).sum)
  }

  /** Data directory of one run inside an outDir (mirrors the
    * checkpoint's run_id=<run>/ layout).
    */
  def dataDir(outDir: String, runId: String): String = s"$outDir/data/run_id=$runId"

  /** Read one run's committed output. `runId = "*"` reads every run in
    * the outDir (only meaningful when runs processed disjoint inputs).
    */
  def readOutput(spark: SparkSession, outDir: String,
                 runId: String = "run-0"): Dataset[ExtractedDoc] =
    spark.read.schema(extractedDocEncoder.schema).json(s"${dataDir(outDir, runId)}/*.jsonl")
      .as(extractedDocEncoder)
}

/** Minimal JSON writer for the resumable sink rows. */
object JsonIo {
  def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  def toJson(d: ExtractedDoc): String = {
    val spans = d.spans.map { sp =>
      s"""{"kind":"${esc(sp.kind)}","text":"${esc(sp.text)}","media_ref":"${esc(sp.media_ref)}","offset":${sp.offset}}"""
    }.mkString("[", ",", "]")
    val m = d.metrics
    val hist = m.conf_histogram.mkString("[", ",", "]")
    val err = d.error.map(e => s""""${esc(e)}"""").getOrElse("null")
    s"""{"doc_id":"${esc(d.doc_id)}","spans":$spans,"metrics":{"lines_segmented":${m.lines_segmented},""" +
      s""""glyphs_classified":${m.glyphs_classified},"conf_histogram":$hist,""" +
      s""""mean_confidence":${m.mean_confidence},"ocr_spans":${m.ocr_spans},""" +
      s""""direct_spans":${m.direct_spans},"failed_spans":${m.failed_spans}},"error":$err}"""
  }
}
