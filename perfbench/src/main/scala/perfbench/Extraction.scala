package perfbench

import graft.image.MediaStore
import graft.model.{Doc, ExtractedDoc, Span}
import graft.pipeline.ExtractionJob
import graft.text.ArabicNormalizer
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Span-by-span output check against ground truth on (kind, text,
  * media_ref, order). A span counts as failed when the pipeline says so
  * (`failed_spans`, which covers every span of a document-level error).
  */
final case class Tally(checked: Long = 0, correct: Long = 0, failed: Long = 0, docErrors: Long = 0) {
  def +(o: Tally): Tally = Tally(checked + o.checked, correct + o.correct, failed + o.failed, docErrors + o.docErrors)
  def correctRate: Double = if (checked == 0) 0.0 else correct.toDouble / checked
  def errorRate: Double = if (checked == 0) 0.0 else failed.toDouble / checked
}

object Tally {
  def ofDoc(out: ExtractedDoc, expected: Array[Span]): Tally = {
    val got = out.spans.toIndexedSeq
    var ok = 0L
    var i = 0
    while (i < expected.length) { if (i < got.length && got(i) == expected(i)) ok += 1; i += 1 }
    // an extra output span counts as a checked, wrong one
    Tally(math.max(expected.length, got.length), ok, out.metrics.failed_spans, if (out.error.isDefined) 1 else 0)
  }
}

final class Extraction(spark: SparkSession, corpus: Inputs.Corpus, work: String, cores: Int) {
  import spark.implicits._

  val docsPath: String = s"$work/docs.parquet"
  val pagesDir: String = s"$work/pages"
  /** The pipeline's logical partition count: four per core, so the hot documents can spread. */
  val partitions: Int = 4 * cores

  private val pageText = corpus.pages.iterator.map(p => p.ref -> p.text).toMap
  private val expected: Map[String, Array[Span]] = corpus.docs.iterator.map { d =>
    d.doc_id -> d.spans.sortBy(_.offset).map { sp =>
      if (sp.kind == "image") sp.copy(text = ArabicNormalizer.normalizeBasic(pageText(sp.media_ref))) else sp
    }.toArray
  }.toMap
  private lazy val expectedBc = spark.sparkContext.broadcast(expected)

  /** Renders the pages and writes the span table. */
  def write(): Unit = {
    PageStore.render(spark, corpus.pages, pagesDir, 2 * cores)
    corpus.docs.toDS().coalesce(cores).write.mode("overwrite").parquet(docsPath)
  }

  /** `ExtractionJob.extract` into the noop sink, every output checked inside its task. */
  def extractPass(store: MediaStore): Tally = {
    val sc = spark.sparkContext
    val acc = Seq.fill(5)(sc.longAccumulator)
    val bc = expectedBc
    val docs = spark.read.parquet(docsPath).as[Doc]
    ExtractionJob.extract(spark, docs, ExtractionJob.Config(numPartitions = partitions, mediaStore = store)).map { out =>
      val t = Tally.ofDoc(out, bc.value.getOrElse(out.doc_id, Array.empty))
      acc(0).add(t.checked); acc(1).add(t.correct); acc(2).add(t.failed); acc(3).add(t.docErrors); acc(4).add(1)
      out.doc_id
    }.write.format("noop").mode("overwrite").save()
    whole(Tally(acc(0).value, acc(1).value, acc(2).value, acc(3).value), acc(4).value)
  }

  /** A pass that lost or repeated a document is wrong as a whole: every span counts as wrong and failed. */
  private def whole(t: Tally, docsSeen: Long): Tally =
    if (docsSeen == corpus.docs.size && t.checked == corpus.spanCount) t
    else Tally(corpus.spanCount, 0, corpus.spanCount, t.docErrors)
}

object Dirs {
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach((f: Path) => Files.deleteIfExists(f))
      finally s.close()
    }
  }
}
