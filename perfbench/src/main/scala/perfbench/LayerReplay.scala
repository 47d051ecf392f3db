package perfbench

import graft.image.{ImageCodec, MediaStore}
import graft.ocr.{Deskew, GlyphClassifier, LetterForms, OcrEngine, Otsu, Segmentation}
import graft.text.ArabicNormalizer
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-layer split of the OCR path, measured from outside: every page
  * of the corpus is replayed through the layers' public functions
  * (fetch, decode, Otsu, deskew ranking, unshear, segmentation, batched
  * classification, letter forms, the engine's full recognize and the
  * normalizer), on the session's executors, with a span around each
  * call. The stage functions are timed at the top-ranked angle only;
  * `recognize` is the engine's own call, retries included.
  */
object LayerReplay {

  final case class PageOut(spans: Seq[SpanRec], glyphs: Int, lines: Int, firstTry: Boolean)

  val Stages: Seq[String] = Seq("image.fetch", "image.decode", "ocr.binarize", "ocr.deskew_rank",
    "ocr.unshear", "ocr.segment", "ocr.classify", "ocr.letterforms", "ocr.recognize", "text.normalize")

  def run(spark: SparkSession, pages: Seq[Inputs.Page], store: MediaStore, slices: Int): Seq[PageOut] = {
    val weights = GlyphClassifier.defaultWeights
    val jobs = pages.zipWithIndex.map { case (p, i) => (i.toLong, p.ref, p.angle) }
    spark.sparkContext.parallelize(jobs, slices).mapPartitions { it =>
      val classifier = new GlyphClassifier(weights)
      val engine = new OcrEngine(classifier)
      it.map { case (trace, ref, angle) => replay(trace, ref, angle, store, classifier, engine) }
    }.collect().toSeq
  }

  private def replay(trace: Long, ref: String, angle: Int, store: MediaStore,
                     classifier: GlyphClassifier, engine: OcrEngine): PageOut = {
    val spans = mutable.ArrayBuffer.empty[SpanRec]
    var id = 1L
    def span[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val a = body
      spans += SpanRec(id + 1, 1L, trace, name, t0, System.nanoTime())
      id += 1
      a
    }
    val t0 = System.nanoTime()
    val bytes = span("image.fetch")(store.fetch(ref))
    val img = span("image.decode")(ImageCodec.decode(bytes))
    val bin = span("ocr.binarize")(Otsu.binarize(img))
    val angles = span("ocr.deskew_rank")(Deskew.rankedAngles(bin))
    val straight = span("ocr.unshear")(Deskew.unshear(bin, angles.head))
    val segLines = span("ocr.segment")(Segmentation.lineBands(straight).map(b => Segmentation.segmentLine(straight, b)))
    val glyphs = segLines.flatMap(_.words.flatMap(_.glyphs.map(_.packed))).toArray
    val preds = span("ocr.classify")(classifier.classifyBatch(glyphs))
    span("ocr.letterforms") {
      var cursor = 0
      segLines.foreach(_.words.foreach { w =>
        LetterForms.resolveWord(preds.slice(cursor, cursor + w.glyphs.length).map(_.glyph).toSeq)
        cursor += w.glyphs.length
      })
    }
    val res = span("ocr.recognize")(engine.recognize(img))
    span("text.normalize")(ArabicNormalizer.normalizeBasicFast(res.text))
    spans += SpanRec(1L, 0L, trace, "page", t0, System.nanoTime())
    PageOut(spans.toSeq, res.glyphsClassified, res.linesSegmented, angles.head == angle)
  }

  /** Per-layer metrics (ms per page, counts, first-try rate); zeros when there are no pages. */
  def metrics(outs: Seq[PageOut]): Seq[(String, Double)] = {
    val n = outs.size.toDouble
    def perPage(stage: String): Double =
      if (n == 0) 0.0 else outs.iterator.flatMap(_.spans).filter(_.name == stage).map(_.ms).sum / n
    Stages.map(s => s"${s}_ms_per_page" -> perPage(s)) ++ Seq(
      "ocr.glyphs_per_page" -> (if (n == 0) 0.0 else outs.map(_.glyphs).sum / n),
      "ocr.lines_per_page" -> (if (n == 0) 0.0 else outs.map(_.lines).sum / n),
      "ocr.deskew_first_try_rate" -> (if (n == 0) 0.0 else outs.count(_.firstTry) / n))
  }
}
