package graft.pipeline

import graft.image.{ImageCodec, MediaStore}
import graft.model._
import graft.ocr.{GlyphClassifier, OcrEngine}
import graft.text.ArabicNormalizer

/** The per-partition extraction stage — the Spark-native equivalent of
  * the reference's per-page smart loop (extract_text_from_pdf_smart,
  * scripts/all-pdf-to-json-smart.py:124-185):
  *
  *   - spans restored to offset order (the reference's implicit page
  *     loop order);
  *   - `text` spans pass through untouched (project invariant; direct
  *     path, smart.py:166-170);
  *   - `image` spans: media_ref -> bytes -> decode -> OCR -> Arabic
  *     normalization (OCR path, smart.py:150-163 + :117);
  *   - per-span failures are swallowed into empty text + failed_spans,
  *     matching the reference's skip-and-continue (smart.py:121-122);
  *   - per-doc metrics (lines, glyphs, confidence histogram, span
  *     counts) mirror the processing summary (smart.py:180).
  *
  * Model handling mirrors the reference's lazy singleton PaddleOCR
  * (initialized once, reused for the whole run, smart.py:151-157): the
  * weights are compiled in from the font, so each executor JVM builds
  * the one immutable `GlyphClassifier.default` on first use and nothing
  * is broadcast; the engine is constructed per task. Inference is
  * batched — one model call per page covering every glyph on it.
  */
final class OcrStage(store: MediaStore)
    extends (Iterator[Doc] => Iterator[ExtractedDoc]) with Serializable {

  /** Per-task engine over the JVM's shared classifier — the ONE place
    * engine construction lives (the resumable path reuses it).
    */
  def newEngine(): OcrEngine = new OcrEngine(GlyphClassifier.default)

  /** Per-task payload scratch (the stage closure is deserialized once
    * per task, so this is task-local): each image span's payload is
    * fetched into the same growing buffer instead of a fresh
    * allocation — the fetch loop's dominant allocation, and the
    * decoded view is consumed before the next fetch by construction.
    */
  @transient private var payloadScratch: Array[Byte] = _

  override def apply(docs: Iterator[Doc]): Iterator[ExtractedDoc] = {
    val engine = newEngine()
    docs.map(extractDoc(_, engine))
  }

  def extractDoc(doc: Doc, engine: OcrEngine): ExtractedDoc = {
    try {
      var lines = 0
      var glyphs = 0
      var ocrSpans = 0
      var directSpans = 0
      var failedSpans = 0
      var confSum = 0.0
      val hist = new Array[Int](10)
      val outSpans = doc.spans.sortBy(_.offset).map { sp =>
        if (sp.kind == "image") {
          ocrSpans += 1
          try {
            // magic-sniffing decode: the store may serve PGM or PNG
            val payload = store.fetch(sp.media_ref, payloadScratch)
            payloadScratch = payload
            val img = ImageCodec.decode(payload)
            val res = engine.recognize(img)
            lines += res.linesSegmented
            glyphs += res.glyphsClassified
            res.glyphConfidences.foreach { c =>
              confSum += c
              hist(OcrEngine.bucket(c)) += 1
            }
            val cleaned = ArabicNormalizer.normalizeBasicFast(res.text)
            if (cleaned.isEmpty) failedSpans += 1
            sp.copy(text = cleaned)
          } catch {
            case scala.util.control.NonFatal(_) =>
              // reference semantics: per-page errors yield "" and the
              // run continues (smart.py:121-122)
              failedSpans += 1
              sp.copy(text = "")
          }
        } else {
          directSpans += 1
          sp
        }
      }
      val meanConf = if (glyphs == 0) 0.0 else confSum / glyphs
      ExtractedDoc(doc.doc_id, outSpans,
        DocMetrics(lines, glyphs, hist.toSeq, meanConf, ocrSpans, directSpans, failedSpans), None)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // doc-level failure: nullable error column replaces the
        // reference's optional "error" key (SURVEY.md §1.4)
        ExtractedDoc(doc.doc_id, doc.spans,
          DocMetrics(0, 0, Seq.fill(10)(0), 0.0, 0, 0, doc.spans.size), Some(e.toString))
    }
  }
}
