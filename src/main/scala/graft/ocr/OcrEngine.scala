package graft.ocr

import graft.image.{GrayImage, SynthFont}
import graft.model.OcrLine

/** The full from-scratch OCR pipeline over one page image — the
  * replacement for the reference's `ocr.ocr(img, cls=True)` call
  * (scripts/all-pdf-to-json-smart.py:102; PaddleOCR semantics: detect
  * text lines in reading order, recognize each with confidence,
  * src/ocr/paddleocr_backend.py:49-72):
  *
  *   gray -> Otsu binarize -> projection-profile deskew (angle search)
  *   -> horizontal-projection line segmentation -> baseline detection
  *   -> word/glyph segmentation (connector-split + gap thresholds)
  *   -> batched glyph classification -> letter-form resolution.
  *
  * Page text assembly follows the smart-script canonical semantics
  * (SURVEY.md §2.4 O5): line texts joined with " "; word texts within
  * a line joined with " ". Normalization happens in the caller, as in
  * extract_text_ocr (smart.py:115-117).
  *
  * Pure and Serializable: one instance per executor inside
  * mapPartitions over the JVM's shared `GlyphClassifier.default`.
  */
final class OcrEngine(classifier: GlyphClassifier) extends Serializable {

  final case class PageResult(
      text: String, // raw recognized text (pre-normalization)
      lines: Seq[OcrLine],
      glyphConfidences: Array[Double],
      linesSegmented: Int,
      glyphsClassified: Int,
      formViolations: Int,
      // geometry inconsistent with the font (band height != GlyphH or
      // glyph run width != GlyphW) — a wrong-deskew signal a high
      // per-glyph confidence alone cannot rule out (a merged run's
      // left GlyphW columns can still match a template exactly)
      structureViolations: Int
  )

  val Empty: PageResult = PageResult("", Nil, Array.empty, 0, 0, 0, 0)

  /** P3/P4 (SURVEY.md §2.2): drop recognized lines below a confidence
    * floor (EasyOCR's 0.3 floor, src/ocr/easyocr_backend.py:113-121)
    * and empty-text lines (Tesseract's valid-word filter,
    * tesseract_backend.py:138-142), then reassemble the page text.
    * The flagship smart path uses no floor (minConf = 0).
    */
  def recognize(img: GrayImage, minLineConf: Double): PageResult =
    applyLineFloor(recognize(img), minLineConf)

  /** The floor as a pure function of an already-recognized page, so
    * callers comparing several floors recognize ONCE and filter per
    * floor (the OCR pass is the expensive part, the filter is free).
    */
  def applyLineFloor(r: PageResult, minLineConf: Double): PageResult =
    if (minLineConf <= 0.0) r
    else {
      val kept = r.lines.filter(l => l.confidence >= minLineConf && l.text.nonEmpty)
      r.copy(text = kept.map(_.text).mkString(" "), lines = kept)
    }

  /** A clean or dropout-noised glyph is always within MaxNoiseDrops
    * Hamming of its template; lower confidence signals a structurally
    * wrong deskew/segmentation and triggers angle fallback.
    */
  private val MinValidConf =
    (SynthFont.GlyphArea - SynthFont.MaxNoiseDrops).toDouble / SynthFont.GlyphArea

  def recognize(img: GrayImage): PageResult = {
    val bin = Otsu.binarize(img)
    val ink = bin.inkCount
    // blank/degenerate page guards: a near-empty or unimodal image must
    // not produce phantom glyphs (reference: empty OCR result -> "",
    // smart.py:104-105)
    if (ink < 8 || ink > bin.width * bin.height * 2 / 5) return Empty

    // Deskew candidates best-first; accept the first angle whose
    // restored raster passes structural validation (bands exactly
    // GlyphH tall, glyphs GlyphW wide, all confidences within the
    // noise-dropout bound). The injected angle always validates, so
    // narrow-image projection-score ties cannot corrupt the output.
    val candidates = Deskew.rankedAngles(bin)
    var best: PageResult = null
    var i = 0
    while (i < candidates.length) {
      val r = recognizeAt(bin, candidates(i))
      if (r != null) {
        if (best == null) best = r
        if (isStructurallyValid(r)) return r
      }
      i += 1
    }
    if (best == null) Empty else best
  }

  private def isStructurallyValid(r: PageResult): Boolean =
    r.glyphsClassified > 0 && r.structureViolations == 0 &&
      r.glyphConfidences.forall(_ >= MinValidConf)

  private def recognizeAt(bin: graft.image.BinaryImage, angle: Int): PageResult = {
    val straight = Deskew.unshear(bin, angle)
    val bands = Segmentation.lineBands(straight)
    if (bands.isEmpty) return Empty

    val segLines = bands.map(b => Segmentation.segmentLine(straight, b))

    // font-geometry validation: every correctly-deskewed band is
    // exactly GlyphH rows tall and every glyph run exactly GlyphW
    // columns wide (the renderer guarantees both; noise dropout
    // preserves row/column coverage)
    var structViolations = 0
    segLines.foreach { sl =>
      if (sl.band.height != SynthFont.GlyphH) structViolations += 1
      sl.words.foreach(_.glyphs.foreach { g =>
        if (g.width != SynthFont.GlyphW) structViolations += 1
      })
    }

    // batched inference: collect every glyph on the page, one model call
    val allGlyphs = segLines.flatMap(_.words.flatMap(_.glyphs.map(_.packed))).toArray
    val preds = classifier.classifyBatch(allGlyphs)

    var cursor = 0
    var violations = 0
    val confs = new Array[Double](preds.length)
    val outLines = segLines.map { sl =>
      var lineConfSum = 0.0
      var lineGlyphs = 0
      val wordTexts = sl.words.map { w =>
        val wordPreds = preds.slice(cursor, cursor + w.glyphs.length)
        var i = 0
        while (i < wordPreds.length) {
          confs(cursor + i) = wordPreds(i).confidence
          lineConfSum += wordPreds(i).confidence
          i += 1
        }
        lineGlyphs += wordPreds.length
        cursor += w.glyphs.length
        val resolved = LetterForms.resolveWord(wordPreds.map(_.glyph).toSeq)
        violations += resolved.formViolations
        resolved.text
      }
      val conf = if (lineGlyphs == 0) 0.0 else lineConfSum / lineGlyphs
      OcrLine(wordTexts.mkString(" "), conf, sl.band.top, sl.band.bottom)
    }

    PageResult(
      text = outLines.map(_.text).mkString(" "),
      lines = outLines,
      glyphConfidences = confs,
      linesSegmented = outLines.length,
      glyphsClassified = preds.length,
      formViolations = violations,
      structureViolations = structViolations
    )
  }
}

object OcrEngine {
  /** Confidence bucket: 10 buckets over [0,1] — the single definition
    * of the histogram rule (OcrStage accumulates with it).
    */
  @inline def bucket(c: Double): Int = math.min(9, math.max(0, (c * 10).toInt))

  /** Confidence histogram bucketing: 10 buckets over [0,1]. */
  def histogram(confs: Iterable[Double]): Array[Int] = {
    val h = new Array[Int](10)
    confs.foreach(c => h(bucket(c)) += 1)
    h
  }
}
