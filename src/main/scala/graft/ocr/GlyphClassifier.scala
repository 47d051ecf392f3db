package graft.ocr

import graft.image.SynthFont
import graft.image.SynthFont.GlyphId

/** Batched per-glyph classifier (SURVEY.md §2.4 O1: "batched glyph
  * classifier"; north star: "batched per-glyph neural classifier").
  *
  * Model: a linear scorer over ±1 pixel features. For binary features
  * the dot product with a template w is area - 2*hamming(x, w), so the
  * argmax-logit class is the nearest-centroid class; we compute it
  * directly with popcount over 60-bit packed glyph vectors. The
  * "weights" are the packed template array — a plain Array[Long]
  * compiled in from the font. The pipeline shares one immutable
  * classifier per JVM, `GlyphClassifier.default` (the analogue of the
  * reference's lazily-initialized, reused PaddleOCR model,
  * scripts/all-pdf-to-json-smart.py:151-157).
  *
  * Confidence = (area - hamming) / area in [0,1], exactly 1.0 on a
  * clean glyph — real per-glyph confidence, unlike the reference's
  * TrOCR backend which hardcodes 0.85 (src/ocr/trocr_backend.py:73-75).
  *
  * Exactness: the font guarantees pairwise Hamming distance >=
  * MinPairwiseHamming and the renderer drops at most MaxNoiseDrops
  * ink pixels per glyph, so classification is provably correct.
  */
final class GlyphClassifier(val weights: Array[Long]) extends Serializable {
  import SynthFont.{AllGlyphs, GlyphArea}

  final case class Pred(glyph: GlyphId, confidence: Double)

  def classify(packed: Long): Pred = {
    var best = 0
    var bestD = Integer.MAX_VALUE
    var i = 0
    while (i < weights.length) {
      val d = java.lang.Long.bitCount(packed ^ weights(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    Pred(AllGlyphs(best), (GlyphArea - bestD).toDouble / GlyphArea)
  }

  /** Batched inference: one call per batch of glyph vectors (the unit
    * the pipeline accumulates across a partition's span images).
    */
  def classifyBatch(batch: Array[Long]): Array[Pred] = {
    val out = new Array[Pred](batch.length)
    var i = 0
    while (i < batch.length) { out(i) = classify(batch(i)); i += 1 }
    out
  }
}

object GlyphClassifier {

  /** Pack a font bitmap into its 60-bit template. */
  def pack(cells: Array[Boolean]): Long = {
    var m = 0L
    var i = 0
    while (i < cells.length) { if (cells(i)) m |= (1L << i); i += 1 }
    m
  }

  /** The embedded model weights, derived deterministically from the
    * synthetic font.
    */
  def defaultWeights: Array[Long] = SynthFont.Bitmaps.map(pack).toArray

  /** The one classifier per JVM over the embedded weights, built on
    * first use. It is immutable, so every task and thread shares it.
    */
  lazy val default: GlyphClassifier = new GlyphClassifier(defaultWeights)
}
