package graft.ocr

import graft.image.BinaryImage
import graft.image.SynthFont._

import scala.collection.mutable

/** Line / word / glyph segmentation (SURVEY.md §2.4):
  *   - horizontal-projection line segmentation (contiguous non-empty
  *     row runs -> line bands);
  *   - baseline detection per band (the row carrying the cursive
  *     connector strokes);
  *   - word segmentation by inter-word gap width (the analogue of
  *     EasyOCR's width_ths/height_ths merge thresholds,
  *     src/ocr/easyocr_backend.py:101-106);
  *   - within-word glyph segmentation: connected letter runs are split
  *     at connector columns (columns whose only ink is the baseline
  *     stroke) — the synthetic font guarantees real glyph columns
  *     always carry off-baseline ink.
  *
  * All scans run right-to-left so emitted word/glyph order IS logical
  * Arabic reading order (reference: get_text(sort=True) reading-order
  * contract, scripts/all-pdf-to-json-smart.py:44,83).
  */
object Segmentation {

  final case class LineBand(top: Int, bottom: Int) { // inclusive
    def height: Int = bottom - top + 1
  }

  /** A segmented glyph: 6x10 cells (row-major, columns left-to-right,
    * same orientation as the font bitmaps).
    */
  final case class GlyphCells(packed: Long, width: Int)

  final case class SegWord(glyphs: IndexedSeq[GlyphCells])

  final case class SegLine(words: IndexedSeq[SegWord], band: LineBand, baseline: Int)

  /** Horizontal projection -> contiguous non-empty row runs. */
  def lineBands(bin: BinaryImage): IndexedSeq[LineBand] = {
    val rowHas = new Array[Boolean](bin.height)
    var y = 0
    while (y < bin.height) {
      rowHas(y) = bin.rowHasInk(y)
      y += 1
    }
    val bands = mutable.ArrayBuffer.empty[LineBand]
    var start = -1
    y = 0
    while (y <= bin.height) {
      val has = y < bin.height && rowHas(y)
      if (has && start < 0) start = y
      if (!has && start >= 0) { bands += LineBand(start, y - 1); start = -1 }
      y += 1
    }
    bands.toIndexedSeq
  }

  /** Per-column ink row-mask within a band (bit r set = ink at
    * band.top + r). Correctly-deskewed bands are GlyphH rows tall; a
    * WRONG-angle candidate can smear lines into one band taller than
    * 64 rows, where an unclamped `1L << r` would wrap modulo 64 and
    * inject phantom ink into low rows — clamp instead (rows past 64
    * are ignored; the engine's structural validation rejects such
    * candidates anyway).
    */
  private[ocr] def columnMasks(bin: BinaryImage, band: LineBand): Array[Long] = {
    val masks = new Array[Long](bin.width)
    val h = math.min(band.height, 64)
    var r = 0
    while (r < h) {
      val bit = 1L << r
      val rowOff = (band.top + r) * bin.wordsPerRow
      var wi = 0
      while (wi < bin.wordsPerRow) {
        // visit the set bits of the word, lowest column first
        var w = bin.words(rowOff + wi)
        while (w != 0L) {
          val x = (wi << 6) + java.lang.Long.numberOfTrailingZeros(w)
          if (x < bin.width) masks(x) |= bit
          w &= w - 1
        }
        wi += 1
      }
      r += 1
    }
    masks
  }

  /** Baseline detection: connector columns carry ink in exactly one
    * row — the baseline. Majority vote across single-ink columns;
    * geometric fallback (font Baseline) when the line has no joins.
    */
  def detectBaseline(masks: Array[Long]): Int = {
    val votes = new Array[Int](64)
    var x = 0
    var any = false
    while (x < masks.length) {
      val m = masks(x)
      if (m != 0L && java.lang.Long.bitCount(m) == 1) {
        votes(java.lang.Long.numberOfTrailingZeros(m)) += 1
        any = true
      }
      x += 1
    }
    if (!any) Baseline
    else {
      var best = 0
      var bestV = -1
      var r = 0
      while (r < 64) { if (votes(r) > bestV) { bestV = votes(r); best = r }; r += 1 }
      best
    }
  }

  /** Segment one line band into words of glyphs, right-to-left. */
  def segmentLine(bin: BinaryImage, band: LineBand): SegLine = {
    val masks = columnMasks(bin, band)
    val baseline = detectBaseline(masks)
    val baseMask = 1L << baseline

    // column classes: 0 = empty, 1 = connector (baseline-only), 2 = glyph ink
    @inline def cls(x: Int): Int = {
      val m = masks(x)
      if (m == 0L) 0 else if (m == baseMask) 1 else 2
    }

    // Right-to-left scan: split into ink runs with their gaps.
    val words = mutable.ArrayBuffer.empty[SegWord]
    var current = mutable.ArrayBuffer.empty[GlyphCells]
    var x = bin.width - 1
    var gapSinceLastRun = Int.MaxValue // "infinite" gap before the first run
    while (x >= 0) {
      if (cls(x) == 0) { x -= 1 }
      else {
        // found the right edge of an ink run; measure gap behind us
        if (gapSinceLastRun != Int.MaxValue && gapSinceLastRun >= WordGapThreshold && current.nonEmpty) {
          words += SegWord(current.toIndexedSeq)
          current = mutable.ArrayBuffer.empty[GlyphCells]
        }
        // walk the run leftwards, splitting at connector-column groups
        var gRight = x
        while (x >= 0 && cls(x) != 0) {
          if (cls(x) == 1) {
            // connector group: close the glyph to the right of it
            if (gRight > x) current += extractGlyph(masks, x + 1, gRight, band.height)
            while (x >= 0 && cls(x) == 1) x -= 1
            gRight = x
          } else x -= 1
        }
        if (gRight > x) current += extractGlyph(masks, x + 1, gRight, band.height)
        // measure following gap
        var gap = 0
        var xx = x
        while (xx >= 0 && cls(xx) == 0) { gap += 1; xx -= 1 }
        gapSinceLastRun = gap
      }
    }
    if (current.nonEmpty) words += SegWord(current.toIndexedSeq)
    SegLine(words.toIndexedSeq, band, baseline)
  }

  /** Column mask (low GlyphH bits, bit r = row r) -> the same rows
    * at packed positions r*GlyphW, for column 0.
    */
  private val ColumnSpread: Array[Long] = Array.tabulate(1 << GlyphH) { m =>
    (0 until GlyphH).foldLeft(0L)((acc, r) => if ((m >>> r & 1) != 0) acc | (1L << (r * GlyphW)) else acc)
  }

  /** Extract a glyph's cells from columns [left..right] (inclusive)
    * into the packed 60-bit representation the classifier consumes
    * (bit r*GlyphW+c). Off-nominal widths are left-aligned.
    */
  private[ocr] def extractGlyph(masks: Array[Long], left: Int, right: Int, bandH: Int): GlyphCells = {
    val rowMask = (1 << math.min(bandH, GlyphH)) - 1
    val w = right - left + 1
    var packed = 0L
    var c = 0
    while (c < math.min(w, GlyphW)) {
      packed |= ColumnSpread(masks(left + c).toInt & rowMask) << c
      c += 1
    }
    GlyphCells(packed, w)
  }
}
