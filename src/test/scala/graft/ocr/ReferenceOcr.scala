package graft.ocr

import graft.image.{BinaryImage, GrayImage, SynthRenderer}
import graft.image.SynthFont.{GlyphH, GlyphW}

/** Per-pixel reference forms of the word-level OCR kernels — the twins
  * OcrKernelProps pins `Otsu.pack`, `Segmentation.columnMasks`,
  * `Segmentation.extractGlyph`, `Deskew.Scorer` and `Deskew.unshear`
  * against, bit for bit. Each reads one pixel (or one bit) at a time, so it states the
  * kernel's meaning without any of its word tricks.
  */
object ReferenceOcr {

  /** Every pixel <= t is ink. */
  def pack(img: GrayImage, t: Int): BinaryImage = {
    val out = BinaryImage.blank(img.width, img.height)
    var y = 0
    while (y < img.height) {
      val rowBase = img.offset + y * img.width
      val wordBase = y * out.wordsPerRow
      var x = 0
      while (x < img.width) {
        if ((img.pixels(rowBase + x) & 0xff) <= t)
          out.words(wordBase + (x >>> 6)) |= (1L << (x & 63))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Bit r of masks(x) = ink at (x, band.top + r), rows past 64 ignored. */
  def columnMasks(bin: BinaryImage, band: Segmentation.LineBand): Array[Long] = {
    val masks = new Array[Long](bin.width)
    var x = 0
    while (x < bin.width) {
      var m = 0L
      var r = 0
      val h = math.min(band.height, 64)
      while (r < h) {
        if (bin(x, band.top + r)) m |= (1L << r)
        r += 1
      }
      masks(x) = m
      x += 1
    }
    masks
  }

  /** Bit r*GlyphW+c of the packed glyph = bit r of masks(left + c). */
  def extractGlyph(masks: Array[Long], left: Int, right: Int, bandH: Int): Segmentation.GlyphCells = {
    var packed = 0L
    val w = right - left + 1
    var c = 0
    while (c < math.min(w, GlyphW)) {
      val m = masks(left + c)
      var r = 0
      val h = math.min(bandH, GlyphH)
      while (r < h) {
        if ((m & (1L << r)) != 0L) packed |= (1L << (r * GlyphW + c))
        r += 1
      }
      c += 1
    }
    Segmentation.GlyphCells(packed, w)
  }

  /** (occupied rows, sum of squared row counts) of the row histogram
    * after moving every ink pixel (x, y) to row y - shiftY(a, x).
    */
  def deskewScore(bin: BinaryImage, a: Int): (Int, Long) = {
    val maxAbsShift = math.abs(SynthRenderer.shiftY(3000, bin.width - 1)) + 1
    val rows = new Array[Int](bin.height + 2 * maxAbsShift)
    val shiftX = Array.tabulate(bin.width)(SynthRenderer.shiftY(a, _))
    var y = 0
    while (y < bin.height) {
      var x = 0
      while (x < bin.width) {
        if (bin(x, y)) rows(y + maxAbsShift - shiftX(x)) += 1
        x += 1
      }
      y += 1
    }
    (rows.count(_ > 0), rows.map(c => c.toLong * c).sum)
  }

  /** Every ink pixel (x, y) moved to row y - shiftY(a, x) + off, on a
    * raster grown by the edge shift; off lifts positive angles back up.
    */
  def unshear(bin: BinaryImage, a: Int): BinaryImage = {
    if (a == 0) return bin
    val sEdge = SynthRenderer.shiftY(a, bin.width - 1)
    val off = math.max(0, sEdge)
    val newH = bin.height + math.abs(sEdge)
    val out = BinaryImage.blank(bin.width, newH)
    var y = 0
    while (y < bin.height) {
      var x = 0
      while (x < bin.width) {
        val ny = y - SynthRenderer.shiftY(a, x) + off
        if (bin(x, y) && ny >= 0 && ny < newH) out.set(x, ny, true)
        x += 1
      }
      y += 1
    }
    out
  }
}
