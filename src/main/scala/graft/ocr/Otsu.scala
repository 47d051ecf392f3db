package graft.ocr

import graft.image.{BinaryImage, GrayImage}

/** Otsu global binarization — the first from-scratch OCR stage (the
  * reference delegates this to its OCR libraries' preprocessing; see
  * SURVEY.md §2.4 O1). Classic maximization of between-class variance
  * over the intensity histogram; pixels <= threshold are ink.
  */
object Otsu {

  /** Threshold t maximizing between-class variance, classes [0..t] and
    * [t+1..255]. Ties resolve to the smallest t (deterministic).
    */
  def threshold(hist: Array[Int]): Int = {
    val total = hist.sum.toLong
    if (total == 0) return 127
    var sumAll = 0L
    var i = 0
    while (i < 256) { sumAll += i.toLong * hist(i); i += 1 }
    var w0 = 0L
    var sum0 = 0L
    var best = -1.0
    var bestT = 127
    var t = 0
    while (t < 255) {
      w0 += hist(t)
      sum0 += t.toLong * hist(t)
      val w1 = total - w0
      if (w0 > 0 && w1 > 0) {
        val m0 = sum0.toDouble / w0
        val m1 = (sumAll - sum0).toDouble / w1
        val between = w0.toDouble * w1 * (m0 - m1) * (m0 - m1)
        if (between > best) { best = between; bestT = t }
      }
      t += 1
    }
    bestT
  }

  /** Pixels sampled for the threshold histogram (statistic only — the
    * binarization pass itself always reads every pixel).
    */
  val HistSample = 16384

  @annotation.tailrec
  private def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)

  def binarize(img: GrayImage): BinaryImage = pack(img, sampledThreshold(img))

  /** Otsu threshold of an image, from a sampled histogram. */
  private[ocr] def sampledThreshold(img: GrayImage): Int = {
    // stride COPRIME with the row width: an aligned stride samples a
    // fixed column-residue class, which on grid-regular glyph layouts
    // can systematically miss the ink class; a coprime stride sweeps
    // every column phase
    var stride = math.max(1, img.size / HistSample)
    while (stride > 1 && gcd(stride, img.width) != 1) stride -= 1
    var hist: Array[Int] = img.histogram(stride)
    // sparse-ink guard: on a page whose ink fraction is below the
    // sampling rate the sample can miss the ink class entirely, and
    // Otsu would then split the background mode itself. Ink and
    // background modes are far apart (>=100 intensity apart on any
    // real scan), so a narrow sampled intensity spread means either a
    // genuinely blank page or a missed ink class — pay one full pass
    // to be sure
    if (stride > 1) {
      var lo = 255; var hi = 0; var v = 0
      while (v < 256) { if (hist(v) > 0) { if (v < lo) lo = v; if (v > hi) hi = v }; v += 1 }
      if (hi - lo < 100) hist = img.histogram
    }
    threshold(hist)
  }

  private final val Lanes = 0x0101010101010101L
  private final val High = 0x8080808080808080L

  /** Pack every pixel <= t as ink, 8 pixels per step: one little-endian
    * long holds pixels x..x+7 in bytes 0..7. Per byte, v <= t is
    * decided on the high bit, and the low 7 bits are compared by
    * (t | 0x80) - (v & 0x7f), which never borrows into the next byte;
    * the 8 answer bits (bit 7 of each byte) are gathered into one byte
    * by a multiply. The last pixels of a word that do not fill a long
    * are packed one at a time (the ink bit is the sign bit of
    * `v - (t + 1)`).
    */
  private[ocr] def pack(img: GrayImage, t: Int): BinaryImage = {
    val out = BinaryImage.blank(img.width, img.height)
    val px = img.pixels
    val le = java.nio.ByteBuffer.wrap(px).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val tt = t * Lanes
    val th = tt | High
    val t1 = t + 1
    var y = 0
    while (y < img.height) {
      val rowBase = img.offset + y * img.width
      val wordBase = y * out.wordsPerRow
      var wi = 0
      while (wi < out.wordsPerRow) {
        val x0 = rowBase + (wi << 6)
        val n = math.min(64, img.width - (wi << 6))
        var word = 0L
        var b = 0
        while (b + 8 <= n) {
          val v = le.getLong(x0 + b)
          val ink = ((~v & tt) | (~(v ^ tt) & (th - (v & ~High)))) & High
          word |= (((ink >>> 7) * 0x0102040810204080L) >>> 56) << b
          b += 8
        }
        var tail = 0L
        var k = n - 1
        while (k >= b) {
          tail = (tail << 1) | (((px(x0 + k) & 0xff) - t1) >>> 31)
          k -= 1
        }
        out.words(wordBase + wi) = word | (tail << b)
        wi += 1
      }
      y += 1
    }
    out
  }
}
