package graft.image

/** 8-bit grayscale raster. Replaces the reference's numpy BGR matrices
  * (cv2.imdecode at scripts/all-pdf-to-json-smart.py:95-96) — our OCR
  * pipeline operates on grayscale only.
  *
  * Pixels are stored row-major as unsigned bytes starting at `offset`
  * in `pixels`; use `apply(x, y)` for the 0..255 int view. The offset
  * lets a GrayImage be a zero-copy VIEW over an encoded payload (e.g.
  * the raster section of a PGM byte array): page-scale OCR at high
  * task parallelism is memory-bandwidth-bound, so every full-raster
  * copy removed lifts the N->4N scaling ceiling directly.
  */
final class GrayImage(val width: Int, val height: Int, val pixels: Array[Byte], val offset: Int) {
  def this(width: Int, height: Int, pixels: Array[Byte]) = this(width, height, pixels, 0)
  // Long math: a hostile header like 65536x65536 overflows Int to 0
  // and would sail past a width*height bounds check
  require(width > 0 && height > 0 && width.toLong * height <= Int.MaxValue,
    s"bad dimensions: $width x $height")
  val size: Int = width * height
  require(offset >= 0 && pixels.length - offset >= size,
    s"bad raster: ${pixels.length} - $offset < $width*$height")
  @inline def apply(x: Int, y: Int): Int = pixels(offset + y * width + x) & 0xff
  @inline def set(x: Int, y: Int, v: Int): Unit = pixels(offset + y * width + x) = v.toByte

  /** 256-bucket intensity histogram (input to Otsu). */
  def histogram: Array[Int] = histogram(1)

  /** Histogram over every `stride`-th pixel. Page-OCR thresholding
    * does not need every pixel: on any raster whose ink and background
    * modes are separated by an empty gap, Otsu's argmax ties across
    * the gap and resolves to the same threshold from a sample as from
    * the full scan (both classes just need to be present) — and the
    * full-raster read it saves is pure memory bandwidth.
    */
  def histogram(stride: Int): Array[Int] = {
    val h = new Array[Int](256)
    var i = offset
    val end = offset + size
    while (i < end) { h(pixels(i) & 0xff) += 1; i += stride }
    h
  }
}

object GrayImage {
  def filled(width: Int, height: Int, v: Int): GrayImage = {
    val px = new Array[Byte](width * height)
    java.util.Arrays.fill(px, v.toByte)
    new GrayImage(width, height, px)
  }
}

/** Binarized raster: true = ink. Output of Otsu thresholding.
  *
  * Bit-packed, 64 pixels per long in row-major words (bit x & 63 of
  * word x >>> 6; bits past `width` stay clear). The OCR kernels work on
  * whole words so their cost follows the ink, not the page area: Otsu
  * stores each word once, deskew scoring popcounts masked column runs,
  * unshear moves each run as one masked word, and segmentation visits
  * only the set bits. The raster is 8x smaller than a Boolean[], which
  * matters at high task parallelism, where page OCR is
  * memory-bandwidth-bound.
  */
final class BinaryImage(val width: Int, val height: Int, val words: Array[Long]) {
  val wordsPerRow: Int = (width + 63) >>> 6
  @inline def apply(x: Int, y: Int): Boolean =
    ((words(y * wordsPerRow + (x >>> 6)) >>> (x & 63)) & 1L) != 0L
  @inline def set(x: Int, y: Int, v: Boolean): Unit = {
    val i = y * wordsPerRow + (x >>> 6)
    val m = 1L << (x & 63)
    if (v) words(i) |= m else words(i) &= ~m
  }
  def inkCount: Int = {
    var n = 0; var i = 0
    while (i < words.length) { n += java.lang.Long.bitCount(words(i)); i += 1 }
    n
  }
  /** true iff any pixel in row y is ink */
  def rowHasInk(y: Int): Boolean = {
    var i = y * wordsPerRow
    val end = i + wordsPerRow
    while (i < end) { if (words(i) != 0L) return true; i += 1 }
    false
  }
}

object BinaryImage {
  def blank(width: Int, height: Int): BinaryImage =
    new BinaryImage(width, height, new Array[Long](((width + 63) >>> 6) * height))
}

/** Minimal deterministic image codec: binary PGM (P5). Stands in for
  * the reference's PNG page renders (page.get_pixmap(...).tobytes("png"),
  * smart.py:91-92) without an external imaging dependency; the Spark
  * plumbing (binary payloads decoded inside mapPartitions) is identical.
  *
  * decode is ZERO-COPY: the returned GrayImage is a view into the
  * payload bytes (offset past the header).
  */
object PgmCodec {
  def headerBytes(w: Int, h: Int): Array[Byte] =
    s"P5\n$w $h\n255\n".getBytes("US-ASCII")

  def encode(img: GrayImage): Array[Byte] = {
    val header = headerBytes(img.width, img.height)
    val out = new Array[Byte](header.length + img.size)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(img.pixels, img.offset, out, header.length, img.size)
    out
  }

  def decode(bytes: Array[Byte]): GrayImage = decode(bytes, 0)

  /** Decode one P5 frame starting at `start`; the result shares
    * `bytes` (consumed length = img.offset - start + img.size).
    */
  def decode(bytes: Array[Byte], start: Int): GrayImage = {
    // header: "P5" <ws> width <ws> height <ws> maxval <single ws> raster
    var i = start
    def skipWs(): Unit = { while (i < bytes.length && bytes(i).toChar.isWhitespace) i += 1 }
    def token(): String = {
      skipWs()
      val s = i
      while (i < bytes.length && !bytes(i).toChar.isWhitespace) i += 1
      new String(bytes, s, i - s, "US-ASCII")
    }
    val magic = token()
    require(magic == "P5", s"not a P5 PGM: $magic")
    val w = token().toInt
    val h = token().toInt
    val maxv = token().toInt
    require(maxv == 255, s"unsupported maxval $maxv")
    i += 1 // exactly one whitespace byte before raster
    new GrayImage(w, h, bytes, i)
  }
}
