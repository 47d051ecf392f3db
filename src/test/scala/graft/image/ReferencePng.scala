package graft.image

import java.util.zip.{CRC32, Deflater, Inflater}

/** Reference forms for the PNG decoder: the straightforward decode that
  * PngCodecProps pins `PngCodec.decode` against — every IDAT chunk
  * concatenated and inflated in one go, then each pixel unfiltered with
  * the filter chosen per pixel into a separate raster — and an encoder
  * that writes what the production encoder never does: any filter per
  * row, a compressed stream, IDAT split at arbitrary points and an
  * ancillary chunk.
  */
object ReferencePng {

  /** `img.copyPixels`: the exact-size raster copy the image specs
    * compare with `Arrays.equals` (a GrayImage may be a view at an
    * offset into a larger payload).
    */
  implicit class RasterCopy(private val img: GrayImage) extends AnyVal {
    def copyPixels: Array[Byte] =
      java.util.Arrays.copyOfRange(img.pixels, img.offset, img.offset + img.size)
  }

  private def readIntBE(a: Array[Byte], at: Int): Int =
    ((a(at) & 0xff) << 24) | ((a(at + 1) & 0xff) << 16) | ((a(at + 2) & 0xff) << 8) | (a(at + 3) & 0xff)

  def decode(bytes: Array[Byte]): GrayImage = {
    require(PngCodec.isPng(bytes), "not a PNG (bad signature)")
    var i = 8
    var w = 0; var h = 0
    val idat = new java.io.ByteArrayOutputStream(bytes.length)
    var sawIhdr = false
    var done = false
    while (!done && i + 8 <= bytes.length) {
      val len = readIntBE(bytes, i)
      val typ = new String(bytes, i + 4, 4, "US-ASCII")
      require(len >= 0 && i + 12 + len <= bytes.length, s"truncated chunk $typ")
      typ match {
        case "IHDR" =>
          require(len == 13, "bad IHDR length")
          w = readIntBE(bytes, i + 8); h = readIntBE(bytes, i + 12)
          val depth = bytes(i + 16); val color = bytes(i + 17)
          val interlace = bytes(i + 20)
          require(depth == 8 && color == 0, s"unsupported PNG: depth=$depth color=$color")
          require(interlace == 0, "interlaced PNG unsupported")
          sawIhdr = true
        case "IDAT" => idat.write(bytes, i + 8, len)
        case "IEND" => done = true
        case _ => // ancillary chunk: skip
      }
      i += 12 + len
    }
    require(sawIhdr, "missing IHDR")
    // hostile-header guard BEFORE allocation: 65535x65535 would
    // overflow (w+1)*h to a negative array size
    require(w > 0 && h > 0 && (w + 1L) * h <= Int.MaxValue, s"bad PNG dimensions: $w x $h")

    // inflate the zlib stream into filtered scanlines
    val raw = new Array[Byte]((w + 1) * h)
    val inf = new Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0
    while (got < raw.length && !inf.finished()) {
      val n = inf.inflate(raw, got, raw.length - got)
      // ALL input was provided up front, so zero progress means a
      // truncated or unsupported stream (e.g. FDICT preset dictionary:
      // inflate() returns 0 with needsDictionary() set, and a naive
      // needsInput() check would spin forever on it)
      require(n > 0, "truncated or unsupported IDAT stream")
      got += n
    }
    inf.end()
    require(got == raw.length, s"short PNG raster: $got of ${raw.length}")

    // reverse row filters in place into the output raster
    val px = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      val f = raw(y * (w + 1)) & 0xff
      val rowIn = y * (w + 1) + 1
      val rowOut = y * w
      var x = 0
      while (x < w) {
        val cur = raw(rowIn + x) & 0xff
        val left = if (x > 0) px(rowOut + x - 1) & 0xff else 0
        val up = if (y > 0) px(rowOut - w + x) & 0xff else 0
        val ul = if (x > 0 && y > 0) px(rowOut - w + x - 1) & 0xff else 0
        val v = f match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + ((left + up) >> 1)
          case 4 => cur + paeth(left, up, ul)
          case _ => throw new IllegalArgumentException(s"bad PNG filter $f on row $y")
        }
        px(rowOut + x) = v.toByte
        x += 1
      }
      y += 1
    }
    new GrayImage(w, h, px)
  }

  @inline private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Filtered scanlines: row y uses filter filters(y) (0..4). */
  def filtered(img: GrayImage, filters: Array[Int]): Array[Byte] = {
    val w = img.width
    val raw = new Array[Byte]((w + 1) * img.height)
    for (y <- 0 until img.height) {
      val f = filters(y)
      raw(y * (w + 1)) = f.toByte
      for (x <- 0 until w) {
        val left = if (x > 0) img(x - 1, y) else 0
        val up = if (y > 0) img(x, y - 1) else 0
        val ul = if (x > 0 && y > 0) img(x - 1, y - 1) else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) >> 1
          case 4 => paeth(left, up, ul)
        }
        raw(y * (w + 1) + 1 + x) = (img(x, y) - pred).toByte
      }
    }
    raw
  }

  /** A PNG of `img` with the given row filters, deflated at `level`
    * (0 = stored blocks), its zlib stream cut into one IDAT chunk per
    * piece between the sorted `cuts` (repeated cuts give empty chunks),
    * and a tEXt chunk before the first IDAT when `ancillary` is set.
    */
  def encode(img: GrayImage, filters: Array[Int], level: Int, cuts: Seq[Int], ancillary: Boolean): Array[Byte] = {
    val raw = filtered(img, filters)
    val deflater = new Deflater(level)
    deflater.setInput(raw); deflater.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!deflater.finished()) { val n = deflater.deflate(buf); zout.write(buf, 0, n) }
    deflater.end()
    val zlib = zout.toByteArray

    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n'), 0, 8)
    def be(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(be(data.length), 0, 4)
      val t = typ.getBytes("US-ASCII"); out.write(t, 0, 4); out.write(data, 0, data.length)
      val crc = new CRC32(); crc.update(t); crc.update(data)
      out.write(be(crc.getValue.toInt), 0, 4)
    }
    chunk("IHDR", be(img.width) ++ be(img.height) ++ Array[Byte](8, 0, 0, 0, 0))
    if (ancillary) chunk("tEXt", "Comment\u0000page".getBytes("US-ASCII"))
    val bounds = 0 +: cuts.map(c => math.max(0, math.min(zlib.length, c))).sorted :+ zlib.length
    bounds.sliding(2).foreach { case Seq(a, b) => chunk("IDAT", java.util.Arrays.copyOfRange(zlib, a, b)) }
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }
}
