package graft.image

import java.util.zip.{Adler32, CRC32, Inflater}

/** From-scratch 8-bit grayscale PNG codec — the reference's actual
  * page-render format (page.get_pixmap(...).tobytes("png"),
  * scripts/all-pdf-to-json-smart.py:91-96; cv2.imdecode consumes it at
  * :95). Closes the last observable format gap of the PGM stand-in
  * (SURVEY.md §2.1 S5).
  *
  * Encoder: color type 0 (grayscale), bit depth 8, filter 0 per row,
  * zlib stream made of STORED (uncompressed) deflate blocks — fully
  * standard PNG that any reader opens, written without any compression
  * dependency. CRC32/Adler32 come from java.util.zip (JDK, not a
  * library dependency).
  *
  * Decoder: parses IHDR, allocates one (w+1)*h buffer and inflates
  * each IDAT chunk straight into it (JDK Inflater, so real compressed
  * PNGs decode too, not just our stored-block ones), then reverses ALL
  * FIVE standard row filters (None/Sub/Up/Average/Paeth) in place, so
  * the returned GrayImage is a view over that same buffer. Grayscale-8
  * only, the one format the pipeline produces. Malformed input fails
  * with IllegalArgumentException.
  */
object PngCodec {

  private val Signature = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  @inline def isPng(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && (0 until 8).forall(i => bytes(i) == Signature(i))

  // ---- encode -------------------------------------------------------------

  /** Max payload of one stored deflate block (16-bit LEN field). */
  private val StoredMax = 65535

  def encode(img: GrayImage): Array[Byte] = {
    val w = img.width; val h = img.height
    // raw scanlines: 1 filter byte (0 = None) + w pixels per row
    val raw = new Array[Byte]((w + 1) * h)
    var y = 0
    while (y < h) {
      // raw(y*(w+1)) = 0 (filter None) — Array[Byte] zero-initialized
      System.arraycopy(img.pixels, img.offset + y * w, raw, y * (w + 1) + 1, w)
      y += 1
    }

    // zlib stream: 2-byte header, stored deflate blocks, Adler32
    val nBlocks = math.max(1, (raw.length + StoredMax - 1) / StoredMax)
    val zlib = new Array[Byte](2 + nBlocks * 5 + raw.length + 4)
    zlib(0) = 0x78; zlib(1) = 0x01 // CMF/FLG: deflate, 32k window, check ok
    var src = 0; var dst = 2
    var b = 0
    while (b < nBlocks) {
      val len = math.min(StoredMax, raw.length - src)
      zlib(dst) = if (b == nBlocks - 1) 1 else 0 // BFINAL, BTYPE=00
      zlib(dst + 1) = (len & 0xff).toByte
      zlib(dst + 2) = ((len >> 8) & 0xff).toByte
      zlib(dst + 3) = (~len & 0xff).toByte
      zlib(dst + 4) = ((~len >> 8) & 0xff).toByte
      System.arraycopy(raw, src, zlib, dst + 5, len)
      src += len; dst += 5 + len
      b += 1
    }
    val adler = new Adler32(); adler.update(raw)
    writeIntBE(zlib, dst, adler.getValue.toInt)

    val ihdr = new Array[Byte](13)
    writeIntBE(ihdr, 0, w); writeIntBE(ihdr, 4, h)
    ihdr(8) = 8 // bit depth
    // ihdr(9..12) = 0: color type 0, deflate, adaptive filter, no interlace

    val out = new java.io.ByteArrayOutputStream(zlib.length + 64)
    out.write(Signature, 0, 8)
    writeChunk(out, "IHDR", ihdr)
    writeChunk(out, "IDAT", zlib)
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def writeIntBE(a: Array[Byte], at: Int, v: Int): Unit = {
    a(at) = (v >>> 24).toByte; a(at + 1) = (v >>> 16).toByte
    a(at + 2) = (v >>> 8).toByte; a(at + 3) = v.toByte
  }

  private def writeChunk(out: java.io.ByteArrayOutputStream, typ: String, data: Array[Byte]): Unit = {
    val len = new Array[Byte](4); writeIntBE(len, 0, data.length)
    out.write(len, 0, 4)
    val t = typ.getBytes("US-ASCII")
    out.write(t, 0, 4)
    out.write(data, 0, data.length)
    val crc = new CRC32(); crc.update(t); crc.update(data)
    val c = new Array[Byte](4); writeIntBE(c, 0, crc.getValue.toInt)
    out.write(c, 0, 4)
  }

  // ---- decode -------------------------------------------------------------

  private def readIntBE(a: Array[Byte], at: Int): Int =
    ((a(at) & 0xff) << 24) | ((a(at + 1) & 0xff) << 16) | ((a(at + 2) & 0xff) << 8) | (a(at + 3) & 0xff)

  // chunk types as big-endian ints
  private final val IHDR = 0x49484452
  private final val IDAT = 0x49444154
  private final val IEND = 0x49454e44

  def decode(bytes: Array[Byte]): GrayImage = {
    require(isPng(bytes), "not a PNG (bad signature)")
    var i = 8
    var w = 0; var h = 0
    var raw: Array[Byte] = null // (w + 1) * h: filtered scanlines, then the raster
    var got = 0
    val inf = new Inflater()
    try {
      var done = false
      while (!done && i + 8 <= bytes.length) {
        val len = readIntBE(bytes, i)
        val typ = readIntBE(bytes, i + 4)
        // Long: a length near Int.MaxValue must not wrap past the check
        require(len >= 0 && i + 12L + len <= bytes.length, s"truncated chunk at byte $i")
        typ match {
          case IHDR =>
            require(raw == null, "duplicate IHDR")
            require(len == 13, "bad IHDR length")
            w = readIntBE(bytes, i + 8); h = readIntBE(bytes, i + 12)
            val depth = bytes(i + 16); val color = bytes(i + 17)
            val interlace = bytes(i + 20)
            require(depth == 8 && color == 0, s"unsupported PNG: depth=$depth color=$color")
            require(interlace == 0, "interlaced PNG unsupported")
            // hostile-header guard BEFORE allocation: 65535x65535 would
            // overflow (w+1)*h to a negative array size
            require(w > 0 && h > 0 && (w + 1L) * h <= Int.MaxValue, s"bad PNG dimensions: $w x $h")
            // a corrupted but in-range size would still be allocated in
            // full before the stream is found short
            val crc = new CRC32(); crc.update(bytes, i + 4, 4 + len)
            require(crc.getValue.toInt == readIntBE(bytes, i + 8 + len), "IHDR CRC mismatch")
            raw = new Array[Byte]((w + 1) * h)
          case IDAT =>
            require(raw != null, "IDAT before IHDR")
            // inflate each chunk straight into the scanline buffer
            if (len > 0 && got < raw.length && !inf.finished()) {
              inf.setInput(bytes, i + 8, len)
              while (got < raw.length && !inf.finished() && !inf.needsInput()) {
                val n = inf.inflate(raw, got, raw.length - got)
                // zero progress with input left: a preset dictionary
                // (FDICT) or a stream that cannot go on
                require(n > 0 || inf.needsInput() || inf.finished(), "truncated or unsupported IDAT stream")
                got += n
              }
            }
          case IEND => done = true
          case _ => // ancillary chunk: skip
        }
        i += 12 + len
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(s"corrupt IDAT stream: ${e.getMessage}", e)
    } finally inf.end()
    require(raw != null, "missing IHDR")
    require(got == raw.length, s"short PNG raster: $got of ${raw.length}")
    unfilter(raw, w, h)
    new GrayImage(w, h, raw)
  }

  /** Reverse the row filters in place. Row y's scanline starts at
    * y*(w+1)+1 and its pixels go to y*w, y+1 bytes to the left, so every
    * write lands behind every byte not yet read; the rows above are
    * already final when row y reads them.
    */
  private def unfilter(raw: Array[Byte], w: Int, h: Int): Unit = {
    var y = 0
    while (y < h) {
      val f = raw(y * (w + 1)) & 0xff
      val in = y * (w + 1) + 1
      val out = y * w
      val up = out - w // the row above in the output; read only when y > 0
      // on the first row the row above reads as 0: Up is None, Paeth is Sub
      val g = if (y > 0) f else f match { case 2 => 0; case 4 => 1; case o => o }
      g match {
        case 0 => System.arraycopy(raw, in, raw, out, w)
        case 1 =>
          var left = 0; var x = 0
          while (x < w) { left = (raw(in + x) + left) & 0xff; raw(out + x) = left.toByte; x += 1 }
        case 2 =>
          var x = 0
          while (x < w) { raw(out + x) = (raw(in + x) + raw(up + x)).toByte; x += 1 }
        case 3 =>
          var left = 0; var x = 0
          while (x < w) {
            val u = if (y > 0) raw(up + x) & 0xff else 0
            left = (raw(in + x) + ((left + u) >> 1)) & 0xff
            raw(out + x) = left.toByte; x += 1
          }
        case 4 =>
          var left = 0; var ul = 0; var x = 0
          while (x < w) {
            val u = raw(up + x) & 0xff
            left = (raw(in + x) + paeth(left, u, ul)) & 0xff
            raw(out + x) = left.toByte
            ul = u; x += 1
          }
        case _ => throw new IllegalArgumentException(s"bad PNG filter $f on row $y")
      }
      y += 1
    }
  }

  @inline private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }
}

/** Magic-sniffing decode: PGM (P5) or PNG — the single entry point the
  * extraction stage uses, so a media store may serve either format
  * (the reference corpus is PNG; the zero-copy PGM stays the fast
  * synthetic default).
  */
object ImageCodec {
  def decode(bytes: Array[Byte]): GrayImage =
    if (PngCodec.isPng(bytes)) PngCodec.decode(bytes)
    else PgmCodec.decode(bytes)
}
