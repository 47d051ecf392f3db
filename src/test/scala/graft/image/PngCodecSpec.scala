package graft.image

import graft.image.ReferencePng.RasterCopy
import org.scalatest.funsuite.AnyFunSuite

/** From-scratch PNG codec: round-trip exactness, multi-block zlib
  * streams, all five row filters on decode, compressed (non-stored)
  * streams, magic sniffing, and the OCR path end-to-end over a PNG
  * media_ref.
  */
class PngCodecSpec extends AnyFunSuite {

  private def randomImage(w: Int, h: Int, seed: Long): GrayImage = {
    val rnd = new scala.util.Random(seed)
    val px = new Array[Byte](w * h)
    rnd.nextBytes(px)
    new GrayImage(w, h, px)
  }

  test("encode/decode round-trip is exact, including multi-block streams (> 64 KiB raster)") {
    for ((w, h, seed) <- Seq((1, 1, 1L), (17, 3, 2L), (300, 250, 3L), (256, 256, 4L))) {
      val img = randomImage(w, h, seed)
      val png = PngCodec.encode(img)
      assert(PngCodec.isPng(png))
      val back = PngCodec.decode(png)
      assert(back.width == w && back.height == h)
      assert(java.util.Arrays.equals(back.copyPixels, img.copyPixels), s"${w}x$h roundtrip")
    }
  }

  test("decoder reverses all five row filters from a COMPRESSED (non-stored) stream") {
    // build filtered scanlines by hand (one filter type per row, cycling
    // through 0..4), deflate with the JDK's real compressor, and wrap in
    // minimal PNG chunks — exercises exactly the paths our encoder
    // doesn't produce
    val w = 23; val h = 10
    val img = randomImage(w, h, 7L)
    val raw = new Array[Byte]((w + 1) * h)
    def px(x: Int, y: Int): Int = img(x, y)
    for (y <- 0 until h) {
      val f = y % 5
      raw(y * (w + 1)) = f.toByte
      for (x <- 0 until w) {
        val left = if (x > 0) px(x - 1, y) else 0
        val up = if (y > 0) px(x, y - 1) else 0
        val ul = if (x > 0 && y > 0) px(x - 1, y - 1) else 0
        val p = {
          val pp = left + up - ul
          val pa = math.abs(pp - left); val pb = math.abs(pp - up); val pc = math.abs(pp - ul)
          if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        val v = f match {
          case 0 => px(x, y)
          case 1 => px(x, y) - left
          case 2 => px(x, y) - up
          case 3 => px(x, y) - ((left + up) >> 1)
          case 4 => px(x, y) - p
        }
        raw(y * (w + 1) + 1 + x) = v.toByte
      }
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zbuf = new Array[Byte](raw.length + 64)
    val zlen = deflater.deflate(zbuf)
    deflater.end()

    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n'), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      def be(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
      out.write(be(data.length), 0, 4)
      val t = typ.getBytes("US-ASCII"); out.write(t, 0, 4); out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32(); crc.update(t); crc.update(data)
      out.write(be(crc.getValue.toInt), 0, 4)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = 0; ihdr(1) = 0; ihdr(2) = 0; ihdr(3) = w.toByte
    ihdr(7) = h.toByte; ihdr(8) = 8
    chunk("IHDR", ihdr)
    chunk("IDAT", java.util.Arrays.copyOf(zbuf, zlen))
    chunk("IEND", Array.emptyByteArray)

    val back = PngCodec.decode(out.toByteArray)
    assert(back.width == w && back.height == h)
    assert(java.util.Arrays.equals(back.copyPixels, img.copyPixels), "filtered decode")
  }

  test("magic sniffing routes PGM and PNG to the right decoder; garbage fails loudly") {
    val img = randomImage(40, 12, 9L)
    val viaPgm = ImageCodec.decode(PgmCodec.encode(img))
    val viaPng = ImageCodec.decode(PngCodec.encode(img))
    assert(java.util.Arrays.equals(viaPgm.copyPixels, img.copyPixels))
    assert(java.util.Arrays.equals(viaPng.copyPixels, img.copyPixels))
    intercept[IllegalArgumentException] {
      ImageCodec.decode("garbage-not-an-image".getBytes("US-ASCII"))
    }
  }

  test("hostile IHDR dimensions fail loudly before allocation") {
    val img = randomImage(4, 4, 15L)
    val png = PngCodec.encode(img)
    // corrupt IHDR width to 0xFFFF0000 (chunk data starts at offset 16)
    val bad = png.clone()
    bad(16) = 0xff.toByte; bad(17) = 0xff.toByte; bad(18) = 0; bad(19) = 0
    val e = intercept[IllegalArgumentException](PngCodec.decode(bad))
    assert(e.getMessage.contains("dimensions"), e.getMessage)
  }

  test("fuzz: truncated, byte-flipped and hostile-length PNGs decode or throw IllegalArgumentException") {
    import org.scalacheck.{Gen, Prop, Test}
    // byte offsets of every chunk's length field
    def chunkStarts(png: Array[Byte]): Seq[Int] =
      Iterator.iterate(8)(i => i + 12 + java.nio.ByteBuffer.wrap(png, i, 4).getInt)
        .takeWhile(_ + 8 <= png.length).toSeq
    val mutated: Gen[Array[Byte]] = PngCodecProps.encoded.flatMap { case (_, png) =>
      Gen.oneOf(
        Gen.chooseNum(0, png.length - 1).map(n => java.util.Arrays.copyOf(png, n)),
        Gen.listOfN(4, Gen.zip(Gen.chooseNum(0, png.length - 1), Gen.chooseNum(1, 255))).map { flips =>
          val m = png.clone()
          flips.take(1 + (flips.head._2 & 3)).foreach { case (at, x) => m(at) = (m(at) ^ x).toByte }
          m
        },
        Gen.zip(Gen.oneOf(chunkStarts(png)), Gen.chooseNum(0, 64)).map { case (at, k) =>
          val m = png.clone()
          java.nio.ByteBuffer.wrap(m, at, 4).putInt(Int.MaxValue - k)
          m
        })
    }
    val prop = Prop.forAllNoShrink(mutated) { m =>
      scala.util.Try(PngCodec.decode(m)) match {
        case scala.util.Success(img) =>
          // where the twin decodes it too, it agrees
          scala.util.Try(ReferencePng.decode(m)).toOption.forall(ref => java.util.Arrays.equals(img.copyPixels, ref.copyPixels))
        case scala.util.Failure(_: IllegalArgumentException) => true
        case scala.util.Failure(e) => throw e
      }
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(1500), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("full extraction pipeline over PNG media refs: exact span-sequence equality") {
    val spark = graft.pipeline.SparkTestSession.spark
    import spark.implicits._
    val docs = (0L until 30L).map { i =>
      val s = graft.fixtures.Vocab.Sentences((i % graft.fixtures.Vocab.V).toInt)
      graft.model.Doc(s"png-$i", Seq(
        graft.model.Span("text", "direct", "", 0),
        graft.model.Span("image", "",
          SynthMediaStore.refPng(s, graft.fixtures.Vocab.Angles((i % 5).toInt), 3000, i), 1)))
    }
    val out = graft.pipeline.ExtractionJob.extract(spark, spark.createDataset(docs))
      .collect().map(d => d.doc_id -> d).toMap
    docs.foreach { in =>
      val want = graft.fixtures.DocGen.expectedSpans(in)
      assert(out(in.doc_id).spans == want, s"doc ${in.doc_id}")
      assert(out(in.doc_id).metrics.failed_spans == 0)
    }
  }

  test("PNG media_ref: fetch -> sniff -> decode -> OCR is exact (same pixels as the PGM path)") {
    val text = "مادة 12 فقره 3 من نظام المرافعات"
    val pgmRef = SynthMediaStore.ref(text, -1250, 3000, 5L)
    val pngRef = SynthMediaStore.refPng(text, -1250, 3000, 5L)
    val a = ImageCodec.decode(SynthMediaStore.fetch(pgmRef))
    val b = ImageCodec.decode(SynthMediaStore.fetch(pngRef))
    assert(a.width == b.width && a.height == b.height)
    assert(java.util.Arrays.equals(a.copyPixels, b.copyPixels), "PNG render != PGM render")
    val engine = new graft.ocr.OcrEngine(graft.ocr.GlyphClassifier.default)
    val r = engine.recognize(b)
    assert(r.text == text, s"OCR over PNG diverged: '${r.text}'")
  }
}
