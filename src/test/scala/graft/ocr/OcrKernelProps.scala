package graft.ocr

import graft.image.{BinaryImage, GrayImage, SynthRenderer}
import graft.image.SynthFont.{GlyphH, GlyphW}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck exactness laws for the word-level OCR kernels: each one
  * equals its per-pixel twin in ReferenceOcr, on random rasters (edge
  * widths around the 64-bit word, bands taller than 64 rows and
  * shorter than GlyphH) and on rendered pages at every grid angle.
  */
object OcrKernelProps extends Properties("graft.ocr.kernels") {

  private val width: Gen[Int] = Gen.frequency(
    3 -> Gen.oneOf(1, 63, 64, 65, 460),
    2 -> Gen.chooseNum(1, 200))

  private val gray: Gen[GrayImage] = for {
    w <- width
    h <- Gen.chooseNum(1, 12)
    seed <- Gen.long
  } yield {
    val img = GrayImage.filled(w, h, 0)
    val rnd = new scala.util.Random(seed)
    var i = 0
    while (i < img.size) { img.pixels(i) = rnd.nextInt(256).toByte; i += 1 }
    img
  }

  /** A raster that is a view into a longer array: random bytes before
    * it (a PGM header's place) and after it.
    */
  private val grayView: Gen[GrayImage] = for {
    w <- Gen.chooseNum(1, 200)
    h <- Gen.chooseNum(1, 12)
    offset <- Gen.chooseNum(1, 17)
    trailing <- Gen.chooseNum(0, 9)
    seed <- Gen.long
  } yield {
    val px = new Array[Byte](offset + w * h + trailing)
    new scala.util.Random(seed).nextBytes(px)
    new GrayImage(w, h, px, offset)
  }

  private val binary: Gen[BinaryImage] = for {
    w <- width
    h <- Gen.frequency(2 -> Gen.chooseNum(1, GlyphH - 1), 2 -> Gen.chooseNum(GlyphH, 64), 1 -> Gen.chooseNum(65, 80))
    density <- Gen.oneOf(0.02, 0.3, 0.7)
    seed <- Gen.long
  } yield {
    val bin = BinaryImage.blank(w, h)
    val rnd = new scala.util.Random(seed)
    for (y <- 0 until h; x <- 0 until w) if (rnd.nextDouble() < density) bin.set(x, y, true)
    bin
  }

  private val words = IndexedSeq("نظام", "المحكمه", "قرار", "1445/11/07", "عقد", "جديد", "قانون", "العمل")

  /** A rendered page at any grid angle and noise level. */
  private val page: Gen[GrayImage] = for {
    n <- Gen.chooseNum(1, 30)
    text <- Gen.listOfN(n, Gen.oneOf(words)).map(_.mkString(" "))
    angle <- Gen.oneOf(Deskew.AngleGridMdeg)
    noise <- Gen.oneOf(0, 1000, 4000)
    seed <- Gen.long
  } yield SynthRenderer.render(text, angle, noise, seed)

  private def band(bin: BinaryImage): Gen[Segmentation.LineBand] = Gen.frequency(
    1 -> Gen.const(Segmentation.LineBand(0, bin.height - 1)),
    2 -> (for {
      top <- Gen.chooseNum(0, bin.height - 1)
      bottom <- Gen.chooseNum(top, bin.height - 1)
    } yield Segmentation.LineBand(top, bottom)))

  private def scoresMatch(bin: BinaryImage): Prop = {
    val scorer = new Deskew.Scorer(bin)
    val mismatched = Deskew.AngleGridMdeg.filter(a => scorer(a) != ReferenceOcr.deskewScore(bin, a))
    // an inkless raster short-circuits to angle 0 before any scoring
    val ranked = bin.inkCount == 0 || Deskew.rankedAngles(bin) == Deskew.rank(ReferenceOcr.deskewScore(bin, _))
    (mismatched.isEmpty :| s"scores differ at $mismatched") && (ranked :| "ranking differs")
  }

  property("Otsu.pack == per-pixel threshold on random rasters and thresholds") =
    Prop.forAll(gray, Gen.chooseNum(0, 255)) { (img, t) =>
      Otsu.pack(img, t).words.sameElements(ReferenceOcr.pack(img, t).words) &&
        Otsu.binarize(img).words.sameElements(ReferenceOcr.pack(img, Otsu.sampledThreshold(img)).words)
    }

  property("Otsu.pack == per-pixel threshold on offset views, widths 1 to 200, t of 0 and 255") =
    Prop.forAll(grayView, Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(255), 2 -> Gen.chooseNum(0, 255))) {
      (img, t) => Otsu.pack(img, t).words.sameElements(ReferenceOcr.pack(img, t).words)
    }

  property("columnMasks == per-pixel masks, bands of 1 to 80 rows") =
    Prop.forAll(binary.flatMap(b => band(b).map(b -> _))) { case (bin, bd) =>
      Segmentation.columnMasks(bin, bd).sameElements(ReferenceOcr.columnMasks(bin, bd))
    }

  property("extractGlyph == per-bit packing for any masks, widths and band heights") =
    Prop.forAll(Gen.listOfN(12, Gen.long), Gen.chooseNum(0, 11), Gen.chooseNum(1, 80)) { (ms, left, bandH) =>
      val masks = ms.toArray
      (left until masks.length).forall { right =>
        Segmentation.extractGlyph(masks, left, right, bandH) == ReferenceOcr.extractGlyph(masks, left, right, bandH)
      }
    }

  property("Deskew.Scorer == per-pixel row histogram at all 25 angles on random rasters") =
    Prop.forAll(binary)(scoresMatch)

  /** Ink on every edge pixel, so unshear fills its first and last rows. */
  private val framed: Gen[BinaryImage] = binary.map { bin =>
    for (x <- 0 until bin.width) { bin.set(x, 0, true); bin.set(x, bin.height - 1, true) }
    for (y <- 0 until bin.height) { bin.set(0, y, true); bin.set(bin.width - 1, y, true) }
    bin
  }

  property("Deskew.unshear == per-pixel shear at all 25 grid angles and off-grid angles") =
    Prop.forAll(Gen.oneOf(binary, framed), Gen.listOfN(3, Gen.chooseNum(-4000, 4000))) { (bin, offGrid) =>
      val differ = (Deskew.AngleGridMdeg ++ offGrid).filterNot { a =>
        val got = Deskew.unshear(bin, a)
        val want = ReferenceOcr.unshear(bin, a)
        got.height == want.height && got.words.sameElements(want.words)
      }
      differ.isEmpty :| s"unshear differs at $differ"
    }

  property("rendered pages: pack, masks, glyphs and deskew scores match their twins") =
    Prop.forAll(page) { img =>
      val bin = Otsu.binarize(img)
      val packed = bin.words.sameElements(ReferenceOcr.pack(img, Otsu.sampledThreshold(img)).words)
      val angle = Deskew.rankedAngles(bin).head
      val straight = Deskew.unshear(bin, angle)
      val unsheared = straight.words.sameElements(ReferenceOcr.unshear(bin, angle).words)
      val glyphsMatch = Segmentation.lineBands(straight).forall { bd =>
        val masks = Segmentation.columnMasks(straight, bd)
        masks.sameElements(ReferenceOcr.columnMasks(straight, bd)) &&
          (0 to masks.length - GlyphW).forall { l =>
            val r = l + GlyphW - 1
            Segmentation.extractGlyph(masks, l, r, bd.height) == ReferenceOcr.extractGlyph(masks, l, r, bd.height)
          }
      }
      (packed :| "binarized page differs") && (unsheared :| "unsheared page differs") &&
        (glyphsMatch :| "masks or glyphs differ") && scoresMatch(bin)
    }
}
