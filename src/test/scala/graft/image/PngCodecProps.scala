package graft.image

import graft.image.ReferencePng.RasterCopy
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck exactness law for the in-place PNG decoder: it equals the
  * concatenate-then-unfilter twin in ReferencePng on random rasters,
  * with any filter per row, stored and compressed streams, and IDAT
  * split at random points (empty chunks included).
  */
object PngCodecProps extends Properties("graft.image.png") {

  /** A random raster, a filter per row, a deflate level (0 = stored),
    * IDAT cut points and whether an ancillary chunk rides along.
    */
  private[image] val encoded: Gen[(GrayImage, Array[Byte])] = for {
    w <- Gen.frequency(3 -> Gen.chooseNum(1, 70), 1 -> Gen.oneOf(1, 2, 255, 460))
    h <- Gen.chooseNum(1, 24)
    seed <- Gen.long
    filters <- Gen.listOfN(h, Gen.chooseNum(0, 4))
    level <- Gen.oneOf(0, 1, 6, 9)
    cuts <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.chooseNum(0, 2 * (w + 1) * h + 64)))
    ancillary <- Gen.oneOf(false, true)
  } yield {
    val px = new Array[Byte](w * h)
    val rnd = new scala.util.Random(seed)
    // smooth rows compress, so the compressed streams use real matches
    if (rnd.nextBoolean()) rnd.nextBytes(px)
    else for (i <- px.indices) px(i) = ((i % w) * 3 + (i / w) + rnd.nextInt(4)).toByte
    val img = new GrayImage(w, h, px)
    img -> ReferencePng.encode(img, filters.toArray, level, cuts, ancillary)
  }

  property("decode == concatenate-then-unfilter twin, any filters, stored or compressed, split IDAT") =
    // no shrinking: shrinking the encoded bytes only yields broken PNGs
    Prop.forAllNoShrink(encoded) { case (img, png) =>
      val got = PngCodec.decode(png)
      val want = ReferencePng.decode(png)
      (got.width == want.width && got.height == want.height) :| "dimensions differ" &&
        java.util.Arrays.equals(got.copyPixels, want.copyPixels) :| "pixels differ from the twin" &&
        java.util.Arrays.equals(got.copyPixels, img.copyPixels) :| "pixels differ from the source raster"
    }
}
