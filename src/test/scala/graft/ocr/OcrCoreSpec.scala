package graft.ocr

import graft.image._
import graft.image.ReferencePng.RasterCopy
import graft.image.SynthFont._
import graft.text.ArabicNormalizer
import org.scalatest.funsuite.AnyFunSuite

/** Stage-by-stage unit tests for the pure OCR core (SURVEY.md §5.2). */
class OcrCoreSpec extends AnyFunSuite {

  test("font: glyph bitmaps satisfy structural invariants") {
    AllGlyphs.zip(Bitmaps).foreach { case (g, bm) =>
      // every column has >=2 off-baseline ink pixels (connector disambiguation)
      (0 until GlyphW).foreach { c =>
        val off = (0 until GlyphH).count(r => r != Baseline && bm(r * GlyphW + c))
        assert(off >= 2, s"glyph $g col $c has $off off-baseline pixels")
      }
      // every row has ink (line-band contiguity even for one isolated glyph)
      (0 until GlyphH).foreach { r =>
        assert((0 until GlyphW).exists(c => bm(r * GlyphW + c)), s"glyph $g missing row-$r ink")
      }
      // joining anchors
      if (g.form == Final || g.form == Medial)
        assert(bm(Baseline * GlyphW + GlyphW - 1), s"glyph $g missing right baseline anchor")
      if (g.form == Initial || g.form == Medial)
        assert(bm(Baseline * GlyphW), s"glyph $g missing left baseline anchor")
    }
  }

  test("font: pairwise Hamming distance >= MinPairwiseHamming") {
    val packed = Bitmaps.map(GlyphClassifier.pack)
    for (i <- packed.indices; j <- (i + 1) until packed.length) {
      val d = java.lang.Long.bitCount(packed(i) ^ packed(j))
      assert(d >= MinPairwiseHamming, s"glyphs ${AllGlyphs(i)} / ${AllGlyphs(j)} too close: $d")
    }
  }

  test("shaping: follows Arabic joining rules") {
    // بيت : beh (dual) + yeh (dual) + teh (dual) -> initial, medial, final
    assert(shapeWord("بيت").toSeq == Seq(Initial, Medial, Final))
    // دار : dal (right-join) + alef (right-join) + reh (right-join) -> all isolated
    assert(shapeWord("دار").toSeq == Seq(Isolated, Isolated, Isolated))
    // باب : beh + alef + beh -> initial, final, isolated
    assert(shapeWord("باب").toSeq == Seq(Initial, Final, Isolated))
    // digits never join
    assert(shapeWord("12").toSeq == Seq(Isolated, Isolated))
  }

  test("shaping property: independent Unicode-rule twin + resolver round-trip + violations") {
    import graft.image.SynthFont
    val letters = (SynthFont.Charset - SynthFont.Tatweel).toVector.sorted
    // independent re-derivation of the contextual rules from the
    // Unicode joining classes (a test-side twin of shapeWord)
    def expectedForm(w: String, i: Int): Int = {
      def canJoinNext(c: Char) = SynthFont.joining(c) == SynthFont.DualJoin
      def canJoinPrev(c: Char) = SynthFont.joining(c) != SynthFont.NoJoin
      val jp = i > 0 && canJoinNext(w(i - 1)) && canJoinPrev(w(i))
      val jn = canJoinNext(w(i)) && i + 1 < w.length && canJoinPrev(w(i + 1))
      if (jp && jn) SynthFont.Medial
      else if (jp) SynthFont.Final
      else if (jn) SynthFont.Initial
      else SynthFont.Isolated
    }
    val rnd = new scala.util.Random(17)
    (0 until 400).foreach { _ =>
      val w = (0 until 1 + rnd.nextInt(8)).map(_ => letters(rnd.nextInt(letters.size))).mkString
      val forms = SynthFont.shapeWord(w)
      w.indices.foreach { i =>
        assert(forms(i) == expectedForm(w, i), s"form mismatch in '$w' at $i")
        assert(SynthFont.formsOf(w(i)).contains(forms(i)), s"invalid form for '${w(i)}'")
      }
      // resolver round-trip: correctly-formed glyphs -> same text, 0 violations
      val glyphs = w.zip(forms).map { case (c, f) => SynthFont.GlyphId(c, f) }
      val r = LetterForms.resolveWord(glyphs)
      assert(r.text == w && r.formViolations == 0)
      // corrupt one dual-joining letter's form -> counted as a violation
      val di = w.indices.find(i => SynthFont.joining(w(i)) == SynthFont.DualJoin)
      di.foreach { i =>
        val wrong = SynthFont.formsOf(w(i)).find(_ != forms(i)).get
        val bad = glyphs.updated(i, SynthFont.GlyphId(w(i), wrong))
        val rb = LetterForms.resolveWord(bad)
        assert(rb.text == w, "violations must not corrupt the text")
        assert(rb.formViolations == 1, s"expected exactly 1 violation in '$w' at $i")
      }
    }
  }

  test("pgm: encode/decode roundtrip") {
    val img = SynthRenderer.render("نظام", 0, 0, 1L)
    val back = PgmCodec.decode(PgmCodec.encode(img))
    assert(back.width == img.width && back.height == img.height)
    assert(back.copyPixels.toSeq == img.copyPixels.toSeq)
  }

  test("otsu: threshold separates bimodal fixture intensities") {
    val img = SynthRenderer.render("قانون العمل", 0, 2000, 7L)
    val t = Otsu.threshold(img.histogram)
    assert(t >= SynthRenderer.InkHi && t < SynthRenderer.DustLo, s"threshold $t outside gap")
  }

  test("otsu: sampled threshold == full-histogram threshold on big rendered pages") {
    // the sampling path (stride > 1 kicks in above 16k px) must land
    // in the same empty ink/background gap as the full scan
    val text = (0 until 12).map(_ => "قانون العمل نظام المحكمه").mkString(" ")
    val img = SynthRenderer.render(text, 1250, 3000, 3L)
    assert(img.size > Otsu.HistSample, "fixture must actually exercise sampling")
    val sampled = Otsu.binarize(img)
    val tFull = Otsu.threshold(img.histogram)
    var fullInk = 0
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) { if (img(x, y) <= tFull) fullInk += 1; x += 1 }
      y += 1
    }
    assert(sampled.inkCount == fullInk, "sampled threshold diverged from full scan")
  }

  test("pathological sparse ink never yields phantom glyphs (degenerate-page guard)") {
    // 0.0025% ink: Otsu itself (sampled OR full) cannot separate a
    // class this small — between-class variance favors splitting the
    // background mode. The engine's ink-fraction guard must turn the
    // resulting degenerate binarization into an EMPTY result, never
    // phantom text (reference skip-and-continue, smart.py:104-105)
    val img = GrayImage.filled(2000, 1200, 0)
    val rnd = new scala.util.Random(5)
    var i = 0
    while (i < img.size) { img.pixels(i) = (200 + rnd.nextInt(46)).toByte; i += 1 }
    var k = 0
    while (k < 60) { img.set(500 + k, 600, 30 + (k % 50)); k += 1 }
    val res = new OcrEngine(GlyphClassifier.default).recognize(img)
    assert(res.glyphsClassified == 0 && res.text == "")
  }

  test("deskew: recovers injected shear angle exactly") {
    val text = "نظام المحكمه قرار 1445/11/07 عقد جديد"
    for (angle <- Seq(-3000, -1750, -250, 0, 250, 1500, 3000)) {
      val img = SynthRenderer.render(text, angle, 1000, 11L)
      val bin = Otsu.binarize(img)
      val detected = Deskew.rankedAngles(bin).head
      // exactness requirement is on the restored raster, not the angle id:
      val a = Deskew.unshear(bin, detected)
      val b = Deskew.unshear(bin, angle)
      def inkRows(x: BinaryImage): Seq[Int] =
        (0 until x.height).filter(y => (0 until x.width).exists(c => x(c, y)))
      assert(inkRows(a).size == inkRows(b).size, s"angle $angle detected $detected smears rows")
    }
  }

  test("segmentation: line bands are GlyphH tall, counts match layout") {
    val text = "نظام المحكمه قرار مجلس الوزراء رقم 144 بشان لائحه العقود الجديده للمقاولات العامه والخاصه"
    val img = SynthRenderer.render(text, 0, 0, 3L)
    val bin = Otsu.binarize(img)
    val bands = Segmentation.lineBands(bin)
    val expectedLines = SynthRenderer.layout(text).lines.size
    assert(bands.size == expectedLines)
    bands.foreach(b => assert(b.height == GlyphH, s"band $b height ${b.height}"))
  }

  test("ocr roundtrip: recognize(render(text)) == text, clean") {
    val engine = new OcrEngine(GlyphClassifier.default)
    val texts = Seq(
      "نظام",
      "حكم المحكمه رقم 42",
      "عقد اتفاقيه بين الطرفين بتاريخ 1445/3/15",
      "مجموعه الاحكام القضائيه ماده 12 فقره 3",
      "قانون تنظيم القضاء. ماده 1. لا يجوز",
      "ب ت ث 0123456789 ./،()-:"
    )
    texts.foreach { t =>
      val img = SynthRenderer.render(t, 0, 0, 5L)
      val res = engine.recognize(img)
      val want = t.split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(res.text == want, s"mismatch for '$t': got '${res.text}'")
      assert(res.glyphConfidences.forall(_ == 1.0))
    }
  }

  test("ocr roundtrip: exact under skew and noise") {
    val engine = new OcrEngine(GlyphClassifier.default)
    val texts = Seq(
      "نظام العمل والعمال الجديد لسنه 1445",
      "حكم محكمه الاستيناف في القضيه رقم 7821 بتاريخ 1444/12/01",
      "عقد مقاوله وشراكه بين شركه البناء وشركه التطوير العقاري"
    )
    for (t <- texts; angle <- Seq(-2250, 0, 1750); noise <- Seq(0, 3000, 8000)) {
      val img = SynthRenderer.render(t, angle, noise, 13L + angle + noise)
      val res = engine.recognize(img)
      val want = t.split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(res.text == want, s"mismatch t='$t' angle=$angle noise=$noise: got '${res.text}'")
      assert(res.formViolations == 0)
    }
  }

  test("tatweel + Arabic-Indic digits: kashida consumed as connector, exact after normalization") {
    val engine = new OcrEngine(GlyphClassifier.default)
    val t = "نظام الـعمل الموحد رقم ٧٤ لسنه ١٤٤٥"
    for (angle <- Seq(0, -1750); noise <- Seq(0, 5000)) {
      val img = SynthRenderer.render(t, angle, noise, 17L)
      val res = engine.recognize(img)
      assert(res.text == t.replace("ـ", ""), s"angle=$angle noise=$noise got '${res.text}'")
      assert(res.formViolations == 0)
      assert(ArabicNormalizer.normalizeBasic(res.text) == ArabicNormalizer.normalizeBasic(t))
    }
  }

  test("ocr: blank image yields empty result") {
    val engine = new OcrEngine(GlyphClassifier.default)
    val res = engine.recognize(GrayImage.filled(32, 32, 230))
    assert(res.text == "")
    assert(res.linesSegmented == 0)
  }

  test("normalizer: golden cases cover every reference rule") {
    import ArabicNormalizer._
    assert(normalizeBasic("أحمد") == "احمد") // alef hamza above
    assert(normalizeBasic("إلى") == "الى") // alef hamza below
    assert(normalizeBasic("آخر") == "اخر") // alef madda
    assert(normalizeBasic("مكتبة") == "مكتبه") // teh marbuta
    assert(normalizeBasic("علي") == "على") // yeh -> alef maksura
    assert(normalizeBasic("مُحَمَّد") == "محمد") // diacritics stripped
    assert(normalizeBasic("الـكتاب") == "الكتاب") // tatweel stripped
    assert(normalizeBasic("  a\t\tb\n c  ") == "a b c") // ws collapse
    assert(normalizeBasic("") == "")
    assert(normalizeBasic(null) == "")
    assert(normalizeEnhanced("سؤال؟ جواب۔") == "سوال. جواب.".replace("سو", "سؤ")) // punct mapped, hamza-on-waw untouched
    assert(normalizeEnhanced("a ً b") == "a b") // enhanced re-collapses the double space
    assert(normalizeBasic("a ً b") == "a  b") // basic keeps it (faithful quirk)
  }
}
