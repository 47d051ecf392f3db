package graft.image

import scala.collection.mutable

/** Deterministic embedded bitmap font for Arabic script with contextual
  * letter forms (isolated/initial/medial/final).
  *
  * The reference delegates glyph shapes to pretrained OCR models
  * (PaddleOCR et al., /root/reference/requirements.txt:9-15); since our
  * engine must be fully offline and deterministic (FIXTURES.md §1), the
  * font is *generated* from a seeded hash rather than embedded as pixel
  * data: every (codepoint, form) pair gets a unique 6x10 bitmap with
  * structural invariants that make segmentation and classification
  * exact by construction:
  *
  *   - every glyph column has >=1 ink pixel OFF the baseline row, so a
  *     column whose only ink sits on the baseline is unambiguously an
  *     inter-letter connector stroke (cursive joining);
  *   - every glyph has ink in its top row and bottom row, so a text
  *     line's band is always exactly GlyphH rows tall;
  *   - forms that join to the previous/next letter carry a baseline
  *     anchor pixel on the corresponding edge;
  *   - pairwise Hamming distance between any two glyph bitmaps is
  *     >= MinPairwiseHamming, so nearest-centroid classification stays
  *     exact under up to (MinPairwiseHamming-1)/2 dropped ink pixels.
  *
  * Joining types follow the public Unicode ArabicShaping data (right-
  * joining vs dual-joining vs non-joining); the contextual-form rules
  * are the standard Arabic shaping algorithm.
  */
object SynthFont {
  val GlyphW = 6
  val GlyphH = 10
  val Baseline = 5 // row index of the cursive joining stroke
  val GlyphArea: Int = GlyphW * GlyphH
  val MinPairwiseHamming = 8
  val MaxNoiseDrops = 3 // (MinPairwiseHamming - 1) / 2, rounded down

  // Layout constants shared by renderer and segmenter.
  val LetterGap = 2 // empty columns between non-joined letters of one word
  val ConnectorW = 2 // baseline-only columns between joined letters
  val WordGap = 5 // empty columns between words (boundary threshold: >=3)
  val WordGapThreshold = 3
  val LineGap = 6 // empty rows between line bands
  val Margin = 6

  /** Unicode joining classes (subset we support). */
  sealed trait Joining
  case object DualJoin extends Joining // joins both sides
  case object RightJoin extends Joining // joins only to the preceding letter
  case object NoJoin extends Joining // never joins (hamza, digits, punct)

  // Arabic letters by joining type (Unicode ArabicShaping.txt, public):
  private val rightJoining = "اآأإؤدذرزوة".toSet
  private val dualJoining = "بتثجحخسشصضطظعغفقكلمنهيئى".toSet
  private val nonJoining = "ء".toSet
  private val digitsPunct = "0123456789٠١٢٣٤٥٦٧٨٩./،()-: ".toSet

  /** Tatweel (kashida): dual-joining, but rendered as a bare baseline
    * elongation stroke, NOT a glyph — segmentation consumes it as a
    * connector run and normalization strips it (smart.py:199), so it
    * round-trips exactly for in-word usage. (A standalone tatweel
    * token has no stable round-trip under the reference's basic
    * normalization double-space quirk; generators never emit one.)
    */
  val Tatweel = 'ـ'

  /** Full supported charset (space handled by layout, not a glyph). */
  val Charset: Set[Char] =
    rightJoining ++ dualJoining ++ nonJoining ++ (digitsPunct - ' ') + Tatweel

  // flat lookup tables: joining() runs ~9x per char during shaping
  // (render AND letter-form resolution), and Set[Char] lookups box —
  // every supported char is below U+0700
  private val JoinTable: Array[Byte] = {
    val t = new Array[Byte](0x700) // 0 = NoJoin
    rightJoining.foreach(c => t(c) = 1)
    dualJoining.foreach(c => t(c) = 2)
    t(Tatweel) = 2
    t
  }
  private val CharsetMask: Array[Boolean] = {
    val m = new Array[Boolean](0x700)
    Charset.foreach(c => m(c) = true)
    m
  }

  @inline def inCharset(c: Char): Boolean = c < 0x700 && CharsetMask(c)

  def joining(c: Char): Joining =
    if (c < 0x700) JoinTable(c) match {
      case 2 => DualJoin
      case 1 => RightJoin
      case _ => NoJoin
    } else NoJoin

  // Contextual forms.
  val Isolated = 0; val Final = 1; val Initial = 2; val Medial = 3

  /** Valid forms per joining type. */
  def formsOf(c: Char): Seq[Int] = joining(c) match {
    case DualJoin => Seq(Isolated, Final, Initial, Medial)
    case RightJoin => Seq(Isolated, Final)
    case NoJoin => Seq(Isolated)
  }

  /** Standard Arabic contextual shaping over one word (logical order):
    * a letter connects to its predecessor iff the predecessor is
    * dual-joining and the letter itself is right- or dual-joining; it
    * connects to its successor iff it is dual-joining and the successor
    * is right- or dual-joining.
    */
  def shapeWord(word: String): Array[Int] = {
    val n = word.length
    val out = new Array[Int](n)
    @inline def jt(c: Char): Int = if (c < 0x700) JoinTable(c) else 0
    var i = 0
    while (i < n) {
      val j = jt(word.charAt(i))
      val joinPrev = i > 0 && jt(word.charAt(i - 1)) == 2 && j >= 1
      val joinNext = j == 2 && i < n - 1 && jt(word.charAt(i + 1)) >= 1
      out(i) =
        if (joinPrev && joinNext) Medial
        else if (joinPrev) Final
        else if (joinNext) Initial
        else Isolated
      i += 1
    }
    out
  }

  /** A glyph's identity: (char, contextual form). */
  final case class GlyphId(c: Char, form: Int)

  // --- deterministic bitmap generation -------------------------------

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Small deterministic PRNG stream. */
  private final class Rng(seed: Long) {
    private var s = mix(seed)
    def nextLong(): Long = { s = mix(s); s }
    def nextInt(bound: Int): Int = {
      val v = (nextLong() >>> 1) % bound
      v.toInt
    }
  }

  private def hamming(a: Array[Boolean], b: Array[Boolean]): Int = {
    var d = 0; var i = 0
    while (i < a.length) { if (a(i) != b(i)) d += 1; i += 1 }
    d
  }

  /** Fixed, deterministic enumeration order of all glyphs (tatweel is
    * deliberately absent — it has no glyph bitmap).
    */
  val AllGlyphs: IndexedSeq[GlyphId] = {
    val letters = ("اآأإؤدذرزوة" + "بتثجحخسشصضطظعغفقكلمنهيئى" + "ء" +
      "0123456789٠١٢٣٤٥٦٧٨٩./،()-:").toIndexedSeq
    letters.flatMap(c => formsOf(c).map(f => GlyphId(c, f)))
  }

  /** glyph index lookup */
  val GlyphIndex: Map[GlyphId, Int] = AllGlyphs.zipWithIndex.toMap

  /** One 6x10 bitmap per glyph (row-major, index r*GlyphW+c). Generated
    * once, deterministically; order-dependent retry on Hamming
    * collisions keeps the whole table reproducible.
    */
  val Bitmaps: IndexedSeq[Array[Boolean]] = {
    val accepted = mutable.ArrayBuffer.empty[Array[Boolean]]
    AllGlyphs.foreach { g =>
      var salt = 0
      var done = false
      while (!done) {
        val bm = genCandidate(g, salt)
        if (accepted.forall(o => hamming(o, bm) >= MinPairwiseHamming)) {
          accepted += bm
          done = true
        } else salt += 1
      }
    }
    accepted.toIndexedSeq
  }

  private def genCandidate(g: GlyphId, salt: Int): Array[Boolean] = {
    val rng = new Rng(g.c.toLong * 7919L + g.form * 131L + salt * 1000003L)
    val bm = new Array[Boolean](GlyphArea)
    @inline def set(r: Int, c: Int): Unit = bm(r * GlyphW + c) = true
    // per column: 2-3 ink pixels off the baseline row
    var c = 0
    while (c < GlyphW) {
      val k = 2 + rng.nextInt(2)
      var placed = 0
      while (placed < k) {
        var r = rng.nextInt(GlyphH)
        if (r == Baseline) r = (r + 1) % GlyphH
        if (!bm(r * GlyphW + c)) { set(r, c); placed += 1 }
      }
      c += 1
    }
    // guarantee ink in EVERY row: a line band must be one contiguous
    // GlyphH-row run even for a single isolated glyph (otherwise an
    // all-empty interior row would split the band)
    var r = 0
    while (r < GlyphH) {
      var has = false
      var cc = 0
      while (cc < GlyphW && !has) { has = bm(r * GlyphW + cc); cc += 1 }
      if (!has) set(r, rng.nextInt(GlyphW))
      r += 1
    }
    // joining anchors on the baseline: previous letter sits to the
    // RIGHT in RTL rendering, next letter to the LEFT.
    if (g.form == Final || g.form == Medial) set(Baseline, GlyphW - 1)
    if (g.form == Initial || g.form == Medial) set(Baseline, 0)
    bm
  }

  /** Classifier feature vectors == the bitmaps (the "model weights"
    * compiled into every executor; see graft.ocr.GlyphClassifier).
    */
  def centroids: Array[Array[Boolean]] = Bitmaps.toArray

  /** Pixel width of a shaped word: n glyphs + (n-1) inter-letter gaps
    * (connector or empty gap, both ConnectorW==LetterGap wide).
    */
  def wordWidth(word: String): Int =
    if (word.isEmpty) 0 else word.length * GlyphW + (word.length - 1) * LetterGap
}
