package graft.image

import SynthFont._

/** Deterministic page renderer: draws text with the embedded synthetic
  * Arabic font, right-to-left, with cursive baseline connectors,
  * optional shear skew and seeded noise.
  *
  * Stands in for the reference's page rasterization
  * (page.get_pixmap(matrix=fitz.Matrix(2,2)), smart.py:91-92): it is
  * the "media store" that resolves a span's media_ref into page-image
  * bytes. Because we render it, the expected OCR output is known
  * exactly — the basis of the exact span-sequence-equality oracle
  * (FIXTURES.md §1-2).
  *
  * Determinism contract: render(text, angle, noise, seed) is a pure
  * function; all randomness flows from the explicit seed.
  *
  * Noise model (all survive binarization-exactness by construction):
  *   - ink intensity jitter in [25, 80];
  *   - background jitter in [200, 245];
  *   - sparse "dust" dots in [170, 190] (cleaned by Otsu);
  *   - per-glyph ink-pixel dropout, capped at SynthFont.MaxNoiseDrops
  *     and constrained to keep the segmentation invariants (every
  *     column keeps off-baseline ink; top/bottom rows keep ink).
  *
  * Skew model: vertical shear — each column x is shifted down by
  * shiftY(angle, x). Exactly invertible on the pixel grid, so deskew
  * (graft.ocr.Deskew) recovers the unskewed raster bit-exactly.
  */
object SynthRenderer {

  /** wrap width of the text area in pixels (excluding margins) */
  val MaxTextWidth = 420

  val InkLo = 25; val InkHi = 80
  val BgLo = 200; val BgHi = 245
  // dust sits on the dark skirt of the background mode: with ink
  // present, Otsu's between-class split always lands in the empty
  // (InkHi, DustLo) gap, so dust binarizes to background regardless of
  // density — "cleaned by binarization" is structural, not statistical
  val DustLo = 188; val DustHi = 199

  final case class Layout(lines: Vector[Vector[String]], textWidth: Int, textHeight: Int)

  @inline def shiftY(angleMdeg: Int, x: Int): Int =
    Math.round(Math.tan(angleMdeg / 1000.0 * Math.PI / 180.0) * x).toInt

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Greedy RTL word wrap at MaxTextWidth. Pure function of the text. */
  def layout(text: String): Layout = {
    val words = wsPattern.split(text).filter(_.nonEmpty).toVector
    words.foreach(w => w.foreach { c =>
      require(SynthFont.inCharset(c), s"char not in synth font charset: U+${c.toInt.toHexString} '$c'")
    })
    if (words.isEmpty) return Layout(Vector.empty, 0, 0)
    val lines = Vector.newBuilder[Vector[String]]
    var cur = Vector.empty[String]
    var curW = 0
    words.foreach { w =>
      val ww = wordWidth(w)
      val cand = if (cur.isEmpty) ww else curW + WordGap + ww
      if (cur.nonEmpty && cand > MaxTextWidth) {
        lines += cur; cur = Vector(w); curW = ww
      } else { cur = cur :+ w; curW = cand }
    }
    if (cur.nonEmpty) lines += cur
    val ls = lines.result()
    val tw = ls.map(lineWidth).max
    val th = ls.size * GlyphH + (ls.size - 1) * LineGap
    Layout(ls, tw, th)
  }

  def lineWidth(words: Seq[String]): Int =
    words.map(wordWidth).sum + (words.size - 1) * WordGap

  /** Canvas dimensions for a given text+angle (used by metadata ops
    * and by the oracle constants in graft.queries.MediaQueries).
    */
  def dimensions(text: String, angleMdeg: Int): (Int, Int) =
    dims(layout(text), angleMdeg)

  private def dims(l: Layout, angleMdeg: Int): (Int, Int) =
    if (l.lines.isEmpty) (16, 16)
    else {
      val w = l.textWidth + 2 * Margin
      val skew = math.abs(shiftY(angleMdeg, w - 1))
      (w, l.textHeight + 2 * Margin + skew)
    }

  private final class Rng(seed: Long) {
    private var s = seed
    @inline private def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextInt(bound: Int): Int = { s = mix(s); ((s >>> 1) % bound).toInt }
    def nextLong(): Long = { s = mix(s); s }
  }

  def render(text: String, angleMdeg: Int, noisePpm: Int, seed: Long): GrayImage = {
    val l = layout(text)
    val (w, h) = dims(l, angleMdeg)
    renderInto(l, angleMdeg, noisePpm, seed, new Array[Byte](w * h), 0)
  }

  /** Full PGM payload in one pass: layout computed ONCE, raster
    * rendered straight into the payload (the fetch hot path previously
    * ran layout() three times per page via dimensions + renderInto).
    */
  def renderPgm(text: String, angleMdeg: Int, noisePpm: Int, seed: Long): Array[Byte] =
    renderPgm(text, angleMdeg, noisePpm, seed, null)

  /** renderPgm with caller-provided scratch: when `reuse` is large
    * enough the payload is written into it (the PGM header makes the
    * trailing stale bytes invisible to the decoder) — page-scale OCR
    * at high task parallelism is allocation/bandwidth-bound, and the
    * payload is the single biggest per-image allocation on the fetch
    * path. A too-small scratch grows with 25% slack so a task
    * converges to one buffer; a null scratch allocates EXACT size —
    * plain fetch() callers (e.g. FrameCodec's concatenated payloads)
    * depend on payloads with no trailing slack.
    */
  def renderPgm(text: String, angleMdeg: Int, noisePpm: Int, seed: Long,
                reuse: Array[Byte]): Array[Byte] = {
    val l = layout(text)
    val (w, h) = dims(l, angleMdeg)
    val header = PgmCodec.headerBytes(w, h)
    val needed = header.length + w * h
    val out = if (reuse == null) new Array[Byte](needed)
              else if (reuse.length >= needed) reuse
              else new Array[Byte](needed + (needed >> 2))
    System.arraycopy(header, 0, out, 0, header.length)
    renderInto(l, angleMdeg, noisePpm, seed, out, header.length)
    out
  }

  /** Render directly into `buf` at `off` (e.g. the raster section of a
    * pre-allocated PGM payload) — avoids a full-raster copy on the
    * fetch path, where memory bandwidth bounds N->4N scaling.
    */
  private def renderInto(l: Layout, angleMdeg: Int, noisePpm: Int, seed: Long,
                         buf: Array[Byte], off: Int): GrayImage = {
    val (w, h) = dims(l, angleMdeg)
    val rng = new Rng(seed * 1000003L + angleMdeg * 7919L + noisePpm)
    val img = new GrayImage(w, h, buf, off)
    // background jitter: one RNG mix yields 8 pixels (the per-pixel mix
    // was half the render cost; modulo bias over a 46-value range from
    // 8-bit lanes is <0.4% and irrelevant to the bimodal histogram).
    // SWAR: each byte lane maps b -> BgLo + ((b * bgRange) >>> 8),
    // BIT-IDENTICAL to the per-byte loop (lane products fit 16 bits:
    // 255*46 < 2^16; lane sums stay < 256, so no carries cross lanes)
    val bgRange = BgHi - BgLo + 1
    val laneMask = 0x00ff00ff00ff00ffL
    val laneBg = BgLo.toLong * 0x0001000100010001L
    // little-endian long view: 8 jittered pixels per store (the fill
    // is the largest single memory-write pass of a render, and page
    // OCR is bandwidth-bound at high parallelism)
    val bb = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = img.offset
    val end = img.offset + img.size
    while (i + 8 <= end) {
      val v = rng.nextLong()
      val even = ((((v & laneMask) * bgRange) >>> 8) & laneMask) + laneBg
      val odd = (((((v >>> 8) & laneMask) * bgRange) >>> 8) & laneMask) + laneBg
      bb.putLong(i, even | (odd << 8))
      i += 8
    }
    while (i < end) {
      img.pixels(i) = (BgLo + rng.nextInt(bgRange)).toByte
      i += 1
    }
    // negative angles shift up: bias so everything stays in-canvas
    val yoff = math.max(0, -shiftY(angleMdeg, w - 1))
    // per-column shear lookup: one tan() per render, not per pixel
    val shiftX = Array.tabulate(w)(x => shiftY(angleMdeg, x))
    // ink intensity jittered PER PIXEL — deliberately: per-glyph
    // constant intensity collapses within-ink variance and lets Otsu's
    // between-class split land INSIDE the ink cluster (observed t=74
    // in-range), breaking the structural binarization-exactness
    // guarantee (tried and reverted)
    @inline def put(x: Int, y: Int): Unit = {
      if (x >= 0 && x < w) {
        val yy = y + yoff + shiftX(x)
        if (yy >= 0 && yy < h)
          img.set(x, yy, InkLo + rng.nextInt(InkHi - InkLo + 1))
      }
    }

    // per-render scratch for glyph dropout (see glyphWithDropout)
    val scratchBm = new Array[Boolean](GlyphArea)
    val scratchIdx = new Array[Int](GlyphArea)

    var lineIdx = 0
    l.lines.foreach { words =>
      val y0 = Margin + lineIdx * (GlyphH + LineGap)
      var xRight = Margin + lineWidth(words) // exclusive right edge
      words.foreach { word =>
        val forms = shapeWord(word)
        var gi = 0
        while (gi < word.length) {
          val gx = xRight - (gi + 1) * GlyphW - gi * LetterGap // left edge of glyph gi
          val ch = word.charAt(gi)
          if (ch == SynthFont.Tatweel) {
            // kashida: bare baseline elongation across the glyph slot
            var c = 0
            while (c < GlyphW) { put(gx + c, y0 + Baseline); c += 1 }
          } else {
            val bm = glyphWithDropout(GlyphId(ch, forms(gi)), noisePpm, rng, scratchBm, scratchIdx)
            var r = 0
            while (r < GlyphH) {
              var c = 0
              while (c < GlyphW) {
                if (bm(r * GlyphW + c)) put(gx + c, y0 + r)
                c += 1
              }
              r += 1
            }
          }
          // cursive connector to the NEXT letter (drawn to the left)
          if (forms(gi) == Initial || forms(gi) == Medial) {
            put(gx - 2, y0 + Baseline)
            put(gx - 1, y0 + Baseline)
          }
          gi += 1
        }
        xRight -= wordWidth(word) + WordGap
      }
      lineIdx += 1
    }

    // dust: sparse mid-gray dots on background (cleaned by Otsu)
    if (noisePpm > 0 && l.lines.nonEmpty) {
      val nDots = (w.toLong * h * noisePpm / 1000000L).toInt
      var d = 0
      while (d < nDots) {
        val x = rng.nextInt(w); val y = rng.nextInt(h)
        if (img(x, y) >= BgLo) img.set(x, y, DustLo + rng.nextInt(DustHi - DustLo + 1))
        d += 1
      }
    }
    img
  }

  /** Glyph bitmap with up to MaxNoiseDrops ink pixels removed,
    * preserving the segmentation invariants. Writes into the caller's
    * scratch buffers (the result is consumed before the next glyph, so
    * one scratch pair per render kills a clone + index array per glyph
    * — gigabytes of churn per bench run).
    */
  private def glyphWithDropout(g: GlyphId, noisePpm: Int, rng: Rng,
                               scratchBm: Array[Boolean], scratchIdx: Array[Int]): Array[Boolean] = {
    val base = Bitmaps(GlyphIndex(g))
    if (noisePpm <= 0) return base
    val dropThreshold = math.min(noisePpm.toLong * 50L, 400000L) // <=40% per attempt
    val bm = scratchBm
    System.arraycopy(base, 0, bm, 0, base.length)
    val inkIdx = scratchIdx
    var nInk = 0
    var i = 0
    while (i < bm.length) { if (bm(i)) { inkIdx(nInk) = i; nInk += 1 }; i += 1 }
    var drops = 0
    var attempt = 0
    while (attempt < MaxNoiseDrops) {
      if (rng.nextInt(1000000) < dropThreshold && nInk > 0) {
        val at = rng.nextInt(nInk)
        val pick = inkIdx(at)
        val r = pick / GlyphW; val c = pick % GlyphW
        if (canDrop(bm, r, c)) {
          bm(pick) = false; drops += 1
          inkIdx(at) = inkIdx(nInk - 1); nInk -= 1
        }
      }
      attempt += 1
    }
    bm
  }

  private def canDrop(bm: Array[Boolean], r: Int, c: Int): Boolean = {
    @inline def colOffBaseline(cc: Int): Int = {
      var n = 0; var rr = 0
      while (rr < GlyphH) { if (rr != Baseline && bm(rr * GlyphW + cc)) n += 1; rr += 1 }
      n
    }
    @inline def colTotal(cc: Int): Int = {
      var n = 0; var rr = 0
      while (rr < GlyphH) { if (bm(rr * GlyphW + cc)) n += 1; rr += 1 }
      n
    }
    @inline def rowCount(rr: Int): Int = {
      var n = 0; var cc = 0
      while (cc < GlyphW) { if (bm(rr * GlyphW + cc)) n += 1; cc += 1 }
      n
    }
    // keep: per-column off-baseline ink (connector disambiguation),
    // >=2 total ink per column (a single-ink column must ONLY ever be a
    // true connector stroke), and per-row coverage (band contiguity)
    val okCol = r == Baseline || colOffBaseline(c) >= 2
    okCol && colTotal(c) >= 3 && rowCount(r) >= 2
  }
}
