package graft.ocr

import graft.image.{BinaryImage, SynthRenderer}

/** Projection-profile deskew via angle search (SURVEY.md §2.4 O1:
  * "projection-profile deskew (angle search)").
  *
  * The skew model is a vertical shear (column x shifted down by
  * shiftY(angle, x)); candidate angles are scored by the "peakiness"
  * of the horizontal projection after unshearing — sum of squared row
  * counts, which is strictly maximal when text rows realign into their
  * 10-pixel bands (splitting a band's count c into a+b, a,b>0 always
  * lowers a²+b²). The shear is exactly invertible on the pixel grid,
  * so the detected angle restores the unskewed raster bit-exactly.
  */
object Deskew {

  /** Candidate grid, millidegrees. Must cover the renderer's range. */
  val AngleGridMdeg: IndexedSeq[Int] = {
    val grid = (-3000 to 3000 by 250).toIndexedSeq
    // evaluate in |angle|-ascending order so score ties resolve to the
    // smallest skew (identical pixel mappings on narrow images)
    grid.sortBy(a => (math.abs(a), a))
  }

  @inline private def shift(angleMdeg: Int, x: Int): Int = SynthRenderer.shiftY(angleMdeg, x)

  /** Candidate angles ranked best-first. Primary criterion: fewest
    * occupied rows after unshearing (the true angle realigns every
    * text line into exactly GlyphH rows; any materially different
    * mapping pokes pixels out of a band). Secondary: peakiness
    * (sum of squared row counts). Ties resolve toward zero skew.
    * The engine validates the top candidate structurally and falls
    * back down this ranking on the rare narrow-image ambiguity.
    *
    * Coarse-to-fine: the full grid is scored at 500 mdeg, then the
    * 250-mdeg neighbors of the best few coarse angles are scored — a
    * ±250 mdeg mapping differs by at most ~2 rows at page width, so
    * the true angle's neighborhood always ranks near the top of the
    * coarse pass; the engine's structural-validation fallback walks
    * the FULL ranked list regardless, so exactness never depends on
    * the pruning (15 ink passes instead of 25).
    */
  def rankedAngles(bin: BinaryImage): IndexedSeq[Int] =
    if (bin.inkCount == 0) IndexedSeq(0) else rank(new Scorer(bin))

  /** The coarse-to-fine search over a scoring function
    * angle -> (occupied rows, peakiness).
    */
  private[ocr] def rank(score: Int => (Int, Long)): IndexedSeq[Int] = {
    def scored(a: Int): (Int, Int, Long) = { val (occ, peak) = score(a); (a, occ, peak) }
    def order(s: IndexedSeq[(Int, Int, Long)]) = s.sortBy { case (a, occ, peak) => (occ, -peak, math.abs(a), a) }
    val coarse = AngleGridMdeg.filter(_ % 500 == 0).map(scored)
    // refine around the top 2 coarse angles (covers a true angle that
    // sits between two coarse cells whose scores straddle it)
    val refineSet = order(coarse).take(2).flatMap { case (a, _, _) => Seq(a - 250, a + 250) }
      .filter(a => a >= -3000 && a <= 3000).distinct
    val rankedScored = order(coarse ++ refineSet.map(scored))
    // unscored fine angles follow as the exactness tail (|angle| order)
    val seen = rankedScored.map(_._1).toSet
    rankedScored.map(_._1) ++ AngleGridMdeg.filterNot(seen)
  }

  /** shiftY(a, x) for x in [0, width) — possibly longer. Tables of the
    * grid angles are computed once per JVM and regrown for a wider
    * page; a race between two tasks only computes the same table twice.
    */
  private val gridShifts = new java.util.concurrent.atomic.AtomicReferenceArray[Array[Int]](AngleGridMdeg.size)

  private[ocr] def shifts(a: Int, width: Int): Array[Int] = {
    def table(n: Int) = Array.tabulate(n)(shift(a, _))
    val g = (a + 3000) / 250 // grid index, ascending angle
    if (a % 250 != 0 || g < 0 || g >= gridShifts.length) table(width)
    else {
      val cached = gridShifts.get(g)
      if (cached != null && cached.length >= width) cached
      else {
        val grown = table(math.max(width, if (cached == null) 0 else 2 * cached.length))
        gridShifts.set(g, grown)
        grown
      }
    }
  }

  /** The columns of a packed raster split into runs of equal shift, cut
    * at word boundaries: segment k covers the bits `mask(k)` of word
    * `word(k)` of each row, all shifted by `shift(k)`. At most one run
    * per column plus one split per word boundary.
    */
  private final class ShiftRuns(width: Int) {
    val word = new Array[Int](width + ((width + 63) >>> 6))
    val mask = new Array[Long](word.length)
    val shift = new Array[Int](word.length)
    var n = 0

    def build(shifts: Array[Int]): Unit = {
      n = 0
      var x0 = 0
      while (x0 < width) {
        val s = shifts(x0)
        var x1 = x0
        while (x1 + 1 < width && shifts(x1 + 1) == s) x1 += 1
        var x = x0
        while (x <= x1) {
          val hi = math.min(x1, x | 63)
          word(n) = x >>> 6
          mask(n) = (-1L >>> (63 - (hi & 63))) & (-1L << (x & 63))
          shift(n) = s
          n += 1
          x = hi + 1
        }
        x0 = x1 + 1
      }
    }
  }

  /** Row histogram of the unsheared ink, scored per angle. Buffers are
    * reused across the angles of one image.
    *
    * NOTE: the score must NOT sample source rows (tried and reverted):
    * unshearing mixes row parities at nonzero angles but not at zero,
    * so sampling halves angle-0's occupied count while leaving the
    * true angle's intact — systematically misranking toward zero skew.
    */
  private[ocr] final class Scorer(bin: BinaryImage) extends (Int => (Int, Long)) {
    private val wpr = bin.wordsPerRow
    private val maxAbsShift = math.abs(shift(3000, bin.width - 1)) + 1
    private val rows = new Array[Int](bin.height + 2 * maxAbsShift)
    private val inkRows: Array[Int] = (0 until bin.height).filter(bin.rowHasInk).toArray
    private val runs = new ShiftRuns(bin.width)

    /** Unshearing moves whole runs of columns that share one shift, so
      * each (row, run) pair adds a masked popcount to one histogram
      * row; the work is rows-with-ink x runs, not ink pixels.
      */
    def apply(a: Int): (Int, Long) = {
      java.util.Arrays.fill(rows, 0)
      runs.build(shifts(a, bin.width))
      var i = 0
      while (i < inkRows.length) {
        val y = inkRows(i)
        val base = y + maxAbsShift
        val rowOff = y * wpr
        var k = 0
        while (k < runs.n) {
          rows(base - runs.shift(k)) += java.lang.Long.bitCount(bin.words(rowOff + runs.word(k)) & runs.mask(k))
          k += 1
        }
        i += 1
      }
      var occupied = 0
      var peak = 0L
      var r = 0
      while (r < rows.length) {
        val c = rows(r).toLong
        if (c > 0) occupied += 1
        peak += c * c
        r += 1
      }
      (occupied, peak)
    }
  }

  /** Invert the shear for the given angle: each run of equal shift
    * moves as one masked word per row.
    */
  def unshear(bin: BinaryImage, angleMdeg: Int): BinaryImage = {
    if (angleMdeg == 0) return bin
    val shiftX = shifts(angleMdeg, bin.width)
    val sEdge = shiftX(bin.width - 1)
    val off = math.max(0, sEdge) // positive angles shifted down; restore up
    val newH = bin.height + math.abs(sEdge)
    val out = BinaryImage.blank(bin.width, newH)
    val wpr = bin.wordsPerRow
    val runs = new ShiftRuns(bin.width)
    runs.build(shiftX)
    var y = 0
    while (y < bin.height) {
      if (bin.rowHasInk(y)) {
        var k = 0
        while (k < runs.n) {
          val bits = bin.words(y * wpr + runs.word(k)) & runs.mask(k)
          val ny = y - runs.shift(k) + off
          if (bits != 0L && ny >= 0 && ny < newH) out.words(ny * wpr + runs.word(k)) |= bits
          k += 1
        }
      }
      y += 1
    }
    out
  }
}
