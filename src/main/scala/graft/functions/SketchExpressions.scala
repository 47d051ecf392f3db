package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM-side sketch kernels shared by eval and codegen: the
  * cross-engine polynomial sketch family. It uses the polynomial
  * rolling hash already proven cross-engine by TextStats.fingerprint:
  * every step is integer arithmetic below 2^63, identical in Java,
  * Catalyst and DuckDB SQL — so the ENTIRE shingle->minhash->band->
  * bucket pipeline is oracle-checkable end to end. Each token is
  * hashed once; each permutation is one multiply-add (pinned against
  * an independent Scala restatement in SketchSpec/SketchKernelProps).
  */
object SketchKernels {

  /** Field modulus (2^31 - 1, prime). */
  val PolyM = 2147483647L

  /** Permutation-p multiplier/addend for the universal-hash family
    * h_p(x) = (A_p * x + B_p) mod PolyM. Derived once here; the SQL
    * oracle embeds the resulting LITERALS, so there is exactly one
    * definition.
    */
  def permA(p: Int): Long = { val a = ((p + 1) * 2654435761L) % PolyM; if (a == 0L) 1L else a }
  def permB(p: Int): Long = ((p + 1) * 2246822519L) % PolyM

  /** Polynomial rolling hash over Unicode CODE POINTS — the unit
    * DuckDB's regexp_extract_all('[\s\S]') + unicode() enumerates, so
    * the cross-engine family agrees on EVERY plane, not just the BMP
    * (UTF-16 charAt would fold a supplementary char as two surrogate
    * terms and silently desynchronize the oracles). Identical to the
    * former code-unit fold on all BMP text, which is all any fixture
    * contains.
    */
  def polyHash(t: UTF8String): Long = {
    val s = t.toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 131L + cp) % PolyM
      i += Character.charCount(cp)
    }
    h
  }

  /** Second, independent polynomial base. VERIFY-side token/shingle
    * sets combine the base-131 and base-1000003 folds into one 62-bit
    * value ((hA << 31) + hB, exact in both Long and DuckDB BIGINT:
    * hA, hB < 2^31) — round-3 advice: at ~100k distinct tokens the
    * lone 31-bit family takes birthday collisions that perturb the
    * verified Jaccard, and because the oracle shares the family,
    * oracle equality cannot see the drift. Colliding on BOTH bases at
    * once is ~2^-62 per pair. The 31-bit single-fold family remains
    * where the cross-engine MINHASH restatement needs sub-2^63
    * permutation arithmetic (permA * h + permB with h < 2^31).
    */
  val Poly2Base = 1000003L

  /** Base-Poly2Base twin of polyHash (code-point fold). */
  def polyHash2(t: UTF8String): Long = {
    val s = t.toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * Poly2Base + cp) % PolyM
      i += Character.charCount(cp)
    }
    h
  }

  /** The 62-bit combined verify-side hash of a token/shingle string. */
  def combinedHash(t: UTF8String): Long = (polyHash(t) << 31) + polyHash2(t)

  /** Poly-MinHash signature: sig(p) = min over tokens of
    * (A_p * polyHash(token) + B_p) mod PolyM. Token hashed once; one
    * multiply-add per permutation.
    */
  def minhashPoly(tokens: ArrayData, perms: Int): ArrayData = {
    val bases = new Array[Long](tokens.numElements())
    var ti = 0
    while (ti < bases.length) { bases(ti) = polyHash(tokens.getUTF8String(ti)); ti += 1 }
    permutationMins(bases, perms)
  }

  /** Band buckets from a poly-minhash signature: bucket(b) = left fold
    * g = (g * 1000003 + sig(p)) mod PolyM over the band's rows.
    */
  def minhashPolyBuckets(tokens: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val sig = minhashPoly(tokens, bands * rowsPerBand).asInstanceOf[UnsafeArrayData]
    bandFold(sig, bands, rowsPerBand)
  }

  /** Poly-MinHash signature over COMBINED 62-bit hashes (ShingleHashes
    * output): the base-131 fold occupies the upper 31 bits, so
    * base = h >>> 31 recovers exactly the value minhashPoly would
    * have fed the permutations — letting any pre-hashed sketch set
    * ride the banded spine without re-materializing shingle strings.
    * (Min over the DISTINCT hash set ≡ min over all occurrences, and a
    * 62-bit collision collapses the pair on both engines, so this is
    * oracle-exact; the DuckDB twin divides by 2^31.)
    */
  def minhashPolyFromCombined(hashes: ArrayData, perms: Int): ArrayData = {
    val bases = hashes.toLongArray()
    var ti = 0
    while (ti < bases.length) { bases(ti) = bases(ti) >>> 31; ti += 1 }
    permutationMins(bases, perms)
  }

  /** sig(p) = min over `bases` of (A_p * base + B_p) mod PolyM — the
    * loop both signature faces share. Permutations run outermost, so
    * A_p/B_p are derived once per call, not once per token.
    */
  private def permutationMins(bases: Array[Long], perms: Int): ArrayData = {
    val sig = new Array[Long](perms)
    var p = 0
    while (p < perms) {
      val a = permA(p)
      val b = permB(p)
      var m = Long.MaxValue
      var ti = 0
      while (ti < bases.length) {
        val h = (a * bases(ti) + b) % PolyM
        if (h < m) m = h
        ti += 1
      }
      sig(p) = m
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Band buckets straight from combined 62-bit hashes. */
  def minhashPolyBucketsFromCombined(hashes: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val sig = minhashPolyFromCombined(hashes, bands * rowsPerBand).asInstanceOf[UnsafeArrayData]
    bandFold(sig, bands, rowsPerBand)
  }

  private def bandFold(sig: UnsafeArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var g = 0L
      var r = 0
      while (r < rowsPerBand) {
        g = (g * 1000003L + sig.getLong(b * rowsPerBand + r)) % PolyM
        r += 1
      }
      out(b) = g
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Poly-SimHash bit width (PolyM is 31-bit; 30 usable sign bits). */
  val PolySimBits = 30

  /** Poly-SimHash: bit b set iff strictly more than half the token
    * hashes have bit b set (equivalent to the +-1 sum > 0 rule).
    */
  def simhashPoly(tokens: ArrayData): Long = {
    val ones = new Array[Int](PolySimBits)
    val n = tokens.numElements()
    var ti = 0
    while (ti < n) {
      val h = polyHash(tokens.getUTF8String(ti))
      var b = 0
      while (b < PolySimBits) {
        if (((h >>> b) & 1L) == 1L) ones(b) += 1
        b += 1
      }
      ti += 1
    }
    var out = 0L
    var b = 0
    while (b < PolySimBits) { if (2 * ones(b) > n) out |= (1L << b); b += 1 }
    out
  }

  /** 62-bit combined poly hashes of all word n-gram shingles of an
    * ordered word array, SORTED DISTINCT (the contract
    * sortedLongJaccard merges on). Each shingle's hash equals
    * combinedHash of the words joined with a single space — BOTH base
    * folds rolled straight across the words and the joiner (char 32),
    * so no shingle string is ever built. One pass over each word per
    * shingle => O(words * n) chars total. Fewer than n words => empty
    * (the "too short to shingle" marker).
    *
    * (A Column-expr twin of this — transform(sequence(...), i =>
    * array_join(slice(w, i+1, n))) — re-evaluates the word array once
    * per ELEMENT inside the interpreted HOF lambda, going quadratic in
    * doc length; measured 19 s for 5,000 sf0.1 docs vs sub-second
    * here. That twin survives only in OperatorsSpec as the semantics
    * cross-check.)
    */
  def shingleHashes(words: ArrayData, n: Int): ArrayData = {
    val nw = words.numElements()
    if (nw < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    // one UTF8String->String conversion per WORD (each word would
    // otherwise be re-materialized once per overlapping shingle)
    val strs = new Array[String](nw)
    var w = 0
    while (w < nw) { strs(w) = words.getUTF8String(w).toString; w += 1 }
    val h = new Array[Long](nw - n + 1)
    var i = 0
    while (i <= nw - n) {
      var accA = 0L
      var accB = 0L
      var k = 0
      while (k < n) {
        val s = strs(i + k)
        var c = 0
        while (c < s.length) { // code points, like polyHash/polyHash2
          val cp = s.codePointAt(c)
          accA = (accA * 131L + cp) % PolyM
          accB = (accB * Poly2Base + cp) % PolyM
          c += Character.charCount(cp)
        }
        if (k < n - 1) {
          accA = (accA * 131L + 32L) % PolyM
          accB = (accB * Poly2Base + 32L) % PolyM
        }
        k += 1
      }
      h(i) = (accA << 31) + accB
      i += 1
    }
    java.util.Arrays.sort(h)
    var m = 0
    i = 0
    while (i < h.length) { // dedupe in place on the sorted run
      if (m == 0 || h(i) != h(m - 1)) { h(m) = h(i); m += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (m == h.length) h else java.util.Arrays.copyOf(h, m))
  }

  /** Jaccard of two SORTED DISTINCT long arrays by linear merge — zero
    * allocation per pair, vs the hash-set build array_intersect +
    * array_distinct(concat) pay per candidate. Empty-vs-empty is 0.0
    * (callers filter empty sets out anyway).
    */
  def sortedLongJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** Max-containment of two sorted distinct long arrays by the same
    * linear merge: |A∩B| / min(|A|,|B|) — the ASYMMETRIC duplication
    * signal (a short doc fully contained in a long one scores 1.0
    * where its Jaccard is near |A|/|B|). Either side empty is 0.0.
    */
  def sortedLongContainment(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 || nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / math.min(na, nb).toDouble
  }

  /** Token-bounded training chunks with overlap: chunk i covers
    * tokens [i*(size-overlap), i*(size-overlap)+size) joined with
    * single spaces; the last chunk is the remainder. n <= size => one
    * chunk; n == 0 => none. Single pass, no per-chunk HOF
    * re-evaluation (see ShingleHashes' note on the declarative trap).
    */
  def chunkTokens(words: ArrayData, size: Int, overlap: Int): ArrayData = {
    val n = words.numElements()
    if (n == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val step = size - overlap
    val k = if (n <= size) 1 else 1 + ((n - size) + step - 1) / step
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      val a = i * step
      val b = math.min(a + size, n)
      val sb = new java.lang.StringBuilder()
      var j = a
      while (j < b) {
        if (j > a) sb.append(' ')
        sb.append(words.getUTF8String(j).toString)
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Sorted distinct cross-engine poly hashes of the word n-gram
  * shingles of an ordered word array (see SketchKernels.shingleHashes).
  * Null propagates; fewer than n words yields EMPTY (a valid "too
  * short to shingle" marker the caller filters on, unlike the sketch
  * expressions' null contract).
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width n=$n must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(v: Any): Any =
    SketchKernels.shingleHashes(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.SketchKernels.shingleHashes($t, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Token-bounded training chunks with overlap (see
  * SketchKernels.chunkTokens). size > overlap >= 0 required — equal
  * would loop forever at the semantic level (zero-step windows).
  */
case class ChunkTokens(child: Expression, size: Int, overlap: Int) extends UnaryExpression {
  require(size > 0 && overlap >= 0 && overlap < size,
    s"need size > overlap >= 0, got size=$size overlap=$overlap")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "chunk_tokens"

  override protected def nullSafeEval(v: Any): Any =
    SketchKernels.chunkTokens(v.asInstanceOf[ArrayData], size, overlap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.SketchKernels.chunkTokens($t, $size, $overlap);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Jaccard of two sorted distinct long arrays (see
  * SketchKernels.sortedLongJaccard). Inputs must honor the
  * PolyHashArray contract.
  */
case class SortedLongJaccard(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "sorted_long_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.sortedLongJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SketchKernels.sortedLongJaccard($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Band-bucket array of the cross-engine poly-MinHash (one single
  * pass: token poly-hashed once, `bands * rowsPerBand` mixes, bands
  * folded). Null OR EMPTY tokens -> null: a non-null sentinel (the
  * Long.MaxValue an empty fold would leave) would send every
  * empty/whitespace-only doc into the SAME bucket of every band,
  * manufacturing exactly the hot bucket the null propagation is
  * designed out of. Callers filter null buckets before banding.
  */
case class MinHashPolyBuckets(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_poly_buckets"
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() == 0) null
      else SketchKernels.minhashPolyBuckets(arr, bands, rowsPerBand)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""
         |if ($t.numElements() == 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.SketchKernels.minhashPolyBuckets($t, $bands, $rowsPerBand); }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Max-containment of two sorted distinct long arrays (see
  * SketchKernels.sortedLongContainment). Inputs must honor the
  * PolyHashArray contract.
  */
case class SortedLongContainment(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "sorted_long_containment"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.sortedLongContainment(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SketchKernels.sortedLongContainment($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Band-bucket array of the cross-engine poly-MinHash computed from
  * COMBINED 62-bit hashes (ShingleHashes output) instead of token
  * strings — the shingle-width face of the banded spine. Null/empty
  * hash sets -> null, like MinHashPolyBuckets (an empty set banded on
  * a sentinel would manufacture a hot bucket).
  */
case class MinHashPolyBucketsFromCombined(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_poly_buckets_from_combined"
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() == 0) null
      else SketchKernels.minhashPolyBucketsFromCombined(arr, bands, rowsPerBand)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""
         |if ($t.numElements() == 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.SketchKernels.minhashPolyBucketsFromCombined($t, $bands, $rowsPerBand); }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cross-engine 30-bit poly-SimHash. Null/empty tokens -> null. */
case class SimHashPoly(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_poly"
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() == 0) null else SketchKernels.simhashPoly(arr)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""
         |if ($t.numElements() == 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.SketchKernels.simhashPoly($t); }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
