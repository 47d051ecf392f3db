package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension registration of the native expression surface —
  * the spark-submit integration point:
  *
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftSparkExtensions ...
  *
  * makes every graft native function available to plain SQL in every
  * session of the application, without driver code calling
  * GraftFunctions.register: the normalizers, the sketch family
  * (minhash / simhash / shingles / jaccard), and the embedding
  * kernels. Integer parameters are taken as foldable literals
  * (`minhash_poly_buckets(toks, 8, 4)`), the same contract as Spark's own
  * parameterized builtins.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {

  /** The parameter must be a LITERAL the plan can fold at resolution
    * time (it shapes the expression, like `round`'s scale). Matching
    * on Literal, not eval(), keeps a non-foldable argument (a column)
    * from surfacing as a bare Catalyst UnsupportedOperationException
    * with no mention of the contract.
    */
  private def intLit(e: Expression, fn: String, pos: Int): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(i: Int, _) => i
    case org.apache.spark.sql.catalyst.expressions.Literal(l: Long, _) if l.isValidInt => l.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an Int-range integer LITERAL, got $other")
  }

  /** A SQL `array('a','b',...)` of string literals (or a folded array
    * literal) — the term-list contract of token_term_freqs, which
    * shapes the expression like the integer parameters do.
    */
  private def strArrayLit(e: Expression): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    e match {
      case Literal(a: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(StringType, _)) =>
        (0 until a.numElements()).map(a.getUTF8String(_).toString)
      case ca: CreateArray if ca.foldable =>
        ca.children.map {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            s"token_term_freqs: every term must be a string LITERAL, got $other")
        }
      case other => throw new IllegalArgumentException(
        s"token_term_freqs: argument 2 must be array('t1','t2',...) of string LITERALS, got $other")
    }
  }

  private def register(ext: SparkSessionExtensions, name: String, arity: Int)(
      builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftSparkExtensions].getName, name),
      (children: Seq[Expression]) => {
        if (children.length != arity) throw new IllegalArgumentException(
          s"$name takes $arity arguments, got ${children.length}")
        builder(children)
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    register(ext, "normalize_arabic_basic", 1)(c => NormalizeArabicBasic(c.head))
    register(ext, "normalize_arabic_enhanced", 1)(c => NormalizeArabicEnhanced(c.head))
    // sketch family (array<string> tokens -> sketches / hashed sets)
    register(ext, "minhash_poly_buckets", 3)(c =>
      MinHashPolyBuckets(c(0), intLit(c(1), "minhash_poly_buckets", 1),
        intLit(c(2), "minhash_poly_buckets", 2)))
    register(ext, "simhash_poly", 1)(c => SimHashPoly(c.head))
    register(ext, "shingle_hashes", 2)(c =>
      ShingleHashes(c(0), intLit(c(1), "shingle_hashes", 1)))
    register(ext, "chunk_tokens", 3)(c =>
      ChunkTokens(c(0), intLit(c(1), "chunk_tokens", 1), intLit(c(2), "chunk_tokens", 2)))
    register(ext, "sorted_long_jaccard", 2)(c => SortedLongJaccard(c(0), c(1)))
    register(ext, "sorted_long_containment", 2)(c => SortedLongContainment(c(0), c(1)))
    register(ext, "minhash_poly_buckets_from_combined", 3)(c =>
      MinHashPolyBucketsFromCombined(c(0),
        intLit(c(1), "minhash_poly_buckets_from_combined", 1),
        intLit(c(2), "minhash_poly_buckets_from_combined", 2)))
    register(ext, "token_term_freqs", 2)(c => TokenTermFreqs(c(0), strArrayLit(c(1))))
    // embedding kernels (array<float>)
    register(ext, "dot_product_f32", 2)(c => DotProductF32(c(0), c(1)))
    register(ext, "lsh_bucket", 2)(c => LshBucket(c(0), intLit(c(1), "lsh_bucket", 1)))
  }
}
