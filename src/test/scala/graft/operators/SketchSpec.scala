package graft.operators

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native sketch and embedding expressions == independent reference
  * forms (plain Scala for the poly sketches, Catalyst-HOF twins in
  * ReferenceColumns for the embedding kernels), bit-for-bit, on
  * adversarial inputs (the banding/blocking downstream is only correct
  * if the signatures agree exactly).
  */
class SketchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tokenArrays(n: Int): Seq[Seq[String]] = {
    val rnd = new scala.util.Random(19)
    val vocab = Vector.tabulate(50)(i => s"tok$i") ++
      Vector("نظام", "محكمة", "ّ", "a b", "", "x")
    (0 until n).map { _ =>
      (0 until 1 + rnd.nextInt(40)).map(_ => vocab(rnd.nextInt(vocab.length)))
    }
  }

  test("null propagation: null tokens/vectors -> null sketch/score (twin parity)") {
    val df = Seq[Option[Seq[String]]](Some(Seq("a", "b")), None).toDF("toks")
    val rows = df.select(
      Dedup.minhashPolyBuckets(col("toks"), 4, 2).isNull.as("mh_null"),
      Dedup.simhashPolyCol(col("toks")).isNull.as("sh_null")).as[(Boolean, Boolean)].collect()
    assert(rows.toSeq == Seq((false, false), (true, true)),
      "null token arrays must yield null sketches, never a shared sentinel bucket")
    val vecs = Seq[(Option[Seq[Float]], Seq[Float])](
      (Some(Seq(1f, 2f)), Seq(3f, 4f)), (None, Seq(3f, 4f))).toDF("a", "b")
    val dots = vecs.select(Similarity.dotCol(col("a"), col("b")).isNull).as[Boolean].collect()
    assert(dots.toSeq == Seq(false, true), "null vector must yield null dot, not a crash")
  }

  test("EMPTY token arrays -> null sketches on every variant (no shared sentinel bucket)") {
    // an empty (non-null) array folded to a [Long.MaxValue,...]
    // sentinel would put every whitespace-only doc in one shared
    // bucket, recreating the hot-bucket problem null propagation exists
    // to prevent
    val df = Seq(Seq.empty[String], Seq("a")).toDF("toks")
    val nulls = df.select(
      Dedup.minhashPolyBuckets(col("toks"), 4, 2).isNull,
      Dedup.simhashPolyCol(col("toks")).isNull)
      .as[(Boolean, Boolean)].collect()
    assert(nulls(0) == ((true, true)), s"empty array: ${nulls(0)}")
    assert(nulls(1) == ((false, false)), s"non-empty: ${nulls(1)}")
  }

  // independent plain-Scala reimplementation of the poly sketch family
  // (the DuckDB side is additionally pinned by the driver oracle gate)
  private val M = 2147483647L
  private def polyRef(t: String): Long = t.foldLeft(0L)((h, c) => (h * 131 + c) % M)
  private def minhashPolyRef(toks: Seq[String], perms: Int): Seq[Long] =
    (0 until perms).map { p =>
      val a = { val x = ((p + 1) * 2654435761L) % M; if (x == 0) 1L else x }
      val b = ((p + 1) * 2246822519L) % M
      toks.map(t => (a * polyRef(t) + b) % M).min
    }
  private def bucketsRef(toks: Seq[String], bands: Int, rpb: Int): Seq[Long] = {
    val sig = minhashPolyRef(toks, bands * rpb)
    (0 until bands).map(b =>
      (0 until rpb).foldLeft(0L)((g, r) => (g * 1000003L + sig(b * rpb + r)) % M))
  }
  private def simhashPolyRef(toks: Seq[String]): Long = {
    val hs = toks.map(polyRef)
    (0 until 30).foldLeft(0L) { (acc, b) =>
      if (2 * hs.count(h => ((h >> b) & 1L) == 1L) > hs.size) acc | (1L << b) else acc
    }
  }

  test("poly sketches: native expressions == independent Scala reimplementation") {
    val arrays = tokenArrays(200)
    val rows = arrays.toDF("toks").select(
      Dedup.minhashPolyBuckets(col("toks"), 8, 4).as("bk"),
      Dedup.simhashPolyCol(col("toks")).as("sh"))
      .as[(Seq[Long], Long)].collect()
    rows.zip(arrays).zipWithIndex.foreach { case (((bk, sh), toks), i) =>
      assert(bk == bucketsRef(toks, 8, 4), s"poly buckets diverge on row $i")
      assert(sh == simhashPolyRef(toks), s"poly simhash diverges on row $i")
      assert(sh >= 0L && sh < (1L << 30), s"poly simhash out of 30-bit range on row $i")
    }
  }

  test("dot product: native expression == HOF twin bit-for-bit") {
    val rnd = new scala.util.Random(23)
    val pairs = (0 until 200).map { _ =>
      val d = 1 + rnd.nextInt(96)
      (Seq.fill(d)(rnd.nextFloat() * 4 - 2), Seq.fill(d)(rnd.nextFloat() * 4 - 2))
    }
    val rows = pairs.toDF("a", "b").select(
      Similarity.dotCol(col("a"), col("b")).as("native"),
      ReferenceColumns.dotColRef(col("a"), col("b")).as("ref"))
      .as[(Double, Double)].collect()
    rows.zipWithIndex.foreach { case ((native, ref), i) =>
      // bit-identical, not epsilon: same fold order by construction
      assert(java.lang.Double.doubleToLongBits(native) == java.lang.Double.doubleToLongBits(ref),
        s"dot diverges on row $i: $native vs $ref")
    }
  }

  test("lsh bucket: native expression == HOF twin bit-for-bit") {
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 200).map { _ =>
      val d = 1 + rnd.nextInt(96)
      Seq.fill(d)(rnd.nextFloat() * 4 - 2)
    }
    val rows = vecs.toDF("e").select(
      Similarity.lshBucketCol(col("e"), 8).as("native"),
      ReferenceColumns.lshBucketColRef(col("e"), 8).as("ref"))
      .as[(Long, Long)].collect()
    rows.zipWithIndex.foreach { case ((native, ref), i) =>
      assert(native == ref, s"lsh bucket diverges on row $i: $native vs $ref")
    }
  }

  test("ivf probe cells: native expression == HOF twin for 1, 3 and all probes") {
    val rnd = new scala.util.Random(37)
    val dim = 16
    val cents = Array.tabulate(12)(i => (i, Array.fill(dim)(rnd.nextDouble() * 2 - 1)))
    val vecs = (0 until 150).map(_ => Seq.fill(dim)(rnd.nextFloat() * 2 - 2e-1f))
    for (nProbe <- Seq(1, 3, 12)) {
      val rows = vecs.toDF("e").select(
        Similarity.ivfProbeCellsCol(col("e"), cents, nProbe).as("native"),
        ReferenceColumns.ivfProbeCellsColRef(col("e"), cents, nProbe).as("ref"))
        .as[(Seq[Int], Seq[Int])].collect()
      rows.zipWithIndex.foreach { case ((native, ref), i) =>
        assert(native == ref, s"probe cells diverge (nProbe=$nProbe) on row $i: $native vs $ref")
      }
    }
  }

  test("non-finite embeddings: native lsh/ivf kernels still match their HOF twins (no crash)") {
    // corrupt upstream embeddings (NaN / Inf components) must not kill
    // a task or silently bucket differently from the twins
    val vecs = Seq(
      Seq(Float.NaN, 1f, -2f, 0.5f),
      Seq(1f, Float.PositiveInfinity, -2f, 0.5f),
      Seq(Float.PositiveInfinity, Float.NegativeInfinity, 1f, 1f),
      Seq(Float.NaN, Float.NaN, Float.NaN, Float.NaN),
      Seq(0f, 0f, 0f, 0f))
    val lsh = vecs.toDF("e").select(
      Similarity.lshBucketCol(col("e"), 6).as("native"),
      ReferenceColumns.lshBucketColRef(col("e"), 6).as("ref"))
      .as[(Long, Long)].collect()
    lsh.zipWithIndex.foreach { case ((n, r), i) =>
      assert(n == r, s"lsh bucket diverges on non-finite row $i: $n vs $r")
    }
    val rnd = new scala.util.Random(41)
    val cents = Array.tabulate(5)(i => (i, Array.fill(4)(rnd.nextDouble())))
    val ivf = vecs.toDF("e").select(
      Similarity.ivfProbeCellsCol(col("e"), cents, 3).as("native"),
      ReferenceColumns.ivfProbeCellsColRef(col("e"), cents, 3).as("ref"))
      .as[(Seq[Int], Seq[Int])].collect()
    ivf.zipWithIndex.foreach { case ((n, r), i) =>
      assert(n == r, s"ivf cells diverge on non-finite row $i: $n vs $r")
    }
  }

  test("sketch expressions stay inside whole-stage codegen over a real scan") {
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(Dedup.simhashPolyCol(Dedup.tokensCol(col("text"))).as("sh"),
        Dedup.minhashPolyBuckets(Dedup.tokensCol(col("text")), 4, 2).as("mh"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(600))
  }
}
