package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Catalyst-HOF reference forms of the native embedding and shingle
  * kernels — the twins SketchSpec and OperatorsSpec pin the native
  * expressions against, bit for bit.
  * Interpreted HOFs allocate per element per row, so none of these is
  * a hot path; they exist only to state each kernel's semantics in
  * plain Spark functions.
  */
object ReferenceColumns {
  import Similarity.{PlaneMixA, PlaneMixB, PlaneMod}

  /** Sequential-fold dot product of two float vectors in double. */
  def dotColRef(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private def planeWeight(p: Int, d: Column): Column =
    ((((lit(p.toLong * PlaneMixA) + d) * PlaneMixB) % PlaneMod).cast("double") - 500000.0) / 500000.0

  /** Sign-of-projection LSH bucket: the projection is a SEQUENTIAL
    * left fold in double (aggregate), so the oracle's list_reduce fold
    * and the native kernel reproduce it bit-for-bit.
    */
  def lshBucketColRef(emb: Column, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1),
          (x, d) => x.cast("double") * planeWeight(p, d)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** (squared-L2-distance, cell) structs for every centroid, smallest
    * first under struct ordering — distance first, cell id as the
    * deterministic tie-break. The centroids ride as ONE 2-D array
    * literal: one subtree per centroid would make the plan O(k*dim).
    * Cell id == centroid position (ids are dense 0..k-1).
    */
  private def cellStructsCol(emb: Column, centroids: Array[(Int, Array[Double])]): Column =
    zip_with(
      transform(typedlit(centroids.sortBy(_._1).map(_._2.toSeq).toSeq), c =>
        aggregate(
          zip_with(emb, c, (x, cc) => (x.cast("double") - cc) * (x.cast("double") - cc)),
          lit(0.0), (acc, d) => acc + d)),
      sequence(lit(0), lit(centroids.length - 1)),
      (d, i) => call_function("named_struct", lit("d"), d, lit("cell"), i))

  /** The `nProbe` nearest cells. */
  def ivfProbeCellsColRef(emb: Column, centroids: Array[(Int, Array[Double])], nProbe: Int): Column =
    transform(slice(array_sort(cellStructsCol(emb, centroids)), 1, nProbe),
      s => s.getField("cell"))

  /** Distinct word n-gram shingle STRINGS (n consecutive words joined
    * with one space) — what `Dedup.shingleHashesCol` hashes without
    * building them. Docs with fewer than n words shingle to an empty
    * set.
    */
  def shinglesCol(text: Column, n: Int): Column = {
    val w = Dedup.wordSeqCol(text)
    when(size(w) >= n,
      array_distinct(transform(sequence(lit(0), size(w) - n),
        i => array_join(slice(w, i + 1, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }
}
