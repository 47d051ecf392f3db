package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

object IvfKernel {
  /** The `nProbe` nearest centroids by squared L2, ties broken by cell
    * id — the same (distance, cell) struct ordering as the Column twin
    * (ReferenceColumns.ivfProbeCellsColRef in the tests), with the
    * same sequential double-fold distance, so results are identical.
    */
  def probeCells(emb: ArrayData, cents: Array[Array[Double]], nProbe: Int): ArrayData = {
    val k = cents.length
    val dim = emb.numElements()
    val d2 = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cv = cents(c)
      var acc = 0.0
      var j = 0
      while (j < dim) {
        val t = emb.getFloat(j).toDouble - cv(j)
        acc += t * t
        j += 1
      }
      d2(c) = acc
      c += 1
    }
    // partial selection of the nProbe smallest (d2, cell) pairs.
    // Double.compare, not <: NaN distances (corrupt embeddings) order
    // GREATER than every finite value and equal to each other — the
    // same total order Spark's struct sort gives the HOF twin — where
    // a naive < would leave best == -1 and crash on taken(-1)
    val n = math.min(nProbe, k)
    val out = new Array[Int](n)
    val taken = new Array[Boolean](k)
    var s = 0
    while (s < n) {
      var best = -1
      var bestD = 0.0
      var i = 0
      while (i < k) {
        if (!taken(i) && (best == -1 || java.lang.Double.compare(d2(i), bestD) < 0)) {
          bestD = d2(i); best = i
        }
        i += 1
      }
      taken(best) = true
      out(s) = best
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Native IVF probe-cell assignment: the `nProbe` nearest centroid ids
  * for an array<float> embedding, with the centroid matrix bound as a
  * reference object (plan size O(1) in k*dim, like the typedlit trick
  * of the Column twin — but the per-row work is a primitive loop in
  * codegen instead of interpreted HOFs over a 2-D literal, which
  * dominated the corpus assignment pass at scale).
  */
case class IvfProbeCells(child: Expression, centroids: Seq[Seq[Double]], nProbe: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_probe_cells"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float>, got $other")
  }

  @transient private lazy val matrix: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override protected def nullSafeEval(emb: Any): Any =
    IvfKernel.probeCells(emb.asInstanceOf[ArrayData], matrix, nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("ivfCentroids", matrix, "double[][]")
    defineCodeGen(ctx, ev, e => s"graft.functions.IvfKernel.probeCells($e, $cents, $nProbe)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
