package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the squared euclidean distance of
  * two `array<double>` columns — the IVF cell-assignment hot loop
  * ([[graft.ops.Similarity.assignCells]] runs it per vector × nlist
  * centroids at index build and query time,
  * [[graft.ops.Similarity.appendToIvfIndex]] at index-ingest
  * time).
  *
  * Rationale (scale/perf, the [[CosineSimilarity]] template): the HOF
  * formulation `aggregate(zip_with(v, c, (a,b) => (a-b)*(a-b)), 0.0,
  * (acc,x) => acc+x)` evaluates interpreted lambdas per element per
  * row and allocates the zipped array; this expression is one Java
  * loop ([[SqEuclideanDistance.compute]], which the generated code
  * calls) with zero per-row allocation.
  * Accumulation is the same left fold — `acc = acc + (xᵢ−yᵢ)·(xᵢ−yᵢ)`
  * in element order — so results are BIT-identical to the HOF (the
  * property the argmin tie rule depends on), asserted by the
  * FunctionsSpec property test.
  *
  * Returns null if either input is null; inputs are expected
  * equal-length (the loop runs over the shorter length, matching the
  * [[CosineSimilarity]] family's contract).
  */
case class SqEuclideanDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sq_euclidean requires (array<double>, array<double>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "sq_euclidean"

  override def nullSafeEval(a: Any, b: Any): Any =
    SqEuclideanDistance.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SqEuclideanDistance.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqEuclideanDistance =
    copy(left = newLeft, right = newRight)
}

object SqEuclideanDistance {

  /** The left fold `acc + (xᵢ−yᵢ)²` in element order. One shared,
    * small method: generated code calls it rather than inlining the
    * loop, so it is JIT-compiled after the first few thousand calls
    * (a cold `assignCells` stage at nlist 16 over 20,000 vectors, 4
    * cores, ran ~2× slower with the loop inlined nlist times). */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }
}
