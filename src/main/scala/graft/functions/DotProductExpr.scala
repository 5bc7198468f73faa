package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two Array[Float] vectors,
  * accumulated left-to-right in double (same fold order as the higher-order
  * `zip_with`/`aggregate` formulation and DuckDB's list_aggregate, so results
  * are bit-identical — the oracle doesn't notice the swap).
  *
  * This is the hot inner loop of every similarity-search operator: at sf0.1
  * the brute-force top-k evaluates 4M pairs × 64 dims. As a codegen'd
  * expression the pair costs 64 fused multiply-adds on primitive arrays;
  * the higher-order-function version allocates an intermediate 64-element
  * array per pair and interprets two lambdas per element — ~5-10× slower.
  * At 100 TB this is the difference between compute-bound and GC-bound.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires (array<float>, array<float>), got (${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DotProduct.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Public + JVM-friendly so generated code can call it. Fails fast on a
    * length mismatch: a silently truncated dot product would corrupt every
    * downstream cosine with no error signal. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"graft_dot: vector length mismatch ($n vs ${y.numElements()})")
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }
}
