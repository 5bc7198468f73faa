package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: L2 norm of an Array[Float] embedding.
  *
  * This is the "custom Expression with doGenCode" surface (SURVEY.md §2.11):
  * unlike a Scala UDF it participates in whole-stage codegen — no
  * serialization boundary, no boxing of the 64 floats per row — which is the
  * difference between a memory-bandwidth-bound scan and an allocation-bound
  * one at 100 TB. UdfSpec asserts bit-equality with the UDF twin.
  */
case class L2Norm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2norm"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_l2norm requires array<float>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    L2Norm.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.L2Norm.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

object L2Norm {
  /** Public + JVM-friendly so generated code can call it. The self dot
    * product is the same left-to-right double fold of v·v. */
  def compute(v: ArrayData): Double = math.sqrt(DotProduct.compute(v, v))
}
