package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of a float query vector against
  * a PQ-coded vector decoded on the fly — Σᵢ qᵢ · (baseᵢ + (codeᵢ+128)·scaleᵢ)
  * with the fold accumulated left-to-right in double.
  *
  * This is the hot inner loop of IVF-PQ candidate scoring: every probed
  * (query, candidate) pair evaluates one decode-dot over Dim dimensions.
  * The same affine as a SQL higher-order `aggregate` lambda interprets
  * two closures per element and allocates per pair — measured ×48 at the
  * 30× sweep before this expression existed; as whole-stage codegen the
  * pair costs Dim fused multiply-adds over primitive arrays (the
  * graft_dot lesson, applied to the coded layout). The decode constant
  * (+128) undoes the tinyint storage shift; base/scale are the per-cell
  * coder's affine. Fails fast on length mismatch like graft_dot.
  */
case class PqDot(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_dot"
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable || fourth.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ByteType, _),
            ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) => TypeCheckResult.TypeCheckFailure(
        "graft_pq_dot requires (array<float>, array<tinyint>, array<double>, array<double>), " +
          s"got (${a.catalogString}, ${b.catalogString}, ${c.catalogString}, ${d.catalogString})")
    }

  override protected def nullSafeEval(q: Any, codes: Any, base: Any, scale: Any): Any =
    PqDot.compute(q.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData],
      base.asInstanceOf[ArrayData], scale.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c, b, sc) =>
      s"${ev.value} = graft.functions.PqDot.compute($q, $c, $b, $sc);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression, newFourth: Expression): PqDot =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object PqDot {
  /** Public + JVM-friendly so generated code can call it. */
  def compute(qa: ArrayData, ca: ArrayData, ba: ArrayData, sa: ArrayData): Double = {
    val n = qa.numElements()
    if (ca.numElements() != n || ba.numElements() != n || sa.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_pq_dot: length mismatch ($n / ${ca.numElements()} / ${ba.numElements()} / ${sa.numElements()})")
    var s = 0.0
    var i = 0
    while (i < n) {
      s += qa.getFloat(i).toDouble *
        (ba.getDouble(i) + (ca.getByte(i).toDouble + 128.0) * sa.getDouble(i))
      i += 1
    }
    s
  }
}
