package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Native Catalyst expression: binary-search membership of a long in a
  * SORTED array<long> — the per-row kernel of merge-on-read deletion-vector
  * application.
  *
  * The deletion-vector read joins every data row against its file's DV.
  * Exploding the DV to (file, position) pairs and anti-joining makes the
  * broadcast build side O(deleted rows) — each entry duplicating the file
  * path string plus hash-table overhead, gigabytes at a 100-TB table with
  * 1% deletes. Keeping the DV UNEXPLODED (one row per file, positions as a
  * packed sorted long array) makes the broadcast O(files + 8·deletes) bytes
  * and turns the per-row probe into this O(log k) search — exactly the
  * per-file bitmap lookup table formats run inside their readers.
  *
  * Contract (mirrors graft_sorted_intersect_count): the array must be
  * sorted ascending with non-null elements — results are undefined
  * otherwise. Null array or null needle returns null (nullSafeEval).
  */
case class SortedContains(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_sorted_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_sorted_contains requires (array<long>, long), got (${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedContains.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedContains.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedContains =
    copy(left = newLeft, right = newRight)
}

object SortedContains {
  /** Public + JVM-friendly so generated code can call it. */
  def compute(arr: ArrayData, v: Long): Boolean = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val m = arr.getLong(mid)
      if (m == v) return true
      else if (m < v) lo = mid + 1
      else hi = mid - 1
    }
    false
  }
}
