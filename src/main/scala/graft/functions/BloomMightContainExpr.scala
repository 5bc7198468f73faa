package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst expression: membership probe of a long key against a
  * serialized `org.apache.spark.util.sketch.BloomFilter` — the runtime-filter
  * (semi-join pushdown) primitive.
  *
  * The first argument must be a FOLDABLE binary column (the sketch built on
  * the driver from the join's small side via `df.stat.bloomFilter`, which
  * inserts integral keys with `putLong` — `mightContainLong` here probes with
  * the same hash). The literal travels to executors inside the serialized
  * plan like a broadcast value; each executor deserializes the sketch once
  * (lazy) and every probe is then a few XXH64 hashes against a bit array —
  * no shuffle, no per-row allocation, full whole-stage codegen.
  *
  * Scale story: at 100 TB a fact⋈dim semi-join shuffles the whole fact on
  * the key; a bloom prefilter drops the ~99% of fact rows that cannot match
  * BEFORE the exchange, at the cost of a KB..MB-scale sketch whose size is
  * bounded by the BUILD side count — never by the fact. False positives are
  * possible (hence the exact confirm join downstream); false negatives are
  * not, so the compose is exactly the semi-join.
  */
case class BloomMightContain(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) if left.foldable => TypeCheckResult.TypeCheckSuccess
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckFailure(
        "graft_bloom_might_contain requires a foldable (constant) bloom sketch argument")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_might_contain requires (binary, bigint), got (${l.catalogString}, ${r.catalogString})")
    }

  // one deserialization per task-JVM, shared by eval and codegen paths.
  // A null sketch (NULL binary literal / foldable-to-null expression) must
  // fail with a clear message here, not an opaque NPE inside codegen's
  // addReferenceObj — mirroring Spark's own BloomFilterMightContain.
  @transient private lazy val bloom: BloomFilter = {
    val bytes = left.eval(null).asInstanceOf[Array[Byte]]
    if (bytes == null) {
      throw new IllegalArgumentException(
        "graft_bloom_might_contain: the bloom sketch argument evaluated to NULL")
    }
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  }

  // Reads `bloom` before the key, so a NULL sketch fails here exactly as it
  // does at codegen time; BinaryExpression.eval would short-circuit the
  // NULL child to a NULL result and never reach it.
  override def eval(input: InternalRow): Any = {
    val bf = bloom
    val key = right.eval(input)
    if (key == null) null else bf.mightContainLong(key.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bf = ctx.addReferenceObj("bloom", bloom, classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (_, key) => s"${ev.value} = $bf.mightContainLong($key);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}
