package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: sorted DISTINCT 64-bit hashes of the
  * word-`width`-shingles of a space-separated string, in one tight loop —
  * split, shingle, hash, sort, dedupe without materializing a single token
  * or gram string.
  *
  * The composed-builtin formulation (`array_sort(array_distinct(transform(
  * shingles, xxhash64)))`) evaluates higher-order lambdas interpreted (no
  * whole-stage codegen) and re-executes the inlined `split` once per gram —
  * measured ~0.4 ms PER DOCUMENT at 54 tokens, ~2 s per pass over the sf0.1
  * corpus, and the pass runs 2-3× per query (filter pushdown re-derives the
  * expression). This loop does the same work in ~µs per document.
  *
  * Tokenization matches Spark's `split(s, " ")` / DuckDB's
  * `string_split(s, ' ')` exactly: single-space separators, empty tokens
  * preserved (consecutive/trailing spaces). Only intersection COUNTS of the
  * hashes are ever observed downstream, so the hash function needs
  * distinctness, not any cross-engine value parity: FNV-1a-64 per token +
  * splitmix64 finalizer, grams chain-mixed per window (collision odds over
  * the 260k-gram corpus ≈ 2e-9). Fewer than `width` tokens → empty array.
  */
case class HashedShingles(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hashed_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        val w = right.eval()
        if (w == null || w.asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure("graft_hashed_shingles width must be a positive literal")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_hashed_shingles requires (string, int literal), got (${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashedShingles.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashedShingles.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HashedShingles =
    copy(left = newLeft, right = newRight)
}

object HashedShingles {
  /** Public + JVM-friendly signature so generated code can call it. */
  def compute(s: UTF8String, width: Int): ArrayData = {
    val bytes = s.getBytes
    // token count = spaces + 1 (split-with-limit--1 semantics: empty tokens kept)
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    if (nTok < width) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    // per-token FNV-1a-64 + splitmix64 finalizer
    val tok = new Array[Long](nTok)
    var t = 0
    var h = FnvOffset
    i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b == ' ') { tok(t) = splitmix64(h); t += 1; h = FnvOffset }
      else h = (h ^ (b & 0xffL)) * FnvPrime
      i += 1
    }
    tok(t) = splitmix64(h)
    // gram hash = chain-mix of the window's token hashes
    val nGram = nTok - width + 1
    val grams = new Array[Long](nGram)
    i = 0
    while (i < nGram) {
      var g = 0x27d4eb2f165667c5L
      var j = 0
      while (j < width) { g = splitmix64(g ^ tok(i + j)); j += 1 }
      grams(i) = g
      i += 1
    }
    SortedDistinct.sortDedupe(grams, nGram)
  }
}
