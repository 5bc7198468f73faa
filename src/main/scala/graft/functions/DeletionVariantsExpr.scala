package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: sorted DISTINCT 64-bit hashes of every
  * variant of the input obtainable by deleting AT MOST `k` CODEPOINTS —
  * the symmetric-delete ("FastSS" / SymSpell-family) signature scheme for
  * edit-distance candidate generation.
  *
  * Soundness (the property the fuzzy join relies on): if ed(s, t) ≤ k,
  * an optimal alignment contains ≤ k edit operations, each of which
  * touches at most one codepoint of s and one codepoint of t; deleting
  * the touched codepoints from each side leaves the SAME aligned
  * subsequence. That common string is reachable from s with ≤ k deletions
  * and from t with ≤ k deletions, so del≤k(s) ∩ del≤k(t) ≠ ∅ — sharing a
  * variant hash is a NECESSARY condition for ed ≤ k. It is not sufficient
  * (a shared variant only bounds ed ≤ 2k), and 64-bit hashing can add
  * spurious collisions; both false-positive sources are removed by the
  * exact banded-levenshtein confirm that consumers must keep, so the
  * composition is exact.
  *
  * The deletion unit MUST be the codepoint, not the UTF-8 byte, because
  * the downstream confirm (Spark/DuckDB `levenshtein`) counts CHARACTER
  * edits: one character edit on a multi-byte codepoint is up to 4 byte
  * edits, so two character edits can be 8 byte edits and byte-level
  * del≤2 variants of a true char-ed≤2 pair need not intersect — the
  * signature join would silently drop the pair before the exact confirm
  * could see it. Codepoint-level deletions align the signature's edit
  * unit with the confirm's, restoring the superset guarantee for any
  * Unicode input (an earlier byte-level version was only correct on
  * ASCII corpora).
  *
  * Cost model: 1 + n + n(n−1)/2 signatures per string for k = 2 (≈172 for
  * an 18-codepoint key), each hashed in O(n) — per-row work is O(n³)
  * codepoints and the emitted array is O(n²) longs, after one O(n) UTF-8
  * decode per row. This is the standard trade for SHORT JOIN KEYS (names,
  * codes, ids): signature volume is linear in corpus size, so candidate
  * pairs are bounded by true near-duplicate density instead of block². It
  * is NOT meant for document bodies — shingle/MinHash
  * (graft_hashed_shingles + LSH banding) is the long-text design.
  *
  * Supported k: 1 or 2 (literal). Hash = FNV-1a-64 over the codepoint
  * scalar values + splitmix64 finalizer, matching the repo's other
  * signature expressions.
  */
case class DeletionVariants(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_del_variants"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        val k = right.eval()
        if (k == null || k.asInstanceOf[Int] < 1 || k.asInstanceOf[Int] > 2)
          TypeCheckResult.TypeCheckFailure("graft_del_variants k must be a literal 1 or 2")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_del_variants requires (string, int literal), got (${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DeletionVariants.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DeletionVariants.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DeletionVariants =
    copy(left = newLeft, right = newRight)
}

object DeletionVariants {
  /** FNV-1a over the codepoints of `cps` skipping indices d1 and d2 (pass
    * -1 to skip nothing). Each codepoint's 21-bit scalar value is mixed as
    * one token (FNV's xor-multiply chain doesn't care that the token is
    * wider than an octet — this is a signature hash, not a spec FNV).
    * Sequential-only hash — no prefix composition exists for the
    * xor-multiply chain, so each variant is a fresh O(n) pass; fine for
    * the short-key regime this expression is scoped to. */
  private def hashSkipping(cps: Array[Int], d1: Int, d2: Int): Long = {
    var h = FnvOffset
    var i = 0
    while (i < cps.length) {
      if (i != d1 && i != d2) h = (h ^ (cps(i) & 0xffffffffL)) * FnvPrime
      i += 1
    }
    splitmix64(h)
  }

  /** UTF-8 → codepoint scalar values. Surrogate pairs in the UTF-16
    * intermediate collapse to one codepoint, so deletion positions match
    * what a character-level levenshtein counts as one edit. */
  private def codePointsOf(s: UTF8String): Array[Int] = {
    val str = s.toString
    val out = new Array[Int](str.codePointCount(0, str.length))
    var i = 0
    var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      out(j) = cp
      j += 1
      i += Character.charCount(cp)
    }
    out
  }

  /** Public + JVM-friendly signature so generated code can call it. */
  def compute(s: UTF8String, k: Int): ArrayData = {
    val b = codePointsOf(s)
    val n = b.length
    val count = 1 + (if (k >= 1) n else 0) + (if (k >= 2) n * (n - 1) / 2 else 0)
    val out = new Array[Long](count)
    var w = 0
    out(w) = hashSkipping(b, -1, -1); w += 1
    if (k >= 1) {
      var d1 = 0
      while (d1 < n) { out(w) = hashSkipping(b, d1, -1); w += 1; d1 += 1 }
    }
    if (k >= 2) {
      var d1 = 0
      while (d1 < n) {
        var d2 = d1 + 1
        while (d2 < n) { out(w) = hashSkipping(b, d1, d2); w += 1; d2 += 1 }
        d1 += 1
      }
    }
    // identical bytes at different deletion positions — e.g. runs of '0' —
    // collapse to one signature
    SortedDistinct.sortDedupe(out, w)
  }
}
