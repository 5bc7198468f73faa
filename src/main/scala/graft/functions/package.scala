package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** The engine's native Catalyst expressions as typed Columns.
  *
  * Operators call the factories below (`dot(a, b)`, `signBucket(emb, bits)`,
  * …): each builds its expression directly through the Column ↔ Expression
  * bridge, so a query needs no per-session registration and works in any
  * session, `newSession()` children included. Analysis sees the same
  * expression objects a SQL call would build, and every expression's
  * `prettyName` is its SQL name, so plans read the same either way.
  *
  * `natives` is the single name → builder table; `graft.GraftExtensions`
  * injects it as the SQL surface (`spark.sql.extensions`).
  */
package object functions {

  /** SQL name, expression class and builder of every native expression. */
  private[graft] val natives: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("graft_l2norm", classOf[L2Norm], e => L2Norm(e(0))),
    ("graft_bloom_might_contain", classOf[BloomMightContain], e => BloomMightContain(e(0), e(1))),
    ("graft_hamming", classOf[HammingDistance], e => HammingDistance(e(0), e(1))),
    ("graft_sorted_contains", classOf[SortedContains], e => SortedContains(e(0), e(1))),
    ("graft_sorted_intersect_count", classOf[SortedIntersectCount], e => SortedIntersectCount(e(0), e(1))),
    ("graft_sorted_distinct", classOf[SortedDistinct], e => SortedDistinct(e(0))),
    ("graft_pq_dot", classOf[PqDot], e => PqDot(e(0), e(1), e(2), e(3))),
    ("graft_del_variants", classOf[DeletionVariants], e => DeletionVariants(e(0), e(1))),
    ("graft_hashed_shingles", classOf[HashedShingles], e => HashedShingles(e(0), e(1))),
    ("graft_sign_bucket", classOf[SignBucket], e => SignBucket(e(0), e(1))),
    ("graft_ivf_topcells", classOf[IvfTopCells], e => IvfTopCells(e)),
  )

  /** FNV-1a-64 offset basis and prime, and the splitmix64 finalizer: the
    * token hash of the signature expressions (graft_hashed_shingles,
    * graft_del_variants). */
  private[functions] final val FnvOffset = 0xcbf29ce484222325L
  private[functions] final val FnvPrime = 0x100000001b3L

  private[functions] def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** graft_dot: Σ a[i]·b[i] over two array<float>, folded in double. */
  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))

  /** graft_l2norm: L2 norm of an array<float>. */
  def l2norm(v: Column): Column = column(L2Norm(expression(v)))

  /** graft_bloom_might_contain: probe a bigint key against a serialized
    * `BloomFilter` sketch, which must be foldable (e.g. `lit(bytes)`). */
  def bloomMightContain(sketch: Column, key: Column): Column =
    column(BloomMightContain(expression(sketch), expression(key)))

  /** graft_hamming: popcount(a xor b) of two bigint fingerprints. */
  def hamming(a: Column, b: Column): Column = column(HammingDistance(expression(a), expression(b)))

  /** graft_sorted_contains: binary search of `v` in a sorted array<bigint>. */
  def sortedContains(sorted: Column, v: Column): Column =
    column(SortedContains(expression(sorted), expression(v)))

  /** graft_sorted_intersect_count: |a ∩ b| of two sorted distinct arrays. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))

  /** graft_sorted_distinct: sorted distinct non-null elements of an array<bigint>. */
  def sortedDistinct(a: Column): Column = column(SortedDistinct(expression(a)))

  /** graft_pq_dot: dot of a float query against a PQ-coded vector. */
  def pqDot(q: Column, codes: Column, base: Column, scale: Column): Column =
    column(PqDot(expression(q), expression(codes), expression(base), expression(scale)))

  /** graft_del_variants: sorted distinct hashes of every ≤k-deletion variant (k is 1 or 2). */
  def delVariants(s: Column, k: Int): Column = column(DeletionVariants(expression(s), Literal(k)))

  /** graft_hashed_shingles: sorted distinct hashes of the `width`-token shingles. */
  def hashedShingles(text: Column, width: Int): Column =
    column(HashedShingles(expression(text), Literal(width)))

  /** graft_sign_bucket: the IVF sign-projection bucket over the low `bits` hyperplanes. */
  def signBucket(emb: Column, bits: Column): Column =
    column(SignBucket(expression(emb), expression(bits)))

  /** graft_ivf_topcells: the top-`limit` IVF cells of one embedding against
    * a centroid matrix (cells, flat row-major centroids, centroid norms). */
  def ivfTopCells(emb: Column, nrm: Column, cells: Column, flat: Column,
      cnrms: Column, limit: Int): Column =
    column(IvfTopCells(Seq(emb, nrm, cells, flat, cnrms).map(expression) :+ Literal(limit)))
}
