package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY.md §4 / builder prompt: "salting for
  * skew").
  *
  * AQE's skew-join split handles most sort-merge skew automatically; salting
  * is the explicit fallback for the pathological case — a handful of hot keys
  * (one customer = 5% of a 100 TB fact table) that would pin single tasks.
  * The fact side gets a uniform pseudo-salt; the (small) build side is
  * replicated once per salt value, so each hot key fans out over `salt`
  * tasks. Join RESULTS are salt-invariant — only the physical distribution
  * changes — which SkewSpec asserts.
  */
object Skew {

  /** `base`, suffixed with `_` until no column of `frames` has that name:
    * a generated helper column must not silently replace, join on or drop
    * a caller's column of the same name. */
  private def freshColumn(base: String, frames: DataFrame*): String = {
    var c = base
    while (frames.exists(_.columns.contains(c))) c += "_"
    c
  }

  /** Inner equi-join of `fact` (potentially skewed on `key`) with the small
    * `build` side, salted `salt` ways. `build` must be unique per key (a
    * dimension), since it is replicated. */
  def saltedJoin(fact: DataFrame, build: DataFrame, key: String, salt: Int): DataFrame = {
    require(salt > 0, "salt must be positive")
    val salts = array((0 until salt).map(lit): _*)
    val saltCol = freshColumn("__graft_salt", fact, build)
    // Salt assignment only affects placement, never the result: a per-row
    // uniform draw, NOT a hash of every fact column (which fails analysis on
    // unhashable column types such as MapType). A hot key fans out over all
    // `salt` buckets regardless of its payload.
    val saltedFact = fact.withColumn(saltCol, (rand(42) * salt).cast("int"))
    val repBuild = build.withColumn(saltCol, explode(salts))
    saltedFact.join(repBuild, Seq(key, saltCol), "inner").drop(saltCol)
  }
}
