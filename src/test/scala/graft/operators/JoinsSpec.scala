package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Specs for `Joins`: the fuzzy top-k join's k cap and ordering. */
class JoinsSpec extends SparkSpec {

  test("fuzzy top-k: hand-computed fixture — k cap, ed-before-key order, block isolation") {
    import spark.implicits._
    // Block A (nation 1): five mutually-ed-1 names + one ed-2 satellite.
    // Block B (nation 2): a mix where the LARGER key has the SMALLER
    // distance, so (ed asc, key asc) ordering is actually exercised.
    // Key 30 carries a name identical to key 1's but in nation 3 — the
    // block key must keep it matchless (absent from the output).
    val c = Seq(
      (1L, 1, "AUTO", "Customer#000000001"),
      (2L, 1, "AUTO", "Customer#000000002"),
      (3L, 1, "AUTO", "Customer#000000003"),
      (5L, 1, "AUTO", "Customer#000000005"),
      (7L, 1, "AUTO", "Customer#000000007"),
      (11L, 1, "AUTO", "Customer#000000044"),
      (20L, 2, "AUTO", "Alpha#01"),
      (21L, 2, "AUTO", "Alpha#99"),
      (22L, 2, "AUTO", "Alpha#09"),
      (30L, 3, "AUTO", "Customer#000000001"),
    ).toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_name")
    val got = Joins.fuzzyTopkCore(c, 3).orderBy("anchor", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = Seq(
      // anchor, rk, match_key, ed
      (1L, 1L, 2L, 1L), (1L, 2L, 3L, 1L), (1L, 3L, 5L, 1L), //  7 and 11 cut by k=3
      (2L, 1L, 1L, 1L), (2L, 2L, 3L, 1L), (2L, 3L, 5L, 1L),
      (3L, 1L, 1L, 1L), (3L, 2L, 2L, 1L), (3L, 3L, 5L, 1L),
      (5L, 1L, 1L, 1L), (5L, 2L, 2L, 1L), (5L, 3L, 3L, 1L),
      (7L, 1L, 1L, 1L), (7L, 2L, 2L, 1L), (7L, 3L, 3L, 1L),
      (11L, 1L, 1L, 2L), (11L, 2L, 2L, 2L), (11L, 3L, 3L, 2L),
      (20L, 1L, 22L, 1L), (20L, 2L, 21L, 2L), // 22 (ed 1) BEFORE 21 (ed 2)
      (21L, 1L, 22L, 1L), (21L, 2L, 20L, 2L),
      (22L, 1L, 20L, 1L), (22L, 2L, 21L, 1L),
    )
    assert(got.toSeq === expected)
    assertProvenDtypes(Joins.fuzzyTopkCore(c, 3))
  }

  test("fuzzy top-k output is bounded by k per anchor on the real corpus") {
    val topk = Joins.joinFuzzyTopk(spark, sf001)
    val over = topk.groupBy("anchor").count().filter(col("count") > 3).count()
    assert(over === 0, s"$over anchors exceed the k=3 cap")
  }
}
