package graft.operators

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Operators that use native expressions run in a session that never
  * registered anything. `newSession()` gets its own function registry, so a
  * name registered in the parent session does not resolve in the child;
  * `graft.functions` builds its expressions as typed Columns, which need no
  * registry. Each operator below runs on a fresh child session and must
  * match the shared session's result. */
class FreshSessionSpec extends SparkSpec {

  private lazy val fresh = spark.newSession()

  test("bloom prefilter runs in a fresh session and keeps every semi-join row") {
    val urgent = Tables.orders(fresh, sf001)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val probe = Joins.bloomPrefilter(urgent, "o_orderkey", col("l_orderkey"))
    assert(probe.isDefined, "small build side must get a prefilter")
    val li = Tables.lineitem(fresh, sf001)
    val kept = li.filter(probe.get).count()
    val exact = li.join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(kept >= exact && kept < li.count(), s"kept $kept, exact $exact")
  }

  test("fuzzy-join candidates run in a fresh session and match the shared session") {
    def pairs(s: org.apache.spark.sql.SparkSession) =
      Joins.fuzzyCandidates(Tables.customer(s, sf001))
        .select("k1", "k2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(fresh)
    assert(got.nonEmpty)
    assert(got == pairs(spark))
  }

  test("llm_ann_ivf runs in a fresh session and matches the shared session") {
    def run(s: org.apache.spark.sql.SparkSession) =
      SparkEntry.queries("llm_ann_ivf")(s, sf001).collect().toSeq
    val got = run(fresh)
    assert(got.nonEmpty)
    assert(got == run(spark))
  }
}
