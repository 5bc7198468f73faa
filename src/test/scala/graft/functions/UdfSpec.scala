package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** §2.11 rows-only coverage: native-Expression vs UDF twin equality. */
class UdfSpec extends SparkSpec {

  /** Scala-UDF twin of the L2Norm expression (same fold order → bit-equal). */
  private val l2normUdf = udf { (a: Seq[Float]) =>
    var s = 0.0
    a.foreach { x => s += x.toDouble * x.toDouble }
    math.sqrt(s)
  }

  test("L2Norm expression is bit-equal to the UDF twin on every row") {
    val both = Tables.embeddings(spark, sf001)
      .select(col("vec_id"),
        l2norm(col("embedding")).as("native"),
        l2normUdf(col("embedding")).as("viaUdf"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2),
        s"vec ${r.getLong(0)}: native ${r.getDouble(1)} != udf ${r.getDouble(2)}")
    }
  }

  test("L2Norm participates in whole-stage codegen") {
    val plan = Tables.embeddings(spark, sf001)
      .select(l2norm(col("embedding")))
      .queryExecution.executedPlan.toString
    // WholeStageCodegen stages render as "*(n)" in plan tree strings
    assert(plan.contains("*("), s"plan was:\n$plan")
  }

  test("Aggregator partial-merge equals single-pass result") {
    // merge() correctness: 1-partition vs 8-partition runs must agree exactly
    val one = Udfs.udafGeoMean(spark, sf001).collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val spread = {
      val gm = udaf(Udfs.GeoMean)
      Tables.lineitem(spark, sf001).repartition(8)
        .groupBy("l_linestatus").agg(round(gm(col("l_quantity")), 4).as("g"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    }
    assert(one == spread)
  }
}
