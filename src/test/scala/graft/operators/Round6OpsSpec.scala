package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Invariant checks for the round-6 operators: MERGE/upsert plan shape and
  * row accounting, compaction file layout (count + disjoint key ranges),
  * and the heavy-hitters query's equivalence to the exact definition —
  * properties the DuckDB hash-compare can't (file layout) or shouldn't
  * (already-covered exactness, asserted here at a second SF) express. */
class Round6OpsSpec extends SparkSpec {

  test("merge upsert plans one full-outer equi-join, never a cross product") {
    val plan = Sinks.merged(spark, sf001).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("FullOuter"), s"merge must be a full-outer join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"both merge sides scale with the fact table — neither may broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"merge degenerated to a cross product:\n$plan")
  }

  test("merge upsert accounts for every row: keeps + updates + inserts") {
    val orders = Tables.orders(spark, sf001)
    val nOrders = orders.count()
    val nUpd = orders.filter(col("o_orderkey") % 10 === 3).count()
    val nIns = orders.filter(col("o_orderkey") % 10 === 7).count()
    val out = Sinks.sinkMergeUpsert(spark, sf001).cache()
    try {
      assert(out.count() === nOrders + nIns, "merged snapshot = target ∪ inserts")
      val byOp = out.groupBy("op").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byOp("update") === nUpd)
      assert(byOp("insert") === nIns)
      assert(byOp("keep") === nOrders - nUpd)
      // updated rows actually carry the changeset values
      assert(out.filter(col("op") === "update" && col("o_orderstatus") =!= "R").count() === 0)
      assert(out.filter(col("op") === "insert" && col("o_orderkey") >= 0).count() === 0)
    } finally out.unpersist(): Unit
  }

  test("compaction writes exactly the target file count with disjoint key ranges") {
    val summary = Sinks.sinkCompaction(spark, sf001).collect()(0)
    assert(summary.getLong(0) === Sinks.CompactionFiles.toLong, "file count")
    assert(summary.getLong(1) === Tables.lineitem(spark, sf001).count(), "row preservation")
    // range partitioning ⇒ per-file [min,max] l_orderkey ranges must not
    // overlap — that's what lets parquet footer stats prune whole files
    val tmp = Scans.scratchDir(spark, sf001, "compact_lineitem")
    val ranges = spark.read.parquet(tmp)
      .select(input_file_name().as("f"), col("l_orderkey"))
      .groupBy("f")
      .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length === Sinks.CompactionFiles)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi <= lo, s"file key ranges overlap: $ranges")
      case _ =>
    }
  }

  test("agg_freq_items equals the exact heavy-hitter definition (second SF)") {
    val got = Aggregations.aggFreqItems(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val ev = Tables.events(spark, sf001).select("event_type", "user_id")
    val exact = ev.groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
      .join(ev.groupBy("event_type").agg(count(lit(1)).as("n")), "event_type")
      .filter(col("cnt") > col("n") / 120.0)
      .select("event_type", "user_id", "cnt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === exact, "sketch nondeterminism must not reach the output")
    assert(exact.nonEmpty, "threshold should catch hitters at this SF — vacuous otherwise")
  }
}
