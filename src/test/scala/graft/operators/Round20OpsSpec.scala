package graft.operators

import graft.SparkSpec

/** Round-20 (optimization round) invariants.
  *
  *  - `graft_sign_bucket` (the native IVF sign-projection bucket that
  *    replaced bucketCol's MaxBits×(zip_with+aggregate) interpreted-HOF
  *    tree) must be BIT-EQUAL to the old Column formulation on every
  *    input class the old form could see, including its null-poisoning
  *    edge cases: the Column sum-of-whens collapsed a null embedding, a
  *    null element, or a wrong-length vector to bucket 0, never null.
  *  - the grouped in-row pair enumeration (collect_list →
  *    `graft_sorted_distinct` → double codegen explode, the exact
  *    Graph.orderPairs composition that replaced the graph builders'
  *    lineitem self-join) must emit, per order, EXACTLY the distinct
  *    ordered pair set the self-join produced — duplicated parts,
  *    single-line orders and null parts included — with no within-order
  *    duplicates (graph_cc's support count relies on one-pair-per-order).
  */
class Round20OpsSpec extends SparkSpec {

  import org.apache.spark.sql.functions._
import graft.functions.{signBucket, sortedDistinct}

  test("graft_sign_bucket is bit-equal to the legacy Column bucket, null edges included") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    def vec(): Seq[java.lang.Float] =
      Seq.fill(64)(java.lang.Float.valueOf((rng.nextFloat() - 0.5f) * 10f))
    val normal = (1 to 200).map(i => (i.toLong, vec()))
    val withNullElem = {
      val v = vec().toArray; v(17) = null; Seq((9001L, v.toSeq))
    }
    val shortVec = Seq((9002L, vec().take(63)))
    val longVec = Seq((9003L, vec() ++ Seq(java.lang.Float.valueOf(1.0f))))
    val nanVec = {
      val v = vec().toArray; v(0) = java.lang.Float.valueOf(Float.NaN); Seq((9004L, v.toSeq))
    }
    val nullVec = Seq((9005L, null: Seq[java.lang.Float]))
    val rows = normal ++ withNullElem ++ shortVec ++ longVec ++ nanVec ++ nullVec
    val df = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    for (b <- Seq(0, 1, 5, 8, 16)) {
      val got = df.select(col("vec_id"),
          signBucket(col("embedding"), lit(b)).as("native"),
          LlmVector.bucketColLegacy(col("embedding"), lit(b)).as("legacy"))
        .collect()
      got.foreach { r =>
        assert(!r.isNullAt(1) && !r.isNullAt(2),
          s"bucket must never be null (vec ${r.getLong(0)}, b=$b)")
        assert(r.getLong(1) === r.getLong(2),
          s"native vs legacy bucket diverge at vec ${r.getLong(0)}, b=$b: " +
            s"${r.getLong(1)} vs ${r.getLong(2)}")
      }
      // the normal vectors must actually spread across buckets at b>0 —
      // a both-sides-zero bug would otherwise pass the equality vacuously
      if (b >= 5)
        assert(got.take(200).map(_.getLong(1)).distinct.length > 8,
          s"buckets degenerate at b=$b")
    }
  }

  // ccPropagate's convergence sum now rides the checkpoint job as an
  // observed metric instead of a second aggregate job per round. The
  // property the kernel relies on: at an EAGER localCheckpoint, the
  // observed sum is complete and exactly equals the relation's aggregate
  // (no partial/double-counted tasks), across multiple partitions and on
  // the empty relation (where sum must observe as null, the old
  // head().get(0) value that marks an empty graph converged).
  test("observed checkpoint sum equals the explicit aggregate (ccPropagate convergence metric)") {
    import org.apache.spark.sql.Observation
    val df = spark.range(0, 100000, 1, 16)
      .select(col("id").as("node"), pmod(col("id"), lit(97)).as("lbl"))
    val obs = Observation()
    val out = df.observe(obs, sum(col("lbl")).as("s")).localCheckpoint()
    val expected = out.agg(sum("lbl")).head().get(0)
    assert(obs.get.apply("s") === expected)
    val obsEmpty = Observation()
    val empty = df.filter(lit(false))
      .observe(obsEmpty, sum(col("lbl")).as("s")).localCheckpoint()
    assert(empty.count() === 0L)
    assert(obsEmpty.get.apply("s") == null)
  }

  test("grouped in-row pair stream equals the self-join pair set, duplicates and nulls included") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // orders of 1..7 lines over a small part pool so within-order duplicate
    // parts occur; two orders carry null parts (which equi-joins drop)
    val rows: Seq[(Long, java.lang.Long)] = (1L to 300L).flatMap { ok =>
      (0 until 1 + rng.nextInt(7)).map(_ => (ok, java.lang.Long.valueOf(rng.nextInt(40).toLong)))
    } ++ Seq((9001L, null: java.lang.Long), (9001L, java.lang.Long.valueOf(5L)),
      (9002L, null: java.lang.Long))
    val li = rows.toDF("ok", "p")
    val joinForm = li.toDF("ok", "a").join(li.toDF("ok", "b"), "ok")
      .filter(col("a") =!= col("b"))
      .select("ok", "a", "b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val grouped = li.groupBy("ok").agg(collect_list("p").as("ps"))
      .select(col("ok"), sortedDistinct(col("ps")).as("ps"))
      .select(col("ok"), explode(col("ps")).as("a"), col("ps"))
      .select(col("ok"), col("a"), explode(col("ps")).as("b"))
      .filter(col("a") =!= col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(grouped.length === grouped.distinct.length,
      "in-row pairs must be distinct per order")
    assert(grouped.toSet === joinForm.toSet,
      s"pair sets diverge: ${grouped.toSet.diff(joinForm.toSet).take(3)} vs ${joinForm.toSet.diff(grouped.toSet).take(3)}")
    assert(joinForm.nonEmpty)
  }

  // graphPagerank's node count is now folded in as plan LITERALS from the
  // adjacency cache-materialization count() (it was an in-plan 1-row
  // aggregate, broadcast-fanned into the ranks seed and threaded through
  // every iteration's edge-sized shuffle as an n_total column). The
  // restructure must be VALUE-IDENTICAL: same IEEE double recurrence, so
  // the rounded pr_scaled of every node is exactly equal to the legacy
  // in-plan-n form on real data.
  test("pagerank literal-n recurrence equals the legacy in-plan-n form exactly") {
    val got = Graph.graphPagerank(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // legacy form, verbatim pre-change recurrence over the same adjacency
    val adj = Graph.orderPairs(spark, sf001, 0)
      .repartition(col("a"))
      .dropDuplicates("a", "b")
      .groupBy("a")
      .agg(collect_list("b").as("nbrs"), count(lit(1)).as("outdeg"))
      .persist()
    adj.count()
    val n = adj.agg(count(lit(1)).as("n_total"))
    var ranks = Fanout.broadcastAll(adj.select("a"), n, col("a"), col("n_total"))
      .select(col("a").as("node"), col("n_total"), (lit(1.0) / col("n_total")).as("r"))
    for (_ <- 1 to 5) {
      ranks = adj
        .join(ranks.select(col("node").as("a"), col("n_total"), col("r")), "a")
        .select(col("n_total"), (col("r") / col("outdeg")).as("c"),
          explode(col("nbrs")).as("node"))
        .groupBy("node")
        .agg(first("n_total").as("n_total"),
          ((lit(1.0 - 0.85) / first("n_total")) +
            lit(0.85) * sum(col("c"))).as("r"))
    }
    val legacy = ranks
      .select(col("node"), round(col("r") * col("n_total"), 6).as("pr_scaled"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    adj.unpersist()
    assert(got.nonEmpty)
    assert(got.length === legacy.size)
    got.foreach { case (node, pr) =>
      assert(legacy(node) === pr,
        s"pr_scaled diverges at node $node: literal-n $pr vs legacy ${legacy(node)}")
    }
  }
}
