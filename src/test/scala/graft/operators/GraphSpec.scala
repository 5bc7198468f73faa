package graft.operators

import graft.SparkSpec
import graft.functions.sortedDistinct
import org.apache.spark.sql.functions._

/** Specs for `Graph`: connected-component convergence on an
  * odd-diameter path, on random one-direction graphs against a reference
  * union-find, and under the star pass's flush cap; the observed
  * convergence sum, the in-row
  * co-purchase pair stream, and PageRank's literal-n recurrence. */
class GraphSpec extends SparkSpec {

  test("ccPropagate: odd-diameter path converges exactly under any round schedule") {
    import spark.implicits._
    // Path 1-2-3-4-5-6 (5 hops of propagation needed — odd, so a paired
    // schedule's fixpoint lands mid-round) plus a separate 2-cycle {10, 11}.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (10L, 11L))
    val sym = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("a", "b")
    val lab = Graph.ccPropagate(sym, 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 6L).forall(lab(_) == 1L), s"path component labels: $lab")
    assert(lab(10L) === 10L && lab(11L) === 10L, s"pair component labels: $lab")
    assert(lab.size === 8)
  }

  /** Reference labels: node → min node of its component, by a plain local
    * union-find over the undirected edges. */
  private def referenceLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val up = scala.collection.mutable.Map.empty[Long, Long]
    def root(x: Long): Long = up.get(x).fold(x)(root)
    edges.foreach { case (a, b) =>
      val (ra, rb) = (root(a), root(b))
      if (ra != rb) up(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap { case (a, b) => Seq(a, b) }.distinct.map(x => x -> root(x)).toMap
  }

  test("ccPropagate equals a reference union-find on one-direction random graphs over 1, 3 and 8 partitions") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    for (graph <- 0 until 3; parts <- Seq(1, 3, 8)) {
      // sparse random edges, each stored in ONE direction only, shuffled so
      // components span partitions; node 900 + graph's only edge is a self-loop
      val und = Seq.fill(60)((rng.nextInt(120).toLong, rng.nextInt(120).toLong))
        .filter { case (a, b) => a != b }
      val edges = rng.shuffle(und :+ ((900L + graph, 900L + graph)))
      val lab = Graph.ccPropagate(
        spark.sparkContext.parallelize(edges, parts).toDF("a", "b"), 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lab === referenceLabels(edges), s"graph $graph over $parts partitions")
    }
    assert(Graph.ccPropagate(Seq.empty[(Long, Long)].toDF("a", "b"), 0).count() === 0L)
  }

  test("localStars keeps the node set and the components under a 2- and 3-node flush cap") {
    val rng = new scala.util.Random(5)
    val edges = Seq.fill(40)((rng.nextInt(30).toLong, rng.nextInt(30).toLong)) :+ ((77L, 77L))
    val whole = Graph.localStars(edges.iterator).toSeq
    // one flush at the end: every local component is one star around its min
    assert(whole.forall { case (a, b) => a == b || whole.contains((b, a)) })
    assert(referenceLabels(whole) === referenceLabels(edges))
    for (cap <- Seq(2, 3)) {
      val flushed = Graph.localStars(edges.iterator, cap).toSeq
      assert(flushed.size > whole.size, s"cap $cap must flush more than once")
      assert(referenceLabels(flushed) === referenceLabels(whole), s"cap $cap")
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
    val n = adj.agg(count(lit(1))).scalar()
    var ranks = adj.select(col("a").as("node"), n.as("n_total"), (lit(1.0) / n).as("r"))
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
