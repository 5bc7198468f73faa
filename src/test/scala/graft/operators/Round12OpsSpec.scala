package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.{dot, sortedContains}

/** Invariant checks for the round-12 additions that no oracle can see:
  * the binary-search membership kernel behind deletion-vector application
  * (codegen + interpreted agreement, boundary behavior). */
class Round12OpsSpec extends SparkSpec {

  test("sorted-contains binary search agrees with array_contains (codegen + interpreted)") {
    // codegen path over a real plan: every position in and around a sorted
    // array, including duplicates and both ends
    val rows = spark.range(-2, 13)
      .select(
        col("id").as("v"),
        sortedContains(expr("array(0L, 1L, 3L, 3L, 7L, 10L)"), col("id")).as("bs"),
        expr("array_contains(array(0L, 1L, 3L, 3L, 7L, 10L), id)").as("lin"))
      .collect()
    rows.foreach(r => assert(r.getBoolean(1) === r.getBoolean(2),
      s"mismatch at v=${r.getLong(0)}"))
    // empty array finds nothing; null array / null needle stay null (literal
    // arguments, so this part is constant-folded, not code generated)
    val edge = spark.range(1).select(
      sortedContains(expr("CAST(array() AS ARRAY<LONG>)"), expr("1L")).as("e"),
      sortedContains(expr("CAST(NULL AS ARRAY<LONG>)"), expr("1L")).as("na"),
      sortedContains(expr("array(1L)"), expr("CAST(NULL AS LONG)")).as("nv")).head()
    assert(!edge.getBoolean(0))
    assert(edge.isNullAt(1) && edge.isNullAt(2))
    // interpreted path (direct eval, no codegen)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val arr = Literal.create(
      new GenericArrayData(Array[Any](0L, 1L, 3L, 3L, 7L, 10L)),
      ArrayType(LongType, containsNull = false))
    val e = graft.functions.SortedContains(arr, Literal(7L))
    assert(e.eval(null) === true)
    assert(graft.functions.SortedContains(arr, Literal(8L)).eval(null) === false)
  }

  test("dv read via per-file binary search equals the plain predicate filter") {
    // semantic pin at a SECOND scale factor (the oracle replays sf0.01):
    // the unexploded-broadcast + sorted-contains read must keep exactly
    // the rows a plain WHERE NOT predicate keeps
    val root = Sinks.dvWriteData(spark, sf001)
    Sinks.dvDelete(spark, root)
    val viaDv = Sinks.dvRead(spark, root)
      .select("l_orderkey", "l_linenumber")
    val expected = graft.Tables.lineitem(spark, sf001)
      .filter(!Sinks.dvDeletePredicate)
      .select("l_orderkey", "l_linenumber")
    assert(viaDv.exceptAll(expected).isEmpty && expected.exceptAll(viaDv).isEmpty,
      "merge-on-read result must equal the logical delete")
  }

  test("graph_cc labels satisfy the defining CC property on every edge") {
    // ccLabels iterates to a require()d fixpoint, so convergence is
    // enforced by construction; what a fixpoint alone does NOT guarantee
    // is that it is the RIGHT fixpoint. Pin the defining property
    // directly: every edge's endpoints carry the same label, and every
    // label is the component MIN (label ≤ node, label is itself a node).
    // sf0.01, not sf0.001: the smallest SF's 200-part universe is dense
    // enough that even the support-≥2 graph is one component (the oracle
    // agrees — 1 row there); the structure the operator exists to report
    // appears from sf0.01 up (9 components there, 20+ at sf0.1).
    val lab = Graph.ccLabels(spark, sf01)
    val pairs = Graph.ccPairs(spark, sf01, 0)
    val mismatched = pairs
      .join(lab.select(col("node").as("a"), col("lbl").as("la")), "a")
      .join(lab.select(col("node").as("b"), col("lbl").as("lb")), "b")
      .filter(col("la") =!= col("lb")).count()
    assert(mismatched == 0, s"$mismatched edges straddle components")
    assert(lab.filter(col("lbl") > col("node")).count() == 0, "label must be a min")
    val labelSet = lab.select(col("lbl").as("node")).distinct()
    assert(labelSet.exceptAll(lab.select("node").distinct()).isEmpty,
      "every label must be a member node")
    val comps = lab.select("lbl").distinct().count()
    assert(comps >= 2, s"support->=2 graph collapsed to $comps component(s)")
    assert(lab.count() > comps, "components must be non-trivial (some size > 1)")
  }

  test("MMR rerank: greedy per-step optimality and a real diversity win") {
    val out = LlmVector.llmMmrRerank(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length == 8 && out.map(_._1).toSeq == (1L to 8L))
    // independent re-derivation of probe + candidates (same definition)
    val e = graft.Tables.embeddings(spark, sf001)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"), sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getDouble(2)))
      .sortBy(_._1)
    val probe = e.head
    def cos(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)) =
      a._2.zip(b._2).map { case (x, y) => x * y }.sum / (a._3 * b._3)
    val byId = e.map(t => t._1 -> t).toMap
    val cands = e.tail.map(t => (t._1, cos(t, probe)))
      .sortBy { case (id, rel) => (-rel, id) }.take(32)
    // step-1 greedy: rank 1 is the max-relevance candidate
    assert(out.head._2 == cands.head._1, "rank 1 must be the most relevant candidate")
    // every later pick maximizes the MMR objective among the remaining
    val lambda = 0.7
    var sel = List(out.head._2)
    out.tail.foreach { case (_, id, _, _) =>
      val remaining = cands.filterNot(c => sel.contains(c._1))
      val scores = remaining.map { case (cid, rel) =>
        val maxSim = sel.map(s => cos(byId(cid), byId(s))).max
        (cid, lambda * rel - (1 - lambda) * maxSim)
      }
      val bestScore = scores.map(_._2).max
      val pickedScore = scores.find(_._1 == id).get._2
      assert(pickedScore >= bestScore - 1e-12,
        s"pick $id scored $pickedScore < greedy best $bestScore")
      sel :+= id
    }
    // diversity win: the MMR set's mean pairwise cosine is below the
    // plain top-8's (the whole point of the reranker on clustered data)
    def meanPairCos(ids: Seq[Long]) = {
      val ps = for (i <- ids.indices; j <- i + 1 until ids.size)
        yield cos(byId(ids(i)), byId(ids(j)))
      ps.sum / ps.size
    }
    val mmrIds = out.map(_._2).toSeq
    val plainIds = cands.take(8).map(_._1).toSeq
    assert(meanPairCos(mmrIds) < meanPairCos(plainIds),
      "MMR set must be more diverse than the plain top-8")
  }
}
