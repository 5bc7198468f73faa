package graft.operators

import graft.SparkSpec

/** Round-18 invariants — the in-engine recall diagnostic reproduces the
  * recall of its two underlying top-5 sets, and the round-18 finance rows
  * hold their definitional bounds.
  */
class Round18OpsSpec extends SparkSpec {

  test("llm_ann_recall equals the independently-computed recall of ivf vs exact") {
    // the declared row aggregates per label; this pin recomputes global
    // recall from the two underlying top-5 sets with plain Scala set
    // algebra — the aggregated row sums must reproduce it exactly
    import org.apache.spark.sql.functions._
    val exact = LlmVector.llmCosineTopk(spark, sf01)
      .select("a", "nn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = LlmVector.llmAnnIvf(spark, sf01)
      .select("a", "nn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rec = LlmVector.llmAnnRecall(spark, sf01)
    val agg = rec.agg(sum("hits"), sum("exact_pairs"), sum("n_queries"))
      .head()
    assert(agg.getLong(0) === (exact & ann).size.toLong, "hits != |exact ∩ ann|")
    assert(agg.getLong(1) === exact.size.toLong, "exact_pairs != |exact|")
    assert(agg.getLong(2) === exact.map(_._1).size.toLong, "n_queries != |probe set|")
    assertProvenDtypes(rec)
  }

  test("round-18 finance rows hold their definitional bounds on real data") {
    // the oracle proves value equality; these pin the FORMULAS' invariant
    // ranges so a future refactor that stays self-consistent across both
    // engines (and so still hash-matches) but breaks the definition fails
    import org.apache.spark.sql.functions.col
    val gini = Aggregations.aggGini(spark, sf01)
    assert(gini.filter(col("gini") < 0.0 || col("gini") >= 1.0).count() === 0,
      "Gini out of [0, 1)")
    assert(gini.count() === 5, "one row per market segment")
    val rsi = TimeSeries.tsRsi(spark, sf01)
    assert(rsi.filter(col("rsi") < 0.0 || col("rsi") > 100.0).count() === 0,
      "RSI out of [0, 100]")
    val ent = Aggregations.aggEntropy(spark, sf01)
    assert(ent.filter(col("entropy_norm") < 0.0 || col("entropy_norm") > 1.0).count() === 0,
      "normalized entropy out of [0, 1]")
    assert(ent.filter(col("entropy") < 0.0).count() === 0, "entropy negative")
    val gk = TimeSeries.tsGarmanKlass(spark, sf01)
    assert(gk.filter(col("gk_vol") < 0.0).count() === 0, "GK vol negative")
    val boll = TimeSeries.tsBollinger(spark, sf01)
    assert(boll.filter(col("upper") < col("lower")).count() === 0,
      "upper band below lower")
    Seq(gini, rsi, ent, gk, boll).foreach(assertProvenDtypes)
  }
}
