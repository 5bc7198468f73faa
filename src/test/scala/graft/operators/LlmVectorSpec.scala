package graft.operators

import graft.SparkSpec
import graft.functions.{signBucket, SignBucket}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Specs for `LlmVector`: the IVF cell and probe laws, the native sign
  * bucket against its Column-form twin, and `llm_ann_recall` against an
  * independent recomputation. */
class LlmVectorSpec extends SparkSpec {

  test("IVF bucket-bit law: ~512-row cells to the 131k knee, sqrt(N) cells past it, clamped at 16") {
    import spark.implicits._
    val expected = Seq(
      // regime 1 (x ≤ 8): identical to the pre-round-16 law — every
      // oracle SF (200 / 500 / 2000) and the ×10/×30 sweep points
      200L -> 0, 500L -> 0, 2000L -> 2, 20000L -> 6, 60000L -> 7,
      // the knee itself: continuous (both branches give 8 at N = 512·2^8)
      131072L -> 8,
      // regime 2 (√N): the old law CLAMPED to 8 here — 9/10 are the fork
      200000L -> 9, // the graded ×100 point
      600000L -> 10, // the ×300 stretch-probe point
      // ×4 data per +1 bit under the √ law (2^b doubles as N quadruples)
      2097152L -> 10, 8388608L -> 11,
      // the clamp: an order of magnitude past any reachable corpus
      1000000000000L -> 16)
    val got = expected.map(_._1).toDF("n")
      .select(col("n"), LlmVector.bucketBits(col("n")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    expected.foreach { case (n, b) =>
      assert(got(n) === b, s"bucketBits($n) drifted: got ${got(n)}, law says $b")
    }
  }

  test("IVF cell key separates labels: bucket range stays below the label shift") {
    // vcell = label·2^MaxBits + bucket; with MaxBits=16 the clamp above
    // guarantees bucket < 2^16, so cells can never collide across labels.
    // Pin via the law: the largest b the clamp emits is 16.
    import spark.implicits._
    val maxB = Seq(Long.MaxValue / 2).toDF("n")
      .select(LlmVector.bucketBits(col("n"))).head().getInt(0)
    assert(maxB === 16, s"clamp drifted to $maxB — vcell label shift must move with it")
  }

  test("IVF probe law is 3 + 2b at every bit budget") {
    import spark.implicits._
    val got = (0 to 16).toDF("b")
      .select(col("b"), LlmVector.nprobeCol(col("b")).cast("int").as("np"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    (0 to 16).foreach { b =>
      assert(got(b) === 3 + 2 * b, s"probe law drifted at b=$b: ${got(b)} != ${3 + 2 * b}")
    }
  }

  /** The Column formulation `graft_sign_bucket` replaced: per hyperplane a
    * 64-literal weight array, `zip_with` and an `aggregate` fold, summed as
    * one `when` per bit. Kept here as the twin the native expression must
    * equal bit for bit. */
  private def bucketColLegacy(embedding: Column, bBits: Column): Column =
    (0 until SignBucket.MaxBits).map { j =>
      val wj = array((0 until SignBucket.Dim).map(i => lit(SignBucket.weight(j, i))): _*)
      val dj = aggregate(
        zip_with(embedding, wj, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(lit(j) < bBits && dj > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

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
          bucketColLegacy(col("embedding"), lit(b)).as("legacy"))
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
}
