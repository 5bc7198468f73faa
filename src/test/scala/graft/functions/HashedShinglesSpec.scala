package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft_hashed_shingles carries the tokenization-parity burden for the
  * jaccard/minhash pipelines: its hand-rolled byte scan must split EXACTLY
  * like Spark's `split(s, " ")` (single-space separators, empty tokens from
  * consecutive/leading/trailing spaces preserved), and its sorted-distinct
  * hash arrays must represent the same shingle SETS as the composed-builtin
  * formulation. These tests pin both, including adversarial whitespace. */
class HashedShinglesSpec extends SparkSpec {

  private def composedShingles(textCol: org.apache.spark.sql.Column, n: Int) = {
    val toks = split(textCol, " ")
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  private val docs = Seq(
    "key agg row scan slow fast",
    "a a a a a",                        // heavy duplication → distinct matters
    "one two",                          // shorter than a 3-shingle
    "",                                 // empty string = one empty token
    "lead  double  gap",                // consecutive spaces → empty tokens
    " leading and trailing ",           // boundary empties
    "x",
    "repeat token repeat token repeat token")

  test("hash count equals the composed-builtin distinct shingle count (widths 1..3)") {
    import spark.implicits._
    val df = docs.toDF("text")
    (1 to 3).foreach { n =>
      val got = df.select(
        size(hashedShingles(col("text"), n)).as("fast"),
        size(array_distinct(composedShingles(col("text"), n))).as("slow"))
        .collect()
      got.zip(docs).foreach { case (r, d) =>
        assert(r.getInt(0) == r.getInt(1), s"width $n mismatch on '$d': ${r.getInt(0)} vs ${r.getInt(1)}")
      }
    }
  }

  test("pairwise intersection counts match the string-set intersections") {
    import spark.implicits._
    val df = docs.zipWithIndex.map(_.swap).toDF("id", "text")
      .withColumn("h", hashedShingles(col("text"), 3))
      .withColumn("s", array_sort(array_distinct(composedShingles(col("text"), 3))))
    val a = df.select(col("id").as("ia"), col("h").as("ha"), col("s").as("sa"))
    val b = df.select(col("id").as("ib"), col("h").as("hb"), col("s").as("sb"))
    val bad = a.join(b, col("ia") < col("ib"))
      .select(
        sortedIntersectCount(col("ha"), col("hb")).as("fast"),
        size(array_intersect(col("sa"), col("sb"))).as("slow"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(bad == 0L, s"$bad pairs with hash-intersect != string-intersect")
  }

  test("sorted-distinct output contract holds") {
    import spark.implicits._
    val arrs = docs.toDF("text")
      .select(hashedShingles(col("text"), 3).as("h"))
      .collect().map(_.getSeq[Long](0))
    arrs.foreach { h =>
      assert(h == h.sorted, "must be sorted")
      assert(h.distinct.size == h.size, "must be distinct")
    }
  }
}
