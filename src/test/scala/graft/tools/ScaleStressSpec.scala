package graft.tools

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the embeddings growth model of the scale harness (round 16).
  *
  * ScaleStress synthesizes ×mult corpora; through round 15 its embeddings
  * copies were byte-identical key-shifted clones, which made every ann
  * BUILD sweep measure a degenerate corpus — exact-copy families of size
  * ∝N share one IVF cell under ANY sign-projection law, so candidate
  * volume was quadratic no matter the bucket-bit law (the ×300 knee's
  * completed attribution, SCALE.md round 16). The fix grows copy blocks
  * as deterministic ISOMETRIES of the base corpus. This spec pins the
  * four invariants that make that instrument honest, so a future edit
  * cannot quietly reintroduce clone growth:
  *
  *   1. copy 0 is the identity (the ×1 rows embedded in every synth dir
  *      are the real base corpus);
  *   2. norms are preserved (an isometry — cell/centroid geometry of a
  *      block matches the base corpus);
  *   3. within-block pairwise cosines equal the base corpus's (each block
  *      reproduces the base's neighborhood/near-dup structure exactly);
  *   4. cross-block cosines decorrelate (copies are NEW content, not
  *      near-dups of their original — mean |cos| far below the ~0.95+
  *      near-dup regime).
  */
class ScaleStressSpec extends SparkSpec {

  private lazy val base = graft.Tables.embeddings(spark, sf001)
    .select("vec_id", "embedding").limit(50).cache()

  private def norms(df: org.apache.spark.sql.DataFrame) = df.selectExpr(
    "vec_id",
    "sqrt(aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * x)) AS nrm")

  test("isometricCopy(0) is the identity") {
    val out = ScaleStress.isometricCopy(base, 0)
    assert(out.exceptAll(base).count() === 0 && base.exceptAll(out).count() === 0)
  }

  test("isometricCopy preserves norms and within-block cosines, and decorrelates across blocks") {
    val copy = ScaleStress.isometricCopy(base, 7)

    // norms: float-exact up to the double fold (sign/permute move exact values)
    val nj = norms(base).join(norms(copy).withColumnRenamed("nrm", "nrm2"), "vec_id")
    val maxNormDrift = nj.selectExpr("max(abs(nrm - nrm2))").head().getDouble(0)
    assert(maxNormDrift < 1e-6, s"norm drift $maxNormDrift — not an isometry")

    // within-block pairwise cosines match the base corpus's exactly: the
    // SAME permutation and sign pattern applies to both sides of a pair,
    // so each product term survives with its sign squared away
    def pairCos(df: org.apache.spark.sql.DataFrame) = {
      val l = df.select(col("vec_id").as("a"), col("embedding").as("ea"))
      val r = df.select(col("vec_id").as("b"), col("embedding").as("eb"))
      l.join(r, col("a") < col("b")).selectExpr(
        "a", "b",
        """aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * y),
          | 0D, (acc, x) -> acc + x) AS dot""".stripMargin)
    }
    val drift = pairCos(base).withColumnRenamed("dot", "d1")
      .join(pairCos(copy).withColumnRenamed("dot", "d2"), Seq("a", "b"))
      .selectExpr("max(abs(d1 - d2))").head().getDouble(0)
    assert(drift < 1e-4, s"within-block dot drift $drift — neighborhood structure not preserved")

    // cross-block: a vector vs its own copy sits far below the near-dup
    // regime (clone growth would make every one of these exactly 1.0)
    val cross = base.select(col("vec_id"), col("embedding").as("ea"))
      .join(copy.select(col("vec_id"), col("embedding").as("eb")), "vec_id")
      .selectExpr(
        """abs(aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * y), 0D,
          |  (acc, x) -> acc + x)
          | / (sqrt(aggregate(ea, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x))
          |  * sqrt(aggregate(eb, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x)))) AS c""".stripMargin)
    val meanAbs = cross.selectExpr("avg(c)").head().getDouble(0)
    val maxAbs = cross.selectExpr("max(c)").head().getDouble(0)
    assert(meanAbs < 0.2, s"mean cross-block |cos| $meanAbs — copies correlate with their originals")
    assert(maxAbs < 0.9, s"max cross-block |cos| $maxAbs — a copy is a near-dup of its original")
  }

  test("copies 64 apart decorrelate (the pre-r17 periodic scheme shared their permutation)") {
    // Under the round-16 parameters a and b repeated every 64 copies, so
    // blocks {i, i+64, ...} shared one permutation and differed only by
    // FIXED-OFFSET sign vectors — a structured cross-block correlation
    // (ADVICE r16 measured a deterministic cosine ≈ −0.69 between such
    // blocks). permParams now draws a distinct permutation per copy and
    // the sign flips are murmur-hashed per (copy, dim); this pins the
    // fixed periodic pair 7 vs 71 to the same decorrelation bar the
    // base-vs-copy test uses.
    val c7 = ScaleStress.isometricCopy(base, 7).select(col("vec_id"), col("embedding").as("ea"))
    val c71 = ScaleStress.isometricCopy(base, 71).select(col("vec_id"), col("embedding").as("eb"))
    val cross = c7.join(c71, "vec_id").selectExpr(
      """abs(aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * y), 0D,
        |  (acc, x) -> acc + x)
        | / (sqrt(aggregate(ea, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x))
        |  * sqrt(aggregate(eb, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x)))) AS c""".stripMargin)
    val meanAbs = cross.selectExpr("avg(c)").head().getDouble(0)
    val maxAbs = cross.selectExpr("max(c)").head().getDouble(0)
    assert(meanAbs < 0.2, s"mean |cos| $meanAbs between copies 64 apart — periodic correlation is back")
    assert(maxAbs < 0.9, s"max |cos| $maxAbs between copies 64 apart — a structured collision survives")
  }

  test("no two copies within 2048 share a permutation") {
    val seen = (1 to 2048).map(ScaleStress.permParams)
    assert(seen.distinct.size === seen.size,
      "permParams repeats a permutation inside the 2048-copy window")
    seen.foreach { case (a, b) =>
      assert(a % 2 === 1 && a >= 1 && a <= 63, s"multiplier $a not an odd residue mod 64")
      assert(b >= 0 && b <= 63, s"offset $b out of range")
    }
  }

  test("isometricCopy fails loudly on a corpus whose dim is not LlmVector.Dim") {
    val bad = spark.sql("SELECT 1L AS vec_id, array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS embedding")
    val e = intercept[Exception] {
      ScaleStress.isometricCopy(bad, 3).collect()
    }
    assert(messages(e).exists(_.contains("!= 64")), s"expected a dim-mismatch raise_error, got: $e")
  }

  test("distinct copies get distinct isometries (no two blocks are clones of each other)") {
    // copies 7 and 8 of the SAME base rows must not be equal to each other
    val c7 = ScaleStress.isometricCopy(base, 7).withColumnRenamed("embedding", "e7")
    val c8 = ScaleStress.isometricCopy(base, 8).withColumnRenamed("embedding", "e8")
    val equalRows = c7.join(c8, "vec_id").filter(col("e7") === col("e8")).count()
    assert(equalRows === 0, s"$equalRows rows identical across copies 7 and 8")
  }
}
