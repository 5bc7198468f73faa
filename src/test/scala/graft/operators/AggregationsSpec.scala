package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Specs for `Aggregations`: the exact minor-unit path, its cents rule
  * against Spark's cast, and its overflow guard, the finance formulas' bounds, and giniCore's bucket
  * decomposition. */
class AggregationsSpec extends SparkSpec {

  test("q1_decimal minor units agree with the double-path flagship") {
    // independent paths: q1_decimal sums exact DECIMAL minor units into
    // BIGINT; the flagship sums doubles and rounds at 2. On 2-decimal
    // source data they must agree to the flagship's rounding quantum —
    // and the dtype contract (BIGINT out, SURVEY §5.7) must hold.
    val dec = Aggregations.aggPricingDecimal(spark, sf01)
    assert(Seq("sum_qty_c2", "sum_base_price_c2", "sum_disc_price_u4", "sum_charge_u6")
      .forall(c => dec.schema(c).dataType == org.apache.spark.sql.types.LongType),
      "minor-unit sums must be BIGINT (the driver-proven dtype)")
    val flag = Aggregations.aggPricingSummary(spark, sf01)
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
        col("count_order").as("count_order_flag"))
    val j = dec.join(flag, Seq("l_returnflag", "l_linestatus")).collect()
    assert(j.nonEmpty)
    // tolerance = the flagship's rounding quantum plus its double-sum
    // accumulation error (relative ~1e-9 on 1e8-magnitude group sums)
    def close(exactMinor: Long, unit: Double, dbl: Double): Boolean = {
      val exact = exactMinor / unit
      math.abs(exact - dbl) <= 0.011 + 1e-8 * math.abs(exact)
    }
    j.foreach { r =>
      assert(close(r.getAs[Long]("sum_qty_c2"), 100.0, r.getAs[Double]("sum_qty")))
      assert(close(r.getAs[Long]("sum_base_price_c2"), 100.0, r.getAs[Double]("sum_base_price")))
      assert(close(r.getAs[Long]("sum_disc_price_u4"), 1e4, r.getAs[Double]("sum_disc_price")))
      assert(close(r.getAs[Long]("sum_charge_u6"), 1e6, r.getAs[Double]("sum_charge")))
      assert(r.getAs[Long]("count_order") == r.getAs[Long]("count_order_flag"))
    }
  }

  test("minorUnits equals UnscaledValue(cast) on ties, bounds and random doubles in every mode") {
    import java.math.{BigDecimal => JBig, RoundingMode}
    import org.apache.spark.sql.{Column, GraftColumns, Row}
    import org.apache.spark.sql.catalyst.expressions.UnscaledValue
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(7)
    // ties: the x.xx5 grid (divided and multiplied), also at large magnitudes
    val ties = (5 until 100000 by 10).map(_ / 1000.0) ++ (0 to 200000).map(_ * 0.005) ++
      Seq(1e3, 1e6, 1e8, 999999990.0).flatMap(b => (5 until 10000 by 10).map(b + _ / 1000.0))
    val random = (0 until 200000).map(i => rng.nextDouble() * math.pow(10, i % 10 - 2))
    // both sides of the fast-path bounds and of each type's range
    val edges = Seq(8.999999, 8.9999999999, 9.0, 9.000000001, 9.99, 9.994, 9.9949999,
      9.995, 9.995000001, 10.0, 999999999.99, 999999999.995, 1e9, 1e9 + 0.005,
      9999999999.99, 9999999999.994, 9999999999.995, 1e10, 1e11, 0.0,
      Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, Double.MaxValue,
      Double.NaN, Double.PositiveInfinity).flatMap(d => Seq(d, -d))
    // whether Spark's cast fits DECIMAL(p, 2): HALF_UP of Double.toString
    def fits(d: Double, p: Int): Boolean = !d.isNaN && !d.isInfinite &&
      new JBig(java.lang.Double.toString(d)).setScale(2, RoundingMode.HALF_UP).abs
        .compareTo(JBig.TEN.pow(p - 2)) < 0
    val schema = StructType(Seq(StructField("d", DoubleType),
      StructField("fits3", BooleanType), StructField("fits12", BooleanType)))
    val rows = (ties ++ random).flatMap(d => Seq(d, -d)) ++ edges
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(d => Row(d, fits(d, 3), fits(d, 12))) :+ Row(null, true, true), 4), schema)
    def ref(c: Column, p: Int): Column =
      GraftColumns.column(UnscaledValue(GraftColumns.expression(c.cast(DecimalType(p, 2)))))
    val keys = Seq("spark.sql.ansi.enabled", "spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for (ansi <- Seq(true, false); codegen <- Seq(true, false); p <- Seq(3, 12)) {
        spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
        spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
        spark.conf.set("spark.sql.codegen.factoryMode", if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
        val mode = s"ansi=$ansi codegen=$codegen DECIMAL($p,2)"
        // under ANSI a value outside the type raises, so it is checked alone below
        val in = if (ansi) df.filter(col(s"fits$p")) else df
        val bad = in.filter(!(Aggregations.minorUnits(col("d"), p) <=> ref(col("d"), p)))
        val n = bad.count()
        assert(n == 0, s"$mode: $n mismatches, e.g. ${bad.select("d").limit(5).collect().mkString(" ")}")
        if (ansi) edges.filterNot(fits(_, p)).foreach { d =>
          val one = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(d)), 1),
            StructType(Seq(StructField("d", DoubleType))))
          def outcome(c: Column) = scala.util.Try(one.select(c).head().get(0))
          val (fast, exact) = (outcome(Aggregations.minorUnits(col("d"), p)), outcome(ref(col("d"), p)))
          if (!d.isNaN && !d.isInfinite)
            assert(exact.isFailure, s"$mode: the cast of $d must raise")
          assert(fast.isFailure == exact.isFailure && (fast.isFailure || fast == exact),
            s"$mode: $d gave $fast, the cast $exact")
        }
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("sumChecked raises on BIGINT overflow with the column name in both ANSI modes") {
    import spark.implicits._
    // group a passes Long.MaxValue only after its third row (and, split
    // round-robin, only in the merge of in-range partial sums); group b
    // stays in range; group c has only NULL inputs
    val half = Long.MaxValue / 2 + 1
    val rows = Seq(("a", Some(half)), ("a", Some(half)), ("a", Some(3L)), ("a", Some(4L)),
      ("b", Some(7L)), ("b", None), ("b", Some(8L)), ("c", None)).toDF("g", "v")
    def sums(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(Aggregations.sumChecked("v", "sum_charge_u6")).orderBy("g")
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      for (ansi <- Seq("true", "false"); input <- Seq(rows.coalesce(1), rows.repartition(4))) {
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        val ok = sums(input.filter(col("g") =!= "a")).collect()
        assert(ok.map(r => r.getString(0) -> Option(r.get(1))).toSeq ===
          Seq("b" -> Some(15L), "c" -> None), s"ansi=$ansi: in-range sums and all-NULL group")
        val e = intercept[Exception](sums(input).collect())
        assert(messages(e).exists(_.contains("sum_charge_u6")),
          s"ansi=$ansi: overflow must raise with the column name, got: ${messages(e).mkString(" | ")}")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
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

  private def giniRef(rows: Seq[(String, Long, Long)]): Map[String, (Long, BigInt, Double)] =
    rows.groupBy(_._1).map { case (seg, rs) =>
      val sorted = rs.sortBy(r => (r._3, r._2))
      val n = sorted.size.toLong
      val total = sorted.map(r => BigInt(r._3)).sum
      val s1 = sorted.zipWithIndex.map { case (r, i) => BigInt(i + 1) * BigInt(r._3) }.sum
      val gini = 2.0 * s1.toDouble / (n.toDouble * total.toDouble) - (n + 1.0) / n
      seg -> (n, total, math.rint(gini * 1e6) / 1e6)
    }

  test("giniCore: bucket decomposition is invariant in the bucket count and matches the exact reference") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val rows = (1L to 400L).map { k =>
      (Seq("AUTO", "BUILDING", "MACH")(rng.nextInt(3)), k, 100L + rng.nextInt(100000))
    }
    val cust = rows.toDF("seg", "c_custkey", "cents")
    val ref = giniRef(rows)
    for (nb <- Seq(1, 3, 17, 256)) {
      val got = Aggregations.giniCore(cust, nb).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toMap
      assert(got.keySet === ref.keySet, s"nb=$nb segment set")
      ref.foreach { case (seg, (n, total, gini)) =>
        val (gn, gt, gg) = got(seg)
        assert(gn === n, s"nb=$nb $seg n_cust")
        assert(BigInt(gt) === total, s"nb=$nb $seg total_cents")
        assert(math.abs(gg - gini) < 1e-9, s"nb=$nb $seg gini: got $gg want $gini")
      }
    }
  }

  test("giniCore: s1 past Long.MaxValue stays exact (decimal accumulation, r18 ADVICE)") {
    import spark.implicits._
    // 2000 customers at ~4.5e15 cents each: total_cents ≈ 9.0e18 (still a
    // legal BIGINT — total is LINEAR in n, it is s1 that is quadratic) but
    // sum(rk*cents) ≈ 9e21 ≫ Long.MaxValue — the old LONG s1 aborts under
    // ANSI (and wraps without it); DECIMAL(38,0) is exact and the final
    // double division matches the BigInt reference.
    val rows = (1L to 2000L).map(k => ("HUGE", k, 4500000000000000L + k * 13L))
    val cust = rows.toDF("seg", "c_custkey", "cents")
    val ref = giniRef(rows)("HUGE")
    val s1 = rows.sortBy(r => (r._3, r._2)).zipWithIndex
      .map { case (r, i) => BigInt(i + 1) * BigInt(r._3) }.sum
    assert(s1 > BigInt(Long.MaxValue),
      "fixture must put s1 = sum(rk*cents) past Long range")
    val r = Aggregations.giniCore(cust, 8).collect()
    assert(r.length === 1)
    assert(r(0).getLong(1) === ref._1)
    assert(BigInt(r(0).getLong(2)) === ref._2)
    assert(math.abs(r(0).getDouble(3) - ref._3) < 1e-9,
      s"overflow-range gini: got ${r(0).getDouble(3)} want ${ref._3}")
  }
}
