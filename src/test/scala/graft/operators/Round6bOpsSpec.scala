package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import graft.functions.bloomMightContain

/** Invariant checks for the second round-6 operator batch: bloom-prefilter
  * correctness + selectivity, split leak-freedom, resample monotonicity,
  * attribution window math, and the IVM merge's plan shape — properties
  * beyond (or orthogonal to) the DuckDB hash compare, asserted at a second
  * SF (sf0.001) like the rest of the spec suite. */
class Round6bOpsSpec extends SparkSpec {

  test("bloom prefilter keeps exactly the semi-join rows and actually prunes") {
    val urgent = Tables.orders(spark, sf001)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val bf = urgent.stat.bloomFilter("o_orderkey", math.max(urgent.count(), 1L), 0.01)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bf.writeTo(b); b.toByteArray }
    val li = Tables.lineitem(spark, sf001)
    val nAll = li.count()
    val prefiltered = li.filter(
      bloomMightContain(lit(bytes), col("l_orderkey"))).count()
    val exact = li.join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    // no false negatives: the prefilter may only ever KEEP extra rows
    assert(prefiltered >= exact, "bloom dropped true matches (false negative)")
    // at 1% fpp the overshoot is bounded: fp rows ≤ ~3·fpp·non-matches
    assert(prefiltered - exact <= (0.03 * (nAll - exact)).toLong + 1,
      s"bloom false-positive rate far above configured 1% ($prefiltered vs $exact of $nAll)")
    // and it genuinely prunes — urgent is 1 of 5 priorities, so ~80% drops
    assert(prefiltered < nAll * 2 / 3, "prefilter should prune the majority of the fact")
  }

  test("bloom prefilter caps the sketch size and falls through to the plain semi-join") {
    // under the cap → a probe predicate is produced
    val urgent = Tables.orders(spark, sf001)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    assert(Joins.bloomPrefilter(urgent, "o_orderkey", col("l_orderkey")).isDefined,
      "small build side must get a prefilter")
    // an estimate whose optimal 1%-fpp sketch (≈19.2M bits) passes the
    // literal budget gets a sketch clamped to it: the literal that ships in
    // the plan is the clamped bit array plus the sketch's small header.
    // (Past BloomMaxItems no sketch is built — the single-job test below.)
    val wide = spark.range(2000000).toDF()
    assert(Joins.estimatedRows(wide) * 9.59 > Joins.BloomLitMaxBytes.toLong * 8)
    val probe = Joins.bloomPrefilter(wide, "id", col("l_orderkey"))
    assert(probe.isDefined, "a build side under BloomMaxItems must get a prefilter")
    import org.apache.spark.sql.catalyst.expressions.Literal
    val shipped = wide.toDF("l_orderkey").filter(probe.get).queryExecution.analyzed
      .expressions.flatMap(_.collect { case Literal(b: Array[Byte], _) => b.length })
    assert(shipped.size == 1 && shipped.head <= Joins.BloomLitMaxBytes + 16,
      s"sketch literal of $shipped bytes exceeds the ${Joins.BloomLitMaxBytes}-byte budget")
  }

  test("bloom prefilter build is a single job, and an oversized ESTIMATE runs none") {
    val urgent = Tables.orders(spark, sf001)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    // the estimate is an over-approximation (filter selectivity unknown to
    // the optimizer) but must stay a sane bound, not a fact-sized blowup
    val est = Joins.estimatedRows(urgent)
    val exact = urgent.count()
    assert(est >= 1, "estimate must be positive")
    assert(est <= Joins.BloomMaxItems, s"sf0.001 build side must sit far under the cap, est=$est")
    // single pass: the build runs ONE Spark job (the old count()+bloomFilter
    // shape ran two scans of the build side — this pin keeps it dead).
    val jobs = jobsIn("bloom sketch build") {
      assert(Joins.bloomPrefilter(urgent, "o_orderkey", col("l_orderkey")).isDefined)
    }
    assert(jobs == 1, s"bloom build must be a single pass over the build side, ran $jobs jobs")
    // a build side ESTIMATED past BloomMaxItems falls through BEFORE any
    // job or sketch allocation — a fact-sized build can neither double-scan
    // nor OOM the driver on bit allocation
    val huge = spark.range(Joins.BloomMaxItems + 1).select(col("id").as("o_orderkey"))
    assert(Joins.estimatedRows(huge) > Joins.BloomMaxItems)
    val jobs2 = jobsIn("bloom sketch build (oversize fallthrough)") {
      assert(Joins.bloomPrefilter(huge, "o_orderkey", col("l_orderkey")).isEmpty,
        "over-estimated build side must fall through to the plain semi-join")
    }
    assert(jobs2 == 0, s"fallthrough must not run any job, ran $jobs2")
  }

  test("bloom probe rejects a NULL sketch with a clear error, not an NPE") {
    val err = intercept[Exception] {
      Tables.orders(spark, sf001)
        .filter(bloomMightContain(lit(null).cast("binary"), col("o_orderkey")))
        .count()
    }
    assert(messages(err).exists(_.contains("evaluated to NULL")),
      s"expected the clear null-sketch message, got: ${messages(err)}")
  }

  test("bloom probe expression codegens inside the scan stage (no UDF barrier)") {
    val plan = Joins.joinBloomPrefilter(spark, sf001).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("graft_bloom_might_contain"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"bloom probe must be a native expression, not a UDF:\n$plan")
  }

  test("stratified split is exhaustive, disjoint, and content-keyed (no leakage)") {
    val docs = Tables.documents(spark, sf001)
      .withColumn("norm", lower(trim(col("text"))))
      .withColumn("subset",
        when(md5(col("norm")) < "cc", lit("train"))
          .when(md5(col("norm")) < "e6", lit("val"))
          .otherwise(lit("test")))
    // identical normalized text can never straddle subsets
    assert(docs.groupBy("norm").agg(countDistinct("subset").as("k"))
      .filter(col("k") > 1).count() === 0, "duplicate text split across subsets")
    // the three subsets partition the corpus
    val sizes = docs.groupBy("subset").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.values.sum === docs.count())
    assert(sizes.keySet.subsetOf(Set("train", "val", "test")))
    assert(sizes.getOrElse("train", 0L) > sizes.getOrElse("val", 0L),
      "train must dominate at ~80/10/10")
  }

  test("domain resample keeps at most n_before per domain and respects the rate") {
    val out = LlmText.llmDomainResample(spark, sf001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nBefore, rate, nKept) = (r.getLong(2), r.getDouble(3), r.getLong(4))
      assert(nKept <= nBefore, s"kept more than existed: $r")
      assert(rate > 0.0 && rate <= 1.0, s"keep_rate out of range: $r")
      if (rate == 1.0) assert(nKept === nBefore, s"rate 1.0 must keep everything: $r")
    }
  }

  test("attribution credits only clicks inside the 6h lookback") {
    val ev = Tables.events(spark, sf001)
      .filter(col("event_type").isin("click", "purchase"))
    val out = EventTime.evtAttribution(spark, sf001)
    val nPurch = ev.filter(col("event_type") === "purchase").count()
    val rows = out.collect()
    assert(rows.map(_.getLong(1)).sum === nPurch, "every purchase lands in exactly one bucket")
    // hour buckets are 0..23; the null bucket collects unattributed
    rows.filter(!_.isNullAt(0)).foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 23, s"bad hour bucket: $r")
    }
  }

  test("fuzzy join pairs are genuinely within distance 2 and block-consistent") {
    val out = Joins.joinFuzzyMatch(spark, sf01)
    val rows = out.collect()
    assert(rows.nonEmpty, "sf0.01 customer names must yield some near-pairs")
    // re-derive one nation's pairs without the join to confirm the census
    val c = Tables.customer(spark, sf01)
      .select("c_nationkey", "c_mktsegment", "c_custkey", "c_name").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))
    val nation0 = c.filter(_._1 == c.head._1)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (_, s1, k1, n1) <- nation0; (_, s2, k2, n2) <- nation0
      if s1 == s2 && k1 < k2 && lev(n1, n2) <= 2
    } yield 1).size.toLong
    val nationName = spark.read.parquet(s"$sf01/nation.parquet")
      .filter(col("n_nationkey") === c.head._1).collect()(0).getString(1)
    val got = rows.find(_.getString(0) == nationName).map(_.getLong(1)).getOrElse(0L)
    assert(got === expected, s"pair census for $nationName")
  }

  test("fuzzy join candidate volume grows sub-quadratically with the corpus") {
    // The de-quadratization claim as a COUNT law, not a wall-clock sweep.
    // The candidate law is volume ≈ n · (rows per deletion stem): a corpus
    // that grows the way real ones (and ScaleStress's synthesis) do — key
    // span growing WITH the row count, density constant — keeps rows/stem
    // ~constant, so candidates grow far below the old
    // all-pairs-in-block form's Σ block² = 16× per 4× rows (measured
    // ×7.05 here — n^1.4-ish from residual shifted-stem alignments, and
    // deterministic: the corpus and the signature set are both exact). The
    // stride-5 keys pin density at 20% of the span at BOTH sizes; growing
    // n with the span frozen would instead re-expose an n² tail (rows/stem
    // ∝ n then — measured ×9/4× on span-frozen data), which is a property
    // of saturating a fixed key space, not of the scheme.
    import spark.implicits._
    def corpus(n: Int) = (0 until n).map { i =>
      (i % 5, s"SEG${i % 3}", i.toLong, f"Customer#${5L * i}%09d")
    }.toDF("c_nationkey", "c_mktsegment", "c_custkey", "c_name")
    def allPairs(n: Int): Long = (0 until n).groupBy(i => (i % 5, i % 3))
      .values.map(_.size.toLong).map(c => c * (c - 1) / 2).sum
    val nSmall = 20000
    val nLarge = 80000
    val small = Joins.fuzzyCandidates(corpus(nSmall)).count()
    val large = Joins.fuzzyCandidates(corpus(nLarge)).count()
    assert(small > 0, "dense names must produce candidates")
    val growth = large.toDouble / small
    assert(growth <= 8.0,
      s"candidates grew ${growth}x on 4x constant-density data — all-pairs is 16x")
    val frac = large.toDouble / allPairs(nLarge)
    // ~10× below all-pairs at this deliberately harsh 20%-of-span density
    // (real sparsities — sf0.1 puts 15k keys in a 9-digit space — reduce
    // candidates by orders of magnitude more; sf0.01's exact census above
    // confirms correctness there)
    assert(frac <= 0.12,
      s"candidate set ($large) is not meaningfully below all-pairs (${allPairs(nLarge)}, frac=$frac)")
  }

  test("cohort LTV is cumulative-consistent and bounded by cohort size") {
    val rows = EventTime.evtCohortLtv(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, cohort) =>
      val byWeek = cohort.sortBy(_.getLong(1))
      val cums = byWeek.map(_.getDouble(4))
      assert(cums.zip(cums.tail).forall { case (a, b) => b >= a - 1e-9 },
        "cumulative LTV must be non-decreasing")
      // first week's cumulative equals its own revenue
      assert(math.abs(byWeek.head.getDouble(4) - byWeek.head.getDouble(2)) < 1e-9)
    }
  }

  test("compacted sorted layout measurably skips row groups for key-range scans") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    Sinks.sinkCompaction(spark, sf001).collect(): Unit
    val tmp = Scans.scratchDir(spark, sf001, "compact_lineitem")
    val all = spark.read.parquet(tmp)
    val total = all.count()
    // a predicate inside the FIRST file's key range: disjoint per-file
    // ranges + parquet footer min/max should let the reader skip the rest
    val loKey = all.agg(min("l_orderkey")).collect()(0).getLong(0)
    val narrow = spark.read.parquet(tmp).filter(col("l_orderkey") <= loKey + 10)
    narrow.collect(): Unit
    val plan = narrow.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collect { case s: FileSourceScanExec => s }.head
    assert(scan.metadata.getOrElse("PushedFilters", "[]") != "[]",
      "key filter did not reach the parquet scan")
    val scanned = scan.metrics("numOutputRows").value
    // 4 balanced range-partitioned files ⇒ the narrow scan must touch ~1 of
    // them; 40% leaves slack for range-sampling imbalance
    assert(scanned <= (total * 0.4).toLong,
      s"scan emitted $scanned of $total rows — row-group skipping not effective")
  }

  test("z-order layout bounds per-file spans on BOTH clustering dimensions") {
    val row = Sinks.sinkZorder(spark, sf001).collect()(0)
    assert(row.getLong(0) === Sinks.zorderFiles(spark, sf001).toLong, "file count")
    // at the test SFs the bytes/target rule sits on the parallelism floor;
    // past ~11 MB of input it must scale with bytes, not stay pinned
    assert(Sinks.zorderFiles(spark, sf001) === Sinks.ZorderMinFiles)
    assert(row.getLong(1) === Tables.lineitem(spark, sf001).count(), "row preservation")
    // a 1-D sort leaves the OTHER dimension's MEAN per-file span at ~100%;
    // the z-curve bounds both means (≈0.5 and ≈0.35 measured — individual
    // boundary-straddling files may still cover a full span, hence mean)
    assert(row.getDouble(2) <= 0.7, s"orderkey spans not clustered: $row")
    assert(row.getDouble(3) <= 0.7, s"partkey spans not clustered: $row")
  }

  test("dq constraint sweep is non-vacuous: clean rules hold, dirty rules fire") {
    // sf0.01: the 1k-event sf0.001 sample has no >400 outliers — the rule
    // must be exercised on data where violations exist to prove it fires
    val rules = Quality.dqConstraints(spark, sf01).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rules.size === Quality.dqRules.size, "every declared rule reports")
    // the rule table drives BOTH sides: the generated oracle must name
    // every rule exactly once
    Quality.dqRules.foreach { r =>
      assert(r.oracleSelect.contains(s"'${r.name}'"), s"oracle missing ${r.name}")
    }
    // the synthetic star schema is referentially clean...
    assert(rules("orders_custkey_fk") === 0L)
    assert(rules("lineitem_orderkey_fk") === 0L)
    assert(rules("lineitem_suppkey_fk") === 0L)
    assert(rules("customer_custkey_unique") === 0L)
    // ...while the outlier/dup detectors must actually fire at this SF —
    // an all-zeros sweep would prove nothing about the rules
    assert(rules("events_value_outlier") > 0L, "outlier rule is vacuous")
  }

  test("SCD2 history: changed keys carry exactly two versions, one open") {
    val h = Quality.scd2History(spark, sf001).cache()
    try {
      val changed = h.filter(col("c_custkey") % 7 === 2)
      val perKey = changed.groupBy("c_custkey").count().collect().map(_.getLong(1))
      assert(perKey.nonEmpty && perKey.forall(_ === 2L), "changed key = closed + open version")
      assert(changed.filter(col("is_current") && col("valid_to").isNotNull).count() === 0,
        "open versions have no end date")
      assert(changed.filter(!col("is_current") && col("valid_to").isNull).count() === 0,
        "closed versions carry their end date")
      val unchanged = h.filter(col("c_custkey") % 7 =!= 2)
      assert(unchanged.groupBy("c_custkey").count()
        .filter(col("count") =!= 1).count() === 0, "unchanged keys keep one row")
    } finally h.unpersist(): Unit
  }

  test("incremental agg merge joins view⋈deltas, never re-aggregating the base twice") {
    val plan = Aggregations.aggIncremental(spark, sf001).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("FullOuter"), s"IVM merge must be a full-outer join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"IVM merge degenerated to a cross product:\n$plan")
  }
}
