package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnscaledValue
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Aggregation operators (SURVEY.md §2.4).
  *
  * Determinism conventions (SURVEY.md §1.3 ⚠L3), applied to every
  * oracle-checked query here and elsewhere:
  *   - every double aggregate is wrapped `round(_, 2)` (or 4/6 for averages
  *     and moments) on BOTH the Spark and the DuckDB side — double sums are
  *     shuffle-order dependent at ~1e-9 relative, far below the rounding
  *     quantum;
  *   - a total-order `orderBy` on a unique key is the LAST transformation, so
  *     the driver's `coalesce(1)` write preserves a deterministic row order.
  *
  * Scale notes: every query below is a hash aggregate — partial (map-side)
  * aggregation, then one shuffle on the grouping keys carrying only partial
  * states. Group cardinalities here are small; for high-cardinality keys
  * Spark's HashAggregateExec spills, so the same plans hold at 100 TB.
  * ROLLUP/CUBE expand rows before aggregation (Expand operator) — partial
  * aggregation still applies per grouping set.
  */
object Aggregations {

  /** Flagship TPC-H-Q1-style pricing summary per (returnflag, linestatus). */
  def aggPricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Exact-money twin of the flagship pricing summary — exact money
    * math end-to-end, hash-matched against DuckDB with NO round()
    * anywhere (the ⚠L3 rounding convention exists for DOUBLE-typed rows;
    * this row retires it where a finance user cares most). Every source
    * measure is exactly 2-decimal (probed: max|x - round(x,2)| = 0 on all
    * three SFs), so the double→DECIMAL(12,2)/DECIMAL(3,2) casts — the
    * money semantics, the same casts the oracle SQL makes — are tie-free
    * and identical on both engines.
    *
    * Output dtype: exact integer MINOR UNITS as BIGINT (cents ×100 for
    * the 2-decimal sums, ×1e4 / ×1e6 for the 4/6-decimal ones) — the
    * fixed-point convention money pipelines actually store. Round 12
    * shipped these as DECIMAL(38,_) and the driver's comparator hash-
    * failed them while the local type-strict replay passed; int64 out is
    * the dtype 203 queries already hash-match on.
    *
    * Arithmetic runs in those same long minor units, never in BigDecimal:
    * each cast value becomes its exact unscaled long (`minorUnits`), and
    * ext_c2·(100−disc_c2) = disc_price_u4, ·(100+tax_c2) = charge_u6 are
    * long products. A product cannot overflow: a DECIMAL(12,2) is below
    * 1e12 cents and each DECIMAL(3,2) factor is at most 1099, so
    * |charge_u6| < 1.3e18 < Long.MaxValue for every value that survives
    * the casts (at sf0.1 the largest charge_u6 is ~1.13e11). The four
    * sums are long sums (`sumChecked`). Every input is non-negative, so a
    * running sum overflows exactly when the BIGINT output would: Long.Max
    * ≈ 9.2e18 u6-units is $9.2e12 of charge per group, and the top
    * group's charge_u6 sum at sf0.01 is ~5.3e14 — sum_charge_u6 overflows
    * at ~17,000× sf0.01 (~175 GB-equivalent corpus), sum_disc_price_u4 at
    * 100× that. There the query FAILS LOUDLY with the column name in both
    * ANSI modes (plain long sum: ansi=false silently wraps, ansi=true
    * raises naming no column), matching the oracle's raising CAST.
    * Same plan shape as the flagship: partial hash agg, one shuffle on
    * the group keys; PlanSpec pins that no DecimalType reaches the
    * arithmetic or the aggregate buffers. */
  def aggPricingDecimal(spark: SparkSession, sfDir: String): DataFrame = {
    val disc = minorUnits(col("l_discount"), 3)
    val tax = minorUnits(col("l_tax"), 3)
    val extC2 = minorUnits(col("l_extendedprice"), 12)
    val discPriceU4 = extC2 * (lit(100L) - disc)
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_linestatus"),
        minorUnits(col("l_quantity"), 12).as("qty_c2"),
        extC2.as("ext_c2"),
        discPriceU4.as("disc_price_u4"),
        (discPriceU4 * (lit(100L) + tax)).as("charge_u6"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumChecked("qty_c2", "sum_qty_c2"),
        sumChecked("ext_c2", "sum_base_price_c2"),
        sumChecked("disc_price_u4", "sum_disc_price_u4"),
        sumChecked("charge_u6", "sum_charge_u6"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** The DOUBLE column `c` cast to DECIMAL(`precision`, 2), as its exact
    * unscaled long (cents) — the value of `UnscaledValue(cast(c))`, in
    * every row and ANSI mode.
    *
    * Spark's cast rounds the decimal string `Double.toString(d)` HALF_UP
    * to scale 2, through a BigDecimal per row. Most rows skip it: with
    * x = fl(100·d), the fast value is floor(x + 0.5) when
    * |d| < min(1e9, 10^(precision−2) − 1) and x lies more than 1e-4 from
    * a rounding tie (|x − floor(x) − 0.5| > 1e-4). It is exact there:
    * the string s lies within ulp(d)/2 of d, and for |d| < 1e9,
    * ulp(d) ≤ 2^-22, so |100·s − x| ≤ 1.2e-5 + 1.5e-5 (the second term
    * bounds the rounding of the product) — far inside the margin, so
    * 100·s and x round to the same integer, and x + 0.5 rounds to no
    * integer boundary. The magnitude bound keeps the rounded value
    * inside DECIMAL(precision, 2). Every other row — near a tie, out of
    * range, NaN, ±Inf or null — takes the cast (an overflow raises under
    * ANSI and is null without it). Catalyst's `UnscaledValue` reads the
    * compact decimal's long; `(c.cast(dec) * 100).cast("long")` would
    * multiply a Decimal per row instead. */
  private[graft] def minorUnits(c: Column, precision: Int): Column = {
    val x = c * 100
    val exact = GraftColumns.column(UnscaledValue(
      GraftColumns.expression(c.cast(DecimalType(precision, 2)))))
    when(abs(c) < math.min(1e9, math.pow(10, precision - 2) - 1)
        && abs(x - floor(x) - 0.5) > 1e-4, floor(x + 0.5))
      .otherwise(exact)
  }

  /** Long sum of `c` as `name` that fails the query, naming the column,
    * when the sum leaves BIGINT — in both ANSI modes. `try_sum` yields
    * NULL on overflow; a NULL over a group with a non-NULL input can only
    * be that overflow, while an all-NULL group still sums to NULL. */
  private[graft] def sumChecked(c: String, name: String): Column = {
    val s = try_sum(col(c))
    when(s.isNull && count(col(c)) > 0,
      raise_error(lit(s"$name overflows BIGINT minor units")))
      .otherwise(s).as(name)
  }

  /** Histogram bucket count — 10 keeps every bucket populated at sf0.001
    * while still exercising the least() edge-cap on the max value. */
  private val HistBuckets = 10

  /** Equi-width histogram of order totals — the optimizer-statistics /
    * distribution-monitoring primitive: global [min, max] split into
    * `HistBuckets` fixed-width buckets, each reporting count + observed
    * min/max. The bounds reach every row as one scalar subquery (one 1-row
    * aggregate, never a driver collect), bucketing is pure row-local arithmetic, and
    * the groupBy partial-aggregates — one scan + one ≤`HistBuckets`-row
    * shuffle at any corpus size. This is the scale-safe histogram shape:
    * an equi-DEPTH histogram needs a global sort or exact percentiles
    * (`agg_percentile_exact` is that row); monitoring pipelines run
    * equi-width precisely because it stays one pass. Bucket arithmetic is
    * IEEE-identical on both engines (same subtract/divide/floor on the
    * same doubles); the max value caps into the last bucket. */
  def aggHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select(col("o_totalprice").as("v"), col("o_orderkey"))
    val bounds = o.agg(struct(min("v").as("lo"), max("v").as("hi"))).scalar()
    val (lo, hi) = (bounds.getField("lo"), bounds.getField("hi"))
    o.withColumn("bucket", least(lit(HistBuckets - 1L),
        floor((col("v") - lo) / ((hi - lo) / lit(HistBuckets.toDouble)))))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min("v").as("lo_v"), max("v").as("hi_v"))
      .orderBy("bucket")
  }

  /** Shannon entropy of the source mix per language — the corpus-diversity
    * diagnostic an LLM-data pipeline reads before setting mixing weights
    * (llm_domain_mix computes the weights; this measures how concentrated
    * the mix it starts from is): per lang, H = −Σ p·ln p over source
    * shares, plus H normalized by ln(n_sources) ∈ [0,1]. Proportions are
    * ratios of exact integer counts; each −p·ln p term is pinned at 8 dp
    * before the per-lang sum (the cross-engine ln discipline), and the
    * single-source case declares normalized entropy 0 rather than an
    * engine-specific 0/0. One doc-grain aggregate + a ≤(langs·sources)-row
    * window — linear. */
  def aggEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
    val wl = Window.partitionBy("lang")
    counts
      .withColumn("p", col("cnt").cast("double") / sum("cnt").over(wl))
      .withColumn("term", round(-col("p") * log(col("p")), 8))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sources"),
        sum("cnt").as("n_docs"),
        round(sum("term"), 6).as("entropy"),
        when(count(lit(1)) > 1,
          round(sum("term") / log(count(lit(1)).cast("double")), 6))
          .otherwise(lit(0.0)).as("entropy_norm"))
      .orderBy("lang")
  }

  /** Gini coefficient of per-customer revenue concentration per segment —
    * the inequality scalar beside win_pareto's 80/20 share curve: G =
    * 2·Σ(rank·xᵢ)/(n·Σxᵢ) − (n+1)/n over customers ranked ascending by
    * (revenue, custkey — the deterministic tie-break). ALL sums run in
    * exact integer cents (q1_decimal's minor-unit rule: each 2-dp total
    * becomes its DECIMAL(12,2) cents through `minorUnits`, and the
    * per-customer sum is `sumChecked`), so
    * the only floating-point ops are the two final divisions of exact
    * integers — engine-identical to the ulp, making the 6-dp rounding
    * boundary-proof rather than probabilistic. One customer-grain
    * aggregate + a per-segment rank window. */
  def aggGini(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("c_custkey"),
        minorUnits(col("o_totalprice"), 12).as("cents"))
      .groupBy("seg", "c_custkey")
      .agg(sumChecked("cents", "cents"))
    val nb = graft.ScaleRules.bytesScaledCount(
      spark, s"$sfDir/customer.parquet", 4L << 20, 256)
    giniCore(cust, nb)
  }

  /** The rank/sum core over an arbitrary (seg, c_custkey, cents) relation —
    * separated so the spec can feed synthetic frames (the s1-overflow case
    * needs cents values no testdata SF produces).
    *
    * Round 19 rework, two changes that keep every output value identical:
    *
    *  1. PARTITION-PARALLEL RANKS (the winNtileCume round-7 decomposition,
    *     this time per segment): the previous form ranked each segment in
    *     ONE window partition — parallelism 5 at any corpus size. Here
    *     order-preserving VALUE buckets over the global cents domain
    *     (bounds via one scalar-subquery aggregate — no driver collect;
    *     equal cents share a bucket by construction, so the (cents,
    *     custkey) total order is bucket-respecting) give per-(seg, bucket)
    *     local ranks, and Σ rank·cents decomposes exactly:
    *       Σ_b [ Σ lr·cents  +  offset_b · Σ cents_b ]
    *     with offset_b the exclusive prefix row count over the ≤nb-row
    *     per-segment bucket table (the only remaining per-segment window
    *     runs on bucket-count rows, not customers). `nb` scales by source
    *     bytes through ScaleRules.bytesScaledCount (floored at
    *     winNtileCume's 256; ~4 MB of customer parquet per bucket keeps
    *     each local-rank sort partition far inside a task's grant).
    *  2. EXACT DECIMAL s1 (round-18 ADVICE): rank·cents summed as LONG
    *     overflows around sf12 (rank grows with customers, cents with
    *     revenue — the sum is ~quadratic in n_cust); under ANSI it aborts,
    *     without ANSI it silently wraps, while DuckDB sums BIGINT into
    *     HUGEINT. Both s1 terms now multiply and accumulate in
    *     DECIMAL(38,0) — exact for any reachable corpus — and only the
    *     final gini expression casts to double, which is the same
    *     nearest-double conversion DuckDB applies to its HUGEINT, so the
    *     oracle needs no change and the 6-dp boundary stays proof-exact.
    */
  private[graft] def giniCore(cust: DataFrame, nb: Int): DataFrame = {
    val bounds = cust.agg(struct(min("cents").as("lo"), max("cents").as("hi"))).scalar()
    // integer bucket index: monotone in cents, exact, ∈ [0, nb-1]. DIV, not
    // `/`: Spark's `/` on longs is DOUBLE division, whose rounding could
    // move a boundary value across buckets at large magnitudes. The product
    // runs in DECIMAL(38,0) (r19 ADVICE): (cents-lo)·nb can exceed Long for
    // the synthetic ~4.5e15-cent frames giniCore is deliberately exposed to
    // (its own overflow spec) once the span × nb crosses 2^63 — a silent
    // wrap without ANSI would mis-bucket and corrupt the rank offsets.
    // Exact decimal keeps every in-range value's bucket identical and makes
    // the wide-span case correct instead of silently wrong.
    val bucketed = cust
      .withColumns(Map("lo" -> bounds.getField("lo"), "hi" -> bounds.getField("hi")))
      .withColumn("bkt",
        expr(s"CAST(((CAST(cents AS DECIMAL(38,0)) - lo) * ${nb}L) DIV (hi - lo + 1L) AS INT)"))
    val wLocal = Window.partitionBy("seg", "bkt").orderBy("cents", "c_custkey")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(19,0)")
    val perBucket = bucketed
      .withColumn("lr", row_number().over(wLocal).cast("long"))
      .groupBy("seg", "bkt")
      .agg(count(lit(1)).as("bn"),
        sum("cents").as("bsum"),
        sum(dec(col("lr")) * dec(col("cents"))).as("s1l"))
    val wOff = Window.partitionBy("seg").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    perBucket
      .withColumn("off", coalesce(sum("bn").over(wOff), lit(0L)))
      .groupBy("seg")
      .agg(sum("bn").as("n_cust"),
        sum("bsum").as("total_cents"),
        sum(col("s1l") + dec(col("off")) * dec(col("bsum"))).as("s1"))
      .withColumn("gini", round(
        lit(2.0) * col("s1").cast("double")
          / (col("n_cust").cast("double") * col("total_cents").cast("double"))
          - (col("n_cust").cast("double") + lit(1.0)) / col("n_cust").cast("double"), 6))
      .select("seg", "n_cust", "total_cents", "gini")
      .orderBy("seg")
  }

  /** Distribution stats per event_type (min/max are selections — exact;
    * moments rounded). */
  def aggMultiStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(
        min("value").as("min_value"),
        max("value").as("max_value"),
        round(avg("value"), 4).as("avg_value"),
        round(stddev_samp("value"), 4).as("stddev_value"),
        round(var_samp("value"), 4).as("var_value"),
        count(lit(1)).as("cnt"),
        countDistinct("user_id").as("distinct_users"))
      .orderBy("event_type")

  def aggDistinctExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_ntz")).as("day"))
      .agg(countDistinct("user_id").as("distinct_users"))
      .orderBy("day")

  /** HLL++ estimate — no oracle (estimator differs across engines); the spec
    * asserts ±5% of exact. */
  def aggApproxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(approx_count_distinct("user_id").as("approx_users"))
      .orderBy("event_type")

  /** MERGEABLE HLL sketches — the property that makes distinct-counting
    * feasible at 100 TB: each day pre-aggregates its users into a Datasketches
    * HLL sketch (a few KB regardless of cardinality), and the cross-day
    * distinct count is a union of sketches, never a re-scan of raw events.
    * The same shape serves rollup cubes, incremental daily jobs, and
    * cross-partition merges. No oracle (sketch bytes are engine-specific);
    * the spec asserts the merged estimate lands within 5% of the exact
    * cross-day distinct. */
  def aggHllMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_ntz")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    daily.agg(
      count(lit(1)).as("n_days"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_users"))
      .orderBy("n_days")
  }

  /** MERGEABLE KLL quantile sketches — the percentile analogue of
    * agg_hll_merge, and the distributed-percentile primitive at 100 TB:
    * exact percentiles need a global sort (or per-group collect), but a
    * KLL sketch is a few KB with a PROVEN rank-error bound and, crucially,
    * a lossless-error MERGE — so each day (or partition, or incremental
    * batch) sketches its own values once, and any cross-day percentile is
    * a union of sketches, never a re-scan of raw events. Spark 4 ships the
    * Datasketches KLL family natively (`kll_sketch_agg_double` /
    * `kll_merge_agg_double` / `kll_sketch_get_quantile_double`), so both
    * levels stay partial-aggregate-friendly codegen'd expressions.
    * k = 800 (not the 200 default) on BOTH levels: KLL's compactor keeps
    * a RANDOM row subset, so the estimate is a draw — at k=200 the
    * ~1.6% rank band maps through this distribution's median density to
    * ~3% value error on unlucky draws (one in ~20 test runs tripped the
    * 2% gate); k=800 quarters the band (~0.4% rank) for a still-KB-sized
    * state, and the merge k must match or the union RE-COMPACTS back to
    * the coarse band. No oracle (sketch internals are engine-specific);
    * the spec asserts the merged p50/p90 land within 2% of the exact
    * percentiles over all events and within KLL's rank-error band. */
  def aggQuantileMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_ntz")).as("day"))
      .agg(expr("kll_sketch_agg_double(value, 800)").as("sk"))
    daily
      .agg(count(lit(1)).as("n_days"),
        expr("kll_merge_agg_double(sk, 800)").as("m"))
      .select(col("n_days"),
        round(expr("kll_sketch_get_quantile_double(m, 0.5)"), 4).as("p50_est"),
        round(expr("kll_sketch_get_quantile_double(m, 0.9)"), 4).as("p90_est"))
  }

  /** CMS parameters — fixed across every sketch so merges are compatible
    * and deterministic (counters are order-independent sums). */
  private val CmsEps = 0.001
  private val CmsConf = 0.99
  private val CmsSeed = 42

  /** MERGEABLE Count-Min sketches — the heavy-hitter / point-frequency
    * analogue of agg_hll_merge (distinct counts) and agg_quantile_merge
    * (percentiles), completing the mergeable-sketch family: each month
    * pre-aggregates its order stream into a CMS (a fixed ~KB counter grid
    * regardless of cardinality), and any cross-month frequency question is
    * answered from a MERGE of sketches — never a re-scan of raw orders.
    * Unlike HLL/KLL the merge here is EXACT (counter addition), so the
    * merged estimate is bit-identical to a single global sketch — the
    * property that makes per-partition sketching free at 100 TB, asserted
    * by Round11OpsSpec. The probes are the exact top-5 customers by order
    * count (TakeOrdered — distributed, deterministic ties by key); output
    * compares the sketch estimate against the exact count, spec-bounded by
    * CMS's one-sided guarantee: true ≤ est ≤ true + eps·N. No oracle
    * (sketch bytes are engine-specific); agg_freq_items is the
    * deterministic-oracle heavy-hitter row. */
  def aggCmsMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val monthly = o
      .groupBy(trunc(col("o_orderdate"), "month").as("month"))
      .agg(expr(s"count_min_sketch(o_custkey, ${CmsEps}d, ${CmsConf}d, $CmsSeed)").as("sk"))
    val cmsMerge = udaf(graft.functions.CmsMergeAgg)
    val merged = monthly.agg(struct(count(lit(1)).as("n_months"),
      cmsMerge(col("sk")).as("sk"))).scalar()
    val top = o.groupBy("o_custkey").agg(count(lit(1)).as("true_cnt"))
      .orderBy(desc("true_cnt"), asc("o_custkey")).limit(5)
    val est = udf((sk: Array[Byte], key: Long) =>
      org.apache.spark.util.sketch.CountMinSketch.readFrom(sk).estimateCount(key))
    top.select(col("o_custkey"), col("true_cnt"), merged.getField("n_months").as("n_months"),
        est(merged.getField("sk"), col("o_custkey")).as("est"))
      .orderBy("o_custkey")
  }

  /** THETA-sketch set algebra — the distinct-count capability the HLL
    * family (agg_approx_distinct / agg_hll_merge) fundamentally lacks:
    * INTERSECTION. "How many users both viewed and purchased?" needs
    * |A∩B|, and HLL sketches cannot intersect; Datasketches theta
    * sketches can (union / intersect / a-not-b), which is why audience-
    * overlap systems run on theta at scale. Shape: ONE mapPartitions pass
    * builds a compact sketch per (event_type, partition) — the union
    * stage then merges sketch-count rows, never raw rows (the same
    * sketch-once/merge-small discipline as agg_cms_merge) — and the
    * pairwise intersections run as a self-join over the ≤|types| merged
    * sketch rows (broadcast nested-loop on a planning-sized relation), so
    * the whole query stays one lazy plan: resolving the def builds no
    * jobs, unlike the round-11 version which collected the sketches
    * during construction (round-11 advisory).
    * At the spec SFs the sketches are in exact mode (distinct users ≪
    * k=4096) so estimates are exact; Round11OpsSpec asserts ±5% against
    * exact distinct/intersection counts either way. No oracle (sketch
    * bytes engine-specific); agg_distinct_exact is the exact row. */
  def aggThetaIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.datasketches.theta.UpdateSketch
    val parts = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id")).as[(String, Long)]
      .mapPartitions { it =>
        val sk = scala.collection.mutable.Map.empty[String, UpdateSketch]
        it.foreach { case (t, u) =>
          sk.getOrElseUpdate(t, UpdateSketch.builder().build()).update(u)
        }
        sk.iterator.map { case (t, s) => (t, s.compact().toByteArray) }
      }.toDF("event_type", "sk")
    val thetaUnion = udaf(graft.functions.ThetaUnionAgg)
    val merged = parts.groupBy("event_type")
      .agg(thetaUnion(col("sk")).as("sk"))
    val estOne = udf((sk: Array[Byte]) =>
      math.round(graft.functions.ThetaUnionAgg.estimate(sk)))
    val estIntersect = udf((a: Array[Byte], b: Array[Byte]) => {
      val i = org.apache.datasketches.theta.SetOperation.builder().buildIntersection()
      i.intersect(org.apache.datasketches.theta.Sketches
        .heapifyCompactSketch(org.apache.datasketches.memory.Memory.wrap(a)))
      i.intersect(org.apache.datasketches.theta.Sketches
        .heapifyCompactSketch(org.apache.datasketches.memory.Memory.wrap(b)))
      math.round(i.getResult.getEstimate)
    })
    val lhs = merged.select(col("event_type").as("type_a"), col("sk").as("ska"))
    val rhs = merged.select(col("event_type").as("type_b"), col("sk").as("skb"))
    lhs.join(rhs, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        estOne(col("ska")).as("est_a"), estOne(col("skb")).as("est_b"),
        estIntersect(col("ska"), col("skb")).as("est_intersect"))
      .orderBy("type_a", "type_b")
  }

  private def starRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    // customer scales with SF — no hard broadcast hint (stats/AQE decide);
    // nation/region are schema-fixed and keep theirs
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
  }

  /** ROLLUP(r_name, n_name); rolled-up key levels surfaced via coalesce so
    * both engines emit identical sentinel strings instead of NULL-typed keys.
    * Runs through spark.sql on a temp view: Spark's ambiguous-self-join
    * lineage check misfires on DataFrame-API rollup over joined inputs, and
    * SQL resolution sidesteps it. */
  def aggRollup(spark: SparkSession, sfDir: String): DataFrame = {
    starRevenue(spark, sfDir)
      .select("r_name", "n_name", "o_totalprice")
      .createOrReplaceTempView("rollup_src")
    spark.sql(
      """SELECT coalesce(r_name, '__all__') AS r_name,
        |  coalesce(n_name, '__all__') AS n_name,
        |  round(sum(o_totalprice), 2) AS revenue, count(*) AS order_cnt
        |FROM rollup_src
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name, n_name""".stripMargin)
  }

  def aggCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("__all__")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("__all__")).as("l_linestatus"),
        col("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  /** GROUPING() / GROUPING_ID() disambiguation — the principled answer to
    * the rollup NULL problem the coalesce-sentinel rows (aggRollup,
    * aggCube) work around: a rolled-up key level is indistinguishable
    * from a genuinely-NULL key value unless the grouping bitmask says
    * which it is. Emits the bitmask (leftmost column = most significant
    * bit, the convention both engines share) and per-column grouping
    * flags alongside the aggregate; sentinels remain only to keep the
    * total order engine-stable. Same partial→final rollup shape as
    * agg_rollup. */
  def aggGroupingId(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping_id().cast("long").as("gid"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("_all_")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("_all_")).as("l_linestatus"),
        col("gid"), col("g_rf"), col("g_ls"), col("sum_qty"))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  /** GROUPING SETS ((c_mktsegment), (n_name), ()) via Spark 4's native
    * `Dataset.groupingSets` (pre-4.0 the DataFrame API had no grouping-sets
    * method, making this the one forced SQL-parser entry). Grouping sets no
    * longer need the parser; the repo's surviving `spark.sql` QUERY-
    * EXPRESSION sites are deliberate: `aggRollup` above (documented
    * workaround for the DataFrame-API ambiguous-self-join misfire on
    * rollup-over-join) and the four Composite rows whose entire point is
    * the SQL surface — `sqlCorrelatedSubquery` (decorrelation),
    * `sqlRecursiveCte` (WITH RECURSIVE / UnionLoop), `sqlLateralJoin`
    * (LATERAL + correlated ORDER BY/LIMIT), `sqlNotInNull` (NOT IN
    * three-valued logic — subquery-IN has no DataFrame form).
    * (Sinks.sinkBucketedJoin also
    * calls `spark.sql` twice, but for `DROP TABLE IF EXISTS` catalog DDL,
    * not query expressions.) */
  def aggGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupingSets(
        Seq(Seq(col("c_mktsegment")), Seq(col("n_name")), Seq.empty),
        col("c_mktsegment"), col("n_name"))
      .agg(round(sum("c_acctbal"), 2).as("acctbal_sum"),
        count(lit(1)).as("cnt"))
      .select(coalesce(col("c_mktsegment"), lit("__all__")).as("segment"),
        coalesce(col("n_name"), lit("__all__")).as("nation"),
        col("acctbal_sum"), col("cnt"))
      .orderBy("segment", "nation")
  }

  def aggHaving(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("order_cnt"))
      .filter(col("order_cnt") > 10)
      .orderBy("o_custkey")

  /** Pivot events: rows = day, columns = event_type, values = sum(value). */
  def aggPivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_ntz")).as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum("value"), 2))
      .orderBy("day")

  /** Exact interpolated percentiles (Spark `percentile` ≡ percentile_cont). */
  def aggPercentileExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
      .orderBy("o_orderpriority")

  /** Cross-moments of value vs the JSON-extracted props.k. */
  def aggCorrCovar(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
      .groupBy("event_type")
      // 4-decimal margin: corr/covar are ratios of shuffle-order-dependent
      // double sums — 6 decimals can flake on a rounding boundary at scale
      .agg(round(corr("value", "k"), 4).as("corr_vk"),
        round(covar_samp("value", "k"), 4).as("covar_vk"))
      .orderBy("event_type")

  /** Per-group ordinary least squares via the SQL-standard REGR_* family:
    * slope/intercept/R² of value against the props.k covariate per event
    * type — the feature-vs-target screening aggregate. One-pass partial
    * aggregation (the six regr sums) per partition, one shuffle of
    * 6-double states; pairs with a NULL on either side are skipped by
    * definition on both engines. 4-decimal margin: ratios of
    * shuffle-order-dependent double sums (the corr/covar convention). */
  def aggRegression(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
      .groupBy("event_type")
      .agg(regr_count(col("value"), col("k")).as("n_pairs"),
        round(regr_slope(col("value"), col("k")), 4).as("slope"),
        round(regr_intercept(col("value"), col("k")), 4).as("intercept"),
        round(regr_r2(col("value"), col("k")), 4).as("r2"))
      .orderBy("event_type")

  /** Higher central moments per return flag: population skewness
    * (m3/m2^1.5) and population excess kurtosis (m4/m2² − 3) of the
    * extended price — Spark's `skewness`/`kurtosis` built-ins compute
    * exactly these via a single-pass stable central-moment update (one
    * partial agg per partition, one shuffle of 5-double states). The
    * oracle does NOT use DuckDB's `skewness`/`kurtosis` (those are
    * SAMPLE-corrected — a different statistic); it recomputes the
    * population moments from the definition in two passes, so the hash
    * match certifies Spark's one-pass update against the textbook
    * formula. 4-decimal margin: ratios of order-dependent double sums. */
  def aggSkewKurt(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n_rows"),
        round(skewness(col("l_extendedprice")), 4).as("skew"),
        round(kurtosis(col("l_extendedprice")), 4).as("kurt"))
      .orderBy("flag")

  /** Per nation: first 5 of the sorted list of customer account balances.
    * Emitted as a comma-joined %.2f string (not a bare array) so the driver's
    * pandas comparator can hash the column; raw arrays crash its sort. */
  def aggCollectSorted(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(array_join(
        transform(slice(array_sort(collect_list("c_acctbal")), 1, 5),
          x => format_string("%.2f", round(x, 2))), ",").as("top_bals"))
      .orderBy("n_name")
  }

  /** Sketch-based percentiles (approx_percentile ≈ t-digest style) — no
    * oracle (sketch-specific); BatchOpsSpec asserts proximity to exact. */
  def aggApproxPercentile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy("o_orderpriority")
      .agg(expr("approx_percentile(o_totalprice, 0.5, 1000)").as("ap50"),
        expr("approx_percentile(o_totalprice, 0.9, 1000)").as("ap90"))
      .orderBy("o_orderpriority")

  /** Bitwise aggregates over integer keys per event_type. */
  def aggBitwise(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(bit_and(col("user_id")).as("uid_and"),
        bit_or(col("user_id")).as("uid_or"),
        bit_xor(col("user_id")).as("uid_xor"))
      .orderBy("event_type")

  /** Conditional + argmax aggregates: count_if, bool_or/bool_and, max_by
    * with a unique composite ordering key (ties on value broken by id, so
    * both engines pick the same row). */
  def aggConditional(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count_if(col("value") > 100).as("n_big"),
        bool_or(col("value") > 400).as("any_huge"),
        bool_and(col("value") > 0).as("all_positive"),
        max_by(col("event_id"), struct(col("value"), col("event_id"))).as("top_value_event"))
      .orderBy("event_type")

  /** Sorted string aggregation (listagg idiom): region name -> comma-joined
    * sorted nation list. */
  def aggStringConcat(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      .agg(array_join(array_sort(collect_list("n_name")), ",").as("nations"))
      .orderBy("r_name")
  }

  /** Deterministic statistical mode: most frequent l_quantity per
    * returnflag, ties broken by the smallest value — the built-in `mode`
    * aggregate tie-breaks arbitrarily and differently across engines.
    * Count aggregation is partial; the per-group argmax is a 1-row window. */
  def aggMode(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag", "l_quantity").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("l_returnflag").orderBy(desc("cnt"), asc("l_quantity"))
    Windows.rangeForWindow(counts, "l_returnflag")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("cnt").as("mode_cnt"))
      .orderBy("l_returnflag")
  }

  /** Exact heavy hitters via a two-pass Misra-Gries sketch: per event_type,
    * every user_id with frequency > n/120 of its group.
    *
    * Pass 1 runs the mergeable MG sketch (capacity 119) — the shuffle moves
    * one ≤119-counter summary per partition per group, never raw ids, so at
    * 100 TB the candidate generation costs O(groups·k), not O(distinct).
    * The sketch guarantees candidates ⊇ every item above the n/120
    * threshold. Pass 2 re-counts ONLY the candidates exactly (left-semi
    * against the tiny broadcast candidate list) and filters on the exact
    * count — sketch nondeterminism (counts are stream-order dependent)
    * cannot reach the output, which makes this sketch query fully
    * oracle-checkable, unlike HLL/MinHash. GraftProps additionally asserts
    * the MG superset guarantee on adversarial generated streams. */
  def aggFreqItems(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ev = Tables.events(spark, sfDir).select("event_type", "user_id")
    val mg = udaf(new graft.functions.MisraGries(119), Encoders.scalaLong)
    val cands = ev.groupBy("event_type").agg(mg(col("user_id")).as("c"))
      .select(col("event_type"), explode(col("c.ids")).as("user_id"))
    val totals = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    ev.join(broadcast(cands), Seq("event_type", "user_id"), "left_semi")
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), "event_type")
      .filter(col("cnt") > col("n") / 120.0)
      .select("event_type", "user_id", "cnt")
      .orderBy("event_type", "user_id")
  }

  /** Incremental view maintenance — keeping a 100 TB aggregate current
    * without recomputing it: the per-customer (count, sum) view is
    * maintained by aggregating ONLY the changeset into partial deltas and
    * merging them with the existing view (count/sum are self-decomposable;
    * updates contribute a 0-count price delta, inserts contribute both).
    * The changeset derivation is deterministic — keys ≡3 (mod 10) reprice
    * ×2, keys ≡7 clone the order — so the DuckDB oracle can FULLY RECOMPUTE
    * the post-change snapshot from scratch: the hash compare then certifies
    * incremental-merge ≡ recompute, which is the IVM claim itself.
    * Both deltas are exactly +1.0·price: ×2 is an exponent shift (exact)
    * and keeps every delta a 2-DECIMAL value, so the true per-customer sum
    * stays a multiple of 0.01 and round(·, 2) can't land on a half-cent —
    * a ×1.5 variant (3-decimal deltas) measurably flipped ~9% of groups by
    * one cent between the engines' half-point conventions. The merged sum
    * then differs from the recomputed sum only by accumulation order — the
    * usual round-at-2 convention absorbs that. Cost shape: one shuffle over
    * the CHANGESET plus one over the view (both ≪ fact); the base table is
    * never re-aggregated. */
  def aggIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    // the standing materialized view: per-customer count + revenue partials
    val view = base.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum("o_totalprice").as("s"))
    // changeset → partial-aggregate deltas (never fact-sized)
    val deltas = base.filter(col("o_orderkey") % 10 === 3)
      .select(col("o_custkey"), lit(0L).as("dn"),
        col("o_totalprice").as("ds"))            // reprice ×2 ⇒ +1.0·price
      .union(base.filter(col("o_orderkey") % 10 === 7)
        .select(col("o_custkey"), lit(1L).as("dn"),
          col("o_totalprice").as("ds")))         // clone the order
      .groupBy("o_custkey").agg(sum("dn").as("dn"), sum("ds").as("ds"))
    view.join(deltas, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
        round(coalesce(col("s"), lit(0.0)) + coalesce(col("ds"), lit(0.0)), 2).as("revenue"))
      .orderBy("o_custkey")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_pricing_summary" -> aggPricingSummary,
    "q1_decimal" -> aggPricingDecimal,
    "agg_histogram" -> aggHistogram,
    "agg_entropy" -> aggEntropy,
    "agg_gini" -> aggGini,
    "agg_incremental" -> aggIncremental,
    "agg_freq_items" -> aggFreqItems,
    "agg_mode" -> aggMode,
    "agg_approx_percentile" -> aggApproxPercentile,
    "agg_bitwise" -> aggBitwise,
    "agg_conditional" -> aggConditional,
    "agg_string_concat" -> aggStringConcat,
    "agg_multi_stats" -> aggMultiStats,
    "agg_distinct_exact" -> aggDistinctExact,
    "agg_approx_distinct" -> aggApproxDistinct,
    "agg_hll_merge" -> aggHllMerge,
    "agg_quantile_merge" -> aggQuantileMerge,
    "agg_cms_merge" -> aggCmsMerge,
    "agg_theta_intersect" -> aggThetaIntersect,
    "agg_rollup" -> aggRollup,
    "agg_grouping_id" -> aggGroupingId,
    "agg_cube" -> aggCube,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_having" -> aggHaving,
    "agg_pivot" -> aggPivot,
    "agg_percentile_exact" -> aggPercentileExact,
    "agg_corr_covar" -> aggCorrCovar,
    "agg_regression" -> aggRegression,
    "agg_skew_kurt" -> aggSkewKurt,
    "agg_collect_sorted" -> aggCollectSorted,
  )

  val oracles: Map[String, String] = Map(
    // Oracle recomputes the post-changeset snapshot FROM SCRATCH — passing
    // the hash compare certifies the incremental merge equals a recompute.
    "agg_incremental" ->
      """WITH merged AS (
        |  SELECT o_custkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 2.0
        |         ELSE o_totalprice END AS p
        |  FROM orders
        |  UNION ALL
        |  SELECT o_custkey, o_totalprice AS p
        |  FROM orders WHERE o_orderkey % 10 = 7)
        |SELECT o_custkey, count(*) AS n_orders, round(sum(p), 2) AS revenue
        |FROM merged GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // Oracle replays the exact-count definition directly: the MG sketch only
    // proposes candidates; the output is the exact heavy-hitter set either way.
    "agg_freq_items" ->
      """WITH cnts AS (
        |  SELECT event_type, user_id, count(*) AS cnt
        |  FROM events GROUP BY event_type, user_id),
        |tot AS (SELECT event_type, sum(cnt) AS n FROM cnts GROUP BY event_type)
        |SELECT cnts.event_type, user_id, cnt
        |FROM cnts JOIN tot ON cnts.event_type = tot.event_type
        |WHERE cnt > n / 120.0
        |ORDER BY cnts.event_type, user_id""".stripMargin,
    "agg_mode" ->
      """SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_cnt FROM (
        |  SELECT l_returnflag, l_quantity, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY count(*) DESC, l_quantity ASC) AS rn
        |  FROM lineitem GROUP BY l_returnflag, l_quantity) WHERE rn = 1
        |ORDER BY l_returnflag""".stripMargin,
    // agg_histogram: bucket arithmetic is the same IEEE subtract/divide/
    // floor on the same doubles on both engines — exact, no rounding;
    // least() wants matching types, so the 9 is BIGINT-cast.
    "agg_histogram" ->
      """WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
        |SELECT least(CAST(9 AS BIGINT),
        |    CAST(floor((o_totalprice - lo) / ((hi - lo) / 10.0)) AS BIGINT)) AS bucket,
        |  count(*) AS n, min(o_totalprice) AS lo_v, max(o_totalprice) AS hi_v
        |FROM orders, b GROUP BY 1 ORDER BY bucket""".stripMargin,
    "agg_gini" ->
      """WITH cust AS (
        |  SELECT c_mktsegment AS seg, c_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT seg, cents,
        |    CAST(row_number() OVER (PARTITION BY seg ORDER BY cents, c_custkey)
        |      AS BIGINT) AS rk
        |  FROM cust)
        |SELECT seg, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  round(2.0 * CAST(sum(rk * cents) AS DOUBLE)
        |      / (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
        |    - (CAST(count(*) AS DOUBLE) + 1.0) / CAST(count(*) AS DOUBLE), 6) AS gini
        |FROM r GROUP BY seg ORDER BY seg""".stripMargin,
    "agg_entropy" ->
      """WITH c AS (
        |  SELECT lang, source, count(*) AS cnt FROM documents GROUP BY 1, 2),
        |t AS (
        |  SELECT lang, cnt,
        |    CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY lang) AS p
        |  FROM c),
        |e AS (SELECT lang, cnt, round(-p * ln(p), 8) AS term FROM t)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
        |  CAST(sum(cnt) AS BIGINT) AS n_docs,
        |  round(sum(term), 6) AS entropy,
        |  CASE WHEN count(*) > 1
        |       THEN round(sum(term) / ln(CAST(count(*) AS DOUBLE)), 6)
        |       ELSE 0.0 END AS entropy_norm
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin,
    // q1_decimal: NO round() anywhere — exact decimal arithmetic, output
    // as exact integer minor units (BIGINT — the driver-proven dtype; the
    // DECIMAL(38,_) output form hash-failed at the driver in r12 despite
    // value-identical local replay). The scale-up multiplies inside the
    // sum: decimal×int is exact and integer-valued, sum runs in DuckDB's
    // hugeint, final BIGINT cast is exact.
    "q1_decimal" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * 100) AS BIGINT) AS sum_qty_c2,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS sum_base_price_c2,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(3,2))) * 10000) AS BIGINT) AS sum_disc_price_u4,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(3,2)))
        |    * (1 + CAST(l_tax AS DECIMAL(3,2))) * 1000000) AS BIGINT) AS sum_charge_u6,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_multi_stats" ->
      """SELECT event_type, min(value) AS min_value, max(value) AS max_value,
        |  round(avg(value), 4) AS avg_value,
        |  round(stddev_samp(value), 4) AS stddev_value,
        |  round(var_samp(value), 4) AS var_value,
        |  count(*) AS cnt, count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_distinct_exact" ->
      """SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    // agg_approx_distinct: estimator-specific — spec-checked, no oracle.
    "agg_bitwise" ->
      """SELECT event_type,
        |  bit_and(user_id) AS uid_and, bit_or(user_id) AS uid_or,
        |  bit_xor(user_id) AS uid_xor
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // DuckDB 1.0 arg_max has no struct-key overload — the deterministic
    // argmax (value DESC, event_id DESC) is a window instead.
    "agg_conditional" ->
      """WITH base AS (
        |  SELECT event_type,
        |    count(*) FILTER (WHERE value > 100) AS n_big,
        |    bool_or(value > 400) AS any_huge,
        |    bool_and(value > 0) AS all_positive
        |  FROM events GROUP BY event_type),
        |top AS (
        |  SELECT event_type, event_id AS top_value_event FROM (
        |    SELECT event_type, event_id,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY value DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1)
        |SELECT base.event_type, n_big, any_huge, all_positive, top_value_event
        |FROM base JOIN top USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "agg_string_concat" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "agg_grouping_id" ->
      """SELECT coalesce(l_returnflag, '_all_') AS l_returnflag,
        |  coalesce(l_linestatus, '_all_') AS l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "agg_rollup" ->
      """SELECT coalesce(r_name, '__all__') AS r_name,
        |  coalesce(n_name, '__all__') AS n_name,
        |  round(sum(o_totalprice), 2) AS revenue, count(*) AS order_cnt
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name, n_name""".stripMargin,
    "agg_cube" ->
      """SELECT coalesce(l_returnflag, '__all__') AS l_returnflag,
        |  coalesce(l_linestatus, '__all__') AS l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT coalesce(c_mktsegment, '__all__') AS segment,
        |  coalesce(n_name, '__all__') AS nation,
        |  round(sum(c_acctbal), 2) AS acctbal_sum, count(*) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
        |ORDER BY segment, nation""".stripMargin,
    "agg_having" ->
      """SELECT o_custkey, count(*) AS order_cnt FROM orders
        |GROUP BY o_custkey HAVING count(*) > 10 ORDER BY o_custkey""".stripMargin,
    "agg_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  round(sum(value) FILTER (WHERE event_type = 'click'), 2) AS click,
        |  round(sum(value) FILTER (WHERE event_type = 'error'), 2) AS error,
        |  round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase,
        |  round(sum(value) FILTER (WHERE event_type = 'signup'), 2) AS signup,
        |  round(sum(value) FILTER (WHERE event_type = 'view'), 2) AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "agg_percentile_exact" ->
      """SELECT o_orderpriority,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "agg_corr_covar" ->
      """SELECT event_type,
        |  round(corr(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS corr_vk,
        |  round(covar_samp(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS covar_vk
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_regression" ->
      """SELECT event_type,
        |  CAST(regr_count(value, k) AS BIGINT) AS n_pairs,
        |  round(regr_slope(value, k), 4) AS slope,
        |  round(regr_intercept(value, k), 4) AS intercept,
        |  round(regr_r2(value, k), 4) AS r2
        |FROM (SELECT event_type, value,
        |        CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_skew_kurt" ->
      """WITH b AS (SELECT l_returnflag AS flag, l_extendedprice AS x FROM lineitem),
        |m AS (SELECT flag, avg(x) AS mu FROM b GROUP BY flag),
        |c AS (SELECT b.flag, count(*) AS n_rows,
        |        avg(pow(x - mu, 2)) AS m2, avg(pow(x - mu, 3)) AS m3,
        |        avg(pow(x - mu, 4)) AS m4
        |      FROM b JOIN m ON b.flag = m.flag GROUP BY b.flag)
        |SELECT flag, n_rows,
        |  round(m3 / pow(m2, 1.5), 4) AS skew,
        |  round(m4 / (m2 * m2) - 3, 4) AS kurt
        |FROM c ORDER BY flag""".stripMargin,
    "agg_collect_sorted" ->
      """SELECT n_name,
        |  array_to_string(list_transform((list(c_acctbal ORDER BY c_acctbal))[:5],
        |    x -> printf('%.2f', round(x, 2))), ',') AS top_bals
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
  )
}
