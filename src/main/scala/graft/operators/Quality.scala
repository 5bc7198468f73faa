package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-quality / dimension-history operators — the dbt-test and
  * slowly-changing-dimension layer every production warehouse runs nightly.
  *
  * Scale notes: each constraint is one aggregate or anti-join over its
  * table (anti joins co-partition on the key — the same shuffle the FK
  * lookup needs anyway); the result is one row per rule, so the union at
  * the end is trivially small. SCD2 history is two filtered projections of
  * ONE dimension scan unioned — no join, no shuffle until the output sort.
  */
object Quality {

  /** The tables a constraint may check, bound once per sweep. */
  private[operators] final case class DqTables(orders: DataFrame, lineitem: DataFrame,
      customer: DataFrame, supplier: DataFrame, events: DataFrame)

  /** One constraint AS DATA: its name, the Spark-side violation counter
    * (must yield a single row with a long column `n`), and the DuckDB
    * oracle's equivalent one-row SELECT. Adding a rule is adding a row
    * here — both the operator's union and the oracle's UNION ALL are
    * generated from this table, so the two sides cannot drift. FK oracles
    * use NOT EXISTS (never NOT IN): NOT IN's three-valued logic reports 0
    * violations the moment the subquery contains a NULL key, silently
    * diverging from the anti-join the Spark side runs. */
  private[operators] final case class DqRule(name: String,
      oracleSelect: String, check: DqTables => DataFrame)

  /** Rules cover the four families dbt-style suites run: referential
    * integrity (anti joins), uniqueness (grouped duplicate count),
    * nullability, and accepted ranges/outliers. Exact integer counts — no
    * rounding concerns. */
  private[operators] val dqRules: Seq[DqRule] = Seq(
    DqRule("orders_custkey_fk",
      """SELECT 'orders_custkey_fk' AS rule, CAST(count(*) AS BIGINT) AS n_violations
        |  FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey)""".stripMargin,
      t => t.orders.join(t.customer,
          t.orders("o_custkey") === t.customer("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))),
    DqRule("lineitem_orderkey_fk",
      """SELECT 'lineitem_orderkey_fk', CAST(count(*) AS BIGINT)
        |  FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_orderkey = l.l_orderkey)""".stripMargin,
      t => t.lineitem.join(t.orders,
          t.lineitem("l_orderkey") === t.orders("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))),
    DqRule("lineitem_suppkey_fk",
      """SELECT 'lineitem_suppkey_fk', CAST(count(*) AS BIGINT)
        |  FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM supplier WHERE s_suppkey = l.l_suppkey)""".stripMargin,
      t => t.lineitem.join(t.supplier,
          t.lineitem("l_suppkey") === t.supplier("s_suppkey"), "left_anti")
        .agg(count(lit(1)).as("n"))),
    DqRule("customer_custkey_unique",
      """SELECT 'customer_custkey_unique',
        |    CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT)
        |  FROM (SELECT count(*) AS c FROM customer GROUP BY c_custkey)""".stripMargin,
      t => t.customer.groupBy("c_custkey").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(when(col("c") > 1, col("c") - 1)), lit(0L)).as("n"))),
    DqRule("orders_totalprice_positive",
      """SELECT 'orders_totalprice_positive', CAST(count(*) AS BIGINT)
        |  FROM orders WHERE o_totalprice <= 0""".stripMargin,
      t => t.orders.agg(count_if(col("o_totalprice") <= 0).as("n"))),
    DqRule("lineitem_quantity_range",
      """SELECT 'lineitem_quantity_range', CAST(count(*) AS BIGINT)
        |  FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50""".stripMargin,
      t => t.lineitem.agg(count_if(col("l_quantity") < 1 || col("l_quantity") > 50).as("n"))),
    DqRule("events_value_outlier",
      """SELECT 'events_value_outlier', CAST(count(*) AS BIGINT)
        |  FROM events WHERE value > 400""".stripMargin,
      t => t.events.agg(count_if(col("value") > 400).as("n"))),
    DqRule("events_dup_user_type_minute",
      """SELECT 'events_dup_user_type_minute',
        |    CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT)
        |  FROM (SELECT count(*) AS c FROM events
        |        GROUP BY user_id, event_type, date_trunc('minute', CAST(ts AS TIMESTAMP)))""".stripMargin,
      t => t.events.withColumn("m", date_trunc("minute", col("ts_ntz")))
        .groupBy("user_id", "event_type", "m").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(when(col("c") > 1, col("c") - 1)), lit(0L)).as("n"))),
  )

  /** Constraint sweep: every rule in `dqRules` evaluates to a violation
    * count (0 = the constraint holds). */
  def dqConstraints(spark: SparkSession, sfDir: String): DataFrame = {
    val t = DqTables(Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir),
      Tables.customer(spark, sfDir), Tables.supplier(spark, sfDir),
      Tables.events(spark, sfDir))
    dqRules.map(r => r.check(t)
        .select(lit(r.name).as("rule"), col("n").cast("long").as("n_violations")))
      .reduce(_.union(_)).orderBy("rule")
  }

  /** Fixed SCD2 effective date — inside every SF's order-date range. */
  private val Scd2Effective = "1998-01-01"

  /** SCD2 history build: the changeset reassigns the market segment of
    * customers with key ≡ 2 (mod 7) as of `Scd2Effective`. Changed keys
    * produce a CLOSED old version (valid_to = effective date) plus an open
    * new version; unchanged keys keep one open row. Both versions project
    * the SAME dimension scan — the whole history is filters + union, no
    * join — and the derivation is deterministic, so the DuckDB oracle
    * rebuilds it from scratch. */
  def scd2History(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_mktsegment")
    val changed = col("c_custkey") % 7 === 2
    val open = c
      .withColumn("c_mktsegment",
        when(changed, lit("REASSIGNED")).otherwise(col("c_mktsegment")))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        when(changed, to_date(lit(Scd2Effective)))
          .otherwise(to_date(lit("1992-01-01"))).as("valid_from"),
        lit(null).cast("date").as("valid_to"),
        lit(true).as("is_current"))
    val closed = c.filter(changed)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        to_date(lit("1992-01-01")).as("valid_from"),
        to_date(lit(Scd2Effective)).as("valid_to"),
        lit(false).as("is_current"))
    open.union(closed)
      .orderBy("c_custkey", "valid_from")
  }

  /** Pipeline metrics via the Observation API — the zero-extra-pass way to
    * collect data-quality counters at 100 TB. `dq_constraints` pays one
    * aggregate job per rule; this operator instead attaches `observe()`
    * metrics to a pass over the fact table, so the counters ride the SAME
    * tasks as the main work (Spark accumulators under a CollectMetrics
    * plan node — PlanSpec asserts the node is present) and cost no second
    * scan. The observed one-row result is returned as the query output;
    * the DuckDB oracle recomputes every metric with plain aggregates.
    * observe() legally takes only deterministic non-distinct aggregates —
    * exactly what these counters are. The driving action is a noop-format
    * write: the full pass without materializing rows anywhere. */
  def dqObserve(spark: SparkSession, sfDir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val observed = Tables.lineitem(spark, sfDir).observe(obs,
      count(lit(1)).as("n_rows"),
      count(when(col("l_quantity").isNull, 1)).as("n_null_qty"),
      round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
      min("l_quantity").as("min_qty"),
      max("l_quantity").as("max_qty"),
      count(when(col("l_discount") > 0.1, 1)).as("n_disc_violation"))
    observed.write.format("noop").mode("overwrite").save()
    val m = obs.get
    import spark.implicits._
    Seq((m("n_rows").asInstanceOf[Long], m("n_null_qty").asInstanceOf[Long],
      m("revenue").asInstanceOf[Double], m("min_qty").asInstanceOf[Double],
      m("max_qty").asInstanceOf[Double], m("n_disc_violation").asInstanceOf[Long]))
      .toDF("n_rows", "n_null_qty", "revenue", "min_qty", "max_qty", "n_disc_violation")
  }

  /** The measure columns ANALYZE-style profiling sweeps (all exact
    * 2-decimal doubles on disk — min/max are selections, no float-sum
    * drift). One entry per profiled column keeps the Spark aggregate and
    * the generated oracle branches in lockstep (the dqRules discipline). */
  private val ProfileCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** ANALYZE TABLE-style column profiling — the statistics pass every
    * optimizer and data-quality monitor runs before anything else: per
    * column, row count, null count, EXACT distinct count, min and max.
    * ONE aggregate over one scan computes every column's stats (the
    * multi-distinct plan is a single Expand(×|cols|) + one shuffle —
    * linear in rows, never one scan per column), then the 1-row wide
    * result melts to a row per column via `stack` (a local Expand over
    * one row). At 100 TB the exact NDV is the expensive honest choice —
    * `agg_approx_distinct` is this repo's HLL row for when ±2% is
    * acceptable; everything else here is a partial-aggregable
    * count/min/max. */
  def dqProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val aggs = ProfileCols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
      countDistinct(col(c)).as(s"${c}_ndv"),
      min(col(c)).as(s"${c}_min"),
      max(col(c)).as(s"${c}_max")))
    val melt = ProfileCols
      .map(c => s"'$c', ${c}_nulls, ${c}_ndv, ${c}_min, ${c}_max")
      .mkString(", ")
    li.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(col("n_rows"), expr(
        s"stack(${ProfileCols.size}, $melt) AS (col_name, n_nulls, n_distinct, min_val, max_val)"))
      .select("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")
      .orderBy("col_name")
  }

  /** Distribution-drift detection — the ML-ops monitoring primitive:
    * Population Stability Index of the order-price distribution between
    * the dataset's FIRST and LAST order year (both derived from the data,
    * so the comparison windows are engine-independent). Prices bucket
    * into 10 equi-width bins over the global [min,max] (agg_histogram's
    * arithmetic); per bin, the baseline and current proportions use
    * +0.5/+5.0 additive smoothing so an empty bin contributes a finite
    * penalty instead of a division by zero, and the PSI term is
    * (p−q)·ln(p/q). Output is per-bucket (the drill-down a drift alert
    * needs); the total is the sum of the rows. Deterministic to the
    * margin: proportions are ratios of exact integer counts, so only the
    * final ln/multiply touches float variance — rounded at 6.
    * Scale: one bounds aggregate read as a scalar subquery (no driver collect), one
    * filtered scan of the two years, one ≤10-row shuffle. */
  def dqDriftPsi(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice").as("v"),
        year(col("o_orderdate")).as("yr"))
    val bounds = o.agg(struct(min("v").as("lo"), max("v").as("hi"),
      min("yr").as("y0"), max("yr").as("y1"))).scalar()
    val nB = 10L
    o.withColumns(Seq("lo", "hi", "y0", "y1").map(c => c -> bounds.getField(c)).toMap)
      .filter(col("yr") === col("y0") || col("yr") === col("y1"))
      .withColumn("bucket", least(lit(nB - 1),
        floor((col("v") - col("lo")) / ((col("hi") - col("lo")) / lit(nB.toDouble)))))
      .groupBy("bucket")
      .agg(sum(when(col("yr") === col("y0"), 1L).otherwise(0L)).as("c_base"),
        sum(when(col("yr") === col("y1"), 1L).otherwise(0L)).as("c_cur"))
      .withColumn("p", (col("c_base") + lit(0.5)) /
        (sum(col("c_base")).over() + lit(5.0)))
      .withColumn("q", (col("c_cur") + lit(0.5)) /
        (sum(col("c_cur")).over() + lit(5.0)))
      .select(col("bucket"), col("c_base"), col("c_cur"),
        round((col("p") - col("q")) * log(col("p") / col("q")), 6).as("psi_term"))
      .orderBy("bucket")
  }

  /** Benford's-law first-digit audit of order totals — the classic
    * fabricated-numbers screen an auditor runs over a money column:
    * observed share of each leading significant digit vs the Benford
    * expectation log10(1 + 1/d), with the per-digit deviation out (the
    * drill-down). The digit is extracted in EXACT integer space — cents
    * = round(price·100) as a long, first character of its decimal string
    * — never via floor(log10(v)) whose last-ulp behavior near powers of
    * ten could differ across engines. One scan, ≤9-row shuffle, a 9-row
    * global window for the share denominator. */
  def dqBenford(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      .withColumn("share", round(col("n_obs") / sum("n_obs").over(), 6))
      .withColumn("benford", round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
      .select(col("digit"), col("n_obs"), col("share"), col("benford"),
        round(col("share") - col("benford"), 6).as("dev"))
      .orderBy("digit")

  /** Tukey-fence (IQR) outlier profile per event type — the robust
    * complement of evt_anomaly's z-scores (fences don't move when the
    * outliers themselves inflate σ): per type, exact q1/q3, the 1.5·IQR
    * fences, and the count/share of values outside them. Two passes over
    * the per-type grain: one exact-percentile aggregate (5 rows,
    * broadcast back), one conditional count — fences are interpolated
    * doubles compared against raw values with identical a+(b−a)·g
    * arithmetic on both engines. */
  def dqIqrOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("event_type", "value")
    val q = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
    ev.join(broadcast(q), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(first("q1"), 4).as("q1"), round(first("q3"), 4).as("q3"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_share", round(col("n_outliers") / col("n"), 6))
      .orderBy("event_type")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_iqr_outliers" -> dqIqrOutliers,
    "dq_benford" -> dqBenford,
    "dq_drift_psi" -> dqDriftPsi,
    "dq_constraints" -> dqConstraints,
    "scd2_history" -> scd2History,
    "dq_observe" -> dqObserve,
    "dq_profile" -> dqProfile,
  )

  val oracles: Map[String, String] = Map(
    "dq_iqr_outliers" ->
      """WITH q AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.25) AS q1,
        |    quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY event_type),
        |f AS (
        |  SELECT event_type, q1, q3,
        |    q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
        |  FROM q)
        |SELECT e.event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(max(f.q1), 4) AS q1, round(max(f.q3), 4) AS q3,
        |  CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi
        |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS outlier_share
        |FROM events e JOIN f USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "dq_benford" ->
      """WITH cents AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders WHERE round(o_totalprice * 100) > 0),
        |d AS (
        |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM cents),
        |g AS (
        |  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY digit)
        |SELECT digit, n_obs,
        |  round(CAST(n_obs AS DOUBLE) / sum(n_obs) OVER (), 6) AS share,
        |  round(log10(1.0 + 1.0 / digit), 6) AS benford,
        |  round(round(CAST(n_obs AS DOUBLE) / sum(n_obs) OVER (), 6)
        |    - round(log10(1.0 + 1.0 / digit), 6), 6) AS dev
        |FROM g ORDER BY digit""".stripMargin,
    "dq_drift_psi" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_totalprice AS v,
        |    date_part('year', o_orderdate) AS yr
        |  FROM orders),
        |b AS (SELECT min(v) AS lo, max(v) AS hi,
        |        min(yr) AS y0, max(yr) AS y1 FROM o),
        |f AS (
        |  SELECT least(9, CAST(floor((v - lo) / ((hi - lo) / 10.0)) AS BIGINT))
        |      AS bucket,
        |    yr, y0, y1
        |  FROM o CROSS JOIN b WHERE yr = y0 OR yr = y1),
        |c AS (
        |  SELECT bucket,
        |    CAST(sum(CASE WHEN yr = y0 THEN 1 ELSE 0 END) AS BIGINT) AS c_base,
        |    CAST(sum(CASE WHEN yr = y1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
        |  FROM f GROUP BY bucket),
        |p AS (
        |  SELECT bucket, c_base, c_cur,
        |    (c_base + 0.5) / (sum(c_base) OVER () + 5.0) AS p,
        |    (c_cur + 0.5) / (sum(c_cur) OVER () + 5.0) AS q
        |  FROM c)
        |SELECT bucket, c_base, c_cur, round((p - q) * ln(p / q), 6) AS psi_term
        |FROM p ORDER BY bucket""".stripMargin,
    // generated from the SAME rule table the operator runs — the oracle
    // cannot drift from the Spark side when a rule is added or edited
    "dq_constraints" -> dqRules.map(_.oracleSelect)
      .mkString("SELECT rule, n_violations FROM (\n", "\n  UNION ALL\n", "\n) ORDER BY rule"),
    // generated from the SAME ProfileCols list as the operator (the
    // dq_constraints discipline); DuckDB sums are HUGEINT -> BIGINT-cast
    "dq_profile" -> ProfileCols
      .map(c =>
        s"""  SELECT '$c' AS col_name, count(*) AS n_rows,
           |    CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |    count(DISTINCT $c) AS n_distinct,
           |    min($c) AS min_val, max($c) AS max_val FROM lineitem""".stripMargin)
      .mkString("SELECT * FROM (\n", "\n  UNION ALL\n", "\n) ORDER BY col_name"),
    // one row of corpus counters; the operator's claim is WHERE they were
    // computed (on the main pass via CollectMetrics), which the oracle
    // cannot see — it checks the values with plain aggregates
    "dq_observe" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_qty,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  CAST(sum(CASE WHEN l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc_violation
        |FROM lineitem""".stripMargin,
    "scd2_history" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 7 = 2 THEN 'REASSIGNED' ELSE c_mktsegment END AS c_mktsegment,
        |  CASE WHEN c_custkey % 7 = 2 THEN DATE '1998-01-01' ELSE DATE '1992-01-01' END AS valid_from,
        |  CAST(NULL AS DATE) AS valid_to,
        |  true AS is_current
        |FROM customer
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment,
        |  DATE '1992-01-01', DATE '1998-01-01', false
        |FROM customer WHERE c_custkey % 7 = 2
        |ORDER BY c_custkey, valid_from""".stripMargin,
  )
}
