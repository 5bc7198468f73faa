package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Window-function operators (SURVEY.md §2.5).
  *
  * Determinism: every window ORDER BY carries a unique tiebreak column so
  * ranking functions are total-order deterministic, and the identical ORDER BY
  * appears in the oracle SQL. Running double sums execute left-to-right in
  * frame order on both engines, so values agree before rounding; rounding is
  * still applied as belt-and-braces.
  *
  * Scale notes: all windows partition by a key (customer, segment) — state per
  * partition is bounded by that key's rows, and partitions shuffle-distribute
  * across executors. The remaining unpartitioned windows order inputs that
  * are tiny BY CONSTRUCTION (`win_moving_avg`/`win_lag_returns` rank a
  * pre-aggregated daily series; `winNtileCume`'s prefix window ranks its
  * ≤256-row bucket-count table). `win_ntile_cume` itself ranked the full
  * customer dimension in one task until round 7 — see its Scaladoc for the
  * partition-parallel decomposition that replaced the global window.
  */
object Windows {

  /** `df` range-partitioned on a window's partition `keys`, for a window
    * that a global `orderBy` on the same leading keys follows. Left
    * alone, Spark plans a hash exchange and a sort for the window, then a
    * range exchange, a sampling job and a second sort for the orderBy.
    * `RangePartitioning(keys)` meets both the window's clustered
    * distribution and the orderBy's ordered one, so one exchange remains;
    * where the orderBy's keys are a prefix of the window's sort order
    * (partition keys, then its ORDER BY), that sort is the final order
    * and the second sort goes too — one partition-and-sort step feeding
    * both operators, as in "Building Advanced SQL Analytics From
    * Low-Level Plan Operators" (SIGMOD 2021).
    *
    * Keys with few distinct values (l_returnflag, c_mktsegment,
    * event_type, lang) run the window on one task per key value under
    * either exchange; their sites were measured at sf0.1 before
    * converting, and each ran one job fewer with its full-result time and
    * task CPU lower or within run-to-run noise. A rank filter over the
    * window (`row_number() <= k`) plans as a map-side partial limit ahead
    * of the window's own exchange, which a range exchange first moves
    * behind the shuffle: cheap over an aggregate's output (aggMode,
    * Composite.topCustomerPerNation), slower over raw rows
    * (winTopkPerGroup, Joins.joinFuzzyTopk, LlmText.llmTfidf,
    * LlmVector.llmCosineTopk keep their hash exchange). The range
    * partitioner's sampling pass also reads the window's input rather
    * than its shuffled output (winIgnoreNulls keeps its hash exchange). */
  def rangeForWindow(df: DataFrame, keys: String*): DataFrame =
    df.repartitionByRange(keys.map(col): _*)

  def winRankDense(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(desc("c_acctbal"), asc("c_custkey"))
    rangeForWindow(Tables.customer(spark, sfDir), "c_mktsegment")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        row_number().over(w).cast("long").as("rn"))
      .orderBy("c_mktsegment", "rn")
  }

  /** Top 3 orders per customer. The window keeps its own hash exchange
    * rather than sharing a range partitioning with the final orderBy
    * (`rangeForWindow`): the rn ≤ 3 filter plans a map-side partial limit
    * ahead of that exchange, and a range exchange first ships all orders
    * and adds a sampling pass over the scan — measured at sf0.1, task CPU
    * 0.43 → 0.52 s (a repeat: 0.45 → 0.50 s) although the full result on
    * an idle host fell 0.62 → 0.48 s. */
  def winTopkPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  def winRunningSum(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rangeForWindow(Tables.orders(spark, sfDir), "o_custkey")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(sum("o_totalprice").over(w), 2).as("running_total"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  /** 7-day moving average of daily event value (classic finance MA). */
  def winMovingAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_ntz")).as("day"))
      .agg(sum("value").as("day_value"))
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    daily.select(col("day"), round(avg("day_value").over(w), 2).as("ma7"))
      .orderBy("day")
  }

  /** Day-over-day percent change of daily order revenue. */
  def winLagReturns(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum("o_totalprice").as("rev"))
    val w = Window.orderBy("day")
    daily.select(col("day"),
        round((col("rev") - lag("rev", 1).over(w)) / lag("rev", 1).over(w), 6).as("ret"))
      .orderBy("day")
  }

  /** Global ranking (ntile / percent_rank / cume_dist) over the FULL
    * customer table — the one declared operator whose naive form is a
    * global unpartitioned window (WindowExec "No Partition Defined": all N
    * rows sort in ONE task — fine on toy data, the classic scale killer at
    * a 1B-row dimension). This form computes the identical total order
    * (c_acctbal, c_custkey) partition-parallel:
    *   1. order-preserving VALUE buckets over the acctbal domain (the
    *      table contract bounds c_acctbal to [-999.99, 9999.99]; equal
    *      balances share a bucket by construction, out-of-contract values
    *      clamp to the edge buckets — skew, never wrongness);
    *   2. per-bucket local ranks — a partition-parallel window;
    *   3. exclusive prefix offsets over the ≤256-row bucket-count table
    *      (the only unpartitioned window left runs on ≤256 rows) broadcast
    *      back, so global rank = offset + local rank;
    *   4. ntile / percent_rank / cume_dist in closed form from (rank, N) —
    *      exact because the order key is unique: pr = (r−1)/(N−1),
    *      cd = r/N, and the standard ntile split (the first N mod 10
    *      buckets take ⌈N/10⌉ rows, the rest ⌊N/10⌋). The divisions are
    *      the same double ops the window functions evaluate, so values are
    *      bit-identical; the DuckDB oracle replays the plain windowed SQL.
    */
  def winNtileCume(spark: SparkSession, sfDir: String): DataFrame = {
    val nBuckets = 256
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_acctbal"))
      // clamp BEFORE the int cast: an out-of-contract balance must land in
      // an edge bucket, not overflow the cast (ANSI mode would throw; the
      // long-typed floor can exceed Int.MaxValue, the clamped value can't)
      .withColumn("bkt", least(lit((nBuckets - 1).toLong), greatest(lit(0L),
        floor((col("c_acctbal") + lit(1000.0)) / lit(11000.0 / nBuckets)))).cast("int"))
    val wLocal = Window.partitionBy("bkt").orderBy("c_acctbal", "c_custkey")
    val wPrefix = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    // N derives from the bucket counts (their exchange is reused for the
    // offsets branch) — no second full-table count scan
    val counts = c.groupBy("bkt").agg(count(lit(1)).as("bn"))
    val offsets = counts
      .withColumn("off", coalesce(sum("bn").over(wPrefix), lit(0L)))
      .select("bkt", "off")
    val ranked = c.withColumn("lr", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("bkt"))
      .withColumn("n_total", counts.agg(sum("bn")).scalar())
    val r = col("off") + col("lr")
    val n = col("n_total")
    val q = floor(n / lit(10)).cast("long")       // small-bucket size
    val rem = n - q * lit(10)                     // # of (q+1)-sized buckets
    val decile = when(r <= rem * (q + lit(1)),
        floor((r - lit(1)) / (q + lit(1))) + lit(1))
      .otherwise(rem + floor((r - lit(1) - rem * (q + lit(1))) / greatest(q, lit(1L))) + lit(1))
    ranked.select(col("c_custkey"), col("c_acctbal"),
        decile.cast("long").as("decile"),
        when(n === 1, lit(0.0))
          .otherwise(round((r - lit(1)) / (n - lit(1)), 6)).as("pr"),
        round(r / n, 6).as("cd"))
      .orderBy("c_custkey")
  }

  /** RANGE frame: customers within ±100 acctbal of each row, per segment. */
  def winRangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal").rangeBetween(-100, 100)
    rangeForWindow(Tables.customer(spark, sfDir), "c_mktsegment")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        count(lit(1)).over(w).as("near_cnt"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  def winFirstLastNth(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        first("o_totalprice").over(w).as("first_price"),
        last("o_totalprice").over(w).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      .distinct()
      .orderBy("o_custkey")
  }

  /** IGNORE NULLS window navigation (SQL:2011 null treatment; Spark
    * exposes it as function overloads, DuckDB as the `IGNORE NULLS`
    * modifier). Purchase values exist only on purchase events — a
    * deterministic mask both engines replay — so each user's stream is a
    * SPARSE series and the four navigation functions bridge the gaps:
    * last/next known value around every event (the as-of-style lookup
    * ts_forward_fill builds from `last()`, here over the full navigation
    * family), first and second known value per user. One shuffle on
    * user_id; lag/lead are frame-independent offsets, first rides the
    * default running frame on both engines, nth gets the explicit full
    * frame. Total order (user_id, event_id); values rounded on both
    * engines per convention. The window keeps its own hash exchange
    * rather than sharing a range partitioning with the final orderBy
    * (`rangeForWindow`): the range partitioner's sampling pass would then
    * run over the events scan instead of over the shuffled window output,
    * and on this table the scan costs more than the sort and window it
    * saves — measured at sf0.1, task CPU 0.65 → 0.84 s (a repeat:
    * 0.80 → 1.05 s) although the full result on an idle host fell
    * 0.81 → 0.73 s. */
  def winIgnoreNulls(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("epoch_us", "event_id")
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("epoch_us"),
        when(col("event_type") =!= "purchase", lit(null))
          .otherwise(col("value")).as("v"))
      .select(col("user_id"), col("event_id"),
        round(lag(col("v"), 1, null, ignoreNulls = true).over(w), 4).as("prev_known"),
        round(lead(col("v"), 1, null, ignoreNulls = true).over(w), 4).as("next_known"),
        round(first(col("v"), ignoreNulls = true).over(w), 4).as("first_known"),
        round(nth_value(col("v"), 2, ignoreNulls = true).over(wAll), 4).as("second_known"))
      .orderBy("user_id", "event_id")
  }

  /** Rolling EXACT percentiles (median + p90) of daily event value over a
    * 7-day row frame, per event type. Spark's `percentile` and DuckDB's
    * `quantile_cont` both linear-interpolate over the sorted frame, so the
    * estimates agree before rounding; the daily inputs are rounded to 4
    * decimals first so the interpolation sees identical values on both
    * engines (the raw per-day double sum is shuffle-order dependent).
    * Scale: the window partitions by event_type and each frame holds ≤7
    * pre-aggregated daily rows, so per-partition window state is
    * calendar-bounded — the raw stream is reduced by the groupBy before
    * any window pass, and the exact sort inside `percentile` touches 7
    * values per row, never the event grain. */
  def winRollingMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts_ntz")).as("day"))
      .agg(round(sum("value"), 4).as("day_value"))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    rangeForWindow(daily, "event_type").select(col("event_type"), col("day"),
        round(percentile(col("day_value"), lit(0.5)).over(w), 4).as("med7"),
        round(percentile(col("day_value"), lit(0.9)).over(w), 4).as("p90_7"))
      .orderBy("event_type", "day")
  }

  /** Running DISTINCT count per user (how many distinct event types has
    * this user produced so far) — the scalable rewrite of the window
    * nobody should run: `count(DISTINCT type) OVER (... ROWS UNBOUNDED
    * PRECEDING)` needs a per-row set of seen keys (O(n·k) state and no
    * partial aggregation). Decomposed into two plain windows that stream
    * in one sort order each: a first-occurrence flag (row_number = 1 over
    * (user, type)) and a running SUM of that flag over (user) — both
    * pipelined window passes with O(1) state per row, two shuffles whose
    * keys are user-bounded. The DuckDB oracle replays the same rewrite,
    * making the equivalence itself the thing under test. */
  def winDistinctRunning(spark: SparkSession, sfDir: String): DataFrame = {
    val wFirst = Window.partitionBy("user_id", "event_type").orderBy("epoch_us", "event_id")
    val wRun = Window.partitionBy("user_id").orderBy("epoch_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rangeForWindow(Tables.events(spark, sfDir), "user_id")
      .select(col("user_id"), col("event_id"), col("epoch_us"), col("event_type"))
      .withColumn("fst", when(row_number().over(wFirst) === 1, lit(1L)).otherwise(lit(0L)))
      .select(col("user_id"), col("event_id"),
        sum("fst").over(wRun).as("distinct_types"))
      .orderBy("user_id", "event_id")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_rolling_median" -> winRollingMedian,
    "win_distinct_running" -> winDistinctRunning,
    "win_ignore_nulls" -> winIgnoreNulls,
    "win_rank_dense" -> winRankDense,
    "win_topk_per_group" -> winTopkPerGroup,
    "win_running_sum" -> winRunningSum,
    "win_moving_avg" -> winMovingAvg,
    "win_lag_returns" -> winLagReturns,
    "win_ntile_cume" -> winNtileCume,
    "win_range_frame" -> winRangeFrame,
    "win_first_last_nth" -> winFirstLastNth,
  )

  val oracles: Map[String, String] = Map(
    "win_rolling_median" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, round(sum(value), 4) AS day_value
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day,
        |  round(quantile_cont(day_value, 0.5) OVER w, 4) AS med7,
        |  round(quantile_cont(day_value, 0.9) OVER w, 4) AS p90_7
        |FROM d
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "win_distinct_running" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS e_us, event_type FROM events),
        |f AS (
        |  SELECT user_id, event_id, e_us,
        |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY e_us, event_id) = 1 THEN 1 ELSE 0 END AS fst
        |  FROM e)
        |SELECT user_id, event_id,
        |  CAST(sum(fst) OVER (PARTITION BY user_id ORDER BY e_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS distinct_types
        |FROM f ORDER BY user_id, event_id""".stripMargin,
    "win_rank_dense" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk, row_number() OVER w AS rn
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_mktsegment, rn""".stripMargin,
    "win_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "win_running_sum" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "win_moving_avg" ->
      """SELECT day, round(avg(day_value) OVER (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7
        |FROM (SELECT CAST(ts AS DATE) AS day, sum(value) AS day_value
        |      FROM events GROUP BY 1)
        |ORDER BY day""".stripMargin,
    "win_lag_returns" ->
      """SELECT day, round((rev - lag(rev, 1) OVER (ORDER BY day))
        |    / lag(rev, 1) OVER (ORDER BY day), 6) AS ret
        |FROM (SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS rev
        |      FROM orders GROUP BY 1)
        |ORDER BY day""".stripMargin,
    "win_ntile_cume" ->
      """SELECT c_custkey, c_acctbal,
        |  ntile(10) OVER w AS decile,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM customer WINDOW w AS (ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "win_range_frame" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  count(*) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
        |    RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING) AS near_cnt
        |FROM customer ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "win_first_last_nth" ->
      """SELECT DISTINCT o_custkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey""".stripMargin,
    "win_ignore_nulls" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS e_us,
        |    CASE WHEN event_type <> 'purchase' THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT user_id, event_id,
        |  round(lag(v IGNORE NULLS) OVER w, 4) AS prev_known,
        |  round(lead(v IGNORE NULLS) OVER w, 4) AS next_known,
        |  round(first_value(v IGNORE NULLS) OVER w, 4) AS first_known,
        |  round(nth_value(v, 2 IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY e_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 4)
        |    AS second_known
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY e_us, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
  )
}
