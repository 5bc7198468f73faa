package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Time-series utilities (finance staples): calendar gap-fill and
  * forward-fill.
  *
  * Scale notes: the calendar is generated from the data's own min/max (a
  * 2-row aggregate, then sequence+explode — thousands of rows, never
  * fact-sized); forward-fill is a running `last(ignoreNulls)` window
  * partitioned by key, so state is one value per partition.
  */
object TimeSeries {

  /** Global daily revenue — one row per order day with the day's total
    * price pinned at 2 dp (named `as`): the calendar-sized series every
    * single-window finance query here runs over. The daily partial-agg
    * shuffle is the only fact-sized pass. */
  private def dailyRevenue(spark: SparkSession, sfDir: String, as: String = "rev"): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(round(sum("o_totalprice"), 2).as(as))

  /** Per-segment daily revenue (orders ⋈ customer on the customer key,
    * grouped by `c_mktsegment` and order day), pinned at 2 dp. */
  private def segmentDailyRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), to_date(col("o_orderdate")).as("day"))
      .agg(round(sum("o_totalprice"), 2).as("rev"))

  /** The whole-market series `mrev`: the segments' daily revenue summed
    * back per day, pinned at 2 dp. */
  private def marketRevenue(segDaily: DataFrame): DataFrame =
    segDaily.groupBy("day").agg(round(sum("rev"), 2).as("mrev"))

  /** Per-type daily event value `v`, pinned at 4 dp. */
  private def typeDailyValue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts_ntz")).as("day"))
      .agg(round(sum("value"), 4).as("v"))

  /** Daily revenue with missing calendar days filled as 0.0. */
  def tsGapfill(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyRevenue(spark, sfDir)
    val cal = daily.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    cal.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("rev"), lit(0.0)).as("rev"))
      .orderBy("day")
  }

  /** Linear-interpolation resample: the daily per-type value series gets
    * deterministic gaps (every day-of-month divisible by 3 is dropped —
    * a rule both engines replay, not row positions), then each gap day is
    * rebuilt by interpolating between the bracketing known points:
    * v = prev + (next − prev) · Δdays/span. The bracketing lookups are
    * the two one-directional IGNORE NULLS navigation windows
    * (`ts_forward_fill`'s `last` plus its mirror `first` over the
    * following frame) — two pipelined window passes over the SAME
    * partition-by-type sort, so Catalyst plans one sort per direction and
    * O(1) running state per row. The calendar grid is generated from each
    * type's own min/max surviving day, so edge rows are always known
    * points and the interpolation is total. Scale: everything after the
    * first groupBy is calendar×type-bounded, never event-grain. */
  def tsInterpLinear(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = typeDailyValue(spark, sfDir)
      .filter(dayofmonth(col("day")) % 3 =!= 0)
    val cal = daily.groupBy("event_type").agg(min("day").as("lo"), max("day").as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    val wPrev = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val knownDay = when(col("v").isNotNull, col("day"))
    val pv = last(col("v"), ignoreNulls = true).over(wPrev)
    val pd = last(knownDay, ignoreNulls = true).over(wPrev)
    val nv = first(col("v"), ignoreNulls = true).over(wNext)
    val nd = first(knownDay, ignoreNulls = true).over(wNext)
    Windows.rangeForWindow(cal.join(daily, Seq("event_type", "day"), "left"), "event_type")
      .select(col("event_type"), col("day"),
        col("v").isNull.cast("long").as("is_gap"),
        round(coalesce(col("v"),
          pv + (nv - pv) * datediff(col("day"), pd) / datediff(nd, pd)), 4).as("v_interp"))
      .orderBy("event_type", "day")
  }

  /** Forward-fill: per customer, carry the last non-null total price forward
    * over the order sequence (nulls injected deterministically). */
  def tsForwardFill(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Windows.rangeForWindow(Tables.orders(spark, sfDir), "o_custkey")
      .withColumn("tp_gappy",
        when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("o_totalprice")))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        last(col("tp_gappy"), ignoreNulls = true).over(w).as("tp_filled"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  /** Hourly OHLC bars (the candlestick aggregation) over the event stream:
    * open/close are the values at the first/last event of the bar under the
    * total order (epoch_us, event_id) — computed as min/max of a
    * (time, id, value) struct, whose lexicographic ordering both engines
    * share, so the whole bar is ONE hash aggregate: partial min/max/sum per
    * partition, one shuffle on the bar key, no window pass over the raw
    * stream. open/high/low/close are selected (not summed) values — exact
    * parity without rounding; only the volume sum needs the 2-decimal
    * margin. */
  def tsOhlc(spark: SparkSession, sfDir: String): DataFrame =
    hourlyBars(spark, sfDir).orderBy("bar")

  /** The hourly OHLC bar kernel shared by ts_ohlc and ts_garman_klass
    * (round 18 factoring — same expressions, so the two consumers cannot
    * drift): open/close are the endpoint values under the total
    * (epoch_us, event_id) order via struct min/max, one hash aggregate. */
  private def hourlyBars(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = struct(col("epoch_us").as("e"), col("event_id").as("i"), col("value").as("v"))
    Tables.events(spark, sfDir)
      .withColumn("bar", date_trunc("hour", col("ts_ntz")).cast("timestamp_ntz"))
      .groupBy("bar")
      .agg(
        min(keyed).getField("v").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(keyed).getField("v").as("close"),
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("volume"))
  }

  /** 2·ln2 − 1, computed ONCE here and injected into BOTH engines as a
    * shortest-round-trip double literal (the ewmaWeights discipline), so
    * neither side depends on its own ln(2) agreeing in the last ulp. */
  private val GkConst: Double = 2.0 * math.log(2.0) - 1.0

  /** Garman–Klass realized-volatility estimator per day — the range-based
    * daily vol a desk computes from OHLC bars when tick-level returns are
    * too noisy (uses the full intra-bar range, ~7.4× more efficient than
    * close-to-close): per hourly bar, σ²_GK = ½·ln(H/L)² − (2ln2−1)·
    * ln(C/O)², averaged over the day's bars; bars with a non-positive low
    * are excluded (both engines declare the same filter — ln needs
    * positive prices). Rides the SAME hourly-bar kernel as ts_ohlc
    * (referenced, not copied); the per-bar log terms are pinned at 8 dp
    * before the daily mean so cross-engine last-ulp ln differences cannot
    * reach the rounded output. The daily aggregate runs over the
    * calendar-sized bar table — the win_ewma shape. */
  def tsGarmanKlass(spark: SparkSession, sfDir: String): DataFrame =
    hourlyBars(spark, sfDir)
      .filter(col("low") > 0.0)
      .withColumn("hl", round(log(col("high") / col("low")), 8))
      .withColumn("co", round(log(col("close") / col("open")), 8))
      .withColumn("gk",
        lit(0.5) * col("hl") * col("hl") - lit(GkConst) * col("co") * col("co"))
      .groupBy(to_date(col("bar")).as("day"))
      .agg(count(lit(1)).as("n_bars"),
        round(avg("gk"), 8).as("gk_var"),
        round(sqrt(greatest(avg("gk"), lit(0.0))), 6).as("gk_vol"))
      .orderBy("day")

  /** RSI-14 (SMA variant) over global daily revenue — the momentum
    * oscillator: daily deltas split into gains/losses, 14-day simple
    * averages (Wilder's recursive smoothing is deliberately NOT used —
    * its infinite recurrence has no windowed closed form and the SMA
    * variant is the standard engine-replayable form), RS = avgGain/avgLoss,
    * RSI = 100 − 100/(1+RS) with the all-gain period declared 100 (not an
    * engine-specific ÷0). Deltas are exact (rev pinned at 2 dp), the two
    * frame averages are pinned at 4 dp before the ratio; ≥14-obs guard so
    * every emitted value is a full window. Same calendar-sized
    * single-window shape as ts_bollinger. */
  def tsRsi(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyRevenue(spark, sfDir)
    val wlag = Window.orderBy("day")
    val w = Window.orderBy("day").rowsBetween(-13, Window.currentRow)
    daily
      .withColumn("delta", round(col("rev") - lag("rev", 1).over(wlag), 2))
      .filter(col("delta").isNotNull)
      .withColumn("gain", greatest(col("delta"), lit(0.0)))
      .withColumn("loss", greatest(-col("delta"), lit(0.0)))
      .withColumn("n_obs", count(lit(1)).over(w))
      .withColumn("avg_gain", round(avg("gain").over(w), 4))
      .withColumn("avg_loss", round(avg("loss").over(w), 4))
      .filter(col("n_obs") >= 14)
      .withColumn("rsi", when(col("avg_loss") === 0.0, lit(100.0))
        .otherwise(round(lit(100.0) - lit(100.0) /
          (lit(1.0) + col("avg_gain") / col("avg_loss")), 4)))
      .select("day", "delta", "avg_gain", "avg_loss", "rsi")
      .orderBy("day")
  }

  /** Bollinger bands + %B over global daily revenue — the mean-reversion
    * overlay (MA20 ± 2σ20): one ROWS-frame window pass over the
    * calendar-sized daily table (the win_ewma shape), ≥20-obs guard so
    * every emitted band is a full window; bands are computed from the
    * ROUNDED ma/σ (4 dp) and %B from the rounded bands (both engines
    * replay the same pinned intermediates), with the zero-width band
    * emitting NULL %B by declaration rather than an engine-specific
    * division artifact. */
  def tsBollinger(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyRevenue(spark, sfDir)
    val w = Window.orderBy("day").rowsBetween(-19, Window.currentRow)
    daily
      .withColumn("n_obs", count(lit(1)).over(w))
      .withColumn("ma20", round(avg("rev").over(w), 4))
      .withColumn("sd20", round(stddev_samp("rev").over(w), 4))
      .filter(col("n_obs") >= 20)
      .withColumn("upper", round(col("ma20") + lit(2.0) * col("sd20"), 4))
      .withColumn("lower", round(col("ma20") - lit(2.0) * col("sd20"), 4))
      .withColumn("pctb", when(col("upper") > col("lower"),
        round((col("rev") - col("lower")) / (col("upper") - col("lower")), 6)))
      .select("day", "rev", "ma20", "sd20", "upper", "lower", "pctb")
      .orderBy("day")
  }

  /** EWMA decay factor and window depth for win_ewma. Weights are computed
    * once here by repeated multiplication and injected into BOTH engines as
    * shortest-round-trip double literals (Double.toString), so neither side
    * depends on its own pow() implementation agreeing in the last ulp. */
  private val EwmaAlpha = 0.3
  private val EwmaDepth = 20
  private val ewmaWeights: Seq[Double] =
    Iterator.iterate(1.0)(_ * (1 - EwmaAlpha)).take(EwmaDepth).toVector

  /** Exponentially weighted moving average of daily revenue — the finance
    * smoothing staple. The infinite recurrence is truncated to the last
    * `EwmaDepth` observations and renormalized over the weights actually
    * present, which turns it into a fixed fan of `lag(rev, i)` terms over
    * ONE window pass — no recursion, no driver loop. The daily series is
    * already aggregated (≤ a few thousand rows at any corpus size), so the
    * single unpartitioned window is a non-issue at scale; the heavy lifting
    * (the daily aggregation) is a partial-agg shuffle on the date. */
  def winEwma(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyRevenue(spark, sfDir)
    val w = Window.orderBy("day")
    val terms = ewmaWeights.zipWithIndex
    val num = terms.map { case (wt, i) =>
      coalesce(lag(col("rev"), i).over(w), lit(0.0)) * lit(wt) }.reduce(_ + _)
    val den = terms.map { case (wt, i) =>
      when(lag(col("rev"), i).over(w).isNull, lit(0.0)).otherwise(lit(wt)) }.reduce(_ + _)
    daily
      .select(col("day"), col("rev"), round(num / den, 4).as("ewma"))
      .orderBy("day")
  }

  private def ewmaOracle: String = {
    val num = ewmaWeights.zipWithIndex.map { case (wt, i) =>
      s"coalesce(lag(rev, $i) OVER w, 0) * $wt" }.mkString(" + ")
    val den = ewmaWeights.zipWithIndex.map { case (wt, i) =>
      s"CASE WHEN lag(rev, $i) OVER w IS NULL THEN 0 ELSE $wt END" }.mkString(" + ")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    round(sum(o_totalprice), 2) AS rev
       |  FROM orders GROUP BY 1)
       |SELECT day, rev, round(($num) / ($den), 4) AS ewma
       |FROM daily WINDOW w AS (ORDER BY day) ORDER BY day""".stripMargin
  }

  /** Maximum drawdown per market segment — the classic downside-risk
    * metric: the worst relative decline of daily revenue from its running
    * peak, plus the trough day it happened. The daily series is pinned at
    * 2 decimals first (so the running max and the ratio see identical
    * inputs on both engines), the drawdown ratio is rounded at 4, and the
    * (drawdown, day) argmin is a lexicographic struct-min — one ordered
    * window over the aggregated daily series plus one hash aggregate,
    * exactly the win_running_sum scale shape. */
  def tsDrawdown(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = segmentDailyRevenue(spark, sfDir)
    val w = Window.partitionBy("seg").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keyed = struct(col("dd").as("d"), col("day"))
    daily
      .withColumn("dd", round(col("rev") / max("rev").over(w) - 1.0, 4))
      .groupBy("seg")
      .agg(min(keyed).getField("d").as("max_drawdown"),
        min(keyed).getField("day").as("trough_day"))
      .orderBy("seg")
  }

  /** Rolling 30-day correlation of each segment's daily revenue against the
    * whole market's (the CAPM-beta-style co-movement diagnostic). Both
    * series are pinned at 2 decimals before the window so the correlation
    * inputs are identical on both engines; rows with fewer than 5 days of
    * history are dropped on BOTH sides (a 1-point window is NULL in Spark
    * but NaN in DuckDB — the guard keeps the engines comparable and the
    * statistic meaningful). Daily aggregation is the only fact-sized pass;
    * the windows run over the tiny aggregated series. */
  def winBeta(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = segmentDailyRevenue(spark, sfDir)
    val mkt = marketRevenue(daily)
    val w = Window.partitionBy("seg").orderBy("day").rowsBetween(-29, Window.currentRow)
    Windows.rangeForWindow(daily.join(mkt, "day"), "seg")
      .withColumn("n_days", count(lit(1)).over(w))
      .withColumn("beta_corr", round(corr("rev", "mrev").over(w), 4))
      .filter(col("n_days") >= 5)
      .select("seg", "day", "rev", "mrev", "beta_corr")
      .orderBy("seg", "day")
  }

  /** Hourly VWAP bars — the volume-weighted average price every execution
    * desk computes: per bar, Σ(price × size) / Σ(size) with the trade size
    * taken from the JSON props (integer, so the denominator is exact; the
    * weighted numerator is a shuffle-order-dependent double sum, hence the
    * ratio's 4-decimal margin). A bar whose sizes sum to zero has no
    * defined VWAP — guarded to NULL on BOTH engines (under ANSI mode the
    * unguarded division THROWS, and such bars exist at sf0.001). Same
    * single-hash-aggregate scale shape as ts_ohlc: partial sums per
    * partition, one shuffle on the bar key. */
  def tsVwap(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("bar", date_trunc("hour", col("ts_ntz")).cast("timestamp_ntz"))
      .withColumn("sz", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("bar")
      .agg(
        when(sum("sz") > 0,
          round(sum(col("value") * col("sz")) / sum("sz"), 4)).as("vwap"),
        sum("sz").as("volume"),
        count(lit(1)).as("n_trades"))
      .orderBy("bar")

  /** Rolling 30-day volatility of daily segment returns — the realized-vol
    * staple next to win_beta's rolling correlation: daily revenue pinned at
    * 2 decimals, simple returns rounded at 6 BEFORE the window (so the
    * stddev sees identical inputs on both engines), then a 30-row
    * stddev_samp frame with the same ≥5-observation guard as win_beta
    * (tiny frames are statistically meaningless and NULL/NaN-divergent).
    * The only fact-sized pass is the daily aggregation; the windows run
    * over the aggregated series. */
  def tsRollingVol(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = segmentDailyRevenue(spark, sfDir)
    val wlag = Window.partitionBy("seg").orderBy("day")
    val w = Window.partitionBy("seg").orderBy("day").rowsBetween(-29, Window.currentRow)
    Windows.rangeForWindow(daily, "seg")
      .withColumn("ret", round(col("rev") / lag(col("rev"), 1).over(wlag) - 1.0, 6))
      .withColumn("n_obs", count(col("ret")).over(w))
      .withColumn("vol30", round(stddev_samp("ret").over(w), 4))
      .filter(col("n_obs") >= 5)
      .select("seg", "day", "ret", "vol30")
      .orderBy("seg", "day")
  }

  /** Lead-lag cross-correlation — does a segment's daily return LEAD or LAG
    * the market's? For each segment, the Pearson correlation of its return
    * series against the market return shifted by −2..+2 trading days (the
    * lag whose correlation peaks is the lead-lag estimate, the classic
    * price-discovery diagnostic). Inputs are pinned exactly like win_beta
    * (revenues rounded at 2, returns at 6 BEFORE the correlation, so both
    * engines correlate identical series); shifts are lag/lead over each
    * segment's observed trading days. Only the daily aggregation is
    * fact-sized; the five correlations are ONE grouped pass over the tiny
    * per-(seg, day) series — wide output, no second shuffle per lag. */
  def tsLeadLagCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = segmentDailyRevenue(spark, sfDir)
    val mkt = marketRevenue(daily)
    val w = Window.partitionBy("seg").orderBy("day")
    val rets = daily.join(mkt, "day")
      .withColumn("ret", round(col("rev") / lag("rev", 1).over(w) - 1.0, 6))
      .withColumn("mret", round(col("mrev") / lag("mrev", 1).over(w) - 1.0, 6))
    rets
      .withColumn("m_m2", lag("mret", 2).over(w))
      .withColumn("m_m1", lag("mret", 1).over(w))
      .withColumn("m_p1", lead("mret", 1).over(w))
      .withColumn("m_p2", lead("mret", 2).over(w))
      .groupBy("seg")
      .agg(
        corrOrNull("ret", "m_m2").as("corr_m2"),
        corrOrNull("ret", "m_m1").as("corr_m1"),
        corrOrNull("ret", "mret").as("corr_0"),
        corrOrNull("ret", "m_p1").as("corr_p1"),
        corrOrNull("ret", "m_p2").as("corr_p2"))
      .orderBy("seg")
  }

  /** Spark's `corr` yields NaN on a zero-variance or <2-point series where
    * DuckDB yields NULL — on a degenerate segment (e.g. ≤3 trading days at
    * a tiny SF) the hash gate would diverge. nanvl maps NaN → NULL so both
    * engines agree on every input. */
  private def corrOrNull(a: String, b: String): org.apache.spark.sql.Column =
    round(nanvl(corr(a, b), lit(null).cast("double")), 4)

  /** Order-to-ship latency SLA profile — the fulfilment-ops staple: per
    * order priority, the distribution (mean / exact p50 / p90 / max) of
    * days between order placement and line shipment. Day lag is integer
    * date arithmetic (exact on both engines); the percentiles are exact
    * (single-pass sort-based within each of the 5 groups). One fact⋈fact
    * equi join co-partitioned on orderkey, then a 5-group aggregate. */
  def tsShipLatency(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_shipdate")
    val o = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("lag_days",
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).cast("long"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        round(avg("lag_days"), 4).as("avg_days"),
        round(expr("percentile(lag_days, 0.5)"), 4).as("p50_days"),
        round(expr("percentile(lag_days, 0.9)"), 4).as("p90_days"),
        max("lag_days").as("max_days"))
      .orderBy("o_orderpriority")
  }

  /** Revenue concentration (Pareto/80-20) — per market segment, the share
    * of customers that carries 80% of revenue. Customers are ranked by
    * (2-decimal pinned) revenue under a total order (desc rev, asc key);
    * the cumulative share is rounded at 6 decimals BEFORE the ≥0.8 test so
    * the threshold can't flip between engines on a last-ulp sum
    * difference. The only fact-sized pass is the per-customer aggregate;
    * the ranking window runs over customers, already 100× smaller. */
  def winPareto(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("c_custkey"))
      .agg(round(sum("o_totalprice"), 2).as("rev"))
    val w = Window.partitionBy("seg").orderBy(desc("rev"), asc("c_custkey"))
    val tot = Window.partitionBy("seg")
    perCust
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum_share",
        round(sum("rev").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) /
          sum("rev").over(tot), 6))
      .withColumn("n_cust", count(lit(1)).over(tot))
      .filter(col("cum_share") >= 0.8)
      .groupBy("seg")
      .agg(
        min("rn").as("custs_for_80pct"),
        round(min("rn") / max("n_cust").cast("double"), 4).as("pct_custs_for_80pct"))
      .orderBy("seg")
  }

  /** Peak concurrent in-transit shipments per month — interval/sweep-line
    * analytics (the "how many things were active at once" question every
    * ops dashboard asks of interval data). Each line ships at l_shipdate
    * and stays in transit a deterministic 1–30 days ((7·orderkey +
    * linenumber) mod 30 + 1 — the reduced schema carries no receiptdate,
    * so the fixture derives one both engines replay). The sweep-line
    * explodes each interval into +1/−1 endpoint deltas, pre-aggregates
    * them BY DAY first — so the running-sum window runs on the
    * CALENDAR-sized daily-net table (~2.5k rows at any corpus size), not
    * on rows — then takes the running concurrency and maxes it per month.
    * Per-row work is one endpoint explode + one shuffle into the day
    * aggregate; the unpartitioned window is bounded by days-in-history,
    * the same bounded-global-window argument ts_gapfill's calendar uses. */
  def tsConcurrentIntervals(spark: SparkSession, sfDir: String): DataFrame = {
    val iv = Tables.lineitem(spark, sfDir)
      .select(to_date(col("l_shipdate")).as("s"),
        (pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(30)) + 1)
          .cast("int").as("dur"))
      .select(col("s"), date_add(col("s"), col("dur")).as("e"))
    val daily = iv.select(explode(array(
        struct(col("s").as("d"), lit(1L).as("delta")),
        struct(col("e").as("d"), lit(-1L).as("delta")))).as("x"))
      .select(col("x.d").as("d"), col("x.delta").as("delta"))
      .groupBy("d").agg(sum("delta").as("net"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.withColumn("active", sum("net").over(w))
      .groupBy(trunc(col("d"), "month").as("month"))
      .agg(max("active").as("max_active"))
      .orderBy("month")
  }

  /** STL-lite seasonal decomposition of daily revenue into trend +
    * weekly-seasonal + residual — the forecasting pre-step: trend is a
    * centered 7-day moving average (edge days use the partial frame, the
    * same convention both engines apply to bounded ROWS frames), the
    * seasonal component is the mean DETRENDED value of the day-of-week,
    * and the residual is what's left. Every intermediate is pinned
    * (rev at 2, detrended at 4) before feeding the next stage so the
    * cross-engine float story stays exact; weekday numbering differs
    * between engines (Spark 1-7 vs DuckDB 0-6) but only the PARTITION
    * SETS matter and those are identical. Scale: heavy lifting is the
    * daily partial-agg shuffle; both windows run over the calendar-sized
    * (~2.4k rows at any corpus size) aggregate — the win_ewma shape. */
  def tsSeasonalDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyRevenue(spark, sfDir)
    val w7 = Window.orderBy("day").rowsBetween(-3, 3)
    val wWd = Window.partitionBy(dayofweek(col("day")))
    daily
      .withColumn("trend", round(avg("rev").over(w7), 4))
      .withColumn("detr", round(col("rev") - col("trend"), 4))
      .withColumn("seasonal", round(avg("detr").over(wWd), 4))
      .select(col("day"), col("rev"), col("trend"), col("seasonal"),
        round(col("detr") - col("seasonal"), 4).as("residual"))
      .orderBy("day")
  }

  /** CUSUM change-point detection over per-type daily value — drift
    * detection in TIME, complementing dq_drift_psi's drift in
    * DISTRIBUTION: the two-sided tabular CUSUM with the standard
    * k = 0.5σ allowance and h = 4σ decision interval (μ, σ data-derived
    * per type, rounded before use so both engines iterate identical
    * constants). The textbook recurrence S⁺_t = max(0, S⁺_{t-1} + x_t −
    * μ − k) looks loop-only, but has a closed windowed form: with
    * P_t = Σ(x_i − μ − k) and P_0 = 0, S⁺_t = P_t − min_{0≤i≤t} P_i — a
    * running sum minus a running min FLOORED AT the implicit P_0 = 0
    * baseline (least(0, min over observed rows); without the floor, a
    * series drifting up from its first observation under-reports S⁺ by
    * its first prefix value — round-12 advisory) — two O(1)-state
    * frames, no recursion. Heavy
    * lifting is the daily partial-agg shuffle; both windows run on the
    * calendar-sized daily table (the win_ewma shape). */
  def tsCusum(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = typeDailyValue(spark, sfDir)
    val stats = daily.groupBy("event_type")
      .agg(round(avg("v"), 6).as("mu"), round(stddev_samp("v"), 6).as("sigma"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Windows.rangeForWindow(daily.join(broadcast(stats), Seq("event_type")), "event_type")
      .withColumn("p_up", sum(col("v") - col("mu") - lit(0.5) * col("sigma")).over(w))
      .withColumn("p_dn", sum(col("mu") - lit(0.5) * col("sigma") - col("v")).over(w))
      .withColumn("s_up", round(col("p_up") - least(lit(0.0), min("p_up").over(w)), 4))
      .withColumn("s_dn", round(col("p_dn") - least(lit(0.0), min("p_dn").over(w)), 4))
      .select(col("event_type"), col("day"), col("v"), col("s_up"), col("s_dn"),
        (col("s_up") > lit(4) * col("sigma") ||
          col("s_dn") > lit(4) * col("sigma")).as("alarm"))
      .orderBy("event_type", "day")
  }

  /** Autocorrelation function of daily revenue at lags 1–7 — the
    * seasonality/momentum diagnostic a forecaster runs before picking a
    * model (the weekly lag-7 spike is what ts_seasonal_decompose then
    * removes). One daily partial-agg shuffle, ONE window pass computing
    * all seven lag columns (they share the single calendar-sized sort),
    * then an explode melts (lag, x, y) pairs and a per-lag `corr`
    * partial-aggregate finishes — never seven scans. Pairs with no
    * lagged partner drop from corr on both engines by null semantics. */
  def tsAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyRevenue(spark, sfDir, "x")
    val w = Window.orderBy("day")
    val lagCols = (1 to 7).map(l => lag("x", l).over(w).as(s"y$l"))
    val pairs = (1 to 7).map(l =>
      struct(lit(l.toLong).as("lag_d"), col(s"y$l").as("y")))
    daily
      .select(col("x") +: lagCols: _*)
      .select(col("x"), explode(array(pairs: _*)).as("p"))
      .select(col("p.lag_d").as("lag_d"), col("x"), col("p.y").as("y"))
      .groupBy("lag_d")
      .agg(count(col("y")).as("n_pairs"), round(corr("x", "y"), 4).as("acf"))
      .orderBy("lag_d")
  }

  /** Theil–Sen robust trend of the LAST YEAR of daily revenue — the
    * outlier-immune slope a forecaster trusts over OLS when fat-tailed
    * days (promo spikes, outages) poison least squares: slope = MEDIAN
    * of all pairwise slopes, intercept = median residual at that slope.
    * The window is the 365 days ending at the dataset's max order date
    * (data-derived, engine-independent) — the estimator a trend monitor
    * actually runs, and the window is what bounds the days² pair
    * enumeration to a CONSTANT ~66k pairs: the full-history variant
    * measured 11 s FLAT at every scale (2.4k days → 2.9M pairs through
    * Spark's value-buffering exact percentile), all constant, none of it
    * scan — a bad fixed price for no extra information. Only the daily
    * pre-agg scan grows with data. Exact interpolated medians; slope at
    * 6, intercept at 4. */
  def tsTheilSen(spark: SparkSession, sfDir: String): DataFrame = {
    val dailyAll = dailyRevenue(spark, sfDir, "y")
    val dmax = dailyAll.agg(max("day")).scalar()
    val daily = dailyAll
      .filter(datediff(dmax, col("day")) < 365)
      .select(datediff(col("day"), to_date(lit("1995-01-01"))).cast("double").as("x"),
        col("y"))
    val a = daily.select(col("x").as("xa"), col("y").as("ya"))
    val b = daily.select(col("x").as("xb"), col("y").as("yb"))
    val slope = a.crossJoin(b).filter(col("xa") < col("xb"))
      .select(((col("yb") - col("ya")) / (col("xb") - col("xa"))).as("s"))
      .agg(expr("percentile(s, 0.5)"))
      .scalar()
    daily.select(col("x"), col("y"), slope.as("slope"))
      .agg(count(lit(1)).as("n_days"),
        round(first("slope"), 6).as("slope"),
        round(expr("percentile(y - slope * x, 0.5)"), 4).as("intercept"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_theil_sen" -> tsTheilSen,
    "ts_autocorr" -> tsAutocorr,
    "ts_cusum" -> tsCusum,
    "ts_seasonal_decompose" -> tsSeasonalDecompose,
    "ts_concurrent_intervals" -> tsConcurrentIntervals,
    "ts_ship_latency" -> tsShipLatency,
    "win_pareto" -> winPareto,
    "ts_lead_lag_corr" -> tsLeadLagCorr,
    "win_beta" -> winBeta,
    "ts_vwap" -> tsVwap,
    "ts_rolling_vol" -> tsRollingVol,
    "ts_gapfill" -> tsGapfill,
    "ts_interp_linear" -> tsInterpLinear,
    "ts_forward_fill" -> tsForwardFill,
    "ts_ohlc" -> tsOhlc,
    "ts_garman_klass" -> tsGarmanKlass,
    "ts_bollinger" -> tsBollinger,
    "ts_rsi" -> tsRsi,
    "ts_drawdown" -> tsDrawdown,
    "win_ewma" -> winEwma,
  )

  val oracles: Map[String, String] = Map(
    "ts_theil_sen" ->
      """WITH d0 AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    round(sum(o_totalprice), 2) AS y
        |  FROM orders GROUP BY 1),
        |b AS (SELECT max(day) AS dmax FROM d0),
        |daily AS (
        |  SELECT CAST(date_diff('day', DATE '1995-01-01', day) AS DOUBLE) AS x, y
        |  FROM d0 CROSS JOIN b
        |  WHERE date_diff('day', day, dmax) < 365),
        |sl AS (
        |  SELECT quantile_cont((b.y - a.y) / (b.x - a.x), 0.5) AS slope
        |  FROM daily a JOIN daily b ON a.x < b.x)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  round(max(slope), 6) AS slope,
        |  round(quantile_cont(y - slope * x, 0.5), 4) AS intercept
        |FROM daily CROSS JOIN sl""".stripMargin,
    "ts_autocorr" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    round(sum(o_totalprice), 2) AS x
        |  FROM orders GROUP BY 1),
        |l AS (
        |  SELECT x,
        |    lag(x, 1) OVER w AS y1, lag(x, 2) OVER w AS y2,
        |    lag(x, 3) OVER w AS y3, lag(x, 4) OVER w AS y4,
        |    lag(x, 5) OVER w AS y5, lag(x, 6) OVER w AS y6,
        |    lag(x, 7) OVER w AS y7
        |  FROM daily WINDOW w AS (ORDER BY day)),
        |u AS (
        |  SELECT 1 AS lag_d, x, y1 AS y FROM l
        |  UNION ALL SELECT 2, x, y2 FROM l
        |  UNION ALL SELECT 3, x, y3 FROM l
        |  UNION ALL SELECT 4, x, y4 FROM l
        |  UNION ALL SELECT 5, x, y5 FROM l
        |  UNION ALL SELECT 6, x, y6 FROM l
        |  UNION ALL SELECT 7, x, y7 FROM l)
        |SELECT CAST(lag_d AS BIGINT) AS lag_d,
        |  CAST(count(y) AS BIGINT) AS n_pairs,
        |  round(corr(x, y), 4) AS acf
        |FROM u GROUP BY lag_d ORDER BY lag_d""".stripMargin,
    "ts_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, round(sum(value), 4) AS v
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, round(avg(v), 6) AS mu,
        |    round(stddev_samp(v), 6) AS sigma
        |  FROM daily GROUP BY 1),
        |p AS (
        |  SELECT d.event_type, d.day, d.v, st.sigma,
        |    sum(d.v - st.mu - 0.5 * st.sigma) OVER w AS p_up,
        |    sum(st.mu - 0.5 * st.sigma - d.v) OVER w AS p_dn
        |  FROM daily d JOIN st USING (event_type)
        |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (
        |  SELECT event_type, day, v, sigma,
        |    round(p_up - least(0.0, min(p_up) OVER w2), 4) AS s_up,
        |    round(p_dn - least(0.0, min(p_dn) OVER w2), 4) AS s_dn
        |  FROM p
        |  WINDOW w2 AS (PARTITION BY event_type ORDER BY day
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, v, s_up, s_dn,
        |  (s_up > 4 * sigma OR s_dn > 4 * sigma) AS alarm
        |FROM s ORDER BY event_type, day""".stripMargin,
    "ts_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    round(sum(o_totalprice), 2) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT day, rev,
        |    round(avg(rev) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 4) AS trend
        |  FROM daily),
        |d AS (SELECT day, rev, trend, round(rev - trend, 4) AS detr FROM t),
        |s AS (
        |  SELECT day, rev, trend, detr,
        |    round(avg(detr) OVER (PARTITION BY dayofweek(day)), 4) AS seasonal
        |  FROM d)
        |SELECT day, rev, trend, seasonal,
        |  round(detr - seasonal, 4) AS residual
        |FROM s ORDER BY day""".stripMargin,
    "ts_interp_linear" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, round(sum(value), 4) AS v
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT * FROM d WHERE date_part('day', day) % 3 <> 0),
        |cal AS (
        |  SELECT event_type,
        |    CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
        |      INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT event_type, min(day) AS lo, max(day) AS hi
        |        FROM g GROUP BY event_type)),
        |j AS (
        |  SELECT cal.event_type, cal.day, g.v FROM cal
        |  LEFT JOIN g ON cal.event_type = g.event_type AND cal.day = g.day),
        |w AS (
        |  SELECT event_type, day, v,
        |    last_value(v IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wp AS pd,
        |    first_value(v IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wn AS nd
        |  FROM j
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, day, CAST(v IS NULL AS BIGINT) AS is_gap,
        |  round(coalesce(v, pv + (nv - pv) * (day - pd) / (nd - pd)), 4)
        |    AS v_interp
        |FROM w ORDER BY event_type, day""".stripMargin,
    "ts_concurrent_intervals" ->
      """WITH iv AS (
        |  SELECT CAST(l_shipdate AS DATE) AS s,
        |    CAST(l_shipdate AS DATE)
        |      + CAST((l_orderkey * 7 + l_linenumber) % 30 + 1 AS INT) AS e
        |  FROM lineitem),
        |daily AS (
        |  SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM (
        |    SELECT s AS d, 1 AS delta FROM iv
        |    UNION ALL SELECT e AS d, -1 AS delta FROM iv)
        |  GROUP BY d),
        |r AS (
        |  SELECT d, CAST(sum(net) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS active
        |  FROM daily)
        |SELECT date_trunc('month', d) AS month,
        |  CAST(max(active) AS BIGINT) AS max_active
        |FROM r GROUP BY 1 ORDER BY month""".stripMargin,
    "ts_ship_latency" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  round(avg(lag_days), 4) AS avg_days,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY lag_days), 4) AS p50_days,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY lag_days), 4) AS p90_days,
        |  CAST(max(lag_days) AS BIGINT) AS max_days
        |FROM (SELECT o_orderpriority,
        |        date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lag_days
        |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "win_pareto" ->
      """WITH per_cust AS (
        |  SELECT c_mktsegment AS seg, c_custkey, round(sum(o_totalprice), 2) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT seg,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    round(sum(rev) OVER (PARTITION BY seg ORDER BY rev DESC, c_custkey ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      / sum(rev) OVER (PARTITION BY seg), 6) AS cum_share,
        |    CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS n_cust
        |  FROM per_cust
        |  WINDOW w AS (PARTITION BY seg ORDER BY rev DESC, c_custkey ASC))
        |SELECT seg, min(rn) AS custs_for_80pct,
        |  round(min(rn) / CAST(max(n_cust) AS DOUBLE), 4) AS pct_custs_for_80pct
        |FROM ranked WHERE cum_share >= 0.8
        |GROUP BY seg ORDER BY seg""".stripMargin,
    "ts_lead_lag_corr" ->
      """WITH daily AS (
        |  SELECT c_mktsegment AS seg, CAST(o_orderdate AS DATE) AS day,
        |    round(sum(o_totalprice), 2) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |mkt AS (SELECT day, round(sum(rev), 2) AS mrev FROM daily GROUP BY day),
        |rets AS (
        |  SELECT seg, daily.day,
        |    round(rev / lag(rev, 1) OVER w - 1.0, 6) AS ret,
        |    round(mrev / lag(mrev, 1) OVER w - 1.0, 6) AS mret
        |  FROM daily JOIN mkt ON daily.day = mkt.day
        |  WINDOW w AS (PARTITION BY seg ORDER BY daily.day)),
        |lagged AS (
        |  SELECT seg, ret, mret,
        |    lag(mret, 2) OVER w AS m_m2, lag(mret, 1) OVER w AS m_m1,
        |    lead(mret, 1) OVER w AS m_p1, lead(mret, 2) OVER w AS m_p2
        |  FROM rets WINDOW w AS (PARTITION BY seg ORDER BY day))
        |SELECT seg,
        |  round(corr(ret, m_m2), 4) AS corr_m2,
        |  round(corr(ret, m_m1), 4) AS corr_m1,
        |  round(corr(ret, mret), 4) AS corr_0,
        |  round(corr(ret, m_p1), 4) AS corr_p1,
        |  round(corr(ret, m_p2), 4) AS corr_p2
        |FROM lagged GROUP BY seg ORDER BY seg""".stripMargin,
    "ts_vwap" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar,
        |  CASE WHEN sum(sz) > 0
        |       THEN round(sum(value * sz) / sum(sz), 4) END AS vwap,
        |  CAST(sum(sz) AS BIGINT) AS volume, count(*) AS n_trades
        |FROM (SELECT ts, value,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS sz
        |      FROM events)
        |GROUP BY bar ORDER BY bar""".stripMargin,
    "ts_rolling_vol" ->
      """WITH daily AS (
        |  SELECT c_mktsegment AS seg, CAST(o_orderdate AS DATE) AS day,
        |    round(sum(o_totalprice), 2) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |r AS (
        |  SELECT seg, day,
        |    round(rev / lag(rev, 1) OVER (PARTITION BY seg ORDER BY day) - 1.0, 6) AS ret
        |  FROM daily)
        |SELECT seg, day, ret, vol30 FROM (
        |  SELECT seg, day, ret,
        |    count(ret) OVER w AS n_obs,
        |    round(stddev_samp(ret) OVER w, 4) AS vol30
        |  FROM r WINDOW w AS (PARTITION BY seg ORDER BY day
        |    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
        |WHERE n_obs >= 5 ORDER BY seg, day""".stripMargin,
    "ts_gapfill" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    round(sum(o_totalprice), 2) AS rev
        |  FROM orders GROUP BY 1),
        |cal AS (
        |  SELECT CAST(unnest(generate_series(
        |    (SELECT min(day) FROM daily)::TIMESTAMP,
        |    (SELECT max(day) FROM daily)::TIMESTAMP,
        |    INTERVAL 1 DAY)) AS DATE) AS day)
        |SELECT cal.day, coalesce(daily.rev, 0.0) AS rev
        |FROM cal LEFT JOIN daily USING (day) ORDER BY day""".stripMargin,
    "ts_forward_fill" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  last_value(CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |                  ELSE o_totalprice END IGNORE NULLS)
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp_filled
        |FROM orders
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    // open/close via min/max of a (time, id, value) struct: both engines
    // order structs lexicographically, and (epoch_us, event_id) is a total
    // order, so the selected values are exact — no rounding needed.
    "ts_ohlc" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar,
        |  (min({'e': epoch_us(ts), 'i': event_id, 'v': value})).v AS open,
        |  max(value) AS high, min(value) AS low,
        |  (max({'e': epoch_us(ts), 'i': event_id, 'v': value})).v AS close,
        |  count(*) AS n, round(sum(value), 2) AS volume
        |FROM events GROUP BY bar ORDER BY bar""".stripMargin,
    // the bars CTE is ts_ohlc's oracle verbatim (the shared hourlyBars
    // kernel, referenced not copied); 2ln2-1 is the SAME double literal
    // the engine injects (GkConst round-trip)
    "ts_garman_klass" ->
      s"""WITH bars AS (
         |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar,
         |    (min({'e': epoch_us(ts), 'i': event_id, 'v': value})).v AS open,
         |    max(value) AS high, min(value) AS low,
         |    (max({'e': epoch_us(ts), 'i': event_id, 'v': value})).v AS close
         |  FROM events GROUP BY bar),
         |g AS (
         |  SELECT CAST(bar AS DATE) AS day,
         |    round(ln(high / low), 8) AS hl,
         |    round(ln(close / open), 8) AS co
         |  FROM bars WHERE low > 0)
         |SELECT day, CAST(count(*) AS BIGINT) AS n_bars,
         |  round(avg(0.5 * hl * hl - $GkConst * co * co), 8) AS gk_var,
         |  round(sqrt(GREATEST(avg(0.5 * hl * hl - $GkConst * co * co), 0.0)), 6) AS gk_vol
         |FROM g GROUP BY day ORDER BY day""".stripMargin,
    "ts_rsi" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    round(sum(o_totalprice), 2) AS rev
        |  FROM orders GROUP BY 1),
        |d AS (
        |  SELECT day, round(rev - lag(rev, 1) OVER (ORDER BY day), 2) AS delta
        |  FROM daily),
        |g AS (
        |  SELECT day, delta,
        |    greatest(delta, 0.0) AS gain, greatest(-delta, 0.0) AS loss
        |  FROM d WHERE delta IS NOT NULL),
        |a AS (
        |  SELECT day, delta,
        |    count(*) OVER win AS n_obs,
        |    round(avg(gain) OVER win, 4) AS avg_gain,
        |    round(avg(loss) OVER win, 4) AS avg_loss
        |  FROM g
        |  WINDOW win AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT day, delta, avg_gain, avg_loss,
        |  CASE WHEN avg_loss = 0.0 THEN 100.0
        |       ELSE round(100.0 - 100.0 / (1.0 + avg_gain / avg_loss), 4) END AS rsi
        |FROM a WHERE n_obs >= 14 ORDER BY day""".stripMargin,
    "ts_bollinger" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    round(sum(o_totalprice), 2) AS rev
        |  FROM orders GROUP BY 1),
        |w AS (
        |  SELECT day, rev,
        |    count(*) OVER win AS n_obs,
        |    round(avg(rev) OVER win, 4) AS ma20,
        |    round(stddev_samp(rev) OVER win, 4) AS sd20
        |  FROM daily
        |  WINDOW win AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |b AS (
        |  SELECT day, rev, ma20, sd20,
        |    round(ma20 + 2.0 * sd20, 4) AS upper,
        |    round(ma20 - 2.0 * sd20, 4) AS lower
        |  FROM w WHERE n_obs >= 20)
        |SELECT day, rev, ma20, sd20, upper, lower,
        |  CASE WHEN upper > lower
        |       THEN round((rev - lower) / (upper - lower), 6) END AS pctb
        |FROM b ORDER BY day""".stripMargin,
    "win_ewma" -> ewmaOracle,
    "win_beta" ->
      """WITH daily AS (
        |  SELECT c_mktsegment AS seg, CAST(o_orderdate AS DATE) AS day,
        |    round(sum(o_totalprice), 2) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |mkt AS (SELECT day, round(sum(rev), 2) AS mrev FROM daily GROUP BY day),
        |j AS (SELECT seg, daily.day, rev, mrev
        |      FROM daily JOIN mkt ON daily.day = mkt.day)
        |SELECT seg, day, rev, mrev, beta_corr FROM (
        |  SELECT seg, day, rev, mrev,
        |    count(*) OVER w AS n_days,
        |    round(corr(rev, mrev) OVER w, 4) AS beta_corr
        |  FROM j WINDOW w AS (PARTITION BY seg ORDER BY day
        |    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
        |WHERE n_days >= 5 ORDER BY seg, day""".stripMargin,
    "ts_drawdown" ->
      """WITH daily AS (
        |  SELECT c_mktsegment AS seg, CAST(o_orderdate AS DATE) AS day,
        |    round(sum(o_totalprice), 2) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |dd AS (
        |  SELECT seg, day,
        |    round(rev / max(rev) OVER (PARTITION BY seg ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1.0, 4) AS dd
        |  FROM daily)
        |SELECT seg, (min({'d': dd, 'day': day})).d AS max_drawdown,
        |  (min({'d': dd, 'day': day})).day AS trough_day
        |FROM dd GROUP BY seg ORDER BY seg""".stripMargin,
  )
}
