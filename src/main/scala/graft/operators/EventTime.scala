package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-time operators, batch-executed (SURVEY.md §2.9).
  *
  * Spark's `window()` / `session_window()` grouping works identically in
  * batch and streaming — these oracle-checked rows run in batch through
  * Verify; the streaming semantics (watermarks, late data, state) are covered
  * by the MemoryStream specs in graft.streaming.
  *
  * Session-gap semantics pinned on both engines: an event exactly `gap` after
  * its predecessor starts a NEW session (Spark's per-event window [t, t+gap)
  * is end-exclusive), hence the oracle's `>= INTERVAL 30 MINUTE` island test.
  *
  * Scale: tumbling/sliding windows are plain hash aggregations on
  * (window, keys) — partial agg + one shuffle. Session windows shuffle by
  * user then sort-merge per key, which distributes by user cardinality.
  */
object EventTime {

  /** 1-hour tumbling windows × event_type. */
  def evtTumbling(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts_ntz"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").cast("timestamp_ntz").as("ws"), col("event_type"),
        col("cnt"), col("sum_value"))
      .orderBy("ws", "event_type")

  /** 1-hour windows sliding every 15 minutes (slide ∣ window ⇒ each event in
    * exactly 4 windows). */
  def evtSliding(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts_ntz"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").cast("timestamp_ntz").as("ws"), col("cnt"))
      .orderBy("ws")

  /** Per-user session windows with a 30-minute gap. */
  def evtSession(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts_ntz"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"),
        col("w.start").cast("timestamp_ntz").as("session_start"),
        col("w.end").cast("timestamp_ntz").as("session_end"),
        col("cnt"))
      .orderBy("user_id", "session_start")

  /** Dedup on (user_id, event_type, minute bucket); output is the key set
    * itself so survivor choice can't introduce nondeterminism. */
  def evtDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("minute_bucket", date_trunc("minute", col("ts_ntz")).cast("timestamp_ntz"))
      .select("user_id", "event_type", "minute_bucket")
      .dropDuplicates("user_id", "event_type", "minute_bucket")
      .orderBy("user_id", "event_type", "minute_bucket")

  /** Ordered conversion funnel per user: first view, then the first click
    * strictly after it, then the first purchase strictly after that click.
    * Three conditional min-aggregations chained through equi-joins on
    * user_id — each stage is a partial-agg + one shuffle on the same key,
    * so the whole funnel co-partitions by user at any scale. NULL stages
    * mean the user never converted past the previous one. */
  def evtFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("user_id", "event_type", "ts_ntz")
    val tView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_ntz").as("t_view"))
    val tClick = ev.filter(col("event_type") === "click")
      .join(tView, "user_id").filter(col("ts_ntz") > col("t_view"))
      .groupBy("user_id").agg(min("ts_ntz").as("t_click"))
    val tPurchase = ev.filter(col("event_type") === "purchase")
      .join(tClick, "user_id").filter(col("ts_ntz") > col("t_click"))
      .groupBy("user_id").agg(min("ts_ntz").as("t_purchase"))
    tView.join(tClick, Seq("user_id"), "left")
      .join(tPurchase, Seq("user_id"), "left")
      .select("user_id", "t_view", "t_click", "t_purchase")
      .orderBy("user_id")
  }

  /** Cohort retention matrix: users grouped by their first active day
    * (cohort), counted per day-offset they return on. Classic growth/
    * retention analysis. Two aggregations and a join, all keyed on user_id
    * or (cohort, offset) — partial-agg + shuffle each, and the activity
    * relation is pre-deduplicated to (user, day) so the join fan-out is
    * bounded by active days per user, not raw event volume. Counts are
    * integers — exact parity. */
  def evtRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val act = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts_ntz")).as("day")).distinct()
    val coh = act.groupBy("user_id").agg(min("day").as("cohort"))
    act.join(coh, "user_id")
      .groupBy(col("cohort"), datediff(col("day"), col("cohort")).cast("long").as("offset_days"))
      .agg(countDistinct("user_id").as("users"))
      .orderBy("cohort", "offset_days")
  }

  /** Daily-revenue z-score anomalies per event_type: days whose (2-decimal
    * pinned) daily total deviates > 2 sample standard deviations from the
    * type's own series. The window is per type over the ALREADY aggregated
    * daily series (tiny at any corpus size); the raw-event pass is one
    * partial-agg shuffle. z is a ratio of small-count double sums — rounded
    * at 4, and the >2 filter is applied to the ROUNDED value on both
    * engines so the boundary can't flip between them. */
  def evtAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts_ntz")).as("day"))
      .agg(round(sum("value"), 2).as("rev"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    Windows.rangeForWindow(daily, "event_type")
      .withColumn("z", round((col("rev") - avg("rev").over(w)) / stddev_samp("rev").over(w), 4))
      .filter(abs(col("z")) > 2)
      .orderBy("event_type", "day")
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * P(next | current) from lead() pairs under the total order
    * (epoch_us, event_id). Counts are integers, so the probabilities are
    * deterministic ratios. One window pass partitioned by user (linear,
    * shuffles on user_id) and two tiny aggregations over the k² transition
    * space. */
  def evtMarkov(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("epoch_us", "event_id")
    val trans = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type").as("cur"), col("epoch_us"), col("event_id"))
      .withColumn("nxt", lead("cur", 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy("cur", "nxt").agg(count(lit(1)).as("c"))
    val tot = trans.groupBy("cur").agg(sum("c").as("tc"))
    trans.join(broadcast(tot), "cur")
      .select(col("cur"), col("nxt"), col("c"),
        round(col("c").cast("double") / col("tc"), 4).as("p"))
      .orderBy("cur", "nxt")
  }

  /** Attribution lookback: a purchase is credited to the latest click no
    * more than 6 hours before it. */
  private val AttributionWindowUs = 6L * 3600L * 1000000L

  /** Last-touch attribution — the marketing-analytics staple: each purchase
    * is credited to the user's most recent click within the 6-hour lookback,
    * and credited value is reported per click hour-of-day (UTC; the
    * "channel" proxy this schema offers). NULL hour = unattributed (no prior
    * click, or the last click is stale).
    *
    * The as-of lookup is a running `max` of click times over a
    * (user, time)-ordered window — the latest click so far IS the max, so
    * no ignoreNulls/last() semantics are in play and ties on the same
    * microsecond break identically on both engines via event_id. One shuffle
    * on user_id, per-user state is one value: linear at any scale, the same
    * shape streaming attribution runs under mapGroupsWithState. Hour-of-day
    * is integer epoch math (`us DIV 3.6e9 % 24`), bit-identical on both
    * engines. */
  def evtAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_id", "user_id", "event_type", "value", "epoch_us")
    val w = Window.partitionBy("user_id").orderBy("epoch_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("click_us",
        max(when(col("event_type") === "click", col("epoch_us"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attr_hour",
        when(col("epoch_us") - col("click_us") <= AttributionWindowUs,
          expr("click_us DIV 3600000000") % 24))
      .groupBy("attr_hour")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("value"), 2).as("attributed_value"))
      .orderBy("attr_hour")
  }

  private val WeekUs = 7L * 86400L * 1000000L

  /** Cohort lifetime value — the growth-analytics matrix next to
    * evt_retention's user counts: users cohorted by signup week (epoch-week
    * integer), their post-signup purchase value aggregated per weeks-since-
    * signup, with the cumulative running LTV and per-cohort-user
    * normalization every dashboard plots. All bucketing is integer epoch
    * math (exact on both engines); the running sum accumulates 2-decimal
    * pinned values over a ≤5-row-per-cohort frame. Two fact passes (signup
    * argmin, purchase join on user), both shuffling on user_id; the cohort
    * size table is bounded by #weeks — broadcast. */
  def evtCohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("epoch_us").as("s_us"))
      .withColumn("cohort_week", expr(s"s_us DIV $WeekUs"))
    val cohortSize = signup.groupBy("cohort_week")
      .agg(countDistinct("user_id").as("cohort_users"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select("user_id", "epoch_us", "value")
    val weekly = purch.join(signup, "user_id")
      .filter(col("epoch_us") >= col("s_us"))
      .groupBy(col("cohort_week"),
        expr(s"(epoch_us - s_us) DIV $WeekUs").as("week_idx"))
      .agg(round(sum("value"), 2).as("rev"),
        countDistinct("user_id").as("buyers"))
    val w = Window.partitionBy("cohort_week").orderBy("week_idx")
    weekly
      .withColumn("cum_rev", round(sum("rev").over(w), 2))
      .join(broadcast(cohortSize), "cohort_week")
      .select(col("cohort_week"), col("week_idx"), col("rev"), col("buyers"),
        col("cum_rev"),
        round(col("cum_rev") / col("cohort_users"), 4).as("ltv_per_user"))
      .orderBy("cohort_week", "week_idx")
  }

  /** MATCH_RECOGNIZE-style sequence pattern counting — the SQL:2016 row
    * pattern surface Spark lacks, emulated with the per-user
    * ordered-sequence-string + regex idiom: each user's event stream
    * collapses to one character per event (V/C/P/O, ordered by
    * (epoch_us, event_id) — a unique total order, so the string is
    * deterministic on both engines) and two funnel patterns are counted
    * with non-overlapping left-to-right regex semantics: `VC*P` (a view,
    * any clicks, then a purchase — alternation-free, Java regex and RE2
    * trivially agree) and the ALTERNATION+quantifier form `V(C|O)*P` (any
    * mix of clicks and other events between view and purchase). The
    * alternation is safe across engines because the match span is forced:
    * the (C|O) run can contain no P, so a backtracking engine can never
    * shorten a greedy match into success where an automaton engine
    * wouldn't — GraftProps pins both counts to an explicit hand-rolled
    * scan over generated sequences, and the oracle hash-gates Spark vs
    * RE2 on the real data. One shuffle on user_id; per-user strings are
    * bounded by an ENFORCED cap (`SeqCap`): a rank filter INSIDE the
    * aggregate admits only each user's first 32k events into the
    * collect buffer (collect_list skips the nulls the `when` emits for
    * later rows), identically declared in the oracle SQL — so one hot
    * entity on a real stream degrades to a truncated match window, not
    * an unbounded aggregation buffer. The row_number pass that ranks
    * events shares the (user_id) shuffle with the groupBy and carries
    * O(1) running state. `n_events` still counts the full history. */
  private val SeqCap = 32768

  def evtPatternMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val wRank = Window.partitionBy("user_id").orderBy("epoch_us", "event_id")
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("epoch_us"), col("event_id"),
        when(col("event_type") === "view", "V")
          .when(col("event_type") === "click", "C")
          .when(col("event_type") === "purchase", "P")
          .otherwise("O").as("chr"))
      .withColumn("rn", row_number().over(wRank))
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        array_join(transform(
          array_sort(collect_list(when(col("rn") <= SeqCap,
            struct(col("epoch_us"), col("event_id"), col("chr"))))),
          x => x.getField("chr")), "").as("seq"))
      .select(col("user_id"), col("n_events"),
        regexp_count(col("seq"), lit("VC*P")).cast("long").as("n_patterns"),
        regexp_count(col("seq"), lit("V(C|O)*P")).cast("long").as("n_alt_patterns"))
      .orderBy("user_id")
  }

  /** Rolling active users (DAU / WAU) — the engagement-dashboard staple:
    * distinct users per day, and per 7-day trailing window ending each
    * day. Exact rolling DISTINCT cannot ride a running aggregate
    * (distinct doesn't decompose), so the distributed-exact form is the
    * EXPLODE-FANOUT: dedup to (day, user) once, fan each pair to the 7
    * window-end days it supports (a fixed ×7 row fanout of the ALREADY
    * DEDUPED day grain — bounded by days×users, not events), and
    * count-distinct per window-end day. At 100 TB the same shape swaps
    * the exact distinct for per-day HLL sketches unioned across the
    * window (agg_hll_merge is that primitive); here the exact form is the
    * oracle-checkable one. Window-end days past the last active day keep
    * their trailing count with dau = 0 (the dashboard's tail). */
  def evtRollingActives(spark: SparkSession, sfDir: String): DataFrame = {
    val du = Tables.events(spark, sfDir)
      .select(to_date(col("ts_ntz")).as("day"), col("user_id")).distinct()
    val dau = du.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val wau = du
      .select(explode(sequence(col("day"), date_add(col("day"), 6),
        expr("interval 1 day"))).as("wday"), col("user_id"))
      .groupBy("wday").agg(countDistinct("user_id").as("wau"))
    wau.join(dau, wau("wday") === dau("day"), "left")
      .select(col("wday").as("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"))
      .orderBy("day")
  }

  /** Longest consecutive-active-day streak per user, reported as a
    * histogram (streak length → user count) — the engagement metric
    * behind "7-day streak" product features, and the canonical
    * gaps-and-islands idiom: consecutive days share the island key
    * day − row_number (a date minus its per-user day rank is constant
    * exactly while days are consecutive), so streaks fall out of one
    * dedup + one window + two aggregates — no self-join, no recursion.
    * All-integer/date arithmetic end to end. Scale: the (user, day)
    * dedup is the only event-grain shuffle; everything after is
    * user×island-sized. */
  def evtStreaks(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts_ntz")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max("len").as("longest"))
      .groupBy("longest").agg(count(lit(1)).as("n_users"))
      .orderBy("longest")
  }

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * canonical marketing-warehouse scoring: per purchasing user, last
    * active day, purchase count, and spend, each cut into quintiles,
    * users counted per (R,F,M) cell. Scores are QUANTILE-CUT (1 + number
    * of quintile thresholds the metric exceeds), not ntile: equal metric
    * values get equal scores (ntile splits ties arbitrarily), and the
    * plan needs no global window — one user-grain aggregate, ONE 1-row
    * threshold aggregate read back as a scalar subquery, then row-local
    * scoring. R scores on the last-active day number directly (recent =
    * high = R5, so 555 = champions). Thresholds are exact interpolated
    * percentiles; both engines interpolate a + (b−a)·g, and metric
    * values are integers or 4-rounded, so threshold comparisons are
    * engine-identical. */
  def evtRfm(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        datediff(to_date(col("ts_ntz")), to_date(lit("2020-01-01"))).as("day_num"),
        col("value"))
      .groupBy("user_id")
      .agg(max("day_num").cast("double").as("r_raw"),
        count(lit(1)).cast("double").as("f_raw"),
        round(sum("value"), 4).as("m_raw"))
    val thr = per.agg(struct(
      expr("percentile(r_raw, array(0.2, 0.4, 0.6, 0.8))").as("rq"),
      expr("percentile(f_raw, array(0.2, 0.4, 0.6, 0.8))").as("fq"),
      expr("percentile(m_raw, array(0.2, 0.4, 0.6, 0.8))").as("mq"))).scalar()
    def tile(v: String, q: String) =
      (lit(1) + (col(v) > col(q)(0)).cast("int") + (col(v) > col(q)(1)).cast("int") +
        (col(v) > col(q)(2)).cast("int") + (col(v) > col(q)(3)).cast("int")).cast("long")
    per.withColumns(Seq("rq", "fq", "mq").map(q => q -> thr.getField(q)).toMap)
      .select(tile("r_raw", "rq").as("r_score"), tile("f_raw", "fq").as("f_score"),
        tile("m_raw", "mq").as("m_score"), col("m_raw"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"), round(avg("m_raw"), 4).as("avg_monetary"))
      .orderBy("r_score", "f_score", "m_score")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_rfm" -> evtRfm,
    "evt_streaks" -> evtStreaks,
    "evt_rolling_actives" -> evtRollingActives,
    "evt_pattern_match" -> evtPatternMatch,
    "evt_cohort_ltv" -> evtCohortLtv,
    "evt_attribution" -> evtAttribution,
    "evt_markov" -> evtMarkov,
    "evt_tumbling" -> evtTumbling,
    "evt_sliding" -> evtSliding,
    "evt_session" -> evtSession,
    "evt_dedup" -> evtDedup,
    "evt_funnel" -> evtFunnel,
    "evt_retention" -> evtRetention,
    "evt_anomaly" -> evtAnomaly,
  )

  val oracles: Map[String, String] = Map(
    "evt_rfm" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(max(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)))
        |      AS DOUBLE) AS r_raw,
        |    CAST(count(*) AS DOUBLE) AS f_raw,
        |    round(sum(value), 4) AS m_raw
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |thr AS (
        |  SELECT
        |    quantile_cont(r_raw, [0.2, 0.4, 0.6, 0.8]) AS rq,
        |    quantile_cont(f_raw, [0.2, 0.4, 0.6, 0.8]) AS fq,
        |    quantile_cont(m_raw, [0.2, 0.4, 0.6, 0.8]) AS mq
        |  FROM per),
        |scored AS (
        |  SELECT
        |    CAST(1 + CAST(r_raw > rq[1] AS INT) + CAST(r_raw > rq[2] AS INT)
        |      + CAST(r_raw > rq[3] AS INT) + CAST(r_raw > rq[4] AS INT)
        |      AS BIGINT) AS r_score,
        |    CAST(1 + CAST(f_raw > fq[1] AS INT) + CAST(f_raw > fq[2] AS INT)
        |      + CAST(f_raw > fq[3] AS INT) + CAST(f_raw > fq[4] AS INT)
        |      AS BIGINT) AS f_score,
        |    CAST(1 + CAST(m_raw > mq[1] AS INT) + CAST(m_raw > mq[2] AS INT)
        |      + CAST(m_raw > mq[3] AS INT) + CAST(m_raw > mq[4] AS INT)
        |      AS BIGINT) AS m_score,
        |    m_raw
        |  FROM per CROSS JOIN thr)
        |SELECT r_score, f_score, m_score,
        |  CAST(count(*) AS BIGINT) AS n_users, round(avg(m_raw), 4) AS avg_monetary
        |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "evt_streaks" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |isl AS (
        |  SELECT user_id,
        |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
        |          AS INTEGER) AS grp
        |  FROM d),
        |runs AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS len
        |  FROM isl GROUP BY user_id, grp),
        |longest AS (
        |  SELECT user_id, max(len) AS longest FROM runs GROUP BY user_id)
        |SELECT longest, CAST(count(*) AS BIGINT) AS n_users
        |FROM longest GROUP BY longest ORDER BY longest""".stripMargin,
    "evt_rolling_actives" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY day),
        |fan AS (
        |  SELECT CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
        |    INTERVAL 1 DAY)) AS DATE) AS wday, user_id
        |  FROM du),
        |wau AS (SELECT wday, count(DISTINCT user_id) AS wau FROM fan GROUP BY wday)
        |SELECT w.wday AS day, coalesce(d.dau, 0) AS dau, w.wau
        |FROM wau w LEFT JOIN dau d ON w.wday = d.day
        |ORDER BY day""".stripMargin,
    // SeqCap interpolates from the Scala constant so the two engines'
    // caps can never desynchronize (round-12 advisory).
    "evt_pattern_match" ->
      s"""WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS e_us, event_id,
        |    CASE event_type WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
        |         WHEN 'purchase' THEN 'P' ELSE 'O' END AS chr
        |  FROM events),
        |r AS (
        |  SELECT user_id, e_us, event_id, chr,
        |    row_number() OVER (PARTITION BY user_id ORDER BY e_us, event_id)
        |      AS rn
        |  FROM e),
        |s AS (
        |  SELECT user_id, count(*) AS n_events,
        |    array_to_string(
        |      list(chr ORDER BY e_us, event_id) FILTER (WHERE rn <= $SeqCap), '')
        |      AS seq
        |  FROM r GROUP BY user_id)
        |SELECT user_id, n_events,
        |  CAST(len(regexp_extract_all(seq, 'VC*P')) AS BIGINT) AS n_patterns,
        |  CAST(len(regexp_extract_all(seq, 'V(C|O)*P')) AS BIGINT) AS n_alt_patterns
        |FROM s ORDER BY user_id""".stripMargin,
    "evt_cohort_ltv" ->
      """WITH signup AS (
        |  SELECT user_id, min(epoch_us(ts)) AS s_us,
        |    min(epoch_us(ts)) // 604800000000 AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |csize AS (
        |  SELECT cohort_week, CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_users
        |  FROM signup GROUP BY cohort_week),
        |weekly AS (
        |  SELECT s.cohort_week,
        |    (epoch_us(p.ts) - s.s_us) // 604800000000 AS week_idx,
        |    round(sum(p.value), 2) AS rev,
        |    CAST(count(DISTINCT p.user_id) AS BIGINT) AS buyers
        |  FROM events p JOIN signup s ON p.user_id = s.user_id
        |  WHERE p.event_type = 'purchase' AND epoch_us(p.ts) >= s.s_us
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT *, round(sum(rev) OVER (PARTITION BY cohort_week
        |    ORDER BY week_idx), 2) AS cum_rev
        |  FROM weekly)
        |SELECT cohort_week, week_idx, rev, buyers, cum_rev,
        |  round(cum_rev / cohort_users, 4) AS ltv_per_user
        |FROM cum JOIN csize USING (cohort_week)
        |ORDER BY cohort_week, week_idx""".stripMargin,
    "evt_attribution" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS e_us
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |tagged AS (
        |  SELECT *, max(CASE WHEN event_type = 'click' THEN e_us END) OVER
        |    (PARTITION BY user_id ORDER BY e_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_us
        |  FROM ev)
        |SELECT CASE WHEN e_us - click_us <= 21600000000
        |            THEN (click_us // 3600000000) % 24 END AS attr_hour,
        |  count(*) AS n_purchases, round(sum(value), 2) AS attributed_value
        |FROM tagged WHERE event_type = 'purchase'
        |GROUP BY attr_hour ORDER BY attr_hour NULLS FIRST""".stripMargin,
    "evt_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS ws,
        |  event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,
    "evt_sliding" ->
      """SELECT ws, count(*) AS cnt FROM (
        |  SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
        |    - off * INTERVAL 1 MINUTE AS ws
        |  FROM events, (SELECT unnest([0, 15, 30, 45]) AS off) offsets
        |) GROUP BY ws ORDER BY ws""".stripMargin,
    "evt_session" ->
      """WITH t AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |m AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |  THEN 1 ELSE 0 END AS is_new FROM t),
        |s AS (SELECT user_id, ts, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS cnt
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "evt_dedup" ->
      """SELECT DISTINCT user_id, event_type,
        |  date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute_bucket
        |FROM events ORDER BY user_id, event_type, minute_bucket""".stripMargin,
    "evt_funnel" ->
      """WITH t AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |v AS (SELECT user_id, min(ts) AS t_view FROM t
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT t.user_id, min(t.ts) AS t_click FROM t JOIN v ON t.user_id = v.user_id
        |      WHERE t.event_type = 'click' AND t.ts > v.t_view GROUP BY t.user_id),
        |p AS (SELECT t.user_id, min(t.ts) AS t_purchase FROM t JOIN c ON t.user_id = c.user_id
        |      WHERE t.event_type = 'purchase' AND t.ts > c.t_click GROUP BY t.user_id)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,
    "evt_markov" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS nxt
        |  FROM events),
        |trans AS (SELECT cur, nxt, count(*) AS c FROM seq
        |          WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT cur, CAST(sum(c) AS BIGINT) AS tc FROM trans GROUP BY 1)
        |SELECT trans.cur, nxt, c, round(CAST(c AS DOUBLE) / tc, 4) AS p
        |FROM trans JOIN tot ON trans.cur = tot.cur
        |ORDER BY trans.cur, nxt""".stripMargin,
    "evt_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |coh AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY user_id)
        |SELECT cohort, CAST(date_diff('day', cohort, day) AS BIGINT) AS offset_days,
        |  count(DISTINCT act.user_id) AS users
        |FROM act JOIN coh ON act.user_id = coh.user_id
        |GROUP BY cohort, offset_days ORDER BY cohort, offset_days""".stripMargin,
    "evt_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, rev,
        |  round((rev - avg(rev) OVER (PARTITION BY event_type))
        |    / stddev_samp(rev) OVER (PARTITION BY event_type), 4) AS z
        |FROM daily QUALIFY abs(z) > 2 ORDER BY event_type, day""".stripMargin,
  )
}
