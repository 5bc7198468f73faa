package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Composite finance-analytics queries — multi-operator compositions in the
  * TPC-H idiom (filter → join → aggregate → rank), exercising how the
  * relational core composes rather than new primitives.
  *
  * Scale notes: each is selective-filter-first (pushdown shrinks the fact
  * scan), single-shuffle aggregation — the canonical shape that survives a
  * 1000-executor scale-up. Only schema-fixed nation (25 rows) carries a
  * hard broadcast hint; customer/supplier scale linearly with SF, so their
  * joins are left to the size-stats/AQE broadcast decision (still
  * broadcast at test SFs, never an OOM'ing forced broadcast at sf100).
  */
object Composite {

  /** Q3-style shipping priority: top 10 unshipped-revenue orders for one
    * market segment. */
  def q3ShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = to_timestamp_ntz(lit("1996-06-30"))
    val c = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, sfDir).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(spark, sfDir).filter(col("l_shipdate") > cutoff)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  /** Q5-style local-supplier volume: revenue per nation where customer and
    * supplier share the nation, one year. */
  def q5LocalSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === 1996)
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, l("l_suppkey") === s("s_suppkey") &&
        c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  /** Top revenue customer per nation (join + agg + window composition). */
  def topCustomerPerNation(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val perCust = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name", "c_custkey")
      .agg(round(sum("o_totalprice"), 2).as("revenue"))
    val w = Window.partitionBy("n_name").orderBy(desc("revenue"), asc("c_custkey"))
    Windows.rangeForWindow(perCust, "n_name").withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("n_name", "c_custkey", "revenue")
      .orderBy("n_name")
  }

  /** Year-over-year revenue growth per market segment (agg + self-window). */
  def yoySegmentGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val yearly = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), year(col("o_orderdate")).cast("long").as("y"))
      .agg(sum("o_totalprice").as("rev"))
    val w = Window.partitionBy("segment").orderBy("y")
    Windows.rangeForWindow(yearly, "segment").select(col("segment"), col("y"),
        round(col("rev"), 2).as("revenue"),
        round((col("rev") - lag("rev", 1).over(w)) / lag("rev", 1).over(w), 6).as("yoy"))
      .orderBy("segment", "y")
  }

  /** Correlated scalar subquery — exercises Catalyst's decorrelation
    * (RewriteCorrelatedScalarSubquery): customers above their nation's
    * average balance. */
  def sqlCorrelatedSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("corr_customer")
    spark.sql(
      """SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        |FROM corr_customer c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM corr_customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Recursive CTE (Spark 4 `WITH RECURSIVE`, UnionLoop execution) — an
    * iterative hierarchy walk INSIDE one SQL statement, where the engine
    * loops until fixpoint instead of the caller scheduling rounds (the
    * DataFrame-side analogue is LlmText.connectedComponents' driver loop).
    * The hierarchy is the customer key-decade forest: keys < 10 are roots,
    * and each key's parent is `key div 10` — dense custkeys make every
    * parent present, and depth is ⌈log₁₀ N⌉, so the recursion runs ~7
    * rounds on a BILLION-row dimension: depth, not data size, bounds the
    * iteration count, and each round is one equi-join of the next decade
    * ring against the previous level. Deliberately SQL (like
    * sql_correlated_subquery) — the recursion surface IS the feature. */
  def sqlRecursiveCte(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("rec_customer")
    spark.sql(
      """WITH RECURSIVE lvl(k, l, bal) AS (
        |  SELECT c_custkey, 0, c_acctbal FROM rec_customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, lvl.l + 1, c.c_acctbal
        |  FROM rec_customer c JOIN lvl ON c.c_custkey div 10 = lvl.k
        |  WHERE c.c_custkey >= 10
        |)
        |SELECT CAST(l AS BIGINT) AS level, count(*) AS n_customers,
        |  round(sum(bal), 2) AS sum_bal
        |FROM lvl GROUP BY l ORDER BY level""".stripMargin)
  }

  /** LATERAL correlated subquery with ORDER BY + LIMIT — top-2 line items
    * per supplier as a per-row dependent subquery. Catalyst decorrelates
    * the lateral into a joined window-rank rather than executing the inner
    * query per outer row, so the plan is one co-partitioned join + rank —
    * the same shape a hand-written top-k-per-group takes — while the SQL
    * stays the natural "for each supplier, its best rows" form. Ties are
    * broken by (orderkey, linenumber) so both engines return identical
    * rows. Deliberately SQL, like sql_correlated_subquery. */
  def sqlLateralJoin(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.supplier(spark, sfDir).createOrReplaceTempView("lat_supplier")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lat_lineitem")
    spark.sql(
      """SELECT s.s_suppkey, round(t.price, 2) AS price, t.okey, t.ln
        |FROM lat_supplier s,
        |LATERAL (SELECT l_extendedprice AS price, l_orderkey AS okey,
        |                l_linenumber AS ln
        |         FROM lat_lineitem
        |         WHERE l_suppkey = s.s_suppkey
        |         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |         LIMIT 2) t
        |ORDER BY s_suppkey, price DESC, okey, ln""".stripMargin)
  }

  /** Generator family beyond explode: posexplode_outer over a possibly-empty
    * array and inline over an array of structs. */
  def generatorFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.part(spark, sfDir)
      .select(col("p_partkey"),
        // empty array for every 10th part — posexplode_outer keeps the row
        when(col("p_partkey") % 10 === 0, array().cast("array<string>"))
          .otherwise(split(col("p_type"), " ")).as("words"))
    base.select(col("p_partkey"), posexplode_outer(col("words")))
      .toDF("p_partkey", "pos", "word")
      .orderBy(asc("p_partkey"), asc_nulls_first("pos"))
  }

  /** Q10-style returned-item ranking: customers who returned the most
    * revenue in one quarter. The returnflag filter reaches the lineitem
    * scan and the quarter filter the orders scan (both pushed down); the
    * only fact-fact shuffle is lineitem⋈orders, dims broadcast. */
  def q10ReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = to_timestamp_ntz(lit("1996-01-01"))
    val hi = to_timestamp_ntz(lit("1996-04-01"))
    val l = Tables.lineitem(spark, sfDir).filter(col("l_returnflag") === "R")
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      // 4 decimals, not the usual 2: this sum lands on a .xx5 boundary at
      // sf0.01 where the engines' ~1e-9 partial-sum drift flips the last
      // rounded digit (SURVEY §1.3 — the wider quantum sidesteps it)
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
        round(first("c_acctbal"), 2).as("acctbal"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }

  /** Q18-style large-volume customers: orders whose total quantity exceeds
    * a threshold, with the buyer. The HAVING runs on the partial-agg'd
    * (orderkey) rollup BEFORE joining dimensions, so only qualifying
    * orders reach the join. */
  def q18LargeVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey")
      .agg(round(sum("l_quantity"), 2).as("total_qty"))
      .filter(col("total_qty") > 150.0)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    big.join(o, col("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), round(col("o_totalprice"), 2).as("totalprice"),
        col("total_qty"))
      .orderBy(desc("total_qty"), asc("o_orderkey"))
      .limit(100)
  }

  /** UNPIVOT (wide → long): the melt half of the reshaping pair whose
    * pivot half agg_pivot covers. A per-returnflag wide aggregate (three
    * measure columns) melts into (key, measure, value) rows via
    * `Dataset.unpivot` — Spark's native UNPIVOT, one local Expand over
    * the already-aggregated wide table (3 rows/input row, no shuffle
    * beyond the aggregate's own); DuckDB replays it with its UNPIVOT
    * clause. Measures are rounded BEFORE melting on both engines, and
    * (l_returnflag, measure) is the unique total order. */
  def sqlUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(sum("l_discount"), 2).as("sum_disc"))
    wide.unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "measure", "value")
      .orderBy("l_returnflag", "measure")
  }

  /** NOT IN three-valued logic — the classic SQL correctness trap, pinned
    * on BOTH engines: a NULL in the subquery's result makes `x NOT IN (…)`
    * UNKNOWN for every x, so the count collapses to 0, while the
    * NOT EXISTS form (and NOT IN over the NULL-filtered set) returns the
    * real anti-join count. One row, three counts: the broken formulation,
    * the correct one, and the filtered fix — a user migrating NOT IN
    * pipelines needs the engine to honor ANSI semantics, not "fix" them.
    * Runs through spark.sql (subquery-IN has no DataFrame form — see the
    * aggGroupingSets note's site enumeration); all three subqueries plan
    * as null-aware anti joins / anti joins over the same broadcastable
    * set. */
  def sqlNotInNull(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("nin_orders")
    Tables.customer(spark, sfDir).createOrReplaceTempView("nin_customer")
    spark.sql(
      """WITH s AS (
        |  SELECT CASE WHEN c_custkey % 100 = 7 THEN NULL ELSE c_custkey END AS k
        |  FROM nin_customer)
        |SELECT
        |  (SELECT count(*) FROM nin_orders
        |     WHERE o_custkey NOT IN (SELECT k FROM s)) AS n_not_in,
        |  (SELECT count(*) FROM nin_orders o WHERE NOT EXISTS
        |     (SELECT 1 FROM s WHERE s.k = o.o_custkey)) AS n_not_exists,
        |  (SELECT count(*) FROM nin_orders
        |     WHERE o_custkey NOT IN (SELECT k FROM s WHERE k IS NOT NULL))
        |    AS n_not_in_filtered""".stripMargin)
      .orderBy("n_not_in")
  }

  /** QUALIFY-clause semantics (filter on a window function without a
    * subquery — Snowflake/DuckDB/BigQuery SQL surface): top-3 orders per
    * priority by total price. Spark has no QUALIFY keyword; the
    * DataFrame form IS the desugaring every QUALIFY implementation
    * performs (window → filter on its result), so the engines must
    * agree row-for-row — the oracle runs DuckDB's native QUALIFY to pin
    * that. row_number over a TOTAL order (price desc, key) keeps the
    * boundary deterministic where rank/ties would not be. Catalyst
    * plans the filter above the window with the partition pruned to a
    * TopK-per-group via the rank-limit pushdown (WindowGroupLimit), so
    * the full sort never materializes per partition. */
  def sqlQualify(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority").as("priority"), col("rn"),
        col("o_orderkey").as("okey"), round(col("o_totalprice"), 2).as("total"))
      .orderBy("priority", "rn")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_qualify" -> sqlQualify,
    "sql_not_in_null" -> sqlNotInNull,
    "sql_unpivot" -> sqlUnpivot,
    "q10_returned_items" -> q10ReturnedItems,
    "q18_large_volume" -> q18LargeVolume,
    "sql_correlated_subquery" -> sqlCorrelatedSubquery,
    "sql_recursive_cte" -> sqlRecursiveCte,
    "sql_lateral_join" -> sqlLateralJoin,
    "generator_funcs" -> generatorFuncs,
    "q3_shipping_priority" -> q3ShippingPriority,
    "q5_local_supplier" -> q5LocalSupplier,
    "top_customer_per_nation" -> topCustomerPerNation,
    "yoy_segment_growth" -> yoySegmentGrowth,
  )

  val oracles: Map[String, String] = Map(
    "sql_qualify" ->
      """SELECT o_orderpriority AS priority,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
        |  o_orderkey AS okey, round(o_totalprice, 2) AS total
        |FROM orders
        |QUALIFY rn <= 3
        |ORDER BY priority, rn""".stripMargin,
    "sql_not_in_null" ->
      """WITH s AS (
        |  SELECT CASE WHEN c_custkey % 100 = 7 THEN NULL ELSE c_custkey END AS k
        |  FROM customer)
        |SELECT
        |  (SELECT count(*) FROM orders
        |     WHERE o_custkey NOT IN (SELECT k FROM s)) AS n_not_in,
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |     (SELECT 1 FROM s WHERE s.k = o.o_custkey)) AS n_not_exists,
        |  (SELECT count(*) FROM orders
        |     WHERE o_custkey NOT IN (SELECT k FROM s WHERE k IS NOT NULL))
        |    AS n_not_in_filtered""".stripMargin,
    "sql_unpivot" ->
      """WITH wide AS (
        |  SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |    round(sum(l_extendedprice), 2) AS sum_price,
        |    round(sum(l_discount), 2) AS sum_disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, measure, value
        |FROM wide UNPIVOT (value FOR measure IN (sum_qty, sum_price, sum_disc))
        |ORDER BY l_returnflag, measure""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  round(first(c_acctbal), 2) AS acctbal
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "q18_large_volume" ->
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING round(sum(l_quantity), 2) > 150.0)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |  round(o_totalprice, 2) AS totalprice, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    // DuckDB's integer division is //, Spark's is div — the one dialect
    // difference in this pair of recursion queries
    "sql_recursive_cte" ->
      """WITH RECURSIVE lvl(k, l, bal) AS (
        |  SELECT c_custkey, 0, c_acctbal FROM customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, lvl.l + 1, c.c_acctbal
        |  FROM customer c JOIN lvl ON c.c_custkey // 10 = lvl.k
        |  WHERE c.c_custkey >= 10
        |)
        |SELECT CAST(l AS BIGINT) AS level, count(*) AS n_customers,
        |  round(sum(bal), 2) AS sum_bal
        |FROM lvl GROUP BY l ORDER BY level""".stripMargin,
    "sql_lateral_join" ->
      """SELECT s.s_suppkey, round(t.price, 2) AS price, t.okey, t.ln
        |FROM supplier s,
        |LATERAL (SELECT l_extendedprice AS price, l_orderkey AS okey,
        |                l_linenumber AS ln
        |         FROM lineitem
        |         WHERE l_suppkey = s.s_suppkey
        |         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |         LIMIT 2) t
        |ORDER BY s_suppkey, price DESC, okey, ln""".stripMargin,
    "sql_correlated_subquery" ->
      """SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "generator_funcs" ->
      """SELECT p.p_partkey, CAST(u.pos - 1 AS INT) AS pos, u.word
        |FROM (SELECT p_partkey,
        |        CASE WHEN p_partkey % 10 = 0 THEN []
        |             ELSE string_split(p_type, ' ') END AS words
        |      FROM part) p
        |LEFT JOIN LATERAL (SELECT unnest(p.words) AS word,
        |                     generate_subscripts(p.words, 1) AS pos) u ON true
        |ORDER BY p.p_partkey ASC, pos ASC NULLS FIRST""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-06-30'
        |  AND l_shipdate > TIMESTAMP '1996-06-30'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE year(o_orderdate) = 1996
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin,
    "top_customer_per_nation" ->
      """SELECT n_name, c_custkey, revenue FROM (
        |  SELECT n_name, c_custkey, round(sum(o_totalprice), 2) AS revenue,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY round(sum(o_totalprice), 2) DESC, c_custkey ASC) AS rn
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name, c_custkey)
        |WHERE rn = 1 ORDER BY n_name""".stripMargin,
    "yoy_segment_growth" ->
      """SELECT segment, y, round(rev, 2) AS revenue,
        |  round((rev - lag(rev, 1) OVER w) / lag(rev, 1) OVER w, 6) AS yoy
        |FROM (
        |  SELECT c_mktsegment AS segment, year(o_orderdate) AS y,
        |    sum(o_totalprice) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2)
        |WINDOW w AS (PARTITION BY segment ORDER BY y)
        |ORDER BY segment, y""".stripMargin,
  )
}
