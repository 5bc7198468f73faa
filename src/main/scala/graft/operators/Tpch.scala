package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** TPC-H-style composites (Q4/Q7/Q8/Q9/Q12/Q13/Q14/Q15/Q17/Q19/Q20/Q21/Q22
  * idioms), adapted to the synthetic schema: there is no partsupp table and
  * lineitem carries no commitdate/receiptdate/shipmode, so each query keeps
  * the classic's OPERATOR SHAPE (exists semi-join, nation-pair matrix,
  * conditional market share, disjunctive pushdown, unique-max anti pattern,
  * anti-join + scalar subquery) on the columns that do exist.
  *
  * Scale notes, common to all: selective filters sit directly on the parquet
  * scans (pushdown), and the only shuffles are lineitem⋈orders fact joins
  * and the final aggregations — the canonical plan that survives 1000
  * executors. Broadcast hints are hard-coded ONLY for nation (25 rows) and
  * region (5 rows), whose sizes are schema-fixed at every scale factor.
  * part / customer / supplier scale linearly with SF (~20M / 15M / 1M rows
  * at sf100), so their joins carry no hint: at test SFs
  * autoBroadcastJoinThreshold still picks a broadcast from the parquet size
  * stats, and at large SF AQE keeps the choice honest instead of an OOM'ing
  * forced broadcast. */
object Tpch {

  private def rev: org.apache.spark.sql.Column =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Q4 idiom — EXISTS semi-join: orders placed 1996H1 having at least one
    * line shipped more than 60 days after the order date, counted per
    * priority. The date filter prunes the orders scan; the semi-join keeps
    * the fact side lean (no duplicate-orderkey fanout to aggregate away). */
  def q4PriorityExists(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = to_timestamp_ntz(lit("1996-01-01"))
    val hi = to_timestamp_ntz(lit("1996-07-01"))
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    val l = Tables.lineitem(spark, sfDir)
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Q7 idiom — nation-pair volume shipping: revenue between two nations
    * (either direction) by ship year. Supplier and customer nations resolve
    * through broadcast dims; the pair filter runs before the final agg. */
  def q7VolumeShipping(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .filter(year(col("l_shipdate")).isin(1996, 1997))
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val n1 = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n1), s("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), c("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(rev), 2).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q8 idiom — market share: among PROMO-part revenue sold to customers of
    * one region, the fraction supplied from one nation, per order year.
    * The share is a conditional-sum ratio in a single aggregate (no second
    * pass over the joined fact). */
  def q8MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val p = Tables.part(spark, sfDir).filter(col("p_type") === "PROMO")
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")
    val sn = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").as("sn_nk"), col("n_name").as("supp_nation"))
    l.join(p, l("l_partkey") === p("p_partkey"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(sn), s("s_nationkey") === col("sn_nk"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_2", rev).otherwise(lit(0.0))) / sum(rev),
        6).as("mkt_share"))
      .orderBy("o_year")
  }

  /** Q9 idiom — product-type profit by supplier nation and year. With no
    * partsupp.ps_supplycost in this schema, unit cost is proxied as 10% of
    * p_retailprice; the shape (part-filtered fact, two broadcast dims, one
    * group-by) is the classic's. */
  def q9ProductProfit(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val p = Tables.part(spark, sfDir).filter(col("p_name").contains("red"))
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    l.join(p, l("l_partkey") === p("p_partkey"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(sum(rev - lit(0.1) * col("p_retailprice") * col("l_quantity")), 4)
        .as("profit"))
      .orderBy(asc("nation"), desc("o_year"))
  }

  /** Q12 idiom — late-shipment priority split: lines shipped more than 90
    * days after their order date, per linestatus, split into high-priority
    * (1-URGENT / 2-HIGH) vs low-priority order counts. */
  def q12LatePriority(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val hi = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy("l_linestatus")
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** Q14 idiom — promo revenue share per month of 1996: conditional-sum
    * ratio over the part-typed fact. Part (2k rows) broadcasts; the month
    * filter reaches the lineitem scan. */
  def q14PromoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = to_timestamp_ntz(lit("1996-01-01"))
    val hi = to_timestamp_ntz(lit("1997-01-01"))
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
    val p = Tables.part(spark, sfDir)
    l.join(p, l("l_partkey") === p("p_partkey"))
      .groupBy(month(col("l_shipdate")).cast("long").as("l_month"))
      .agg(round(
        lit(100.0) * sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) / sum(rev),
        4).as("promo_share"))
      .orderBy("l_month")
  }

  /** Q17 idiom — small-quantity revenue: average yearly revenue lost if
    * below-20%-of-average-quantity lines of one brand were not shipped.
    * The per-part average is a broadcast-able 2k-row aggregate joined back
    * to the brand-pruned fact (no correlated re-scan per row). */
  def q17SmallQuantity(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir).filter(col("p_brand") === "Brand#1")
    val l = Tables.lineitem(spark, sfDir)
    val branded = l.join(p, l("l_partkey") === p("p_partkey"))
    val avgQty = branded.groupBy(col("l_partkey").as("a_partkey"))
      .agg((lit(0.2) * avg("l_quantity")).as("qty_cut"))
    branded.join(avgQty, col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") < col("qty_cut"))
      .agg(round(sum("l_extendedprice") / lit(7.0), 2).as("avg_yearly"))
      .orderBy("avg_yearly")
  }

  /** Q19 idiom — disjunctive brand/size/quantity predicate: the OR-of-ANDs
    * runs after the broadcast part join; each conjunct's part half prunes
    * the broadcast side. */
  def q19Disjunctive(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    val pred =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
        col("l_quantity").between(5, 30)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
        col("l_quantity").between(10, 40))
    l.join(p, l("l_partkey") === p("p_partkey"))
      .filter(pred)
      .agg(round(sum(rev), 2).as("revenue"))
      .orderBy("revenue")
  }

  /** Q21 idiom — the sole-latest supplier on multi-supplier finished
    * orders: per order, the one supplier whose latest line matches the
    * order's overall latest ship date while every other supplier shipped
    * strictly earlier. Two-level aggregation (order×supplier, then order)
    * replaces the classic's EXISTS/NOT EXISTS pair without re-scanning the
    * fact. */
  def q21SoleLatestSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F")
    val l = Tables.lineitem(spark, sfDir)
      .join(o, col("l_orderkey") === col("o_orderkey"), "left_semi")
    val perSupp = l.groupBy("l_orderkey", "l_suppkey")
      .agg(max("l_shipdate").as("sup_max"))
    val maxCounts = perSupp
      .groupBy("l_orderkey")
      .agg(max("sup_max").as("omax"), count(lit(1)).as("nsupp"))
    val sole = perSupp
      .join(maxCounts.withColumnRenamed("l_orderkey", "m_orderkey"),
        col("l_orderkey") === col("m_orderkey"))
      .filter(col("nsupp") >= 2)
      .withColumn("at_max", when(col("sup_max") === col("omax"), 1L).otherwise(0L))
    val soleLatest = sole
      .withColumn("n_at_max", sum("at_max").over(
        org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")))
      .filter(col("at_max") === 1L && col("n_at_max") === 1L)
    val s = Tables.supplier(spark, sfDir)
    soleLatest.join(s, col("l_suppkey") === s("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), asc("s_name"))
      .limit(20)
  }

  /** Q22 idiom — idle high-balance customers: above the average positive
    * account balance (a scalar subquery over one 1-row aggregate) with no
    * order since 2000 (anti-join), counted per
    * nation. The threshold is rounded at 6 decimals on BOTH engines:
    * the raw avg is a shuffle-order-dependent double sum, and a balance
    * within a ULP of it could otherwise flip set membership. */
  def q22IdleCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg(round(avg("c_acctbal"), 6))
      .scalar()
    val cutoff = to_timestamp_ntz(lit("2000-01-01"))
    val recent = Tables.orders(spark, sfDir).filter(col("o_orderdate") >= cutoff)
    val n = Tables.nation(spark, sfDir)
    c.filter(col("c_acctbal") > avgBal)
      .join(recent, col("c_custkey") === recent("o_custkey"), "left_anti")
      .join(broadcast(n), col("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("numcust"), round(sum("c_acctbal"), 2).as("totacctbal"))
      .orderBy("n_name")
  }

  /** Q6 idiom — forecast revenue change: the canonical scan-only aggregate.
    * All three predicates (date range, discount band, quantity cap) push
    * into the parquet scan, so the whole query is a filtered columnar read
    * plus one partial+final aggregate — at any scale the plan is one pass
    * over the pruned row groups with no join and no wide shuffle. The
    * discount band compares against the stored double values directly
    * (both engines read the identical parquet doubles, so the boundary
    * rows agree bit-for-bit). */
  def q6ForecastRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = to_timestamp_ntz(lit("1996-01-01"))
    val hi = to_timestamp_ntz(lit("1997-01-01"))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
      .orderBy("revenue")
  }

  /** Q13 idiom — customer order-count distribution: the classic outer-join
    * histogram. Orders are pre-filtered (priority exclusion plays the role
    * of the comment NOT LIKE), every customer keeps a row through the left
    * join (zero-order customers count as c_count = 0), then a two-level
    * aggregation builds the distribution. Both aggregations are
    * partial-merge friendly; the second one groups a domain of at most
    * max-order-count values. */
  def q13OrderCountDist(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).filter(col("o_orderpriority") =!= "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(c("c_custkey"))
      .agg(count(o("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** Q15 idiom — top supplier by quarterly revenue: a supplier-keyed revenue
    * rollup, its max read back as an uncorrelated scalar subquery (not a
    * view + correlated subquery re-scan), equality filter,
    * supplier names joined last. Revenue is rounded at 2 decimals BEFORE
    * the max/equality on both engines so membership can't flip on
    * sum-order ULPs. */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = to_timestamp_ntz(lit("1996-01-01"))
    val hi = to_timestamp_ntz(lit("1996-04-01"))
    val suppRev = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(round(sum(rev), 2).as("total_revenue"))
    val mx = suppRev.agg(max("total_revenue")).scalar()
    val s = Tables.supplier(spark, sfDir)
    suppRev.filter(col("total_revenue") === mx)
      .join(s, col("supplier_no") === s("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Q20 idiom — quantity-threshold semi-join chain: suppliers of PROMO
    * parts who shipped more than half of a part's total 1996 volume
    * (dominant suppliers), restricted to one nation. With no
    * partsupp.ps_availqty in this schema the threshold compares the
    * (part, supplier) aggregate against the per-part total — same
    * two-level-aggregate + double-semi-join shape as the classic. All
    * quantities are whole numbers, so the 0.5 × total comparison is exact
    * on both engines. */
  def q20DominantSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = to_timestamp_ntz(lit("1996-01-01"))
    val hi = to_timestamp_ntz(lit("1997-01-01"))
    val p = Tables.part(spark, sfDir).filter(col("p_type") === "PROMO")
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
    val pairs = l.join(p, l("l_partkey") === p("p_partkey"), "left_semi")
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum("l_quantity").as("qty"))
    val tot = pairs.groupBy(col("l_partkey").as("t_partkey"))
      .agg(sum("qty").as("tot_qty"))
    val dominant = pairs.join(tot, col("l_partkey") === col("t_partkey"))
      .filter(col("qty") > lit(0.5) * col("tot_qty"))
      .select("l_suppkey")
    val n = Tables.nation(spark, sfDir).filter(col("n_name") === "NATION_1")
    Tables.supplier(spark, sfDir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_name")
      .orderBy("s_name")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q4_priority_exists" -> q4PriorityExists,
    "q7_volume_shipping" -> q7VolumeShipping,
    "q8_market_share" -> q8MarketShare,
    "q9_product_profit" -> q9ProductProfit,
    "q12_late_priority" -> q12LatePriority,
    "q14_promo_revenue" -> q14PromoRevenue,
    "q17_small_quantity" -> q17SmallQuantity,
    "q19_disjunctive" -> q19Disjunctive,
    "q21_sole_latest_supplier" -> q21SoleLatestSupplier,
    "q22_idle_customers" -> q22IdleCustomers,
    "q13_order_count_dist" -> q13OrderCountDist,
    "q15_top_supplier" -> q15TopSupplier,
    "q20_dominant_supplier" -> q20DominantSupplier,
    "q6_forecast_revenue" -> q6ForecastRevenue,
  )

  val oracles: Map[String, String] = Map(
    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |    l_extendedprice * (1.0 - l_discount) AS volume
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE year(l_shipdate) IN (1996, 1997)
        |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  round(sum(CASE WHEN sn.n_name = 'NATION_2'
        |                 THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
        |    / sum(l_extendedprice * (1.0 - l_discount)), 6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  round(sum(l_extendedprice * (1.0 - l_discount)
        |            - 0.1 * p_retailprice * l_quantity), 4) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC""".stripMargin,
    "q12_late_priority" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT CAST(month(l_shipdate) AS BIGINT) AS l_month,
        |  round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                         THEN l_extendedprice * (1.0 - l_discount)
        |                         ELSE 0.0 END)
        |    / sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q17_small_quantity" ->
      """WITH branded AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#1'),
        |cuts AS (
        |  SELECT l_partkey AS a_partkey, 0.2 * avg(l_quantity) AS qty_cut
        |  FROM branded GROUP BY 1)
        |SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM branded JOIN cuts ON l_partkey = a_partkey
        |WHERE l_quantity < qty_cut
        |ORDER BY avg_yearly""".stripMargin,
    "q19_disjunctive" ->
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 5 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 10 AND 40)
        |ORDER BY revenue""".stripMargin,
    "q21_sole_latest_supplier" ->
      """WITH f AS (
        |  SELECT l_orderkey, l_suppkey, l_shipdate
        |  FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')),
        |per_supp AS (
        |  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS sup_max
        |  FROM f GROUP BY 1, 2),
        |per_order AS (
        |  SELECT l_orderkey AS m_orderkey, max(sup_max) AS omax,
        |    count(*) AS nsupp
        |  FROM per_supp GROUP BY 1),
        |flagged AS (
        |  SELECT p.l_orderkey, p.l_suppkey,
        |    CASE WHEN p.sup_max = o.omax THEN 1 ELSE 0 END AS at_max
        |  FROM per_supp p JOIN per_order o ON p.l_orderkey = o.m_orderkey
        |  WHERE o.nsupp >= 2),
        |sole AS (
        |  SELECT l_orderkey, l_suppkey, at_max,
        |    sum(at_max) OVER (PARTITION BY l_orderkey) AS n_at_max
        |  FROM flagged)
        |SELECT s_name, count(*) AS numwait
        |FROM sole JOIN supplier ON l_suppkey = s_suppkey
        |WHERE at_max = 1 AND n_at_max = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC LIMIT 20""".stripMargin,
    "q22_idle_customers" ->
      """WITH avg_bal AS (
        |  SELECT round(avg(c_acctbal), 6) AS avg_bal FROM customer WHERE c_acctbal > 0.0)
        |SELECT n_name, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer
        |CROSS JOIN avg_bal
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q13_order_count_dist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q15_top_supplier" ->
      """WITH supp_rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |    round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1),
        |mx AS (SELECT max(total_revenue) AS max_rev FROM supp_rev)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supp_rev JOIN supplier ON supplier_no = s_suppkey CROSS JOIN mx
        |WHERE total_revenue = max_rev ORDER BY s_suppkey""".stripMargin,
    "q20_dominant_supplier" ->
      """WITH pairs AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        |  GROUP BY 1, 2),
        |tot AS (SELECT l_partkey AS t_partkey, sum(qty) AS tot_qty FROM pairs GROUP BY 1)
        |SELECT s_name FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_1'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM pairs JOIN tot ON l_partkey = t_partkey
        |    WHERE qty > 0.5 * tot_qty)
        |ORDER BY s_name""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24
        |ORDER BY revenue""".stripMargin,
  )
}
