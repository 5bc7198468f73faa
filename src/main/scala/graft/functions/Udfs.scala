package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables

/** UDF / UDAF / UDTF surface (SURVEY.md §2.11).
  *
  * Preference order demonstrated here, fastest first: native Catalyst
  * Expression (L2Norm, codegen'd) > Scala UDF (UdfSpec keeps one as the
  * expression's reference twin) > driver-side anything. Typed Aggregators compile to
  * ObjectHashAggregate — partial-merge friendly, so they scale like built-in
  * aggregates. The UDTF analogue is Dataset.flatMap (a Catalyst Generator is
  * the expression-level equivalent of explode; flatMap is the idiomatic
  * Spark 4 user surface for custom row-generating logic).
  */
object Udfs {

  /** Top-10 embeddings by L2 norm via the native expression. */
  def udfL2norm(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), round(l2norm(col("embedding")), 6).as("l2"))
      .orderBy(desc("l2"), asc("vec_id"))
      .limit(10)
  }

  case class PriceDisc(price: Double, disc: Double)
  case class WSum(num: Double, den: Double)

  /** Typed Aggregator: discount-weighted average extended price. */
  object WeightedAvg extends Aggregator[PriceDisc, WSum, Double] {
    def zero: WSum = WSum(0.0, 0.0)
    def reduce(b: WSum, a: PriceDisc): WSum = WSum(b.num + a.price * a.disc, b.den + a.disc)
    def merge(x: WSum, y: WSum): WSum = WSum(x.num + y.num, x.den + y.den)
    def finish(b: WSum): Double = if (b.den == 0.0) Double.NaN else b.num / b.den
    def bufferEncoder = org.apache.spark.sql.Encoders.product[WSum]
    def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
  }

  case class LogSum(logSum: Double, n: Long)

  /** Typed Aggregator: geometric mean via (Σ ln x, n) buffer. */
  object GeoMean extends Aggregator[Double, LogSum, Double] {
    def zero: LogSum = LogSum(0.0, 0L)
    def reduce(b: LogSum, x: Double): LogSum = LogSum(b.logSum + math.log(x), b.n + 1)
    def merge(x: LogSum, y: LogSum): LogSum = LogSum(x.logSum + y.logSum, x.n + y.n)
    def finish(b: LogSum): Double = if (b.n == 0) Double.NaN else math.exp(b.logSum / b.n)
    def bufferEncoder = org.apache.spark.sql.Encoders.product[LogSum]
    def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
  }

  /** Discount-weighted avg price per returnflag (UDAF surface). Rounded at
    * 4 decimals (the repo's ratio-of-large-sums margin), not 6: the double
    * sums are shuffle-order dependent, and a tighter quantum can land on a
    * rounding boundary and flake the bit-exact gate at larger SFs. */
  def udafWeightedAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val wavg = udaf(WeightedAvg)
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(round(wavg(col("l_extendedprice"), col("l_discount")), 4).as("weighted_avg_price"))
      .orderBy("l_returnflag")
  }

  /** Geometric mean of quantity per linestatus (TypedImperativeAggregate-style
    * exercise as an Aggregator). 4-decimal rounding for the same
    * order-dependent-sum reason as udaf_weighted_avg. */
  def udafGeoMean(spark: SparkSession, sfDir: String): DataFrame = {
    val gm = udaf(GeoMean)
    Tables.lineitem(spark, sfDir)
      .groupBy("l_linestatus")
      .agg(round(gm(col("l_quantity")), 4).as("geo_mean_qty"))
      .orderBy("l_linestatus")
  }

  /** UDTF surface: 3-token shingles as generated rows via typed flatMap. */
  def udtfShingles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), lower(trim(col("text"))).as("norm"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        text.split(" ").sliding(3).zipWithIndex.collect {
          case (w, i) if w.length == 3 => (id, i + 1, w.mkString(" "))
        }
      }
      .toDF("doc_id", "pos", "shingle")
      .orderBy("doc_id", "pos")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "udf_l2norm" -> udfL2norm,
    "udaf_weighted_avg" -> udafWeightedAvg,
    "udaf_geo_mean" -> udafGeoMean,
    "udtf_shingles" -> udtfShingles,
  )

  val oracles: Map[String, String] = Map(
    // NOTE: embeddings are unit-normalized, so ordering must use the ROUNDED
    // norm on both sides (raw 1e-7 noise would tie-break differently).
    "udf_l2norm" ->
      """SELECT vec_id, round(sqrt(list_aggregate(list_transform(embedding,
        |  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6) AS l2
        |FROM embeddings
        |ORDER BY l2 DESC, vec_id ASC
        |LIMIT 10""".stripMargin,
    "udaf_weighted_avg" ->
      """SELECT l_returnflag,
        |  round(sum(l_extendedprice * l_discount) / sum(l_discount), 4) AS weighted_avg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "udaf_geo_mean" ->
      """SELECT l_linestatus, round(exp(avg(ln(l_quantity))), 4) AS geo_mean_qty
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "udtf_shingles" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token,
        |    generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, pos,
        |    token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w AS shingle
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
        |SELECT doc_id, CAST(pos AS INT) AS pos, shingle FROM sh WHERE shingle IS NOT NULL
        |ORDER BY doc_id, pos""".stripMargin,
  )
}
