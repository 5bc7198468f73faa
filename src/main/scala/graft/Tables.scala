package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central table access for the engine.
  *
  * All queries read parquet through here so environment quirks are handled in
  * exactly one place. The driver harness constructs the SparkSession itself
  * (Verify.scala / Bench.scala) without any engine-specific confs, so any
  * runtime SQL conf the engine needs MUST be set here, lazily, per call.
  *
  * Scale note: each accessor returns a plain parquet-backed DataFrame leaf, so
  * Catalyst predicate pushdown / column pruning apply to whatever the caller
  * composes on top — no data is cached or collected here. Only each table's
  * schema is remembered (`schemas`), so that building a DataFrame starts no
  * Spark job after the first read.
  */
object Tables {

  /** A table's schema and the status of the file it was inferred from. */
  private final case class Footer(modified: Long, length: Long, schema: StructType)

  /** Process-wide schema memo, keyed by the qualified table path plus the
    * session's explicitly set `spark.sql.parquet.*` and
    * `spark.sql.legacy.parquet.*` confs, which change what inference yields
    * (`inferTimestampNTZ.enabled`, `nanosAsLong`, …). An entry whose
    * modification time or length no longer matches the path's status is
    * replaced, so the map holds one entry per table path and conf set. For a
    * single-file table that status is the file's own. For a directory table
    * (Spark-written part files) it is only the directory's: its length is 0
    * and its mtime moves only when entries are added or removed, so a part
    * file rewritten in place is not detected. The memo relies on such
    * directories being replaced whole, as `mode("overwrite")` does. */
  private val schemas = new ConcurrentHashMap[(String, Map[String, String]), Footer]()

  /** Generic table reader: `$sfDir/$name.parquet`. The first read of a
    * path under a conf set lets Spark infer the schema from the parquet
    * footer (one Spark job); later reads hand Spark that schema
    * (`spark.read.schema`), which file sources make nullable exactly as
    * inference does, so the plan is the same and no job runs. The path's
    * status comes from a driver-side `getFileStatus` (see `schemas` for what
    * it detects on a directory table). The inference runs
    * outside the map's lock (get, infer, put): two first reads may both
    * infer, and the later `put` wins with an equal schema. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val key = (st.getPath.toString, spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    })
    val known = schemas.get(key)
    if (known != null && known.modified == st.getModificationTime && known.length == st.getLen)
      spark.read.schema(known.schema).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemas.put(key, Footer(st.getModificationTime, st.getLen, df.schema))
      df
    }
  }

  def region(spark: SparkSession, sfDir: String): DataFrame   = t(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = t(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = t(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = t(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = t(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "embeddings")

  /** events.parquet has shipped with two `ts` layouts across testdata
    * generations, so this accessor detects the on-disk type and normalizes both
    * to the same two derived columns every event-time query reads:
    *   - `epoch_us`: Long microseconds since epoch — bit-exact with DuckDB's
    *     `epoch_us(ts)` on the same file (nanos truncate via integer DIV, micros
    *     pass through), so oracle comparisons on this column are exact;
    *   - `ts_ntz`: timestamp_ntz at micro precision.
    *
    * Layouts:
    *   - INT64 TIMESTAMP(NANOS,false): Spark's vectorized reader rejects it
    *     unless `spark.sql.legacy.parquet.nanosAsLong=true` (SURVEY.md §1.3
    *     ⚠L1); with the conf on, `ts` arrives as Long nanoseconds.
    *   - TIMESTAMP(MICROS,false) (current testdata): reads natively as
    *     `timestamp_ntz`; `epoch_us` is derived with `timestampdiff` against the
    *     NTZ epoch literal — both operands tz-free, so no session-tz dependence.
    *   - TIMESTAMP(MICROS,false) read as `timestamp` (LTZ): the same file when a
    *     session has `spark.sql.parquet.inferTimestampNTZ.enabled=false` — the
    *     raw INT64 micros pass through unchanged, only the Catalyst type
    *     differs, so `unix_micros` recovers the identical `epoch_us` and
    *     `ts_ntz` is rebuilt from it with `timestampadd` against the NTZ epoch
    *     literal. Both derivations are pure integer arithmetic on the stored
    *     micros — no session-timezone rendering is involved in any branch.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw
          .withColumn("epoch_us", expr("ts DIV 1000"))
          .withColumn("ts_ntz", timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw
          .withColumn("epoch_us",
            expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))
          .withColumn("ts_ntz", col("ts"))
      case org.apache.spark.sql.types.TimestampType =>
        raw
          .withColumn("epoch_us", unix_micros(col("ts")))
          .withColumn("ts_ntz",
            expr("timestampadd(MICROSECOND, unix_micros(ts), TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported parquet type $other — expected INT64 nanos (Long) or TIMESTAMP(MICROS) as ntz/ltz")
    }
  }
}
