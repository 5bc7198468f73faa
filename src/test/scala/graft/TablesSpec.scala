package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Pins the `Tables.events` layout normalization across session configs,
  * and the accessors' schema memo: no job on a second call, a fresh
  * inference after a conf flip or a rewrite of the file.
  *
  * The accessor must yield identical `epoch_us` / `ts_ntz` no matter how the
  * session reads the TIMESTAMP(MICROS,false) column: natively as
  * `timestamp_ntz` (default, `inferTimestampNTZ.enabled=true`) or as LTZ
  * `timestamp` when that inference is disabled — the round-9 ADVICE noted the
  * LTZ read used to throw even though the file is the supported layout. The
  * nanos branch (pre-round-9 testdata) has no sample file left to read, so it
  * is covered by the derivation being integer `DIV`, not by a file here.
  */
class TablesSpec extends SparkSpec {

  private val ntzConf = "spark.sql.parquet.inferTimestampNTZ.enabled"

  test("a second call of every accessor starts no Spark job") {
    val accessors = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "region" -> (() => Tables.region(spark, sf001)),
      "nation" -> (() => Tables.nation(spark, sf001)),
      "customer" -> (() => Tables.customer(spark, sf001)),
      "supplier" -> (() => Tables.supplier(spark, sf001)),
      "part" -> (() => Tables.part(spark, sf001)),
      "orders" -> (() => Tables.orders(spark, sf001)),
      "lineitem" -> (() => Tables.lineitem(spark, sf001)),
      "documents" -> (() => Tables.documents(spark, sf001)),
      "embeddings" -> (() => Tables.embeddings(spark, sf001)),
      "events" -> (() => Tables.events(spark, sf001)))
    accessors.foreach { case (name, read) =>
      val first = read().schema
      val jobs = jobsIn(s"second $name call")(assert(read().schema == first))
      assert(jobs == 0, s"second $name call ran $jobs jobs")
    }
  }

  test("Tables.t returns the new schema after its file is rewritten") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    try {
      Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/x.parquet")
      assert(Tables.t(spark, dir, "x").schema.fieldNames.toSeq == Seq("k", "v"))
      Seq((1.5, 2, true)).toDF("p", "q", "r").write.mode("overwrite").parquet(s"$dir/x.parquet")
      val rewritten = Tables.t(spark, dir, "x")
      assert(rewritten.schema.fieldNames.toSeq == Seq("p", "q", "r"))
      assert(rewritten.collect().toSeq == Seq(org.apache.spark.sql.Row(1.5, 2, true)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("events normalizes identically with timestamp-NTZ inference on and off") {
    val default = Tables.events(spark, sf001)
      .select("event_id", "epoch_us", "ts_ntz")
    assert(default.schema("epoch_us").dataType == LongType)
    assert(default.schema("ts_ntz").dataType == TimestampNTZType)
    val expected = default.orderBy("event_id").collect()
    assert(expected.nonEmpty)

    val prev = spark.conf.get(ntzConf)
    try {
      spark.conf.set(ntzConf, "false")
      // the branch under test must actually engage: the raw read now yields LTZ
      val rawTs = spark.read.parquet(s"$sf001/events.parquet").schema("ts").dataType
      assert(rawTs == TimestampType, s"conf did not flip the raw read (got $rawTs)")
      // and so must the accessors' schema memo, which is keyed on the conf
      val memoTs = Tables.t(spark, sf001, "events").schema("ts").dataType
      assert(memoTs == TimestampType, s"Tables.t ignored the flipped conf (got $memoTs)")
      val ltz = Tables.events(spark, sf001)
        .select("event_id", "epoch_us", "ts_ntz")
      assert(ltz.schema("epoch_us").dataType == LongType)
      assert(ltz.schema("ts_ntz").dataType == TimestampNTZType)
      assert(ltz.orderBy("event_id").collect().sameElements(expected))
    } finally spark.conf.set(ntzConf, prev)
  }

  test("epoch_us is micro-exact against the raw stored micros") {
    // unix_micros over the default NTZ read, computed independently of the
    // accessor's derivation path, must equal the accessor's epoch_us
    val raw = spark.read.parquet(s"$sf001/events.parquet")
      .select(col("event_id"), expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").as("direct_us"))
    val viaAccessor = Tables.events(spark, sf001).select(col("event_id"), col("epoch_us"))
    val mismatches = viaAccessor.join(raw, "event_id")
      .filter(col("epoch_us") =!= col("direct_us")).count()
    assert(mismatches == 0L)
  }
}
