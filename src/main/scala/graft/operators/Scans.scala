package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Scan / source / sink operators (SURVEY.md §2.1).
  *
  * Scale notes: scans are plain parquet leaves — Catalyst pushes projections
  * into `ReadSchema` (verified via explain in the spec), so `scan_pruned`
  * reads 2 of 11 lineitem columns off disk. Ordering for determinism is the
  * only shuffle in these queries.
  */
object Scans {

  /** Full lineitem scan with a count-preserving projection. NOTE: the
    * synthetic lineitem has duplicate (l_orderkey, l_linenumber) pairs, so
    * row-level outputs sort by ALL columns — ties are then bit-identical
    * rows and any tie order compares equal. */
  def scanLineitem(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")

  /** Two-column scan — exercises parquet column pruning. Ties in the sort are
    * bit-identical rows, so ordering by all output columns is a total order
    * on content. */
  def scanPruned(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity")
      .orderBy("l_orderkey", "l_quantity")

  /** events scan with the nanos→micros conversion (SURVEY §1.3 ⚠L1). */
  def scanEventsNanos(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select("event_id", "epoch_us", "user_id", "event_type", "value")
      .orderBy("event_id")

  /** Per-application temp root so concurrent sessions (Verify + Bench + sbt
    * test) never clobber each other's sink directories. Each root is
    * registered for recursive deletion on JVM exit, so repeated Verify /
    * Bench / test runs don't leak sample copies under java.io.tmpdir.
    * NOTE: this makes the roundtrip queries side-effecting (they write
    * beneath this root when built); anything iterating SparkEntry.queries
    * only to build plans still triggers the writes. */
  private val registeredRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  private[graft] def tmpRoot(spark: SparkSession): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_${spark.sparkContext.applicationId}"
    if (registeredRoots.add(root))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRecursively(new java.io.File(root))))
    root
  }

  /** Collision-free per-sfDir subdirectory key: the sanitized FULL path
    * (readable in tmp listings) plus a SHA-1 disambiguator of the raw
    * path. Neither half alone is collision-free — a 32-bit hashCode
    * collides by birthday (and `math.abs(Int.MinValue)` is negative), and
    * the round-13 advisory observed the sanitizer alone folds distinct
    * paths too (`/data/sf0.1` vs `/data/sf0_1` → the same `_data_sf0_1`).
    * Any collision silently rebinds one dataset's lazily-read sink dir to
    * another's data — the exact cross-dataset bug per-sfDir keying exists
    * to prevent. */
  private[operators] def dirKey(sfDir: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-1")
      .digest(sfDir.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    s"${sfDir.replaceAll("[^A-Za-z0-9]", "_")}_$sha"
  }

  /** This application's scratch directory `<tag>` for the dataset at
    * `sfDir`: `tmpRoot` plus a `dirKey`-keyed subdirectory, so a plan that
    * reads the directory lazily never rebinds to another dataset's write. */
  private[graft] def scratchDir(spark: SparkSession, sfDir: String, tag: String): String =
    s"${tmpRoot(spark)}/${tag}_${dirKey(sfDir)}"

  /** The lineitem sample every format round trip writes and reads back. */
  private def lineitemSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") < 1000)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

  /** The explicit read schema of `lineitemSample`'s text exports. */
  private val sampleSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_returnflag", StringType)))

  /** Orders written partitioned by order year (`o_year`) under `dir`. */
  private def writeOrdersByYear(spark: SparkSession, sfDir: String, dir: String): Unit =
    Tables.orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)

  /** CSV + JSON sink/source roundtrip (side-effecting — rows-only check; the
    * full row-equality assertion lives in the ScalaTest spec). Writes a
    * lineitem sample to a temp dir in both formats, reads both back with an
    * explicit schema, and returns per-flag counts from each format joined —
    * equal counts prove the roundtrip preserved rows. */
  def sourceCsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = scratchDir(spark, sfDir, "roundtrip")
    val sample = lineitemSample(spark, sfDir)
    sample.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    sample.write.mode("overwrite").json(s"$tmp/json")
    val fromCsv = spark.read.schema(sampleSchema).option("header", "true").csv(s"$tmp/csv")
      .groupBy("l_returnflag").agg(count(lit(1)).as("csv_rows"))
    val fromJson = spark.read.schema(sampleSchema).json(s"$tmp/json")
      .groupBy("l_returnflag").agg(count(lit(1)).as("json_rows"))
    fromCsv.join(fromJson, "l_returnflag").orderBy("l_returnflag")
  }

  /** XML round trip through Spark 4's NATIVE xml source (SPARK-44265
    * folded spark-xml into core — no external jar): the same lineitem
    * sample written as row-tagged XML and read back with an explicit
    * schema + rowTag, aggregated per flag. XML is the interchange format
    * regulatory/B2B feeds still arrive in; the point of the row is that
    * the engine ingests it with the same schema-first discipline as
    * csv/json/orc (checksum = the same per-flag counts and quantity sum
    * the parquet truth yields). Values are integers and 2-decimal
    * doubles, so the text round trip is exact. */
  def sourceXmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    // sfDir-keyed like json_corrupt/dpp/binfiles: the returned plan reads
    // the path LAZILY, so an unkeyed shared dir would let a later sfDir's
    // write rebind an earlier plan to the wrong data (round-12 advisory).
    val tmp = scratchDir(spark, sfDir, "xmlrt")
    lineitemSample(spark, sfDir).write.mode("overwrite")
      .option("rootTag", "lines").option("rowTag", "line")
      .format("xml").save(s"$tmp/xml")
    spark.read.schema(sampleSchema).option("rowTag", "line").format("xml").load(s"$tmp/xml")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("xml_rows"), round(sum("l_quantity"), 2).as("xml_qty"))
      .orderBy("l_returnflag")
  }

  /** PERMISSIVE corrupt-record ingestion — the malformed-JSONL path every
    * web-scale text pipeline hits. A JSONL export of the lineitem sample is
    * corrupted by a DATA rule (every l_orderkey divisible by 10 gets a
    * truncated, unparseable line) — keyed on row content, not line
    * position, because distributed writes don't order lines. The read-back
    * uses the JSON source's PERMISSIVE mode with a `columnNameOfCorruptRecord`
    * sidecar column: bad lines land with the raw text in `_bad` and data
    * fields null, good lines parse normally — nothing is dropped, nothing
    * throws. One aggregation folds both populations (corrupt rows bucket
    * under the '__bad' flag), so the scan is read once and the plan never
    * selects ONLY the corrupt column (Spark disallows that projection on
    * raw JSON scans). The oracle replays the corruption rule relationally
    * from the parquet table: counts and sums must agree per flag, and the
    * '__bad' row's qty is NULL on both engines (sum over no values).
    * Scale: corrupt handling is per-row in the scan — no extra pass, no
    * driver involvement; the only shuffle is the 5-group aggregate. */
  def sourceJsonCorrupt(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = scratchDir(spark, sfDir, "json_corrupt")
    val sample = lineitemSample(spark, sfDir)
    sample
      .select(col("l_orderkey"),
        to_json(struct(sample.columns.toIndexedSeq.map(col): _*)).as("j"))
      .select(when(col("l_orderkey") % 10 === 0,
          concat(lit("{BROKEN "), substring(col("j"), 1, 20)))
        .otherwise(col("j")).as("value"))
      .write.mode("overwrite").text(tmp)
    spark.read.schema(sampleSchema.add("_bad", StringType))
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_bad")
      .json(tmp)
      .withColumn("flag",
        when(col("_bad").isNotNull, lit("__bad")).otherwise(col("l_returnflag")))
      .groupBy("flag")
      .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy("flag")
  }

  /** ORC sink/source roundtrip (rows-only, like the csv/json one). */
  def sourceOrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = scratchDir(spark, sfDir, "roundtrip_orc")
    lineitemSample(spark, sfDir).write.mode("overwrite").orc(tmp)
    spark.read.orc(tmp)
      .groupBy("l_returnflag").agg(count(lit(1)).as("orc_rows"))
      .orderBy("l_returnflag")
  }

  /** Partitioned-parquet write + partition-pruned read: orders written
    * partitioned by order year, then only one partition is scanned (PlanSpec
    * asserts PartitionFilters). Oracle-checkable because the counts must
    * equal the unpartitioned table's — the layout changes, the data doesn't. */
  def sourcePartitionedPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = scratchDir(spark, sfDir, "part_orders")
    writeOrdersByYear(spark, sfDir, tmp)
    spark.read.parquet(tmp)
      .filter(col("o_year") === 1996)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** Dynamic partition pruning — the runtime companion to the static
    * pruning `source_partitioned_prune` shows: the fact table is written
    * partitioned by `o_year`, and the selective predicate lives on a
    * DIMENSION relation joined on the partition column, so no static rule
    * can prune the scan. Catalyst's DPP inserts a
    * `dynamicpruningexpression` into the fact scan's PartitionFilters
    * (reusing the broadcast dimension's values at runtime), and only the
    * matching year partitions are read — at 100 TB this is the difference
    * between scanning the whole fact table and the 3 matching partitions
    * whenever a query filters through a dimension, which is how star-
    * schema queries actually arrive. The dimension is derived
    * deterministically from raw orders (distinct even years) so the
    * DuckDB oracle can replay the join as a plain WHERE; PlanSpec asserts
    * the physical claim (dynamicpruningexpression present in the fact
    * scan's PartitionFilters). */
  def sourceDppPrune(spark: SparkSession, sfDir: String): DataFrame = {
    // per-sfDir subdir (as sinkBucketedJoin): the returned DataFrame reads
    // this path lazily, so a shared dir would rebind an earlier sfDir's
    // plan to the latest data in multi-dataset sessions (ScaleStress)
    val tmp = scratchDir(spark, sfDir, "dpp_orders")
    writeOrdersByYear(spark, sfDir, tmp)
    // partition-dir values read back as int; BIGINT per dtype convention
    val fact = spark.read.parquet(tmp)
      .withColumn("o_year", col("o_year").cast("long"))
    val dim = Tables.orders(spark, sfDir)
      .select(year(col("o_orderdate")).cast("long").as("d_year")).distinct()
      .filter(col("d_year") % 2 === 0)
    fact.join(broadcast(dim), col("o_year") === col("d_year"))
      .groupBy("o_year", "o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("o_year", "o_orderstatus")
  }

  /** Column-level data profiling over the numeric lineitem measures — the
    * validation pass every large-scale ingest runs (row counts, null
    * counts, ranges, distincts, means) before data is trusted. One
    * aggregate job per column unioned into a tidy (column, stats) table;
    * each aggregate is partial (map-side) and min/max/count are exact, so
    * only the mean needs the rounding margin. */
  def scanProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    cols.map { c =>
      li.agg(
        count(lit(1)).as("n_rows"),
        count(when(col(c).isNull, 1)).as("n_null"),
        min(col(c)).as("min_v"),
        max(col(c)).as("max_v"),
        countDistinct(col(c)).as("n_distinct"),
        round(avg(col(c)), 4).as("avg_v"))
        .withColumn("column", lit(c))
        .select("column", "n_rows", "n_null", "min_v", "max_v", "n_distinct", "avg_v")
    }.reduce(_ union _).orderBy("column")
  }

  /** Whole-file binary ingestion — Spark's `binaryFile` source read as
    * the multimodal LAKE layout: one GRFT container per object, exactly
    * how image/audio corpora land in object storage, with document
    * identity carried by the object name. Each document's container is
    * written to its own file, read back via `format("binaryFile")`
    * (path, length, content — the content column is the raw object
    * bytes), doc_id recovered from the filename, and the bytes run
    * through the SAME GRFT parser as llm_multimodal_decode — the oracle
    * is literally that query's oracle, so identical features must
    * survive the file-per-object round trip. At 100 TB the per-object
    * layout is the point: binaryFile lists/splits by object,
    * `pathGlobFilter` prunes, and payload bytes never touch a shuffle
    * (features extract in the scan's mapPartitions). File writes happen
    * executor-side (foreachPartition), one pass, idempotent per path,
    * THROUGH the Hadoop FileSystem API — executors resolve the object
    * path against the deployed fs.defaultFS, so on a real cluster the
    * objects land on the shared store the driver-side binaryFile read
    * lists, not on per-executor local disks (java.nio writes would —
    * round-11 advisory; in local[_] both resolve to the same local FS). */
  def sourceBinaryFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(spark, sfDir, "binfiles")
    new java.io.File(dir).mkdirs()
    // Broadcast the SESSION's hadoop conf: executor-side `new
    // Configuration()` would drop spark.hadoop.* settings (fs.defaultFS,
    // s3a credentials) and break the shared-store claim on a conf-
    // configured cluster (round-12 advisory).
    val hconf = spark.sparkContext.broadcast(
      new graft.SerHadoopConf(spark.sparkContext.hadoopConfiguration))
    MultimodalOps.pack(MultimodalOps.fromDocuments(spark, sfDir))
      .foreachPartition { (it: Iterator[MediaRecord]) =>
        val base = new org.apache.hadoop.fs.Path(dir)
        val fs = base.getFileSystem(hconf.value.value)
        fs.setWriteChecksum(false) // no .crc sidecar per object
        // Path resolution goes through the configured FS either way (the
        // round-11 advisory: executors must hit the shared store, not
        // their local disks) — but when the resolved scheme IS the local
        // FS, write via java.nio: every Hadoop `create` also calls
        // setPermission, which without the native-hadoop lib FORKS a
        // chmod process per object — measured 22 s for the 5000-object
        // sf0.1 fixture vs ~1 s on the nio path. A real deployment
        // resolves to s3a/hdfs and takes the Hadoop branch.
        if (fs.getScheme == "file")
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, s"${r.doc_id}.grft"), r.payload): Unit
          }
        else
          it.foreach { r =>
            val out = fs.create(new org.apache.hadoop.fs.Path(base, s"${r.doc_id}.grft"), true)
            try out.write(r.payload) finally out.close()
          }
      }
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.grft").load(dir)
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.grft$", 1).cast("long").as("doc_id"),
        col("content").as("payload"),
        lit("application/x-grft").as("media_type"))
      .as(org.apache.spark.sql.Encoders.product[MediaRecord])
    MultimodalOps.decode(bin).toDF().orderBy("doc_id")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_lineitem" -> scanLineitem,
    "scan_profile" -> scanProfile,
    "scan_pruned" -> scanPruned,
    "scan_events_nanos" -> scanEventsNanos,
    "source_csv_roundtrip" -> sourceCsvRoundtrip,
    "source_xml_roundtrip" -> sourceXmlRoundtrip,
    "source_json_corrupt" -> sourceJsonCorrupt,
    "source_orc_roundtrip" -> sourceOrcRoundtrip,
    "source_partitioned_prune" -> sourcePartitionedPrune,
    "source_dpp_prune" -> sourceDppPrune,
    "source_binary_files" -> sourceBinaryFiles,
  )

  val oracles: Map[String, String] = Map(
    // deliberately the SAME oracle as llm_multimodal_decode (referenced,
    // not copied, so they cannot drift): the file-per-object round trip
    // must reproduce the in-table decode's features exactly
    "source_binary_files" -> LlmVector.oracles("llm_multimodal_decode"),
    "scan_lineitem" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  l_quantity, l_extendedprice, l_returnflag, l_linestatus
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  l_quantity, l_extendedprice, l_returnflag, l_linestatus""".stripMargin,
    "scan_pruned" ->
      "SELECT l_orderkey, l_quantity FROM lineitem ORDER BY l_orderkey, l_quantity",
    "scan_profile" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  min($c) AS min_v, max($c) AS max_v,
           |  count(DISTINCT $c) AS n_distinct, round(avg($c), 4) AS avg_v
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""),
    "scan_events_nanos" ->
      """SELECT event_id, epoch_us(ts) AS epoch_us, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "source_json_corrupt" ->
      """WITH s AS (
        |  SELECT l_orderkey, l_quantity, l_returnflag
        |  FROM lineitem WHERE l_orderkey < 1000),
        |t AS (
        |  SELECT CASE WHEN l_orderkey % 10 = 0 THEN '__bad'
        |              ELSE l_returnflag END AS flag,
        |    CASE WHEN l_orderkey % 10 = 0 THEN NULL
        |         ELSE l_quantity END AS q
        |  FROM s)
        |SELECT flag, count(*) AS n_rows, round(sum(q), 2) AS qty
        |FROM t GROUP BY flag ORDER BY flag""".stripMargin,
    // The roundtrip per-flag counts are deterministic — they must equal the
    // source sample's counts regardless of the sink format — so they ARE
    // oracle-checkable against lineitem directly (full row equality is
    // additionally asserted in BatchOpsSpec).
    "source_csv_roundtrip" ->
      """SELECT l_returnflag, count(*) AS csv_rows, count(*) AS json_rows
        |FROM lineitem WHERE l_orderkey < 1000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "source_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS orc_rows
        |FROM lineitem WHERE l_orderkey < 1000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "source_xml_roundtrip" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS xml_rows,
        |  round(sum(l_quantity), 2) AS xml_qty
        |FROM lineitem WHERE l_orderkey < 1000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "source_partitioned_prune" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE year(o_orderdate) = 1996
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // logical half of the DPP query: dim(distinct even years) ⋈ fact on the
    // partition column replays as a plain WHERE (the physical runtime-
    // pruning half is spec-gated in PlanSpec)
    "source_dpp_prune" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderstatus,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE year(o_orderdate) % 2 = 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
