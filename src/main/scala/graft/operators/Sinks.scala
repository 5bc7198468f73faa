package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.sortedContains

/** Sink-side operators (SURVEY.md §2.12): incremental MERGE/upsert and
  * small-files compaction — the two most common ETL maintenance operations
  * a 100 TB lakehouse runs daily.
  *
  * Both are side-effecting like the `source_*_roundtrip` queries: building
  * the DataFrame writes under the per-application temp root (cleaned up on
  * JVM exit; see Scans.tmpRoot).
  */
object Sinks {

  /** MERGE INTO (SCD-1 upsert) expressed Spark-first: snapshot FULL OUTER
    * JOIN changeset on the key, conditional select, write the new snapshot,
    * read it back.
    *
    * The changeset is derived deterministically from the snapshot itself so
    * the oracle can replay it: keys ≡ 3 (mod 10) are updates (status → 'R',
    * price +10%), keys ≡ 7 (mod 10) generate inserts under fresh negative
    * keys (orderkeys are non-negative in every testdata SF, so -(key+1)
    * can never collide with an existing key).
    *
    * Changed prices are deliberately NOT rounded: price×1.1 / price×0.5 are
    * single IEEE multiplies, bit-identical on both engines — whereas
    * round(×0.5, 2) lands exactly on .xx5 half-points where Spark
    * (BigDecimal HALF_UP on the shortest decimal repr) and DuckDB (binary
    * value) disagree, measured 36/16500 rows off by 1 cent. The repo's
    * round-on-both-engines convention targets order-dependent SUMS; these
    * are per-row scalars.
    *
    * Scale shape: ONE shuffle per side on the join key (sort-merge full
    * outer); the changeset branch's filters push into its scan. Neither side
    * is broadcast — both scale with the fact table, exactly the situation
    * real MERGE hits. Computed prices are rounded on both engines; kept rows
    * carry parquet values bit-identically. Round6OpsSpec asserts the plan is
    * a single full-outer sort-merge/shuffled-hash join and the written
    * snapshot preserves row counts (|target| + |inserts|).
    */
  def sinkMergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Scans.scratchDir(spark, sfDir, "merge_orders")
    merged(spark, sfDir).write.mode("overwrite").parquet(out)
    spark.read.parquet(out).orderBy("o_orderkey")
  }

  /** The deterministic MERGE inputs — target snapshot plus a changeset
    * carrying target-named columns. Exposed (private[graft]) so the
    * streaming exactly-once sink's parity spec feeds the SAME changeset
    * through micro-batches that `merged` applies in one shot. */
  private[graft] def mergeInputs(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val target = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val updates = target.filter(col("o_orderkey") % 10 === 3)
      .select(col("o_orderkey"), col("o_custkey"), lit("R").as("o_orderstatus"),
        (col("o_totalprice") * 1.1).as("o_totalprice"))
    val inserts = target.filter(col("o_orderkey") % 10 === 7)
      .select((-(col("o_orderkey") + 1)).as("o_orderkey"), col("o_custkey"),
        lit("N").as("o_orderstatus"), (col("o_totalprice") * 0.5).as("o_totalprice"))
    (target, updates.union(inserts))
  }

  /** The MERGE kernel shared by the batch sink and the streaming
    * exactly-once sink (graft.streaming.MergeSink): changeset rows replace
    * same-key snapshot rows, new keys append, and an `op` column records
    * each key's fate (keep / update / insert). The changeset must carry
    * the snapshot's column names; ONE full-outer shuffle join on the key.
    * Output columns: the key, the snapshot's other columns, then `op`. */
  def upsert(snapshot: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val c = changes.select(snapshot.columns.toIndexedSeq.map(n => col(n).as(s"_c_$n")): _*)
    val cKey = col(s"_c_$key")
    val others = snapshot.columns.toIndexedSeq.filterNot(_ == key)
      .map(n => when(cKey.isNotNull, col(s"_c_$n")).otherwise(col(n)).as(n))
    val op = when(cKey.isNull, lit("keep")).when(col(key).isNull, lit("insert"))
      .otherwise(lit("update")).as("op")
    snapshot.join(c, col(key) === cKey, "full_outer")
      .select((coalesce(cKey, col(key)).as(key) +: others :+ op): _*)
  }

  /** The merge plan itself (pre-sink) — separated so the spec can assert
    * its shape without the write. */
  private[operators] def merged(spark: SparkSession, sfDir: String): DataFrame = {
    val (target, changeset) = mergeInputs(spark, sfDir)
    upsert(target, changeset, "o_orderkey")
  }

  /** Change data feed — the CDC diff every downstream incremental consumer
    * (replication, cache invalidation, feature-store refresh) reads instead
    * of re-scanning snapshots: given snapshot v0 (base orders) and v1 (the
    * MERGE result with keys ≡ 9 (mod 10) additionally deleted), emit one
    * row per CHANGED key with op ∈ {insert, update, delete} and the
    * old/new payload columns (nulls on the absent side). The diff itself
    * is the irreducible shape: ONE full-outer shuffle join on the key +
    * row-local classification; unchanged keys (the overwhelming majority
    * at 100 TB) are dropped before the feed is written, so the sink is
    * O(changed rows). The oracle derives the expected feed DIRECTLY from
    * the changeset rules — independently of the join — so it checks the
    * diff reconstructs the rules, not that the same join ran twice.
    * Changed prices are unrounded single IEEE multiplies (the
    * sink_merge_upsert convention). */
  def sinkChangeFeed(spark: SparkSession, sfDir: String): DataFrame = {
    val v0 = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("k0"), col("o_orderstatus").as("old_status"),
        col("o_totalprice").as("old_price"))
    val v1 = merged(spark, sfDir)
      .filter(!(col("o_orderkey") >= 0 && col("o_orderkey") % 10 === 9))
      .select(col("o_orderkey").as("k1"), col("o_orderstatus").as("new_status"),
        col("o_totalprice").as("new_price"))
    val feed = v0.join(v1, col("k0") === col("k1"), "full_outer")
      .withColumn("op",
        when(col("k0").isNull, "insert")
          .when(col("k1").isNull, "delete")
          .when(col("old_status") =!= col("new_status")
            || col("old_price") =!= col("new_price"), "update")
          .otherwise("keep"))
      .filter(col("op") =!= "keep")
      .select(coalesce(col("k0"), col("k1")).as("o_orderkey"), col("op"),
        col("old_status"), col("new_status"), col("old_price"), col("new_price"))
    val root = Scans.scratchDir(spark, sfDir, "cdf")
    feed.write.mode("overwrite").parquet(root)
    spark.read.parquet(root).orderBy("o_orderkey")
  }

  /** Target file count for the compacted copy — small enough that every SF
    * produces multi-megabyte files (the point of compaction), large enough
    * to exercise the range partitioner. */
  private[operators] val CompactionFiles = 4

  /** Small-files compaction: rewrite lineitem as exactly `CompactionFiles`
    * range-partitioned files sorted within each file.
    *
    * `repartitionByRange(n, key)` + per-file `sortWithinPartitions` is the
    * scale story for file sizing: the range exchange samples key quantiles,
    * so output files are balanced AND carry non-overlapping key ranges —
    * parquet min/max footer stats then prune whole files for key-range
    * predicates on later reads (verified by Round6OpsSpec: file ranges are
    * disjoint and the file count is exact). At 100 TB the same two-liner
    * with n = bytes/target_file_size is the nightly compaction job.
    *
    * Returns a one-row summary read FROM THE COMPACTED COPY (file count via
    * distinct input_file_name, rows, key span) — distributed, no collect.
    * No DuckDB oracle: file layout isn't observable from SQL; the
    * row-preservation half IS asserted against the source in the spec.
    */
  def sinkCompaction(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Scans.scratchDir(spark, sfDir, "compact_lineitem")
    Tables.lineitem(spark, sfDir)
      .repartitionByRange(CompactionFiles, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      // project the (nondeterministic) file name first — aggregate arguments
      // must be deterministic, a plain column is
      .select(input_file_name().as("f"), col("l_orderkey"))
      .agg(
        countDistinct("f").as("n_files"),
        count(lit(1)).as("n_rows"),
        min("l_orderkey").as("min_key"),
        max("l_orderkey").as("max_key"))
  }

  /** Target bytes per z-ordered file. 1.4 MB keeps the sf0.1 outcome at the
    * historically-specced 8 files; a production job would set ~128 MB. */
  private[operators] val ZorderTargetBytes = 1400000L

  /** Floor on the output file count — below this the write under-parallelizes
    * and the span assertions lose statistical meaning (and a 1-file layout
    * trivially "spans" everything). */
  private[operators] val ZorderMinFiles = 8

  /** File count = input bytes / target file size (floored at
    * `ZorderMinFiles`) via `ScaleRules.bytesScaledCount` — the factored
    * bytes/target rule (shared with the graph builds' spill-onset width;
    * see ScaleRules). Sized from the SOURCE parquet footprint, so the file
    * count scales linearly with the corpus instead of pinning output
    * parallelism at a constant (the round-6 100× sweep measured that pin
    * as a ×9.3 wall-clock outlier: 100× rows forced through the same 8
    * write tasks). Every sink that rewrites lineitem (zorder, DV data
    * files, clustered copy) keys off the lineitem path it reads. */
  private[operators] def zorderFiles(spark: SparkSession, sfDir: String): Int =
    graft.ScaleRules.bytesScaledCount(
      spark, s"$sfDir/lineitem.parquet", ZorderTargetBytes, ZorderMinFiles)

  /** Spread the low 16 bits of `c` (long) to the even bit positions —
    * the magic-number interleave step of a Morton/Z-order code. All plain
    * bitwise Column ops: fully codegen'd, no UDF. */
  private def spread16(c: Column): Column = {
    val s1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order (Morton) clustering sink — the multi-dimensional layout
    * optimization lakehouses run as OPTIMIZE ZORDER BY: lineitem rewritten
    * in `zorderFiles(...)` (bytes-scaled) range-partitioned files ordered by
    * the interleaved bits of (l_orderkey, l_partkey), each first bucketized to 16 bits
    * against its global min/max (a 1-row aggregate read as a scalar subquery).
    * A single-column sort gives later scans min/max pruning on ONE
    * dimension and leaves the other's per-file span at ~100%; the z-curve
    * splits BOTH spans, so predicates on either key (or both) skip files.
    * Returns a one-row summary computed FROM THE WRITTEN COPY: file/row
    * counts plus the MEAN per-file relative span on each dimension. Mean,
    * not max: the one file straddling a high-order z boundary legitimately
    * covers the full span of one dimension (measured 0.996 in simulation
    * and on disk), while the mean stays ≈0.5/0.35 — versus ~1.0 on the
    * unsorted dimension of any 1-D layout, which is what Round6bOpsSpec
    * bounds (≤0.7 on BOTH dims). No DuckDB oracle: file layout isn't
    * observable from SQL; row preservation is asserted in the spec. */
  def sinkZorder(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Scans.scratchDir(spark, sfDir, "zorder_lineitem")
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    val bounds = li.agg(struct(
      min("l_orderkey").as("o_lo"), max("l_orderkey").as("o_hi"),
      min("l_partkey").as("p_lo"), max("l_partkey").as("p_hi"))).scalar()
    li.withColumns(Seq("o_lo", "o_hi", "p_lo", "p_hi").map(c => c -> bounds.getField(c)).toMap)
      .withColumn("o16",
        expr("((l_orderkey - o_lo) * 65535) DIV greatest(o_hi - o_lo, 1)"))
      .withColumn("p16",
        expr("((l_partkey - p_lo) * 65535) DIV greatest(p_hi - p_lo, 1)"))
      .withColumn("z", spread16(col("o16")).bitwiseOR(shiftleft(spread16(col("p16")), 1)))
      .repartitionByRange(zorderFiles(spark, sfDir), col("z"))
      .sortWithinPartitions("z")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(out)
    val rd = spark.read.parquet(out)
      .select(input_file_name().as("f"), col("l_orderkey"), col("l_partkey"))
    val perFile = rd.groupBy("f").agg(
      min("l_orderkey").as("olo"), max("l_orderkey").as("ohi"),
      min("l_partkey").as("plo"), max("l_partkey").as("phi"),
      count(lit(1)).as("n"))
    val global = rd.agg(struct(
      min("l_orderkey").as("g_olo"), max("l_orderkey").as("g_ohi"),
      min("l_partkey").as("g_plo"), max("l_partkey").as("g_phi"))).scalar()
    perFile.withColumns(Seq("g_olo", "g_ohi", "g_plo", "g_phi").map(c => c -> global.getField(c)).toMap)
      .agg(
        count(lit(1)).as("n_files"),
        sum("n").as("n_rows"),
        round(avg((col("ohi") - col("olo")).cast("double") /
          greatest(col("g_ohi") - col("g_olo"), lit(1L))), 4).as("avg_relspan_orderkey"),
        round(avg((col("phi") - col("plo")).cast("double") /
          greatest(col("g_phi") - col("g_plo"), lit(1L))), 4).as("avg_relspan_partkey"))
  }

  /** Lakehouse VERSION AS OF as a declared, oracle-checked query: the
    * exactly-once MERGE protocol (graft.streaming.MergeSink) applied in
    * three key-disjoint batches (pmod 3 of the key) over the same
    * deterministic changeset the batch MERGE uses, then read back AS OF
    * version 2 — the state after batches 0 and 1, before batch 2. The
    * DuckDB oracle recomputes that intermediate state as a FULL JOIN merge
    * restricted to the first two batches' keys, so the version the
    * time-travel reader returns is hash-checked, not just row-counted.
    * Each run re-executes the full protocol from a clean root (delete +
    * init + 3 merges) so reruns stay deterministic and the timing reflects
    * the protocol. Scale shape: each mergeBatch is the same single
    * full-outer shuffle join as sink_merge_upsert; versions are immutable
    * snapshots, so AS OF is a plain parquet scan of v2. */
  def sinkTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Scans.scratchDir(spark, sfDir, "ttravel_orders")
    Scans.deleteRecursively(new java.io.File(root))
    val (target, changes) = mergeInputs(spark, sfDir)
    graft.streaming.MergeSink.initTarget(target, root)
    (0L to 2L).foreach { b =>
      graft.streaming.MergeSink.mergeBatch(root, "o_orderkey")(
        changes.filter(pmod(col("o_orderkey"), lit(3)) === lit(b)), b)
    }
    graft.streaming.MergeSink.asOf(spark, root, 2).orderBy("o_orderkey")
  }

  /** Floor on the manifest table's file count (below it the quarter-span
    * predicate can't demonstrate pruning). The ACTUAL count is bytes-scaled
    * — see `manifestFiles`. */
  private[operators] val ManifestMinFiles = 8

  /** File count for the manifest fixture — the same bytes/target rule as
    * `zorderFiles`/`dvFiles`, keyed on the ORDERS footprint this sink
    * rewrites. All three oracle SFs floor at 8 (layout byte-identical to
    * the historical fixed pin), but the pin was the family's known scale
    * smell: the round-14 ×100 ProfileJobs pass measured the fixture write
    * pushing 425 MB through 8 tasks — 3.3 s of the row's ~8.4 s wall, the
    * stage a host-I/O stall window hits hardest (the [7.6–16.1] sweep
    * band; in-session passes are stable at ±0.3%). Bytes-scaling spreads
    * the write (×100 → ~155 tasks) exactly like the round-6 zorder and
    * round-11 DV fixes. */
  private[operators] def manifestFiles(spark: SparkSession, sfDir: String): Int =
    graft.ScaleRules.bytesScaledCount(
      spark, s"$sfDir/orders.parquet", ZorderTargetBytes, ManifestMinFiles)

  /** Ceiling on the pruned file list held on the driver. The list is
    * O(#files-after-pruning) planning metadata — the listing every table
    * format's driver materializes — but nothing else bounds it: a 100-TB
    * table has ~10⁶ files and an UNSELECTIVE predicate would turn "planning
    * metadata" into a driver-memory balloon of path strings. Past the cap
    * the read falls back LOUDLY to scanning the whole snapshot with the
    * predicate pushed to the scan — result-identical (the filter, not the
    * file list, defines the answer), just without the skipping. */
  private[operators] val ManifestMaxPlanFiles = 100000

  /** (files read, pruned DataFrame) — separated so the spec can assert the
    * physical footprint (strictly fewer files than written) independently
    * of the oracle-checked result. `maxPlanFiles` is the driver-list cap
    * (parameterized so the fallback path is testable without writing 10⁵
    * files). */
  private[operators] def prunedScan(spark: SparkSession, sfDir: String,
      maxPlanFiles: Int = ManifestMaxPlanFiles): (Int, DataFrame) = {
    val out = Scans.scratchDir(spark, sfDir, "manifest_orders")
    val nFiles = manifestFiles(spark, sfDir)
    Tables.orders(spark, sfDir)
      .repartitionByRange(nFiles, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(out)
    // the manifest: per-file key stats, computed DISTRIBUTEDLY (one
    // groupBy over input_file_name — at 100 TB this job is the table
    // format's manifest writer, amortized over commits, not per read)
    val manifest = spark.read.parquet(out)
      .select(input_file_name().as("f"), col("o_orderkey"))
      .groupBy("f")
      .agg(min("o_orderkey").as("flo"), max("o_orderkey").as("fhi"))
    // predicate = the bottom quarter of the key span, derived from the
    // table so every SF exercises real pruning; the bounds agg is a 1-row
    // planning scalar (same class as zorderFiles' byte count), not data
    val bounds = Tables.orders(spark, sfDir)
      .agg(min("o_orderkey").as("klo"),
        (min("o_orderkey") + floor((max("o_orderkey") - min("o_orderkey")) / 4)
          .cast("long")).as("khi")).head()
    val (klo, khi) = (bounds.getLong(0), bounds.getLong(1))
    // plan against the MANIFEST: collecting it is O(#files) planning
    // metadata — the listing every table format's driver does — never data.
    // limit(cap+1) bounds the collect itself: overflow is detected from the
    // (cap+1)th row without ever materializing an unbounded list.
    val capped = manifest
      .filter(col("flo") <= khi && col("fhi") >= klo)
      .select("f").limit(maxPlanFiles + 1).collect().map(_.getString(0))
    if (capped.length > maxPlanFiles) {
      System.err.println(s"[sink_manifest_prune] predicate selects more than " +
        s"$maxPlanFiles files — skipping file pruning, reading the full " +
        "snapshot with the predicate pushed to the scan (result-identical)")
      (nFiles,
        spark.read.parquet(out).filter(col("o_orderkey").between(klo, khi)))
    } else {
      val files = capped.sorted
      (files.length,
        spark.read.parquet(files.toIndexedSeq: _*)
          .filter(col("o_orderkey").between(klo, khi)))
    }
  }

  /** Manifest-based file skipping — the table-format data-skipping read
    * path (Delta/Iceberg style) over plain parquet: orders written as
    * `manifestFiles(...)` (bytes-scaled) range-partitioned files, a manifest of per-file
    * (min, max) key stats computed distributedly, and a key-range
    * predicate planned against the manifest so only overlapping files are
    * opened. The spec asserts the physical claim (fewer files read); the
    * DuckDB oracle checks the logical claim (result ≡ plain filter over
    * the full table). */
  def sinkManifestPrune(spark: SparkSession, sfDir: String): DataFrame =
    prunedScan(spark, sfDir)._2.orderBy("o_orderkey")

  /** Bucketed co-located join — the write-once/shuffle-never layout for
    * repeated fact⋈fact joins. Both fact tables are written `bucketBy(8,
    * <orderkey>).sortBy(<orderkey>)` (hash-bucketed AND sorted within
    * buckets), so the subsequent equi-join on the bucket key plans as a
    * sort-merge join with NO Exchange and NO per-query Sort below it —
    * the one-time write cost buys every later join's shuffle. At 100 TB
    * this is the difference between re-shuffling the fact table per join
    * and reading co-located buckets in place; bucket count would be
    * thousands there (8 here, sized to the test SFs — the technique, not
    * the constant, is the claim). Measured (round 10, x100 subset sweep):
    * 32 buckets lands 13.5 s vs 8 buckets' 13.8–14.6 s band — bucket
    * count does NOT gate the bucketed WRITE's parallelism (each input
    * task writes its own buckets' files, so the write runs at input
    * parallelism either way) and the 8-vs-32-partition join is minor next
    * to the write, so the constant stays at the file-count-friendly 8. The merge hint pins the strategy so the
    * small test-SF sides don't take the broadcast path that would hide
    * the co-location. BucketingSpec asserts the physical claim (no
    * Exchange below the join); the DuckDB oracle checks the logical one
    * (result ≡ the same join over the raw parquet). Table names and
    * paths are per-sfDir so multi-dataset sessions (ScaleStress) don't
    * cross-contaminate; tmpRoot cleans up on JVM exit. */
  def sinkBucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val suffix = Scans.dirKey(sfDir)
    val (liT, ordT) = (s"graft_li_b_$suffix", s"graft_ord_b_$suffix")
    val root = Scans.scratchDir(spark, sfDir, "bucketed")
    spark.sql(s"DROP TABLE IF EXISTS $liT")
    spark.sql(s"DROP TABLE IF EXISTS $ordT")
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_linestatus")
      .write.mode("overwrite").format("parquet").option("path", s"$root/li")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(liT)
    Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderstatus")
      .write.mode("overwrite").format("parquet").option("path", s"$root/ord")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ordT)
    spark.table(liT).hint("merge")
      .join(spark.table(ordT).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus", "l_linestatus")
      .agg(count(lit(1)).as("n_lines"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        countDistinct("l_partkey").as("n_parts"))
      .orderBy("o_orderstatus", "l_linestatus")
  }

  /** Schema evolution across snapshot generations — the read-side half of
    * ADD COLUMN, the most common lakehouse schema change. Generation 1
    * holds (o_orderkey, o_totalprice) for even keys; generation 2 (odd
    * keys, disjoint) adds o_orderstatus. Reading both generations with
    * `mergeSchema` unions the schemas BY NAME: generation-1 rows surface
    * NULL for the added column, and no old file is rewritten — at 100 TB,
    * rewriting history to add a column is exactly what a table format
    * must avoid, so the new column must be back-fillable as NULL at read
    * time. The DuckDB oracle replays the union with an explicit
    * NULL-typed column on the old generation. */
  def sinkSchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    // per-sfDir subdir (as sinkBucketedJoin): the returned DataFrame reads
    // these paths lazily, so a shared dir would rebind an earlier sfDir's
    // plan to the latest data in multi-dataset sessions (ScaleStress)
    val root = Scans.scratchDir(spark, sfDir, "evolve")
    val o = Tables.orders(spark, sfDir)
    o.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$root/g1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$root/g2")
    spark.read.option("mergeSchema", "true").parquet(s"$root/g1", s"$root/g2")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** File count for the deletion-vector table's immutable data files —
    * the same bytes/target rule as `zorderFiles` (8 at the oracle SFs via
    * the floor, growing with the corpus beyond). The previous fixed `= 8`
    * pin funneled 100× rows through 8 write tasks — the round-11 sweep
    * measured that as a ×12.7 wall-clock outlier on sink_delete_vectors,
    * the same pathology the round-6 sweep caught on the then-fixed zorder
    * knob. */
  private[operators] def dvFiles(spark: SparkSession, sfDir: String): Int =
    zorderFiles(spark, sfDir)

  /** The deterministic DELETE predicate — ~1% of rows, spread across every
    * file so each data file gets a non-trivial deletion vector. */
  private[operators] def dvDeletePredicate: Column = col("l_orderkey") % 97 === 3

  /** Per-sfDir root for the DV table (the returned DataFrame reads these
    * paths lazily — see sinkSchemaEvolution's rebinding note). */
  private[operators] def dvRoot(spark: SparkSession, sfDir: String): String =
    Scans.scratchDir(spark, sfDir, "dv")

  /** Step 1 — the immutable data files. Written once; the DELETE below
    * never touches them again (the spec snapshots (name, length, mtime)
    * here and re-asserts after the delete + read). */
  private[graft] def dvWriteData(spark: SparkSession, sfDir: String): String =
    dvWriteDataAt(spark, sfDir, dvRoot(spark, sfDir))

  private def dvWriteDataAt(spark: SparkSession, sfDir: String, root: String): String = {
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .repartitionByRange(dvFiles(spark, sfDir), col("l_orderkey"))
      .write.mode("overwrite").parquet(s"$root/data")
    root
  }

  /** The data scan with its merge-on-read identity attached: Spark's
    * parquet `_metadata` hidden columns supply exactly the (file, row
    * position) coordinate a positional deletion vector addresses — no
    * synthetic id column needs to be baked into the data files. */
  private def dvScan(spark: SparkSession, paths: String*): DataFrame =
    spark.read.parquet(paths: _*)
      .select(col("_metadata.file_path").as("_f"),
        col("_metadata.row_index").as("_pos"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))

  /** Step 2 — DELETE as a deletion-vector SIDECAR write: one parquet row
    * per data file holding the sorted row positions the predicate kills.
    * The job is a filter + groupBy over the scan (predicate and the two
    * metadata columns prune to a narrow read); NOTHING under data/ is
    * rewritten — at 100 TB that is the whole point: a 0.01%-selectivity
    * GDPR delete costs O(matching rows) sidecar bytes, not a rewrite of
    * every touched multi-GB file. */
  private[graft] def dvDelete(spark: SparkSession, root: String): Unit =
    dvWriteSidecar(spark, root, dvDeletePredicate)

  /** The sidecar writer shared by sink_delete_vectors and the purge
    * fixture's accumulated delete. */
  private def dvWriteSidecar(spark: SparkSession, root: String, pred: Column): Unit =
    dvScan(spark, s"$root/data")
      .filter(pred)
      .groupBy(col("_f"))
      .agg(sort_array(collect_list(col("_pos"))).as("del_pos"))
      .write.mode("overwrite").parquet(s"$root/dv")

  /** Apply a per-file deletion-vector sidecar to a (file, position)-keyed
    * scan — the shared merge-on-read kernel of dvRead, the purge rewrite,
    * and the post-purge read. The DV stays UNEXPLODED (one row per file,
    * positions as a sorted long array), so the broadcast is O(files +
    * 8·deleted) bytes — not the O(deleted rows)·path-string hash table the
    * exploded anti-join builds (~100 MB at the ×100 sweep, gigabytes at a
    * 100-TB table with 1% deletes) — and the per-row probe is one ≤772-entry
    * file lookup plus a codegen'd O(log k) binary search: the per-file
    * bitmap application table formats run inside their readers. Files
    * without a DV surface a null array and keep every row (left join). */
  private def dvApply(spark: SparkSession, scan: DataFrame, dvPath: String): DataFrame = {
    val dv = spark.read.parquet(dvPath).select(col("_f").as("_df"), col("del_pos"))
    scan.join(broadcast(dv), col("_f") === col("_df"), "left")
      .filter(col("del_pos").isNull || !sortedContains(col("del_pos"), col("_pos")))
      .drop("_df", "del_pos")
  }

  /** Step 3 — the merge-on-read scan: one pass over the data files with
    * the per-file deletion vectors applied in-row (`dvApply`). */
  private[graft] def dvRead(spark: SparkSession, root: String): DataFrame =
    roundedQtyPrice(dvApply(spark, dvScan(spark, s"$root/data"), s"$root/dv"))

  /** The DV queries' output row: key, line number and the two measures
    * pinned at 2 dp. */
  private def roundedQtyPrice(li: DataFrame): DataFrame =
    li.select(col("l_orderkey"), col("l_linenumber"),
      round(col("l_quantity"), 2).as("qty"),
      round(col("l_extendedprice"), 2).as("price"))

  /** Row-level DELETE via positional deletion vectors — the merge-on-read
    * maintenance primitive (Iceberg v2 / Delta DVs): lineitem written as
    * `dvFiles(...)` (bytes-scaled) immutable files, the delete
    * materialized as a per-file
    * sorted-position sidecar, and the read answering as if the rows were
    * gone WITHOUT any data file being rewritten. The DuckDB oracle checks
    * the logical claim (result ≡ plain `WHERE NOT predicate` over the
    * table); Round11OpsSpec asserts the physical one (data-file bytes and
    * mtimes unchanged across delete + read, DV entries == deleted rows —
    * not observable from SQL). */
  def sinkDeleteVectors(spark: SparkSession, sfDir: String): DataFrame = {
    val root = dvWriteData(spark, sfDir)
    dvDelete(spark, root)
    dvRead(spark, root).orderBy("l_orderkey", "l_linenumber")
  }

  /** Per-sfDir root for the DV-PURGE table — separate from dvRoot so the
    * purge fixture and sink_delete_vectors cannot clobber each other's
    * sidecars inside one session. */
  private[operators] def dvpRoot(spark: SparkSession, sfDir: String): String =
    Scans.scratchDir(spark, sfDir, "dvp")

  /** Rewrite a file once its deletion vector covers this fraction of its
    * rows — the knob every merge-on-read engine exposes (Delta's DV purge,
    * Iceberg's rewrite_data_files delete-threshold). */
  private[operators] val DvPurgeTau = 0.2

  /** The purge fixture's ACCUMULATED delete: the light ~1% spread (every
    * file gets a small DV, same shape as dvDeletePredicate) plus a heavy
    * ~1/3 delete concentrated on the low-key quarter — so the range files
    * covering low keys cross DvPurgeTau and the rest stay far under it.
    * `cutoff` = max(l_orderkey)/4, a one-row bounded planning scalar
    * (precedent: sinkCompaction's bounds row); the oracle recomputes it as
    * a scalar subquery with DuckDB's `//` (same floor division on the
    * non-negative keys). */
  private[operators] def dvpDeletePredicate(cutoff: Long): Column =
    (col("l_orderkey") % 97 === 3) ||
      (col("l_orderkey") <= cutoff && col("l_orderkey") % 3 === 0)

  private[operators] def dvpCutoff(spark: SparkSession, sfDir: String): Long =
    Tables.lineitem(spark, sfDir).agg(max("l_orderkey")).head().getLong(0) / 4

  /** Steps 1+2 for the purge table: immutable data files + the accumulated
    * DV sidecar under the purge root. */
  private[operators] def dvpWrite(spark: SparkSession, sfDir: String): String = {
    val root = dvWriteDataAt(spark, sfDir, dvpRoot(spark, sfDir))
    dvWriteSidecar(spark, root, dvpDeletePredicate(dvpCutoff(spark, sfDir)))
    root
  }

  /** Step 3 — the PURGE decision + selective rewrite: per-file (rows, DV
    * entries) stats decide which files' deletion vectors have grown past
    * DvPurgeTau; exactly those are rewritten WITH their DV applied (the
    * merge-on-read anti-join materialized once, for the heavy files only)
    * into data2/, and the sidecar shrinks to the kept files' entries
    * (dv2/). Kept data files are not touched — the whole point: purge cost
    * is O(heavily-deleted files), not a table rewrite, and read-side
    * anti-join work drops back to the light DVs. The per-file stats and
    * path lists are ≤ the bytes-scaled file count (8 at the oracle SFs,
    * ~bytes/1.4 MB beyond — still planning-sized) — bounded planning lists (precedent:
    * sink_manifest_prune's capped manifest collect). Returns
    * (purged, kept) original file paths; original purged files stay on
    * disk awaiting vacuum, exactly like sink_time_travel's old snapshots.
    */
  private[operators] def dvpPurge(spark: SparkSession, root: String): (Seq[String], Seq[String]) = {
    val (purged, kept) = dvFileFractions(spark, root).toSeq
      .partition { case (_, frac) => frac >= DvPurgeTau }
    require(purged.nonEmpty && kept.nonEmpty,
      s"purge fixture must split the files: purged=${purged.size} kept=${kept.size}")
    val purgedPaths = purged.map(_._1).sorted
    val keptPaths = kept.map(_._1).sorted
    dvApply(spark, dvScan(spark, purgedPaths: _*), s"$root/dv")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$root/data2")
    spark.read.parquet(s"$root/dv").filter(col("_f").isin(keptPaths: _*))
      .write.mode("overwrite").parquet(s"$root/dv2")
    (purgedPaths, keptPaths)
  }

  /** Per-file deleted fraction (spec hook — the same file-count-bounded
    * stats the purge decision reads). */
  private[operators] def dvFileFractions(spark: SparkSession, root: String): Map[String, Double] = {
    val rows = dvScan(spark, s"$root/data").groupBy(col("_f")).agg(count(lit(1)).as("n"))
    val dels = spark.read.parquet(s"$root/dv")
      .select(col("_f"), size(col("del_pos")).cast("long").as("d"))
    rows.join(dels, Seq("_f"), "left")
      .select(col("_f"), coalesce(col("d"), lit(0L)).as("d"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble / r.getLong(2)).toMap
  }

  /** Step 4 — the post-purge read: kept originals still merge-on-read
    * against the shrunk sidecar; rewritten files read plain. */
  private[operators] def dvpRead(spark: SparkSession, root: String, keptPaths: Seq[String]): DataFrame = {
    val keptScan = dvApply(spark, dvScan(spark, keptPaths: _*), s"$root/dv2")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    roundedQtyPrice(keptScan.unionByName(
        spark.read.parquet(s"$root/data2")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")))
  }

  /** Deletion-vector PURGE — the maintenance half of the merge-on-read
    * lifecycle sink_delete_vectors opens: deletes accumulate as sidecars
    * until a file's DV fraction crosses DvPurgeTau, then exactly those
    * files are rewritten with deletes applied while everything else keeps
    * its original bytes and (smaller) sidecar. The DuckDB oracle checks
    * the logical claim — the post-purge read ≡ a plain `WHERE NOT
    * (accumulated predicate)` over the table, INDEPENDENT of which files
    * the threshold selected; Round11OpsSpec asserts the physical half
    * (kept files byte/mtime-identical, 1 ≤ rewritten < file count, purged
    * files' fractions ≥ τ > kept files', dv2 restricted to kept files —
    * not observable from SQL). */
  def sinkDvPurge(spark: SparkSession, sfDir: String): DataFrame = {
    val root = dvpWrite(spark, sfDir)
    val (_, kept) = dvpPurge(spark, root)
    dvpRead(spark, root, kept).orderBy("l_orderkey", "l_linenumber")
  }

  /** Per-sfDir root for the partition-overwrite table (same per-sfDir
    * keying rationale as dvRoot/dvpRoot). */
  private[operators] def poRoot(spark: SparkSession, sfDir: String): String =
    Scans.scratchDir(spark, sfDir, "po")

  /** The partitioned base projection: orders keyed by order-year, the
    * layout a daily/yearly batch job overwrites incrementally. */
  private[operators] def poBase(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("long").as("p_year"))

  /** Step 1 — the partitioned base table. */
  private[operators] def poWrite(spark: SparkSession, sfDir: String): String = {
    val root = poRoot(spark, sfDir)
    poBase(spark, sfDir).write.mode("overwrite")
      .partitionBy("p_year").parquet(s"$root/t")
    root
  }

  /** The recomputed partition — the latest year, re-derived with updated
    * prices (×1.1: one IEEE multiply, bit-identical on both engines — the
    * sinkMergeUpsert rounding note applies). maxYear is a one-row bounded
    * planning scalar; the oracle recomputes it as a scalar subquery. */
  private[operators] def poMaxYear(spark: SparkSession, sfDir: String): Long =
    poBase(spark, sfDir).agg(max("p_year")).head().getLong(0)

  /** Step 2 — INSERT OVERWRITE of ONE partition under
    * `partitionOverwriteMode=dynamic`: only partitions present in the
    * incoming data are replaced; every other year's files must survive
    * byte-identically (static overwrite mode would instead DROP them —
    * the classic daily-job data-loss trap this mode exists to fix). */
  private[operators] def poDynamicOverwrite(spark: SparkSession, sfDir: String, root: String): Unit = {
    val maxY = poMaxYear(spark, sfDir)
    poBase(spark, sfDir)
      .filter(col("p_year") === maxY)
      .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_year").parquet(s"$root/t")
  }

  private[operators] def poRead(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/t")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("p_year").cast("long").as("p_year"))

  /** Dynamic partition overwrite — the incremental-recompute primitive a
    * partitioned 100-TB table lives on: a batch job recomputes ONE
    * partition (here the latest order-year, with updated prices) and
    * INSERT OVERWRITEs exactly that partition; untouched partitions keep
    * their files. The DuckDB oracle checks the logical half (latest-year
    * rows updated, all others original); Round11OpsSpec asserts the
    * physical half (non-target partition directories byte/mtime-identical
    * across the overwrite, target directory rewritten, partition count
    * unchanged — the static-mode data-loss trap demonstrably avoided). */
  def sinkPartitionOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val root = poWrite(spark, sfDir)
    poDynamicOverwrite(spark, sfDir, root)
    poRead(spark, root).orderBy("o_orderkey")
  }

  /** File count for the clustered copy — bytes-scaled like `dvFiles`
    * (fixed 8 measured ×13.4 at 100× in the round-11 sweep). */
  private[operators] def clusterFiles(spark: SparkSession, sfDir: String): Int =
    zorderFiles(spark, sfDir)

  /** The clustered copy: lineitem rewritten range-partitioned + sorted on
    * the AGGREGATION key. Narrow projection (the three agg inputs), so the
    * rewrite cost is the clustered columns, not the full table. */
  private[operators] def clusteredCopy(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Scans.scratchDir(spark, sfDir, "clustered")
    Tables.lineitem(spark, sfDir)
      .select("l_suppkey", "l_extendedprice", "l_discount")
      .repartitionByRange(clusterFiles(spark, sfDir), col("l_suppkey"))
      .sortWithinPartitions("l_suppkey")
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
  }

  /** The per-supplier revenue aggregate both layouts answer identically. */
  private[operators] def supplierRevenue(li: DataFrame): DataFrame =
    li.groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("l_suppkey")

  /** Write-time clustering as an operator-level claim — the round-10 q21
    * diagnosis turned into a sink: on key-scattered layout every scan
    * partition sees nearly every group key, so the PARTIAL aggregate's
    * output is ~(partitions × groups) and the map-side combine collapses
    * (SCALE.md measured that as q21's 2× floor shift on the regenerated
    * scattered testdata, with a clustered-copy control recovering it).
    * Rewriting the fact table range-partitioned + sorted on the
    * aggregation key bounds each partition to a disjoint key range, so
    * partial-agg output shrinks to ~groups and every later groupBy on the
    * key rides it — the write-once/combine-forever layout decision, same
    * family as sink_compaction/sink_zorder but aimed at aggregation
    * instead of scan pruning. The oracle checks the logical half (agg over
    * the clustered copy ≡ agg over raw lineitem); Round11OpsSpec asserts
    * the physical mechanism (per-partition distinct-key proxy shrinks ≥2×
    * vs a hash-scattered layout, exact file count). */
  def sinkClusteredWrite(spark: SparkSession, sfDir: String): DataFrame =
    supplierRevenue(clusteredCopy(spark, sfDir))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sink_merge_upsert" -> sinkMergeUpsert,
    "sink_compaction" -> sinkCompaction,
    "sink_zorder" -> sinkZorder,
    "sink_time_travel" -> sinkTimeTravel,
    "sink_manifest_prune" -> sinkManifestPrune,
    "sink_bucketed_join" -> sinkBucketedJoin,
    "sink_schema_evolution" -> sinkSchemaEvolution,
    "sink_delete_vectors" -> sinkDeleteVectors,
    "sink_dv_purge" -> sinkDvPurge,
    "sink_clustered_write" -> sinkClusteredWrite,
    "sink_partition_overwrite" -> sinkPartitionOverwrite,
    "sink_change_feed" -> sinkChangeFeed,
  )

  val oracles: Map[String, String] = Map(
    // sink_compaction: file-layout observation — spec-gated, no oracle.
    // sink_change_feed: expected rows derived DIRECTLY from the changeset
    // rules (keys %10=3 update, %10=7 spawn negative-key inserts, %10=9
    // deleted in v1) — independent of the operator's full-outer diff.
    "sink_change_feed" ->
      """SELECT o_orderkey, op, old_status, new_status, old_price, new_price FROM (
        |  SELECT o_orderkey, 'update' AS op, o_orderstatus AS old_status,
        |    'R' AS new_status, o_totalprice AS old_price,
        |    o_totalprice * 1.1 AS new_price
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 'delete', o_orderstatus, NULL, o_totalprice, NULL
        |  FROM orders WHERE o_orderkey % 10 = 9
        |  UNION ALL
        |  SELECT -(o_orderkey + 1), 'insert', NULL, 'N', NULL, o_totalprice * 0.5
        |  FROM orders WHERE o_orderkey % 10 = 7
        |) ORDER BY o_orderkey""".stripMargin,
    "sink_merge_upsert" ->
      """WITH changeset AS (
        |  SELECT o_orderkey AS c_key, o_custkey AS c_custkey, 'R' AS c_status,
        |    o_totalprice * 1.1 AS c_price
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT -(o_orderkey + 1), o_custkey, 'N', o_totalprice * 0.5
        |  FROM orders WHERE o_orderkey % 10 = 7)
        |SELECT coalesce(c_key, o_orderkey) AS o_orderkey,
        |  coalesce(c_custkey, o_custkey) AS o_custkey,
        |  CASE WHEN c_key IS NOT NULL THEN c_status ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN c_key IS NOT NULL THEN c_price ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN c_key IS NULL THEN 'keep'
        |       WHEN o_orderkey IS NULL THEN 'insert'
        |       ELSE 'update' END AS op
        |FROM orders FULL JOIN changeset ON o_orderkey = c_key
        |ORDER BY o_orderkey""".stripMargin,
    // the state AS OF version 2 = base merged with batches 0 and 1 only
    // (batches are key-disjoint by pmod 3, so sequential application of
    // the first two equals one merge of their union); pmod spelled
    // ((k % 3) + 3) % 3 because DuckDB's % is C-style on the negative
    // insert keys while Spark's pmod is non-negative
    "sink_time_travel" ->
      """WITH changeset AS (
        |  SELECT o_orderkey AS c_key, o_custkey AS c_custkey, 'R' AS c_status,
        |    o_totalprice * 1.1 AS c_price
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT -(o_orderkey + 1), o_custkey, 'N', o_totalprice * 0.5
        |  FROM orders WHERE o_orderkey % 10 = 7),
        |applied AS (SELECT * FROM changeset WHERE ((c_key % 3) + 3) % 3 <= 1)
        |SELECT coalesce(c_key, o_orderkey) AS o_orderkey,
        |  coalesce(c_custkey, o_custkey) AS o_custkey,
        |  CASE WHEN c_key IS NOT NULL THEN c_status ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN c_key IS NOT NULL THEN c_price ELSE o_totalprice END AS o_totalprice
        |FROM orders FULL JOIN applied ON o_orderkey = c_key
        |ORDER BY o_orderkey""".stripMargin,
    // logical half of the manifest-pruned scan: a plain key-range filter
    // over the full table (the physical fewer-files half is spec-gated —
    // file footprints aren't observable from SQL)
    // logical half of the bucketed co-located join: the same join+agg over
    // the raw parquet (the physical no-Exchange half is spec-gated in
    // BucketingSpec — plan shape isn't observable from SQL)
    "sink_bucketed_join" ->
      """SELECT o_orderstatus, l_linestatus, count(*) AS n_lines,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus, l_linestatus
        |ORDER BY o_orderstatus, l_linestatus""".stripMargin,
    // generation-1 rows carry an explicitly NULL-typed o_orderstatus —
    // the read-time backfill mergeSchema performs
    "sink_schema_evolution" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin,
    // logical half of the clustered write: the same aggregate over raw
    // lineitem (the physical partial-agg-shrink half is spec-gated)
    "sink_clustered_write" ->
      """SELECT l_suppkey, count(*) AS n_lines,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |GROUP BY l_suppkey
        |ORDER BY l_suppkey""".stripMargin,
    // logical half of the DV delete: a plain NOT-predicate filter over the
    // table (the physical zero-rewrite half is spec-gated — file mtimes
    // aren't observable from SQL)
    "sink_delete_vectors" ->
      """SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty,
        |  round(l_extendedprice, 2) AS price
        |FROM lineitem
        |WHERE NOT (l_orderkey % 97 = 3)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // logical half of the DV purge: the accumulated predicate replayed as
    // a plain NOT filter — invariant to WHICH files the threshold rewrote
    // (the physical selective-rewrite half is spec-gated)
    "sink_dv_purge" ->
      """WITH b AS (SELECT max(l_orderkey) // 4 AS cutoff FROM lineitem)
        |SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty,
        |  round(l_extendedprice, 2) AS price
        |FROM lineitem, b
        |WHERE NOT (l_orderkey % 97 = 3
        |       OR (l_orderkey <= b.cutoff AND l_orderkey % 3 = 0))
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // logical half of the dynamic partition overwrite: latest-year rows
    // carry the recomputed price, all others the original (the physical
    // untouched-partitions half is spec-gated)
    "sink_partition_overwrite" ->
      """WITH b AS (SELECT max(year(o_orderdate)) AS maxy FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  CASE WHEN year(o_orderdate) = b.maxy THEN o_totalprice * 1.1
        |       ELSE o_totalprice END AS o_totalprice,
        |  CAST(year(o_orderdate) AS BIGINT) AS p_year
        |FROM orders, b
        |ORDER BY o_orderkey""".stripMargin,
    "sink_manifest_prune" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo,
        |  min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) // 4 AS khi
        |  FROM orders)
        |SELECT o.* FROM orders o, b
        |WHERE o.o_orderkey BETWEEN b.klo AND b.khi
        |ORDER BY o.o_orderkey""".stripMargin,
  )
}
