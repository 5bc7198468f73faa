package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{dot, ivfTopCells, pqDot, signBucket}
import graft.functions.SignBucket.{Dim, MaxBits}

/** LRU-bounded memo for session-lifetime serving caches of cached
  * DataFrames, keyed by (session, sfDir).
  *
  * Contract (the "one-session lifecycle" the callers rely on):
  *  - at most `cap` entries are held; inserting past the cap unpersists and
  *    drops the least-recently-USED entry (a `get` hit refreshes recency);
  *  - entries whose SparkContext has stopped are dropped on every access —
  *    their storage died with the context, and keeping the key would pin
  *    the session + logical plan for the JVM lifetime (a slow leak in
  *    processes that churn sessions, e.g. repeated test suites);
  *  - `release(session)` unpersists and drops all of one session's entries
  *    (ScaleStress calls it between scales so per-scale caches never
  *    coexist).
  * All access is synchronized on the underlying map — contention is nil
  * (entries are built once per session/dir and reads are memo hits). */
private[graft] final class ServingMemo(cap: Int) {
  private val m =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean =
        if (this.size() > cap) { e.getValue.unpersist(); true } else false
    }

  // NOTE: `build` runs while the map lock is held. Today every caller's
  // build is a lazy plan construction (no Spark job), so the hold time is
  // microseconds — a build that RUNS a job (e.g. an eager count/persist)
  // would serialize all memo access behind it and must not be introduced.
  def get(spark: SparkSession, sfDir: String)(build: => DataFrame): DataFrame =
    m.synchronized {
      val it = m.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey._1.sparkContext.isStopped) it.remove()
      val k = (spark, sfDir)
      Option(m.get(k)).getOrElse { val v = build; m.put(k, v); v }
    }

  def release(spark: SparkSession): Unit = m.synchronized {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) { e.getValue.unpersist(); it.remove() }
    }
  }

  private[graft] def size: Int = m.synchronized(m.size())
}

/** Embedding / similarity-search / multimodal operators (SURVEY.md §2.10 +
  * builder-prompt extensions).
  *
  * Scale notes:
  *  - Exact all-pairs cosine (the oracle baseline) runs as a
  *    fragment-replicate equi-join (cosineTopkCore) — partition-parallel,
  *    no nested-loop join in any embedding query's plan. The O(n²) work is
  *    inherent to exactness; the 100 TB path is IVF (`llm_ann_ivf`, and
  *    `llm_knn_label` rides it): a coarse quantizer bounds each probe to
  *    nprobe cells, so candidate generation is an equi-join on cell id.
  *    Centroids are dimension-table sized (k × 64 floats) and broadcast.
  *  - Dot products run as the native `graft.functions.dot` expression
  *    over float arrays: per-row, no shuffle, and both engines sum
  *    left-to-right in double so values agree bit-for-bit before rounding.
  */
object LlmVector {

  /** L2 norm through the native dot (bit-identical fold order to a HOF
    * zip_with/aggregate formulation, ~5-10× faster on the 4M-pair
    * brute-force path; see DotProductExpr). */
  private def norm(c: Column): Column = sqrt(dot(c, c))

  /** The embeddings table with its L2 norm attached — the single entry
    * point for every vector query. CONTRACT: rows with a NULL embedding
    * are excluded HERE, explicitly. Downstream formulations differ in how
    * they'd treat a null vector (the `graft_ivf_topcells` explode drops
    * it; the old window ranking kept it with null distances), so leaving
    * nulls to flow would make the result shape an accident of the chosen
    * plan. The synthesized tables contain no null embeddings, so the
    * filter changes nothing today — it pins the declared behavior if the
    * corpus ever does. */
  private def emb(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.embeddings(spark, sfDir)
      .filter(col("embedding").isNotNull)
      .withColumn("nrm", norm(col("embedding")))
  }

  /** Per-candidate top-5 over NARROW (a, b, cos) rows: rank cos desc (ties
    * by neighbor id) within each probe vector, keep 5. Callers must project
    * away the embedding arrays BEFORE calling — the rank filter plans as a
    * map-side WindowGroupLimit sort, and sorting rows that still carry two
    * 64-float arrays costs ~3× the whole query (measured 5.2 s vs 2.8 s at
    * sf0.1). Shared tail of the exact and IVF paths. */
  private def topkWithin(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy("a").orderBy(desc("cos"), asc("b"))
    pairs
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("a"), col("b").as("nn"), col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cos"))
  }

  /** EXACT all-pairs top-5 as a fragment-replicate equi-join: the build side
    * is hash-partitioned into `nBlocks` fragments, the probe side replicated
    * across them (explode over block ids), so every pair meets exactly once
    * through a partition-parallel shuffle join — no nested-loop cross join
    * in the plan. At 100 TB pick nBlocks so one fragment fits an executor;
    * the O(n²) work is inherent to exactness — `llm_ann_ivf` is the
    * sub-quadratic path. Unsorted core: the determinism orderBy lives only
    * in the top-level query, so composed uses don't inherit a wasted sort. */
  private def cosineTopkCore(spark: SparkSession, sfDir: String): DataFrame = {
    val nBlocks = 32
    val b = emb(spark, sfDir)
      .select(col("vec_id").as("b"), col("embedding").as("eb"), col("nrm").as("nb"))
      .withColumn("blk", pmod(hash(col("b")), lit(nBlocks)))
    val a = emb(spark, sfDir)
      .select(col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na"))
      .withColumn("blk", explode(sequence(lit(0), lit(nBlocks - 1))))
    // Each unordered pair meets once (a < b), gets ONE dot product — the
    // value is symmetric bit-for-bit — and is mirrored into both
    // orientations as narrow (a, b, cos) rows in the same pass (explode,
    // not a union: a union would re-execute the join subtree).
    // The explicit numbered repartition + shuffle_hash hint keep the join
    // partition-parallel across the fragments: left alone, AQE broadcasts
    // the ~20 MB replicated side and streams the tiny build side, running
    // the whole O(n²) dot stage in one or two tasks.
    val half = a.repartition(nBlocks, col("blk"))
      .join(b.hint("shuffle_hash"), Seq("blk")).filter(col("a") < col("b"))
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
    topkWithin(half
      .select(explode(array(
        struct(col("a"), col("b"), col("cos")),
        struct(col("b").as("a"), col("a").as("b"), col("cos")))).as("p"))
      .select("p.*"))
  }

  /** Brute-force-exact cosine top-5 neighbors per vector (the oracle
    * baseline; see cosineTopkCore for the scale shape). The window keeps
    * its own hash exchange rather than sharing a range partitioning with
    * the final orderBy (`Windows.rangeForWindow`): topkWithin's rank
    * filter plans a map-side partial limit ahead of that exchange, and a
    * range exchange first would ship every mirrored pair instead of ≤5
    * per vector and partition — measured at sf0.1, full result 2.4 →
    * 3.7 s and task CPU 6.0 → 10.5 s. */
  def llmCosineTopk(spark: SparkSession, sfDir: String): DataFrame =
    cosineTopkCore(spark, sfDir).orderBy("a", "rank")

  /** In-engine index-quality diagnostic (round 18): recall@5 of the IVF
    * index against the exact baseline, per label, so a user can measure
    * what the index keeps ON THEIR CORPUS without leaving the engine.
    * Both sides are this library's own oracle-proven relations (exact
    * all-pairs top-5, IVF top-5), so the composition is
    * fully oracle-checked; per-label grain surfaces WHERE the quantizer
    * loses neighbors rather than one blended number. Cost is dominated BY
    * DEFINITION by the exact half (the ground-truth all-pairs row) — the
    * same declared shape and ×10 sweep cap as `llm_cosine_topk`. */
  def llmAnnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = cosineTopkCore(spark, sfDir).select("a", "nn")
    val ann = annTopkCore(spark, sfDir).select(col("a"), col("nn"))
      .withColumn("hit", lit(1L))
    val labels = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("a"), col("label").cast("long").as("label"))
    exact.join(ann, Seq("a", "nn"), "left")
      .join(labels, "a")
      .groupBy("label")
      .agg(countDistinct(col("a")).as("n_queries"),
        count(lit(1)).as("exact_pairs"),
        coalesce(sum(col("hit")), lit(0L)).as("hits"))
      .withColumn("recall5",
        round(col("hits").cast("double") / col("exact_pairs"), 4))
      .orderBy("label")
  }

  /** Majority label among the 5 nearest IVF-candidate neighbors; per-label
    * accuracy against the vector's own label. Vote ties break by (count
    * desc, label asc). Rides the IVF candidate generation (annTopkCore) —
    * the sub-quadratic 100-TB path — not the exact all-pairs core; the
    * oracle replays the same deterministic IVF pipeline. */
  def llmKnnLabel(spark: SparkSession, sfDir: String): DataFrame = {
    val topk = annTopkCore(spark, sfDir)
    val labels = Tables.embeddings(spark, sfDir).select("vec_id", "label")
    val votes = topk
      .join(labels.withColumnRenamed("vec_id", "nn").withColumnRenamed("label", "nn_label"), "nn")
      .groupBy("a", "nn_label").agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("a").orderBy(desc("votes"), asc("nn_label"))
    val pred = votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("a").as("vec_id"), col("nn_label").as("pred"))
    pred.join(labels, "vec_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg(when(col("pred") === col("label"), 1.0).otherwise(0.0)), 4).as("acc"))
      .orderBy("label")
  }

  /** Embedding near-duplicate pairs: cosine ≥ 0.45, blocked by label (at
    * 100 TB the block key becomes an LSH/IVF cell). The threshold is tuned
    * to this corpus (max within-label cosine ≈ 0.47 at sf0.01 / 0.51 at
    * sf0.1) so the query emits real pairs — a threshold no row can reach
    * would make the oracle row vacuously green. */
  def llmEmbedNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    val a = emb(spark, sfDir).select(col("vec_id").as("a"), col("label"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = emb(spark, sfDir).select(col("vec_id").as("b"), col("label").as("label2"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("label") === col("label2") && col("a") < col("b"))
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.45)
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
      .orderBy("a", "b")
  }

  /** Semantic-dedup drop threshold — tuned to this corpus exactly like
    * llm_embed_neardup's 0.45 (max within-label cosine ≈ 0.47, measured
    * at sf0.01; Round11OpsSpec asserts non-vacuity — some pair ≥ τ, kept
    * set pairwise < τ — at sf0.1, the SF it actually gates): a threshold
    * no pair reaches would make the query vacuously green. */
  private val SemDedupTau = 0.45

  /** Semantic (embedding-space) near-duplicate PRUNING — the SemDeDup
    * recipe (Abbas et al. 2023): cluster the corpus coarsely, then inside
    * each cluster drop every document whose embedding sits within cosine
    * `SemDedupTau` of another cluster member, keeping one representative.
    * Unlike `llm_embed_neardup` (which LISTS pairs inside label blocks),
    * this emits the KEPT corpus — the operator a training pipeline actually
    * runs — and blocks by the IVF coarse cell (`cellAssigned`: label ×
    * sign-projection bucket), the same corpus-tracking key the ANN index
    * uses: cell count grows with N at ~512 rows/cell, so within-cell pair
    * work stays ~linear at 100 TB where a fixed blocking key would go
    * quadratic. Drop rule: x is dropped iff SOME smaller-id y in its cell
    * has cos(x, y) ≥ τ — the same min-id star rule as
    * llm_minhash_dedup_keep, with the same declared trade (y itself may be
    * dropped by a yet-smaller z; transitive chains collapse to the chain
    * min). Deterministic (parity-exact dots, total-order ids), hence
    * oracle-checkable: DuckDB replays cell assignment + the EXISTS drop
    * rule verbatim. Plan shape: one equi-self-join on vcell (shuffled hash
    * / SMJ on the cell key) + one anti-join on vec_id — never all pairs. */
  def llmSemdedup(spark: SparkSession, sfDir: String): DataFrame = {
    val x = cellAssigned(spark, sfDir)
    // fresh lineage for the right side (same pattern as llmEmbedNeardup) —
    // renamed projections over one lineage trip the self-join checker
    val y = cellAssigned(spark, sfDir).select(col("vec_id").as("b"),
      col("embedding").as("eb"), col("nrm").as("nb"), col("vcell").as("bcell"))
    val dropped = x.join(y,
        col("vcell") === col("bcell") && col("b") < col("vec_id") &&
          dot(col("embedding"), col("eb")) / (col("nrm") * col("nb")) >= SemDedupTau,
        "left_semi")
      .select("vec_id")
    x.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("vcell").cast("long").as("cell"))
      .orderBy("vec_id")
  }

  /** Every serving memo is LRU-bounded at this many (session, sfDir)
    * entries: the intended consumers hold ≤1 live entry (Verify/Bench: one
    * dir; ScaleStress: one dir at a time with an explicit release between
    * scales), so the cap never evicts in the shipped harnesses — it exists
    * so a long-lived session sweeping many directories WITHOUT releasing
    * accumulates a bounded set of cached DataFrames instead of growing for
    * the session lifetime. Eviction unpersists the cached storage; the next
    * touch of an evicted (session, sfDir) rebuilds and re-caches. */
  private val MemoCap = 4

  /** Cache lifecycle: one entry per (session, sfDir), built lazily and held
    * for the LIFETIME OF THE SESSION — the intended beneficiary is the
    * shared Verify/Bench session, where `llm_ann_ivf` and `llm_knn_label`
    * (2 consumers × 2 uses each) amortize one centroid-pipeline build; the
    * pinned footprint is bounded at ≤(3+2·MaxBits) narrow rows per vector
    * (the ranked probe shortlist) plus one embedding copy, which is exactly
    * what a real IVF deployment keeps resident as its serving index. Storage is released with the session (stopping the
    * SparkContext drops its cached blocks), so no explicit unpersist hook is
    * needed; the memo map exists so repeated query invocations reuse the ONE
    * cached plan instead of re-calling .cache() per invocation (which logged
    * "already cached" warnings every bench pass). */
  private val cellMemo = new ServingMemo(MemoCap)

  /** The served ANN RESULT (top-5 per vector — a, nn, rank, cos; ≤5·N
    * narrow rows) is memoized alongside the shortlist. Round 9's x100
    * measurement showed why the shortlist cache alone is not enough: the
    * expensive stage is DOWNSTREAM of it — the nprobe candidate join and
    * its ~2B exact dot products re-executed for every consumer, so
    * llm_knn_label still paid ~60 s at 100× with a fully warm shortlist.
    * Caching the topk output is what "knn rides the IVF index" actually
    * requires: the second consumer reads N×5 rows instead of re-scoring.
    * Same lifecycle and release hook as the shortlist memo. */
  private val topkMemo = new ServingMemo(MemoCap)

  /** Releases this session's IVF serving caches (storage + memo), so the
    * next touch rebuilds AND re-caches. For harnesses that sweep multiple
    * datasets through one session (ScaleStress) — a bare
    * `catalog.clearCache()` would drop the storage but leave the memoized
    * plan unmarked, silently downgrading later runs to uncached recompute. */
  private[graft] def releaseCellCache(spark: SparkSession): Unit = {
    cellMemo.release(spark)
    topkMemo.release(spark)
    pqTopkMemo.release(spark)
  }

  private def cellScored(spark: SparkSession, sfDir: String): DataFrame =
    cellMemo.get(spark, sfDir)(buildCellScored(spark, sfDir))

  /** Knee of the bucket-bit law (see bucketBits): below N = 512·2^KneeBits
    * ≈ 131k vectors, cells track the corpus at ~512 rows/cell (the round-6
    * invariant — the candidate join is the expensive stage down here and
    * the in-row centroid scan is trivial, so cells are spent freely; every
    * oracle SF and the ×10/×30 sweep points live in this regime with b
    * bit-identical to the pre-round-16 law). Above it cell count grows
    * ∝√N instead. */
  private val KneeBits = 8

  /** The bucket-bit LAW (round 16 — replaces the round-6
    * b = clamp(ceil(log2(N/512)), 0, 8), whose saturation stopped cell
    * count from tracking the corpus past N ≈ 131k so cell size grew ∝N and
    * BUILD candidate volume = N·nprobe·cellsize went ∝N² — the ×300
    * stretch probe measured the candidate sort spilling 268.7 GB memory +
    * 52.9 GB disk, ×72–123 wall, PQ twin identical. Round-16 completion
    * of that attribution: the measured ×300 knee was DOMINATED by the
    * sweep corpus itself — ScaleStress then grew embeddings as exact
    * key-shifted clones, giving every vector a byte-identical family of
    * size ∝N that no sign-projection law can split (this law still ran
    * ×130 with the same 240.9 GB spill signature on the clone corpus);
    * with the harness fixed to isometric-block growth the same build
    * measures ×20–26 at ×300, candidate sort spill-free. The saturation
    * defect was real — cells must track the corpus — but heavy exact/
    * near-exact duplication is a DATA property whose answer is dedup
    * before indexing (llm_dedup_exact / llm_semdedup), not a quantizer
    * law):
    *
    *   x = log2(N/512)
    *   b = clamp(ceil(min(x, KneeBits + (x − KneeBits)/2)), 0, MaxBits)
    *
    * Two regimes, continuous at the knee (x = KneeBits ⇔ N = 131k):
    * ~512-row cells below it (b unchanged vs the old law at every oracle
    * SF and the ×10/×30 sweep points — small-SF semantics, the sf0.1
    * recall gate and every DuckDB hash are untouched), and cell count
    * ∝√N above it (2^b ≈ 16·√(N/512) — the textbook IVF nlist law). Under
    * the √N branch cell SIZE grows ∝√N instead of ∝N, so build candidate
    * volume is ~N^1.5·log N and the in-row centroid scan (N·nlist flops,
    * no shuffle) is ~N^1.5 — balanced, where the old saturated branch
    * pushed all growth into the shuffled candidate join and the rejected
    * fork (raising MaxBits alone, keeping cells ∝N) would have pushed the
    * quadratic into the centroid scan. nprobe stays coupled to the bit
    * budget (3+2b, so ∝log N — NOT a constant fraction of cells, which
    * would re-quadratic the join); recall at the law's divergence points
    * is measured, not assumed (both growth regimes — table in SCALE.md
    * round 16): near-dup-FAMILY corpora hold recall@5
    * = 1.0 at ×100/×300 (the quantizer keeps 0.98-cosine families
    * together — the regime semantic dedup rides), while NEW-CONTENT
    * corpora decay to 0.17/0.15 as the log-growth probe budget covers a
    * shrinking cell fraction — the declared trade of a data-oblivious
    * quantizer at sub-quadratic build cost. Holding new-content recall
    * flat requires a constant SCANNED FRACTION (quadratic build) or
    * data-adaptive TRAINED centroids (see MaxBits; SCALE.md rounds
    * 17–18); the sf0.1 contract (recall@5 ≥ 0.4, LlmSpec) is the
    * gated surface and is unchanged.
    *
    * Parity: the halving introduces no new transcendental — min, subtract,
    * divide-by-2 and add are exact double ops, so the engine-agreement
    * argument is unchanged from the old law (exact-integer log2 inputs are
    * exact doubles on both engines, and the ceil never straddles an
    * engine-specific ulp). The DuckDB oracle mirror (ivfSql `bparam`)
    * replays this formula verbatim. */
  private[graft] def bucketBits(nTotal: Column): Column = {
    val x = log2(nTotal / lit(512.0))
    least(lit(MaxBits), greatest(lit(0), ceil(
      least(x, lit(KneeBits.toDouble) + (x - lit(KneeBits.toDouble)) / lit(2.0))))).cast("int")
  }

  /** The probe-budget law: nprobe = 3 + 2b, ∝log N (why: buildAnnTopk) —
    * the law the DuckDB oracle mirror replays. The √cells and
    * constant-fraction laws, and trained centroids stacked on them, were
    * measured at ×100/×300 and not shipped (SCALE.md rounds 17–18). */
  private[graft] def nprobeCol(bBits: Column): Column = lit(3) + lit(2) * bBits

  /** Emit cap of every cell ranking (the graft_ivf_topcells limit): the
    * probe law's budget at its MaxBits ceiling, so every bit budget finds
    * its nprobe ranks. */
  private val MaxRank = 3 + 2 * MaxBits

  /** The probe law as one predicate — rank ≤ 3 + 2·b(N), N the `nTotal`
    * scalar subquery — filtering both the batch build's and the stream
    * serve's cell rankings, so the two probe the same cells. */
  private def probed(rank: Column, spark: SparkSession, sfDir: String): Column =
    rank <= nprobeCol(bucketBits(nTotal(spark, sfDir)))

  /** Sign-bit bucket: bit j set iff hyperplane-j projection > 0, low b bits
    * only. The projection folds left-to-right in double, matching DuckDB's
    * list_aggregate('sum') fold, so the sign — and hence the bucket — is
    * parity-exact. Round 20: the MaxBits × (64-literal array + zip_with +
    * aggregate) Column tree is replaced by the native
    * `graft_sign_bucket` expression (same fold order, same null→0
    * collapse — LlmVectorSpec pins bit-equality against the old Column
    * twin): the ~3000-node interpreted-HOF tree was the bulk of the ANN
    * build's driver-side planning cost (r20 ProfileJobs: ~5.5 s of driver
    * gaps on the cold llm_knn_label build vs ≤1.3 s for the largest
    * stage) and its per-row evaluation allocated a 64-element array per
    * hyperplane per vector. */
  private def bucketCol(bBits: Column): Column =
    signBucket(col("embedding"), bBits)

  /** Every vector with its OWN coarse cell attached (vcell =
    * label·2^MaxBits + sign-projection bucket — the shift clears the full
    * bucket range, so cells never collide across labels) — the
    * corpus-tracking blocking key shared by the IVF index build and
    * `llm_semdedup`. Corpus size → bucket bits is a scalar subquery (no
    * collect). */
  private def cellAssigned(spark: SparkSession, sfDir: String): DataFrame =
    emb(spark, sfDir)
      .withColumn("vcell", col("label").cast("long") * lit(1L << MaxBits) +
        bucketCol(bucketBits(nTotal(spark, sfDir))))

  /** The corpus size as a scalar subquery — counts ALL embeddings rows,
    * nulls included, like the DuckDB oracle's bucket-bit parameter. */
  private def nTotal(spark: SparkSession, sfDir: String): Column =
    Tables.embeddings(spark, sfDir).agg(count(lit(1))).scalar()

  /** Per-cell rounded centroids (cell, centroid float[], centroid_nrm) —
    * shared by the scored-cell cache build and the IVF-PQ residual coder
    * (same expressions, so the two consumers cannot drift). */
  private def centroidRelation(spark: SparkSession, sfDir: String): DataFrame = {
    val e = cellAssigned(spark, sfDir)
    val sums = (0 until Dim).map(i =>
      sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i"))
    e.groupBy(col("vcell").as("cell"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("cell"), array((0 until Dim).map(i =>
        round(col(s"s$i") / col("n"), 4).cast("float")): _*).as("centroid"))
      // norm once per centroid BEFORE the matrix, not once per (vector, cell) pair
      .withColumn("centroid_nrm", norm(col("centroid")))
  }

  /** The whole centroid index as ONE scalar subquery value: a struct of
    * three parallel cell-ascending arrays (ids, row-major flattened
    * centroids, norms), k·(8+4·Dim+8) bytes — ~2.8 MB at the ×300 probe's
    * N=600k (10·2^10 cells), ~178 MB at the MaxBits=16 saturation point
    * (N ≈ 8.6×10⁹ — see the MaxBits doc). The driver computes it once
    * before the stage that scores against it, and the value ships inside
    * that stage's task binary (broadcast once per stage), so it must stay
    * a dimension-table-sized value.
    * Flat primitive arrays (not array<struct>) so the scorer's hot loop
    * reads them with zero per-cell allocations; array_sort on the struct
    * list orders by its first field (cell), making the layout
    * deterministic. Shared by the scored-cell cache build and the stream
    * serve (same layout, so the two `graft_ivf_topcells` consumers cannot
    * drift). */
  private def centroidMatrix(centroids: DataFrame): Column =
    centroids
      .agg(array_sort(collect_list(struct(col("cell"), col("centroid"), col("centroid_nrm")))).as("cs"))
      .select(struct(
        transform(col("cs"), c => c.getField("cell")).as("cells"),
        flatten(transform(col("cs"), c => c.getField("centroid"))).as("cflat"),
        transform(col("cs"), c => c.getField("centroid_nrm")).as("cnrms")))
      .scalar()

  /** One row per top-`limit` cell (a `graft_ivf_topcells` struct) of the
    * embedding `emb` against the centroid `matrix`. */
  private def topCells(emb: Column, nrm: Column, matrix: Column, limit: Int): Column =
    explode(ivfTopCells(emb, nrm, matrix.getField("cells"), matrix.getField("cflat"),
      matrix.getField("cnrms"), limit))

  /** IVF cell index: coarse cells = (label, sign-projection bucket)
    * centroids, components rounded to 4 decimals — the repo's margin for
    * shuffle-order-dependent double sums — so both engines land on the same
    * value despite sum-order drift in the avg (6 decimals would sit ~100×
    * closer to the drift scale). Every vector is scored against all k
    * centroids of the one-value centroid matrix (a scalar subquery —
    * dimension-table sized; no join at all) — then ranked per vector.
    *
    * CELL COUNT SCALES WITH THE CORPUS (round 6; growth LAW revised round
    * 16 — see bucketBits): with cells fixed to the 10 labels, per-cell
    * size grows ∝N and the probe⋈index candidate join does O(N²/10) dot
    * products — the ScaleStress harness measured llm_ann_ivf at 237× its
    * base time on 30× data (the only super-linear query). Each label cell
    * is therefore sub-divided by `b` sign bits of deterministic ±1
    * hyperplane projections (random-hyperplane LSH — sign agreement
    * probability falls with angle, so cosine-close vectors land in the
    * same bucket): ~512-row cells up to the 131k-vector knee, cell count
    * ∝√N past it (the bucketBits scaladoc carries the law and its ×300
    * measurement history). At the oracle/test scale factors (N=500 ≤ 512
    * → b=0) the sub-division is the identity, so recall specs and small-SF
    * behavior are unchanged; the hyperplanes are LCG-derived integer
    * arithmetic the DuckDB oracle regenerates exactly, and the projection
    * folds left-to-right in double on both engines, so bucket assignment
    * is parity-exact at every SF. */
  private def buildCellScored(spark: SparkSession, sfDir: String): DataFrame = {
    val matrix = centroidMatrix(centroidRelation(spark, sfDir))
    // Cached NARROW ranked top cells (vec_id, cell, dist2cell, cell_rank):
    // the relation is consumed twice per query (rank-1 index side + top-
    // (3+2b) probe side) and by TWO declared queries (llm_ann_ivf,
    // llm_knn_label) in the same session; without the cache each consumer
    // re-plans and re-codegens the whole centroid pipeline.
    // Round 6 narrowed the cached rows, round 7 capped them at rank ≤
    // 3+2·MaxBits; round 8 removes the N×k relation ALTOGETHER. The old
    // formulation exploded every (vector, centroid) pair (broadcast
    // fan-out → ~N·k 24-byte rows → per-vector ranking sort): at the 100×
    // sweep point that stage was ~61 GB of spill traffic and 52–98 s of
    // wall across same-code sweeps — all to keep ≤19 rows/vector. Now the
    // scorer (`graft_ivf_topcells`, a native expression) ranks all k cells
    // against each vector IN the row pipeline with a bounded insertion
    // pass and emits only the top-(3+2·MaxBits) structs, reading the
    // centroid matrix as one scalar subquery value — no join. Same dot
    // fold order, same (dist DESC, cell ASC) comparator semantics — the
    // cached relation is byte-identical to the fan-out formulation's, so
    // neither the oracle nor the recall spec can tell the difference.
    // Lazy (PlanSpec can still build plans without triggering jobs).
    // The repartition pins the SCORING parallelism (k·Dim flops per row)
    // to the session's shuffle width, not the scan's file-split layout
    // (the 100-file synthesized table at 100× packs into ~4 input splits),
    // and both consumers group/window on vec_id so the cache's
    // partitioning is reused with no further exchange.
    val parts = spark.sessionState.conf.numShufflePartitions
    emb(spark, sfDir).select("vec_id", "embedding", "nrm")
      .repartition(parts, col("vec_id"))
      .withColumn("tc", topCells(col("embedding"), col("nrm"), matrix, MaxRank))
      .select(col("vec_id"), col("tc.cell").as("cell"),
        col("tc.dist2cell").as("dist2cell"), col("tc.cell_rank").as("cell_rank"))
      .cache()
  }

  /** IVF-style ANN candidates → top-5: each vector indexes into its nearest
    * cell and probes the 3+2b nearest cells at query time, so candidate
    * generation is an equi-join on cell id — never all pairs. Both sides
    * read the ONE cached per-vector cell ranking (cellScored): the index
    * side is the rank-1 row (highest similarity, ties to the smallest
    * cell), the probe side ranks ≤ 3+2b — no argmax aggregate and no
    * per-consumer window re-sort. Deterministic (rounded centroids, total
    * orders), hence oracle-checkable; LlmSpec additionally measures recall
    * vs the exact baseline. This is the 100-TB similarity-search path. */
  private def annTopkCore(spark: SparkSession, sfDir: String): DataFrame =
    topkMemo.get(spark, sfDir)(buildAnnTopk(spark, sfDir).cache())

  private def buildAnnTopk(spark: SparkSession, sfDir: String): DataFrame =
    topkWithin(annCandidates(spark, sfDir, annIndex(spark, sfDir))
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .select("a", "b", "cos"))

  /** Every vector's own (rank-1) cell row of the cached ranking. */
  private def ownCell(spark: SparkSession, sfDir: String): DataFrame =
    cellScored(spark, sfDir).filter(col("cell_rank") === 1)

  /** The IVF index side (b, cell, eb, nb): every vector in its own cell,
    * embedding re-attached by vec_id equi-join (linear, broadcast at small
    * N / shuffled at scale) instead of riding every ranked row through the
    * join. The batch build and the stream serve both read this relation,
    * so a served query probes exactly the index the batch path probes. */
  private[graft] def annIndex(spark: SparkSession, sfDir: String): DataFrame =
    ownCell(spark, sfDir)
      .join(emb(spark, sfDir).select("vec_id", "embedding", "nrm"), "vec_id")
      .select(col("vec_id").as("b"), col("cell"),
        col("embedding").as("eb"), col("nrm").as("nb"))

  /** The IVF probe side (a, cell, ea, na): every vector in each of its
    * nprobe nearest cells. nprobe scales with the bucket-bit budget
    * (3 + 2b): more cells means each holds a smaller slice of a vector's
    * true neighborhood, so a fixed nprobe=3 would silently trade the
    * round-6 speedup for recall (measured at sf0.1/b=2: recall@5 vs exact
    * = 0.24 at nprobe 3 → 0.44 at 3+2b=7). Candidates/vector stay
    * ~bounded (~nprobe · 512-row cells), so total work grows ~N·log N —
    * the textbook IVF knob. */
  private def annProbes(spark: SparkSession, sfDir: String): DataFrame =
    cellScored(spark, sfDir)
      .filter(probed(col("cell_rank"), spark, sfDir))
      .join(emb(spark, sfDir).select("vec_id", "embedding", "nrm"), "vec_id")
      .select(col("vec_id").as("a"), col("cell"),
        col("embedding").as("ea"), col("nrm").as("na"))

  /** Probe ⋈ `index` on cell, self-pairs dropped — the candidate join of
    * plain IVF (float index) and IVF-PQ (codes index). The cell id alone
    * has only k distinct values, and the shuffled bytes are small enough
    * that AQE coalesces the join to ONE partition — which serializes every
    * candidate dot product into a single task (measured: a 2.4 s
    * single-task stage, the bulk of llm_ann_ivf's time). Sub-fragment the
    * join like cosineTopkCore: each cell's index shard is replicated over
    * nFrag sub-buckets, probes hash into one of them, and the numbered
    * repartition + shuffle_hash hint pin the scoring stage
    * partition-parallel. Same candidate set, same values — only the
    * physical distribution changes.
    *
    * Candidate-join width: the scoring + map-side WindowGroupLimit stage
    * sorts EVERY candidate row, and at ×100 the session-width (32-task)
    * form spilled 40.8 GB mem + 8.2 GB disk in that one stage — 66.5 of
    * the plain build's 79.5 s, and the identical signature (68.9 s) in
    * the PQ decode-dot + shortlist stage (round-14 ProfileJobs; the same
    * spill-onset signature as the round-13 graph builds). The shared
    * hysteresis rule widens it past onset (×100 → ~205 tasks, candidate
    * sort buffers resident) and leaves every other scale's plan
    * byte-identical (sf0.1/×10/×30 stay at session width; ×30's measured
    * band was already healthy). (cell, frag) has ~20k distinct keys, so
    * the wide hash distribution stays balanced. */
  private def annCandidates(spark: SparkSession, sfDir: String, index: DataFrame): DataFrame = {
    val nFrag = 8
    val indexF = index.withColumn("frag", explode(sequence(lit(0), lit(nFrag - 1))))
    val probesF = annProbes(spark, sfDir).withColumn("frag", pmod(hash(col("a")), lit(nFrag)))
    val parts = graft.ScaleRules.wideBuildWidth(
      spark, s"$sfDir/embeddings.parquet", graft.ScaleRules.AnnCandidateTaskBytes)
    probesF.repartition(parts, col("cell"), col("frag"))
      .join(indexF.hint("shuffle_hash"), Seq("cell", "frag"))
      .filter(col("a") =!= col("b"))
  }

  def llmAnnIvf(spark: SparkSession, sfDir: String): DataFrame =
    annTopkCore(spark, sfDir).orderBy("a", "rank")

  /** Candidate relation for an EXTERNAL query stream against the serving
    * index — the deployment shape the IVF index exists for (index once,
    * serve an unbounded query stream), shared by `StreamOps.streamAnnServe`
    * (round 18). `queries` is unbounded (qid, embedding float[Dim]); the
    * result is the stream of (qid, nn candidate, exact cos) rows:
    *
    *  - each query row ranks its cells IN-ROW against the centroid matrix
    *    (`graft_ivf_topcells`, capped at MaxRank like the cached batch
    *    ranking) and keeps the ranks the shared `probed` law admits — the
    *    same expression, matrix and corpus-size scalar subquery as the
    *    batch build, so a query vector that exists in the corpus probes
    *    EXACTLY the cells `llm_ann_ivf` probes for it;
    *  - candidates come from a stream-STATIC equi-join on cell against the
    *    rank-1 index side (`annIndex` over the memoized `cellScored`, the
    *    same relation the batch build probes) — stateless in the stream,
    *    so no watermark and no state store; per-query work is
    *    nprobe·cell-occupancy dot products, identical to a batch probe;
    *  - self-matches drop (a served query never returns its own id).
    *
    * Building the relation reads no table data: the corpus size and the
    * centroid matrix are scalar subqueries evaluated with each
    * micro-batch. */
  private[graft] def annServeCandidates(
      spark: SparkSession, sfDir: String, queries: DataFrame): DataFrame = {
    val matrix = centroidMatrix(centroidRelation(spark, sfDir))
    queries.withColumn("nq", norm(col("embedding")))
      .withColumn("tc", topCells(col("embedding"), col("nq"), matrix, MaxRank))
      .filter(probed(col("tc.cell_rank"), spark, sfDir))
      .select(col("qid"), col("tc.cell").as("cell"),
        col("embedding").as("eq"), col("nq"))
      .join(annIndex(spark, sfDir), "cell")
      .filter(col("b") =!= col("qid"))
      .withColumn("cos", dot(col("eq"), col("eb")) / (col("nq") * col("nb")))
      .select("qid", "b", "cos")
  }

  /** Every vector with its rank-1 cell, its centroid, and the RESIDUAL
    * (embedding − centroid, in double) — the quantity IVF-PQ quantizes:
    * residuals concentrate near 0 within a cell, so a fixed bit budget
    * spends its precision where the data is. */
  private def pqResiduals(spark: SparkSession, sfDir: String): DataFrame = {
    val own = ownCell(spark, sfDir).select("vec_id", "cell")
    emb(spark, sfDir).select("vec_id", "embedding")
      .join(own, "vec_id")
      .join(broadcast(centroidRelation(spark, sfDir).select("cell", "centroid")), "cell")
      .withColumn("resid", expr(
        s"""transform(sequence(0, ${Dim - 1}), i ->
           |  CAST(element_at(embedding, i+1) AS DOUBLE)
           |  - CAST(element_at(centroid, i+1) AS DOUBLE))""".stripMargin))
  }

  /** Exact per-dimension (min, max) bounds of `vec` per group of `keys`
    * (one row when there are none): the keys, then a struct of `lows` and
    * `highs`, double arrays in dimension order. Min/max are selections, so
    * there is no float-sum drift. */
  private def dimBounds(df: DataFrame, vec: Column, keys: String*): DataFrame = {
    val k = keys.map(col)
    df.select(k :+ posexplode(vec): _*).toDF(keys :+ "pos" :+ "v": _*)
      .groupBy(k :+ col("pos"): _*)
      .agg(min(col("v").cast("double")).as("lo"), max(col("v").cast("double")).as("hi"))
      .groupBy(k: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("lo"), col("hi")))).as("plh"))
      .select(k :+ struct(transform(col("plh"), p => p.getField("lo")).as("lows"),
        transform(col("plh"), p => p.getField("hi")).as("highs")): _*)
  }

  /** The per-cell coder dimension table (cell-count rows — ~10k at the
    * ×300 probe, ~655k at the MaxBits cap): exact per-dimension
    * residual bounds plus the decode affine — base = centroid + lo and
    * scale = (hi − lo)/255, so decode is b̂ᵢ = baseᵢ + (codeᵢ+128)·scaleᵢ.
    * Bounds come from `dimBounds`, so they are deterministic. */
  private def pqCellDim(spark: SparkSession, sfDir: String): DataFrame =
    dimBounds(pqResiduals(spark, sfDir), col("resid"), "cell")
      .toDF("cell", "bounds").select("cell", "bounds.*")
      .join(broadcast(centroidRelation(spark, sfDir).select("cell", "centroid")), "cell")
      .select(col("cell"), col("lows"),
        expr(s"""transform(sequence(0, ${Dim - 1}), i ->
           |  CAST(element_at(centroid, i+1) AS DOUBLE) + element_at(lows, i+1))""".stripMargin)
          .as("base"),
        expr(s"""transform(sequence(0, ${Dim - 1}), i ->
           |  (element_at(highs, i+1) - element_at(lows, i+1)) / 255.0D)""".stripMargin)
          .as("scale"))

  /** The IVF-PQ codes index: one row per vector holding ONLY its cell,
    * the uint8 residual codes (stored −128-shifted as array<tinyint> —
    * one byte per dimension, 4× smaller than the float vector), and the
    * reconstructed norm. This is the billion-vector memory layout a
    * serving tier would keep resident: with the cell-count-row coder
    * table it is all candidate scoring reads — the float embeddings are
    * only touched again to refine a 20-candidate shortlist per query.
    * It is not cached on its own: its one consumer, the PQ top-k, is
    * memoized. Codes are exact-deterministic
    * (integer rounding on exact min/max bounds; the fp-safety clamp can
    * only fire on the boundary value itself). */
  private[graft] def buildPqIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val codeExpr = expr(
      s"""transform(sequence(0, ${Dim - 1}), i ->
         |  CAST(CASE WHEN element_at(scale, i+1) = 0.0D THEN -128
         |    ELSE least(127, greatest(-128,
         |      CAST(floor((element_at(resid, i+1) - element_at(lows, i+1))
         |        / element_at(scale, i+1) + 0.5D) AS INT) - 128))
         |  END AS TINYINT))""".stripMargin)
    pqResiduals(spark, sfDir)
      .join(broadcast(pqCellDim(spark, sfDir)), "cell")
      .withColumn("codes", codeExpr)
      .withColumn("rnorm", expr(
        s"""sqrt(aggregate(sequence(0, ${Dim - 1}), 0.0D, (acc, i) ->
           |  acc + pow(element_at(base, i+1)
           |    + (CAST(element_at(codes, i+1) AS DOUBLE) + 128.0D)
           |      * element_at(scale, i+1), 2.0D)))""".stripMargin))
      .select(col("vec_id").as("b"), col("cell"), col("codes"), col("rnorm"))
  }

  /** IVF-PQ ANN — `llm_ann_ivf`'s cell probing composed with
    * `llm_embed_quantize`'s uint8 machinery applied to RESIDUALS inside
    * each cell: candidates are scored from the codes index alone (the
    * codegen'd `graft_pq_dot` decode-dot — the serving state never holds
    * floats; the same scoring as a SQL higher-order `aggregate` lambda
    * measured ×48 at the 30× sweep, interpreted closures per element),
    * the top-20 shortlist per query is then refined with exact dot
    * products, and the final top-5 is emitted by exact score. Work per
    * query is the same nprobe·cell-size candidate set as plain IVF —
    * including its anti-coalesce sub-fragmentation (without it AQE folds
    * the few-distinct-cell join to one partition and serializes every
    * decode-dot into a single task); memory per served vector drops 4×
    * in payload (64 code bytes vs 256 float bytes), which is what decides
    * how many vectors fit a serving tier at 10⁹ scale. Like plain IVF the
    * result memoizes (build-once/serve-cheap; ScaleStress reports the
    * `_build` line separately). LlmSpec pins recall@5 ≥ the plain-IVF
    * floor on the real sf0.1 embeddings and measures the codes index's
    * cached bytes vs the float layout's with per-row byte pins; no oracle (the
    * shortlist refinement's tie behavior is engine-internal — the exact
    * path `llm_ann_ivf` is the oracle-checked row). */
  private def buildAnnPqTopk(spark: SparkSession, sfDir: String): DataFrame = {
    // the same sub-fragmented, spill-onset-width candidate join as plain
    // IVF, against the codes index instead of the float one
    val approx = annCandidates(spark, sfDir, buildPqIndex(spark, sfDir))
      .join(broadcast(pqCellDim(spark, sfDir).select("cell", "base", "scale")), "cell")
      .withColumn("acos",
        pqDot(col("ea"), col("codes"), col("base"), col("scale")) / (col("na") * col("rnorm")))
    // narrow shortlist BEFORE the window (topkWithin's wide-row lesson),
    // then re-attach floats for the exact refinement of 20 rows/query
    val w = Window.partitionBy("a").orderBy(desc("acos"), asc("b"))
    val shortlist = approx.select("a", "b", "acos")
      .withColumn("r", row_number().over(w)).filter(col("r") <= 20)
      .select("a", "b")
    val va = emb(spark, sfDir)
      .select(col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na"))
    val vb = emb(spark, sfDir)
      .select(col("vec_id").as("b"), col("embedding").as("eb"), col("nrm").as("nb"))
    topkWithin(shortlist.join(va, "a").join(vb, "b")
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .select("a", "b", "cos"))
  }

  /** Memoized PQ top-k (the annTopkCore pattern): repeat serves read the
    * cached result; the first call per (session, sfDir) pays the build. */
  private val pqTopkMemo = new ServingMemo(MemoCap)

  def llmAnnIvfPq(spark: SparkSession, sfDir: String): DataFrame =
    pqTopkMemo.get(spark, sfDir)(buildAnnPqTopk(spark, sfDir).cache())
      .orderBy("a", "rank")

  /** Scalar (per-dimension min/max → uint8) embedding quantization — the
    * memory side of similarity search at 100 TB: 4× smaller vectors to
    * broadcast/probe, with the reconstruction error quantifying the recall
    * cost. Bounds come from an exact per-dimension min/max aggregate
    * (selections — no float-sum drift, so both engines see identical
    * bounds) read by every row as one scalar subquery; codes are integers, so
    * `code_sum` is parity-trivial, and the MSE is the usual left-to-right
    * double fold both engines share. */
  def llmEmbedQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val bounds = dimBounds(e, col("embedding")).scalar()
    e.withColumns(Map("lows" -> bounds.getField("lows"), "highs" -> bounds.getField("highs")))
      .withColumn("codes", expr(
        """transform(sequence(0, size(embedding) - 1),
          |  i -> CASE WHEN highs[i] = lows[i] THEN 0L
          |    ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - lows[i])
          |      / (highs[i] - lows[i]) * 255.0D + 0.5D) AS LONG) END)""".stripMargin))
      .select(col("vec_id"),
        expr("CAST(aggregate(codes, 0L, (acc, x) -> acc + x) AS BIGINT)").as("code_sum"),
        expr(
          """round(aggregate(sequence(0, size(embedding) - 1), CAST(0.0 AS DOUBLE),
            |  (acc, i) -> acc
            |    + (CAST(embedding[i] AS DOUBLE) - (lows[i] + CAST(codes[i] AS DOUBLE) / 255.0D * (highs[i] - lows[i])))
            |    * (CAST(embedding[i] AS DOUBLE) - (lows[i] + CAST(codes[i] AS DOUBLE) / 255.0D * (highs[i] - lows[i]))))
            |  / size(embedding), 6)""".stripMargin).as("mse"))
      .orderBy("vec_id")
  }

  /** Multimodal plumbing: documents as opaque binary payloads with typed
    * metadata; features here are deterministic (byte length + md5) so the
    * pipeline is oracle-checkable end-to-end. The container pack/decode
    * stage lives in MultimodalOps and is its own declared query
    * (`llm_multimodal_decode`). */
  def llmMultimodalFeatures(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("meta", struct(col("lang"), col("n_chars")))
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("payload_md5"),
        col("meta.lang").as("meta_lang"))
      .orderBy("doc_id")

  /** Deterministic frame sampling over multimodal payloads: every doc's
    * payload is sliced at a fixed stride (frame 16 units every 64, the
    * video-keyframe idiom) and each sampled frame gets a content
    * fingerprint. This is the Spark-side plumbing a real pipeline runs
    * before a decode stage (offset arithmetic, per-frame explode, bounded
    * fan-out of len/stride rows per doc — linear, partial-agg friendly);
    * the container-level decode lives in MultimodalOps.decode (a real
    * length-prefixed GRFT parser — codec libs are absent in this container,
    * so payloads are UTF-8 bytes), and the frames here are sliced from the
    * text payload so both engines can fingerprint the identical bytes. */
  def llmFrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    val frameLen = 16
    val stride = 64
    // The sub-frame-length guard must come BEFORE the division: Spark's DIV
    // truncates toward zero but DuckDB's // floors, so a negative dividend
    // ((len - frame) for a short doc) would round differently on the two
    // engines. With the CASE, the division only ever sees non-negative
    // values, where the semantics agree.
    Tables.documents(spark, sfDir)
      .withColumn("n_frames", expr(
        s"CASE WHEN length(text) >= $frameLen THEN (length(text) - $frameLen) DIV $stride + 1 ELSE 0 END"))
      .filter(col("n_frames") > 0)
      .withColumn("frame_idx", explode(sequence(lit(0L), col("n_frames") - 1)))
      .select(col("doc_id"), col("frame_idx"),
        md5(expr(s"substring(text, CAST(frame_idx * $stride + 1 AS INT), $frameLen)")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Full multimodal round-trip as a declared query: documents → opaque
    * payload → GRFT container pack → binary frame-record decode → integer
    * features (MultimodalOps). The features are computed from the PARSED
    * container bytes only; the DuckDB oracle independently recomputes them
    * from the source blob with hex-pair arithmetic (`hex(encode(text))` +
    * `CAST('0x..')` byte sums), so a decoder that mis-read the framing —
    * wrong chunk boundary, skipped record, header trust — diverges on the
    * frame-index-weighted checksum and fails the hash gate. mapPartitions
    * per-row binary work; linear, no shuffle before the final sort. */
  def llmMultimodalDecode(spark: SparkSession, sfDir: String): DataFrame =
    MultimodalOps.decode(MultimodalOps.pack(MultimodalOps.fromDocuments(spark, sfDir)))
      .toDF().orderBy("doc_id")

  /** MMR (maximal marginal relevance) diversified re-ranking — the
    * serving-stage operator between retrieval and the context window: a
    * recall stage produces CANDIDATES, the reranker trades relevance
    * against redundancy (score = λ·rel − (1−λ)·max-sim-to-selected,
    * λ = 0.7) so near-duplicate passages don't crowd out coverage.
    * The candidate gather is distributed (exact cosine to the probe —
    * the min-vec_id embedding — via broadcast + TakeOrdered top-32); the
    * greedy loop then runs on the COLLECTED 32-row candidate list — a
    * bounded planning list by the operator's own definition (reranking
    * exists because the candidate set is small; the BPE-argmax
    * convention) — selecting 8 of 32 with ties by vec_id. Driver
    * arithmetic is plain sequential double ops over a deterministically
    * ordered list, so output is rerun-stable. No oracle (greedy
    * selection isn't SQL); Round12OpsSpec replays the greedy invariant
    * per step and pins the diversity win vs the plain top-8. */
  def llmMmrRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val probe = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"), col("nrm").as("pn"))
    val cands = e.crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= col("pid"))
      .withColumn("rel", dot(col("embedding"), col("pe")) / (col("nrm") * col("pn")))
      .orderBy(desc("rel"), col("vec_id")).limit(MmrCandidates)
      .select("vec_id", "rel", "embedding", "nrm")
      .collect() // bounded: exactly MmrCandidates rows (the rerank input)
    val cs = cands.map(r => (r.getLong(0), r.getDouble(1),
      r.getSeq[Float](2).map(_.toDouble).toArray, r.getDouble(3)))
    def cos(a: (Long, Double, Array[Double], Double), b: (Long, Double, Array[Double], Double)): Double = {
      var s = 0.0; var i = 0
      while (i < a._3.length) { s += a._3(i) * b._3(i); i += 1 }
      s / (a._4 * b._4)
    }
    var selected = Vector.empty[(Long, Double, Array[Double], Double, Double)]
    var rest = cs.toList
    while (selected.size < MmrK && rest.nonEmpty) {
      val best = rest.map { c =>
        val maxSim = if (selected.isEmpty) 0.0
          else selected.map(s => cos(c, (s._1, s._2, s._3, s._4))).max
        (c, MmrLambda * c._2 - (1 - MmrLambda) * maxSim)
      }.maxBy { case (c, score) => (score, -c._1) }
      selected :+= ((best._1._1, best._1._2, best._1._3, best._1._4, best._2))
      rest = rest.filterNot(_._1 == best._1._1)
    }
    import spark.implicits._
    selected.zipWithIndex.map { case ((id, rel, _, _, score), i) =>
      ((i + 1).toLong, id,
        BigDecimal(rel).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(score).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("rank", "vec_id", "relevance", "mmr_score")
      .orderBy("rank")
  }

  private val MmrCandidates = 32
  private val MmrK = 8
  private val MmrLambda = 0.7

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_multimodal_decode" -> llmMultimodalDecode,
    "llm_frame_sample" -> llmFrameSample,
    "llm_cosine_topk" -> llmCosineTopk,
    "llm_ann_recall" -> llmAnnRecall,
    "llm_knn_label" -> llmKnnLabel,
    "llm_embed_neardup" -> llmEmbedNeardup,
    "llm_semdedup" -> llmSemdedup,
    "llm_ann_ivf" -> llmAnnIvf,
    "llm_ann_ivfpq" -> llmAnnIvfPq,
    "llm_embed_quantize" -> llmEmbedQuantize,
    "llm_multimodal_features" -> llmMultimodalFeatures,
    "llm_mmr_rerank" -> llmMmrRerank,
  )

  private val cosSql =
    """list_aggregate(list_transform(list_zip(ea.embedding, eb.embedding),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
      |  / (sqrt(list_aggregate(list_transform(ea.embedding,
      |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
      |   * sqrt(list_aggregate(list_transform(eb.embedding,
      |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))""".stripMargin

  /** DuckDB replay of the deterministic IVF pipeline (cellScored +
    * annTopkCore): composite (label, sign-bucket) cells with the same
    * LCG-derived hyperplanes and count-driven bit budget as the engine
    * (the bucketBits two-regime law, replayed verbatim in `bparam`),
    * rounded centroids cast to REAL, all-cell scoring, rank-1 index /
    * rank ≤ 3+2b probes, candidate pairs with exact per-pair cosine. Ends
    * with a `cand(a, b, cos)` CTE. */
  private val ivfSql =
    """ex AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_aggregate(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
      |  FROM embeddings),
      |bparam AS (
      |  SELECT LEAST(16, GREATEST(0, CAST(ceil(
      |    LEAST(x, 8.0 + (x - 8.0) / 2.0)) AS INT))) AS b
      |  FROM (SELECT log2(count(*) / 512.0) AS x FROM embeddings)),
      |wgt AS (
      |  SELECT j, list(CASE WHEN ((((j * 64 + i + 1) * 1103515245 + 12345)
      |                             % 2147483648) // 65536) % 2 = 0
      |                 THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
      |                 ORDER BY i) AS w
      |  FROM range(0, 16) t(j), range(0, 64) s(i)
      |  GROUP BY j),
      |sgn AS (
      |  SELECT e.vec_id, w.j,
      |    list_aggregate(list_transform(list_zip(e.embedding, w.w),
      |      p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum') AS d
      |  FROM ex e CROSS JOIN wgt w CROSS JOIN bparam WHERE w.j < bparam.b),
      |buck AS (
      |  SELECT e.vec_id,
      |    CAST(coalesce(sum(CASE WHEN s.d > 0
      |      THEN (CAST(1 AS BIGINT) << s.j) ELSE 0 END), 0) AS BIGINT) AS bucket
      |  FROM ex e LEFT JOIN sgn s ON e.vec_id = s.vec_id
      |  GROUP BY e.vec_id),
      |exc AS (
      |  SELECT e.vec_id, e.embedding, e.nrm,
      |    CAST(e.label AS BIGINT) * 65536 + bk.bucket AS vcell
      |  FROM ex e JOIN buck bk ON e.vec_id = bk.vec_id),
      |cpos AS (
      |  SELECT vcell AS cell, pos, round(avg(CAST(v AS DOUBLE)), 4) AS cv
      |  FROM (SELECT vcell, unnest(embedding) AS v,
      |          generate_subscripts(embedding, 1) AS pos FROM exc)
      |  GROUP BY vcell, pos),
      |centn AS (
      |  SELECT cell, centroid,
      |    sqrt(list_aggregate(list_transform(centroid,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS cnrm
      |  FROM (SELECT cell, list(CAST(cv AS REAL) ORDER BY pos) AS centroid
      |        FROM cpos GROUP BY cell)),
      |ranked AS (
      |  SELECT vec_id, embedding, nrm, cell,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2c DESC, cell ASC) AS cell_rank
      |  FROM (
      |    SELECT e.vec_id, e.embedding, e.nrm, c.cell,
      |      list_aggregate(list_transform(list_zip(e.embedding, c.centroid),
      |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
      |        / (e.nrm * c.cnrm) AS d2c
      |    FROM ex e CROSS JOIN centn c)),
      |cand AS (
      |  SELECT p.vec_id AS a, i.vec_id AS b,
      |    list_aggregate(list_transform(list_zip(p.embedding, i.embedding),
      |      q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), 'sum')
      |      / (p.nrm * i.nrm) AS cos
      |  FROM ranked p JOIN ranked i
      |    ON p.cell = i.cell AND i.cell_rank = 1 AND p.vec_id <> i.vec_id
      |  CROSS JOIN bparam
      |  WHERE p.cell_rank <= 3 + 2 * bparam.b)""".stripMargin

  val oracles: Map[String, String] = Map(
    "llm_multimodal_decode" ->
      """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents),
        |s AS (SELECT doc_id, octet_length(p) AS L, hex(p) AS h FROM b),
        |f AS (SELECT doc_id, L,
        |  coalesce(list_aggregate(list_transform(generate_series(1, L),
        |    i -> CAST(concat('0x', substring(h, 2*i-1, 2)) AS BIGINT)), 'sum'), 0) AS checksum,
        |  coalesce(list_aggregate(list_transform(generate_series(1, L),
        |    i -> CAST(concat('0x', substring(h, 2*i-1, 2)) AS BIGINT)
        |         * ((i-1) // 24 + 1)), 'sum'), 0) AS wsum
        |  FROM s)
        |SELECT doc_id, CAST(L AS BIGINT) AS n_bytes,
        |  CAST((L + 23) // 24 AS BIGINT) AS n_frames,
        |  CAST(checksum AS BIGINT) AS checksum, CAST(wsum AS BIGINT) AS wsum
        |FROM f ORDER BY doc_id""".stripMargin,
    "llm_frame_sample" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(text) >= 16
        |         THEN (length(text) - 16) // 64 + 1 ELSE 0 END AS n_frames
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT))) AS frame_idx
        |  FROM d WHERE n_frames > 0)
        |SELECT f.doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  md5(substring(text, CAST(frame_idx * 64 + 1 AS INT), 16)) AS frame_md5
        |FROM f JOIN documents USING (doc_id)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "llm_cosine_topk" ->
      s"""WITH pairs AS (
         |  SELECT ea.vec_id AS a, eb.vec_id AS b,
         |    $cosSql AS cos
         |  FROM embeddings ea JOIN embeddings eb ON ea.vec_id <> eb.vec_id),
         |ranked AS (
         |  SELECT a, b, cos,
         |    row_number() OVER (PARTITION BY a ORDER BY cos DESC, b ASC) AS rank
         |  FROM pairs)
         |SELECT a, b AS nn, rank, round(cos, 6) AS cos FROM ranked
         |WHERE rank <= 5 ORDER BY a, rank""".stripMargin,
    // both halves are this library's own oracle-proven pipelines (ivfSql's
    // cand + the llm_cosine_topk all-pairs ranking), composed: per-label
    // recall@5 of the IVF candidates against the exact baseline
    "llm_ann_recall" ->
      s"""WITH $ivfSql,
         |ann AS (
         |  SELECT a, b FROM (
         |    SELECT a, b,
         |      row_number() OVER (PARTITION BY a ORDER BY cos DESC, b ASC) AS rank
         |    FROM cand) WHERE rank <= 5),
         |exact AS (
         |  SELECT a, b FROM (
         |    SELECT a, b,
         |      row_number() OVER (PARTITION BY a ORDER BY cos DESC, b ASC) AS rank
         |    FROM (SELECT ea.vec_id AS a, eb.vec_id AS b,
         |            $cosSql AS cos
         |          FROM embeddings ea JOIN embeddings eb ON ea.vec_id <> eb.vec_id))
         |  WHERE rank <= 5)
         |SELECT CAST(lb.label AS BIGINT) AS label,
         |  CAST(count(DISTINCT e.a) AS BIGINT) AS n_queries,
         |  CAST(count(*) AS BIGINT) AS exact_pairs,
         |  CAST(sum(CASE WHEN ann.b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |  round(sum(CASE WHEN ann.b IS NOT NULL THEN 1.0 ELSE 0.0 END) / count(*), 4) AS recall5
         |FROM exact e
         |LEFT JOIN ann ON e.a = ann.a AND e.b = ann.b
         |JOIN embeddings lb ON e.a = lb.vec_id
         |GROUP BY lb.label ORDER BY label""".stripMargin,
    "llm_knn_label" ->
      s"""WITH $ivfSql,
         |topk AS (
         |  SELECT a, b FROM (
         |    SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY cos DESC, b ASC) AS rank
         |    FROM cand) WHERE rank <= 5),
         |votes AS (
         |  SELECT topk.a, lb.label AS nn_label, count(*) AS votes
         |  FROM topk JOIN embeddings lb ON topk.b = lb.vec_id
         |  GROUP BY topk.a, lb.label),
         |pred AS (
         |  SELECT a AS vec_id, nn_label AS pred FROM (
         |    SELECT a, nn_label,
         |      row_number() OVER (PARTITION BY a ORDER BY votes DESC, nn_label ASC) AS rn
         |    FROM votes) WHERE rn = 1)
         |SELECT e.label, count(*) AS n,
         |  round(avg(CASE WHEN pred.pred = e.label THEN 1.0 ELSE 0.0 END), 4) AS acc
         |FROM pred JOIN embeddings e USING (vec_id)
         |GROUP BY e.label ORDER BY e.label""".stripMargin,
    "llm_embed_neardup" ->
      s"""SELECT a, b, round(cos, 6) AS cos FROM (
         |  SELECT ea.vec_id AS a, eb.vec_id AS b,
         |    $cosSql AS cos
         |  FROM embeddings ea JOIN embeddings eb
         |    ON ea.label = eb.label AND ea.vec_id < eb.vec_id)
         |WHERE cos >= 0.45 ORDER BY a, b""".stripMargin,
    // cell assignment is the ivfSql prefix through `exc` (vec_id,
    // embedding, nrm, vcell); the unreferenced downstream CTEs (centroids,
    // ranking, candidates) are pruned by DuckDB's optimizer
    "llm_semdedup" ->
      s"""WITH $ivfSql,
         |dropped AS (
         |  SELECT DISTINCT x.vec_id
         |  FROM exc x JOIN exc y
         |    ON x.vcell = y.vcell AND y.vec_id < x.vec_id
         |  WHERE list_aggregate(list_transform(list_zip(x.embedding, y.embedding),
         |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
         |    / (x.nrm * y.nrm) >= 0.45)
         |SELECT e.vec_id, CAST(e.vcell AS BIGINT) AS cell
         |FROM exc e LEFT JOIN dropped d ON e.vec_id = d.vec_id
         |WHERE d.vec_id IS NULL
         |ORDER BY e.vec_id""".stripMargin,
    "llm_ann_ivf" ->
      s"""WITH $ivfSql
         |SELECT a, b AS nn, rank, round(cos, 6) AS cos FROM (
         |  SELECT a, b, cos,
         |    row_number() OVER (PARTITION BY a ORDER BY cos DESC, b ASC) AS rank
         |  FROM cand)
         |WHERE rank <= 5 ORDER BY a, rank""".stripMargin,
    "llm_embed_quantize" ->
      """WITH stats AS (
        |  SELECT pos, min(CAST(v AS DOUBLE)) AS lo, max(CAST(v AS DOUBLE)) AS hi
        |  FROM (SELECT unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS pos FROM embeddings)
        |  GROUP BY pos),
        |b AS (SELECT list(lo ORDER BY pos) AS lows, list(hi ORDER BY pos) AS highs
        |      FROM stats),
        |q AS (
        |  SELECT vec_id, embedding, lows, highs,
        |    list_transform(generate_series(1, len(embedding)),
        |      i -> CASE WHEN highs[i] = lows[i] THEN CAST(0 AS BIGINT)
        |        ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - lows[i])
        |          / (highs[i] - lows[i]) * 255.0 + 0.5) AS BIGINT) END) AS codes
        |  FROM embeddings CROSS JOIN b)
        |SELECT vec_id,
        |  CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
        |  round(list_aggregate(list_transform(generate_series(1, len(embedding)),
        |    i -> (CAST(embedding[i] AS DOUBLE) - (lows[i] + CAST(codes[i] AS DOUBLE) / 255.0 * (highs[i] - lows[i])))
        |       * (CAST(embedding[i] AS DOUBLE) - (lows[i] + CAST(codes[i] AS DOUBLE) / 255.0 * (highs[i] - lows[i])))), 'sum')
        |    / len(embedding), 6) AS mse
        |FROM q ORDER BY vec_id""".stripMargin,
    "llm_multimodal_features" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS payload_md5, lang AS meta_lang
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
