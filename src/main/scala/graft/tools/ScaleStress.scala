package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}
import scala.util.control.NonFatal

/** Scale-stress harness: measures whether the headline query plans actually
  * scale, instead of arguing from plan shape.
  *
  * Synthesizes ~sf1 / ~sf3 datasets from the sf0.1 tables by KEY-REMAPPED
  * unions — copy i offsets every entity key (orderkey, custkey, suppkey,
  * partkey, event/user id, doc/vec id) by i·10^8, so the synthesized data
  * has N× rows AND N× entities with the same per-entity history sizes,
  * i.e. real growth, not degenerate fan-out:
  *   - `source` on documents is suffixed per copy and document text gets a
  *     per-copy marker token, so (lang, source)-blocked similarity queries
  *     see N× blocks of the base size (how a real corpus grows) rather than
  *     N-cliques of byte-identical duplicates that would square the
  *     near-dup pair graph;
  *   - nation/region stay fixed (schema-fixed dimensions — they do NOT
  *     scale with data volume, which is what keeps them broadcastable);
  *   - events keep their time range: more events per window, same horizon;
  *   - embeddings copies are per-copy ISOMETRIES of the base vectors
  *     (dimension permutation + sign flips — see the synthesize entry), so
  *     the vector corpus grows as N× neighborhood-blocks of the base size
  *     rather than N-families of byte-identical twins that no quantizer
  *     could ever separate (round 16 — the clone corpus made the ann
  *     build's candidate volume quadratic UNDER ANY cell-count law).
  *
  * Then times the headline queries (min of 2 runs, warm session — the Bench
  * protocol) at 1× / 10× / 30× and prints one JSON line per scale plus a
  * final summary with the time ratios. Near-linear ratios (≈10 / ≈30,
  * modulo fixed per-query overhead which deflates them) confirm the plans
  * hold; anything super-linear is a scaling bug to fix.
  *
  * Usage: runMain graft.tools.ScaleStress [baseSfDir] [outRoot] [mults]
  * Defaults: /root/testdata/sf0.1 /tmp/graft_scale 10,30
  */
object ScaleStress {

  /** Per-copy key offset — far above any base key at these SFs. */
  private val Offset = 100000000L

  /** The queries whose 100×-scale story the repo claims: the flagship agg,
    * fact-fact joins, sessionization, a window, two heavy TPC-H idioms, the
    * dedup family, IVF ANN, heavy hitters, the sinks, and the round-6b
    * additions (bloom semi-join pushdown, IVM merge, attribution as-of,
    * domain resampling, SLA latency, Pareto, dq sweep, SCD2, cohort LTV,
    * split, z-order). join_fuzzy_match joined the sweep in round 7: its
    * candidate stage is now a symmetric-delete signature join (work ∝
    * near-dup density, not Σ block²), so a sub-quadratic wall-clock ratio
    * is a claim this harness can and must check. The round-7 lakehouse
    * sinks (time travel = 3 sequential merge batches from a clean root,
    * manifest prune = range-partitioned rewrite + per-file stats + pruned
    * read) are swept too: both re-execute their write path per run, so
    * their ratios bound the full protocol, not just the read.
    * win_ntile_cume joined after its round-7 parallelization (global
    * ranking via value buckets + offset join instead of an unpartitioned
    * window): the whole point of that rewrite is the 100× shape, so the
    * sweep must hold it to a ~linear ratio. */
  private[tools] val headline = Seq(
    "agg_pricing_summary", "scan_pruned", "join_inner_hash", "join_asof",
    "q9_product_profit", "q21_sole_latest_supplier", "evt_session",
    "win_topk_per_group", "llm_dedup_exact", "llm_chunk_dedup",
    "llm_ngram_jaccard", "llm_ann_ivf", "llm_dedup_cluster",
    "agg_freq_items", "sink_merge_upsert",
    "join_bloom_prefilter", "agg_incremental", "evt_attribution",
    "llm_domain_resample", "ts_ship_latency", "win_pareto",
    "dq_constraints", "scd2_history", "evt_cohort_ltv",
    "llm_split_stratified", "sink_zorder", "join_fuzzy_match",
    // round 17: the output-bounded fuzzy mode — its claim IS a scale claim
    // (emitted rows ≤ k·N while candidate/confirm still pay true-near-dup
    // density), so the sweep must measure it next to the unbounded row
    "join_fuzzy_topk",
    "llm_multimodal_decode", "sink_time_travel", "sink_manifest_prune",
    "win_ntile_cume",
    // round 8: the three most pair-shaped operators that were not yet
    // ratio-measured — banded-LSH minhash dedup, the blocked cosine top-k
    // pair join, and the IVF-shortlist kNN labeler
    "llm_dedup_minhash", "llm_cosine_topk", "llm_knn_label",
    // round 9: the representative-based minhash dedup — the linear-work
    // scale path past the pair listing (see maxMult note below)
    "llm_minhash_dedup_keep",
    // round 10: the two layout-technique operators — bucketed co-located
    // join (re-runs both bucketed writes per invocation, so its ratio
    // bounds write+join) and dynamic partition pruning (partitioned write
    // + runtime-pruned star join) — plus the three engine-surface rows
    // whose scale shapes are worth holding to a ratio: the decorrelated
    // LATERAL (window-rank over the fact table), the recursive CTE
    // (log10-depth iteration), and the VARIANT parse (per-row binary
    // encode + typed extraction)
    "sink_bucketed_join", "source_dpp_prune",
    "sql_lateral_join", "sql_recursive_cte", "json_variant",
    // the near-dup-safe split shares the keep query's star-edge + CC
    // machinery; swept so the family's scale story covers it directly
    "llm_split_neardup_safe",
    // BPE training: merge rounds operate on the vocabulary table, so only
    // the initial word-count scan should grow with the corpus — the sweep
    // holds the claim to a near-flat ratio
    "llm_bpe_merges",
    // round 11: deletion-vector DELETE (write + sidecar build + merge-on-
    // read — every stage linear in rows, the DV side O(deleted)), BPE
    // ENCODE (near-flat training + once-per-distinct-word encode + linear
    // rejoin), and the mergeable KLL quantile rollup (two-level partial
    // aggregate, sketch-sized state)
    "sink_delete_vectors", "llm_bpe_encode", "agg_quantile_merge",
    // write-time clustering: narrow-projection range rewrite + the agg it
    // accelerates — the ratio bounds write + combine-friendly aggregate
    "sink_clustered_write",
    // round 11 late additions: DV purge (selective rewrite — cost tracks
    // the heavy files, not the table), the CMS merge rollup (sketch-sized
    // state like the KLL row), and semantic dedup (within-cell pairs on
    // the corpus-tracking IVF cell key — ~512-row cells hold pair work
    // ~linear)
    "sink_dv_purge", "agg_cms_merge", "llm_semdedup",
    // IGNORE NULLS navigation (one user_id window) and the one-partition
    // dynamic overwrite (partitioned write + selective replace)
    "win_ignore_nulls", "sink_partition_overwrite",
    // sweep-line concurrency (calendar-bounded window), UNPIVOT melt, and
    // the first-occurrence gram-novelty index (explode + two gram-key
    // shuffles — the gram-volume-linear shape worth holding to a ratio)
    "ts_concurrent_intervals", "sql_unpivot", "llm_ngram_novelty",
    // row-pattern matching (one shuffle + bounded per-user strings).
    // source_binary_files is deliberately NOT swept: its fixture writes
    // one file per document (5k at sf0.1), so a 100x sweep would spray
    // 500k tmp files to measure a decode kernel llm_multimodal_decode
    // already holds to x2.2 — the binaryFile listing cost is the real
    // variable and it is an object-store property, not an engine one.
    "evt_pattern_match",
    // theta set-algebra: one sketch pass + sketch-count merges — the
    // sketch-once/merge-small shape held to a ratio like the CMS row
    "agg_theta_intersect",
    // grouping-id rollup (Expand + partial agg) and the NOT IN
    // three-valued-logic row (three [null-aware] anti joins)
    "agg_grouping_id", "sql_not_in_null",
    // nearest as-of: same equi-join + partial-aggregate shape as
    // join_asof, held to the same ratio class
    "join_asof_nearest",
    // rolling actives: fixed x7 fanout of the deduped day grain — the
    // explode-fanout rolling-distinct shape held to a ratio
    "evt_rolling_actives",
    // round 12: the exact-decimal flagship twin (same partial-agg shape,
    // decimal arithmetic instead of double) and the IVF-PQ compose (cell
    // probing over the 4x-smaller codes index + shortlist refine — the
    // candidate-join shape must track plain IVF's)
    "q1_decimal", "llm_ann_ivfpq",
    // round 12 additions: equi-width histogram (bounds broadcast + one
    // small shuffle), tolerance as-of (the bounded-candidate join), column
    // profiling (one-scan multi-distinct Expand), and the CDC diff (one
    // full-outer shuffle, O(changed rows) feed)
    "agg_histogram", "join_asof_tolerance", "dq_profile", "sink_change_feed",
    // round 12 batch 2: rolling exact percentiles (daily pre-agg then
    // ≤7-row frames), the first-occurrence running-distinct rewrite (two
    // event-grain window passes — the row-linear shape worth a ratio),
    // higher-moment partial agg (5-double state, should sweep flat),
    // linear-interp resample (calendar-bounded after the first groupBy),
    // and the perplexity terciles (linear bigram kernel + lang-stratum
    // ntile). source_json_corrupt is NOT swept for source_csv_roundtrip's
    // reason: its l_orderkey<1000 fixture sample doesn't grow with the
    // multiplier, so a sweep would measure a constant.
    "win_rolling_median", "win_distinct_running", "agg_skew_kurt",
    "ts_interp_linear", "llm_perplexity_filter",
    // round 12 batch 3: PageRank (edge build = lineitem self-join
    // co-partitioned on the order key, pair fanout bounded by order size;
    // five iterations of two edge-relation shuffles each), the REGR_*
    // OLS family (6-double partial-agg state), and the PSI drift monitor
    // (bounds broadcast + two-year filtered scan + ≤10-row shuffle)
    "graph_pagerank", "agg_regression", "dq_drift_psi",
    // round 12 batch 4: triangle counting (capped — see maxMult) and the
    // STL-lite decomposition (daily partial agg + calendar-sized windows,
    // the win_ewma shape)
    "graph_triangles", "ts_seasonal_decompose",
    // round 12 batch 5: connected components (fixpoint min-label rounds
    // over the support-≥2 adjacency cache — linear per round) and
    // per-edge Jaccard (sorted-adjacency intersect — degree²-shape,
    // capped with graph_triangles)
    "graph_cc", "graph_jaccard",
    // round 19: agg_gini's rank pass went partition-parallel (value
    // buckets + prefix offsets — the winNtileCume decomposition) exactly
    // BECAUSE of its ×100 shape; the sweep must hold that claim to a
    // measured ratio like the rest of the window family
    "agg_gini",
    // round 12 batch 6: CUSUM (daily agg + calendar-sized windows),
    // streaks (one event-grain distinct + user-sized windows), Benford
    // (scan + ≤9-row shuffle), QUALIFY (rank-limit-pushed window)
    "ts_cusum", "evt_streaks", "dq_benford", "sql_qualify",
    // round 12 batch 7: RFM (user-grain agg + broadcast quantile cuts —
    // no global window) and the ACF fan (one calendar-sized window pass)
    "evt_rfm", "ts_autocorr",
    // round 12 batch 8: Theil–Sen (calendar²-bounded pair median — the
    // scan is the only thing that grows), IQR fences (percentile agg +
    // conditional count), MMR rerank (exact-cosine TakeOrdered gather +
    // bounded driver greedy). source_xml_roundtrip is NOT swept for
    // source_csv_roundtrip's reason (fixture sample doesn't grow).
    "ts_theil_sen", "dq_iqr_outliers", "llm_mmr_rerank")

  /** Per-query sweep ceilings for operators whose work is super-linear BY
    * DECLARATION, so running them at every scale proves nothing new and
    * would dominate the sweep's wall clock. `llm_cosine_topk` is the EXACT
    * all-pairs baseline — N²/2 dot products is its definition, and the
    * x1→x10 point (measured ×121 on ×100 pair growth, round 9) CONFIRMS
    * the implementation adds no overhead beyond the declared shape. Its
    * designed 100× path is `llm_ann_ivf`, which runs at every scale. At
    * x100 the exact form would be ~2×10¹² dot products (~an hour on this
    * box) — measured once as quadratic, there is nothing further to learn
    * from paying that twice per sweep. Skips are recorded in the JSON
    * (`"skipped"`) so tools/scale_table.py renders them as by-design
    * gaps rather than failures, and excludes capped queries from every
    * scale's printed total so totals stay set-comparable.
    *
    * `llm_dedup_minhash` (the PAIR LISTING) is capped at 30: the round-9
    * sweep measured 588 s / ratio ~170 at 100× on family-structured data
    * (100-copy near-dup families → ~family²/2 pairs inside every shared
    * band bucket) — that is the OUTPUT's intrinsic quadratic-in-family
    * shape, not an implementation defect, and re-paying it twice per sweep
    * teaches nothing. The linear-work dedup semantics
    * (`llm_minhash_dedup_keep`: star edges to each bucket's min + connected
    * components) runs at every scale in its place.
    *
    * `graph_triangles` is capped at 10: wedge enumeration is Θ(Σ dout²)
    * BY DEFINITION — linear in nodes only through a degree²-sized
    * constant (~2.5k wedge rows per node on this co-purchase graph), so
    * ×100 means ~5×10⁹ wedge rows through the semi-join. The ×10 point
    * measures the shape; re-paying the constant twice per sweep teaches
    * nothing (the llm_cosine_topk precedent). */
  private[tools] val maxMult: Map[String, Int] =
    Map("llm_cosine_topk" -> 10, "llm_dedup_minhash" -> 30,
      "graph_triangles" -> 10, "graph_jaccard" -> 10)

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val mults = (if (args.length > 2) args(2) else "10,30").split(",").map(_.trim.toInt).toSeq
    val spark = graft.Session.build(defaultCpus = 32)
    // Legacy events.ts layouts are INT64 nanos (SURVEY §1.3 ⚠L1); with the
    // conf on those read as plain Long and round-trip as Long. Current
    // testdata is TIMESTAMP_NTZ micros, which round-trips natively — the
    // conf is a harmless no-op there. Either way ts passes through untouched.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    mults.foreach(m => synthesize(spark, baseDir, s"$outRoot/x$m", m))

    // Optional subset sweep: SPARK_GRAFT_SCALE_ONLY=q1,q2 restricts the
    // run to named headline queries — for re-sweeping the rows a change
    // touched without paying the full 35-query wall clock. Subset runs
    // print "subset":true so their totals are never compared against a
    // full sweep's.
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { s =>
      val unknown = s.diff(headline.toSet)
      require(unknown.isEmpty, s"SPARK_GRAFT_SCALE_ONLY names not in headline: $unknown")
    }
    val swept = only.fold(headline)(s => headline.filter(s))

    // Warmup: one full UNTIMED pass of every headline query at base scale.
    // The first execution of each query shape pays multi-second one-time
    // codegen/JIT costs (the first measured run of this harness recorded
    // evt_session at 2.45 s vs its 0.3 s steady state); warming per-shape
    // makes the x1 numbers steady-state and the ratios meaningful.
    swept.foreach { name =>
      try SparkEntry.queries(name)(spark, baseDir).count(): Unit
      catch { case NonFatal(e) =>
        System.err.println(s"[scale] warmup $name FAILED: ${e.getMessage}")
      }
    }

    val dirs = (1, "x1", baseDir) +: mults.map(m => (m, s"x$m", s"$outRoot/x$m"))
    val results = dirs.map { case (mult, tag, dir) =>
      // each scale's IVF serving cache is sized to ITS corpus; release the
      // previous scales' caches so memory doesn't compound across the sweep
      // (unpersist + memo drop — the next touch rebuilds and re-caches)
      graft.operators.LlmVector.releaseCellCache(spark)
      val (capped, active) = swept.partition(q => maxMult.get(q).exists(mult > _))
      val times = active.flatMap { name =>
        def once(): Double = {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        // llm_ann_ivf serves from the session memo (LlmVector.topkMemo); with
        // the cache released at the top of this scale, its first run IS the
        // index build and the second is a pure serve. Publish both as
        // separately-swept lines — the SCALE table's ann story is
        // build-once/serve-cheap, and a min-of-2 alone would silently report
        // only the serve path (the round-9 verdict's stale-rows finding).
        // llm_knn_label then rides the already-built memo, so its min-of-2 is
        // the serve-path labeler by construction (noted in SCALE.md).
        // llm_ann_ivfpq memoizes its top-k the same way (round 12), so it
        // gets the same build/serve split.
        if (name == "llm_ann_ivf" || name == "llm_ann_ivfpq") {
          try {
            val tBuild = once()
            val tServe = math.min(once(), once())
            Seq(s"${name}_build" -> tBuild, name -> tServe)
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[scale] $name @ $tag FAILED: ${e.getMessage}")
              Seq(name -> -1.0)
          }
        } else {
          val t = try math.min(once(), once()) catch {
            case NonFatal(e) =>
              System.err.println(s"[scale] $name @ $tag FAILED: ${e.getMessage}")
              -1.0
          }
          Seq(name -> t)
        }
      }
      val qs = times.map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      }.mkString("{", ",", "}")
      // total_sec compares ONE fixed query set across every scale: capped
      // queries are excluded even at scales where they DID run (their x1/x10
      // timings stay in "queries" for ratio work), and the auxiliary
      // *_build lines are excluded too (the serve-path entries are the ones
      // in the comparable set). Raw-log totals are now
      // set-comparable without tools/scale_table.py's correction.
      val total = times.collect {
        case (k, v) if v >= 0 && !maxMult.contains(k) && !k.endsWith("_build") => v
      }.sum
      val skipped = capped.map("\"" + _ + "\"").mkString("[", ",", "]")
      val subsetField = if (only.isDefined) ""","subset":true""" else ""
      println(s"""{"scale":"$tag","total_sec":${f"$total%.2f"},"queries":$qs,"skipped":$skipped$subsetField}""")
      tag -> times.toMap
    }.toMap

    // ratio summary vs x1 over every key measured at both scales (includes
    // the _build line; capped queries are simply absent at capped scales)
    val base = results("x1")
    mults.foreach { m =>
      val r = results(s"x$m")
      val ratios = r.keys.toSeq.sorted.filter(base.contains).map { q =>
        val ratio = if (base(q) > 0 && r(q) > 0) r(q) / base(q) else -1.0
        "\"" + q + "\":" + f"${ratio}%.1f"
      }.mkString("{", ",", "}")
      println(s"""{"scale":"x$m","time_ratios_vs_x1":$ratios}""")
    }
    spark.stop()
  }

  /** Affine permutation parameters (a, b) of copy i's isometry. (i·1337
    * mod 2048) is a bijection on 11 bits (1337 odd), split into the 32 odd
    * multipliers × 64 offsets of the affine family π(d) = (a·d + b) mod 64
    * — so no two copies i ≠ j within 2048 share a permutation. The
    * pre-round-17 scheme (a from i mod 32, b from i mod 64) was periodic:
    * copies 64 apart shared one permutation and differed only by
    * fixed-offset sign vectors, a structured cross-block correlation
    * (ADVICE r16). Package-visible so the spec can pin distinctness. */
  private[tools] def permParams(i: Int): (Int, Int) = {
    val perm = (i * 1337) & 2047
    (2 * (perm >>> 6) + 1, perm & 63)
  }

  /** Copy i's embedding isometry (the round-16 instrument fix, see the
    * synthesize entry's comment): identity at i = 0; otherwise a dimension
    * permutation π(d) = (a·d + b) mod Dim (a odd ⇒ bijection mod a power
    * of two; distinct per copy — see permParams) composed with
    * per-(copy, dim) murmur-hashed sign flips (hash(i, d) — full-width
    * avalanche, so even hypothetical permutation collisions beyond 2048
    * copies would meet independent sign patterns, never the fixed-offset
    * linear structure ADVICE r16 flagged). The dimension is pinned to
    * SignBucket.Dim with a loud raise_error guard: a corpus with a
    * different dim fails instead of silently reading wrong elements
    * (ADVICE r16, third item). Package-visible so ScaleStressSpec can
    * pin the invariants that make the instrument honest — copy-0 identity,
    * norm preservation, within-block cosine preservation (isometry), and
    * cross-block decorrelation — against a future edit quietly
    * reintroducing clone growth. */
  private[tools] def isometricCopy(d: DataFrame, i: Int): DataFrame =
    if (i == 0) d
    else {
      val dim = graft.functions.SignBucket.Dim
      require(dim == 64, s"permParams' 11-bit split is sized for dim 64, got $dim")
      val (a, b) = permParams(i)
      d.withColumn("embedding", expr(
        s"""CASE WHEN embedding IS NULL THEN embedding
           |WHEN size(embedding) != $dim THEN raise_error(concat(
           |  'isometricCopy: embedding dim ', size(embedding), ' != $dim'))
           |ELSE transform(sequence(0, ${dim - 1}), d -> CAST(
           |  element_at(embedding, (($a * d + $b) % $dim) + 1) *
           |  (CASE WHEN pmod(hash($i, d), 2) = 0
           |        THEN 1.0D ELSE -1.0D END) AS FLOAT))
           |END""".stripMargin))
    }

  /** Synth-schema version, written INTO the done marker and compared on
    * reuse: bump it whenever synthesize()'s output would differ for the
    * same inputs, so a stale dir regenerates instead of being silently
    * reused under the new label (ADVICE r16: a version-blind marker would
    * have re-measured a pre-isometric clone-growth dir while reporting
    * the numbers as isometric-regime). v3 = per-copy-distinct hash
    * permutations + murmur sign flips. */
  private val SynthVersion = "v3-isometric-hashperm"

  /** Writes the 10-table synthesized dataset at `mult`× into outDir
    * (skipped only if a previous run left a marker with the SAME synth
    * version). */
  private def synthesize(spark: SparkSession, baseDir: String, outDir: String, mult: Int): Unit = {
    val marker = new java.io.File(s"$outDir/_SYNTH_DONE")
    val markerVersion =
      if (marker.exists())
        scala.util.Try(new String(
          java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").trim).getOrElse("")
      else ""
    if (markerVersion == SynthVersion) {
      System.err.println(s"[scale] reusing $outDir ($SynthVersion)")
      return
    }
    if (marker.exists())
      System.err.println(
        s"[scale] $outDir is synth version '$markerVersion' != '$SynthVersion' — regenerating")
    System.err.println(s"[scale] synthesizing ${mult}x into $outDir")
    def copies(df: DataFrame, remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(i => remap(df, i)).reduce(_ unionByName _)
    def shiftCols(df: DataFrame, i: Int, cols: String*): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * Offset)))

    val t = Tables.t(spark, baseDir, _: String)
    val synth: Map[String, DataFrame] = Map(
      // schema-fixed dims: copied, not scaled
      "region" -> t("region"),
      "nation" -> t("nation"),
      "customer" -> {
        // Names are regenerated shard-major-densely (value = key + i·(max+1))
        // so the corpus grows like a real one: N× distinct names at the
        // base's near-duplicate density. Keeping the base names (or any
        // remap that leaves copies of one base key 1-2 edits apart) would
        // put N-cliques of near-identical names in one (nation, segment)
        // block and square the fuzzy join's OUTPUT — degenerate fan-out,
        // not data growth, exactly like byte-identical document twins.
        val keySpan = t("customer").agg(max(col("c_custkey"))).head().getLong(0) + 1
        // The pad width must exceed every regenerated value's digit count:
        // lpad TRUNCATES beyond the width, which would collapse runs of
        // consecutive keys to one identical name — exactly the degenerate
        // near-dup clique this regeneration exists to avoid. 13 digits
        // covers keySpan·mult up to 10^13 (sf1000 at 100× is ~10^9);
        // the require makes a future overflow loud instead of silent.
        val padWidth = 13
        require(keySpan * mult < math.pow(10, padWidth).toLong,
          s"customer name pad width $padWidth too narrow for keySpan=$keySpan mult=$mult")
        copies(t("customer"), (d, i) => shiftCols(
          d.withColumn("c_name", concat(lit("Customer#"),
            lpad((col("c_custkey") + lit(i * keySpan)).cast("string"), padWidth, "0"))),
          i, "c_custkey"))
      },
      "supplier" -> copies(t("supplier"), (d, i) => shiftCols(d, i, "s_suppkey")),
      "part" -> copies(t("part"), (d, i) => shiftCols(d, i, "p_partkey")),
      "orders" -> copies(t("orders"), (d, i) => shiftCols(d, i, "o_orderkey", "o_custkey")),
      "lineitem" -> copies(t("lineitem"),
        (d, i) => shiftCols(d, i, "l_orderkey", "l_partkey", "l_suppkey")),
      "events" -> copies(t("events"), (d, i) => shiftCols(d, i, "event_id", "user_id")),
      "documents" -> copies(t("documents"), (d, i) =>
        shiftCols(d, i, "doc_id")
          // new sources + a marker token: copies are NEW documents, not
          // byte-identical twins (which would square the near-dup graph)
          .withColumn("source", concat_ws("_", col("source"), lit(i.toString)))
          .withColumn("text", concat_ws(" ", col("text"), lit(s"shard$i")))
          // keep the stored length consistent with the marker-extended text
          .withColumn("n_chars", length(col("text")).cast("long"))),
      // Copy blocks are ISOMETRIC images of the base corpus, not identical
      // clones (round 16). Key-shifted exact copies violate this harness's
      // own growth principle (stated above for documents/customer names):
      // every base vector acquired a family of `mult` byte-identical twins,
      // and identical embeddings land in the same IVF cell under ANY
      // sign-projection law — so the ann BUILD's candidate volume grew
      // ∝ N·nprobe·mult ∝ N², a property of the degenerate corpus that no
      // cell-count law can fix (round 16 measured the √N-law build at
      // ×130 on the clone corpus with the SAME 240.9 GB candidate-sort
      // spill signature as the round-15 saturating law — the knee never
      // belonged to the bit-budget clamp alone). Copy i > 0 instead
      // applies a deterministic isometry: a dimension permutation
      // π(d) = (a·d + b) mod 64 (a odd ⇒ bijection) composed with
      // per-(copy, dim) sign flips. Isometries preserve norms and ALL
      // pairwise cosines inside a block, so each block reproduces the
      // base corpus's neighborhood/near-dup density exactly, while
      // cross-block cosines scramble to ~0 (new content, the documents
      // model: N× blocks of the base size). Integer-deterministic,
      // rerun-stable, no RNG.
      "embeddings" -> copies(t("embeddings"),
        (d, i) => isometricCopy(shiftCols(d, i, "vec_id"), i)),
    )
    synth.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    java.nio.file.Files.write(marker.toPath, SynthVersion.getBytes("UTF-8")): Unit
  }
}
