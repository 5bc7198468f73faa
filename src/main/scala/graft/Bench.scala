package graft
import scala.util.control.NonFatal

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Prints ONE SHORT machine-readable JSON line (total + headline queries
  * only) — the full per-query map made the line ~3 KB, which got truncated
  * in the driver's captured output tail and parsed as null. The complete
  * per-query detail goes to a file instead (SPARK_GRAFT_BENCH_DETAIL,
  * default /tmp/graft_bench_detail.json).
  *
  * Failed queries are excluded from the total so round-over-round totals
  * stay comparable, and reported in the `failed` list.
  */
object Bench {
  private val headline = Seq(
    "agg_pricing_summary", "scan_lineitem", "join_inner_hash", "join_asof",
    "win_running_sum", "evt_tumbling", "llm_dedup_minhash", "llm_ngram_jaccard",
    "llm_cosine_topk", "llm_ann_ivf", "llm_tfidf",
    // Round 20, ADDITIONS ONLY (the r19 verdict's item 2: the 11-query set
    // above omitted every top-cost query, so the driver's round-over-round
    // PERF compare was structurally blind to optimization work — it graded
    // r19 on sub-second untouched queries). These are the suite's top cost
    // centers by the r20 baseline detail (plans/r20/bench_r20_baseline.json);
    // existing names above keep their order and stay comparable.
    "graph_pagerank", "graph_cc", "graph_triangles", "graph_jaccard",
    "llm_dedup_cluster", "llm_split_neardup_safe", "llm_minhash_dedup_keep",
    "llm_bpe_merges", "llm_bpe_encode", "llm_knn_label", "agg_gini",
    "sink_bucketed_join", "join_fuzzy_match")

  /** One timed run: seconds until `count` returns, or None after logging
    * the failure to stderr as `[bench] <name> <what>: <message>`. */
  private def once(name: String, what: String)(count: => Long): Option[Double] = {
    val t0 = System.nanoTime()
    try { count; Some((System.nanoTime() - t0) / 1e9) }
    catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] $name $what: ${e.getMessage}")
        None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "/tmp/graft_bench_detail.json")
    val spark = Session.build(defaultCpus = 4)
    Session.warmup(spark, sfDir)
    val queries = SparkEntry.queries
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    // Queries that serve from a session-lifetime memo (the IVF index + its
    // served top-k, LlmVector): under min-of-2 their FIRST run pays the index
    // build and the published min measures the SERVE path only — the
    // deployment shape an index exists for, but a cross-round bench reader
    // must be able to tell a cache read from the query. The cold first-run
    // time is captured per memoized query and published alongside the min
    // (`"memoized_cold"` in both JSON lines).
    val memoized = Seq("llm_ann_ivf", "llm_knn_label")
    val coldTimes = scala.collection.mutable.Map.empty[String, Double]
    // Each query is timed as MIN of two back-to-back runs: a one-off JVM
    // pause (GC / JIT / codegen compile) in a single pass can absorb tens of
    // seconds into whichever query it lands on (a 0.6 s query once recorded
    // 43.5 s — 29% of that round's total was noise), and a stray outlier
    // like that could spuriously breach the 2× baseline gate. The first run
    // warms plan/codegen caches, the second measures steady state; min-of-2
    // keeps whichever pass dodged the pause. Query side effects are safe to
    // repeat (the source_* roundtrips write mode("overwrite")).
    val results = queries.map { case (name, fn) =>
      val t = once(name, "FAILED")(fn(spark, sfDir).count()) match {
        case None => failures += name; 0.0
        case Some(a) =>
          if (memoized.contains(name)) coldTimes(name) = a
          once(name, "FAILED")(fn(spark, sfDir).count()) match {
          case Some(b) => math.min(a, b)
          // a second-run failure (flaky side effect, or state left behind by
          // the first run) keeps the first timing but must stay visible —
          // silently discarding it would hide deterministic repeat-run breakage
          case None =>
            System.err.println(s"[bench] $name second run FAILED; keeping first-run timing")
            a
        }
      }
      name -> t
    }
    // Back-to-back min-of-2 dodges a pause that lands on ONE run, but this
    // box also has transient multi-second stall windows (observed: a 0.4 s
    // full-outer join recording 7.9 s on BOTH consecutive runs, normal again
    // minutes later; JIT code cache ruled out — full_count=0 — and CPU steal
    // is zero at idle) that swallow both runs of whichever query is unlucky.
    // Those windows are temporally local, so the slow TAIL gets one more
    // attempt at end-of-suite — minutes later, when the window has passed —
    // and the overall min is kept. Threshold: 3× the suite median (floored
    // at 1 s) marks a query as suspect; a retry that improves ≥30% earns one
    // more attempt (the first retry may still sit inside a stall). Genuine
    // heavyweights pay one confirming re-run; stall victims get their real
    // timing back instead of publishing noise as a regression.
    // Names re-timed by the end-of-suite pass, recorded into the emitted JSON:
    // a 3-4-run min must be distinguishable from a straight min-of-2 in
    // round-over-round triage (BENCH_NOTES.md rule 2 keys off whether a
    // retry was attempted), and stderr does not survive into the artifacts.
    val retriedNames = scala.collection.mutable.ListBuffer.empty[String]
    val retried = {
      val mins = results.collect { case (k, v) if !failures.contains(k) => v }.toSeq.sorted
      if (mins.isEmpty) results
      else {
        val median = mins(mins.size / 2)
        val threshold = math.max(1.0, 3.0 * median)
        results.map { case (name, t) =>
          if (failures.contains(name) || t < threshold) name -> t
          else {
            retriedNames += name
            // a deterministic repeat-run breakage that surfaces only here
            // must stay visible, like the main loop's second-run failures
            def retry(): Option[Double] =
              once(name, "retry run FAILED")(queries(name)(spark, sfDir).count())
            val r1 = retry()
            val afterR1 = r1.fold(t)(math.min(t, _))
            val best = r1 match {
              case Some(v) if v < t * 0.7 => retry().fold(afterR1)(math.min(afterR1, _))
              case _ => afterR1
            }
            if (best < t)
              System.err.println(f"[bench] $name retry improved $t%.3f -> $best%.3f s (suite-tail re-run)")
            name -> best
          }
        }
      }
    }
    // failed queries are excluded from BOTH the total and the per-query maps
    // — a time-to-exception next to healthy timings would read as a speedup
    // in round-over-round triage; they are only listed under "failed"
    val ok = retried.filterNot { case (k, _) => failures.contains(k) }
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    def qsJson(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      }.mkString("{", ",", "}")
    val failed = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val retriedJson = retriedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // cold (first-run, index-build-inclusive) timings for memo-served queries;
    // their `queries` entries are serve-path minima (see `memoized` above)
    val coldJson = qsJson(memoized.flatMap(q => coldTimes.get(q).map(q -> _)))
    val annotations =
      s""""retried":$retriedJson,"memoized_cold":$coldJson"""
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${ok.size},"queries":${qsJson(ok)},"failed":$failed,$annotations,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val head = qsJson(headline.flatMap(q => ok.get(q).map(q -> _)))
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${ok.size},"queries":$head,"failed":$failed,$annotations,"sf":"$sfDir","detail":"$detailPath"}""")
    spark.stop()
  }
}
