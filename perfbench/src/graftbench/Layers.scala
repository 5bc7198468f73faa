package graftbench

import scala.collection.immutable.ListMap

/** Per-layer numbers of a traced run, from its span tree and listener records.
  *
  * Per-pass figures are summed over a pass's queries and reported as the
  * median over the traced warm passes.
  *
  * Self time: a span's duration minus the time its children cover. The
  * children of a span are its sub-spans and the Spark jobs that started
  * while it was the innermost open span, clipped to its interval. Jobs can
  * overlap each other, so each job's own time is the part of its interval
  * that no earlier-starting sibling covers. The self times of a subtree
  * therefore add up to the duration of its root.
  */
final class Layers(tr: Tracer, o: Opts, cold: Span, warm: Seq[Span], counted: Span,
    sessionBuildMs: Double, warmupMs: Double) {
  private val MB = 1024.0 * 1024.0
  private val kids: Map[Int, Seq[Span]] = tr.spans.toSeq.groupBy(_.parent)
  private val jobsOf: Map[Int, Seq[JobRec]] = tr.jobs.toSeq.groupBy(_.span)
  private val actionsOf: Map[Int, Seq[ActionRec]] = tr.actions.toSeq.groupBy(_.span)
  private def children(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil)
  private def queries(p: Span): Seq[Span] = children(p).filter(_.kind == "query")
  private def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)
  private def jobs(ss: Seq[Span]): Seq[JobRec] = ss.flatMap(s => jobsOf.getOrElse(s.id, Nil))
  private def actions(ss: Seq[Span]): Seq[ActionRec] = ss.flatMap(s => actionsOf.getOrElse(s.id, Nil))
  private def ofKind(q: Span, k: String): Seq[Span] = children(q).filter(_.kind == k)

  private val traced = warm.filter(_.attrs("traced") == true)
  private val plain = warm.filter(_.attrs("traced") == false)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Intervals clipped to [lo, hi], in start order, each paired with the
    * part of it that no earlier interval covers. */
  private def tiles[T](iv: Seq[(Double, Double, T)], lo: Double, hi: Double): Seq[(T, Double)] = {
    var reach = lo
    iv.map { case (a, b, t) => (math.max(a, lo), math.min(b, hi), t) }.filter(x => x._2 > x._1)
      .sortBy(_._1).map { case (a, b, t) =>
        val own = math.max(0.0, b - math.max(a, reach))
        reach = math.max(reach, b)
        (t, own)
      }
  }
  private def cover[T](iv: Seq[(Double, Double, T)], lo: Double, hi: Double): Double =
    tiles(iv, lo, hi).map(_._2).sum

  private def jobIv(js: Seq[JobRec]): Seq[(Double, Double, Any)] =
    js.map(j => (j.start.toDouble, j.end.toDouble, j))
  /** Sub-spans and jobs of `s`, tiled over its interval. */
  private def childTiles(s: Span): Seq[(Any, Double)] =
    tiles(children(s).map(c => (c.start, c.end, c: Any)) ++ jobIv(jobsOf.getOrElse(s.id, Nil)), s.start, s.end)
  private def self(s: Span): Double = s.dur - childTiles(s).map(_._2).sum
  private def jobSelf(s: Span): Seq[(JobRec, Double)] =
    childTiles(s).collect { case (j: JobRec, own) => (j, own) }

  private def perPass(p: Span): Map[String, Double] = {
    val qs = queries(p)
    def sumDur(k: String) = qs.flatMap(ofKind(_, k)).map(_.dur).sum / 1000
    val build = qs.flatMap(ofKind(_, "build"))
    val exec = qs.flatMap(ofKind(_, "exec"))
    val execJobs = jobs(exec)
    val all = qs.flatMap(subtree)
    val allJobs = jobs(all)
    val acts = actions(all)
    val passS = p.dur / 1000
    val execS = sumDur("exec")
    val taskRunS = execJobs.map(_.runMs).sum / 1000.0
    Map(
      "entry.build_s" -> sumDur("build"),
      "entry.build_share" -> sumDur("build") / passS,
      "entry.build_jobs" -> jobs(build).size.toDouble,
      "entry.build_actions" -> actions(build).size.toDouble,
      "catalyst.plan_s" -> sumDur("plan"),
      "catalyst.plan_nodes" -> qs.map(_.attrs.getOrElse("plan_nodes", 0).asInstanceOf[Int]).sum.toDouble,
      "exec.s" -> execS,
      "exec.jobs" -> execJobs.size.toDouble,
      "exec.stages" -> execJobs.map(_.stages).sum.toDouble,
      "exec.tasks" -> execJobs.map(_.tasks).sum.toDouble,
      "exec.task_run_s" -> taskRunS,
      "exec.task_cpu_s" -> execJobs.map(_.cpuNs).sum / 1e9,
      "exec.core_busy" -> taskRunS / (execS * Harness.Cores),
      "exec.driver_gap_s" -> qs.map(q => q.dur - cover(jobIv(jobs(subtree(q))), q.start, q.end)).sum / 1000,
      "exec.sched_delay_s" -> execJobs.map(_.schedMs).sum / 1000.0,
      "exec.gc_s" -> execJobs.map(_.gcMs).sum / 1000.0,
      "shuffle.write_mb" -> allJobs.map(_.shuffleWriteBytes).sum / MB,
      "shuffle.read_mb" -> allJobs.map(_.shuffleReadBytes).sum / MB,
      "shuffle.records" -> allJobs.map(_.shuffleWriteRecords).sum.toDouble,
      "shuffle.fetch_wait_s" -> allJobs.map(_.fetchWaitMs).sum / 1000.0,
      "shuffle.spill_mb" -> allJobs.map(_.spillBytes).sum / MB,
      "scan.mb" -> acts.map(_.scanBytes).sum / MB,
      "scan.rows" -> acts.map(_.scanRows).sum.toDouble,
      "scan.files" -> acts.map(_.scanFiles).sum.toDouble,
      "cache.block_read_mb" -> allJobs.map(_.inputBytes).sum / MB,
      "sink.output_mb" -> acts.map(_.sinkBytes).sum / MB,
      "sink.output_rows" -> acts.map(_.sinkRows).sum.toDouble)
  }

  /** Median duration in ms of each query over the given passes. */
  private def queryMs(passes: Seq[Span]): Map[String, Double] =
    passes.flatMap(queries).filter(_.attrs.get("ok").contains(true))
      .groupBy(_.name).map { case (k, v) => k -> median(v.map(_.dur)) }

  private val warmMs = queryMs(traced)
  private val countMs = queryMs(Seq(counted))
  private val coldMs = queryMs(Seq(cold))

  /** Full-result time (build + plan + noop write) over build + `.count()`. */
  val fullOverCount: Map[String, Double] =
    warmMs.keySet.intersect(countMs.keySet).toSeq.sorted.map(q => q -> warmMs(q) / countMs(q)).toMap

  val metrics: Map[String, Double] = {
    val passes = traced.map(perPass)
    val perPassMedians = passes.headOption.map(_.keySet).getOrElse(Set.empty)
      .map(k => k -> median(passes.map(_(k)))).toMap
    val both = warmMs.keySet.intersect(countMs.keySet)
    // without a memoized query the ratio covers every query: the cold cost
    // is then JIT, codegen and parquet footers rather than an index build
    val memo = if (o.memo.nonEmpty) o.memo.intersect(warmMs.keySet) else warmMs.keySet
    val memoCold = memo.intersect(coldMs.keySet)
    perPassMedians ++ Map(
      "session.build_s" -> sessionBuildMs / 1000,
      "session.warmup_s" -> warmupMs / 1000,
      "catalyst.full_over_count" -> both.toSeq.map(warmMs).sum / both.toSeq.map(countMs).sum,
      "cache.storage_peak_mb" -> tr.storagePeakBytes / MB,
      "cache.memo_cold_over_warm" -> memoCold.toSeq.map(coldMs).sum / memoCold.toSeq.map(warmMs).sum,
      "trace.overhead_s" -> (median(traced.map(_.dur)) - median(plain.map(_.dur))) / 1000)
  }

  /** Largest gap, over all query spans, between the summed self times of a
    * query's subtree (sub-spans and jobs) and the query's duration. */
  val selfTimeErrMs: Double = tr.spans.filter(_.kind == "query").map { q =>
    val sub = subtree(q)
    math.abs(sub.map(self).sum + sub.flatMap(jobSelf).map(_._2).sum - q.dur)
  }.foldLeft(0.0)(math.max)

  /** One record per span and per job, jobs as children of their span. */
  def spanRecords: Seq[Map[String, Any]] = tr.spans.toSeq.flatMap { s =>
    val row = ListMap[String, Any]("id" -> s.id.toString, "parent" -> s.parent.toString,
      "trace" -> s.trace, "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start,
      "dur_ms" -> s.dur, "self_ms" -> self(s)) ++
      (if (s.attrs.nonEmpty) ListMap("attrs" -> s.attrs) else ListMap.empty)
    row +: jobSelf(s).map { case (j, own) =>
      ListMap[String, Any]("id" -> s"job-${j.jobId}", "parent" -> s.id.toString, "trace" -> s.trace,
        "kind" -> "job", "name" -> s"job ${j.jobId}", "start_ms" -> j.start.toDouble,
        "dur_ms" -> (j.end - j.start).toDouble, "self_ms" -> own,
        "attrs" -> ListMap("stages" -> j.stages, "tasks" -> j.tasks, "task_run_ms" -> j.runMs,
          "task_cpu_ms" -> j.cpuNs / 1e6, "shuffle_write_bytes" -> j.shuffleWriteBytes,
          "shuffle_read_bytes" -> j.shuffleReadBytes, "input_bytes" -> j.inputBytes))
    }
  }
}
