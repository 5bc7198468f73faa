package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution: one wall-clock
  * reading at class load, advanced by `System.nanoTime`. Listener events
  * carry `System.currentTimeMillis` stamps, which live on the same axis. */
object Clock {
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def now(): Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** One interval of the run: run → setup → pass → query → build / plan /
  * exec / count / check. Spark jobs hang below the span that was open when
  * they started. Times are epoch milliseconds. */
final class Span(val id: Int, val parent: Int, val trace: String,
    val kind: String, val name: String, var start: Double) {
  var end: Double = Double.NaN
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  def dur: Double = end - start
}

/** Task metrics of one Spark job, summed over its tasks. */
final class JobRec(val jobId: Int, val span: Int, val start: Long) {
  var end: Long = start
  var stages, tasks = 0
  var runMs, cpuNs, gcMs, schedMs = 0L
  var inputBytes, shuffleWriteBytes, shuffleWriteRecords = 0L
  var shuffleReadBytes, fetchWaitMs, spillBytes = 0L
}

/** SQL-metric totals of one action, read from its executed plan, with the
  * plan's node count and the wall-clock end of its planning phase. */
final case class ActionRec(span: Int, func: String, ok: Boolean,
    scanBytes: Long, scanRows: Long, scanFiles: Long,
    sinkBytes: Long, sinkRows: Long, planNodes: Int, planEndMs: Long)

/** Walks an executed plan into adaptive stages and subqueries, each node once. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    collectWithSubqueries(plan) { case p => p }.filter(seen.add)
  }
}

/** Span bookkeeping plus the Spark listeners of a traced run.
  *
  * Spans are always recorded (a few clock reads per query). Listeners are
  * attached only while `tracing` is on; then every span boundary drains the
  * listener bus, so each event is handled while the span that caused it is
  * still the current one and lands on that span. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val actions = mutable.ArrayBuffer.empty[ActionRec]
  @volatile private var current = -1
  private var tracing = false
  private var traces = 0

  def newTrace(): String = { traces += 1; f"$traces%06x" }

  /** Records an interval measured before the tracer existed. */
  def record(kind: String, name: String, parent: Int, start: Double, end: Double): Span = {
    val s = new Span(spans.size, parent, "", kind, name, start)
    s.end = end
    spans += s
    s
  }

  /** Makes `s` the span that later spans and listener events attach to. */
  def enter(s: Span): Unit = current = s.id

  def open(kind: String, name: String, trace: String = null): Span = {
    val p = current
    val t = if (trace != null) trace else if (p >= 0) spans(p).trace else ""
    val s = new Span(spans.size, p, t, kind, name, Clock.now())
    spans += s
    current = s.id
    s
  }

  def close(s: Span): Unit = {
    s.end = Clock.now()
    if (tracing) BusDrain.drain(sc)
    current = s.parent
  }

  /** A traced write plans its query before it runs it: splits the write's
    * span `e` at the end of the planning phase its QueryExecution tracked.
    * The part before becomes a `plan` sibling and `e` keeps the rest, so
    * catalyst and exec split one execution. `wallMs` is the wall clock at
    * `e`'s start; the planning end is read on that clock. */
  def splitPlan(e: Span, wallMs: Long): Unit = if (tracing) {
    jobs.synchronized(actions.filter(a => a.span == e.id && a.planEndMs > 0).lastOption).foreach { a =>
      val cut = math.min(math.max(e.start + (a.planEndMs - wallMs), e.start), e.end)
      val p = new Span(spans.size, e.parent, e.trace, "plan", e.name, e.start)
      p.end = cut
      spans += p
      e.start = cut
      spans(e.parent).attrs("plan_nodes") = a.planNodes
    }
  }

  def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(actionListener)
    } else {
      BusDrain.drain(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(actionListener)
    }
    tracing = on
  }

  /** Peak bytes held by persisted and checkpointed RDD blocks. */
  def storagePeakBytes: Long = storage.synchronized(storagePeak)
  private val storage = mutable.HashMap.empty[String, Long]
  private var storageNow, storagePeak = 0L

  /** Watches block updates for the whole traced run, pass by pass. */
  def watchStorage(): Unit = sc.addSparkListener(new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) storage.synchronized {
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val size = info.memSize + info.diskSize
        storageNow += size - storage.getOrElse(key, 0L)
        if (size > 0) storage(key) = size else storage.remove(key)
        storagePeak = math.max(storagePeak, storageNow)
      }
    }
  })

  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val openJobs = mutable.HashMap.empty[Int, JobRec]

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val j = new JobRec(e.jobId, current, e.time)
      jobs += j
      openJobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      openJobs.remove(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        val i = e.taskInfo
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          // the scheduler delay Spark's UI shows: task wall minus the parts
          // spent deserializing, running, serializing and fetching the result
          val fetchResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
          j.schedMs += math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetchResult)
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private object actionListener extends QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      add(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
      add(func, qe, ok = false)

    private def add(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      var scanB, scanR, scanF, sinkB, sinkR = 0L
      def m(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
      val nodes = PlanWalk.nodes(qe.executedPlan)
      val planEnd = qe.tracker.phases.get(QueryPlanningTracker.PLANNING).map(_.endTimeMs).getOrElse(0L)
      nodes.foreach {
        case s: FileSourceScanExec =>
          scanB += m(s, "filesSize"); scanR += m(s, "numOutputRows"); scanF += m(s, "numFiles")
        case w: DataWritingCommandExec =>
          sinkB += m(w, "numOutputBytes"); sinkR += m(w, "numOutputRows")
        case _ =>
      }
      jobs.synchronized {
        actions += ActionRec(current, func, ok, scanB, scanR, scanF, sinkB, sinkR, nodes.size, planEnd)
      }
    }
  }
}
