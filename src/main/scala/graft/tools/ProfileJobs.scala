package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable

/** Per-job / per-stage wall-clock breakdown of a single declared query's
  * FIRST (cold) execution — for finding where a query's one-time cost
  * lives (driver gaps between jobs show up as the difference between the
  * job-time sum and the end-to-end time).
  * Usage: runMain graft.tools.ProfileJobs <query> [sfDir] [preQ1,preQ2,...]
  * The optional third arg names queries to run UNPROFILED first, so the
  * profiled query executes in a session that already holds their caches
  * (memoized ANN indexes, page-cache state) — the warm-sweep shape, vs
  * the default cold-session shape (round-15: attributing why the
  * warm-session ivfpq build sweeps slower than its cold ProfileJobs run).
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val preQs = if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq else Seq.empty
    val spark = graft.Session.build(defaultCpus = 32)
    graft.Session.warmup(spark, sfDir)

    preQs.foreach { q =>
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(q)(spark, sfDir).count()
      println(f"PRE $q ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows, unprofiled)")
    }

    val jobStart = mutable.Map[Int, Long]()
    val lines = mutable.ListBuffer[String]()
    var lastEnd = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val gap = if (lastEnd > 0) js.time - lastEnd else 0L
        jobStart(js.jobId) = js.time
        lines += f"job ${js.jobId}%3d START (driver gap ${gap}%5d ms) stages=${js.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ").take(120)}"
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val dur = je.time - jobStart.getOrElse(je.jobId, je.time)
        lastEnd = je.time
        lines += f"job ${je.jobId}%3d END   ${dur}%6d ms"
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = for { s <- si.submissionTime; c <- si.completionTime } yield c - s
        // aggregated TaskMetrics: the spill/shuffle attribution the graph
        // sweep knees need (round-13 item — cache spill vs explode skew)
        val m = si.taskMetrics
        val mb = 1024.0 * 1024.0
        val io = if (m == null) "" else
          f" in=${m.inputMetrics.bytesRead / mb}%.0fM sr=${m.shuffleReadMetrics.totalBytesRead / mb}%.0fM " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten / mb}%.0fM spillM=${m.memoryBytesSpilled / mb}%.0fM " +
            f"spillD=${m.diskBytesSpilled / mb}%.0fM"
        lines += f"    stage ${si.stageId}%3d ${dur.getOrElse(-1L)}%6d ms tasks=${si.numTasks}%4d$io ${si.name.takeWhile(_ != '\n').take(70)}"
      }
    })
    val t0 = System.nanoTime()
    val n = graft.SparkEntry.queries(args(0))(spark, sfDir).count()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1500) // let the listener bus drain
    lines.foreach(println)
    println(f"PROFILE ${args(0)} total $total%.2f s ($n rows)")
    spark.stop()
  }
}
