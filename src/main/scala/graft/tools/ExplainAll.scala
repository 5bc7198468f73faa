package graft.tools
import org.apache.spark.sql.execution.ExplainMode
import scala.util.control.NonFatal

/** Dump the formatted physical plan of EVERY declared query (or a named
  * subset) into one file per query — the round-19 optimization audit needs
  * plan evidence (Exchange count, join strategy, PushedFilters/ReadSchema)
  * for all 228 queries, and a subset dumped on two commits shows what a
  * change did to the plans it touched.
  * The session has the 4 cores that Verify and Bench default to, so the
  * dumped exchanges have the partition counts those runs execute
  * (SPARK_GRAFT_CPUS overrides).
  * Usage: runMain graft.tools.ExplainAll <outDir> [sfDir] [q1,q2,...]
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val only = if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet else Set.empty[String]
    val spark = graft.Session.build(defaultCpus = 4)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/$name.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[explain] $name ok")
      } catch {
        case NonFatal(e) => println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
