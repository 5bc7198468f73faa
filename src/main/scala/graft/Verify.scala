package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these queries (fast iteration on one
    // operator); the full oracle_sql.json is still written either way
    val subset = args.drop(2).toSet
    val spark = Session.build(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // Subset runs refresh ONLY the selected queries' dumps, but the
    // preverify gate replays every declared query — against whatever is
    // in outDir, including stale dumps from older code. Mark partial
    // dumps loudly so they can't be mistaken for a full verification run
    // (and clear the marker when a full run overwrites everything).
    val marker = Paths.get(s"$outDir/PARTIAL_SUBSET_DUMP")
    if (subset.nonEmpty) {
      System.err.println(
        s"[verify] PARTIAL run: only ${subset.toSeq.sorted.mkString(", ")} " +
        s"refreshed; other dumps in $outDir may be stale — do not treat a " +
        "gate pass over this dir as a full verification")
      Files.writeString(marker, subset.toSeq.sorted.mkString("\n"))
    } else Files.deleteIfExists(marker)
    SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
