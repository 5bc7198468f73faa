package graft

/** Single-query benchmark loop for plan iteration: times one (or a few)
  * declared queries for N iterations after the same warmup Bench uses.
  * Usage: runMain graft.BenchOne <query>[,query2,...] [iters]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val iters = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build(defaultCpus = 4)
    Session.warmup(spark, sfDir)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to iters).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"BENCHONE $name iter $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
    }
    spark.stop()
  }
}
