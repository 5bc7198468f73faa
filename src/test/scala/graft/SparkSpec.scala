package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM, sequential suites — the session
  * is shared via getOrCreate and intentionally never stopped): the same
  * `graft.Session` the harness mains run under, 4 cores unless
  * SPARK_GRAFT_CPUS says otherwise. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.Session.build(defaultCpus = 4)
  // Naming: the val drops the decimal point, NOT a digit — sf001 is
  // scale factor 0.001, sf01 is 0.01 (a round-11 advisory misread sf01
  // as sf0.1; any spec comment citing a scale factor means these paths).
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  /** Spec-side half of the output-dtype contract (SURVEY §5.7): oracle-
    * checked rows get their dtypes gated by preverify/the driver
    * (PROVEN_DTYPES — the q1_decimal r12 lesson that value-identical
    * local output can still hash-fail at the driver on an unproven
    * dtype), but a spec-gated (✗-oracle) row never passes through that
    * gate. Any spec pinning a NEW operator calls this on the operator's
    * output so its schema stays inside the driver-proven dtype family.
    * The Scala set mirrors tools/preverify.py's PROVEN_DTYPES (BIGINT,
    * BOOLEAN, DATE, DOUBLE, INTEGER, TIMESTAMP, VARCHAR). TimestampType
    * (timezone-ADJUSTED) is deliberately NOT in the set even though the
    * gate names "TIMESTAMP": Spark writes it to parquet as
    * isAdjustedToUTC=true, which DuckDB reads back as TIMESTAMP WITH
    * TIME ZONE — outside the gate's proven list. Only TimestampNTZType
    * round-trips as plain TIMESTAMP (round-14 advisory; every oracle row
    * that emits a timestamp already uses ts_ntz per the Tables.events
    * convention). */
  def assertProvenDtypes(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.types._
    val proven: Set[DataType] = Set(LongType, IntegerType, DoubleType,
      StringType, BooleanType, DateType, TimestampNTZType)
    val bad = df.schema.fields.filterNot(f => proven.contains(f.dataType))
    assert(bad.isEmpty,
      "output dtypes outside the driver-proven set (preverify PROVEN_DTYPES): " +
        bad.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", "))
  }

  /** The number of Spark jobs `body` starts. Only jobs in the job group
    * set around `body` count, so unrelated async session work (broadcast
    * cleanup, lazy metadata jobs) can't inflate the count; listener events
    * post asynchronously, so the count is read once it is stable. */
  def jobsIn(desc: String)(body: => Unit): Int = {
    val group = "spark-spec-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse("")
        if (g == group) jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, desc)
      try body finally spark.sparkContext.clearJobGroup()
      var last = -1
      var spins = 0
      while (jobs.get() != last && spins < 20) { last = jobs.get(); Thread.sleep(250); spins += 1 }
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** Every message along a throwable's cause chain, outermost first — a
    * failure raised inside a task reaches the driver wrapped, so specs
    * match the message they expect anywhere in the chain. */
  def messages(t: Throwable): List[String] =
    if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
}
