package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop benchmark client for `graft.SparkEntry` queries.
  *
  * One client on one `local[4]` session runs a timed cold pass, an untimed
  * check pass that writes each result as parquet for the DuckDB compare
  * `run.py` makes, an untimed settle pass, then warm passes until
  * `--seconds` have passed since the cold pass began, at least one; each
  * pass in an order shuffled by `--seed`. Every timed query's full result
  * is produced with a noop write, which computes every column and the
  * final sort, and plans the query itself. With `--trace 1` warm passes
  * alternate between traced and untraced, a count pass times `.count()` on
  * freshly built DataFrames, and the per-layer numbers and the span tree
  * are written out.
  *
  * Usage: Harness --workload W --queries a,b --memo a --seed N --seconds S
  *   --trace 0|1 --data DIR --out DIR --launch-ms EPOCH_MS
  *
  * Writes `result.json` (and `spans.jsonl` when traced) under `--out`.
  * Exit 0 on a completed run, even with failed queries (they are counted);
  * 2 on a harness error; 3 on a fatal JVM error, which ends the run at once.
  */
object Harness {
  /** Cores of the `local` master and shuffle partitions: the nproc this was tuned on. */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val code =
      try { new Run(Opts(args)).run(); 0 }
      catch {
        case NonFatal(e) =>
          System.err.println(s"[graftbench] run failed: $e"); e.printStackTrace(); 2
        case t: Throwable =>
          // a JVM past an OutOfMemoryError times nothing trustworthy: stop here
          System.err.println(s"[graftbench] fatal error, run aborted: $t"); t.printStackTrace()
          Runtime.getRuntime.halt(3); 3
      }
    sys.exit(code)
  }
}

final case class Opts(workload: String, queries: Seq[String], memo: Set[String],
    seed: Long, seconds: Double, trace: Boolean, data: String, out: String,
    launchMs: Long)

object Opts {
  def apply(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def list(k: String) = kv.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Opts(kv("workload"), list("queries"), list("memo").toSet, kv("seed").toLong,
      kv("seconds").toDouble, kv("trace") == "1", kv("data"), kv("out"),
      kv("launch-ms").toLong)
  }
}

final class Run(o: Opts) {
  private val mainMs = Clock.now()
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val rng = new java.util.Random(o.seed)
  private val failures = mutable.ArrayBuffer.empty[(String, String, String)]
  private var executions = 0

  def run(): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${Harness.Cores}]")
      .config("spark.sql.shuffle.partitions", Harness.Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.out}/tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.out}/tmp/warehouse")
      .getOrCreate()
    val builtMs = Clock.now()
    spark.sparkContext.setLogLevel("WARN")
    warmup(spark)
    val readyMs = Clock.now()

    val tr = new Tracer(spark)
    val runSpan = tr.record("run", o.workload, -1, o.launchMs.toDouble, Double.NaN)
    val setup = tr.record("setup", "setup", runSpan.id, o.launchMs.toDouble, readyMs)
    tr.record("jvm", "launch", setup.id, o.launchMs.toDouble, mainMs)
    tr.record("session", "build", setup.id, mainMs, builtMs)
    tr.record("session", "warmup", setup.id, builtMs, readyMs)
    tr.enter(runSpan)
    if (o.trace) { tr.watchStorage(); tr.setTracing(true) }

    val t0 = Clock.now()
    val cold = pass(tr, spark, "cold", traced = o.trace)(full)
    // The JIT is still compiling the hot paths after the cold pass: the next
    // two passes ran 15-30% slower than those after them. So the untimed
    // check pass and one untimed settle pass run before any warm pass is timed.
    tr.setTracing(false)
    val check = pass(tr, spark, "check", traced = false)(checkOut)
    pass(tr, spark, "settle", traced = false)(full)
    val warm = mutable.ArrayBuffer.empty[Span]
    // a traced run needs a warm pass of each kind
    def enough: Boolean = {
      val tracedN = warm.count(_.attrs("traced") == true)
      Clock.now() - t0 >= o.seconds * 1000 && warm.size > tracedN && (!o.trace || tracedN > 0)
    }
    while (!enough) {
      // traced runs alternate, so traced and untraced passes see the same drift
      val traced = o.trace && warm.size % 2 == 1
      tr.setTracing(traced)
      // each warm pass starts on a collected heap, so it pays for its own
      // garbage only and the heap's high-water mark does not grow with the
      // number of passes
      System.gc()
      warm += pass(tr, spark, "warm", traced)(full)
    }
    val hwmMb = vmHwmMb()
    val counted = if (o.trace) { tr.setTracing(true); Some(pass(tr, spark, "count", traced = true)(count)) } else None
    tr.setTracing(false)
    runSpan.end = Clock.now()
    writeOracles()
    spark.stop()

    val plainWarm = warm.filter(_.attrs("traced") == false)
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "traced" -> o.trace,
      "launch_ms" -> o.launchMs, "jvm_start_ms" -> jvmStartMs, "main_ms" -> mainMs,
      "session_built_ms" -> builtMs, "ready_ms" -> readyMs,
      "cold_pass_s" -> cold.dur / 1000,
      "warm_pass_s" -> plainWarm.map(_.dur / 1000).toSeq,
      "warm_query_s" -> queriesOf(tr, plainWarm.toSeq).filter(ok).map(_.dur / 1000),
      "executions" -> executions,
      "failures" -> failures.map { case (q, p, e) => Map("query" -> q, "pass" -> p, "error" -> e) }.toSeq,
      "vmhwm_mb" -> hwmMb,
      "checked" -> queriesOf(tr, Seq(check)).filter(ok).map(_.name))
    if (o.trace) {
      val layers = new Layers(tr, o, cold, warm.toSeq, counted.get, builtMs - mainMs, readyMs - builtMs)
      res("layers") = layers.metrics
      res("full_over_count") = layers.fullOverCount
      res("selftime_err_ms") = layers.selfTimeErrMs
      Json.writeLines(Paths.get(o.out, "spans.jsonl"), layers.spanRecords)
    }
    Files.write(Paths.get(o.out, "result.json"), Json(res).getBytes(UTF_8))
  }

  private def ok(q: Span): Boolean = q.attrs.get("ok").contains(true)

  private def queriesOf(tr: Tracer, passes: Seq[Span]): Seq[Span] = {
    val ids = passes.map(_.id).toSet
    tr.spans.filter(s => s.kind == "query" && ids(s.parent)).toSeq
  }

  /** The data-free warmup `graft.Bench` runs before timing: scheduler,
    * codegen, a shuffle join, a window and a broadcast join. */
  private def warmup(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    spark.range(1000).selectExpr("sum(id)").collect()
    val fact = spark.range(10000).withColumn("k", pmod(col("id"), lit(97)))
    val dim = spark.range(97).select(col("id").as("k"))
    fact.repartition(Harness.Cores, col("k")).join(dim.hint("shuffle_hash"), Seq("k"))
      .groupBy("k").agg(sum("id").as("s"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(pmod(col("k"), lit(7))).orderBy(desc("s"), asc("k"))))
      .filter(col("rn") <= 3).count(): Unit
    fact.join(broadcast(dim), Seq("k")).count(): Unit
  }

  private def shuffled(): Seq[String] = {
    val a = o.queries.toArray
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** One pass over the workload in a fresh shuffled order. */
  private def pass(tr: Tracer, spark: SparkSession, name: String, traced: Boolean)(
      body: (Tracer, SparkSession, String) => Unit): Span = {
    val p = tr.open("pass", name, "")
    p.attrs("traced") = traced
    shuffled().foreach { q =>
      val qs = tr.open("query", q, tr.newTrace())
      if (name != "check") executions += 1
      try { body(tr, spark, q); qs.attrs("ok") = true }
      catch {
        case NonFatal(e) =>
          qs.attrs("ok") = false
          failures += ((q, name, String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")))
          System.err.println(s"[graftbench] $q failed in the $name pass: $e")
      } finally tr.close(qs)
    }
    tr.close(p)
    p
  }

  private def build(tr: Tracer, spark: SparkSession, q: String): DataFrame = {
    val s = tr.open("build", q)
    try graft.SparkEntry.queries(q)(spark, o.data) finally tr.close(s)
  }

  private def full(tr: Tracer, spark: SparkSession, q: String): Unit = {
    val df = build(tr, spark, q)
    val wallMs = System.currentTimeMillis()
    val e = tr.open("exec", q)
    try df.write.format("noop").mode("overwrite").save() finally tr.close(e)
    tr.splitPlan(e, wallMs)
  }

  private def count(tr: Tracer, spark: SparkSession, q: String): Unit = {
    val df = build(tr, spark, q)
    val c = tr.open("count", q)
    try df.count(): Unit finally tr.close(c)
  }

  private def checkOut(tr: Tracer, spark: SparkSession, q: String): Unit = {
    val df = build(tr, spark, q)
    val c = tr.open("check", q)
    try df.coalesce(1).write.mode("overwrite").parquet(s"${o.out}/check/$q") finally tr.close(c)
  }

  /** The DuckDB oracle SQL of this workload's queries, in the layout
    * `graft.Verify` writes for `tools/preverify.py`. */
  private def writeOracles(): Unit = {
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => o.queries.contains(k) }
    Files.createDirectories(Paths.get(o.out, "check"))
    Files.write(Paths.get(o.out, "check", "oracle_sql.json"), Json(sql).getBytes(UTF_8))
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeLines(path: java.nio.file.Path, rows: Seq[Any]): Unit =
    Files.write(path, rows.map(r => apply(r) + "\n").mkString.getBytes(UTF_8))
}
