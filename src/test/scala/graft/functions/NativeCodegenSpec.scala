package graft.functions

import scala.util.control.NonFatal

import graft.GraftProps.{genEdgeArray, genEdgeDouble, genEdgeFloat, genEdgeText, genSortedLongs, withNulls}
import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Every native expression returns the same rows from its generated code
  * as from its interpreted `eval`, and throws the same exception (class
  * and message) where an input must fail.
  *
  * Mode (a) turns off whole-stage codegen and builds every projection with
  * the interpreted factory (`NO_CODEGEN`); mode (b) forces whole-stage
  * codegen with no interpreted fallback (`CODEGEN_ONLY`). Inputs come from
  * `createDataFrame(rdd, schema)`, which the optimizer can neither fold
  * nor turn into a local relation, so both modes really evaluate the
  * expression over scanned rows. Rows are drawn with fixed seeds from the
  * edge-case generators in `GraftProps`: null arrays, null elements, NaN,
  * ±0.0, empty and wrong-length arrays. NaN compares equal to NaN. */
class NativeCodegenSpec extends SparkSpec {

  private val Rows = 150

  private def sample[T](g: Gen[T], seed: Long): Seq[T] =
    Gen.listOfN(Rows, g).pureApply(Gen.Parameters.default, Seed(seed))

  private def arr(t: DataType): ArrayType = ArrayType(t, containsNull = true)

  private def normalize(v: Any): Any = v match {
    case d: Double if d.isNaN => "NaN"
    case r: Row => r.toSeq.map(normalize)
    case s: scala.collection.Seq[_] => s.map(normalize)
    case other => other
  }

  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || (t.getCause eq t)) t else rootCause(t.getCause)

  /** Rows (or the root exception's class and message) of `build()` under
    * one mode, and whether the executed plan was whole-stage code generated. */
  private def run(build: () => DataFrame, codegen: Boolean): (Either[String, Seq[Any]], Boolean) = {
    val confs = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = build()
      val fused = df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
      val out =
        try Right(df.collect().toSeq.map(normalize))
        catch { case NonFatal(e) => Left(rootCause(e).toString) }
      (out, fused)
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Both modes agree on `out` over the input; `throws` says whether the
    * input must make both modes fail. */
  private def agree(df: DataFrame, out: Column, throws: Boolean = false): Unit = {
    // a fresh projection per mode: each one plans under that mode's confs
    val build = () => df.select(col("id"), out.as("out"))
    val (interp, interpFused) = run(build, codegen = false)
    val (gen, genFused) = run(build, codegen = true)
    assert(!interpFused && genFused, "mode (a) must be interpreted and mode (b) code generated")
    assert(interp == gen, s"interpreted $interp != codegen $gen")
    assert(interp.isLeft == throws, s"expected ${if (throws) "a failure" else "rows"}, got $interp")
  }

  /** Input with an `id` column and one column per generated component. */
  private def table(fields: (String, DataType)*)(rows: Seq[Seq[Any]]): DataFrame = {
    val schema = StructType(StructField("id", LongType, nullable = false) +:
      fields.map { case (n, t) => StructField(n, t) })
    val data = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  private val floats = arr(FloatType)

  test("graft_dot: codegen equals interpreted; a length mismatch throws in both") {
    val pairs = sample(for {
      n <- Gen.oneOf(0, 3, 8)
      a <- genEdgeArray(n, ragged = false, genEdgeFloat)
      b <- genEdgeArray(n, ragged = false, genEdgeFloat)
    } yield Seq(a, b), 1)
    agree(table("a" -> floats, "b" -> floats)(pairs), dot(col("a"), col("b")))
    val bad = Seq(Seq(Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](1f)))
    agree(table("a" -> floats, "b" -> floats)(bad), dot(col("a"), col("b")), throws = true)
  }

  test("graft_l2norm: codegen equals interpreted") {
    val vs = sample(genEdgeArray(8, ragged = true, genEdgeFloat).map(Seq(_)), 2)
    agree(table("v" -> floats)(vs), l2norm(col("v")))
  }

  test("graft_bloom_might_contain: codegen equals interpreted; a NULL sketch throws in both") {
    val bf = BloomFilter.create(50, 0.03)
    (0L until 50L).foreach(k => bf.putLong(k * 7))
    val sketch = { val b = new java.io.ByteArrayOutputStream(); bf.writeTo(b); b.toByteArray }
    val keys = sample(withNulls(Gen.chooseNum(-20L, 400L).map(Long.box)).map(Seq(_)), 3)
    val t = table("k" -> LongType)(keys)
    agree(t, bloomMightContain(lit(sketch), col("k")))
    agree(t, bloomMightContain(lit(null).cast("binary"), col("k")), throws = true)
  }

  test("graft_hamming: codegen equals interpreted") {
    val long = withNulls(Gen.long.map(Long.box))
    val pairs = sample(Gen.zip(long, long).map { case (a, b) => Seq(a, b) }, 4)
    agree(table("a" -> LongType, "b" -> LongType)(pairs), hamming(col("a"), col("b")))
  }

  test("graft_sorted_contains: codegen equals interpreted") {
    val rows = sample(Gen.zip(genSortedLongs, withNulls(Gen.chooseNum(-4L, 13L).map(Long.box)))
      .map { case (a, v) => Seq(a, v) }, 5)
    agree(table("a" -> arr(LongType), "v" -> LongType)(rows), sortedContains(col("a"), col("v")))
  }

  test("graft_sorted_intersect_count: codegen equals interpreted, long and string arrays") {
    val longs = sample(Gen.zip(genSortedLongs, genSortedLongs).map { case (a, b) => Seq(a, b) }, 6)
    agree(table("a" -> arr(LongType), "b" -> arr(LongType))(longs),
      sortedIntersectCount(col("a"), col("b")))
    val strs = longs.map(_.map(x =>
      if (x == null) null else x.asInstanceOf[Seq[java.lang.Long]].map(v => if (v == null) null else f"${v + 3}%02d")))
    agree(table("a" -> arr(StringType), "b" -> arr(StringType))(strs),
      sortedIntersectCount(col("a"), col("b")))
  }

  test("graft_sorted_distinct: codegen equals interpreted") {
    val rows = sample(genEdgeArray(6, ragged = true, Gen.chooseNum(-3L, 5L).map(Long.box)).map(Seq(_)), 7)
    agree(table("a" -> arr(LongType))(rows), sortedDistinct(col("a")))
  }

  test("graft_pq_dot: codegen equals interpreted; a length mismatch throws in both") {
    val dim = 4
    val code = Gen.chooseNum(Byte.MinValue, Byte.MaxValue).map(Byte.box)
    val rows = sample(for {
      q <- genEdgeArray(dim, ragged = false, genEdgeFloat)
      c <- genEdgeArray(dim, ragged = false, code)
      b <- genEdgeArray(dim, ragged = false, genEdgeDouble)
      s <- genEdgeArray(dim, ragged = false, genEdgeDouble)
    } yield Seq(q, c, b, s), 8)
    val t = table("q" -> floats, "c" -> arr(ByteType), "b" -> arr(DoubleType), "s" -> arr(DoubleType)) _
    val f = pqDot(col("q"), col("c"), col("b"), col("s"))
    agree(t(rows), f)
    val d = Seq[java.lang.Double](1.0, 1.0)
    agree(t(Seq(Seq(Seq[java.lang.Float](1f, 2f), Seq[java.lang.Byte](0.toByte), d, d))), f, throws = true)
  }

  test("graft_del_variants: codegen equals interpreted for k = 1 and 2") {
    val rows = sample(genEdgeText.map(Seq(_)), 9)
    Seq(1, 2).foreach(k => agree(table("s" -> StringType)(rows), delVariants(col("s"), k)))
  }

  test("graft_hashed_shingles: codegen equals interpreted for widths 1 to 3") {
    val rows = sample(genEdgeText.map(Seq(_)), 10)
    (1 to 3).foreach(w => agree(table("s" -> StringType)(rows), hashedShingles(col("s"), w)))
  }

  test("graft_sign_bucket: codegen equals interpreted, bit budgets out of range included") {
    val rows = sample(Gen.zip(genEdgeArray(64, ragged = true, genEdgeFloat),
      withNulls(Gen.chooseNum(-1, 20).map(Int.box))).map { case (e, b) => Seq(e, b) }, 11)
    agree(table("e" -> floats, "b" -> IntegerType)(rows), signBucket(col("e"), col("b")))
  }

  test("graft_ivf_topcells: codegen equals interpreted; a shape mismatch throws in both") {
    val dim = 4
    val rows = sample(for {
      e <- genEdgeArray(dim, ragged = false, genEdgeFloat)
      nrm <- withNulls(genEdgeDouble)
      k <- Gen.choose(0, 5)
      cells <- Gen.listOfN(k, Gen.chooseNum(0L, 9L).map(Long.box))
      flat <- Gen.listOfN(k * dim, genEdgeFloat)
      cn <- Gen.listOfN(k, genEdgeDouble)
    } yield Seq(e, nrm, cells, flat, cn), 12)
    val t = table("e" -> floats, "n" -> DoubleType, "c" -> arr(LongType), "f" -> floats,
      "cn" -> arr(DoubleType)) _
    val f = ivfTopCells(col("e"), col("n"), col("c"), col("f"), col("cn"), 3)
    agree(t(rows), f)
    val one = Seq[java.lang.Double](1.0)
    agree(t(Seq(Seq(Seq[java.lang.Float](1f, 2f), 1.0, Seq[java.lang.Long](0L),
      Seq[java.lang.Float](1f, 2f, 3f), one))), f, throws = true)
  }
}
