package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.sortedIntersectCount

/** Invariant checks for the round-5 operators (PII scrub, contamination,
  * chunk dedup, TPC-H Q13/Q15/Q20) plus the SortedIntersectCount
  * null-element contract — semantic properties the DuckDB hash-compare
  * can't express. Runs on sf0.001 / sf0.01. */
class Round5OpsSpec extends SparkSpec {

  test("sorted-intersect skips null elements without NPE (codegen + interpreted)") {
    // literal arguments: the optimizer folds this projection, so it runs
    // eval (NativeCodegenSpec runs the generated code over scanned rows)
    val viaDf = spark.range(1)
      .select(
        sortedIntersectCount(expr("array('a', CAST(NULL AS STRING), 'b')"), expr("array('a', 'b')")).as("s"),
        sortedIntersectCount(expr("array(CAST(NULL AS LONG), 1L, 2L)"),
          expr("array(1L, CAST(NULL AS LONG), 3L)")).as("l"))
      .head()
    assert(viaDf.getInt(0) === 2, "null string element must be skipped, not counted")
    assert(viaDf.getInt(1) === 1, "null long elements on either side must be skipped")
    // interpreted path (direct eval, no codegen)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val mk = (xs: Seq[Any]) => Literal.create(
      new GenericArrayData(xs.map {
        case s: String => UTF8String.fromString(s)
        case other => other
      }.toArray), ArrayType(StringType, containsNull = true))
    val e = graft.functions.SortedIntersectCount(
      mk(Seq("a", null, "b")), mk(Seq("a", "b")))
    assert(e.eval(null) === 2)
  }

  test("pii scrub: entity class fires on this corpus and redaction changes the text") {
    val pii = LlmText.llmPiiScrub(spark, sf001).cache()
    val withEntity = pii.filter(col("n_entity") > 0)
    assert(withEntity.count() > 0, "entity pattern must match — a vacuous row proves nothing")
    // email/number classes are structurally real but have no matches here
    assert(pii.filter(col("n_email") > 0 || col("n_number") > 0).count() === 0)
    // redacted fingerprint differs from the raw fingerprint iff something matched
    val joined = pii.join(LlmText.llmFingerprint(spark, sf001), "doc_id")
    assert(joined.filter(col("n_entity") > 0 && col("redacted_md5") === col("fingerprint")).count() === 0,
      "docs with matches must redact to different text")
    assert(joined.filter(col("n_entity") === 0 && col("redacted_md5") =!= col("fingerprint")).count() === 0,
      "docs without matches must pass through untouched")
    pii.unpersist()
  }

  test("contamination: the 5 planted eval-source docs are flagged") {
    val hits = LlmText.llmContamination(spark, sf001)
      .filter(col("doc_id") < 5)
      .collect()
    assert(hits.length === 5, "every eval-source doc contains its own 13-gram")
    assert(hits.forall(_.getLong(1) >= 1L))
  }

  test("chunk dedup: counts conserve and duplicate chunks exist corpus-wide") {
    val cd = LlmText.llmChunkDedup(spark, sf01).cache()
    assert(cd.filter(col("n_surviving") > col("n_chunks") || col("n_surviving") < 0).count() === 0)
    assert(cd.filter(col("n_surviving") < col("n_chunks")).count() > 0,
      "at least one doc must lose a duplicated chunk — a vacuous row proves nothing")
    // total surviving chunks = number of distinct chunk texts in the corpus
    val surviving = cd.agg(sum("n_surviving")).head().getLong(0)
    cd.unpersist()
    val docs = graft.Tables.documents(spark, sf01)
      .select(split(lower(trim(col("text"))), " ").as("toks"))
      .select(explode(transform(
        sequence(lit(0), ceil(size(col("toks")) / lit(32.0)).cast("int") - 1),
        i => concat_ws(" ", slice(col("toks"), i * 32 + 1, lit(32))))).as("chunk"))
    assert(surviving === docs.select("chunk").distinct().count(),
      "each distinct chunk text must have exactly one surviving occurrence")
  }

  test("repetition fractions stay in [0,1] and the flag matches its threshold") {
    val rep = LlmText.llmRepetition(spark, sf001).cache()
    assert(rep.filter(col("dup_token_frac") < 0 || col("dup_token_frac") > 1).count() === 0)
    assert(rep.filter(
      col("flagged") =!= (coalesce(col("dup_gram_frac"), lit(0.0)) > 0.2)).count() === 0)
    rep.unpersist()
  }

  test("domain mix weights are positive and sum to 1") {
    val mix = LlmText.llmDomainMix(spark, sf001)
    val s = mix.agg(sum("mix_weight")).head().getDouble(0)
    assert(math.abs(s - 1.0) < 1e-3, s"weights sum to $s") // 6-dp rounding × n groups
    assert(mix.filter(col("mix_weight") <= 0).count() === 0)
  }

  test("q6 is a single positive scan-only aggregate") {
    val rows = Tpch.q6ForecastRevenue(spark, sf001).collect()
    assert(rows.length === 1 && rows.head.getDouble(0) > 0.0)
  }

  test("vwap lies within each bar's price range; zero-volume bars have NULL vwap") {
    val bars = TimeSeries.tsVwap(spark, sf001)
      .join(graft.Tables.events(spark, sf001)
          .groupBy(date_trunc("hour", col("ts_ntz")).cast("timestamp_ntz").as("bar"))
          .agg(min("value").as("lo"), max("value").as("hi")),
        "bar")
      .cache()
    assert(bars.filter(col("vwap") < col("lo") - 1e-4 || col("vwap") > col("hi") + 1e-4).count() === 0,
      "a weighted average cannot leave the price range")
    assert(bars.filter(col("volume") < 0).count() === 0)
    // null-safe <=> so NULL-volume bars (all sizes NULL) are asserted too:
    // with =!=, `volume === 0` is NULL there, the comparison propagates NULL
    // and the filter drops exactly the rows the invariant is about
    assert(bars.filter(!(col("vwap").isNull <=> (coalesce(col("volume"), lit(0)) === 0))).count() === 0,
      "vwap is defined exactly on bars with positive volume")
    bars.unpersist()
  }

  test("rolling volatility is non-negative and needs 5 observations") {
    val vol = TimeSeries.tsRollingVol(spark, sf001)
    assert(vol.filter(col("vol30") < 0).count() === 0)
    // the guard drops the first 5 days of every segment (ret null on day 1)
    val firstDays = vol.groupBy("seg").agg(min("day").as("first_kept"))
    assert(firstDays.count() > 0)
  }

  test("merged HLL sketches estimate the cross-day distinct within 5%") {
    val row = Aggregations.aggHllMerge(spark, sf01).head()
    val est = row.getLong(1).toDouble
    val exact = graft.Tables.events(spark, sf01)
      .agg(countDistinct("user_id")).head().getLong(0).toDouble
    assert(row.getLong(0) > 1, "must actually merge sketches across multiple days")
    assert(math.abs(est - exact) / exact <= 0.05,
      s"merged estimate $est vs exact $exact drifted beyond the HLL error bound")
  }

  test("q13 histogram masses sum to the customer count") {
    val total = Tpch.q13OrderCountDist(spark, sf001).agg(sum("custdist")).head().getLong(0)
    assert(total === graft.Tables.customer(spark, sf001).count())
  }

  test("q15 winners all carry the maximum revenue") {
    val rows = Tpch.q15TopSupplier(spark, sf001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getDouble(2)).distinct.length === 1,
      "every returned supplier ties at the max")
  }

  test("q20 dominant suppliers are a subset of the nation's suppliers") {
    val out = Tpch.q20DominantSupplier(spark, sf01).collect().map(_.getString(0))
    assert(out.sameElements(out.sorted), "output must be name-ordered")
    val nation1 = graft.Tables.supplier(spark, sf01)
      .join(graft.Tables.nation(spark, sf01).filter(col("n_name") === "NATION_1"),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_name").collect().map(_.getString(0)).toSet
    assert(out.forall(nation1.contains))
  }
}
