package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{bloomMightContain, dot}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

/** Property tests (SURVEY.md §5.5) — algebraic invariants on generated data.
  * Each sample runs a real Spark job, so sample counts stay small. */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-props")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val genInts = Gen.nonEmptyListOf(Gen.chooseNum(-50, 50))

  property("unionAll count = sum of counts") = forAllNoShrink(genInts, genInts) { (a, b) =>
    import spark.implicits._
    a.toDS().union(b.toDS()).count() == a.size + b.size
  }

  property("except ∪ intersect partitions the distinct left side") =
    forAllNoShrink(genInts, genInts) { (a, b) =>
      import spark.implicits._
      val l = a.toDS()
      val r = b.toDS()
      val ex = l.except(r).collect().toSet
      val in = l.intersect(r).collect().toSet
      (ex ++ in) == a.toSet && (ex & in).isEmpty
    }

  property("dropDuplicates is idempotent") = forAllNoShrink(genInts) { a =>
    import spark.implicits._
    val once = a.toDS().dropDuplicates()
    once.dropDuplicates().count() == once.count() && once.count() == a.toSet.size
  }

  property("running-sum final row equals the group total") =
    forAllNoShrink(Gen.nonEmptyListOf(Gen.chooseNum(-100L, 100L))) { xs =>
      import spark.implicits._
      val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
      val w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val last = df.withColumn("run", sum("v").over(w))
        .orderBy(desc("i")).limit(1).collect()(0).getLong(2)
      last == xs.sum
    }

  // skewed stream: a handful of hot values drowned in wide-range noise
  private val genSkewedStream = Gen.nonEmptyListOf(Gen.frequency(
    (3, Gen.chooseNum(0L, 4L)),
    (7, Gen.chooseNum(100L, 100000L))))

  property("Misra-Gries candidates cover every heavy hitter under chunked merge") =
    forAllNoShrink(genSkewedStream, Gen.chooseNum(2, 16)) { (xs, chunkSize) =>
      // pure-JVM check of the mergeable-summaries guarantee the aggregator
      // relies on: reduce arbitrary chunks, merge the partials (as partial
      // aggregation does across partitions), and the candidate set must
      // still contain every item with true count > n/(k+1)
      val k = 9
      val mg = new graft.functions.MisraGries(k)
      val summary = xs.grouped(chunkSize)
        .map(_.foldLeft(mg.zero)(mg.reduce))
        .reduce(mg.merge)
      val cands = mg.finish(summary).ids.toSet
      assert(cands.size <= k, s"sketch exceeded capacity: ${cands.size}")
      val n = xs.size.toLong
      xs.groupBy(identity).forall { case (v, occ) =>
        occ.size.toLong * (k + 1) <= n || cands(v)
      }
    }

  private val genVec = Gen.listOfN(8, Gen.chooseNum(-10.0f, 10.0f))
    .suchThat(v => v.exists(_ != 0.0f))

  // Edge-case generators for NativeCodegenSpec's codegen-vs-interpreted
  // differential: nulls at every level, NaN and ±0.0, and (when `ragged`)
  // empty and off-by-one array lengths around the expected dimension.
  private[graft] def withNulls[T](g: Gen[T]): Gen[T] =
    Gen.frequency(9 -> g, 1 -> Gen.const(null.asInstanceOf[T]))

  private[graft] val genEdgeFloat: Gen[java.lang.Float] = Gen.frequency(
    8 -> Gen.chooseNum(-10.0f, 10.0f), 2 -> Gen.oneOf(Float.NaN, 0.0f, -0.0f)).map(Float.box)

  private[graft] val genEdgeDouble: Gen[java.lang.Double] = Gen.frequency(
    8 -> Gen.chooseNum(-10.0, 10.0), 2 -> Gen.oneOf(Double.NaN, 0.0, -0.0)).map(Double.box)

  private[graft] def genEdgeArray[T](dim: Int, ragged: Boolean, elem: Gen[T]): Gen[Seq[T]] = {
    val len = if (ragged) Gen.oneOf(dim, dim, dim, 0, dim - 1, dim + 1) else Gen.const(dim)
    withNulls(len.flatMap(n => Gen.listOfN(n, withNulls(elem))))
  }

  /** Ascending small longs with null elements first: the sorted-array
    * expressions' input shape, duplicates included. */
  private[graft] val genSortedLongs: Gen[Seq[java.lang.Long]] =
    withNulls(Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, withNulls(Gen.chooseNum(-3L, 12L).map(Long.box)))))
      .map(xs => if (xs == null) null else xs.sortBy(x => if (x == null) Long.MinValue else x.longValue))

  /** Short space-separated text: empty tokens, multi-byte codepoints, null. */
  private[graft] val genEdgeText: Gen[String] = withNulls(
    Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "ab", "", "é", "日本", "zz")))
      .map(_.mkString(" ")))

  property("cosine ∈ [-1,1] and self-similarity = 1") =
    forAllNoShrink(genVec, genVec) { (u, v) =>
      import spark.implicits._
      val df = Seq((u, v)).toDF("u", "v")
      val r = df.select(
        (dot(col("u"), col("v")) /
          (sqrt(dot(col("u"), col("u"))) * sqrt(dot(col("v"), col("v"))))).as("cos"),
        (dot(col("u"), col("u")) /
          (sqrt(dot(col("u"), col("u"))) * sqrt(dot(col("u"), col("u"))))).as("self")
      ).collect()(0)
      val cos = r.getDouble(0)
      val self = r.getDouble(1)
      cos >= -1.0000001 && cos <= 1.0000001 && math.abs(self - 1.0) < 1e-9
    }

  // The fuzzy join's sub-quadratic candidate generation rests entirely on
  // the deletion-variant pigeonhole: every pair within ed ≤ 2 MUST share a
  // ≤2-deletion variant hash, or the signature join silently drops a true
  // pair before the exact confirm can see it. Apply ≤2 random edits
  // (insert/delete/substitute) to a random string and require a non-empty
  // hash intersection — pure-JVM, same code path codegen calls.
  //
  // The alphabet deliberately mixes ASCII with 2- and 3-byte-UTF-8 BMP
  // codepoints: the confirm (levenshtein) counts CHARACTER edits, so the
  // variants must be generated over codepoints — a byte-level variant
  // scheme passes this property on ASCII but fails it on the accented/CJK
  // names below (2 char edits = up to 6 byte edits). BMP-only keeps one
  // UTF-16 char = one codepoint, so `patch` positions are codepoint
  // positions and an edit here is exactly one levenshtein edit.
  private val editAlphabet: IndexedSeq[Char] =
    (('a' to 'z') ++ ('0' to '9') ++ "éüñçøßαжя中日本語데이터").toIndexedSeq
  private val genName = Gen.chooseNum(5, 24).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(editAlphabet)).map(_.mkString))
  private val genEdits = Gen.chooseNum(0, 2)

  property("strings within edit distance 2 always share a deletion variant") =
    forAllNoShrink(genName, genEdits, Gen.long) { (s, nEdits, seed) =>
      val rnd = new scala.util.Random(seed)
      def randChar(): Char = editAlphabet(rnd.nextInt(editAlphabet.length))
      var t = s
      (1 to nEdits).foreach { _ =>
        val op = rnd.nextInt(3)
        val pos = rnd.nextInt(math.max(t.length, 1))
        t = op match {
          case 0 if t.nonEmpty => t.patch(pos, Nil, 1) // delete
          case 1 => t.patch(pos, randChar().toString, 0) // insert
          case _ if t.nonEmpty => t.patch(pos, randChar().toString, 1) // substitute
          case _ => t
        }
      }
      def variants(x: String): Set[Long] = {
        val arr = graft.functions.DeletionVariants
          .compute(org.apache.spark.unsafe.types.UTF8String.fromString(x), 2)
        (0 until arr.numElements()).map(arr.getLong).toSet
      }
      (variants(s) & variants(t)).nonEmpty
    }

  private val genKeys = Gen.nonEmptyListOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))

  // The bloom prefilter's correctness rests entirely on "no false
  // negatives": a missed member silently DROPS fact rows before the exact
  // confirm join can see them. The codegen expression must probe with the
  // same hash the builder inserted with, for any long key.
  property("bloom codegen probe never false-negatives on inserted keys") =
    forAllNoShrink(genKeys) { keys =>
      import spark.implicits._
      val bf = keys.toDF("k").stat.bloomFilter("k", math.max(keys.size.toLong, 1L), 0.01)
      val bytes = { val b = new java.io.ByteArrayOutputStream(); bf.writeTo(b); b.toByteArray }
      keys.toDF("k")
        .filter(!bloomMightContain(lit(bytes), col("k")))
        .count() == 0L
    }

  private val genIntervals =
    Gen.nonEmptyListOf(for {
      s <- Gen.chooseNum(0, 60)
      d <- Gen.chooseNum(1, 20)
    } yield (s, s + d))

  // The sweep-line concurrency (ts_concurrent_intervals' kernel) must
  // equal the brute-force point-wise count at EVERY day: exploding
  // endpoints into +1/-1 deltas and running-summing is only correct if
  // half-open [s, e) semantics survive the day-grouping.
  property("sweep-line concurrency equals brute-force point-wise counts") =
    forAllNoShrink(genIntervals) { iv =>
      import spark.implicits._
      val deltas = iv.flatMap { case (s, e) => Seq((s, 1L), (e, -1L)) }
        .toDF("d", "delta")
        .groupBy("d").agg(sum("delta").as("net"))
      val w = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val swept = deltas.withColumn("active", sum("net").over(w))
        .select("d", "active")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      swept.forall { case (d, active) =>
        active == iv.count { case (s, e) => s <= d && d < e }
      }
    }

  private val genEvtSeq =
    Gen.nonEmptyListOf(Gen.oneOf('V', 'C', 'P', 'O')).map(_.mkString)

  // evt_pattern_match counts `VC*P` with regexp_count; its oracle relies
  // on Java-regex and RE2 agreeing for this alternation-free pattern. Pin
  // the Spark side to the reference semantics: non-overlapping,
  // left-to-right, greedy-C* funnel counting.
  property("funnel pattern count equals the hand-rolled non-overlapping scan") =
    forAllNoShrink(genEvtSeq) { s =>
      import spark.implicits._
      def scan(str: String): Long = {
        var i = 0; var n = 0L
        while (i < str.length) {
          if (str(i) == 'V') {
            var j = i + 1
            while (j < str.length && str(j) == 'C') j += 1
            if (j < str.length && str(j) == 'P') { n += 1; i = j + 1 } else i += 1
          } else i += 1
        }
        n
      }
      Seq(s).toDF("seq")
        .select(regexp_count(col("seq"), lit("VC*P")).cast("long"))
        .head().getLong(0) == scan(s)
    }

  // The round-12 alternation extension `V(C|O)*P`: alternation inside a
  // greedy quantifier is where a backtracking engine (Java regex) and an
  // automaton engine (RE2) could drift; for THIS pattern the match span
  // is forced — the (C|O) run can contain no P, so backtracking can never
  // shorten a greedy match into success an automaton wouldn't find. Pin
  // Spark's count to the explicit non-overlapping scan; the oracle
  // hash-gate pins Spark vs RE2 on the real data.
  property("alternation funnel count equals the hand-rolled scan") =
    forAllNoShrink(genEvtSeq) { s =>
      import spark.implicits._
      def scan(str: String): Long = {
        var i = 0; var n = 0L
        while (i < str.length) {
          if (str(i) == 'V') {
            var j = i + 1
            while (j < str.length && (str(j) == 'C' || str(j) == 'O')) j += 1
            if (j < str.length && str(j) == 'P') { n += 1; i = j + 1 } else i += 1
          } else i += 1
        }
        n
      }
      Seq(s).toDF("seq")
        .select(regexp_count(col("seq"), lit("V(C|O)*P")).cast("long"))
        .head().getLong(0) == scan(s)
    }
}
