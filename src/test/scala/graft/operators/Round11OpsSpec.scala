package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Round-11 additions: positional deletion vectors (physical half — the
  * logical half is oracle-checked), the BPE encoder (train→apply), and
  * mergeable KLL quantile sketches. */
class Round11OpsSpec extends SparkSpec {

  test("deletion vectors: zero data-file rewrites, DV accounting exact") {
    val root = Sinks.dvWriteData(spark, sf001)
    def snap(dir: String): Seq[(String, Long, Long)] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
    def dirBytes(dir: String): Long =
      new java.io.File(dir).listFiles().map(_.length).sum
    val before = snap(s"$root/data")
    // bytes-scaled count: the oracle-SF floor is 8; beyond that the rule
    // is bytes/target, so assert against the computed value, not a pin
    val nf = Sinks.dvFiles(spark, sf001)
    assert(nf >= Sinks.ZorderMinFiles)
    assert(before.size == nf, s"expected $nf data files")

    Sinks.dvDelete(spark, root)
    val alive = Sinks.dvRead(spark, root).collect()

    // the physical claim: the DELETE + merge-on-read touched no data file
    assert(snap(s"$root/data") == before,
      "data files were rewritten by the delete or the read")

    // DV accounting: one sidecar entry per deleted row, nothing else
    val total = Tables.lineitem(spark, sf001).count()
    val deleted = Tables.lineitem(spark, sf001)
      .filter(Sinks.dvDeletePredicate).count()
    assert(deleted > 0, "fixture predicate must delete something")
    val dvEntries = spark.read.parquet(s"$root/dv")
      .select(explode(col("del_pos"))).count()
    assert(dvEntries == deleted, s"DV entries $dvEntries != deleted $deleted")
    assert(alive.length == total - deleted)

    // DV size ∝ deleted rows: the ~1% predicate's sidecar must be a small
    // fraction of the data footprint, not a shadow copy
    assert(dirBytes(s"$root/dv") < dirBytes(s"$root/data") / 4,
      "DV sidecar is not small relative to the data files")
  }

  test("BPE encoder matches hand-computed tokens under a fixture merge table") {
    import spark.implicits._
    val merges = Seq(("a", "b"), ("a", "ab"))
    assert(LlmText.encodeWord("aab", merges) == Seq("aab"))
    assert(LlmText.encodeWord("ab", merges) == Seq("ab"))
    assert(LlmText.encodeWord("ba", merges) == Seq("b", "a"))
    // chars a,a,a,b → (a,b): a,a,ab → (a,ab): a,aab (left-to-right greedy)
    assert(LlmText.encodeWord("aaab", merges) == Seq("a", "aab"))
    val docsDf = Seq((1L, "aab ab"), (2L, "ba aaab")).toDF("doc_id", "norm")
    val got = LlmText.bpeEncodeWith(spark, docsDf, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // doc 1: 1+1 tokens, 5 chars, 2 words; doc 2: 2+2 tokens, 6 chars, 2 words
    assert(got == Seq((1L, 2L, 5L, 2L, 2.5), (2L, 4L, 6L, 2L, 1.5)), s"got $got")
  }

  test("BPE trainer and encoder agree: training-vocab words encode to 1 token") {
    import spark.implicits._
    val words = Seq(("aab", 3L), ("ab", 2L)).toDS()
    val merges = LlmText.bpeFromWordFreqs(spark, words, 10).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // both vocab words became merged symbols, so encoding them under the
    // table they trained must collapse each to exactly one token
    Seq("aab", "ab").foreach { w =>
      val toks = LlmText.encodeWord(w, merges)
      assert(toks == Seq(w), s"'$w' encoded to $toks")
    }
  }

  test("BPE encode on the real corpus: full coverage and per-doc bounds") {
    val enc = LlmText.llmBpeEncode(spark, sf001).collect()
    val nDocs = Tables.documents(spark, sf001).count()
    assert(enc.length == nDocs, "every document must be encoded")
    enc.foreach { r =>
      val (tokens, chars, words) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(tokens >= 1 && words <= tokens && tokens <= chars,
        s"doc ${r.getLong(0)}: words=$words tokens=$tokens chars=$chars " +
          "violate words <= tokens <= chars")
    }
  }

  test("clustered write shrinks the partial-aggregate key footprint >= 2x") {
    // proxy for the partial aggregate's output size: one row per distinct
    // (scan partition, group key) pair — exactly what a hash partial agg
    // emits (modulo spill). Clustered layout bounds it to ~groups; a
    // key-scattered layout pays ~partitions x groups (the q21 mechanism).
    def partialFootprint(df: org.apache.spark.sql.DataFrame): Long =
      df.select(spark_partition_id().as("p"), col("l_suppkey"))
        .distinct().count()
    val nf = Sinks.clusterFiles(spark, sf01)
    val clustered = Sinks.clusteredCopy(spark, sf01)
    val scattered = Tables.lineitem(spark, sf01)
      .select("l_suppkey", "l_extendedprice", "l_discount")
      .repartition(nf)
    val nKeys = Tables.lineitem(spark, sf01).select("l_suppkey").distinct().count()
    val cf = partialFootprint(clustered)
    val sf = partialFootprint(scattered)
    // range files hold disjoint key ranges: at most one straddler per cut
    assert(cf <= nKeys + nf - 1,
      s"clustered footprint $cf exceeds keys $nKeys + cuts")
    assert(sf >= 2 * cf, s"scattered footprint $sf not >= 2x clustered $cf")
    // both layouts answer the aggregate identically (oracle re-checks vs
    // DuckDB; this is the in-engine A/B)
    val a = Sinks.supplierRevenue(clustered).collect().toSeq
    val b = Sinks.supplierRevenue(scattered).collect().toSeq
    assert(a == b, "clustered and scattered layouts must agree")
  }

  test("DV purge: rewrites exactly the heavy files, kept files untouched") {
    val root = Sinks.dvpWrite(spark, sf001)
    def snap(dir: String): Map[String, (Long, Long)] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, (f.length, f.lastModified))).toMap
    val before = snap(s"$root/data")
    val nf = Sinks.dvFiles(spark, sf001)
    assert(before.size == nf)

    val (purged, kept) = Sinks.dvpPurge(spark, root)
    assert(purged.nonEmpty && purged.size < nf,
      s"selective rewrite expected: purged ${purged.size}/$nf")
    assert(purged.size + kept.size == nf)

    // kept originals byte/mtime-identical after purge + read
    val after = snap(s"$root/data")
    kept.map(p => p.split('/').last).foreach { name =>
      assert(after(name) == before(name), s"kept file $name was touched")
    }

    // the threshold did the deciding: purged fractions >= tau > kept's
    val fracs = Sinks.dvFileFractions(spark, root)
    purged.foreach(p => assert(fracs(p) >= Sinks.DvPurgeTau, s"purged $p frac ${fracs(p)}"))
    kept.foreach(p => assert(fracs(p) < Sinks.DvPurgeTau, s"kept $p frac ${fracs(p)}"))

    // sidecar shrank to exactly the kept files' entries
    val dv2Files = spark.read.parquet(s"$root/dv2")
      .select("_f").distinct().collect().map(_.getString(0)).toSet
    assert(dv2Files.subsetOf(kept.toSet), "dv2 must cover only kept files")

    // accounting: final rows == total - deleted(accumulated predicate)
    val cutoff = Sinks.dvpCutoff(spark, sf001)
    val total = graft.Tables.lineitem(spark, sf001).count()
    val deleted = graft.Tables.lineitem(spark, sf001)
      .filter(Sinks.dvpDeletePredicate(cutoff)).count()
    assert(deleted > 0)
    assert(Sinks.dvpRead(spark, root, kept).count() == total - deleted)
  }

  test("CMS merge is exact: merged == global sketch, est within one-sided band") {
    val rows = Aggregations.aggCmsMerge(spark, sf001).collect()
    assert(rows.length == 5, "top-5 probes expected")
    assert(rows(0).getLong(2) > 1, "need >1 month for the merge to be meaningful")
    // one-sided CMS guarantee: true <= est <= true + eps*N
    val n = graft.Tables.orders(spark, sf001).count()
    rows.foreach { r =>
      val (truth, est) = (r.getLong(1), r.getLong(3))
      assert(est >= truth, s"CMS estimate $est below true $truth")
      assert(est <= truth + math.ceil(0.001 * n).toLong + 1,
        s"CMS estimate $est above eps-band of true $truth (n=$n)")
    }
    // merge exactness: per-month merge == one global sketch, bit-for-bit
    // on every probe (counter addition is associative + commutative)
    import org.apache.spark.util.sketch.CountMinSketch
    val globalBytes = graft.Tables.orders(spark, sf001)
      .agg(expr("count_min_sketch(o_custkey, 0.001d, 0.99d, 42)").as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val global = CountMinSketch.readFrom(globalBytes)
    rows.foreach { r =>
      assert(r.getLong(3) == global.estimateCount(r.getLong(0)),
        s"merged estimate diverges from global sketch for key ${r.getLong(0)}")
    }
  }

  test("semantic dedup: non-vacuous, kept set pairwise below tau within cells") {
    val kept = LlmVector.llmSemdedup(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nVecs = graft.Tables.embeddings(spark, sf01).count()
    val dropped = nVecs - kept.length
    assert(dropped > 0, "threshold must drop something at sf0.1 (tuned non-vacuous)")
    assert(kept.length > 0)
    // invariant of the star rule: no two KEPT members of one cell are
    // near-dups (else the larger id would have been dropped) — checked
    // exactly via the same parity dot the query uses
    import org.apache.spark.sql.functions._
    import graft.functions.dot
    val k = spark.createDataFrame(kept.toSeq).toDF("vec_id", "cell")
    val e = graft.Tables.embeddings(spark, sf01).select("vec_id", "embedding")
    val kx = k.join(e, "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val ky = kx.select(col("vec_id").as("b"), col("cell").as("bcell"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val offenders = kx.join(ky,
        col("cell") === col("bcell") && col("b") < col("vec_id") &&
          dot(col("embedding"), col("eb")) / (col("nrm") * col("nb")) >= 0.45)
      .count()
    assert(offenders == 0, s"$offenders kept near-dup pairs survived within cells")
  }

  test("dynamic partition overwrite touches only the target partition") {
    val root = Sinks.poWrite(spark, sf001)
    def snap(): Map[String, Seq[(String, Long, Long)]] =
      new java.io.File(s"$root/t").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("p_year="))
        .map(d => d.getName -> d.listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq)
        .toMap
    val before = snap()
    assert(before.size > 1, "need multiple year partitions for the claim")
    val maxY = Sinks.poMaxYear(spark, sf001)
    val target = s"p_year=$maxY"
    assert(before.contains(target))

    Sinks.poDynamicOverwrite(spark, sf001, root)
    val after = snap()

    // dynamic mode: every NON-target partition survives byte-identically
    // (static mode would have dropped them — the data-loss trap)
    assert(after.keySet == before.keySet, "partition set must be unchanged")
    (before.keySet - target).foreach { p =>
      assert(after(p) == before(p), s"untouched partition $p was modified")
    }
    // ... and the target partition was actually rewritten
    assert(after(target) != before(target), "target partition must be rewritten")

    // row accounting: the overwrite replaced, not appended
    val total = graft.Tables.orders(spark, sf001).count()
    assert(Sinks.poRead(spark, root).count() == total)
  }

  test("theta intersection estimates match exact audience overlaps") {
    import org.apache.spark.sql.functions._
    val rows = Aggregations.aggThetaIntersect(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty, "need >=2 event types for intersections")
    val ev = graft.Tables.events(spark, sf001)
      .select("event_type", "user_id").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byType = ev.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { case (a, b, estA, estB, estI) =>
      val (exA, exB) = (byType(a).size.toLong, byType(b).size.toLong)
      val exI = (byType(a) & byType(b)).size.toLong
      def within5(est: Long, exact: Long) =
        math.abs(est - exact) <= math.max(1L, math.ceil(0.05 * exact).toLong)
      assert(within5(estA, exA), s"$a: est $estA vs exact $exA")
      assert(within5(estB, exB), s"$b: est $estB vs exact $exB")
      assert(within5(estI, exI), s"$a∩$b: est $estI vs exact $exI")
      assert(exI > 0, "fixture must have overlapping audiences")
    }
  }

  test("merged KLL quantiles land within 2% of exact p50/p90") {
    val row = Aggregations.aggQuantileMerge(spark, sf001).collect()(0)
    assert(row.getLong(0) > 1, "need >1 day for the merge to be meaningful")
    val (p50, p90) = (row.getDouble(1), row.getDouble(2))
    val exact = Tables.events(spark, sf001)
      .agg(expr("percentile(value, 0.5)").as("e50"),
        expr("percentile(value, 0.9)").as("e90")).collect()(0)
    val (e50, e90) = (exact.getDouble(0), exact.getDouble(1))
    assert(math.abs(p50 - e50) <= 0.02 * math.abs(e50), s"p50 $p50 vs exact $e50")
    assert(math.abs(p90 - e90) <= 0.02 * math.abs(e90), s"p90 $p90 vs exact $e90")
    // the sketch's actual contract is on RANK: the estimate's true rank
    // must sit within KLL(k=200)'s error band of the requested quantile
    val ev = Tables.events(spark, sf001).cache()
    try {
      val n = ev.count().toDouble
      val r50 = ev.filter(col("value") <= p50).count() / n
      val r90 = ev.filter(col("value") <= p90).count() / n
      assert(math.abs(r50 - 0.5) <= 0.02, s"p50 estimate has true rank $r50")
      assert(math.abs(r90 - 0.9) <= 0.02, s"p90 estimate has true rank $r90")
    } finally { ev.unpersist(); () }
  }
}
