package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Specs for the rows-only (non-oracle-checkable) LLM-pipeline operators:
  * MinHash candidate quality, SimHash locality, IVF-ANN recall, multimodal
  * decode stub. A crafted fixture corpus (written once to /tmp) provides
  * known near-duplicates, since the synthetic corpus has none. */
class LlmSpec extends SparkSpec {

  /** The first n tokens of the fixture vocabulary: 16 words cycled, each
    * suffixed with its pass number (key0 … index0, key1 …). */
  private def fixtureTokens(n: Int): Seq[String] = {
    val words = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value",
      "part", "hash", "join", "sort", "group", "filter", "map", "index")
    (0 until n).map(i => words(i % 16) + (i / 16))
  }

  private lazy val fixtureDir: String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_llm_fixture"
    import spark.implicits._
    val base = fixtureTokens(48).mkString(" ")
    val nearDup = base.replace("hash2", "hashx") // 1 of 48 tokens differs → shingle J ≈ 0.87
    val distinct = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron"
    Seq(
      (1L, base, "en", "src0", base.length.toLong),
      (2L, nearDup, "en", "src0", nearDup.length.toLong),
      (3L, distinct, "en", "src0", distinct.length.toLong),
      (4L, "ab cd", "en", "src0", 5L), // shorter than one 3-shingle — must not crash
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("minhash finds the near-duplicate pair and not the distinct one") {
    val pairs = LlmText.llmDedupMinhash(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "93%-overlap shingle pair must be a candidate")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      "disjoint docs must not be candidates")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "a sub-shingle-length doc must pass through with no shingles, not crash")
  }

  test("minhash estimate tracks the exact shingle jaccard") {
    val est = LlmText.llmDedupMinhash(spark, fixtureDir)
      .filter(col("a") === 1L && col("b") === 2L)
      .collect().map(_.getDouble(2)).headOption
    assert(est.isDefined)
    // exact 3-shingle jaccard of the fixture near-dup pair: 48 tokens, one
    // change affects 3 of 46 shingles → J = 43/49 ≈ 0.878
    assert(math.abs(est.get - 43.0 / 49.0) <= 0.15,
      s"estimate ${est.get} too far from exact ${43.0 / 49.0}")
  }

  test("minhash keep: fixture near-dups collapse, others keep themselves") {
    val keep = LlmText.llmMinhashDedupKeep(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keep == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L), s"got $keep")
  }

  private lazy val familyDir: String = {
    // A 6-copy near-dup FAMILY — each copy appends one distinct marker token,
    // exactly the shard-marker shape ScaleStress synthesizes and the shape
    // that made the pair listing quadratic (family²/2 pairs per shared band
    // bucket). The keep query must collapse the family with O(family) work.
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_llm_family_fixture"
    import spark.implicits._
    val base = fixtureTokens(48).mkString(" ")
    val rows = (0 until 6).map(i => (10L + i, s"$base shard$i", "en", "src0", (base.length + 7).toLong)) :+
      ((20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "src0", 52L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("minhash keep collapses a marker-token family to its min doc") {
    val keep = LlmText.llmMinhashDedupKeep(spark, familyDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byDoc = keep.map(t => t._1 -> t._2).toMap
    (10L to 15L).foreach(d =>
      assert(byDoc(d) == 10L, s"family member $d must dedup to 10, got ${byDoc(d)}"))
    assert(byDoc(20L) == 20L, "the distinct doc must keep itself")
    assert(keep.count(_._3) == 5, "exactly the 5 non-min family members are dups")
  }

  private def familyOf(n: Int): String = {
    // n marker-token near-dup copies of one base doc — the family shape that
    // makes the pair listing quadratic
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_llm_family_$n"
    import spark.implicits._
    val base = fixtureTokens(48).mkString(" ")
    (0 until n).map(i => (100L + i, s"$base shard$i", "en", "src0", (base.length + 7).toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("star edges grow linearly in family size where the pair listing is quadratic") {
    // the de-quadratization growth law as a countable fact, on the REAL
    // (mod-prime) minhash: slot orderings are pairwise-independent, so a
    // band bucket can miss a family member (P(band match) = estJ^4 per
    // band) and the star-edge count is no longer EXACTLY n-1 — but it is
    // bounded LINEARLY (hard bound 8n: each of a member's 8 band rows
    // contributes at most one (rep, member) edge; measured ~1.5-2n here)
    // while the pair listing lists every one of the n(n-1)/2 intra-family
    // pairs. The family must still collapse to ONE component through the
    // star edges (min doc_id 100 survives as everyone's keep_id).
    Seq(8, 16).foreach { n =>
      val dir = familyOf(n)
      val edges = LlmText.minhashStarEdges(spark, dir).count()
      val pairs = LlmText.llmDedupMinhash(spark, dir).count()
      assert(edges >= n - 1 && edges <= 4L * n,
        s"family of $n: star edges must stay linear (expected [${n - 1}, ${4 * n}]), got $edges")
      assert(pairs == n.toLong * (n - 1) / 2,
        s"family of $n: expected ${n * (n - 1) / 2} listed pairs, got $pairs")
      val collapsed = LlmText.llmMinhashDedupKeep(spark, dir)
        .filter(col("keep_id") === 100L).count()
      assert(collapsed == n, s"family of $n must collapse to doc 100, got $collapsed members")
    }
  }

  /** Chain-family texts A~B~C with A≁C, found by a one-off fixture search
    * (round 10) under the mod-prime minhash and then pinned: est(A,B)=0.875
    * and est(B,C)=0.813 (both ≥ 0.8), est(A,C)=0.719 (< 0.8), AND the band
    * structure satisfies (i) every band where B and C bucket together also
    * holds A, (ii) at least one band holds all three — so whether C chains
    * or detaches is decided ONLY by which doc is the bucket min. All
    * deterministic (fixed permutation constants). */
  private lazy val chainTexts: (String, String, String) = {
    val base = fixtureTokens(60)
    def variant(tag: String, ps: Seq[Int]): String =
      ps.foldLeft(base)((acc, p) => acc.updated(p, tag + p)).mkString(" ")
    (variant("axx", Seq(0, 13)), base.mkString(" "), variant("cxx", Seq(37, 48, 59)))
  }

  private def writeChain(name: String, rows: Seq[(Long, String)]): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_llm_chain_$name"
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("keep-query detach trade: the chain's fate follows the bucket min") {
    val (ta, tb, tc) = chainTexts
    def keepMap(dir: String): Map[Long, Long] =
      LlmText.llmMinhashDedupKeep(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Case 1: the chain MIDDLE (B) is the bucket min. Star edges B->A and
    // B->C both est-confirm, so the whole chain collapses to B — same
    // components as the pair graph.
    val d1 = writeChain("midmin", Seq((1L, tb), (2L, ta), (3L, tc)))
    assert(keepMap(d1) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"with the middle as bucket min the chain must collapse, got ${keepMap(d1)}")
    // Case 2: the END A is the bucket min. C's only candidate edges point
    // at A (fixture guarantees no B,C bucket without A) and est(A,C) < 0.8
    // rejects them, so C DETACHES — the declared linear-work trade.
    val d2 = writeChain("endmin", Seq((1L, ta), (2L, tb), (3L, tc)))
    assert(keepMap(d2) == Map(1L -> 1L, 2L -> 1L, 3L -> 3L),
      s"with an end as bucket min C must detach, got ${keepMap(d2)}")
    // ...where the PAIR graph would chain: both adjacent pairs are listed,
    // the ends pair is not, so CC over the listing merges all three.
    val pairs = LlmText.llmDedupMinhash(spark, d2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)),
      s"pair listing must contain exactly the adjacent chain pairs, got $pairs")
  }

  test("near-dup-safe split keeps families atomic and covers every doc") {
    val a = LlmText.neardupSplitAssignments(spark, sf01).cache()
    try {
      // no family straddles subsets — the whole point of the operator
      val straddlers = a.groupBy("keep_id")
        .agg(countDistinct("split").as("n"))
        .filter(col("n") > 1).count()
      assert(straddlers == 0, s"$straddlers families straddle splits")
      // every document is assigned exactly once
      val nDocs = graft.Tables.documents(spark, sf01).count()
      assert(a.count() == nDocs)
      assert(a.select("doc_id").distinct().count() == nDocs)
      // the 8/1/1 hash buckets land near 80/10/10 (wide band: family
      // sizes make the split granularity families, not docs)
      val frac = a.filter(col("split") === "train").count().toDouble / nDocs
      assert(frac > 0.6 && frac < 0.95, s"train fraction $frac out of band")
    } finally { a.unpersist(); () }
  }

  test("BPE trainer learns the hand-computed merge sequence on a fixture vocab") {
    import spark.implicits._
    // vocab: "aab"×3, "ab"×2. Round 1 pairs: (a,a)=3, (a,b)=3+2=5 → merge
    // (a,b)→"ab" freq 5. After: aab→[a,ab], ab→[ab]. Round 2 pairs:
    // (a,ab)=3 → merge (a,ab)→"aab" freq 3. Round 3: no pairs left.
    val words = Seq(("aab", 3L), ("ab", 2L)).toDS()
    val got = LlmText.bpeFromWordFreqs(spark, words, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == Seq((1L, "a", "b", "ab", 5L), (2L, "a", "ab", "aab", 3L)),
      s"got $got")
  }

  test("BPE merges on the real corpus are 10, distinct, and rerun-stable") {
    val a = LlmText.llmBpeMerges(spark, sf001).collect().toSeq
    val b = LlmText.llmBpeMerges(spark, sf001).collect().toSeq
    assert(a.size == 10, s"expected 10 merges, got ${a.size}")
    assert(a.map(_.getString(3)).distinct.size == 10, "merged symbols must be distinct")
    assert(a == b, "merge sequence must be rerun-stable")
    // each merge's pair frequency is non-increasing-ish is NOT guaranteed
    // (later merges can create high-frequency pairs), but every frequency
    // must be positive
    assert(a.forall(_.getLong(4) > 0))
  }

  test("simhash is local: near-dups differ in few bits, distinct docs in many") {
    val sh = LlmText.llmSimhash(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(sh(1L), sh(2L)) <= 12,
      s"near-dup hamming ${hamming(sh(1L), sh(2L))} should be small")
    assert(hamming(sh(1L), sh(3L)) > hamming(sh(1L), sh(2L)),
      "distinct doc must be farther than the near-dup")
  }

  test("simhash banded LSH finds the near-dup pair without a cross join") {
    val pairs = LlmText.llmSimhashNeardup(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "near-dup must share a 16-bit band and pass hamming<=8")
    assert(!pairs.contains((1L, 3L)), "distinct doc must not be a candidate")
  }

  test("near-dup clustering: {1,2} form one component, 3 and 4 stay singletons") {
    // token jaccard(1,2) ≈ 47/49 ≥ 0.5; docs 3/4 share no tokens with anyone
    val sizes = LlmText.llmDedupCluster(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1L -> 2L, 3L -> 1L, 4L -> 1L), s"got $sizes")
  }

  test("IVF ANN achieves reasonable recall vs brute-force top-5") {
    val brute = LlmVector.llmCosineTopk(spark, sf001).select("a", "nn").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = LlmVector.llmAnnIvf(spark, sf001).select("a", "nn").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@5 was $recall")
    // sanity: ANN returns ≤ 5 neighbors per query for every query it covers
    assert(ann.groupBy(_._1).forall(_._2.size <= 5))
  }

  test("ANN IVF recall@5 stays >= 0.4 at sf0.1 (pins the nprobe/recall trade)") {
    // the recall the 100x sweep measured (0.44 at b=2) lives here as a
    // GATE, so a future "make ANN faster" change cannot silently re-trade
    // recall away. Runs on the real sf0.1 embeddings like the sweep did.
    val sfBig = "/root/testdata/sf0.1"
    val brute = LlmVector.llmCosineTopk(spark, sfBig)
      .select("a", "nn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = LlmVector.llmAnnIvf(spark, sfBig)
      .select("a", "nn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall@5 at sf0.1 was $recall — the nprobe budget regressed")
  }

  test("IVF-PQ recall@5 holds the plain-IVF floor; codes index is measurably smaller") {
    val sfBig = "/root/testdata/sf0.1"
    // recall vs exact, same protocol as the plain-IVF gate — the refine
    // step must recover the floor despite scoring candidates from codes
    val brute = LlmVector.llmCosineTopk(spark, sfBig)
      .select("a", "nn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = LlmVector.llmAnnIvfPq(spark, sfBig)
      .select("a", "nn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF-PQ recall@5 at sf0.1 was $recall — below the plain-IVF floor")
    assert(pq.groupBy(_._1).forall(_._2.size <= 5))

    // memory: the smaller serving residency is the point of the compose —
    // cache the codes index and the float index the plain-IVF path serves
    // (`annIndex`) and compare MEASURED storage bytes. Two traps:
    // (1) CacheManager dedups by plan, so a cache() of a plan some memo
    // already holds would materialize nothing (delta = 0); no memo caches
    // either index plan (the PQ memo holds the top-k, not its codes index),
    // and releasing the memos first keeps the recall run's caches out of
    // the measurement; (2) both
    // index plans read the memoized cell assignment, so WARM that memo
    // again before measuring or the first measurement absorbs its bytes.
    LlmVector.releaseCellCache(spark)
    LlmVector.llmAnnIvf(spark, sfBig).count(): Unit
    def cachedBytes(df: org.apache.spark.sql.DataFrame): Long = {
      val before = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      val cached = df.cache()
      cached.count()
      val delta = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum - before
      cached.unpersist(blocking = true)
      delta
    }
    val n = graft.Tables.embeddings(spark, sfBig).count()
    val codeBytes = cachedBytes(LlmVector.buildPqIndex(spark, sfBig))
    val floatBytes = cachedBytes(LlmVector.annIndex(spark, sfBig))
    assert(codeBytes > 0 && floatBytes > 0)
    // per-row accounting at Dim=64: the PAYLOAD shrinks exactly 4× (256
    // float bytes → 64 code bytes per vector) but each row also carries
    // ~40 fixed bytes (vec id, cell, norm, array header) on BOTH sides, so
    // the whole-row ratio at this dimension is ~(296/104) ≈ 2.8 — floor
    // 2.5 measured; at production Dim (512+) the fixed part vanishes and
    // the ratio approaches 4. Pin both sides' absolute per-row footprint
    // so a payload regression (e.g. codes silently widening to int) fails.
    val ratio = floatBytes.toDouble / codeBytes
    assert(ratio >= 2.5, f"codes index only $ratio%.2fx smaller ($codeBytes vs $floatBytes bytes)")
    assert(codeBytes / n <= 160, s"codes index ${codeBytes / n} B/row — expected ~104 (1 B/dim + fixed)")
    assert(floatBytes / n >= 280, s"float index ${floatBytes / n} B/row — expected ~296 (4 B/dim + fixed)")
  }

  test("GRFT container pack/decode round-trips per-payload features") {
    val feats = MultimodalOps.decode(MultimodalOps.pack(MultimodalOps.fromDocuments(spark, sf001)))
      .collect().map(f => f.doc_id -> f).toMap
    val chars = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(feats.nonEmpty)
    feats.foreach { case (id, f) =>
      assert(f.n_bytes == chars(id), "ascii corpus: decoded bytes == chars")
      assert(f.n_frames == (f.n_bytes + MultimodalOps.FrameLen - 1) / MultimodalOps.FrameLen)
      assert(f.checksum > 0)
      // weighted checksum is bounded by frame-count × plain checksum and at
      // least the plain checksum (weights are 1..n_frames)
      assert(f.wsum >= f.checksum && f.wsum <= f.n_frames * f.checksum)
    }
  }

  test("GRFT decode rejects corrupt containers loudly") {
    import spark.implicits._
    val good = MultimodalOps.pack(MultimodalOps.fromDocuments(spark, sf001)).head()
    // corrupt the magic
    val badMagic = good.copy(payload = { val p = good.payload.clone(); p(0) = 'X'.toByte; p })
    val e1 = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decode(Seq(badMagic).toDS()).collect()
    }
    assert(e1.getMessage.contains("GRFT") || e1.getCause != null)
    // header/record mismatch: declare one frame more than present
    val badCount = good.copy(payload = { val p = good.payload.clone(); p(9) = (p(9) + 1).toByte; p })
    intercept[org.apache.spark.SparkException] {
      MultimodalOps.decode(Seq(badCount).toDS()).collect()
    }
  }
}
