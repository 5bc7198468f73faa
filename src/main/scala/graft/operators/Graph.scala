package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{sortedDistinct, sortedIntersectCount}

/** Graph analytics over relational-born graphs (SURVEY.md §2.12 extension).
  *
  * The engine already runs one graph algorithm in production disguise —
  * connected components inside the near-dup dedup family (min-label
  * propagation, LlmText). This file makes the graph surface first-class
  * with the other canonical iterative kernel, PageRank, over a graph the
  * warehouse actually has: part co-purchase (two parts are adjacent when
  * some order contains both).
  *
  * Scale notes: the edge build is one self-join co-partitioned on
  * l_orderkey — pair fanout is bounded by order SIZE (≈ lines²/order,
  * order size is a data invariant that does not grow with corpus scale),
  * so edges are ~linear in lineitem rows. Each PageRank iteration is two
  * shuffles (contribution join on the source key, in-sum on the target
  * key) over the edge relation, the textbook distributed-PR shape; ranks
  * are node-sized. Five fixed iterations built as one linear 5-join plan
  * over the cached adjacency, with a SINGLE localCheckpoint at the end
  * (deliberately NO per-iteration checkpoint — each materialization cost
  * more than the lineage it saved at 5 iterations; see the inline note
  * at the iteration loop).
  */
object Graph {

  private val Damping = 0.85
  private val Iters = 5
  // triangle adjacency probe: broadcast the node-sized adjacency table
  // while its array payload (8 B × edge count, ~64 MB at the cap) still
  // hash-builds comfortably; shuffle-hash above it
  private val BcastEdgeMax = 8000000L

  /** Edge-build shuffle width — `ScaleRules.wideBuildWidth` (the factored
    * spill-onset rule; constants, hysteresis rationale, and the round-13
    * ProfileJobs attribution of the 30×→100× build-spill knee live there)
    * over the parquet bytes of the relation the build actually fans out:
    * all three graph builders pair-join lineitem, so that's the path every
    * call site passes — a future builder over a different relation passes
    * its own source instead of inheriting a lineitem assumption. */
  private def buildParts(spark: SparkSession, sfDir: String): Int =
    graft.ScaleRules.wideBuildWidth(spark, s"$sfDir/lineitem.parquet")

  /** The within-order co-purchase pair stream (a, b) — one row per ORDERED
    * pair of distinct parts sharing an order, emitted once per order —
    * shared by all four graph builders.
    *
    * Round 20 (guide §8: make every shuffle but the last move a
    * lightweight proxy, and here the self-join's SECOND copy of the corpus
    * was pure overhead): previously each builder self-joined lineitem on
    * l_orderkey, so every (ok, p) row was scanned twice and crossed the
    * ok-exchange for both join sides, and a 150k-key join ran just to
    * enumerate order-local pairs. Now the corpus crosses the ok-exchange
    * ONCE into `collect_list` (order size is a data invariant, 1–7 lines,
    * so arrays are O(1)), `graft_sorted_distinct` dedups the order's
    * parts in-row into one PRIMITIVE array, and two chained codegen
    * explodes + the a≠b filter enumerate the same pair SET — once per
    * order, which is what lets graph_cc's support count drop its
    * (a, b, ok) dedup pass entirely. (A first cut emitted the pairs as
    * array<struct> from inside the expression — boxed rows, 3 allocations
    * per pair — and measured 103.6 s of pure CPU in the ×100 ok-stage,
    * WORSE than the self-join; the primitive-array + fused-Generate form
    * keeps the per-pair path allocation-free inside one codegen stage.)
    * `okWide` > 0 pre-partitions lineitem by ok at that width (ccPairs'
    * measured ×100 shape); 0 leaves the ok-exchange to the planner. */
  private[graft] def orderPairs(spark: SparkSession, sfDir: String, okWide: Int): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    val liW = if (okWide > 0) li.repartition(okWide, col("ok")) else li
    liW.groupBy("ok").agg(collect_list("p").as("ps"))
      .select(sortedDistinct(col("ps")).as("ps"))
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("b"))
      .filter(col("a") =!= col("b"))
  }

  /** PageRank over the part co-purchase graph. Node set = edge endpoints
    * (parts with at least one co-purchase); the graph is SYMMETRIC by
    * construction, so every node has an inbound edge and the iteration
    * never drops rows — the invariant that lets both engines run the
    * pure inner-join recurrence with no dangling-mass bookkeeping.
    * Output is rank × N (the "times uniform" score, O(1)-scaled), rounded
    * to 6: contributions are order-dependent double sums, but at O(1)
    * magnitude the 1e-12 accumulation error is far inside the margin.
    * Oracle: the same 5-step recurrence as a DuckDB recursive CTE. */
  def graphPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    // Materialize the graph ONCE, as NODE-sized adjacency rows (source,
    // sorted-free neighbor array, outdeg), not edge rows: the per-
    // iteration join then probes a node-count relation instead of an
    // edge-count one, and the edge-sized work degrades to an explode
    // that PIPELINES into the partial aggregate (map-side combine on the
    // target key) — no edge-sized hash build, no edge-sized cache scan.
    // The edge-row first cut of this operator cached 3 longs × E rows
    // and re-joined them every iteration: ×29 at the ×100 sweep (133 s);
    // this form caches one packed array per node (~1/3 the bytes) — see
    // SCALE.md for its band. Build shape: after repartition(a),
    // HashPartitioning(a) satisfies the (a,b) dedup clustering AND the
    // groupBy(a) collect — one edge-sized exchange total. The build runs
    // WIDE (buildParts — the ×100 ProfileJobs run measured 43 GB of
    // aggregation-buffer spill in this stage at the 32-task width, 0 at
    // 254) but the finished NODE-sized adjacency is repartitioned back
    // to the session width before caching: iterating at build width was
    // measured SLOWER than the spill it avoided (each of the 5 rounds
    // split into a wide explode stage + a narrow final-agg stage, and
    // map-side combine degraded 843 MB → 2.1 GB per-round shuffle;
    // +36 s at ×100). The cache is the COMPRESSED COLUMNAR DataFrame
    // cache, not localCheckpoint: deserialized row checkpoints OOM'd the
    // 24g sweep JVM at ×100, while columnar batches spill whole batches
    // under pressure.
    val wide = buildParts(spark, sfDir)
    val narrow = spark.sessionState.conf.numShufflePartitions
    // round 20: grouped in-row pair stream replaces the self-join (see
    // orderPairs) — the ok-stage stays at planner width here (it only
    // writes the pair stream into the width-controlled (a) exchange below,
    // the same write-only role the join stage had)
    val edges = orderPairs(spark, sfDir, 0)
    val built = (if (wide > narrow) edges.repartition(wide, col("a"))
                 else edges.repartition(col("a")))
      .dropDuplicates("a", "b")
      .groupBy("a")
      .agg(collect_list("b").as("nbrs"), count(lit(1)).as("outdeg"))
    val adj = (if (wide > narrow) built.repartition(col("a")) else built)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The cache-materialization job's output IS the node count: fold it in
    // as plan literals instead of re-deriving it as an in-plan aggregate
    // (round 20 second pass, guide §2.3 shuffle-fewer-bytes). The previous
    // form broadcast-joined a 1-row n_total aggregate into the ranks seed
    // and carried the column through every edge-sized iteration shuffle
    // (8 B/row of a 24 B row) plus a first() accumulator per group — the
    // same bytes the REJECTED r20 teleport experiment tried to drop, but
    // without that experiment's fatal per-iteration broadcast stage: a
    // literal costs nothing anywhere. Same class as the BPE trainer's
    // bounded argmax collect — a 1-value driver scalar from a job the
    // query already runs, recomputed from the inputs on every invocation.
    val nTotal = adj.count()
    var ranks = adj.select(col("a").as("node"))
      .withColumn("r", lit(1.0 / nTotal))
    for (_ <- 1 to Iters) {
      // no per-iteration checkpoint: each iteration references ranks and
      // adj once, so the plan grows LINEARLY (5 joins deep) and the
      // whole recurrence executes as one 5-stage job against the hot
      // adjacency cache when the final checkpoint below materializes it.
      // (The r20 first-pass A/B that dropped n_total from the exploded
      // edge stream by re-attaching it as a one-row broadcast fan-out per
      // iteration measured 8.06 s vs 4.97 s min-of-4 — the literal form
      // keeps that experiment's byte savings with zero added stages.)
      ranks = adj
        .join(ranks.select(col("node").as("a"), col("r")), "a")
        .select((col("r") / col("outdeg")).as("c"),
          explode(col("nbrs")).as("node"))
        .groupBy("node")
        .agg((lit((1.0 - Damping) / nTotal) +
          lit(Damping) * sum(col("c"))).as("r"))
    }
    // eager node-sized checkpoint, then drop the adjacency cache:
    // CacheManager holds strong refs, so a sweep/bench session would
    // otherwise carry a multi-GB entry per (query, sfDir) forever
    val fin = ranks
      .select(col("node"), round(col("r") * lit(nTotal), 6).as("pr_scaled"))
      .localCheckpoint()
    adj.unpersist()
    fin.orderBy("node")
  }

  /** Triangle count + global clustering coefficient over the same
    * co-purchase graph — the graph-density statistic beside PageRank's
    * centrality. Degree-ordered orientation (each undirected edge points
    * from its lower-(degree,id) endpoint to the higher one) bounds
    * per-node fanout by OUT-degree: Σ(dout choose 2) instead of
    * Σ(deg choose 2) — ~2× less work on this near-uniform-degree
    * graph, and the difference between feasible and not on a skewed one
    * (a hub's deg² collapses to its oriented dout²). Each triangle is
    * counted exactly once, at its lowest-ordered EDGE: for oriented edge
    * (u,w), every common oriented out-neighbor of u and w closes one
    * triangle, counted by the codegen'd `graft_sorted_intersect_count`
    * merge scan over the two sorted adjacency arrays. This is the
    * compact form of wedge enumeration: the Θ(Σ dout²) comparisons
    * happen INSIDE an edge-row-local merge scan instead of as a
    * materialized wedge-row stream through a semi-join — same asymptotic
    * work, ~15× fewer shuffled rows (the first cut of this operator
    * streamed 35M wedge rows at sf0.1 and ran 7.8 s warm; this form runs
    * the identical result in 3.6 s, and holds ×2.8 at ×10 data where the
    * wedge count grows ~×10). Work is still degree²-sized BY DEFINITION
    * (declared; sweep-capped like the other by-shape rows).
    * Everything is exact integer counting except the final coefficient
    * ratio, rounded at 6. */
  def graphTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    // undirected edge set, one row per {a,b} with a<b per order (round 20:
    // grouped in-row pair stream, see orderPairs); same single edge-sized
    // exchange trick as graphPagerank's build
    val und = orderPairs(spark, sfDir, 0)
      .filter(col("a") < col("b"))
      .repartition(col("a"))
      .dropDuplicates("a", "b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize BEFORE the dependents: the final plan fans out into
    // parallel exchange/subquery futures, and concurrent stages racing a
    // cold cache each recompute the self-join (profiled: 8 duplicate
    // ~1 s stages at sf0.1)
    val nUnd = und.count()
    // node-sized but referenced twice by the oriented build (da and db)
    // and again by n_wedges — cache it or the union-agg runs 3×
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    deg.count()
    // orient by (deg, id): src = lower endpoint in that total order
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("w"))
      // cached pre-partitioned on the wedge pivot: the self-join below
      // then needs NO exchange on either side
      .repartition(col("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    oriented.count() // same cold-cache race as und
    // sorted adjacency arrays, node-sized rows (array payload totals one
    // edge-list); groupBy(u) runs exchange-free over the u-partitioned
    // cache, and the arrays come out sorted-distinct (edges are deduped,
    // sort_array provides the order the merge scan requires)
    val adj = oriented.groupBy("u").agg(sort_array(collect_list("w")).as("nbrs"))
    // per oriented edge (u,w): triangles closed at this edge =
    // |adj(u) ∩ adj(w)| (every common out-neighbor x gives u→w, u→x,
    // w→x — and no other edge of that triangle sees it, so each triangle
    // counts exactly once). Join 1 attaches adj(u) co-partitioned (no
    // exchange on either side); join 2 must re-key by w — broadcast the
    // node-sized adj table when the graph is small enough for its array
    // payload (~16·E bytes) to hash-build, so the edge stream pipelines
    // with ZERO shuffle; past that, shuffle-hash on the edge rows
    // (never sort-merge, which would sort the array-carrying rows on
    // top of moving them).
    val adjW = adj.select(col("u").as("w"), col("nbrs").as("nw"))
    val probe = if (nUnd <= BcastEdgeMax) broadcast(adjW) else adjW.hint("shuffle_hash")
    val tri = oriented.select("u", "w")
      .join(adj.hint("shuffle_hash"), Seq("u"))
      .join(probe, Seq("w"))
      .agg(sum(sortedIntersectCount(col("nbrs"), col("nw"))).as("n_triangles"))
    val stats = und.agg(count(lit(1)).as("n_edges")).crossJoin(
      deg.agg((sum(col("deg") * (col("deg") - 1)) / lit(2)).cast("long").as("n_wedges")))
    // eager 1-row checkpoint so both caches (read 2× and 3× inside this
    // one action) can be dropped before returning — same cache-lifetime
    // hygiene as graphPagerank
    val fin = stats.crossJoin(tri)
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("clustering"))
      .localCheckpoint()
    und.unpersist()
    deg.unpersist()
    oriented.unpersist()
    fin.orderBy("n_edges")
  }

  // graph_cc iterates min-label propagation to the FIXPOINT (the first
  // cut ran a fixed 8 rounds, and sf0.01 has a component of diameter > 8
  // — the spec caught round 9 still moving labels). The cap only guards
  // a logic bug and fails loudly instead of returning split components
  // (the LlmText.connectedComponents contract).
  private val CcMaxRounds = 64

  /** The support-≥2 symmetric pair list at build width `wide` (the edge
    * set does not depend on it; 0 plans at session width). `ccLabels`
    * computes `buildParts` ONCE and passes it both here and to
    * `ccPropagate`, so a graph_cc run does the ScaleRules.sourceBytes
    * filesystem walk once; the specs read the same edges to assert the
    * defining CC property against exactly the operator's edge set. */
  private[graft] def ccPairs(spark: SparkSession, sfDir: String,
      wide: Int): DataFrame = {
    val narrow = spark.sessionState.conf.numShufflePartitions
    // countDistinct(ok) stays unrolled into an explicit per-order pair
    // stream → count so every exchange is width-controlled (the
    // one-distinct aggregate plan ran its pair partial-agg INSIDE the
    // 32-task join stage — 69 GB spill at ×100, the knee; see buildParts).
    // Round 20: the pair stream now comes from the grouped in-row
    // enumerator (orderPairs) instead of the liW self-join — each order
    // emits its distinct pairs exactly once, so the (a, b, ok) dedup pass
    // is REDUNDANT and groupBy(a, b).count() IS the per-order support.
    // The ok side keeps its measured ×100 width (liW's role), and the one
    // width-controlled (a, b) exchange before the count is unchanged.
    val pairs = orderPairs(spark, sfDir, if (wide > narrow) wide else 0)
    (if (wide > narrow) pairs.repartition(wide, col("a"), col("b"))
     else pairs.repartition(col("a"), col("b")))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .select("a", "b")
  }

  /** The propagation core: Pregel-style driver loop to the FIXPOINT.
    * Graph state is the pagerank adjacency form (self-loop appended so a
    * node's own label competes in the same min and the node set is
    * preserved); per round one node-sized label exchange + one explode
    * that pipelines into the min partial-agg (one hop per checkpointed
    * round — the round-19 adaptive hop pairing was reverted in round 20
    * after the settle A/B found no cold or warm win; see the loop note);
    * lineage truncated by an eager
    * per-round localCheckpoint. Convergence check costs NO extra job
    * (round 20 — the sum rides the checkpoint job as an observed metric):
    * labels only ever DECREASE, so the label sum is strictly monotone and
    * fixpoint ⟺ sum unchanged. Returns the checkpointed (node, lbl)
    * relation, edge cache released. */
  private[graft] def ccLabels(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = buildParts(spark, sfDir)
    ccPropagate(ccPairs(spark, sfDir, wide), wide)
  }

  /** Union-find over Long node ids with union by MIN root and path
    * compression: a component's root is always its min node, the min-label
    * CC convention (deterministic, restart-stable). `load` gives a node's
    * parent the first time it is touched — identity for a fresh forest,
    * the state store for `StreamOps.CcForestProcessor`; `parent` holds
    * every node touched so far. Shared by that processor and `localStars`. */
  private[graft] final class MinRootUnionFind(load: Long => Long = x => x) {
    val parent = new scala.collection.mutable.LongMap[Long]
    private def p(x: Long): Long = parent.getOrElseUpdate(x, load(x))
    def find(x: Long): Long = {
      var r = x
      while (p(r) != r) r = p(r)
      var c = x // path-compress the walked chain onto the root
      while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    /** Merges the components of a and b; true iff they were distinct. */
    def union(a: Long, b: Long): Boolean = {
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      ra != rb
    }
  }

  /** One partition's (a, b) edges contracted to symmetric STARS: a
    * union-find over the partition, then per local component an edge
    * pair (min, x), (x, min) for each other member x, and a self-edge
    * (x, x) for a member-less root (a node whose only edges are
    * self-loops), so every node seen is emitted. The components are
    * unchanged: each star edge joins two nodes that were already
    * connected, and both ends of every input edge land in one star. Task
    * state is bounded: once `cap` nodes are held, the stars so far are
    * emitted and the forest restarts empty — correct at any flush point,
    * only less contracted. */
  private[graft] def localStars(edges: Iterator[(Long, Long)],
      cap: Int = graft.ScaleRules.CcStarNodeCap): Iterator[(Long, Long)] = {
    var uf = new MinRootUnionFind()
    def stars(): Iterator[(Long, Long)] = {
      val nodes = new Array[Long](uf.parent.size)
      var i = 0
      uf.parent.foreachKey { x => nodes(i) = x; i += 1 }
      val roots = nodes.map(uf.find)
      val hasLeaf = new scala.collection.mutable.LongMap[Boolean]
      for (j <- nodes.indices if roots(j) != nodes(j)) hasLeaf(roots(j)) = true
      uf = new MinRootUnionFind()
      Iterator.range(0, nodes.length).flatMap { j =>
        val (x, r) = (nodes(j), roots(j))
        if (x != r) Iterator((r, x), (x, r))
        else if (!hasLeaf.contains(x)) Iterator.single((x, x))
        else Iterator.empty
      }
    }
    edges.flatMap { case (a, b) =>
      uf.union(a, b)
      if (uf.parent.size >= cap) stars() else Iterator.empty
    } ++ stars()
  }

  /** Min-label propagation fixpoint over an (a, b) edge relation of
    * non-null Long node ids — the engine's ONE connected-components core,
    * shared by batch `graph_cc` (support-≥2 co-purchase pairs, wide build
    * past spill onset), the streaming forest consolidation
    * (`StreamOps.ccConsolidate`, node-bounded forest at session width),
    * and the doc near-dup family (`LlmText.connectedComponents` — the
    * minhash-keep/dedup-cluster/neardup-split CC).
    * Input contract: edge DIRECTION and duplicates do not matter — one row
    * per undirected pair is enough — and a self-loop (x, x) makes x a
    * node. Before the adjacency build, one typed pass per input partition
    * contracts its edges to symmetric union-find stars (`localStars`), so
    * a partition that holds whole components hands the propagation its
    * exact labels, and the stars are symmetric by construction (callers
    * no longer union in reversed edges). Labels are seeded one hop in
    * (each node's min over itself and its neighbors), so the rounds only
    * confirm what the stars already joined.
    * `wide` is the build-stage shuffle width (pass the session width, or
    * 0, for no wide build — see ScaleRules.wideBuildWidth). */
  private[graft] def ccPropagate(pairs: DataFrame, wide: Int): DataFrame = {
    val spark = pairs.sparkSession
    // The self-loop is APPENDED to each node's neighbor array instead of
    // unioned in as extra edge rows: the union form consumed `pairs`
    // twice (edge rows + a distinct node projection), and with the wide
    // build repartition the two subtrees stopped sharing their exchange —
    // the ×100 ProfileJobs run showed the whole join→dedup chain
    // materializing TWICE in parallel (2×14 s). One consumer, one chain.
    // Build runs WIDE past spill onset (buildParts — the 32-task
    // collect_list spilled 22 GB at ×100, 0 at 254), then the node-sized
    // adjacency comes back to session width for the propagation rounds
    // (sub-second per round at 32; the wide form paid an extra stage per
    // round).
    import spark.implicits._
    val stars = pairs.select("a", "b").as[(Long, Long)]
      .mapPartitions(localStars(_)).toDF("a", "b")
    val narrow = spark.sessionState.conf.numShufflePartitions
    val built = (if (wide > narrow) stars.repartition(wide, col("a"))
                 else stars.repartition(col("a")))
      .groupBy("a").agg(collect_list("b").as("nbrs0"))
      .select(col("a"), concat(col("nbrs0"), array(col("a"))).as("nbrs"))
    val adjF = (if (wide > narrow) built.repartition(col("a")) else built)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    adjF.count() // materialize before the dependents (cold-cache race)
    // The convergence sum rides the checkpoint's own materialization job as
    // an observed metric (round 20): it previously ran as a SEPARATE
    // node-sized aggregate job per round — 32 scheduled tasks plus a full
    // plan/schedule cycle whose only output is one Long, the same
    // per-round driver fixed-cost class the r19 BPE fix removed. observe()
    // computes the identical sum("lbl") inside the checkpoint job
    // (localCheckpoint is eager, so the metric is complete when get() runs)
    // — one job per round instead of two, zero change to the labels or the
    // convergence decision.
    def ckptWithSum(df: DataFrame): (DataFrame, Any) = {
      val obs = org.apache.spark.sql.Observation()
      val out = df.observe(obs, sum(col("lbl")).as("s")).localCheckpoint()
      (out, obs.get.apply("s"))
    }
    // Seeded one hop in: nbrs holds the node itself, so array_min(nbrs)
    // is the label one propagation round would give it.
    var (lab, prevSum) = ckptWithSum(adjF.select(col("a").as("node"), array_min(col("nbrs")).as("lbl")))
    var converged = prevSum == null // empty graph is trivially converged
    var iter = 0
    // One propagation HOP: join labels to the cached adjacency (both sides
    // hash-partitioned on a — no exchange), explode, min per node (the one
    // exchange).
    def hop(l: DataFrame): DataFrame =
      adjF.join(l.select(col("node").as("a"), col("lbl")), "a")
        .select(explode(col("nbrs")).as("node"), col("lbl"))
        .groupBy("node").agg(min("lbl").as("lbl"))
    while (!converged && iter < CcMaxRounds) {
      // Plain one-hop propagation, no pointer jumping: an A/B against the
      // lbl ← lbl(lbl) shortcut (halves rounds, ~20 → 7 at sf0.1) showed
      // the extra node-sized join + checkpoint per round COSTS more than
      // the round savings at every measured scale (x1 7.0 s vs 4.9 s
      // plain; x100 identical inside the band — the ×100 graph is dense,
      // so its diameter is small and plain propagation already converges
      // in ~7 rounds there).
      // Round 20: the round-19 ADAPTIVE HOP PAIRING (two hops per
      // checkpointed round from round 3) is REVERTED. It shipped on a
      // single warm A/B (5.99 → 4.54 s) that no cold suite run ever
      // reproduced; the r20 settle measurement — 3 alternated fresh-JVM
      // BenchOne pairs on a quiet box — read paired 11.40/11.66/10.99 s
      // cold, 5.99/6.00/6.06 warm vs single-hop 11.33/10.51/10.17 cold,
      // 6.07/6.38/5.74 warm: no pairing win at any temperature (if
      // anything single-hop is ~6% faster cold). The r19 verdict's keep
      // bar was "≥10% reproduces cold"; it does not, so the kernel keeps
      // the simpler exact-old schedule (one hop, one checkpoint, one
      // convergence aggregate per round).
      val (next, s) = ckptWithSum(hop(lab))
      // next is materialized (eager checkpoint): the superseded round's
      // blocks can go now instead of at the next driver GC (same r19-ADVICE
      // generation-leak fix as the BPE trainer loop)
      graft.Ckpt.release(lab)
      lab = next
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    require(converged,
      s"ccPropagate did not converge within $CcMaxRounds rounds — component diameter bug?")
    System.err.println(s"[ccPropagate] converged in $iter rounds")
    adjF.unpersist()
    lab
  }

  /** Connected components over the FREQUENT co-purchase graph (two parts
    * adjacent when they co-occur in ≥ 2 distinct orders) — the segmentation
    * primitive beside PageRank's centrality and the dedup family's
    * doc-clustering CC (LlmText's min-label propagation, which this makes
    * first-class on a relational-born graph). The support-≥2 threshold is
    * the point: the support-1 graph is one giant near-clique (every order
    * fully connects its parts), while requiring a REPEATED pairing leaves
    * a sparse graph whose component-size histogram actually says
    * something. Shape: the thresholded edge build is the same
    * co-partitioned self-join with a groupBy-count instead of a dedup
    * (pair fanout still bounded by order size); propagation runs to the
    * FIXPOINT (ccLabels — per round the pagerank adjacency shape, sum-
    * monotonicity convergence test, loud cap), so the output is true
    * connected components, oracle-matched against DuckDB's recursive
    * transitive closure. Output: top-20 components by size. */
  def graphCc(spark: SparkSession, sfDir: String): DataFrame =
    ccLabels(spark, sfDir)
      .groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(desc("n_nodes"), col("component"))
      .limit(20)
      .orderBy(desc("n_nodes"), col("component"))

  /** Per-edge Jaccard similarity over the co-purchase graph — the
    * link-prediction / "customers who bought X also bought Y" primitive:
    * for every adjacent part pair, |N(a) ∩ N(b)| / |N(a) ∪ N(b)| over
    * FULL (undirected) neighborhoods, top-20 strongest pairs. Same
    * kernel as graph_triangles: sorted adjacency arrays + the codegen'd
    * `graft_sorted_intersect_count` merge scan, so the Σ deg(a)+deg(b)
    * comparisons run row-local inside edge rows (degree²-sized BY
    * DEFINITION — declared shape, sweep-capped ×10). Degrees come free
    * as size(adjacency), no separate degree join; union size by
    * inclusion-exclusion. The final top-20 is a TakeOrdered over
    * edge-sized scored rows, rounded BEFORE ranking so the order ties
    * on the engine-identical rounded key. */
  def graphJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // symmetric directed edges, one row per (a,b) per order (round 20:
    // grouped in-row pair stream, see orderPairs): the a-partitioned cache
    // serves the adjacency build, the a<b half serves as the pair list
    val sym = orderPairs(spark, sfDir, 0)
      .repartition(col("a"))
      .dropDuplicates("a", "b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSym = sym.count() // materialize before the dependents
    val adj = sym.groupBy("a").agg(sort_array(collect_list("b")).as("nbrs"))
    val adjB = adj.select(col("a").as("b"), col("nbrs").as("nb"))
    // adjB's array payload is 8 B × nSym (each directed edge appears in
    // exactly one source's array) — same budget rule as graph_triangles
    val probe = if (nSym <= BcastEdgeMax) broadcast(adjB) else adjB.hint("shuffle_hash")
    val fin = sym.filter(col("a") < col("b"))
      .join(adj.hint("shuffle_hash"), Seq("a"))  // co-partitioned, no exchange
      .join(probe, Seq("b"))
      .select(col("a").as("part_a"), col("b").as("part_b"),
        sortedIntersectCount(col("nbrs"), col("nb")).cast("long").as("common_nbrs"),
        (size(col("nbrs")) + size(col("nb"))).cast("long").as("deg_sum"))
      .withColumn("jaccard",
        round(col("common_nbrs") / (col("deg_sum") - col("common_nbrs")), 6))
      .select("part_a", "part_b", "common_nbrs", "jaccard")
      .orderBy(desc("jaccard"), col("part_a"), col("part_b"))
      .limit(20)
      .localCheckpoint() // eager top-20, then drop the edge cache
    sym.unpersist()
    fin.orderBy(desc("jaccard"), col("part_a"), col("part_b"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> graphPagerank,
    "graph_triangles" -> graphTriangles,
    "graph_cc" -> graphCc,
    "graph_jaccard" -> graphJaccard,
  )

  val oracles: Map[String, String] = Map(
    "graph_pagerank" ->
      """WITH RECURSIVE
        |li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT a.p AS a, b.p AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p),
        |deg AS (SELECT a, count(*) AS outdeg FROM edges GROUP BY a),
        |n AS (SELECT count(*) AS n_total FROM deg),
        |pr AS (
        |  SELECT 0 AS it, deg.a AS node, 1.0 / n.n_total AS r
        |  FROM deg CROSS JOIN n
        |  UNION ALL
        |  SELECT p.it + 1, e.b,
        |    0.15 / n.n_total + 0.85 * sum(p.r / d.outdeg)
        |  FROM pr p
        |  JOIN edges e ON p.node = e.a
        |  JOIN deg d ON e.a = d.a
        |  CROSS JOIN n
        |  WHERE p.it < 5
        |  GROUP BY p.it, e.b, n.n_total)
        |SELECT pr.node, round(pr.r * n.n_total, 6) AS pr_scaled
        |FROM pr CROSS JOIN n WHERE pr.it = 5
        |ORDER BY pr.node""".stripMargin,
    "graph_cc" ->
      """WITH RECURSIVE
        |li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |f AS (
        |  SELECT a.p AS a, b.p AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p
        |  GROUP BY 1, 2 HAVING count(DISTINCT a.ok) >= 2),
        |n AS (SELECT DISTINCT a AS v FROM f),
        |reach(node, r) AS (
        |  SELECT v, v FROM n
        |  UNION
        |  SELECT f.b, reach.r FROM f JOIN reach ON reach.node = f.a),
        |cc AS (SELECT node, min(r) AS lbl FROM reach GROUP BY node)
        |SELECT lbl AS component, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM cc GROUP BY lbl
        |ORDER BY n_nodes DESC, component LIMIT 20""".stripMargin,
    "graph_jaccard" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS a, b.p AS b
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p),
        |deg AS (SELECT a AS v, count(*) AS d FROM e GROUP BY 1),
        |c AS (SELECT e1.a AS u, e2.a AS w, count(*) AS common
        |      FROM e e1 JOIN e e2 ON e1.b = e2.b AND e1.a < e2.a
        |      GROUP BY 1, 2),
        |pairs AS (
        |  SELECT e.a AS part_a, e.b AS part_b,
        |    CAST(coalesce(c.common, 0) AS BIGINT) AS common_nbrs,
        |    round(CAST(coalesce(c.common, 0) AS DOUBLE) /
        |      (da.d + db.d - coalesce(c.common, 0)), 6) AS jaccard
        |  FROM e
        |  LEFT JOIN c ON c.u = e.a AND c.w = e.b
        |  JOIN deg da ON da.v = e.a
        |  JOIN deg db ON db.v = e.b
        |  WHERE e.a < e.b)
        |SELECT part_a, part_b, common_nbrs, jaccard
        |FROM pairs ORDER BY jaccard DESC, part_a, part_b LIMIT 20""".stripMargin,
    "graph_triangles" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.p AS a, b.p AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p),
        |deg AS (
        |  SELECT v, count(*) AS deg
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY v),
        |tri AS (
        |  SELECT count(*) AS c
        |  FROM e xy
        |  JOIN e yz ON yz.a = xy.b
        |  JOIN e xz ON xz.a = xy.a AND xz.b = yz.b),
        |st AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |    CAST(sum(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
        |  FROM deg)
        |SELECT st.n_edges, st.n_wedges, CAST(tri.c AS BIGINT) AS n_triangles,
        |  round(3.0 * tri.c / st.n_wedges, 6) AS clustering
        |FROM st CROSS JOIN tri ORDER BY n_edges""".stripMargin,
  )
}
