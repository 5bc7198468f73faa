package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** A minimal event record for streaming pipelines. `ts` is the event-time
  * column every watermark hangs off. */
case class Evt(ts: java.sql.Timestamp, user: Long, value: Double, id: Long)

/** Structured Streaming operators (SURVEY.md §2.9 streaming rows).
  *
  * Each function takes an unbounded DataFrame/Dataset (from `readStream` in
  * production, MemoryStream in the specs) and declares the streaming
  * transformation; the same code also runs in batch mode because only
  * declarative constructs are used.
  *
  * Scale: state per key is what bounds memory at 100 TB/day — tumbling
  * windows keep one row per (window, key) until the watermark passes,
  * sessions one span per active session, dedup one key per id within the
  * watermark horizon. The 10-minute watermark is the knob trading latency
  * for state size.
  */
object StreamOps {

  /** 1-hour tumbling counts with a 10-minute watermark (append mode: a window
    * emits exactly once, when the watermark passes its end). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("cnt"))

  /** Per-user session windows (30-minute gap) under a 10-minute watermark. */
  def sessionCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("session_start"), col("user"), col("cnt"))

  /** Exactly-once-per-id dedup bounded by the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")

  /** Stream-stream interval join: each purchase joined to error events of
    * the same user within the preceding hour. Both sides carry watermarks
    * and the join has an event-time bound, so Spark can evict state — the
    * requirements for an unbounded-safe stream-stream join. */
  def purchaseErrorJoin(purchases: DataFrame, errors: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("id").as("p_id"), col("user").as("p_user"), col("ts").as("p_ts"))
    val e = errors.withWatermark("ts", "10 minutes")
      .select(col("user").as("e_user"), col("ts").as("e_ts"))
    p.join(e, expr(
      "p_user = e_user AND e_ts >= p_ts - INTERVAL 1 HOUR AND e_ts <= p_ts"))
  }

  /** Arbitrary stateful processing: a running per-user event count, via
    * Spark 4's transformWithState + ValueState (requires the RocksDB state
    * store provider; the spec sets it). */
  class RunningCountProcessor extends StatefulProcessor[Long, Evt, (Long, Long)] {
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Evt],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      val total = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(total)
      Iterator.single((key, total))
    }
  }

  def runningUserCounts(events: Dataset[Evt]): Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user)
      .transformWithState(new RunningCountProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** ValueState payload for the streaming top-k (product encoder — Seq
    * fields serialize natively, no kryo). */
  case class TopVals(vs: Seq[Double])

  /** Streaming TOP-K per key with BOUNDED state — the streaming form of
    * `win_topk_per_group`: state per key is ONLY the k largest values seen
    * (a k-sized descending array, merged with each batch's values), so
    * state is O(keys·k) regardless of stream length — the property that
    * makes per-entity leaderboards feasible on an unbounded stream, where
    * buffering events for a window-rank would grow without bound. Emits
    * the key's current top-k after every batch it appears in (Update
    * mode); ties keep both values (values, not ranks, are the state). */
  class TopKProcessor(k: Int) extends StatefulProcessor[Long, Evt, (Long, Seq[Double])] {
    @transient private var top: ValueState[TopVals] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getValueState[TopVals]("top", Encoders.product[TopVals], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Evt],
        timerValues: TimerValues): Iterator[(Long, Seq[Double])] = {
      val cur = if (top.exists()) top.get().vs else Seq.empty[Double]
      val merged = (cur ++ rows.map(_.value))
        .sorted(Ordering[Double].reverse).take(k)
      top.update(TopVals(merged))
      Iterator.single((key, merged))
    }
  }

  def topkPerUser(events: Dataset[Evt], k: Int): Dataset[(Long, Seq[Double])] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user)
      .transformWithState(new TopKProcessor(k), TimeMode.None(), OutputMode.Update())
  }

  /** One fanned-out activity hit: an event on day `wday - off` seen from
    * the trailing-window-end day `wday` (epoch days). `own` marks the
    * off=0 copy, which is the only one contributing to DAU. */
  case class DayHit(wday: Long, own: Boolean, user: Long)

  /** ValueState payload for the exact rolling-actives processor (product
    * encoder; sorted for determinism of the stored bytes). */
  case class ActiveSets(dau: Seq[Long], wau: Seq[Long])

  /** Fan each (epochDay, user) activity to the 7 trailing window-end days
    * it supports — the SAME ×7 explode-fanout the batch
    * `evt_rolling_actives` runs, applied at ingest so the keyed state
    * below is per window-end day. Feed this DEDUPED (day, user) pairs
    * (dropDuplicates upstream, or dedupWithinWatermark on a live stream);
    * the processors re-dedup in state either way. */
  def toDayHits(ev: Dataset[(Long, Long)]): Dataset[DayHit] = {
    import ev.sparkSession.implicits._
    ev.flatMap { case (d, u) => (0L to 6L).map(i => DayHit(d + i, i == 0L, u)) }
  }

  /** Streaming rolling actives (DAU / WAU), EXACT form: keyed by
    * window-end day, state = the day's distinct users and the trailing
    * week's distinct users, emitting (day, dau, wau) after every batch
    * that touches the day. Per-key state is O(active users in the
    * window) — the same grain the batch operator shuffles — fine at spec
    * scale; the 100-TB form is `rollingActivesHll` below, which swaps
    * each set for the few-KB mergeable sketch `agg_hll_merge` is built
    * on. StreamingSpec asserts this form's final emissions EQUAL the
    * batch `evt_rolling_actives` rows on the real sf0.001 events. */
  class RollingActivesProcessor extends StatefulProcessor[Long, DayHit, (Long, Long, Long)] {
    @transient private var sets: ValueState[ActiveSets] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sets = getHandle.getValueState[ActiveSets]("sets", Encoders.product[ActiveSets], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[DayHit],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val cur = if (sets.exists()) sets.get() else ActiveSets(Nil, Nil)
      var dau = cur.dau.toSet
      var wau = cur.wau.toSet
      rows.foreach { h => wau += h.user; if (h.own) dau += h.user }
      sets.update(ActiveSets(dau.toSeq.sorted, wau.toSeq.sorted))
      Iterator.single((key, dau.size.toLong, wau.size.toLong))
    }
  }

  def rollingActives(hits: Dataset[DayHit]): Dataset[(Long, Long, Long)] = {
    import hits.sparkSession.implicits._
    hits.groupByKey(_.wday)
      .transformWithState(new RollingActivesProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming rolling actives, SKETCHED form — the state layout a
    * 100-TB/day stream actually runs: per window-end day the state is two
    * Datasketches HLL sketches (DAU / WAU), a few KB each REGARDLESS of
    * user cardinality, so total state is bounded by
    * days-in-horizon × sketch-size, never by users. This is
    * `agg_hll_merge`'s mergeable-sketch primitive connected to
    * `evt_rolling_actives`' fanout at stream time: each micro-batch
    * updates the day's sketches in place (HLL update is the streaming
    * union), and the emitted counts are the sketch estimates.
    * StreamingSpec bounds the final estimates within 5% of the batch
    * operator's exact rows (the agg_hll_merge tolerance). In production
    * a TTL evicts days older than the reporting horizon; the spec uses
    * TTLConfig.NONE to keep every day observable. */
  class RollingActivesHllProcessor(lgK: Int) extends StatefulProcessor[Long, DayHit, (Long, Long, Long)] {
    @transient private var dauSk: ValueState[Array[Byte]] = _
    @transient private var wauSk: ValueState[Array[Byte]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      dauSk = getHandle.getValueState[Array[Byte]]("dauSk", Encoders.BINARY, TTLConfig.NONE)
      wauSk = getHandle.getValueState[Array[Byte]]("wauSk", Encoders.BINARY, TTLConfig.NONE)
    }
    private def load(s: ValueState[Array[Byte]]): org.apache.datasketches.hll.HllSketch =
      if (s.exists()) org.apache.datasketches.hll.HllSketch.heapify(s.get())
      else new org.apache.datasketches.hll.HllSketch(lgK)
    override def handleInputRows(key: Long, rows: Iterator[DayHit],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val (dau, wau) = (load(dauSk), load(wauSk))
      rows.foreach { h => wau.update(h.user); if (h.own) dau.update(h.user) }
      dauSk.update(dau.toUpdatableByteArray)
      wauSk.update(wau.toUpdatableByteArray)
      Iterator.single((key, math.round(dau.getEstimate), math.round(wau.getEstimate)))
    }
  }

  def rollingActivesHll(hits: Dataset[DayHit], lgK: Int = 12): Dataset[(Long, Long, Long)] = {
    import hits.sparkSession.implicits._
    hits.groupByKey(_.wday)
      .transformWithState(new RollingActivesHllProcessor(lgK), TimeMode.None(), OutputMode.Update())
  }

  /** Streaming quantiles via per-key KLL sketch state — the streaming
    * form of `agg_quantile_merge`, completing the mergeable-sketch bridge
    * the way `rollingActivesHll` does for `agg_hll_merge`: state per key
    * is ONE serialized KLL sketch (a few KB at k=200 REGARDLESS of stream
    * length — never the values themselves), each micro-batch streams its
    * rows through the sketch's update path, and the emitted p50/p90 are
    * the sketch's rank-error-bounded estimates (±2% normalized rank at
    * k=200, the same tolerance the batch operator's spec pins). This is
    * the state layout a percentile dashboard over a 100-TB/day stream
    * actually runs: O(keys × sketch) memory, no buffering, no re-sort. */
  class QuantileProcessor(k: Int) extends StatefulProcessor[String, (String, Double), (String, Long, Double, Double)] {
    @transient private var sk: ValueState[Array[Byte]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sk = getHandle.getValueState[Array[Byte]]("sk", Encoders.BINARY, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Double)],
        timerValues: TimerValues): Iterator[(String, Long, Double, Double)] = {
      val s =
        if (sk.exists())
          org.apache.datasketches.kll.KllDoublesSketch.heapify(
            org.apache.datasketches.memory.Memory.wrap(sk.get()))
        else org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(k)
      rows.foreach(r => s.update(r._2))
      sk.update(s.toByteArray)
      Iterator.single((key, s.getN, s.getQuantile(0.5), s.getQuantile(0.9)))
    }
  }

  def quantilesPerKey(rows: Dataset[(String, Double)], k: Int = 200): Dataset[(String, Long, Double, Double)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .transformWithState(new QuantileProcessor(k), TimeMode.None(), OutputMode.Update())
  }

  case class CusumState(pUp: Double, minUp: Double, pDn: Double, minDn: Double)

  /** Online CUSUM drift monitor — the streaming twin of
    * `TimeSeries.tsCusum`: per monitored key the state is FOUR doubles
    * (the two prefix sums and their running minima — the batch
    * operator's closed form carried incrementally), O(1) regardless of
    * stream length. The (μ, σ) baseline is TRAINED OFFLINE and passed in
    * — the deployment shape of a monitoring rule: batch job fits the
    * baseline, the stream scores against it. Rows are applied in day
    * order within each micro-batch (sorted in the handler, bounded by
    * days-per-batch), and every update is the same sequential double
    * arithmetic the batch window evaluates left-to-right, so an in-order
    * stream reproduces the batch rows EXACTLY, rounding included
    * (StreamingSpec pins parity on the real events). Emits one row per
    * input day: (key, day, s_up, s_dn, alarm at 4σ). */
  class CusumProcessor(baseline: Map[String, (Double, Double)])
      extends StatefulProcessor[String, (String, Long, Double), (String, Long, Double, Double, Boolean)] {
    @transient private var st: ValueState[CusumState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CusumState]("cusum", Encoders.product[CusumState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Long, Double)],
        timerValues: TimerValues): Iterator[(String, Long, Double, Double, Boolean)] = {
      val (mu, sigma) = baseline(key)
      val k = 0.5 * sigma
      val h = 4 * sigma
      // minima init at 0.0, not MaxValue: the closed form's min runs over
      // prefix sums INCLUDING the implicit P_0 = 0 baseline (round-12
      // advisory — MaxValue dropped the baseline, so all-positive drift
      // under-reported S⁺ by the first prefix value).
      var s = if (st.exists()) st.get()
        else CusumState(0.0, 0.0, 0.0, 0.0)
      val out = rows.toSeq.sortBy(_._2).map { case (_, day, v) =>
        val pUp = s.pUp + (v - mu - k)
        val pDn = s.pDn + (mu - k - v)
        s = CusumState(pUp, math.min(s.minUp, pUp), pDn, math.min(s.minDn, pDn))
        val sUp = BigDecimal(pUp - s.minUp).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        val sDn = BigDecimal(pDn - s.minDn).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (key, day, sUp, sDn, sUp > h || sDn > h)
      }
      st.update(s)
      out.iterator
    }
  }

  def cusumPerKey(rows: Dataset[(String, Long, Double)],
      baseline: Map[String, (Double, Double)]): Dataset[(String, Long, Double, Double, Boolean)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .transformWithState(new CusumProcessor(baseline), TimeMode.None(), OutputMode.Update())
  }

  /** Incremental connected-components maintenance over an EDGE STREAM —
    * the streaming half of the batch↔stream twin for `Graph.graphCc`
    * (the last batch-only family; CUSUM/actives/quantiles already have
    * twins). Full label propagation cannot run inside a per-key
    * processor (labels cross keys), so the streaming stage does what a
    * production incremental-CC pipeline does: SPANNING-FOREST REDUCTION.
    * Edges are bucketed by a deterministic key; each bucket's processor
    * maintains a union-find over the nodes it has seen (MapState parent
    * pointers — absent key = self-root) and emits an edge iff it MERGES
    * two components of that bucket (Append mode: forest edges are never
    * retracted). The union of per-bucket forests preserves GLOBAL
    * connectivity — every rejected edge's endpoints were already
    * connected by earlier forest edges of its own bucket (induction over
    * arrival order) — so the periodic batch min-label consolidation over
    * the forest reproduces `graph_cc`'s labels EXACTLY (same node set
    * too: a node's first edge always merges, so every edge-incident node
    * appears in the forest).
    *
    * Scale: state per bucket is NODE-sized (one parent pointer per seen
    * node), never edge-sized; each bucket emits at most (its nodes − 1)
    * forest edges over the stream's LIFETIME, so the downstream batch CC
    * consumes ≤ buckets·(n−1) edges no matter how many billions of
    * edges streamed — the edge-stream → bounded-state → periodic-batch
    * shape that makes streaming graph maintenance feasible at 100 TB.
    * Batch reads/writes go through a per-batch local cache with path
    * compression; only changed pointers hit the state store. */
  class CcForestProcessor extends StatefulProcessor[Int, (Int, Long, Long), (Long, Long)] {
    @transient private var parent: MapState[Long, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      parent = getHandle.getMapState[Long, Long]("uf",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Int, rows: Iterator[(Int, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      // the batch's pointers load from the state store on first touch; the
      // shared union-find (union by MIN root — roots only ever decrease,
      // matching the batch min-label convention — with path compression)
      // runs over that local cache
      val loaded = new scala.collection.mutable.LongMap[Long]
      val uf = new graft.operators.Graph.MinRootUnionFind(x => {
        val p = if (parent.containsKey(x)) parent.getValue(x) else x
        loaded(x) = p
        p
      })
      val out = rows.filter { case (_, a, b) => uf.union(a, b) }
        .map { case (_, a, b) => (a, b) }.toList
      uf.parent.foreachEntry((k, p) => if (loaded(k) != p) parent.updateValue(k, p))
      out.iterator
    }
  }

  /** Edge stream → per-bucket spanning-forest edges (see
    * CcForestProcessor). Bucketing by min(a,b) is symmetric, so the
    * reversed duplicate of an undirected edge lands in the same bucket
    * and is rejected there instead of inflating another bucket's forest. */
  def ccForestEdges(edges: Dataset[(Long, Long)], buckets: Int = 64): Dataset[(Long, Long)] = {
    import edges.sparkSession.implicits._
    edges.map(e => ((math.min(e._1, e._2) % buckets).toInt, e._1, e._2))
      .groupByKey(_._1)
      .transformWithState(new CcForestProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** The periodic batch consolidation that completes the streaming-CC
    * operator (SURVEY §2.9 declares it as part of the row; until round 14
    * it lived only in the spec as a local union-find): min-label connected
    * components over the accumulated FOREST edges alone, which equal the
    * batch `graph_cc` labels over the full edge stream node for node (the
    * per-bucket forests preserve global connectivity — see
    * CcForestProcessor). Input: a 2-column (a, b) forest relation;
    * output: (node, lbl). Runs the SAME distributed propagation core as
    * batch graph_cc (`Graph.ccPropagate` — one engine kernel, so the twin
    * cannot drift); forest edges are emitted once per undirected pair,
    * which is the kernel's input contract.
    * Width: the forest is node-bounded by construction (≤ buckets·(n−1)
    * rows regardless of stream length), so the session width is the right
    * build width — no wide-build gate. */
  def ccConsolidate(forest: DataFrame): DataFrame = {
    graft.operators.Graph.ccPropagate(forest.toDF("a", "b"), 0)
  }

  /** Last-touch attribution as a stateful stream — the online form of the
    * batch `EventTime.evtAttribution` as-of lookup. Per-user state is ONE
    * long (the latest click's epoch-µs); each purchase is emitted exactly
    * once with the click hour it attributes to (None = no prior click in
    * the lookback). Within a micro-batch, events are applied in
    * (epoch_us, id) order — the same total order the batch window uses —
    * so an in-order stream reproduces the batch result row for row
    * (StreamingSpec asserts exact parity against the batch operator on the
    * sf0.001 events). State is O(users), independent of stream length. */
  def streamAttribution(events: Dataset[AttrEvt], windowUs: Long)
      : Dataset[(Long, Long, Double, Option[Long])] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[AttrEvt], state: GroupState[Long]) =>
          var lastClick = state.getOption.getOrElse(Long.MinValue)
          val out = Vector.newBuilder[(Long, Long, Double, Option[Long])]
          batch.toVector.sortBy(e => (e.us, e.id)).foreach { e =>
            if (e.etype == "click") {
              if (e.us > lastClick) lastClick = e.us
            } else if (e.etype == "purchase") {
              val attr =
                if (lastClick != Long.MinValue && e.us - lastClick <= windowUs)
                  Some((lastClick / 3600000000L) % 24)
                else None
              out += ((user, e.id, e.value, attr))
            }
          }
          if (lastClick != Long.MinValue) state.update(lastClick)
          out.result().iterator
      }
  }

  /** Running top-k NEIGHBORS per query — the stateful half of the ANN
    * query-stream serve (round 18). State per query is ONLY the k best
    * (cos, nn) pairs seen (O(queries·k), independent of how many
    * candidate rows the probes produce), merged per batch under the SAME
    * comparator as the batch `llm_ann_ivf` rank window (cos desc, ties to
    * the smaller neighbor id) on UNROUNDED doubles — so a corpus vector
    * fed as a query converges to exactly the batch answer once all its
    * probed cells have streamed through. Emits the current top-k after
    * every batch the query appears in (Update mode). */
  class AnnTopKProcessor(k: Int)
      extends StatefulProcessor[Long, (Long, Long, Double), (Long, Seq[Long], Seq[Double])] {
    @transient private var top: ValueState[AnnNeighbors] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getValueState[AnnNeighbors](
        "nns", Encoders.product[AnnNeighbors], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Seq[Long], Seq[Double])] = {
      val cur = if (top.exists()) top.get() else AnnNeighbors(Seq.empty, Seq.empty)
      // distinctBy after the sort keeps the best row per neighbor, making
      // re-delivered candidates idempotent (at-least-once replay safety —
      // a (query, neighbor) pair always scores the same deterministic cos)
      val merged = (cur.cos.zip(cur.nn) ++ rows.map(r => (r._3, r._2)))
        .sorted(Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long]))
        .distinctBy(_._2)
        .take(k)
      top.update(AnnNeighbors(merged.map(_._1), merged.map(_._2)))
      // same rounding as the batch output's round(cos, 6): HALF_UP
      Iterator.single((key, merged.map(_._2), merged.map(p =>
        BigDecimal(p._1).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    }
  }

  /** ANN serve over an unbounded QUERY stream — the deployment shape the
    * IVF index exists for: build
    * the index once, then answer vector queries as they arrive. The
    * candidate stage is `LlmVector.annServeCandidates` — stream-STATIC
    * and stateless (each query row ranks its cells against the centroid
    * matrix, a scalar subquery, keeps the ones the batch build's probe
    * law admits and equi-joins the memoized rank-1 index on cell; no
    * watermark, no join state) — and the only state is the per-query
    * top-k (AnnTopKProcessor). Centroids and probe law are the batch
    * build's, so a corpus vector served here probes exactly the cells
    * `llm_ann_ivf` probes for it. Emits (qid, top neighbor ids, cos
    * rounded 6). */
  def streamAnnServe(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      queries: Dataset[AnnQuery], k: Int = 5): Dataset[(Long, Seq[Long], Seq[Double])] = {
    import queries.sparkSession.implicits._
    graft.operators.LlmVector.annServeCandidates(spark, sfDir, queries.toDF())
      .toDF("_1", "_2", "_3")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new AnnTopKProcessor(k), TimeMode.None(), OutputMode.Update())
  }
}

/** One ANN serve query: an external vector probing the corpus index.
  * Embedding layout matches the corpus table (float[Dim]). */
case class AnnQuery(qid: Long, embedding: Seq[Float])

/** Bounded top-k state for AnnTopKProcessor: parallel (cos, nn) arrays,
  * kept sorted by (cos desc, nn asc) — the batch rank comparator. */
case class AnnNeighbors(cos: Seq[Double], nn: Seq[Long])

/** Event record for the attribution stream: epoch-µs long timestamps (the
  * events table is µs-precision; java.sql.Timestamp's ms `getTime` would
  * truncate and break parity with the batch operator's integer math). */
case class AttrEvt(us: Long, user: Long, etype: String, value: Double, id: Long)

/** Exactly-once streaming MERGE sink — the foreachBatch body that closes
  * the loop between the streaming and sink families.
  *
  * Structured Streaming's foreachBatch contract is at-least-once: after a
  * failure the last micro-batch can be redelivered with the SAME batchId,
  * and a restarted query may re-offer earlier ids. Exactly-once EFFECT
  * therefore requires the sink to be idempotent per batch id — the
  * txnAppId/txnVersion recipe lakehouse table formats implement; here the
  * transaction log is a marker file per applied id beside versioned parquet
  * snapshots (atomic enough on a local FS for the spec; at 100 TB the same
  * design rides a table format's commit protocol instead of marker files).
  *
  * Protocol: `initTarget` writes snapshot v0 before the stream starts. For
  * a NEW batch id, `mergeBatch` reads the latest snapshot v_k, applies
  * `Sinks.upsert` (the same full-outer-join MERGE kernel the batch
  * sink_merge_upsert runs), drops the kernel's `op` audit column and
  * writes v_{k+1}, then marks the id applied.
  * An already-applied id returns WITHOUT touching state, so redeliveries —
  * in order or out of order — converge to exactly-once application.
  * StreamingSpec feeds sink_merge_upsert's changeset through micro-batches,
  * replays two stale ids, and asserts row equality with the batch sink.
  */
object MergeSink {
  private def appliedMarker(root: String, id: Long) =
    new java.io.File(s"$root/_applied_$id")

  private def latestVersion(root: String): Int =
    new java.io.File(root).listFiles() match {
      case null => -1
      case fs => fs.map(_.getName).filter(_.matches("v\\d+"))
        .map(_.drop(1).toInt).foldLeft(-1)(math.max)
    }

  /** Number of snapshot versions written so far (spec observability). */
  def versionCount(root: String): Int = latestVersion(root) + 1

  /** Write snapshot v0. Must run before the stream starts. */
  def initTarget(base: DataFrame, root: String): Unit = {
    new java.io.File(root).mkdirs(): Unit
    base.write.mode("overwrite").parquet(s"$root/v0")
  }

  /** The foreachBatch body: curried so `mergeBatch(root, key) _` plugs
    * straight into `writeStream.foreachBatch`. */
  def mergeBatch(root: String, key: String)(batch: DataFrame, batchId: Long): Unit = {
    if (appliedMarker(root, batchId).exists()) return // redelivery: no-op
    val spark = batch.sparkSession
    val v = latestVersion(root)
    require(v >= 0, s"MergeSink target $root not initialized (call initTarget)")
    graft.operators.Sinks.upsert(spark.read.parquet(s"$root/v$v"), batch, key)
      .drop("op")
      .write.mode("overwrite").parquet(s"$root/v${v + 1}")
    appliedMarker(root, batchId).createNewFile(): Unit
  }

  /** The current snapshot (latest version). */
  def current(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/v${latestVersion(root)}")

  /** Time travel: the snapshot as of `version` — every version the MERGE
    * protocol ever committed stays readable (the lakehouse VERSION AS OF
    * idiom; here versions are the immutable per-batch parquet snapshots the
    * exactly-once log already maintains, so time travel costs nothing
    * extra). Fails with a clear message rather than a parquet path error
    * when the version was never committed. */
  def asOf(spark: org.apache.spark.sql.SparkSession, root: String, version: Int): DataFrame = {
    val latest = latestVersion(root)
    require(version >= 0 && version <= latest,
      s"version $version does not exist in $root (have 0..$latest)")
    require(new java.io.File(s"$root/v$version").exists(),
      s"version $version of $root was vacuumed (retention kept later versions only)")
    spark.read.parquet(s"$root/v$version")
  }

  /** Retention: physically remove all but the `keepLast` most recent
    * snapshot versions (the lakehouse VACUUM). The applied-id log is
    * untouched — exactly-once idempotence must survive retention, or a
    * redelivered old batch id would re-apply after a vacuum. Vacuumed
    * versions fail `asOf` with a clear retention message; `current` and
    * every kept version are unaffected. Returns the removed version
    * numbers (spec observability). */
  def vacuum(root: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val latest = latestVersion(root)
    val removed = (0 to latest - keepLast)
      .filter(v => new java.io.File(s"$root/v$v").exists())
    removed.foreach(v =>
      graft.operators.Scans.deleteRecursively(new java.io.File(s"$root/v$v")))
    removed
  }
}
