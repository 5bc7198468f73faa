package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Changeset row for the MergeSink spec — matches Sinks.mergeInputs' schema. */
case class MergeChangeRow(o_orderkey: Long, o_custkey: Long,
                          o_orderstatus: String, o_totalprice: Double)

/** Structured Streaming semantics (SURVEY.md §2.9 ✗-oracle rows): watermarks,
  * late-data drop, session merge across batches, dedup-within-watermark,
  * arbitrary state. Watermark timing note: the watermark used during batch N
  * is derived from data seen through batch N-1, so finalized windows emit one
  * trigger after the advancing data arrives.
  */
class StreamingSpec extends SparkSpec {

  private def ts(hhmm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hhmm:00")
  private def evt(hhmm: String, user: Long = 1L, id: Long = 0L, value: Double = 1.0) =
    Evt(ts(hhmm), user, value, id)

  /** Runs `body` with the RocksDB state store provider, restoring the
    * session's previous provider afterwards. */
  private def withRocksDbState[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("tumbling window with watermark drops late rows and finalizes on watermark pass") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Evt]
    val q = StreamOps.tumblingCounts(in.toDF())
      .writeStream.format("memory").queryName("t_tumbling").outputMode("append").start()
    try {
      in.addData(evt("10:00"), evt("10:30"))
      q.processAllAvailable()
      in.addData(evt("10:40"), evt("12:00")) // 10:40 within watermark (10:20) — kept
      q.processAllAvailable()
      in.addData(evt("10:45"), evt("13:00")) // wm now 11:50 — 10:45 dropped; [10,11) emits
      q.processAllAvailable()
      in.addData(evt("14:00")) // wm 12:50 — [12,13) emits
      q.processAllAvailable()
      val rows = spark.sql("SELECT ws, cnt FROM t_tumbling").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
      assert(rows(ts("10:00")) == 3, "late-but-within-watermark row must be counted")
      assert(rows(ts("12:00")) == 1)
      assert(!rows.contains(ts("13:00")), "unfinalized window must not emit in append mode")
    } finally q.stop()
  }

  test("session windows merge within gap and finalize past the watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Evt]
    val q = StreamOps.sessionCounts(in.toDF())
      .writeStream.format("memory").queryName("t_session").outputMode("append").start()
    try {
      in.addData(evt("10:00"), evt("10:10"), evt("11:00")) // sessions: [10:00,10:40) x2, [11:00,11:30) x1
      q.processAllAvailable()
      in.addData(evt("13:00", user = 2L)) // advances wm to 12:50 after this batch
      q.processAllAvailable()
      in.addData(evt("14:00", user = 2L)) // batch runs with wm 12:50 — user-1 sessions emit
      q.processAllAvailable()
      val rows = spark.sql("SELECT session_start, user, cnt FROM t_session WHERE user = 1").collect()
        .map(r => (r.getTimestamp(0), r.getLong(2))).toMap
      assert(rows == Map(ts("10:00") -> 2L, ts("11:00") -> 1L))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark suppresses replayed ids") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Evt]
    val q = StreamOps.dedupWithinWatermark(in.toDF())
      .writeStream.format("memory").queryName("t_dedup").outputMode("append").start()
    try {
      in.addData(evt("10:00", id = 1L), evt("10:05", id = 2L))
      q.processAllAvailable()
      in.addData(evt("10:06", id = 1L), evt("10:30", id = 3L)) // id=1 replayed — dropped
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM t_dedup").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("file-source stream resumes from checkpoint and processes only new files") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val src = s"$base/src"
    val ckpt = s"$base/ckpt"
    Seq(evt("10:00"), evt("10:01"), evt("10:02", user = 2L)).toDS()
      .write.mode("append").parquet(src)

    def runOnce(): Unit = {
      val sdf = spark.readStream.schema(Encoders.product[Evt].schema).parquet(src)
      val q = sdf.groupBy("user").count()
        .writeStream.outputMode("complete").format("memory").queryName("t_file")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()
    val first = spark.sql("SELECT user, count FROM t_file").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(first == Map(1L -> 2L, 2L -> 1L))

    Seq(evt("10:10"), evt("10:11", user = 3L)).toDS().write.mode("append").parquet(src)
    runOnce() // restart from the same checkpoint: state restored, only new files read
    val second = spark.sql("SELECT user, count FROM t_file").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(second == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
  }

  test("exactly-once streaming MERGE converges to the batch upsert despite replays") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = sf001
    val root = java.nio.file.Files.createTempDirectory("graft_merge_sink").toString
    val (target, changeset) = graft.operators.Sinks.mergeInputs(spark, sf)
    MergeSink.initTarget(target, root)
    // the SAME changeset the batch sink applies in one shot, split into 3
    // key-disjoint micro-batches (disjointness ⇒ application order can't
    // change the final state, so convergence is exact, not best-effort)
    val batches = (0 until 3).map { i =>
      import org.apache.spark.sql.functions.{hash, lit, pmod}
      changeset.filter(pmod(hash(col("o_orderkey")), lit(3)) === i)
        .as[MergeChangeRow].collect().toSeq
    }
    assert(batches.map(_.size).sum > 0 && batches.forall(_.nonEmpty))
    val in = MemoryStream[MergeChangeRow]
    val q = in.toDF().writeStream
      .foreachBatch(MergeSink.mergeBatch(root, "o_orderkey") _)
      .start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val versionsAfterStream = MergeSink.versionCount(root)
    // at-least-once redelivery, OUT OF ORDER: re-offer already-applied ids
    // 1 then 0 — the applied-id log must make both no-ops
    MergeSink.mergeBatch(root, "o_orderkey")(spark.createDataset(batches(1)).toDF(), 1L)
    MergeSink.mergeBatch(root, "o_orderkey")(spark.createDataset(batches(0)).toDF(), 0L)
    assert(MergeSink.versionCount(root) === versionsAfterStream,
      "replayed batch ids must not write new snapshot versions")
    // final snapshot row-equals the batch MERGE (sink_merge_upsert minus
    // its op audit column)
    val streamed = MergeSink.current(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    val batchMerge = graft.SparkEntry.queries("sink_merge_upsert")(spark, sf)
      .drop("op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(streamed === batchMerge, "streamed MERGE must converge to the batch snapshot")
    // time travel: every committed version stays readable. v0 is the
    // pre-stream target; each later version adds exactly one batch's keys
    // (batches are key-disjoint, so version k's row count is v0 + the
    // cumulative INSERT rows — updates replace in place).
    def keysAt(v: Int): Set[Long] =
      MergeSink.asOf(spark, root, v).select("o_orderkey").collect().map(_.getLong(0)).toSet
    val v0Keys = target.select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(keysAt(0) === v0Keys, "v0 must be the pre-stream snapshot, bit for bit")
    val inserted = batches.map(_.map(_.o_orderkey).filterNot(v0Keys).toSet)
    (1 to 3).foreach { k =>
      assert(keysAt(k) === v0Keys ++ inserted.take(k).flatten,
        s"v$k must hold exactly the first $k batches' inserts over v0")
    }
    intercept[IllegalArgumentException](MergeSink.asOf(spark, root, 4))
    intercept[IllegalArgumentException](MergeSink.asOf(spark, root, -1))
  }

  test("foreachBatch sink observes each micro-batch with its id") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val in = MemoryStream[Evt]
    val q = in.toDF().writeStream
      .foreachBatch { (df: DataFrame, id: Long) => seen.synchronized { seen += ((id, df.count())): Unit } }
      .start()
    try {
      in.addData(evt("10:00"), evt("10:01"))
      q.processAllAvailable()
      in.addData(evt("10:02"))
      q.processAllAvailable()
      val counts = seen.synchronized(seen.toList)
      assert(counts.map(_._2) == List(2L, 1L), s"batches were $counts")
      assert(counts.map(_._1) == counts.map(_._1).sorted, "batch ids must be increasing")
    } finally q.stop()
  }

  test("stream-stream interval join matches errors within the preceding hour") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val purchases = MemoryStream[Evt]
    val errors = MemoryStream[Evt]
    val q = StreamOps.purchaseErrorJoin(purchases.toDF(), errors.toDF())
      .writeStream.format("memory").queryName("t_ssjoin").outputMode("append").start()
    try {
      errors.addData(evt("09:30", user = 1L, id = 100L), evt("11:30", user = 1L, id = 101L))
      purchases.addData(evt("10:00", user = 1L, id = 1L)) // joins 09:30 error only
      q.processAllAvailable()
      val matched = spark.sql("SELECT p_id, e_ts FROM t_ssjoin").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      assert(matched == Set((1L, ts("09:30"))),
        "only the error within [p_ts-1h, p_ts] may join")
    } finally q.stop()
  }

  test("transformWithState (arbitrary state v2) keeps running counts with ValueState") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[Evt]
      val q = StreamOps.runningUserCounts(in.toDS())
        .toDF("user", "total")
        .writeStream.format("memory").queryName("t_tws").outputMode("update").start()
      try {
        in.addData(evt("10:00"), evt("10:01"), evt("10:02", user = 2L))
        q.processAllAvailable()
        in.addData(evt("10:10"))
        q.processAllAvailable()
        val latest = spark.sql("SELECT user, max(total) FROM t_tws GROUP BY user").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(latest == Map(1L -> 3L, 2L -> 1L))
      } finally q.stop()
    }
  }

  test("streaming top-k keeps only k values per key and matches the batch top-k") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[Evt]
      val q = StreamOps.topkPerUser(in.toDS(), 3)
        .toDF("user", "top")
        .writeStream.format("memory").queryName("t_topk").outputMode("update").start()
      try {
        // user 1 sees 5 values across two batches; user 2 sees 2
        in.addData(evt("10:00", value = 5.0), evt("10:01", value = 1.0),
          evt("10:02", value = 3.0), evt("10:03", user = 2L, value = 9.0))
        q.processAllAvailable()
        in.addData(evt("10:10", value = 7.0), evt("10:11", value = 2.0),
          evt("10:12", user = 2L, value = 4.0))
        q.processAllAvailable()
        val rows = spark.sql(
          "SELECT user, top FROM t_topk").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toList))
        // the post-batch-2 emissions must equal the batch top-3 over ALL
        // values seen (only the final merge can produce these lists)
        assert(rows.contains((1L, List(7.0, 5.0, 3.0))),
          s"user 1 final top-3 missing from ${rows.toList}")
        assert(rows.contains((2L, List(9.0, 4.0))),
          s"user 2 final top missing from ${rows.toList}")
        // bounded-state contract: no emission ever exceeds k values, and
        // every emission is sorted descending (the state invariant)
        assert(rows.forall(_._2.length <= 3), "state exceeded k values")
        assert(rows.forall(p => p._2 == p._2.sorted(Ordering[Double].reverse)),
          "emissions must be descending")
      } finally q.stop()
    }
  }

  test("streaming attribution reproduces the batch operator exactly (in-order feed)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf001 = "/root/testdata/sf0.001"
    // the real events table, fed through the stream in event-time order
    val evs = graft.Tables.events(spark, sf001)
      .filter(col("event_type").isin("click", "purchase"))
      .select("epoch_us", "user_id", "event_type", "value", "event_id")
      .collect()
      .map(r => AttrEvt(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4)))
      .sortBy(e => (e.us, e.id))
    val in = MemoryStream[AttrEvt]
    val q = StreamOps.streamAttribution(in.toDS(), 6L * 3600L * 1000000L)
      .toDF("user", "id", "value", "attr_hour")
      .writeStream.format("memory").queryName("t_attr").outputMode("update").start()
    try {
      // three micro-batches — state must carry the last click across them
      evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = spark.sql(
        """SELECT attr_hour, count(*) AS n_purchases, round(sum(value), 2) AS attributed_value
          |FROM t_attr GROUP BY attr_hour""".stripMargin).collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1), r.getDouble(2)))
        .toSet
      val batch = graft.operators.EventTime.evtAttribution(spark, sf001).collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(streamed === batch, "stream and batch attribution must agree row for row")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming rolling actives reproduce the batch DAU/WAU exactly; HLL form within 5%") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      // the real events table as DEDUPED (epochDay, user) pairs — the same
      // grain the batch operator dedups to before its fanout
      val pairs = graft.Tables.events(spark, sf001)
        .select(org.apache.spark.sql.functions.to_date(col("ts_ntz")).as("day"), col("user_id"))
        .distinct().collect()
        .map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1)))
        .sortBy(identity)
      // batch truth: day -> (dau, wau)
      val batch = graft.operators.EventTime.evtRollingActives(spark, sf001).collect()
        .map(r => r.getDate(0).toLocalDate.toEpochDay -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(batch.nonEmpty)

      def runStream(name: String, f: org.apache.spark.sql.Dataset[StreamOps.DayHit] =>
          org.apache.spark.sql.Dataset[(Long, Long, Long)]): Map[Long, (Long, Long)] = {
        val in = MemoryStream[(Long, Long)]
        val q = f(StreamOps.toDayHits(in.toDS()))
          .toDF("day", "dau", "wau")
          .writeStream.format("memory").queryName(name).outputMode("update").start()
        try {
          // three micro-batches: a day's state must merge users across them
          pairs.grouped(math.max(pairs.length / 3, 1)).foreach { chunk =>
            in.addData(chunk.toIndexedSeq); q.processAllAvailable()
          }
          // per-key counts are nondecreasing across batches (sets/sketches
          // only grow), so max == the final emission for each day
          spark.sql(s"SELECT day, max(dau), max(wau) FROM $name GROUP BY day").collect()
            .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        } finally q.stop()
      }

      // exact-set form: final emissions EQUAL the batch rows
      val exact = runStream("t_ract", StreamOps.rollingActives)
      assert(exact === batch, "exact streaming rolling actives must equal the batch rows")
      // HLL form: the bounded-state layout — estimates within the
      // agg_hll_merge tolerance of the batch exact counts, same day set
      val hll = runStream("t_ract_hll", d => StreamOps.rollingActivesHll(d))
      assert(hll.keySet === batch.keySet)
      hll.foreach { case (day, (dau, wau)) =>
        val (ed, ew) = batch(day)
        assert(math.abs(dau - ed) <= math.max(1L, math.ceil(0.05 * ed).toLong),
          s"day $day: HLL dau $dau vs exact $ed")
        assert(math.abs(wau - ew) <= math.max(1L, math.ceil(0.05 * ew).toLong),
          s"day $day: HLL wau $wau vs exact $ew")
      }
    }
  }

  test("streaming KLL quantiles track the exact batch percentiles within 2% rank") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      // the real events table as (event_type, value) rows, fed in 3 batches:
      // a key's sketch state must merge updates across micro-batches
      val rows = graft.Tables.events(spark, sf001)
        .select(col("event_type"), col("value")).as[(String, Double)].collect()
      val byType = rows.groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
      val in = MemoryStream[(String, Double)]
      val q = StreamOps.quantilesPerKey(in.toDS())
        .toDF("etype", "n", "p50", "p90")
        .writeStream.format("memory").queryName("t_kll").outputMode("update").start()
      try {
        rows.grouped(math.max(rows.length / 3, 1)).foreach { chunk =>
          in.addData(chunk.toIndexedSeq); q.processAllAvailable()
        }
        // n is exact and nondecreasing, so the max-n row is the final emission
        val fin = spark.sql(
          """SELECT etype, n, p50, p90 FROM t_kll a
            |WHERE n = (SELECT max(n) FROM t_kll b WHERE b.etype = a.etype)""".stripMargin)
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
        assert(fin.keySet === byType.keySet)
        fin.foreach { case (t, (n, p50, p90)) =>
          val exact = byType(t)
          assert(n === exact.length.toLong, s"$t: KLL n must count every update")
          def rankOf(est: Double): Double = exact.count(_ <= est).toDouble / exact.length
          assert(math.abs(rankOf(p50) - 0.5) <= 0.02, s"$t: p50 $p50 rank ${rankOf(p50)}")
          assert(math.abs(rankOf(p90) - 0.9) <= 0.02, s"$t: p90 $p90 rank ${rankOf(p90)}")
        }
      } finally q.stop()
    }
  }

  test("streaming CUSUM reproduces the batch change-point rows exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{avg, round, stddev_samp, sum, to_date}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      // the batch operator's own inputs: rounded per-type daily values and
      // the offline-trained (mu, sigma) baseline, identical arithmetic
      val daily = graft.Tables.events(spark, sf001)
        .groupBy(col("event_type"), to_date(col("ts_ntz")).as("day"))
        .agg(round(sum("value"), 4).as("v"))
      val base = daily.groupBy("event_type")
        .agg(round(avg("v"), 6).as("mu"), round(stddev_samp("v"), 6).as("sigma"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val rows = daily.collect()
        .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay, r.getDouble(2)))
        .sortBy(t => (t._2, t._1))
      // batch truth keyed by (type, epochDay)
      val batch = graft.operators.TimeSeries.tsCusum(spark, sf001).collect()
        .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay) ->
          (r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
      // the synthetic daily series is stationary by construction, so no 4σ
      // alarm fires at this SF — non-vacuity is that the CUSUM statistic
      // itself moves (some S⁺/S⁻ strictly positive), parity is the test
      assert(batch.nonEmpty && batch.exists(v => v._2._1 > 0 || v._2._2 > 0),
        "fixture should move the CUSUM statistic")
      val in = MemoryStream[(String, Long, Double)]
      val q = StreamOps.cusumPerKey(in.toDS(), base)
        .toDF("k", "day", "s_up", "s_dn", "alarm")
        .writeStream.format("memory").queryName("t_cusum").outputMode("update").start()
      try {
        // three micro-batches in day order: state must carry across batches
        rows.grouped(math.max(rows.length / 3, 1)).foreach { chunk =>
          in.addData(chunk.toIndexedSeq); q.processAllAvailable()
        }
        val got = spark.sql("SELECT k, day, s_up, s_dn, alarm FROM t_cusum").collect()
          .map(r => (r.getString(0), r.getLong(1)) ->
            (r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
        assert(got === batch,
          "streaming CUSUM emissions must equal the batch operator's rows")
      } finally q.stop()
    }
  }

  test("streaming CUSUM equals the textbook recurrence under all-positive drift") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      // mu = 0, sigma = 1 → allowance k = 0.5, decision h = 4. Constant
      // x = 2.0 drifts UP from the very first observation: every prefix
      // sum is positive, so a running min over OBSERVED rows only (the
      // r12 bug — minima initialized to MaxValue instead of the implicit
      // P_0 = 0) under-reports S⁺ by the first prefix value (1.5) forever
      // and fires the 4σ alarm one day late. The textbook recurrence
      // S⁺_t = max(0, S⁺_{t-1} + x_t − μ − k) gives exactly 1.5·t.
      val baseline = Map("m" -> (0.0, 1.0))
      val days = (1L to 6L).map(d => ("m", d, 2.0))
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Double)]
      val q = graft.streaming.StreamOps.cusumPerKey(in.toDS(), baseline)
        .toDF("k", "day", "s_up", "s_dn", "alarm")
        .writeStream.format("memory").queryName("t_cusum13").outputMode("update").start()
      try {
        // two micro-batches so the P_0 floor must survive a state round-trip
        in.addData(days.take(3)); q.processAllAvailable()
        in.addData(days.drop(3)); q.processAllAvailable()
        val got = spark.sql("SELECT day, s_up, s_dn, alarm FROM t_cusum13").collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getBoolean(3)))
          .sortBy(_._1)
        // hand-rolled textbook recurrence, same rounding discipline
        var sUp = 0.0; var sDn = 0.0
        val expect = days.map { case (_, d, x) =>
          sUp = math.max(0.0, sUp + (x - 0.0 - 0.5))
          sDn = math.max(0.0, sDn + (0.0 - 0.5 - x))
          (d, BigDecimal(sUp).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
            BigDecimal(sDn).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
            sUp > 4.0 || sDn > 4.0)
        }
        assert(got.toSeq === expect,
          "CUSUM emissions must equal the textbook recurrence (P_0 = 0 floor)")
        // non-vacuity: the drift is positive from row one and the alarm fires
        assert(got.head._2 === 1.5 && got.exists(_._4),
          "fixture must exercise the all-positive-drift path and the alarm")
      } finally q.stop()
    }
  }

  test("streaming CC forest reduction reproduces the batch graph_cc labels") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val sf = sf001
      // the batch operator's own edge relation (symmetric support-≥2
      // co-purchase pairs) and its fixpoint labels — the twin's truth
      val edges = graft.operators.Graph.ccPairs(spark, sf, 0).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(edges.length > 100, "fixture graph should be non-trivial")
      val batch = graft.operators.Graph.ccLabels(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val in = MemoryStream[(Long, Long)]
      val q = StreamOps.ccForestEdges(in.toDS(), buckets = 8)
        .toDF("a", "b")
        .writeStream.format("memory").queryName("t_ccforest").outputMode("append").start()
      try {
        // three micro-batches: union-find state must carry across batches
        edges.grouped(math.max(edges.length / 3, 1)).foreach { chunk =>
          in.addData(chunk.toIndexedSeq); q.processAllAvailable()
        }
        val forest = spark.sql("SELECT a, b FROM t_ccforest").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        // the reduction claim: per-bucket forests are node-bounded, so the
        // consolidation input is far smaller than the edge stream
        assert(forest.length < edges.length / 2,
          s"forest (${forest.length}) must reduce the edge stream (${edges.length})")
        // periodic consolidation pass — the ENGINE's function (round-14
        // verdict item: until then this assertion ran its own local
        // union-find replica, so the operator's declared consolidation half
        // had no engine-side owner). StreamOps.ccConsolidate runs the same
        // distributed min-label propagation core as batch graph_cc over the
        // forest alone; its labels must equal the batch operator's fixpoint
        // labels over ALL edges, node for node (same node set too — every
        // edge-incident node appears in some forest edge).
        val consolidated = StreamOps.ccConsolidate(
          spark.sql("SELECT a, b FROM t_ccforest"))
        assertProvenDtypes(consolidated)
        val streamLabels = consolidated.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(streamLabels == batch,
          "engine-consolidated forest labels must equal the batch graph_cc labels")
      } finally q.stop()
    }
  }

  test("ccConsolidate labels a hand-built forest with per-component min node ids") {
    import spark.implicits._
    // two components {1,2,3,7} and {5,9}; forest edges emitted once per
    // undirected pair, in arbitrary orientation (as the stream does)
    val forest = Seq((2L, 1L), (2L, 3L), (7L, 3L), (9L, 5L)).toDF("a", "b")
    val labels = graft.streaming.StreamOps.ccConsolidate(forest)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 5L -> 5L, 9L -> 5L))
    assertProvenDtypes(graft.streaming.StreamOps.ccConsolidate(forest))
  }

  test("streaming ANN serve answers a query stream with the batch llm_ann_ivf top-5") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // b = 0 (nprobe 3) at sf0.001; at sf0.1 N = 2000 gives b = 2 and
    // nprobe 7, so the probe law filters the served ranking there
    for ((sf, i) <- Seq(sf001, "/root/testdata/sf0.1").zipWithIndex) withClue(s"$sf: ") {
      withRocksDbState {
        // six REAL corpus vectors as external queries (deterministic stride),
        // fed in two micro-batches: the serve path shares the batch build's
        // centroid matrix, probe law and memoized index, so each query's
        // emission must EQUAL the batch operator's top-5 for that vec_id
        // (same (cos desc, nn asc) comparator, same self-exclusion)
        val corpus = graft.Tables.embeddings(spark, sf)
          .filter(col("embedding").isNotNull)
          .orderBy(col("vec_id")).limit(120).collect()
          .map(r => AnnQuery(r.getAs[Long]("vec_id"),
            r.getSeq[Float](r.fieldIndex("embedding"))))
        val queries = corpus.grouped(20).map(_.head).take(6).toSeq
        val qids = queries.map(_.qid).toSet
        val expected = graft.SparkEntry.queries("llm_ann_ivf")(spark, sf)
          .collect()
          .map(r => (r.getLong(r.fieldIndex("a")), r.getLong(r.fieldIndex("rank")),
            r.getLong(r.fieldIndex("nn"))))
          .filter(t => qids.contains(t._1))
          .groupBy(_._1).map { case (a, rows) =>
            a -> rows.sortBy(_._2).map(_._3).toList
          }
        val in = MemoryStream[AnnQuery]
        val sink = s"t_annserve$i"
        val q = StreamOps.streamAnnServe(spark, sf, in.toDS(), 5)
          .toDF("qid", "nns", "cos")
          .writeStream.format("memory").queryName(sink).outputMode("update").start()
        try {
          in.addData(queries.take(3))
          q.processAllAvailable()
          in.addData(queries.drop(3))
          // re-deliver one batch-1 query: at-least-once replay must be
          // idempotent (the state dedups by neighbor), not double-count
          in.addData(queries.head)
          q.processAllAvailable()
          val rows = spark.sql(s"SELECT qid, nns, cos FROM $sink").collect()
            .map(r => (r.getLong(0), r.getSeq[Long](1).toList, r.getSeq[Double](2).toList))
          // every query's final emission equals the batch top-5 (re-delivery
          // emits the same list twice for queries.head - both must match)
          expected.foreach { case (a, nns) =>
            val got = rows.filter(_._1 == a)
            assert(got.nonEmpty, s"query $a never emitted")
            got.foreach { g =>
              assert(g._2 == nns, s"query $a served ${g._2} vs batch $nns")
              assert(g._3.length == g._2.length &&
                g._3 == g._3.sorted(Ordering[Double].reverse),
                s"query $a cos emissions not descending: ${g._3}")
            }
          }
          assert(rows.forall(_._2.length <= 5), "state exceeded k neighbors")
        } finally q.stop()
      }
    }
  }
}
