package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Structured-Streaming surface: the SAME transforms run in batch and on a
  * stream (MemoryStream), plus custom-state sessionization. */
class StreamingSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("drift monitor: streamed closed-window scores equal the batch scorer, verdicts fire") {
    import spark.implicits._
    import graft.streaming.DriftMonitor
    implicit val sqlCtx = spark.sqlContext
    // static reference: uniform over 1..1000 -> every decile holds 10%
    val ref = DriftMonitor.buildReference(
      (1 to 1000).map(_.toDouble).toDF("value"), "value", bins = 10)
    assert(ref.bins === 10 && math.abs(ref.props.sum - 1.0) < 1e-12)
    // hour 0: same uniform shape (stable); hour 1: everything in the top
    // decile (action)
    val hour0 = (0 until 100).map(i => (ts(i * 36L), (i * 10 + 1).toDouble))
    val hour1 = (0 until 100).map(i => (ts(3600L + i * 35L), 990.0 + (i % 10)))
    val rows = hour0 ++ hour1
    val batchDf = rows.toDF("ts", "value")
    def dec(d: Double) = BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime / 1000, r.getLong(2),
        dec(r.getDouble(3)), dec(r.getDouble(4)), r.getString(6),
        // loc_shift + the cross-window CUSUM columns (r13): stream's
        // driver tracker must replay the batch window-frame sums exactly
        dec(r.getDouble(5)),
        dec(r.getDouble(r.fieldIndex("cusum_up"))),
        dec(r.getDouble(r.fieldIndex("cusum_dn"))),
        r.getBoolean(r.fieldIndex("cusum_alarm")))
    val want = DriftMonitor.cusumBinnedScores(
        DriftMonitor.windowedDrift(batchDf, "ts", "value", ref, "1 hour"))
      .collect().map(key).toSet
    assert(want.size === 2)
    val byHour = want.toSeq.sortBy(_._1)
    val verdicts = byHour.map(_._5)
    assert(verdicts === Seq("stable", "action"),
      s"expected hour0 stable / hour1 action, got $verdicts")
    // hour1 is all-top-decile: loc_shift = 9 − μref = 4.5 bins, CUSUM
    // clears the 1-bin threshold and alarms; hour0 must not
    assert(!byHour(0)._9 && byHour(1)._9,
      s"expected cusum alarm only on hour1: $byHour")
    assert((byHour(1)._7 - BigDecimal(4.5)).abs < BigDecimal(0.2),
      s"hour1 cusum_up should be ~4.5 bins: ${byHour(1)}")

    val results = scala.collection.mutable.Set
      .empty[(Long, Long, BigDecimal, BigDecimal, String, BigDecimal,
        BigDecimal, BigDecimal, Boolean)]
    val mem = MemoryStream[(Timestamp, Double)]
    val q = DriftMonitor.startDriftMonitor(mem.toDF().toDF("ts", "value"),
        "ts", "value", ref, "1 hour", "30 minutes") { scored =>
      results.synchronized { results ++= scored.collect().map(key) }
    }
    try {
      mem.addData(hour0: _*); q.processAllAvailable() // nothing closed yet
      mem.addData(hour1: _*); q.processAllAvailable() // watermark closes hour 0
      mem.addData((ts(12000L), 5.0)); q.processAllAvailable() // closes hour 1
      assert(results.toSet === want,
        s"stream/batch drift mismatch:\n  stream $results\n  batch $want")
    } finally q.stop()
  }

  test("streamHeavyHitters: cumulative sketch over micro-batches matches batch; bounds hold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val chunks = Seq(
      Seq("a a a b", "b c"), Seq("a b b d e", "a a"), Seq("c c c c a"))
    val all = chunks.flatten
    val truth = all.flatMap(_.split("\\s+")).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    var last: Map[String, (Long, Long)] = Map.empty
    val mem = MemoryStream[String]
    // exact regime (capacity >> vocab): the cumulative stream sketch must
    // equal the plain batch counts after the last micro-batch
    val q = graft.pipeline.SpaceSaving.streamHeavyHitters(
        mem.toDF().toDF("text"), "text", capacity = 100) { snap =>
      last = snap.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    }
    try {
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      assert(last.view.mapValues(_._1).toMap === truth,
        s"stream/batch sketch mismatch: $last vs $truth")
      assert(last.values.forall(_._2 == 0L), "exact regime: zero error")
    } finally q.stop()
    // tiny capacity: bounds still hold cumulatively across batches
    var lastSmall: Seq[(String, Long, Long)] = Seq.empty
    val mem2 = MemoryStream[String]
    val q2 = graft.pipeline.SpaceSaving.streamHeavyHitters(
        mem2.toDF().toDF("text"), "text", capacity = 2) { snap =>
      lastSmall = snap.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    try {
      chunks.foreach { c => mem2.addData(c: _*); q2.processAllAvailable() }
      assert(lastSmall.size <= 2)
      lastSmall.foreach { case (w, est, err) =>
        val t = truth.getOrElse(w, 0L)
        assert(t <= est && est <= t + err, s"bounds violated for $w: $t $est $err")
      }
    } finally q2.stop()
  }

  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("durableStreamHeavyHitters: checkpointed sketch survives kill-and-restart") {
    import spark.implicits._
    withRocksDb {
      val base = java.nio.file.Files.createTempDirectory("hh_durable")
      val srcDir = base.resolve("src").toString
      val ckpt = base.resolve("ckpt").toString
      val chunkA = Seq("a a a b", "b c", "a b b d e")
      val chunkB = Seq("c c c c a", "a a e")
      val snaps = scala.collection.mutable.Map.empty[String, (Long, Long)]
      def runOnce(): Unit = {
        val stream = spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType))))
          .parquet(srcDir)
        val q = graft.pipeline.SpaceSaving
          .durableStreamHeavyHitters(stream, "text", capacity = 100)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[
              graft.pipeline.SpaceSaving.HeavyHitterRow], _: Long) =>
            val rows = b.collect()
            if (rows.nonEmpty) snaps.synchronized {
              snaps.clear()
              rows.foreach(r => snaps(r.word) = (r.estimate, r.err))
            }
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      chunkA.toDF("text").write.mode("append").parquet(srcDir)
      runOnce() // phase A: count chunkA, checkpoint, KILL
      val afterA = snaps.toMap
      val truthA = chunkA.flatMap(_.split("\\s+")).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      assert(afterA.view.mapValues(_._1).toMap === truthA)
      chunkB.toDF("text").write.mode("append").parquet(srcDir)
      runOnce() // phase B: a FRESH query resumes from the checkpoint
      // exact regime (capacity >> vocab): the resumed cumulative sketch
      // must equal batch counts over A ∪ B — driver state would have
      // restarted from zero and reported only B
      val truth = (chunkA ++ chunkB).flatMap(_.split("\\s+"))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(snaps.view.mapValues(_._1).toMap === truth,
        s"restart lost sketch state: $snaps vs $truth")
      assert(snaps.values.forall(_._2 == 0L), "exact regime: zero error")
    }
  }

  test("durableDriftMonitor: vector scoring == binned scoring; CUSUM survives kill-and-restart") {
    import spark.implicits._
    import graft.streaming.DriftMonitor
    val ref = DriftMonitor.buildReference(
      (1 to 1000).map(_.toDouble).toDF("value"), "value", bins = 10)
    // hour 0 leans LOW (values 1..793 -> negative loc_shift, nonzero CUSUM
    // state to lose); hour 1 is all-top-decile (alarm)
    val hour0 = (0 until 100).map(i => (ts(i * 36L), (i * 8 + 1).toDouble))
    val hour1 = (0 until 100).map(i => (ts(3600L + i * 35L), 990.0 + (i % 10)))
    val batchDf = (hour0 ++ hour1).toDF("ts", "value")
    def dec(d: Double) = BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    // the chained-safe vector form must match the (window, bin) form
    // bit-wise on the same batch data (shared scoreFolded expressions)
    val viaVector = DriftMonitor.scoreVector(
        DriftMonitor.windowedBinVector(batchDf, "ts", "value", ref, "1 hour"), ref)
      .orderBy("window_start").collect().map(_.toSeq)
    val viaBinned = DriftMonitor.scoreBinned(
        DriftMonitor.windowedBinCounts(batchDf, "ts", "value", ref, "1 hour"), ref)
      .orderBy("window_start").collect().map(_.toSeq)
    assert(viaVector.toSeq === viaBinned.toSeq, "vector/binned scoring diverged")

    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime / 1000, r.getLong(2), dec(r.getDouble(3)),
        dec(r.getDouble(4)), r.getString(6), dec(r.getDouble(5)),
        dec(r.getDouble(r.fieldIndex("cusum_up"))),
        dec(r.getDouble(r.fieldIndex("cusum_dn"))),
        r.getBoolean(r.fieldIndex("cusum_alarm")))
    val want = DriftMonitor.cusumBinnedScores(
        DriftMonitor.windowedDrift(batchDf, "ts", "value", ref, "1 hour"))
      .collect().map(key).toSet
    assert(want.size === 2)

    withRocksDb {
      val base = java.nio.file.Files.createTempDirectory("drift_durable")
      val srcDir = base.resolve("src").toString
      val ckpt = base.resolve("ckpt").toString
      val got = scala.collection.mutable.Set.empty[(Long, Long, BigDecimal,
        BigDecimal, String, BigDecimal, BigDecimal, BigDecimal, Boolean)]
      def runOnce(): Unit = {
        val stream = spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType))))
          .parquet(srcDir)
        val q = DriftMonitor.durableDriftMonitor(stream, "ts", "value", ref,
            "1 hour", "30 minutes")
          .toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            got.synchronized { got ++= b.collect().map(key) }
            ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      // phase A: hour0 arrives, then hour1 — the advancing watermark
      // closes hour 0, its CUSUM row lands in the checkpointed state; KILL
      hour0.toDF("ts", "value").write.mode("append").parquet(srcDir)
      runOnce()
      hour1.toDF("ts", "value").write.mode("append").parquet(srcDir)
      runOnce()
      assert(got.size === 1, s"hour0 should have closed in phase A: $got")
      // phase B: a sentinel closes hour 1 in a FRESH query from the same
      // checkpoint — its cusum columns must CONTINUE hour0's prefix sums
      // (a restart-from-zero tracker would differ at 9 decimals)
      Seq((ts(12000L), 5.0)).toDF("ts", "value")
        .write.mode("append").parquet(srcDir)
      runOnce()
      assert(got.toSet === want,
        s"restart broke CUSUM continuity:\n  stream $got\n  batch $want")
    }
  }

  test("streamHeavyHitters: cumulative guaranteed report equals the batch report in the gap regime") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // gap-regime corpus (the guaranteedHeavyHitters law fixture, smaller):
    // 10 heavies at tf=150 vs 200 lights at tf=6, N=2700, φ=1/50 -> φN=54;
    // the band [54, 54 + N/128≈21) is empty and capacity 128 << 210 types
    val rnd = new scala.util.Random(17L)
    val words = rnd.shuffle(
      (0 until 10).flatMap(h => Seq.fill(150)(s"heavy$h")) ++
      (0 until 200).flatMap(l => Seq.fill(6)(s"light$l")))
    val truthHeavy = (0 until 10).map(h => s"heavy$h").toSet
    val n = words.size.toLong
    var lastSnap: Seq[(String, Long)] = Seq.empty
    val mem = MemoryStream[String]
    val q = graft.pipeline.SpaceSaving.streamHeavyHitters(
        mem.toDF().toDF("text"), "text", capacity = 128) { snap =>
      lastSnap = snap.collect().map(r => (r.getString(0), r.getLong(3))).toSeq
    }
    try {
      words.grouped(900).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      // the guaranteed verdict off the CUMULATIVE stream sketch must equal
      // the truth-heavy set — i.e. the same report the oracled batch
      // operator produces on the whole corpus at once
      val streamReport = lastSnap.filter(_._2 * 50L >= n).map(_._1).toSet
      assert(streamReport === truthHeavy,
        s"streaming guaranteed report diverged: $streamReport")
      val batchReport = graft.pipeline.SpaceSaving.guaranteedHeavyHitters(
          words.toDF("w").select(col("w")).as[String],
          capacity = 128, phiNum = 1L, phiDen = 50L)
        .collect().map(_.getString(0)).toSet
      assert(streamReport === batchReport, "stream and batch reports must agree")
    } finally q.stop()
  }

  test("noveltyStream: per-window novelty over micro-batches equals the batch daily replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the noveltyDaily fixture, one crawl record per doc, fed in
    // chronological micro-batches (the documented ordering contract)
    val rows = Seq(
      ("2024-03-01 10:00:00", "a b c d"),   // {abc, bcd} novel
      ("2024-03-01 23:59:59", "a b c x"),   // {abc} dup, {bcx} novel
      ("2024-03-02 00:00:01", "b c d a"),   // {bcd} seen day1, {cda} novel
      ("2024-03-02 12:00:00", "a b"))       // too short: contributes nothing
    val mem = MemoryStream[(String, String)]
    val streamed = graft.streaming.EventStreams.noveltyStream(spark,
      mem.toDF().toDF("tss", "text").withColumn("ts", col("tss").cast("timestamp")),
      "text", "ts", windowLen = "1 day")
    val q = streamed.writeStream.format("memory").queryName("novelty_stream_test")
      .outputMode("complete").start()
    try {
      rows.grouped(2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("novelty_stream_test")
        .select(date_format(col("wstart"), "yyyy-MM-dd").as("day"),
          col("n_grams"), col("n_novel"), col("novelty"))
        .orderBy("day").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq === Seq(
        ("2024-03-01", 3L, 3L, 1.0), ("2024-03-02", 2L, 1L, 0.5)),
        got.toSeq.toString)
      // batch replay: noveltyDaily over the same docs dated by the same ts
      val docs = rows.zipWithIndex
        .map { case ((ts, t), i) => (i.toLong, t, ts) }
        .toDF("doc_id", "text", "tss")
        .withColumn("ts", col("tss").cast("timestamp"))
      val batch = graft.pipeline.Text.noveltyDaily(
          docs, "text", "doc_id", docs.select(col("doc_id"), col("ts")),
          "doc_id", "ts", n = 3)
        .select(col("day"), col("n_grams"), col("n_novel"), col("novelty"))
        .orderBy("day").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq === batch.toSeq, s"stream $got != batch $batch")
    } finally q.stop()
  }

  test("tumblingCounts: batch and streaming agree on the same events") {
    import spark.implicits._
    val rows = Seq(
      (1L, ts(0), 10L, "click", 1.0, "{}"),
      (2L, ts(600), 10L, "click", 2.0, "{}"),
      (3L, ts(3700), 11L, "view", 3.0, "{}"),
      (4L, ts(3800), 10L, "click", 4.0, "{}"))
    val batchDf = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch = EventStreams.tumblingCounts(batchDf)
      .orderBy("window_start", "event_type").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(batch.toSeq === Seq((0L, "click", 2L, 3.0), (3600L, "click", 1L, 4.0),
      (3600L, "view", 1L, 3.0)))

    // same transform as a streaming query over a MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.tumblingCountsStream(streamDf, watermark = "10 minutes")
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("tumbling_test")
        .orderBy("window_start", "event_type").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(streamed.toSeq === batch.toSeq)
    } finally q.stop()
  }

  test("intervalJoinStream: stream-stream interval join matches the batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq((1L, ts(100), 10L), (2L, ts(1900), 10L), (3L, ts(4000), 10L),
      (4L, ts(500), 11L), (5L, ts(90), 12L))
    val purchases = Seq((100L, ts(50), 10L), (101L, ts(3900), 10L), (102L, ts(400), 11L))
    val expected = (for {
      (c, ct, cu) <- clicks
      (p, pt, pu) <- purchases
      if cu == pu && ct.getTime >= pt.getTime && ct.getTime <= pt.getTime + 3600000L
    } yield (c, p)).toSet

    // identical transform in batch mode
    val batch = EventStreams.intervalJoinStream(
        clicks.toDF("click_id", "cts", "user_id"),
        purchases.toDF("purchase_id", "pts", "user_id"),
        Seq("user_id"), "cts", "pts", "1 hour", "2 hours")
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch === expected)

    // and over two MemoryStreams
    val cm = MemoryStream[(Long, Timestamp, Long)]
    val pm = MemoryStream[(Long, Timestamp, Long)]
    val q = EventStreams.intervalJoinStream(
        cm.toDF().toDF("click_id", "cts", "user_id"),
        pm.toDF().toDF("purchase_id", "pts", "user_id"),
        Seq("user_id"), "cts", "pts", "1 hour", "2 hours")
      .select("click_id", "purchase_id")
      .writeStream.format("memory").queryName("interval_join_test")
      .outputMode("append").start()
    try {
      pm.addData(purchases: _*)
      cm.addData(clicks: _*)
      q.processAllAvailable()
      val streamed = spark.table("interval_join_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed === expected)
    } finally q.stop()
  }

  test("dedupStream: re-delivered events within the watermark are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.dedupStream(streamDf, watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, ts(100000), 1L, "a", 1.0, "{}"),
        (2L, ts(100100), 1L, "a", 2.0, "{}"),
        (1L, ts(100000), 1L, "a", 1.0, "{}")) // same micro-batch duplicate
      q.processAllAvailable()
      // re-delivery in a LATER micro-batch, still within the watermark
      mem.addData((2L, ts(100100), 1L, "a", 2.0, "{}"),
        (3L, ts(100200), 1L, "a", 3.0, "{}"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream_test").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L), "each event id exactly once")
    } finally q.stop()
  }

  test("sessionizeStream: open session closes on event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.sessionizeStream(spark, streamDf, gapSeconds = 1800)
      .writeStream.format("memory").queryName("session_stream_test")
      .outputMode("append").start()
    try {
      // user 1: two events, then silence. No session emitted yet.
      // (epochs start well above 0: a row AT the initial watermark (epoch 0)
      // would be dropped by the event-time late filter)
      mem.addData((1L, ts(100000), 1L, "a", 1.0, "{}"), (2L, ts(100100), 1L, "a", 2.0, "{}"))
      q.processAllAvailable()
      assert(spark.table("session_stream_test").count() === 0)
      // user 2 activity advances the WATERMARK past user 1's last+gap
      // (100100 + 1800) -> the event-time timeout closes user 1's session
      mem.addData((3L, ts(105000), 2L, "a", 3.0, "{}"))
      q.processAllAvailable()
      mem.addData((4L, ts(105001), 2L, "a", 4.0, "{}")) // extra batch: timeout firing is end-of-batch
      q.processAllAvailable()
      val closed = spark.table("session_stream_test")
        .as[EventStreams.Session].collect().filter(_.user_id == 1L)
      assert(closed.length === 1, s"expected user 1's session closed, got ${closed.toSeq}")
      assert(closed.head.n_events === 2 && closed.head.session_start === 100000 &&
        closed.head.session_end === 100100 && closed.head.total_value === 3.0)
    } finally q.stop()
  }

  test("native session_window agrees with the custom-state sessionizer") {
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      val user = i % 4
      // bursts of 5 events 60s apart, bursts separated by > gap
      val epoch = 10000L + (i / 20) * 4000L + (i % 5) * 60L + user * 7L
      (i.toLong, ts(epoch), user.toLong, "a", 1.0 + i, "{}")
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val custom = EventStreams.sessionize(spark, df, gapSeconds = 1800)
      .collect().map(s => (s.user_id, s.session_start, s.n_events, s.total_value)).toSet
    val native = EventStreams.sessionizeNative(df, gapSeconds = 1800)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(native === custom)
  }

  test("stateless curation ops run unchanged on a stream: classifier + hash sample") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val streamDf = mem.toDF().toDF("doc_id", "text")
    // the SAME operator definitions as batch — stateless projections and
    // filters are streaming-legal as-is, which is the point: one curation
    // pipeline definition serves the backfill and the live feed
    val curated = graft.pipeline.Sampling.hashSample(
      graft.pipeline.Text.classifierScore(streamDf, "text",
        Map("stopword_ratio" -> 4.0), bias = -1.0),
      col("doc_id"), fraction = 0.5)
    val q = curated.select("doc_id", "quality_score")
      .writeStream.format("memory").queryName("curation_test")
      .outputMode("append").start()
    try {
      val rows = (0L until 200L).map(i => (i, s"the doc $i of words and text"))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("curation_test").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // exactly the batch result: same hash decisions, same scores
      val batch = graft.pipeline.Sampling.hashSample(
        graft.pipeline.Text.classifierScore(rows.toDF("doc_id", "text"), "text",
          Map("stopword_ratio" -> 4.0), bias = -1.0),
        col("doc_id"), fraction = 0.5)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
      assert(streamed === batch)
      assert(streamed.nonEmpty && streamed.size < 200)
    } finally q.stop()
    // splitAssign is likewise a stateless projection: the live feed routes
    // each doc to the same split the batch backfill would
    val mem2 = MemoryStream[(Long, String)]
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val q2 = graft.pipeline.Sampling.splitAssign(
        mem2.toDF().toDF("doc_id", "text"),
        graft.pipeline.Text.fingerprint(col("text")), splits)
      .writeStream.format("memory").queryName("split_stream_test")
      .outputMode("append").start()
    try {
      val rows = (0L until 120L).map(i => (i, s"doc number $i"))
      mem2.addData(rows: _*)
      q2.processAllAvailable()
      val streamed = spark.table("split_stream_test").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      val batch = graft.pipeline.Sampling.splitAssign(
          rows.toDF("doc_id", "text"),
          graft.pipeline.Text.fingerprint(col("text")), splits)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(streamed === batch)
      assert(streamed.values.toSet.size >= 2)
    } finally q2.stop()
  }

  test("html extraction + url canonicalization run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    def pipe(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Text.extractUrls(
          df.withColumn("clean",
            graft.pipeline.Text.htmlExtract(col("text"))), "clean")
        .select(col("doc_id"), col("clean"),
          graft.pipeline.Text.canonicalizeUrl(col("url")).as("canon"))
    val q = pipe(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("url_stream_test")
      .outputMode("append").start()
    try {
      val rows = (0L until 60L).map(i =>
        (i, s"<p>see https://Site$i.Example.com/p?utm_x=1&k=$i#f now</p><script>x()</script>"))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("url_stream_test").collect()
        .map(r => (r.getLong(0), r.getString(2))).toMap
      val batch = pipe(rows.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getString(2))).toMap
      assert(streamed === batch)
      assert(streamed(3L) === "https://site3.example.com/p?k=3")
    } finally q.stop()
  }

  test("blocklist + importance sampling run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val streamDf = mem.toDF().toDF("doc_id", "url")
    // the bloom probe is a constant-literal predicate and the importance
    // decision is a hash filter — both stateless, so the SAME blocklist
    // pipeline serves the backfill and the live feed. (The exact-verify
    // branch needs a stream-static join: filterOut's union is batch-only,
    // so streams compose sketch-prune -> stream-static anti join.)
    val bl = (0L until 100L by 7L).map(i => s"u-$i").toDF("bad")
    val bf = graft.pipeline.Blocklist.sketch(bl, "bad", fpp = 0.01)
    val pruned = streamDf.filter(!graft.functions.GraftFunctions.might_contain(spark,
        lit(bf), xxhash64(col("url"))))
    val sampled = graft.pipeline.Sampling.importanceSample(
      pruned, when(col("doc_id") < 50, 0.9).otherwise(0.1), col("doc_id"))
    val q = sampled.writeStream.format("memory").queryName("bl_stream_test")
      .outputMode("append").start()
    try {
      val rows = (0L until 100L).map(i => (i, s"u-$i"))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("bl_stream_test").collect()
        .map(_.getLong(0)).toSet
      val batch = graft.pipeline.Sampling.importanceSample(
        graft.pipeline.Blocklist.filterOut(rows.toDF("doc_id", "url"), bl,
          "url", blocklistKey = "bad", fpp = 0.01),
        when(col("doc_id") < 50, 0.9).otherwise(0.1), col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      // sketch-only prune can only drop EXTRA rows (false positives), never
      // add: streamed ⊆ batch, with a deterministic handful of FPs at most
      assert(streamed.subsetOf(batch))
      assert(batch.diff(streamed).size <= 5,
        s"too many bloom FPs: ${batch.diff(streamed)}")
      assert(streamed.intersect((0L until 100L by 7L).toSet).isEmpty,
        "no blocklisted row may survive (no false negatives)")
      assert(streamed.count(_ < 50) > streamed.count(_ >= 50))
    } finally q.stop()
  }

  test("chunking + collocation-ready tokenization run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val streamDf = mem.toDF().toDF("doc_id", "text")
    // chunkDocs is a generator projection (zero state), so the SAME
    // operator serves backfill and live ingest
    val chunked = graft.pipeline.Text.chunkDocs(streamDf, "text", "doc_id",
      chunkWords = 4, strideWords = 2)
    val q = chunked.writeStream.format("memory").queryName("chunk_stream_test")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (0L, (1 to 10).map(i => s"w$i").mkString(" ")),
        (1L, "tiny doc"))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("chunk_stream_test").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(3))).toSet
      val batch = graft.pipeline.Text.chunkDocs(rows.toDF("doc_id", "text"),
          "text", "doc_id", chunkWords = 4, strideWords = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3))).toSet
      assert(streamed === batch, "stream and batch chunking must agree")
      assert(streamed.count(_._1 == 0L) === 4) // 10 words, chunk 4, stride 2
    } finally q.stop()
  }

  test("incremental profile: foreachBatch + mergeSummaries equals the whole-data summary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    // running profile maintained across micro-batches WITHOUT rescanning
    // history — the mergeable-summaries streaming story
    var profile: Option[Array[org.apache.spark.sql.Row]] = None
    val q = mem.toDF().toDF("id", "x").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val s = graft.describe.Describe.numericSummary(batch, Seq("x"))
        val prev = profile.map(rows => spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq), s.schema))
        profile = Some(prev.fold(s)(p =>
          graft.describe.Describe.mergeSummaries(p, s)).collect())
      }
      .outputMode("update").start()
    try {
      val all = (1 to 90).map(i => (i.toLong, i * 1.37))
      all.grouped(30).foreach { g => mem.addData(g); q.processAllAvailable() }
      val got = profile.get.head
      val want = graft.describe.Describe.numericSummary(all.toDF("id", "x"), Seq("x"))
        .head()
      assert(got.getLong(1) === want.getLong(1))
      assert(math.abs(got.getDouble(2) - want.getDouble(2)) < 1e-10, "mean")
      assert(math.abs(got.getDouble(3) - want.getDouble(3)) < 1e-7, "m2")
      assert(got.getDouble(4) === want.getDouble(4) && got.getDouble(5) === want.getDouble(5))
    } finally q.stop()
  }

  test("trendingTerms: windowed word counts agree between stream and batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val streamDf = mem.toDF().toDF("ts", "text")
    val out = graft.streaming.EventStreams.trendingTerms(streamDf, "text", "ts",
      windowLen = "1 hour", watermark = Some("2 hours"))
    val q = out.writeStream.format("memory").queryName("trend_stream_test")
      .outputMode("complete").start()
    try {
      def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
      val rows = Seq(
        (t(10, 5), "spark spark join"), (t(10, 40), "join shuffle"),
        (t(11, 10), "spark"), (t(11, 30), "shuffle shuffle"))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("trend_stream_test").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      val batch = graft.streaming.EventStreams.trendingTerms(
          rows.toDF("ts", "text"), "text", "ts", windowLen = "1 hour")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(streamed.contains(("2026-01-01 10:00:00.0", "spark", 2L)))
      assert(streamed.contains(("2026-01-01 11:00:00.0", "shuffle", 2L)))
    } finally q.stop()
  }

  test("streaming incremental dedup: stream-static anti join against a fingerprint index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val streamDf = mem.toDF().toDF("doc_id", "text")
    // static known-corpus fingerprints (exactAgainst's index contract);
    // streams can't run filterOut's two-branch union, but a stream-static
    // LEFT ANTI join is natively supported and gives the same exact result
    val known = graft.pipeline.Dedup.exactReport(
      Seq((100L, "the quick brown fox"), (101L, "known document two"))
        .toDF("doc_id", "text"), "text", "doc_id")
      .select(col("fp").as("__fp")).cache()
    known.count()
    val deduped = streamDf
      .withColumn("__fp", graft.pipeline.Text.fingerprint(col("text")))
      .join(known, Seq("__fp"), "left_anti")
      .drop("__fp")
    val q = deduped.writeStream.format("memory").queryName("dedup_against_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (0L, "the QUICK  brown fox"),     // normalizes to a known fp -> dropped
        (1L, "a genuinely novel document"),
        (2L, "known document two"))       // known -> dropped
      q.processAllAvailable()
      val kept = spark.table("dedup_against_stream").collect()
        .map(_.getLong(0)).toSet
      assert(kept === Set(1L), s"stream dedup kept $kept")
    } finally q.stop()
  }

  test("streaming fuzzy decontamination: stream-static semi join against eval band buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val longText = (1 to 60).map(i => "tok" + i).mkString(" ")
    // static eval-benchmark side: distinct (band, bucket) set, cached
    val evalBuckets = graft.pipeline.Decontaminate.bandBuckets(
        Seq((100L, longText + " extra")).toDF("doc_id", "text"), "text", "doc_id")
      .select("band", "bucket").distinct().cache()
    evalBuckets.count()
    val mem = MemoryStream[(Long, String)]
    val flagged = graft.pipeline.Decontaminate.bandBuckets(
        mem.toDF().toDF("doc_id", "text"), "text", "doc_id")
      .join(evalBuckets, Seq("band", "bucket"), "left_semi")
      .select("id").dropDuplicates("id")
    val q = flagged.writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (0L, longText),                                        // near-dup of eval
        (1L, "completely unrelated text about catalyst plans"))
      q.processAllAvailable()
      val hit = spark.table("decon_stream").collect().map(_.getString(0)).toSet
      assert(hit === Set("0"), s"stream decon flagged $hit")
    } finally q.stop()
  }

  test("sessionize: gap-based sessions with custom state") {
    import spark.implicits._
    val rows = Seq(
      (1L, ts(0), 1L, "a", 1.0, "{}"),
      (2L, ts(100), 1L, "a", 1.0, "{}"),
      (3L, ts(5000), 1L, "a", 1.0, "{}"), // gap > 1800 -> new session
      (4L, ts(0), 2L, "a", 1.0, "{}"))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val sessions = EventStreams.sessionize(spark, df, gapSeconds = 1800).collect()
    val byUser = sessions.groupBy(_.user_id)
    assert(byUser(1L).length === 2)
    assert(byUser(2L).length === 1)
    val first = byUser(1L).minBy(_.session_start)
    assert(first.n_events === 2 && first.session_start === 0 && first.session_end === 100)
  }

  test("stateful aggregation runs on the RocksDB state store (production backend)") {
    import spark.implicits._
    // same tumbling aggregation as the batch-parity test, but with state
    // held in RocksDB — the backend a 1000-executor cluster runs, where
    // state must spill beyond the JVM heap
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
      val streamDf = mem.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val q = EventStreams.tumblingCountsStream(streamDf, watermark = "10 minutes")
        .writeStream.format("memory").queryName("rocksdb_tumbling")
        .outputMode("complete").start()
      try {
        mem.addData(
          (1L, ts(0), 10L, "click", 1.0, "{}"),
          (2L, ts(600), 10L, "click", 2.0, "{}"),
          (3L, ts(3700), 11L, "view", 3.0, "{}"))
        q.processAllAvailable()
        mem.addData((4L, ts(3800), 10L, "click", 4.0, "{}"))  // state survives batches
        q.processAllAvailable()
        val got = spark.table("rocksdb_tumbling")
          .orderBy("window_start", "event_type").collect()
          .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1),
            r.getLong(2), r.getDouble(3)))
        assert(got.toSeq === Seq((0L, "click", 2L, 3.0),
          (3600L, "click", 1L, 4.0), (3600L, "view", 1L, 3.0)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming sliding-window distinct: approx tracks the batch exact count") {
    import spark.implicits._
    // exact distinct needs full per-window state, so the STREAM variant is
    // approx_count_distinct (sketch state, watermark-bounded); at test
    // cardinalities HLL is exact, so stream == batch here
    val rows = (0 until 200).map { i =>
      (i.toLong, ts(i * 120L), (i % 23).toLong, if (i % 2 == 0) "a" else "b", 1.0, "{}")
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch = df.groupBy(window(col("ts"), "3 hours", "1 hour"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r.getLong(2)).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = streamDf.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "3 hours", "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .writeStream.format("memory").queryName("sliding_distinct")
      .outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("sliding_distinct").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed.keySet === batch.keySet)
      streamed.foreach { case (k, v) =>
        assert(math.abs(v - batch(k)) <= math.max(1L, batch(k) / 10), s"window $k")
      }
    } finally q.stop()
  }

  test("transformWithState: lifetime totals accumulate across micro-batches") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
      val streamDf = mem.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val q = EventStreams.runningTotalsStream(spark, streamDf)
        .writeStream.format("memory").queryName("running_totals")
        .outputMode("update").start()
      try {
        mem.addData((1L, ts(0), 7L, "a", 2.0, "{}"), (2L, ts(1), 7L, "a", 3.0, "{}"))
        q.processAllAvailable()
        mem.addData((3L, ts(2), 7L, "a", 5.0, "{}"), (4L, ts(3), 8L, "a", 1.0, "{}"))
        q.processAllAvailable()
        // update-mode sink: last emission per (user, batch); lifetime
        // totals for user 7 must accumulate across the two batches
        val rows = spark.table("running_totals").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        assert(rows.contains((7L, 2L, 5.0)), s"batch-1 emission: ${rows.toSeq}")
        assert(rows.contains((7L, 3L, 10.0)), s"batch-2 accumulation: ${rows.toSeq}")
        assert(rows.contains((8L, 1L, 1.0)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("scd2History: repeats merge, transitions cut, open state is current") {
    import spark.implicits._
    val rows = Seq(
      (1L, ts(0), 1L, "free", 0.0, "{}"),
      (2L, ts(100), 1L, "free", 0.0, "{}"),     // repeat -> merged
      (3L, ts(200), 1L, "pro", 0.0, "{}"),      // transition
      (4L, ts(300), 1L, "free", 0.0, "{}"),     // back-transition = new row
      (5L, ts(50), 2L, "pro", 0.0, "{}"))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventStreams.scd2History(df).orderBy("user_id", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq === Seq(
      (1L, "free", 0L, 200000000L, false),
      (1L, "pro", 200000000L, 300000000L, false),
      (1L, "free", 300000000L, -1L, true),
      (2L, "pro", 50000000L, -1L, true)))
  }

  test("resampleHourly: gap hours appear with n=0 and forward-filled mean") {
    import spark.implicits._
    // type a: events in hour 0 (mean 3.0) and hour 2 (mean 5.0); hour 1 is a gap
    // type b: single event in hour 1 -> hours 0 and 2 are spine-only for b
    val rows = Seq(
      (1L, ts(60), 1L, "a", 2.0, "{}"),
      (2L, ts(120), 1L, "a", 4.0, "{}"),
      (3L, ts(7300), 1L, "a", 5.0, "{}"),
      (4L, ts(3700), 2L, "b", 7.0, "{}"))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventStreams.resampleHourly(df).orderBy("event_type", "hour")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000, r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(out.toSeq === Seq(
      ("a", 0L, 2L, Some(3.0)), ("a", 3600L, 0L, Some(3.0)), ("a", 7200L, 1L, Some(5.0)),
      ("b", 0L, 0L, None), ("b", 3600L, 1L, Some(7.0)), ("b", 7200L, 0L, Some(7.0))))
  }

  test("activeUsers: hand DAU/WAU/MAU with trailing-window carry and absent-day drop") {
    import spark.implicits._
    val day = 86400L
    // u1 active day 0 only; u2 active days 0 and 8; nothing on days 1-7
    // except u2's day-8 row -> day 8 is the only other emitted day
    val events = Seq(
      (1L, ts(100L), 1L, "a", 1.0, "{}"),
      (2L, ts(200L), 2L, "a", 1.0, "{}"),
      (3L, ts(8 * day + 50L), 2L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventStreams.activeUsers(events)
      .collect().map(r => (r.getDate(0).toString,
        r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    // day 0: both users in all three windows. day 8: only u2 active that
    // day; day 0 is outside its 7-day window (8 - 0 > 6) but inside the
    // 30-day window, so wau = 1 while mau = 2.
    assert(out.toSeq === Seq(
      ("1970-01-01", 2L, 2L, 2L),
      ("1970-01-09", 1L, 1L, 2L)), s"got ${out.toSeq}")
  }

  test("cusumHourly: a sustained level shift alarms at the right hour, stationary stays quiet") {
    import spark.implicits._
    def mk(counts: Seq[Int], tpe: String) = counts.zipWithIndex.flatMap {
      case (c, h) => (0 until c).map(i =>
        (h.toLong * 100 + i, ts(h * 3600L + i), 1L, tpe, 1.0, "{}"))
    }
    // 'shift': 10/hour for 10h, then 20/hour for 10h — mean 15, so the
    // scaled excursion grows by n*(20-15)=100/hour after the shift.
    // With threshold 10 (scaled 20*10=200) the alarm lands in hour 12:
    // S'(h10)=100 <= 200, S'(h11)=200 <= 200 (strict >), S'(h12)=300 > 200.
    // 'flat': constant 10/hour -> S' stays 0, never alarms.
    val events = (mk(Seq.fill(10)(10) ++ Seq.fill(10)(20), "shift") ++
      mk(Seq.fill(20)(10), "flat"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventStreams.cusumHourly(events, slack = 0L, threshold = 10L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          Option(r.getTimestamp(5)).map(_.getTime / 1000))).toMap
    assert(out("flat")._3 === 0.0 && out("flat")._4 === 0L &&
      out("flat")._5.isEmpty, s"stationary series must stay quiet: ${out("flat")}")
    val sh = out("shift")
    assert(sh._1 === 20L && sh._2 === 300L)
    assert(sh._5 === Some(12L * 3600), s"first alarm must be hour 12: $sh")
    // max excursion: hour 19 has S' = 10*(20-15)*... scaled back /n = 50.0
    assert(sh._3 === 50.0, s"max cusum: $sh")
    // partitioning invariance (the exact-int64 claim)
    val re = EventStreams.cusumHourly(events.repartition(13), slack = 0L, threshold = 10L)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(re === out.view.mapValues(_._3).toMap)
  }

  test("hourlyAnomaly: a spike hour is flagged, quiet hours are not") {
    import spark.implicits._
    // 11 hours of 2 events + one hour of 30 events for type a
    val quiet = (0 until 11).flatMap(h => Seq(
      (h * 100L, ts(h * 3600L), 1L, "a", 1.0, "{}"),
      (h * 100L + 1, ts(h * 3600L + 60), 1L, "a", 1.0, "{}")))
    val spike = (0 until 30).map(i => (9000L + i, ts(11 * 3600L + i), 1L, "a", 1.0, "{}"))
    val df = (quiet ++ spike)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val flagged = EventStreams.hourlyAnomaly(df, zThreshold = 2.0).collect()
    assert(flagged.length === 1)
    val r = flagged.head
    assert(r.getTimestamp(1).getTime / 1000 === 11 * 3600L)
    assert(r.getLong(2) === 30L && r.getDouble(3) > 2.0)

    // streaming twin: same events on a MemoryStream, scored against the
    // batch moments; a far-future sentinel (key outside the reference,
    // dropped by the join) closes the spike window past the watermark
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.hourlyAnomalyStream(streamDf,
        EventStreams.hourlyMoments(df), zThreshold = 2.0, watermark = "0 seconds")
      .writeStream.format("memory").queryName("anomaly_stream")
      .outputMode("append").start()
    try {
      val rows = (quiet ++ spike).map(t => (t._1, t._2, t._3, t._4, t._5, t._6))
      mem.addData(rows: _*)
      mem.addData((99999L, ts(20 * 3600L), 9L, "zz", 0.0, "{}"))
      q.processAllAvailable()
      val streamed = spark.table("anomaly_stream").collect()
      assert(streamed.length === 1)
      assert(streamed.head.getTimestamp(1).getTime / 1000 === 11 * 3600L)
      assert(streamed.head.getLong(2) === 30L)
      assert(math.abs(streamed.head.getDouble(3) - r.getDouble(3)) < 1e-12)
    } finally q.stop()
  }

  test("phraseMatches runs stateless on a stream and equals the batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the phrase blocklist plan is stateless (narrow explode + broadcast
    // join + filter) so it applies verbatim to a streaming frame — the
    // live ingest-gate deployment shape
    val rows = Seq(
      (0L, "clean text here"), (1L, "a bad actor appears"),
      (2L, "bad  ACTOR with spacing"), (3L, "badactor fused"),
      (4L, "actor bad reversed"))
    val phrases = Seq("bad actor").toDF("phrase")
    val mem = MemoryStream[(Long, String)]
    val out = graft.pipeline.Blocklist.phraseMatches(
      mem.toDF().toDF("id", "text"), phrases, "text", "id")
    val q = out.writeStream.format("memory").queryName("phrase_stream_test")
      .outputMode("append").start()
    try {
      rows.grouped(2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("phrase_stream_test").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val batch = graft.pipeline.Blocklist.phraseMatches(
          rows.toDF("id", "text"), phrases, "text", "id")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(got === batch, s"stream $got != batch $batch")
      assert(got === Seq((1L, "bad actor"), (2L, "bad actor")))
    } finally q.stop()
  }
}
