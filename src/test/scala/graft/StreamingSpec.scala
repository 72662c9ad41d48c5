package graft

import java.sql.Timestamp

import graft.operators.Sessionization
import graft.streaming.{StatefulSessionizer, StreamingSessions}
import graft.streaming.StatefulSessionizer.Event
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** §2.8 streaming semantics: stream ≡ batch parity, watermark late-data
  * handling, streaming dedup, stream-static and stream-stream joins —
  * all through `MemoryStream` controlled micro-batches (the
  * TopologyTestDriver analog).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val T0 = 1704067200000L // 2024-01-01 00:00:00 UTC, ms

  private def ev(id: Long, user: Long, offMin: Long, value: Double = 1.0): Event =
    Event(id, user, new Timestamp(T0 + offMin * 60000), value)

  private def ts(offMin: Long): Timestamp = new Timestamp(T0 + offMin * 60000)

  /** Run a streaming query over a memory sink in `mode`, adding each wave
    * to `ms` and draining it; returns the sink table. An empty wave adds
    * nothing but still runs a round, so event-time timeouts fire after
    * the final watermark update (classic off-by-one-batch semantics). */
  private def runToMemory[T](df: DataFrame, name: String, ms: MemoryStream[T],
      waves: Seq[Seq[T]], mode: String = "append"): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.ProcessingTime(0)).start()
    try {
      waves.foreach { w =>
        if (w.nonEmpty) ms.addData(w)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(name)
  }

  test("streaming session_window ≡ batch sessionization (append after watermark)") {
    val data = Seq(
      ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 20),   // session A: 3 events
      ev(4, 1, 60), ev(5, 1, 75),                 // session B: 2 events
      ev(6, 2, 5), ev(7, 2, 50))                  // user 2: two singletons
    val flush = Seq(ev(99, 9, 10000), ev(100, 9, 20000)) // advance watermark far
    val ms = MemoryStream[Event]
    val out = runToMemory(
      StreamingSessions.sessionize(ms.toDF(), "30 minutes", "10 minutes"),
      "stream_sessions", ms, Seq(data, flush, Seq.empty))
      .filter(col("user_id") < 9)

    val batch = Sessionization.nativeSessions(data.toDF())
    val canon = (df: DataFrame) => df
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(_.toSeq).toSet
    assert(canon(out) == canon(batch))
    assert(out.count() == 4)
  }

  test("streaming dynamic-gap session_window ≡ batch sessionize_dynamic_gap") {
    import StreamingSpec.TEv
    def tev(id: Long, user: Long, offMin: Long, typ: String): TEv =
      TEv(id, user, ts(offMin), 1.0, typ)
    // purchases hold a 60-min gap: user 1's purchase@0 → click@45 MERGE
    // (45 < 60; a static 30-min gap would split), click@45 → view@90
    // SPLIT (30-min gap from a click). user 2: two 30-min-gap singletons.
    val data = Seq(
      tev(1, 1, 0, "purchase"), tev(2, 1, 45, "click"), tev(3, 1, 90, "view"),
      tev(4, 2, 0, "view"), tev(5, 2, 45, "view"))
    val flush = Seq(tev(98, 9, 10000, "view"), tev(99, 9, 20000, "view"))
    val ms = MemoryStream[TEv]
    val out = runToMemory(
      StreamingSessions.sessionizeDynamicGap(ms.toDF(), "10 minutes"),
      "stream_dyn_sessions", ms, Seq(data, flush, Seq.empty))
      .filter(col("user_id") < 9)
    val batch = Sessionization.dynamicSessions(data.toDF())
    // sum_value is IN the canon: both modes accumulate it on the dsum6
    // decimal lattice, so the float column is part of the parity contract
    val canon = (df: DataFrame) => df
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    assert(canon(out) == canon(batch))
    // the dynamic rule actually fired: purchase@0 + click@45 are ONE
    // session (2 events) — a static 30-min gap would have made 2+0
    assert(out.filter(col("user_id") === 1 && col("n_events") === 2).count() == 1)
    assert(out.count() == 4)
  }

  test("late event beyond watermark is dropped; in-grace event merges") {
    val ms = MemoryStream[Event]
    val df = StreamingSessions.sessionize(ms.toDF(), "30 minutes", "10 minutes")
    val out = runToMemory(df, "late_sessions", ms, Seq(
      Seq(ev(1, 1, 0), ev(2, 1, 600)),  // watermark → 590min
      // 300min is way before the 590min watermark → dropped entirely;
      // 595min is within grace → merges into the open 600min session.
      Seq(ev(3, 1, 300), ev(4, 1, 595)),
      Seq(ev(9, 9, 10000)),             // flush
      Seq(ev(10, 9, 20000))))
    val rows = out.filter(col("user_id") === 1)
      .select(col("n_events")).collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 2L)) // session{t0}=1 event; session{595,600}=2; late 300 dropped
  }

  /** Run `body` with the RocksDB state-store provider (required by
    * transformWithState), restoring prior conf afterwards. */
  private def withRocksDb[A](body: => A): A = {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("transformWithState sessionizer ≡ session_window (3-way parity closes)") {
    withRocksDb {
      val data = Seq(
        ev(1, 1, 0, 2.0), ev(2, 1, 10, 3.0), ev(3, 1, 90, 1.0),
        ev(4, 2, 0, 5.0), ev(5, 2, 29, 1.0), ev(6, 2, 59, 1.0), // chained session
        ev(7, 3, 0, 1.0))
      val flush = Seq(ev(99, 9, 10000), ev(100, 9, 20000))
      val ms = MemoryStream[Event]
      val out = runToMemory(
        StatefulSessionizer.sessionize(ms.toDS()).toDF(),
        "tws_sessions", ms, Seq(data, flush, Seq.empty))
        .filter(col("user_id") < 9)
      val batch = Sessionization.nativeSessions(data.toDF())
      val canon = (df: DataFrame) => df
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("sum_value"), 6))
        .collect().map(_.toSeq).toSet
      assert(canon(out) == canon(batch))
    }
  }

  test("transformWithState timers re-arm as cross-batch events extend a session") {
    withRocksDb {
      // Each batch extends user 1's open session by 10 min (< 30-min gap),
      // so the event-time timer must be deleted and re-registered per
      // batch; a stale timer firing early would split the session. The
      // final watermark flush emits exactly ONE 3-event session.
      val ms = MemoryStream[Event]
      val out = runToMemory(
        StatefulSessionizer.sessionize(ms.toDS()).toDF(),
        "tws_rearm", ms,
        Seq(Seq(ev(1, 1, 0, 1.0)), Seq(ev(2, 1, 10, 2.0)),
          Seq(ev(3, 1, 20, 3.0)),
          Seq(ev(99, 9, 10000), ev(100, 9, 20000)), Seq.empty))
        .filter(col("user_id") < 9)
      val rows = out.select("user_id", "n_events", "sum_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(rows == Seq((1L, 3L, 6.0)), rows.toString)
    }
  }

  test("checkpoint restart recovers transformWithState timers and value state") {
    withRocksDb {
      val base = java.nio.file.Files.createTempDirectory("graft_ckpt_tws").toString
      val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
      val batch1 = Seq(ev(1, 1, 0, 2.0), ev(2, 1, 10, 3.0), ev(3, 2, 5, 5.0))
      val batch2 = Seq(ev(4, 1, 60, 1.0), ev(99, 9, 10000), ev(100, 9, 20000))
      val schema = batch1.toDF().schema
      def write(events: Seq[Event]): Unit =
        events.toDF().coalesce(1).write.mode("append").parquet(src)
      def runOnce(): Unit = {
        val stream = spark.readStream.schema(schema).parquet(src).as[Event]
        val q = StatefulSessionizer.sessionize(stream).toDF()
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      write(batch1); runOnce() // sessions live only in ValueState + timers now
      write(batch2); runOnce() // restart must restore both and then flush
      val canon = (df: DataFrame) => df
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("sum_value"), 6))
        .collect().map(_.toSeq).toSet
      val got = spark.read.parquet(out).filter(col("user_id") < 9)
      val batch = Sessionization.nativeSessions((batch1 ++ batch2).toDF())
        .filter(col("user_id") < 9)
      assert(canon(got) == canon(batch))
      assert(got.count() == 3)
    }
  }

  /** Stream ≡ batch on every micro-batch (InkStream's consistency
    * tracking, which catches state bugs that cancel out by end of
    * stream): after each wave, read the watermark the last batch ran
    * with from `lastProgress`; the sink must hold exactly the batch
    * sessions over every row added so far that Spark's eviction rule
    * has closed by then, `session_end <= watermark`. Returns each wave's
    * (watermark, sessions it emitted). The feed must hold no late rows:
    * the batch side keeps every row. For `StatefulSessionizer` the rule
    * holds only while each key's rows arrive in event-time order and no
    * row closes a session by the gap before the watermark passes its
    * end: that sessionizer emits a gap-closed session at once, and folds
    * an out-of-order row into the open session without moving its
    * start. */
  private def checkEveryBatch(df: DataFrame, name: String,
      ms: MemoryStream[Event], waves: Seq[Seq[Event]]): Seq[(Timestamp, Long)] = {
    val canon = (d: DataFrame) => d
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("sum_value"), 6))
      .collect().map(_.toSeq).toSet
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      var seen = Seq.empty[Event]
      var emitted = 0L
      waves.map { w =>
        if (w.nonEmpty) ms.addData(w)
        q.processAllAvailable()
        seen ++= w
        val wm = Timestamp.from(java.time.Instant.parse(
          q.lastProgress.eventTime.get("watermark")))
        val sink = spark.table(name)
        val closed = Sessionization.nativeSessions(seen.toDF())
          .filter(col("session_end") <= lit(wm))
        assert(canon(sink) == canon(closed), s"after ${seen.size} rows, watermark $wm")
        val before = emitted
        emitted = sink.count()
        (wm, emitted - before)
      }
    } finally q.stop()
  }

  /** Four waves for [[checkEveryBatch]] (10-min watermark delay, 30-min
    * gap): the first emits nothing; the second moves the watermark to
    * t+40, exactly user 1's session end, and emits it with user 2's,
    * but not user 6's, which ends 0.5 ms later; the third merges an
    * in-grace row into user 3's open session and emits it with user 4's
    * and 6's; the empty fourth emits nothing. */
  private val everyBatchWaves = {
    val halfMsAfter10 = ts(10)
    halfMsAfter10.setNanos(500000)
    Seq(
      Seq(ev(1, 1, 0, 2.0), ev(2, 1, 10, 3.0), ev(3, 2, 5, 5.0), ev(4, 3, 20, 1.0),
        Event(8, 6, halfMsAfter10, 1.0)),
      Seq(ev(5, 4, 50, 4.0)),
      Seq(ev(6, 3, 45, 2.0), ev(7, 5, 100, 1.0)),
      Seq.empty)
  }

  private val everyBatchEmits = Seq((ts(10), 0L), (ts(40), 2L), (ts(90), 3L), (ts(90), 0L))

  test("session_window ≡ batch on every micro-batch") {
    val ms = MemoryStream[Event]
    val perWave = checkEveryBatch(
      StreamingSessions.sessionize(ms.toDF(), "30 minutes", "10 minutes"),
      "every_batch_window", ms, everyBatchWaves)
    assert(perWave == everyBatchEmits, perWave.toString)
  }

  test("transformWithState sessionizer ≡ batch on every micro-batch") {
    withRocksDb {
      val ms = MemoryStream[Event]
      val perWave = checkEveryBatch(
        StatefulSessionizer.sessionize(ms.toDS()).toDF(),
        "every_batch_tws", ms, everyBatchWaves)
      assert(perWave == everyBatchEmits, perWave.toString)
    }
  }

  test("bootstrap state: streaming continues sessions opened by a batch backfill") {
    withRocksDb {
      import StatefulSessionizer.OpenSession
      // history ended with user 1's session open: 2 events, last at t-10min
      val t0us = T0 * 1000L
      val initial = Seq((1L, OpenSession(t0us - 20L * 60 * 1000000,
        t0us - 10L * 60 * 1000000, 2, 7.5))).toDS()
      val ms = MemoryStream[Event]
      val out = runToMemory(
        StatefulSessionizer.sessionizeFromState(ms.toDS(), initial).toDF(),
        "bootstrap_sessions", ms,
        Seq(Seq(ev(1, 1, 5, 1.0), ev(2, 2, 0, 2.0)),          // in-gap: merges
          Seq(ev(99, 9, 10000), ev(100, 9, 20000)), Seq.empty))
        .filter(col("user_id") < 9)
      val rows = out.select("user_id", "n_events", "sum_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
      // user 1: bootstrap(2 events, 7.5) + event at t+5min = one 3-event session
      // spanning the cutover; user 2: fresh 1-event session
      assert(rows == Seq((1L, 3L, 8.5), (2L, 1L, 2.0)), rows.toString)
    }
  }

  test("streaming dedup drops duplicate event_ids within watermark") {
    val ms = MemoryStream[Event]
    val out = runToMemory(
      StreamingSessions.dedup(ms.toDF(), "1 hour"),
      "stream_dedup", ms,
      Seq(Seq(ev(1, 1, 0), ev(1, 1, 0), ev(2, 1, 5), ev(1, 1, 3)),
        Seq(ev(3, 1, 10), ev(2, 1, 6)), Seq.empty))
    assert(out.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L))
  }

  test("stream-static join enriches events with the customer dimension") {
    val customers = Seq((1L, "Customer#1"), (2L, "Customer#2"))
      .toDF("c_custkey", "c_name")
    val ms = MemoryStream[Event]
    val out = runToMemory(
      StreamingSessions.enrichWithCustomer(ms.toDF(), customers),
      "stream_static", ms,
      Seq(Seq(ev(1, 1, 0), ev(2, 2, 1), ev(3, 7, 2)), Seq.empty))
    val got = out.select("event_id", "c_name").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == Seq((1L, "Customer#1"), (2L, "Customer#2"))) // user 7 unmatched
  }

  test("windowed stream-stream self-join: clicks before purchase within 1h") {
    val events = Seq(
      ev(1, 1, 0).copy(value = 0), // click at t0
      ev(2, 1, 30),                // click at t30
      ev(3, 1, 45),                // purchase at t45 → joins clicks t0,t30
      ev(4, 1, 200))               // purchase at t200 → no clicks in window
    val typed = events.map(e => (e.event_id, e.user_id, e.ts,
      if (e.event_id <= 2) "click" else "purchase"))
    val ms = MemoryStream[(Long, Long, Timestamp, String)]
    val df = ms.toDF().toDF("event_id", "user_id", "ts", "event_type")
    val got = runToMemory(StreamingSessions.purchaseClickJoin(df),
      "stream_stream", ms, Seq(typed))
      .select("p_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((3L, 1L), (3L, 2L)))
  }

  test("streaming tumbling window ≡ batch windowed aggregation") {
    val data = Seq(ev(1, 1, 0), ev(2, 1, 30), ev(3, 1, 70),
      ev(4, 2, 10), ev(5, 2, 130))
    val flush = Seq(ev(99, 9, 10000), ev(100, 9, 20000))
    val ms = MemoryStream[Event]
    val out = runToMemory(
      StreamingSessions.tumbling(ms.toDF(), "1 hour", "10 minutes"),
      "stream_tumbling", ms, Seq(data, flush, Seq.empty))
      .filter(col("user_id") < 9)
    val batch = data.toDF()
      .groupBy(col("user_id"), window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"), graft.Tables.dsum6(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("w_start"),
        col("n_events"), col("sum_value"))
    val canon = (df: DataFrame) => df.collect().map(_.toSeq).toSet
    assert(canon(out) == canon(batch))
    assert(out.count() == 4) // user1: 2 windows; user2: 2 windows
  }

  test("streaming OHLC ≡ batch window_ohlc (min_by/max_by state finalizes)") {
    // distinct values per event so open/high/low/close are all distinct
    // picks; two windows for user 1, one for user 2
    val data = Seq(ev(1, 1, 0, 5.0), ev(2, 1, 20, 9.0), ev(3, 1, 40, 2.0),
      ev(4, 1, 70, 7.0), ev(5, 2, 10, 4.0), ev(6, 2, 30, 1.0))
    val flush = Seq(ev(99, 9, 10000), ev(100, 9, 20000))
    val ms = MemoryStream[Event]
    val out = runToMemory(
      StreamingSessions.ohlc(ms.toDF(), "1 hour", "10 minutes"),
      "stream_ohlc", ms, Seq(data, flush, Seq.empty))
      .filter(col("user_id") < 9)
    val batch = data.toDF()
      .groupBy(col("user_id"), window(col("ts"), "1 hour").as("w"))
      .agg(min_by(col("value"), col("ts")).as("open_value"),
        max(col("value")).as("high_value"),
        min(col("value")).as("low_value"),
        max_by(col("value"), col("ts")).as("close_value"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("w_start"),
        col("open_value"), col("high_value"), col("low_value"),
        col("close_value"), col("n_events"))
    val canon = (df: DataFrame) => df.collect().map(_.toSeq).toSet
    assert(canon(out) == canon(batch))
    // user 1 window 0: open=5 (t+0), high=9, low=2, close=2 (t+40)
    val r = out.filter(col("user_id") === 1 && col("n_events") === 3)
      .select("open_value", "high_value", "low_value", "close_value")
      .collect()(0).toSeq
    assert(r == Seq(5.0, 9.0, 2.0, 2.0))
  }

  test("streaming sliding window ≡ batch; each event in width/slide windows") {
    val data = Seq(ev(1, 1, 0), ev(2, 1, 20), ev(3, 2, 45))
    val flush = Seq(ev(99, 9, 10000), ev(100, 9, 20000))
    val ms = MemoryStream[Event]
    val out = runToMemory(
      StreamingSessions.sliding(ms.toDF(), "1 hour", "15 minutes", "10 minutes"),
      "stream_sliding", ms, Seq(data, flush, Seq.empty))
      .filter(col("user_id") < 9)
    val batch = data.toDF()
      .groupBy(col("user_id"), window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), graft.Tables.dsum6(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("w_start"),
        col("n_events"), col("sum_value"))
    val canon = (df: DataFrame) => df.collect().map(_.toSeq).toSet
    assert(canon(out) == canon(batch))
    // every event appears in 60/15 = 4 overlapping windows
    val perEvent = out.agg(sum("n_events")).collect()(0).getLong(0)
    assert(perEvent == data.length * 4)
  }

  test("update mode re-emits a growing window (KS continuous-update analog)") {
    // Session windows are Append-only in Spark (merging sessions make
    // update emission ill-defined) — pin that restriction...
    val ms0 = MemoryStream[Event]
    val sessionUpdate = intercept[org.apache.spark.sql.AnalysisException] {
      StreamingSessions.sessionize(ms0.toDF(), "30 minutes", "10 minutes")
        .writeStream.format("memory").queryName("upd_fail")
        .outputMode("update").start()
    }
    assert(sessionUpdate.getMessage.contains("STREAMING_OUTPUT_MODE"))
    // ...the supported continuous-update analog is Update mode on a
    // tumbling-window aggregation: the same window re-emits as it grows,
    // where Append would emit nothing until the watermark passes.
    val ms = MemoryStream[Event]
    val emitted = runToMemory(
      StreamingSessions.tumbling(ms.toDF(), "1 hour", "10 minutes"),
      "upd_windows", ms, Seq(Seq(ev(1, 1, 0)), Seq(ev(2, 1, 10))), "update")
      .select("n_events").collect().map(_.getLong(0)).sorted.toSeq
    assert(emitted == Seq(1L, 2L), s"got $emitted")
  }

  /** Checkpoint/restart recovery: run the sessionizer against a file
    * source with a checkpoint, stop while sessions are still open (held
    * only in the state store), append more data, restart from the same
    * checkpoint — the final output must equal the batch result over ALL
    * events, which is only possible if the open-session state was
    * restored (the RocksDB+changelog durability analog, SURVEY §1.1). */
  private def restartRecoveryRun(tag: String, provider: Option[String]): Unit = {
    val base = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val batch1 = Seq(ev(1, 1, 0), ev(2, 1, 10), ev(3, 2, 5))
    val batch2 = Seq(ev(4, 1, 60), ev(99, 9, 10000), ev(100, 9, 20000))
    val schema = batch1.toDF().schema
    def write(events: Seq[Event]): Unit =
      events.toDF().coalesce(1).write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val q = StreamingSessions.sessionize(
          spark.readStream.schema(schema).parquet(src), "30 minutes", "10 minutes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    // RocksDB runs with changelog checkpointing — the exact analog of the
    // Kafka-Streams RocksDB+changelog-topic durability model (SURVEY §1.1)
    val confs = provider.map(p => Map(
      "spark.sql.streaming.stateStore.providerClass" -> p,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    )).getOrElse(Map.empty)
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      write(batch1)
      runOnce() // watermark is behind every session end: output empty, state open
      write(batch2)
      runOnce() // restart: must resume from restored state, then flush
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val canon = (df: DataFrame) => df
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(_.toSeq).toSet
    val got = spark.read.parquet(out).filter(col("user_id") < 9)
    val batch = Sessionization.nativeSessions((batch1 ++ batch2).toDF())
      .filter(col("user_id") < 9)
    assert(canon(got) == canon(batch))
    assert(got.count() == 3) // user1: sessions {0,10} and {60}; user2: {5}
  }

  test("checkpoint restart recovers the throttle's admitted counter") {
    import graft.streaming.StreamingThrottle
    import graft.streaming.StreamingThrottle.EventIn
    withRocksDb {
      val base = java.nio.file.Files.createTempDirectory("graft_ckpt_thr").toString
      val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
      // run 1 admits 2 of the 3-per-window budget; run 2 (same window)
      // must resume the counter from the checkpoint and admit exactly
      // ONE more — a lost counter would re-admit all three.
      val batch1 = Seq(EventIn(1L, 0L, 1000000L, 1L), EventIn(1L, 0L, 2000000L, 2L))
      val batch2 = Seq(EventIn(1L, 0L, 3000000L, 3L), EventIn(1L, 0L, 4000000L, 4L),
        EventIn(1L, 0L, 5000000L, 5L), EventIn(2L, 0L, 1000000L, 6L))
      val schema = batch1.toDF().schema
      def write(events: Seq[EventIn]): Unit =
        events.toDF().coalesce(1).write.mode("append").parquet(src)
      def runOnce(): Unit = {
        val q = StreamingThrottle.throttle(
            spark.readStream.schema(schema).parquet(src).as[EventIn])
          .toDF().writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      val k = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      val prevChangelog = spark.conf.getOption(k)
      spark.conf.set(k, "true")
      try {
        write(batch1); runOnce()
        write(batch2); runOnce()
      } finally prevChangelog match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
      val got = spark.read.parquet(out)
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(got == Set((1L, 1L), (2L, 2L), (3L, 3L), (6L, 1L)))
      // the counter lives under the state name "admitted": a rename would
      // leave existing checkpoints unrestorable
      val admitted = spark.read.format("statestore")
        .option("stateVarName", "admitted").load(ckpt)
        .select("key.*", "value.*").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(admitted == Set((1L, 0L, 3L), (2L, 0L, 1L)), admitted.toString)
    }
  }

  test("checkpoint restart recovers the lateness monitor's HWM") {
    import graft.streaming.StreamingLateness
    import graft.streaming.StreamingLateness.EventIn
    withRocksDb {
      val base = java.nio.file.Files.createTempDirectory("graft_ckpt_lat").toString
      val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
      // run 1 raises user 1's HWM to t=7200s; run 2's event at t=3600s
      // must classify against the RESTORED HWM (d bucket: exactly 1 h
      // behind) — a lost HWM would read it as on-time.
      val batch1 = Seq(EventIn(1L, 1L, 7200L * 1000000))
      val batch2 = Seq(EventIn(1L, 2L, 3600L * 1000000))
      val schema = batch1.toDF().schema
      def write(events: Seq[EventIn]): Unit =
        events.toDF().coalesce(1).write.mode("append").parquet(src)
      def runOnce(): Unit = {
        val q = StreamingLateness.lateness(
            spark.readStream.schema(schema).parquet(src).as[EventIn])
          .toDF().writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      val k = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      val prevChangelog = spark.conf.getOption(k)
      spark.conf.set(k, "true")
      try {
        write(batch1); runOnce()
        write(batch2); runOnce()
      } finally prevChangelog match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
      val got = spark.read.parquet(out)
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet
      assert(got == Set((1L, "a_on_time"), (2L, "d_within_1h")))
      // the HWM lives under the state name "hwm"
      val hwm = spark.read.format("statestore")
        .option("stateVarName", "hwm").load(ckpt)
        .select("key.*", "value.*").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hwm == Set((1L, 7200L * 1000000)), hwm.toString)
    }
  }

  test("checkpoint restart recovers sessionizer state (default state store)") {
    restartRecoveryRun("ckpt_hdfs", None)
  }

  test("checkpoint restart recovers sessionizer state (RocksDB state store)") {
    restartRecoveryRun("ckpt_rocks", Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
  }

  test("processing-time timeout emits open sessions on idle (wall-clock punctuate)") {
    withRocksDb {
      val data = Seq(ev(1, 1, 0, 2.0), ev(2, 1, 10, 3.0), ev(3, 1, 90, 1.0),
        ev(4, 2, 0, 5.0))
      val ms = MemoryStream[Event]
      val q = StatefulSessionizer.sessionizeProcTime(ms.toDS(), idleMs = 500).toDF()
        .writeStream.format("memory").queryName("proctime_sessions")
        .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
      try {
        ms.addData(data)
        // The gap-closed session (user1 {0,10}) emits with the batch; the
        // still-open ones (user1 {90}, user2 {0}) must emit via the idle
        // timer with NO further data and NO watermark movement — the
        // guarantee an event-time timer cannot give on a stalled source.
        // Poll the sink only: with processing-time timers the trigger keeps
        // scheduling timer micro-batches itself, and processAllAvailable
        // never sees a quiescent stream (it blocks indefinitely here).
        val deadline = System.currentTimeMillis() + 30000
        while (spark.table("proctime_sessions").count() < 3
            && System.currentTimeMillis() < deadline) {
          Thread.sleep(100)
        }
      } finally q.stop()
      val canon = (df: DataFrame) => df
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("sum_value"), 6))
        .collect().map(_.toSeq).toSet
      // Session boundaries match the batch/event-time semantics exactly —
      // the wall clock decides only WHEN the open tail emits, never its shape.
      assert(canon(spark.table("proctime_sessions"))
        == canon(Sessionization.nativeSessions(data.toDF())))
    }
  }

  test("branch fan-out: each event lands in exactly one sink (KStream split)") {
    val base = java.nio.file.Files.createTempDirectory("graft_branch").toString
    val ms = MemoryStream[Event]
    val branches = Seq(
      "big" -> (col("value") >= 100.0),
      "user1" -> (col("user_id") === 1L)) // overlaps with big: first match wins
    val q = StreamingSessions.branchFanOut(ms.toDF(), branches, Some("rest"),
      s"$base/sinks", s"$base/ckpt")
    try {
      ms.addData(Seq(ev(1, 1, 0, 150.0), ev(2, 1, 1, 10.0), ev(3, 2, 2, 10.0)))
      q.processAllAvailable()
      ms.addData(Seq(ev(4, 2, 3, 200.0)))
      q.processAllAvailable()
    } finally q.stop()
    def ids(name: String) = spark.read.parquet(s"$base/sinks/$name")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids("big") == Set(1L, 4L))   // ev1 matches both → big only
    assert(ids("user1") == Set(2L))
    assert(ids("rest") == Set(3L))
  }

  test("branch fan-out batch replay is idempotent (retry = same batch_id overwrite)") {
    val base = java.nio.file.Files.createTempDirectory("graft_branch_retry").toString
    val branches = Seq("big" -> (col("value") >= 100.0))
    val write = StreamingSessions.branchWriteBatch(branches, Some("rest"), base)
    val batch = Seq(ev(1, 1, 0, 150.0), ev(2, 1, 1, 10.0)).toDF()
    write(batch, 0L)
    write(batch, 0L) // simulated micro-batch retry after a sink failure
    assert(spark.read.parquet(s"$base/big").count() == 1)
    assert(spark.read.parquet(s"$base/rest").count() == 1)
  }

  test("KTable analog: latest-by-key updates as newer events arrive") {
    def tev(id: Long, user: Long, offMin: Long, value: Double) =
      (id, user, new Timestamp(T0 + offMin * 60000), "click", value)
    val ms = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val df = ms.toDF().toDF("event_id", "user_id", "ts", "event_type", "value")
    val sink = runToMemory(StreamingSessions.latestByKey(df), "ktable_latest",
      ms, Seq(Seq(tev(1, 1, 0, 10.0), tev(2, 2, 5, 20.0)),
        Seq(tev(3, 1, 50, 30.0), tev(4, 3, 1, 40.0))), // user1 updated
      "update")
    // memory sink in update mode appends each re-emission: the LAST row
    // per user is the compacted KTable value — same as the batch max_by.
    val table = sink.collect()
      .map(r => (r.getLong(0), r.getLong(2))) // (user_id, event_id)
    val compacted = table.zipWithIndex.groupBy(_._1._1)
      .map { case (u, rows) => u -> rows.maxBy(_._2)._1._2 }
    assert(compacted == Map(1L -> 3L, 2L -> 2L, 3L -> 4L))
    // user1 was re-emitted (update semantics): appears twice in the log
    assert(table.count(_._1 == 1L) == 2)
  }

  test("stream-stream LEFT OUTER join emits null-click purchases after watermark") {
    val events = Seq(
      ev(1, 1, 0),   // click t0
      ev(2, 1, 30),  // purchase t30 → joins click t0
      ev(3, 2, 40),  // purchase t40, no clicks for user 2 → null side
      ev(9, 9, 10000), ev(10, 9, 20000)) // CLICK flushes: both sides' event-
    // time stats must advance — the join watermark is the min over the two
    // withWatermark branches, and each branch only sees its own filter's rows
    val typed = events.map(e => (e.event_id, e.user_id, e.ts,
      if (e.event_id == 1 || e.event_id >= 9) "click" else "purchase"))
    val ms = MemoryStream[(Long, Long, Timestamp, String)]
    val df = ms.toDF().toDF("event_id", "user_id", "ts", "event_type")
    val sink = runToMemory(StreamingSessions.purchaseClickLeftJoin(df),
      "stream_left", ms, Seq(typed.take(3),
        typed.drop(3), // watermark jump lets the outer row emit
        Seq((11L, 9L, new Timestamp(T0 + 30000 * 60000), "purchase"))))
    val got = sink.filter(col("p_user") < 9)
      .select("p_id", "c_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
    assert(got == Seq((2L, 1L), (3L, -1L))) // purchase 3 survives with null click
  }

  test("stream-stream FULL OUTER join emits BOTH null sides after watermark") {
    // KStream.outerJoin analog: an unmatched purchase AND an unmatched
    // click must each surface null-padded once the watermark passes
    // their join window.
    val events = Seq(
      (1L, 1L, ts(0), "click"),      // joins purchase 2
      (2L, 1L, ts(30), "purchase"),  // matched pair (2, 1)
      (3L, 2L, ts(40), "purchase"),  // user 2 never clicked → null click side
      (4L, 3L, ts(5), "click"),      // user 3 never purchased → null purchase side
      // flush rows: BOTH branches' event-time stats must advance (the join
      // watermark is the min over the two withWatermark branches)
      (9L, 9L, ts(10000), "click"), (10L, 9L, ts(20000), "click"))
    val ms = MemoryStream[(Long, Long, Timestamp, String)]
    val df = ms.toDF().toDF("event_id", "user_id", "ts", "event_type")
    val got = runToMemory(StreamingSessions.purchaseClickOuterJoin(df),
      "stream_full", ms, Seq(events.take(4),
        events.drop(4), // click-side watermark jump
        Seq((11L, 9L, ts(30000), "purchase")))) // purchase-side jump
      .filter(coalesce(col("p_user"), col("c_user")) < 9)
      .select("p_id", "c_id").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
    assert(got == Seq((-1L, 4L), (2L, 1L), (3L, -1L)), s"got $got")
  }

  test("state store is queryable offline via the state data source (KS interactive queries)") {
    val base = java.nio.file.Files.createTempDirectory("graft_statesrc").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val batch1 = Seq(ev(1, 1, 0), ev(2, 1, 10), ev(3, 2, 5))
    batch1.toDF().coalesce(1).write.mode("append").parquet(src)
    val q = StreamingSessions.sessionize(
        spark.readStream.schema(batch1.toDF().schema).parquet(src),
        "30 minutes", "10 minutes")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // nothing emitted yet (watermark behind session ends) — but the OPEN
    // sessions are visible by reading the checkpointed state directly:
    // the Kafka-Streams interactive-query / state-store-read analog.
    val state = spark.read.format("statestore").load(ckpt)
    val users = state.select(col("key.user_id")).collect()
      .map(_.getLong(0)).toSet
    assert(users == Set(1L, 2L), s"state keys: $users")
    assert(state.count() == 2) // one open session per user
  }

  test("rate-limited replay: maxFilesPerTrigger bounds each micro-batch") {
    val base = java.nio.file.Files.createTempDirectory("graft_rate").toString
    val all = (1L to 30L).map(i => ev(i, i % 3, i))
    all.grouped(10).foreach(_.toDF().coalesce(1).write.mode("append").parquet(base))
    val schema = all.toDF().schema
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(base)
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        batchSizes += b.count(); ()
      }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // 3 files × 1 per trigger = 3 micro-batches of 10 — backfill proceeds
    // at a bounded rate instead of one giant batch
    assert(batchSizes.sorted.toSeq == Seq(10L, 10L, 10L), batchSizes)
  }

  test("parquet replay source streams the events table (AvailableNow)") {
    val df = StreamingSessions.eventsStream(spark, sfDir)
      .groupBy("event_type").count()
    val q = df.writeStream.format("memory").queryName("replay_counts")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val total = spark.table("replay_counts").agg(sum("count")).head.getLong(0)
    assert(total == 1000L)
  }

  test("streaming anomaly ≡ batch ts_anomaly_sigma (exact, ordered feed)") {
    import graft.streaming.StreamingAnomaly
    import graft.streaming.StreamingAnomaly.EventIn
    withRocksDb {
      val keyed = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_micros"), col("event_id"), col("value"),
          (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vi"))
        .as[EventIn].collect().toSeq.sortBy(e => (e.ts_micros, e.event_id))
      val waves = keyed.grouped((keyed.size / 3).max(1)).toSeq
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingAnomaly.detect(ms.toDS()).toDF(),
        "stream_anomaly", ms, waves)
      val streamed = sink.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .toSet
      val batch = SparkEntry.queries("ts_anomaly_sigma")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch)
      assert(batch.nonEmpty, "parity is vacuous on an empty flag set")
    }
  }

  test("streaming seq-monitor ≡ batch agg_group_sequential_obf (order-free)") {
    import graft.streaming.StreamingSeqMonitor
    import graft.streaming.StreamingSeqMonitor.EventIn
    withRocksDb {
      // the same (variant, look, v6, vv6) lattice rows the batch key
      // aggregates, computed by the SAME upstream expressions; the fold
      // is pure integer addition, so parity needs NO ordering contract —
      // feed in reverse event order across three waves to prove it
      val keyed = Tables.events(spark, sfDir)
        .withColumn("variant",
          when(substring(md5(concat(lit("srm42:"), col("user_id"))), 1, 1)
            < "8", "A").otherwise("B"))
        .withColumn("look",
          (expr("datediff(to_date(ts), date'2024-01-01') div 7") + 1)
            .cast("int"))
        .filter(col("look") <= 4)
        .select(col("variant"), col("look"),
          (col("value").cast("decimal(18,6)") * 1000000).cast("long")
            .as("v6"),
          ((col("value") * col("value")).cast("decimal(18,6)") * 1000000)
            .cast("long").as("vv6"))
        .as[EventIn].collect().toSeq.reverse
      val waves = keyed.grouped((keyed.size / 3).max(1)).toSeq
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingSeqMonitor.monitor(ms.toDS()).toDF(),
        "stream_obf", ms, waves, "update")
      // latest emission per (variant, look) = max cumulative n
      val latest = sink.collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .groupBy(t => (t._1, t._2)).map { case (_, ts) => ts.maxBy(_._3) }
        .toSeq
      // run the streamed moments through the batch key's own release
      // tail: long→double /1e6 = the identical doubles the batch's
      // DECIMAL→double cast yields
      val momDf = latest.toDF("variant", "look", "n", "sx6", "sxx6")
        .select(col("variant"), col("look"),
          col("n").cast("double").as("cn"),
          (col("sx6").cast("double") / lit(1e6)).as("csx"),
          (col("sxx6").cast("double") / lit(1e6)).as("csxx"))
      val streamed = graft.operators.AnalyticsExt.obfRelease(momDf)
        .collect().map(_.toString).toSet
      val batch = SparkEntry
        .queries("agg_group_sequential_obf")(spark, sfDir)
        .collect().map(_.toString).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty, "parity is vacuous with no looks")
    }
  }

  test("seq-monitor exactness guard fails the query past the 2^53 moment ceiling") {
    import graft.streaming.StreamingSeqMonitor
    import graft.streaming.StreamingSeqMonitor.EventIn
    withRocksDb {
      // one event whose squared-moment contribution exceeds the
      // double-exact range: the fold must raise instead of emitting a
      // double-rounded readout
      val ms = MemoryStream[EventIn]
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        runToMemory(StreamingSeqMonitor.monitor(ms.toDS()).toDF(),
          "stream_obf_guard", ms, Seq(Seq(EventIn("A", 1, 1L,
            StreamingSeqMonitor.MomentExactCeiling + 1L))), "update")
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ msgs(e.getCause))
      assert(msgs(ex).exists(_.contains("2^53")), msgs(ex).mkString(" | "))
    }
  }

  test("streaming EWMA ≡ batch ts_ewma (exact, ordered feed, any chunking)") {
    import graft.streaming.StreamingEwma
    import graft.streaming.StreamingEwma.EventIn
    withRocksDb {
      // the same micro-unit rows the batch key folds, fed in event-time
      // order (the parity contract) across three arrival waves
      val keyed = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_micros"), col("event_id"),
          (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vi"))
        .as[EventIn].collect().toSeq.sortBy(e => (e.ts_micros, e.event_id))
      val waves = keyed.grouped((keyed.size / 3).max(1)).toSeq
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingEwma.ewma(ms.toDS()).toDF(),
        "stream_ewma", ms, waves, "update")
      // latest emission per key = max n_events (strictly monotone count)
      val all = sink.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val latest = all.groupBy(t => (t._1, t._2))
        .map { case (_, ts) => ts.maxBy(_._3) }.toSet
      val batch = SparkEntry.queries("ts_ewma")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(latest == batch)
    }
  }

  test("streaming Holt ≡ batch ts_holt (exact, ordered feed, any chunking)") {
    import graft.streaming.StreamingHolt
    import graft.streaming.StreamingHolt.EventIn
    withRocksDb {
      val keyed = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_micros"), col("event_id"),
          (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vi"))
        .as[EventIn].collect().toSeq.sortBy(e => (e.ts_micros, e.event_id))
      val waves = keyed.grouped((keyed.size / 3).max(1)).toSeq
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingHolt.holt(ms.toDS()).toDF(),
        "stream_holt", ms, waves, "update")
      // latest emission per key = max n_events (strictly monotone count)
      val all = sink.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
      val latest = all.groupBy(t => (t._1, t._2))
        .map { case (_, ts) => ts.maxBy(_._3) }.toSet
      val batch = SparkEntry.queries("ts_holt")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
        .toSet
      assert(latest == batch)
    }
  }

  test("streaming Holt–Winters ≡ batch ts_holt_winters (exact, ordered feed)") {
    import graft.streaming.StreamingHoltWinters
    import graft.streaming.StreamingHoltWinters.HourIn
    withRocksDb {
      // the same hourly micro-unit grid the batch key folds (one global
      // series), fed in hour order across three arrival waves
      val hourly = Tables.events(spark, sfDir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(sum((col("value").cast("decimal(18,6)") * 1000000)
          .cast("long")).as("vi"))
        .select(lit("all").as("series"), unix_micros(col("h")).as("hi"),
          hour(col("h")).as("hr"), col("vi"))
        .as[HourIn].collect().toSeq.sortBy(_.hi)
      val waves = hourly.grouped((hourly.size / 3).max(1)).toSeq
      val ms = MemoryStream[HourIn]
      val sink = runToMemory(StreamingHoltWinters.holtWinters(ms.toDS()).toDF(),
        "stream_hw", ms, waves, "update")
      // latest emission = max n_hours (strictly monotone)
      val fin = sink.collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getSeq[Long](4)))
        .maxBy(_._1)
      val batch = SparkEntry.queries("ts_holt_winters")(spark, sfDir)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
      assert(batch.length == 24)
      batch.foreach { case (hr, seasonal, level, trend, n) =>
        assert(n == fin._1 && level == fin._2 && trend == fin._3,
          s"scalars at hr=$hr: batch ($n,$level,$trend) vs stream $fin")
        assert(fin._4(hr) == seasonal, s"seasonal[$hr]")
      }
    }
  }

  test("streaming debounce ≡ batch ts_debounce (exact, ordered feed)") {
    import graft.streaming.StreamingDebounce
    import graft.streaming.StreamingDebounce.EventIn
    withRocksDb {
      val keyed = Tables.events(spark, sfDir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_micros"),
          col("event_id"))
        .as[EventIn].collect().toSeq.sortBy(e => (e.ts_micros, e.event_id))
      val waves = keyed.grouped((keyed.size / 3).max(1)).toSeq
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingDebounce.debounce(ms.toDS()).toDF(),
        "stream_debounce", ms, waves, "update")
      val latest = sink.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (_, ts) => ts.maxBy(_._2) }.toSet
      val batch = SparkEntry.queries("ts_debounce")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(latest == batch)
    }
  }

  test("streaming throttle ≡ batch ts_throttle (exact, ordered feed)") {
    import graft.streaming.StreamingThrottle
    import graft.streaming.StreamingThrottle.EventIn
    withRocksDb {
      val keyed = Tables.events(spark, sfDir)
        .select(col("user_id"),
          unix_micros(date_trunc("hour", col("ts"))).as("w_start"),
          unix_micros(col("ts")).as("ts_micros"), col("event_id"))
        .as[EventIn].collect().toSeq.sortBy(e => (e.ts_micros, e.event_id))
      val waves = keyed.grouped((keyed.size / 3).max(1)).toSeq
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingThrottle.throttle(ms.toDS()).toDF(),
        "stream_throttle", ms, waves)
      // Append mode: each admitted event is emitted exactly once.
      val admitted = sink.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(admitted.length == admitted.toSet.size) // no duplicate emission
      val batch = SparkEntry.queries("ts_throttle")(spark, sfDir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("w_start")).as("w_start"), col("rk"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(admitted.toSet == batch)
      // the limit actually bites: a 5-event burst in one (user, hour)
      // admits exactly Limit events, ranks 1..3, earliest-first
      val burst = (1L to 5L).map(i =>
        EventIn(999L, 0L, i * 1000000L, 100L + i))
      val ms2 = MemoryStream[EventIn]
      val kept = runToMemory(StreamingThrottle.throttle(ms2.toDS()).toDF(),
        "stream_throttle_burst", ms2, Seq(burst)).collect()
        .map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
      assert(kept == Seq((101L, 1L), (102L, 2L), (103L, 3L)))
    }
  }

  test("streaming lateness monitor ≡ batch ts_out_of_order_stats") {
    import graft.streaming.StreamingLateness
    import graft.streaming.StreamingLateness.EventIn
    withRocksDb {
      val keyed = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .as[EventIn].collect().toSeq.sortBy(_.event_id)
      val waves = keyed.grouped((keyed.size / 3).max(1)).toSeq
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingLateness.lateness(ms.toDS()).toDF(),
        "stream_lateness", ms, waves)
      // aggregate the per-event emissions exactly as the batch key does
      val streamed = sink
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_events"), max("late_us").as("max_late_us"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = SparkEntry.queries("ts_out_of_order_stats")(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
      // a scrambled burst classifies per the shared bucket rule
      val burst = Seq(EventIn(999L, 1L, 7200L * 1000000),
        EventIn(999L, 2L, 7200L * 1000000 - 90L * 1000000),
        EventIn(999L, 3L, 3600L * 1000000))
      val ms2 = MemoryStream[EventIn]
      val got = runToMemory(StreamingLateness.lateness(ms2.toDS()).toDF(),
        "stream_lateness_burst", ms2, Seq(burst)).collect()
        .map(r => (r.getLong(0), r.getString(2))).toSet
      // 2 is 90 s behind the HWM (c bucket); 3 is exactly 1 h behind
      // (boundary inclusive -> d bucket)
      assert(got == Set((1L, "a_on_time"), (2L, "c_within_10m"),
        (3L, "d_within_1h")))
    }
  }

  test("streaming pattern detector ≡ batch ts_pattern_detect (exact, ordered feed)") {
    import graft.streaming.StreamingPattern
    import graft.streaming.StreamingPattern.EventIn
    withRocksDb {
      val keyed = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_micros"), col("event_id"))
        .as[EventIn].collect().toSeq.sortBy(e => (e.ts_micros, e.event_id))
      val waves = keyed.grouped((keyed.size / 3).max(1)).toSeq
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingPattern.patterns(ms.toDS()).toDF(),
        "stream_pattern", ms, waves, "update")
      // latest emission per user = max n_events (strictly monotone)
      val latest = sink.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (_, ts) => ts.maxBy(_._2) }
        .collect { case (u, _, n) if n > 0 => (u, n) }.toSet
      val batch = SparkEntry.queries("ts_pattern_detect")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(latest == batch)
    }
  }

  test("streaming pattern detector ≡ batch ts_pattern_template (second template)") {
    import graft.operators.Cep
    import graft.streaming.StreamingPattern
    import graft.streaming.StreamingPattern.EventIn
    withRocksDb {
      // the SAME CepTemplate object drives both modes — a length-2
      // template (one DFA slot), covering the minimum state bound
      val keyed = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_micros"), col("event_id"))
        .as[EventIn].collect().toSeq.sortBy(e => (e.ts_micros, e.event_id))
      val waves = keyed.grouped((keyed.size / 3).max(1)).toSeq
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingPattern.patterns(ms.toDS(), Cep.SignupPurchase).toDF(),
        "stream_pattern2", ms, waves, "update")
      val latest = sink.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (_, ts) => ts.maxBy(_._2) }
        .collect { case (u, _, n) if n > 0 => (u, n) }.toSet
      assert(latest.nonEmpty, "second template never fired at test scale")
      val batch = SparkEntry.queries("ts_pattern_template")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(latest == batch)
    }
  }

  test("checkpoint restart recovers the CEP detector's DFA slots") {
    import graft.operators.Cep
    import graft.streaming.StreamingPattern
    import graft.streaming.StreamingPattern.EventIn
    withRocksDb {
      // batch 1 leaves every user mid-pattern (view, click in the DFA
      // slots); batch 2 delivers the completing purchase AFTER a query
      // restart — a hit can only be counted if the checkpoint restored
      // the slot state, so n_patterns = 1 per user IS the recovery proof.
      val m = 60L * 1000000
      val base = java.nio.file.Files.createTempDirectory("graft_ckpt_cep").toString
      val src = s"$base/src"; val ckpt = s"$base/ckpt"
      val batch1 = Seq(
        EventIn(1, "view", 0 * m, 1), EventIn(1, "click", 10 * m, 2),
        EventIn(2, "view", 0 * m, 3), EventIn(2, "click", 12 * m, 4))
      val batch2 = Seq(
        EventIn(1, "purchase", 20 * m, 5), EventIn(2, "purchase", 25 * m, 6))
      val schema = batch1.toDF().schema
      def write(events: Seq[EventIn]): Unit =
        events.toDF().coalesce(1).write.mode("append").parquet(src)
      def runOnce(outDir: String): Unit = {
        // memory sink can't resume from a checkpoint; foreachBatch can —
        // each run appends its Update-mode emissions to its own dir
        val stream = spark.readStream.schema(schema).parquet(src).as[EventIn]
        val q = StreamingPattern.patterns(stream, Cep.ViewClickPurchase).toDF()
          .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
            df.write.mode("append").parquet(outDir)
          }
          .option("checkpointLocation", ckpt).outputMode("update").start()
        try q.processAllAvailable() finally q.stop()
      }
      write(batch1); runOnce(s"$base/out1") // slots live only in state now
      write(batch2); runOnce(s"$base/out2") // restart must restore them
      // the post-restart run saw ONLY the purchases; its emissions carry
      // the completed-pattern counts iff the two slots were recovered
      val got = spark.read.parquet(s"$base/out2").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L), got.toString)
      // and the recovered totals equal the batch detector over all events
      val all = (batch1 ++ batch2).toDF()
        .select(col("user_id"), col("event_type"),
          timestamp_micros(col("ts_micros")).as("ts"), col("event_id"))
      val batch = Cep.detectBatch(all, Cep.ViewClickPurchase).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == batch)
      // the DFA slots live under the state name "pat": each user's last
      // two events, three events seen, one completed pattern
      val pat = spark.read.format("statestore")
        .option("stateVarName", "pat").load(ckpt)
        .select(col("key.*"), col("value.types"), col("value.nEvents"),
          col("value.nPatterns")).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1), r.getLong(2),
          r.getLong(3))).toSet
      assert(pat == Set((1L, Seq("click", "purchase"), 3L, 1L),
        (2L, Seq("click", "purchase"), 3L, 1L)), pat.toString)
    }
  }

  test("streaming running-distinct ≡ batch win_running_distinct (exact, ordered feed)") {
    import graft.streaming.StreamingRunningDistinct
    import graft.streaming.StreamingRunningDistinct.EventIn
    withRocksDb {
      // same rows the batch window scans, fed in event-time order (the
      // parity contract) across three arrival waves
      val keyed = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_micros"), col("event_id"))
        .as[EventIn].collect().toSeq.sortBy(e => (e.ts_micros, e.event_id))
      val waves = keyed.grouped((keyed.size / 3).max(1)).toSeq
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingRunningDistinct.runningDistinct(ms.toDS()).toDF(),
        "stream_rdistinct", ms, waves)
      // Append mode: every event's row is emitted exactly once and is
      // final — the full sink IS the batch answer, row for row.
      val streamed = sink.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = SparkEntry.queries("win_running_distinct")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(streamed.size == keyed.size) // one emission per event, no dupes
    }
  }

  test("streaming new-vs-returning ≡ batch ts_new_vs_returning (exact, ordered feed)") {
    import graft.streaming.StreamingNewVsReturning
    import graft.streaming.StreamingNewVsReturning.EventIn
    withRocksDb {
      val keyed = Tables.events(spark, sfDir)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          unix_micros(col("ts")).as("ts_micros"), col("event_id"))
        .as[EventIn].collect().toSeq.sortBy(e => (e.ts_micros, e.event_id))
      val waves = keyed.grouped((keyed.size / 3).max(1)).toSeq
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingNewVsReturning.newVsReturning(ms.toDS()).toDF(),
        "stream_nvr", ms, waves)
      // Append sink holds one row per (user, active day); the daily
      // rollup of those cells IS the batch readout.
      val streamed = sink
        .groupBy("day")
        .agg(sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
          sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_returning"),
          count(lit(1)).as("n_active"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val batch = SparkEntry.queries("ts_new_vs_returning")(spark, sfDir)
        .collect()
        .map(r => r.getDate(0).toLocalDate.toEpochDay ->
          ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(streamed == batch)
    }
  }

  test("streaming bitmap DAU ≡ batch agg_bitmap_distinct (exact, any order, re-delivery)") {
    import graft.streaming.StreamingBitmapDau
    import graft.streaming.StreamingBitmapDau.EventIn
    withRocksDb {
      // bit-set state is idempotent and order-free: feed the rows in a
      // deterministic NON-event-time order (reversed by event hash) and
      // re-deliver the middle wave to simulate at-least-once upstream —
      // the counts must still match the batch exactly.
      val rows = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"))
        .as[EventIn].collect().toSeq
        .sortBy(e => (e.user_id * 2654435761L + e.event_type.hashCode) % 997)
      val waves = rows.grouped((rows.size / 3).max(1)).toSeq
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingBitmapDau.bitmapDau(ms.toDS()).toDF(),
        "stream_bitmap_dau", ms,
        waves :+ waves(waves.size / 2), // duplicate delivery
        "update")
      // latest emission per (type, bucket) = max count (monotone), DAU
      // per type = sum over its disjoint buckets
      val streamed = sink
        .groupBy("event_type", "bucket").agg(max("n_users").as("n"))
        .groupBy("event_type").agg(sum("n").as("n_users"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = SparkEntry.queries("agg_bitmap_distinct")(spark, sfDir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
    }
  }

  test("streaming count-min sketch ≡ batch aggregate BYTES (linear sketch, any order)") {
    import graft.streaming.StreamingCountMin
    import graft.streaming.StreamingCountMin.EventIn
    withRocksDb {
      // CMS is a LINEAR sketch: sequential adds and the batch
      // aggregate's partial-merge tree produce the identical counter
      // table under exactly-once delivery, so the pin is byte equality
      // of the serialized sketches — feed in a shuffled non-event-time
      // order to prove order freedom.
      val rows = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"))
        .as[EventIn].collect().toSeq
        .sortBy(e => (e.user_id * 2654435761L + e.event_type.hashCode) % 991)
      val waves = rows.grouped((rows.size / 3).max(1)).toSeq
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingCountMin.countMin(ms.toDS()).toDF(),
        "stream_count_min", ms, waves, "update")
      // latest emission per type = the one with the full count
      val streamed = sink
        .collect()
        .groupBy(_.getString(0))
        .map { case (t, rs) => t -> rs.maxBy(_.getLong(1)) }
        .map { case (t, r) => t -> (r.getLong(1), r.getAs[Array[Byte]](2)) }
      val batch = Tables.events(spark, sfDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), expr(
          s"count_min_sketch(user_id, ${StreamingCountMin.Eps}d, " +
            s"${StreamingCountMin.Confidence}d, ${StreamingCountMin.Seed})")
          .as("sk"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getAs[Array[Byte]](2)))
        .toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (t, (n, bytes)) =>
        assert(n == batch(t)._1, s"$t count")
        assert(java.util.Arrays.equals(bytes, batch(t)._2),
          s"$t sketch bytes diverge")
      }
    }
  }

  test("streaming weighted reservoir ≡ batch sample_weighted (exact, any chunking)") {
    import graft.streaming.StreamingWeightedSample
    import graft.streaming.StreamingWeightedSample.DocIn
    withRocksDb {
      // the same keyed rows the batch query ranks, in three arrival waves
      val keyed = Tables.t(spark, sfDir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"),
          graft.operators.RelationalExt.esKey(col("doc_id"), col("n_chars"))
            .as("es_key"))
        .as[DocIn].collect().toSeq.sortBy(_.doc_id)
      val waves = keyed.grouped((keyed.size / 3).max(1)).toSeq
      val ms = MemoryStream[DocIn]
      val sink = runToMemory(StreamingWeightedSample.sample(ms.toDS()).toDF(),
        "stream_wsample", ms, waves, "update")
      // current sample = max-ver emission per lang
      val all = sink.select(col("lang"), col("ver"), col("rk"), col("doc_id"),
        col("n_chars"), round(col("es_key"), 6).as("es_key")).collect()
      val maxVer = all.groupBy(_.getString(0))
        .map { case (l, rs) => l -> rs.map(_.getLong(1)).max }
      val latest = all.filter(r => r.getLong(1) == maxVer(r.getString(0)))
        .map(r => Seq(r.getString(0), r.getInt(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toSet
      val batch = SparkEntry.queries("sample_weighted")(spark, sfDir)
      assert(latest == batch.collect().map(_.toSeq).toSet)
      // and every intermediate emission was a valid top-k of its prefix:
      // ver counts per lang equal the number of waves containing that lang
      val verCounts = sink.select("lang", "ver").distinct()
        .groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = keyed.groupBy(_.lang).map { case (l, ds) =>
        l -> waves.count(w => w.exists(_.lang == l)).toLong
      }
      assert(verCounts == expected)
    }
  }

  test("streaming FK join: table semantics, dim-update re-emission, batch parity") {
    import graft.streaming.StreamingFkJoin
    import graft.streaming.StreamingFkJoin.FkChange
    withRocksDb {
      def dim(ck: Long, seg: String, seq: Long) =
        FkChange(ck, is_dim = true, 0L, 0L, seg, seq)
      def fact(oid: Long, ck: Long, amt: Long, seq: Long) =
        FkChange(ck, is_dim = false, oid, amt, null, seq)
      val waves = Seq(
        // o2 arrives before its dim row -> emits nothing yet
        Seq(dim(1, "bronze", 1), fact(10, 1, 100, 2), fact(20, 2, 200, 3)),
        // dim 2 arrives -> o2 joins retroactively; dim 1 updates -> o1 AND
        // o3 (added just before) re-emit with "gold"
        Seq(dim(2, "silver", 4), fact(30, 1, 300, 5), dim(1, "gold", 6)),
        // fact upsert (o1 amount) joins current dim; dim 2 update re-emits o2
        Seq(fact(10, 1, 150, 7), dim(2, "platinum", 8)))
      val ms = MemoryStream[FkChange]
      val sink = runToMemory(StreamingFkJoin.fkJoin(ms.toDS()).toDF(),
        "stream_fk_join", ms, waves, "update")
      val all = sink.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getLong(4)))
      // the KS FK-join contract: the dim-1 update at seq 6 re-emitted both
      // live facts under key 1 with the new segment
      assert(all.contains((10L, 1L, 100L, "gold", 6L)), all.mkString(", "))
      assert(all.contains((30L, 1L, 300L, "gold", 6L)), all.mkString(", "))
      // o2 emitted nothing until its dim row arrived (inner-join semantics)
      assert(!all.exists(t => t._1 == 20L && t._5 < 4L), all.mkString(", "))
      // latest emission per order id == the batch inner join of the FINAL
      // fact and dim tables (table semantics survive chunking)
      val latest = all.groupBy(_._1).map { case (_, ts) => ts.maxBy(_._5) }
        .map(t => (t._1, t._2, t._3, t._4)).toSet
      val changes = waves.flatten
      val finalDims = changes.filter(_.is_dim).groupBy(_.cust_key)
        .map { case (k, cs) => k -> cs.maxBy(_.seq).segment }
      val finalFacts = changes.filterNot(_.is_dim).groupBy(_.order_id)
        .map { case (_, cs) => cs.maxBy(_.seq) }
      val batchJoin = finalFacts.flatMap(f => finalDims.get(f.cust_key)
        .map(seg => (f.order_id, f.cust_key, f.amount_micro, seg))).toSet
      assert(latest == batchJoin)
      assert(batchJoin.size == 3)
    }
  }

  test("checkpoint restart recovers the FK join's fact map and dim state") {
    import graft.streaming.StreamingFkJoin
    import graft.streaming.StreamingFkJoin.FkChange
    withRocksDb {
      val base = java.nio.file.Files.createTempDirectory("graft_ckpt_fk").toString
      val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
      def dim(ck: Long, seg: String, seq: Long) =
        FkChange(ck, is_dim = true, 0L, 0L, seg, seq)
      def fact(oid: Long, ck: Long, amt: Long, seq: Long) =
        FkChange(ck, is_dim = false, oid, amt, null, seq)
      val batch1 = Seq(dim(1, "bronze", 1), fact(10, 1, 100, 2),
        fact(30, 1, 300, 3))
      // the dim update alone must re-emit BOTH facts — they live only in
      // the checkpointed MapState at this point
      val batch2 = Seq(dim(1, "gold", 4))
      val schema = batch1.toDF().schema
      def write(cs: Seq[FkChange]): Unit =
        cs.toDF().coalesce(1).write.mode("append").parquet(src)
      // Update-mode emissions land via foreachBatch (the file sink is
      // append-only; foreachBatch is the checkpoint-recoverable route)
      def runOnce(): Unit = {
        val stream = spark.readStream.schema(schema).parquet(src).as[FkChange]
        val q = StreamingFkJoin.fkJoin(stream).toDF()
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.write.mode("append").parquet(out)
          }
          .option("checkpointLocation", ckpt).outputMode("update").start()
        try q.processAllAvailable() finally q.stop()
      }
      write(batch1); runOnce()
      write(batch2); runOnce()
      val afterRestart = spark.read.parquet(out).filter(col("seq") === 4L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getLong(4)))
        .toSet
      assert(afterRestart == Set((10L, 100L, "gold", 4L),
        (30L, 300L, "gold", 4L)), afterRestart.mkString(", "))
    }
  }

  test("streaming FK LEFT join: null-dim emission, in-place upgrade, batch parity") {
    import graft.streaming.StreamingFkJoin
    import graft.streaming.StreamingFkJoin.FkChange
    withRocksDb {
      def dim(ck: Long, seg: String, seq: Long) =
        FkChange(ck, is_dim = true, 0L, 0L, seg, seq)
      def fact(oid: Long, ck: Long, amt: Long, seq: Long) =
        FkChange(ck, is_dim = false, oid, amt, null, seq)
      val waves = Seq(
        // no dims exist yet: KTable.leftJoin emits both facts with a
        // null segment instead of suppressing them
        Seq(fact(10, 1, 100, 1), fact(20, 2, 200, 2)),
        // dim 1 arrives -> o10 upgrades in place; o30 emits null-dim
        Seq(dim(1, "bronze", 3), fact(30, 3, 300, 4)),
        Seq(dim(1, "gold", 5)))
      val ms = MemoryStream[FkChange]
      val sink = runToMemory(StreamingFkJoin.fkJoin(ms.toDS(), leftJoin = true).toDF(),
        "stream_fk_left", ms, waves, "update")
      val all = sink.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.getString(3)), r.getLong(4)))
      assert(all.contains((10L, 1L, 100L, None, 1L)), all.mkString(", "))
      assert(all.contains((30L, 3L, 300L, None, 4L)), all.mkString(", "))
      assert(all.contains((10L, 1L, 100L, Some("gold"), 5L)), all.mkString(", "))
      // latest emission per order == the batch LEFT join of the final
      // fact and dim tables
      val latest = all.groupBy(_._1).map { case (_, ts) => ts.maxBy(_._5) }
        .map(t => (t._1, t._2, t._3, t._4)).toSet
      val changes = waves.flatten
      val finalDims = changes.filter(_.is_dim).groupBy(_.cust_key)
        .map { case (k, cs) => k -> cs.maxBy(_.seq).segment }
      val finalFacts = changes.filterNot(_.is_dim).groupBy(_.order_id)
        .map { case (_, cs) => cs.maxBy(_.seq) }
      val batchLeft = finalFacts.map(f => (f.order_id, f.cust_key,
        f.amount_micro, finalDims.get(f.cust_key))).toSet
      assert(latest == batchLeft, s"$latest vs $batchLeft")
      assert(batchLeft.size == 3 && batchLeft.count(_._4.isEmpty) == 2)
    }
  }

  test("FK re-key: router tombstones the old key across restart, no stale re-emission") {
    import graft.streaming.StreamingFkJoin
    import graft.streaming.StreamingFkJoin.FkChange
    withRocksDb {
      val base = java.nio.file.Files.createTempDirectory("graft_ckpt_rekey").toString
      val srcF = s"$base/facts"; val routed = s"$base/routed"
      val srcJ = s"$base/join_feed"; val out = s"$base/out"
      val ckptR = s"$base/ckpt_router"; val ckptJ = s"$base/ckpt_join"
      def dim(ck: Long, seg: String, seq: Long) =
        FkChange(ck, is_dim = true, 0L, 0L, seg, seq)
      def fact(oid: Long, ck: Long, amt: Long, seq: Long) =
        FkChange(ck, is_dim = false, oid, amt, null, seq)
      val schema = Seq(dim(0, "x", 0)).toDF().schema
      def append(dir: String, cs: Seq[FkChange]): Unit =
        cs.toDF().coalesce(1).write.mode("append").parquet(dir)
      def routerRunOnce(): Unit = {
        val stream = spark.readStream.schema(schema).parquet(srcF).as[FkChange]
        val q = StreamingFkJoin.routeFacts(stream).toDF()
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.write.mode("append").parquet(routed)
          }
          .option("checkpointLocation", ckptR).outputMode("update").start()
        try q.processAllAvailable() finally q.stop()
      }
      def joinRunOnce(): Unit = {
        val stream = spark.readStream.schema(schema).parquet(srcJ).as[FkChange]
        val q = StreamingFkJoin.fkJoin(stream).toDF()
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.write.mode("append").parquet(out)
          }
          .option("checkpointLocation", ckptJ).outputMode("update").start()
        try q.processAllAvailable() finally q.stop()
      }
      def readRouted(): Seq[FkChange] =
        spark.read.parquet(routed).as[FkChange].collect().toSeq
      // run 1: o10 references customer 1
      append(srcF, Seq(fact(10, 1, 100, 2))); routerRunOnce()
      append(srcJ, Seq(dim(1, "bronze", 1)) ++ readRouted()); joinRunOnce()
      // run 2 (RESTART both stages): o10 re-keys to customer 2 — the
      // router's recovered last-FK state must emit the key-1 tombstone
      append(srcF, Seq(fact(10, 2, 150, 5))); routerRunOnce()
      val newRouted = readRouted().filter(_.seq == 5L)
      assert(newRouted.exists(c => c.is_tombstone && c.cust_key == 1L
        && c.order_id == 10L), newRouted.mkString(", "))
      // later dim updates on BOTH keys: key 1 must stay silent for o10
      append(srcJ, newRouted ++ Seq(dim(1, "gold", 6), dim(2, "silver", 7)))
      joinRunOnce()
      val rows = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getLong(4)))
      // the stale shape the router exists to kill:
      assert(!rows.exists(t => t._1 == 10L && t._2 == 1L && t._4 == "gold"),
        rows.mkString(", "))
      // the re-keyed order joins its NEW dimension when it arrives
      assert(rows.contains((10L, 2L, 150L, "silver", 7L)), rows.mkString(", "))
      // table semantics: latest emission == batch join on the final FK
      val latest = rows.groupBy(_._1).map { case (_, ts) => ts.maxBy(_._5) }
      assert(latest.toSet == Set((10L, 2L, 150L, "silver", 7L)))
    }
  }

  test("streaming sliding window ≡ batch win_range_frame (exact, ordered feed)") {
    import graft.streaming.StreamingSlidingWindow
    import graft.streaming.StreamingSlidingWindow.EventIn
    withRocksDb {
      // the same micro-unit rows the batch RANGE frame sums, fed in
      // event-time order (the parity contract) across three waves
      val keyed = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("vi"))
        .as[EventIn].collect().toSeq.sortBy(e => (e.us, e.event_id))
      // a hot user: 400 events 12 s apart (300 inside each trailing
      // hour), fed in event-time order over the same three waves; its
      // expected sums replay the RANGE frame by brute force
      val windowUs = 3600L * 1000000L
      val hot = (0 until 400).map(i => EventIn(-1L, -1L - i,
        keyed.head.us + i * 12000000L, (i * 7919L) % 100000L))
      val hotWant = hot.map(e => (e.event_id, hot.filter(o =>
        o.us >= e.us - windowUs && o.us <= e.us).map(_.vi).sum / 1e6)).toSet
      val waves = keyed.grouped((keyed.size / 3).max(1)).toSeq
        .zipAll(hot.grouped(134).toSeq, Seq.empty, Seq.empty)
        .map { case (w, h) => w ++ h }
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingSlidingWindow.slidingSum(ms.toDS(), windowUs).toDF(),
        "stream_sliding", ms, waves)
      val streamed = sink.collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSet
      val batch = SparkEntry.queries("win_range_frame")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(streamed == batch ++ hotWant)
      assert(batch.nonEmpty)
    }
  }

  test("suppress(untilTimeLimit): rate-limited latest-value release + final parity") {
    import graft.streaming.StreamingSuppress
    import graft.streaming.StreamingSuppress.EventIn
    withRocksDb {
      val limitUs = 60L * 60000000L // 60 min hold window
      def sev(id: Long, user: Long, offMin: Long, vMicro: Long) =
        EventIn(user, ts(offMin), id, vMicro)
      def relUs(offMin: Long): Long = (T0 + offMin * 60000L) * 1000L
      val waves = Seq(
        // u1 buffers @0, update @10 replaces it (no release yet); u2
        // buffers @5
        Seq(sev(1, 1, 0, 100L), sev(2, 1, 10, 200L), sev(3, 2, 5, 50L)),
        // u1 @70: stream time passed 0+60 -> buffered (2, 300) releases
        // stamped @60, then (3, 600) buffers @70
        Seq(sev(4, 1, 70, 300L)),
        // u1 @130 = exactly 70+60 -> (3, 600) releases @130, (4, 1000)
        // buffers @130; watermark now 120 -> u2's @65 timer fires
        Seq(sev(5, 1, 130, 400L)),
        // terminal watermark advance: u1's @190 timer flushes the tail
        Seq(sev(99, 9, 10000, 1L), sev(100, 9, 20000, 1L)),
        Seq.empty)
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingSuppress.suppress(ms.toDS(), limitUs).toDF(),
        "stream_suppress", ms, waves, "update")
      val got = sink
        .filter(col("user_id") < 9).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // hand-replay of the KS rule: buffered value releases at
      // bufferedAt + limit carrying the latest aggregate
      assert(got == Set(
        (1L, 2L, 300L, relUs(60)), (1L, 3L, 600L, relUs(130)),
        (1L, 4L, 1000L, relUs(190)), (2L, 1L, 50L, relUs(65))),
        got.mkString(", "))
      // rate limit: consecutive releases per key >= limit apart
      got.groupBy(_._1).values.foreach { rs =>
        val rel = rs.map(_._4).toSeq.sorted
        rel.zip(rel.tail).foreach { case (a, b) =>
          assert(b - a >= limitUs, s"releases $a, $b closer than limit") }
      }
      // final-state parity: last release per key == the unsuppressed
      // final aggregate (no update is ever lost to suppression)
      val finals = got.groupBy(_._1).map { case (u, rs) =>
        val last = rs.maxBy(_._4); u -> ((last._2, last._3)) }
      val batchAgg = waves.flatten.filter(_.user_id < 9)
        .groupBy(_.user_id).map { case (u, es) =>
          u -> ((es.size.toLong, es.map(_.value_micro).sum)) }
      assert(finals == batchAgg)
    }
  }

  test("suppress: cross-batch late events fold into the hold; spacing survives") {
    // Round-13 verdict task 8: the parity contract above feeds per-key
    // ordered waves; this one stresses CROSS-BATCH disorder. Pinned
    // behavior (watermark delay 10 min, limit 60 min):
    //   1. a late event still ≥ watermark arriving while a hold is open
    //      FOLDS into the buffered aggregate — the anchor (and so the
    //      release stamp) never moves, even when the event's ts is older
    //      than the anchor itself;
    //   2. an event older than the watermark is DROPPED by the engine
    //      before the processor (standard watermark loss) — it can
    //      neither open a hold anchored in the past nor regress a stamp;
    //   3. therefore consecutive release stamps per key stay >= limit
    //      apart UNCONDITIONALLY: after a timer release the watermark
    //      already passed the stamp (accepted events anchor at or after
    //      it), and an in-stream release immediately re-buffers the
    //      releasing event (anchor >= stamp). Asserted over every key.
    import graft.streaming.StreamingSuppress
    import graft.streaming.StreamingSuppress.EventIn
    withRocksDb {
      val limitUs = 60L * 60000000L
      def sev(id: Long, user: Long, offMin: Long, vMicro: Long) =
        EventIn(user, ts(offMin), id, vMicro)
      def relUs(offMin: Long): Long = (T0 + offMin * 60000L) * 1000L
      val waves = Seq(
        // u1 holds @60; u3 holds @0
        Seq(sev(1, 1, 60, 100L), sev(2, 3, 0, 9L)),
        // u2 @70 moves the watermark to 60: u3's @60 timer fires ->
        // (1, 9) releases @60. u1's late @55 (>= prior watermark 50)
        // folds into the OPEN hold — anchor stays 60
        Seq(sev(3, 1, 55, 7L), sev(4, 2, 70, 50L)),
        // watermark is 60 now: u3's @55 event is OLDER than the
        // watermark -> dropped (no hold anchored in the past). u1 @130
        // releases the buffer (2, 107) stamped @120 and re-holds @130
        Seq(sev(5, 3, 55, 1L), sev(6, 1, 130, 40L)),
        // u1 late @125 (watermark 120) folds into the @130 hold, even
        // though 125 < the anchor
        Seq(sev(7, 1, 125, 3L)),
        // terminal watermark advance flushes every tail timer
        Seq(sev(99, 9, 10000, 1L)),
        Seq.empty)
      val ms = MemoryStream[EventIn]
      val sink = runToMemory(StreamingSuppress.suppress(ms.toDS(), limitUs).toDF(),
        "stream_suppress_ooo", ms, waves, "update")
      val got = sink
        .filter(col("user_id") < 9).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == Set(
        (1L, 2L, 107L, relUs(120)),  // late @55 folded, anchor 60 held
        (1L, 4L, 150L, relUs(190)),  // late @125 folded into the @130 hold
        (2L, 1L, 50L, relUs(130)),
        (3L, 1L, 9L, relUs(60))),    // the sub-watermark @55 event DROPPED
        got.mkString(", "))
      // the unconditional rate limit, late data and all
      got.groupBy(_._1).values.foreach { rs =>
        val rel = rs.map(_._4).toSeq.sorted
        rel.zip(rel.tail).foreach { case (a, b) =>
          assert(b - a >= limitUs, s"releases $a, $b closer than limit") }
      }
    }
  }

  test("checkpoint restart recovers the suppress buffer and releases it") {
    import graft.streaming.StreamingSuppress
    import graft.streaming.StreamingSuppress.EventIn
    withRocksDb {
      val limitUs = 60L * 60000000L
      val base = java.nio.file.Files.createTempDirectory("graft_ckpt_sup").toString
      val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
      val batch1 = Seq(EventIn(1, ts(0), 1, 100L), EventIn(1, ts(10), 2, 200L))
      // only a watermark-advancing foreign key: u1's buffered (2, 300)
      // lives solely in the checkpointed state at this point
      val batch2 = Seq(EventIn(9, ts(10000), 99, 1L))
      val schema = batch1.toDF().schema
      def write(cs: Seq[EventIn]): Unit =
        cs.toDF().coalesce(1).write.mode("append").parquet(src)
      def runOnce(): Unit = {
        val stream = spark.readStream.schema(schema).parquet(src).as[EventIn]
        val q = StreamingSuppress.suppress(stream, limitUs).toDF()
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.write.mode("append").parquet(out)
          }
          .option("checkpointLocation", ckpt).outputMode("update").start()
        try q.processAllAvailable() finally q.stop()
      }
      write(batch1); runOnce()
      write(batch2); runOnce()
      val u1 = spark.read.parquet(out).filter(col("user_id") === 1L)
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(u1 == Set((2L, 300L, (T0 + 60L * 60000L) * 1000L)),
        u1.mkString(", "))
    }
  }
}

object StreamingSpec {
  /** Typed event WITH event_type — the dynamic-gap parity fixture
    * (StatefulSessionizer.Event has no type column). */
  case class TEv(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
      value: Double, event_type: String)
}
