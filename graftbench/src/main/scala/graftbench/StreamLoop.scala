package graftbench

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.operators.Sessionization
import graft.streaming.StreamingSessions
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** One arriving event, in the column order graft's streaming operators read. */
final case class Ev(event_id: Long, user_id: Long, ts: Timestamp, value: Double,
    event_type: String)

/** The seeded arrival sequence, held column-wise. Arrival `i` replays row
  * `i % n`, shifted forward in event time by whole table spans, so any
  * number of arrivals keeps event time increasing. */
final class Arrivals(val ids: Array[Long], val users: Array[Long], val tsUs: Array[Long],
    val values: Array[Double], val types: Array[String], val late: Array[Boolean],
    val spanUs: Long) {
  val n: Int = ids.length
  def tsOf(i: Long): Long = tsUs((i % n).toInt) + (i / n) * spanUs
  def isLate(i: Long): Boolean = late((i % n).toInt)
  def event(i: Long): Ev = {
    val r = (i % n).toInt
    val ts = tsOf(i)
    val t = new Timestamp(Math.floorDiv(ts, 1000L))
    t.setNanos((Math.floorMod(ts, 1000000L) * 1000).toInt)
    Ev(i, users(r), t, values(r), types(r))
  }
}

object Arrivals {
  def load(s: SparkSession, dir: String): Arrivals = {
    val df = Tables.normalizeTs(s.read.parquet(s"$dir/stream_events.parquet"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")), col("value"),
        col("event_type"), col("late"))
    val rows = df.collect().sortBy(_.getLong(0))
    val onTime = rows.filterNot(_.getBoolean(5)).map(_.getLong(2))
    // Each replay of the table moves event time on by the table's span.
    val span = onTime.max - onTime.min + 1000000L
    new Arrivals(rows.map(_.getLong(0)), rows.map(_.getLong(1)), rows.map(_.getLong(2)),
      rows.map(_.getDouble(3)), rows.map(_.getString(4)), rows.map(_.getBoolean(5)), span)
  }
}

/** Open-loop generator: appends arrivals on a fixed schedule whether or
  * not the query keeps up. `schedule` is a list of (events/s, seconds)
  * rungs; each append carries every arrival that has come due. */
final class Generator(src: Arrivals, ms: MemoryStream[Ev], schedule: Seq[(Double, Double)],
    appendEveryMs: Long, first: Long) extends Thread("graftbench-generator") {
  val appended = new AtomicLong(first)
  /** Due time (nanoTime) of every arrival. */
  val dueNs = new Array[Long](first.toInt + schedule.map { case (r, d) => (r * d).toInt }.sum)
  /** How late each append ran behind the due time of its first arrival. */
  val lateMs = ArrayBuffer.empty[Double]
  @volatile var failure: Option[Throwable] = None
  setDaemon(true)

  override def run(): Unit = try {
    var i = first
    schedule.foreach { case (rate, secs) =>
      val from = i
      val start = System.nanoTime()
      val total = (rate * secs).toLong
      while (i < from + total) {
        val now = System.nanoTime()
        val due = math.min(from + total, from + ((now - start) / 1e9 * rate).toLong)
        if (due > i) {
          val batch = (i until due).map(src.event)
          var j = i
          while (j < due) { dueNs(j.toInt) = start + ((j - from) * 1e9 / rate).toLong; j += 1 }
          ms.addData(batch)
          lateMs.synchronized(lateMs += (System.nanoTime() - dueNs(i.toInt)) / 1e6)
          i = due
          appended.set(i)
        }
        Thread.sleep(appendEveryMs)
      }
    }
  } catch { case e: Throwable => failure = Some(e) }
}

/** Records every progress report of one query, with the arrival count at
  * the moment the report was delivered. */
final class ProgressLog(queryId: () => java.util.UUID, appended: () => Long)
    extends StreamingQueryListener {
  val reports = new ConcurrentLinkedQueue[(StreamingQueryProgress, Long, Long)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.id == queryId()) reports.add((e.progress, appended(), System.nanoTime()))
  def all: Seq[(StreamingQueryProgress, Long, Long)] = reports.asScala.toSeq
}

/** The open-loop streaming workload over `StreamingSessions.sessionize`. */
object StreamLoop {
  val Gap = "30 minutes"
  val Delay = "10 minutes"
  val DelayUs: Long = 10L * 60 * 1000000
  /** Fixed rate for emit latency and the correctness gate, below saturation. */
  val FixedRate = 5000.0
  /** Arrivals per chunk in the saturation phase: about half a second of
    * work per micro-batch on 4 CPUs. */
  val SaturationChunk = 40000
  val AppendEveryMs = 20L
  val WarmupS = 4.0
  val ReplayPasses = 5
  val ReplayTimeoutS = 20.0

  /** A running sessionizer over a fresh memory source and checkpoint. */
  final class Run(s: SparkSession, a: Main.Args, name: String, collect: Boolean) {
    implicit private val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ms: MemoryStream[Ev] = MemoryStream[Ev](a.cpus)
    /** Emitted sessions with the nanoTime their batch reached the sink. */
    val emitted = new ConcurrentLinkedQueue[(Row, Long)]()
    val emittedCount = new AtomicLong(0)
    private val ckpt = new File(a.out, s"ckpt-$name").getAbsolutePath
    private var gen: Generator = _
    val log = new ProgressLog(() => query.id, () => if (gen == null) 0L else gen.appended.get)
    s.streams.addListener(log)
    val query: StreamingQuery = {
      val w = StreamingSessions.sessionize(ms.toDF(), Gap, Delay).writeStream
        .outputMode("append").option("checkpointLocation", ckpt)
      if (collect) w.foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect()
        val t = System.nanoTime()
        rows.foreach(r => emitted.add((r, t)))
        emittedCount.addAndGet(rows.length)
        ()
      }.start()
      else w.format("noop").start()
    }

    /** Run the generator over `schedule` to completion. The first arrival
      * is appended and processed before the schedule starts, so the query
      * is running and has a watermark before any late arrival comes. */
    def drive(src: Arrivals, schedule: Seq[(Double, Double)]): Generator = {
      ms.addData(Seq(src.event(0)))
      query.processAllAvailable()
      gen = new Generator(src, ms, schedule, AppendEveryMs, first = 1)
      gen.start()
      gen.join()
      gen.failure.foreach(throw _)
      gen
    }

    /** Keep the query saturated for `secs`: as soon as a micro-batch has
      * started on every chunk appended so far, append the next chunk of
      * `chunk` arrivals. So one chunk is always waiting when a batch ends,
      * the query never waits for input, and each batch reads one chunk. */
    def saturate(src: Arrivals, chunk: Int, secs: Double): Unit = {
      ms.addData(Seq(src.event(0)))
      query.processAllAvailable()
      val exec = query.asInstanceOf[StreamingQueryWrapper].streamingQuery
      def started: Long = exec.availableOffsets.values.collectFirst {
        case o: LongOffset => o.offset
      }.getOrElse(-1L)
      var next = 1L
      var last = -1L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < secs * 1e9 && query.isActive) {
        if (started >= last) {
          last = ms.addData((next until next + chunk).map(src.event)).asInstanceOf[LongOffset].offset
          next += chunk
        } else Thread.sleep(1)
      }
    }

    /** Time from appending `events` at once until `expected` sessions have
      * reached the sink; None if that takes longer than `timeoutS`. */
    def replay(events: Seq[Ev], expected: Long, timeoutS: Double): Option[Double] = {
      val t0 = System.nanoTime()
      ms.addData(events)
      while (emittedCount.get < expected && query.isActive &&
        System.nanoTime() - t0 < timeoutS * 1e9) Thread.sleep(2)
      if (emittedCount.get >= expected) Some((System.nanoTime() - t0) / 1e9) else None
    }

    /** Process everything appended, then let the no-data batch that moves
      * the watermark run, so every closable session is emitted. */
    def settle(): Unit = {
      query.processAllAvailable()
      var last = -1L
      while (last != query.lastProgress.batchId) {
        last = query.lastProgress.batchId
        Thread.sleep(150)
        query.processAllAvailable()
      }
    }

    def stop(): Unit = {
      query.stop()
      s.streams.removeListener(log)
    }
  }

  private def progressMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def watermarkUs(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark")).map(w => java.time.Instant.parse(w))
      .map(i => i.getEpochSecond * 1000000L + i.getNano / 1000).getOrElse(Long.MinValue)

  def run(a: Main.Args): Map[String, Any] = {
    var src: Arrivals = null
    val setup = Main.setUp(a, { s =>
      src = Arrivals.load(s, a.data)
      // Warm-up, so the timed phases do not measure the JVM compiling the
      // operator: the fixed-rate stream for a few seconds, then one backlog.
      val w = new Run(s, a, "warmup", collect = true)
      w.drive(src, Seq((FixedRate, WarmupS)))
      w.settle()
      w.stop()
      val b = new Run(s, a, "warmup-backlog", collect = true)
      b.ms.addData((0L until (FixedRate * WarmupS).toLong).map(src.event))
      b.query.processAllAvailable()
      b.stop()
    })
    val s = setup.session
    val failures = ArrayBuffer.empty[String]

    // Phase 1: fixed rate; emit latency, micro-batch latency, correctness.
    val fixed = new Run(s, a, "fixed", collect = true)
    // Of the run's measuring time, 40% runs at the fixed rate and half
    // saturated; replays take the rest.
    val gen = fixed.drive(src, Seq((FixedRate, 0.4 * a.seconds)))
    fixed.settle()
    // The first batch also starts the query; it is set-up, not latency.
    val fixedReports = fixed.log.all.filter(_._1.numInputRows > 0).drop(1)
    val allFixed = fixed.log.all
    val finalWm = allFixed.map(r => watermarkUs(r._1)).max
    fixed.stop()
    val nFixed = gen.appended.get
    // Arrival whose append first lets the watermark pass a given instant.
    val prefixMax = new Array[Long](nFixed.toInt)
    var m = Long.MinValue
    for (i <- 0 until nFixed.toInt) {
      if (!src.isLate(i)) m = math.max(m, src.tsOf(i))
      prefixMax(i) = m
    }
    def closer(endUs: Long): Int = {
      var lo = 0; var hi = nFixed.toInt
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (prefixMax(mid) - DelayUs >= endUs) hi = mid else lo = mid + 1 }
      lo
    }
    val emitted = fixed.emitted.asScala.toSeq
    val emitLatMs = emitted.flatMap { case (r, t) =>
      val end = r.getTimestamp(2)
      val endUs = end.getTime * 1000 + (end.getNanos / 1000) % 1000
      val j = closer(endUs)
      if (j >= 1 && j < nFixed) Some((t - gen.dueNs(j)) / 1e6) else None
    }

    Main.note("latencies computed")
    // Correctness gate (untimed): the batch twin over the on-time arrivals.
    import s.implicits._
    val onTime = (0L until nFixed).filterNot(src.isLate).map(src.event)
    // Filtered after collecting: a filter on session_end over the session
    // aggregate is pushed below the session merge and drops later events.
    val expected = Sessionization.nativeSessions(onTime.toDF()).collect().map(rowKey)
      .filter(_._3 <= finalWm).toSet
    val got = emitted.map(e => rowKey(e._1)).toSet
    val lateDropped = allFixed.map(_._1.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    val lateSent = (0L until nFixed).count(src.isLate)
    val gateErrors = Seq(
      if (got != expected) Some(s"sessions differ: ${(got -- expected).size} unexpected, " +
        s"${(expected -- got).size} missing of ${expected.size}") else None,
      if (got.size != emitted.size) Some("a session was emitted twice") else None,
      if (lateDropped != lateSent) Some(s"late rows dropped $lateDropped != marked late $lateSent")
      else None).flatten

    Main.note("fixed-rate phase done")
    // Replay passes: the on-time arrivals of the fixed phase as one backlog.
    val expectedCount = expected.size
    val onTimeEvents = (0L until nFixed).filterNot(src.isLate).map(src.event)
    val replays = (0 until ReplayPasses).flatMap { i =>
      val r = new Run(s, a, s"replay-$i", collect = true)
      val secs = r.replay(onTimeEvents, expectedCount, ReplayTimeoutS)
      r.stop()
      if (secs.isEmpty) failures += s"replay $i emitted ${r.emittedCount.get} < $expectedCount"
      secs
    }

    Main.note("replays done")
    // Saturation: a chunk of arrivals is always waiting, so the query runs
    // batch after batch with no idle time between them. The rate at which
    // these batches turn arrivals into sessions, median over the batches,
    // is the sustained rate.
    val sat = new Run(s, a, "saturation", collect = false)
    sat.saturate(src, SaturationChunk, a.seconds / 2)
    sat.stop()
    // The first report is the single-arrival start batch; the last batch
    // may have been cut short by stop().
    val satReports = sat.log.all.map(_._1).filter(_.numInputRows > 0).drop(1)
    // A batch that read less than a full chunk found the query waiting for
    // input: the phase did not keep it saturated.
    val saturatedFrac =
      satReports.count(_.numInputRows >= SaturationChunk).toDouble / satReports.size
    if (saturatedFrac < 1)
      Main.note(f"WARNING: only $saturatedFrac%.2f of saturation batches read a full chunk")
    val satBatchMs = satReports.map(r => progressMs(r, "triggerExecution"))
    val sustainedEps = Stats.median(satReports.zip(satBatchMs).map { case (r, ms) =>
      r.numInputRows / (ms / 1e3)
    })

    Main.note(s"saturation phase done: ${satReports.size} batches")
    val batchMs = fixedReports.map(r => progressMs(r._1, "triggerExecution"))
    val gcS = Stats.gcSeconds()
    val peakRss = Stats.peakRssMb()
    var layers = Map.empty[String, Any]
    if (a.trace) {
      // Spans of the fixed-rate phase, one per micro-batch with its phases
      // as children, taken from the query's progress reports.
      val trace = new Trace(true)
      allFixed.foreach { case (p, _, _) =>
        val t0 = java.time.Instant.parse(p.timestamp)
        val startNs = t0.getEpochSecond * 1000000000L + t0.getNano
        val id = trace.add("stream.batch", s"${p.batchId}", -1, startNs,
          startNs + (progressMs(p, "triggerExecution") * 1e6).toLong)
        var at = startNs
        Seq("latestOffset", "queryPlanning", "walCommit", "getBatch", "addBatch", "commitOffsets")
          .foreach { k =>
            val d = (progressMs(p, k) * 1e6).toLong
            if (d > 0) { trace.add(s"stream.$k", s"${p.batchId}", id, at, at + d); at += d }
          }
      }
      trace.writeTo(new File(a.out, "spans.jsonl"))
      layers ++= Layers.functions(s)
      // Single-thread baseline: one replay on local[1].
      Main.stop(s)
      val one = Main.session(a, 1)
      val r = new Run(one, a, "replay-local1", collect = true)
      r.replay(onTimeEvents, expectedCount, 4 * ReplayTimeoutS)
        .foreach(secs => layers += "scale.local1_pass_s" -> secs)
      r.stop()
      Main.stop(one)
    }
    Map(
      "workload" -> "session_stream",
      "cpus" -> a.cpus,
      "ready_ms" -> setup.readyMs,
      "sessions_start_s" -> setup.startS,
      "attempted" -> (allFixed.size + 1),
      "failures" -> (failures ++ gateErrors).map(e => Map("key" -> "stream", "error" -> e)),
      "batch_ms" -> batchMs,
      "emit_latency_ms" -> emitLatMs,
      "replay_s" -> replays,
      "sustained_eps" -> sustainedEps,
      "saturation_batch_ms" -> satBatchMs,
      "saturated_frac" -> saturatedFrac,
      "fixed_events" -> nFixed,
      "sessions_emitted" -> got.size,
      "peak_rss_mb" -> peakRss,
      "gc_s" -> gcS,
      "layers" -> layers,
      "heap_peak_mb" -> Stats.heapPeakMb(),
      "generator_late_ms" -> gen.lateMs.synchronized(gen.lateMs.toSeq),
      "progress" -> fixedReports.map { case (p, app, t) => Map(
        "rows" -> p.numInputRows,
        "batch_ms" -> progressMs(p, "triggerExecution"),
        "add_batch_ms" -> progressMs(p, "addBatch"),
        "wal_commit_ms" -> (progressMs(p, "walCommit") + progressMs(p, "commitOffsets")),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "dropped" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum,
        "backlog" -> (app - allFixed.filter(_._3 <= t).map(_._1.numInputRows).sum),
        // Event time between the newest arrival and the watermark; none
        // before the first watermark is set.
        "watermark_lag_s" -> Option(p.eventTime.get("max")).filter(_ => watermarkUs(p) > 0)
          .map(java.time.Instant.parse)
          .map(i => (i.getEpochSecond * 1000000L + i.getNano / 1000 - watermarkUs(p)) / 1e6))
      },
      "late_dropped" -> lateDropped,
      "late_sent" -> lateSent)
  }

  private def rowKey(r: Row): (Long, Long, Long, Long, Double) = {
    def us(t: Timestamp) = t.getTime * 1000 + (t.getNanos / 1000) % 1000
    (r.getAs[Long]("user_id"), us(r.getAs[Timestamp]("session_start")),
      us(r.getAs[Timestamp]("session_end")), r.getAs[Long]("n_events"),
      r.getAs[Double]("sum_value"))
  }
}
