package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbench.Probe

/** The closed-loop batch workload: one client runs every key of the
  * workload once per pass, writing every result column to Spark's `noop`
  * sink, and starts the next call only when the previous one returned. */
object BatchLoop {
  final case class Kind(name: String, keys: Seq[String], tables: Seq[String])

  /** Event-family keys over `events` (sessionize_, window_, win_, ts_,
    * funnel_, cohort_), one or two per family. A full pass over all 58
    * such keys takes 30-45 s on 4 CPUs whatever the input size (each query
    * costs about 0.4 s of planning and scheduling), which does not fit the
    * run budget. ts_interpolate is the known full-materialization outlier. */
  val Events = Kind("events_analytics", Seq(
    "cohort_retention", "funnel_steps", "sessionize_batch", "sessionize_native",
    "ts_gap_fill", "ts_interpolate", "win_lag_lead", "window_tumbling"),
    Seq("events"))

  /** Timed passes per run, at least. */
  val MinPasses = 4
  /** Untimed passes in set-up. */
  val WarmupPasses = 2

  /** One timed call: its latency, and when its result reached the sink,
    * counted from the start of its pass. */
  final case class Op(pass: Int, key: String, seconds: Double, doneAt: Double)
  final case class Failure(pass: Int, key: String, error: String)
  final case class Pass(index: Int, traced: Boolean, seconds: Double)

  /** Everything one loop over the keys produced. */
  final class Loop(val queries: Map[String, Tables.Q], val dir: String) {
    val ops = ArrayBuffer.empty[Op]
    val failures = ArrayBuffer.empty[Failure]
    val passes = ArrayBuffer.empty[Pass]
    var attempted = 0
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One pass: every key once. */
  def pass(s: SparkSession, keys: Seq[String], loop: Loop, index: Int, trace: Trace): Unit = {
    val sc = s.sparkContext
    val t0 = System.nanoTime()
    trace.span("pass", s"$index") {
      keys.foreach { k =>
        val op = s"$index/$k"
        loop.attempted += 1
        val k0 = System.nanoTime()
        try {
          if (trace.enabled) sc.setLocalProperty(Probe.Tag, s"$op|build")
          val df = trace.span("entry.build", op)(loop.queries(k)(s, loop.dir))
          if (trace.enabled) sc.setLocalProperty(Probe.Tag, s"$op|exec")
          trace.span("write", op)(noop(df))
          val now = System.nanoTime()
          loop.ops += Op(index, k, (now - k0) / 1e9, (now - t0) / 1e9)
        } catch {
          case NonFatal(e) => loop.failures += Failure(index, k, errorText(e))
        } finally if (trace.enabled) sc.setLocalProperty(Probe.Tag, null)
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    loop.passes += Pass(index, trace.enabled, secs)
    Main.note(f"pass $index: $secs%.2fs")
  }

  def errorText(e: Throwable): String =
    (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  /** Registration and warm-up: resolve each input table and scan it once. */
  def prepare(kind: Kind, dir: String)(s: SparkSession): Unit =
    kind.tables.foreach { t =>
      val df = if (t == "events") Tables.events(s, dir) else Tables.t(s, dir, t)
      noop(df)
    }

  def run(a: Main.Args, kind: Kind): Map[String, Any] = {
    val keys = kind.keys
    // Warm-up, part of set-up: untimed passes, so the timed passes do not
    // measure the JVM compiling Spark's planner.
    val setup = Main.setUp(a, { s =>
      prepare(kind, a.data)(s)
      for (i <- 1 to WarmupPasses)
        pass(s, keys, new Loop(SparkEntry.queries, a.data), -i, new Trace(false))
    })
    val s = setup.session
    val loop = new Loop(SparkEntry.queries, a.data)
    val gc0 = Stats.gcSeconds()
    val untraced = new Trace(false)
    var layers = Map.empty[String, Any]
    var trace: Trace = untraced
    // Read when the timed passes end, before the traced run's extra probes.
    var gcPerPass = 0.0
    var heapPeak = 0.0

    if (!a.trace) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        pass(s, keys, loop, i, untraced)
        i += 1
      }
      gcPerPass = (Stats.gcSeconds() - gc0) / loop.passes.size
      heapPeak = Stats.heapPeakMb()
    } else {
      // Traced run: traced and untraced passes alternate, so the tracing
      // overhead is measured against passes made under the same conditions.
      trace = new Trace(true)
      val probe = new Probe
      Probe.attach(s, probe)
      val rule0 = Probe.ruleRuns("graft.plans.LevenshteinPrefilter")
      for (i <- 0 until 3) {
        if (i % 2 == 0) probe.recordDuring(s.sparkContext)(pass(s, keys, loop, i, trace))
        else pass(s, keys, loop, i, untraced)
      }
      val rule1 = Probe.ruleRuns("graft.plans.LevenshteinPrefilter")
      Probe.detach(s, probe)
      gcPerPass = (Stats.gcSeconds() - gc0) / loop.passes.size
      heapPeak = Stats.heapPeakMb()
      layers = Layers.batch(a, loop, trace, probe,
        ruleEffective = rule1._1 - rule0._1, ruleRuns = rule1._2 - rule0._2)
      layers ++= Layers.countOverFull(s, loop, keys)
      layers ++= Layers.memoProbe(s, a.data)
      layers ++= Layers.functions(s)
    }
    val peakRss = Stats.peakRssMb()

    // Correctness gate, untimed: oracle keys write their full result for
    // run.py to compare against DuckDB, on the session of the last pass.
    val gate = new File(a.out, "gate")
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cpus)
    val gateFailures = try {
      oracle.keys.toSeq.sorted.map { k =>
        pool.submit(() =>
          try { loop.queries(k)(s, a.data).write.mode("overwrite").parquet(new File(gate, k).getPath); None }
          catch { case NonFatal(e) => Some(Failure(-1, k, errorText(e))) })
      }.flatMap(_.get)
    } finally pool.shutdown()
    Json.write(new File(gate, "oracle_sql.json"), oracle)
    Main.note("gate outputs written")

    if (a.trace) {
      // Single-thread baseline: one untraced pass on local[1].
      Main.stop(s)
      val one = Main.session(a, 1)
      prepare(kind, a.data)(one)
      val solo = new Loop(loop.queries, a.data)
      pass(one, keys, solo, 0, untraced)
      layers += "scale.local1_pass_s" -> solo.passes.head.seconds
      Main.stop(one)
      trace.writeTo(new File(a.out, "spans.jsonl"))
    }

    Map(
      "workload" -> kind.name,
      "cpus" -> a.cpus,
      "keys" -> keys,
      "ready_ms" -> setup.readyMs,
      "sessions_start_s" -> setup.startS,
      "ops" -> loop.ops.map(o => Map("pass" -> o.pass, "key" -> o.key, "s" -> o.seconds,
        "done_s" -> o.doneAt)),
      "failures" -> (loop.failures ++ gateFailures).map(f =>
        Map("pass" -> f.pass, "key" -> f.key, "error" -> f.error)),
      "attempted" -> loop.attempted,
      "passes" -> loop.passes.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "s" -> p.seconds)),
      "gc_s_per_pass" -> gcPerPass,
      "heap_peak_mb" -> heapPeak,
      "peak_rss_mb" -> peakRss,
      "layers" -> layers)
  }
}
