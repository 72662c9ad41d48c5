package graftbench

import java.io.File

import graft.Sessions
import org.apache.spark.sql.SparkSession

/** JVM side of the graft benchmark. `run.py` generates the inputs, starts
  * this main, then checks outputs and reduces the raw samples it writes.
  *
  * Usage: graftbench.Main <workload> <dataDir> <outDir> <seconds> <trace 0|1> <cpus>
  *
  * Writes `<outDir>/result.json` (raw samples and, when traced, per-layer
  * metrics), `<outDir>/spans.jsonl` when traced, and the untimed
  * correctness-gate outputs under `<outDir>/gate`.
  */
object Main {
  final case class Args(workload: String, data: String, out: File,
      seconds: Double, trace: Boolean, cpus: Int)

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def note(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2fs] $msg")

  def main(argv: Array[String]): Unit = {
    val Array(workload, data, out, seconds, trace, cpus) = argv
    val a = Args(workload, data, new File(out), seconds.toDouble, trace == "1", cpus.toInt)
    a.out.mkdirs()
    val result = workload match {
      case "events_analytics" => BatchLoop.run(a, BatchLoop.Events)
      case "session_stream" => StreamLoop.run(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Json.write(new File(a.out, "result.json"), result)
    sys.exit(0)
  }

  /** A session configured the way graft's README tells users to: graft's
    * extensions installed, UTC, and `Sessions.harden`. Spark's scratch
    * space stays inside the run directory. */
  def session(a: Args, cpus: Int): SparkSession = {
    val s = Sessions.harden(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.out, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Stop `s` and drop it as the active/default session, so the next
    * builder call creates a fresh context. */
  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The session and input set up, `startS` the seconds `session` took,
    * `readyMs` the wall-clock time set-up ended. */
  final case class Setup(session: SparkSession, startS: Double, readyMs: Long)

  /** Set up once, in this freshly started JVM: create the session, then
    * `prepare` it (register the inputs and warm up). run.py counts
    * `setup_s` from the launch of this JVM to `readyMs`. */
  def setUp(a: Args, prepare: SparkSession => Unit): Setup = {
    val n0 = System.nanoTime()
    val s = session(a, a.cpus)
    val startS = (System.nanoTime() - n0) / 1e9
    prepare(s)
    val ready = System.currentTimeMillis()
    note(s"set up ${(ready - jvmStart) / 1e3}s after JVM start")
    Setup(s, startS, ready)
  }
}
