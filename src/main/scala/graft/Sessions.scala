package graft

import org.apache.spark.sql.SparkSession

/** Local-mode session hardening shared by every entry point (bench, verify,
  * smoke) and the test suite's shared session.
  *
  * Round 14's driver runs (both bench sweeps and the test suite) died with
  * exit code 56 — `ExecutorExitCode.HEARTBEAT_FAILURE`: on a contended box
  * one long GC/CPU stall makes the local-mode executor miss enough
  * heartbeats that it kills its own JVM mid-sweep, so the bench's one-line
  * JSON never prints. These are stability settings only: they change no
  * plan, no timing methodology, and no query result — they stop the
  * measurement process from killing itself (optimization guide §7.4:
  * find why the executor dies; here the executor and driver share a JVM
  * and a box-wide stall is not a sick node).
  */
object Sessions {
  def harden(b: SparkSession.Builder): SparkSession.Builder = b
    // Heartbeat RPCs time out after the interval; 60s rides out a full GC.
    .config("spark.executor.heartbeatInterval", "60s")
    // Must exceed heartbeatInterval; also covers shuffle-fetch stalls.
    .config("spark.network.timeout", "600s")
    // Keep the default count explicit: 60 consecutive misses at 60s each
    // means the JVM only self-kills after ~an hour of total unresponsiveness.
    .config("spark.executor.heartbeat.maxFailures", "60")

  /** A hardened `local[cpus]` session with as many shuffle partitions,
    * UTC, no UI and WARN logging: the one shape every main and the test
    * suite run in. */
  def local(cpus: String): SparkSession = {
    val s = harden(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
