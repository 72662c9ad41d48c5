package graft

import org.apache.spark.sql.SparkSession

/** Local-mode session settings shared by every entry point (bench, verify,
  * smoke), graftbench's session and the test suite's shared session. None
  * of them changes a plan or a query result.
  *
  * Stability. Round 14's bench sweeps and suite runs died with exit code 56
  * (`ExecutorExitCode.HEARTBEAT_FAILURE`): on a contended box one long
  * GC/CPU stall makes the local-mode executor miss enough heartbeats that
  * it kills its own JVM mid-sweep. The executor and driver share a JVM, so
  * a box-wide stall is not a sick node; the three heartbeat settings stop
  * the process from killing itself.
  *
  * Per-query floor. At the scales graft is benchmarked, a query's fixed
  * costs outweigh its data:
  *  - `spark.sql.codegen.cache.maxEntries` 1000 (default 100). One pass
  *    over graftbench's 8 events keys needs about 150 distinct generated
  *    classes, so with 100 entries a pass that cycles through the same
  *    keys evicts most classes before they are reused and recompiles 137
  *    of them each pass. A whole-catalog sweep, which builds each key
  *    once, still reuses classes across keys and compiles about a third
  *    fewer. Static conf: the cache is sized once per JVM, so it must be
  *    set on the builder.
  *  - `spark.buffer.pageSize` 8m. On a 3 GB heap with local[4] Spark
  *    derives 16 MB pages, and every sort or aggregate task allocates at
  *    least one page even on KB-sized inputs; with faster passes that
  *    raised peak RSS by a quarter. 8 MB held RSS below the old level; 4 MB
  *    did too but slowed the streaming micro-batches. A task can hold
  *    8,192 pages (64 GB at 8 MB), and a record larger than a page still
  *    gets a page of its own.
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
    .config("spark.sql.codegen.cache.maxEntries", "1000")
    .config("spark.buffer.pageSize", "8m")

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
