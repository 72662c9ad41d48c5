package graftbench

import java.io.File

import graft.Tables
import org.apache.spark.sql.functions._

/** Harness self-test, driven by tests/test_bench.py: runs one pass of
  * synthetic keys through the same loop the workloads use and writes what
  * the loop recorded to `<outDir>/selftest.json`.
  *
  *  - `throws_at_build` and `throws_at_run` must be recorded as failures,
  *    never as times;
  *  - `count_cheap` computes an expensive column that `count()` prunes
  *    away, so its full-result time must dwarf its count time.
  *
  * Usage: graftbench.SelfTest <outDir>
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val out = new File(argv(0))
    out.mkdirs()
    val a = Main.Args("selftest", "", out, 0, trace = false, cpus = 2)
    val s = Main.session(a, a.cpus)
    val slow = udf((x: Long) => { Thread.sleep(5); x })
    val queries: Map[String, Tables.Q] = Map(
      "throws_at_build" -> ((_, _) => throw new IllegalStateException("boom at build")),
      "throws_at_run" -> ((s, _) => s.range(10).select(raise_error(lit("boom at run")))),
      "count_cheap" -> ((s, _) =>
        s.range(0, 400, 1, 2).select(col("id"), slow(col("id")).as("slow"))))
    val loop = new BatchLoop.Loop(queries, "")
    BatchLoop.pass(s, queries.keys.toSeq.sorted, loop, 0, new Trace(false))
    queries("count_cheap")(s, "").count() // warm, so the timed count is not set-up
    val t0 = System.nanoTime()
    queries("count_cheap")(s, "").count()
    val countS = (System.nanoTime() - t0) / 1e9
    Json.write(new File(out, "selftest.json"), Map(
      "ops" -> loop.ops.map(o => Map("key" -> o.key, "s" -> o.seconds)),
      "failures" -> loop.failures.map(f => Map("key" -> f.key, "error" -> f.error)),
      "attempted" -> loop.attempted,
      "count_s" -> countS))
    Main.stop(s)
    sys.exit(0)
  }
}
