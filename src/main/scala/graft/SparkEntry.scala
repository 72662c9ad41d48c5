package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The operator registry: every module's [[Op]]s, one per key.
  *
  * `queries` is the full operator inventory (SURVEY.md §2); `oracleSql`
  * carries the DuckDB-equivalent SQL for every hash-verifiable key. Keys
  * without oracle SQL are covered by property/parity tests in `src/test`
  * instead.
  */
object SparkEntry {

  /** Flagship: native session-window sessionization of the event stream —
    * the reference's raison d'être (gap-based sessions per user). Driver
    * smoke-checks rows > 0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    queries("sessionize_native")(spark, dir)
  }

  /** Every operator, in module order. A key declared twice fails here, at
    * initialization, instead of one declaration silently shadowing the
    * other in the maps below. */
  val ops: Seq[Op] = distinctKeys(Seq(Scans.ops, Filters.ops, Joins.ops,
    Aggregates.ops, SortSetOps.ops, WindowFuncs.ops, Sessionization.ops,
    ScalarFuncs.ops, TextOps.ops, DedupOps.ops, SimilarityOps.ops,
    MultimodalOps.ops, SkewOps.ops, RelationalExt.ops, TpchOps.ops,
    AnalyticsExt.ops, StatsExt.ops, SegmentOps.ops, GraphOps.ops).flatten)

  private[graft] def distinctKeys(ops: Seq[Op]): Seq[Op] = {
    val dups = ops.groupBy(_.key).collect { case (k, v) if v.size > 1 => k }
    require(dups.isEmpty, s"operator keys declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    ops
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.map(o => o.key -> o.build).toMap

  /** For each oracle-verified key, equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables. */
  val oracleSql: Map[String, String] =
    ops.collect { case Op(k, _, Some(sql)) => k -> sql }.toMap
}
