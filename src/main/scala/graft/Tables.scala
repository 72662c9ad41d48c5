package graft

import java.util.concurrent.ConcurrentHashMap
import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loaders + cross-engine determinism helpers.
  *
  * Every query result that the driver hash-compares against the DuckDB
  * oracle must be value-deterministic across engines. Two rules applied
  * throughout (SURVEY.md §5.2):
  *  - float SUMs go through an exact DECIMAL accumulator and come back as
  *    DOUBLE (`dsum`) — summation order then cannot matter;
  *  - order-insensitive float aggregates (avg/stddev/corr/percentile) are
  *    rounded to a precision far above their accumulation error.
  */
object Tables {
  type Q = (SparkSession, String) => DataFrame

  /** Table `name` under `dir`, read with its schema inferred once per
    * JVM. Inferring a Parquet schema runs a Spark job, and every key build
    * calls `t`, so a short query paid one job per build. The inferred
    * schema is kept per (path, Parquet type-resolution confs) together
    * with the listing it came from; a changed listing (a rewritten table)
    * infers again. Each call still returns a fresh relation with fresh
    * attribute ids, so self-joins behave as with a plain read. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    listing(spark, path) match {
      case None => spark.read.parquet(path) // missing path: Spark's own error
      case Some(files) =>
        val key = (path, schemaConfs.map(spark.conf.get))
        val schema = Option(schemas.get(key)).collect { case (`files`, st) => st }
          .getOrElse {
            val st = spark.read.parquet(path).schema
            schemas.put(key, (files, st))
            st
          }
        spark.read.schema(schema).parquet(path)
    }
  }

  /** Session confs that change the schema Parquet inference resolves. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private type Listing = Seq[(String, Long, Long)]
  private val schemas = new ConcurrentHashMap[(String, Seq[String]), (Listing, StructType)]()

  /** (file, length, modification time) of every file under `path`, or
    * None when the path cannot be listed. */
  private def listing(spark: SparkSession, path: String): Option[Listing] = Try {
    val p = new Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val b = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      b += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    b.result().sorted
  }.toOption

  /** Round-robin fan-out for SINGLE-SPLIT scans only (round 15, gating
    * the round-14 unconditional repartitions — guide §2.6 vs §2.4): the
    * compact test parquet arrives as ONE scan split, so a key whose
    * expensive per-row work lives in the scan stage ran it on one core;
    * a production corpus arrives in thousands of splits and must NOT pay
    * a corpus-wide shuffle down to #cores partitions for zero benefit.
    * The gate reads the frame's actual scan parallelism (no job runs —
    * partition math only) and repartitions only when it is below the
    * session default. Optional `keys` keep the round-14 keyed variant
    * (deterministic per-doc placement) where a consumer relied on it. */
  def fanOutIfCompact(df: DataFrame, keys: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else if (keys.isEmpty) df.repartition(p)
    else df.repartition(p, keys: _*)
  }

  /** Drop managed table `name` and delete its warehouse location; call
    * before each `saveAsTable`. A fresh JVM starts with an empty
    * in-memory catalog, but the location a killed run left behind
    * outlives it, and `saveAsTable` then fails with
    * LOCATION_ALREADY_EXISTS. */
  def dropManagedTable(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), name)
    loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
  }

  /** Schema-adaptive `ts` normalization. The driver's testdata has shipped
    * `events.ts` in two encodings across regens:
    *  - parquet timestamp[ns], which Spark 4.x refuses to read natively
    *    ([PARQUET_TYPE_ILLEGAL]) — under `nanosAsLong=true` it resolves as
    *    raw-nanos LongType, which we truncate to µs;
    *  - parquet timestamp[us] (no tz), which resolves natively as
    *    TIMESTAMP_NTZ — cast to TIMESTAMP (same instant under the UTC
    *    session timezone used everywhere in this engine).
    * Both paths are bit-identical to the oracle's `CAST(ts AS TIMESTAMP)`
    * (DuckDB's ns→µs cast also truncates). Branching on the *resolved*
    * type makes the read immune to further encoding drift.
    */
  def normalizeTs(df: DataFrame, name: String = "ts"): DataFrame =
    df.schema(name).dataType match {
      case LongType         => df.withColumn(name, timestamp_micros(expr(s"`$name` div 1000")))
      case _: TimestampNTZType => df.withColumn(name, col(name).cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.`$name` resolved as unsupported type $other")
    }

  def events(spark: SparkSession, dir: String): DataFrame = {
    // Keep the legacy conf set so ns-encoded data still resolves (as Long).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(spark, dir, "events"))
  }

  /** Exact float sum: accumulate in DECIMAL(18,4) (associative, exact),
    * surface as DOUBLE. Oracle twin:
    * `CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  /** Same with 6 fractional digits for small-magnitude values (events.value). */
  def dsum6(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast(DoubleType)

  /** First non-null `c` at or after the current row, in `order`
    * (ascending, nulls first) within `partition`. Spark evaluates a
    * `currentRow..unboundedFollowing` frame again from every row, O(n²)
    * per partition, so this reads it as the running frame of the mirrored
    * order: the last non-null up to the current row under each column's
    * `desc_nulls_last`. Equal to `first(c, ignoreNulls)` over the
    * following frame wherever rows that tie on `order` are null in `c`
    * (the as-of joins' tie shape) or no rows tie. */
  def nextNonNull(c: Column, partition: Column, order: Seq[Column]): Column =
    last(c, ignoreNulls = true).over(Window.partitionBy(partition)
      .orderBy(order.map(_.desc_nulls_last): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** Oracle-side SQL fragment matching [[dsum]]. */
  def dsumSql(x: String): String = s"CAST(sum(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"
  def dsum6Sql(x: String): String = s"CAST(sum(CAST($x AS DECIMAL(18,6))) AS DOUBLE)"

  /** Hex digits `from`..`from + len - 1` (1-based) of string column `h`
    * as an unsigned integer string; each caller casts it to int or long.
    * Oracle twin: [[hexIntSql]]. */
  def hexInt(h: Column, from: Int, len: Int): Column =
    conv(substring(h, from, len), 16, 10)

  /** DuckDB twin of [[hexInt]], already a BIGINT: DuckDB has no base-conv
    * builtin, so each hex digit decodes positionally (strpos is 1-based)
    * and weighs in by its power of 16. */
  def hexIntSql(h: String, from: Int, len: Int): String =
    (0 until len).map { i =>
      val w = 1L << (4 * (len - 1 - i))
      s"(CAST(strpos('0123456789abcdef', substr($h, ${from + i}, 1)) AS BIGINT) - 1)" +
        (if (w > 1) s" * $w" else "")
    }.mkString("( ", "\n   + ", "\n   )")
}
