package graft.operators

import graft.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation utilities.
  *
  * AQE's skew-join handling splits oversized *sort-merge* partitions at
  * runtime, which covers most cases; salting is the explicit fallback for
  * the shapes AQE cannot rewrite (shuffle-hash joins, skewed aggregation
  * keys, or a hot key that must co-locate with state). Both utilities are
  * result-identical to their unsalted forms — the salt only changes the
  * partitioning, never the join/group semantics — so they carry a normal
  * DuckDB oracle.
  */
object SkewOps {

  /** Salted equi-join on a shared column name: the probe side gets a
    * per-row salt in [0, factor); the build side is replicated `factor`
    * times; the join runs on (key, salt), spreading one hot key over
    * `factor` shuffle partitions. The salt derives from
    * `monotonically_increasing_id` — its values differ run to run, but the
    * join result is salt-invariant by construction. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String, factor: Int,
      how: String = "inner"): DataFrame = {
    val salted = probe.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(factor)).cast("int"))
    val replicated = build.withColumn("__salt",
      explode(array((0 until factor).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt"), how).drop("__salt")
  }

  /** Two-phase salted aggregation for algebraic aggregates over a skewed
    * group key: partial-aggregate on (key, salt), then final-aggregate on
    * key. Spark's own partial aggregation already does this per input
    * partition; the explicit salted form matters when the *shuffled*
    * per-key partials are still too hot (e.g. high-cardinality partial
    * states such as collect-style or distinct-ish buffers). */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
      factor: Int): DataFrame = {
    df.withColumn("__salt",
        pmod(xxhash64(monotonically_increasing_id()), lit(factor)).cast("int"))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol).cast("decimal(18,4)")).as("__psum"),
        count(lit(1)).as("__pcnt"))
      .groupBy(col(key))
      .agg(sum(col("__psum")).cast("double").as("sum_val"),
        sum(col("__pcnt")).as("cnt"))
  }

  val ops: Seq[Op] = Seq(
    // Salted fact⋈fact join + aggregate: result provably salt-invariant,
    // so it hash-matches the plain-join oracle.
    Op("join_skew_salted", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_extendedprice"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
      saltedJoin(li, ord, "okey", factor = 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    },
      Some(s"""SELECT o.o_orderstatus, count(*) AS n,
              | ${dsumSql("l.l_extendedprice")} AS sum_price
              |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)),
  )
}
