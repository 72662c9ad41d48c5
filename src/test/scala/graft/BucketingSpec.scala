package graft

import org.apache.spark.sql.functions._

/** Bucketed-table co-located join: pre-hashing both fact tables into the
  * same bucket layout eliminates the shuffle a fact⋈fact join would
  * otherwise pay on every query — the 100 TB pattern for repeatedly
  * joined tables. Asserted at the plan level: the bucketed join carries
  * no hash-partitioning exchange; the unbucketed twin carries two.
  */
class BucketingSpec extends SparkSpec {

  test("the shared session's warehouse is private to its test JVM") {
    // managed tables written by one forked test group must not land in
    // the working directory, where another group rewrites them at once
    val wh = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      .toAbsolutePath.normalize
    val cwd = java.nio.file.Paths.get("").toAbsolutePath.normalize
    assert(!wh.startsWith(cwd), s"warehouse $wh is under $cwd")
  }

  test("bucketed fact-to-fact join runs without a shuffle exchange") {
    Tables.dropManagedTable(spark, "li_b")
    Tables.dropManagedTable(spark, "ord_b")

    Tables.t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_extendedprice")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables.t(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")

    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString

    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")

    // same join on the raw parquet shuffles both sides
    val raw = Tables.t(spark, sfDir, "lineitem").select("l_orderkey", "l_extendedprice")
      .join(Tables.t(spark, sfDir, "orders").select("o_orderkey", "o_orderstatus"),
        col("l_orderkey") === col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(raw.contains("Exchange hashpartitioning") || raw.contains("BroadcastExchange"),
      s"unbucketed baseline unexpectedly shuffle-free:\n$raw")

    // and the results agree
    val a = joined.agg(count(lit(1)), sum("l_extendedprice")).collect()(0)
    val b = Tables.t(spark, sfDir, "lineitem").select("l_orderkey", "l_extendedprice")
      .join(Tables.t(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)), sum("l_extendedprice")).collect()(0)
    assert(a.getLong(0) == b.getLong(0))
    assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-6)

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
  }
}
