package graft.operators

import graft.Tables._
import org.apache.spark.sql.functions._

/** §2.2 projection / filter / scalar predicates (KStream.filter/mapValues
  * analog). All comparison predicates are plain Catalyst expressions so
  * they push down to the parquet reader.
  */
object Filters {

  val ops: Seq[Op] = Seq(
    Op("project_arith", (s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        // No rounding: identical op order ⇒ bit-identical doubles in both
        // engines (round() itself is NOT cross-engine stable at boundaries).
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).as("net_price"),
      ).orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             | l_extendedprice*(1.0-l_discount) AS disc_price,
             | l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS net_price
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Op("filter_compare", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")
          && col("l_quantity") < 24)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' AND l_quantity < 24
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Op("filter_in_like_between", (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_type").like("PROMO%")
          && col("p_brand").isin("Brand#1", "Brand#2", "Brand#3", "Brand#10")
          && col("p_size").between(5, 40))
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
             |WHERE p_type LIKE 'PROMO%'
             |  AND p_brand IN ('Brand#1','Brand#2','Brand#3','Brand#10')
             |  AND p_size BETWEEN 5 AND 40
             |ORDER BY p_partkey""".stripMargin)),

    Op("filter_null_safe", (s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey")
      val o = t(s, dir, "orders").select("o_custkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .select((col("c_custkey") <=> col("o_custkey")).as("same_key"),
          col("o_custkey").isNull.as("no_order"))
        .groupBy("same_key", "no_order").agg(count(lit(1)).as("cnt"))
        .orderBy("same_key", "no_order")
    },
      Some("""SELECT (c_custkey IS NOT DISTINCT FROM o_custkey) AS same_key,
             | (o_custkey IS NULL) AS no_order, count(*) AS cnt
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
  )
}
