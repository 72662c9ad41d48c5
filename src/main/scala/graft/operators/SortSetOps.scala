package graft.operators

import graft.Tables._
import org.apache.spark.sql.functions._

/** §2.6 global sort / top-k / set operations.
  * `topk_limit` compiles to TakeOrderedAndProject (per-partition heap +
  * driver merge — no global sort at scale); the global sort is
  * range-partitioned (sampling + range exchange).
  */
object SortSetOps {

  val ops: Seq[Op] = Seq(
    Op("sort_multi_col", (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(col("o_orderstatus").asc, col("o_totalprice").desc, col("o_orderkey").asc),
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC""".stripMargin)),

    Op("topk_limit", (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(100),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
             |LIMIT 100""".stripMargin)),

    Op("set_union_all", (s, dir) =>
      t(s, dir, "customer").select(lit("c").as("side"), col("c_custkey").as("key"))
        .unionAll(t(s, dir, "supplier").select(lit("s").as("side"), col("s_suppkey").as("key")))
        .orderBy("side", "key"),
      Some("""SELECT 'c' AS side, c_custkey AS key FROM customer
             |UNION ALL SELECT 's' AS side, s_suppkey AS key FROM supplier
             |ORDER BY side, key""".stripMargin)),

    Op("set_union_distinct", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("key"))
        .union(t(s, dir, "supplier").select(col("s_suppkey").as("key")))
        .distinct()
        .orderBy("key"),
      Some("""SELECT c_custkey AS key FROM customer
             |UNION SELECT s_suppkey AS key FROM supplier ORDER BY key""".stripMargin)),

    Op("set_intersect", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("key"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("key")))
        .orderBy("key"),
      Some("""SELECT c_custkey AS key FROM customer
             |INTERSECT SELECT o_custkey AS key FROM orders ORDER BY key""".stripMargin)),

    Op("set_except", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("key"))
        .except(t(s, dir, "orders").select(col("o_custkey").as("key")))
        .orderBy("key"),
      Some("""SELECT c_custkey AS key FROM customer
             |EXCEPT SELECT o_custkey AS key FROM orders ORDER BY key""".stripMargin)),

    // Schema-evolution union (data-lake reality: files written before a
    // column existed union'd with files written after): unionByName with
    // allowMissingColumns NULL-fills the missing side — positional
    // unionAll would silently misalign.
    Op("set_union_schema_evolution", (s, dir) => {
      val v1 = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val v2 = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("source"), col("n_chars"))
      v1.unionByName(v2, allowMissingColumns = true)
        .orderBy(col("doc_id"), col("source").asc_nulls_first)
    },
      Some("""SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source,
             | CAST(NULL AS BIGINT) AS n_chars FROM documents
             |UNION ALL
             |SELECT doc_id, lang, source, n_chars FROM documents
             |ORDER BY doc_id, source ASC NULLS FIRST""".stripMargin)),
  )
}
