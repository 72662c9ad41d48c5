package graft.operators

import graft.Tables._
import org.apache.spark.sql.functions._

/** §2.1 sources: parquet scans, column pruning, the ns-timestamp source,
  * and CSV/JSON interchange round-trips.
  *
  * Reference semantics: topic consume (`StreamsBuilder.stream`) — here a
  * columnar parquet scan whose projection/predicates Catalyst pushes into
  * the reader (verify via `.explain`: ReadSchema / PushedFilters).
  *
  * The CSV/JSON keys prove lossless interchange: parquet → text format →
  * read back with an explicit schema, hash-compared against the oracle's
  * direct parquet read. Doubles survive because both writers emit
  * shortest-round-trip decimal strings. The temp dir is per-JVM and the
  * write is overwrite-mode, so the query stays deterministic.
  */
object Scans {
  private def roundTrip(s: org.apache.spark.sql.SparkSession, dir: String,
      fmt: String): org.apache.spark.sql.DataFrame = {
    val src = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_rt_$fmt"
    src.write.mode("overwrite").format(fmt).save(tmp)
    s.read.format(fmt).schema(src.schema).load(tmp)
      .orderBy("o_orderkey")
  }

  val ops: Seq[Op] = Seq(
    Op("scan_parquet", (s, dir) =>
      t(s, dir, "lineitem").orderBy("l_orderkey", "l_linenumber"),
      Some("SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber")),

    Op("scan_events_ns", (s, dir) =>
      events(s, dir).orderBy("event_id"),
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
             |FROM events ORDER BY event_id""".stripMargin)),

    Op("scan_schema_projection", (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Op("scan_csv_roundtrip", (s, dir) => roundTrip(s, dir, "csv"),
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             | o_orderpriority
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    Op("scan_json_roundtrip", (s, dir) => roundTrip(s, dir, "json"),
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             | o_orderpriority
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ORC round-trip — the second columnar format (same pushdown/pruning
    // machinery as parquet via the vectorized ORC reader).
    Op("scan_orc_roundtrip", (s, dir) => roundTrip(s, dir, "orc"),
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             | o_orderpriority
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Hive-style partitioned layout: write documents partitioned by lang
    // (lang=en/part-*.parquet directories), read back through partition
    // DISCOVERY, and filter on the partition column. The point is the
    // plan: the lang predicate must become a PartitionFilter — directory
    // pruning that never opens non-matching files (PlanSpec pins it).
    // At 100 TB partition-dir pruning is the first and cheapest I/O
    // eliminator a corpus layout provides (lang/source/date are the
    // natural keys); the explicit select restores the pre-partitioning
    // column order (discovery appends partition columns at the end).
    // Hidden file-metadata columns — PROVENANCE, the thing a 100 TB
    // curation pipeline must carry for every document (which shard/crawl
    // file did this row come from, for audits, re-extraction, and
    // contamination tracebacks). `_metadata.file_name` / `.row_index`
    // are constant/generated per split in the scan itself — zero I/O
    // beyond the row group, no join against a file manifest. The oracle
    // states the closed form (the testdata table is a single file whose
    // row order is doc_id order — the row_index ≡ doc_id identity is
    // itself the check that the reader preserves file order).
    Op("scan_metadata_cols", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("_metadata.file_name").as("file_name"),
          col("_metadata.row_index").as("row_index"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, 'documents.parquet' AS file_name,
             | doc_id AS row_index
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // SCHEMA EVOLUTION at the scan (mergeSchema): a corpus written over
    // months gains columns — v1 files lack the later `quality` score, v2
    // files carry it. One mergeSchema read reconciles the footers into
    // the union schema (old files surface NULL for the new column), so
    // the pipeline reads the whole corpus without a rewrite — the
    // set_union_schema_evolution key's semantics pushed down INTO the
    // source, where a 100 TB corpus actually needs it (rewriting
    // petabytes to add a column is not an option). count(quality) vs
    // count(*) is the per-version coverage readout.
    Op("scan_merge_schema", (s, dir) => {
      val docs = t(s, dir, "documents")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_schema_evo"
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/v=1")
      docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("n_chars") / lit(1000.0)).as("quality"))
        .write.mode("overwrite").parquet(s"$tmp/v=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(col("quality")).as("n_scored"),
          dsum6(col("quality")).as("sum_quality"))
        .orderBy("lang")
    },
      Some(s"""SELECT lang, count(*) AS n_docs,
              | count(*) FILTER (WHERE doc_id % 2 <> 0) AS n_scored,
              | ${dsum6Sql("CASE WHEN doc_id % 2 <> 0 THEN n_chars / 1000.0 END")}
              |   AS sum_quality
              |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Bucketed-table co-located join: both fact tables are written
    // pre-hashed into the SAME bucket layout (8 buckets on the order
    // key, sorted within buckets), so the fact⋈fact join at query time
    // needs NO exchange at all — each task zips bucket i with bucket i
    // and sort-merges in place. This is THE repeated-big-join answer at
    // 100 TB: the shuffle is paid once at write time and amortized over
    // every subsequent query (the merge hint keeps the test-scale plan
    // on the bucketed SMJ path instead of a broadcast, mirroring the
    // cluster regime where neither fact side fits memory). The only
    // exchange left in this plan is the final group-by's
    // (BucketingSpec + PlanSpec pin exactly that).
    Op("scan_bucketed_join", (s, dir) => {
      def save(name: String, df: org.apache.spark.sql.DataFrame,
          key: String): Unit = {
        dropManagedTable(s, name)
        df.write.bucketBy(8, key).sortBy(key).mode("overwrite")
          .saveAsTable(name)
      }
      save("graft_li_bucketed",
        t(s, dir, "lineitem").select("l_orderkey", "l_quantity"), "l_orderkey")
      save("graft_ord_bucketed",
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        "o_orderkey")
      s.table("graft_li_bucketed").hint("merge")
        .join(s.table("graft_ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("li_cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    },
      Some(s"""SELECT o_orderpriority, count(*) AS li_cnt,
              | ${dsumSql("l_quantity")} AS sum_qty
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    Op("scan_hive_partitioned", (s, dir) => {
      val src = t(s, dir, "documents")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_hive_docs"
      src.write.mode("overwrite").partitionBy("lang").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("lang") === "en")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin)),

    // Line-oriented text interchange — the raw-crawl ingest format (WET
    // dumps, jsonl-adjacent logs arrive as one record per line). Write
    // `doc_id<SOH>text` lines via the text source, read them back with
    // `spark.read.text`, and re-split on the first separator. The corpus
    // text is newline/tab-free by construction (FIXTURES.md), and \u0001
    // (the classic Hive field separator, absent from any printable
    // corpus) is a collision-free field delimiter. Splits stream
    // line-by-line — a text scan is the one source whose input split
    // boundary is a row boundary, so 100 TB of lines parallelizes to
    // byte-range splits with no footer metadata at all.
    Op("scan_text_lines", (s, dir) => {
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_rt_text"
      t(s, dir, "documents")
        .select(concat_ws("\u0001", col("doc_id"), col("text")).as("value"))
        .write.mode("overwrite").format("text").save(tmp)
      s.read.text(tmp)
        .select(
          substring_index(col("value"), "\u0001", 1).cast("long").as("doc_id"),
          substring_index(col("value"), "\u0001", -1).as("text"))
        .orderBy("doc_id")
    },
      Some("SELECT doc_id, text FROM documents ORDER BY doc_id")),

    // PERMISSIVE corrupt-record accounting — the ingest reality check: a
    // crawl's jsonl shards always contain some malformed lines, and the
    // pipeline must COUNT and QUARANTINE them, never crash
    // (FAILFAST) or silently drop them (DROPMALFORMED). Every 50th doc
    // is minted as a truncated JSON line; the read runs PERMISSIVE with
    // an explicit `_corrupt_record` column, so malformed lines surface
    // as NULL-field rows carrying the raw line. The per-lang rollup
    // (corrupt rows land in the NULL-lang group) is the shard-health
    // report an ingest job emits; the oracle re-derives it from the
    // minting rule. Schema is explicit — no inference pass over 100 TB.
    Op("scan_json_corrupt", (s, dir) => {
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_json_corrupt"
      t(s, dir, "documents")
        .select(when(col("doc_id") % 50 === 0,
            concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"lang\": \"")))
          .otherwise(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
          .as("value"))
        .write.mode("overwrite").format("text").save(tmp)
      s.read
        .schema("doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(tmp)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          count(col("_corrupt_record")).as("n_corrupt"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    },
      // Closed form from the minting rule: doc_id % 50 = 0 lines are
      // malformed → NULL-lang group with n_corrupt = n_rows; the rest
      // aggregate normally per lang.
      Some("""SELECT lang, count(*) AS n_rows, CAST(0 AS BIGINT) AS n_corrupt,
             | CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents WHERE doc_id % 50 <> 0 GROUP BY lang
             |UNION ALL
             |SELECT NULL, count(*), count(*), CAST(NULL AS BIGINT)
             |FROM documents WHERE doc_id % 50 = 0
             |ORDER BY lang""".stripMargin)),

    // Whole-file binary ingest (`binaryFile`) — the opaque-payload path a
    // multimodal corpus starts from (images/audio arrive as files, not
    // rows). Lay the corpus out as one text file per language partition
    // (lang=xx/part-*.txt), then read the directory back as binary blobs
    // and account bytes per partition dir. The scan never decodes —
    // content stays an opaque BINARY column (the multimodal contract,
    // MultimodalOps) and the only computed value is the blob's octet
    // length. Each written line is `text\n`, so per-lang bytes must equal
    // Σ(octet_length(text)+1) — the oracle states that closed form from
    // the parquet side, which simultaneously checks the writer emitted
    // exactly the rows and the binary reader saw every byte once (file
    // COUNT is deliberately not surfaced: it is a parallelism artifact,
    // not data). The files are staged in the SparkContext's own
    // temporary directory (Spark deletes it when the context stops), so
    // two JVMs on one box never share, and overwrite, each other's input.
    Op("scan_binary_files", (s, dir) => {
      val tmp = s"${org.apache.spark.SparkFiles.getRootDirectory()}/graft_binary_docs"
      t(s, dir, "documents").select(col("lang"), col("text").as("value"))
        .write.mode("overwrite").partitionBy("lang").format("text").save(tmp)
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(s"$tmp/lang=*")
        .select(regexp_extract(col("path"), "lang=([a-z]+)", 1).as("lang"),
          octet_length(col("content")).cast("long").as("nbytes"))
        .groupBy("lang")
        .agg(sum(col("nbytes")).as("total_bytes"))
        .orderBy("lang")
    },
      Some("""SELECT lang, CAST(sum(strlen(text) + 1) AS BIGINT) AS total_bytes
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // PARQUET FOOTER INTROSPECTION (round 11) — per-row-group rows /
    // column count / compressed bytes straight from the file footer,
    // the storage-layout audit a 100 TB table needs before tuning
    // maxPartitionBytes / row-group targets (row groups are the scan
    // parallelism AND min-max skipping quantum — LayoutSpec's lever,
    // exposed as a queryable frame). Footer reads are METADATA-ONLY
    // (O(KB) per file, never data pages) and run on the driver exactly
    // where Spark's own file listing does; at fleet scale the file list
    // fans out via `spark.read.parquet(paths).inputFiles` +
    // mapPartitions over file names — same footer API, executor-side.
    // Works on BOTH corpus layouts: a single lineitem.parquet file (the
    // driver's testdata) and a Spark-written DIRECTORY of part files
    // (ScaleGen output) — per-file footers keyed by (file_name, rg_id),
    // file list sorted by name for determinism. The oracle mirrors via
    // parquet_metadata + parse_filename; Verify substitutes the right
    // glob per layout (__PQ_LINEITEM__).
    Op("scan_parquet_footer", (s, dir) => {
      import scala.jdk.CollectionConverters._
      val conf = s.sessionState.newHadoopConf()
      val root = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
      val fs = root.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(root).isDirectory)
          fs.listStatus(root).toSeq.map(_.getPath)
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        else Seq(root)
      val rgs = files.flatMap { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.map {
          case (b, i) =>
            (p.getName, i, b.getRowCount,
              b.getColumns.size().toLong,
              b.getColumns.asScala.map(_.getTotalSize).sum)
        } finally reader.close()
      }
      import s.implicits._
      rgs.toDF("file_name", "rg_id", "num_rows", "n_columns", "compressed_bytes")
        .orderBy("file_name", "rg_id")
    },
      // The one oracle that names a PATH instead of a view: footer
      // introspection has no table-level SQL form. The __PQ_LINEITEM__
      // placeholder is substituted by Verify at dump time with the run's
      // actual lineitem path — the bare file for single-file corpora, a
      // part-file glob when the table is a Spark output DIRECTORY
      // (ScaleGen corpora) — so the oracle always inspects the SAME
      // file set the Spark side read, at any scale and either layout.
      Some("""SELECT parse_filename(file_name) AS file_name,
             | CAST(row_group_id AS INT) AS rg_id,
             | CAST(max(row_group_num_rows) AS BIGINT) AS num_rows,
             | count(*) AS n_columns,
             | CAST(sum(total_compressed_size) AS BIGINT) AS compressed_bytes
             |FROM parquet_metadata('__PQ_LINEITEM__')
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
  )
}
