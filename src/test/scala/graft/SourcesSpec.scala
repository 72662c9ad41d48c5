package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Non-parquet ingestion: CSV and JSON-lines sources with explicit
  * schemas must round-trip the same rows the parquet tables hold —
  * the engine is not format-bound even though the bench data is parquet.
  */
class SourcesSpec extends SparkSpec {

  private def tmpDir(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("JSON-lines round-trip preserves the events table exactly") {
    val dir = tmpDir("graft_json")
    val events = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "ts", "value", "props")
    // default timestampFormat is millisecond-precision — events.ts carries
    // microseconds, so pin a µs format on both sides
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    events.write.mode("overwrite").option("timestampFormat", tsFmt).json(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val back = spark.read.schema(schema).option("timestampFormat", tsFmt).json(dir)
    assert(back.count() == events.count())
    val a = events.orderBy("event_id").collect().map(_.toString)
    val b = back.orderBy("event_id").collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("CSV round-trip with quoting preserves the documents table") {
    val dir = tmpDir("graft_csv")
    val docs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "lang", "source", "text")
    // text contains spaces; rely on quoting, header for schema names
    docs.write.mode("overwrite").option("header", "true")
      .option("quoteAll", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("text", StringType)))
    val back = spark.read.schema(schema).option("header", "true").csv(dir)
    assert(back.count() == docs.count())
    val a = docs.orderBy("doc_id").collect().map(_.toString)
    val b = back.orderBy("doc_id").collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("mergeSchema reads files written under different schema versions") {
    val dir = tmpDir("graft_mergeschema")
    val docs = Tables.t(spark, sfDir, "documents")
    docs.select("doc_id", "lang").write.mode("append").parquet(dir)
    docs.select("doc_id", "lang", "n_chars").write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("doc_id", "lang", "n_chars"))
    assert(merged.count() == docs.count() * 2)
    // rows from the old-schema file surface NULL for the new column
    assert(merged.filter(col("n_chars").isNull).count() == docs.count())
  }

  test("ts normalization is schema-adaptive across parquet timestamp encodings") {
    // The driver's testdata has shipped events.ts as BOTH parquet
    // timestamp[ns] (resolves as raw-nanos LongType under nanosAsLong=true)
    // and timestamp[us] (resolves as TIMESTAMP_NTZ). Pin that
    // Tables.normalizeTs yields byte-identical µs TIMESTAMP rows from every
    // encoding Spark can resolve, so an environment regen can never again
    // silently break every events-table query.
    val base = tmpDir("graft_tsenc")
    val micros = Seq(1704067200000001L, 1704070000123456L, 1704080000999999L)
    import spark.implicits._
    val canon = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
    // (a) raw-nanos BIGINT — the resolved shape of ns-encoded data, with a
    // non-zero sub-µs remainder the truncation must drop;
    canon.select(col("event_id"),
        (unix_micros(col("ts")) * 1000L + 777L).as("ts"))
      .write.parquet(s"$base/ns")
    // (b) native µs TIMESTAMP_NTZ — the regenerated testdata's shape;
    canon.select(col("event_id"), col("ts").cast(TimestampNTZType).as("ts"))
      .write.parquet(s"$base/ntz")
    // (c) µs TIMESTAMP (UTC-adjusted) — already-normal data passes through.
    canon.write.parquet(s"$base/ltz")
    val out = Seq("ns", "ntz", "ltz").map { enc =>
      val df = Tables.normalizeTs(spark.read.parquet(s"$base/$enc"))
      assert(df.schema("ts").dataType == TimestampType, s"enc=$enc")
      df.orderBy("event_id").collect().map(_.toString).toSeq
    }
    assert(out(0) == out(1) && out(1) == out(2))
    assert(out(0) == canon.orderBy("event_id").collect().map(_.toString).toSeq)
  }

  test("queries run unchanged over a re-materialized (non-parquet-origin) table") {
    // write documents to CSV, read back, register via a temp dir of parquet —
    // proving operators depend only on schema, not on the original format
    val csvDir = tmpDir("graft_csv2")
    val pqDir = tmpDir("graft_pq")
    Tables.t(spark, sfDir, "documents").write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true").csv(csvDir)
    val schema = Tables.t(spark, sfDir, "documents").schema
    spark.read.schema(schema).option("header", "true").csv(csvDir)
      .write.mode("overwrite").parquet(s"$pqDir/documents.parquet")
    val viaCsv = SparkEntry.queries("text_wordcount")(spark, pqDir)
      .collect().map(_.toString)
    val direct = SparkEntry.queries("text_wordcount")(spark, sfDir)
      .collect().map(_.toString)
    assert(viaCsv.sameElements(direct))
  }

  test("scan_binary_files stages its input in the session's own directory") {
    // java.io.tmpdir is shared by every JVM on the box; a key that stages
    // there can have its input overwritten by another JVM building it
    val shared = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_binary_docs").getCanonicalPath
    val files = SparkEntry.queries("scan_binary_files")(spark, sfDir).inputFiles
    assert(files.nonEmpty)
    files.foreach { f =>
      val path = new java.io.File(new java.net.URI(f)).getCanonicalPath
      assert(!path.startsWith(shared), s"$path is under the shared $shared")
    }
  }
}
