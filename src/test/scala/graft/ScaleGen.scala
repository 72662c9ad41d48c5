package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev-only scale-point generator (test scope, like the profiler — not
  * part of the shipped library): expands the driver's sf0.1 testdata to an
  * sf1-equivalent corpus so SCALE.md's pair-expansion claims can be
  * MEASURED above sf0.1 instead of argued in prose.
  *
  * Faithfulness matters more than realism here: the driver's own
  * generator draws from a FIXED vocabulary, so per-shingle document
  * frequency grows ~linearly with corpus size and the inverted-index pair
  * expansion Σ c·(c−1)/2 grows ~quadratically (measured on the driver's
  * own points: 14.9k pairs @ 500 docs → 1.27M @ 5k docs, ≈85× for 10×).
  * Cloning documents with perturbed tokens would freeze df and silently
  * linearize exactly the cost curve we want to observe. Instead each new
  * document is assembled from 8-token CHUNKS of the real corpus, chosen by
  * `xxhash64(rep, doc, slot)` — deterministic, same vocabulary, same
  * doc-length/lang/source distributions, df keeps the driver's growth law.
  *
  * Usage: sbt "Test/runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/graft_sf1 10"
  */
object ScaleGen {
  private val ChunkLen = 8

  private val chunkUdf = udf((text: String) => {
    val toks = text.split(' ')
    toks.grouped(ChunkLen).map(_.mkString(" ")).toArray
  })

  /** Zipf-head synthetic documents (round-13 verdict task 3): the
    * driver's generator has a FIXED vocabulary — df grows linearly in
    * the distribution BODY and there is no skewed head — which exercises
    * the adaptive cap's mean-tracking regime but never its FLOOR regime,
    * the regime the whole 100 TB skew-protection claim rests on. This
    * corpus is the opposite by construction:
    *
    *  - 60 tokens per doc, drawn Zipf(s=1) by inverse CDF (rank = V^u)
    *    from a vocabulary that GROWS with the corpus (V = nDocs), so
    *    typical 3-gram shingle df stays O(1) at any size and the
    *    integer-mean rule resolves to the hard floor 16;
    *  - a planted BOILERPLATE line appended to every 50th doc — its
    *    interior shingles have df = nDocs/50 ≫ cap, the hot head the
    *    cap exists to thin (the df-10⁶ hazard in miniature);
    *  - every (10k+6, 10k+7) doc pair is a planted NEAR-DUP twin: the
    *    twin re-reads its source's token stream and perturbs ~1/20 of
    *    slots (~3 of 60 ⇒ shared-shingle Jaccard ≈ 0.73 > τ=0.6), and
    *    twins never intersect the boilerplate marks (7 mod 10 vs 0 mod
    *    50), so planted recall isolates BODY thinning exactly.
    *
    * Everything is keyed on xxhash64 — deterministic, partition-count
    * independent. Schema matches the driver's documents table. */
  def zipfDocs(spark: SparkSession, nDocs: Long): org.apache.spark.sql.DataFrame = {
    val vocab = math.max(1000L, nDocs)
    val lnV = math.log(vocab.toDouble)
    val twin = col("doc_id") % 10 === 7
    val slots = spark.range(0, nDocs).select(col("id").as("doc_id"))
      .select(col("doc_id"), explode(sequence(lit(0), lit(59))).as("slot"))
    val perturbed = twin &&
      pmod(xxhash64(lit("zperturb"), col("doc_id"), col("slot")), lit(20)) === 0
    // perturbed slots seed from a disjoint id space so the replacement
    // token is independent of every real doc's stream
    val seedDoc = when(perturbed, col("doc_id") + nDocs)
      .otherwise(when(twin, col("doc_id") - 1).otherwise(col("doc_id")))
    val u = (pmod(xxhash64(lit("ztok"), seedDoc, col("slot")), lit(1000000L))
      .cast("double") + 0.5) / 1000000.0
    val rank = least(lit(vocab), greatest(lit(1L),
      floor(exp(u * lit(lnV))).cast("long")))
    val body = slots
      .select(col("doc_id"), col("slot"), concat(lit("t"), rank).as("tok"))
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("slot"), col("tok")))),
        e => e.getField("tok")), " ").as("body"))
    body.select(col("doc_id"),
        when(col("doc_id") % 50 === 0,
          concat(col("body"), lit(" zzhead boiler plate head line")))
          .otherwise(col("body")).as("text"),
        lit("en").as("lang"), lit("zipf").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `factor`x the embeddings of `in`, written to `out`: rep r re-emits
    * every vector under id r·offset + vec_id, reps ≥ 1 with a ±0.005
    * per-component jitter that keeps the planted cluster structure, so
    * LSH/IVF recall paths stay meaningful at scale. */
  def writeEmbeddings(spark: SparkSession, in: String, out: String,
      factor: Int): Unit = {
    val emb = spark.read.parquet(s"$in/embeddings.parquet")
    val vecOffset = emb.agg(max("vec_id")).head.getLong(0) + 1
    emb.crossJoin(spark.range(0, factor).select(col("id").as("rep")))
      .select((col("rep") * vecOffset + col("vec_id")).as("vec_id"),
        when(col("rep") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            (x + (pmod(xxhash64(col("vec_id"), col("rep"), i), lit(1000))
              - 500).cast("float") / 100000.0f))
            .cast("array<float>")).as("embedding"),
        col("label"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val Array(in, out, factorS) = args.take(3)
    val factor = factorS.toInt
    // Optional 4th arg "continuous-events": write ONLY the events table,
    // with per-replica value perturbation (+rep·1e-4) so the DISTINCT
    // value domain grows ~linearly with the corpus — the continuous-
    // metric regime that stresses the rank-test value-domain machine
    // (plain replication freezes the domain and understates that cost).
    val continuousEventsOnly = args.length > 3 && args(3) == "continuous-events"
    // Optional 4th arg "embeddings": write ONLY the embeddings table —
    // the cheap path to the 30x ANN recall point, where
    // generating 30x documents/events just to read one table is waste.
    val embeddingsOnly = args.length > 3 && args(3) == "embeddings"
    // Optional 4th arg "documents": write ONLY the documents table —
    // the cheap path to the 30x capped-miner drift point, where only
    // the shingle index is read.
    val documentsOnly = args.length > 3 && args(3) == "documents"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (embeddingsOnly) {
      writeEmbeddings(spark, in, out, factor)
      println(s"[scalegen] wrote ${factor}x embeddings of $in to $out")
      spark.stop()
      return
    }

    if (continuousEventsOnly) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = spark.read.parquet(s"$in/events.parquet")
      val userOffset = 1000000L
      val evOffset = ev.agg(max("event_id")).head.getLong(0) + 1
      ev.crossJoin(spark.range(0, factor).select(col("id").as("rep")))
        .select((col("rep") * evOffset + col("event_id")).as("event_id"),
          col("ts"), (col("rep") * userOffset + col("user_id")).as("user_id"),
          col("event_type"),
          (col("value") + col("rep").cast("double") * 0.0001).as("value"),
          col("props"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$out/events.parquet")
      println(s"[scalegen] wrote ${factor}x CONTINUOUS-VALUE events of $in to $out")
      spark.stop()
      return
    }

    // ---- documents: rep 0 = originals; reps 1..f-1 are chunk-assembled.
    def writeDocuments(): Unit = {
    val docs = spark.read.parquet(s"$in/documents.parquet")
    val idOffset = docs.agg(max("doc_id")).head.getLong(0) + 1
    val chunks = docs
      .select(col("doc_id"), posexplode(chunkUdf(col("text"))).as(Seq("pos", "chunk")))
      // DEV-ONLY: an unpartitioned Window.orderBy is a single-task global
      // sort — fine for this generator's one-off 40k-chunk frame, but it
      // must NOT be copied into a shipped operator (it serializes the
      // whole dataset through one task; operators use monotonically
      // increasing / zipWithIndex-style ids or partitioned windows).
      .withColumn("cid",
        row_number().over(Window.orderBy("doc_id", "pos")).cast("long") - 1)
      .select("cid", "chunk")
    val nChunks = chunks.count()
    val slots = docs
      .select(col("doc_id"), col("lang"), col("source"),
        greatest(lit(1), ceil(size(split(col("text"), " ")) / lit(ChunkLen)))
          .cast("int").as("n_slots"))
      .crossJoin(spark.range(1, factor).select(col("id").as("rep")))
      .select(col("rep"), col("doc_id"), col("lang"), col("source"),
        explode(sequence(lit(0), col("n_slots") - 1)).as("slot"))
      .withColumn("cid",
        pmod(xxhash64(col("rep"), col("doc_id"), col("slot")), lit(nChunks)))
    val synth = slots.join(chunks, "cid")
      .groupBy("rep", "doc_id", "lang", "source")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("slot"), col("chunk")))),
        e => e.getField("chunk")), " ").as("text"))
      .select((col("rep") * idOffset + col("doc_id")).as("doc_id"),
        col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
    docs.select("doc_id", "text", "lang", "source", "n_chars").union(synth)
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    if (documentsOnly) {
      writeDocuments()
      println(s"[scalegen] wrote ${factor}x documents of $in to $out")
      spark.stop()
      return
    }
    writeDocuments()

    writeEmbeddings(spark, in, out, factor)

    // ---- events: replicate users (the sessionization key), timestamps
    // unchanged — session count and shuffle volume scale linearly, the
    // claim under test. `ts` is carried through in whatever encoding the
    // source dir ships (raw int64 nanos or native timestamp[us]);
    // Tables.normalizeTs adapts on read either way.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$in/events.parquet")
    val userOffset = 1000000L
    val evOffset = ev.agg(max("event_id")).head.getLong(0) + 1
    ev.crossJoin(spark.range(0, factor).select(col("id").as("rep")))
      .select((col("rep") * evOffset + col("event_id")).as("event_id"),
        col("ts"), (col("rep") * userOffset + col("user_id")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")

    println(s"[scalegen] wrote ${factor}x of $in to $out")
    spark.stop()
  }
}
