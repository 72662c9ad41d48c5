package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling (north-star set): media as opaque `binary`
  * content + typed metadata, processed batch-wise in executors.
  *
  * No image/audio codecs ship in this environment, so the *decode* step is
  * a clearly-marked deterministic stub ([[MediaPipeline.decodeStub]] — a
  * byte histogram standing in for pixel/sample decoding). Everything
  * around it — binary schema, partition-parallel `mapPartitions`
  * processing, feature extraction shape, frame sampling — is the real
  * Spark plumbing a production pipeline would use.
  */
object MultimodalOps {

  /** Opaque media record: what an image/audio table looks like at rest. */
  case class MediaRecord(doc_id: Long, modality: String, content: Array[Byte])

  /** Extracted features (decode-stub output + metadata). */
  case class MediaFeatures(doc_id: Long, n_bytes: Int, n_spaces: Int,
      cnt_a: Int, cnt_e: Int, cnt_i: Int, cnt_o: Int, cnt_u: Int)

  object MediaPipeline {
    /** DECODE STUB — in production this would be the image/audio decoder
      * (JPEG→pixels, PCM→samples). Here: full 256-bin byte histogram, a
      * deterministic fake with the same batch shape. */
    def decodeStub(content: Array[Byte]): Array[Int] = {
      val hist = new Array[Int](256)
      var i = 0
      while (i < content.length) { hist(content(i) & 0xff) += 1; i += 1 }
      hist
    }

    /** Frame-sample stub: n evenly-spaced fixed-size chunks of the payload
      * (video keyframe extraction stand-in). */
    def frameSample(content: Array[Byte], n: Int, frameLen: Int = 16): Seq[Array[Byte]] = {
      if (content.isEmpty || n <= 0) Seq.empty
      else (0 until n).map { i =>
        val start = (content.length.toLong * i / n).toInt
        content.slice(start, math.min(start + frameLen, content.length))
      }
    }

    /** Batched-inference shape (the mapInPandas/GPU-scorer pattern in
      * Scala): rows buffer into fixed-size batches inside each partition,
      * one "model call" scores the whole batch, results flatten back out.
      * The batch assembly and partition-parallelism are the real plumbing;
      * the model is a deterministic linear stub so the oracle can recompute
      * scores exactly in SQL. */
    def batchScore(spark: SparkSession, emb: DataFrame, batchSize: Int = 64): DataFrame = {
      import spark.implicits._
      emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .mapPartitions { it =>
          it.grouped(batchSize).flatMap { batch =>
            // stub "model": score_i = Σ_j v_ij · w_j with w_j = ((j%7)−3)/10
            batch.map { case (id, v) =>
              var s = 0.0
              var j = 0
              while (j < v.length) { s += v(j).toDouble * ((j % 7 - 3) / 10.0); j += 1 }
              (id, s)
            }
          }
        }.toDF("vec_id", "score")
    }

    /** Partition-parallel feature extraction over binary media records. */
    def extractFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
      import spark.implicits._
      media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            val h = decodeStub(bytes)
            MediaFeatures(id, bytes.length, h(' '.toInt),
              h('a'.toInt), h('e'.toInt), h('i'.toInt), h('o'.toInt), h('u'.toInt))
          }
        }.toDF()
    }
  }

  /** The phash oracle replays the decode-stub byte histogram as ASCII
    * char counts (byte ≡ char on this corpus — the multimodal_features
    * identity): cnt(v) = len − len(replace(text, chr(v), '')), 64 dHash
    * comparisons packed into two 32-bit halves, then the same
    * exact-signature group agg the engine runs. */
  private val phashOracle: String = {
    def cnt(v: Int) =
      s"(length(text) - length(replace(text, chr($v), '')))"
    def half(off: Int) = (0 until 32).map { i =>
      s"CASE WHEN ${cnt(58 + off + i)} > ${cnt(59 + off + i)}" +
        s" THEN ${1L << i} ELSE 0 END"
    }.mkString("\n    + ")
    s"""WITH h AS MATERIALIZED (SELECT doc_id,
       |  CAST(${half(0)} AS BIGINT) AS sh_lo,
       |  CAST(${half(32)} AS BIGINT) AS sh_hi
       | FROM documents)
       |SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt, sh_lo, sh_hi
       |FROM h GROUP BY sh_lo, sh_hi ORDER BY keep_id""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    // documents ⋈ embeddings + per-(lang, position) element statistics —
    // the "join text metadata to media-derived vectors" shape.
    Op("multimodal_join", (s, dir) =>
      t(s, dir, "documents")
        .join(t(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
        .select(col("lang"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .groupBy("lang", "pos")
        .agg(round(avg(col("val")), 6).as("avg_val"), count(lit(1)).as("n"))
        .orderBy("lang", "pos"),
      Some("""SELECT d.lang, CAST(i AS INT) AS pos,
             | round(avg(e.embedding[i + 1]), 6) AS avg_val, count(*) AS n
             |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id,
             | (SELECT unnest(generate_series(0, 63)) AS i) g
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Binary decode pipeline end-to-end: text → UTF-8 payload (media
    // stand-in) → executor-side decode stub → feature columns. The oracle
    // recomputes the same counts with pure SQL — exact integers.
    Op("multimodal_features", (s, dir) => {
      val media = t(s, dir, "documents")
        .select(col("doc_id"), lit("text/plain").as("modality"),
          encode(col("text"), "UTF-8").as("content"))
      MediaPipeline.extractFeatures(s, media).orderBy("doc_id")
    },
      Some {
        def cnt(ch: String, as: String) =
          s"CAST(length(text) - length(replace(text, '$ch', '')) AS INT) AS $as"
        s"""SELECT doc_id, CAST(length(text) AS INT) AS n_bytes,
           | ${cnt(" ", "n_spaces")}, ${cnt("a", "cnt_a")}, ${cnt("e", "cnt_e")},
           | ${cnt("i", "cnt_i")}, ${cnt("o", "cnt_o")}, ${cnt("u", "cnt_u")}
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // BLUR / LOW-TEXTURE SCREEN — the 1-D analog of the Laplacian-
    // variance blur detector every image-curation pipeline runs before
    // training (flat gradients = blurry/synthetic/padding assets): per
    // payload, the population variance of adjacent-byte deltas,
    // computed as exact integer moments (n, Σd, Σd²) in one
    // mapPartitions pass at the codec boundary (in production the
    // decode stub yields pixel rows; here the byte twin of the ASCII
    // text — the MediaPipeline convention). One IEEE expression per
    // asset afterwards; the verdict column reads the ROUNDED variance
    // so the threshold can't flake. Embarrassingly parallel, zero
    // shuffles before the presentation sort.
    Op("multimodal_blur_screen", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
        .as[(Long, Array[Byte])]
      val mom = media.mapPartitions { it =>
        it.map { case (id, b) =>
          var i = 0; var n = 0L; var sd = 0L; var sdd = 0L
          while (i + 1 < b.length) {
            val d = (b(i + 1) - b(i)).toLong
            n += 1; sd += d; sdd += d * d; i += 1
          }
          (id, n, sd, sdd)
        }
      }.toDF("doc_id", "n_deltas", "sum_d", "sum_d2")
      val v6 = round((col("sum_d2").cast("double")
        - col("sum_d").cast("double") * col("sum_d") / col("n_deltas"))
        / col("n_deltas"), 6)
      mom.select(col("doc_id"), col("n_deltas"),
          when(col("n_deltas") > 0, v6).as("delta_variance"),
          when(col("n_deltas") > 0, v6 < lit(200.0)).as("is_low_texture"))
        .orderBy("doc_id")
    },
      Some("""WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents),
             | dd AS (SELECT doc_id, CAST(L - 1 AS BIGINT) AS n_deltas,
             |   CAST(coalesce(list_sum(list_transform(range(1, L), i ->
             |     ascii(substr(text, i + 1, 1)) - ascii(substr(text, i, 1)))),
             |     0) AS BIGINT) AS sum_d,
             |   CAST(coalesce(list_sum(list_transform(range(1, L), i ->
             |     (ascii(substr(text, i + 1, 1)) - ascii(substr(text, i, 1)))
             |     * (ascii(substr(text, i + 1, 1)) - ascii(substr(text, i, 1))))),
             |     0) AS BIGINT) AS sum_d2
             |  FROM d),
             | v AS (SELECT doc_id, n_deltas,
             |   round((CAST(sum_d2 AS DOUBLE)
             |     - CAST(sum_d AS DOUBLE) * sum_d / n_deltas) / n_deltas, 6) AS v6
             |  FROM dd)
             |SELECT doc_id, n_deltas,
             | CASE WHEN n_deltas > 0 THEN v6 END AS delta_variance,
             | CASE WHEN n_deltas > 0 THEN v6 < 200.0 END AS is_low_texture
             |FROM v ORDER BY doc_id""".stripMargin)),

    // Batched model scoring over the embedding column (GPU-inference
    // plumbing with a deterministic stub model — see batchScore).
    Op("multimodal_batch_score", (s, dir) =>
      MediaPipeline.batchScore(s, t(s, dir, "embeddings"))
        .select(col("vec_id"), round(col("score"), 6).as("score"))
        .orderBy("vec_id"),
      Some {
        // Literal weight list (same doubles the stub model computes);
        // list_dot_product accumulates sequentially — bit-identical to the
        // scorer's loop, unlike a GROUP BY sum whose order is unspecified.
        val weights = (0 until 64).map(j => (j % 7 - 3) / 10.0).mkString("[", ", ", "]")
        s"""SELECT vec_id,
           | round(list_dot_product(
           |   list_transform(embedding, x -> CAST(x AS DOUBLE)), $weights), 6) AS score
           |FROM embeddings ORDER BY vec_id""".stripMargin
      }),

    // FRAME SAMPLING — the video-keyframe extraction shape: 4 evenly-
    // spaced fixed-size byte slices per payload via the executor-side
    // [[MediaPipeline.frameSample]] stub (in production: codec keyframe
    // decode), each fingerprinted scan-stage. mapPartitions only at the
    // codec boundary, one row per (doc, frame) out — embarrassingly
    // parallel, no shuffle at all (the orderBy is the test harness's).
    // The oracle replays the slice arithmetic on the ASCII text twin.
    Op("multimodal_frame_sample", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
        .as[(Long, Array[Byte])]
      media.mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          MediaPipeline.frameSample(bytes, 4).zipWithIndex.map {
            case (f, i) => (id, i, f)
          }
        }
      }.toDF("doc_id", "frame_no", "frame")
        .select(col("doc_id"), col("frame_no").cast("int").as("frame_no"),
          md5(col("frame")).as("frame_md5"),
          length(col("frame")).cast("int").as("n_bytes"))
        .orderBy("doc_id", "frame_no")
    },
      // The slice arithmetic mirrors frameSample: start = ⌊len·i/4⌋
      // (0-based) → substring(…, start+1, 16) on the ASCII text (byte ≡
      // char for this corpus, the same identity multimodal_features pins).
      Some("""WITH f AS (SELECT doc_id, i,
             |   substring(text, CAST(floor(length(text) * i / 4) AS INT) + 1, 16) AS frame
             | FROM documents, (SELECT unnest(generate_series(0, 3)) AS i) g
             | WHERE length(text) > 0)
             |SELECT doc_id, CAST(i AS INT) AS frame_no, md5(frame) AS frame_md5,
             | CAST(length(frame) AS INT) AS n_bytes
             |FROM f ORDER BY doc_id, frame_no""".stripMargin)),

    // FRAME-FINGERPRINT OVERLAP — media near-dup without decode: two
    // payloads sharing any sampled keyframe fingerprint are re-encode /
    // re-crop / re-mux candidates (the shared-keyframe video-dedup
    // technique). Inverted-index shape on the frame digest: distinct
    // (doc, digest) → digest-keyed self-join → per-pair shared-frame
    // count — candidates ∝ Σ_digest c², bounded by the same df-ceiling
    // logic as the text miners (a hot digest would be a boilerplate
    // frame; at this feed max df = 3). Exact and oracle-checked.
    Op("multimodal_frame_overlap", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
        .as[(Long, Array[Byte])]
      val frames = media.mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          MediaPipeline.frameSample(bytes, 4).map(f => (id, f))
        }
      }.toDF("doc_id", "frame")
        .select(col("doc_id"), md5(col("frame")).as("h")).distinct()
      frames.as("a").join(frames.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("shared_frames"))
        .orderBy("d1", "d2")
    },
      Some("""WITH f AS (SELECT doc_id, i,
             |   substring(text, CAST(floor(length(text) * i / 4) AS INT) + 1, 16) AS frame
             | FROM documents, (SELECT unnest(generate_series(0, 3)) AS i) g
             | WHERE length(text) > 0),
             | d AS (SELECT DISTINCT doc_id, md5(frame) AS h FROM f)
             |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared_frames
             |FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Exact media dedup — the FIRST screen of any image/audio pipeline:
    // hash the opaque binary payload, keep one doc per digest. The hash
    // is computed scan-stage over the binary column (no decode needed —
    // that is the point: byte-identical re-crawls and mirror copies are
    // eliminated before a single codec call), and the rest is
    // dedup_exact's one two-phase agg keyed on the digest: at 100 TB the
    // exchange carries one (digest, partial) row per distinct payload
    // per task, never the payloads themselves.
    Op("multimodal_dedup", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
        .groupBy(md5(col("content")).as("content_md5"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("dup_cnt"),
          max(length(col("content")).cast("long")).as("n_bytes"))
        .select(col("keep_id"), col("dup_cnt"), col("n_bytes"), col("content_md5"))
        .orderBy("keep_id"),
      // DuckDB md5 over VARCHAR hashes its UTF-8 bytes — the same bytes
      // Spark's encode(text, 'UTF-8') produces.
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt,
             | max(CAST(length(text) AS BIGINT)) AS n_bytes,
             | md5(text) AS content_md5
             |FROM documents GROUP BY 4
             |ORDER BY keep_id""".stripMargin)),

    // PERCEPTUAL-HASH DEDUP over media payloads (round 10) — the
    // perceptual complement of multimodal_dedup's exact digest: a
    // dHash-style 64-bit signature from the decode-stub output
    // (bit_i = hist[58+i] > hist[59+i] over adjacent byte-histogram
    // bins spanning the corpus's live byte range — in production,
    // adjacent downsampled pixels; the stub's histogram plays the
    // decoded grid, so the SIGNATURE plumbing is real even though the
    // decoder is the documented fake). Re-encodes and container-level
    // variants that break the md5 screen collapse to the same phash.
    // Release: exact-signature dup groups (one hash agg on 2 longs —
    // the same scale shape as multimodal_dedup; output bounded by
    // |docs|). The hamming>0 radius search exists in the engine as the
    // dedup_simhash_pairs pigeonhole machine and composes on this
    // signature frame unchanged; the exact-bucket form is what a 100 TB
    // media pipeline actually materializes. mapPartitions only at the
    // codec boundary; 3 longs/doc are all that ever shuffles.
    Op("multimodal_phash_dedup", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
        .as[(Long, Array[Byte])]
      val sigs = media.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val hist = MediaPipeline.decodeStub(bytes)
          var lo = 0L; var hi = 0L
          var i = 0
          while (i < 32) {
            if (hist(58 + i) > hist(59 + i)) lo |= (1L << i); i += 1
          }
          while (i < 64) {
            if (hist(58 + i) > hist(59 + i)) hi |= (1L << (i - 32)); i += 1
          }
          (id, lo, hi)
        }
      }.toDF("doc_id", "sh_lo", "sh_hi")
      sigs.groupBy("sh_lo", "sh_hi")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
        .select(col("keep_id"), col("dup_cnt"), col("sh_lo"), col("sh_hi"))
        .orderBy("keep_id")
    },
      Some(phashOracle)),

    // Container-format sniffing by magic bytes — the first gate of any
    // media ingest (the claimed extension/MIME lies; the leading bytes
    // don't): payloads are minted with real JPEG/PNG/RIFF magics
    // (doc_id mod 3 chooses) over the UTF-8 text body, then detection
    // reads ONLY a 4-byte hex prefix — a pure scan-stage projection that
    // never decodes and never moves the payload (at 100 TB the sniff
    // rides the binaryFile/metadata scan; unknown formats route to
    // quarantine instead of a crashing decoder). The oracle re-derives
    // the closed form from doc_id, which pins both the minting and the
    // prefix-compare logic.
    // ASPECT-RATIO BUCKETING (round 11) — the SDXL-style batch-packing
    // prep: assign every image to the nearest of a fixed aspect-bucket
    // list so same-shape images batch together (mixed aspects force
    // per-image padding; bucketed batches don't). The (w, h) metadata
    // is a deterministic decode-stub function of n_chars (in
    // production: the image header — the assignment arithmetic is the
    // operator). Nearest-aspect is EXACT integer math: |w·bh − h·bw|
    // cross-multiplied distances, made cross-bucket comparable by the
    // 144/bh common-denominator factor (144 = lcm of the bh set), so
    // no float ratio ever enters and ties break by fixed bucket order
    // via one array_min over a 5-struct literal — pure scan-stage
    // projection, one 5-row hash agg, zero joins at any corpus size.
    Op("multimodal_aspect_bucket", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
          col("n_chars"))
        .withColumn("w", (lit(256) + col("n_chars") % 512).cast("long"))
        .withColumn("h",
          (lit(256) + (col("n_chars") * 7) % 512).cast("long"))
      val buckets = Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16))
      val cand = array(buckets.zipWithIndex.map { case ((bw, bh), i) =>
        struct(
          (abs(col("w") * bh - col("h") * bw) * lit(144 / bh)).as("s"),
          lit(i).as("i"), lit(s"$bw:$bh").as("b"))
      }: _*)
      docs.withColumn("best", array_min(cand))
        .groupBy(col("best.b").as("bucket"))
        .agg(count(lit(1)).as("n_assets"),
          sum(col("w") * col("h")).as("sum_pixels"))
        .orderBy("bucket")
    },
      // Same integer cross-multiplied nearest-aspect pick; the argmin is
      // a rank-1 window over the 5 unnested candidates per doc.
      Some("""WITH d AS (SELECT doc_id, 256 + n_chars % 512 AS w,
             |   256 + (n_chars * 7) % 512 AS h FROM documents),
             | c AS (SELECT doc_id, w, h, b.i, b.name,
             |   abs(w * b.bh - h * b.bw) * (144 // b.bh) AS s
             |  FROM d CROSS JOIN (VALUES (1, 1, 0, '1:1'), (4, 3, 1, '4:3'),
             |   (3, 4, 2, '3:4'), (16, 9, 3, '16:9'), (9, 16, 4, '9:16'))
             |   AS b(bw, bh, i, name)),
             | r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |   ORDER BY s, i) AS rn FROM c)
             |SELECT name AS bucket, CAST(count(*) AS BIGINT) AS n_assets,
             | CAST(sum(w * h) AS BIGINT) AS sum_pixels
             |FROM r WHERE rn = 1 GROUP BY 1 ORDER BY bucket""".stripMargin)),

    Op("multimodal_codec_detect", (s, dir) => {
      val magic = when(col("doc_id") % 3 === 0, lit(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)))
        .when(col("doc_id") % 3 === 1, lit(Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47)))
        .otherwise(lit("RIFF".getBytes("UTF-8")))
      val media = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(magic, encode(col("text"), "UTF-8")).as("content"))
      media.select(col("doc_id"),
          hex(substring(col("content"), 1, 4)).as("magic_hex"),
          length(col("content")).cast("long").as("n_bytes"))
        .withColumn("codec",
          when(col("magic_hex").startsWith("FFD8FF"), "jpeg")
            .when(col("magic_hex") === "89504E47", "png")
            .when(col("magic_hex") === "52494646", "riff")
            .otherwise("unknown"))
        .select("doc_id", "codec", "magic_hex", "n_bytes")
        .orderBy("doc_id")
    },
      // Closed form from the minting rule: doc_id mod 3 chose the magic,
      // payload length = 4 magic bytes + the ASCII body.
      Some("""SELECT doc_id,
             | CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
             |   ELSE 'riff' END AS codec,
             | CASE doc_id % 3 WHEN 0 THEN 'FFD8FFE0' WHEN 1 THEN '89504E47'
             |   ELSE '52494646' END AS magic_hex,
             | CAST(strlen(text) + 4 AS BIGINT) AS n_bytes
             |FROM documents ORDER BY doc_id""".stripMargin)),
  )
}
