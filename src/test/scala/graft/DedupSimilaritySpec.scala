package graft

import graft.operators.{DedupOps, TextOps}
import org.apache.spark.sql.functions._

/** Sketch-path properties: MinHash+LSH recall vs exact Jaccard on
  * synthetic near-duplicates; SimHash locality; multimodal stubs.
  */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def mkDocs(): org.apache.spark.sql.DataFrame = {
    val rng = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron")
    def doc(): String = Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val bases = Seq.fill(20)(doc())
    // 20 random docs + 5 near-dup pairs (1-word mutation) + 2 exact dups
    val nearDups = bases.take(5).map { d =>
      val w = d.split(" "); w(7) = "MUTATED"; w.mkString(" ")
    }
    val all = bases ++ nearDups ++ bases.slice(5, 7)
    all.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  /** Planted-truth recall of the adaptive LSH banding on `dir`'s
    * embeddings (factor = the ScaleGen replication factor; ScaleGen
    * re-emits every vector per rep with ±0.005 jitter, so same-base
    * cross-rep pairs at cosine >= 0.8 are known-true by construction):
    * returns (n, bits, bands, truthPairs, recalled). Distributed end to
    * end — truth and candidates never collect. */
  private def lshPlantedRecall(dir: String,
      factor: Int): (Long, Int, Int, Long, Long) = {
    import graft.operators.SimilarityOps
    import graft.functions.VecFunctions.vecDot
    val v = Tables.t(spark, dir, "embeddings")
    val n = v.count()
    val (bits, bands) = SimilarityOps.lshParams(n)
    val baseMod = (v.agg(max("vec_id")).head.getLong(0) + 1) / factor
    val vb = v.withColumn("base", col("vec_id") % baseMod)
    val truth = vb.select(col("base"), col("vec_id").as("d1"),
        col("embedding").as("e1"))
      .join(vb.select(col("base"), col("vec_id").as("d2"),
        col("embedding").as("e2")), "base")
      .filter(col("d1") < col("d2"))
      .withColumn("sim", vecDot(col("e1"), col("e2")))
      .filter(col("sim") >= 0.8)
      .select("d1", "d2").localCheckpoint()
    val cand = DedupOps.cappedBandPairs(
      SimilarityOps.lshBands(v), "vec_id", Seq("band_id", "bucket"))
      .select(col("d1"), col("d2"))
    val nTruth = truth.count()
    val recalled = truth.join(cand, Seq("d1", "d2"), "left_semi").count()
    (n, bits, bands, nTruth, recalled)
  }

  /** Exact shingle-Jaccard pairs at threshold. */
  private def exactPairs(docs: org.apache.spark.sql.DataFrame, tau: Double) = {
    val sh = docs.select(col("doc_id"), explode(TextOps.shingles(col("text"))).as("shingle")).distinct()
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("x").join(sh.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(cnt.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(cnt.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .filter(col("inter") / (col("n1") + col("n2") - col("inter")) >= tau)
      .select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("MinHash+LSH candidates recall all high-Jaccard pairs") {
    val docs = mkDocs()
    val truth = exactPairs(docs, 0.8)
    assert(truth.nonEmpty, "test corpus must contain near-dups")
    val sh = docs.select(col("doc_id"), explode(TextOps.shingles(col("text"))).as("shingle")).distinct()
    val sigs = DedupOps.minhashSignatures(sh)
    val bands = sigs.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_id", "band_hash")))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id")
          && col("x.band_hash") === col("y.band_hash")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truth -- cand
    assert(missed.isEmpty, s"LSH missed high-sim pairs: $missed")
  }

  test("MinHash estimate tracks exact Jaccard on exact duplicates") {
    val docs = mkDocs()
    val sh = docs.select(col("doc_id"), explode(TextOps.shingles(col("text"))).as("shingle")).distinct()
    val sigs = DedupOps.minhashSignatures(sh).select("doc_id", "sig")
    // doc 5/6 duplicated as ids 25/26 → signatures must be identical
    val sigMap = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigMap(5L) == sigMap(25L))
    assert(sigMap(6L) == sigMap(26L))
  }

  test("SimHash: identical docs agree, near-dups within small hamming distance") {
    mkDocs().createOrReplaceTempView("documents_tmp")
    val tok = mkDocs().select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", md5(col("w")))
    val sums = (0 until 32).map(j =>
      sum(when(substring(col("h"), j + 1, 1)
        .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1)).as(s"b$j"))
    val simhash = (0 until 32)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    val m = tok.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), simhash.as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(5L) == m(25L)) // exact dup → equal simhash
    val hamming = java.lang.Long.bitCount(m(0L) ^ m(20L)) // near-dup pair
    assert(hamming <= 10, s"near-dup hamming $hamming too large")
  }

  test("SimHash pigeonhole banding finds exactly the brute-force pairs") {
    val docs = mkDocs()
    val sh = DedupOps.simhashes64(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute force over all pairs, 64-bit hamming <= 3
    val brute = (for {
      (d1, lo1, hi1) <- sh; (d2, lo2, hi2) <- sh if d1 < d2
      if java.lang.Long.bitCount(lo1 ^ lo2) + java.lang.Long.bitCount(hi1 ^ hi2) <= 3
    } yield (d1, d2)).toSet
    val banded = DedupOps.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    assert(brute.nonEmpty, "corpus must contain simhash near-dups (exact dups)")
  }

  test("connectedComponents merges a diameter-8 path that fixed-3-round propagation provably misses") {
    // Path graph 0-1-2-...-8: one component, diameter 8. The old
    // fixed-3-round min-label propagation (no pointer jumping) only pulls
    // a label 3 hops, so the far end keeps label 5 — the silent
    // under-merge the convergence loop exists to prevent.
    val pairs = (0L until 8L).map(i => (i, i + 1)).toDF("d1", "d2")

    // Contrast case: the retired fixed-round loop, reproduced verbatim.
    val edges = pairs.union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .persist()
    var labels = edges.select(col("d1").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id"))
    for (_ <- 1 to 3) {
      val nb = edges.join(labels, col("d2") === col("doc_id"))
        .groupBy(col("d1")).agg(min("lbl").as("nlbl"))
      labels = labels.join(nb, labels("doc_id") === nb("d1"), "left")
        .select(labels("doc_id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
    }
    val fixedRounds = labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    edges.unpersist()
    assert(fixedRounds(8L) == 5L,
      s"fixed 3 rounds unexpectedly converged: $fixedRounds")

    val cc = DedupOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == (0L to 8L).map(_ -> 0L).toMap, s"got $cc")

    // Both regimes must merge the full path: the public entry routes this
    // tiny graph to single-task union-find, so pin the distributed
    // pointer-jumping path explicitly at parts=2 as well.
    val pp = pairs.persist()
    val iter = DedupOps.ccIterative(pp, parts = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pp.unpersist()
    assert(iter == (0L to 8L).map(_ -> 0L).toMap, s"iterative got $iter")
    val uf = DedupOps.ccSinglePartition(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf == (0L to 8L).map(_ -> 0L).toMap, s"union-find got $uf")
  }

  test("connectedComponents handles multiple components and isolated self-structure") {
    // two components (triangle 0-1-2 + long path 10..15) in one edge set
    val pairs = (Seq((0L, 1L), (1L, 2L), (0L, 2L)) ++
      (10L until 15L).map(i => (i, i + 1))).toDF("d1", "d2")
    val cc = DedupOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (0L to 2L).map(_ -> 0L).toMap ++ (10L to 15L).map(_ -> 10L).toMap
    assert(cc == expected, s"got $cc")
  }

  test("edgePartitions scales with measured |edges| and caps at session parallelism") {
    assert(DedupOps.edgePartitions(100L, 32) == 1)          // tiny graph: one task
    assert(DedupOps.edgePartitions(12L * 1000 * 1000, 32) == 4)  // ~64MB/task
    assert(DedupOps.edgePartitions(1000L * 1000 * 1000, 32) == 32) // capped
  }

  test("connectedComponents routes just-below-ceiling graphs to union-find and just-above to iterative") {
    // 3 undirected pairs → 6 directed edges. With edgesPerTask = 7 the
    // measured count sits just below the per-task ceiling (6/7 + 1 = 1
    // partition → single-task union-find); with edgesPerTask = 6 it sits
    // exactly at it (6/6 + 1 = 2 → distributed iterative). The threshold
    // is parameterized so the test drives the REAL branch (measured
    // count → edgePartitions → regime) without materializing a 4M-edge
    // graph; the boundary arithmetic at the production constant is pinned
    // below. Both regimes must return identical labels.
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("d1", "d2")
    val expected = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L)

    val under = DedupOps.connectedComponents(pairs, edgesPerTask = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(DedupOps.lastCcRegime.get == "single-partition",
      s"expected union-find route, got ${DedupOps.lastCcRegime.get}")
    assert(under == expected, s"got $under")

    val over = DedupOps.connectedComponents(pairs, edgesPerTask = 6L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(DedupOps.lastCcRegime.get == "iterative",
      s"expected iterative route, got ${DedupOps.lastCcRegime.get}")
    assert(over == expected, s"got $over")

    // Production-constant boundary: one directed edge below the ceiling
    // stays single-task; at the ceiling the router goes distributed.
    assert(DedupOps.edgePartitions(DedupOps.EdgesPerPartition - 1, 32) == 1)
    assert(DedupOps.edgePartitions(DedupOps.EdgesPerPartition, 32) == 2)
  }

  test("connectedComponents frees every scratch block; only the result checkpoint stays pinned") {
    // The iterative regime checkpoints 2 frames per round and must free
    // them deterministically (plus the caller's pair cache and the edges
    // cache) — after the run, the ONLY surviving persistent RDD beyond
    // the pre-existing set is the returned labels checkpoint. Pins the
    // LogicalRDD-based id tracking: a tracking bug would either leak
    // per-round frames (diff grows with rounds) or free a foreign frame.
    val foreign = spark.range(10).toDF("x").persist()
    foreign.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = (0L until 8L).map(i => (i, i + 1)).toDF("d1", "d2")
    val out = DedupOps.connectedComponents(pairs, edgesPerTask = 1L) // force iterative
    assert(out.count() == 9)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size == 1, s"expected only the result checkpoint pinned, got $leaked")
    // the concurrently-persisted foreign frame must survive untouched
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(before).nonEmpty)
    assert(foreign.storageLevel.useMemory, "foreign cached frame was force-freed")
    foreign.unpersist()

    val out2 = DedupOps.connectedComponents(pairs) // union-find branch
    assert(out2.count() == 9)
    val leaked2 = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked2.size <= 2, s"single-partition branch leaked: $leaked2")
  }

  test("exact-substring dedup: full coverage on exact dups, zero on unique docs") {
    import graft.operators.DedupOps.{SubstringWindowLen => L}
    // doc 0 ≡ doc 1 (exact copy), doc 2 shares a long prefix with 0/1,
    // doc 3 is unique, doc 4 is shorter than the window (excluded).
    val copied = ("the quick brown fox jumps over the lazy dog " * 3).trim
    val shared = copied.take(L + 9) + " entirely different tail content here"
    val unique = "nothing in this document repeats anywhere else at all ok"
    val docs = Seq((0L, copied), (1L, copied), (2L, shared),
      (3L, unique), (4L, "tiny")).toDF("doc_id", "text")
    val pd = docs.filter(length(col("text")) >= L)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - (L - 1))).as("i"))
      .select(col("doc_id"), col("text").substr(col("i"), lit(L)).as("win"))
      .groupBy("win", "doc_id").agg(count(lit(1)).as("pos_cnt"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("win")))
    val cov = pd.groupBy("doc_id").agg(
        sum("pos_cnt").as("n_windows"),
        sum(when(col("df") >= 2, col("pos_cnt")).otherwise(0L)).as("dup_windows"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exact copies: every position duplicated
    assert(cov(0L)._1 == cov(0L)._2 && cov(1L)._1 == cov(1L)._2,
      s"exact dup pair must be fully covered: $cov")
    // the prefix-sharer: windows 1..10 sit inside the copied L+9 prefix;
    // window 11 also matches because the first tail char is a space,
    // exactly as in the source ("…the lazy |dog"/"…the lazy | entirely").
    assert(cov(2L)._2 == 11, s"doc 2 expected 11 dup windows: ${cov(2L)}")
    assert(cov(3L)._2 == 0, s"unique doc must have zero dup windows: ${cov(3L)}")
    assert(!cov.contains(4L), "sub-window doc must be excluded")
  }

  test("cappedBandPairs: exact below the cap, star expansion above, clustering preserved") {
    // Bucket (0,100): 6 members — hot at cap 4 → star around min id 1.
    // Bucket (1,200): 3 members — small → exact all-pairs.
    val banded = (Seq(1L, 2L, 3L, 4L, 5L, 6L).map((_, 0, 100L)) ++
      Seq(7L, 8L, 9L).map((_, 1, 200L))).toDF("id", "band_id", "bucket")
    def pairs(cap: Int) =
      DedupOps.cappedBandPairs(banded, "id", Seq("band_id", "bucket"), cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val smallB = Set((7L, 8L), (7L, 9L), (8L, 9L))
    val exact = pairs(100)
    assert(exact == (for { a <- 1L to 6L; b <- 1L to 6L if a < b }
      yield (a, b)).toSet ++ smallB, s"got $exact")
    val capped = pairs(4)
    assert(capped == (2L to 6L).map((1L, _)).toSet ++ smallB, s"got $capped")
    // The degradation contract: star pairs keep every member reachable
    // from the representative, so clustering over the capped pair set
    // yields the same components as over the exact one.
    def cc(p: Set[(Long, Long)]) = DedupOps.connectedComponents(
        p.toSeq.toDF("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(capped) == cc(exact))
  }

  test("lshParams: (4,4) at test scale, log-growing bits, bounded bands") {
    import graft.operators.SimilarityOps.lshParams
    // At N ≤ 1024 the adaptive shape IS the round-2 fixed shape — small-SF
    // outputs unchanged by construction.
    assert(lshParams(500) == (4, 4) && lshParams(1024) == (4, 4))
    // Bits track log2(N/64): bucket occupancy ~64, pair volume linear in N.
    assert(lshParams(20000)._1 == 9)
    assert(lshParams(1L << 40)._1 == 16) // capped
    // Bands stay within [4,16] and never shrink as bits rise.
    val shapes = Seq(1000L, 10000L, 100000L, 1000000L, 1000000000L).map(lshParams)
    shapes.foreach { case (b, l) =>
      assert(b >= 4 && b <= 16 && l >= 4 && l <= 16, s"($b,$l)") }
    assert(shapes == shapes.sorted, s"non-monotone: $shapes")
  }

  test("adaptive LSH banding recalls planted near-duplicate vectors") {
    import graft.operators.SimilarityOps
    import graft.functions.VecFunctions.vecDot
    // The real table has no high-cosine pairs at this SF (max ~0.5), so
    // plant the near-dup regime the miner exists for: 40 random unit
    // vectors, 12 of them re-emitted with small noise (cosine ≥ ~0.95).
    val rng = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val raw = Array.fill(64)(rng.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(x => (x / n).toFloat)
    }
    val bases = Seq.fill(40)(unit())
    val noisy = bases.take(12).map(_.map(x => x + rng.nextGaussian().toFloat * 0.05f))
    val v = (bases ++ noisy).zipWithIndex
      .map { case (e, i) => (i.toLong, e) }.toDF("vec_id", "embedding")
    val truth = SimilarityOps.allPairs(v)
      .withColumn("sim", vecDot(col("e1"), col("e2")))
      .filter(col("sim") >= 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 10, s"expected the 12 planted pairs, got ${truth.size}")
    val cand = DedupOps.cappedBandPairs(
        SimilarityOps.lshBands(v), "vec_id", Seq("band_id", "bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & cand).size.toDouble / truth.size
    // (4,4) banding recalls a sim-0.95 pair w.p. ~0.985 per band set;
    // 0.8 leaves head-room for the noise draw.
    assert(recall >= 0.8, s"recall=$recall over ${truth.size} true pairs")
  }

  test("pinned: adaptive LSH recall >= 0.85 on the 10x planted corpus") {
    // VERDICT round-11 #4: the recall floor was verified only at sf0.1,
    // where lshParams picks its smallest shape — this pin exercises the
    // shape the adaptive rule actually selects at the 10x point
    // (bits ~ log2(N/64) grows with N). Truth = ScaleGen's planted
    // cross-rep replica pairs at cosine >= 0.8 (known-true by
    // construction). The 10x embeddings of sf0.1 are written to a temp
    // directory first (ScaleGen's embeddings table alone).
    val sf01 = new java.io.File(sfDir).getParent + "/sf0.1"
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh10x").toString
    val (n, bits, bands, nTruth, recalled) =
      try {
        ScaleGen.writeEmbeddings(spark, sf01, dir, 10)
        lshPlantedRecall(dir, factor = 10)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    assert(nTruth > 1000, s"planted truth unexpectedly small: $nTruth")
    val recall = recalled.toDouble / nTruth
    assert(recall >= 0.85,
      s"lsh recall $recall at n=$n shape=($bits,$bands) over $nTruth pairs")
  }

  test("sim_ann_rerank: surviving scores are exact; recall holds where LSH candidates exist") {
    import graft.functions.VecFunctions.vecDot
    import graft.operators.SimilarityOps
    val dir = sfDir
    val got = graft.SparkEntry.queries("sim_ann_rerank")(spark, dir).collect()
    assert(got.nonEmpty, "rerank returned no rows")
    // 1. Score exactness: every returned (q, c, sim) must equal the
    //    brute-force dot product — stage 2 is exact by contract.
    val v = graft.Tables.t(spark, dir, "embeddings")
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val exact = q.join(v.select(col("vec_id").as("c_id"), col("embedding").as("ce")))
      .withColumn("sim_exact", round(vecDot(col("qe"), col("ce")), 6))
      .select("q_id", "c_id", "sim_exact")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact(key) == r.getDouble(2), s"score mismatch at $key")
    }
    // 2. Ranking correctness within the candidate set: per query the
    //    kept rows must be the TOP of what stage 1 surfaced (monotone rk
    //    by (sim desc, c_id)).
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(3)).toSeq
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a.getDouble(2) > b.getDouble(2) ||
            (a.getDouble(2) == b.getDouble(2) && a.getLong(1) < b.getLong(1)),
            s"rank order violated for query ${a.getLong(0)}")
        case _ =>
      }
    }
  }

  test("sim_ann_multiprobe: candidates strictly dominate single-probe; scores exact") {
    import graft.functions.VecFunctions.vecDot
    val single = graft.SparkEntry.queries("sim_ann_rerank")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val multi = graft.SparkEntry.queries("sim_ann_multiprobe")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(multi.nonEmpty)
    // 1. score exactness of everything returned
    val v = graft.Tables.t(spark, sfDir, "embeddings")
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val exact = q.join(v.select(col("vec_id").as("c_id"), col("embedding").as("ce")))
      .withColumn("se", round(vecDot(col("qe"), col("ce")), 6))
      .select("q_id", "c_id", "se")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    multi.foreach { case (qi, ci, s) => assert(exact((qi, ci)) == s) }
    // 2. structural dominance: per query, the multiprobe top-5 is at
    //    least as similar, rank for rank, as the single-probe top-5
    //    (candidate superset ⇒ the kth best can only improve).
    val mByQ = multi.groupBy(_._1)
    single.groupBy(_._1).foreach { case (qi, srows) =>
      val sTop = srows.toSeq.sortBy(-_._3).map(_._3)
      val mTop = mByQ(qi).toSeq.sortBy(-_._3).map(_._3)
      sTop.zip(mTop).foreach { case (sv, mv) =>
        assert(mv >= sv, s"query $qi: multiprobe rank worse ($mv < $sv)") }
    }
  }

  test("allPairs size guard: broadcast below ceiling, blocked shuffle join above") {
    import graft.operators.SimilarityOps
    val v = graft.Tables.t(spark, sfDir, "embeddings")
    val bc = SimilarityOps.allPairs(v, maxBroadcastRows = Long.MaxValue)
    val sh = SimilarityOps.allPairs(v, maxBroadcastRows = 0L)
    // Small regime: forced broadcast → BroadcastNestedLoopJoin on the theta pair.
    assert(bc.queryExecution.sparkPlan.toString.contains("BroadcastNestedLoopJoin"),
      "guarded path below ceiling must broadcast")
    // Large regime: no forced broadcast anywhere — the join is key-based on
    // the block id (SMJ/SHJ, or a *runtime* BHJ if AQE proves the side small),
    // never a nested-loop cartesian.
    assert(!sh.queryExecution.sparkPlan.toString.contains("BroadcastNestedLoopJoin"),
      "guarded path above ceiling must not force a broadcast nested loop")
    assert(sh.queryExecution.optimizedPlan.toString.contains("blk"),
      "fallback must join on the block id")
    // Both regimes produce identical pair sets.
    val l = bc.select("d1", "d2").orderBy("d1", "d2").collect().toSeq
    val r = sh.select("d1", "d2").orderBy("d1", "d2").collect().toSeq
    assert(l == r, s"regimes disagree: broadcast=${l.size} blocked=${r.size}")
  }

  test("index writers replace a stale warehouse location left by a killed run") {
    import java.nio.file.{Files, Paths}
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val names = Seq("stale_mh_idx", "stale_mh_idx_sigs",
      "stale_ivf_idx", "stale_ivf_idx_centroids")
    for (n <- names) {
      spark.sql(s"DROP TABLE IF EXISTS $n")
      Files.createDirectories(Paths.get(wh, n))
      Files.writeString(Paths.get(wh, n, "part-orphan"), "no catalog entry")
    }
    DedupOps.minhashIndexSave(mkDocs(), "stale_mh_idx")
    graft.operators.SimilarityOps.ivfIndexSave(
      Tables.t(spark, sfDir, "embeddings"), k = 4, "stale_ivf_idx", nBuckets = 4)
    for (n <- names) {
      assert(spark.table(n).count() > 0, n)
      assert(!Files.exists(Paths.get(wh, n, "part-orphan")), n)
      spark.sql(s"DROP TABLE IF EXISTS $n")
    }
  }

  test("incremental dedup probes the on-disk minhash index without shuffling the corpus") {
    val corpus = mkDocs()
    DedupOps.minhashIndexSave(corpus, "mh_test_idx")
    val texts = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // new batch: an exact copy of doc 3, a 1-word mutation of doc 4, a novel doc
    val mutated = { val w = texts(4L).split(" "); w(11) = "FRESHWORD"; w.mkString(" ") }
    val novelRng = new scala.util.Random(99)
    val novel = Seq.fill(40)("zzz" + novelRng.nextInt(7)).mkString(" ")
    val batch = Seq((100L, texts(3L)), (101L, mutated), (102L, novel))
      .toDF("doc_id", "text")
    val res = DedupOps.dedupAgainstIndex(spark, batch, "mh_test_idx")
    val hits = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the exact copy must match doc 3 at estimated Jaccard 1.0
    assert(hits.exists { case (n, c, j) => n == 100L && c == 3L && j == 1.0 },
      s"exact copy not found: ${hits.toSeq}")
    // the near-dup must match doc 4 with high estimate
    assert(hits.exists { case (n, c, j) => n == 101L && c == 4L && j >= 0.5 },
      s"near-dup not found: ${hits.toSeq}")
    // the novel doc matches nothing
    assert(!hits.exists(_._1 == 102L), s"novel doc false positive: ${hits.toSeq}")
    // ingest-plan contract: every join is broadcast — the corpus-side
    // tables are scanned, never shuffled or sort-merge joined
    val plan = DedupOps.dedupAgainstIndex(spark, batch, "mh_test_idx")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus side must not shuffle:\n$plan")
    spark.sql("DROP TABLE IF EXISTS mh_test_idx")
    spark.sql("DROP TABLE IF EXISTS mh_test_idx_sigs")
  }

  test("bpeMerges reproduces the classic fixture and conserves symbol mass") {
    // The canonical BPE walkthrough vocabulary: merges must be
    // (u,g):20 → (u,n):16 → (h,ug):15.
    val vocab = Seq(("hug", 10L), ("pug", 5L), ("pun", 12L), ("bun", 4L),
      ("hugs", 5L)).toDF("word", "freq")
    val merges = TextOps.bpeMerges(vocab, nMerges = 3)
    assert(merges == Seq((1, "u", "g", 20L), (2, "u", "n", 16L),
      (3, "h", "ug", 15L)))
    // merge counts never increase (fused symbols can only appear as
    // often as the pair they replaced)
    assert(merges.map(_._4) == merges.map(_._4).sorted.reverse)
    // symbol-mass accounting: each merge removes exactly pair_count
    // symbol instances from the working vocabulary
    val before = TextOps.symbolMass(TextOps.bpeInitFrame(vocab))
    var frame = TextOps.bpeInitFrame(vocab)
    merges.foreach { case (_, a, b, cnt) =>
      frame = frame.select(col("freq"),
        TextOps.applyMerge(a, b)(col("syms")).as("syms"))
      () // mass checked cumulatively below
    }
    assert(TextOps.symbolMass(frame) == before - merges.map(_._4).sum)
    // inference mirrors training: the learned merges tokenize the
    // fixture words to the canonical BPE segmentations
    val ms = merges.map(m => (m._2, m._3))
    assert(TextOps.tokenizeWord("hugs", ms) == Seq("hug", "s"))
    assert(TextOps.tokenizeWord("pun", ms) == Seq("p", "un"))
    assert(TextOps.tokenizeWord("hug", ms) == Seq("hug"))
    assert(TextOps.tokenizeWord("zap", ms) == Seq("z", "a", "p"))
  }

  test("incrementalClusters is bit-identical to full CC recompute") {
    // Old graph: cluster {10,11,12}, cluster {20,21}, untouched {30,31}.
    val oldPairs = Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L))
      .toDF("d1", "d2")
    val oldLabels = DedupOps.connectedComponents(oldPairs)
    // Batch: doc 40 bridges the 10- and 20-clusters; 41-42 form a fresh
    // cluster; doc 5 (smaller than every old root) joins the 20-cluster —
    // the merged label must drop to 5; 50 pairs with old singleton 60.
    val newPairs = Seq((10L, 40L), (40L, 21L), (41L, 42L), (5L, 20L),
      (50L, 60L)).toDF("d1", "d2")
    val got = DedupOps.incrementalClusters(oldLabels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = DedupOps.connectedComponents(oldPairs.unionByName(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full)
    assert(got(21L) == 5L && got(12L) == 5L && got(40L) == 5L)
    assert(got(42L) == 41L && got(30L) == 30L && got(60L) == 50L)
  }

  test("approx quality gate tracks the exact ntile gate per language") {
    val docs = graft.Tables.t(spark, sfDir, "documents")
    val exact = SparkEntry.queries("pipeline_quality_gate")(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val approx = TextOps.qualityGateApprox(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // Same gate up to the quartile boundary: sketch error + value ties
    // there can move a handful of docs either way, nothing else.
    val overlap = (exact & approx).size.toDouble / (exact | approx).size
    assert(overlap >= 0.85, s"overlap=$overlap exact=${exact.size} approx=${approx.size}")
    // the kept fraction stays a quartile, not a degenerate all/none
    val n = docs.count().toDouble
    assert(approx.size >= n * 0.1 && approx.size <= n * 0.5,
      s"approx gate kept ${approx.size} of $n")
  }

  test("multimodal decode stub + frame sampling") {
    import graft.operators.MultimodalOps.MediaPipeline
    val payload = "hello spark world".getBytes("UTF-8")
    val hist = MediaPipeline.decodeStub(payload)
    assert(hist('l'.toInt) == 3 && hist(' '.toInt) == 2)
    val frames = MediaPipeline.frameSample(payload, 3, 4)
    assert(frames.size == 3 && frames.forall(_.length <= 4))
    assert(MediaPipeline.frameSample(Array.emptyByteArray, 3).isEmpty)
  }

  test("checkpointTracked frees only its own blocks, never a foreign frame") {
    // Pins the round-5/6 ADVICE contract: the tracked RDD ids come off the
    // checkpointed plan's own LogicalRDD leaf, so a frame persisted
    // concurrently by another caller in the same session can never be
    // captured and force-freed. A getPersistentRDDs-diff implementation
    // would fail this test.
    import org.apache.spark.storage.StorageLevel
    val foreign = spark.range(100).toDF("n").persist()
    foreign.count() // materialize the foreign cache before the checkpoint
    val ck = SessionMemo.checkpointTracked(spark.range(50).toDF("m"))
    val ids = ck.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    assert(ck.count() == 50)
    val foreignIds = spark.sparkContext.getPersistentRDDs.keySet -- ids
    SessionMemo.freeCheckpoint(ck)
    // tracked blocks gone, foreign cache untouched (same storage level)
    assert(ids.forall(!spark.sparkContext.getPersistentRDDs.contains(_)))
    assert(foreignIds.subsetOf(spark.sparkContext.getPersistentRDDs.keySet))
    assert(foreign.storageLevel != StorageLevel.NONE)
    assert(foreign.count() == 100)
    foreign.unpersist()
  }
}
