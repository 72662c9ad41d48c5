package graft.operators

import graft.Tables._
import graft.functions.VecFunctions.vecDot
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Similarity search over the embedding column (north-star set).
  *
  * The inner product runs through the custom codegen expression
  * [[graft.functions.FloatVecDot]] (double-widened float products,
  * sequential double accumulation — bit-identical to the DuckDB oracle's
  * `list_dot_product` over double-cast lists, and ~10× the higher-order-fn
  * formulation that SURVEY §4.3 measured at 12.8s).
  *
  * Scale paths: brute-force pair joins run through [[allPairs]], which
  * broadcasts only while the table fits a bounded build side (vectors are
  * 256B each — 2k vectors ≈ 0.5MB) and otherwise degrades to a blocked
  * shuffle join; the LSH variant buckets by random-hyperplane signature so
  * candidate pairs shrink by ~2^bits for genuinely-near neighbors.
  */
object SimilarityOps {

  /** Deterministic random-hyperplane planes (64 dims, seed 42), memoized
    * per requested count. Sequential generation from one seeded RNG means
    * `planesFor(m)` is always a prefix of `planesFor(n)` for m ≤ n, so
    * growing the parameterization never changes the signatures an
    * existing (bits, bands) layout produces. */
  private val planeCache =
    scala.collection.concurrent.TrieMap.empty[Int, IndexedSeq[Seq[Float]]]
  private def planesFor(n: Int): IndexedSeq[Seq[Float]] =
    planeCache.getOrElseUpdate(n, {
      val rng = new scala.util.Random(42)
      IndexedSeq.fill(n)(Seq.fill(64)(rng.nextGaussian().toFloat))
    })

  /** LSH shape chosen from corpus size — the reason the band miner's pair
    * volume stays LINEAR in N instead of quadratic. Bucket count per band
    * is 2^bits; with the fixed round-2 shape (4 bits = 16 buckets) bucket
    * occupancy grows ∝ N and measured candidate pairs grew ~100× for 10×
    * vectors (sf0.1 → sf1). Here:
    *
    *   - `bits = log2(N / 64)` (floor 4, cap 16) keeps expected occupancy
    *     ~64 as N grows → per-band pair work ~32·N;
    *   - `bands` = smallest L with banding recall 1−(1−p^bits)^L ≥ 0.85
    *     for pairs at the near-dup target sim 0.8 (p = 1 − θ/π per bit),
    *     floor 4, cap 16 — past the cap recall at fixed sim erodes
    *     slowly; multiprobe is the next rung if that matters.
    *
    * At test scale (N ≤ 1024) this resolves to exactly the round-2
    * (4, 4) shape, so small-SF outputs are unchanged by construction. */
  def lshParams(n: Long): (Int, Int) = {
    val bits = math.min(16,
      math.max(4, math.ceil(math.log(n / 64.0) / math.log(2)).toInt))
    val p = 1.0 - math.acos(0.8) / math.Pi
    val pb = math.pow(p, bits)
    val bands = math.min(16,
      math.max(4, math.ceil(math.log(0.15) / math.log1p(-pb)).toInt))
    (bits, bands)
  }

  /** The banded LSH frame (vec_id, band_id, bucket) with size-adaptive
    * shape ([[lshParams]]) — the candidate substrate of `sim_ann_lsh`.
    * One metadata count() picks the shape; all band signatures come from
    * ONE codegen'd [[graft.functions.FloatLshBands]] pass (the
    * compositional bits×bands
    * column form fell out of codegen at the 10× shape — 13 s warm where
    * this is milliseconds; signature bits are identical by construction
    * and pinned by the equivalence spec). */
  private[graft] def lshBands(v: DataFrame): DataFrame = {
    val (bits, bands) = lshParams(v.count())
    val ps = planesFor(bits * bands)
    v.select(col("vec_id"),
        posexplode(graft.functions.FloatLshBands.lshBands(
          col("embedding"), ps, bits, bands, dim = 64))
          .as(Seq("band_id", "bucket")))
  }

  private val oracleDot =
    "list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE))," +
      " list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"

  /** Past this many vectors a forced broadcast of the full table stops
    * being a bounded-side invariant (200k × 256 B ≈ 51 MB) and the
    * brute-force pair join degrades to the blocked shuffle form. */
  val BroadcastRowCeiling: Long = 100000L

  /** MMR re-rank page size (the retrieved candidates the greedy loop
    * diversifies over), selection count, and the relevance weight λ.
    * The penalty weight is computed as (1.0 − MmrLambda) — NOT a 0.3
    * literal — because 1.0−0.7 ≈ 0.30000000000000004 in IEEE and the
    * oracle must subtract the same bits. */
  val MmrPage: Int = 20
  val MmrK: Int = 8
  val MmrLambda: Double = 0.7

  /** The IEEE penalty weight 1.0−0.7 = 0.30000000000000004, interpolated
    * into the oracle SQL as its shortest decimal string so DuckDB parses
    * back the SAME bits the engine subtracts — a literal `(1.0 - 0.7)` in
    * SQL text would be constant-folded by DuckDB to exact decimal 0.3
    * (= double 0.2999999999999999889), a latent greedy-argmax divergence
    * on near-tie scores. */
  val MmrPenalty: Double = 1.0 - MmrLambda

  /** The bounded retrieval page `sim_mmr_diversify` collects for its
    * driver-side greedy loop: broadcast-query scoring scan →
    * TakeOrdered top-[[MmrPage]] slice. Exposed (pre-checkpoint) so
    * PlanSpec can pin the page contract: the pre-collect plan MUST be a
    * `TakeOrderedAndProjectExec` with limit = MmrPage — the property
    * that makes the collect a page read, not a corpus read. */
  private[graft] def mmrPageFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val v = t(s, dir, "embeddings")
    val q = v.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    v.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("c_id"), col("embedding"),
        vecDot(col("embedding"), col("q_emb")).as("sim_q"))
      .orderBy(col("sim_q").desc, col("c_id"))
      .limit(MmrPage)
  }

  /** Size-guarded all-pairs (`d1 < d2`) self-join over `v(vec_id,
    * embedding)` — the substrate of the brute-force similarity baselines.
    *
    * Below `maxBroadcastRows` the right side broadcasts (BNLJ against a
    * bounded build side; the left never shuffles). Past the ceiling the
    * join degrades to a blocked shuffle join instead of an oversized
    * broadcast: the right side hash-blocks on `vec_id`, the left
    * replicates once per block (bounded ×`blocks`, independent of n), and
    * the pair predicate applies inside each block — an equi-join on the
    * block id, never an unbounded cartesian. The n² comparison work is
    * inherent to the brute-force *baseline* either way; the guard bounds
    * per-executor memory, and the scale paths remain LSH banding and IVF. */
  def allPairs(v: DataFrame, maxBroadcastRows: Long = BroadcastRowCeiling): DataFrame = {
    val a = v.select(col("vec_id").as("d1"), col("embedding").as("e1"))
    val b = v.select(col("vec_id").as("d2"), col("embedding").as("e2"))
    if (v.count() <= maxBroadcastRows) {
      a.join(broadcast(b), col("d1") < col("d2"))
    } else {
      val blocks = 32L
      val aa = a.withColumn("blk",
        explode(sequence(lit(0L), lit(blocks - 1))))
      val bb = b.withColumn("blk", pmod(xxhash64(col("d2")), lit(blocks)))
      aa.join(bb, aa("blk") === bb("blk") && col("d1") < col("d2"))
        .select(col("d1"), col("e1"), col("d2"), col("e2"))
    }
  }

  /** Driver-collect tripwire for the bounded centroid/codebook frames the
    * row-local argmax expressions embed (≤ k, or m·k, rows by
    * construction — the k-means-frames collect class). */
  private val MaxCentroidRows = 4096

  /** Collect a bounded centroid frame `(id, vec)` for [[ArgMaxDot]],
    * tripwired at [[MaxCentroidRows]]. */
  private def collectCentroids(cent: DataFrame, idCol: String,
      vecCol: String): Seq[(Long, Array[Float], Double)] = {
    val rows = cent.select(col(idCol).cast("long"), col(vecCol)).collect()
    require(rows.length <= MaxCentroidRows,
      s"centroid frame has ${rows.length} rows (> $MaxCentroidRows) — " +
        "row-local argmax assignment is for bounded centroid sets")
    rows.toSeq.map(r => (r.getLong(0), r.getSeq[Float](1).toArray, 0.0d))
  }

  /** Nearest-cell assignment, computed ROW-LOCALLY: the ≤K centroid frame
    * is collected (bounded, tripwired) and embedded in one codegen'd
    * [[graft.functions.ArgMaxDot]] argmax, so the corpus is never
    * exchanged at all — the former crossJoin + max_by groupBy re-shuffled
    * every vector payload once per call (guide §2.4/§8; round-14 plan
    * diff: 1 corpus Exchange → 0 per Lloyd iteration). Dots, tie-breaks
    * and hence assignments are bit-identical to the join form. */
  private[graft] def assignCells(v: DataFrame, cent: DataFrame,
      keepDot: Boolean = false): DataFrame =
    assignRows(v, collectCentroids(cent, "cell_id", "c_emb"), keepDot)

  /** [[assignCells]] over an ALREADY-collected centroid set — the
    * trainer loops collect each refined frame exactly once (the collect
    * doubles as the materialize-before-unpersist action) and thread the
    * rows through, so no frame pays a second driver job. */
  private def assignRows(v: DataFrame,
      cents: Seq[(Long, Array[Float], Double)],
      keepDot: Boolean = false): DataFrame = {
    val best = graft.functions.ArgMaxDot.nearest(col("embedding"), cents)
    val cols = Seq(col("vec_id"), best.getField("id").as("cell_id"),
      col("embedding")) ++
      (if (keepDot) Seq(best.getField("d").as("d")) else Nil)
    v.select(cols: _*)
  }

  /** Deterministic centroid means: per-dimension DECIMAL accumulation
    * (partition-order-independent), arrays rebuilt in dimension order.
    * With `normalize` the mean is projected back to the unit sphere —
    * the spherical-k-means update, which is the Σ-dot maximizer for a
    * fixed assignment and hence what makes Lloyd monotone under max-dot
    * assignment ([[sphericalKmeans]]). Cells whose mean cancels to zero
    * norm are dropped (no vector preferred them strongly anyway). */
  private def refineCentroids(assigned: DataFrame,
      normalize: Boolean = false): DataFrame = {
    val mean = assigned
      .select(col("cell_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("cell_id", "pos")
      .agg((sum(col("x").cast("decimal(28,12)")) / count(lit(1)))
        .cast("double").as("cv"))
      .groupBy("cell_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        e => e.getField("cv")).as("m"))
    val out =
      if (!normalize) mean.select(col("cell_id"), col("m"))
      else mean
        .withColumn("nrm", sqrt(aggregate(col("m"), lit(0.0d), (a, x) => a + x * x)))
        .filter(col("nrm") > 0)
        .select(col("cell_id"), transform(col("m"), x => x / col("nrm")).as("m"))
    out.select(col("cell_id"), col("m").cast("array<float>").as("c_emb"))
  }

  /** Spherical k-means (Lloyd on the unit sphere): max-dot assignment +
    * normalized-mean update, `iters` full corpus passes from the same
    * deterministic seeds [[ivfIndex]] uses. Returns the final centroids
    * and the per-iteration objective Σ_v max_c ⟨v, c⟩ — the sequence is
    * PROVABLY non-decreasing (each half-step maximizes the objective for
    * the other half fixed), which the unit suite pins as the training
    * invariant. Objectives are DECIMAL-accumulated: deterministic across
    * partitionings, so the trace is reproducible run to run.
    *
    * Scale: per iteration one broadcast of K centroids + one narrow
    * N×K dot/argmax shuffle + one K×dim mean agg — no corpus reshuffle;
    * `v` should be cached (or a bucketed table) since each iteration
    * rescans it, exactly like any multi-pass trainer. */
  def sphericalKmeans(v: DataFrame, k: Int, iters: Int): (DataFrame, Seq[Double]) = {
    require(iters >= 1, "at least one Lloyd iteration")
    val seeds = v.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
      .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"))
    var cent = refineCentroids(assignCells(v, seeds), normalize = true)
      .persist()
    // each refined frame is collected exactly ONCE (the collect is also
    // the materialize-before-unpersist action) and the rows feed the next
    // iteration's row-local assignment — one driver job per frame
    var centRows = collectCentroids(cent, "cell_id", "c_emb")
    val objs = Seq.newBuilder[Double]
    var last: DataFrame = null
    for (_ <- 1 to iters) {
      // assignment is a row-local projection over the cached corpus since
      // round 14 — recomputing it for the objective and the refine pass
      // is k·dim flops/row, cheaper than persisting a second corpus copy
      val assigned = assignRows(v, centRows, keepDot = true)
      objs += assigned.agg(
        sum(col("d").cast("decimal(28,12)")).cast("double")).head().getDouble(0)
      val next = refineCentroids(assigned, normalize = true).persist()
      centRows = collectCentroids(next, "cell_id", "c_emb") // materializes
      if (last != null) last.unpersist()
      last = cent
      cent = next
    }
    if (last != null) last.unpersist()
    (cent, objs.result())
  }

  /** Build the IVF index over `v(vec_id, embedding)`: k pseudo-random but
    * deterministic seeds (smallest `xxhash64(vec_id)` — spreads across the
    * corpus even when ids correlate with content; a TakeOrderedAndProject,
    * no global sort), one Lloyd iteration, vectors assigned to their
    * nearest refined centroid.
    *
    * Returns (index = (vec_id, embedding, cell_id), centroids =
    * (cell_id, c_emb)). Both are `persist()`ed: each is referenced from
    * more than one point of the search plan, and an uncached lineage
    * replays the full corpus scan + assignment shuffle per reference —
    * at 100 TB that re-reads the corpus ~3×, and even at sf0.1 it was the
    * slowest round-1 bench line (4.18 s). The cluster analog is writing
    * the index as a bucketed table; in-session, cache is the same bound. */
  def ivfIndex(v: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val seeds = v.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
      .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"))
    val cent = refineCentroids(assignCells(v, seeds)).persist()
    val index = assignCells(v, cent).persist()
    (index, cent)
  }

  /** Per-query probe set: the `nprobe` nearest centroids per query
    * (q_id, q_emb, cell_id). Centroids ride in as a broadcast (≤ K rows). */
  private def ivfProbes(q: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    val wq = Window.partitionBy("q_id").orderBy(col("cd").desc, col("cell_id"))
    q.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cent))
      .withColumn("cd", vecDot(col("q_emb"), col("c_emb")))
      .withColumn("prk", row_number().over(wq))
      .filter(col("prk") <= nprobe)
      .select("q_id", "q_emb", "cell_id")
  }

  /** Exact-rank the probed cells' vectors per query — the shared back
    * half of [[ivfSearch]] and [[ivfSearchTable]]. */
  private def ivfRank(probes: DataFrame, index: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    probes.join(index.select(col("vec_id").as("c_id"), col("embedding"), col("cell_id")),
        "cell_id")
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        vecDot(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("c_id"), round(col("sim"), 6).as("sim"), col("rk"))
      .orderBy("q_id", "rk")
  }

  /** Probe the `nprobe` nearest cells per query vector and rank the exact
    * dot products within them — same output shape as `sim_knn_per_query`.
    * `cent` is the centroid table from [[ivfIndex]] — passed in, never
    * recomputed from the index. */
  def ivfSearch(q: DataFrame, index: DataFrame, cent: DataFrame,
      nprobe: Int, topK: Int): DataFrame =
    ivfRank(ivfProbes(q, cent, nprobe), index, topK)

  /** Persist the IVF index as a BUCKETED table (`name`, bucketed by
    * `cell_id`) plus its centroid sidecar (`name_centroids`, K rows) —
    * the build-once / probe-many path: a 100 TB index is built in one
    * pass and every later search opens it from disk instead of
    * re-scanning + re-assigning the corpus. Bucketing by `cell_id` means
    * a probe's literal cell filter prunes to the probed buckets
    * (SelectedBucketsCount in the scan), never a full index scan. */
  def ivfIndexSave(v: DataFrame, k: Int, name: String, nBuckets: Int = 16): Unit = {
    val (index, cent) = ivfIndex(v, k)
    dropManagedTable(v.sparkSession, name)
    index.write.bucketBy(nBuckets, "cell_id")
      .mode("overwrite").saveAsTable(name)
    dropManagedTable(v.sparkSession, s"${name}_centroids")
    cent.write.mode("overwrite").saveAsTable(s"${name}_centroids")
    index.unpersist()
    cent.unpersist()
  }

  /** Search a disk-persisted IVF index (see [[ivfIndexSave]]) without
    * touching the source corpus. The probe set is collected to the driver
    * ONCE, grouped per query so each query embedding crosses the wire a
    * single time (nprobe cell ids per query, NOT nprobe replicated copies
    * of the vector — the flat collect grew driver memory by
    * |queries|×nprobe×dim floats, round-5 ADVICE). The collected rows are
    * re-used twice: the distinct cell ids become a LITERAL `isin` filter
    * so the bucketed scan prunes to the probed buckets (a join would
    * defeat bucket pruning), and the (q_id, cell_id) pairs re-enter the
    * plan as a LocalRelation that re-joins the once-per-query embeddings
    * — the ×nprobe replication happens on executors, never the driver.
    * Collecting once instead of referencing the lazy probe frame twice
    * halves the query-side work: the query scan, centroid crossJoin, and
    * row_number window used to execute once for the cell collect and
    * again inside [[ivfRank]].
    *
    * `maxDriverProbeRows` is a driver-memory tripwire: this single-collect
    * fast path is for interactive query batches; a corpus-sized query
    * frame must use the distributed [[ivfSearch]] instead of silently
    * growing the driver collect. */
  def ivfSearchTable(spark: org.apache.spark.sql.SparkSession, q: DataFrame,
      name: String, nprobe: Int, topK: Int,
      maxDriverProbeRows: Long = 1000000L): DataFrame = {
    val cent = spark.table(s"${name}_centroids")
    val grouped = ivfProbes(q, cent, nprobe)
      .groupBy("q_id")
      .agg(first(col("q_emb")).as("q_emb"),
        collect_list(col("cell_id")).as("cells"))
    val qRows = grouped.collect()
    require(qRows.length.toLong * nprobe <= maxDriverProbeRows,
      s"ivfSearchTable collected ${qRows.length} queries × nprobe=$nprobe probe rows, " +
        s"over maxDriverProbeRows=$maxDriverProbeRows — " +
        "use ivfSearch (distributed probes) for large query batches")
    val qEmb = spark.createDataFrame(
      java.util.Arrays.asList(qRows.map(r => Row(r.get(0), r.get(1))): _*),
      StructType(grouped.schema.take(2)))
    val pairRows = qRows.flatMap(r => r.getSeq[Long](2).map(c => Row(r.get(0), c)))
    val slim = spark.createDataFrame(
      java.util.Arrays.asList(pairRows: _*),
      StructType(Seq(grouped.schema.head,
        StructField("cell_id", LongType, nullable = false))))
    val cells = pairRows.map(_.getLong(1)).distinct.sorted
    val index = spark.table(name).filter(col("cell_id").isin(cells: _*))
    val probes = slim.join(broadcast(qEmb), "q_id")
      .select(col("q_id"), col("q_emb"), col("cell_id"))
    ivfRank(probes, index, topK)
  }

  // ─────────────────────── product quantization ───────────────────────
  // Jégou et al., "Product Quantization for Nearest Neighbor Search"
  // (TPAMI 2011). The dim-dim float vector splits into m subspaces of
  // dim/m dims; each subspace trains its own k-codeword L2 codebook
  // (Lloyd); a vector is then its m codeword ids — m small ints instead
  // of dim floats (64-dim float32 at m=8 → 32× smaller). Search is ADC:
  // one m×k partial-dot lookup table per query, then each corpus vector
  // scores as m table lookups — no float math against the corpus.

  /** Per-subspace slices of `v(vec_id, embedding)`: (vec_id, sub, sv).
    * Pure projection + bounded ×m explode — runs in the scan stage. */
  private def pqSubvecs(v: DataFrame, m: Int, dsub: Int): DataFrame = {
    val subs = (0 until m).map(sIdx => struct(lit(sIdx).as("sub"),
      slice(col("embedding"), sIdx * dsub + 1, dsub).as("sv")))
    v.select(col("vec_id"), explode(array(subs: _*)).as("x"))
      .select(col("vec_id"), col("x.sub").as("sub"), col("x.sv").as("sv"))
  }

  /** Collect the bounded (≤ m·k rows, tripwired) codebook into per-sub
    * [[ArgMaxDot]] inputs: (code, cw, −‖cw‖²/2). The bias is folded on
    * the driver with the SAME sequential double accumulation the former
    * `aggregate(cw, 0.0, a + x²)` HOF used, and score = dot + (−cw2/2)
    * is IEEE-identical to the former `dot − cw2/2`, so codeword choices
    * are bit-identical to the broadcast-join form. */
  private def pqCodebookRows(cb: DataFrame)
      : Seq[(Int, Seq[(Long, Array[Float], Double)])] = {
    val rows = cb.select(col("sub").cast("int"), col("code").cast("long"),
      col("cw")).collect()
    require(rows.length <= MaxCentroidRows,
      s"codebook has ${rows.length} rows (> $MaxCentroidRows) — " +
        "row-local argmax assignment is for bounded codebooks")
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (s, rs) =>
      s -> rs.toSeq.map { r =>
        val cw = r.getSeq[Float](2).toArray
        val cw2 = cw.foldLeft(0.0d)((a, x) => a + x.toDouble * x.toDouble)
        (r.getLong(1), cw, -(cw2 / 2))
      }
    }
  }

  /** Nearest codeword per (vec_id, sub) under L2: argmin ‖sv−cw‖² =
    * argmax ⟨sv,cw⟩ − ‖cw‖²/2 (‖sv‖² is constant per row, so it never
    * moves the argmin); ties break to the smallest code id, so
    * assignment is deterministic. Computed ROW-LOCALLY per sub via
    * [[graft.functions.ArgMaxDot]] over the collected codebook — the
    * former broadcast-join + max_by groupBy exchanged all N·m subvector
    * rows once per call (one per Lloyd round and once per encode); now
    * the assignment runs in the scan stage with no exchange (guide
    * §2.4). A sub with no surviving codewords drops its rows, exactly
    * like the former inner join on `sub`. */
  private def pqAssignRows(sv: DataFrame,
      cbRows: Seq[(Int, Seq[(Long, Array[Float], Double)])]): DataFrame = {
    val codeExpr = cbRows.foldRight(lit(null).cast("int")) {
      case ((s, rows), elseC) =>
        when(col("sub") === s,
          graft.functions.ArgMaxDot.nearest(col("sv"), rows)
            .getField("id").cast("int"))
          .otherwise(elseC)
    }
    sv.select(col("vec_id"), col("sub"), codeExpr.as("code"), col("sv"))
      .filter(col("code").isNotNull)
  }

  /** Codeword update: per-dimension DECIMAL-accumulated means of the
    * assigned subvectors — partition-order invariant, the (sub, code)-
    * keyed analog of [[refineCentroids]]. Codes that attracted no
    * vectors drop out (the codebook only shrinks; surviving ids are
    * unchanged, so codes stay valid across refinements). */
  private def pqRefine(assigned: DataFrame): DataFrame =
    assigned
      .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy("sub", "code", "pos")
      .agg((sum(col("x").cast("decimal(28,12)")) / count(lit(1)))
        .cast("double").as("cv"))
      .groupBy("sub", "code")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        e => e.getField("cv")).cast("array<float>").as("cw"))

  /** Train the PQ codebook: deterministic seeds (the k smallest
    * xxhash64(vec_id) subvectors per subspace — a per-sub top-k, no
    * global sort), then `iters` Lloyd rounds of L2 assignment +
    * decimal-mean update. Each round is ONE pass over the subvector
    * projection; every intermediate codebook is materialized and the
    * previous one freed, so executor storage holds exactly one ≤ m·k-row
    * codebook at a time. Returns (sub, code, cw), persisted — it is
    * referenced from both the encode and the LUT side of the search. */
  def pqTrain(v: DataFrame, dim: Int = 64, m: Int = 8, k: Int = 16,
      iters: Int = 2): DataFrame = pqTrainRows(v, dim, m, k, iters)._1

  /** [[pqTrain]] that also returns the final codebook's COLLECTED rows:
    * each intermediate codebook is collected exactly once (the collect is
    * the materialize-before-unpersist action) and the rows drive the next
    * round's row-local assignment — one driver job per codebook, never a
    * second collect of the same frame. */
  private def pqTrainRows(v: DataFrame, dim: Int, m: Int, k: Int,
      iters: Int): (DataFrame, Seq[(Int, Seq[(Long, Array[Float], Double)])]) = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val sv = pqSubvecs(v, m, dim / m)
    val ws = Window.partitionBy("sub")
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
    var cb = sv.withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= k)
      .select(col("sub"), (col("rn") - 1).cast("int").as("code"),
        col("sv").as("cw"))
      .persist()
    var rows = pqCodebookRows(cb) // materializes the seed codebook
    for (_ <- 1 to iters) {
      val next = pqRefine(pqAssignRows(sv, rows)).persist()
      rows = pqCodebookRows(next) // materialize before freeing the parent
      cb.unpersist()
      cb = next
    }
    (cb, rows)
  }

  /** Encode the corpus against a trained codebook: (vec_id, codes) with
    * codes(sub) = the vector's codeword id in subspace `sub` — the
    * m-int representation the ADC scan reads instead of raw floats.
    * A pure projection since round 14: one row-local [[ArgMaxDot]] per
    * subspace over the collected codebook, codes emitted in sub order —
    * identical to the former explode + join + collect_list/array_sort
    * round trip, which exchanged N·m rows twice just to reassemble the
    * per-vector array (guide §2.4). */
  def pqEncode(v: DataFrame, cb: DataFrame, dim: Int = 64, m: Int = 8)
      : DataFrame =
    v.select(col("vec_id"),
      pqCodesExpr(pqCodebookRows(cb), dim / m).as("codes"))

  /** The per-vector codes array as ONE row-local expression over the
    * collected codebook (shared by [[pqEncode]] and the packed IVF-PQ
    * projection). */
  private def pqCodesExpr(cbRows: Seq[(Int, Seq[(Long, Array[Float], Double)])],
      dsub: Int) =
    array(cbRows.map { case (s, rows) =>
      graft.functions.ArgMaxDot.nearest(
        slice(col("embedding"), s * dsub + 1, dsub), rows)
        .getField("id").cast("int")
    }: _*)

  /** ADC search (asymmetric distance computation): one m×k partial-dot
    * lookup table per query — built against the FLOAT codebook, so the
    * query side stays exact — then every corpus vector scores as m map
    * lookups over its codes: score(q,v) = Σ_sub LUT[q][sub→codes(sub)],
    * which is EXACTLY ⟨q, reconstruction(v)⟩ (PqSpec pins it). The LUT
    * keys are sub·k+code, so dropped codewords leave holes instead of
    * shifting positions.
    *
    * Scale: the LUT frame is |queries| rows of m·k doubles (~1 KB each
    * at 8×16) and broadcasts; the codes table is the ONLY corpus-sized
    * input — sequential m-int reads + m lookups per vector, never the
    * embeddings. Top-k ranks per query, same output shape as
    * [[ivfSearch]]. */
  def pqSearch(q: DataFrame, codes: DataFrame, cb: DataFrame,
      dim: Int = 64, m: Int = 8, k: Int = 16, topK: Int = 5): DataFrame =
    adcRank(codes.select(col("vec_id").as("c_id"), col("codes"))
        .crossJoin(broadcast(pqLut(q, cb, dim / m, m, k))),
      m, k, topK)

  /** The per-query ADC lookup table: one row per query holding the m×k
    * partial dots against the float codebook, FLATTENED to a dense
    * array<double> indexed by sub·k+code (dropped codewords leave
    * zero-filled holes that no produced code ever indexes — positions
    * never shift). ~1 KB per query at 8×16 — always broadcastable. The
    * flat layout is what lets the scan-side score stay a codegen'd
    * array lookup ([[graft.functions.PqAdcScore]]) instead of a map
    * probe. */
  private def pqLut(q: DataFrame, cb: DataFrame, dsub: Int, m: Int,
      k: Int): DataFrame =
    q.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cb))
      .select(col("q_id"), (col("sub") * k + col("code")).as("key"),
        vecDot(slice(col("q_emb"), col("sub") * dsub + 1, lit(dsub)),
          col("cw")).as("pd"))
      .groupBy("q_id")
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("key"), col("pd"))))).as("lutm"))
      .select(col("q_id"),
        transform(sequence(lit(0), lit(m * k - 1)),
          i => coalesce(element_at(col("lutm"), i), lit(0.0d))).as("lut"))

  /** Score candidates (q_id, c_id, codes, lut) and rank the top `topK`
    * per query — the shared back half of [[pqSearch]] and
    * [[ivfPqSearch]]. The score is ONE codegen'd expression
    * ([[graft.functions.PqAdcScore]]): m array lookups per (query,
    * vector) inside whole-stage codegen — the HOF formulation
    * (aggregate + element_at over a map) fell out of codegen exactly
    * like the LSH signature projection did (SCALE.md §10), and this is
    * the once-per-corpus-vector inner loop. Accumulation order is
    * unchanged, so scores are bit-identical to the HOF form. */
  private def adcRank(cands: DataFrame, m: Int, k: Int, topK: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    cands
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.PqAdcScore.adcScore(col("codes"), col("lut"), k)
          .as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("c_id"), round(col("sim"), 6).as("sim"), col("rk"))
      .orderBy("q_id", "rk")
  }

  /** The composed IVF-PQ index — the production ANN layout: vectors
    * assigned to kCells coarse cells (IVF) AND compressed to m codeword
    * ids (PQ), packed as one (vec_id, cell_id, codes) table. At 100 TB
    * this table — written bucketed by cell_id like [[ivfIndexSave]] —
    * is the ONLY corpus-sized search input: the probe prunes to
    * nprobe/kCells of it and the scan reads m ints per vector.
    * Returns (packed, centroids, codebook); `packed` is persisted — the
    * search references it once per query batch. */
  def ivfPqIndex(v: DataFrame, kCells: Int = 16, dim: Int = 64,
      m: Int = 8, k: Int = 16, iters: Int = 2)
      : (DataFrame, DataFrame, DataFrame) = {
    val seeds = v.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(kCells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"))
    val cent = refineCentroids(assignCells(v, seeds)).persist()
    val centRows = collectCentroids(cent, "cell_id", "c_emb") // materializes
    val (cb, cbRows) = pqTrainRows(v, dim, m, k, iters)
    // cell id and codes are both row-local argmaxes since round 14, so
    // the packed table is ONE projection of the corpus — the former
    // index⋈codes equi-join exchanged 2·N rows to zip two projections
    // of the same row (guide §2.4).
    val cell = graft.functions.ArgMaxDot.nearest(col("embedding"), centRows)
      .getField("id")
    val packed = v.select(col("vec_id"), cell.as("cell_id"),
      pqCodesExpr(cbRows, dim / m).as("codes")).persist()
    (packed, cent, cb)
  }

  /** IVF-PQ search: probe the nprobe nearest cells per query (broadcast
    * centroids, like [[ivfSearch]]), then ADC-score ONLY the probed
    * cells' codes — per-query cost O(N·nprobe/kCells) scans of m-int
    * codes, the multiplicative composition of both scale paths. The
    * probe→candidate join is an equi-join on cell_id (bucket-prunable
    * against a disk-persisted packed table); scores are identical to
    * [[pqSearch]]'s for every surviving pair (PqSpec pins it). */
  def ivfPqSearch(q: DataFrame, packed: DataFrame, cent: DataFrame,
      cb: DataFrame, nprobe: Int, dim: Int = 64, m: Int = 8, k: Int = 16,
      topK: Int = 5): DataFrame = {
    val luts = pqLut(q, cb, dim / m, m, k)
    val cands = ivfProbes(q, cent, nprobe).select("q_id", "cell_id")
      .join(packed.select(col("vec_id").as("c_id"), col("cell_id"),
        col("codes")), "cell_id")
      .join(broadcast(luts), "q_id")
    adcRank(cands, m, k, topK)
  }

  /** The MMR oracle: the 8 greedy rounds unrolled as chained CTEs over
    * the same sequential-order double dots the engine scores with. */
  private val mmrOracle: String = {
    val base =
      s"""WITH q AS MATERIALIZED (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         | cand AS MATERIALIZED (SELECT vec_id AS c_id, embedding,
         |   list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
         |     list_transform(q_emb, x -> CAST(x AS DOUBLE))) AS sim_q
         |  FROM embeddings CROSS JOIN q WHERE vec_id <> 0
         |  ORDER BY sim_q DESC, c_id LIMIT $MmrPage),
         | pair AS MATERIALIZED (SELECT a.c_id AS ca, b.c_id AS cb, $oracleDot AS pd
         |  FROM cand a JOIN cand b ON a.c_id <> b.c_id),
         | s1 AS MATERIALIZED (SELECT c_id, sim_q, 0.0 AS dvs,
         |   $MmrLambda * sim_q - $MmrPenalty * 0.0 AS score
         |  FROM cand
         |  ORDER BY $MmrLambda * sim_q - $MmrPenalty * 0.0 DESC, c_id
         |  LIMIT 1),
         | sel1 AS MATERIALIZED (SELECT c_id FROM s1)""".stripMargin
    val rounds = (2 to MmrK).map { r =>
      s""" r$r AS MATERIALIZED (SELECT c.c_id, c.sim_q, max(p.pd) AS dvs
         |  FROM cand c JOIN pair p ON p.ca = c.c_id
         |  WHERE p.cb IN (SELECT c_id FROM sel${r - 1})
         |   AND c.c_id NOT IN (SELECT c_id FROM sel${r - 1})
         |  GROUP BY 1, 2),
         | s$r AS MATERIALIZED (SELECT c_id, sim_q, dvs,
         |   $MmrLambda * sim_q - $MmrPenalty * dvs AS score
         |  FROM r$r
         |  ORDER BY $MmrLambda * sim_q - $MmrPenalty * dvs DESC, c_id
         |  LIMIT 1),
         | sel$r AS MATERIALIZED (SELECT c_id FROM sel${r - 1}
         |  UNION ALL SELECT c_id FROM s$r)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to MmrK).map(r =>
      s"SELECT $r AS rk, c_id, round(sim_q, 6) AS relevance," +
        s" round(dvs, 6) AS diversity, round(score, 6) AS score FROM s$r")
      .mkString("\n UNION ALL ")
    base + ",\n" + rounds + "\n" + unions + "\n ORDER BY rk"
  }

  val ops: Seq[Op] = Seq(
    // Global top-10 most similar pairs (vectors are ~unit-norm: cosine ≡ dot).
    Op("sim_cosine_topk", (s, dir) => {
      allPairs(t(s, dir, "embeddings"))
        .select(col("d1"), col("d2"), vecDot(col("e1"), col("e2")).as("sim"))
        .orderBy(col("sim").desc, col("d1"), col("d2"))
        .limit(10)
        .select(col("d1"), col("d2"), round(col("sim"), 6).as("sim"))
    },
      Some(s"""SELECT a.vec_id AS d1, b.vec_id AS d2, round($oracleDot, 6) AS sim
              |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              |ORDER BY $oracleDot DESC, d1, d2 LIMIT 10""".stripMargin)),

    // k=5 nearest neighbors for each of the 10 query vectors (vec_id < 10).
    // HARD-NEGATIVE MINING (round 11) — contrastive-training data
    // prep: for each anchor query, the top-k most-similar vectors
    // whose LABEL DIFFERS (high-score wrong-class candidates — the
    // negatives that actually move an embedding model, vs easy random
    // ones). Exactly sim_knn_per_query's scale shape — bounded
    // broadcast anchor set, one corpus scan, WindowGroupLimit top-k —
    // plus the label-disagreement predicate riding the broadcast join
    // condition, so non-negatives are dropped BEFORE the dot product.
    Op("sim_hard_negatives", (s, dir) => {
      val v = t(s, dir, "embeddings")
      val q = v.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      val c = v.select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb"), col("label").as("c_label"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("c_id"))
      c.join(broadcast(q), col("q_id") =!= col("c_id") &&
          col("q_label") =!= col("c_label"))
        .select(col("q_id"), col("c_id"), col("c_label"),
          vecDot(col("q_emb"), col("c_emb")).as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("c_id"), col("c_label"),
          round(col("sim"), 6).as("sim"), col("rk"))
        .orderBy("q_id", "rk")
    },
      Some(s"""SELECT q_id, c_id, c_label, round(sim, 6) AS sim, rk FROM (
              |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
              |    b.label AS c_label, $oracleDot AS sim,
              |    CAST(row_number() OVER (PARTITION BY a.vec_id
              |      ORDER BY $oracleDot DESC, b.vec_id) AS INT) AS rk
              |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
              |   AND a.label <> b.label
              |  WHERE a.vec_id < 10)
              |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin)),

    Op("sim_knn_per_query", (s, dir) => {
      val v = t(s, dir, "embeddings")
      val q = v.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val c = v.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
      c.join(broadcast(q), col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"), vecDot(col("q_emb"), col("c_emb")).as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("c_id"), round(col("sim"), 6).as("sim"), col("rk"))
        .orderBy("q_id", "rk")
    },
      Some(s"""SELECT q_id, c_id, round(sim, 6) AS sim, rk FROM (
              |  SELECT a.vec_id AS q_id, b.vec_id AS c_id, $oracleDot AS sim,
              |    CAST(row_number() OVER (PARTITION BY a.vec_id
              |      ORDER BY $oracleDot DESC, b.vec_id) AS INT) AS rk
              |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
              |  WHERE a.vec_id < 10)
              |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin)),

    // MAXIMAL MARGINAL RELEVANCE re-rank (Carbonell–Goldstein 1998) —
    // the retrieval-diversity pass every RAG/search stack runs on the
    // retrieved page: greedily pick argmax λ·sim(q,d) −
    // (1−λ)·max_{s∈S} sim(d,s), so near-duplicate hits don't fill all
    // k slots. Inherently SEQUENTIAL in k (each pick changes the
    // penalty landscape), so the distributed work is exactly the
    // production shape: the corpus-sized part is the broadcast-query
    // scoring scan + a TakeOrdered top-20 page; the k=8 greedy loop
    // runs driver-side on that bounded page (the ivfSearchTable
    // tripwire precedent — a page is ≤20 rows BY CONSTRUCTION, and
    // rerankers everywhere operate on the retrieved page, not the
    // corpus). Determinism: sims are the shared sequential FloatVecDot
    // doubles; scores are one IEEE expression; ties break on c_id. The
    // oracle unrolls the 8 greedy rounds as chained CTEs over the same
    // doubles.
    Op("sim_mmr_diversify", (s, dir) => {
      val cand = mmrPageFrame(s, dir).localCheckpoint()
      val pd = cand.select(col("c_id").as("ca"), col("embedding").as("ea"))
        .crossJoin(cand.select(col("c_id").as("cb"), col("embedding").as("eb")))
        .filter(col("ca") =!= col("cb"))
        .select(col("ca"), col("cb"), vecDot(col("ea"), col("eb")).as("pd"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val page = cand.select("c_id", "sim_q").collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
      require(page.length <= MmrPage, "page tripwire")
      var selected = Vector.empty[(Int, Long, Double, Double, Double)]
      var remaining = page.toVector
      for (rank <- 1 to MmrK if remaining.nonEmpty) {
        val scored = remaining.map { case (cid, sq) =>
          val div =
            if (selected.isEmpty) 0.0
            else selected.map(sel => pd((cid, sel._2))).max
          (cid, sq, div, MmrLambda * sq - MmrPenalty * div)
        }
        val pick = scored.minBy { case (cid, _, _, score) => (-score, cid) }
        selected :+= ((rank, pick._1, pick._2, pick._3, pick._4))
        remaining = remaining.filterNot(_._1 == pick._1)
      }
      import s.implicits._
      selected.toDF("rk", "c_id", "relevance", "diversity", "score")
        .select(col("rk"), col("c_id"),
          round(col("relevance"), 6).as("relevance"),
          round(col("diversity"), 6).as("diversity"),
          round(col("score"), 6).as("score"))
        .orderBy("rk")
    },
      Some(mmrOracle)),

    // HYBRID retrieval via Reciprocal Rank Fusion (Cormack 2009,
    // k=60) — the production search stack's standard fusion of a lexical
    // ranker and an embedding ranker, here for query doc/vec 0 (the two
    // id domains are 1:1 by construction, FIXTURES.md). Scale shape:
    // neither ranked list is a global sort — each list is a top-100
    // TakeOrderedAndProject (per-partition heap + driver merge of 100-row
    // partials), and ranks are assigned by a window over that bounded
    // 100-row candidate frame, so the only corpus-sized work is the two
    // embarrassingly-parallel scoring scans (broadcast 1-row query).
    // Fusion is a full-outer join of two 100-row frames. Determinism:
    // the dot is the sequential-order FloatVecDot both engines share;
    // Jaccard is integer-rational; RRF scores are sums of distinct unit
    // fractions rounded AFTER ordering is fixed by (score, doc_id).
    Op("sim_hybrid_rrf", (s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val qEmb = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val topCos = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qEmb))
        .select(col("vec_id").as("doc_id"),
          vecDot(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("doc_id")).limit(100)
        .withColumn("rank_cos",
          row_number().over(Window.orderBy(col("cos_sim").desc, col("doc_id"))))
        .select("doc_id", "rank_cos")
      val qWords = docs.filter(col("doc_id") === 0)
        .select(explode(array_distinct(split(col("text"), " "))).as("term"))
      val nq = qWords.agg(count(lit(1)).as("nq"))
      val dWords = docs.filter(col("doc_id") =!= 0)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
      val inter = dWords.join(broadcast(qWords), "term")
        .groupBy("doc_id").agg(count(lit(1)).as("inter"))
      val topJac = dWords.groupBy("doc_id").agg(count(lit(1)).as("nd"))
        .join(inter, Seq("doc_id"), "left").na.fill(0L, Seq("inter"))
        .crossJoin(broadcast(nq))
        .select(col("doc_id"), (col("inter").cast("double")
          / (col("nd") + col("nq") - col("inter"))).as("jac_sim"))
        .orderBy(col("jac_sim").desc, col("doc_id")).limit(100)
        .withColumn("rank_jac",
          row_number().over(Window.orderBy(col("jac_sim").desc, col("doc_id"))))
        .select("doc_id", "rank_jac")
      topCos.join(topJac, Seq("doc_id"), "full_outer")
        .withColumn("rrf_score", round(
          coalesce(lit(1.0) / (lit(60) + col("rank_cos")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("rank_jac")), lit(0.0)), 6))
        .orderBy(col("rrf_score").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), col("rank_cos"), col("rank_jac"), col("rrf_score"))
    },
      Some("""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
             | cos AS (SELECT vec_id AS doc_id,
             |    list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
             |      list_transform(q_emb, x -> CAST(x AS DOUBLE))) AS cos_sim
             |   FROM embeddings CROSS JOIN q WHERE vec_id <> 0),
             | rc AS (SELECT doc_id, rank_cos FROM (
             |    SELECT doc_id, CAST(row_number() OVER (
             |      ORDER BY cos_sim DESC, doc_id) AS INT) AS rank_cos FROM cos)
             |   WHERE rank_cos <= 100),
             | qw AS (SELECT DISTINCT term FROM (
             |    SELECT unnest(string_split(text, ' ')) AS term FROM documents
             |    WHERE doc_id = 0)),
             | nq AS (SELECT count(*) AS nq FROM qw),
             | dw AS (SELECT DISTINCT doc_id, term FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
             |    WHERE doc_id <> 0)),
             | nd AS (SELECT doc_id, count(*) AS nd FROM dw GROUP BY 1),
             | i AS (SELECT doc_id, count(*) AS inter FROM dw JOIN qw USING (term)
             |   GROUP BY 1),
             | jac AS (SELECT nd.doc_id,
             |    CAST(coalesce(i.inter, 0) AS DOUBLE)
             |      / (nd.nd + nq.nq - coalesce(i.inter, 0)) AS jac_sim
             |   FROM nd LEFT JOIN i ON nd.doc_id = i.doc_id CROSS JOIN nq),
             | rj AS (SELECT doc_id, rank_jac FROM (
             |    SELECT doc_id, CAST(row_number() OVER (
             |      ORDER BY jac_sim DESC, doc_id) AS INT) AS rank_jac FROM jac)
             |   WHERE rank_jac <= 100)
             |SELECT coalesce(rc.doc_id, rj.doc_id) AS doc_id, rc.rank_cos, rj.rank_jac,
             | round(coalesce(1.0 / (60 + rc.rank_cos), 0)
             |   + coalesce(1.0 / (60 + rj.rank_jac), 0), 6) AS rrf_score
             |FROM rc FULL OUTER JOIN rj ON rc.doc_id = rj.doc_id
             |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin)),

    // RANGE search (radius query): every candidate within cosine ≥ 0.30
    // of each query vector — the "all sufficiently similar" dual of
    // sim_knn_per_query's top-k (retrieval-augmented dedup and contamination
    // sweeps want the full ball, not a fixed k). Same broadcast shape as
    // knn: the bounded query set broadcasts, the corpus side is one
    // zero-shuffle scan with the codegen'd FloatVecDot predicate; no
    // window is needed at all because the radius, unlike top-k, is a pure
    // per-row filter. The filter applies to the UNROUNDED similarity,
    // rounding only the reported value.
    Op("sim_range_search", (s, dir) => {
      val v = t(s, dir, "embeddings")
      val q = v.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val c = v.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      c.join(broadcast(q), col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"), vecDot(col("q_emb"), col("c_emb")).as("sim"))
        .filter(col("sim") >= 0.30)
        .select(col("q_id"), col("c_id"), round(col("sim"), 6).as("sim"))
        .orderBy("q_id", "c_id")
    },
      Some(s"""SELECT a.vec_id AS q_id, b.vec_id AS c_id, round($oracleDot, 6) AS sim
              |FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
              |WHERE a.vec_id < 10 AND $oracleDot >= 0.30
              |ORDER BY q_id, c_id""".stripMargin)),

    // Nearest-EXEMPLAR assignment: label every corpus vector with its
    // closest of the 10 exemplar vectors (the semantic-domain routing /
    // cluster-assignment step of embedding-based curation). Unlike the
    // per-query top-k, the argmax here is per CORPUS row, so a window
    // would shuffle the whole (corpus × exemplars) frame; instead the
    // argmax folds inside ONE two-phase hash agg via lexicographic
    // struct max — (sim, -exemplar_id) — map-side combine reduces each
    // corpus row's 10 candidates to 1 before the only exchange, and ties
    // on sim break to the smallest exemplar id, matching the oracle's
    // (sim DESC, id ASC) rank.
    Op("sim_nearest_exemplar", (s, dir) => {
      val v = t(s, dir, "embeddings")
      val q = v.filter(col("vec_id") < 10)
        .select(col("vec_id").as("e_id"), col("embedding").as("q_emb"))
      val c = v.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      c.join(broadcast(q))
        .select(col("c_id"), struct(
          vecDot(col("c_emb"), col("q_emb")).as("sim"),
          (-col("e_id")).as("neg_id"), col("e_id")).as("cand"))
        .groupBy("c_id").agg(max("cand").as("m"))
        .select(col("c_id"), col("m.e_id").as("exemplar_id"),
          round(col("m.sim"), 6).as("sim"))
        .orderBy("c_id")
    },
      Some(s"""SELECT c_id, exemplar_id, round(sim, 6) AS sim FROM (
              |  SELECT b.vec_id AS c_id, a.vec_id AS exemplar_id, $oracleDot AS sim,
              |    row_number() OVER (PARTITION BY b.vec_id
              |      ORDER BY $oracleDot DESC, a.vec_id) AS rn
              |  FROM embeddings a JOIN embeddings b
              |    ON a.vec_id < 10 AND b.vec_id >= 10)
              |WHERE rn = 1 ORDER BY c_id""".stripMargin)),

    // Embedding-cosine near-dup pairs above a fixed threshold.
    Op("dedup_embed_cosine", (s, dir) => {
      allPairs(t(s, dir, "embeddings"))
        .withColumn("sim", vecDot(col("e1"), col("e2")))
        .filter(col("sim") >= 0.35)
        .select(col("d1"), col("d2"), round(col("sim"), 6).as("sim"))
        .orderBy("d1", "d2")
    },
      Some(s"""SELECT a.vec_id AS d1, b.vec_id AS d2, round($oracleDot, 6) AS sim
              |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              |WHERE $oracleDot >= 0.35
              |ORDER BY d1, d2""".stripMargin)),

    // SemDeDup (Abbas et al. 2023) end-to-end: embedding-cosine pair
    // graph → connected components → one canonical representative (min
    // id) per semantic cluster. This is the composite that semantic-
    // dedups a corpus by MEANING where the MinHash path dedups by
    // SURFACE: the pair miner here is the brute-force baseline (exact,
    // oracle-checkable); at corpus scale the identical downstream —
    // CC + canonical pick — runs off `sim_ann_lsh`'s banded candidates
    // instead, so the composite's shuffles stay ids-only regardless of
    // which miner feeds it. The canonical pick is a per-cluster min
    // window; clusters are small by construction (cosine ≥ 0.35 balls),
    // so no skewed partition exists.
    Op("pipeline_semantic_dedup", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = allPairs(emb)
        .withColumn("sim", vecDot(col("e1"), col("e2")))
        .filter(col("sim") >= 0.35)
        .select("d1", "d2")
      val labels = DedupOps.connectedComponents(pairs)
      val grouped = emb.join(labels, emb("vec_id") === labels("doc_id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster_id"), col("vec_id")).as("group_id"))
      grouped
        .withColumn("is_canonical",
          col("vec_id") === min(col("vec_id"))
            .over(Window.partitionBy("group_id")))
        .orderBy("vec_id")
    },
      // Same recursive-walk CC fixpoint the simhash clusterLabelsSql uses,
      // seeded from the cosine pair graph instead.
      Some(s"""WITH p AS (SELECT a.vec_id AS d1, b.vec_id AS d2
              |   FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              |   WHERE $oracleDot >= 0.35),
              | e AS (SELECT d1, d2 FROM p UNION SELECT d2, d1 FROM p),
              | labels AS (SELECT doc_id, min(lbl) AS cluster_id FROM (
              |   WITH RECURSIVE walk(doc_id, lbl) AS (
              |     SELECT d1, d1 FROM e
              |     UNION
              |     SELECT e.d1, w.lbl FROM e JOIN walk w ON e.d2 = w.doc_id)
              |   SELECT doc_id, lbl FROM walk)
              |  GROUP BY doc_id)
              |SELECT v.vec_id, COALESCE(l.cluster_id, v.vec_id) AS group_id,
              | v.vec_id = min(v.vec_id) OVER (
              |   PARTITION BY COALESCE(l.cluster_id, v.vec_id)) AS is_canonical
              |FROM embeddings v LEFT JOIN labels l ON v.vec_id = l.doc_id
              |ORDER BY v.vec_id""".stripMargin)),

    // LSH-bucketed approximate near-neighbor pairs: 4 hash tables × 4-bit
    // random-hyperplane signatures; a pair is a candidate if ANY band
    // bucket collides (standard banding — per-band match prob p^4, overall
    // 1-(1-p^4)^4). No SQL oracle (approximate path); recall vs brute
    // force is property-tested in the unit suite.
    // Symmetric int8 quantization of the embedding column — the 4×
    // vector-bytes reduction that makes a 100 TB ANN index fit: codes are
    // max-abs-scaled to [-127, 127] and emitted as exact integers (csv),
    // so the result is bit-deterministic on both engines. Pure projection,
    // no shuffle; at scale this runs in the scan stage. QuantizeSpec pins
    // the reconstruction error and that quantized top-k ≈ exact top-k.
    // EMBEDDING-CORPUS AUDIT — the data-quality gate an ANN pipeline runs
    // BEFORE building any index: dimension consistency (a ragged corpus
    // breaks every dot product), zero-norm and NaN vectors (poison
    // cosine scoring), and the L2-norm envelope (catches an unnormalized
    // batch sneaking into a normalized corpus). Per-vector norm² is a
    // per-element double accumulation in INDEX ORDER (both engines
    // promote each float32 exactly and apply correctly-rounded *,+ in
    // the same sequence — bit-identical), released at 6 dp. Shape: one
    // scan-stage projection + a 1-row agg; nothing vector-keyed ever
    // shuffles, so the audit costs one corpus pass at any scale.
    Op("pipeline_embedding_audit", (s, dir) => {
      val sq = aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))
      val per = t(s, dir, "embeddings").select(
        size(col("embedding")).as("dim"),
        round(sqrt(sq), 6).as("norm"),
        when(exists(col("embedding"), x => isnan(x.cast("double"))), 1L)
          .otherwise(0L).as("has_nan"))
      per.agg(
        count(lit(1)).as("n_vecs"),
        countDistinct(col("dim")).as("n_dims_distinct"),
        min("dim").as("min_dim"),
        max("dim").as("max_dim"),
        sum("has_nan").as("n_nan_vecs"),
        sum(when(col("norm") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
        min("norm").as("min_norm"),
        max("norm").as("max_norm"),
        round(dsum6(col("norm")) / count(lit(1)), 6).as("mean_norm"))
    },
      Some("""WITH per AS (SELECT len(embedding) AS dim,
             |   round(sqrt(list_aggregate(
             |     list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
             |     'sum')), 6) AS norm,
             |   CASE WHEN len(list_filter(embedding,
             |     x -> isnan(CAST(x AS DOUBLE)))) > 0 THEN 1 ELSE 0 END AS has_nan
             | FROM embeddings)
             |SELECT count(*) AS n_vecs,
             | count(DISTINCT dim) AS n_dims_distinct,
             | CAST(min(dim) AS INT) AS min_dim,
             | CAST(max(dim) AS INT) AS max_dim,
             | CAST(sum(has_nan) AS BIGINT) AS n_nan_vecs,
             | CAST(sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
             | min(norm) AS min_norm,
             | max(norm) AS max_norm,
             | round(CAST(sum(CAST(norm AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             |   AS mean_norm
             |FROM per""".stripMargin)),

    Op("sim_quantize_int8", (s, dir) => {
      val v = t(s, dir, "embeddings")
        .withColumn("mx", array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      v.select(
        col("vec_id"),
        size(col("embedding")).as("n_dims"),
        col("mx").as("max_abs"),
        array_join(
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(127.0) / col("mx") + lit(0.5))
              .cast("int").cast("string")),
          ",").as("codes_csv"),
      ).orderBy("vec_id")
    },
      Some("""WITH s AS (SELECT vec_id, embedding,
             |   list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
             |  FROM embeddings)
             |SELECT vec_id, CAST(len(embedding) AS INT) AS n_dims, mx AS max_abs,
             | array_to_string(list_transform(embedding,
             |   x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS INT) AS VARCHAR)),
             |   ',') AS codes_csv
             |FROM s ORDER BY vec_id""".stripMargin)),

    Op("sim_ann_lsh", (s, dir) => {
      // Ids-only through the band self-join — the 256B vector ×bands on
      // both sides would multiply shuffle payload ~2·bands×. Embeddings
      // re-attach to the (bounded) candidate set by broadcast, exactly
      // like dedup_near_minhash. Scale guards, in order: [[lshParams]]
      // keeps bucket occupancy ~constant as N grows (linear pair volume),
      // and [[DedupOps.cappedBandPairs]] star-expands any residual hot
      // bucket (mass near-duplicate vectors) instead of mining c².
      val cand = DedupOps.cappedBandPairs(
        lshBands(t(s, dir, "embeddings")), "vec_id", Seq("band_id", "bucket"))
      val emb = t(s, dir, "embeddings")
      cand
        .join(broadcast(emb.select(col("vec_id").as("d1"), col("embedding").as("e1"))), "d1")
        .join(broadcast(emb.select(col("vec_id").as("d2"), col("embedding").as("e2"))), "d2")
        .withColumn("sim", vecDot(col("e1"), col("e2")))
        .filter(col("sim") >= 0.3)
        .select(col("d1"), col("d2"), round(col("sim"), 6).as("sim"))
        .orderBy("d1", "d2")
    },
      None),
    // Two-stage ANN RETRIEVAL (candidate-generate → exact re-rank) — the
    // production search shape sim_ann_lsh's pair miner doesn't cover:
    // a bounded QUERY set retrieves, per query, every corpus vector
    // sharing any LSH band bucket (an equi-join on (band_id, bucket) —
    // per-query cost ∝ bucket occupancy, never a corpus scan), then the
    // exact codegen'd dot product re-scores ONLY the candidates and a
    // per-query window keeps the top 5. The first stage is allowed to be
    // sloppy (banding recall, no score fidelity); the second stage makes
    // every SURVIVING score exact — so precision errors can only be
    // missing neighbors, never wrong scores, which is the invariant
    // DedupSimilaritySpec pins (score-exactness vs brute force + recall
    // floor). No SQL oracle: the candidate set is LSH-shape-dependent.
    Op("sim_ann_rerank", (s, dir) => {
      val v = t(s, dir, "embeddings")
      val bands = lshBands(v)
      val qb = bands.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("band_id"), col("bucket"))
      val cand = qb.join(bands.filter(col("vec_id") >= 10), Seq("band_id", "bucket"))
        .select(col("q_id"), col("vec_id").as("c_id")).distinct()
      val withQ = cand.join(
        broadcast(v.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))), "q_id")
      val rer = v.select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        .join(broadcast(withQ), "c_id")
        .withColumn("sim", vecDot(col("qe"), col("ce")))
      val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
      rer.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select(col("q_id"), col("c_id"), round(col("sim"), 6).as("sim"), col("rk"))
        .orderBy("q_id", "rk")
    },
      None),
    // MULTIPROBE LSH retrieval — the declared "next rung" past plain
    // banding: the QUERY side probes, per band, its exact bucket AND
    // every 1-bit-flipped neighbor bucket (bits+1 probes — the bucket IS
    // the packed sign vector, so a neighbor probe is one XOR). A near
    // neighbor that lands across a single hyperplane from the query is
    // recovered WITHOUT growing the index: ~(bits+1)× the per-query
    // probe work buys recall comparable to ~(bits+1)× more bands at
    // 1/(bits+1) the index size — the index-size-vs-query-time trade a
    // 100 TB corpus wants (the index is corpus-sized; queries are not).
    // Candidates are a strict superset of the exact-probe set (flip=0 is
    // included), so recall dominance is structural — pinned in
    // DedupSimilaritySpec together with score exactness of the re-rank.
    Op("sim_ann_multiprobe", (s, dir) => {
      val v = t(s, dir, "embeddings")
      val (bits, _) = lshParams(v.count())
      val bands = lshBands(v)
      val flips = array((lit(0) +: (0 until bits).map(i => lit(1 << i))): _*)
      val probes = bands.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("band_id"), col("bucket"),
          explode(flips).as("flip"))
        .withColumn("bucket", col("bucket").bitwiseXOR(col("flip")))
        .drop("flip")
      val cand = probes
        .join(bands.filter(col("vec_id") >= 10), Seq("band_id", "bucket"))
        .select(col("q_id"), col("vec_id").as("c_id")).distinct()
      val withQ = cand.join(
        broadcast(v.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))), "q_id")
      val rer = v.select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        .join(broadcast(withQ), "c_id")
        .withColumn("sim", vecDot(col("qe"), col("ce")))
      val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
      rer.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select(col("q_id"), col("c_id"), round(col("sim"), 6).as("sim"), col("rk"))
        .orderBy("q_id", "rk")
    },
      None),
    // MATRYOSHKA (MRL) PREFIX RETRIEVAL — the modern two-stage trick for
    // embeddings trained with nested sub-dimensions: score the corpus on
    // the FIRST 16 dims only (4× less arithmetic and — the real win at
    // 100 TB — 4× less embedding I/O if the prefix is stored as its own
    // column/file), keep top-20 per query, then re-rank the survivors
    // with the full 64-dim exact dot and keep top-5. Both stages are
    // exact arithmetic (sequential left-fold ≡ DuckDB list_dot_product),
    // so unlike LSH the whole pipeline is deterministic and ORACLE-
    // CHECKED — the approximation is purely "the prefix ranking may
    // differ from the full ranking", exactly MRL's contract. The corpus
    // side never shuffles: queries broadcast through both stages; the
    // only exchanges are the two bounded top-k windows.
    Op("sim_mrl_prefix_rerank", (s, dir) => {
      val v = t(s, dir, "embeddings")
      val q = v.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val c = v.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      val prefixDot = expr(
        """aggregate(zip_with(slice(qe, 1, 16), slice(ce, 1, 16),
          |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          | CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
      val w1 = Window.partitionBy("q_id").orderBy(col("psim").desc, col("c_id"))
      val stage1 = c.join(broadcast(q))
        .withColumn("psim", prefixDot)
        .withColumn("prk", row_number().over(w1))
        .filter(col("prk") <= 20)
      val w2 = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
      stage1
        .withColumn("sim", vecDot(col("qe"), col("ce")))
        .withColumn("rk", row_number().over(w2))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("c_id"), round(col("sim"), 6).as("sim"), col("rk"))
        .orderBy("q_id", "rk")
    },
      Some("""WITH q AS (SELECT vec_id AS q_id, embedding AS qe
             |   FROM embeddings WHERE vec_id < 10),
             | c AS (SELECT vec_id AS c_id, embedding AS ce
             |   FROM embeddings WHERE vec_id >= 10),
             | s1 AS (SELECT q_id, c_id, qe, ce,
             |    list_dot_product(list_transform(qe[1:16], x -> CAST(x AS DOUBLE)),
             |      list_transform(ce[1:16], x -> CAST(x AS DOUBLE))) AS psim
             |   FROM q, c),
             | r1 AS (SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY psim DESC, c_id) AS prk FROM s1),
             | s2 AS (SELECT q_id, c_id,
             |    list_dot_product(list_transform(qe, x -> CAST(x AS DOUBLE)),
             |      list_transform(ce, x -> CAST(x AS DOUBLE))) AS fsim
             |   FROM r1 WHERE prk <= 20),
             | r2 AS (SELECT q_id, c_id, fsim, CAST(row_number() OVER (
             |    PARTITION BY q_id ORDER BY fsim DESC, c_id) AS INT) AS rk FROM s2)
             |SELECT q_id, c_id, round(fsim, 6) AS sim, rk
             |FROM r2 WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin)),
    // IVF (inverted-file) ANN: coarse k-means quantizer (deterministic
    // seeds + one Lloyd refinement), vectors indexed by nearest centroid,
    // each query probes only its nprobe nearest cells. The second scale
    // path besides LSH banding: per-query search cost drops from O(N) to
    // O(N·nprobe/K). No SQL oracle (approximate path); recall on clustered
    // data is property-tested in the unit suite.
    Op("sim_ivf_knn", (s, dir) => {
      val v = t(s, dir, "embeddings")
      val (index, cent) = ivfIndex(v, k = 16)
      ivfSearch(v.filter(col("vec_id") < 10), index, cent, nprobe = 2, topK = 5)
    },
      None),
    // Spherical k-means training trace: 4 Lloyd iterations over the
    // embedding table, one row per iteration with the Σ-max-dot
    // objective (decimal-accumulated → bit-deterministic) and the
    // surviving cell count. No SQL oracle (iterative trainer); the
    // monotone-objective Lloyd invariant and planted-cluster recovery
    // are property-tested in IvfSpec. The table is cached for the
    // duration: each iteration is one corpus pass by design.
    Op("sim_kmeans_train", (s, dir) => {
      import s.implicits._
      val v = t(s, dir, "embeddings").persist()
      try {
        val (cent, objs) = sphericalKmeans(v, k = 16, iters = 4)
        val n = cent.count()
        cent.unpersist()
        objs.zipWithIndex
          .map { case (o, i) => (i + 1L, o, n) }
          .toDF("iter", "objective", "n_cells")
          .orderBy("iter")
      } finally v.unpersist()
    },
      None),
    // Product-quantization ANN (Jégou et al., TPAMI 2011): m=8 subspaces
    // × k=16 L2 codewords each; the corpus is stored as 8 small ints per
    // vector and queries score it via ADC lookup tables — the compressed-
    // domain scale path (third next to LSH banding and IVF) that replaces
    // a 100 TB float corpus with ~3 TB of codes at search time. No SQL
    // oracle (trained quantizer); PqSpec pins the ADC ≡ ⟨q, reconstruction⟩
    // invariant, planted-cluster recall, determinism across partitionings,
    // and the codebook/code shape.
    Op("sim_pq_knn", (s, dir) => {
      val v = t(s, dir, "embeddings").persist()
      // Round 15 (ADVICE): reuse the training-time collected codebook
      // rows for the encode projection — one driver job per codebook,
      // never a second collect of the same frame (pqTrainRows' stated
      // invariant, which the pqEncode(cb) form silently broke).
      val (cb, cbRows) = pqTrainRows(v, dim = 64, m = 8, k = 16, iters = 2)
      v.unpersist() // training materialized; encode/search rescan the source
      val codes = v.select(col("vec_id"),
        pqCodesExpr(cbRows, dsub = 8).as("codes"))
      pqSearch(v.filter(col("vec_id") < 10), codes, cb,
        dim = 64, m = 8, k = 16, topK = 5)
    },
      None),
    // IVF-PQ: the composed production layout — coarse cells prune the
    // corpus to nprobe/kCells, PQ codes compress what remains to m ints
    // per vector. One packed (vec_id, cell_id, codes) table is the only
    // corpus-sized search input. No SQL oracle; PqSpec pins score
    // equality with flat PQ on surviving pairs + planted-cluster recall.
    Op("sim_ivfpq_knn", (s, dir) => {
      val v = t(s, dir, "embeddings").persist()
      val (packed, cent, cb) =
        ivfPqIndex(v, kCells = 16, dim = 64, m = 8, k = 16, iters = 2)
      v.unpersist()
      ivfPqSearch(v.filter(col("vec_id") < 10), packed, cent, cb,
        nprobe = 2, dim = 64, m = 8, k = 16, topK = 5)
    },
      None),
  )
}
