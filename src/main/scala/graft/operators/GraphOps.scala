package graft.operators

import graft.SessionMemo.{checkpointTracked, freeCheckpoint}
import graft.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over document-similarity graphs — PageRank centrality
  * on the near-dup pair graph (which documents are the "canonical"
  * centers of duplication neighborhoods, the signal a training-data
  * pipeline uses to pick the representative of a near-dup cluster and to
  * weight boilerplate-heavy sources down).
  *
  * Determinism design: the whole recurrence runs in 64-bit INTEGER
  * micro-units (total mass = [[Scale]] = 1e12, all divisions are integer
  * `div`), so every engine computes bit-identical ranks — no float
  * accumulation order, no decimal division scale rules, and the DuckDB
  * oracle can replay the exact recurrence with `//` floor division
  * (all operands are non-negative, so floor ≡ truncation in both
  * engines). Mass bookkeeping: each round loses < 1 micro-unit per edge
  * (the pr div outdeg floor) + 1 per node (the ·85/100 floor) — bounded
  * and pinned by the mass-conservation test.
  *
  * Scale design: the rank frame is (node, outdeg, pr) — ids and longs
  * only, never document payloads; each round is one equi-join of the
  * cached symmetric edge list against the rank frame + one map-side-
  * combined sum, i.e. the same shape as one [[DedupOps.ccIterative]]
  * round. Fixed-K lineage stays shallow (K joins); the convergence
  * variant checkpoints each round through [[graft.SessionMemo.checkpointTracked]]
  * and frees superseded label frames exactly like CC does.
  */
object GraphOps {

  /** Total PageRank mass in micro-units: 1e12 ≈ 12 significant digits of
    * rank resolution, while 85 × (sum of all contributions) still fits a
    * long with 5 decades of headroom (8.5e13 « 9.2e18). */
  val Scale: Long = 1000000000000L

  /** Damping factor as an exact integer ratio (d = 85/100): the
    * recurrence multiplies by 85 then integer-divides by 100, so no
    * float ever enters the computation. */
  val DampNum: Long = 85L
  val DampDen: Long = 100L

  /** One PageRank round on the integer lattice:
    * pr'(v) = teleport + (85 · Σ_{u→v} (pr(u) div outdeg(u))) div 100.
    * `pr` carries (node, outdeg, pr); returns the same shape. */
  private def step(e: DataFrame, deg: DataFrame, pr: DataFrame,
      teleport: Long): DataFrame = {
    val contrib = e.join(pr, e("u") === pr("node"))
      .select(col("v"), expr("pr div outdeg").as("c"))
      .groupBy("v").agg(sum(col("c")).as("s"))
    deg.join(contrib, deg("u") === contrib("v"), "left")
      .select(deg("u").as("node"), deg("outdeg"),
        (lit(teleport) +
          expr(s"($DampNum * coalesce(s, CAST(0 AS BIGINT))) div $DampDen"))
          .as("pr"))
  }

  /** Symmetric edge list + out-degrees for an undirected pair set
    * `pairs(d1, d2)`; both frames persist (they are the leaf of every
    * round's join) and the caller must unpersist them. Returns
    * (edges(u, v), deg(u, outdeg), nodeCount). */
  private def edgeFrames(pairs: DataFrame): (DataFrame, DataFrame, Long) = {
    val e = pairs.select(col("d1").as("u"), col("d2").as("v"))
      .union(pairs.select(col("d2").as("u"), col("d1").as("v")))
      .persist()
    val deg = e.groupBy("u").agg(count(lit(1)).as("outdeg")).persist()
    (e, deg, deg.count()) // materializes both caches in one job
  }

  /** Fixed-iteration PageRank over an undirected pair set `pairs(d1,d2)`
    * (each edge walks both directions, so the graph has no dangling
    * nodes — every node in the frame has outdeg ≥ 1 and the teleport
    * term is the only rank source besides neighbors). Returns
    * (doc_id, pr) with pr in micro-units of [[Scale]]; bit-deterministic
    * across engines, partitionings, and runs. Fixed K keeps the lineage
    * K joins deep — no checkpointing needed; the result is eagerly
    * localCheckpoint'ed so the cached edge frames can be freed before
    * returning (same block-hygiene pattern as [[DedupOps.connectedComponents]]). */
  def pageRank(pairs: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "at least one PageRank iteration")
    val (e, deg, n) = edgeFrames(pairs)
    require(n > 0, "PageRank needs a non-empty edge set")
    val teleport = Scale * (DampDen - DampNum) / DampDen / n
    var pr = deg.select(col("u").as("node"), col("outdeg"),
      lit(Scale / n).as("pr"))
    for (_ <- 1 to iters) pr = step(e, deg, pr, teleport)
    val out = pr.select(col("node").as("doc_id"), col("pr")).localCheckpoint()
    e.unpersist()
    deg.unpersist()
    out
  }

  /** SYNCHRONOUS LABEL PROPAGATION (Raghavan–Albert–Kumara 2007) with a
    * fully deterministic tie rule — the community detector that needs no
    * parameter except the round count, used to group near-dup
    * neighborhoods into boilerplate families one notch coarser than
    * connected components' "any path" rule. Every node starts as its own
    * label; each round every node adopts its neighbors' PLURALITY label
    * (most frequent; ties broken toward the SMALLEST label — classic LPA
    * breaks ties randomly, which can never be hash-verified). Labels are
    * doc-id longs, counts exact, the argmax is `max(struct(c, −lbl))` —
    * one equi-join + two hash aggs per round, bit-identical across
    * engines/partitionings (the pageRank determinism contract), and the
    * oracle replays the identical recurrence as unrolled CTEs. Fixed K
    * keeps lineage shallow; the result localCheckpoints so the cached
    * edge frames can be freed (the pageRank block-hygiene pattern). */
  def labelPropagation(pairs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one LPA round")
    val (e, deg, n) = edgeFrames(pairs)
    require(n > 0, "label propagation needs a non-empty edge set")
    var lbl = deg.select(col("u").as("node"), col("u").as("lbl"))
    for (_ <- 1 to rounds) {
      val nbr = e.join(lbl.withColumnRenamed("node", "vn"),
          e("v") === col("vn"))
        .groupBy(e("u").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      lbl = nbr.groupBy("node")
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
    }
    val out = lbl.localCheckpoint()
    e.unpersist()
    deg.unpersist()
    out
  }

  /** Rounds the last [[pageRankConverged]] call actually ran — test-only
    * observability, same pattern as [[DedupOps.lastCcRegime]]. */
  private[graft] val lastPrRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** PageRank iterated to a measured fixpoint: stops when the L1 rank
    * movement Σ_v |pr'(v) − pr(v)| drops to `tolMicro` micro-units.
    * Power iteration contracts the movement by ≈ d = 0.85 per round, so
    * the loop count is ≈ 1 + ln(Δ₁/tol)/ln(1/d) — a tolerance of 1e-6
    * of total mass costs ~70 rounds on an adversarially irregular graph.
    * Near-dup similarity graphs are NOT irregular: they are unions of
    * near-cliques, where the uniform start is already the per-component
    * fixpoint shape and Δ collapses to floor noise in 2–3 rounds — which
    * is why the default tolerance is tight; pass a looser `tolMicro`
    * (e.g. Scale/1e3) for graphs with real spectral gaps to cross.
    * Identical recurrence to [[pageRank]] — after k rounds both paths
    * hold bit-identical ranks (pinned in GraphSpec). Each round's rank
    * frame is eagerly checkpointed via [[graft.SessionMemo.checkpointTracked]]
    * (it is referenced twice: by the next round's join and by the delta
    * count) and the superseded round's blocks are freed deterministically
    * — executor storage holds at most two rank frames regardless of how
    * many rounds convergence takes. */
  def pageRankConverged(pairs: DataFrame, tolMicro: Long = 1000L,
      maxRounds: Int = 128): DataFrame = {
    val (e, deg, n) = edgeFrames(pairs)
    require(n > 0, "PageRank needs a non-empty edge set")
    val teleport = Scale * (DampDen - DampNum) / DampDen / n
    var pr = checkpointTracked(
      deg.select(col("u").as("node"), col("outdeg"), lit(Scale / n).as("pr")))
    var delta = Long.MaxValue
    var round = 0
    while (delta > tolMicro && round < maxRounds) {
      val next = checkpointTracked(step(e, deg, pr, teleport))
      delta = next.select(col("node"), col("pr").as("new_pr"))
        .join(pr.select(col("node"), col("pr").as("old_pr")), "node")
        .agg(sum(abs(col("new_pr") - col("old_pr")))).head.getLong(0)
      freeCheckpoint(pr)
      pr = next
      round += 1
    }
    lastPrRounds.set(round)
    e.unpersist()
    deg.unpersist()
    pr.select(col("node").as("doc_id"), col("pr"))
  }

  /** Session-scoped memo of the τ = 0.6 near-dup pair frame, keyed on the
    * session instance + sf dir. All five graph keys rank the SAME edge set
    * (the one `dedup_ngram_jaccard` reports and `dedup_cluster` clusters);
    * under the bench's self-contained-key contract each key would otherwise
    * re-pay the ~2 s shingle→inverted-index→join mining chain. The first
    * caller mines once and eagerly localCheckpoints the id-only pair frame
    * (tiny: one row per near-dup edge); later callers get the materialized
    * frame back. Keyed on the SparkSession *instance* so a stopped/recreated
    * session (test suites) can never serve blocks from a dead context, and
    * values are checkpointed leaves, so a consumer's persist/unpersist on
    * top cannot free them. */
  private val pairMemo =
    new graft.SessionMemo[DataFrame](freeCheckpoint)

  /** The near-dup pair graph every graph key ranks: exact 3-gram Jaccard
    * pairs at τ = 0.6 ([[DedupOps.jaccardPairs]]), memoized per (session,
    * dir) — see [[pairMemo]]. */
  private def nearDupPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    pairMemo.getOrCompute(s, dir)(
      // Derived from the session-wide τ=0 memo (DedupOps.tau0Pairs), so
      // the graph keys and the dedup/threshold/kNN keys all pay the
      // inverted-index miner ONCE per session; this frame is just the
      // τ ≥ 0.6 id projection, checkpointed for the per-round joins.
      DedupOps.tau0Pairs(s, dir).filter(col("jaccard") >= 0.6)
        .select("d1", "d2").localCheckpoint())

  /** Orientation rank: (degree, id) lexicographic, packed into one long
    * so both the Spark plan and the DuckDB oracle compare a single
    * integer. Ids are bounded by [[RankIdSpan]]; degrees by n ≤ id span,
    * so the product stays far inside a long. */
  private[operators] val RankIdSpan: Long = 100000000L

  /** Triangle enumeration via the degree-ordered node-iterator
    * (Suri & Vassilvitskii, WWW 2011 — the MapReduce-standard algorithm):
    * orient every undirected edge from its lower-(degree, id) endpoint to
    * the higher one, form wedges only at each edge's SOURCE, and close
    * them against the oriented edge set. Orientation caps per-node
    * out-degree at O(√m) on any graph, so the wedge set — the only
    * intermediate that can blow up — is O(m^1.5) instead of the
    * Σ deg(v)² of the naive node-iterator (a hub of degree d mines
    * d·(d−1)/2 wedges un-oriented; oriented, those wedges land on its
    * low-degree neighbors instead). Each triangle {a,b,c} is emitted
    * exactly once (wedge at its minimum-rank vertex, arms rank-ordered).
    *
    * Scale shape: degrees are one map-side-combined agg over the
    * symmetric edges; the wedge join shuffles oriented edges by source;
    * the closure join shuffles wedges by (arm, arm) id pairs — every
    * frame is (long, long) ids only, never payloads. Returns one row per
    * triangle, ids sorted ascending as (a, b, c). */
  def triangles(pairs: DataFrame): DataFrame = {
    // Defensive cache: the pair frame is consumed by BOTH edgeFrames and
    // the orientation join — uncached, an expensive upstream miner would
    // run twice (measured: graph_triangles 4.4 s → ~2.6 s at sf0.1).
    // Only persist (and later free) frames this function owns; a caller-
    // cached input (clusterCohesion's) is left untouched.
    val ownCache = pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val p = if (ownCache) pairs.persist() else pairs
    val (e, deg, _) = edgeFrames(p)
    val tri = orientedTriangles(p, deg)
    e.unpersist()
    deg.unpersist()
    if (ownCache) p.unpersist()
    tri
  }

  /** The wedge-and-close core of [[triangles]], given an already-cached
    * pair frame and its degree frame: orient, form wedges at sources,
    * close. Materializes via localCheckpoint (so callers can free the
    * inputs) and frees its own oriented-edge cache. */
  private def orientedTriangles(p: DataFrame, deg: DataFrame): DataFrame = {
    val rank = deg.select(col("u").as("node"),
      (col("outdeg") * RankIdSpan + col("u")).as("rank"))
    // Orient each undirected pair toward the higher rank. Persisted: the
    // frame feeds both wedge arms AND the closure join (3 consumers), and
    // upstream sits the full pair miner — without the cache the miner
    // would run three times.
    val o = p
      .join(rank.select(col("node").as("d1"), col("rank").as("r1")), "d1")
      .join(rank.select(col("node").as("d2"), col("rank").as("r2")), "d2")
      .select(
        when(col("r1") < col("r2"), col("d1")).otherwise(col("d2")).as("src"),
        when(col("r1") < col("r2"), col("d2")).otherwise(col("d1")).as("dst"),
        greatest(col("r1"), col("r2")).as("rdst"))
      .persist()
    // Wedges at the source, arms rank-ordered so each wedge forms once;
    // closure arm (lo, hi) is oriented lo→hi by construction.
    val w = o.select(col("src"), col("dst").as("a"), col("rdst").as("ra"))
      .join(o.select(col("src"), col("dst").as("b"), col("rdst").as("rb")), "src")
      .filter(col("ra") < col("rb"))
    val tri = w.join(o.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"))
      .select(least(col("src"), col("a"), col("b")).as("t1"),
        greatest(col("src"), col("a"), col("b")).as("t3"),
        (col("src") + col("a") + col("b")).as("tsum"))
      .select(col("t1").as("a"), (col("tsum") - col("t1") - col("t3")).as("b"),
        col("t3").as("c"))
      .localCheckpoint()
    o.unpersist()
    tri
  }

  /** Degree distribution of an undirected pair graph: (degree, n_nodes).
    * Two map-side-combined aggs over the symmetric id-only edge list —
    * the shape stays two shuffles of longs at any corpus size. */
  def degreeDist(pairs: DataFrame): DataFrame = {
    val (e, deg, _) = edgeFrames(pairs)
    val out = deg.groupBy(col("outdeg").as("degree"))
      .agg(count(lit(1)).as("n_nodes")).localCheckpoint()
    e.unpersist()
    deg.unpersist()
    out
  }

  /** Local clustering coefficient per node of degree ≥ 2:
    * 2·T(v) / (d(v)·(d(v)−1)), where T(v) counts triangles through v.
    * Near-1 nodes sit inside near-cliques (true duplicate sets, safe to
    * collapse); near-0 high-degree nodes are the chain/star centers
    * (boilerplate hubs) — the per-NODE refinement of the per-cluster
    * cohesion verdict, and the standard feature a cluster-quality
    * classifier consumes. Cost is one [[orientedTriangles]] pass
    * (O(m^1.5) oriented wedges) plus id-keyed longs-only aggs; the
    * coefficient itself is exact integer arithmetic in a double. */
  def clusteringCoeff(pairs: DataFrame): DataFrame = {
    val ownCache = pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val p = if (ownCache) pairs.persist() else pairs
    val (e, deg, _) = edgeFrames(p)
    val tri = orientedTriangles(p, deg)
    val triPerNode = tri.select(col("a").as("doc_id"))
      .unionAll(tri.select(col("b").as("doc_id")))
      .unionAll(tri.select(col("c").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
    val out = deg.select(col("u").as("doc_id"), col("outdeg").as("degree"))
      .filter(col("degree") >= 2)
      .join(triPerNode, Seq("doc_id"), "left").na.fill(0L, Seq("n_tri"))
      .select(col("doc_id"), col("degree"), col("n_tri"),
        round(col("n_tri") * lit(2.0)
          / (col("degree") * (col("degree") - 1)), 6).as("coeff"))
      .localCheckpoint()
    e.unpersist()
    deg.unpersist()
    if (ownCache) p.unpersist()
    out
  }

  /** k-core decomposition membership via iterative peeling: drop every
    * node of residual degree < k, restrict the edge set to survivors,
    * repeat `rounds` times; return survivors with their residual degree.
    * The 2-core of the near-dup graph is exactly the set of documents
    * with CORROBORATED duplication (two independent near-matches that
    * are themselves connected evidence) — it strips the spokes of
    * boilerplate-hub stars that a single chained match hangs onto a
    * cluster, the standard precision filter before collapsing clusters.
    *
    * Fixed `rounds` keeps it SQL-oracle-able (the oracle unrolls the
    * same peels as chained CTEs); GraphSpec pins that the testdata graph
    * reaches its fixpoint within that budget (round R ≡ round R+1), the
    * clique/path laws, and that peeling is order-insensitive. Each round
    * is one map-side-combined degree agg + two semi joins, all keyed on
    * node ids — the ccIterative shape; per-round frames localCheckpoint
    * (shallow lineage) and superseded blocks are freed eagerly. */
  def kCore(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    var sym = checkpointTracked(
      pairs.select(col("d1").as("u"), col("d2").as("v"))
        .union(pairs.select(col("d2").as("u"), col("d1").as("v"))))
    for (_ <- 1 to rounds) {
      val keep = sym.groupBy("u").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("u")
      val next = checkpointTracked(
        sym.join(keep, Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
          .select("u", "v"))
      freeCheckpoint(sym)
      sym = next
    }
    val out = sym.groupBy("u").agg(count(lit(1)).as("core_deg"))
      .select(col("u").as("doc_id"), col("core_deg")).localCheckpoint()
    freeCheckpoint(sym)
    out
  }

  /** Hub ceiling for [[commonNeighbors]] wedge centers: a center of
    * degree d mines d·(d−1)/2 wedges, so un-capped cost is Σ deg² — the
    * one term that blows up on a boilerplate hub. Hubs past this degree
    * carry no link-prediction signal anyway (everything is "similar"
    * through them), so they are excluded as centers, mirrored exactly in
    * the oracle. 50 is ~10× the max observed near-dup degree at the 10×
    * (sf1) point. */
  val WedgeCenterCap: Long = 50L

  /** Link prediction over an undirected pair set: for every NON-adjacent
    * pair (a < b) sharing ≥ `minShared` neighbors, the common-neighbor
    * count — the "these two documents are probably near-dups the miner's
    * threshold just missed" candidate list (the classic common-neighbors
    * score, the baseline of the link-prediction literature). Wedges form
    * only at centers of degree ≤ [[WedgeCenterCap]]; the anti join
    * removes already-known edges. Scale shape: degree agg + wedge
    * self-join keyed on the center + count agg keyed on (a, b) + anti
    * join — ids-only frames throughout, wedge fan-out capped at
    * O(cap²) per center. */
  def commonNeighbors(pairs: DataFrame, minShared: Long): DataFrame = {
    val p = pairs.select(col("d1"), col("d2")).persist()
    val sym = p.union(p.select(col("d2").as("d1"), col("d1").as("d2")))
      .select(col("d1").as("x"), col("d2").as("nbr"))
    val centers = sym.groupBy("x").agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= WedgeCenterCap).select("x")
    val wedgeSide = sym.join(centers, Seq("x"), "left_semi")
    val out = wedgeSide.select(col("x"), col("nbr").as("a"))
      .join(wedgeSide.select(col("x"), col("nbr").as("b")), "x")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common_neighbors"))
      .filter(col("common_neighbors") >= minShared)
      .join(p.select(col("d1").as("a"), col("d2").as("b")),
        Seq("a", "b"), "left_anti")
      // Materialize before releasing the persisted pair frame — the
      // result is consumed lazily and p.unpersist() below would
      // otherwise re-mine the pairs on first use.
      .localCheckpoint()
    p.unpersist()
    out
  }

  /** Adamic–Adar link prediction — [[commonNeighbors]]' weighted twin:
    * rare shared neighbors count more (w(z) = 1/ln deg(z)), so a pair
    * sharing two degree-2 documents outranks one sharing two
    * boilerplate quasi-hubs. Same wedge machine and hub ceiling; the
    * per-center weight snaps to the 1e-4 lattice before DECIMAL(18,4)
    * accumulation (the lmDocScores ln-snap rule — neither engine
    * guarantees correctly-rounded ln, and the snap keeps a 1-ulp
    * divergence away from the decimal-cast boundary). Centers have
    * deg ≥ 2 by wedge construction, so ln(deg) ≥ ln 2 > 0. */
  def adamicAdar(pairs: DataFrame, minShared: Long): DataFrame = {
    val p = pairs.select(col("d1"), col("d2")).persist()
    val sym = p.union(p.select(col("d2").as("d1"), col("d1").as("d2")))
      .select(col("d1").as("x"), col("d2").as("nbr"))
    val centers = sym.groupBy("x").agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= WedgeCenterCap)
    val wedgeSide = sym.join(centers, "x")
    val out = wedgeSide.select(col("x"), col("deg"), col("nbr").as("a"))
      .join(wedgeSide.select(col("x"), col("nbr").as("b")), "x")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common_neighbors"),
        dsum(round(lit(1.0) / log(col("deg").cast("double")), 4))
          .as("aa_score"))
      .filter(col("common_neighbors") >= minShared)
      .join(p.select(col("d1").as("a"), col("d2").as("b")),
        Seq("a", "b"), "left_anti")
      .localCheckpoint()
    p.unpersist()
    out
  }

  /** Degree-assortativity coefficient over an undirected pair set:
    * Pearson r of (deg u, deg v) across the symmetric edge list.
    * Returns one row (n_edges_directed, r_assort) — NULL r on a
    * degree-regular graph. Exact DECIMAL moments, hi/lo release. */
  def assortativity(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("d1").as("u"), col("d2").as("v"))
      .union(pairs.select(col("d2").as("u"), col("d1").as("v")))
    val deg = e.groupBy("u").agg(count(lit(1)).as("dg"))
    val du = deg.select(col("u"), col("dg").as("du"))
    val dv = deg.select(col("u").as("v"), col("dg").as("dv"))
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val m = e.join(du, "u").join(dv, "v").agg(
      count(lit(1)).as("m"),
      sum(d19(col("du"))).as("sx"),
      sum(d19(col("dv"))).as("sy"),
      sum(d19(col("du")) * d19(col("dv"))).cast("decimal(38,0)")
        .as("sxy"),
      sum(d19(col("du")) * d19(col("du"))).cast("decimal(38,0)")
        .as("sxx"),
      sum(d19(col("dv")) * d19(col("dv"))).cast("decimal(38,0)")
        .as("syy"))
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val t = m.select(col("m"),
        (d38(col("m")) * col("sxy") - d38(col("sx")) * col("sy"))
          .cast("decimal(38,0)").as("rnum"),
        (d38(col("m")) * col("sxx") - d38(col("sx")) * col("sx"))
          .cast("decimal(38,0)").as("vx"),
        (d38(col("m")) * col("syy") - d38(col("sy")) * col("sy"))
          .cast("decimal(38,0)").as("vy"))
      .withColumn("anum", abs(col("rnum")).cast("decimal(38,0)"))
    t.select(col("m").as("n_edges_directed"),
      when(col("vx") === 0 || col("vy") === 0, lit(null))
        .otherwise(round(
          when(col("rnum") < 0, -1.0).otherwise(1.0) *
            StatsExt.exactDbl("anum") /
            sqrt(StatsExt.exactDbl("vx") * StatsExt.exactDbl("vy")), 6))
        .as("r_assort"))
  }

  /** Two-round unnormalized integer HITS over a directed pair set
    * `pairs(d1→d2)`: h⁰ = 1; aᵏ(v) = Σ_{u→v} hᵏ⁻¹(u); hᵏ(u) =
    * Σ_{u→v} aᵏ(v). Nodes absent from a side score 0 there (pure
    * sources have auth 0, pure sinks hub 0). Exact long arithmetic
    * throughout — values ≤ (max deg)^(2·iters), far inside a long for
    * the hub-ceiling-capped graphs this engine mines. */
  def hits(pairs: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "at least one HITS round")
    val ownCache = pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val p = if (ownCache) pairs.persist() else pairs
    val nodes = p.select(col("d1").as("node"))
      .union(p.select(col("d2").as("node"))).distinct().persist()
    var h = nodes.withColumn("hv", lit(1L))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      a = nodes.join(
        p.join(h.withColumnRenamed("node", "hu"), col("d1") === col("hu"))
          .groupBy(col("d2").as("an")).agg(sum("hv").as("s")),
        col("node") === col("an"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("av"))
      h = nodes.join(
        p.join(a.withColumnRenamed("node", "avn"),
            col("d2") === col("avn"))
          .groupBy(col("d1").as("hn")).agg(sum("av").as("s")),
        col("node") === col("hn"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("hv"))
    }
    val out = h.join(a, "node")
      .select(col("node").as("doc_id"), col("hv").as("hub"),
        col("av").as("auth"))
      .localCheckpoint()
    nodes.unpersist()
    if (ownCache) p.unpersist()
    out
  }

  /** Neighborhood Jaccard over an undirected pair set —
    * [[commonNeighbors]] with full degrees attached: since an emitted
    * (a,b) is never itself an edge (the anti join), |N(a)∪N(b)| =
    * deg_a + deg_b − common exactly, and the score releases on the
    * integer 1e-6 lattice (both engines' truncating division — no
    * float crosses engines). Fixture-tested in GraphSpec (the corpus
    * row set is empty at test sf, like the other wedge keys). */
  def nodeJaccard(pairs: DataFrame, minShared: Long): DataFrame = {
    val p = pairs.select(col("d1"), col("d2"))
    val deg = p.union(p.select(col("d2").as("d1"), col("d1").as("d2")))
      .groupBy(col("d1").as("u")).agg(count(lit(1)).as("deg"))
    commonNeighbors(pairs, minShared)
      .join(deg.select(col("u").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("u").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("common_neighbors"),
        col("deg_a"), col("deg_b"),
        expr("(1000000 * common_neighbors) div " +
          "(deg_a + deg_b - common_neighbors)").as("jaccard_micro"))
  }

  /** (cluster_id, n_nodes, n_edges, n_triangles) per connected component
    * of an undirected pair set — see the `graph_cluster_cohesion` query
    * note for semantics and scale shape. */
  def clusterCohesion(rawPairs: DataFrame): DataFrame = {
    val pairs = rawPairs.persist()
    val (e, deg, _) = edgeFrames(pairs)
    val labels = DedupOps.connectedComponents(pairs)
    val tri = orientedTriangles(pairs, deg)
    // Per-cluster nodes and edges both come off the DEGREE frame joined
    // to the labels (Σ deg(v in cluster) = 2·edges — handshake lemma):
    // one id-keyed join instead of a second pass over the pair frame.
    val ne = deg.join(labels.withColumnRenamed("doc_id", "u"), "u")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_nodes"),
        expr("sum(outdeg) div 2").as("n_edges"))
    val tpc = tri.join(labels.withColumnRenamed("doc_id", "a"), "a")
      .groupBy("cluster_id").agg(count(lit(1)).as("n_triangles"))
    val out = ne.join(tpc, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_nodes"), col("n_edges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .localCheckpoint()
    e.unpersist()
    deg.unpersist()
    pairs.unpersist()
    out
  }

  /** Shared CTE prefix: near-dup edges + degrees + node count, identical
    * to the Spark-side graph construction. */
  private val GraphCtes =
    s"""${DedupOps.exactPairCtes},
      | pj AS (SELECT d1, d2 FROM p JOIN n x ON d1 = x.doc_id JOIN n y ON d2 = y.doc_id
      |   WHERE inter / (x.n + y.n - inter) >= 0.6),
      | e AS (SELECT d1 AS u, d2 AS v FROM pj UNION ALL SELECT d2, d1 FROM pj),
      | deg AS (SELECT u, count(*) AS outdeg FROM e GROUP BY 1),
      | nn AS (SELECT count(*) AS cnt FROM deg)""".stripMargin

  /** One unrolled oracle round: i<k> sums floor contributions, p<k>
    * applies teleport + damped sum — the exact integer recurrence of
    * [[step]]. Sums cast back to BIGINT (DuckDB widens sum to HUGEINT).
    * Shared with the TextOps text_textrank oracle, whose word-graph
    * CTEs bind the same e/deg/nn/p<k> names. */
  private[operators] def oracleRound(k: Int): String =
    s""" i$k AS (SELECT e.v AS node, CAST(sum(p${k - 1}.pr // p${k - 1}.outdeg) AS BIGINT) AS s
       |   FROM e JOIN p${k - 1} ON e.u = p${k - 1}.node GROUP BY 1),
       | p$k AS (SELECT deg.u AS node, deg.outdeg,
       |     (150000000000 // cnt) + (85 * coalesce(i$k.s, 0)) // 100 AS pr
       |   FROM deg CROSS JOIN nn LEFT JOIN i$k ON deg.u = i$k.node)""".stripMargin

  /** One unrolled LPA oracle round: plurality label with the min-label
    * tie rule — (c DESC, lbl ASC) rank 1 ≡ the engine's
    * `max(struct(c, −lbl))` pick. */
  private def lpaRound(k: Int): String =
    s""" r$k AS (SELECT e.u AS node, l${k - 1}.lbl, count(*) AS c
       |   FROM e JOIN l${k - 1} ON e.v = l${k - 1}.node GROUP BY 1, 2),
       | l$k AS (SELECT node, lbl FROM (SELECT node, lbl,
       |     row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
       |   FROM r$k) WHERE rn = 1)""".stripMargin

  val ops: Seq[Op] = Seq(
    // PARTITION MODULARITY of the near-dup graph against the LANGUAGE
    // attribute (Newman 2004 Q, computed per part): how concentrated are
    // near-dup edges inside language boundaries vs the degree-preserving
    // random expectation? A healthy multilingual corpus near-dups almost
    // entirely within-language (Q near its max); cross-language near-dup
    // mass flags translation leakage or template boilerplate. Every
    // input to Q is an exact integer (edge counts, degree sums), so each
    // q_contrib = m_l/m − (d_l/2m)² is two correctly-rounded divisions
    // and a multiply — bit-identical cross-engine; the total row sums
    // raw contributions on the DECIMAL lattice. Shape: the memoized
    // pair frame joined twice to a broadcast (doc_id, lang) projection;
    // every aggregate after that is |langs|-sized.
    Op("graph_modularity_lang", (s, dir) => {
      val lang = t(s, dir, "documents").select("doc_id", "lang")
      val lp = nearDupPairs(s, dir)
        .join(broadcast(lang.select(col("doc_id").as("d1"), col("lang").as("l1"))), "d1")
        .join(broadcast(lang.select(col("doc_id").as("d2"), col("lang").as("l2"))), "d2")
      val m = lp.agg(count(lit(1)).as("m"))
      val deg = lp.select(col("d1").as("doc_id"), col("l1").as("lang"))
        .unionAll(lp.select(col("d2"), col("l2")))
        .groupBy("doc_id", "lang").agg(count(lit(1)).as("d"))
      val pl = deg.groupBy("lang").agg(
        count_distinct(col("doc_id")).as("n_nodes"), sum("d").as("d_sum"))
      val il = lp.filter(col("l1") === col("l2"))
        .groupBy(col("l1").as("lang")).agg(count(lit(1)).as("m_intra"))
      val dd = col("d_sum").cast("double") / (lit(2.0) * col("m"))
      val perLang = pl.join(il, Seq("lang"), "left").crossJoin(broadcast(m))
        .select(col("lang"), col("n_nodes"),
          coalesce(col("m_intra"), lit(0L)).as("m_intra"), col("d_sum"),
          (coalesce(col("m_intra"), lit(0L)).cast("double") / col("m")
            - dd * dd).as("qc"))
      val total = perLang.agg(
        sum("n_nodes").as("n_nodes"), sum("m_intra").as("m_intra"),
        sum("d_sum").as("d_sum"),
        sum(col("qc").cast("decimal(28,12)")).cast("double").as("qc"))
        .select(lit("~total").as("lang"), col("n_nodes"), col("m_intra"),
          col("d_sum"), col("qc"))
      perLang.select(col("lang"), col("n_nodes"), col("m_intra"),
          col("d_sum"), col("qc"))
        .unionAll(total)
        .select(col("lang"), col("n_nodes"), col("m_intra"), col("d_sum"),
          round(col("qc"), 6).as("q_contrib"))
        .orderBy("lang")
    },
      Some(GraphCtes + ",\n" +
        """ lp AS (SELECT pj.d1, pj.d2, da.lang AS l1, db.lang AS l2
          |   FROM pj JOIN documents da ON pj.d1 = da.doc_id
          |   JOIN documents db ON pj.d2 = db.doc_id),
          | m AS (SELECT count(*) AS m FROM lp),
          | dg AS (SELECT doc_id, lang, count(*) AS d FROM (
          |     SELECT d1 AS doc_id, l1 AS lang FROM lp
          |     UNION ALL SELECT d2, l2 FROM lp) GROUP BY 1, 2),
          | pl AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_nodes,
          |     CAST(sum(d) AS BIGINT) AS d_sum FROM dg GROUP BY 1),
          | il AS (SELECT l1 AS lang, CAST(count(*) AS BIGINT) AS m_intra
          |   FROM lp WHERE l1 = l2 GROUP BY 1),
          | per AS (SELECT pl.lang, n_nodes,
          |     COALESCE(m_intra, 0) AS m_intra, d_sum,
          |     CAST(COALESCE(m_intra, 0) AS DOUBLE) / m.m
          |       - (CAST(d_sum AS DOUBLE) / (2.0 * m.m))
          |         * (CAST(d_sum AS DOUBLE) / (2.0 * m.m)) AS qc
          |   FROM pl LEFT JOIN il USING (lang) CROSS JOIN m),
          | tt AS (SELECT '~total' AS lang, CAST(sum(n_nodes) AS BIGINT) AS n_nodes,
          |     CAST(sum(m_intra) AS BIGINT) AS m_intra,
          |     CAST(sum(d_sum) AS BIGINT) AS d_sum,
          |     CAST(sum(CAST(qc AS DECIMAL(28,12))) AS DOUBLE) AS qc FROM per)
          |SELECT lang, n_nodes, m_intra, d_sum, round(qc, 6) AS q_contrib
          |FROM (SELECT * FROM per UNION ALL SELECT * FROM tt)
          |ORDER BY lang""".stripMargin)),

    // 4-round deterministic label propagation over the near-dup graph —
    // community readout: (community label, member count, smallest member).
    // Bit-exact vs the oracle's unrolled-CTE replay of the identical
    // plurality/min-label recurrence.
    Op("graph_label_propagation", (s, dir) =>
      labelPropagation(nearDupPairs(s, dir), rounds = 4)
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"), min("node").as("min_doc"))
        .orderBy("community"),
      Some(GraphCtes +
        ",\n l0 AS (SELECT u AS node, u AS lbl FROM deg),\n" +
        (1 to 4).map(lpaRound).mkString(",\n") + "\n" +
        """SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
          | min(node) AS min_doc
          |FROM l4 GROUP BY 1 ORDER BY community""".stripMargin)),

    // Fixed-3-round PageRank over the near-dup graph: bit-exact vs the
    // DuckDB oracle because the whole recurrence is integer arithmetic —
    // the oracle unrolls the same three rounds as chained CTEs with `//`
    // floor division. Ranks are micro-units of 1e12 total mass.
    Op("graph_pagerank", (s, dir) =>
      pageRank(nearDupPairs(s, dir), iters = 3)
        .orderBy(desc("pr"), col("doc_id")),
      Some(GraphCtes + ",\n" +
        """ p0 AS (SELECT deg.u AS node, deg.outdeg, 1000000000000 // cnt AS pr
          |   FROM deg CROSS JOIN nn),""".stripMargin + "\n" +
        (1 to 3).map(oracleRound).mkString(",\n") + "\n" +
        """SELECT node AS doc_id, pr FROM p3 ORDER BY pr DESC, doc_id""".stripMargin)),

    // The production variant: iterate to a measured fixpoint instead of
    // a fixed round count. No SQL oracle (the round count is data-
    // dependent) — property-tested in GraphSpec instead: bit-equality
    // with pageRank at the same round count, L1 contraction per round,
    // mass conservation, and hub dominance on a star graph.
    Op("graph_pagerank_converged", (s, dir) =>
      pageRankConverged(nearDupPairs(s, dir), tolMicro = 1000L)
        .orderBy(desc("pr"), col("doc_id")),
      None),

    // Triangle listing over the near-dup graph — triangles are the
    // smallest evidence of duplication CLUSTERS (two pairwise matches
    // that share a member), and the triangle count per component is the
    // standard cluster-cohesion diagnostic a dedup report tracks. The
    // oracle enumerates the same triangles from the d1<d2 pair list with
    // a 3-way join; the engine's degree-ordered plan produces the
    // identical set at O(m^1.5) wedge cost.
    Op("graph_triangles", (s, dir) =>
      triangles(nearDupPairs(s, dir)).orderBy("a", "b", "c"),
      // Each triangle {a<b<c} appears exactly once: (a,b),(b,c),(a,c) are
      // all in the d1<d2-normalized pair list pj.
      Some(GraphCtes + "\n" +
        """SELECT x.d1 AS a, x.d2 AS b, y.d2 AS c
          |FROM pj x JOIN pj y ON x.d2 = y.d1
          | JOIN pj z ON z.d1 = x.d1 AND z.d2 = y.d2
          |ORDER BY a, b, c""".stripMargin)),

    // Degree distribution of the near-dup graph — the one-glance skew
    // diagnostic (a fat tail = boilerplate hub documents that pair with
    // everything; the signal that routes a corpus to the hot-bucket
    // capped miner).
    Op("graph_degree_dist", (s, dir) =>
      degreeDist(nearDupPairs(s, dir)).orderBy("degree"),
      Some(GraphCtes + "\n" +
        """SELECT outdeg AS degree, CAST(count(*) AS BIGINT) AS n_nodes
          |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-node clustering coefficient over the near-dup graph — the
    // node-level clique-vs-hub verdict (see clusteringCoeff).
    Op("graph_clustering_coeff", (s, dir) =>
      clusteringCoeff(nearDupPairs(s, dir)).orderBy("doc_id"),
      Some(GraphCtes + ",\n" +
        """ tri AS (SELECT x.d1 AS a, x.d2 AS b, y.d2 AS c
          |   FROM pj x JOIN pj y ON x.d2 = y.d1
          |    JOIN pj z ON z.d1 = x.d1 AND z.d2 = y.d2),
          | tn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri FROM (
          |    SELECT a AS doc_id FROM tri
          |    UNION ALL SELECT b FROM tri
          |    UNION ALL SELECT c FROM tri) GROUP BY 1)
          |SELECT deg.u AS doc_id, deg.outdeg AS degree,
          | coalesce(tn.n_tri, 0) AS n_tri,
          | round(coalesce(tn.n_tri, 0) * 2.0
          |   / (deg.outdeg * (deg.outdeg - 1)), 6) AS coeff
          |FROM deg LEFT JOIN tn ON deg.u = tn.doc_id
          |WHERE deg.outdeg >= 2 ORDER BY doc_id""".stripMargin)),

    // Per-cluster cohesion report: (nodes, edges, triangles) for every
    // near-dup component — the diagnostic that separates true duplicate
    // sets (near-cliques: edges ≈ n(n−1)/2, triangle-rich) from chained
    // false merges (paths through a boilerplate hub: edges ≈ n−1, zero
    // triangles), i.e. which clusters are safe to collapse to one
    // canonical and which need a second look. Pure composition of
    // verified pieces: the pair miner runs ONCE (persisted — it feeds
    // CC, the edge/node counts, and the triangle enumeration), labels
    // and triangles are checkpointed leaves, and everything downstream
    // is id-keyed aggs and joins.
    Op("graph_cluster_cohesion", (s, dir) =>
      clusterCohesion(nearDupPairs(s, dir)).orderBy("cluster_id"),
      // The same recursive min-label walk the dedup_cluster oracle uses,
      // over GraphCtes' symmetric edge list e(u, v).
      Some(GraphCtes + ",\n" +
        """ labels AS (SELECT doc_id, min(lbl) AS cluster_id FROM (
          |   WITH RECURSIVE walk(doc_id, lbl) AS (
          |     SELECT u, u FROM e
          |     UNION
          |     SELECT e.u, w.lbl FROM e JOIN walk w ON e.v = w.doc_id)
          |   SELECT doc_id, lbl FROM walk)
          |  GROUP BY doc_id),
          | npc AS (SELECT cluster_id, count(*) AS n_nodes FROM labels GROUP BY 1),
          | epc AS (SELECT l.cluster_id, count(*) AS n_edges
          |   FROM pj JOIN labels l ON pj.d1 = l.doc_id GROUP BY 1),
          | tri AS (SELECT x.d1 AS a FROM pj x JOIN pj y ON x.d2 = y.d1
          |   JOIN pj z ON z.d1 = x.d1 AND z.d2 = y.d2),
          | tpc AS (SELECT l.cluster_id, count(*) AS n_triangles
          |   FROM tri JOIN labels l ON tri.a = l.doc_id GROUP BY 1)
          |SELECT npc.cluster_id, CAST(n_nodes AS BIGINT) AS n_nodes,
          | CAST(n_edges AS BIGINT) AS n_edges,
          | CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles
          |FROM npc JOIN epc USING (cluster_id) LEFT JOIN tpc USING (cluster_id)
          |ORDER BY cluster_id""".stripMargin)),

    // 2-core of the near-dup graph — documents with corroborated
    // duplication evidence (see kCore). 4 peel rounds: GraphSpec pins
    // that the testdata fixpoint lands within 3, so the oracle's
    // identical unrolled peels see the same final edge set.
    Op("graph_kcore", (s, dir) =>
      kCore(nearDupPairs(s, dir), k = 2, rounds = 4)
        .orderBy("doc_id"),
      // Four unrolled peel rounds, identical to kCore(k=2, rounds=4):
      // k<i> = surviving nodes after peel i, e<i> = edges among them,
      // d<i> = residual degrees. Output = degrees of the final edge set.
      Some(GraphCtes + ",\n" +
        (1 to 4).map { i =>
          val (prevE, prevD) = (if (i == 1) "e" else s"e${i - 1}",
            if (i == 1) "deg" else s"d${i - 1}")
          val degCol = if (i == 1) "outdeg" else "deg"
          s""" k$i AS (SELECT u FROM $prevD WHERE $degCol >= 2),
             | e$i AS (SELECT $prevE.u, $prevE.v FROM $prevE
             |   JOIN k$i a ON $prevE.u = a.u JOIN k$i b ON $prevE.v = b.u),
             | d$i AS (SELECT u, count(*) AS deg FROM e$i GROUP BY 1)""".stripMargin
        }.mkString(",\n") + "\n" +
        """SELECT u AS doc_id, deg AS core_deg FROM d4 ORDER BY doc_id""".stripMargin)),

    // Common-neighbors link prediction over the near-dup graph — the
    // "pairs the τ-threshold miner missed" candidate list: non-adjacent
    // doc pairs sharing ≥ 2 near-dup neighbors.
    Op("graph_common_neighbors", (s, dir) =>
      commonNeighbors(nearDupPairs(s, dir), minShared = 2L)
        .orderBy("a", "b"),
      // Wedges at centers of degree ≤ 50 (the engine's WedgeCenterCap),
      // counted per (a < b) endpoint pair, minus known edges (pj is the
      // d1<d2-normalized pair list).
      Some(GraphCtes + ",\n" +
        """ c AS (SELECT u FROM deg WHERE outdeg <= 50),
          | w AS (SELECT e1.v AS a, e2.v AS b, count(*) AS common_neighbors
          |   FROM e e1 JOIN e e2 ON e1.u = e2.u JOIN c ON c.u = e1.u
          |   WHERE e1.v < e2.v GROUP BY 1, 2)
          |SELECT a, b, common_neighbors FROM w
          |WHERE common_neighbors >= 2
          | AND NOT EXISTS (SELECT 1 FROM pj WHERE pj.d1 = w.a AND pj.d2 = w.b)
          |ORDER BY a, b""".stripMargin)),

    // Adamic–Adar link prediction (round 10) — the common-neighbors
    // list re-ranked by neighbor RARITY (Σ 1/ln deg over shared
    // neighbors): the standard upgrade when a shared boilerplate
    // quasi-hub shouldn't weigh as much as a shared rare document. Same
    // wedge plan, hub ceiling, and anti join; see adamicAdar for the
    // ln-snap determinism rule.
    Op("graph_adamic_adar", (s, dir) =>
      adamicAdar(nearDupPairs(s, dir), minShared = 2L)
        .orderBy("a", "b"),
      // The weighted wedge replay: each center contributes its snapped
      // 1/ln(outdeg) weight, accumulated on the same DECIMAL(18,4)
      // lattice as the engine.
      Some(GraphCtes + ",\n" +
        """ c AS (SELECT u, outdeg FROM deg WHERE outdeg <= 50),
          | w AS (SELECT e1.v AS a, e2.v AS b, count(*) AS common_neighbors,
          |   CAST(sum(CAST(round(1.0 / ln(c.outdeg), 4) AS DECIMAL(18,4)))
          |     AS DOUBLE) AS aa_score
          |   FROM e e1 JOIN e e2 ON e1.u = e2.u JOIN c ON c.u = e1.u
          |   WHERE e1.v < e2.v GROUP BY 1, 2)
          |SELECT a, b, common_neighbors, aa_score FROM w
          |WHERE common_neighbors >= 2
          | AND NOT EXISTS (SELECT 1 FROM pj WHERE pj.d1 = w.a AND pj.d2 = w.b)
          |ORDER BY a, b""".stripMargin)),

    // Node-neighborhood Jaccard (round 11) — the NORMALIZED member of
    // the link-prediction trio (counts → common_neighbors, rarity →
    // adamic_adar, overlap fraction → this): |N(a)∩N(b)| / |N(a)∪N(b)|
    // distinguishes "shares 3 of its 4 neighbors" from "shares 3 of
    // 400" — the score cluster-refinement reads before merging two
    // near-dup groups. Rides the identical wedge machine (hub ceiling,
    // known-edge anti join, same memoized pair frame); degrees attach
    // from the symmetric edge list, and since (a,b) is never itself an
    // edge, |N(a)∪N(b)| = deg_a + deg_b − common exactly. Released on
    // the integer 1e-6 lattice ((1e6·common) div union — both engines'
    // truncating integer division), so no float crosses engines.
    Op("graph_node_jaccard", (s, dir) =>
      nodeJaccard(nearDupPairs(s, dir), minShared = 2L)
        .orderBy("a", "b"),
      // The wedge replay with full degrees attached; the released score is
      // the engine's exact integer lattice ((1e6·c) // (da+db−c)).
      Some(GraphCtes + ",\n" +
        """ c AS (SELECT u FROM deg WHERE outdeg <= 50),
          | w AS (SELECT e1.v AS a, e2.v AS b, count(*) AS common_neighbors
          |   FROM e e1 JOIN e e2 ON e1.u = e2.u JOIN c ON c.u = e1.u
          |   WHERE e1.v < e2.v GROUP BY 1, 2)
          |SELECT w.a, w.b, w.common_neighbors,
          | da.outdeg AS deg_a, db.outdeg AS deg_b,
          | CAST((1000000 * w.common_neighbors)
          |   // (da.outdeg + db.outdeg - w.common_neighbors) AS BIGINT)
          |   AS jaccard_micro
          |FROM w JOIN deg da ON da.u = w.a JOIN deg db ON db.u = w.b
          |WHERE w.common_neighbors >= 2
          | AND NOT EXISTS (SELECT 1 FROM pj WHERE pj.d1 = w.a AND pj.d2 = w.b)
          |ORDER BY a, b""".stripMargin)),

    // DEGREE ASSORTATIVITY (Newman 2002) — one number summarizing the
    // near-dup graph's mixing pattern: r > 0 = hubs pair with hubs
    // (dense boilerplate families that survive clustering), r < 0 =
    // hubs pair with leaves (star-shaped template graphs where the
    // canonical-pick rule matters most). Pearson correlation of the
    // endpoint degrees over the SYMMETRIC edge list (each undirected
    // edge counted in both orientations — Newman's convention, and it
    // makes the x/y margins identical). Exact: degrees are integers,
    // all five moment sums ride DECIMAL(38,0) and release through the
    // 2^32 hi/lo split; NULL on a degree-regular graph (zero
    // variance), like agg_spearman_corr's guard.
    Op("graph_assortativity", (s, dir) =>
      assortativity(nearDupPairs(s, dir)),
      // Endpoint-degree Pearson over the symmetric edge list; the same
      // hi/lo release tree as the engine.
      Some(GraphCtes + ",\n" +
        s""" j AS (SELECT a.outdeg AS du, b.outdeg AS dv
           |  FROM e JOIN deg a ON e.u = a.u JOIN deg b ON e.v = b.u),
           | mo AS (SELECT CAST(count(*) AS HUGEINT) AS m,
           |   sum(CAST(du AS HUGEINT)) AS sx,
           |   sum(CAST(dv AS HUGEINT)) AS sy,
           |   sum(CAST(du AS HUGEINT) * dv) AS sxy,
           |   sum(CAST(du AS HUGEINT) * du) AS sxx,
           |   sum(CAST(dv AS HUGEINT) * dv) AS syy FROM j),
           | ta AS (SELECT m, m * sxy - sx * sy AS rnum,
           |   m * sxx - sx * sx AS vx, m * syy - sy * sy AS vy FROM mo)
           |SELECT CAST(m AS BIGINT) AS n_edges_directed,
           | CASE WHEN vx = 0 OR vy = 0 THEN NULL ELSE
           |  round((CASE WHEN rnum < 0 THEN -1.0 ELSE 1.0 END)
           |   * ${StatsExt.exactDblSql("abs(rnum)")}
           |   / sqrt(${StatsExt.exactDblSql("vx")}
           |     * ${StatsExt.exactDblSql("vy")}), 6)
           | END AS r_assort
           |FROM ta""".stripMargin)),

    // HITS hubs & authorities (Kleinberg 1999) — the second classic
    // link-analysis scorer beside PageRank, on the near-dup pair list
    // read as a DIRECTED endorsement d1→d2 (the dedup-canonical
    // convention: the lower id is the retained representative, so an
    // edge reads "d1 vouches for its higher-id duplicate d2"). A good
    // AUTHORITY is a document many retained representatives point at
    // (a magnet for duplication); a good HUB is one that points at
    // many strong authorities (a template/boilerplate source). Two
    // UNNORMALIZED integer rounds: magnitudes are bounded by deg², so
    // the whole recurrence is exact long arithmetic (the pageRank
    // determinism contract — no L2 normalization float ever enters),
    // and the oracle replays it as unrolled CTEs. Per round: one
    // equi-join + one map-side-combined sum per direction, ids only.
    Op("graph_hits", (s, dir) =>
      hits(nearDupPairs(s, dir), iters = 2)
        .orderBy(desc("hub"), desc("auth"), col("doc_id")),
      // Unrolled integer HITS replay on the directed pj list (d1→d2);
      // sums come back as HUGEINT, cast to BIGINT like the pagerank
      // rounds.
      Some(GraphCtes + ",\n" +
        """ hn AS (SELECT d1 AS node FROM pj UNION SELECT d2 FROM pj),
          | h0 AS (SELECT node, CAST(1 AS BIGINT) AS hv FROM hn),""".stripMargin +
        (1 to 2).map(hitsRound).mkString(",") + "\n" +
        """SELECT h2.node AS doc_id, h2.hv AS hub, a2.av AS auth
          |FROM h2 JOIN a2 USING (node)
          |ORDER BY hub DESC, auth DESC, doc_id""".stripMargin)),
  )

  /** One unrolled HITS oracle round k: aᵏ from hᵏ⁻¹ over d1→d2, then
    * hᵏ from aᵏ — the exact long recurrence of [[hits]]. */
  private def hitsRound(k: Int): String =
    s"""
       | a$k AS (SELECT n.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS av
       |   FROM hn n LEFT JOIN (SELECT d2 AS v, sum(hv) AS s
       |     FROM pj JOIN h${k - 1} ON pj.d1 = h${k - 1}.node
       |     GROUP BY 1) s ON n.node = s.v),
       | h$k AS (SELECT n.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS hv
       |   FROM hn n LEFT JOIN (SELECT d1 AS u, sum(av) AS s
       |     FROM pj JOIN a$k ON pj.d2 = a$k.node
       |     GROUP BY 1) s ON n.node = s.u)""".stripMargin
}
