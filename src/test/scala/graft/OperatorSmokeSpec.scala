package graft

import org.apache.spark.sql.functions._

/** Every declared query runs on sf0.001 and returns a well-formed result;
  * pinned invariants for a representative subset (values measured from
  * the deterministic seed=42 testdata).
  */
class OperatorSmokeSpec extends SparkSpec {

  // Queries whose sf0.001 result is legitimately empty (no planted
  // near-dups / no customers without orders at this sf).
  private val mayBeEmpty = Set("join_anti", "set_except", "dedup_ngram_jaccard",
    "dedup_near_minhash", "sim_ann_lsh", "dedup_embed_cosine", "text_edit_distance",
    "dedup_cluster", "join_range_bucketed", "graph_common_neighbors",
    "graph_adamic_adar", // same candidate set as graph_common_neighbors
    "graph_node_jaccard", // same candidate set as graph_common_neighbors
    "multimodal_frame_overlap")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs on sf0.001") {
      // collect(), not count(): count lets Catalyst prune every output
      // column, so the expressions that compute them would never run.
      val df = fn(spark, sfDir)
      val n = df.collect().length
      assert(df.schema.nonEmpty)
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("ts_holt matches a driver-side replay of the integer recurrence") {
    val got = SparkEntry.queries("ts_holt")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vi"))
      .collect()
      .map { r =>
        val ts = r.getTimestamp(2)
        // full-microsecond instant (the SegmentSpec markov-replay rule):
        // the query's window orders by the µs-precision ts, so an
        // ms-truncated sort key could flip a same-millisecond pair
        val micros = ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
        (r.getLong(0), r.getString(1), micros, r.getLong(3), r.getLong(4))
      }
    val ref = evs.groupBy(t => (t._1, t._2)).map { case (k, rows) =>
      val vis = rows.sortBy(t => (t._3, t._4)).map(_._5)
      var l = vis.head; var b = 0L
      vis.tail.foreach { v =>
        val l2 = (v + l + b) / 2 // truncating, matches `div` on these magnitudes
        b = (l2 - l + b) / 2
        l = l2
      }
      k -> ((rows.size.toLong, l, b, l + b))
    }
    assert(got == ref)
  }

  test("sessionize_stats reconciles with sessionize_batch") {
    val stats = SparkEntry.queries("sessionize_stats")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val sess = SparkEntry.queries("sessionize_batch")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))) // (user_id, n_events)
    val ref = sess.groupBy(_._1).map { case (u, ss) =>
      u -> ((ss.size.toLong, ss.map(_._2).sum, ss.map(_._2).max))
    }
    assert(stats == ref)
  }

  test("ts_cusum_changepoint flags the planted level shift") {
    import spark.implicits._
    // A stream of 30 lows then 30 highs: the max |n·S_t − t·S_n| must
    // land exactly at the boundary (index 30).
    val base = 1704067200000000L
    val df = (1 to 60).map { i =>
      (i.toLong, new java.sql.Timestamp((base + i * 1000000L) / 1000),
        if (i <= 30) 10.0 else 20.0)
    }.toDF("event_id", "ts", "value")
    val ord = org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")
    val run = ord.rowsBetween(Long.MinValue, 0)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    val scored = df
      .select(col("event_id"), col("ts"),
        (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vi"))
      .withColumn("rn", row_number().over(ord))
      .withColumn("st", sum("vi").over(run))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("stot", sum("vi").over(all))
      .withColumn("dev", abs(col("n") * col("st") - col("rn") * col("stot")))
      .orderBy(col("dev").desc, col("rn"))
      .select("rn").head().getInt(0)
    assert(scored == 30, s"changepoint detected at $scored, expected 30")
  }

  test("pipeline_importance_resample is a proper quality-weighted subsample") {
    val keptRows = SparkEntry.queries("pipeline_importance_resample")(spark, sfDir)
      .collect()
    assert(keptRows.nonEmpty)
    val all = Tables.t(spark, sfDir, "documents").count()
    assert(keptRows.length < all, "resampling must actually drop docs")
    // The keep rate over the whole corpus must track the mean quality
    // (each doc keeps with p = quality, so E[kept] = Σ quality): within
    // 5 points at n = 500.
    val meanQ = SparkEntry.queries("text_quality_score")(spark, sfDir)
      .agg(avg("quality")).head().getDouble(0)
    val rate = keptRows.length.toDouble / all
    assert(math.abs(rate - meanQ) < 0.05, s"keep rate $rate vs mean quality $meanQ")
  }

  test("observe() exposes inline data-quality metrics without a second pass") {
    val obs = new org.apache.spark.sql.Observation("quality")
    val df = Tables.t(spark, sfDir, "documents")
      .observe(obs, count(lit(1)).as("n"),
        sum(col("n_chars")).as("chars"),
        count_if(col("n_chars") < 10).as("too_short"))
    df.collect()
    val m = obs.get
    assert(m("n") == 500L, m)
    assert(m("too_short") == 0L, m)
    assert(m("chars").asInstanceOf[Long] > 0L, m)
  }

  test("contamination df ceiling drops boilerplate shingles, keeps real pairs") {
    import spark.implicits._
    // 12 docs all share one boilerplate sentence (df = 12 > ceiling 8);
    // docs 1 (test) and 2 (train) additionally share 3 genuine shingles.
    val boiler = "this page is auto generated"
    val real = "quick brown fox jumps high"
    val docs = (1L to 12L).map { i =>
      val fold = if (i % 2 == 1) "test" else "train"
      val text = if (i <= 2) s"$boiler $real" else s"$boiler unique$i"
      (i, fold, text)
    }.toDF("doc_id", "fold", "text")
    val guarded = operators.TextOps.contamination(docs, dfCeiling = 8).collect()
    // Only the (1, 2) pair survives: every shingle of the boilerplate
    // sentence occurs in all 12 docs and is dropped by the ceiling; the
    // `real` suffix contributes the >= 3 shared shingles for docs 1 and 2.
    assert(guarded.map(_.getLong(0)).toSeq == Seq(1L), guarded.mkString(","))
    // Sanity: without the ceiling the boilerplate links every test doc to
    // every train doc (6 x 6 pairs -> 6 test rows).
    val unguarded = operators.TextOps.contamination(docs).collect()
    assert(unguarded.length == 6, unguarded.mkString(","))
  }

  test("the operator registry refuses a key declared twice") {
    val op = SparkEntry.ops.head
    val ex = intercept[IllegalArgumentException](
      SparkEntry.distinctKeys(Seq(op, op.copy(oracle = None))))
    assert(ex.getMessage.contains(op.key))
  }

  test("contamination counts only train documents on the train side") {
    import spark.implicits._
    // Doc 2 is in a "dev" fold and copies test doc 1; doc 3 (train)
    // shares nothing with it. No test document matches a train document.
    val text = "quick brown fox jumps high over the lazy dog"
    val docs = Seq((1L, "test", text), (2L, "dev", text),
      (3L, "train", "an unrelated training sentence with other words"))
      .toDF("doc_id", "fold", "text")
    assert(operators.TextOps.contamination(docs).isEmpty)
    val posts = docs.select(col("doc_id"),
      explode(array_distinct(operators.TextOps.shingles(col("text")))).as("shingle"))
    val folds = docs.select(col("doc_id"), col("fold"))
    assert(operators.TextOps.contaminationCapped(posts.join(folds, "doc_id"),
      col("fold")).isEmpty)
  }

  test("flagship entry returns sessions") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("pinned: TPC-H Q1 shape on sf0.001") {
    val r = SparkEntry.queries("agg_hash_groupby")(spark, sfDir)
      .agg(sum("cnt")).head.getLong(0)
    assert(r == 6000L) // all lineitems accounted for
  }

  test("pinned: sessionization session count and event conservation") {
    val sessions = SparkEntry.queries("sessionize_batch")(spark, sfDir)
    val native = SparkEntry.queries("sessionize_native")(spark, sfDir)
    assert(sessions.count() == native.count())
    assert(sessions.agg(sum("n_events")).head.getLong(0) == 1000L)
  }

  test("pinned: count-min estimates bound exact counts within eps*N") {
    val est = SparkEntry.queries("agg_count_min")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sfDir).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    val n = exact.values.sum
    exact.foreach { case (k, e) =>
      assert(est(k) >= e, s"$k: CMS underestimated ${est(k)} < $e")
      assert(est(k) <= e + (0.0001 * n).ceil.toLong + 1,
        s"$k: CMS over the eps*N bound: ${est(k)} vs exact $e (N=$n)")
    }
  }

  test("pinned: Misra-Gries bounds — no misses above N/k, counts within N/k") {
    val k = 16L
    val est = SparkEntry.queries("agg_heavy_hitters_mg")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.nonEmpty && est.size <= (k - 1).toInt)
    val exact = Tables.t(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val thresh = n / k
    exact.filter(_._2 > thresh).foreach { case (w, c) =>
      assert(est.contains(w), s"heavy hitter '$w' (freq $c > N/k=$thresh) missing")
    }
    est.foreach { case (w, e) =>
      val c = exact(w)
      assert(e <= c, s"'$w': MG overestimated $e > $c")
      assert(e >= c - thresh, s"'$w': MG est $e below $c - N/k=$thresh")
    }
  }

  test("pinned: approx distinct within 5% of exact") {
    val approx = SparkEntry.queries("agg_approx_distinct")(spark, sfDir)
      .head.getLong(0).toDouble
    val exact = Tables.t(spark, sfDir, "lineitem")
      .select(countDistinct(col("l_partkey"))).head.getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.05)
  }

  test("pinned: approx percentile within 1% of exact per group") {
    val approx = SparkEntry.queries("agg_approx_percentile")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = Tables.t(spark, sfDir, "orders")
      .groupBy("o_orderstatus")
      .agg(percentile(col("o_totalprice"), lit(0.5)).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e) / e < 0.01, s"$k: approx=${approx(k)} exact=$e")
    }
  }

  test("pinned: approx equidepth histogram tracks the exact key at sf0.1") {
    // the scale twin's GK sketch at accuracy=10000 displaces each decile
    // boundary by ≤ n/10000 ranks, so each bucket's mass drifts ≤ ~0.2%
    // of n from the exact n/10; 1% is multiple-σ slack. Run at sf0.1
    // (the bench SF) so the bound is exercised on real mass, not on a
    // tiny frame where the sketch is exact.
    val dir = "/root/testdata/sf0.1"
    val approx = SparkEntry.queries("agg_histogram_equidepth_approx")(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = SparkEntry.queries("agg_histogram_equidepth")(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet == (0 to 9).toSet, s"buckets ${approx.keySet}")
    val n = exact.values.map(_._1).sum.toDouble
    (0 to 9).foreach { b =>
      val (ac, alo, ahi) = approx(b)
      val (ec, elo, ehi) = exact(b)
      assert(math.abs(ac - ec) <= 0.01 * n,
        s"bucket $b mass drift: approx=$ac exact=$ec (n=$n)")
      // boundary drift: each bucket's [lo, hi] endpoints within 1% of
      // the exact bucket's — the sketch moved the cut, not the data
      assert(math.abs(alo - elo) <= 0.01 * math.abs(elo),
        s"bucket $b lo drift: approx=$alo exact=$elo")
      assert(math.abs(ahi - ehi) <= 0.01 * math.abs(ehi),
        s"bucket $b hi drift: approx=$ahi exact=$ehi")
    }
  }

  test("pinned: df-capped threshold sweep tracks the exact curve at sf0.1") {
    // the 100 TB twin thins hot-shingle postings (df > cap=16) to ~cap
    // deterministic survivors, so SOME pairs lose intersection mass —
    // but the decile SHAPE of the tuning curve (which is what the key
    // exists to read) must hold: per-decile mass share within 1% abs of
    // the exact key's, total pairs within 5% (measured at sf0.1:
    // share drift < 1e-4, total thinning 1.75%). Run at sf0.1 — the
    // only corpus where the cap binds (max df 25 > cap; sf0.01 max df
    // is below the cap, which would make this pin vacuous).
    val dir = "/root/testdata/sf0.1"
    val exact = SparkEntry.queries("dedup_threshold_sweep")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val capped = SparkEntry.queries("dedup_threshold_sweep_capped")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val totE = exact.values.sum.toDouble
    val totC = capped.values.sum.toDouble
    assert(math.abs(totE - totC) <= 0.05 * totE,
      s"total pair thinning: exact=$totE capped=$totC")
    (exact.keySet ++ capped.keySet).foreach { d =>
      val drift = math.abs(
        exact.getOrElse(d, 0L) / totE - capped.getOrElse(d, 0L) / totC)
      assert(drift <= 0.01, s"decile $d mass share drift $drift")
    }
    // non-vacuous: the cap must actually thin at this SF, otherwise the
    // pin silently degrades to capped ≡ exact
    assert(totC < totE, "cap did not bind — pin is vacuous at this SF")
  }

  test("bucketedRowNumber keeps NULL-partition-key rows end-to-end") {
    // Round-13 ADVICE closed: the bounds join went null-safe but the
    // offset join stayed a plain using-join, so NULL-key rows were still
    // dropped at the last step. Pin the whole machine: every row
    // survives and the NULL group ranks like any other partition.
    import spark.implicits._
    val df = Seq(
      (Option("a"), 3L), (Option("a"), 1L), (Option("a"), 2L),
      (Option.empty[String], 5L), (Option.empty[String], 4L))
      .toDF("k", "v")
    val got = operators.ScalableWindows.bucketedRowNumber(
      df, Seq("k"), "v", Seq(col("v")), buckets = 2, perPartBounds = true)
    assert(got.count() == 5, "NULL-key rows must survive both joins")
    val nullRanks = got.filter(col("k").isNull).orderBy("v")
      .select("rn").collect().map(_.getLong(0)).toSeq
    assert(nullRanks == Seq(1L, 2L), s"NULL group ranks: $nullRanks")
    val aRanks = got.filter(col("k") === "a").orderBy("v")
      .select("rn").collect().map(_.getLong(0)).toSeq
    assert(aRanks == Seq(1L, 2L, 3L), s"'a' group ranks: $aRanks")
  }

  test("scan_parquet_footer reads Spark-directory corpora per part file") {
    // Round-13 ADVICE: ScaleGen corpora store lineitem.parquet as a Spark
    // output DIRECTORY; the footer key must inspect every part file, not
    // error on the directory. Write a 3-part copy of sf0.001 lineitem and
    // pin: one row group set per part file, num_rows reconciling exactly
    // with the table count.
    val baseDir = java.nio.file.Files.createTempDirectory("graft_footer")
    try {
      val base = baseDir.toString
      val li = Tables.t(spark, "/root/testdata/sf0.001", "lineitem")
      li.repartition(3).write.parquet(s"$base/lineitem.parquet")
      val out = SparkEntry.queries("scan_parquet_footer")(spark, base).collect()
      val files = out.map(_.getString(0)).distinct
      assert(files.length == 3, s"expected 3 part files, got ${files.toSeq}")
      assert(out.map(_.getLong(2)).sum == li.count(), "row groups must cover the table")
      assert(out.forall(_.getLong(3) > 0), "column counts must be positive")
    } finally {
      // round-13 ADVICE: don't leak a temp parquet corpus per suite run
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(baseDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("pinned: capped miner twins track their exact siblings at sf0.1") {
    // The round-13 `_capped` family (shared df-capped miner,
    // DedupOps.cappedTau0Pairs): sizes stay exact and intersections only
    // thin, so capped jaccard/containment/shared ≤ exact pairwise —
    // every thresholded twin's survivor KEY SET must be a SUBSET of its
    // exact sibling's, with recall ≥ the pinned floor (measured sf0.1:
    // ngram 1.0, containment 1.0, contamination 0.9922 — floors leave
    // headroom for corpus regeneration). Run at sf0.1, the only corpus
    // where the cap binds (sweep pin above asserts non-vacuity of the
    // shared miner at this SF).
    val dir = "/root/testdata/sf0.1"
    def keySet(k: String, cols: Seq[String]): Set[Seq[Any]] =
      SparkEntry.queries(k)(spark, dir)
        .select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq).toSet
    for ((exact, capped, cols, floor) <- Seq(
        ("dedup_ngram_jaccard", "dedup_ngram_jaccard_capped", Seq("d1", "d2"), 0.95),
        ("dedup_containment", "dedup_containment_capped", Seq("d1", "d2"), 0.95),
        ("text_contamination", "text_contamination_capped", Seq("test_id"), 0.95))) {
      val e = keySet(exact, cols)
      val c = keySet(capped, cols)
      assert(c.subsetOf(e), s"$capped not a subset of $exact: ${(c -- e).take(3)}")
      val recall = (c & e).size.toDouble / e.size
      assert(recall >= floor, s"$capped recall $recall < $floor")
    }
  }

  test("pinned: adaptive cap FLOOR regime on a Zipf-head corpus") {
    // Round-13 verdict task 3: the 100 TB rationale for the capped miner
    // family is "real vocabularies are Zipfian => the rule resolves to
    // the floor 16 => per-shingle fan-out stays bounded" — previously
    // argued from vocabulary growth laws, measured here on the
    // ScaleGen.zipfDocs corpus (growing Zipf vocabulary + a planted
    // df=n/50 boilerplate head + planted near-dup twins). Pins: the cap
    // resolves to the FLOOR (not the mean-tracking regime), the head is
    // real (df >> cap) yet survivors stay ~cap-bounded, and the capped
    // miner's recall of the exact tau=0.6 pair set survives the
    // thinning. The runtime-curve claim (exact superlinear vs capped
    // flat) was measured at 50k/100k/200k docs and is recorded in
    // SCALE.md §8.14.
    val baseDir = java.nio.file.Files.createTempDirectory("graft_zipf")
    try {
      val base = baseDir.toString
      ScaleGen.zipfDocs(spark, 20000L).repartition(8)
        .write.mode("overwrite").parquet(s"$base/documents.parquet")
      val sh = Tables.t(spark, base, "documents").select(col("doc_id"),
        explode(array_distinct(operators.TextOps.shingles(col("text"))))
          .as("shingle"))
      val cap = operators.DedupOps.minerDfCap(sh).head.getLong(0)
      assert(cap == 16L, s"cap $cap — the growing vocabulary must resolve the rule to the floor")
      val headDf = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .agg(max("df")).head.getLong(0)
      assert(headDf >= 200L, s"planted head df $headDf too small — the floor pin would be vacuous")
      val maxSurv = operators.DedupOps.thinnedPostings(spark, base)
        .groupBy("shingle").agg(count(lit(1)).as("c"))
        .agg(max("c")).head.getLong(0)
      assert(maxSurv <= 4 * cap,
        s"max survivors $maxSurv > 4x cap: per-shingle fan-out not bounded (head df $headDf)")
      def pairKeys(k: String): Set[(Long, Long)] =
        SparkEntry.queries(k)(spark, base).select("d1", "d2").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairKeys("dedup_ngram_jaccard")
      val capped = pairKeys("dedup_ngram_jaccard_capped")
      assert(capped.subsetOf(exact), s"capped not a subset: ${(capped -- exact).take(3)}")
      // generator sanity: the exact miner finds nearly all planted twins
      // (~3% legitimately perturb past tau=0.6 — Binomial(60, 1/20) tail)
      val planted = (7L until 20000L by 10L).map(d => (d - 1, d)).toSet
      val plantedRecallExact = (exact & planted).size.toDouble / planted.size
      assert(plantedRecallExact >= 0.8,
        s"exact miner finds only $plantedRecallExact of planted twins — generator broken")
      // the load-bearing pin: thinning the Zipf head does not lose pairs
      val recall = (capped & exact).size.toDouble / exact.size
      assert(recall >= 0.95, s"capped recall $recall < 0.95 in the floor regime")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(baseDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("pinned: capped jaccard-knn agrees with the exact ranking at sf0.1") {
    // Rankings may reorder where thinning bites (scores drift down
    // non-uniformly), so the knn pin is agreement, not subset: top-1
    // neighbor agreement ≥ 0.9 over common docs and mean |top-1 score
    // drift| ≤ 0.01 (measured sf0.1: 0.9635 agreement, 0.0033 drift);
    // both engines rank the same doc set.
    val dir = "/root/testdata/sf0.1"
    def top1(k: String): Map[Long, (Long, Double)] =
      SparkEntry.queries(k)(spark, dir)
        .filter(org.apache.spark.sql.functions.col("rk") === 1)
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val e = top1("text_jaccard_knn")
    val c = top1("text_jaccard_knn_capped")
    assert(e.keySet == c.keySet, "ranked doc sets must match")
    val agree = e.keysIterator.count(d => e(d)._1 == c(d)._1).toDouble / e.size
    assert(agree >= 0.9, s"top-1 agreement $agree < 0.9")
    val drift = e.keysIterator.map(d => math.abs(e(d)._2 - c(d)._2)).sum / e.size
    assert(drift <= 0.01, s"mean top-1 score drift $drift > 0.01")
  }

  test("pinned: approx curriculum stages track the exact ntile cut at sf0.1") {
    // the scale twin's GK sketch (accuracy=10000) displaces each quartile
    // threshold by ≤ n/10000 ranks, so each stage's population drifts
    // ≤ ~0.5% of n from the exact n/4 (boundary ties add a hair); 1% is
    // multiple-σ slack. Run at sf0.1 so the bound is exercised on real
    // mass. mean_quality moves only by boundary docs → 0.02 abs slack.
    val dir = "/root/testdata/sf0.1"
    val approx = SparkEntry.queries("pipeline_curriculum_stages_approx")(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = SparkEntry.queries("pipeline_curriculum_stages")(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(approx.keySet == (1 to 4).toSet, s"stages ${approx.keySet}")
    val n = exact.values.map(_._1).sum.toDouble
    assert(approx.values.map(_._1).sum.toDouble == n, "total docs must match")
    (1 to 4).foreach { st =>
      val (ac, aq) = approx(st)
      val (ec, eq) = exact(st)
      assert(math.abs(ac - ec) <= 0.01 * n,
        s"stage $st mass drift: approx=$ac exact=$ec (n=$n)")
      assert(math.abs(aq - eq) <= 0.02,
        s"stage $st mean_quality drift: approx=$aq exact=$eq")
    }
  }

  test("pinned: merged HLL sketches within 5% of exact distinct docs") {
    val approx = SparkEntry.queries("agg_hll_sketch_merge")(spark, sfDir)
      .head.getLong(0).toDouble
    val exact = Tables.t(spark, sfDir, "documents")
      .select(countDistinct(col("text"))).head.getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.05, s"approx=$approx exact=$exact")
  }

  test("pinned: HLL inclusion-exclusion overlap tracks the exact audience overlap") {
    val exact = SparkEntry.queries("agg_audience_overlap")(spark, sfDir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2).toDouble)).toMap
    val est = SparkEntry.queries("agg_hll_overlap")(spark, sfDir).collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val e = exact(key)
      // inclusion-exclusion amplifies the per-sketch error (~0.4% at
      // lgK=14) by the union size; 10% of the exact overlap (floor 5
      // users for tiny-sf noise) is multiple σ of slack.
      assert(math.abs(r.getLong(2) - e) <= math.max(5.0, 0.10 * e),
        s"$key: est=${r.getLong(2)} exact=$e")
    }
  }

  test("pinned: HLL DAU/WAU tracks the exact ts_active_users") {
    val exact = SparkEntry.queries("ts_active_users")(spark, sfDir)
      .collect().map(r => (r.getDate(0).toString,
        (r.getLong(1).toDouble, r.getLong(2).toDouble))).toMap
    val est = SparkEntry.queries("ts_active_users_hll")(spark, sfDir).collect()
    assert(est.length == exact.size, "day grids differ")
    est.foreach { r =>
      val (dau, wau) = exact(r.getDate(0).toString)
      // lgK=14 → ~0.4% relative error; 5% + floor 3 is multiple σ
      assert(math.abs(r.getLong(1) - dau) <= math.max(3.0, 0.05 * dau),
        s"${r.getDate(0)}: dau est=${r.getLong(1)} exact=$dau")
      assert(math.abs(r.getLong(2) - wau) <= math.max(3.0, 0.05 * wau),
        s"${r.getDate(0)}: wau est=${r.getLong(2)} exact=$wau")
    }
  }

  test("pinned: approx_top_k matches exact word counts at this scale") {
    val approx = SparkEntry.queries("agg_approx_top_k")(spark, sfDir).collect()
    assert(approx.length == 10)
    val exact = Tables.t(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the sketch must report true counts for every item it returns
    approx.foreach { r =>
      val (w, c) = (r.getString(0), r.getLong(1))
      assert(exact(w) == c, s"$w: sketch=$c exact=${exact(w)}")
    }
    // and its minimum reported count must dominate all excluded words
    val returned = approx.map(_.getString(0)).toSet
    val minTop = approx.map(_.getLong(1)).min
    val bestExcluded = exact.collect { case (w, c) if !returned(w) => c }.max
    assert(minTop >= bestExcluded, s"minTop=$minTop bestExcluded=$bestExcluded")
  }

  test("pinned: dedup_exact keeps all docs when no duplicates") {
    val n = SparkEntry.queries("dedup_exact")(spark, sfDir).count()
    assert(n == 500L) // sf0.001 documents are all distinct
  }

  test("pinned: bootstrap CI brackets and Wilson interval contains the rate") {
    SparkEntry.queries("agg_bootstrap_median_ci")(spark, sfDir).collect()
      .foreach { r =>
        val (med, lo, hi) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
        assert(lo <= hi, s"${r.getString(0)}: lo=$lo hi=$hi")
        // the exact median lies inside (or at) the bootstrap envelope
        assert(med >= lo - 1e-9 && med <= hi + 1e-9,
          s"${r.getString(0)}: median=$med outside [$lo, $hi]")
      }
    SparkEntry.queries("agg_conversion_wilson_ci")(spark, sfDir).collect()
      .foreach { r =>
        val (rate, lo, hi) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
        assert(lo >= -1e-9 && hi <= 1.0 + 1e-9)
        assert(rate >= lo - 1e-9 && rate <= hi + 1e-9)
      }
  }

  test("pinned: kruskal-wallis / delta-method / jackknife / MDE invariants") {
    // Kruskal–Wallis: tie correction C ≤ 1 ⇒ h_tied ≥ h_stat ≥ 0, and the
    // rank machine must have consumed the whole corpus (n_total = |events|).
    val kw = SparkEntry.queries("agg_kruskal_wallis")(spark, sfDir)
      .collect().head
    assert(kw.getLong(0) >= 2, "needs k >= 2 groups")
    assert(kw.getLong(1) == Tables.events(spark, sfDir).count())
    val (h, hTied) = (kw.getDouble(3), kw.getDouble(4))
    assert(h >= -1e-9 && hTied >= h - 1e-9, s"h=$h h_tied=$hTied")

    // Delta-method and jackknife are two estimators of the SAME ratio's
    // variance: identical point estimate (same lattice sums), and the
    // standard errors agree to O(1/n) — pinned at 10% relative.
    val dm = SparkEntry.queries("agg_delta_method_ratio")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val jk = SparkEntry.queries("agg_jackknife_ratio_var")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    for ((variant, (ratio, se, lo, hi)) <- dm) {
      val (jRatio, jSe) = jk(variant)
      assert(ratio == jRatio, s"$variant: point estimates diverged")
      assert(lo <= ratio && ratio <= hi, s"$variant: CI excludes estimate")
      assert(se > 0 && math.abs(se - jSe) / se < 0.10,
        s"$variant: delta se=$se vs jackknife se=$jSe")
    }

    // MDE: positive, relative form consistent, and the 1%-lift sample size
    // must dwarf the observed n (a 1% lift is far below this corpus's MDE).
    SparkEntry.queries("agg_power_mde")(spark, sfDir).collect().foreach { r =>
      val (n, mean, mde, mdeRel) =
        (r.getLong(1), r.getDouble(2), r.getDouble(4), r.getDouble(5))
      assert(mde > 0 && mdeRel > 0)
      assert(math.abs(mdeRel - mde / mean) < 1e-5)
      assert(r.getLong(6) > n, "1% lift needs more traffic than observed")
    }
  }

  test("pinned: vocab coverage is monotone and ends at 1.0") {
    val rows = SparkEntry.queries("text_vocab_coverage")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq) // monotone share
    assert(rows.last._2 == 1.0) // full vocab covers everything
  }

  test("pinned: gopher report reconciles and modularity total is bounded") {
    val g = SparkEntry.queries("pipeline_gopher_rules")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fails = Seq("fail_word_count", "fail_mean_word_len",
      "fail_stopwords", "fail_repetition").map(g)
    // pass_all can't exceed docs minus the largest single-rule failure set
    assert(g("pass_all") <= g("docs_total") - fails.max)
    assert(g("pass_all") >= g("docs_total") - fails.sum)
    val m = SparkEntry.queries("graph_modularity_lang")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getDouble(4)))
    val total = m.filter(_._1 == "~total").map(_._2)
    assert(total.length == 1)
    assert(total(0) >= -1.0 - 1e-9 && total(0) <= 1.0 + 1e-9)
  }

  test("pinned: survival hazard reconciles users and is monotone") {
    val rows = SparkEntry.queries("ts_survival_hazard")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    // every user either churns on an observed day or is right-censored
    val churned = rows.map(_._3).sum
    val censored = Tables.events(spark, sfDir)
      .select(col("user_id"),
        (datediff(to_date(col("ts")), lit("2024-01-01")) + 1).as("dn"))
      .groupBy("user_id").agg(max("dn").as("ld"))
      .filter(col("ld") > 25).count()
    assert(churned + censored == users, s"$churned + $censored != $users")
    // hazards are probabilities; cumulative hazard is nondecreasing
    rows.foreach { case (_, n, d, h, _) =>
      assert(d <= n); assert(h >= 0.0 && h <= 1.0)
    }
    assert(rows.map(_._5).toSeq == rows.map(_._5).sorted.toSeq)
  }

  test("pinned: PSI total row reconciles its per-bucket contributions") {
    val rows = SparkEntry.queries("ts_psi_drift")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val (total, per) = rows.partition(_._1 == -1L)
    assert(total.length == 1)
    // counts reconcile to the corpus and to the total row
    val nEvents = Tables.events(spark, sfDir).count()
    assert(per.map(_._2).sum + per.map(_._3).sum == nEvents)
    assert(total(0)._2 == per.map(_._2).sum && total(0)._3 == per.map(_._3).sum)
    // the released total matches the per-bucket sum within rounding slack
    assert(math.abs(total(0)._4 - per.map(_._4).sum) < 1e-4 * (per.length + 1))
    // PSI is a nonnegative divergence
    assert(total(0)._4 >= 0.0)
  }

  test("pinned: out-of-order buckets fire on a scrambled arrival sequence") {
    import spark.implicits._
    // arrival order (event_id) vs event time (us): event 2 arrives 30 s
    // after the HWM set by event 1 (b bucket), event 4 arrives 5 min
    // behind (c), event 6 arrives 2 h behind (e); 1, 3, 5 advance the
    // HWM (a). User 2 is fully ordered — all a.
    val h = 3600L * 1000000
    val ev = Seq(
      (1L, 1L, 10L * h), (2L, 1L, 10L * h - 30L * 1000000),
      (3L, 1L, 11L * h), (4L, 1L, 11L * h - 300L * 1000000),
      (5L, 1L, 12L * h), (6L, 1L, 10L * h),
      (7L, 2L, 1L * h), (8L, 2L, 2L * h))
      .toDF("event_id", "user_id", "us")
    val out = graft.operators.AnalyticsExt.outOfOrderStats(ev)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("a_on_time", 5L, 0L),
      ("b_within_1m", 1L, 30L * 1000000),
      ("c_within_10m", 1L, 300L * 1000000),
      ("e_over_1h", 1L, 2L * h)))
  }
}
