package graftbench

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbench.Probe
import org.apache.spark.storage.StorageLevel

/** Per-layer metrics of the traced run, measured from the benchmark's
  * side of each layer boundary. Every metric is per pass unless its name
  * says otherwise. */
object Layers {

  private def tagPass(tag: String): Int = tag.takeWhile(_ != '/') match {
    case n if n.nonEmpty && n.forall(_.isDigit) => n.toInt
    case _ => -1
  }
  private def phase(tag: String): String = tag.dropWhile(_ != '|').drop(1)

  def batch(a: Main.Args, loop: BatchLoop.Loop, trace: Trace, probe: Probe,
      ruleEffective: Long, ruleRuns: Long): Map[String, Any] = {
    val tracedIdx = loop.passes.filter(_.traced).map(_.index).toSet
    val n = tracedIdx.size.toDouble
    val traced = (tag: String) => tracedIdx.contains(tagPass(tag))
    val tasks = probe.tasks.asScala.toSeq.filter(t => traced(t.tag))
    val execTasks = tasks.filter(t => phase(t.tag) == "exec")
    // Recorded during traced passes only; one `overwrite` per noop write.
    val plans = probe.plans.asScala.toSeq.filter(_.action == "overwrite")
    val build = trace.total("entry.build") / n
    val write = trace.total("write") / n
    val plan = plans.map(_.planMs).sum / 1e3 / n
    val exec = write - plan
    val tracedPass = Stats.median(loop.passes.filter(_.traced).map(_.seconds).toSeq)
    val untracedPass = Stats.median(loop.passes.filter(!_.traced).map(_.seconds).toSeq)
    val scan = tasks.filter(_.readBytes > 0)
    val taskRun = execTasks.map(_.runMs).sum / 1e3 / n
    val skew = execTasks.groupBy(_.stage).values.filter(ts => ts.size > 1 &&
        ts.map(_.runMs).sum >= 200).map { ts =>
      ts.map(_.runMs).max.toDouble / (ts.map(_.runMs).sum.toDouble / ts.size)
    }
    Map(
      "tables.scan_s" -> scan.map(_.runMs).sum / 1e3 / n,
      "tables.read_mb" -> scan.map(_.readBytes).sum / 1048576.0 / n,
      "tables.scan_tasks" -> scan.size / n,
      "entry.build_s" -> build,
      "entry.eager_jobs" -> probe.jobs.asScala.count(t => traced(t) && phase(t) == "build") / n,
      "plan.s" -> plan,
      "plan.exchanges" -> plans.map(_.exchanges).sum / n,
      "plan.graft_rule_effective" -> ruleEffective / loop.passes.size.toDouble,
      "plan.graft_rule_runs" -> ruleRuns / loop.passes.size.toDouble,
      "exec.s" -> exec,
      "exec.task_cpu_s" -> execTasks.map(_.cpuNs).sum / 1e9 / n,
      "exec.task_run_s" -> taskRun,
      "exec.gc_s" -> execTasks.map(_.gcMs).sum / 1e3 / n,
      "exec.busy_frac" -> (if (exec > 0) taskRun / (exec * a.cpus) else 0.0),
      "exec.stages" -> probe.stages.asScala.count(t => traced(t) && phase(t) == "exec") / n,
      "exec.tasks" -> execTasks.size / n,
      "exec.shuffle_write_mb" -> execTasks.map(_.shuffleWrite).sum / 1048576.0 / n,
      "exec.shuffle_read_mb" -> execTasks.map(_.shuffleRead).sum / 1048576.0 / n,
      "exec.spill_mb" -> execTasks.map(_.spillBytes).sum / 1048576.0 / n,
      "exec.task_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
      "trace.pass_s" -> tracedPass,
      "trace.untraced_pass_s" -> untracedPass,
      "trace.overhead_frac" -> (if (untracedPass > 0) tracedPass / untracedPass - 1 else 0.0),
      "trace.remainder_s" -> trace.selfTimes.getOrElse("pass", 0.0) / n)
  }

  /** For every key, the time of `count()` over the time of the full
    * result, both warm, on the session of the last pass. A ratio well
    * below 1 marks a key whose count-based timing hides most of its work. */
  def countOverFull(s: SparkSession, loop: BatchLoop.Loop, keys: Seq[String]): Map[String, Any] = {
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val ratios = keys.flatMap { k =>
      try {
        val c = time(loop.queries(k)(s, loop.dir).count())
        val f = time(BatchLoop.noop(loop.queries(k)(s, loop.dir)))
        Some(k -> c / f)
      } catch { case NonFatal(_) => None }
    }.toMap
    Map("exec.count_over_full" -> (if (ratios.isEmpty) 1.0 else ratios.values.min),
      "exec.count_over_full_p50" -> Stats.median(ratios.values.toSeq),
      "detail.count_over_full" -> ratios)
  }

  /** Public memo accessors in dependency order; each is timed after the
    * ones before it, so the time is its own incremental build cost. */
  val MemoAccessors: Seq[(String, (SparkSession, String) => AnyRef)] = Seq(
    "tau0Pairs" -> graft.operators.DedupOps.tau0Pairs _,
    "thinnedPostings" -> graft.operators.DedupOps.thinnedPostings _,
    "cappedTau0Pairs" -> graft.operators.DedupOps.cappedTau0Pairs _,
    "corpusBanded64" -> graft.operators.DedupOps.corpusBanded64 _,
    "corpusSimhashPairs" -> graft.operators.DedupOps.corpusSimhashPairs _,
    "corpusLabelsFull" -> graft.operators.DedupOps.corpusLabelsFull _,
    "corpusLabels80" -> graft.operators.DedupOps.corpusLabels80 _,
    "nearDupPairs" -> ((s: SparkSession, d: String) => Memos.graphPairs(s, d)),
    "bpeMergesFor" -> ((s: SparkSession, d: String) => graft.operators.TextOps.bpeMergesFor(s, d)))

  /** Keys that read memoized artifacts, one or more per memo. */
  val MemoConsumers = Seq("dedup_cluster_stats", "dedup_ngram_jaccard",
    "dedup_simhash_pairs", "dedup_threshold_sweep_capped", "graph_pagerank",
    "graph_triangles", "text_contamination_capped")

  val MemoSessions = 2

  /** Storage still held by cached or checkpointed RDDs, in MB (memory, disk). */
  def retainedMb(s: SparkSession): (Double, Double) = {
    val infos = s.sparkContext.getRDDStorageInfo
    (infos.map(_.memSize).sum / 1048576.0, infos.map(_.diskSize).sum / 1048576.0)
  }

  /** SessionMemo layer over the seeded corpus: on each of MemoSessions
    * fresh sessions (`newSession()`, as a one-shot pipeline run would get;
    * the SparkContext stays up) every accessor is built, and the storage
    * still held is read afterwards. Then the consumer keys run on the last
    * session and the ones whose plans scan a memoized frame are counted. */
  def memoProbe(base: SparkSession, dir: String): Map[String, Any] = {
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val (mem0, disk0) = retainedMb(base)
    val entries0 = Memos.builds()
    var s = base
    var builds = Map.empty[String, Double]
    for (_ <- 0 until MemoSessions) {
      s = base.newSession()
      val session = s
      builds = MemoAccessors.map { case (name, f) => name -> time(f(session, dir)) }.toMap
    }
    val (mem, disk) = retainedMb(base)
    val entriesPerSession = (Memos.builds() - entries0).toDouble / MemoSessions
    val memoRdds = Memos.rddIds()
    val probe = new Probe
    Probe.attach(s, probe)
    val queries = graft.SparkEntry.queries
    val consumers = MemoConsumers.count { k =>
      probe.plans.clear()
      probe.recordDuring(s.sparkContext)(BatchLoop.noop(queries(k)(s, dir)))
      probe.plans.asScala.exists(_.leafRdds.exists(memoRdds.contains))
    }
    Probe.detach(s, probe)
    builds.map { case (k, v) => s"memo.build_s.$k" -> v } ++ Map(
      "memo.retained_mem_mb" -> mem,
      "memo.retained_disk_mb" -> disk,
      "memo.retained_disk_mb_per_pass" -> (disk - disk0) / MemoSessions,
      "memo.retained_mem_mb_per_pass" -> (mem - mem0) / MemoSessions,
      "memo.builds" -> entriesPerSession,
      "memo.consumers_per_build" -> (if (entriesPerSession > 0) consumers / entriesPerSession else 0.0))
  }

  /** Throughput of each custom expression in graft/functions on one fixed
    * in-memory frame, in million rows per second (median of three). */
  def functions(s: SparkSession): Map[String, Any] = {
    val rows = 100000L
    val vocab = "spark window merge table column vector stream value data small join filter big group hash customer sort order slow line part fast row the agg key query a scan batch".split(" ")
    val vocabCol = array(vocab.map(lit(_)).toIndexedSeq: _*)
    val pick = (salt: Column) => element_at(vocabCol, (pmod(hash(col("id"), salt), lit(vocab.length)) + 1).cast("int"))
    val frame = s.range(rows).select(
      col("id"),
      transform(sequence(lit(0), lit(63)), i => sin(col("id") * (i + 1)).cast("float")).as("vec"),
      concat_ws(" ", transform(sequence(lit(0), lit(39)), pick)).as("text"),
      pick(lit(-1)).as("word"),
      transform(sequence(lit(0), lit(7)), i => pmod(col("id") * (i + 7), lit(16)).cast("int")).as("codes"),
      pmod(col("id"), lit(1000)).as("grp"),
      (pmod(col("id") * 2654435761L, lit(100003)) / 100003.0).as("score"),
      (pmod(col("id"), lit(7)) + 1.0).as("w"))
      .persist(StorageLevel.MEMORY_ONLY)
    frame.count()
    val dim = 64
    val cents = (0 until 16).map(c => (c.toLong, Array.tabulate(dim)(j => math.cos(c * j + 1.0).toFloat), 0.0))
    val planes = (0 until 32).map(p => (0 until dim).map(j => math.sin(p * 31 + j).toFloat))
    val lut = typedLit((0 until 8 * 16).map(i => math.sin(i.toDouble)).toArray)
    val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "FloatVecDot" -> (_.select(VecFunctions.vecDot(col("vec"), col("vec")))),
      "ArgMaxDot" -> (_.select(ArgMaxDot.nearest(col("vec"), cents))),
      "CdcChunks" -> (_.select(CdcChunks.cdcChunks(col("text"), 8))),
      "Md5Lanes" -> (_.select(Md5Lanes.md5Lanes(col("text")))),
      "PqAdcScore" -> (_.select(PqAdcScore.adcScore(col("codes"), lut, 16))),
      "FloatLshBands" -> (_.select(FloatLshBands.lshBands(col("vec"), planes, 8, 4, dim))),
      "TopKAgg" -> (_.groupBy("grp").agg(udaf(new TopKAgg(3)).apply(col("score"), col("id")))),
      "MisraGriesAgg" -> (_.agg(udaf(new MisraGriesAgg(16),
        org.apache.spark.sql.Encoders.STRING).apply(col("word")))),
      "WeightedAvgAgg" -> (_.groupBy("grp").agg(udaf(WeightedAvgAgg).apply(col("score"), col("w")))))
    val out = cases.map { case (name, f) =>
      val ts = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        BatchLoop.noop(f(frame))
        (System.nanoTime() - t0) / 1e9
      }
      s"functions.$name.mrows_per_s" -> rows / Stats.median(ts) / 1e6
    }.toMap
    frame.unpersist(blocking = true)
    out
  }
}

/** Read-only access to graft's `SessionMemo` instances, found by
  * reflection on the operator objects (no counter inside the program). */
object Memos {
  /** The operator objects that hold SessionMemo fields. */
  private val owners = Seq("DedupOps", "GraphOps", "TextOps")

  private def instances: Seq[graft.SessionMemo[_]] = owners.flatMap { o =>
    val cls = Class.forName(s"graft.operators.$o$$")
    val module = cls.getField("MODULE$").get(null)
    cls.getDeclaredFields.toSeq.filter(f => classOf[graft.SessionMemo[_]].isAssignableFrom(f.getType))
      .map { f => f.setAccessible(true); f.get(module).asInstanceOf[graft.SessionMemo[_]] }
  }

  private def entries(m: graft.SessionMemo[_]): Seq[AnyRef] = {
    val f = m.getClass.getDeclaredFields.find(f =>
      classOf[java.util.Map[_, _]].isAssignableFrom(f.getType)).get
    f.setAccessible(true)
    f.get(m).asInstanceOf[java.util.Map[AnyRef, AnyRef]].values.asScala.toSeq
  }

  /** Memo entries held across all sessions. */
  def builds(): Int = instances.map(entries(_).size).sum

  /** Ids of the checkpointed RDDs that memoized frames read from. */
  def rddIds(): Set[Int] = instances.flatMap(entries).collect {
    case df: org.apache.spark.sql.Dataset[_] => df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
  }.flatten.toSet

  /** GraphOps' near-duplicate pair memo has no public accessor. */
  def graphPairs(s: SparkSession, dir: String): AnyRef = {
    val cls = Class.forName("graft.operators.GraphOps$")
    val m = cls.getDeclaredMethods.find(_.getName.endsWith("nearDupPairs")).get
    m.setAccessible(true)
    m.invoke(cls.getField("MODULE$").get(null), s, dir)
  }
}
