/*
 * Listeners for the traced benchmark run. Lives under org.apache.spark.sql
 * so it can drain Spark's listener bus and read the rule meter, both of
 * which Spark keeps package-private.
 */
package org.apache.spark.sql.graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished task, tagged with the benchmark operation its job ran for. */
final case class TaskRec(tag: String, stage: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, readBytes: Long, shuffleWrite: Long, shuffleRead: Long,
    spillBytes: Long)

/** One finished query execution: the action that ran it (`overwrite` for
  * the benchmark's noop writes), planning time from its tracker, the
  * exchanges in its executed plan and the ids of the RDDs it scans. */
final case class PlanRec(action: String, planMs: Long, exchanges: Int, leafRdds: Set[Int])

/** Collects task, stage and job events plus query-execution summaries.
  * The benchmark sets the local property [[Probe.Tag]] on its thread
  * before each call, so every job, and through its stages every task, is
  * attributed to the operation that caused it. Query executions carry no
  * such property; they are kept only while `recording` is set, in the
  * order they ran. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  @volatile var recording = false
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[String]()
  val stages = new ConcurrentLinkedQueue[String]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.Tag))).getOrElse("")
    e.stageIds.foreach(s => stageTag.put(s, tag))
    jobs.add(tag)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(stageTag.getOrDefault(e.stageInfo.stageId, ""))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(stageTag.getOrDefault(e.stageId, ""),
      e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (recording) {
      val planMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      plans.add(PlanRec(funcName, planMs, Probe.exchanges(qe.executedPlan),
        Probe.leafRdds(qe.executedPlan)))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Record query executions while `body` runs, and only then. */
  def recordDuring[T](sc: SparkContext)(body: => T): T = {
    Probe.drain(sc)
    recording = true
    try body finally { Probe.drain(sc); recording = false }
  }
}

object Probe {
  val Tag = "graftbench.op"

  def attach(spark: SparkSession, p: Probe): Unit = {
    spark.sparkContext.addSparkListener(p)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(p)
  }

  def detach(spark: SparkSession, p: Probe): Unit = {
    spark.sparkContext.removeSparkListener(p)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.unregister(p)
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Shuffle and broadcast exchanges in a physical plan, looking through
    * adaptive query stages; reused exchanges are not counted twice. */
  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike) =>
      1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum +
      other.subqueries.map(exchanges).sum
  }

  /** Ids of the RDDs a physical plan scans directly (checkpointed frames). */
  def leafRdds(plan: SparkPlan): Set[Int] = plan match {
    case a: AdaptiveSparkPlanExec => leafRdds(a.executedPlan)
    case q: QueryStageExec => leafRdds(q.plan)
    case r: RDDScanExec => Set(r.rdd.id)
    case other => (other.children ++ other.subqueries).flatMap(leafRdds).toSet
  }

  /** Effective and total runs of an optimizer rule since JVM start, read
    * from Spark's rule meter. */
  def ruleRuns(ruleName: String): (Long, Long) = {
    val line = RuleExecutor.dumpTimeSpent().linesIterator.find(_.contains(ruleName))
    val nums = line.toSeq.flatMap("\\d+".r.findAllIn(_)).map(_.toLong)
    // Columns: effective time / total time, effective runs / total runs.
    if (nums.length >= 4) (nums(nums.length - 2), nums.last) else (0L, 0L)
  }
}
