package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo keyed on (SparkSession instance, sf dir) — the one
  * pattern behind the pair-graph / corpus-label / BPE-merge memos: under
  * the bench's self-contained-key contract several keys consume the same
  * expensive derived artifact, and a production pipeline materializes that
  * artifact ONCE and ships it to every consumer; the memo is that
  * accounting in-session.
  *
  * Two properties the naive `ConcurrentHashMap.computeIfAbsent` version
  * lacks (round-8 ADVICE):
  *  - the compute runs OUTSIDE the map's bin lock (get → compute →
  *    putIfAbsent), so a concurrent caller for a *different* key hashing
  *    into the same bin never blocks on a multi-job Spark computation.
  *    A same-key race may compute twice; the loser's value is handed to
  *    `discard` (for checkpointed frames: its blocks are freed) and the
  *    winner is returned — values are deterministic, so which copy wins
  *    is immaterial.
  *  - stopped sessions are evicted (keys AND values dropped) on the next
  *    miss, so the map cannot strongly retain a dead SparkSession — and
  *    its cluster-side state — for the life of the JVM.
  *
  * Keyed on the session *instance* (not an id string) so a
  * stopped-and-recreated session can never be served blocks from a dead
  * context.
  */
final class SessionMemo[V <: AnyRef](discard: V => Unit = (_: AnyRef) => ()) {
  private val map = new ConcurrentHashMap[(SparkSession, String), V]()

  def getOrCompute(s: SparkSession, dir: String)(compute: => V): V = {
    val k = (s, dir)
    val hit = map.get(k)
    if (hit != null) hit
    else {
      evictStopped()
      val v = compute // outside any map lock — may run multi-job Spark work
      val prev = map.putIfAbsent(k, v)
      if (prev == null) v
      else { discard(v); prev }
    }
  }

  /** Drop entries whose session is stopped. Values of a stopped session
    * are NOT discarded — their blocks died with the context. */
  private def evictStopped(): Unit = {
    val it = map.keySet().iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
  }
}

object SessionMemo {
  /** Eager localCheckpoint whose blocks [[freeCheckpoint]] can free
    * without waiting for GC. The blocks are found from the checkpointed
    * plan itself — its `LogicalRDD` leaf holds exactly the block-pinned
    * RDD — not from a session-global `getPersistentRDDs` diff, so a frame
    * persisted concurrently by another thread in the same session can
    * never be captured and force-freed by mistake (round-5 ADVICE). */
  def checkpointTracked(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    require(checkpointRdds(out).nonEmpty,
      "localCheckpoint left no LogicalRDD leaf to track — cannot free blocks deterministically")
    out
  }

  /** Free a checkpointed frame's blocks (also the discard hook of memos
    * holding localCheckpoint-ed values): unpersist the RDDs of the
    * frame's own LogicalRDD leaves — `Dataset.unpersist` would be a no-op
    * here because localCheckpoint persists the RDD directly, outside the
    * CacheManager. */
  def freeCheckpoint(df: DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped)
      checkpointRdds(df).foreach(_.unpersist(blocking = false))

  private def checkpointRdds(df: DataFrame) = df.queryExecution.analyzed.collect {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
  }
}
