package graft

import java.sql.Timestamp

import graft.operators.Sessionization
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests pinning the sessionization semantics (SURVEY §5.3):
  * lag+cumsum ≡ session_window on arbitrary event streams, and the
  * session partition invariants (events conserved, inter-session gap ≥
  * gap). Uses plain scalacheck generators with fixed seeds (the
  * scalatest-scalacheck bridge isn't in the offline cache).
  */
class SessionizePropertySpec extends SparkSpec {

  private val eventsGen: Gen[List[(Long, Long, Long, Double)]] = for {
    nUsers <- Gen.choose(1, 3)
    n <- Gen.choose(1, 60)
    evs <- Gen.listOfN(n, for {
      u <- Gen.choose(0L, nUsers - 1L)
      // offsets up to ~4h so streams cross the 30-min gap regularly
      offUs <- Gen.choose(0L, 4L * 3600 * 1000000)
      v <- Gen.choose(0, 1000).map(_ / 10.0)
    } yield (u, offUs, v))
  } yield evs.zipWithIndex.map { case ((u, off, v), i) =>
    (i.toLong, u, 1704067200000000L + off, v) // 2024-01-01 base, µs
  }

  private def sample(seed: Long): List[(Long, Long, Long, Double)] =
    eventsGen.pureApply(Gen.Parameters.default, Seed(seed))

  private def toDf(evs: List[(Long, Long, Long, Double)]): DataFrame = {
    import spark.implicits._
    evs.map { case (id, u, tsUs, v) =>
      (id, u, new Timestamp(tsUs / 1000), v)
    }.toDF("event_id", "user_id", "ts", "value")
  }

  private def canon(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("lag+cumsum ≡ session_window on random streams") {
    (1L to 12L).foreach { seed =>
      val df = toDf(sample(seed))
      val batch = canon(Sessionization.batchSessions(df))
      val native = canon(Sessionization.nativeSessions(df))
      assert(batch == native, s"seed $seed")
    }
  }

  test("a filter on session_end sees merged sessions, not per-event windows") {
    // Events at 00:00, 00:20 and 00:40 with a 30-minute gap form ONE
    // session, 00:00 to 01:10; no session ends by 00:55.
    val base = 1704067200000000L // 2024-01-01 00:00 UTC, µs
    val df = toDf(List(0L, 20L, 40L).zipWithIndex.map { case (m, i) =>
      (i.toLong, 1L, base + m * 60 * 1000000L, 1.0) })
      .withColumn("event_type", lit("view"))
    val cutoff = timestamp_micros(lit(base + 55 * 60 * 1000000L))
    for ((name, sessions) <- Seq("static" -> Sessionization.nativeSessions _,
        "dynamic" -> Sessionization.dynamicSessions _)) {
      assert(canon(sessions(df)) ==
        Set((1L, base, base + 70 * 60 * 1000000L, 3L)), name)
      val early = sessions(df).filter(col("session_end") <= cutoff).collect()
      assert(early.isEmpty, s"$name: ${early.mkString(",")}")
    }
  }

  test("session partition invariants") {
    (100L to 107L).foreach { seed =>
      val evs = sample(seed)
      val sessions = Sessionization.batchSessions(toDf(evs)).collect()
      // events conserved
      assert(sessions.map(_.getAs[Long]("n_events")).sum == evs.length, s"seed $seed")
      // per user: next session starts at-or-after previous end (= last + gap)
      sessions.groupBy(_.getAs[Long]("user_id")).foreach { case (_, ss) =>
        val sorted = ss.sortBy(r => r.getAs[Timestamp]("session_start").getTime)
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            assert(b.getAs[Timestamp]("session_start").getTime >=
              a.getAs[Timestamp]("session_end").getTime - 1, s"seed $seed")
          case _ =>
        }
      }
    }
  }
}
