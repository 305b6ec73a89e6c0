package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class SessionOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("sessionize: gap > threshold starts a new session; boundaries exact") {
    // user 1: events at 0, 10, 20, 55, 60 min (gap 35 between 20 and 55)
    // user 2: single event
    val events = Seq(
      (1L, ts(0), 10L), (2L, ts(10), 10L), (3L, ts(20), 10L),
      (4L, ts(55), 10L), (5L, ts(60), 10L),
      (6L, ts(0), 20L)
    ).toDF("event_id", "ts", "user_id")
    val s = SessionOps.sessionize(events, "user_id", "ts", 30L * 60)
    val got = s.select("event_id", "session_id").as[(Long, Long)].collect().toMap
    assert(got(1L) == 1 && got(2L) == 1 && got(3L) == 1)
    assert(got(4L) == 2 && got(5L) == 2)
    assert(got(6L) == 1)
  }

  test("sessionize: gap exactly at threshold does NOT split (strict >)") {
    val events = Seq((1L, ts(0), 1L), (2L, ts(30), 1L)).toDF("event_id", "ts", "user_id")
    val s = SessionOps.sessionize(events, "user_id", "ts", 30L * 60)
    assert(s.select(max("session_id")).as[Long].head() == 1)
  }

  test("sessionize works on frames without event_id via the tieBreakCol parameter") {
    val clicks = Seq(
      ("c1", ts(0), 7L), ("c2", ts(10), 7L), ("c3", ts(55), 7L)
    ).toDF("click_id", "ts", "user_id")
    val s = SessionOps.sessionize(clicks, "user_id", "ts", 30L * 60,
      tieBreakCol = "click_id")
    val got = s.select("click_id", "session_id").as[(String, Long)].collect().toMap
    assert(got("c1") == 1 && got("c2") == 1 && got("c3") == 2)
  }

  test("kaplanMeier: textbook curve with censoring; zero-risk tail pins 0") {
    // classic: durations (event=1): 1, 3, 3, 6; censored: 2, 5
    // t=1: n=6, d=1 -> S=5/6
    // t=2: censor only -> S unchanged, risk drops to 4
    // t=3: n=4, d=2 -> S=5/6 * 1/2 = 5/12
    // t=5: censor only; t=6: n=1, d=1 -> factor 0 -> S=0
    val subj = Seq(
      (0L, 1L, 1), (0L, 2L, 0), (0L, 3L, 1), (0L, 3L, 1),
      (0L, 5L, 0), (0L, 6L, 1)
    ).toDF("cohort", "dur", "ev")
    val got = SessionOps.kaplanMeier(subj, "cohort", "dur", "ev")
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._2)
    val byT = got.map(r => r._2 -> r).toMap
    assert(byT(1L)._3 == 6L && math.abs(byT(1L)._6 - 5.0 / 6) < 1e-8)
    assert(byT(2L)._4 == 0L && byT(2L)._5 == 1L &&
      math.abs(byT(2L)._6 - 5.0 / 6) < 1e-8, "censor-only time keeps S")
    assert(byT(3L)._3 == 4L && math.abs(byT(3L)._6 - 5.0 / 12) < 1e-8)
    assert(byT(6L)._3 == 1L && byT(6L)._6 == 0.0, "exhausted risk set -> 0")
    val re = SessionOps.kaplanMeier(subj.repartition(5), "cohort", "dur", "ev")
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._2)
    assert(re.toSeq == got.toSeq, "partitioning-independent")
  }

  test("topPaths: ordered prefixes, short journeys kept, ranked cut") {
    val ev = Seq(
      (1L, ts(0), "A", 1L), (1L, ts(1), "B", 2L), (1L, ts(2), "C", 3L),
      (1L, ts(3), "D", 4L), // 4th event must not appear in the path
      (2L, ts(0), "A", 5L), (2L, ts(1), "B", 6L), (2L, ts(2), "C", 7L),
      (3L, ts(0), "X", 8L)  // single-event journey keeps its prefix
    ).toDF("u", "t", "et", "eid")
    val r = SessionOps.topPaths(ev, "u", "t", "et", "eid", 3, 10)
      .as[(String, Long)].collect().toSeq
    assert(r == Seq(("A>B>C", 2L), ("X", 1L)), s"got $r")
    val rep = SessionOps.topPaths(ev.repartition(5), "u", "t", "et",
      "eid", 3, 10).as[(String, Long)].collect().toSeq
    assert(rep == r, "path assembly must be partitioning-proof")
  }
}
