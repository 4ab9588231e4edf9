package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Planted cases for the two r17 event-maintenance additions: the SCD
  * Type-2 history build (no-change rows must COLLAPSE, intervals must
  * tile, exactly one current version per key) and the linear-interpolation
  * gap-fill (exact-integer convex-combination lerp on interior gaps).
  */
class Scd2InterpSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  private def ts(sec: Long) =
    new java.sql.Timestamp(sec * 1000L)

  test("SCD2: consecutive same-status observations collapse into one version") {
    import spark.implicits._
    // user 1: A A B A — four observations, THREE versions (the repeated A
    // extends version 1, it does not open a new one); user 2: one version
    val events = Seq(
      (1L, ts(100), 10L, "A"),
      (1L, ts(200), 11L, "A"),
      (1L, ts(300), 12L, "B"),
      (1L, ts(400), 13L, "A"),
      (2L, ts(150), 20L, "C")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Relational2
      .scd2History(events)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq === Seq(
      (1L, 1L, "A", 100L, 300L, 0L),
      (1L, 2L, "B", 300L, 400L, 0L),
      (1L, 3L, "A", 400L, 9999999999L, 1L),
      (2L, 1L, "C", 150L, 9999999999L, 1L)
    ), s"history rows diverged: ${got.toSeq}")
  }

  test("SCD2 invariants on the fixture: intervals tile per key, exactly one current version") {
    val hist = Relational2
      .scd2History(graft.Tables.events(spark, TestSpark.sfDir))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)))
      .groupBy(_._1)
    hist.foreach { case (uid, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.count(_._5 == 1L) === 1, s"user $uid must have exactly one current version")
      assert(sorted.last._5 === 1L, s"user $uid: the LAST version is the current one")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 === b._3, s"user $uid: versions must tile (valid_to == next valid_from)")
        case _ => ()
      }
      sorted.foreach { r =>
        assert(r._3 < r._4, s"user $uid: every interval is non-empty (valid_from < valid_to)")
      }
    }
  }

  test("interp: interior gaps take the exact integer convex-combination lerp") {
    import spark.implicits._
    // observed days 10 -> 100c, 13 -> 400c: the two missing interior days
    // get 100 + k*(300/3): day 11 = 200c, day 12 = 300c (exact); a
    // non-divisible gap floors: days 20 -> 100c, 22 -> 101c, day 21 =
    // (100*1 + 101*1) div 2 = 100c
    val obs = Seq((10L, 100L), (13L, 400L), (20L, 100L), (22L, 101L))
      .toDF("day", "vc")
      // restrict to the first planted segment for the clean case, second
      // segment checked separately below
    val got = TimeSeries
      .interpSeries(obs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val byDay = got.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byDay(10L) === ((1L, 100L)))
    assert(byDay(11L) === ((0L, 200L)), s"exact thirds lerp: $got")
    assert(byDay(12L) === ((0L, 300L)))
    assert(byDay(13L) === ((1L, 400L)))
    assert(byDay(21L) === ((0L, 100L)), s"non-divisible gap floors: $got")
    // between the planted segments the brackets are (13 -> 400c,
    // 20 -> 100c): a DECREASING gap, where the convex form's numerator
    // stays non-negative — day 14 = (400*6 + 100*1) div 7 = 2500 div 7 =
    // 357 (floor), identical in both engines
    assert(byDay(14L) === ((0L, 357L)), s"decreasing-gap convex lerp: ${byDay(14L)}")
    assert(got.map(_._1) === (10L to 22L), "grid is dense over the observed span")
  }

  test("funnel: a step event BEFORE the previous step's conversion does not count") {
    import spark.implicits._
    val dir = tempDir("funnel-events")
    def ev(uid: Long, id: Long, tpe: String, sec: Long) =
      (id, uid, tpe, ts(sec), 1.0)
    // A completes all four in order; B's only purchase PRECEDES the
    // signup (steps 1-3 convert, step 4 must not); C signs up only
    Seq(
      ev(1L, 10L, "signup", 10), ev(1L, 11L, "view", 20), ev(1L, 12L, "click", 30), ev(1L, 13L, "purchase", 40),
      ev(2L, 20L, "purchase", 100), ev(2L, 21L, "signup", 200), ev(2L, 22L, "view", 300), ev(2L, 23L, "click", 400),
      ev(3L, 30L, "signup", 5)
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.SparkEntry
      .queries("q_event_funnel")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      (1L, "signup", 3L), (2L, "view", 2L), (3L, "click", 2L), (4L, "purchase", 1L)
    ), s"ordered-funnel counts diverged: ${got.toSeq}")
  }

  test("interp: a fully observed series passes through untouched") {
    import spark.implicits._
    val obs = Seq((5L, 10L), (6L, 20L), (7L, 30L)).toDF("day", "vc")
    val got = TimeSeries.interpSeries(obs).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((5L, 1L, 10L), (6L, 1L, 20L), (7L, 1L, 30L)))
  }
}
