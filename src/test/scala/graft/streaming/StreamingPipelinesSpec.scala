package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

case class Ev(ts: Timestamp, event_type: String, user_id: Long, value: Double)

/** Drives the streaming forms through MemoryStream: watermarked windows,
  * dedup, and restart-from-checkpoint (the Spark translation of the
  * reference's seek/contiguity semantics, SURVEY §5.4).
  */
class StreamingPipelinesSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowed counts with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingPipelines
      .windowedCounts(input.toDF(), watermark = "10 minutes", window_ = "30 minutes")
      .writeStream
      .format("memory")
      .queryName("wc_out")
      .outputMode("complete")
      .start()
    try {
      input.addData(Ev(ts(1), "click", 1, 1.0), Ev(ts(2), "click", 2, 2.0), Ev(ts(31), "view", 1, 3.0))
      q.processAllAvailable()
      val rows = spark.table("wc_out").collect().map(r => (r.getString(1), r.getLong(2))).toSet
      assert(rows === Set(("click", 2L), ("view", 1L)))
    } finally q.stop()
  }

  test("append mode emits only watermark-closed windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingPipelines
      .windowedCounts(input.toDF(), watermark = "5 minutes", window_ = "10 minutes")
      .writeStream
      .format("memory")
      .queryName("ap_out")
      .outputMode("append")
      .start()
    try {
      input.addData(Ev(ts(1), "click", 1, 1.0))
      q.processAllAvailable()
      // watermark still at epoch of first batch: nothing closed yet
      assert(spark.table("ap_out").count() === 0)
      // an event far in the future pushes the watermark past the first window
      input.addData(Ev(ts(59), "view", 1, 1.0))
      q.processAllAvailable()
      input.addData(Ev(Timestamp.valueOf("2024-01-01 12:00:00"), "view", 2, 1.0))
      q.processAllAvailable()
      val closed = spark.table("ap_out").collect().map(_.getString(1)).toSeq
      assert(closed.contains("click"))
    } finally q.stop()
  }

  test("streaming KMV distinct: sketch state merges across micro-batches, exact below k") {
    // the TypedImperativeAggregate buffer is the state-store entry; feeding
    // overlapping user sets across three micro-batches must yield the same
    // result as one batch pass — and below k the KMV estimate is EXACT, so
    // the streaming estimate must equal the true distinct count
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingPipelines
      .streamingKmvDistinct(input.toDF(), groupCol = "event_type", valueCol = "user_id", k = 64)
      .writeStream
      .format("memory")
      .queryName("kmv_stream_out")
      .outputMode("complete")
      .start()
    def est() = spark.table("kmv_stream_out").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    try {
      input.addData((1 to 20).map(u => Ev(ts(1), "click", u.toLong, 1.0)): _*)
      q.processAllAvailable()
      assert(est() === Map("click" -> 20.0), "first batch: 20 distinct users, exact")
      // batch 2 overlaps batch 1 (users 11..30) plus a second group
      input.addData((11 to 30).map(u => Ev(ts(2), "click", u.toLong, 1.0)) ++
        (1 to 5).map(u => Ev(ts(2), "view", u.toLong, 1.0)): _*)
      q.processAllAvailable()
      assert(est() === Map("click" -> 30.0, "view" -> 5.0),
        "cross-batch merge dedupes the 11..20 overlap: 30 distinct, not 40")
      // batch 3: pure duplicates must change nothing
      input.addData((1 to 30).map(u => Ev(ts(3), "click", u.toLong, 1.0)): _*)
      q.processAllAvailable()
      assert(est() === Map("click" -> 30.0, "view" -> 5.0), "replayed values are no-ops")
    } finally q.stop()
  }

  test("streaming CMS frequency: counters merge losslessly across batches, estimate == batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val probes = Seq("click", "view", "absent")
    val q = StreamingPipelines
      .streamingCmsFrequency(input.toDF(), probeKeys = probes, keyCol = "event_type")
      .writeStream
      .format("memory")
      .queryName("cms_stream_out")
      .outputMode("complete")
      .start()
    def est() = spark.table("cms_stream_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch1 = (1 to 17).map(u => Ev(ts(1), "click", u.toLong, 1.0))
    val batch2 = (1 to 9).map(u => Ev(ts(2), "click", u.toLong, 1.0)) ++
      (1 to 4).map(u => Ev(ts(2), "view", u.toLong, 1.0))
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      val e1 = est()
      assert(e1("click") >= 17L && e1("view") >= 0L, s"one-sided after batch 1: $e1")
      input.addData(batch2: _*)
      q.processAllAvailable()
      val e2 = est()
      assert(e2("click") >= 26L && e2("view") >= 4L, s"running counts after merge: $e2")
      // lossless merge: the streaming estimates equal a BATCH sketch over
      // the concatenated input bit-for-bit (counters are sums), for every
      // probe including the absent key's collision noise
      val batchEst = StreamingPipelines
        .streamingCmsFrequency((batch1 ++ batch2).toDF(), probeKeys = probes, keyCol = "event_type")
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
      assert(e2 === batchEst, s"streaming $e2 != batch $batchEst")
    } finally q.stop()
  }

  test("streaming windowed top-k: typed aggregate state merges across batches, k bounds output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingPipelines
      .streamingWindowedTopK(input.toDF(), watermark = "10 minutes", window_ = "30 minutes", k = 3)
      .writeStream
      .format("memory")
      .queryName("topk_stream_out")
      .outputMode("complete")
      .start()
    def ranks() = spark.table("topk_stream_out").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    try {
      input.addData(
        Ev(ts(1), "click", 10, 5.0), Ev(ts(2), "click", 11, 9.0),
        Ev(ts(3), "click", 12, 7.0), Ev(ts(4), "click", 13, 1.0))
      q.processAllAvailable()
      assert(ranks() === Set(
        ("click", 1L, 11L, 9.0), ("click", 2L, 12L, 7.0), ("click", 3L, 10L, 5.0)),
        "k=3 keeps the top three by value")
      // a later batch inside the same window displaces rank 3
      input.addData(Ev(ts(5), "click", 14, 8.0))
      q.processAllAvailable()
      assert(ranks() === Set(
        ("click", 1L, 11L, 9.0), ("click", 2L, 14L, 8.0), ("click", 3L, 12L, 7.0)),
        "cross-batch state merge re-ranks within the window")
    } finally q.stop()
  }

  test("streaming dedup: duplicate (user_id, ts) rows collapse to one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingPipelines
      .dedupByKey(input.toDF(), keys = Seq("user_id"))
      .writeStream
      .format("memory")
      .queryName("dd_out")
      .outputMode("append")
      .start()
    try {
      input.addData(
        Ev(ts(1), "click", 1, 1.0),
        Ev(ts(1), "click", 1, 1.0), // exact duplicate
        Ev(ts(3), "click", 1, 9.0), // same key, later ts: still deduped within watermark
        Ev(ts(2), "view", 2, 2.0)
      )
      q.processAllAvailable()
      assert(spark.table("dd_out").count() === 2)
    } finally q.stop()
  }

  test("transition stream: steps emitted on arrival equal the batch matrix; state bridges batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TypedEvent]
    val q = StreamingPipelines
      .transitionStream(input.toDS())
      .writeStream
      .format("memory")
      .queryName("trans_out")
      .outputMode("append")
      .start()
    try {
      // batch 1: u1 view@0 -> click@5 (one in-batch step); u2 view@3 (opens state)
      input.addData(
        TypedEvent(ts(0), 1L, "view"),
        TypedEvent(ts(5), 1L, "click"),
        TypedEvent(ts(3), 2L, "view"))
      q.processAllAvailable()
      // batch 2: u1 purchase@10 (CROSS-BATCH step from the stored state);
      // u2 click@7; u2 stale view@1 (older than state) must be dropped
      input.addData(
        TypedEvent(ts(10), 1L, "purchase"),
        TypedEvent(ts(7), 2L, "click"),
        TypedEvent(ts(1), 2L, "view"))
      q.processAllAvailable()

      val got = spark
        .table("trans_out")
        .groupBy("from_type", "to_type")
        .count()
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got === Map(
        ("view", "click")     -> 2L, // u1 in-batch + u2 across batches
        ("click", "purchase") -> 1L  // u1 across batches (state bridged)
      ), s"got $got")
    } finally q.stop()
  }

  test("transition stream: idle users expire at the TTL — no bridging step after expiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TypedEvent]
    val q = StreamingPipelines
      .transitionStream(input.toDS(), watermark = "0 seconds", idleTtlMs = 60 * 1000L)
      .writeStream
      .format("memory")
      .queryName("trans_ttl_out")
      .outputMode("append")
      .start()
    try {
      input.addData(TypedEvent(ts(0), 1L, "view"))
      q.processAllAvailable()
      // another user's far-future event advances the watermark past u1's TTL
      input.addData(TypedEvent(Timestamp.valueOf("2024-01-01 14:00:00"), 2L, "view"))
      q.processAllAvailable()
      // u1 returns AFTER expiry: reopens with no step (state was dropped)
      input.addData(TypedEvent(Timestamp.valueOf("2024-01-01 15:00:00"), 1L, "click"))
      q.processAllAvailable()
      val steps = spark.table("trans_ttl_out").collect()
      assert(steps.isEmpty,
        s"expired state must not bridge a transition: ${steps.mkString(", ")}")
      // and the reopened state works: a follow-up event emits a fresh step
      input.addData(TypedEvent(Timestamp.valueOf("2024-01-01 15:01:00"), 1L, "purchase"))
      q.processAllAvailable()
      val after = spark.table("trans_ttl_out").collect().map(r => (r.getString(0), r.getString(1)))
      assert(after.toSeq === Seq(("click", "purchase")))
    } finally q.stop()
  }

  test("transition stream: watermark EXACTLY at last+TTL still bridges (EventTimeTimeout fires only on >)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TypedEvent]
    val q = StreamingPipelines
      .transitionStream(input.toDS(), watermark = "0 seconds", idleTtlMs = 60 * 1000L)
      .writeStream
      .format("memory")
      .queryName("trans_ttl_edge_out")
      .outputMode("append")
      .start()
    try {
      input.addData(TypedEvent(ts(0), 1L, "view"))
      q.processAllAvailable()
      // u2 advances the watermark to EXACTLY u1's last + TTL (10:00 + 60s).
      // GroupStateTimeout.EventTimeTimeout fires only when the watermark
      // strictly EXCEEDS the set timestamp, so u1's timeout has NOT fired —
      // the data-path expiry guard must agree and still bridge.
      input.addData(TypedEvent(ts(1), 2L, "view"))
      q.processAllAvailable()
      input.addData(TypedEvent(ts(2), 1L, "click"))
      q.processAllAvailable()
      val steps = spark.table("trans_ttl_edge_out").collect().map(r => (r.getString(0), r.getString(1)))
      assert(steps.toSeq === Seq(("view", "click")),
        s"at watermark == last+TTL the timeout has not fired; the data path must bridge: ${steps.mkString(", ")}")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer: gap closes in-batch, timeout closes via watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = StreamingPipelines
      .statefulSessions(input.toDS(), gapMs = 30 * 60 * 1000L, watermark = "10 minutes")
      .writeStream
      .format("memory")
      .queryName("sess_out")
      .outputMode("append")
      .start()
    try {
      // session 1: two events 5 min apart; then a far event opens session 2
      input.addData(UserEvent(ts(0), 1L), UserEvent(ts(5), 1L))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() === 0, "open session must not emit")

      input.addData(UserEvent(Timestamp.valueOf("2024-01-01 12:00:00"), 1L))
      q.processAllAvailable()
      // the 12:00 event both closes session 1 by gap and advances the watermark
      input.addData(UserEvent(Timestamp.valueOf("2024-01-01 14:00:00"), 2L))
      q.processAllAvailable()

      val sessions = spark
        .table("sess_out")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      assert(sessions.exists { case (u, s, e, n) => u == 1L && s == ts(0) && e == ts(5) && n == 2L },
        s"expected closed session 1, got ${sessions.mkString(", ")}")
    } finally q.stop()
  }

  test("streaming anomaly detector flags outliers against the stats-so-far") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ValuedEvent]
    val q = StreamingPipelines
      .streamingAnomaly(input.toDS(), zThreshold = 3.0, minSamples = 30)
      .writeStream
      .format("memory")
      .queryName("anomaly_out")
      .outputMode("append")
      .start()
    try {
      // warm-up: 40 calm observations (alternating 9/11 around mean 10)
      input.addData((0 until 40).map(i => ValuedEvent(ts(i % 60), "click", if (i % 2 == 0) 9.0 else 11.0)): _*)
      q.processAllAvailable()
      assert(spark.table("anomaly_out").count() === 0, "calm stream must not fire")

      // a 100.0 spike is ~89 sigma; a fresh key must stay silent (warm-up)
      input.addData(ValuedEvent(ts(41), "click", 100.0), ValuedEvent(ts(41), "error", 100.0))
      q.processAllAvailable()
      val fired = spark.table("anomaly_out").collect().map(r => (r.getString(0), r.getDouble(2), r.getDouble(3)))
      assert(fired.length === 1 && fired(0)._1 === "click" && fired(0)._2 === 100.0,
        s"expected one click anomaly, got ${fired.mkString(", ")}")
      assert(fired(0)._3 > 3.0, s"z must exceed threshold: ${fired(0)._3}")
    } finally q.stop()
  }

  test("transformWithState (v2 API) sessionizer matches the v1 scenario") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // v2 state (multiple column families) needs the RocksDB provider
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    val input = MemoryStream[UserEvent]
    val q = SessionProcessor
      .statefulSessionsV2(input.toDS(), gapMs = 30 * 60 * 1000L, watermark = "10 minutes")
      .writeStream
      .format("memory")
      .queryName("sess_v2")
      .outputMode("append")
      .start()
    try {
      input.addData(UserEvent(ts(0), 1L), UserEvent(ts(5), 1L))
      q.processAllAvailable()
      assert(spark.table("sess_v2").count() === 0, "open session must not emit")
      input.addData(UserEvent(Timestamp.valueOf("2024-01-01 12:00:00"), 1L))
      q.processAllAvailable()
      input.addData(UserEvent(Timestamp.valueOf("2024-01-01 14:00:00"), 2L))
      q.processAllAvailable()
      val sessions = spark
        .table("sess_v2")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      assert(
        sessions.exists { case (u, s, e, n) => u == 1L && s == ts(0) && e == ts(5) && n == 2L },
        s"expected closed session [0,5]x2, got ${sessions.mkString(", ")}"
      )
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("v2 sessionizer: cross-batch extension must defuse the earlier timer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    val input = MemoryStream[UserEvent]
    val q = SessionProcessor
      .statefulSessionsV2(input.toDS(), gapMs = 30 * 60 * 1000L, watermark = "0 seconds")
      .writeStream
      .format("memory")
      .queryName("sess_v2_timer")
      .outputMode("append")
      .start()
    try {
      // batch 1 arms a timer at 10:00+30m
      input.addData(UserEvent(ts(0), 1L))
      q.processAllAvailable()
      // batch 2 extends to 10:29 (timer must move to 10:59)
      input.addData(UserEvent(ts(29), 1L))
      q.processAllAvailable()
      // watermark driven past the STALE 10:30 timer but before 10:59: the
      // session must stay open (no premature emission)
      input.addData(UserEvent(Timestamp.valueOf("2024-01-01 10:45:00"), 2L))
      q.processAllAvailable()
      val early = spark.table("sess_v2_timer").collect().filter(_.getLong(0) == 1L)
      assert(early.isEmpty, s"stale timer emitted prematurely: ${early.mkString(", ")}")
      // extend user 1 again within gap of 10:29 -> still ONE session
      input.addData(UserEvent(Timestamp.valueOf("2024-01-01 10:50:00"), 1L))
      q.processAllAvailable()
      // push watermark far past everything: the single merged session closes
      input.addData(UserEvent(Timestamp.valueOf("2024-01-01 14:00:00"), 3L))
      q.processAllAvailable()
      val sessions = spark
        .table("sess_v2_timer")
        .collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      assert(
        sessions.toSeq === Seq((ts(0), Timestamp.valueOf("2024-01-01 10:50:00"), 3L)),
        s"expected one merged session [10:00,10:50]x3, got ${sessions.mkString(", ")}"
      )
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream-stream interval join: purchases attribute to in-window clicks only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks    = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamingPipelines
      .attributionJoin(clicks.toDF(), purchases.toDF(), watermark = "5 minutes", windowMinutes = 30)
      .writeStream
      .format("memory")
      .queryName("attr_out")
      .outputMode("append")
      .start()
    try {
      clicks.addData(Ev(ts(1), "click", 1, 10.0), Ev(ts(5), "click", 2, 20.0))
      // u1 purchase 9 min after the click (in window); u2 purchase 40+ min
      // after its click lands OUTSIDE the 30-min attribution window
      purchases.addData(Ev(ts(10), "purchase", 1, 99.0))
      purchases.addData(Ev(Timestamp.valueOf("2024-01-01 10:50:00"), "purchase", 2, 7.0))
      q.processAllAvailable()
      val rows = spark
        .table("attr_out")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4)))
        .toSet
      assert(rows === Set((1L, 10.0, 99.0)))
    } finally q.stop()
  }

  test("streaming funnel: stage order enforced, cross-batch progression, completion is final") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TypedEvent]
    val q = StreamingPipelines
      .streamingFunnel(input.toDS(), watermark = "5 minutes")
      .writeStream
      .format("memory")
      .queryName("funnel_out")
      .outputMode("append")
      .start()
    def rows() = spark
      .table("funnel_out")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    try {
      // u1 view+click in batch 1; u2 clicks BEFORE viewing (click ignored).
      // Delayed commit: nothing emits until the watermark passes the stage
      // timestamps — after batch 1 the watermark is 10:03-5min = 09:58,
      // below every candidate.
      input.addData(
        TypedEvent(ts(1), 1, "view"), TypedEvent(ts(2), 1, "click"),
        TypedEvent(ts(1), 2, "click"), TypedEvent(ts(3), 2, "view"))
      q.processAllAvailable()
      assert(rows() === Set.empty)
      // batch 2 advances the watermark to 10:09-5min = 10:04: u1's
      // view@10:01+click@10:02 and u2's view@10:03 commit (the timeout
      // wake-up flushes them); u1's purchase@10:09 and u2's now-valid
      // click@10:08 sit above the watermark, pending
      input.addData(TypedEvent(ts(9), 1, "purchase"), TypedEvent(ts(8), 2, "click"))
      q.processAllAvailable()
      assert(rows() === Set((1L, 0, "view"), (1L, 1, "click"), (2L, 0, "view")))
      // batch 3 advances the watermark to 10:15: u1 commits purchase@10:09
      // (the MIN eligible — not this batch's 10:20 duplicate), completes,
      // and collapses to a tombstone; u2 commits click@10:08
      input.addData(TypedEvent(ts(20), 1, "purchase"))
      q.processAllAvailable()
      assert(rows() === Set(
        (1L, 0, "view"), (1L, 1, "click"), (1L, 2, "purchase"),
        (2L, 0, "view"), (2L, 1, "click")))
      // u1 completed -> tombstone: later events (even a fresh view that
      // would start a new journey) must NOT re-enter the funnel or re-emit
      input.addData(TypedEvent(ts(40), 1, "purchase"), TypedEvent(ts(41), 1, "view"))
      q.processAllAvailable()
      input.addData(TypedEvent(ts(55), 99, "view")) // watermark push past 10:41
      q.processAllAvailable()
      assert(rows().count(_._1 == 1L) === 3)
    } finally q.stop()
  }

  test("streaming funnel: tombstone outlives any skew horizon — far-future activity stays a no-op") {
    // Refutes the "expire completed tombstones at completionTime + max-skew"
    // shrink (round-6 directive 6): re-journey does not need a LATE event.
    // A completed user browsing again DAYS later sends events at/ahead of
    // the watermark; had the tombstone expired at any fixed horizon, that
    // activity would start a fresh journey and emit stage rows the batch
    // funnel never emits. So with idleTimeout=None the tombstone must
    // survive arbitrarily far past completion — bounding it IS idleTimeout.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TypedEvent]
    val q = StreamingPipelines
      .streamingFunnel(input.toDS(), watermark = "5 minutes")
      .writeStream
      .format("memory")
      .queryName("funnel_far_out")
      .outputMode("append")
      .start()
    def u1rows() = spark.table("funnel_far_out").collect().count(_.getLong(0) == 1L)
    try {
      input.addData(TypedEvent(ts(1), 1, "view"), TypedEvent(ts(2), 1, "click"), TypedEvent(ts(3), 1, "purchase"))
      q.processAllAvailable()
      input.addData(TypedEvent(Timestamp.valueOf("2024-01-01 11:00:00"), 99, "view")) // watermark past the chain
      q.processAllAvailable()
      assert(u1rows() === 3, "u1 completes the funnel")
      // two days later — far beyond any plausible skew bound — u1 returns
      input.addData(TypedEvent(Timestamp.valueOf("2024-01-03 10:00:00"), 1, "view"))
      q.processAllAvailable()
      input.addData(TypedEvent(Timestamp.valueOf("2024-01-04 10:00:00"), 99, "view")) // push watermark past the return
      q.processAllAvailable()
      assert(u1rows() === 3, "far-future activity of a completed user must not re-journey or re-emit")
    } finally q.stop()
  }

  test("streaming funnel: out-of-order cross-batch arrival buffered, replayed when predecessor lands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TypedEvent]
    val q = StreamingPipelines
      .streamingFunnel(input.toDS(), watermark = "10 minutes")
      .writeStream
      .format("memory")
      .queryName("funnel_ooo_out")
      .outputMode("append")
      .start()
    def rows() = spark
      .table("funnel_ooo_out")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    try {
      // batch 1: u3's CLICK arrives first (stage 1 before stage 0) — must
      // be buffered, not dropped: nothing can be emitted yet
      input.addData(TypedEvent(ts(5), 3, "click"))
      q.processAllAvailable()
      assert(rows() === Set.empty)
      // batch 2: the VIEW arrives late (ts 2 < click's ts 5, inside the
      // watermark); batch 3: the purchase. Still nothing emits — the
      // watermark (10:09-10min = 09:59) hasn't passed any candidate, so
      // every stage is still revisable by an even-earlier in-watermark event
      input.addData(TypedEvent(ts(2), 3, "view"))
      q.processAllAvailable()
      input.addData(TypedEvent(ts(9), 3, "purchase"))
      q.processAllAvailable()
      assert(rows() === Set.empty)
      // batch 4: an unrelated user pushes the watermark to 10:20 — u3's
      // whole buffered chain commits in replayed order and completes
      input.addData(TypedEvent(ts(30), 99, "view"))
      q.processAllAvailable()
      assert(rows() === Set((3L, 0, "view"), (3L, 1, "click"), (3L, 2, "purchase")))
    } finally q.stop()
  }

  test("streaming funnel: in-watermark reorder matches batch (round-3 ADVICE counterexample)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TypedEvent]
    val q = StreamingPipelines
      .streamingFunnel(input.toDS(), watermark = "10 minutes")
      .writeStream
      .format("memory")
      .queryName("funnel_reorder_out")
      .outputMode("append")
      .start()
    try {
      // batch 1: u7 view@10:10. An eager-commit funnel would lock stage 0
      // to 10:10 here, and u7 could then never convert.
      input.addData(TypedEvent(ts(10), 7, "view"))
      q.processAllAvailable()
      // batch 2: view@10:02 + click@10:05, both INSIDE the watermark
      // (10:00). Batch semantics (q_funnel's greedy min-chain) converts via
      // view@10:02 -> click@10:05.
      input.addData(TypedEvent(ts(2), 7, "view"), TypedEvent(ts(5), 7, "click"))
      q.processAllAvailable()
      // batch 3: push the watermark past the candidates; delayed commit
      // must reproduce the batch result — stage 0 at 10:02 (NOT 10:10),
      // stage 1 at 10:05
      input.addData(TypedEvent(ts(30), 99, "view"))
      q.processAllAvailable()
      val u7 = spark
        .table("funnel_reorder_out")
        .collect()
        .filter(_.getLong(0) == 7L)
        .map(r => (r.getInt(1), r.getString(2), r.getTimestamp(3)))
        .toSet
      assert(u7 === Set((0, "view", ts(2)), (1, "click", ts(5))))
    } finally q.stop()
  }

  /** The general form of the delayed-commit claim
    * (`StreamingPipelines.streamingFunnel` scaladoc): for ANY event set in
    * ANY micro-batch partitioning, the emitted stage timestamps equal the
    * batch funnel's greedy min-chain over every event the watermark did not
    * drop at ingestion. The two hand-built scenarios (in-watermark reorder,
    * TTL) pin single paths; this pins the claim itself with scalacheck
    * generators — 120 seeded scenarios (~500 users) through ONE shared
    * streaming query (disjoint user ids; per-user state makes scenarios
    * independent), because a query start/stop per scalacheck case would pay
    * ~2s × 120 (the TextSharedSpec one-job-many-cases precedent).
    *
    * Watermark control: data event times sit at :30s inside minutes 0-49;
    * sentinel users (-1) at minutes 70/100/130 then 200/230 advance the
    * watermark DETERMINISTICALLY between data batches (delay 60min →
    * watermark before data batch g is minute 10+30(g-1), a whole minute, so
    * no event ever ties a watermark boundary). Events in batch g below that
    * watermark are late — dropped by Spark at ingestion, and excluded from
    * the reference chain. Everything else must match exactly: mid-stream
    * commits, in-watermark reorders, pending-buffer pruning included.
    */
  test("scalacheck property: streaming funnel == batch greedy min-chain over non-late events (120 random scenarios)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed

    val stages  = Seq("view", "click", "purchase")
    val baseMs  = ts(0).getTime
    val nBatches = 3
    case class GenEv(user: Int, tpe: String, minute: Int, batch: Int)
    def evTime(m: Int): Long = baseMs + m * 60000L + 30000L

    val evGen: Gen[(String, Int, Int)] = for {
      tpe <- Gen.frequency(4 -> "view", 3 -> "click", 2 -> "purchase", 2 -> "other")
      m   <- Gen.choose(0, 49)
      b   <- Gen.choose(0, nBatches - 1)
    } yield (tpe, m, b)
    val scenarioGen: Gen[List[GenEv]] = for {
      nUsers <- Gen.choose(1, 6)
      pool   <- Gen.listOfN(nUsers * 8, evGen)
      counts <- Gen.listOfN(nUsers, Gen.choose(0, 8))
    } yield counts.zipWithIndex.flatMap { case (n, u) =>
      pool.slice(u * 8, u * 8 + n).map { case (t, m, b) => GenEv(u, t, m, b) }
    }
    val scenarios: Seq[(Int, List[GenEv])] = (0 until 120).map { i =>
      i -> scenarioGen(Gen.Parameters.default, Seed(i.toLong)).getOrElse(Nil)
    }
    assert(scenarios.map(_._2.size).sum > 1000, "generator sanity: enough events to mean something")

    def uid(scenario: Int, user: Int): Long = scenario * 100L + user

    val input = MemoryStream[TypedEvent]
    val q = StreamingPipelines
      .streamingFunnel(input.toDS(), stages = stages, watermark = "60 minutes")
      .writeStream
      .format("memory")
      .queryName("funnel_prop_out")
      .outputMode("append")
      .start()
    try {
      (0 until nBatches).foreach { g =>
        val batch = scenarios.flatMap { case (i, evs) =>
          evs.filter(_.batch == g).map(e => TypedEvent(new Timestamp(evTime(e.minute)), uid(i, e.user), e.tpe))
        }
        if (batch.nonEmpty) { input.addData(batch); q.processAllAvailable() }
        // deterministic watermark step: minute 70+30g -> wm = minute 10+30g
        input.addData(TypedEvent(new Timestamp(baseMs + (70 + 30 * g) * 60000L), -1L, "view"))
        q.processAllAvailable()
      }
      // final flush far past every candidate (plus one extra invocation round)
      Seq(200, 230).foreach { m =>
        input.addData(TypedEvent(new Timestamp(baseMs + m * 60000L), -1L, "view"))
        q.processAllAvailable()
      }

      val got: Map[Long, Set[(Int, Long)]] = spark
        .table("funnel_prop_out")
        .collect()
        .filter(_.getLong(0) >= 0)
        .groupBy(_.getLong(0))
        .map { case (u, rows) => u -> rows.map(r => (r.getInt(1), r.getTimestamp(3).getTime)).toSet }

      // Spark's ingestion-time late filter, simulated: watermark before data
      // batch g is the previous sentinel minus the 60min delay
      def wmBefore(g: Int): Option[Long] =
        if (g == 0) None else Some(baseMs + (10 + 30 * (g - 1)) * 60000L)
      def refChain(evs: Seq[GenEv]): Set[(Int, Long)] = {
        val kept = evs.filter(e => wmBefore(e.batch).forall(evTime(e.minute) >= _))
        var reached  = Vector.empty[Long]
        var advanced = true
        while (advanced && reached.length < stages.length) {
          advanced = false
          val next  = reached.length
          val cands = kept
            .filter(e => e.tpe == stages(next) && (reached.isEmpty || evTime(e.minute) >= reached.last))
            .map(e => evTime(e.minute))
          if (cands.nonEmpty) { reached :+= cands.min; advanced = true }
        }
        reached.zipWithIndex.map { case (t, i) => (i, t) }.toSet
      }

      scenarios.foreach { case (i, evs) =>
        evs.groupBy(_.user).foreach { case (u, uevs) =>
          val expected = refChain(uevs)
          val actual   = got.getOrElse(uid(i, u), Set.empty)
          assert(
            actual === expected,
            s"scenario $i user $u: streaming $actual != batch chain $expected over ${uevs.sortBy(e => (e.batch, e.minute))}"
          )
        }
      }
    } finally q.stop()
  }

  test("streaming funnel: idleTimeout expires stale mid-funnel users (bounded state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TypedEvent]
    val q = StreamingPipelines
      .streamingFunnel(
        input.toDS(),
        watermark = "5 minutes",
        idleTimeout = Some(java.time.Duration.ofMinutes(5))
      )
      .writeStream
      .format("memory")
      .queryName("funnel_ttl_out")
      .outputMode("append")
      .start()
    def u5rows() = spark
      .table("funnel_ttl_out")
      .collect()
      .filter(_.getLong(0) == 5L)
      .map(r => (r.getInt(1), r.getString(2)))
      .toSet
    try {
      // u5 views, then goes idle
      input.addData(TypedEvent(ts(1), 5, "view"))
      q.processAllAvailable()
      // watermark passes the view -> stage 0 commits; nothing pending, so
      // the idle TTL arms
      input.addData(TypedEvent(ts(30), 99, "view"))
      q.processAllAvailable()
      assert(u5rows() === Set((0, "view")))
      // watermark passes the idle deadline -> u5's state is dropped
      input.addData(TypedEvent(ts(45), 99, "view"))
      q.processAllAvailable()
      // u5 returns AFTER expiry: the click/purchase find no committed view
      // (state was dropped), so the funnel cannot progress — expired users
      // never convert, and their state does not linger
      input.addData(TypedEvent(ts(50), 5, "click"), TypedEvent(ts(55), 5, "purchase"))
      q.processAllAvailable()
      input.addData(TypedEvent(ts(59), 99, "view"))
      q.processAllAvailable()
      assert(u5rows() === Set((0, "view")), "expired user must not resume the funnel")
    } finally q.stop()
  }

  test("streaming funnel: mid-funnel state survives checkpoint restart (FunnelState encoder round-trip)") {
    // The FunnelState scaladoc pins checkpoint compatibility; this proves
    // the positive half: a user whose pending buffer was checkpointed
    // mid-funnel completes correctly in a NEW query instance restarted
    // from the same checkpoint (state-store round-trip of the encoder).
    import spark.implicits._
    val inDir  = tempDir("graft-funnel-in")
    val ckpt   = tempDir("graft-funnel-ckpt")
    val outDir = tempDir("graft-funnel-out")

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("ts timestamp, user_id long, event_type string")
        .parquet(inDir)
        .as[TypedEvent]
      val q = StreamingPipelines
        .streamingFunnel(stream, watermark = "5 minutes")
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    def outRows() = spark.read
      .schema("user_id long, stage int, stage_name string, ts timestamp")
      .parquet(outDir)
      .collect()

    // run 1: u1 reaches view+click, but the watermark (10:02-5min) hasn't
    // passed them — both are checkpointed PENDING, nothing emitted
    Seq(TypedEvent(ts(1), 1, "view"), TypedEvent(ts(2), 1, "click"))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    assert(outRows().isEmpty, "delayed commit: nothing may emit before the watermark passes")

    // run 2 (new query instance, same checkpoint): purchase arrives and a
    // sentinel pushes the watermark past all of u1's candidates
    Seq(TypedEvent(ts(9), 1, "purchase"), TypedEvent(ts(30), 9, "view"))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    // run 3: one more sentinel in case run 2's trailing watermark batch
    // didn't fire under AvailableNow before termination
    Seq(TypedEvent(ts(40), 9, "view"))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    runOnce()

    val u1 = outRows().filter(_.getLong(0) == 1L).map(r => (r.getInt(1), r.getString(2), r.getTimestamp(3))).toSet
    assert(
      u1 === Set((0, "view", ts(1)), (1, "click", ts(2)), (2, "purchase", ts(9))),
      "restarted query must complete the funnel from checkpointed pending state"
    )
  }

  test("idempotent foreachBatch sink: per-batch dirs, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out  = tempDir("graft-feb-out")
    val ckpt = tempDir("graft-feb-ckpt")
    val input = MemoryStream[Ev]
    val q = StreamingPipelines
      .idempotentParquetSink(input.toDF(), out, ckpt)
      .start()
    try {
      input.addData(Ev(ts(1), "a", 1, 1.0), Ev(ts(2), "b", 2, 2.0))
      q.processAllAvailable()
      input.addData(Ev(ts(3), "c", 3, 3.0))
      q.processAllAvailable()
      val dirs = new java.io.File(out).list().filter(_.startsWith("batch_id=")).sorted
      assert(dirs.length >= 2, s"expected per-batch dirs, got ${dirs.mkString(",")}")
      assert(spark.read.parquet(s"$out/batch_id=*").count() === 3)
    } finally q.stop()
  }

  test("sessionizer: cross-batch late event extends, never rewinds the session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = StreamingPipelines
      .statefulSessions(input.toDS(), gapMs = 30 * 60 * 1000L, watermark = "30 minutes")
      .writeStream
      .format("memory")
      .queryName("sess_ooo")
      .outputMode("append")
      .start()
    try {
      input.addData(UserEvent(ts(30), 1L))
      q.processAllAvailable()
      // late-but-valid event (older than lastMs, above the watermark)
      input.addData(UserEvent(ts(25), 1L))
      q.processAllAvailable()
      // far event closes the session by gap and pushes the watermark
      input.addData(UserEvent(Timestamp.valueOf("2024-01-01 13:00:00"), 1L))
      q.processAllAvailable()
      input.addData(UserEvent(Timestamp.valueOf("2024-01-01 15:00:00"), 2L))
      q.processAllAvailable()
      val ses = spark
        .table("sess_ooo")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .filter(_._1 == 1L)
      assert(
        ses.exists { case (_, s, e, n) => s == ts(25) && e == ts(30) && n == 2L },
        s"late event must extend session to [25,30], got ${ses.mkString(", ")}"
      )
      ses.foreach { case (_, s, e, _) => assert(!e.before(s), "session end must be >= start") }
    } finally q.stop()
  }

  test("restart from checkpoint resumes exactly after consumed offsets (seek semantics)") {
    // The reference's seek/contiguity logic (PulsarPartitionLevelConsumer
    // .java:112-131) maps to checkpoint recovery: a restarted query must
    // process exactly the unseen input. MemoryStream state dies with the
    // instance, so this uses the file source — a genuinely recoverable one.
    import spark.implicits._
    val inDir  = tempDir("graft-in")
    val ckpt   = tempDir("graft-ckpt")
    val outDir = tempDir("graft-out")

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("ts timestamp, event_type string, user_id long, value double")
        .parquet(inDir)
      val q = stream.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }

    Seq(Ev(ts(1), "a", 1, 1.0), Ev(ts(2), "b", 2, 2.0))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    assert(spark.read.parquet(outDir).count() === 2)

    Seq(Ev(ts(3), "c", 3, 3.0)).toDF().coalesce(1).write.mode("append").parquet(inDir)
    runOnce()

    val types = spark.read.parquet(outDir).collect().map(_.getString(1)).toSeq.sorted
    assert(types === Seq("a", "b", "c"), "restart must append exactly the new data")
  }

  test("streaming KMV distinct: sketch state survives checkpoint restart") {
    // The cross-batch merge pin above runs in ONE query instance; this is
    // the recovery half (the reference's S3 seek semantics applied to
    // AGGREGATE state, not just source offsets): the KmvHashes buffer
    // checkpointed by run 1 must be restored by a NEW query instance, so
    // run 2's overlapping users dedupe against state written before the
    // stop. Lost state would read 20 (batch 2 alone); no dedupe would read
    // 40. MemoryStream state dies with the instance → file source.
    import spark.implicits._
    val inDir  = tempDir("graft-kmv-in")
    val ckpt   = tempDir("graft-kmv-ckpt")
    val outDir = tempDir("graft-kmv-out")

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("ts timestamp, event_type string, user_id long, value double")
        .parquet(inDir)
      val q = StreamingPipelines
        .streamingKmvDistinct(stream, groupCol = "event_type", valueCol = "user_id", k = 64)
        .writeStream
        .outputMode("complete")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("overwrite").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    def est() = spark.read.parquet(outDir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

    (1 to 20).map(u => Ev(ts(1), "click", u.toLong, 1.0))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    assert(est() === Map("click" -> 20.0), "run 1: 20 distinct users, exact below k")

    ((11 to 30).map(u => Ev(ts(2), "click", u.toLong, 1.0)) ++
      (1 to 5).map(u => Ev(ts(2), "view", u.toLong, 1.0)))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    assert(
      est() === Map("click" -> 30.0, "view" -> 5.0),
      "restarted instance must merge batch 2 into the checkpointed sketches: " +
        "30 distinct clicks (11..20 deduped across the restart), not 20 or 40"
    )
  }

  test("transition stream: per-user state survives checkpoint restart (cross-run bridging step)") {
    // run 1 checkpoints u1's last event; run 2 delivers the next event in a
    // FRESH query instance — the bridging step only exists if the
    // flatMapGroupsWithState state store recovered from the checkpoint.
    import spark.implicits._
    val inDir  = tempDir("graft-trans-in")
    val ckpt   = tempDir("graft-trans-ckpt")
    val outDir = tempDir("graft-trans-out")

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("ts timestamp, user_id long, event_type string")
        .parquet(inDir)
        .as[TypedEvent]
      val q = StreamingPipelines
        .transitionStream(stream, watermark = "10 minutes")
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    def steps() = spark.read.parquet(outDir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted

    Seq(TypedEvent(ts(1), 1L, "view"), TypedEvent(ts(2), 1L, "click"))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    assert(steps() === Seq(("view", "click")))

    Seq(TypedEvent(ts(9), 1L, "purchase"))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    assert(steps() === Seq(("click", "purchase"), ("view", "click")),
      "the restart must bridge from the checkpointed last event")
  }

  test("streaming windowed top-k: leaderboard state survives checkpoint restart") {
    // Same recovery shape for the TopK typed aggregate: run 2's single
    // event must displace rank 3 of a leaderboard checkpointed by run 1.
    // Lost state would leave user 14 alone in the window.
    import spark.implicits._
    val inDir  = tempDir("graft-topk-in")
    val ckpt   = tempDir("graft-topk-ckpt")
    val outDir = tempDir("graft-topk-out")

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("ts timestamp, event_type string, user_id long, value double")
        .parquet(inDir)
      val q = StreamingPipelines
        .streamingWindowedTopK(stream, watermark = "10 minutes", window_ = "30 minutes", k = 3)
        .writeStream
        .outputMode("complete")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("overwrite").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    def ranks() = spark.read.parquet(outDir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet

    Seq(Ev(ts(1), "click", 10, 5.0), Ev(ts(2), "click", 11, 9.0),
      Ev(ts(3), "click", 12, 7.0), Ev(ts(4), "click", 13, 1.0))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    assert(ranks() === Set(
      ("click", 1L, 11L, 9.0), ("click", 2L, 12L, 7.0), ("click", 3L, 10L, 5.0)))

    Seq(Ev(ts(5), "click", 14, 8.0))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    assert(
      ranks() === Set(
        ("click", 1L, 11L, 9.0), ("click", 2L, 14L, 8.0), ("click", 3L, 12L, 7.0)),
      "restarted instance must re-rank the checkpointed leaderboard, equal to an uninterrupted run"
    )
  }

  test("streaming PII redaction equals the batch transform row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      "mail me at first.last@corp.example.org today",
      "call 555-0199 or 555-12345 from 10.0.0.7",     // 5-digit run: only the first 4 match
      "plain text with no pii at all",
      "a@b.io b@c.net 192.168.001.255"
    )
    val input = MemoryStream[String]
    val q = StreamingPipelines
      .redactPiiStream(input.toDF().withColumnRenamed("value", "text"))
      .writeStream
      .format("memory")
      .queryName("pii_out")
      .outputMode("append")
      .start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("pii_out").as[String].collect().sorted.toSeq
      val batch = docs.toDF("text")
        .select(graft.operators.TextAnalysis.redactPii(org.apache.spark.sql.functions.col("text")))
        .as[String].collect().sorted.toSeq
      assert(streamed === batch, "stateless transform must be batch/stream identical")
      assert(streamed.exists(_.contains("<EMAIL>")) && streamed.exists(_.contains("<PHONE>"))
        && streamed.exists(_.contains("<IP>")))
      assert(!streamed.exists(s => s.contains("@corp") || s.contains("555-0199") || s.contains("10.0.0.7")))
    } finally q.stop()
  }
}
