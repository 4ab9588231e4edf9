package graft.streaming

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Streaming SCD2: per-batch incremental history folds, published table
  * bit-identical to the batch `scd2History` on the union of landed
  * observations, restart continuity, boundary collapse across batch
  * edges, and the fail-fast ordering contract.
  */
class StreamingScd2Spec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  /** Fixture events sorted by event time, split into `k` contiguous
    * time-ordered slices at DISTINCT-ts boundaries (a shared boundary ts
    * would make cross-batch (ts, type, id) ordering ambiguous, which the
    * fold rejects by design).
    */
  private def slices(k: Int): Seq[Seq[(Long, java.sql.Timestamp, Long, String)]] = {
    val rows = graft.Tables
      .events(spark, TestSpark.sfDir)
      .select("user_id", "ts", "event_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._2.getTime, r._4, r._3))
    val per = rows.length / k
    val cuts = (1 until k).map { i =>
      var c = i * per
      while (c < rows.length - 1 && rows(c)._2.getTime == rows(c - 1)._2.getTime) c += 1
      c
    }
    (Seq(0) ++ cuts :+ rows.length).sliding(2).map { case Seq(a, b) => rows.slice(a, b).toSeq }.toSeq
  }

  private def histRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("streamed history == batch scd2History on the union, across folds and a restart") {
    val dir     = tempDir("streaming-scd2")
    val landing = s"$dir/landing"
    val scd     = s"$dir/scd"
    import spark.implicits._
    val Seq(b1, b2, b3) = slices(3)

    b1.toDF("user_id", "ts", "event_id", "event_type")
      .coalesce(1).write.mode("append").parquet(landing)
    val q1 = StreamingScd2.ingest(spark, landing, scd, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try {
      q1.processAllAvailable()
      assert(StreamingScd2.currentVersion(spark, scd) === Some(1))
      // v=1 equals the batch build over batch-1 rows alone
      assert(
        histRows(StreamingScd2.history(spark, scd)) ===
          histRows(graft.operators.Relational2.scd2History(
            b1.toDF("user_id", "ts", "event_id", "event_type"))),
        "v=1 equals the batch derivation on the first slice")
      b2.toDF("user_id", "ts", "event_id", "event_type")
        .coalesce(1).write.mode("append").parquet(landing)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(StreamingScd2.currentVersion(spark, scd) === Some(2))

    // restart from the same checkpoint; the third slice folds on top
    b3.toDF("user_id", "ts", "event_id", "event_type")
      .coalesce(1).write.mode("append").parquet(landing)
    val q2 = StreamingScd2.ingest(spark, landing, scd, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try q2.processAllAvailable()
    finally q2.stop()
    assert(StreamingScd2.currentVersion(spark, scd) === Some(3))

    val union = (b1 ++ b2 ++ b3).toDF("user_id", "ts", "event_id", "event_type")
    assert(
      histRows(StreamingScd2.history(spark, scd)) ===
        histRows(graft.operators.Relational2.scd2History(union)),
      "post-restart history must equal the batch scd2History on the union")
    // fold-input accounting exists for every batch (the O(|hist|+|batch|)
    // bound is observable, not asserted)
    (0 to 2).foreach { b =>
      assert(new java.io.File(s"$scd/stats/batch_id=$b").exists, s"stats for batch $b")
    }
  }

  test("boundary collapse: a cross-batch no-change observation extends the open version") {
    val dir     = tempDir("streaming-scd2-boundary")
    val landing = s"$dir/landing"
    val scd     = s"$dir/scd"
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // batch 1: user 1 A (open version 1); batch 2 starts with the SAME
    // status A (must extend version 1, not open version 2), then B
    val b1 = Seq((1L, ts(100), 10L, "A"))
    val b2 = Seq((1L, ts(200), 11L, "A"), (1L, ts(300), 12L, "B"))
    b1.toDF("user_id", "ts", "event_id", "event_type").coalesce(1).write.mode("append").parquet(landing)
    val q = StreamingScd2.ingest(spark, landing, scd, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try {
      q.processAllAvailable()
      b2.toDF("user_id", "ts", "event_id", "event_type").coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
    } finally q.stop()
    val got = StreamingScd2
      .history(spark, scd)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(r => (r._1, r._2))
    assert(got.toSeq === Seq(
      (1L, 1L, "A", 100L, 300L, 0L),
      (1L, 2L, "B", 300L, 9999999999L, 1L)
    ), s"the batch-2 'A' must extend version 1: ${got.toSeq}")
  }

  private def statsJson(scd: String, batchId: Long): String =
    new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$scd/stats/batch_id=$batchId")),
      "UTF-8")

  test("late-data recovery: a late batch re-derives only the affected keys and stays batch-identical") {
    val dir     = tempDir("streaming-scd2-late")
    val landing = s"$dir/landing"
    val scd     = s"$dir/scd"
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // batch 1: user 1 A@100, B@500; user 3 A@400 (in-order seed)
    val b1 = Seq((1L, ts(100), 10L, "A"), (1L, ts(500), 11L, "B"), (3L, ts(400), 12L, "A"))
    // batch 2 is LATE for users 1 and 2 (ts <= watermark 500) while user 3
    // folds in-order: user 1 gets a mid-interval C@300 (splits the closed
    // A version — the case an incremental fold cannot express), user 2 is
    // a NEW key arriving entirely in the past, user 3 continues at 600
    val b2 = Seq((1L, ts(300), 20L, "C"), (2L, ts(200), 21L, "B"), (3L, ts(600), 22L, "B"))
    b1.toDF("user_id", "ts", "event_id", "event_type")
      .coalesce(1).write.mode("append").parquet(landing)
    val q = StreamingScd2.ingest(spark, landing, scd, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try {
      q.processAllAvailable()
      b2.toDF("user_id", "ts", "event_id", "event_type")
        .coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
    } finally q.stop()
    val union = (b1 ++ b2).toDF("user_id", "ts", "event_id", "event_type")
    assert(
      histRows(StreamingScd2.history(spark, scd)) ===
        histRows(graft.operators.Relational2.scd2History(union)),
      "the spliced history must equal the batch scd2History on the union")
    // the slow path is observable: exactly users {1, 2} re-derived
    val s1 = statsJson(scd, 1)
    assert(s1.contains("\"n_late_keys\":2"), s"batch 1 stats must record 2 late keys: $s1")
    assert(s1.contains("\"n_respliced_rows\":4"), s"users 1+2 re-derive to 4 history rows (A,C,B / B): $s1")
    // …and the in-order fold before it never took it
    val s0 = statsJson(scd, 0)
    assert(s0.contains("\"n_late_keys\":0") && s0.contains("\"n_respliced_rows\":0"),
      s"the in-order fold must record a zero late path: $s0")
  }

  test("replay safety: re-executing a published batch after a lost checkpoint commit is a no-op") {
    val dir     = tempDir("streaming-scd2-replay")
    val landing = s"$dir/landing"
    val scd     = s"$dir/scd"
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    Seq((1L, ts(100), 10L, "A"), (1L, ts(200), 11L, "B"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .coalesce(1).write.mode("append").parquet(landing)
    val q1 = StreamingScd2.ingest(spark, landing, scd, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try q1.processAllAvailable()
    finally q1.stop()
    assert(StreamingScd2.currentVersion(spark, scd) === Some(1))
    val before = histRows(StreamingScd2.history(spark, scd))
    // simulate the crash window AFTER publish but BEFORE the checkpoint
    // commit: drop the commit marker so the restarted stream re-executes
    // batch 0 (the r17 fold threw its own watermark back at itself here
    // and wedged the stream permanently)
    val commit = new java.io.File(s"$dir/ckpt/commits/0")
    assert(commit.exists, "precondition: batch 0 committed")
    assert(commit.delete())
    // the local checksum FS shadows every file with a .crc — drop it too
    // or the replayed commit write fails on the stale checksum
    val crc = new java.io.File(s"$dir/ckpt/commits/.0.crc")
    if (crc.exists) assert(crc.delete())
    val q2 = StreamingScd2.ingest(spark, landing, scd, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try q2.processAllAvailable()
    finally q2.stop()
    assert(StreamingScd2.currentVersion(spark, scd) === Some(1),
      "the replayed batch must skip as a no-op, not republish")
    assert(histRows(StreamingScd2.history(spark, scd)) === before,
      "the history must be untouched by the replay")
  }

  test("generic schema: a (device_id, seen, seq, state) stream runs the same fold") {
    val dir     = tempDir("streaming-scd2-generic")
    val landing = s"$dir/landing"
    val scd     = s"$dir/scd"
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val cols = graft.operators.Relational2.Scd2Cols("device_id", "seen", "seq", "state")
    val ddl  = "device_id STRING, seen TIMESTAMP, seq BIGINT, state STRING"
    val b1 = Seq(("dev-a", ts(100), 1L, "up"), ("dev-a", ts(200), 2L, "up"), ("dev-b", ts(150), 3L, "down"))
    val b2 = Seq(("dev-a", ts(300), 4L, "down"), ("dev-b", ts(250), 5L, "down"), ("dev-b", ts(400), 6L, "up"))
    b1.toDF("device_id", "seen", "seq", "state").coalesce(1).write.mode("append").parquet(landing)
    val q = StreamingScd2.ingest(spark, landing, scd, s"$dir/ckpt", maxFilesPerTrigger = Some(1),
      schemaDdl = ddl, cols = cols)
    try {
      q.processAllAvailable()
      b2.toDF("device_id", "seen", "seq", "state").coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
    } finally q.stop()
    val union = (b1 ++ b2).toDF("device_id", "seen", "seq", "state")
    assert(
      histRows(StreamingScd2.history(spark, scd)) ===
        histRows(graft.operators.Relational2.scd2History(union, cols)),
      "the generic-schema stream must equal the generic batch derivation on the union")
    // the string-keyed history carries the caller's key column name
    assert(StreamingScd2.history(spark, scd).columns.head === "device_id")
  }

  test("Scd2Cols colliding with the fold's reserved names fail fast, not mid-fold") {
    import graft.operators.Relational2
    import spark.implicits._
    val obs = Seq((1L, new java.sql.Timestamp(1000L), 1L, "a"))
      .toDF("k", "t", "i", "status")
    // a status column literally named 'status' would self-compare in the
    // boundary-collapse join; the validator rejects it up front
    val eStatus = intercept[IllegalArgumentException] {
      Relational2.scd2History(obs, Relational2.Scd2Cols("k", "t", "i", "status"))
    }
    assert(eStatus.getMessage.contains("reserved"))
    // every reserved OUTPUT name is rejected in any position
    for (bad <- Seq("version", "valid_from", "valid_to", "is_current")) {
      intercept[IllegalArgumentException] {
        Relational2.scd2History(obs, Relational2.Scd2Cols(key = bad, "t", "i", "s"))
      }
    }
    // repeated column names are rejected too (a key doubling as the tiebreak
    // would silently change the ordering semantics)
    val eDup = intercept[IllegalArgumentException] {
      Relational2.scd2History(obs, Relational2.Scd2Cols("k", "t", "k", "s"))
    }
    assert(eDup.getMessage.contains("distinct"))
    // the streaming twin validates at ingest() time, before any batch lands
    val dir = tempDir("scd2-validate")
    intercept[IllegalArgumentException] {
      StreamingScd2.ingest(spark, s"$dir/landing", s"$dir/scd", s"$dir/ckpt",
        schemaDdl = "k STRING, t TIMESTAMP, i BIGINT, version STRING",
        cols = Relational2.Scd2Cols("k", "t", "i", "version"))
    }
  }
}
