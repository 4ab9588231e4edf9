package graft.sources

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Drives the graft-events DSv2 source: batch scan, admission-bounded
  * micro-batches (the 500-msg BatchReceivePolicy analogue), restart-resume
  * after the last committed offset (seek semantics), and non-dense offsets.
  */
class EventLogSourceSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  private lazy val logDir: String = {
    val dir = tempDir("graft-log")
    EventLogWriter.materialize(spark, TestSpark.sfDir, dir)
    dir
  }

  private def eventsCount: Long = graft.Tables.events(spark, TestSpark.sfDir).count()

  // the input splits a batch scan plans
  private def plannedSplits(df: org.apache.spark.sql.DataFrame): Seq[EventLogInputPartition] =
    df.queryExecution.sparkPlan
      .collect { case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s.inputPartitions }
      .flatten
      .map(_.asInstanceOf[EventLogInputPartition])

  test("batch scan returns every message across all partitions") {
    val df = spark.read.format(EventLogSource.ShortName).option("path", logDir).load()
    assert(df.count() === eventsCount)
    assert(df.select(col("partition")).distinct().count() === 4)
  }

  test("zero-event partitions still materialize as files: partition set is data-independent") {
    import spark.implicits._
    // all event_ids = 0 (mod 4) -> partitions 1..3 own no events
    val skewed = Seq(0L, 4L, 8L, 12L)
      .map(id => (id, id, "click", 1.0))
      .toDF("event_id", "user_id", "event_type", "value")
    val dir = tempDir("graft-log-skew")
    EventLogWriter.materializeFrom(skewed, dir)
    val parts = EventLogSource.partitionFiles(dir)
    assert(parts.map(_._1) === Seq(0, 1, 2, 3), "empty partitions must not vanish from discovery")
    val df = spark.read.format(EventLogSource.ShortName).option("path", dir).load()
    assert(df.count() === 4)
    assert(df.select(col("partition")).distinct().collect().map(_.getInt(0)).toSeq === Seq(0))
    // no stray temp files left behind by the atomic-rename commit
    val leftovers = new java.io.File(dir).listFiles().map(_.getName).filter(_.contains(".tmp-"))
    assert(leftovers.isEmpty, s"temp files must be renamed or deleted: ${leftovers.toSeq}")
  }

  test("re-materializing with fewer partitions removes the stale higher-numbered files") {
    import spark.implicits._
    def frame(ids: Seq[Long]) =
      ids.map(id => (id, id, "click", 1.0)).toDF("event_id", "user_id", "event_type", "value")
    val dir = tempDir("graft-log-shrink")
    // first materialization: 8 partitions, ids 0..7 land one per partition
    EventLogWriter.materializeFrom(frame(0L to 7L), dir, numPartitions = 8)
    assert(EventLogSource.partitionFiles(dir).map(_._1) === (0 to 7))
    // shrink to 4: partitions 4..7 must disappear, not serve stale events
    EventLogWriter.materializeFrom(frame(Seq(0L, 1L)), dir, numPartitions = 4)
    assert(
      EventLogSource.partitionFiles(dir).map(_._1) === (0 to 3),
      "stale partition files from the wider materialization must be removed")
    val df = spark.read.format(EventLogSource.ShortName).option("path", dir).load()
    assert(df.count() === 2, "reads must see only the fresh events")
  }

  test("S16 extractor seam: by-class-name decode inside the scan, schema from the extractor") {
    val df = spark.read
      .format(EventLogSource.ShortName)
      .option("path", logDir)
      .option(RecordExtractor.OptionKey, "graft.sources.JsonEventExtractor")
      .load()
    assert(df.columns.toSeq === Seq("partition", "offset", "event_id", "user_id", "event_type", "value"),
      "scan schema must be envelope ++ extractor.schema (raw value column gone)")
    assert(df.count() === eventsCount, "stock JSON extractor decodes every well-formed payload")
    // decoded values match the fixture read directly from parquet
    val viaExtractor = df.agg(sum(col("user_id")), countDistinct(col("event_type"))).collect().head
    val direct = graft.Tables.events(spark, TestSpark.sfDir)
      .agg(sum(col("user_id")), countDistinct(col("event_type"))).collect().head
    assert(viaExtractor === direct)
  }

  test("S16 extractor seam: a rejecting extractor drops messages (drop-on-malformed contract)") {
    val df = spark.read
      .format(EventLogSource.ShortName)
      .option("path", logDir)
      .option(RecordExtractor.OptionKey, "graft.sources.OddDroppingExtractor")
      .load()
    val ids = df.select(col("event_id")).collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.forall(_ % 2 == 0), "extractor-rejected messages must vanish from the scan")
  }

  test("column pruning reaches the scan and the extractor (fieldsToRead)") {
    // raw source: selecting one envelope column prunes the others
    val raw = spark.read.format(EventLogSource.ShortName).option("path", logDir).load()
      .select(col("offset"))
    val rawScan = raw.queryExecution.executedPlan.collectLeaves().head.toString
    assert(rawScan.contains("offset") && !rawScan.contains("value"),
      s"raw scan must prune the payload column: $rawScan")
    assert(raw.count() === eventsCount)

    // extractor source: only event_type requested -> scan emits just it,
    // and results stay correct (the extractor may null un-requested fields)
    val decoded = spark.read
      .format(EventLogSource.ShortName)
      .option("path", logDir)
      .option(RecordExtractor.OptionKey, "graft.sources.JsonEventExtractor")
      .load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val scan = decoded.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("event_type") && !scan.contains("user_id") && !scan.contains("event_id"),
      s"pruned extractor scan must carry only the requested field: $scan")
    val viaExtractor = decoded.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val direct = graft.Tables.events(spark, TestSpark.sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(viaExtractor === direct)
  }

  test("envelope filter pushdown: partition filter skips files, offset filter clamps ranges") {
    val df = spark.read.format(EventLogSource.ShortName).option("path", logDir).load()
    // partition equality plans ONE slice (file skip); the split count
    // follows the session's parallelism, not the log's partition count
    val onePart = df.filter(col("partition") === 2)
    assert(plannedSplits(onePart).flatMap(_.slices).map(_.partition) === Seq(2),
      "partition=2 must plan exactly one slice (other log files skipped)")
    val expected = df.collect().count(_.getInt(0) == 2)
    assert(onePart.count() === expected.toLong, "pruning must not change results")

    // offset window: same rows as the post-scan filter, and the residual
    // double-apply keeps it exact at the boundary
    val lo = OffsetCodec.encode(0, 100)
    val hi = OffsetCodec.encode(0, 200)
    val windowed = df.filter(col("offset") > lo && col("offset") <= hi)
    val naive    = df.collect().count(r => r.getLong(1) > lo && r.getLong(1) <= hi)
    assert(windowed.count() === naive.toLong)

    // IN-list partition filter
    val two = df.filter(col("partition").isin(0, 3))
    assert(plannedSplits(two).flatMap(_.slices).map(_.partition).sorted === Seq(0, 3))
    assert(two.count() === df.collect().count(r => Set(0, 3)(r.getInt(0))).toLong)
  }

  test("source-reported statistics: log bytes reach Catalyst, small log auto-broadcasts in a join") {
    import spark.implicits._
    val src = spark.read.format(EventLogSource.ShortName).option("path", logDir).load()
    // stats = sum of partition file bytes (a directory listing, no data read)
    val est = src.queryExecution.optimizedPlan.stats.sizeInBytes
    val actual = EventLogSource.partitionFiles(logDir).map(_._2.length()).sum
    assert(est === BigInt(actual), s"plan stats $est must equal file bytes $actual")
    // a join against the small log must auto-broadcast WITHOUT a hint
    val other = spark.range(0, 4).toDF("partition").withColumn("partition", col("partition").cast("int"))
    val joined = other.join(src, "partition")
    joined.collect() // finalize AQE
    val planText = joined.queryExecution.executedPlan.toString
    assert(planText.contains("BroadcastHashJoin"),
      s"small source side should broadcast from reported stats, got:\n$planText")
  }

  test("dropped-messages custom metric counts extractor rejections per reader") {
    // one split holding all four slices: partition 1 holds event_ids = 1
    // (mod 4), all odd, so every one of its messages is rejected by the
    // odd-dropping extractor; the metric must sum over every slice read
    val files = EventLogSource.partitionFiles(logDir)
    val cls = "graft.sources.OddDroppingExtractor"
    val reader = EventLogReaderFactory.createReader(
      EventLogInputPartition(
        files.map { case (p, f) => EventLogSlice(p, f.getAbsolutePath, -1L, Long.MaxValue) },
        EventLogRead(Some(cls), EventLogSource.schemaFor(Some(cls)).fieldNames.toSeq)
      )
    )
    var kept = 0L
    while (reader.next()) kept += 1
    val total = files.map { case (_, f) => EventLogSource.readLog(f).size.toLong }.sum
    val metric = reader.currentMetricsValues().find(_.name == "droppedMessages").get
    assert(metric.value === total - kept, "every rejection, in every packed slice, must be counted")
    assert(metric.value >= EventLogSource.readLog(files.find(_._1 == 1).get._2).size.toLong,
      "all of partition 1 (odd ids only) must be among the drops")
    reader.close()
  }

  test("at local[4] a 4-partition log plans one split per slice") {
    assert(spark.sparkContext.defaultParallelism === 4)
    val df = spark.read.format(EventLogSource.ShortName).option("path", logDir).load()
    val splits = plannedSplits(df)
    assert(splits.map(_.slices.size) === Seq(1, 1, 1, 1), s"got ${splits.map(_.slices.map(_.partition))}")
    assert(df.rdd.getNumPartitions === 4)
  }

  test("EventLogPushdown.from: bound conversions and intersection semantics") {
    import org.apache.spark.sql.sources._
    val pd = EventLogPushdown.from(Array(
      GreaterThanOrEqual("offset", 100L), // o >= 100 == o > 99
      LessThan("offset", 200L),           // o < 200 == o <= 199
      EqualTo("partition", 1),
      In("partition", Array(1, 2))        // intersects to {1}
    ))
    assert(pd.startExclusive === 99L && pd.endInclusive === 199L)
    assert(pd.partitions === Some(Set(1)))
    assert(pd.keepsPartition(1) && !pd.keepsPartition(2))
    // contradictory partition filters -> empty set, every file skipped
    val none = EventLogPushdown.from(Array(EqualTo("partition", 1), EqualTo("partition", 2)))
    assert(none.partitions === Some(Set.empty[Int]))
    // an unsupported filter contributes nothing and is not claimed as pushed
    val alien = EventLogPushdown.from(Array(StringStartsWith("value", "x")))
    assert(alien.accepted.isEmpty && alien.partitions.isEmpty)
    // Long.MinValue edges must not wrap: >= MinValue is always true (no
    // bound), < MinValue is always false (empty window)
    val geMin = EventLogPushdown.from(Array(GreaterThanOrEqual("offset", Long.MinValue)))
    assert(geMin.startExclusive === -1L && geMin.endInclusive === Long.MaxValue)
    val ltMin = EventLogPushdown.from(Array(LessThan("offset", Long.MinValue)))
    assert(ltMin.endInclusive === -1L)
  }

  test("extractor option key matches case-insensitively; reserved envelope names fail loud") {
    // DSv2 options are case-insensitive: a case-variant key must still
    // select the extractor, never silently fall back to raw bytes
    val df = spark.read
      .format(EventLogSource.ShortName)
      .option("path", logDir)
      .option("RECORDEXTRACTORCLASS", "graft.sources.JsonEventExtractor")
      .load()
    assert(df.columns.contains("event_id"), s"case-variant option ignored: ${df.columns.toSeq}")
    // an extractor whose schema collides with the envelope would be
    // silently shadowed by the reader's projection — must be rejected
    val e = intercept[Exception] {
      spark.read
        .format(EventLogSource.ShortName)
        .option("path", logDir)
        .option(RecordExtractor.OptionKey, "graft.sources.EnvelopeClashExtractor")
        .load()
    }
    assert(e.getMessage.contains("reserved envelope"), e.getMessage)
  }

  test("S16 extractor seam: a bad class name fails at table resolution, not first task") {
    val e = intercept[Exception] {
      spark.read
        .format(EventLogSource.ShortName)
        .option("path", logDir)
        .option(RecordExtractor.OptionKey, "graft.sources.NoSuchExtractor")
        .load()
    }
    assert(e.toString.contains("NoSuchExtractor") || e.getCause != null)
  }

  test("S16 extractor seam: streaming scan decodes through the configured extractor") {
    val dir = tempDir("graft-ext-stream")
    val q = spark.readStream
      .format(EventLogSource.ShortName)
      .option("path", logDir)
      .option(RecordExtractor.OptionKey, "graft.sources.JsonEventExtractor")
      .load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream
      .format("memory")
      .queryName("ext_stream")
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val n = spark.sql("SELECT sum(n) FROM ext_stream").collect().head.getLong(0)
    assert(n === eventsCount)
  }

  // keyed-producer layout: each user_id routes to exactly one partition, the
  // precondition under which per-partition compaction IS the global view
  private lazy val keyedLogDir: String = {
    val dir = tempDir("graft-log-keyed")
    EventLogWriter.materializeFrom(
      graft.Tables.events(spark, TestSpark.sfDir), dir, numPartitions = 4, routeBy = "user_id")
    dir
  }

  // the downstream q_event_compacted semantics on the same facts: global
  // latest event per user_id
  private def globalLatestPerUser: Seq[String] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
    graft.Tables
      .events(spark, TestSpark.sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .orderBy(col("user_id"))
      .collect()
      .map(_.toString)
      .toSeq
  }

  test("readCompacted on a keyed-routed log: batch scan equals q_event_compacted's global latest-per-key") {
    val got = spark.read
      .format(EventLogSource.ShortName)
      .option("path", keyedLogDir)
      .option(RecordExtractor.OptionKey, "graft.sources.JsonEventExtractor")
      .option(EventLogSource.ReadCompactedKey, "true")
      .option(EventLogSource.CompactionKeyFieldKey, "user_id")
      .load()
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .orderBy(col("user_id"))
      .collect()
      .map(_.toString)
      .toSeq
    assert(got === globalLatestPerUser,
      "the source-level compacted view must match the downstream latest-per-key view")
  }

  test("readCompacted: the keyed-producer log read as one split of 4 slices keeps per-partition compaction") {
    val cols = Seq("user_id", "event_id", "event_type", "value")
    val reader = EventLogReaderFactory.createReader(
      EventLogInputPartition(
        EventLogSource.partitionFiles(keyedLogDir).map { case (p, f) =>
          EventLogSlice(p, f.getAbsolutePath, -1L, Long.MaxValue)
        },
        EventLogRead(Some("graft.sources.JsonEventExtractor"), cols, compactKeyField = Some("user_id"))
      )
    )
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    try while (reader.next()) {
      val r = reader.get()
      got += s"[${r.getLong(0)},${r.getLong(1)},${r.getUTF8String(2)},${r.getDouble(3)}]"
    } finally reader.close()
    assert(got.sortBy(_.stripPrefix("[").takeWhile(_ != ',').toLong).toSeq === globalLatestPerUser)
  }

  test("readCompacted raw path (no extractor): JSON key field drives compaction, latest payload survives") {
    val users = graft.Tables.events(spark, TestSpark.sfDir)
      .select(col("user_id")).distinct().count()
    val df = spark.read
      .format(EventLogSource.ShortName)
      .option("path", keyedLogDir)
      .option(EventLogSource.ReadCompactedKey, "true")
      .option(EventLogSource.CompactionKeyFieldKey, "user_id")
      .load()
    assert(df.count() === users, "one surviving raw message per key")
    // surviving payloads are the LATEST per user (max event_id)
    val maxIds = graft.Tables.events(spark, TestSpark.sfDir)
      .groupBy(col("user_id")).agg(max(col("event_id")).as("event_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val decoded = df
      .select(get_json_object(col("value").cast("string"), "$.user_id").cast("long").as("u"),
              get_json_object(col("value").cast("string"), "$.event_id").cast("long").as("e"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(decoded === maxIds)
  }

  test("readCompacted: compaction key decodes even when the query prunes it away") {
    val users = graft.Tables.events(spark, TestSpark.sfDir)
      .select(col("user_id")).distinct().count()
    val n = spark.read
      .format(EventLogSource.ShortName)
      .option("path", keyedLogDir)
      .option(RecordExtractor.OptionKey, "graft.sources.JsonEventExtractor")
      .option(EventLogSource.ReadCompactedKey, "true")
      .option(EventLogSource.CompactionKeyFieldKey, "user_id")
      .load()
      .select(col("event_type")) // user_id pruned out of the projection
      .count()
    assert(n === users, "pruning the key column must not disable compaction")
  }

  test("readCompacted streaming: a single catch-up batch equals the batch compacted view") {
    val ckpt = tempDir("graft-compact-ckpt")
    val q = spark.readStream
      .format(EventLogSource.ShortName)
      .option("path", keyedLogDir)
      .option(RecordExtractor.OptionKey, "graft.sources.JsonEventExtractor")
      .option(EventLogSource.ReadCompactedKey, "true")
      .option(EventLogSource.CompactionKeyFieldKey, "user_id")
      // one admission batch covers the whole log -> the planned range is the
      // full topic and per-batch compaction IS the compacted view
      .option(SourceConfig.MaxMsgsKey, "10000000")
      .load()
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .writeStream
      .format("memory")
      .queryName("compacted_stream")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark
      .sql("SELECT user_id, event_id, event_type, value FROM compacted_stream ORDER BY user_id")
      .collect()
      .map(_.toString)
      .toSeq
    assert(got === globalLatestPerUser)
  }

  test("readCompacted validation fails loud: missing key field, or key not in the extractor schema") {
    val noKey = intercept[Exception] {
      spark.read
        .format(EventLogSource.ShortName)
        .option("path", keyedLogDir)
        .option(EventLogSource.ReadCompactedKey, "true")
        .load()
    }
    assert(noKey.getMessage.contains(EventLogSource.CompactionKeyFieldKey))
    val badField = intercept[Exception] {
      spark.read
        .format(EventLogSource.ShortName)
        .option("path", keyedLogDir)
        .option(RecordExtractor.OptionKey, "graft.sources.JsonEventExtractor")
        .option(EventLogSource.ReadCompactedKey, "true")
        .option(EventLogSource.CompactionKeyFieldKey, "nope")
        .load()
    }
    assert(badField.getMessage.contains("nope"))
    // a key field WITHOUT readCompacted is a misconfiguration, not a no-op:
    // serving the full log to a user who asked for a compacted view is the
    // silent-disable failure the config-time validation exists to prevent
    val orphanKey = intercept[Exception] {
      spark.read
        .format(EventLogSource.ShortName)
        .option("path", keyedLogDir)
        .option(EventLogSource.CompactionKeyFieldKey, "user_id")
        .load()
    }
    assert(orphanKey.getMessage.contains(EventLogSource.ReadCompactedKey))
  }

  test("readCompacted raw path fails loud on a typo'd key field (zero keyed messages in a non-empty slice)") {
    // the raw path has no extractor schema to validate against, so the
    // typo can only surface from data: every payload parses but the field
    // is absent -> all rows unkeyed -> without the guard the full log is
    // served uncompacted, silently
    val ex = intercept[Exception] {
      spark.read
        .format(EventLogSource.ShortName)
        .option("path", keyedLogDir)
        .option(EventLogSource.ReadCompactedKey, "true")
        .option(EventLogSource.CompactionKeyFieldKey, "user_idd")
        .load()
        .count()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("user_idd"), s"the mistyped field must be named: $msgs")
    assert(msgs.contains("matched no message"), msgs)
  }

  test("compaction.validateKeyField=false serves a zero-keyed slice uncompacted without error") {
    // the legitimate zero-keyed states (backfill of history predating the
    // key field, all-malformed slices) are indistinguishable from a typo;
    // the opt-out must serve the data instead of wedging the job
    val uncompacted = spark.read
      .format(EventLogSource.ShortName)
      .option("path", keyedLogDir)
      .load()
      .count()
    val optedOut = spark.read
      .format(EventLogSource.ShortName)
      .option("path", keyedLogDir)
      .option(EventLogSource.ReadCompactedKey, "true")
      .option(EventLogSource.CompactionKeyFieldKey, "user_idd")
      .option(EventLogSource.CompactionValidateKey, "false")
      .load()
      .count()
    assert(optedOut === uncompacted, "every row is unkeyed -> retained as-is")
  }

  test("compaction.validateKeyField with an extractor fails loud (schema-validated at config time)") {
    // the extractor path never runs the data-side heuristic, so accepting
    // the option would be a silent no-op — the misconfiguration class this
    // source always rejects
    val ex = intercept[Exception] {
      spark.read
        .format(EventLogSource.ShortName)
        .option("path", keyedLogDir)
        .option(RecordExtractor.OptionKey, "graft.sources.JsonEventExtractor")
        .option(EventLogSource.ReadCompactedKey, "true")
        .option(EventLogSource.CompactionKeyFieldKey, "user_id")
        .option(EventLogSource.CompactionValidateKey, "false")
        .load()
        .count()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("schema-validated at config time"), msgs)
  }

  test("compaction.validateKeyField without readCompacted fails loud (orphan option)") {
    val ex = intercept[Exception] {
      spark.read
        .format(EventLogSource.ShortName)
        .option("path", keyedLogDir)
        .option(EventLogSource.CompactionValidateKey, "false")
        .load()
        .count()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains(EventLogSource.CompactionValidateKey), msgs)
  }

  test("offsets are OffsetCodec-encoded and non-dense across ledgers") {
    val df = spark.read.format(EventLogSource.ShortName).option("path", logDir).load()
    val offsets = df.select(col("offset")).collect().map(_.getLong(0))
    // ledger rollover at event_id 1000: offset jumps from (0,999) to (1,0)
    val decoded = offsets.map(OffsetCodec.decode)
    assert(decoded.forall { case (_, e) => e < 1000 })
    if (eventsCount > 1000) {
      assert(offsets.contains(OffsetCodec.encode(1, 0)))
      assert(!offsets.contains(OffsetCodec.encode(0, 999) + 1) || OffsetCodec.encode(1, 0) != OffsetCodec.encode(0, 999) + 1)
    }
  }

  test("streaming drains in admission-bounded micro-batches (maxMsgs)") {
    val out = tempDir("graft-src-out")
    val ckpt = tempDir("graft-src-ckpt")
    val q = spark.readStream
      .format(EventLogSource.ShortName)
      .option("path", logDir)
      .option(SourceConfig.MaxMsgsKey, "100")
      .load()
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(out).count() === eventsCount)
    // 1000 events / (100 msgs x 4 partitions per trigger) => at least 3 batches
    val batches = Option(new java.io.File(ckpt, "commits").list())
      .getOrElse(Array.empty[String]).count(!_.startsWith("."))
    assert(batches >= 3, s"expected multiple admission-bounded batches, got $batches")
  }

  test("restart resumes exactly after the last committed offset (seek)") {
    val dir  = tempDir("graft-log2")
    EventLogWriter.materialize(spark, TestSpark.sfDir, dir)
    val out  = tempDir("graft-out2")
    val ckpt = tempDir("graft-ckpt2")

    def drain(): Unit = {
      val q = spark.readStream
        .format(EventLogSource.ShortName)
        .option("path", dir)
        .load()
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }

    drain()
    val n1 = spark.read.parquet(out).count()
    assert(n1 === eventsCount)

    // broker receives two more messages on partition 0 (next ledger space)
    val f = new java.io.FileWriter(new java.io.File(dir, "partition-0.log"), true)
    try {
      f.write(s"${OffsetCodec.encode(99, 0)}\t" + """{"event_id": 90000, "user_id": 1, "event_type": "late", "value": 1.5}""" + "\n")
      f.write(s"${OffsetCodec.encode(99, 1)}\t" + """{"event_id": 90001, "user_id": 2, "event_type": "late", "value": 2.5}""" + "\n")
    } finally f.close()

    drain()
    val after = spark.read.parquet(out)
    assert(after.count() === eventsCount + 2, "restart must process exactly the appended messages")
  }

  test("full reference pipeline: source -> decode -> agg matches direct parquet query") {
    import graft.operators.SourceQueries
    val viaSource = SourceQueries.defs.head
      .build(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toMap
    val direct = graft.Tables
      .events(spark, TestSpark.sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toMap
    assert(viaSource === direct)
  }

  test("full streaming slice: readStream source -> decode -> watermark -> windowed agg -> sink (SURVEY §7.3)") {
    import org.apache.spark.sql.types._
    val schema = StructType(
      Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)
      )
    )
    val out  = tempDir("graft-slice-out")
    val ckpt = tempDir("graft-slice-ckpt")
    val stream = spark.readStream
      .format(EventLogSource.ShortName)
      .option("path", logDir)
      .load()
    val decoded = JsonDecode
      .decode(stream, "value", schema, Seq("event_type", "value"), Seq("offset"))
      // the log's payloads carry no ts; window on a synthetic event-time
      // derived from the offset so watermarking is exercised
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds(
        org.apache.spark.sql.functions.lit(1700000000L) + org.apache.spark.sql.functions.col("offset") % 100000
      ))
    val agg = graft.streaming.StreamingPipelines
      .windowedCounts(decoded, watermark = "10 minutes", window_ = "1 hour")
    val q = agg.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // append mode only emits watermark-closed windows; the count of emitted
    // rows is not asserted, only that the full pipeline planned and ran
    // incrementally and committed through the checkpoint
    assert(Option(new java.io.File(ckpt, "commits").list())
      .getOrElse(Array.empty[String]).exists(!_.startsWith(".")), "stream never committed a batch")
  }

  test("missing topic path fails loudly (S17/S20: never swallow to 0/null)") {
    val ex = intercept[Exception] {
      spark.read.format(EventLogSource.ShortName).load()
    }
    assert(ex.getMessage.contains("path"))
  }

  test("sink format roundtrips: events subset through json and csv") {
    val src = graft.Tables
      .events(spark, TestSpark.sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
      .limit(100)
    val jsonDir = tempDir("graft-json")
    val csvDir  = tempDir("graft-csv")
    src.write.mode("overwrite").json(jsonDir)
    src.write.mode("overwrite").option("header", "true").csv(csvDir)
    val viaJson = spark.read.json(jsonDir).count()
    val viaCsv  = spark.read.option("header", "true").csv(csvDir).count()
    assert(viaJson === 100 && viaCsv === 100)
  }

  test("malformed payloads in the log are dropped, not failed") {
    val dir = tempDir("graft-log3")
    val f = new java.io.PrintWriter(new java.io.File(dir, "partition-0.log"), "UTF-8")
    f.println(s"${OffsetCodec.encode(0, 0)}\t" + """{"event_id": 1, "user_id": 1, "event_type": "a", "value": 1.0}""")
    f.println(s"${OffsetCodec.encode(0, 1)}\tgarbage payload not json")
    f.println(s"${OffsetCodec.encode(0, 2)}\t" + """{"event_id": 3, "user_id": 3, "event_type": "c", "value": 3.0}""")
    f.close()
    val decoded = JsonDecode.decode(
      spark.read.format(EventLogSource.ShortName).option("path", dir).load(),
      "value",
      org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType))
      ),
      Seq("event_id"),
      Seq("offset")
    )
    assert(decoded.collect().map(_.getLong(1)).sorted.toSeq === Seq(1L, 3L))
  }

  test("corrupt log lines (no tab separator / non-numeric offset) are dropped, not thrown") {
    val dir = tempDir("graft-log4")
    val f = new java.io.PrintWriter(new java.io.File(dir, "partition-0.log"), "UTF-8")
    f.println(s"${OffsetCodec.encode(0, 0)}\tpayload-a")
    f.println("a line with no separator at all")
    f.println(s"not-a-number\tpayload-x")
    f.println(s"${OffsetCodec.encode(0, 1)}\tpayload-b")
    f.close()
    val rows = spark.read
      .format(EventLogSource.ShortName)
      .option("path", dir)
      .load()
      .collect()
    assert(rows.length === 2, "only well-formed offset\\tpayload lines survive")
    assert(rows.map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8")).sorted.toSeq === Seq("payload-a", "payload-b"))
  }
}

/** Custom user extractor for the S16 by-class-name seam test: decodes the
  * standard JSON payload but REJECTS odd event_ids — stands in for a
  * malformed-heavy feed, proving extractor-level drops vanish from the scan.
  */
class OddDroppingExtractor extends RecordExtractor {
  private val inner = new JsonEventExtractor
  override val schema = inner.schema
  override def init(fieldsToRead: Seq[String]): Unit =
    // the drop rule reads event_id even when the query doesn't
    inner.init((fieldsToRead :+ "event_id").distinct)
  override def extract(payload: Array[Byte]): Option[org.apache.spark.sql.Row] =
    inner.extract(payload).filter(r => r.getLong(0) % 2 == 0)
}

/** Deliberately-invalid extractor: declares a field named like the
  * envelope's `offset` — the table must reject it at resolution.
  */
class EnvelopeClashExtractor extends RecordExtractor {
  override val schema = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("offset", org.apache.spark.sql.types.StringType)))
  override def extract(payload: Array[Byte]): Option[org.apache.spark.sql.Row] = None
}
