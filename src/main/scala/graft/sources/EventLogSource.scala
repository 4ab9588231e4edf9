package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-events`: a DataSource V2 micro-batch source that rebuilds the
  * reference plugin's ingestion surface (SURVEY §2.1 S1-S21) idiomatically on
  * Structured Streaming.
  *
  * The backing "topic" is a directory of per-partition append-only log files
  * (`partition-N.log`, lines `<offset>\t<payload>`) — the file-backed stand-in
  * for a Pulsar topic in this zero-egress environment ([[EventLogWriter]]
  * materializes one from the fixtures). Every structural element of the
  * reference maps onto the DSv2 seam:
  *
  *   - one [[EventLogSlice]] per topic partition, read by its own consumer
  *     in offset order — the per-partition exclusive consumer
  *     (`PulsarConsumerFactory.java:35-42`, S17). Slices are packed into
  *     Spark input splits by Spark's own file-split policy
  *     ([[EventLogSplits]]), so a scan runs about one task per core, not one
  *     per topic partition;
  *   - checkpointed `(partition -> long offset)` map [[EventLogOffset]] using
  *     [[OffsetCodec]]'s non-dense longs — `LongMsgOffset` flattening
  *     (`MessageIdUtils.java:25-43`, S9/S10); offsets are matched by range
  *     filtering, never by `+1` arithmetic, so ledger-rollover gaps are safe;
  *   - admission control caps each micro-batch at `consumer.maxMsgs` /
  *     `consumer.maxBytes` per partition per trigger — the reference's
  *     `BatchReceivePolicy` backpressure (S7, `PulsarPartitionLevelConsumer
  *     .java:69-73`);
  *   - `initialOffset` = earliest — `startOffset == -1 -> MessageId.earliest`
  *     (S3/S18, `PulsarPartitionLevelConsumer.java:123`);
  *   - `commit(end)` is a no-op cleanup hook — correctness rides on the
  *     checkpoint WAL exactly as the reference rides on offsets, with
  *     best-effort acks (S6, `PulsarPartitionLevelConsumer.java:153-162`);
  *   - "seek" is implicit: each batch is planned from the checkpointed start,
  *     so a restarted query resumes precisely after the last committed offset
  *     (S3's contiguity check, `PulsarPartitionLevelConsumer.java:112-121`);
  *   - the reference's bounded-read rejection (S4) is deliberately NOT
  *     ported: micro-batches are bounded reads by construction.
  *
  * JSON decode (S13-S16) stays a separate downstream layer ([[JsonDecode]]),
  * mirroring the consumer/decoder split of the reference — OR plugs into
  * the scan itself via the config-driven [[RecordExtractor]] seam
  * (`.option("recordExtractorClass", <fqcn>)`), the S16 by-class-name
  * decoder selection (`PulsarJSONMessageDecoder.java:50-57`).
  *
  * Scale: against a real broker the driver-side file scans in
  * `latestOffset`/`initialOffset` become metadata RPCs (partition discovery,
  * `getLastMessageId`) and each reader an exclusive consumer; rows never pass
  * through the driver.
  */
object EventLogSource {
  val ShortName = "graft-events"

  /** `.option("readCompacted", "true")` — the reference subscribes with
    * `readCompacted(true)` at consumer build time
    * (`PulsarPartitionLevelConsumer.java:68`); here the scan itself plans
    * the latest-per-key view. Compaction is PER PARTITION, exactly like a
    * broker (a keyed producer routes each key to one partition, so
    * per-partition latest IS topic latest for that key); the message-key
    * stand-in is a named payload/extractor field (`compaction.keyField`),
    * since the file-backed log has no key envelope. Messages without a
    * parseable key are retained as-is — Pulsar compaction only compacts
    * keyed messages. Retained messages keep their original positions
    * (offset order), and the per-reader compaction state is O(distinct
    * keys in the partition) — the same bound as the broker's compaction
    * ledger. On the streaming path each planned range is compacted the
    * same way: a Trigger.AvailableNow catch-up in one admission batch sees
    * the fully compacted view, and rows past the compaction horizon arrive
    * as-is, matching a broker read that crosses the horizon. Admission
    * caps count raw (pre-compaction) messages, as a broker backlog does.
    */
  val ReadCompactedKey = "readCompacted"

  /** Payload/extractor field acting as the message key for compaction. */
  val CompactionKeyFieldKey = "compaction.keyField"

  /** Raw-path data validation of the key field (default true): fail loud
    * when a non-empty slice yields ZERO keyed messages — overwhelmingly a
    * typo'd field name being silently ignored. Set false for the
    * legitimate zero-keyed states the heuristic cannot distinguish: a
    * backfill read of history predating the key field (schema evolution),
    * or a slice of retained-but-unparseable payloads.
    */
  val CompactionValidateKey = "compaction.validateKeyField"

  val schema: StructType = StructType(
    Seq(
      StructField("partition", IntegerType, nullable = false),
      StructField("offset", LongType, nullable = false),
      StructField("value", BinaryType, nullable = false)
    )
  )

  /** Scan schema: the raw envelope+bytes by default; with a configured
    * extractor (S16), the envelope plus the extractor's declared fields —
    * the raw `value` column disappears because decode happened in-scan.
    */
  def schemaFor(extractorClass: Option[String]): StructType =
    extractorClass match {
      case None => schema
      case Some(cls) =>
        StructType(
          Seq(
            StructField("partition", IntegerType, nullable = false),
            StructField("offset", LongType, nullable = false)
          ) ++ RecordExtractor.instantiate(cls).schema.fields
        )
    }

  def partitionFiles(dir: String): Seq[(Int, java.io.File)] = {
    val d = new java.io.File(dir)
    val fs = Option(d.listFiles()).getOrElse(Array.empty)
    fs.toSeq
      .filter(f => f.getName.startsWith("partition-") && f.getName.endsWith(".log"))
      .map(f => f.getName.stripPrefix("partition-").stripSuffix(".log").toInt -> f)
      .sortBy(_._1)
  }

  /** Read one partition log: (offset, payload) in file (= offset) order.
    * Materializes the whole file — planning-side use (offset resolution,
    * stats) on bounded prefixes. The READER path streams via
    * [[readLogStream]] instead.
    */
  def readLog(file: java.io.File): Seq[(Long, Array[Byte])] =
    withLogSource(file)(_.map(l => (l.offset, l.payload)).toList)

  /** Streaming read of the slice `start < offset <= end`: one line in
    * memory at a time, so reader memory really is the documented
    * O(distinct-keys) bound on compacted scans (a `.toList` here would
    * silently make every reader O(slice) however careful the downstream
    * state is). The open Source is handed to `onOpen` — the PartitionReader
    * tracks and closes it in `close()` (iterator exhaustion alone must not
    * close: compaction's second pass may still be pending on another
    * handle).
    */
  def readLogStream(
      file: java.io.File,
      start: Long,
      end: Long,
      onOpen: scala.io.Source => Unit
  ): Iterator[(Long, Array[Byte])] = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    onOpen(src)
    sliceLines(parseLines(src.getLines()), start, end).map(l => (l.offset, l.payload))
  }

  private[sources] def withLogSource[A](file: java.io.File)(f: Iterator[LogLine] => A): A = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try f(parseLines(src.getLines()))
    finally src.close()
  }

  /** One log line with its offset parsed; the payload bytes are decoded
    * only on demand, so lines a read skips or never reaches cost no copy.
    */
  private[sources] final class LogLine(val offset: Long, line: String, tab: Int) {
    def payload: Array[Byte] = line.substring(tab + 1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  private[sources] def parseLines(lines: Iterator[String]): Iterator[LogLine] =
    lines.flatMap { line =>
      // a corrupt line without the offset\tpayload separator (or with a
      // non-numeric offset) is dropped, consistent with the pipeline's
      // drop-on-malformed posture (the payload-level equivalent lives
      // downstream in JsonDecode)
      val i = line.indexOf('\t')
      if (i < 0) None
      else
        try Some(new LogLine(java.lang.Long.parseLong(line, 0, i, 10), line, i))
        catch { case _: NumberFormatException => None }
    }

  /** The lines with `start < offset <= end`. Offsets never decrease within a
    * partition file ([[EventLogWriter]] sorts them; a broker's partition is
    * ordered the same way), so the read stops at the first offset past
    * `end`, and every line sharing the offset `end` (a producer batch) is
    * inside the slice.
    */
  private[sources] def sliceLines(lines: Iterator[LogLine], start: Long, end: Long): Iterator[LogLine] =
    lines.filter(_.offset > start).takeWhile(_.offset <= end)
}

/** Checkpointed offsets: highest consumed offset per partition (-1 = none,
  * the reference's earliest sentinel). JSON form: {"0":123,"1":456}.
  */
case class EventLogOffset(partitionOffsets: Map[Int, Long]) extends Offset {
  override def json(): String =
    partitionOffsets.toSeq.sorted
      .map { case (p, o) => s""""$p":$o""" }
      .mkString("{", ",", "}")
}

object EventLogOffset {
  def fromJson(s: String): EventLogOffset = EventLogOffset(
    s.trim.stripPrefix("{").stripSuffix("}").split(",").filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split(":")
      k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
    }.toMap
  )
}

class EventLogDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = EventLogSource.ShortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EventLogSource.schemaFor(Option(options.get(RecordExtractor.OptionKey)))
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = new EventLogTable(properties.asScala.toMap)
}

class EventLogTable(options: Map[String, String]) extends Table with SupportsRead {
  private val path = options.getOrElse("path", throw new IllegalArgumentException("path is required"))
  // reference config keys honored with reference defaults (S21)
  private val config = SourceConfig.fromMap(
    options + (SourceConfig.BrokerListKey -> options.getOrElse(SourceConfig.BrokerListKey, path))
  )
  // S16: config-driven decode hook, loaded by class name at CONFIG time —
  // a bad class name fails table resolution, not the first task. DSv2
  // options are case-insensitive; getTable receives the case-preserving
  // map, so match the key case-insensitively (a case-variant key must
  // select the extractor, never silently fall back to raw bytes).
  private val extractorClass: Option[String] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase(RecordExtractor.OptionKey) => v }
  extractorClass.foreach { cls =>
    val ext = RecordExtractor.instantiate(cls)
    // envelope names are reserved: a colliding extractor field would be
    // silently shadowed by the reader's envelope projection — fail loud here
    val clash = ext.schema.fieldNames.map(_.toLowerCase).toSet
      .intersect(Set("partition", "offset"))
    require(clash.isEmpty,
      s"extractor $cls declares reserved envelope field name(s): ${clash.mkString(", ")}")
  }

  // S7 readCompacted: resolved at CONFIG time, fail-loud like the extractor
  // seam — a typo'd key field must never silently disable compaction.
  private val readCompacted: Boolean =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase(EventLogSource.ReadCompactedKey) => v }
      .map(_.trim.toLowerCase)
      .map {
        case "true"  => true
        case "false" => false
        case other =>
          throw new IllegalArgumentException(
            s"${EventLogSource.ReadCompactedKey} must be true/false, got '$other'")
      }
      .getOrElse(false)
  private val compactionKey: Option[String] = {
    val kf = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase(EventLogSource.CompactionKeyFieldKey) => v
    }
    if (!readCompacted) {
      // a key field without readCompacted=true is a misconfiguration, not
      // a no-op: the user expected a compacted view and would silently get
      // the full log — the same silent-disable failure the class rejects
      require(kf.isEmpty,
        s"${EventLogSource.CompactionKeyFieldKey} is set but ${EventLogSource.ReadCompactedKey} is not true")
      None
    } else {
      val f = kf.getOrElse(throw new IllegalArgumentException(
        s"${EventLogSource.ReadCompactedKey}=true requires ${EventLogSource.CompactionKeyFieldKey} " +
          "(the payload/extractor field acting as the message key)"))
      extractorClass.foreach { cls =>
        val fields = RecordExtractor.instantiate(cls).schema.fieldNames
        require(fields.contains(f),
          s"${EventLogSource.CompactionKeyFieldKey} '$f' is not a field of extractor $cls")
      }
      Some(f)
    }
  }
  private val compactionValidate: Boolean = {
    val v = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase(EventLogSource.CompactionValidateKey) => v
    }
    if (compactionKey.isEmpty) {
      require(v.isEmpty,
        s"${EventLogSource.CompactionValidateKey} is set but readCompacted is not configured")
      true
    } else if (extractorClass.isDefined) {
      // the extractor path validates the key field against the DECLARED
      // SCHEMA at config time (above) — the data-side heuristic never
      // runs there, so accepting this option would be the exact
      // silent-no-op misconfiguration the orphan check rejects
      require(v.isEmpty,
        s"${EventLogSource.CompactionValidateKey} has no effect with a recordExtractorClass: " +
          "the key field is schema-validated at config time")
      true
    } else v.map(_.trim.toLowerCase).map {
      case "true"  => true
      case "false" => false
      case other =>
        throw new IllegalArgumentException(
          s"${EventLogSource.CompactionValidateKey} must be true/false, got '$other'")
    }.getOrElse(true)
  }

  override def name(): String = s"${EventLogSource.ShortName}:$path"
  override def schema(): StructType = EventLogSource.schemaFor(extractorClass)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with Scan
      with SupportsPushDownRequiredColumns
      with SupportsPushDownFilters
      with SupportsReportStatistics {
      // Column pruning reaches the DECODER: Catalyst hands the scan the
      // required subset, the reader emits only those columns, and the
      // extractor is initialized with the pruned field names — the
      // reference's `extractor.init(fieldsToRead)` contract
      // (PulsarJSONMessageDecoder.java:57-58) realized as DSv2 pushdown.
      private var required: StructType = EventLogSource.schemaFor(extractorClass)
      override def pruneColumns(requiredSchema: StructType): Unit =
        // Spark only ever asks for a subset of what inferSchema declared;
        // an empty prune (count-only scans) is legal and yields 0-col rows
        required = requiredSchema

      // Envelope-filter pushdown: partition equality/IN skips whole log
      // files (the broker analogue: subscribe to fewer partitions) and
      // offset comparisons clamp each reader's range (batch-mode "seek",
      // S3). ADVISORY-BUT-EXACT: every filter is also returned as residual
      // so Spark re-applies it post-scan — a path that ignores the bounds
      // (e.g. streaming, where the checkpoint already bounds ranges) stays
      // correct by construction, and the pruning can never drop a row the
      // filter wouldn't.
      private var pushed: EventLogPushdown = EventLogPushdown.none
      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter]
      ): Array[org.apache.spark.sql.sources.Filter] = {
        pushed = EventLogPushdown.from(filters)
        filters // all residual (see above)
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed.accepted

      // Source-reported statistics: file bytes of the (pushdown-pruned)
      // partition set. This is what lets Catalyst/AQE treat a small topic
      // like any small table — e.g. auto-broadcast the log side of a join
      // without a hint — instead of assuming an unknown-size black box.
      // The broker analogue is partition backlog metadata; here it is one
      // directory listing (no data read).
      override def estimateStatistics(): Statistics = new Statistics {
        private val bytes = EventLogSource
          .partitionFiles(path)
          .filter { case (p, _) => pushed.keepsPartition(p) }
          .map(_._2.length())
          .sum
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }

      override def build(): Scan = this
      override def readSchema(): StructType = required
      // drop-on-malformed observability: the reference logs each discarded
      // row (PulsarJSONMessageDecoder.java:70-71); here the per-reader drop
      // count is a DSv2 custom metric, aggregated in the SQL UI
      override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
        Array(new DroppedMessagesMetric)
      private def read = EventLogRead(extractorClass, required.fieldNames.toSeq, compactionKey, compactionValidate)
      override def toBatch: Batch = new EventLogBatch(path, read, pushed)
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new EventLogMicroBatchStream(path, config, read)
    }
}

/** Envelope bounds extracted from pushed-down filters: an optional
  * partition allow-set and an offset window translated to the reader's
  * `start < offset <= end` convention.
  */
case class EventLogPushdown(
    partitions: Option[Set[Int]],
    startExclusive: Long,
    endInclusive: Long,
    accepted: Array[org.apache.spark.sql.sources.Filter]
) {
  def keepsPartition(p: Int): Boolean = partitions.forall(_.contains(p))
}

/** Sum-aggregated count of messages the configured extractor rejected. */
class DroppedMessagesMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "droppedMessages"
  override def description(): String = "messages dropped by the record extractor (malformed/rejected)"
}

object EventLogPushdown {
  import org.apache.spark.sql.sources._

  val none: EventLogPushdown = EventLogPushdown(None, -1L, Long.MaxValue, Array.empty)

  private def asInt(v: Any): Option[Int] = v match {
    case i: Int  => Some(i)
    case l: Long if l.isValidInt => Some(l.toInt)
    case _       => None
  }
  private def asLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int  => Some(i.toLong)
    case _       => None
  }

  def from(filters: Array[Filter]): EventLogPushdown = {
    var parts: Option[Set[Int]] = None
    var start = -1L
    var end   = Long.MaxValue
    val acc   = scala.collection.mutable.ArrayBuffer[Filter]()
    def intersect(s: Set[Int]): Unit = parts = Some(parts.fold(s)(_ intersect s))
    filters.foreach {
      case f @ EqualTo("partition", v) if asInt(v).isDefined =>
        intersect(Set(asInt(v).get)); acc += f
      case f @ In("partition", vs) if vs.forall(asInt(_).isDefined) =>
        intersect(vs.flatMap(asInt).toSet); acc += f
      case f @ GreaterThan("offset", v) if asLong(v).isDefined =>
        start = math.max(start, asLong(v).get); acc += f
      case f @ GreaterThanOrEqual("offset", v) if asLong(v).isDefined =>
        // o >= MinValue is always true: v-1 would wrap to MaxValue and
        // prune everything, unrecoverably (residuals only see survivors)
        val lv = asLong(v).get
        if (lv != Long.MinValue) { start = math.max(start, lv - 1) }
        acc += f
      case f @ LessThan("offset", v) if asLong(v).isDefined =>
        // o < MinValue is always false: v-1 would wrap to MaxValue and
        // accidentally keep everything for the pruning (harmless) — clamp
        // to an empty window instead so the scan skips the files outright
        val lv = asLong(v).get
        end = if (lv == Long.MinValue) -1L else math.min(end, lv - 1)
        acc += f
      case f @ LessThanOrEqual("offset", v) if asLong(v).isDefined =>
        end = math.min(end, asLong(v).get); acc += f
      case _ => () // anything else: residual-only, no pruning
    }
    EventLogPushdown(parts, start, end, acc.toArray)
  }
}

/** Batch scan: the whole log, one slice per (pushdown-kept) partition file,
  * packed into splits by [[EventLogSplits]].
  */
class EventLogBatch(
    path: String,
    read: EventLogRead,
    pushdown: EventLogPushdown
) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    EventLogSplits.plan(
      read,
      EventLogSource
        .partitionFiles(path)
        .filter { case (p, _) => pushdown.keepsPartition(p) } // file skip
        .map { case (p, f) =>
          EventLogSlice(p, f.getAbsolutePath, pushdown.startExclusive, pushdown.endInclusive) -> f.length()
        }
    )
  override def createReaderFactory(): PartitionReaderFactory = EventLogReaderFactory
}

/** Micro-batch stream with per-trigger admission control. */
class EventLogMicroBatchStream(
    path: String,
    config: SourceConfig,
    read: EventLogRead
) extends MicroBatchStream
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow: snapshot the end once, then drain to it in
    * admission-bounded micro-batches.
    */
  private var availableNowEnd: Option[Map[Int, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(latestOffset().asInstanceOf[EventLogOffset].partitionOffsets)

  /** Earliest = nothing consumed yet in any discovered partition (S18). */
  override def initialOffset(): Offset =
    EventLogOffset(
      EventLogSource.partitionFiles(path).map { case (p, _) => p -> OffsetCodec.Earliest }.toMap
    )

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(config.maxBatchMessages.toLong)

  /** Unbounded latest: last offset currently in each partition log —
    * STREAMED (fold to the final offset, one line in memory, no payload
    * decoded), not a driver-side materialization of the whole file per
    * trigger.
    */
  override def latestOffset(): Offset =
    EventLogOffset(EventLogSource.partitionFiles(path).map { case (p, f) =>
      p -> EventLogSource.withLogSource(f)(_.foldLeft(OffsetCodec.Earliest)((_, l) => l.offset))
    }.toMap)

  /** Admission-controlled latest: cap each partition's advance at maxMsgs
    * rows AND maxBytes payload bytes per trigger — the reference's
    * `BatchReceivePolicy(maxNumMessages, maxNumBytes, timeout)`.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startOffsets = start.asInstanceOf[EventLogOffset].partitionOffsets
    val maxRows = limit match {
      case l: org.apache.spark.sql.connector.read.streaming.ReadMaxRows => l.maxRows().toInt
      case _                                                            => config.maxBatchMessages
    }
    EventLogOffset(EventLogSource.partitionFiles(path).map { case (p, f) =>
      val from     = startOffsets.getOrElse(p, OffsetCodec.Earliest)
      var advanced = from
      var bytes    = 0L
      var admitted = 0
      // streamed: only the <= maxRows admitted lines decode their payload,
      // never the file
      EventLogSource.withLogSource(f)(
        _.filter(_.offset > from)
          .take(maxRows)
          .takeWhile { l =>
            // always admit the first message even if it alone exceeds the cap
            // (Pulsar's batch policy does the same); never over-admit later ones
            bytes += l.payload.length; admitted += 1
            admitted == 1 || bytes <= config.maxBatchBytes
          }
          .foreach(l => advanced = l.offset)
      )
      // under Trigger.AvailableNow, never advance past the prepared snapshot
      p -> availableNowEnd.map(e => math.min(advanced, e.getOrElse(p, advanced))).getOrElse(advanced)
    }.toMap)
  }

  /** One slice per partition that advanced; admission already caps a
    * slice's payload at `maxBytes`, so that bounds its size estimate.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[EventLogOffset].partitionOffsets
    val e = end.asInstanceOf[EventLogOffset].partitionOffsets
    EventLogSplits.plan(
      read,
      EventLogSource
        .partitionFiles(path)
        .flatMap { case (p, f) =>
          val from = s.getOrElse(p, OffsetCodec.Earliest)
          val to   = e.getOrElse(p, OffsetCodec.Earliest)
          if (to > from)
            Some(EventLogSlice(p, f.getAbsolutePath, from, to) -> math.min(f.length(), config.maxBatchBytes.toLong))
          else None
        }
    )
  }

  override def createReaderFactory(): PartitionReaderFactory = EventLogReaderFactory
  override def deserializeOffset(json: String): Offset = EventLogOffset.fromJson(json)

  /** Cleanup hook only — the reference's best-effort cumulative ack (S6). */
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One topic partition slice: rows of `file` with start < offset <= end. */
case class EventLogSlice(partition: Int, file: String, start: Long, end: Long)

/** What every reader of one scan shares: the decode seam, the pruned
  * columns and the compaction settings.
  */
case class EventLogRead(
    extractorClass: Option[String] = None,
    requiredCols: Seq[String] = EventLogSource.schema.fieldNames.toSeq,
    compactKeyField: Option[String] = None,
    compactKeyValidate: Boolean = true
)

/** One Spark input split: slices read in turn, each by its own consumer. */
case class EventLogInputPartition(slices: Seq[EventLogSlice], read: EventLogRead) extends InputPartition

/** Packs slices into input splits with the policy Spark's file scan uses for
  * small files (`FilePartition.maxSplitBytes` / `getFilePartitions`). A scan
  * then pays per-task cost (task deserialization, a sink's writer open and
  * commit) about once per core, not once per topic partition, and a
  * many-core session keeps one split per slice.
  */
object EventLogSplits {

  /** Pure policy: a slice costs its estimated bytes plus `openCost`; the
    * split cap is `min(maxPartitionBytes, max(openCost, totalCost /
    * minPartitions))`; slices are packed next-fit-decreasing, and a slice
    * larger than the cap gets a split of its own.
    */
  def pack[A](slices: Seq[(A, Long)], openCost: Long, maxPartitionBytes: Long, minPartitions: Int): Seq[Seq[A]] = {
    val total = slices.map(_._2 + openCost).sum
    val cap   = math.min(maxPartitionBytes, math.max(openCost, total / math.max(1, minPartitions)))
    slices
      .sortBy(_._2)(Ordering[Long].reverse)
      .foldLeft(List.empty[(List[A], Long)]) {
        case ((split, used) :: done, (a, bytes)) if used + bytes <= cap => (a :: split, used + bytes + openCost) :: done
        case (done, (a, bytes))                                         => (List(a), bytes + openCost) :: done
      }
      .reverse
      .map(_._1.reverse)
  }

  /** [[pack]] with the active session's file-split settings:
    * `spark.sql.files.{maxPartitionBytes,openCostInBytes,minPartitionNum}`,
    * the latter defaulting to the leaf-node default parallelism.
    */
  def plan(read: EventLogRead, slices: Seq[(EventLogSlice, Long)]): Array[InputPartition] = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = SQLConf.get
    val minPartitions = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
    )
    pack(slices, conf.filesOpenCostInBytes, conf.filesMaxPartitionBytes, minPartitions)
      .map(split => EventLogInputPartition(split, read): InputPartition)
      .toArray
  }
}

object EventLogReaderFactory extends PartitionReaderFactory {

  /** Per-partition compaction of a planned slice: keep, for each key, only
    * the row holding the key's HIGHEST offset in the slice; unkeyed rows
    * (key extractor returns None/null) are retained as-is, and retained
    * rows keep their original offset order — Pulsar's compacted-read
    * contract. Two passes over the (offset-ordered) slice: pass 1 records
    * each key's max offset — the same O(distinct-keys) ledger the broker's
    * own compaction keeps; pass 2 streams rows in native offset order,
    * emitting every unkeyed row and each keyed row whose offset equals its
    * key's ledger entry. Nothing is buffered or sorted — reader memory is
    * O(distinct keys) even on an unkeyed-heavy BATCH slice spanning the
    * whole partition history (a single-pass variant would have to park all
    * unkeyed rows while keyed survivors settle). The price is evaluating
    * `keyOf` twice per row (the raw path re-parses JSON, the extractor
    * path re-decodes) — the standard streaming two-pass trade.
    *
    * `rows` is a THUNK because pass 2 needs a fresh iterator (and must be
    * LAZY — a strict Seq here re-introduces the O(slice) buffer this
    * design removes); `onPassOne` fires between the passes with the slice
    * row count and the ledger size, the seam the raw path uses to fail
    * loud on a typo'd key field without materializing the slice.
    */
  private[sources] def compactByKey[R](
      rows: () => Iterator[(Long, R)],
      keyOf: R => Option[Any],
      onPassOne: (Long, Long) => Unit = (_, _) => ()
  ): Iterator[(Long, R)] = {
    val ledger = scala.collection.mutable.HashMap[Any, Long]()
    var n      = 0L
    rows().foreach { case (o, r) =>
      n += 1
      keyOf(r).foreach { k => if (ledger.getOrElse(k, Long.MinValue) < o) ledger.update(k, o) }
    }
    onPassOne(n, ledger.size.toLong)
    // getOrElse(k, o), NOT ledger(k): the two passes re-read the
    // underlying source, and a row whose key appears only in pass 2 (a
    // concurrent append to a live log between passes) must be RETAINED as
    // its own latest, not crash the task on a missing ledger entry
    rows().filter { case (o, r) => keyOf(r).forall(k => ledger.getOrElse(k, o) == o) }
  }

  /** One reader per split: the decode path (raw bytes, or the configured
    * extractor) is built once per split, and each slice gets its own
    * [[SliceConsumer]].
    */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[EventLogInputPartition]
    val rowsOf = split.read.extractorClass match {
      case None      => rawRows(split.read)
      case Some(cls) => extractedRows(cls, split.read)
    }
    new EventLogSplitReader(split.slices, rowsOf)
  }

  /** The raw (partition, offset, value) envelope of a slice, pruned to the
    * required columns.
    */
  private def rawRows(read: EventLogRead): SliceConsumer => Iterator[InternalRow] = {
    val proj: Seq[(Int, Long, Array[Byte]) => Any] = read.requiredCols.map {
      case "partition" => (p: Int, _: Long, _: Array[Byte]) => p
      case "offset"    => (_: Int, o: Long, _: Array[Byte]) => o
      case "value"     => (_: Int, _: Long, v: Array[Byte]) => v
    }
    // readCompacted on the raw path: the message-key stand-in is a JSON
    // payload field; an unparseable payload or missing field = unkeyed
    // (retained), consistent with Pulsar compacting only keyed messages.
    lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def keyOf(kf: String)(payload: Array[Byte]): Option[Any] =
      try {
        val n = mapper.readTree(payload)
        val v = if (n == null) null else n.get(kf)
        if (v == null || v.isNull) None else Some(v.asText())
      } catch { case scala.util.control.NonFatal(_) => None }
    consumer => {
      val part = consumer.slice.partition
      val rows = read.compactKeyField match {
        case None => consumer.lines()
        case Some(kf) =>
          // the raw path has no schema to validate the key field against
          // at config time (unlike the extractor path), so validate
          // against DATA: a configured key field matching ZERO messages
          // in a non-empty slice is overwhelmingly a typo'd field name,
          // and serving the full log uncompacted on a typo is exactly
          // the silent-disable failure config-time validation exists to
          // prevent — fail loud by default. The legitimate zero-keyed
          // states (backfill of pre-key-field history, all-malformed
          // slices) opt out via compaction.validateKeyField=false.
          compactByKey[Array[Byte]](
            () => consumer.lines(),
            keyOf(kf),
            onPassOne = (nRows, nKeyed) =>
              require(
                !read.compactKeyValidate || nKeyed > 0 || nRows == 0,
                s"readCompacted: ${EventLogSource.CompactionKeyFieldKey} '$kf' matched no message " +
                  s"in a non-empty slice of partition $part ($nRows rows) — likely a " +
                  s"mistyped field name (raw-path key fields can only be validated against data); " +
                  s"set ${EventLogSource.CompactionValidateKey}=false if this slice legitimately " +
                  "predates the key field"
              )
          )
      }
      rows.map { case (o, v) => InternalRow(proj.map(_(part, o, v)): _*) }
    }
  }

  /** A slice decoded by the configured extractor (S16), dropping the
    * messages it rejects (drop-on-malformed) and counting them on the
    * slice's consumer.
    */
  private def extractedRows(cls: String, read: EventLogRead): SliceConsumer => Iterator[InternalRow] = {
    // one extractor instance per reader, built by name executor-side —
    // the reference's decoder lifecycle (init once per consumer), and
    // init'd with the PRUNED field set so the decoder can skip fields
    // the query never reads (`extractor.init(fieldsToRead)`,
    // PulsarJSONMessageDecoder.java:57-58)
    val ext       = RecordExtractor.instantiate(cls)
    val extFields = ext.schema.fieldNames
    // the compaction key must decode even when the query prunes it away
    // (compaction happens before projection, like the broker's)
    ext.init((read.requiredCols ++ read.compactKeyField).distinct.filter(extFields.contains))
    val extIndex = extFields.zipWithIndex.toMap
    // project (envelope ++ extracted) down to the pruned schema, in
    // Catalyst's requested order (full schema resolved ONCE — schemaFor
    // instantiates the extractor to read its field list)
    val fullSchema = EventLogSource.schemaFor(Some(cls))
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(StructType(read.requiredCols.map(fullSchema.apply)))
    val proj: Seq[(Int, Long, org.apache.spark.sql.Row) => Any] = read.requiredCols.map {
      case "partition" => (p: Int, _: Long, _: org.apache.spark.sql.Row) => p
      case "offset"    => (_: Int, off: Long, _: org.apache.spark.sql.Row) => off
      case name        => (_: Int, _: Long, row: org.apache.spark.sql.Row) => row.get(extIndex(name))
    }
    consumer => {
      // The drop counter RESETS per decode pass: two-pass compaction
      // decodes the slice twice, and double-counting would misreport the
      // droppedMessages metric.
      def decoded(): Iterator[(Long, org.apache.spark.sql.Row)] = {
        consumer.dropped = 0
        consumer.lines().flatMap { case (offset, payload) =>
          ext.extract(payload) match {
            case Some(row) => Some(offset -> row)
            case None      => consumer.dropped += 1; None
          }
        }
      }
      val rows = read.compactKeyField match {
        case None => decoded()
        case Some(kf) =>
          val ki = extIndex(kf)
          compactByKey[org.apache.spark.sql.Row](() => decoded(), row => Option(row.get(ki)))
      }
      val part = consumer.slice.partition
      rows.map { case (offset, row) =>
        toCatalyst(org.apache.spark.sql.Row.fromSeq(proj.map(_(part, offset, row)))).asInstanceOf[InternalRow]
      }
    }
  }
}

/** One slice's consumer: its streaming passes over the partition file (one
  * line in memory at a time), their open handles, and the messages its
  * decoder dropped. Reader memory stays O(distinct keys) on the compacted
  * path and O(1) otherwise — never O(slice).
  */
private[sources] final class SliceConsumer(val slice: EventLogSlice) {
  var dropped: Long = 0L
  private val open = scala.collection.mutable.ArrayBuffer.empty[scala.io.Source]
  def lines(): Iterator[(Long, Array[Byte])] =
    EventLogSource.readLogStream(new java.io.File(slice.file), slice.start, slice.end, open += _)
  def close(): Unit = {
    open.foreach { s =>
      try s.close()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    open.clear()
  }
}

/** Reads one split's slices in turn, each through its own [[SliceConsumer]];
  * `droppedMessages` sums over the slices read so far.
  */
private[sources] final class EventLogSplitReader(
    slices: Seq[EventLogSlice],
    rowsOf: SliceConsumer => Iterator[InternalRow]
) extends PartitionReader[InternalRow] {
  private val pending                   = slices.iterator
  private var consumer: SliceConsumer   = _
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var droppedBefore             = 0L
  private var current: InternalRow      = _

  override def next(): Boolean = {
    while (!rows.hasNext && pending.hasNext) {
      if (consumer != null) { droppedBefore += consumer.dropped; consumer.close() }
      // assigned before rowsOf runs: compaction opens its first pass (and
      // may fail key-field validation) inside rowsOf, which is inside
      // next(), when Spark has already registered this reader for close()
      consumer = new SliceConsumer(pending.next())
      rows = rowsOf(consumer)
    }
    val has = rows.hasNext
    if (has) current = rows.next()
    has
  }
  override def get(): InternalRow = current
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = "droppedMessages"
      override def value(): Long = droppedBefore + (if (consumer == null) 0L else consumer.dropped)
    })
  override def close(): Unit = if (consumer != null) consumer.close()
}

/** Materializes a per-partition event log from the `events` fixture — the
  * test-fixture stand-in for a live broker. Offsets are encoded with
  * [[OffsetCodec]] using `ledger = event_id / 1000, entry = event_id % 1000`,
  * which makes them deliberately NON-DENSE across ledger boundaries
  * (exercising SURVEY §1.1.2).
  */
object EventLogWriter {
  def materialize(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String,
      logDir: String,
      numPartitions: Int = 4
  ): String =
    materializeFrom(graft.Tables.events(spark, sfDir), logDir, numPartitions)

  /** Frame-accepting variant (the spec seam for data-skew cases, e.g. a
    * frame whose ids all hash to one partition). `events` must carry
    * `event_id, user_id, event_type, value`.
    *
    * `routeBy` picks the partition-routing column (`partition = routeBy %
    * numPartitions`). The default routes by event_id (spreads every user
    * over all partitions); `routeBy = "user_id"` is the KEYED-PRODUCER
    * layout — each key lives in exactly one partition, the precondition
    * under which per-partition readCompacted equals the global
    * latest-per-key view, exactly as for a broker.
    */
  def materializeFrom(
      events: org.apache.spark.sql.DataFrame,
      logDir: String,
      numPartitions: Int = 4,
      routeBy: String = "event_id"
  ): String = {
    import org.apache.spark.sql.functions._
    val dir = new java.io.File(logDir)
    dir.mkdirs()
    val target = dir.getAbsolutePath
    // Executor-side writes (round-9 fix): the old driver-side collect() was
    // a driver-memory bomb at any real sf — Bench warms this against sfDir.
    // Hash-repartitioning on `p` puts each log partition wholly inside one
    // Spark partition (possibly sharing it with others), and the
    // within-partition sort makes (p, event_id) groups contiguous, so each
    // file is written exactly once, in offset order, by the executor that
    // owns it. Local-FS note: the event log is the single-host stand-in for
    // a broker; on a real cluster `target` would be shared storage.
    //
    // The partition SET must not depend on data distribution: the read side
    // discovers partitions by directory listing, so a partition that happens
    // to own zero events still needs its file. Re-materializing into a dir
    // that previously held MORE partitions must not leave the extras behind
    // (the listing would serve their stale events), so stale partition files
    // and orphaned temp files are removed before the pre-create.
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
      // toLongOption: a numeric name too big even for Long (matches \d+
      // but overflows) is certainly not one of ours — treat as stale
      // rather than crash the whole materialization on NumberFormatException
      val stale =
        f.getName.matches("partition-\\d+\\.log") &&
          f.getName.stripPrefix("partition-").stripSuffix(".log").toLongOption
            .forall(_ >= numPartitions)
      if (stale || f.getName.startsWith(".partition-")) {
        // a silently-failed delete leaves a higher-numbered partition file
        // behind and the directory-listing read side would serve its stale
        // events — fail the materialization instead
        if (!f.delete() && f.exists())
          throw new java.io.IOException(
            s"failed to remove stale log file ${f.getAbsolutePath}")
      }
    }
    (0 until numPartitions).foreach { p =>
      new java.io.PrintWriter(new java.io.File(dir, s"partition-$p.log"), "UTF-8").close()
    }
    events
      .select(
        (col(routeBy) % numPartitions).cast("int").as("p"),
        col("event_id"),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"), col("value")))
          .as("payload")
      )
      .repartition(numPartitions, col("p"))
      .sortWithinPartitions(col("p"), col("event_id"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        // Task retries / speculative attempts rewrite the same partition:
        // each attempt writes to its own dot-prefixed temp file (invisible
        // to partitionFiles' listing) and commits with an atomic rename, so
        // a reader never observes a torn file and the last attempt wins
        // whole-file. A failed attempt deletes its temp and leaves the
        // previously-committed (or pre-created empty) file untouched.
        var curP = -1
        var w: java.io.PrintWriter = null
        var tmp: java.io.File = null
        def commit(): Unit = if (w != null) {
          w.close(); w = null
          java.nio.file.Files.move(
            tmp.toPath,
            new java.io.File(target, s"partition-$curP.log").toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING
          )
        }
        try {
          while (it.hasNext) {
            val r = it.next()
            val p = r.getInt(0)
            if (p != curP) {
              commit()
              curP = p
              tmp = new java.io.File(target, s".partition-$p.log.tmp-${java.util.UUID.randomUUID()}")
              w = new java.io.PrintWriter(tmp, "UTF-8")
            }
            val id = r.getLong(1)
            w.println(s"${OffsetCodec.encode(id / 1000, id % 1000)}\t${r.getString(2)}")
          }
          commit()
        } finally {
          if (w != null) w.close()
          // a failed attempt (including a commit() rename failure after w
          // was already closed+nulled) must not orphan its temp file
          if (tmp != null && tmp.exists()) tmp.delete()
        }
      }
    logDir
  }
}
