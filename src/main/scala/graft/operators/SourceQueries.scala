package graft.operators

import graft.{QueryDef, Tables}
import graft.sources.{EventLogSource, EventLogWriter, JsonDecode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** End-to-end queries THROUGH the `graft-events` DSv2 source: the complete
  * reference pipeline — partitioned offset-addressed scan -> JSON decode
  * (drop-on-malformed) -> relational aggregation — oracle-checked against
  * the same data read directly from parquet. This is the strongest evidence
  * the rebuilt source is faithful: the DuckDB oracle never sees the log
  * format, only the semantics.
  */
object SourceQueries {

  private val payloadSchema = StructType(
    Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)
    )
  )

  /** Bump when the log's file layout or its fixture-to-message mapping
    * changes, so a log left in /tmp by other code is rebuilt, not served.
    */
  private val logFormatVersion = 1

  /** Materialize the fixture-backed event log once per sfDir. The
    * `_SUCCESS` marker, written only after ALL partition files exist and
    * holding the format version, guards against reusing a partially
    * written log from a crashed earlier run or one another version wrote.
    */
  def logDirFor(spark: SparkSession, sfDir: String): String =
    graft.Artifacts.buildOnceDir(
      s"/tmp/graft-eventlog-${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}",
      s"graft-eventlog v$logFormatVersion"
    )(dir => EventLogWriter.materialize(spark, sfDir, dir))

  def sourceFrame(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format(EventLogSource.ShortName).option("path", logDirFor(spark, sfDir)).load()

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_source_pipeline",
      "S1-S21 end-to-end: graft-events DSv2 scan -> JSON decode -> aggregate; oracle reads the same facts from parquet directly",
      (s, dir) => {
        val decoded = JsonDecode.decode(
          sourceFrame(s, dir),
          payloadCol = "value",
          schema = payloadSchema,
          fields = Seq("event_id", "user_id", "event_type", "value"),
          passthrough = Seq("partition", "offset")
        )
        decoded
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            countDistinct(col("partition")).as("n_partitions"),
            QueryDef.sumScaled(col("value"), 2).as("sum_value"),
            min(col("event_id")).as("min_event"),
            max(col("event_id")).as("max_event")
          )
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, count(1) AS n,
              |  count(DISTINCT event_id % 4) AS n_partitions,
              |  ${QueryDef.sumDecSql("\"value\"", 2)} AS sum_value,
              |  min(event_id) AS min_event, max(event_id) AS max_event
              |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    QueryDef(
      "q_source_extractor",
      "S16 config-driven decode seam: the graft-events scan loads a RecordExtractor BY CLASS NAME from table config (reference RECORD_EXTRACTOR_CONFIG_KEY / PluginManager.createInstance, PulsarJSONMessageDecoder.java:50-57) and decodes INSIDE the source — the frame leaves the scan already typed, no downstream decode step. Oracle reads the same facts from parquet directly, so a decode drift in the plugged extractor breaks the hash",
      (s, dir) => {
        val decoded = s.read
          .format(EventLogSource.ShortName)
          .option("path", logDirFor(s, dir))
          .option(graft.sources.RecordExtractor.OptionKey, "graft.sources.JsonEventExtractor")
          .load()
        decoded
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            min(col("user_id")).as("min_user"),
            max(col("user_id")).as("max_user"),
            QueryDef.sumScaled(col("value"), 2).as("sum_value")
          )
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, count(1) AS n,
              |  min(user_id) AS min_user, max(user_id) AS max_user,
              |  ${QueryDef.sumDecSql("\"value\"", 2)} AS sum_value
              |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    QueryDef(
      "q_source_compacted",
      "S7 readCompacted AS A SOURCE OPTION (reference subscribes readCompacted(true), PulsarPartitionLevelConsumer.java:68): .option(\"readCompacted\",\"true\") plans the latest-per-key view inside the scan itself, per partition exactly like a broker — the fixture log routes by event_id (NOT keyed-producer routing), so the oracle mirrors latest per (key, partition = event_id % 4); the keyed-routing global view is pinned by EventLogSourceSpec against q_event_compacted",
      (s, dir) =>
        s.read
          .format(EventLogSource.ShortName)
          .option("path", logDirFor(s, dir))
          .option(graft.sources.RecordExtractor.OptionKey, "graft.sources.JsonEventExtractor")
          .option(EventLogSource.ReadCompactedKey, "true")
          .option(EventLogSource.CompactionKeyFieldKey, "user_id")
          .load()
          .select(col("partition"), col("user_id"), col("event_id"), col("event_type"), col("value"))
          .orderBy(col("user_id"), col("partition")),
      Some("""SELECT cast(event_id % 4 as int) AS partition, user_id, event_id, event_type, "value"
             |FROM (
             |  SELECT *, row_number() OVER (PARTITION BY user_id, event_id % 4
             |                               ORDER BY event_id DESC) AS rn
             |  FROM events) t
             |WHERE rn = 1 ORDER BY user_id, partition""".stripMargin)
    )
  )
}
