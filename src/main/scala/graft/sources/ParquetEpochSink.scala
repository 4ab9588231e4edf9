package graft.sources

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.ReportsSinkMetrics
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Streaming parquet sink that lands micro-batch (epoch) N in `path/batch_id=N`.
  *
  * Append mode only. Each task writes its rows with the `OutputWriterFactory`
  * of `ParquetFileFormat.prepareWrite` into a hidden per-epoch staging
  * directory `path/.batch_id=N-<uuid>`. The epoch commit replaces
  * `batch_id=N` with that directory by rename, so an epoch replayed after a
  * failure rewrites its own directory: exactly-once output on top of the
  * checkpoint's at-least-once replay. An aborted epoch deletes its staging
  * directory. Readers skip names that start with `.`, so `spark.read.parquet`
  * of `path` sees only committed epochs and discovers `batch_id`.
  *
  * No Hadoop `Configuration` travels to the tasks. `prepareWrite` runs on the
  * driver against an empty job conf, and only the entries it sets (writer
  * class, row schema, codec and a few flags) are shipped. Each task lays
  * them over a per-JVM copy of Hadoop's defaults plus the `spark.hadoop.*`
  * keys, which is what names the `file` filesystem ([[graft.fs]]). A
  * `SerializableConfiguration` would carry every property, about 110 KB
  * serialized, to every task of every micro-batch. Keys set on
  * `sparkContext.hadoopConfiguration` at runtime are therefore not seen by
  * the writers; set them as `spark.hadoop.*`.
  *
  * The sink reports, per trigger, `numFiles`, `numBytes` and `numRows` of the
  * last committed epoch in `StreamingQueryProgress.sink.metrics`.
  */
class ParquetEpochSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException("ParquetEpochSink takes its schema from the streaming query")

  override def getTable(schema: StructType, partitioning: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null, "ParquetEpochSink needs a path option")
    new ParquetEpochSink.SinkTable(schema, path)
  }
}

object ParquetEpochSink {

  /** Hadoop's defaults plus the `spark.hadoop.*` keys, built once per JVM;
    * every writer copies it. Read on first use, so set those keys before
    * the first write.
    */
  private lazy val baseConf: Configuration = {
    val conf = new Configuration()
    SparkEnv.get.conf.getAllWithPrefix("spark.hadoop.").foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** What one task landed: its file's name in the staging directory (none
    * when the partition was empty), rows and bytes.
    */
  private final case class LandedFile(name: Option[String], rows: Long, bytes: Long) extends WriterCommitMessage

  private final class SinkTable(tableSchema: StructType, outDir: String)
      extends Table with SupportsWrite with ReportsSinkMetrics {
    @volatile var lastEpoch: Map[String, String] = Map.empty

    override def name(): String = s"ParquetEpochSink[$outDir]"
    override def toString: String = name()
    override def schema(): StructType = tableSchema
    override def capabilities(): java.util.Set[TableCapability] = java.util.EnumSet.of(TableCapability.STREAMING_WRITE)
    override def metrics(): java.util.Map[String, String] = lastEpoch.asJava

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite = new EpochWrite(SinkTable.this, info.schema(), outDir)
      }
    }
  }

  /** One micro-batch's write: built on the driver per batch. */
  private final class EpochWrite(table: SinkTable, schema: StructType, outDir: String) extends StreamingWrite {
    private val uuid = UUID.randomUUID().toString

    override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
      val job = Job.getInstance(new Configuration(false))
      val format = new ParquetFileFormat().prepareWrite(SparkSession.active, job, Map.empty, schema)
      val entries = job.getConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue).toArray
      EpochFileFactory(outDir, uuid, schema, entries, format)
    }

    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val landed  = messages.collect { case f: LandedFile => f }
      val staging = stagingDir(outDir, epochId, uuid)
      val fs      = staging.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      // files of task attempts that did not commit
      val named = landed.flatMap(_.name).toSet
      fs.listStatus(staging).foreach(st => if (!named(st.getPath.getName)) fs.delete(st.getPath, false))
      val target = new Path(outDir, s"batch_id=$epochId")
      fs.delete(target, true)
      if (!fs.rename(staging, target)) throw new IOException(s"could not rename $staging to $target")
      table.lastEpoch = Map(
        "numFiles" -> named.size.toString,
        "numBytes" -> landed.map(_.bytes).sum.toString,
        "numRows" -> landed.map(_.rows).sum.toString
      )
    }

    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val staging = stagingDir(outDir, epochId, uuid)
      staging.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration).delete(staging, true)
    }
  }

  private def stagingDir(outDir: String, epochId: Long, uuid: String): Path =
    new Path(outDir, s".batch_id=$epochId-$uuid")

  /** What crosses to the tasks: paths, the schema, the entries
    * `prepareWrite` set and its writer factory.
    */
  private final case class EpochFileFactory(
      outDir: String,
      uuid: String,
      schema: StructType,
      entries: Array[(String, String)],
      format: OutputWriterFactory
  ) extends StreamingDataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
      new EpochFileWriter(this, partitionId, taskId, epochId)
  }

  /** One task's file, opened on its first row. Partition 0 writes a file
    * even when empty, so an empty epoch still lands its schema.
    */
  private final class EpochFileWriter(f: EpochFileFactory, partitionId: Int, taskId: Long, epochId: Long)
      extends DataWriter[InternalRow] {
    private val context = {
      val conf = new JobConf(baseConf)
      f.entries.foreach { case (k, v) => conf.set(k, v) }
      val attempt = Option(TaskContext.get()).map(_.attemptNumber()).getOrElse(0)
      new TaskAttemptContextImpl(conf, new TaskAttemptID(f.uuid, 0, TaskType.MAP, partitionId, attempt))
    }
    private val file =
      new Path(stagingDir(f.outDir, epochId, f.uuid), f"part-$partitionId%05d-${f.uuid}-t$taskId${f.format.getFileExtension(context)}")
    private var out: OutputWriter = _
    private var rows = 0L

    private def open(): Unit = out = f.format.newInstance(file.toString, f.schema, context)

    private def closeOut(): Unit =
      if (out != null) {
        val o = out
        out = null
        o.close()
      }

    override def write(row: InternalRow): Unit = {
      if (out == null) open()
      out.write(row)
      rows += 1
    }

    override def commit(): WriterCommitMessage = {
      if (out == null && partitionId == 0) open()
      if (out == null) LandedFile(None, 0L, 0L)
      else {
        closeOut()
        LandedFile(Some(file.getName), rows, file.getFileSystem(context.getConfiguration).getFileStatus(file).getLen)
      }
    }

    override def abort(): Unit = {
      try closeOut()
      finally file.getFileSystem(context.getConfiguration).delete(file, false)
    }

    override def close(): Unit = closeOut()
  }
}
