package graft.sources

import java.io.{ByteArrayOutputStream, File, ObjectOutputStream}
import java.nio.file.{Files, Path => NioPath, Paths}

import graft.TestSpark
import graft.streaming.StreamingPipelines
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[ParquetEpochSink]] behind `StreamingPipelines.idempotentParquetSink`:
  * replay, abort, empty epochs, read-back, what its tasks are sent and the
  * sink metrics it reports.
  */
class ParquetEpochSinkSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  private def entries(dir: String): Seq[NioPath] =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(_ != Paths.get(dir)).toSeq

  private def parquetFiles(dir: String): Seq[NioPath] =
    entries(dir).filter(_.getFileName.toString.endsWith(".parquet"))

  private def names(dir: String): Seq[String] = Option(new File(dir).list()).toSeq.flatten.sorted

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  test("a stream restarted after its last commit entry is deleted replays that epoch: rows land once, in new files") {
    val dir = tempDir("epoch-replay")
    val (in, out, ckpt) = (s"$dir/in", s"$dir/out", s"$dir/ckpt")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1).write.parquet(s"$in/f0")
    Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "s").coalesce(1).write.parquet(s"$in/f1")
    val input = spark.read.parquet(s"$in/*")
    def run(): Unit = {
      val q = StreamingPipelines
        .idempotentParquetSink(spark.readStream.schema(input.schema).option("maxFilesPerTrigger", "1").parquet(s"$in/*"), out, ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(q.exception.isEmpty)
    }
    run()
    assert(names(out) === Seq("batch_id=0", "batch_id=1"))
    val before = names(s"$out/batch_id=1")
    // the commit of epoch 1 never happened, as after a crash between the
    // sink's commit and the checkpoint's
    new File(s"$ckpt/commits/1").delete()
    new File(s"$ckpt/commits/.1.crc").delete()
    run()
    assert(names(out) === Seq("batch_id=0", "batch_id=1"), "no staging directory is left")
    val after = names(s"$out/batch_id=1")
    assert(after.nonEmpty && after.intersect(before).isEmpty, s"batch_id=1 must hold only the replay's files: $before -> $after")
    assert(rows(spark.read.parquet(out).drop("batch_id")) === rows(input))
  }

  test("a task that throws aborts the epoch: no visible file and no staging directory") {
    val dir = tempDir("epoch-abort")
    val out = s"$dir/out"
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    // the throwing task waits, so the other task has written and committed
    // its file into the staging directory before the epoch fails
    val failOn7 = udf { (v: Long) =>
      if (v == 7L) { Thread.sleep(500); throw new IllegalStateException("boom") }
      v
    }
    val q = StreamingPipelines
      .idempotentParquetSink(input.toDF().repartition(2, $"value").select(failOn7($"value").as("v")), out, s"$dir/ckpt")
      .start()
    try {
      input.addData(1L to 20L)
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      assert(e.getMessage.contains("boom"))
    } finally q.stop()
    assert(names(out) === Nil, s"left behind: ${entries(out)}")
  }

  test("an empty epoch lands a directory spark.read.parquet reads with the query's schema") {
    val dir = tempDir("epoch-empty")
    val out = s"$dir/out"
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input  = MemoryStream[(Long, String, Double)]
    val stream = input.toDF().toDF("id", "s", "x").where($"x" > 100.0)
    val q      = StreamingPipelines.idempotentParquetSink(stream, out, s"$dir/ckpt").start()
    try {
      input.addData((1L, "a", 1.0), (2L, "b", 2.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(names(out) === Seq("batch_id=0"))
    val landed = spark.read.parquet(s"$out/batch_id=0")
    assert(landed.schema.map(f => f.name -> f.dataType) === stream.schema.map(f => f.name -> f.dataType))
    assert(landed.count() === 0L)
  }

  test("spark.read.parquet of the output discovers batch_id and equals the input; progress reports the epoch's files") {
    val dir = tempDir("epoch-readback")
    val out = s"$dir/out"
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q     = StreamingPipelines.idempotentParquetSink(input.toDF().toDF("id", "s"), out, s"$dir/ckpt").start()
    val (b0, b1) = (Seq((1L, "a"), (2L, "b")), Seq((3L, "c"), (4L, null), (5L, "e")))
    try {
      input.addData(b0)
      q.processAllAvailable()
      input.addData(b1)
      q.processAllAvailable()
    } finally q.stop()

    val back = spark.read.parquet(out)
    assert(back.columns.toSeq === Seq("id", "s", "batch_id"))
    val expected = (b0.map { case (i, s) => Row(i, s, 0) } ++ b1.map { case (i, s) => Row(i, s, 1) }).sortBy(_.toString)
    assert(rows(back) === expected)

    val sink = q.recentProgress.filter(_.numInputRows > 0).last.sink
    val files = parquetFiles(s"$out/batch_id=1")
    assert(sink.description === s"ParquetEpochSink[$out]")
    assert(sink.metrics.get("numFiles") === files.size.toString)
    assert(sink.metrics.get("numBytes") === files.map(Files.size).sum.toString)
    assert(sink.metrics.get("numRows") === b1.size.toString)
  }

  test("the sink's tasks get a writer factory of a few KB and no Hadoop Configuration") {
    val schema = spark.range(1).selectExpr("id", "cast(id as string) s", "current_timestamp() ts", "array(id) a").schema
    val options = new CaseInsensitiveStringMap(Map("path" -> tempDir("epoch-factory")).asJava)
    val table = new ParquetEpochSink().getTable(schema, Array.empty, options)
    val write = table.asInstanceOf[SupportsWrite].newWriteBuilder(new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
      override def queryId(): String = "q"
      override def schema(): org.apache.spark.sql.types.StructType = table.schema()
    }).build().toStreaming
    val factory = write.createStreamingWriterFactory(new PhysicalWriteInfo { override def numPartitions(): Int = 1 })

    // every class in the factory's serialized object graph
    val seen = scala.collection.mutable.Set.empty[Class[_]]
    def serializedSize(o: AnyRef): Int = {
      val bytes = new ByteArrayOutputStream()
      val os = new ObjectOutputStream(bytes) {
        enableReplaceObject(true)
        override def replaceObject(obj: AnyRef): AnyRef = { seen += obj.getClass; obj }
      }
      os.writeObject(o)
      os.close()
      bytes.size()
    }
    val factorySize = serializedSize(factory)
    assert(!seen.exists(c => classOf[org.apache.hadoop.conf.Configuration].isAssignableFrom(c)), seen)
    assert(!seen.contains(classOf[SerializableConfiguration]))
    // what a DataFrameWriter job ships to its tasks instead: the session's
    // Hadoop conf. Measured with this schema in a local session: 3,100 B
    // against 114,000 B.
    val confSize = serializedSize(new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    assert(factorySize * 10 < confSize, s"writer factory $factorySize B against a Hadoop conf of $confSize B")
  }
}
