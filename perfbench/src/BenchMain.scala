package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JVM side of the benchmark: starts one local Spark session, sets the
  * workload up, runs the timed loop and writes every raw sample to
  * `<work>/raw.json`. `run.py` turns the samples into metrics and checks the
  * outputs this process leaves under `<work>` against DuckDB.
  *
  * Everything is driven through the engine's public surface:
  * `SparkEntry.queries`, `SourceQueries.logDirFor`, `StarTree.cubeDirFor`,
  * `EventLogWriter.materializeFrom`, the `graft-events` source and
  * `StreamingPipelines.idempotentParquetSink`. Layers are timed from
  * outside, around those calls and through Spark's public listeners.
  */
object BenchMain {

  /** A timed interval. All spans of one query execution share `id`;
    * `parent` names the enclosing span of the same id ("" for the root).
    */
  final case class Span(id: String, name: String, parent: String, start_ms: Double, end_ms: Double)

  /** Spans of a traced run, kept in memory until the end. */
  final class Trace(val on: Boolean) {
    private val origin = System.nanoTime()
    val originEpochMs  = System.currentTimeMillis()
    val spans          = mutable.ArrayBuffer.empty[Span]
    def now: Double    = (System.nanoTime() - origin) / 1e6
    def add(id: String, name: String, parent: String, start: Double, end: Double): Unit =
      if (on) spans.synchronized(spans += Span(id, name, parent, start, end))
    def span[T](id: String, name: String, parent: String)(f: => T): T =
      if (!on) f
      else {
        val s = now
        try f
        finally add(id, name, parent, s, now)
      }
  }

  /** Job, stage and task counts attributed to the operation id set as a
    * local property on the thread that submitted the job; jobs without one
    * are booked under "other".
    */
  final class Counts extends SparkListener {
    val OpKey = "graftbench.op"
    final class Op {
      var jobs, stages, tasks, singleTaskStages = 0L
      var shuffleBytes, inputBytes, droppedMessages = 0L
      val taskMs  = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    }
    val ops          = mutable.Map.empty[String, Op]
    private val stageOp = mutable.Map.empty[Int, String]
    @volatile var lastEventNs = System.nanoTime()
    private def op(id: String): Op = ops.getOrElseUpdate(id, new Op)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      lastEventNs = System.nanoTime()
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("other")
      op(id).jobs += 1
      e.stageIds.foreach(s => stageOp(s) = id)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      lastEventNs = System.nanoTime()
      val id = stageOp.getOrElse(e.stageInfo.stageId, "other")
      val o  = op(id)
      o.stages += 1
      if (e.stageInfo.numTasks == 1) o.singleTaskStages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      lastEventNs = System.nanoTime()
      val o = op(stageOp.getOrElse(e.stageId, "other"))
      o.tasks += 1
      o.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        o.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        o.inputBytes += m.inputMetrics.bytesRead
      }
      // the source's droppedMessages custom metric reaches listeners as a
      // task accumulator update named by the metric's description
      e.taskInfo.accumulables.foreach { a =>
        if (a.name.exists(_.startsWith("messages dropped")))
          a.update.foreach(v => o.droppedMessages += v.toString.toLong)
      }
    }

    /** Wait until the listener bus has been quiet for a moment. */
    def settle(): Unit = {
      while ((System.nanoTime() - lastEventNs) < 300L * 1000 * 1000) Thread.sleep(50)
    }

    def summary(id: String): Map[String, Any] = synchronized {
      val o = op(id)
      val shares = o.taskMs.values.toSeq.flatMap { ts =>
        val sum = ts.sum
        if (sum > 0) Some(ts.max.toDouble / sum) else None
      }
      Map(
        "jobs" -> o.jobs, "stages" -> o.stages, "tasks" -> o.tasks,
        "single_task_stages" -> o.singleTaskStages, "shuffle_bytes" -> o.shuffleBytes,
        "input_bytes" -> o.inputBytes, "dropped_messages" -> o.droppedMessages,
        "max_task_shares" -> shares
      )
    }
  }

  /** Heap and GC readings over the timed region. */
  object Jvm {
    private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    private var gc0 = 0L
    def start(): Unit = { heapPools.foreach(_.resetPeakUsage()); gc0 = gcMs }
    def readings(): Map[String, Double] = Map(
      "gc_ms" -> (gcMs - gc0).toDouble,
      "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    )
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** The engine's two on-disk caches under /tmp, keyed by the sf dir
    * (`SourceQueries.logDirFor`, `StarTree.cubeDirFor`).
    */
  def removeEngineCaches(sfDir: String): Unit = {
    val key = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Option(new File("/tmp").listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.getName == s"graft-eventlog-$key" || f.getName.startsWith(s"graft-startree-$key-"))
        deleteRecursively(f)
    }
  }

  def session(cpus: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
    graft.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val arg      = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = arg("workload")
    val rounds   = arg("rounds").toInt
    val trace    = new Trace(arg("trace") == "1")
    val sfDir    = arg("sf-dir")
    val work     = arg("work-dir")
    val cpus     = arg("cpus").toInt
    val setupReps = arg("setup-reps").toInt

    val spark = session(cpus, work)
    val counts = new Counts
    if (trace.on) spark.sparkContext.addSparkListener(counts)
    val sessionReadyS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val out: Map[String, Any] = workload match {
      case "ingest" => Ingest.run(spark, arg, sfDir, work, rounds, setupReps, trace, counts)
      // a short pass over both paths, so the build can record the classes
      // they load into a class-data-sharing archive
      case "train" =>
        QueryLoop.run(spark, arg, sfDir, work, rounds, setupReps, trace, counts) ++
          Ingest.run(spark, arg, sfDir, work, rounds, setupReps, trace, counts)
      case _ => QueryLoop.run(spark, arg, sfDir, work, rounds, setupReps, trace, counts)
    }

    val raw = out ++ Map(
      "workload" -> workload,
      "session_start_s" -> sessionReadyS,
      "trace_origin_epoch_ms" -> trace.originEpochMs,
      "spans" -> trace.spans.toSeq
    )
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(work, "raw.json"), mapper.writeValueAsBytes(raw))
    spark.stop()
    removeEngineCaches(sfDir)
  }

  /** Time `f` in seconds. */
  def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The `olap` and `corpus` closed loop: one client, one query at a time. */
object QueryLoop {
  import BenchMain._

  def run(
      spark: SparkSession,
      arg: Map[String, String],
      sfDir: String,
      work: String,
      rounds: Int,
      setupReps: Int,
      trace: Trace,
      counts: Counts
  ): Map[String, Any] = {
    val queries = graft.SparkEntry.queries
    val names   = arg("mix").split(",").toSeq
    val warmup  = arg("warmup").toInt
    names.foreach(n => require(queries.contains(n), s"unknown query: $n"))

    // set-up, repeated: fresh engine caches, the event log and star-tree
    // cube they hold rebuilt, and full-column warm-up scans
    val setupS = (1 to setupReps).map { _ =>
      timed {
        removeEngineCaches(sfDir)
        graft.operators.SourceQueries.logDirFor(spark, sfDir)
        graft.operators.StarTree.cubeDirFor(spark, sfDir)
        Seq(graft.Tables.lineitem _, graft.Tables.orders _, graft.Tables.documents _,
          graft.Tables.embeddings _, graft.Tables.events _)
          .foreach(t => noop(t(spark, sfDir)))
      }
    }

    // Spark's own execution time of each write, recorded as a child span of
    // operators.exec once the run is over
    val executionMs = mutable.Map.empty[String, Double]
    if (trace.on) spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val id = spark.sparkContext.getLocalProperty(counts.OpKey)
        if (id != null) executionMs.synchronized(executionMs(id) = durationNs / 1e6)
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    /** One query: build the frame, (traced) force the physical plan, run
      * it. The cold pass (0) writes the result as one parquet file for the
      * checks; warm-up and warm passes run it into the noop sink. Returns
      * wall seconds.
      */
    val resultsDir = s"$work/results"
    def one(name: String, pass: Int, tag: String = ""): Double = {
      val id = s"$name#$tag$pass"
      spark.sparkContext.setLocalProperty(counts.OpKey, id)
      try {
        val t0 = trace.now
        val s0 = System.nanoTime()
        val df = trace.span(id, "operators.build", "query")(queries(name)(spark, sfDir))
        if (trace.on) trace.span(id, "operators.plan", "query")(df.queryExecution.executedPlan)
        trace.span(id, "operators.exec", "query") {
          if (pass == 0) df.coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$name")
          else noop(df)
        }
        val wall = (System.nanoTime() - s0) / 1e9
        trace.add(id, "query", "", t0, trace.now)
        wall
      } finally spark.sparkContext.setLocalProperty(counts.OpKey, null)
    }

    def storage(): (Int, Long) = {
      val infos = spark.sparkContext.getRDDStorageInfo
      (spark.sparkContext.getPersistentRDDs.size, infos.map(i => i.memSize + i.diskSize).sum)
    }

    System.gc()
    Jvm.start()
    // cold pass: first run of every query in this session, artifact builds
    // included, always in the listed order so that each build is paid by
    // the same query in every run
    val cold = names.map(n => n -> one(n, 0)).toMap
    val (pinnedRdds, pinnedBytes) = storage()
    // the seed sets the order of each warm-up and warm pass
    val order = new scala.util.Random(arg("seed").toLong)
    // warm-up passes, not timed: the JIT is still compiling after the
    // cold pass
    (1 to warmup).foreach(i => order.shuffle(names).foreach(n => one(n, i, "w")))
    // warm passes: a fixed number, so every run does the same work
    val warm   = mutable.ArrayBuffer.empty[Map[String, Double]]
    val growth = mutable.ArrayBuffer.empty[Long]
    while (warm.size < rounds) {
      System.gc()
      val before = storage()._2
      val pass   = warm.size + 1
      warm += order.shuffle(names).map(n => n -> one(n, pass)).toMap
      growth += storage()._2 - before
    }
    val jvm = Jvm.readings()

    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }

    val layers: Map[String, Any] =
      if (!trace.on) Map.empty
      else {
        counts.settle()
        executionMs.synchronized(executionMs.toMap).foreach { case (id, ms) =>
          trace.spans.find(s => s.id == id && s.name == "operators.exec")
            .foreach(e => trace.add(id, "sql.execution", "operators.exec", e.end_ms - ms, e.end_ms))
        }
        Map("counts" -> (0 to warm.size).flatMap(p => names.map(n => s"$n#$p" -> counts.summary(s"$n#$p"))).toMap)
      }

    Map(
      "setup_reps_s" -> setupS,
      "queries" -> names,
      "warmup" -> warmup,
      "module" -> names.map(n => n -> moduleOf(n)).toMap,
      "cold_s" -> cold,
      "warm_s" -> warm.toSeq,
      "pinned_rdds" -> pinnedRdds,
      "pinned_bytes" -> pinnedBytes,
      "warm_growth_bytes" -> growth.toSeq,
      "jvm" -> jvm,
      "oracle_sql" -> oracle,
      "layers" -> layers
    )
  }

  /** Query name -> operator module, from each module's public `defs`. */
  lazy val moduleOf: Map[String, String] = {
    import graft.operators._
    Seq(
      "Relational" -> Relational.defs, "Relational2" -> Relational2.defs, "Events" -> Events.defs,
      "Analytics" -> Analytics.defs, "StarTree" -> StarTree.defs, "TimeSeries" -> TimeSeries.defs,
      "SourceQueries" -> SourceQueries.defs, "Dedup" -> Dedup.defs, "Similarity" -> Similarity.defs,
      "IvfSimilarity" -> IvfSimilarity.defs, "Graph" -> Graph.defs, "TextAnalysis" -> TextAnalysis.defs,
      "NaiveBayes" -> NaiveBayes.defs, "Unigram" -> Unigram.defs, "Bpe" -> Bpe.defs,
      "WordPiece" -> WordPiece.defs, "PackSequences" -> PackSequences.defs,
      "Multimodal" -> Multimodal.defs, "Dsir" -> Dsir.defs,
      "CorpusPipeline" -> graft.pipelines.CorpusPipeline.defs
    ).flatMap { case (m, defs) => defs.map(_.name -> m) }.toMap
  }
}

/** The `ingest` workload: one streaming query drains a fresh event log. */
object Ingest {
  import BenchMain._

  /** Rewrite the log lines of the injected event ids with a truncated copy
    * of their JSON payload: same offset, bytes no JSON parser accepts.
    */
  def inject(logDir: String, ids: Set[Long]): Unit =
    graft.sources.EventLogSource.partitionFiles(logDir).foreach { case (_, f) =>
      val lines = Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.map { line =>
        val tab = line.indexOf('\t')
        val off = line.substring(0, tab).toLong
        val id  = graft.sources.OffsetCodec.ledgerId(off) * 1000 + graft.sources.OffsetCodec.entryId(off)
        if (ids.contains(id)) {
          val payload = line.substring(tab + 1)
          line.substring(0, tab + 1) + payload.substring(0, payload.length / 2)
        } else line
      }
      Files.write(f.toPath, lines.asJava, StandardCharsets.UTF_8)
    }

  def run(
      spark: SparkSession,
      arg: Map[String, String],
      sfDir: String,
      work: String,
      rounds: Int,
      setupReps: Int,
      trace: Trace,
      counts: Counts
  ): Map[String, Any] = {
    import org.apache.spark.sql.functions.col
    val injected = new String(Files.readAllBytes(Paths.get(arg("inject"))), StandardCharsets.UTF_8)
      .split(",").filter(_.nonEmpty).map(_.trim.toLong).toSet
    val maxEvents = arg("events").toLong
    val logDir = s"$work/ingest/log"
    val extractor = "graft.sources.JsonEventExtractor"

    def source(batch: Boolean): DataFrame = {
      val opts = Map("path" -> logDir, graft.sources.RecordExtractor.OptionKey -> extractor)
      val fmt  = graft.sources.EventLogSource.ShortName
      if (batch) spark.read.format(fmt).options(opts).load()
      else spark.readStream.format(fmt).options(opts).load()
    }

    // set-up, repeated: a fresh log materialized from the events table,
    // the malformed payloads injected, and one batch scan of it
    spark.sparkContext.setLocalProperty(counts.OpKey, "setup")
    val setupS = (1 to setupReps).map { _ =>
      timed {
        deleteRecursively(new File(s"$work/ingest"))
        val events = graft.Tables.events(spark, sfDir).where(col("event_id") < maxEvents)
        graft.sources.EventLogWriter.materializeFrom(events, logDir, 4)
        inject(logDir, injected)
        noop(source(batch = true))
      }
    }

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val drainOf  = mutable.Map.empty[java.util.UUID, Int]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
    }
    spark.streams.addListener(listener)

    /** One drain: Trigger.AvailableNow over the whole log, into a fresh
      * checkpoint and output directory. Drain 0 is cold, drains from 1 are
      * timed, and warm-up drains, not timed, have negative numbers.
      * Returns wall seconds.
      */
    def drain(n: Int): Double = {
      val ckpt = s"$work/ingest/ckpt-$n"
      val outDir = s"$work/ingest/out-$n"
      // the stream's thread inherits this, so its jobs are booked per drain
      spark.sparkContext.setLocalProperty(counts.OpKey, s"drain-$n")
      val t0 = trace.now
      var q: StreamingQuery = null
      val wall = timed {
        q = graft.streaming.StreamingPipelines
          .idempotentParquetSink(source(batch = false), outDir, ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
      trace.add(s"drain-$n", "drain", "", t0, trace.now)
      drainOf(q.id) = n
      // the listener bus delivers progress events asynchronously
      while (progress.asScala.count(_.id == q.id) < q.recentProgress.length) Thread.sleep(10)
      wall
    }

    System.gc()
    Jvm.start()
    val cold = drain(0)
    val warmup = arg("warmup").toInt
    (1 to warmup).foreach(i => drain(-i))
    val warm = mutable.ArrayBuffer.empty[Double]
    while (warm.size < rounds) {
      System.gc()
      warm += drain(warm.size + 1)
    }
    val jvm = Jvm.readings()
    spark.streams.removeListener(listener)

    val triggers = progress.asScala.toSeq.map { p =>
      Map(
        "drain" -> drainOf(p.id),
        "batch_id" -> p.batchId,
        "rows" -> p.numInputRows,
        "timestamp" -> p.timestamp,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      )
    }
    val layers: Map[String, Any] =
      if (!trace.on) Map.empty
      else {
        counts.settle()
        Map("drains" -> (-warmup to warm.size).map(n => n.toString -> counts.summary(s"drain-$n")).toMap)
      }
    val bytesWritten = Files.walk(Paths.get(s"$work/ingest/out-1")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(p => Files.size(p)).sum

    Map(
      "setup_reps_s" -> setupS,
      "cold_s" -> cold,
      "warmup_drains" -> warmup,
      "drains_s" -> warm.toSeq,
      "triggers" -> triggers,
      "jvm" -> jvm,
      "bytes_written" -> bytesWritten,
      "layers" -> layers
    )
  }
}
