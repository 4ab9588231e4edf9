package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition}

import scala.util.control.NonFatal

/** Fixture loaders + session construction shared by Verify / Bench / tests.
  *
  * All query entry points receive `(spark, sfDir)` and load parquet through
  * here so scan-level concerns (the nanosecond-timestamp workaround, column
  * pruning) live in one place.
  */
object Tables {

  /** Confs every graft session needs. Applied at builder time (Verify /
    * Bench / tests) and, the SQL ones, defensively at runtime.
    *
    * - `nanosAsLong`: some generations of the `events` fixture store `ts`
    *   as parquet TIMESTAMP(NANOS), which Spark's vectorized reader rejects
    *   ([PARQUET_TYPE_ILLEGAL]); reading it as a long and converting in
    *   [[events]] keeps the scan vectorized. Harmless when the fixture is
    *   micros — [[events]] adapts to whichever type the scan surfaces.
    * - AQE on: at 100 TB, runtime coalescing / skew-join splitting matter
    *   far more than any static tuning we could do here.
    * - `fs.file.impl` / `fs.AbstractFileSystem.file.impl`: the `file`
    *   scheme through [[graft.fs.NioLocalFileSystem]] / [[graft.fs.NioLocalFs]].
    *   Without `libhadoop`, stock Hadoop forks `chmod` for every create and
    *   mkdir that carries a permission and `readlink` for every link check
    *   (FileContext's rename makes two): dozens of forks per streaming
    *   micro-batch across the checkpoint logs and the sink commit. These
    *   take effect when the SparkContext starts, so [[applyConfs]] skips
    *   them. Hadoop caches one `file` FileSystem per user for the JVM: one
    *   created from a conf without this key before the session starts
    *   stays stock (`LocalFsSpec` checks the test session).
    */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.hadoop.fs.file.impl" -> classOf[graft.fs.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.fs.NioLocalFs].getName
  )

  /** Re-applies the SQL confs of [[sessionConfs]] on every [[read]], for a
    * session not built by [[localSession]]. `spark.hadoop.*` keys are left
    * out: they act only at SparkContext start, and set here they would be
    * copied into every query's Hadoop conf.
    */
  def applyConfs(spark: SparkSession): Unit =
    sessionConfs.foreach { case (k, v) =>
      if (!k.startsWith("spark.hadoop.")) {
        try spark.conf.set(k, v)
        catch { case NonFatal(_) => () }
      }
    }

  /** Build a local session with graft confs. `cpus` also sizes
    * `spark.sql.shuffle.partitions` — on a real cluster this would instead
    * be ~2-3x total executor cores (or left to AQE's initial value). The
    * warehouse directory is named after the process and deleted when the
    * JVM exits: nothing can find it again after that.
    */
  def localSession(appName: String, cpus: String = "4"): SparkSession = {
    warehouseCleanup
    val b = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", warehouse.getPath)
      .config("spark.ui.enabled", "false")
      // catalog-level native functions (kmv_*, bloom_*, redact_pii, ...):
      // the same injection a cluster deployment gets from
      // spark.sql.extensions=graft.GraftExtensions; per-session register()
      // helpers remain available and keep the identical builders
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val warehouse = new java.io.File(s"/tmp/graft-warehouse-${ProcessHandle.current().pid()}")
  private lazy val warehouseCleanup = sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse))

  /** GRAFT_NO_ARTIFACT_CACHE=1: the [[Artifacts]] registry's no-cache mode. */
  lazy val noArtifactCache: Boolean =
    sys.env.get("GRAFT_NO_ARTIFACT_CACHE").exists(_.nonEmpty)

  /** Durable root for build-once artifacts (dedup signatures/pairs, IVF
    * assignments/centroids). Unset (the bench default) keeps artifacts as
    * session-scoped `localCheckpoint` blocks — fast, but an executor loss
    * fails later reuses. Set `-Dgraft.artifact.root=...` (or
    * GRAFT_ARTIFACT_ROOT) to route builds through the [[graft.sources.Sinks]]
    * layouts onto durable storage instead: first use writes the artifact
    * (partition-pruned / range-clustered parquet), every later use — in
    * this session or any other — reads it back. A `def`, not a lazy val,
    * so tests (and long-lived services) can redirect the root at runtime.
    */
  def artifactRoot: Option[String] =
    sys.props.get("graft.artifact.root").orElse(sys.env.get("GRAFT_ARTIFACT_ROOT")).filter(_.nonEmpty)

  /** Filesystem-safe key for an sfDir used under [[artifactRoot]]. The
    * sanitized form alone can collide ("/a/b" and "/a_b" both sanitize to
    * "_a_b" — under a shared root the cache would then silently serve one
    * dataset's signatures for another), so the raw string's hash is
    * appended to make distinct dirs distinct keys.
    */
  def artifactDirKey(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" +
      Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))

  /** Spread a starved frame over `defaultParallelism` tasks with one
    * round-robin `repartition`, ahead of a compute-heavy stage (shingle,
    * token or component explode feeding hashing or decimal aggregation).
    * Parquet scan parallelism is bounded by row-group count and the
    * fixtures are single-row-group files, so without this every post-scan
    * pipeline runs as ONE task. The corpus tables come spread already
    * ([[spreadTables]]). The rule reads only the session and the plan:
    *   - identity at `defaultParallelism` 1: `repartition(1)` still plans
    *     an `Exchange SinglePartition`, a shuffle for nothing;
    *   - identity on a narrow view (projections, filters) of a round-robin
    *     repartition to at least `defaultParallelism` partitions — read
    *     from the logical plan, since `df.rdd.getNumPartitions` runs a
    *     Spark job on a frame with an exchange;
    *   - otherwise spread on a local master, and on a cluster only a
    *     starved input (fewer partitions than `defaultParallelism`): a
    *     100 TB scan already yields thousands of splits, and repartitioning
    *     it would shuffle the whole corpus, text column included.
    * Round-robin repartition local-sorts for retry determinism
    * (SPARK-23207), so plans stay correct under stage recomputation.
    */
  def fanout(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val n  = sc.defaultParallelism
    if (isSpread(df.queryExecution.analyzed, n) || !spreads(n, sc.isLocal, df.rdd.getNumPartitions)) df
    else df.repartition(n)
  }

  // fanout's decision for a frame not spread already; a local master never reads the partition count
  private[graft] def spreads(parallelism: Int, isLocal: Boolean, inputPartitions: => Int): Boolean =
    parallelism > 1 && (isLocal || inputPartitions < parallelism)

  @scala.annotation.tailrec
  private def isSpread(plan: LogicalPlan, parallelism: Int): Boolean = plan match {
    case Repartition(n, true, _) => n >= parallelism
    case Project(_, child)       => isSpread(child, parallelism)
    case Filter(_, child)        => isSpread(child, parallelism)
    case _                       => false
  }

  /** Keyed [[fanout]]: repartition by `keys` into the session's configured
    * shuffle-partition count — the SAME exchange a downstream
    * groupBy/distinct on those keys would create, minus AQE's byte-based
    * coalescing. For compute-dense post-shuffle stages (tokenizer encode
    * folds, Viterbi DP) AQE's coalescing is exactly wrong: it sizes the
    * stage by shuffle BYTES, but these stages cost per ROW of compute, so
    * a few-MB frame collapses to ONE task carrying seconds of work
    * (measured r20: q_unigram_encode ran its whole DP in a single 1.6 s
    * task). Because the downstream aggregation reuses this partitioning,
    * the exchange count is UNCHANGED — this only pins the reducer count
    * where AQE would have collapsed it. On a local master it always
    * respreads; at cluster data volumes the exchange this replaces would
    * not have been coalesced anyway, so the plan is identical.
    *
    * On a cluster it applies [[fanout]]'s starvation check: it only
    * repartitions when the input has fewer partitions than
    * defaultParallelism. A well-partitioned cluster-scale input keeps its
    * existing exchange plan untouched — without the check, call sites
    * whose keyed partitioning is NOT reused downstream (a broadcast join
    * followed by a differently-keyed groupBy) would pay one corpus-scale
    * exchange for nothing (r20 ADVICE finding).
    */
  def fanoutBy(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val sp = df.sparkSession
    val sc = sp.sparkContext
    if (sc.isLocal || df.rdd.getNumPartitions < sc.defaultParallelism)
      df.repartition(sp.conf.get("spark.sql.shuffle.partitions", "200").toInt, keys: _*)
    else df
  }

  /** Materialize a frame that multiple downstream consumers (or an
    * iterative loop) will re-read, exactly once. Mode-gated via
    * `spark.graft.pin.mode` because the right mechanism differs by
    * deployment:
    *   - "local" (default on a local master): eager `localCheckpoint` —
    *     fastest, but the blocks live on executors ONLY and lineage is
    *     truncated, so one lost executor fails every later reuse. Right
    *     for single-JVM bench/test runs, wrong on preemptible clusters.
    *   - "persist" (default otherwise): `persist(DISK_ONLY)` + eager
    *     materialization. Lineage is KEPT — a lost executor's blocks
    *     recompute from source instead of failing the job. DISK_ONLY so
    *     the pinned frame never competes with shuffle/exec memory.
    *   - "reliable": eager `checkpoint()` to the session's checkpoint dir
    *     (shared storage) — survives executor loss without recompute;
    *     requires `sparkContext.setCheckpointDir` on durable storage.
    */
  def pin(df: DataFrame): DataFrame = {
    val sp   = df.sparkSession
    val mode = sp.conf.get("spark.graft.pin.mode", if (sp.sparkContext.isLocal) "local" else "persist")
    mode match {
      case "reliable" => df.checkpoint()
      case "persist" =>
        val p = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        p.count() // eager: consumers must share ONE materialization
        p
      case _ => df.localCheckpoint()
    }
  }

  /** [[pin]] a frame PRE-PARTITIONED on the key its per-call consumers
    * group/join/window by — the session-pin analogue of a bucketed table
    * (guide §2.4: operations keyed the same way share one exchange). The
    * consumer-side Exchange moves INTO the one-time build: every later
    * groupBy/Window on a prefix-subset of `keys` reads the pinned blocks
    * exchange-free, because HashPartitioning(keys) satisfies any
    * ClusteredDistribution whose clustering contains them.
    *
    * AQE is toggled off around the materialization only: with AQE on, the
    * checkpointed plan is an AdaptiveSparkPlan whose final partitioning
    * Catalyst records as UNKNOWN in the LogicalRDD, so the downstream
    * exchange would come back (measured: Exchange present with AQE on,
    * absent with it off). The toggle is scoped to the eager pin and
    * restored in a finally; queries never run under it.
    *
    * The keyed repartition is the exchange each consumer would otherwise
    * plan per query, so it is made at every parallelism. In durable-artifact
    * mode callers write parquet instead — the read-back carries no
    * partitioning and consumers keep their exchange.
    */
  private val pinKeyedLock = new Object

  def pinKeyed(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val sp = df.sparkSession
    if (keys.isEmpty) pin(df)
    else {
      val n     = sp.conf.get("spark.sql.shuffle.partitions", "200").toInt
      val keyed = df.repartition(n, keys: _*)
      // Serialize the toggle+pin: two concurrent builds could otherwise
      // interleave so that B captures A's temporary "false" as its `prev`
      // and restores it permanently, leaving AQE off for the session (the
      // bloomBytesCache lock-scope lesson, inverted: here the lock MUST
      // span the job, because the toggle exists only for its duration —
      // builds are one-time per artifact, so contention is negligible).
      // synchronized is reentrant, and no pin build triggers another
      // driver-side build mid-job, so this cannot self-deadlock.
      pinKeyedLock.synchronized {
        val prev = sp.conf.get("spark.sql.adaptive.enabled", "true")
        sp.conf.set("spark.sql.adaptive.enabled", "false")
        try pin(keyed)
        finally sp.conf.set("spark.sql.adaptive.enabled", prev)
      }
    }
  }

  /** [[pin]] for ITERATIVE loops (pointer doubling, Lloyd iterations):
    * these must TRUNCATE lineage every round — a lineage-retaining persist
    * doubles the logical plan per self-joining round (round k carries 2^k
    * copies of round 0's tree; measured: analyzer OOM within ~8 rounds of
    * the CC loop), so "persist" mode is structurally wrong here no matter
    * how fault-tolerant it is. Cluster modes therefore route to a RELIABLE
    * `checkpoint()` when a checkpoint dir is configured (shared-storage
    * truncation: survives executor loss), falling back to
    * `localCheckpoint` — the fast, non-reliable truncation — when not.
    */
  def pinIter(df: DataFrame): DataFrame = {
    val sp   = df.sparkSession
    val sc   = sp.sparkContext
    val mode = sp.conf.get("spark.graft.pin.mode", if (sc.isLocal) "local" else "persist")
    if (mode != "local" && sc.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
  }

  /** [[pin]] a tracked build's frame, then unpin the intermediates the
    * builder pinned — they have no consumer once the frame is materialized.
    */
  def pinTracked(built: (DataFrame, Seq[DataFrame])): DataFrame = {
    val pinned = pin(built._1)
    built._2.foreach(unpin)
    pinned
  }

  /** Chainable syntax for [[pin]]/[[pinIter]]:
    * `df.groupBy(...).agg(...).pin()`.
    */
  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    def pin(): DataFrame     = Tables.pin(df)
    def pinIter(): DataFrame = Tables.pinIter(df)
  }

  /** Release a [[pin]]/[[pinIter]]ned frame's storage — handles all three
    * mechanisms: localCheckpoint/checkpoint frames expose a `LogicalRDD`
    * (blocks unpersisted; for a RELIABLE checkpoint the materialized files
    * are deleted too — Spark's own cleaner only reclaims them at context
    * shutdown unless `cleanCheckpoints` is set, so an iterative loop would
    * otherwise stack one full frame copy per round on shared storage), and
    * persisted frames unpersist through the Dataset. Safe only once every
    * consumer has either finished or been eagerly pinned itself.
    */
  def unpin(df: DataFrame): Unit = {
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getCheckpointFile.foreach { dir =>
          try {
            val p  = new org.apache.hadoop.fs.Path(dir)
            val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            fs.delete(p, true)
          } catch { case scala.util.control.NonFatal(_) => () } // best-effort reclaim
        }
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
    df.unpersist(blocking = false)
  }

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** One resolved relation per (session, dir, table) — `spark.read.parquet`
    * re-infers the schema (a footer read) and rebuilds the relation on
    * every call, which measured as THE dominant share of the per-query
    * planning floor (~300ms -> ~36ms to plan the star join once reads are
    * reused). A catalog would resolve a table once for the same reason;
    * this is that, for the fixture loaders. Safe because the fixture dirs
    * are immutable inputs and DataFrames are immutable plan handles
    * (self-joins of a shared instance go through Spark's
    * DeduplicateRelations like any `df.join(df)`).
    */
  private val readCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    applyConfs(spark)
    // evict entries owned by stopped sessions: a long-lived JVM cycling
    // sessions would otherwise retain every dead session (and its resolved
    // relations) for the process lifetime
    readCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    readCache.computeIfAbsent((spark, dir, name), _ => {
      val df = spark.read.parquet(path(dir, name))
      if (spreadTables(name)) fanout(df) else df
    })
  }

  /** Tables read [[fanout]]-spread: their consumers explode, hash or score
    * per row. Column pruning and filter pushdown still move below the
    * exchange. The star-schema tables feed joins that AQE sizes, and stay bare.
    */
  private val spreadTables = Set("documents", "embeddings")

  // TPC-H-ish star schema (FIXTURES.md §B)
  def region(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")

  // LLM-pipeline tables, spread (see [[spreadTables]])
  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** All fixture tables by name — the catalog the SQL surface registers. */
  val tableNames: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every fixture table as a temp view so the whole engine is
    * reachable from `spark.sql(...)` — the API Pinot users actually speak.
    * Combined with [[graft.GraftExtensions]] (native function injection)
    * this makes plain SQL a first-class entry point: the same Catalyst
    * plans as the DataFrame surface, including the ns-timestamp handling
    * for `events` (views go through the same readers).
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    tableNames.foreach { n =>
      val df = n match {
        case "events" => events(spark, dir)
        case other    => read(spark, dir, other)
      }
      df.createOrReplaceTempView(n)
    }

  /** The event-stream table (the stand-in for the reference's Pulsar topic).
    *
    * `ts` adapts to the fixture's PHYSICAL type — the same logical instant
    * has two legal parquet encodings and the fixtures have shipped both:
    *
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it natively
    *     ([PARQUET_TYPE_ILLEGAL]); with `nanosAsLong=true` it arrives as
    *     LONG nanos and is converted with integer arithmetic — `ts div
    *     1000` stays in long space (a double division would lose precision
    *     above 2^53 and corrupt microseconds).
    *   - TIMESTAMP(MICROS) without timezone: arrives as TIMESTAMP_NTZ;
    *     cast to TIMESTAMP under the UTC session zone (a field-identity
    *     cast) so downstream `unix_timestamp` emission matches DuckDB's
    *     `epoch(ts)`, which reads the same naive value as UTC.
    *
    * Hard-coding either branch makes the whole events family fail analysis
    * on the other encoding (round-9 postmortem); the reference's decoder
    * is likewise tolerant of whatever the wire value parses as
    * (PulsarJSONMessageDecoder.java:61-73). [[graft.sources.TsParitySpec]]
    * pins NTZ→UTC epoch parity incl. DST-spanning and pre-1970 instants.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = read(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other (expected LONG nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }
}
