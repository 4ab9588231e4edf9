package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The build-once artifact registry: every frame the engine builds once per
  * fixture and shares across queries (dedup signatures/pairs, the IVF/PQ
  * index, graph score tables and censuses, tokenizer merge tables, corpus
  * ledgers, and the small per-query stats frames that must be scanned
  * once) is declared as one [[Spec]] and reached through [[get]] /
  * [[getTracked]]. One map keyed by (session, dir, artifact root, name)
  * holds them all.
  *
  * Three modes share the one path:
  *   - session (default): the first use builds and pins the frame
  *     ([[Tables.pin]], or [[Tables.pinKeyed]] when the spec declares pin
  *     keys — the consumers' Exchange moves into the one-time build); every
  *     later use in the session serves the pinned blocks. `localCheckpoint`
  *     blocks are non-reliable: an executor loss fails later reuses
  *     instead of recomputing, and entries live until their session stops.
  *   - durable (`graft.artifact.root` / GRAFT_ARTIFACT_ROOT set): the first
  *     use writes the artifact through its [[Layout]] under
  *     [[durablePath]] (committed under `_SUCCESS`, the build run's
  *     observe() counters persisted as `_metrics.json` so capped builds stay
  *     visible on reuse), and every later use — in this session or any
  *     other job — serves the parquet read-back. [[SessionOnly]] specs are
  *     pinned as in session mode. The root is part of the key, so
  *     redirecting it mid-session rebuilds or re-reads.
  *   - no-cache (GRAFT_NO_ARTIFACT_CACHE, used by scripts/gen_plans.sh so
  *     the plans show the real pipelines): an untracked build is returned
  *     with its full lineage; a tracked or pre-pinned build (an iterative
  *     loop, whose pins are structural) is materialized and replaces the
  *     previous generation for the same key, which is unpinned — repeated
  *     invocations never accumulate copies.
  *
  * Concurrency: first builds of one key are serialized on that key's slot,
  * so concurrent first uses share ONE build and ONE pin (a build-then-
  * `putIfAbsent` would pin a losing copy nothing unpins). Builds run
  * outside the map's own locks, so an artifact may build on another (pairs
  * on signatures) — the dependency graph is acyclic, so slot locks cannot
  * deadlock.
  */
object Artifacts {

  /** On-disk FORMAT VERSION of the durable artifacts, encoded in every
    * artifact's path (`.../<name>/fv=N`). Bump it whenever any builder's
    * output FORMULA or layout changes (the r15 teleport-constant fix is the
    * motivating case: it changed the graph_pagerank/graph_trustrank score
    * tables while the path stayed identical, so a deployment pointing
    * `graft.artifact.root` at a root populated by the previous build would
    * silently serve stale old-formula tables — the parity specs always use
    * a fresh temp root and can never catch that). With the version in the
    * path, a formula change makes old roots a cache MISS: the artifact is
    * rebuilt under the new `fv=` directory instead of replayed stale.
    * v3: the graph traversal family re-based on ONE settled σ frame —
    * `graph_sigma` now holds the (seed, node, d, sig) frame (previously
    * the path-count census, now `graph_pathcounts`), `graph_msbfs` is
    * gone (subsumed), and the σ per-level sum runs in decimal before its
    * clamp.
    */
  private[graft] val FormatVersion = 3

  /** The durable on-disk location of one build-once artifact: root /
    * sanitized-input-dir / artifact-name / format-version, so the
    * [[FormatVersion]] invalidation rule is uniform across families.
    */
  private[graft] def durablePath(root: String, dir: String, name: String): String =
    s"$root/${Tables.artifactDirKey(dir)}/$name/fv=$FormatVersion"

  /** How an artifact is laid out under the durable root. */
  sealed trait Layout

  /** Range-partitioned and sorted on `key` into `files` parquet files —
    * the id a downstream join or probe filters on, so footer stats prune
    * the read-back scan.
    */
  final case class RangeSorted(key: String, files: Int = 4) extends Layout

  /** Hive-partitioned by `partitionBy`, sorted by `sortBy` within each
    * partition — the inverted-file layout (`ivf_assignments`): a probe
    * filtered to one cluster reads ~1/K of the index.
    */
  final case class Partitioned(partitionBy: Seq[String], sortBy: Seq[String]) extends Layout

  /** Never written durably: an intermediate (a component view, a shared
    * pair frame, a query's stats census) whose session pin is its only
    * materialization in every mode.
    */
  case object SessionOnly extends Layout

  /** One declared artifact. `pinKeys`: the column(s) its per-call
    * consumers group/join/window by, for [[Tables.pinKeyed]].
    * `prePinned`: the builder returns the frame already pinned (an
    * iterative loop's settled pinIter frame), so the session path keeps it
    * as-is instead of writing a second copy, and the durable path unpins it
    * once the parquet is written. Declared only through [[declare]].
    */
  final case class Spec private (name: String, layout: Layout, pinKeys: Seq[String], prePinned: Boolean)

  private val declared = new java.util.concurrent.ConcurrentLinkedQueue[Spec]()

  /** Declare an artifact; its name is its durable directory, so names must
    * be unique across modules (ArtifactsSpec checks every declared spec).
    */
  private[graft] def declare(
      name: String,
      layout: Layout,
      pinKeys: Seq[String] = Nil,
      prePinned: Boolean = false
  ): Spec = {
    val spec = Spec(name, layout, pinKeys, prePinned)
    declared.add(spec)
    spec
  }

  /** Every spec declared by the modules initialized so far. */
  private[graft] def declaredSpecs: Seq[Spec] = declared.toArray(Array.empty[Spec]).toSeq

  private final class Slot { var frame: DataFrame = _ }

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String, String), Slot]()

  /** The artifact `spec` of fixture `dir`, built by `build` on first use. */
  private[graft] def get(s: SparkSession, dir: String, spec: Spec)(build: => DataFrame): DataFrame =
    resolve(s, dir, spec, tracked = false)((build, Nil))

  /** [[get]] for a builder that also RETURNS the intermediate frames it
    * pinned: once the artifact is materialized (pin or parquet) they have
    * no further consumer and are unpinned — without this every build leaks
    * its loop's checkpoint generations for the session lifetime.
    */
  private[graft] def getTracked(s: SparkSession, dir: String, spec: Spec)(
      build: => (DataFrame, Seq[DataFrame])
  ): DataFrame =
    resolve(s, dir, spec, tracked = true)(build)

  private def resolve(s: SparkSession, dir: String, spec: Spec, tracked: Boolean)(
      build: => (DataFrame, Seq[DataFrame])
  ): DataFrame = {
    val root = Tables.artifactRoot
    // evict entries owned by stopped sessions (the Tables.read rule)
    registry.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val slot = registry.computeIfAbsent((s, dir, root.getOrElse(""), spec.name), _ => new Slot)
    slot.synchronized {
      if (Tables.noArtifactCache) {
        if (!tracked && !spec.prePinned) build._1
        else {
          val (frame, pins) = build
          val built         = materialize(spec, frame, pins)
          Option(slot.frame).foreach(Tables.unpin)
          slot.frame = built
          built
        }
      } else {
        if (slot.frame == null) slot.frame = root match {
          case Some(r) if spec.layout != SessionOnly =>
            graft.sources.Sinks.durableArtifact(s, durablePath(r, dir, spec.name)) { p =>
              val (frame, pins) = build
              val metricNames = frame.queryExecution.analyzed.collect {
                case m: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics => m.name
              }.toSet
              val metrics = graft.sources.Sinks.captureObservedMetrics(s, metricNames)(write(spec.layout, frame, p))
              if (metrics.nonEmpty) graft.sources.Sinks.writeMetricsJson(s, p, metrics)
              (if (spec.prePinned) frame +: pins else pins).foreach(Tables.unpin)
            }
          case _ =>
            val (frame, pins) = build
            materialize(spec, frame, pins)
        }
        slot.frame
      }
    }
  }

  private def materialize(spec: Spec, frame: DataFrame, pins: Seq[DataFrame]): DataFrame = {
    val pinned =
      if (spec.prePinned) frame
      else if (spec.pinKeys.nonEmpty) Tables.pinKeyed(frame, spec.pinKeys.map(org.apache.spark.sql.functions.col): _*)
      else Tables.pin(frame)
    pins.foreach(Tables.unpin)
    pinned
  }

  private def write(layout: Layout, frame: DataFrame, path: String): Unit = layout match {
    case RangeSorted(key, files)         => graft.sources.Sinks.writeRangeSorted(frame, path, key, files)
    case Partitioned(partitionBy, sortBy) => graft.sources.Sinks.writePartitioned(frame, path, partitionBy, sortBy)
    case SessionOnly                     => throw new IllegalStateException("session-only artifacts are never written")
  }

  /** A directory under /tmp built once per format `version`: the version
    * is the content of its `_SUCCESS` marker, so a directory left by code
    * with another version (or torn mid-build: no marker) is rebuilt rather
    * than served. Builds are serialized JVM-wide with the marker re-checked
    * under the lock, so two sessions cannot race one directory's write.
    * Shared by the event-log fixture and the star-tree cube.
    */
  private[graft] def buildOnceDir(dir: String, version: String)(build: String => Unit): String = {
    val marker = new java.io.File(dir, "_SUCCESS")
    def current =
      marker.isFile && new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == version
    if (!current) dirBuildLock.synchronized {
      if (!current) {
        marker.delete()
        build(dir)
        marker.getParentFile.mkdirs()
        java.nio.file.Files.write(marker.toPath, version.getBytes("UTF-8"))
      }
    }
    dir
  }

  private val dirBuildLock = new Object
}
