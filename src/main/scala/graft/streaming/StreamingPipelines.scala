package graft.streaming

import graft.Tables
import graft.Tables.PinOps
import graft.sources.JsonDecode
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Typed rows for the custom-state sessionizer. */
case class UserEvent(ts: java.sql.Timestamp, user_id: Long)
case class UserSession(user_id: Long, start: java.sql.Timestamp, end: java.sql.Timestamp, n: Long)

/** Open-session state for [[StreamingPipelines.statefulSessions]]. */
case class SessState(startMs: Long, lastMs: Long, n: Long)

/** Typed rows for the streaming funnel. */
case class TypedEvent(ts: java.sql.Timestamp, user_id: Long, event_type: String)

/** Per-user last-event state for [[StreamingPipelines.transitionStream]]. */
case class TransState(lastMs: Long, lastType: String)

/** One observed step for [[StreamingPipelines.transitionStream]]. */
case class Transition(from_type: String, to_type: String)

/** Per-user funnel state: timestamp at which each stage index was committed
  * (in order; stages.length entries max), plus a bounded buffer of
  * not-yet-committed stage events (stage index + event-time ms, parallel
  * seqs) — candidates waiting either for a predecessor stage or for the
  * watermark to pass their event time (see
  * [[StreamingPipelines.streamingFunnel]]'s delayed-commit rule). The
  * buffer is pruned against the watermark each invocation, so it holds
  * O(in-flight-window) events, not the stream.
  *
  * CHECKPOINT COMPATIBILITY: this case class is the
  * `flatMapGroupsWithState` state encoder schema. `pendingStage`/
  * `pendingMs` were added in round 3 — restarting a streaming funnel from a
  * checkpoint written before that change fails state deserialization
  * (Spark cannot evolve flatMapGroupsWithState state schemas); start a
  * fresh checkpoint when this class changes shape. Round 6's completion
  * tombstone changed no fields (a tombstone is just reachedMs full +
  * empty buffers), so round-5 checkpoints resume cleanly — completed
  * users absent from an old checkpoint simply predate replay protection.
  */
case class FunnelState(
    reachedMs: Seq[Long],
    pendingStage: Seq[Int] = Seq.empty,
    pendingMs: Seq[Long] = Seq.empty
)

/** Emitted once per user per newly-reached stage. */
case class FunnelProgress(user_id: Long, stage: Int, stage_name: String, ts: java.sql.Timestamp)

case class ValuedEvent(ts: java.sql.Timestamp, event_type: String, value: Double)
case class WelfordState(n: Long, mean: Double, m2: Double)
case class Anomaly(event_type: String, ts: java.sql.Timestamp, value: Double, z: Double)

/** Streaming forms of the engine's event pipeline — the rebuilt surface of
  * the reference plugin (SURVEY §3.1): partitioned scan -> JSON decode
  * (drop-on-malformed) -> watermarked event-time aggregation -> sink, on
  * Structured Streaming.
  *
  * Every transform here is input-agnostic: pass a batch frame and it runs as
  * a batch query (the oracle-checked twins in [[graft.operators.Events]]);
  * pass a `readStream`/MemoryStream frame and Spark plans the incremental
  * stateful version. That symmetry is the test strategy (SURVEY §5.4):
  * DuckDB oracles the batch twin, scalatest drives the streaming form
  * through MemoryStream including checkpoint restart.
  *
  * State-size discipline at 100 TB (SURVEY §7.5.2): every stateful op takes
  * an explicit watermark so state is bounded — dropDuplicates keeps one key
  * per watermark horizon, windows expire, sessions close.
  */
object StreamingPipelines {

  /** Decode the JSON payload column against the host-supplied schema,
    * dropping malformed payloads (reference `PulsarJSONMessageDecoder`
    * semantics), keeping envelope columns.
    */
  def decoded(
      events: DataFrame,
      payloadCol: String,
      schema: StructType,
      fields: Seq[String],
      passthrough: Seq[String]
  ): DataFrame =
    JsonDecode.decode(events, payloadCol, schema, fields, passthrough)

  /** Streaming approximate distinct per group via the KMV theta sketch —
    * the serving-side capability the reference's host pairs with stream
    * ingest (Pinot DISTINCTCOUNTTHETASKETCH over a Pulsar table), expressed
    * as a Structured Streaming stateful aggregation: [[graft.functions
    * .KmvHashes]] is a TypedImperativeAggregate, so its buffer (<= k
    * unboxed doubles per group) IS the state-store entry, partial merges
    * run per micro-batch, and the estimate stays mergeable across batches
    * by construction. State is O(groups x k) regardless of stream length —
    * the property that makes distinct-counting viable on an unbounded
    * 100 TB/day feed where exact per-group sets would grow without bound.
    *
    * Run with update/complete output (an unwatermarked global aggregate);
    * below k distinct values the estimate is EXACT, so the streaming result
    * equals the batch `count(DISTINCT ...)` there — the cross-batch
    * state-merge pin in StreamingPipelinesSpec.
    */
  def streamingKmvDistinct(
      events: DataFrame,
      groupCol: String = "event_type",
      valueCol: String = "user_id",
      k: Int = 256
  ): DataFrame = {
    graft.functions.KmvSketch.register(events.sparkSession)
    // same md5-prefix uniform hash as the batch KMV queries: the streaming
    // estimate is reproducible (and oracle-comparable) by construction
    val h = conv(substring(md5(col(valueCol).cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    events
      .withColumn("_h", h)
      .groupBy(col(groupCol))
      .agg(expr(s"kmv_hashes(_h, $k)").as("hs"))
      .select(
        col(groupCol),
        graft.functions.KmvSketch.estimate(col("hs"), k).as("distinct_est")
      )
  }

  /** Streaming frequency tracking via the count-min sketch — the
    * real-time point-query companion to [[streamingKmvDistinct]] (Pinot
    * serves the DataSketches frequency family over stream-ingested tables
    * the same way). [[graft.functions.CmsAgg]]'s buffer (one d*w primitive
    * long array) IS the state-store entry; counters merge by element-wise
    * ADD per micro-batch, and since counter merge is LOSSLESS the
    * streaming estimate after any number of batches equals the batch
    * estimate over the concatenated input BIT-FOR-BIT (pinned in the
    * spec) — not just within sketch error. State is O(d*w) total for a
    * global sketch regardless of stream length or key cardinality: the
    * property that makes per-key frequency monitoring viable on an
    * unbounded feed where exact per-key counters grow with the vocabulary.
    *
    * Emits one row per probe key per trigger (update/complete output —
    * unwatermarked global aggregate): (probe_key, est), est >= the true
    * running count always. The bucket rule is the sliced-md5 scheme of
    * `q_cms_freq`, so a batch oracle can recompute any estimate exactly.
    */
  def streamingCmsFrequency(
      events: DataFrame,
      probeKeys: Seq[String],
      keyCol: String = "event_type",
      depth: Int = 4,
      width: Int = 64
  ): DataFrame = {
    require(probeKeys.nonEmpty, "streamingCmsFrequency needs at least one probe key")
    graft.functions.CountMinSketch.register(events.sparkSession)
    def buckets(t: Column) = graft.functions.CountMinSketch.bucketsCol(t, depth, width)
    events
      .select(buckets(col(keyCol).cast("string")).as("bks"))
      .agg(expr(s"cms_agg(bks, $depth, $width)").as("sk"))
      .select(explode(array(probeKeys.map(lit): _*)).as("probe_key"), col("sk"))
      .withColumn("bks", buckets(col("probe_key")))
      .select(col("probe_key"), expr("cms_query(sk, bks)").as("est"))
  }

  /** Streaming per-window top-k via the [[graft.functions.TopK]] typed
    * aggregate — the leaderboard-over-a-stream shape (top users by value
    * per hour). Same state math as the batch `q_topk_pergroup` rationale:
    * as an Aggregator the buffer holds at most k rows per (window, group),
    * so the state store carries O(windows x groups x k) — a ranking window
    * over the stream would need every row. Watermark expires closed
    * windows' state.
    *
    * Emits one row per (window start, group, rank 1..k).
    */
  def streamingWindowedTopK(
      events: DataFrame,
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      window_ : String = "1 hour",
      k: Int = 3
  ): DataFrame = {
    val fn = graft.functions.TopK.register(events.sparkSession, k)
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(expr(s"$fn(value, user_id)").as("top"))
      .select(
        col("window.start").as("wstart"),
        col("event_type"),
        posexplode(col("top")).as(Seq("i", "s"))
      )
      .select(
        col("wstart"),
        col("event_type"),
        (col("i") + 1).cast("long").as("rank"),
        col("s.key").as("user_id"),
        col("s.score").as("value")
      )
  }

  /** Tumbling-window counts per event_type with a watermark bounding late
    * data (and state).
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      window_ : String = "1 hour"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("wstart"),
        col("event_type"),
        col("n"),
        col("sum_value")
      )

  /** Streaming dedup on a key set — the S7 `readCompacted` analogue: at most
    * one row per key within the watermark horizon (first occurrence wins;
    * state for a key expires once the watermark passes it).
    */
  def dedupByKey(
      events: DataFrame,
      keys: Seq[String],
      tsCol: String = "ts",
      watermark: String = "10 minutes"
  ): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keys)

  /** Build the serialized gram Bloom filter a [[decontaminateStream]]
    * probe needs: one mergeable `bloom_agg` over the benchmark/eval
    * corpus's distinct n-grams. The single-row collect is the FILTER (a
    * few MB of bits, bounded by numBits/8) — never the grams; the
    * aggregation tree ships one partial buffer per partition. At 100 TB
    * the eval corpus is the small side by construction (benchmarks are
    * MBs, the contamination target is the stream).
    */
  def buildGramBloom(
      evalDocs: DataFrame,
      textCol: String = "text",
      gramN: Int = 13,
      numBits: Int = 1 << 23,
      numHashes: Int = 5
  ): Array[Byte] = {
    graft.functions.BloomFilter.register(evalDocs.sparkSession)
    evalDocs
      .select(split(col(textCol), " ").as("_t"))
      .select(
        explode(
          when(
            size(col("_t")) >= gramN,
            expr(s"transform(sequence(0, size(_t) - $gramN), i -> md5(concat_ws(' ', slice(_t, i + 1, $gramN))))")
          ).otherwise(expr("array()"))
        ).as("g")
      )
      .agg(expr(s"bloom_agg(g, $numBits, $numHashes)"))
      .head()
      .getAs[Array[Byte]](0)
  }

  /** Streaming decontamination-on-ingest: tag each arriving document with
    * how many of its n-grams hit a PRE-BUILT broadcast Bloom filter of
    * eval-corpus grams ([[buildGramBloom]]).
    *
    * Deliberately MAP-ONLY — no explode-then-regroup (a streaming
    * aggregation would need a watermark and per-doc state): grams are
    * computed and probed inside higher-order functions on the row, so the
    * operator is stateless, shuffle-free, and works identically in batch
    * and streaming. The filter bytes travel as a literal the codegen
    * hoists into a reference object — zero per-row decode.
    *
    * Guarantee: NO false negatives (a doc sharing any n-gram with the eval
    * corpus is always flagged); `n_suspect` overcounts by the filter's fpp
    * only, and flagged docs are the fpp-bounded trickle an exact
    * verify (batch semi-join, see `q_contamination_bloom`) finishes off.
    */
  def decontaminateStream(
      docs: DataFrame,
      bloomBytes: Array[Byte],
      textCol: String = "text",
      gramN: Int = 13
  ): DataFrame = {
    graft.functions.BloomFilter.register(docs.sparkSession)
    docs
      .withColumn("_bf", lit(bloomBytes))
      .withColumn("_t", split(col(textCol), " "))
      .withColumn(
        "_grams",
        when(
          size(col("_t")) >= gramN,
          expr(s"transform(sequence(0, size(_t) - $gramN), i -> md5(concat_ws(' ', slice(_t, i + 1, $gramN))))")
        ).otherwise(expr("array()"))
      )
      .withColumn("n_grams", size(col("_grams")))
      .withColumn("n_suspect", size(expr("filter(_grams, g -> bloom_might_contain(_bf, g))")))
      .withColumn("contaminated", col("n_suspect") > 0)
      .drop("_bf", "_t", "_grams")
  }

  /** Streaming PII redaction on arrival: the same chained masking
    * transform as the batch `q_pii_redact` (shared patterns+expression in
    * `TextAnalysis.redactPii`), applied per arriving row. Stateless pure
    * codegen — no watermark, no state store, batch/micro-batch identical
    * by construction (spec-pinned) — so a landing-zone stream can be
    * scrubbed before anything durable is written.
    */
  def redactPiiStream(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(textCol, graft.operators.TextAnalysis.redactPii(col(textCol)))

  /** Doc-length bucketizer shared by the drift monitor and its batch twin
    * (`q_drift_psi`): fixed-width 200-char buckets capped at 10 — fixed
    * edges, so distributions from different snapshots/batches are
    * comparable without a quantile pass.
    */
  def lengthBucket(nChars: Column): Column =
    least(lit(9L), floor(nChars / 200).cast("long"))

  /** The reference distribution a [[driftMonitor]] compares against:
    * bucket -> probability from the training snapshot. Driver collect is
    * bounded by the bucket count (<= 10 rows), computed ONCE per model
    * generation, not per batch.
    */
  def referenceDistribution(snapshot: DataFrame, bucket: Column): Map[Long, Double] = {
    val rows = snapshot
      .select(bucket.as("bkt"))
      .groupBy(col("bkt"))
      .agg(count(lit(1)).as("n_b"))
      .collect()
    val n = rows.map(_.getLong(1)).sum.toDouble
    rows.map(r => r.getLong(0) -> r.getLong(1) / n).toMap
  }

  /** PSI of one batch's bucket distribution vs the reference — one output
    * row (n_docs, psi). Same Laplace-smoothed construction as
    * `q_drift_psi`, but over the UNION of reference and observed buckets
    * (full-outer on bucket id): reference buckets ABSENT from the batch
    * still contribute their term (the absence is the drift), and a bucket
    * the reference never saw enters the grid with its probability floored
    * at 1e-6 — novel-bucket drift is counted, not silently dropped.
    * (`q_drift_psi` needs no union: its grid is built from the whole-corpus
    * census, so a per-source bucket is always a subset of the grid.)
    */
  def batchPsi(batch: DataFrame, refDist: Map[Long, Double], bucket: Column): DataFrame = {
    val sp = batch.sparkSession
    import sp.implicits._
    // materialize the tiny bucket census: tot and the grid join both read
    // it, and unmaterialized that duplicates the batch aggregation pass
    val sb  = batch.select(bucket.as("bkt")).groupBy(col("bkt")).agg(count(lit(1)).as("n_b")).pin()
    val tot = sb.agg(coalesce(sum(col("n_b")), lit(0L)).as("n"))
    val ref  = refDist.toSeq.toDF("bkt", "q0")
    // union grid, materialized once (tiny: <= #ref + #observed buckets);
    // its row count sizes the Laplace denominator by the ACTUAL grid,
    // novel buckets included
    val grid = ref.join(sb, Seq("bkt"), "full_outer").pin()
    val gcnt = grid.agg(count(lit(1)).as("gb"))
    val p    = (coalesce(col("n_b"), lit(0L)) + lit(0.5)) / (col("n") + lit(0.5) * col("gb"))
    val q    = greatest(coalesce(col("q0"), lit(0.0)), lit(1e-6))
    val out = grid
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(gcnt))
      .select(col("n"), ((p - q) * log(p / q)).cast("decimal(18,12)").as("term"))
      .groupBy(col("n"))
      .agg(round(sum(col("term")).cast("double"), 6).as("psi"))
      .select(col("n").cast("long").as("n_docs"), col("psi"))
    // The result is ONE row; realize it and release the two pinned frames
    // here — inside a per-trigger foreachBatch, frames pinned per batch and
    // never unpinned accumulate cached blocks for the stream's lifetime.
    val rows = out.collect().toIndexedSeq
    val schema = out.schema
    Tables.unpin(sb)
    Tables.unpin(grid)
    sp.createDataFrame(sp.sparkContext.parallelize(rows, 1), schema)
  }

  /** Streaming distribution-drift monitor: one PSI row per micro-batch
    * against the fixed reference, appended as a replay-safe per-batch dir
    * (a replayed batch overwrites its own dir, never duplicates). Unlike
    * [[idempotentParquetSink]] it stays a `foreachBatch`: [[batchPsi]]
    * pins and collects, which only a batch body can do. The per-batch work
    * is one tiny aggregation (<= B groups); the alerting query downstream
    * is a plain read of `outPath` filtered on `psi > threshold` (0.2 is
    * the conventional actionable-drift line).
    */
  def driftMonitor(
      docs: DataFrame,
      refDist: Map[Long, Double],
      outPath: String,
      checkpoint: String,
      bucket: Column = lengthBucket(col("n_chars"))
  ): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batchPsi(batch, refDist, bucket)
          .write
          .mode("overwrite")
          .parquet(s"$outPath/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Streaming twin of `q_event_transitions`: per-user first-order
    * transition steps emitted ON ARRIVAL via `flatMapGroupsWithState`.
    * State is ONE (lastMs, lastType) pair per active user, and idle
    * users EXPIRE once the watermark passes `last + idleTtl` (event-time
    * timeout, like the sessionizer) — so state is O(active users), never
    * O(users ever seen); a user returning after expiry just reopens with
    * no step, the same information loss as any bounded-state model.
    * Within a batch, a user's rows process in (ts, event_type) order —
    * the SAME tie rule as the batch census (two events tying on both ts
    * and type are interchangeable for the matrix, so this order is
    * deterministic in effect); an event OLDER than the stored last event
    * (late beyond the state, despite the watermark) is dropped rather
    * than spliced — splicing would require unbounded history, and the
    * batch census is the exact-repair path. Downstream counting is a
    * plain groupBy over the emitted steps; in-order feeds yield exactly
    * the batch matrix (spec-pinned).
    */
  def transitionStream(
      events: Dataset[TypedEvent],
      watermark: String = "10 minutes",
      idleTtlMs: Long = 7L * 24 * 3600 * 1000
  ): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, Transition](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state: GroupState[TransState]) =>
          if (state.hasTimedOut) {
            state.remove() // idle past the TTL: drop the last-event pair
            Iterator.empty
          } else {
            // a user returning in the SAME micro-batch in which their TTL
            // would fire arrives as a data call (hasTimedOut=false) with the
            // stale pre-expiry state still stored — honor the expiry FIRST
            // (the watermark already passed last + TTL), so the return
            // reopens with no bridging step, exactly as if the timeout had
            // fired before the data arrived. Strict >, not >=: Spark's
            // EventTimeTimeout fires only once the watermark EXCEEDS the
            // set timestamp, so at watermark == last + TTL the timeout
            // path would NOT have fired yet and the bridging transition
            // must still be emitted — both expiry paths agree at the
            // boundary.
            if (state.exists && state.getCurrentWatermarkMs() > state.get.lastMs + idleTtlMs)
              state.remove()
            val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.event_type))
            var last   = state.getOption
            val out    = Seq.newBuilder[Transition]
            sorted.foreach { r =>
              val t = r.ts.getTime
              last match {
                case Some(s) if t >= s.lastMs =>
                  out += Transition(s.lastType, r.event_type)
                  last = Some(TransState(t, r.event_type))
                case Some(_) => () // older than the recorded last event: dropped
                case None    => last = Some(TransState(t, r.event_type))
              }
            }
            last.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + idleTtlMs)
            }
            out.result().iterator
          }
      }
  }

  /** Custom stateful sessionization via `flatMapGroupsWithState` — the
    * `KeyValueGroupedDataset` custom-state seam (SURVEY §2.2 streaming
    * rows). Unlike [[sessionized]] (built-in `session_window`), this keeps
    * explicit per-user state: one open session, closed either by a gap
    * observed in-batch or by an event-time timeout once the watermark
    * passes `last + gap`. State is O(1) per active user — the 100 TB
    * property — and expired users are dropped by the timeout.
    */
  def statefulSessions(
      events: Dataset[UserEvent],
      gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "10 minutes"
  ): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    def toSession(user: Long, s: SessState): UserSession =
      UserSession(user, new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs), s.n)

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, UserSession](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, rows, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val closed = toSession(user, state.get)
            state.remove()
            Iterator.single(closed)
          } else {
            val sorted = rows.map(_.ts.getTime).toSeq.sorted
            var open   = state.getOption
            val closed = Seq.newBuilder[UserSession]
            sorted.foreach { t =>
              open match {
                // within gap: extend with min/max, never rewind — a late event
                // older than lastMs (but above the watermark) arrives in a
                // later batch and must not shrink the session or move its
                // timeout backwards
                case Some(s) if t >= s.startMs - gapMs && t - s.lastMs <= gapMs =>
                  open = Some(SessState(math.min(s.startMs, t), math.max(s.lastMs, t), s.n + 1))
                case Some(s) =>
                  closed += toSession(user, s)
                  open = Some(SessState(t, t, 1L))
                case None => open = Some(SessState(t, t, 1L))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Idempotent micro-batch sink: micro-batch N lands in its own
    * `outDir/batch_id=N` directory through the DSv2 streaming sink
    * [[graft.sources.ParquetEpochSink]]. The sink's tasks write into a
    * hidden per-epoch staging directory, and the epoch's commit replaces
    * `batch_id=N` with it by rename; an aborted epoch deletes it. A batch
    * replayed after a failure therefore rewrites its own directory instead
    * of duplicating rows: exactly-once output on top of the checkpoint's
    * at-least-once replay. The write is part of the micro-batch's own plan,
    * not a second `DataFrameWriter` job per batch, and no Hadoop
    * `Configuration` is serialized to its tasks: they get only the handful
    * of entries `ParquetFileFormat.prepareWrite` sets (see the sink).
    * `spark.read.parquet(outDir)` discovers `batch_id`.
    */
  def idempotentParquetSink(
      df: DataFrame,
      outDir: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format(classOf[graft.sources.ParquetEpochSink].getName)
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)

  /** Streaming funnel — the incremental twin of the batch `q_funnel`
    * (Pinot FUNNELCOUNT served in real time): a per-user ordered stage
    * machine that emits one row per stage, where stage i+1 counts only
    * at-or-after the stage-i timestamp.
    *
    * DELAYED COMMIT (the batch-equivalence rule, round-5 fix): a stage is
    * committed — and its row emitted — only once the watermark has passed
    * the candidate event's time, and always using the MINIMUM eligible
    * candidate. Before the watermark passes, an even-earlier same-stage
    * event could still arrive (in-watermark reorder); after it passes, any
    * future arrival carries an event time at-or-after the watermark and so
    * cannot beat the committed minimum. The earlier eager-commit design
    * diverged from batch on exactly that case (batch 1 commits view@10,
    * batch 2 delivers view@2 + click@5 inside the watermark: batch
    * converts via view@2, eager streaming never can — the round-3 ADVICE
    * counterexample, now spec-pinned). With delayed commit, emitted stage
    * timestamps equal the batch funnel's greedy min-chain over every
    * non-late event; ONLY events the watermark drops can diverge. The
    * price is emission latency of one watermark delay — the same deal
    * append-mode windowed aggregation makes. `EventTimeTimeout` (timeout =
    * earliest pending candidate) flushes commits when the watermark
    * advances without new data for the user.
    *
    * State per user is the committed-stage timestamps (stages.length max)
    * plus the pending buffer. The buffer is bounded: events of already-
    * passed stages or below the commit threshold are discarded, a pending
    * event older than the current watermark is pruned (it either committed
    * or can never fire: a future unlocking predecessor would commit at-or-
    * after the watermark, above the dead event's time), and completing the
    * final stage collapses the state to a COMPLETION TOMBSTONE (committed
    * timestamps, empty buffer) so post-completion events are ignored
    * rather than re-entering a fresh funnel — batch ignores them too.
    * Steady state therefore holds in-flight users plus tombstones of
    * completed ones; the idle TTL (below) reclaims the tombstones.
    *
    * `idleTimeout` bounds the one remaining unbounded class: users who
    * started but never finish (their committed-stage vector would
    * otherwise live forever). When set, a user with NO pending candidates
    * whose state sees no activity for `idleTimeout` past the watermark is
    * dropped — a later stage event then finds no predecessor and the user
    * never converts, exactly as if they had timed out of the product
    * funnel. None (the default) preserves match-batch-forever semantics;
    * at 100 TB with churn-heavy traffic, set it to the business's
    * conversion horizon.
    *
    * RE-ENTRY AFTER EXPIRY: TTL expiry removes the WHOLE state, committed
    * stages included. A user who returns later starts a fresh funnel and —
    * if they progress again — re-emits stage rows (user, 0, view, ts') the
    * output already carries from the first journey. That is the honest
    * reading of "timed out of the product funnel" (each return is a new
    * journey), but a downstream consumer aggregating per USER (Pinot
    * FUNNELCOUNT-style) must dedupe on (user_id, stage) or treat the
    * output as per-journey, or expired-and-returned users double-count.
    *
    * WHY TOMBSTONES CANNOT SELF-EXPIRE WITHOUT A TTL (the "expire completed
    * users at completionTime + max-skew" idea, considered and refuted):
    * re-journeying a removed state does not require a LATE event. Any fresh
    * post-completion event — the completed user simply browsing again days
    * later — arrives at or ahead of the watermark, and with the tombstone
    * gone it starts a new journey and emits stage rows the batch funnel
    * (one greedy min-chain per user over the full log) never emits. So any
    * fixed expiry horizon for completed users IS an idle TTL, with exactly
    * the re-entry caveat above; `idleTimeout=None` therefore keeps
    * tombstones for the stream's lifetime, and bounded state comes only
    * from opting into a TTL. Pinned by the far-future re-entry spec in
    * StreamingPipelinesSpec.
    */
  def streamingFunnel(
      events: Dataset[TypedEvent],
      stages: Seq[String] = Seq("view", "click", "purchase"),
      watermark: String = "10 minutes",
      idleTimeout: Option[java.time.Duration] = None
  ): Dataset[FunnelProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, rows, state: GroupState[FunnelState]) =>
          val st      = state.getOption.getOrElse(FunnelState(Seq.empty))
          var reached = st.reachedMs
          val wm      = state.getCurrentWatermarkMs()
          // an idle-TTL expiry: the timeout fired with nothing pending —
          // there is no commit to flush, the user is simply stale. Gated on
          // idleTimeout: with TTL on, every state.update re-arms either a
          // flush timeout (pending) or the idle timeout (not), so a firing
          // with empty pending is always a genuine expiry; with TTL off, a
          // stale flush timeout (armed, then pending drained by a data
          // batch) may still fire — it falls through to the main path as a
          // harmless no-op that preserves state
          if (state.hasTimedOut && st.pendingStage.isEmpty && idleTimeout.isDefined) {
            state.remove()
            Iterator.empty
          } else {
          // candidate pool: buffered events + this batch's funnel-stage
          // events (none on a timeout invocation), in (stage, event-time)
          // order; commits always take the eligible minimum
          var pending = ((st.pendingStage zip st.pendingMs) ++
            (if (state.hasTimedOut) Nil
             else rows.flatMap(e => stageIdx.get(e.event_type).map(i => (i, e.ts.getTime))))).sorted
          val out = Seq.newBuilder[FunnelProgress]
          var advanced = true
          while (advanced && reached.length < stages.length) {
            advanced = false
            val next = reached.length
            val eligible = pending.filter { case (stage, ms) =>
              stage == next && (reached.isEmpty || ms >= reached.last)
            }
            if (eligible.nonEmpty) {
              val cand = eligible.minBy(_._2)
              // delayed commit: final only once the watermark passes it
              if (cand._2 <= wm) {
                reached :+= cand._2
                out += FunnelProgress(user, next, stages(next), new java.sql.Timestamp(cand._2))
                pending = pending.patch(pending.indexOf(cand), Nil, 1)
                advanced = true
              }
            }
          }
          if (reached.length == stages.length) {
            // completion TOMBSTONE, not remove(): the user keeps browsing,
            // and a post-completion view must find the completed state and
            // be ignored — batch ignores it too (stage 0 already holds an
            // earlier min). remove() re-journeyed such users and re-emitted
            // stage rows (caught by the scalacheck equivalence property).
            // The tombstone is the empty-pending state: bounded by the idle
            // TTL when set; with no TTL it persists, which is exactly the
            // documented match-batch-forever trade-off of idleTimeout=None.
            state.update(FunnelState(reached, Nil, Nil))
            idleTimeout match {
              case Some(d) => state.setTimeoutTimestamp(wm + math.max(1L, d.toMillis))
              case None    => state.setTimeoutTimestamp(Long.MaxValue / 2)
            }
          } else {
            val next = reached.length
            // keep only events that can still fire: current-or-future
            // stages at-or-above both the commit threshold (it never
            // decreases) and the watermark (below it, the commit loop
            // either took the event or a predecessor can never unlock it —
            // any future predecessor commits at-or-after the watermark)
            val kept = pending.filter { case (stage, ms) =>
              stage >= next && ms >= wm && (reached.isEmpty || ms >= reached.last)
            }
            if (reached.nonEmpty || kept.nonEmpty) {
              state.update(FunnelState(reached, kept.map(_._1), kept.map(_._2)))
              // wake up when the watermark passes the earliest candidate so
              // delayed commits flush without waiting for new user data
              // (timeout must sit strictly above the current watermark);
              // with nothing pending, arm the idle TTL instead (if set)
              if (kept.nonEmpty)
                state.setTimeoutTimestamp(math.max(kept.map(_._2).min, wm + 1))
              else
                idleTimeout match {
                  case Some(d) => state.setTimeoutTimestamp(wm + math.max(1L, d.toMillis))
                  case None =>
                    // no TTL and nothing pending: push any previously-armed
                    // flush timeout effectively out of reach. The timeout
                    // timestamp PERSISTS across update() calls, so a stale
                    // one (armed for a candidate a later batch committed)
                    // would otherwise sit below the watermark and re-fire as
                    // a no-op on EVERY micro-batch for every stuck
                    // mid-funnel user — O(stuck-users) per-batch invocation
                    // overhead of exactly the unbounded class the TTL
                    // exists for. Half MaxValue keeps clear of any wm+delta
                    // arithmetic overflow.
                    state.setTimeoutTimestamp(Long.MaxValue / 2)
                }
            } else state.remove()
          }
          out.result().iterator
          }
      }
  }

  /** Online anomaly detection: per-key running mean/variance (Welford's
    * algorithm — numerically stable, O(1) state per key) over the value
    * stream; events whose z-score against the stats-so-far exceeds
    * `zThreshold` are emitted as anomalies. `minSamples` gates the warm-up
    * phase so early noise doesn't fire.
    *
    * The streaming twin of the batch `q_event_anomaly`: same signal, but
    * state is a 3-number summary per key — constant memory regardless of
    * stream length, the requirement for an unbounded 100 TB/day feed.
    * ProcessingTimeTimeout-free: state never expires by design (stats are
    * lifetime aggregates); keys are event types, bounded cardinality.
    */
  def streamingAnomaly(
      events: Dataset[ValuedEvent],
      zThreshold: Double = 3.0,
      minSamples: Int = 30
  ): Dataset[Anomaly] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[WelfordState, Anomaly](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[WelfordState]) =>
          var st  = state.getOption.getOrElse(WelfordState(0L, 0.0, 0.0))
          val out = Seq.newBuilder[Anomaly]
          rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
            if (st.n >= minSamples) {
              val std = math.sqrt(st.m2 / (st.n - 1))
              if (std > 0) {
                val z = (e.value - st.mean) / std
                if (math.abs(z) >= zThreshold) out += Anomaly(key, e.ts, e.value, z)
              }
            }
            // fold the observation in AFTER scoring: an outlier is judged
            // against the distribution that preceded it
            val n1    = st.n + 1
            val delta = e.value - st.mean
            val mean1 = st.mean + delta / n1
            st = WelfordState(n1, mean1, st.m2 + delta * (e.value - mean1))
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Stream-stream interval join: each purchase attributed to the same
    * user's clicks within the preceding `windowMinutes` (the streaming form
    * of the batch as-of/attribution join `q_asof_join` approximates).
    *
    * Both sides carry a watermark and the join condition bounds the
    * event-time distance, so Spark can expire buffered rows from the join
    * state once the watermark passes — state stays O(active window) per
    * side at any input scale, the requirement for a 100 TB stream. Inner
    * join: attribution emits only matched (click, purchase) rows.
    */
  def attributionJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      watermark: String = "10 minutes",
      windowMinutes: Int = 30
  ): DataFrame = {
    val c = clicks
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
    val p = purchases
      .withWatermark("ts", watermark)
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    c.join(
      p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES")
    ).select(col("user_id"), col("click_ts"), col("purchase_ts"), col("click_value"), col("purchase_value"))
  }

  /** Session windows per user (30-minute gap by default) — closes and emits
    * once the watermark passes the gap.
    */
  def sessionized(
      events: DataFrame,
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      gap: String = "30 minutes"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"),
        col("n")
      )
}
