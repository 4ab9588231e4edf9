package graft.pipelines

import graft.operators.{Dedup, TextAnalysis}
import graft.Tables.PinOps
import graft.sources.Sinks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation — the composition every
  * operator in this library exists to serve, wired as ONE lazy plan per
  * stage so Catalyst prunes/pushes across stage boundaries:
  *
  *   raw documents
  *     -> quality filter   (map-side score, drop below threshold)
  *     -> exact dedup      (normalized-fingerprint, keep smallest doc_id)
  *     -> near-dup dedup   (MinHash/LSH candidate pairs -> connected
  *                          components -> keep cluster representative)
  *     -> containment drop (optional: winnow-fingerprint overlap >=
  *                          minOverlap of the smaller set — mostly-quoted
  *                          docs drop whole, components keep their
  *                          smallest-id representative —
  *                          [[graft.operators.Dedup.containmentDropIds]])
  *     -> segment rewrite  (optional: cross-doc repeated 8-token segments
  *                          cut out, docs reassembled from survivors —
  *                          [[graft.operators.Dedup.segmentDedup]]; docs
  *                          rebuilt to '' drop)
  *     -> exact-substring rewrite (optional: duplicated >= minLen-token
  *                          sliding runs cut from all but their first
  *                          occurrence — [[graft.operators.Dedup.exactSubstrDedup]])
  *     -> split assignment (deterministic content-hash 80/10/10)
  *     -> partitioned write (hive layout by split, salted file counts)
  *     -> small-files compaction (optional: rewrite each split to
  *                          ~targetBytes files via [[Sinks.compact]],
  *                          swap in place, layout preserved)
  *
  * Scale notes: the quality filter and fingerprinting are map-only; exact
  * dedup is one shuffle on the fingerprint; the near-dup stage is the
  * bucket-grouped LSH pattern (shuffle volume bounded by band-bucket
  * sizes, never a doc x doc self-join); survivors join back via a
  * broadcast when the cluster-label frame is small (non-duplicate corpora)
  * and a key shuffle otherwise — Catalyst/AQE picks. Every stage is
  * deterministic: re-running the pipeline reproduces byte-identical
  * splits and file assignment (the property eval-reproducibility audits
  * need).
  *
  * Returns the per-stage row accounting so callers can assert
  * conservation: n_in = n_dropped_quality + n_dropped_rules +
  * n_dropped_exact + n_dropped_semantic + n_dropped_neardup +
  * n_dropped_containment + n_dropped_seg_empty + n_dropped_substr_empty +
  * n_out (every optional stage contributes 0 when disabled;
  * n_segments_dropped and n_dup_tokens_cut additionally count EDITS to
  * surviving docs — outside the row conservation).
  */
object CorpusPipeline {

  final case class Stats(
      nIn: Long,
      nDroppedQuality: Long,
      nDroppedExact: Long,
      nDroppedNearDup: Long,
      nOut: Long,
      nDroppedRules: Long = 0L,
      nDroppedSegEmpty: Long = 0L,
      nSegmentsDropped: Long = 0L,
      nDroppedSubstrEmpty: Long = 0L,
      nDupTokensCut: Long = 0L,
      nDroppedContainment: Long = 0L,
      nDroppedSemantic: Long = 0L,
      nPackedSequences: Long = 0L
  )

  def run(
      docs: DataFrame,
      outPath: String,
      minQuality: Double = 0.3,
      filesPerSplit: Int = 2,
      compactTargetBytes: Option[Long] = None,
      gopherRules: Boolean = false,
      segmentRewriteLen: Option[Int] = None,
      keepBestQuality: Boolean = false,
      exactSubstrMinLen: Option[Int] = None,
      winnowContainment: Boolean = false,
      winnowMinShared: Int = 2,
      winnowMinOverlap: Double = 0.5,
      semanticEmb: Option[DataFrame] = None,
      semanticThreshold: Double = 0.85,
      packSeqLen: Option[Int] = None
  ): Stats = {
    // Heal any swap torn by a previous crashed run FIRST, compaction enabled
    // or not — a torn state parks the only live copy of a split in a
    // dot-prefixed dir that plain readers (and this run's overwrite) would
    // miss, so repair must not depend on the caller re-enabling compaction.
    // listStatus is one RPC; a missing outPath (first run) just skips.
    locally {
      val root = new org.apache.hadoop.fs.Path(outPath)
      val fs   = root.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) recoverAside(fs, root)
    }
    val nIn = docs.count()

    // 1. quality filter — map-side
    val scored  = TextAnalysis.qualityFrame(docs)
    val kept    = scored.filter(col("quality") >= minQuality).select(docs.columns.toIndexedSeq.map(col): _*)
    val nKeptQ  = kept.count()

    // 1b. optional Gopher-rule composite filter (published default
    // thresholds — see TextAnalysis.gopherFlags) — still map-only, so
    // stages 1+1b fuse into one codegen'd projection over the scan
    val ruleKept =
      if (gopherRules)
        TextAnalysis.gopherFlags(kept).filter(col("pass_all")).select(docs.columns.toIndexedSeq.map(col): _*)
      else kept
    val nKeptR = if (gopherRules) ruleKept.count() else nKeptQ

    // 2. exact dedup on the normalized fingerprint, keep smallest doc_id
    val fp = ruleKept.withColumn("_fp", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
    val minPerFp = fp.groupBy(col("_fp")).agg(min(col("doc_id")).as("_keep_id"))
    val exact = fp
      .join(minPerFp, "_fp")
      .filter(col("doc_id") === col("_keep_id"))
      .drop("_fp", "_keep_id")
    val nExact = exact.count()

    // 2b. optional SEMANTIC dedup (SemDeDup, Abbas et al. 2023) — the
    // embedding-space stage real pipelines run BETWEEN exact and fuzzy
    // text dedup: paraphrases and translations share no fingerprint or
    // shingles but sit adjacent in embedding space. Candidates are the
    // exact survivors that HAVE an embedding (doc_id = vec_id; docs
    // without one pass through); within each trained k-means cluster,
    // every cosine >= semanticThreshold duplicate GROUP (CC over the
    // within-cluster pair graph) keeps only its smallest-id member — the
    // q_dedup_semantic_cc rule as a pipeline stage. Pair cost is
    // sum(cluster²) with k the scale lever; the 2-Lloyd assignment is
    // derived frame-generically from the caller's embedding frame.
    // Survivor rule mirrors the near-dup stage's: smallest id by default,
    // the highest-quality group member with `keepBestQuality` (same drop
    // COUNT either way — only the chosen survivor differs; quality scores
    // reuse stage 1's map-only frame).
    val (semOut, nSemDropped) = semanticEmb match {
      case None => (exact, 0L)
      case Some(emb0) =>
        val (a2, a2Pins) = graft.operators.IvfSimilarity.assignFrom(emb0)
        val in      = exact.pin() // candidate filter + the anti-join left side
        val candEmb = emb0.join(in.select(col("doc_id").as("vec_id")), "vec_id")
        val (dropIds, dropPins) =
          if (!keepBestQuality)
            graft.operators.IvfSimilarity.semanticDropIdsTracked(candEmb, a2, semanticThreshold)
          else {
            val semLabels = Dedup.clusters(
              graft.operators.IvfSimilarity
                .semanticPairs(candEmb, a2, semanticThreshold)
                .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
            (semLabels
              .join(
                Dedup
                  .bestPerCluster(semLabels, scored.select(col("doc_id"), col("quality")))
                  .select(col("label"), col("keep_id")),
                Seq("label"))
              .filter(col("doc_id") =!= col("keep_id"))
              .select(col("doc_id")), Seq(semLabels))
          }
        val out = in.join(dropIds, Seq("doc_id"), "left_anti").pin()
        val n = out.count()
        (a2Pins ++ dropPins).foreach(f => graft.Tables.unpin(f))
        (out, nExact - n)
    }
    val nSem = nExact - nSemDropped

    // 3. near-dup dedup: LSH pairs -> components -> drop non-representatives.
    // Default survivor rule: smallest doc_id (= the cluster label). With
    // `keepBestQuality`, the highest composite-quality member wins instead
    // (ties to smallest id) — the q_dedup_keep_best rule as a pipeline
    // stage: min-id is blind to which copy is the clean one. Same drop
    // COUNT either way, only the chosen survivor differs; quality scores
    // are reused from stage 1's map-only frame, and the argmax is one
    // aggregate over |clustered docs| rows (no per-cluster window).
    val pairs  = Dedup.pairsFromSignatures(Dedup.signatures(semOut))
    val labels = Dedup.clusters(pairs) // (doc_id, label = smallest id in component)
    val nearDup =
      if (!keepBestQuality)
        semOut
          .join(labels, Seq("doc_id"), "left_outer")
          .filter(col("label").isNull || col("label") === col("doc_id"))
          .drop("label")
      else {
        val best = Dedup
          .bestPerCluster(labels, scored.select(col("doc_id"), col("quality")))
          .select(col("label"), col("keep_id").as("_keep_id"))
        semOut
          .join(labels, Seq("doc_id"), "left_outer")
          .join(best, Seq("label"), "left_outer")
          .filter(col("label").isNull || col("doc_id") === col("_keep_id"))
          .drop("label", "_keep_id")
      }
    val nNear = nearDup.count()

    // 3a'. optional CONTAINMENT drop (the batch twin of
    // [[runStreamingWinnow]]'s within-batch stage, via the SAME
    // [[Dedup.containmentDropIds]] rule): a doc drops only when its
    // winnow-fingerprint overlap with a LARGER-fingerprint-set doc
    // reaches winnowMinOverlap of its OWN set (and >= winnowMinShared
    // absolute) — it is mostly recycled content. The test is asymmetric
    // on purpose: a mostly-quoted copy has low global Jaccard (survives
    // 3) but drops here, while the long original — whatever its id — and
    // a long doc with one small quote keep their unique content (the
    // exact-substring stage is the tool for cutting the quote itself).
    // Runs before the rewrite stages: a containment duplicate should
    // drop, not be rewritten.
    val (contained, nContain) =
      if (!winnowContainment) (nearDup, 0L)
      else {
        val in = nearDup.pin() // fingerprint source AND the anti-join left side
        val fps = Dedup
          .winnowSelected(in, k = 4, w = 5)
          .select(col("doc_id"), col("sel.h").as("h"))
          .distinct()
        val dropIds =
          Dedup.containmentDropIds(fps, winnowMinShared, winnowMinOverlap, "graft.pipeline_winnow_pairs")
        // pinned: the heavy winnow+cluster chain must run once, not once
        // per downstream consumer (count + the rewrite stages + the write)
        val out = in.join(dropIds, Seq("doc_id"), "left_anti").pin()
        val n   = out.count()
        (out, nNear - n)
      }

    // 3b. optional segment-level rewrite (Dedup.segmentDedup): cross-doc
    // repeated 8-token-window segments — boilerplate banners, license
    // headers, quoted reposts that survived DOC-level dedup because the
    // rest of the doc is unique — are cut out and each doc's text is
    // REASSEMBLED from its surviving segments; docs left with nothing
    // drop entirely. Runs after near-dup so the cheap doc-level stages
    // shrink the segment shuffle's input first. Two accounting numbers:
    // docs dropped empty (participates in row conservation) and total
    // segments removed (the no-silent-rewrite observability).
    val (rewritten, nSegDocs, nSegsDropped) = segmentRewriteLen match {
      case Some(len) =>
        val reb = Dedup
          .segmentDedup(contained, len)
          .select(
            col("doc_id"),
            col("rebuilt"),
            (col("n_segs") - col("n_kept")).as("_segs_dropped")
          )
        val joined = contained
          .drop("text")
          .join(reb.withColumnRenamed("rebuilt", "text"), "doc_id")
          .pin() // two consumers below (stats agg + survivors); one materialization
        // coalesce: sum() over an EMPTY joined frame (upstream stages dropped
        // every doc) is null, and the stage must report zeros, not NPE.
        val agg = joined
          .agg(
            coalesce(sum(when(col("text") === "", 1L).otherwise(0L)), lit(0L)).as("empty"),
            coalesce(sum(col("_segs_dropped")), lit(0L)).as("segs")
          )
          .head()
        val out = joined
          .filter(col("text") =!= "")
          .select(docs.columns.toIndexedSeq.map(col): _*)
        (out, agg.getLong(0), agg.getLong(1))
      case None => (contained, 0L, 0L)
    }
    val nRewritten = nNear - nContain - nSegDocs

    // 3c. optional TRUE exact-substring rewrite (Dedup.exactSubstrDedup):
    // the finer companion to 3b — duplicated >= minLen-token SLIDING
    // windows are cut from all but their corpus-wide first occurrence, so
    // copied runs that STRADDLE 3b's fixed segment boundaries (or repeat
    // within one doc) are removed too. Runs last among the rewrite stages
    // because it is the most expensive per surviving byte; docs cut to
    // nothing drop with their own accounting, and the total duplicated
    // tokens removed is the rewrite's no-silent-edit observability.
    val (substrOut, nSubEmpty, nTokensCut) = exactSubstrMinLen match {
      case Some(len) =>
        // `rewritten` is consumed THREE times here (the gram source and the
        // rebuild base inside exactSubstrDedup, plus the join's left side);
        // without the segment stage it is the whole quality->exact->LSH->CC
        // chain — pin it or the chain runs three times
        val in = rewritten.pin()
        val reb = Dedup
          .exactSubstrDedup(in, len)
          .select(col("doc_id"), col("rebuilt"), col("n_dup_tokens"))
        val joined = in
          .drop("text")
          .join(reb.withColumnRenamed("rebuilt", "text"), "doc_id")
          .pin() // two consumers below (stats agg + survivors)
        val agg = joined
          .agg(
            coalesce(sum(when(col("text") === "", 1L).otherwise(0L)), lit(0L)).as("empty"),
            coalesce(sum(col("n_dup_tokens")), lit(0L)).as("cut")
          )
          .head()
        val out = joined
          .filter(col("text") =!= "")
          .select(docs.columns.toIndexedSeq.map(col): _*)
        (out, agg.getLong(0), agg.getLong(1))
      case None => (rewritten, 0L, 0L)
    }
    val nFinal = nRewritten - nSubEmpty

    // 4. deterministic split assignment (same rule as q_split_assign)
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
    val split = substrOut.withColumn(
      "split",
      when(bucket < 204, "train").when(bucket < 230, "val").otherwise("test")
    )

    // 5. partitioned, sorted, size-bounded write
    Sinks.writePartitioned(split, outPath, Seq("split"), Seq("doc_id"), filesPerSplit)

    // 6. optional small-files compaction, per split partition. A corpus
    // assembled by many writers (or a streaming sink) fragments into
    // file counts governed by writer parallelism, not data size; at 100 TB
    // that murders scan planning. Compaction rewrites each split subdir to
    // ~targetBytes files (actual on-disk sizing, Sinks.compact) and swaps
    // it in via RENAME-ASIDE, preserving the hive split=... layout:
    //   1. compacted copy fully materializes at .compact-tmp-<name>;
    //   2. the compact snapshot's file names persist to a manifest, then
    //      the ORIGINAL renames aside to .compact-old-<name>;
    //   3. the tmp copy renames into the live path;
    //   4. files a concurrent writer appended AFTER the compact snapshot
    //      (in the aside copy, not in the manifest) merge back into the
    //      live path; the aside copy and manifest are deleted last.
    // A crash at ANY point leaves at least one FULL copy of the split at a
    // predictable path: before step 2 the live dir is untouched; between
    // steps 2 and 3 the live path is briefly absent but the complete
    // original sits at .compact-old-<name> (and the complete compacted copy
    // at tmp); after step 3 the live dir is whole again. [[recoverAside]]
    // heals the between-renames state on the next run by renaming the aside
    // copy back; tmp/old dirs are dot-prefixed so parquet readers never see
    // them. Pinned by the torn-swap spec in CorpusPipelineSpec.
    compactTargetBytes.foreach(target => compactSplits(docs.sparkSession, outPath, target, Seq("doc_id")))

    // 7. optional TERMINAL PACKING — the pipeline's actual product for a
    // pretraining run: fixed-length rows of trained token ids
    // ([[graft.operators.PackSequences.emit]]). The BPE merge table
    // trains on the TRAIN split only (tokenizer leakage from val/test is
    // the eval-contamination bug this ordering exists to prevent), then
    // each split packs SEPARATELY with that frozen vocab — sequences
    // never mix splits — under outPath/_packed/split=<s>/ (underscore
    // prefix: hidden from parquet readers of outPath, so the packed
    // product never pollutes a plain corpus scan). Reads back the
    // just-written (possibly compacted) splits rather than re-deriving
    // the survivor chain: the write is the stage boundary.
    val nPacked = packSeqLen.fold(0L) { seqLen =>
      val sp  = docs.sparkSession
      val all = sp.read.parquet(outPath)
      require(
        all.columns.contains("lang"),
        "packSeqLen requires a lang column (the per-stream packing key) on the pipeline input")
      val train = all.filter(col("split") === "train")
      if (train.isEmpty) 0L
      else {
        val (mergesRaw, mPins) = graft.operators.Bpe.trainMergesTracked(train, rounds = 6)
        val merges             = graft.Tables.pin(mergesRaw)
        mPins.foreach(graft.Tables.unpin) // merges is materialized; argmax pins are dead
        val total = Seq("train", "val", "test").map { s =>
          val part = all.filter(col("split") === s).select(col("doc_id"), col("lang"), col("text"))
          if (part.isEmpty) 0L
          else {
            graft.operators.PackSequences
              .emit(part, merges, seqLen)
              .write
              .mode("overwrite")
              .parquet(s"$outPath/_packed/split=$s")
            sp.read.parquet(s"$outPath/_packed/split=$s").count()
          }
        }.sum
        graft.Tables.unpin(merges)
        total
      }
    }

    Stats(
      nIn = nIn,
      nDroppedQuality = nIn - nKeptQ,
      nDroppedExact = nKeptR - nExact,
      nDroppedNearDup = nSem - nNear,
      nOut = nFinal,
      nDroppedRules = nKeptQ - nKeptR,
      nDroppedSegEmpty = nSegDocs,
      nSegmentsDropped = nSegsDropped,
      nDroppedSubstrEmpty = nSubEmpty,
      nDupTokensCut = nTokensCut,
      nDroppedContainment = nContain,
      nDroppedSemantic = nSemDropped,
      nPackedSequences = nPacked
    )
  }

  /** Streaming form of the corpus ingest — the arrival path wired end to
    * end: a JSONL landing zone consumed file-by-file as micro-batches
    * ([[graft.sources.JsonlCorpus.readStream]]), malformed lines dropped
    * with per-batch `observe()` accounting (`corpus_ingest`: n_lines /
    * n_malformed — the no-silent-caps rule in flight), the same map-only
    * quality filter as [[run]], exact dedup ON ARRIVAL via
    * `dropDuplicatesWithinWatermark` over the normalized-text fingerprint,
    * deterministic split assignment, and an append-mode hive-partitioned
    * parquet sink.
    *
    * Scale/semantics notes:
    *   - dedup state is keyed by 16-byte fingerprint and bounded by
    *     `dedupHorizon` of PROCESSING time (`current_timestamp()` is
    *     evaluated once per micro-batch): a duplicate landing within the
    *     horizon is dropped, one landing later is kept — the arrival-window
    *     contract of streaming ingest, vs [[run]]'s global keep-smallest-id.
    *     Within the horizon the stream keeps the FIRST arrival; batch keeps
    *     the smallest doc_id — re-running [[run]] over the landed output
    *     reconciles the difference (and the near-dup stage, which needs
    *     cross-corpus connected components no incremental operator can
    *     provide, runs there too).
    *   - the parquet sink appends per micro-batch, so file counts grow with
    *     trigger count — exactly the fragmentation [[compactSplits]] exists
    *     to repair on a schedule. That repair REQUIRES the stream stopped
    *     and its `_spark_metadata` log retired ([[retireStreamLog]]):
    *     compactSplits refuses a log-tracked directory, because batch
    *     readers resolve it through the log and a live stream would race
    *     the swap (files appended between the compact snapshot and the
    *     park rename are carried forward for BATCH writers, but the sink
    *     log would still reference compacted-away paths).
    *
    * With `decontaminateBloom` set (built once over the eval corpus via
    * [[graft.streaming.StreamingPipelines.buildGramBloom]]), a
    * decontamination-on-ingest stage runs between quality and dedup:
    * stateless map-only gram probes, contaminated docs dropped, per-batch
    * counts observable as `corpus_decon`.
    *
    * Returns the started [[StreamingQuery]]; the caller owns its lifecycle.
    */
  def runStreaming(
      spark: org.apache.spark.sql.SparkSession,
      inPath: String,
      outPath: String,
      checkpoint: String,
      schema: org.apache.spark.sql.types.StructType = graft.sources.JsonlCorpus.documentsSchema,
      minQuality: Double = 0.3,
      dedupHorizon: String = "10 minutes",
      maxFilesPerTrigger: Option[Int] = None,
      decontaminateBloom: Option[Array[Byte]] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = graft.sources.JsonlCorpus
      .readStreamCounted(spark, inPath, schema, maxFilesPerTrigger)
      .observe(
        "corpus_ingest",
        count(lit(1)).as("n_lines"),
        // coalesce: a data-less micro-batch (watermark-only) reports sum()
        // as null, which would make the accounting unparseable downstream
        coalesce(sum(when(col("_corrupt"), 1L).otherwise(0L)), lit(0L)).as("n_malformed")
      )
      .filter(!col("_corrupt"))
      .drop("_corrupt")
    val kept = TextAnalysis
      .qualityFrame(raw)
      .filter(col("quality") >= minQuality)
      .select(raw.columns.toIndexedSeq.map(col): _*)
    // optional decontamination-on-ingest: drop any doc sharing a 13-gram
    // with the eval corpus the bloom was built over
    // ([[graft.streaming.StreamingPipelines.buildGramBloom]]). The bloom
    // guarantees no false negatives, so nothing contaminated gets through;
    // the fpp-bounded over-drop is the accepted trade at ingest time (an
    // exact verify needs the eval grams, a batch-side join) and is
    // OBSERVABLE per micro-batch via the corpus_decon metric.
    val decontaminated = decontaminateBloom match {
      case None => kept
      case Some(bytes) =>
        graft.streaming.StreamingPipelines
          .decontaminateStream(kept, bytes)
          .observe(
            "corpus_decon",
            coalesce(sum(col("contaminated").cast("long")), lit(0L)).as("n_contaminated")
          )
          .filter(!col("contaminated"))
          .drop("n_grams", "n_suspect", "contaminated")
    }
    val deduped = decontaminated
      .withColumn("_fp", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
      .withColumn("_arrival", current_timestamp())
      .withWatermark("_arrival", dedupHorizon)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp", "_arrival")
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
    deduped
      .withColumn(
        "split",
        when(bucket < 204, "train").when(bucket < 230, "val").otherwise("test")
      )
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("split")
      .start()
  }

  /** Streaming NEAR-dup dedup on arrival — the incremental form of the
    * batch MinHash/LSH stage, which [[runStreaming]]'s scaladoc defers to
    * a batch re-run because cross-corpus connected components need global
    * state. This covers the incrementally-decidable part: each arriving
    * doc is checked against (a) every PRIOR survivor via a durable band
    * index and (b) its own micro-batch via the usual pairs->CC stage, and
    * dropped if either collides. First-arrival-wins (the survivor already
    * in the index keeps its place); a batch re-run remains the way to get
    * global keep-smallest-id semantics.
    *
    * State is the INDEX ARTIFACT, not executor memory: a parquet dir of
    * (doc_id, band_idx, band) rows for survivors only, appended one
    * `batch_id=N` dir per micro-batch. Per-batch cost is one signature
    * pass over the batch plus an equi-join on the 16-byte band key against
    * the index; nothing here holds unbounded driver or executor state.
    *
    * The index stays probe-able at corpus scale through a two-tier layout:
    * flat `batch_id=N` append dirs (the recent tail — cheap to write per
    * trigger) plus a `base/` dir hive-partitioned by band prefix
    * (`bp=pXY`, 256 partitions), produced by [[relayoutNearDupIndex]] on a
    * maintenance cadence (stream stopped, like [[compactSplits]]). The
    * probe ([[priorNearDupIndex]]) reads the whole tail (small between
    * maintenance runs) but prunes the base to the batch's own band
    * prefixes — at most 4·|batch| distinct prefixes, capped at 256 —
    * via static partition filters, so per-batch probe cost is bounded by
    * the tail plus the matching slice of the base instead of growing
    * linearly with survivors forever.
    *
    * Exactly-once: both the corpus output and the index append via
    * per-batch `batch_id=N` overwrite directories (the
    * [[graft.streaming.StreamingPipelines.idempotentParquetSink]] pattern),
    * and the index read EXCLUDES the current batch id — a batch replayed
    * after a crash rewrites its own dirs instead of colliding with its own
    * half-written index rows.
    */
  def runStreamingNearDup(
      spark: org.apache.spark.sql.SparkSession,
      inPath: String,
      outPath: String,
      indexPath: String,
      checkpoint: String,
      schema: org.apache.spark.sql.types.StructType = graft.sources.JsonlCorpus.documentsSchema,
      minQuality: Double = 0.3,
      maxFilesPerTrigger: Option[Int] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.TextShared.NumBands
    streamingIndexDedup(
      spark, inPath, outPath, indexPath, checkpoint, schema, minQuality,
      maxFilesPerTrigger, ingestMetric = "neardup_ingest")(
      perBatch = { b =>
        val sig = Dedup.signatures(b).pin()
        val bands = sig.select(
          col("doc_id"),
          posexplode(array((0 until NumBands).map(i => col(s"band$i")): _*))
            .as(Seq("band_idx", "band"))
        )
        val within = Dedup
          .clusters(Dedup.pairsFromSignatures(sig))
          .filter(col("label") =!= col("doc_id"))
          .select(col("doc_id"))
        (bands, within, Seq(sig))
      },
      // ANY band collision with a prior survivor drops (LSH semantics);
      // the semi-join is duplicate-insensitive by construction
      priorDrop = (bands, idx) =>
        bands.join(idx, Seq("band_idx", "band"), "left_semi").select(col("doc_id")).distinct()
    )
  }

  /** Streaming CONTAINMENT detection on arrival via winnowing fingerprints
    * — the capability the MinHash band index of [[runStreamingNearDup]]
    * structurally lacks: a long new doc QUOTING a paragraph from a prior
    * survivor has low global Jaccard (no band collision) but is exactly
    * what the winnow guarantee catches — any shared run of >= w+k-1 = 8
    * tokens contributes a common selected fingerprint. Each arriving doc's
    * fingerprint set probes a durable fingerprint index of prior
    * survivors; a doc drops when it shares >= `minShared` fingerprints
    * with a single prior survivor (or an outranking doc in its own batch)
    * AND the shared count reaches `minOverlap` of its OWN fingerprint set
    * — the asymmetric mostly-contained rule of
    * [[graft.operators.Dedup.containmentDropIds]].
    * First-arrival-wins, like the band stream.
    *
    * The index REUSES the near-dup index machinery wholesale by storing
    * fingerprints in the same (doc_id, band_idx = 0, band = h) schema:
    * per-batch `batch_id=N` overwrite dirs (replay-safe, current batch
    * excluded from the probe), [[bandPrefix]]-pruned `base/` layout via
    * the SAME [[relayoutNearDupIndex]] maintenance job, and
    * [[recoverIndexBase]] healing — one hardened index implementation,
    * two candidate keys. Within-batch pairs go through the shared
    * [[graft.operators.Dedup.cappedBucketPairs]] guard (observable
    * `graft.stream_winnow_pairs` metric), so a viral fingerprint cannot go
    * quadratic inside a batch either. The CROSS-batch side is bounded the
    * same way: each fingerprint's posting list in the durable index is
    * capped via [[capPostingLists]] at ingest (per-batch contribution,
    * `graft.winnow_ingest_index_cap` metric) and re-trimmed globally by
    * the relayout fold (pass `indexPostingCap` to
    * [[relayoutNearDupIndex]]'s `maxPostings`), so the probe join's
    * per-hash fan-out can never go quadratic against the accumulated
    * survivor set.
    */
  def runStreamingWinnow(
      spark: org.apache.spark.sql.SparkSession,
      inPath: String,
      outPath: String,
      indexPath: String,
      checkpoint: String,
      schema: org.apache.spark.sql.types.StructType = graft.sources.JsonlCorpus.documentsSchema,
      minQuality: Double = 0.3,
      minShared: Int = 2,
      minOverlap: Double = 0.5,
      maxFilesPerTrigger: Option[Int] = None,
      indexPostingCap: Int = graft.operators.Dedup.MaxLshBucket
  ): org.apache.spark.sql.streaming.StreamingQuery =
    streamingIndexDedup(
      spark, inPath, outPath, indexPath, checkpoint, schema, minQuality,
      maxFilesPerTrigger, ingestMetric = "winnow_ingest",
      indexExtraCols = Seq("nfp"), indexPostingCap = Some(indexPostingCap))(
      perBatch = { b =>
        val fps = Dedup
          .winnowSelected(b, k = 4, w = 5)
          .select(col("doc_id"), col("sel.h").as("h"))
          .distinct()
          .pin() // within-batch rule AND the bands projection read it
        // the index row carries the doc's own fingerprint-set size so a
        // LATER batch can normalize its overlap against the prior side
        // without re-scanning the whole index for that doc
        val nf = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
        val bands = fps
          .select(col("doc_id"), lit(0).as("band_idx"), col("h").as("band"))
          .join(nf, "doc_id")
        // within-batch: the SAME normalized-overlap + representative rule
        // as the batch pipeline stage — one implementation, two twins
        val within = Dedup.containmentDropIds(
          fps, minShared, minOverlap, "graft.stream_winnow_pairs")
        (bands, within, Seq(fps))
      },
      // cross-batch: >= minShared DISTINCT fingerprints shared with ONE
      // prior survivor (countDistinct, not a raw row count — the index can
      // legitimately hold duplicate rows for a survivor after a relayout
      // crash window, and double-counting must not clear the bar), AND the
      // shared count reaching minOverlap of the BATCH doc's OWN
      // fingerprint set — the same asymmetric mostly-contained test as
      // [[graft.operators.Dedup.containmentDropIds]]. First-arrival-wins
      // means the prior survivor always outranks, so only the arriving
      // side is ever tested: a long new doc lightly quoting a short prior
      // survivor keeps its unique content (under the old symmetric
      // least() rule the prior's small nfp could drop it whole).
      priorDrop = (bands, idx) =>
        bands
          .join(
            idx.withColumnRenamed("doc_id", "prior_id").withColumnRenamed("nfp", "nfp_prior"),
            Seq("band_idx", "band"))
          .groupBy(col("doc_id"), col("prior_id"), col("nfp"))
          .agg(countDistinct(col("band")).as("shared"))
          .filter(
            col("shared") >= minShared &&
              col("shared") >= lit(minOverlap) * col("nfp"))
          .select(col("doc_id"))
          .distinct()
    )

  /** The ONE hardened streaming index-dedup driver both arrival streams
    * share — index recovery, counted JSONL ingest, quality filter, the
    * replay-safe per-batch probe/write protocol, and per-batch cache
    * reclamation all live here exactly once; [[runStreamingNearDup]] and
    * [[runStreamingWinnow]] differ only in their candidate key
    * (`perBatch`: pinned batch -> (bands, within-batch drop ids, extra
    * pinned frames to reclaim)) and their prior-collision rule
    * (`priorDrop`: (bands, prior index) -> drop ids).
    *
    * Per-batch pins are UNPINNED after the two writes commit: a
    * long-running stream must not accumulate one cached frame per
    * micro-batch forever (persist'd plans are held by Spark's
    * CacheManager, never reclaimed by GC).
    */
  private def streamingIndexDedup(
      spark: org.apache.spark.sql.SparkSession,
      inPath: String,
      outPath: String,
      indexPath: String,
      checkpoint: String,
      schema: org.apache.spark.sql.types.StructType,
      minQuality: Double,
      maxFilesPerTrigger: Option[Int],
      ingestMetric: String,
      indexExtraCols: Seq[String] = Nil,
      indexPostingCap: Option[Int] = None
  )(
      perBatch: DataFrame => (DataFrame, DataFrame, Seq[DataFrame]),
      priorDrop: (DataFrame, DataFrame) => DataFrame
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    // Heal a relayout torn by a crashed maintenance run BEFORE any batch
    // probes the index (a torn state parks the only base copy at a
    // dot-prefixed path the probe would miss).
    locally {
      val idxRoot = new org.apache.hadoop.fs.Path(indexPath)
      val fs      = idxRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(idxRoot)) recoverIndexBase(fs, idxRoot)
    }
    val raw = graft.sources.JsonlCorpus
      .readStreamCounted(spark, inPath, schema, maxFilesPerTrigger)
      .observe(
        ingestMetric,
        count(lit(1)).as("n_lines"),
        coalesce(sum(when(col("_corrupt"), 1L).otherwise(0L)), lit(0L)).as("n_malformed")
      )
      .filter(!col("_corrupt"))
      .drop("_corrupt")
    val kept = TextAnalysis
      .qualityFrame(raw)
      .filter(col("quality") >= minQuality)
      .select(raw.columns.toIndexedSeq.map(col): _*)
    kept.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val b = batch.pin() // referenced by the candidate pass AND the survivor anti-join
          val (bands, within, extraPinned) = perBatch(b)
          val prior = priorNearDupIndex(
            s,
            indexPath,
            batchId,
            // the batch's own band prefixes — what the base probe can prune
            // to; bounded by min(bands-per-doc·|batch|, 256) values, so this
            // collect is a fixed-size driver action, not a data collect
            bands.select(bandPrefix(col("band")).as("bp")).distinct().collect().map(_.getString(0)).toSeq,
            indexExtraCols
          )
          val dropIds = prior
            .map(priorDrop(bands, _))
            .fold(within)(p => p.union(within).distinct())
            .pin() // consumed by BOTH anti-joins below
          b.join(dropIds, Seq("doc_id"), "left_anti")
            .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
          val survivorBands = bands.join(dropIds, Seq("doc_id"), "left_anti")
          // this batch's contribution to each posting list is capped at
          // ingest; [[relayoutNearDupIndex]] re-applies the same cap
          // globally when folding tail dirs into the base, so the
          // cross-batch probe's per-fingerprint fan-out stays bounded
          // between AND across maintenance runs
          indexPostingCap
            .fold(survivorBands)(c => capPostingLists(survivorBands, c, s"graft.${ingestMetric}_index_cap"))
            .write.mode("overwrite").parquet(s"$indexPath/batch_id=$batchId")
          // both writes committed: reclaim this batch's cached frames
          (Seq(dropIds, b) ++ extraPinned).foreach(graft.Tables.unpin)
        }
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Cap every (band_idx, band) posting list to its `cap` smallest doc_ids,
    * preserving any extra data columns (nfp, batch_id) — the durable-index
    * twin of [[graft.operators.Dedup.cappedBucketPairs]]'s rule. The winnow
    * containment probe joins arriving fingerprints against the index per
    * fingerprint hash, so a single viral 8-token boilerplate run shared by
    * thousands of (individually unique, legitimately surviving) docs would
    * make that join quadratic in the posting-list length. MOSS itself drops
    * over-common fingerprints; here the cap keeps the smallest doc_ids (the
    * deterministic choice every other capped bucket in the repo makes) and
    * reports (capped_postings, max_posting) under `metricName` — no silent
    * caps. A doc capped OUT of one viral posting still probes/serves every
    * other fingerprint it carries, so only matches whose ENTIRE overlap is
    * over-common boilerplate can be missed — exactly the matches the
    * containment stage should not act on anyway.
    */
  private[graft] def capPostingLists(
      bands: DataFrame,
      cap: Int,
      metricName: String
  ): DataFrame = {
    val extra = bands.columns.toSeq.filterNot(Set("doc_id", "band_idx", "band"))
    val outCols = col("band_idx") +: col("band") +: col("r.doc_id").as("doc_id") +:
      extra.map(c => col(s"r.$c").as(c))
    bands
      .groupBy(col("band_idx"), col("band"))
      .agg(sort_array(collect_list(struct((col("doc_id") +: extra.map(col)): _*))).as("ids"))
      .observe(
        metricName,
        sum(when(size(col("ids")) > cap, 1L).otherwise(0L)).as("capped_postings"),
        coalesce(max(size(col("ids"))), lit(0)).as("max_posting")
      )
      .select(col("band_idx"), col("band"), explode(slice(col("ids"), 1, cap)).as("r"))
      .select(outCols: _*)
  }

  /** Band-prefix partition value for the near-dup survivor index: first two
    * hex chars of the 32-char md5 band → 256 partitions, uniform by
    * construction. The leading literal keeps Spark's hive partition-value
    * type inference from reading an all-digit sample (e.g. `bp=07`) back as
    * integers, which would silently break the string `isin` pruning filter.
    */
  private[graft] def bandPrefix(band: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("p"), substring(band, 1, 2))

  /** The prior-survivor band index visible to micro-batch `batchId`:
    * the not-yet-folded `batch_id=N` tail dirs (read whole — small between
    * maintenance runs) unioned with the `base/` band-prefix layout pruned
    * to `bandPrefixes` (static partition filters — the probe reads only
    * partitions the current batch can possibly collide with). Rows of the
    * current batch are excluded from BOTH tiers, so a batch replayed after
    * a crash never probes its own half-written index rows — even rows a
    * pre-crash maintenance run already folded into the base (`batch_id`
    * rides along as a data column there).
    *
    * `bandPrefixes` is by-name: it costs a (bounded, ≤256-value) driver
    * action on the batch, paid only when a base layout exists. None when
    * no index has been written yet.
    */
  private[graft] def priorNearDupIndex(
      s: org.apache.spark.sql.SparkSession,
      indexPath: String,
      batchId: Long,
      bandPrefixes: => Seq[String],
      extraCols: Seq[String] = Nil
  ): Option[DataFrame] = {
    val probeCols = Seq("doc_id", "band_idx", "band") ++ extraCols
    val idxRoot = new org.apache.hadoop.fs.Path(indexPath)
    val fs      = idxRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(idxRoot)) return None
    val batchDirs = fs
      .listStatus(idxRoot)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.toString)
      .toSeq
    val basePath = new org.apache.hadoop.fs.Path(idxRoot, "base")
    val tail =
      if (batchDirs.nonEmpty)
        Some(
          s.read
            .option("basePath", indexPath) // keeps batch_id as a partition column
            .parquet(batchDirs: _*)
            .filter(col("batch_id") =!= batchId)
            .select(probeCols.map(col): _*)
        )
      else None
    val base =
      if (fs.exists(basePath))
        Some(
          s.read
            .parquet(basePath.toString)
            .filter(col("bp").isin(bandPrefixes: _*))
            .filter(col("batch_id") =!= batchId)
            .select(probeCols.map(col): _*)
        )
      else None
    (tail, base) match {
      case (Some(t), Some(b)) => Some(t.unionByName(b))
      case (t, b)             => t.orElse(b)
    }
  }

  /** Index maintenance for [[runStreamingNearDup]]'s survivor index — the
    * compaction job that keeps the per-batch probe from scanning the whole
    * index forever: fold every flat `batch_id=N` append dir into `base/`,
    * hive-partitioned on [[bandPrefix]] (256 partitions), so the probe
    * prunes by the arriving batch's own prefixes. Run on a cadence with
    * the STREAM STOPPED, like [[compactSplits]] (the probe lists tail dirs
    * per batch, so a concurrent fold would race the delete).
    *
    * Crash-safe rewrite: the new base (old base ∪ tail, exact-duplicate
    * rows collapsed — a crash between promote and tail-delete leaves both
    * copies, and `distinct` makes the re-fold idempotent) fully
    * materializes at `.base-tmp`, the old base parks at `.base-old`, tmp
    * promotes, and only then are the folded tail dirs and the parked copy
    * deleted. A crash at any point leaves a complete index; the torn
    * states heal via [[recoverIndexBase]] (run here and at stream start).
    * `batch_id` is kept as a DATA column in the base so the probe's
    * replayed-batch exclusion keeps working for folded rows.
    *
    * Cost: one shuffle + full rewrite of the index — the index is
    * (survivor × NumBands) skinny rows, orders of magnitude smaller than
    * the corpus, and this is scheduled maintenance, not the per-batch
    * path.
    */
  def relayoutNearDupIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      maxPostings: Option[Int] = None
  ): Unit = {
    val idxRoot = new org.apache.hadoop.fs.Path(indexPath)
    val fs      = idxRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(idxRoot)) return
    recoverIndexBase(fs, idxRoot)
    val batchDirs = fs
      .listStatus(idxRoot)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
      .map(_.getPath)
    if (batchDirs.isEmpty) return // nothing to fold
    val basePath = new org.apache.hadoop.fs.Path(idxRoot, "base")
    // batch_id comes off the hive dir name with INFERRED type (int for
    // small ids) while the base stores it as data — pin long on both sides
    // so the union never meets mixed widths.
    // withColumn, not a fixed select: the winnow index carries extra data
    // columns (nfp) that the fold must preserve
    val tail = spark.read
      .option("basePath", indexPath)
      .parquet(batchDirs.map(_.toString).toIndexedSeq: _*)
      .withColumn("batch_id", col("batch_id").cast("long"))
    val folded =
      (if (fs.exists(basePath))
         spark.read
           .parquet(basePath.toString)
           .drop("bp")
           .withColumn("batch_id", col("batch_id").cast("long"))
           .unionByName(tail)
       else tail)
        .distinct()
    // the GLOBAL posting-list cap (the ingest-time cap in
    // [[streamingIndexDedup]] only bounds one batch's contribution; a viral
    // fingerprint accumulates cap-per-batch rows across batches until this
    // fold re-trims it). Applied before the bp column so the capped frame's
    // grouping key is exactly (band_idx, band).
    val capMetric = "graft.index_relayout_cap"
    val combined = maxPostings
      .fold(folded)(c => capPostingLists(folded, c, capMetric))
      .withColumn("bp", bandPrefix(col("band")))
    val tmp = new org.apache.hadoop.fs.Path(idxRoot, ".base-tmp")
    val old = new org.apache.hadoop.fs.Path(idxRoot, ".base-old")
    val writeTmp: Unit => Unit = _ =>
      combined
        .repartition(col("bp")) // one shuffle; files land grouped per partition
        .write
        .mode("overwrite")
        .partitionBy("bp")
        .parquet(tmp.toString)
    // no-silent-caps survives the fold: the cap counters fire on the write
    // plan, and land as _metrics.json INSIDE .base-tmp so they promote (or
    // vanish) atomically with the base they describe
    if (maxPostings.isDefined) {
      val m = graft.sources.Sinks.captureObservedMetrics(spark, Set(capMetric))(writeTmp(()))
      graft.sources.Sinks.writeMetricsJson(spark, tmp.toString, m)
    } else writeTmp(())
    if (fs.exists(basePath))
      require(fs.rename(basePath, old), s"index relayout: failed to park $basePath at $old")
    require(!fs.exists(basePath), s"index relayout: $basePath recreated mid-swap; refusing to promote")
    require(fs.rename(tmp, basePath), s"index relayout: failed to promote $tmp to $basePath")
    batchDirs.foreach(d => fs.delete(d, true))
    if (fs.exists(old)) fs.delete(old, true)
  }

  /** Heal a [[relayoutNearDupIndex]] torn at any crash point:
    *   - `.base-old` present, `base/` missing (crash between park and
    *     promote): the parked copy is the complete previous base — rename
    *     it back; the folded tail dirs were never deleted, so the fold
    *     simply re-runs.
    *   - `.base-old` present, `base/` present (crash after promote, before
    *     cleanup): the promoted base already contains every parked row
    *     (it was built from old ∪ tail) — drop the parked copy.
    *   - stale `.base-tmp` (crash before promote): incomplete and fully
    *     rebuildable — drop.
    */
  private[graft] def recoverIndexBase(
      fs: org.apache.hadoop.fs.FileSystem,
      idxRoot: org.apache.hadoop.fs.Path
  ): Unit = {
    val basePath = new org.apache.hadoop.fs.Path(idxRoot, "base")
    val tmp      = new org.apache.hadoop.fs.Path(idxRoot, ".base-tmp")
    val old      = new org.apache.hadoop.fs.Path(idxRoot, ".base-old")
    if (fs.exists(old) && !fs.exists(basePath))
      require(fs.rename(old, basePath), s"index recovery: failed to restore $old to $basePath")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
  }

  /** Scheduled small-files repair of an existing hive-split corpus dir —
    * the maintenance job a streaming sink's output needs on a cadence
    * (see [[runStreaming]]): rewrite each `split=...` subdir to
    * ~`targetBytes` files ([[Sinks.compact]]) and swap it in via the
    * manifest-guarded rename-aside protocol ([[swapIn]]), so files a
    * concurrent batch writer appends mid-compaction survive.
    *
    * REFUSES a directory carrying a streaming sink's `_spark_metadata`
    * log: batch readers resolve such a directory THROUGH the log (only
    * committed files are visible), so compacting around it would orphan
    * every logged file path — and a still-running stream would race the
    * swap. Stop the stream and call [[retireStreamLog]] first; the
    * refusal-then-retire flow is spec-pinned.
    */
  def compactSplits(
      spark: org.apache.spark.sql.SparkSession,
      outPath: String,
      targetBytes: Long,
      sortCols: Seq[String] = Seq("doc_id")
  ): Unit = {
    val root = new org.apache.hadoop.fs.Path(outPath)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(
      !fs.exists(new org.apache.hadoop.fs.Path(root, "_spark_metadata")),
      s"refusing to compact $outPath: a streaming file sink tracks it via _spark_metadata " +
        "(readers resolve files through that log; compaction would orphan it). " +
        "Stop the stream and call CorpusPipeline.retireStreamLog first."
    )
    recoverAside(fs, root)
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("split="))
      .foreach { st =>
        val name   = st.getPath.getName
        val tmp    = new org.apache.hadoop.fs.Path(root, s".compact-tmp-$name")
        val result = Sinks.compact(spark, st.getPath.toString, tmp.toString, targetBytes, sortCols)
        swapIn(
          fs,
          st.getPath,
          tmp,
          new org.apache.hadoop.fs.Path(root, s".compact-old-$name"),
          result.inputFiles
        )
      }
  }

  private def manifestPath(live: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(live.getParent, s".compact-manifest-${live.getName}")

  private def writeManifest(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      names: Set[String]
  ): Unit = {
    val os = fs.create(p, true)
    try os.write(names.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally os.close()
  }

  private def readManifest(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path
  ): Set[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toSet
    finally in.close()
  }

  /** Carry forward every data file in `aside` the compact snapshot never
    * read (a concurrent writer appended it between the snapshot and the
    * park rename): rename it into `live` alongside the compacted files.
    * Dot/underscore names (markers, hidden) stay behind. rename() failure
    * throws — a collision would mean two writers produced the same
    * task-UUID file name, which is itself worth surfacing loudly.
    */
  private def mergeNewcomers(
      fs: org.apache.hadoop.fs.FileSystem,
      aside: org.apache.hadoop.fs.Path,
      live: org.apache.hadoop.fs.Path,
      snapshot: Set[String]
  ): Unit =
    fs.listStatus(aside)
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !snapshot.contains(n) && !n.startsWith("_") && !n.startsWith(".")
      }
      .foreach { st =>
        val dst = new org.apache.hadoop.fs.Path(live, st.getPath.getName)
        require(fs.rename(st.getPath, dst), s"compaction swap: failed to carry newcomer ${st.getPath} to $dst")
      }

  /** Rename-aside swap, safe against concurrent appenders: write a manifest
    * of the compact snapshot's file names, park the live dir at `aside`,
    * promote `tmp` into the live path, CARRY FORWARD any file a concurrent
    * writer appended after the snapshot (present in the parked copy but not
    * in the manifest), then delete the parked copy and the manifest.
    *
    * Every intermediate state keeps a full copy of the data at a
    * predictable path (see the step-6 comment in [[run]]), and — the
    * round-7 contract fix — a file appended to the live dir between the
    * compact snapshot and the park rename survives the swap instead of
    * being deleted with the parked copy. The manifest is persisted BEFORE
    * the park rename so a crash after the promote still lets
    * [[recoverAside]] distinguish snapshot files (compacted, safe to drop)
    * from newcomers (must merge back). A stale `aside` from a previous
    * crashed run whose live path survived is deleted first so the park
    * rename cannot collide. `private[graft]` so the torn-swap specs can
    * stop at any step and assert recoverability.
    */
  private[graft] def swapIn(
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path,
      aside: org.apache.hadoop.fs.Path,
      compacted: Set[String]
  ): Unit = {
    if (fs.exists(aside)) fs.delete(aside, true)
    val manifest = manifestPath(live)
    writeManifest(fs, manifest, compacted)
    // Hadoop rename reports failure as FALSE, not an exception — unchecked,
    // a failed park rename would silently leave the compaction unapplied
    // (and a failed promote would mimic the crash state with no error).
    // Throwing surfaces it; the thrown-between-renames state is exactly the
    // recoverable one recoverAside() heals.
    require(fs.rename(live, aside), s"compaction swap: failed to park $live at $aside")
    // A writer that RECREATES the live dir inside the park→promote window
    // would make rename(tmp, live) nest tmp INSIDE it (Hadoop rename onto
    // an existing directory moves the source under it and returns TRUE) —
    // the compacted data would land in an invisible dot-prefixed subdir
    // while the manifest-listed snapshot files in the aside copy are then
    // deleted. Refuse loudly instead: appends that land BEFORE the park
    // travel with the parked copy and are merged back (mergeNewcomers);
    // writes during the park→promote window itself are outside the
    // protocol's guarantee. recoverAside() heals the thrown state.
    require(
      !fs.exists(live),
      s"compaction swap: $live was recreated by a concurrent writer after the park rename; " +
        s"refusing to promote (would nest the compacted dir inside it). Original parked at $aside."
    )
    require(fs.rename(tmp, live), s"compaction swap: failed to promote $tmp to $live (original parked at $aside)")
    require(
      !fs.exists(new org.apache.hadoop.fs.Path(live, tmp.getName)),
      s"compaction swap: promote nested $tmp inside a concurrently-recreated $live; " +
        s"original parked at $aside — manual recovery required"
    )
    mergeNewcomers(fs, aside, live, compacted)
    fs.delete(aside, true)
    fs.delete(manifest, false)
  }

  /** Heal a swap torn at any crash point:
    *   - `.compact-old-<name>` with live `<name>` MISSING (crash between the
    *     renames): the aside copy is the complete pre-compaction original
    *     (newcomers traveled with the park and come back with it) — rename
    *     it back.
    *   - `.compact-old-<name>` with live `<name>` present (crash after the
    *     promote, before cleanup): the live dir is the compacted copy, but
    *     newcomer files appended after the compact snapshot may exist ONLY
    *     in the parked copy — merge back every aside file not named in the
    *     persisted manifest, then drop the aside. (The manifest is written
    *     before the park rename, so this state always carries one; an
    *     aside without a manifest predates the manifest protocol and is
    *     dropped wholesale, the pre-round-8 behavior.)
    *   - orphan `.compact-manifest-<name>` (crash before the park, or after
    *     the aside delete): no parked data to reconcile — delete it.
    */
  private[graft] def recoverAside(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path
  ): Unit = {
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(".compact-old-"))
      .foreach { st =>
        val name     = st.getPath.getName.stripPrefix(".compact-old-")
        val live     = new org.apache.hadoop.fs.Path(root, name)
        val manifest = new org.apache.hadoop.fs.Path(root, s".compact-manifest-$name")
        if (!fs.exists(live))
          require(fs.rename(st.getPath, live), s"recovery: failed to restore ${st.getPath} to $live")
        else {
          if (fs.exists(manifest)) mergeNewcomers(fs, st.getPath, live, readManifest(fs, manifest))
          fs.delete(st.getPath, true)
        }
      }
    fs.listStatus(root)
      .filter(st => st.isFile && st.getPath.getName.startsWith(".compact-manifest-"))
      .foreach { st =>
        val aside = new org.apache.hadoop.fs.Path(
          root,
          s".compact-old-${st.getPath.getName.stripPrefix(".compact-manifest-")}"
        )
        if (!fs.exists(aside)) fs.delete(st.getPath, false)
      }
  }

  /** Retire a stopped streaming sink's `_spark_metadata` log so the
    * directory becomes a plain hive-layout parquet dir that [[run]]'s
    * compaction may rewrite. Batch readers resolve a file-sink directory
    * THROUGH the log (only committed files are visible), so compacting
    * around it would orphan every logged path; after retirement readers
    * fall back to directory listing — run this only after a CLEAN stop,
    * since torn-batch files lose their exactly-once filtering.
    *
    * Refuses if an active query in THIS session still writes to `outPath`
    * (best effort: a sink's path is only visible via query progress, and
    * queries in other JVMs are invisible — cross-JVM the stop-the-world
    * contract stays with the caller, as with any non-transactional
    * filesystem output).
    */
  def retireStreamLog(spark: org.apache.spark.sql.SparkSession, outPath: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(outPath)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = new org.apache.hadoop.fs.Path(root, "_spark_metadata")
    if (!fs.exists(meta)) return
    val active = spark.streams.active.exists { q =>
      Option(q.lastProgress).exists { p =>
        val d = Option(p.sink).map(_.description).getOrElse("")
        d.contains(outPath) || d.contains(root.toUri.getPath)
      }
    }
    require(!active, s"refusing to retire $meta: an active streaming query in this session still writes to $outPath")
    fs.delete(meta, true)
  }

  /** Side-effect-free funnel CENSUS of the default [[run]] composition
    * with the semantic stage enabled (quality ≥ minQuality → exact dedup
    * on the normalized fingerprint → SemDeDup group-survivor drop within
    * trained k-means clusters → LSH near-dup with min-id survivors →
    * deterministic 80/10/10 split): rows in, rows dropped per stage, rows
    * out per split — the stage accounting a data-curation run reports,
    * computed through the SAME building blocks the writing pipeline
    * composes ([[TextAnalysis.qualityFrame]],
    * [[graft.operators.IvfSimilarity.semanticDropIds]],
    * [[Dedup.signatures]] → [[Dedup.pairsFromSignatures]] →
    * [[Dedup.clusters]], the q_split_assign bucket rule), so the gate
    * pins the pipeline's stage semantics cross-engine rather than only in
    * scalatest. Tracked: each stage frame is pinned (its count AND the
    * next stage read it) and returned for reclaim once the census
    * materializes. `emb`/`a2` are the embedding frame and its cluster
    * assignments (the gate passes the ivf_assignments artifact); docs
    * without an embedding pass the semantic stage untouched.
    */
  /** The SEMANTIC + NEAR-DUP tail of the funnel as LEDGER rows — the
    * per-doc (doc_id, stage, reason) drops those two stages produce over
    * a given exact-survivor frame. Shared verbatim by the batch ledger
    * build and [[graft.streaming.StreamingFunnel]]'s fold (which derives
    * quality/exact incrementally but must re-derive THESE stages — their
    * keys are trained/corpus-relative), so the streamed census is
    * bit-identical to the batch gate by construction. Reasons carry the
    * surviving group representative (`sem_group:<id>` /
    * `near_dup_of:<id>`), the audit trail a curation run publishes.
    */
  private[graft] def tailDropsTracked(
      exact: DataFrame,
      emb: DataFrame,
      a2: DataFrame,
      semanticThreshold: Double
  ): (DataFrame, Seq[DataFrame]) = {
    val candEmb = emb.join(exact.select(col("doc_id").as("vec_id")), "vec_id")
    val semLabels = Dedup.clusters(
      graft.operators.IvfSimilarity
        .semanticPairs(candEmb, a2, semanticThreshold)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    val dropS = semLabels
      .filter(col("label") =!= col("doc_id"))
      .select(
        col("doc_id"),
        lit("4_dropped_semantic").as("stage"),
        concat(lit("sem_group:"), col("label")).as("reason"))
    val sem = exact
      .join(semLabels.filter(col("label") =!= col("doc_id")).select(col("doc_id")), Seq("doc_id"), "left_anti")
      .pin()
    val nearLabels = Dedup.clusters(Dedup.pairsFromSignatures(Dedup.signatures(sem)))
    val dropN = nearLabels
      .filter(col("label") =!= col("doc_id"))
      .select(
        col("doc_id"),
        lit("5_dropped_neardup").as("stage"),
        concat(lit("near_dup_of:"), col("label")).as("reason"))
    (dropS.unionByName(dropN), Seq(sem, semLabels, nearLabels))
  }

  /** Per-doc DROP-REASON PROVENANCE LEDGER of the funnel composition —
    * the row-level trail behind [[q_corpus_funnel]]'s stage counts: one
    * (doc_id, stage, reason) row per dropped document, tagged with the
    * FIRST stage that dropped it (each stage consumes the previous
    * stage's survivors, so a doc appears at most once) and a reason a
    * curation audit can act on: the quality rule, or the surviving
    * representative of its exact/semantic/near-dup group. Side-effect-
    * free like the census; the census itself is now a pure READOUT of
    * this frame ([[censusFromLedger]]) — one artifact, two gates, no way
    * for them to disagree.
    */
  private[graft] def funnelLedgerTracked(
      docs0: DataFrame,
      emb: DataFrame,
      a2: DataFrame,
      minQuality: Double = 0.3,
      semanticThreshold: Double = 0.4
  ): (DataFrame, Seq[DataFrame]) = {
    val docs = docs0.select(col("doc_id"), col("text")).pin()
    val kept = TextAnalysis
      .qualityFrame(docs)
      .filter(col("quality") >= minQuality)
      .select(col("doc_id"), col("text"))
      .pin()
    val dropQ = docs
      .join(kept.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("2_dropped_quality").as("stage"), lit(s"quality<$minQuality").as("reason"))
    val fp = kept.withColumn("_fp", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
    val fpj = fp
      .join(fp.groupBy(col("_fp")).agg(min(col("doc_id")).as("_keep_id")), "_fp")
      .pin() // read twice: the drop rows and the survivor frame
    val dropE = fpj
      .filter(col("doc_id") =!= col("_keep_id"))
      .select(
        col("doc_id"),
        lit("3_dropped_exact").as("stage"),
        concat(lit("dup_of:"), col("_keep_id")).as("reason"))
    val exact              = fpj.filter(col("doc_id") === col("_keep_id")).select(col("doc_id"), col("text")).pin()
    val (dropTail, tPins)  = tailDropsTracked(exact, emb, a2, semanticThreshold)
    (dropQ.unionByName(dropE).unionByName(dropTail), Seq(docs, kept, fpj, exact) ++ tPins)
  }

  /** The funnel CENSUS derived from the ledger: 1_in from the corpus,
    * one row per drop stage (zero-count stages included — the fixed
    * 4-row scaffold left-joins the ledger's counts), and the
    * deterministic 80/10/10 split census of everything the ledger never
    * dropped. `docs0` only contributes (doc_id) — the text never moves.
    */
  private[graft] def censusFromLedger(docs0: DataFrame, ledger: DataFrame): DataFrame = {
    val ids = docs0.select(col("doc_id"))
    val inRow = ids.agg(count(lit(1)).as("n")).select(lit("1_in").as("stage"), col("n"))
    val dropStages = Seq("2_dropped_quality", "3_dropped_exact", "4_dropped_semantic", "5_dropped_neardup")
    val scaffold   = ids.sparkSession.createDataFrame(
      java.util.Arrays.asList(dropStages.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType.fromDDL("stage STRING"))
    val drops = scaffold
      .join(ledger.groupBy(col("stage")).agg(count(lit(1)).as("c")), Seq("stage"), "left_outer")
      .select(col("stage"), coalesce(col("c"), lit(0L)).as("n"))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
    val splits = ids
      .join(ledger.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .withColumn("split", when(bucket < 204, "train").when(bucket < 230, "val").otherwise("test"))
      .groupBy(concat(lit("6_out_"), col("split")).as("stage"))
      .agg(count(lit(1)).as("n"))
    inRow.unionByName(drops).unionByName(splits)
  }

  /** [[funnelLedgerTracked]] + [[censusFromLedger]] in one tracked build
    * — the census the planted-corpus spec pins against the writing
    * pipeline's own accounting.
    */
  private[graft] def funnelCensusTracked(
      docs0: DataFrame,
      emb: DataFrame,
      a2: DataFrame,
      minQuality: Double = 0.3,
      semanticThreshold: Double = 0.4
  ): (DataFrame, Seq[DataFrame]) = {
    val (ledger, pins) = funnelLedgerTracked(docs0, emb, a2, minQuality, semanticThreshold)
    val lp             = ledger.pin()
    (censusFromLedger(docs0, lp), pins :+ lp)
  }

  private val LedgerArtifact = graft.Artifacts.declare("corpus_ledger", graft.Artifacts.RangeSorted("doc_id"))

  /** The drop ledger as a build-once artifact — `corpus_ledger` REPLACES
    * the former `corpus_funnel` census artifact: the census is a cheap
    * readout of the ledger, and the NEW artifact name makes any durable
    * root populated by the 5-stage pre-semantic build a cache MISS
    * instead of a stale serve (the r19 funnel added a stage under the
    * old name; the nb_confusion→nb_scored rename discipline applied).
    */
  private def ledgerArtifact(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    def build = funnelLedgerTracked(
      graft.Tables.documents(s, dir),
      graft.Tables.embeddings(s, dir),
      graft.operators.IvfSimilarity.assignments(s, dir))
    graft.Artifacts.getTracked(s, dir, LedgerArtifact)(build)
  }

  /** The funnel's shared DuckDB CTE chain (quality → exact → semantic CC
    * → near-dup CC survivors) — the prefix both gate oracles build on,
    * so the census twin and the ledger twin cannot drift apart.
    */
  private def funnelCtesSql: String =
    s"""${TextAnalysis.qualityMetricsCteSql},
       |fq AS MATERIALIZED (
       |  SELECT b.doc_id, b.text FROM base b JOIN m ON m.doc_id = b.doc_id
       |  WHERE ${TextAnalysis.qualityColSql} >= 0.3),
       |fpp AS MATERIALIZED (
       |  SELECT doc_id, text,
       |    md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fpr FROM fq),
       |keepers AS (SELECT fpr, min(doc_id) AS keep FROM fpp GROUP BY 1),
       |ex AS MATERIALIZED (
       |  SELECT f.doc_id, f.text FROM fpp f
       |  JOIN keepers k ON k.fpr = f.fpr AND f.doc_id = k.keep),
       |${graft.operators.IvfSimilarity.assignmentsSql},
       |wc AS (
       |  SELECT e.vec_id, e.embedding, a2.cid FROM embeddings e JOIN a2 USING (vec_id)
       |  JOIN ex ON ex.doc_id = e.vec_id),
       |spr AS MATERIALIZED (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM wc a JOIN wc b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE round(${graft.operators.Similarity.cosDuck("a.embedding", "b.embedding")}, 6) >= 0.4),
       |sedges AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM spr
       |  UNION ALL SELECT vec_b, vec_a FROM spr),
       |sreach AS (
       |  SELECT src AS id, src AS label FROM sedges
       |  UNION
       |  SELECT e.src AS id, r.label FROM sedges e JOIN sreach r ON e.dst = r.id),
       |scc AS (SELECT id, min(label) AS label FROM sreach GROUP BY 1),
       |sem AS MATERIALIZED (
       |  SELECT e.doc_id, e.text FROM ex e LEFT JOIN scc ON scc.id = e.doc_id
       |  WHERE scc.label IS NULL OR scc.label = e.doc_id),
       |${Dedup.clustersCteSqlFrom("sem", Seq.empty)}""".stripMargin

  val defs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef(
      "q_corpus_ledger",
      "per-doc DROP-REASON PROVENANCE LEDGER — the row-level audit trail behind q_corpus_funnel's stage counts: one (doc_id, stage, reason) row per document the funnel composition drops, tagged with the FIRST dropping stage (each stage consumes the previous stage's survivors, so a doc appears at most once) and an actionable reason — the quality rule id, or the surviving representative of its exact-fingerprint / SemDeDup / MinHash-LSH group (dup_of:<id> / sem_group:<id> / near_dup_of:<id>). The census is a pure READOUT of this artifact (one build, two gates, zero drift surface); the oracle re-states all four stage drops from the SAME CTE chain the census twin uses, both CC stages as recursive transitive-closure fixpoints. Build-once durable artifact; doc-shaped output (one row per dropped doc, never the corpus)",
      (s, dir) => ledgerArtifact(s, dir).orderBy(col("doc_id")),
      Some {
        s"""WITH RECURSIVE $funnelCtesSql
           |SELECT doc_id, stage, reason FROM (
           |  SELECT d.doc_id, '2_dropped_quality' AS stage,
           |         'quality<0.3' AS reason
           |  FROM documents d LEFT JOIN fq ON fq.doc_id = d.doc_id
           |  WHERE fq.doc_id IS NULL
           |  UNION ALL
           |  SELECT f.doc_id, '3_dropped_exact',
           |         'dup_of:' || cast(k.keep as varchar)
           |  FROM fpp f JOIN keepers k ON k.fpr = f.fpr
           |  WHERE f.doc_id <> k.keep
           |  UNION ALL
           |  SELECT scc.id, '4_dropped_semantic',
           |         'sem_group:' || cast(scc.label as varchar)
           |  FROM scc WHERE scc.label <> scc.id
           |  UNION ALL
           |  SELECT cc.doc_id, '5_dropped_neardup',
           |         'near_dup_of:' || cast(cc.label as varchar)
           |  FROM cc WHERE cc.label <> cc.doc_id
           |) x ORDER BY doc_id""".stripMargin
      }
    ),
    graft.QueryDef(
      "q_corpus_funnel",
      "END-TO-END pipeline funnel census — the stage accounting of CorpusPipeline.run's composition with the semantic stage enabled (quality >= 0.3 -> exact dedup on the normalized fingerprint keeping the min doc_id -> SemDeDup group-survivor drop within trained k-means clusters (Abbas et al. 2023; the embedding-space stage real pipelines run between exact and fuzzy text dedup; gate threshold 0.4 — the synthetic fixture's cosine tail tops out near 0.5, so 0.4 exercises real drops without the giant components a 0.2 cut creates) -> MinHash/LSH near-dup with connected-component min-id survivors -> deterministic content-hash 80/10/10 split), side-effect-free: rows in, rows DROPPED per stage, rows out per split. Composed from the same oracle-checked building blocks the writing pipeline uses (qualityFrame, the IVF assignments artifact + semanticDropIds, the capped LSH pair generator, pointer-doubling CC, the q_split_assign bucket rule), each stage pinned once and read twice (its census count + the next stage) — so the DRIVER GATE pins stage COMPOSITION semantics cross-engine, not just each operator in isolation; the oracle chains the same stage rules as materialized CTEs with BOTH connected-component stages stated as recursive transitive-closure fixpoints. Row conservation holds by construction: 1_in = dropped stages + out splits",
      (s, dir) => censusFromLedger(graft.Tables.documents(s, dir), ledgerArtifact(s, dir)).orderBy(col("stage")),
      Some {
        s"""WITH RECURSIVE $funnelCtesSql,
           |surv AS MATERIALIZED (
           |  SELECT e.doc_id FROM sem e LEFT JOIN cc ON cc.doc_id = e.doc_id
           |  WHERE cc.label IS NULL OR cc.label = e.doc_id),
           |spl AS (
           |  SELECT CASE WHEN b < 204 THEN 'train' WHEN b < 230 THEN 'val'
           |              ELSE 'test' END AS split
           |  FROM (SELECT ('0x' || substring(md5(cast(doc_id as varchar)), 1, 2))::int AS b
           |        FROM surv) z)
           |SELECT * FROM (
           |  SELECT '1_in' AS stage, cast(count(1) as bigint) AS n FROM documents
           |  UNION ALL SELECT '2_dropped_quality',
           |    (SELECT count(1) FROM documents) - count(1) FROM fq
           |  UNION ALL SELECT '3_dropped_exact',
           |    (SELECT count(1) FROM fq) - count(1) FROM ex
           |  UNION ALL SELECT '4_dropped_semantic',
           |    (SELECT count(1) FROM ex) - count(1) FROM sem
           |  UNION ALL SELECT '5_dropped_neardup',
           |    (SELECT count(1) FROM sem) - count(1) FROM surv
           |  UNION ALL SELECT '6_out_' || split, cast(count(1) as bigint) FROM spl GROUP BY split
           |) x ORDER BY stage""".stripMargin
      }
    )
  )
}
