package graft.operators

import graft.{Artifacts, QueryDef, Tables}
import graft.Tables.PinOps
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard (builder-prompt north-star set; SURVEY §2.3).
  *
  * Scale design (the part that must survive 100 TB):
  *   - signatures are MAP-ONLY: per-row lambda pipelines over the token
  *     array, no shuffle, no UDF — everything stays in codegen;
  *   - candidate generation shuffles ONLY on band keys (MinHash) or hash
  *     values (SimHash), never all-pairs: cost is sum(bucket²), and LSH
  *     banding keeps buckets tiny for non-duplicate corpora;
  *   - Jaccard verification joins on exploded shingles — safe because
  *     ShingleWidth-token shingles are near-unique (joining on single words
  *     would blow up quadratically on common tokens);
  *   - the md5-as-minhash trick (lexicographic min of hex digests) makes
  *     every stage expressible in ANSI SQL so DuckDB can oracle it.
  *
  * The fixture corpus has no near-duplicates (verified: 0 duplicate texts),
  * so the pair queries legitimately return few/no rows at sf; the scalatest
  * suites prove detection on constructed near-dup corpora.
  */
object Dedup {

  import TextShared._

  // Build-once artifacts (the [[graft.Artifacts]] registry): a dedup
  // pipeline materializes signatures once and derives pairs/clusters from
  // them. Durable layouts range-sort on the id a downstream join or probe
  // filters on; pin keys (r21, guide §2.4) are the column every per-call
  // consumer groups/windows/joins on, so the consumer-side Exchange moves
  // into the one-time build — e.g. `sh` serves both the (lang, source,
  // sh)-bucketed Jaccard window and the (sh)-bucketed containment window.
  private def artifact(name: String, sortKey: String = "doc_id", pinKeys: Seq[String] = Nil) =
    Artifacts.declare(name, Artifacts.RangeSorted(sortKey), pinKeys)

  private val MinhashSigRaw   = artifact("minhash_sigraw")
  private val MinhashSig      = artifact("minhash_sig")
  private val MinhashPairs    = artifact("minhash_pairs", sortKey = "doc_a")
  private val SimhashSig      = artifact("simhash")
  private val JaccardShingles = artifact("jaccard_shingles", pinKeys = Seq("sh")) // jaccard / containment bucket windows
  private val ShingleSizes    = artifact("shingle_sizes")
  private val Pgrams13        = artifact("pgrams13", pinKeys = Seq("g"))        // span pair-gen window + first-occurrence agg
  private val SubstrDup       = artifact("substr_dup", pinKeys = Seq("doc_id")) // exact-substr census + runs islands window
  private val WinnowSel       = artifact("winnow_sel", pinKeys = Seq("doc_id")) // census agg + matcher's (doc_id, h) distinct
  private val WinnowFps       = artifact("winnow_fps", pinKeys = Seq("h"))      // the matcher's h-bucketed pair window
  // the pointer-doubling [[clusters]] loop hands back a pinIter'd frame:
  // kept as-is in session mode instead of a second copy of the label table
  private val MinhashClusters =
    Artifacts.declare("minhash_clusters", Artifacts.RangeSorted("doc_id"), prePinned = true)

  /** Cached raw-minhash frame (doc_id, h0..h7) — the shingle explode + 8
    * min-md5 aggregations is the slowest minhash stage, so it materializes
    * ONCE and both consumers (the banded signature frame and the
    * calibration query) derive from it; banding is a cheap projection.
    */
  private def rawSigFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.get(s, dir, MinhashSigRaw)(rawSignatures(Tables.documents(s, dir)))

  /** Spark-side signature frame: doc_id, band0..band{B-1}.
    *
    * Formulated as explode -> single-pass groupBy-min rather than per-row
    * array lambdas: `transform`/`array_min` are CodegenFallback (no common
    * subexpression elimination), so the lambda form recomputes the shingle
    * array once per minhash per join side — measured 42s for 500 docs. The
    * exploded form computes shingles once, hashes each shingle 8x inside one
    * codegen'd HashAggregate, and shuffles once on doc_id. Same math, same
    * oracle.
    */
  private def sigFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.get(s, dir, MinhashSig)(bandSignatures(rawSigFrame(s, dir)))

  /** Raw MinHash values (doc_id, h0..h{n-1}) for any frame with
    * (doc_id, text) — the pre-banding stage of [[signatures]], exposed for
    * the estimator-calibration query (the estimate IS the fraction of
    * equal h's, so it needs the h's, not the band digests).
    */
  private[graft] def rawSignatures(docs: org.apache.spark.sql.DataFrame) = {
    // a caller's frame (pipeline or streaming batch): spread unless it is already
    val exploded = graft.Tables
      .fanout(docs)
      .select(col("doc_id"), explode(shingles(col("text"))).as("sh"))
    val hashAggs = (0 until NumHashes)
      .map(j => min(md5(concat(lit(s"$j:"), col("sh")))).as(s"h$j"))
    exploded.groupBy(col("doc_id")).agg(hashAggs.head, hashAggs.tail: _*)
  }

  /** THE quality-aware survivor rule, shared by `q_dedup_keep_best` and
    * `CorpusPipeline.run(keepBestQuality = true)`: per cluster label, the
    * member with the highest quality wins, ties to the SMALLEST doc_id —
    * encoded as one `max(struct(quality, -doc_id))` aggregate (no
    * per-cluster window sort). One rendering so the pipeline stage can't
    * silently diverge from the oracle-checked query. Output:
    * (label, n_members, keep_id, keep_quality).
    */
  private[graft] def bestPerCluster(
      labels: org.apache.spark.sql.DataFrame,  // (doc_id, label)
      quality: org.apache.spark.sql.DataFrame  // (doc_id, quality)
  ): org.apache.spark.sql.DataFrame =
    labels
      .join(quality, "doc_id")
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("best")
      )
      .select(
        col("label"),
        col("n_members"),
        (-col("best.neg_id")).as("keep_id"),
        col("best.quality").as("keep_quality")
      )

  /** Band digests over a raw-minhash frame (doc_id, h0..h7) — a cheap
    * projection, so it re-runs freely over the cached/durable raw frame.
    */
  private[graft] def bandSignatures(sigRaw: org.apache.spark.sql.DataFrame) =
    sigRaw.select(
      col("doc_id") +:
        (0 until NumBands).map { b =>
          val cols = (b * RowsPerBand until (b + 1) * RowsPerBand).map(j => col(s"h$j"))
          md5(concat_ws("|", cols: _*)).as(s"band$b")
        }: _*
    )

  /** MinHash band signatures for any frame with (doc_id, text) — exposed so
    * tests exercise THIS pipeline on synthetic corpora rather than a copy.
    */
  private[graft] def signatures(docs: org.apache.spark.sql.DataFrame) =
    bandSignatures(rawSignatures(docs))

  /** MinHash+LSH candidate pairs (doc_a < doc_b, distinct).
    *
    * Bucket-grouped pair generation, not a self-join: a self-join computes
    * the signature pipeline TWICE (the two sides' exchanges differ, so
    * nothing is reused) and was the single slowest bench query. One groupBy
    * on the band key collects each collision bucket, and pairs are emitted
    * bucket-locally with a pathological-bucket cap (see
    * [[pairsFromSignatures]]), so cost is sum(min(bucket, cap)²) — bounded
    * even when a boilerplate shingle puts millions of docs in one bucket.
    */
  private def minhashPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.get(s, dir, MinhashPairs)(pairsFromSignatures(sigFrame(s, dir)))

  /** The MinHash-cluster LABEL frame (doc_id, label) as a build-once
    * artifact — r20 optimization: `q_dedup_clusters`, `q_dedup_survivors`
    * and `q_dedup_keep_best` each re-ran the full pointer-doubling CC
    * loop (~10 jobs: per-round pins + convergence sums) over the SAME
    * cached pair frame on every call (measured: ~1.0 s per query per
    * bench pass at sf0.1, three times over). The labels are a pure
    * function of the pair artifact, exactly like the pairs are of the
    * signatures — one more derivation step in the same build-once chain.
    */
  private[graft] def clusterLabels(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.get(s, dir, MinhashClusters)(clusters(minhashPairs(s, dir)))

  /** Pathological-bucket cap for LSH pair generation. A band bucket is either
    * a genuine near-dup cluster (for which `cap` representatives are ample —
    * clustering collapses them to one survivor anyway) or a boilerplate
    * artifact (a high-df shingle shared by unrelated docs), where emitting
    * bucket² pairs is pure waste: one 10M-doc boilerplate bucket at 100 TB
    * would be 10¹⁴ pairs. 1024 caps any bucket at ~524k pairs.
    */
  private[graft] val MaxLshBucket = 1024

  /** LSH candidate pairs from a signature frame — the dir-independent form
    * [[graft.pipelines.CorpusPipeline]] composes over arbitrary corpora.
    *
    * Buckets larger than `maxBucket` are deterministically sub-sampled to
    * their `maxBucket` smallest doc_ids (the array is already sorted, and
    * min-ids are the ids clustering keeps as labels/survivors). The drop is
    * NOT silent: the `graft.lsh_pairs` observed metric reports how many
    * buckets were capped and the largest bucket seen, so a pipeline can
    * alert on capping instead of discovering it post-hoc. Observed metrics
    * only fire on a plan that EXECUTES this pipeline — in durable-artifact
    * mode reuse runs read parquet back instead, so the build run's counters
    * are persisted as `_metrics.json` next to the artifact's `_SUCCESS`
    * (see [[graft.sources.Sinks.writeMetricsJson]]). A true near-dup pair
    * cut from one capped band can still surface from any of the other
    * NumBands-1 bands.
    */
  /** THE shared guarded pair generator — every bucket-grouped candidate
    * pipeline (LSH bands, containment shingles, jaccard shingles, span
    * grams, winnow fingerprints) funnels through this one block so the
    * cap rule and the no-silent-caps metric shape can never drift apart
    * per site. Collects each bucket's items SORTED, deterministically
    * sub-samples buckets above `maxBucket` to their smallest items,
    * reports (capped_buckets, max_bucket) under `metricName`, and emits
    * each bucket's unordered item pairs as `p` = struct(doc_a, doc_b).
    * Every caller's oracle mirrors the cap as rank <= maxBucket over the
    * same sort order. slice is a no-op for buckets at/below the cap.
    */
  private[graft] def cappedBucketPairs(
      items: org.apache.spark.sql.DataFrame,
      bucketKeys: Seq[org.apache.spark.sql.Column],
      item: org.apache.spark.sql.Column,
      metricName: String,
      maxBucket: Int
  ): org.apache.spark.sql.DataFrame =
    cappedBucketArrays(items, bucketKeys, item, metricName, maxBucket)
      .select(explode(TextShared.orderedPairs(col("ids"))).as("p"))

  /** [[cappedBucketPairs]] that KEEPS the bucket's grouping columns and its
    * TRUE (pre-cap) size `bucket_n` on every emitted pair — the graph wedge
    * generators need the shared endpoint (the wedge center) and its real
    * degree on each candidate pair, and deriving them by a join-back would
    * re-shuffle the pair frame for data the bucket aggregation already had.
    * Same cap rule, same metric shape, same sorted-smallest-items
    * sub-sampling as every other capped generator.
    */
  private[graft] def cappedBucketPairsKeyed(
      items: org.apache.spark.sql.DataFrame,
      bucketKeys: Seq[org.apache.spark.sql.Column],
      item: org.apache.spark.sql.Column,
      metricName: String,
      maxBucket: Int
  ): org.apache.spark.sql.DataFrame =
    cappedBucketArrays(items, bucketKeys, item, metricName, maxBucket)
      .select(
        bucketKeys :+ col("bucket_n") :+
          explode(TextShared.orderedPairs(col("ids"))).as("p"): _*
      )

  /** The rows that feed the capped collect: every bucket with >=
    * `minBucket` items, PRE-FILTERED to its `maxBucket` smallest items by a
    * rank window, with the bucket's TRUE size carried on every surviving
    * row (`__bn`, from the same window's count). This is what bounds the
    * aggregation BUFFER itself — the earlier formulation collected the full
    * sorted bucket into one `collect_list` buffer before slicing, so a
    * 10^8-degree hub still meant a ~GB buffer in a single aggregation
    * group; the rank filter runs in Spark's spilling window operator and
    * hands the collect at most `maxBucket` rows per bucket. Kept/dropped
    * items are identical to the slice-after-collect form: `row_number`
    * ordered by the item keeps exactly the `maxBucket` smallest (duplicate
    * item values tie-break arbitrarily, but equal values are
    * interchangeable in the kept multiset). Exposed so the spec can assert
    * the collect input is bounded per bucket.
    */
  private[graft] def cappedRanked(
      items: org.apache.spark.sql.DataFrame,
      bucketKeys: Seq[org.apache.spark.sql.Column],
      item: org.apache.spark.sql.Column,
      maxBucket: Int,
      minBucket: Int
  ): org.apache.spark.sql.DataFrame = {
    val part = org.apache.spark.sql.expressions.Window.partitionBy(bucketKeys: _*)
    items
      .withColumn("__bn", count(lit(1)).over(part).cast("int"))
      .withColumn("__rk", row_number().over(part.orderBy(item)))
      .filter(col("__bn") >= minBucket && col("__rk") <= maxBucket)
  }

  /** The shared bucket-collect + cap-observe core of the capped pair
    * generators AND the graph neighbor-array builder: one row per bucket
    * with >= `minBucket` items, `ids` sorted ascending and ALREADY capped
    * at `maxBucket` (the [[cappedRanked]] pre-filter bounds the collect
    * buffer), the bucket's TRUE pre-cap size as `bucket_n`, and the
    * no-silent-caps metrics attached to the executing plan — `max_bucket`
    * reports the true size (`__bn` survives the rank filter on every
    * bucket's rank-1 row, so the metric is computed pre-cap exactly as
    * before).
    */
  private[graft] def cappedBucketArrays(
      items: org.apache.spark.sql.DataFrame,
      bucketKeys: Seq[org.apache.spark.sql.Column],
      item: org.apache.spark.sql.Column,
      metricName: String,
      maxBucket: Int,
      minBucket: Int = 2
  ): org.apache.spark.sql.DataFrame =
    cappedRanked(items, bucketKeys, item, maxBucket, minBucket)
      // no-silent-caps: capping is observable per-run via named metrics
      .observe(
        metricName,
        sum(when(col("__bn") > maxBucket && col("__rk") === 1, 1L).otherwise(0L))
          .as("capped_buckets"),
        coalesce(max(col("__bn")), lit(0)).as("max_bucket")
      )
      .groupBy(bucketKeys: _*)
      .agg(sort_array(collect_list(item)).as("ids"), max(col("__bn")).as("bucket_n"))

  /** Containment drop ids over a distinct winnow-fingerprint frame
    * (doc_id, h) — THE shared rule for both corpus-pipeline containment
    * stages (batch and streaming within-batch), so the two twins cannot
    * drift. The criterion is ASYMMETRIC: a doc drops only when it is
    * itself mostly contained — it shares >= `minShared` fingerprints with
    * some other doc AND the shared count reaches `minOverlap` of its OWN
    * fingerprint set — and only to a doc that outranks it (larger
    * fingerprint set; ties break to the smaller doc_id). A symmetric
    * `least(nfp_a, nfp_b)` test would also drop the long ORIGINAL when
    * the mostly-quoted copy happens to hold the smaller id, losing the
    * original's unique content — the opposite of the stage's intent.
    * Drops are DIRECT (no connected-component closure): a doc never
    * drops for merely touching another dropped doc, and because the
    * outranking relation is a total order — (nfp desc, doc_id asc) — the
    * top-ranked doc of any containment chain always survives; a chain
    * X ⊂ Y ⊂ Z collapses onto Z, whose content transitively covers the
    * dropped quotes.
    */
  private[graft] def containmentDropIds(
      fps: org.apache.spark.sql.DataFrame,
      minShared: Int,
      minOverlap: Double,
      metricName: String
  ): org.apache.spark.sql.DataFrame = {
    val nf = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    // at most ONE side of a pair can drop (the conditions partition on
    // nfp_b > nfp_a vs nfp_a >= nfp_b), so a single when-chain emits the
    // dropped id — or nothing — in one pass over the pair frame
    cappedBucketPairs(fps, Seq(col("h")), col("doc_id"), metricName, MaxLshBucket)
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(nf.select(col("doc_id").as("doc_a"), col("nfp").as("nfp_a")), "doc_a")
      .join(nf.select(col("doc_id").as("doc_b"), col("nfp").as("nfp_b")), "doc_b")
      .filter(col("shared") >= minShared)
      .select(
        explode(
          when(
            col("shared") >= lit(minOverlap) * col("nfp_a") && col("nfp_b") > col("nfp_a"),
            array(col("doc_a")))
            .when(
              col("shared") >= lit(minOverlap) * col("nfp_b") && col("nfp_a") >= col("nfp_b"),
              array(col("doc_b")))
            .otherwise(array().cast("array<bigint>"))
        ).as("doc_id"))
      .distinct()
  }

  private[graft] def pairsFromSignatures(
      sig: org.apache.spark.sql.DataFrame,
      maxBucket: Int = MaxLshBucket
  ): org.apache.spark.sql.DataFrame = {
    val bands = sig.select(
      col("doc_id"),
      posexplode(array((0 until NumBands).map(b => col(s"band$b")): _*)).as(Seq("band_idx", "band"))
    )
    cappedBucketPairs(bands, Seq(col("band_idx"), col("band")), col("doc_id"),
        "graft.lsh_pairs", maxBucket)
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** DuckDB CTE chain ending in `pairs(doc_a, doc_b)` — the SQL twin of
    * [[minhashPairs]], over any (doc_id, text) source CTE/table (the
    * funnel oracle runs it over the exact-dedup survivors).
    */
  private[graft] def pairsCteSqlFrom(src: String, extra: Seq[String]): String =
    s"""${TextShared.sigCteFrom(src, extra)},
       |bands AS (
       |  SELECT doc_id, i AS band_idx,
       |    CASE i ${(0 until NumBands).map(b => s"WHEN $b THEN band$b").mkString(" ")} END AS band
       |  FROM sig CROSS JOIN (VALUES ${(0 until NumBands).map(b => s"($b)").mkString(", ")}) t(i)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin

  /** DuckDB CTE chain ending in `cc(doc_id, label)` — EXACT connected
    * components via a recursive transitive-closure CTE (label = min doc_id
    * reachable, however far). Deliberately not a mirror of [[clusters]]'s
    * iteration schedule: the oracle states the fixpoint, the engine must
    * converge to it, so the gate catches an engine that stops propagating
    * too early. (The closure enumerates (doc, reachable-doc) pairs —
    * Σ|component|² — fine at oracle scale where dup clusters are small;
    * the ENGINE never materializes the closure.)
    *
    * Caller must emit `WITH RECURSIVE` (not plain `WITH`) ahead of this
    * chain.
    */
  private def pairsCteSql: String = pairsCteSqlFrom("documents", Seq("lang", "source"))

  private[graft] def clustersCteSqlFrom(src: String, extra: Seq[String]): String =
    s"""${pairsCteSqlFrom(src, extra)},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT src AS doc_id, src AS label FROM edges
       |  UNION
       |  SELECT e.src AS doc_id, r.label
       |  FROM edges e JOIN reach r ON e.dst = r.doc_id),
       |cc AS (SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id)""".stripMargin

  private def clustersCteSql: String = clustersCteSqlFrom("documents", Seq("lang", "source"))

  /** Spark-side SimHash frame: doc_id, simhash (shared by both simhash
    * queries; single source for the 16 bit-term expressions).
    */
  private def simhashFrame(s: org.apache.spark.sql.SparkSession, dir: String) = Artifacts.get(s, dir, SimhashSig) {
    val digits = Tables
      .documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), md5(col("w")).as("h"))
      .select(
        col("doc_id") +:
          (0 until SimhashBits / 4).map(p => expr(hexDigitTerm("h", p)).as(s"d$p")): _*
      )
    val sums = digits
      .groupBy(col("doc_id"))
      .agg(
        expr(simhashBitTerm(0)).as("s0"),
        (1 until SimhashBits).map(j => expr(simhashBitTerm(j)).as(s"s$j")): _*
      )
    sums.select(col("doc_id"), expr(simhashCombine).as("simhash"))
  }

  /** DuckDB CTE chain ending in `sh(doc_id, simhash)` — the SQL twin of
    * [[simhashFrame]].
    */
  private def simhashCteSql: String = {
    val digitCols =
      (0 until SimhashBits / 4).map(p => s"  ${hexDigitTerm("h", p)} AS d$p").mkString(",\n")
    val terms = (0 until SimhashBits).map(j => s"  ${simhashBitTerm(j)} AS s$j").mkString(",\n")
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |hashed AS (SELECT doc_id, md5(w) AS h FROM tok),
       |digits AS (SELECT doc_id,
       |$digitCols
       |  FROM hashed),
       |sums AS (SELECT doc_id,
       |$terms
       |  FROM digits GROUP BY doc_id),
       |sh_sim AS (SELECT doc_id, $simhashCombine AS simhash FROM sums)""".stripMargin
  }

  /** SimHash near-duplicate FINGERPRINT pairs via banded blocking (the
    * Manku/Jain/Das Sarma WWW'07 design): the 16-bit fingerprint splits
    * into 4 bands of 4 bits, candidates share at least one band, and by
    * pigeonhole EVERY pair within Hamming distance 3 shares a band — so
    * banded blocking is lossless for `maxHamming <= 3` (the gate oracle is
    * the EXHAUSTIVE Hamming join, proving completeness, not mirroring the
    * blocking).
    *
    * Scale shape: the band join runs over DISTINCT fingerprints — exact-
    * duplicate mass collapses first to (simhash, representative doc,
    * count), so pair-explode cost is bounded by the fingerprint space
    * (2^16 here; a production 64-bit simhash with 16-bit bands bounds
    * band blocks by corpus diversity instead), never by corpus size.
    * Doc-level pairs, if needed, are the cross of the two groups —
    * materialize them AFTER thresholding, or feed [[clusters]] directly
    * with the fingerprint pairs.
    */
  def simhashBandPairs(sh: org.apache.spark.sql.DataFrame, maxHamming: Int = 3): org.apache.spark.sql.DataFrame = {
    val bands    = 4
    val bandBits = TextShared.SimhashBits / bands
    require(maxHamming < bands, s"pigeonhole guarantee requires maxHamming < $bands")
    val mask = (1 << bandBits) - 1
    val reps = sh
      .groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("n_docs"))
    val banded = reps.select(
      col("simhash"),
      col("rep_doc"),
      col("n_docs"),
      posexplode(
        array((0 until bands).map(b => expr(s"shiftright(simhash, ${b * bandBits}) & $mask")): _*)
      ).as(Seq("band_idx", "band_val"))
    )
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(
      b,
      col("a.band_idx") === col("b.band_idx") && col("a.band_val") === col("b.band_val") &&
        col("a.simhash") < col("b.simhash")
    ).select(
        col("a.simhash").as("sim_a"),
        col("b.simhash").as("sim_b"),
        col("a.rep_doc").as("doc_a"),
        col("b.rep_doc").as("doc_b"),
        col("a.n_docs").as("docs_a"),
        col("b.n_docs").as("docs_b")
      )
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair sharing several bands carries identical columns
      .orderBy(col("sim_a"), col("sim_b"))
  }

  /** Duplicate clustering: candidate pairs -> EXACT connected components
    * (each doc adopts the smallest doc_id in its component). The last stage
    * of the dedup pipeline: survivors = one doc per cluster (the min),
    * everything else drops.
    *
    * Convergent, not hop-bounded: each round does (a) edge propagation
    * (adopt the smallest label among self + neighbors) and (b) pointer
    * doubling (l(x) <- min(l(x), l(l(x))) — label values are themselves
    * node ids, so following the label's label halves chain length), which
    * reaches the component minimum in O(log diameter) rounds instead of
    * O(diameter). Convergence test: labels only ever decrease, so the label
    * SUM is strictly monotone until fixpoint — one 1-row aggregate per
    * round (decimal(38,0): a 100 TB corpus's Σ doc_id overflows int64),
    * the standard iterative-dataflow stopping rule, not a data collect.
    * At the fixpoint every label equals the min over self+neighbors, hence
    * is constant across each component and equal to its min — exact CC,
    * which is what the recursive-CTE oracle states.
    *
    * Scale: each round is two equi-join shuffles over the EDGE set and one
    * over the label frame — near-dup edge sets are tiny relative to the
    * corpus. `maxRounds` is a runaway backstop (doubling covers diameter
    * 2^20 within 20), never the convergence criterion.
    *
    * The PAIR set is materialized ONCE before anything else: the symmetric
    * edge union references it twice and the labels lineage references
    * edges every iteration and itself twice per round, so an unbroken
    * lineage re-executes the upstream pair pipeline exponentially many
    * times (measured 7s vs 2s at sf0.1). Iterative dataflows always cut
    * lineage per round — via [[graft.Tables.pinIter]], NOT the
    * lineage-retaining `pin`: each round self-joins the previous frame, so
    * retained lineage doubles the logical plan per round (2^k copies of
    * round 0 by round k — reproduced analyzer OOM). Under cluster pin
    * modes pinIter truncates through a reliable `checkpoint()` when a
    * checkpoint dir is configured.
    */
  /** Drop a [[graft.Tables.pin]]ned frame's stored blocks. Safe only once
    * every frame derived from it has itself been eagerly pinned (or fully
    * consumed) — in localCheckpoint/checkpoint mode nothing can then ask
    * the unpersisted RDD to recompute, and in persist mode a recompute is
    * possible-but-correct via retained lineage. Without this,
    * block-manager storage grows by one full label-frame generation per
    * round — O(log diameter) normally, but up to `maxRounds` generations
    * on slow-converging inputs.
    */
  private def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    Tables.unpin(df)

  private[graft] def clusters(
      pairs: org.apache.spark.sql.DataFrame, // (doc_a, doc_b) with doc_a < doc_b
      maxRounds: Int = 20
  ): org.apache.spark.sql.DataFrame = {
    val p = pairs.pinIter()
    val edges = p
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .pinIter() // referenced every round
    unpersistCheckpoint(p) // edges (eager) carries everything downstream
    var labels = edges
      .select(col("src").as("doc_id"))
      .distinct()
      .withColumn("label", col("doc_id"))
      .pinIter()
    def labelSum(l: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      l.agg(sum(col("label")).cast("decimal(38,0)")).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = prevSum == null // empty pair set: nothing to propagate
    while (!converged && round < maxRounds) {
      round += 1
      // min label among neighbors, folded into own label via a left-outer
      // join + least (NOT a self-referencing union: checkpointing a union
      // whose branches share a relation trips Catalyst's LogicalRDD
      // constraint rewrite; the join form is also one fewer wide child)
      val neighborMin = edges
        .join(labels, edges("dst") === labels("doc_id"))
        .groupBy(edges("src").as("doc_id"))
        .agg(min(col("label")).as("nlabel"))
      val step = labels
        .join(neighborMin, Seq("doc_id"), "left_outer")
        .select(
          col("doc_id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label")
        )
      // `step` runs UNPINNED (r21): the doubling self-join references it
      // twice, but the two subtrees are identical, so ReuseExchange
      // materializes their shuffles once inside `next`'s single job —
      // the former per-round checkpoint of `step` paid one extra job +
      // one extra full-frame write per round for lineage `next.pinIter()`
      // truncates anyway (measured: 3 jobs/round -> 2, no growth in the
      // analyzer because truncation still happens every round).
      // pointer doubling: labels are node ids, so `step` has exactly one
      // row for every label value — the self-join below is 1:1
      val a = step.alias("a")
      val b = step.alias("b")
      val next = a
        .join(b, col("a.label") === col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id"), least(col("a.label"), col("b.label")).as("label"))
        .pinIter()
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // `next` is eagerly checkpointed (lineage truncated), so the
      // superseded previous generation can be freed now — otherwise
      // storage grows linearly with rounds.
      unpersistCheckpoint(labels)
      labels = next
    }
    unpersistCheckpoint(edges) // final labels is checkpointed; edges is dead
    labels
  }

  /** Exploded-shingle frame (doc_id, lang, source, sh) feeding the Jaccard
    * and containment pair queries. Referenced several times per plan
    * (common + sizes joins) and Catalyst duplicates the subtree, so it goes
    * through the build-once artifact cache like the MinHash signatures
    * (measured 1.14s -> 0.85s at sf0.1; durable-mode range-sorts it on
    * doc_id like the other dedup artifacts). Joins downstream use a 16-hex
    * md5 prefix of the shingle, not the raw string: same equality result
    * (both engines hash identically; collisions are ~2^-64 at this
    * cardinality) with a fixed-width 16-byte shuffle key instead of
    * ~40-byte shingle text.
    */
  private def shingleFrame(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.get(s, dir, JaccardShingles)(explodedShingles(Tables.documents(s, dir)))

  /** Per-doc distinct-shingle counts as their own build-once artifact —
    * r20: the Jaccard, containment and calibration queries each re-scanned
    * the full shingle artifact a second time per call just to recount set
    * sizes (measured: one 32 MB pinned-block scan per consumer per pass).
    */
  private def shingleSizes(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.get(s, dir, ShingleSizes)(
      shingleFrame(s, dir).groupBy(col("doc_id")).agg(count(lit(1)).as("nsh")))

  /** Exploded distinct-shingle frame for any (doc_id, lang, source, text)
    * frame — the [[shingleFrame]] builder, exposed so tests feed planted
    * corpora through the same pipeline.
    */
  private[graft] def explodedShingles(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(
        col("doc_id"),
        col("lang"),
        col("source"),
        explode(array_distinct(shingles(col("text")))).as("sh_raw")
      )
      .select(col("doc_id"), col("lang"), col("source"), substring(md5(col("sh_raw")), 1, 16).as("sh"))

  /** Verbatim shared-span extent for any (doc_id, text) frame — the
    * `q_dedup_spans` body, exposed so tests plant docs with known shared
    * runs. Returns one row per doc pair sharing at least one 13-token
    * window: (doc_a, doc_b, max_span, n_spans, n_matches), where max_span
    * is the token length of the longest verbatim run, n_spans the number of
    * maximal runs, and n_matches the raw 13-gram occurrence-pair count
    * (= sum of run lengths in window starts).
    *
    * A run of L consecutive matching window starts on one alignment
    * diagonal (ib - ia) is a shared span of L+12 tokens, recovered by
    * gaps-and-islands: island id = ia - row_number, valid because a doc
    * position carries exactly one gram so ia is unique per (pair, diag).
    *
    * Per-gram occurrence buckets above `maxBucket` are deterministically
    * sub-sampled to their `maxBucket` smallest (doc_id, pos) occurrences —
    * the same pathological-bucket guard as [[pairsFromSignatures]]: a
    * boilerplate 13-gram present in 10^6 docs would otherwise emit a
    * single-bucket O(M^2) pair blowup and a straggler task. Capping can
    * shorten a reported span for pairs touching a capped bucket (never
    * lengthen one), and it is not silent: the `graft.span_pairs` observed
    * metric reports capped-bucket count and the largest bucket. The cap is
    * mirrored in the oracle SQL (rank <= cap over the same (doc_id, pos)
    * order) so the gate stays hash-exact even if a fixture gram ever runs
    * hot.
    */
  private[graft] def spanExtent(
      docs: org.apache.spark.sql.DataFrame,
      maxBucket: Int = MaxLshBucket
  ): org.apache.spark.sql.DataFrame =
    // gram key = 16-hex md5 prefix, the fixed-width-shuffle-key trick
    // from the shingle frame; pos rides along for diagonals
    spanExtentFromPg(pgramsBody(docs, 13), maxBucket)

  /** [[spanExtent]] over an externally-supplied positional gram frame
    * (the shared `pgrams13` artifact).
    */
  private[graft] def spanExtentFromPg(
      pg: org.apache.spark.sql.DataFrame,
      maxBucket: Int = MaxLshBucket
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = cappedBucketPairs(pg, Seq(col("g")), struct(col("doc_id"), col("pos")),
        "graft.span_pairs", maxBucket)
      // cross-doc occurrence pairs only; sorted buckets give doc_a <= doc_b
      .filter(col("p.doc_a.doc_id") < col("p.doc_b.doc_id"))
      .select(
        col("p.doc_a.doc_id").as("doc_a"),
        col("p.doc_b.doc_id").as("doc_b"),
        col("p.doc_a.pos").as("ia"),
        col("p.doc_b.pos").as("ib")
      )
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("ia"))
    val runs = m
      .withColumn("diag", col("ib") - col("ia"))
      .withColumn("island", col("ia") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(count(lit(1)).as("len"))
    runs
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        (max(col("len")) + 12).cast("long").as("max_span"),
        count(lit(1)).as("n_spans"),
        sum(col("len")).cast("long").as("n_matches")
      )
  }

  /** Asymmetric containment pairs for any exploded (doc_id, sh) shingle
    * frame — the `q_dedup_containment` body, exposed for planted-pair
    * tests. C(a,b) = |A n B| / |A|; keeps pairs where either side's
    * containment reaches `minC`.
    *
    * Shingle buckets above `maxBucket` docs are deterministically
    * sub-sampled to their `maxBucket` smallest doc_ids — the same
    * pathological-bucket guard as [[pairsFromSignatures]], because on a
    * boilerplate-heavy corpus a high-df shingle (a repeated header, a
    * license block) would otherwise emit bucket² occurrence pairs. The cap
    * UNDERCOUNTS `common` only for pairs cut from a capped bucket (their
    * containment estimate drops, never rises — capping cannot create a
    * false pair), and it is not silent: the `graft.containment_pairs`
    * observed metric reports capped-bucket count and the largest bucket.
    * At the fixtures' 5-gram df ~ 1 the cap never binds, which is what
    * keeps `q_dedup_containment` oracle-exact.
    */
  private[graft] def containmentPairs(
      sh: org.apache.spark.sql.DataFrame,
      minC: Double = 0.5,
      maxBucket: Int = MaxLshBucket,
      sizesOpt: Option[org.apache.spark.sql.DataFrame] = None
  ): org.apache.spark.sql.DataFrame = {
    val sizes = sizesOpt.getOrElse(sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh")))
    val common = cappedBucketPairs(sh, Seq(col("sh")), col("doc_id"),
        "graft.containment_pairs", maxBucket)
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nsh", "nsh_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nsh", "nsh_b"), "doc_b")
      .withColumn("c_a", col("common") / col("nsh_a"))
      .withColumn("c_b", col("common") / col("nsh_b"))
      .filter(greatest(col("c_a"), col("c_b")) >= minC)
      .select(col("doc_a"), col("doc_b"), col("c_a"), col("c_b"))
  }

  /** n-gram Jaccard pairs for any exploded (doc_id, lang, source, sh)
    * shingle frame — the `q_dedup_jaccard` body, exposed for planted-corpus
    * tests. Bucket-grouped pair counting, not an exploded-shingle
    * self-join: one groupBy on the (lang, source, shingle) key collects the
    * buckets and pairs are emitted bucket-locally before a count per pair.
    *
    * Buckets above `maxBucket` docs (a stock phrase with df in the
    * thousands on a web corpus) are deterministically sub-sampled to their
    * `maxBucket` smallest doc_ids — the same pathological-bucket guard as
    * [[pairsFromSignatures]]/[[containmentPairs]]. `common` can only
    * UNDERCOUNT for pairs touching a capped bucket, so the jaccard estimate
    * drops, never rises (capping cannot create a false pair), and the drop
    * is not silent: the `graft.jaccard_pairs` observed metric reports
    * capped-bucket count and the largest bucket. Set sizes come from the
    * full (uncapped) frame — only the intersection estimate is trimmed. At
    * the fixtures' 5-gram df ~ 1 the cap never binds; the rank<=cap is
    * mirrored in the oracle SQL regardless, so the gate stays hash-exact
    * even on a fixture with hot shingles.
    */
  private[graft] def jaccardPairs(
      sh: org.apache.spark.sql.DataFrame,
      minJ: Double = 0.05,
      maxBucket: Int = MaxLshBucket,
      sizesOpt: Option[org.apache.spark.sql.DataFrame] = None
  ): org.apache.spark.sql.DataFrame = {
    // derive set sizes from the exploded frame rather than re-running the
    // CodegenFallback shingle lambda per row
    val sizes = sizesOpt.getOrElse(sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh")))
    val common = cappedBucketPairs(sh, Seq(col("lang"), col("source"), col("sh")), col("doc_id"),
        "graft.jaccard_pairs", maxBucket)
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nsh", "nsh_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nsh", "nsh_b"), "doc_b")
      // raw division: exact ints both sides -> bit-identical double
      .withColumn("jaccard", col("common") / (col("nsh_a") + col("nsh_b") - col("common")))
      .filter(col("jaccard") >= minJ)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Segment-level dedup with document rewrite (the `q_dedup_segments`
    * body, exposed for planted-corpus tests): cut each doc into
    * non-overlapping `segLen`-token segments, keep only the corpus-wide
    * FIRST occurrence of each distinct segment text (ordered by
    * (doc_id, seg_idx)), and reassemble every doc from its surviving
    * segments in order. This is the sub-document pass of CCNet's paragraph
    * dedup / Lee et al. 2022's exact-substring dedup, at the fixed-window
    * granularity production pipelines use when true suffix arrays don't
    * fit the cluster.
    *
    * Scale shape: segments are map-only slice lambdas, and the whole
    * keep-first selection is ONE aggregation — `groupBy(md5(seg))
    * .agg(min(struct(doc_id, seg_idx, seg)))`. The struct min is ordered
    * by the unique (doc_id, seg_idx) prefix, so the minimum IS the first
    * instance and carries its text along: no join-back to the segment
    * stream, no rank window, and the partial agg means at most one
    * instance's text per distinct segment per partition crosses the wire
    * (a naive first-occurrence join ships every duplicate instance twice;
    * the first cut of this operator did exactly that and planned 3 scans +
    * 3 explodes — the referenced-twice-aggregate trap in SCALE.md). The
    * per-doc census needs no explode at all: `size(segArr)` map-side.
    * Docs whose every segment was seen earlier rebuild to ''.
    *
    * Output: (doc_id, n_segs, n_kept, rebuilt) — `rebuilt` is the deduped
    * corpus text itself (the production artifact; the gate query hashes it).
    */
  private[graft] def segmentDedup(
      docs: org.apache.spark.sql.DataFrame,
      segLen: Int = 8
  ): org.apache.spark.sql.DataFrame = {
    val t = split(col("text"), " ")
    // ceil(n/segLen) segments; slice returns the short tail as-is. Empty
    // text guard: sequence(0, -1) would generate DESCENDING — emit no
    // segments instead (matches the oracle's i*segLen < len(t) filter;
    // note split always yields >= 1 element, so this guards a synthetic
    // empty-array input, not ''-text, which segments to one '' segment in
    // both engines).
    val segArr = when(size(t) === 0, array().cast("array<string>"))
      .otherwise(
        transform(
          sequence(lit(0), floor((size(t) - lit(1)) / lit(segLen.toDouble)).cast("int")),
          i => array_join(slice(t, i * lit(segLen) + lit(1), lit(segLen)), " ")
        )
      )
    val kept = docs
      .select(col("doc_id"), posexplode(segArr).as(Seq("seg_idx", "seg")))
      .groupBy(md5(col("seg")).as("seg_h"))
      .agg(min(struct(col("doc_id"), col("seg_idx"), col("seg"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.seg_idx").as("seg_idx"), col("f.seg").as("seg"))
    val rebuilt = kept
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            x => x.getField("seg")
          ),
          " "
        ).as("rebuilt")
      )
    docs
      .select(col("doc_id"), size(segArr).cast("long").as("n_segs"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("rebuilt"), lit("")).as("rebuilt")
      )
  }

  /** TRUE exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): remove every duplicated token
    * run of length >= `minLen` from all but its corpus-wide FIRST
    * occurrence — including self-repetition inside one document. This is
    * the pass [[segmentDedup]]'s fixed non-overlapping windows cannot do:
    * a copied run that straddles a segment boundary matches none of the
    * aligned segments and survives segment dedup, but every one of its
    * minLen-token SLIDING windows collides here (spec-pinned with a
    * planted straddling copy).
    *
    * Production pipelines run this over a suffix array; the Spark-shaped
    * equivalent uses the sliding-window gram stream the span machinery
    * already owns:
    *   1. every minLen-token window hashed (map-only explode, one pass);
    *   2. corpus-wide first occurrence per gram = ONE aggregation
    *      `min(struct(doc_id, pos))` — partial-agg combines map-side, so a
    *      boilerplate gram in 10^6 docs reduces per-partition (no window
    *      over the gram stream, no hot-bucket quadratic: later occurrences
    *      are linear in count, and they are exactly the rows being cut);
    *   3. non-first window starts mark intervals [pos, pos+minLen-1];
    *      a per-doc running-max window (O(1) state, no position explode)
    *      MERGES overlapping windows into disjoint intervals
    *      (gaps-and-islands over the same sort), whose summed lengths are
    *      the exact interval-union duplicated-token count;
    *   4. the rewrite keeps tokens outside every interval — a
    *      higher-order filter over the collected per-doc MERGED interval
    *      list, never a per-token join. Filtering against merged intervals
    *      instead of raw starts matters on degenerate docs: a 10^5-token
    *      doc of alternating duplicated runs has ~n_tokens/2 raw starts
    *      (an O(tokens x starts) straggler task) but only
    *      as-many-merged-intervals-as-runs, so per-token lambda work is
    *      bounded by the doc's disjoint duplicated-run count (1 for a
    *      fully-duplicated doc).
    *
    * A window straddling what remains after a cut can re-duplicate —
    * Lee et al. accept the same single-pass semantics (their cuts are
    * per-occurrence too); run to fixpoint if needed.
    *
    * Output: (doc_id, n_tokens, n_dup_tokens, rebuilt).
    */
  /** Duplicate window starts (doc_id, pos) — every `minLen`-token sliding
    * window that is NOT its gram's corpus-wide first occurrence (ordered by
    * (doc_id, pos)). THE shared upstream of both exact-substring views: the
    * interval-union rewrite ([[exactSubstrDedup]]) and the maximal-run
    * decomposition (`q_dedup_substr_runs`). One map-only gram explode, one
    * `min(struct)` first-occurrence aggregation (map-side partial combine
    * tames boilerplate grams), one join-back over the pinned gram stream.
    */
  /** The positional gram stream (doc_id, pos, g) behind the whole
    * exact-substring family: 16-hex md5 prefix of each `minLen`-token
    * sliding window. One map-only explode — the single most expensive
    * shared stage of the family, which is why the 13-gram instance is a
    * build-once artifact ([[pgrams13Frame]]).
    */
  private[graft] def pgramsBody(
      docs: org.apache.spark.sql.DataFrame,
      minLen: Int
  ): org.apache.spark.sql.DataFrame = {
    val L = minLen
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= L)
      .select(
        col("doc_id"),
        explode(
          expr(
            s"transform(sequence(1, size(t) - ${L - 1}), i -> " +
              s"named_struct('pos', i, 'g', substring(md5(concat_ws(' ', slice(t, i, $L))), 1, 16)))"
          )
        ).as("e")
      )
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.g").as("g"))
  }

  /** Duplicate window starts from an ALREADY-MATERIALIZED positional gram
    * frame — the shared tail of [[dupWindowStarts]]: one `min(struct)`
    * first-occurrence aggregation + the dup probe join back.
    */
  private[graft] def dupFromPgrams(
      pg: org.apache.spark.sql.DataFrame
  ): org.apache.spark.sql.DataFrame = {
    val first = pg
      .groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    pg.join(first, "g")
      .filter(struct(col("doc_id"), col("pos")) =!= col("f"))
      .select(col("doc_id"), col("pos"))
  }

  private[graft] def dupWindowStarts(
      docs: org.apache.spark.sql.DataFrame,
      minLen: Int
  ): org.apache.spark.sql.DataFrame =
    // referenced twice (first-occurrence agg AND the dup probe side):
    // materialize the gram stream once or the corpus-wide explode runs
    // twice — the transition-matrix lesson, applied here
    dupFromPgrams(pgramsBody(docs, minLen).pin())

  /** The 13-gram positional frame as a build-once artifact — r20
    * optimization: `q_dedup_exact_substr`, `q_dedup_substr_runs` and
    * `q_dedup_spans` each re-ran the corpus-wide window explode + md5 per
    * call (measured ~0.5 s per query per pass at sf0.1). Same chain as
    * the MinHash family: grams -> dup starts, each one more derivation
    * over the previous artifact.
    */
  private[graft] def pgrams13Frame(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.get(s, dir, Pgrams13)(pgramsBody(Tables.documents(s, dir), 13))

  /** Duplicate 13-gram window starts as a build-once artifact (shared by
    * the interval-union rewrite and the maximal-run decomposition).
    */
  private def dupStartsFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.get(s, dir, SubstrDup)(dupFromPgrams(pgrams13Frame(s, dir)))

  /** The winnow selected-fingerprint frame as a build-once artifact —
    * shared by the census gate (`q_dedup_winnow`) and the matcher
    * (`q_dedup_winnow_matches`), which each re-ran the gram explode +
    * sliding-window min per call.
    */
  private def winnowSelFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.get(s, dir, WinnowSel)(winnowSelected(Tables.documents(s, dir), k = 4, w = 5))

  /** The distinct per-doc winnow fingerprint set (doc_id, h, nfp) as its
    * own build-once artifact (r21), keyed by h: the matcher re-ran the
    * distinct + a per-call pin (leaked) every call, then re-exchanged the
    * frame for its h-bucketed pair window AND re-aggregated it once per
    * join side for the per-doc set sizes (measured: three full artifact
    * scans per call; ReuseExchange did not collapse the duplicate size
    * subtrees). The per-doc fingerprint count `nfp` is folded in at build
    * time so the matcher runs join-free off one scan.
    */
  private def winnowFpsFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.get(s, dir, WinnowFps) {
      val fps = winnowSelFrame(s, dir).select(col("doc_id"), col("sel.h").as("h")).distinct()
      val nf  = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
      fps.join(nf, "doc_id")
    }

  private[graft] def exactSubstrDedup(
      docs: org.apache.spark.sql.DataFrame,
      minLen: Int = 13
  ): org.apache.spark.sql.DataFrame =
    exactSubstrFromDup(docs, dupWindowStarts(docs, minLen), minLen)

  /** [[exactSubstrDedup]] over an externally-supplied duplicate-start
    * frame — the tail the artifact-backed gate query reads, so the dup
    * derivation is shared with `q_dedup_substr_runs` instead of re-run.
    */
  private[graft] def exactSubstrFromDup(
      docs: org.apache.spark.sql.DataFrame,
      dup: org.apache.spark.sql.DataFrame,
      minLen: Int = 13
  ): org.apache.spark.sql.DataFrame = {
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .join(exactSubstrCensus(dup, minLen), Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        // token i (0-based) survives unless a MERGED interval [s, e]
        // covers it — the per-token lambda scans the doc's disjoint
        // duplicated runs, not its raw window-start list
        concat_ws(
          " ",
          filter(
            col("t"),
            (x, i) =>
              size(filter(coalesce(col("iv"), array().cast("array<struct<s:int,e:int>>")),
                v => v.getField("s") <= i + 1 && i + 1 <= v.getField("e"))) === 0
          )
        ).as("rebuilt")
      )
  }

  /** Maximal duplicated-RUN decomposition (Lee et al. 2022's per-run view,
    * which the interval-union census deliberately does not report): a
    * maximal run is a maximal set of CONSECUTIVE duplicate window starts —
    * starts p..p+k (step exactly 1) mean every `minLen`-window inside
    * [p, p+k+minLen-1] is duplicated, so that whole span is a duplicated
    * run of k+minLen tokens, while a missing start breaks the run (the
    * straddling window is unique, so the longer span is NOT fully
    * duplicated even when the intervals overlap and the union merges
    * them). Gaps-and-islands on start positions per doc: island id =
    * pos - row_number() (valid: one gram per doc position, so pos is
    * unique per doc), run_len = starts-in-island + minLen - 1.
    * Output: (doc_id, run_start, run_len), one row per maximal run.
    */
  private[graft] def substrRuns(
      docs: org.apache.spark.sql.DataFrame,
      minLen: Int = 13
  ): org.apache.spark.sql.DataFrame =
    runsFromDup(dupWindowStarts(docs, minLen), minLen)

  /** [[substrRuns]] over an externally-supplied duplicate-start frame
    * (the shared `substr_dup` artifact).
    */
  private[graft] def runsFromDup(
      dup: org.apache.spark.sql.DataFrame,
      minLen: Int = 13
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    dup
      .withColumn(
        "grp",
        col("pos") - row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        min(col("pos")).cast("long").as("run_start"),
        (count(lit(1)) + lit(minLen - 1)).cast("long").as("run_len"))
      .select(col("doc_id"), col("run_start"), col("run_len"))
  }

  /** Merged duplicate-interval census per doc from a (doc_id, pos) frame of
    * duplicate window starts: running max of interval ends over the
    * start-sorted windows detects island breaks (a window starting past
    * every prior end), a cumulative-sum island id groups each island, and
    * min/max per island yield the disjoint MERGED intervals `iv` =
    * sorted array<struct<s, e>> (1-based inclusive token positions).
    * `n_dup_tokens` = sum of merged lengths = the exact interval-union
    * length (the running-max census and the island census are the same
    * computation factored differently). Both windows share one
    * partitioning and sort, so they plan into a single exchange.
    */
  private[graft] def exactSubstrCensus(
      dup: org.apache.spark.sql.DataFrame,
      minLen: Int
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = minLen
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dup
      .withColumn("pmax", max(col("pos") + lit(L - 1)).over(wPrev))
      .withColumn(
        "isl",
        sum(when(col("pmax").isNull || col("pos") > col("pmax"), 1L).otherwise(0L)).over(wCum))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(L - 1)).as("e"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("e") - col("s") + lit(1)).cast("long").as("n_dup_tokens"),
        sort_array(collect_list(struct(col("s").cast("int").as("s"), col("e").cast("int").as("e"))))
          .as("iv")
      )
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003, the
    * MOSS algorithm): hash every `k`-token gram, slide a window of `w`
    * consecutive hashes, and select each window's minimum — ties to the
    * RIGHTMOST position (the paper's rule, here the struct-min trick
    * `min(struct(h, -p))`). The selected set is position-robust: any
    * shared run of >= w+k-1 tokens between two docs is GUARANTEED to
    * contribute at least one common fingerprint, while only ~2/(w+1) of
    * grams are kept — the local-sampling guarantee plain minhash lacks.
    *
    * Scale shape: the gram hash stream is one map-only explode; the
    * sliding min is ONE doc-keyed window over contiguous rows (O(w) state,
    * users^0 cross-talk: each doc independent); the census aggregates
    * per doc. No pair generation here — the selected fingerprints are the
    * artifact a matcher would bucket-join on (with the MaxLshBucket cap).
    *
    * Output: (doc_id, n_grams, n_windows, n_fps, density); docs shorter
    * than k+w-1 tokens have no full window and drop out, like the paper's
    * guarantee threshold.
    */
  private[graft] def winnowFrame(
      docs: org.apache.spark.sql.DataFrame,
      k: Int = 4,
      w: Int = 5
  ): org.apache.spark.sql.DataFrame =
    winnowCensusFromSel(winnowSelected(docs, k, w))

  /** The per-doc winnow census over an externally-supplied selected-
    * fingerprint frame (the shared `winnow_sel` artifact).
    */
  private[graft] def winnowCensusFromSel(
      sel: org.apache.spark.sql.DataFrame
  ): org.apache.spark.sql.DataFrame =
    sel
      .groupBy(col("doc_id"))
      .agg(
        max(col("ng")).cast("long").as("n_grams"),
        count(lit(1)).cast("long").as("n_windows"),
        countDistinct(col("sel")).cast("long").as("n_fps")
      )
      // raw exact-int division: bit-identical double in both engines
      .withColumn("density", col("n_fps").cast("double") / col("n_windows").cast("double"))

  /** One row per full window with the window's selected fingerprint
    * `sel = struct(h, np = -p)` (the position-carrying MOSS fingerprint) —
    * exposed so tests pin the paper's guarantee (a shared run of
    * >= w+k-1 tokens contributes a common HASH) and the rightmost tie
    * rule. Columns: (doc_id, ng, p, h, sel).
    */
  private[graft] def winnowSelected(
      docs: org.apache.spark.sql.DataFrame,
      k: Int,
      w: Int
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> x != '')").as("t"))
      .filter(size(col("t")) >= k)
      .select(
        col("doc_id"),
        (size(col("t")) - lit(k - 1)).as("ng"),
        explode(
          expr(
            s"transform(sequence(1, size(t) - ${k - 1}), i -> " +
              s"named_struct('p', i, 'h', substring(md5(concat_ws(' ', slice(t, i, $k))), 1, 16)))"
          )
        ).as("e")
      )
      .select(col("doc_id"), col("ng"), col("e.p").as("p"), col("e.h").as("h"))
    val wn = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(Window.currentRow, w - 1)
    pos
      .withColumn("sel", min(struct(col("h"), (-col("p")).as("np"))).over(wn))
      .filter(col("p") <= col("ng") - lit(w - 1))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_dedup_exact",
      "exact dedup census: rows vs distinct texts vs distinct normalized texts (groupBy-hash dedup)",
      (s, dir) =>
        Tables
          .documents(s, dir)
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("text")).as("n_unique"),
            countDistinct(regexp_replace(lower(col("text")), "\\s+", " ")).as("n_unique_norm")
          ),
      Some("""SELECT count(1) AS n_docs, count(DISTINCT text) AS n_unique,
             |  count(DISTINCT regexp_replace(lower(text), '\s+', ' ', 'g')) AS n_unique_norm
             |FROM documents""".stripMargin)
    ),
    QueryDef(
      "q_dedup_exact_keep",
      "exact dedup with survivor selection: min doc_id per distinct text (deterministic, unlike dropDuplicates)",
      (s, dir) =>
        Tables
          .documents(s, dir)
          .groupBy(col("text"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
          .limit(300),
      Some("""SELECT keep_id, n_copies FROM (
             |  SELECT min(doc_id) AS keep_id, count(1) AS n_copies
             |  FROM documents GROUP BY text) t
             |ORDER BY keep_id LIMIT 300""".stripMargin)
    ),
    QueryDef(
      "q_dedup_minhash_sig",
      "MinHash+LSH signatures: 8 md5-minhashes over 5-token shingles, banded 4x2 (map-only at any scale)",
      (s, dir) => sigFrame(s, dir).orderBy(col("doc_id")).limit(500),
      Some(s"""WITH $sigCte
              |SELECT doc_id, ${(0 until NumBands).map(b => s"band$b").mkString(", ")}
              |FROM sig ORDER BY doc_id LIMIT 500""".stripMargin)
    ),
    QueryDef(
      "q_dedup_minhash_pairs",
      "MinHash+LSH candidate pairs: docs colliding on any band (shuffle only on band keys, never all-pairs)",
      (s, dir) => minhashPairs(s, dir).orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH $pairsCteSql
              |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin)
    ),
    QueryDef(
      "q_dedup_source_matrix",
      "cross-source duplication matrix — which sources copy from which: every MinHash candidate pair mapped to its (source, source) cell, unordered (least/greatest), counted. Off-diagonal cells are syndication/mirror traffic BETWEEN sources (the corpus-governance signal doc-level dedup counts can't show); the diagonal is within-source redundancy. Scale shape: the pair frame is the banded generator's near-linear output joined twice against the slim (doc_id, source) projection — never the text — and the output is at most S^2 cells",
      (s, dir) => {
        val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        minhashPairs(s, dir)
          .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
          .select(least(col("sa"), col("sb")).as("source_a"), greatest(col("sa"), col("sb")).as("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""WITH $pairsCteSql,
              |cells AS (
              |  SELECT least(sa.source, sb.source) AS source_a,
              |    greatest(sa.source, sb.source) AS source_b
              |  FROM pairs p
              |  JOIN documents sa ON sa.doc_id = p.doc_a
              |  JOIN documents sb ON sb.doc_id = p.doc_b)
              |SELECT source_a, source_b, count(1) AS n_pairs
              |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),
    QueryDef(
      "q_dedup_clusters",
      "near-dup clusters: EXACT connected components over MinHash candidate pairs (pointer-doubling label propagation, converges in O(log diameter) rounds) — cluster census; oracle is a recursive-CTE transitive closure, so the gate proves convergence, not a mirrored iteration count",
      (s, dir) =>
        clusterLabels(s, dir)
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_members"), max(col("doc_id")).as("max_doc"))
          .orderBy(col("label")),
      Some(s"""WITH RECURSIVE $clustersCteSql
              |SELECT label, count(1) AS n_members, max(doc_id) AS max_doc
              |FROM cc GROUP BY label ORDER BY label""".stripMargin)
    ),
    QueryDef(
      "q_dedup_survivors",
      "dedup survivor census — the filtered-corpus step: every doc not displaced by a smaller cluster label survives (one per near-dup cluster plus all untouched docs)",
      (s, dir) => {
        val labels = clusterLabels(s, dir)
        Tables
          .documents(s, dir)
          .select(col("doc_id"))
          .join(labels, Seq("doc_id"), "left_outer")
          .select(
            col("doc_id"),
            (col("label").isNotNull && col("label") =!= col("doc_id")).as("is_dropped")
          )
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("is_dropped").cast("long")).cast("long").as("n_dropped"),
            (count(lit(1)) - sum(col("is_dropped").cast("long"))).cast("long").as("n_survivors"),
            min(when(!col("is_dropped"), col("doc_id"))).as("first_survivor")
          )
      },
      Some(s"""WITH RECURSIVE $clustersCteSql,
              |flagged AS (
              |  SELECT d.doc_id,
              |    (l.label IS NOT NULL AND l.label <> d.doc_id) AS is_dropped
              |  FROM documents d LEFT JOIN cc l ON d.doc_id = l.doc_id)
              |SELECT count(1) AS n_docs,
              |  cast(sum(cast(is_dropped as bigint)) as bigint) AS n_dropped,
              |  cast(count(1) - sum(cast(is_dropped as bigint)) as bigint) AS n_survivors,
              |  min(CASE WHEN NOT is_dropped THEN doc_id END) AS first_survivor
              |FROM flagged""".stripMargin)
    ),
    QueryDef(
      "q_dedup_minhash_calib",
      "MinHash estimator CALIBRATION over the candidate pairs: per pair, the sketch's Jaccard estimate (fraction of the 8 minhashes that agree — the unbiased MinHash estimator) against the EXACT distinct-shingle Jaccard, with the signed error. The tuning readout for the banding parameters: a systematic gap between est_j and exact_j on real candidates means the hash count is too low for the threshold in use. Scale shape: every join is keyed by doc id over the pair-linear candidate frame — signatures and distinct-shingle sizes join per paired doc, never corpus x corpus",
      (s, dir) => {
        val pairs = minhashPairs(s, dir)
        val raw   = rawSigFrame(s, dir) // shared materialization with sigFrame
        val ex    = shingleFrame(s, dir).select(col("doc_id"), col("sh"))
        val sizes = shingleSizes(s, dir)
        val nEq = (0 until NumHashes)
          .map(j => (col(s"ha.h$j") === col(s"hb.h$j")).cast("int"))
          .reduce(_ + _)
        val withEst = pairs
          .join(raw.as("ha"), col("doc_a") === col("ha.doc_id"))
          .join(raw.as("hb"), col("doc_b") === col("hb.doc_id"))
          .select(col("doc_a"), col("doc_b"), (nEq.cast("double") / NumHashes).as("est_j"))
        val common = pairs
          .join(ex.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
          .join(ex.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("common"))
        withEst
          .join(common, Seq("doc_a", "doc_b"), "left")
          .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), "doc_b")
          .withColumn(
            "exact_j",
            coalesce(col("common"), lit(0L)) / (col("na") + col("nb") - coalesce(col("common"), lit(0L)))
          )
          .select(
            col("doc_a"),
            col("doc_b"),
            col("est_j"),
            col("exact_j"),
            (col("est_j") - col("exact_j")).as("err")
          )
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH $pairsCteSql,
              |ex AS (
              |  SELECT doc_id, substring(md5(ush), 1, 16) AS shp
              |  FROM (SELECT doc_id, unnest(list_distinct(s)) AS ush FROM sh) u),
              |sizes AS (SELECT doc_id, count(1) AS nsh FROM ex GROUP BY 1),
              |common AS (
              |  SELECT p.doc_a, p.doc_b, count(1) AS common
              |  FROM pairs p
              |  JOIN ex a ON a.doc_id = p.doc_a
              |  JOIN ex b ON b.doc_id = p.doc_b AND b.shp = a.shp
              |  GROUP BY 1, 2),
              |est AS (
              |  SELECT p.doc_a, p.doc_b,
              |    (${(0 until NumHashes).map(j => s"cast(a.h$j = b.h$j as int)").mkString(" + ")}) / ${NumHashes}.0 AS est_j
              |  FROM pairs p
              |  JOIN sigraw a ON a.doc_id = p.doc_a
              |  JOIN sigraw b ON b.doc_id = p.doc_b)
              |SELECT e.doc_a, e.doc_b, e.est_j,
              |  coalesce(c.common, 0) / (sa.nsh + sb.nsh - coalesce(c.common, 0)) AS exact_j,
              |  e.est_j - coalesce(c.common, 0) / (sa.nsh + sb.nsh - coalesce(c.common, 0)) AS err
              |FROM est e
              |LEFT JOIN common c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
              |JOIN sizes sa ON sa.doc_id = e.doc_a
              |JOIN sizes sb ON sb.doc_id = e.doc_b
              |ORDER BY 1, 2""".stripMargin)
    ),
    QueryDef(
      "q_dedup_keep_best",
      "QUALITY-AWARE survivor selection per near-dup cluster — what production pipelines actually keep (the min-id rule is deterministic but blind: it happily keeps the boilerplate-mangled copy and drops the clean one). Per cluster: the member with the highest composite quality score wins, ties to the smallest doc_id, plus a `changed` flag marking clusters where the quality rule picks a DIFFERENT survivor than the naive min-id rule. Scale shape: clusters come from the banded pair generator + pointer-doubling CC; quality is map-only; the argmax is a max(struct(quality, -doc_id)) aggregate — no per-cluster window sort; join cost is |clustered docs|, not the corpus",
      (s, dir) => {
        val labels = clusterLabels(s, dir)
        val q = TextAnalysis
          .qualityFrame(Tables.documents(s, dir))
          .select(col("doc_id"), col("quality"))
        bestPerCluster(labels, q)
          .select(
            col("label"),
            col("n_members"),
            col("keep_id"),
            col("keep_quality"),
            (col("keep_id") =!= col("label")).as("changed")
          )
          .orderBy(col("label"))
      },
      Some(s"""WITH RECURSIVE $clustersCteSql,
              |${TextAnalysis.qualityMetricsCteSql},
              |qual AS (SELECT doc_id, ${TextAnalysis.qualityColSql} AS quality FROM m),
              |ranked AS (
              |  SELECT cc.label, cc.doc_id, q.quality,
              |    row_number() OVER (PARTITION BY cc.label ORDER BY q.quality DESC, cc.doc_id) AS rn,
              |    count(1) OVER (PARTITION BY cc.label) AS n_members
              |  FROM cc JOIN qual q USING (doc_id))
              |SELECT label, cast(n_members as bigint) AS n_members,
              |  doc_id AS keep_id, quality AS keep_quality,
              |  doc_id <> label AS changed
              |FROM ranked WHERE rn = 1 ORDER BY label""".stripMargin)
    ),
    QueryDef(
      "q_dedup_simhash",
      "16-bit SimHash fingerprints (token-frequency-weighted bit majority over md5 bits)",
      (s, dir) => simhashFrame(s, dir).orderBy(col("doc_id")).limit(500),
      Some(s"""WITH $simhashCteSql
              |SELECT doc_id, simhash FROM sh_sim ORDER BY doc_id LIMIT 500""".stripMargin)
    ),
    QueryDef(
      "q_dedup_simhash_dupes",
      "SimHash collision groups: fingerprints shared by >1 doc (hash-equality near-dup candidates)",
      (s, dir) =>
        simhashFrame(s, dir)
          .groupBy(col("simhash"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
          .filter(col("n_docs") > 1)
          .orderBy(col("simhash")),
      Some(s"""WITH $simhashCteSql
              |SELECT simhash, count(1) AS n_docs, min(doc_id) AS first_doc
              |FROM sh_sim GROUP BY simhash HAVING count(1) > 1 ORDER BY simhash""".stripMargin)
    ),
    QueryDef(
      "q_dedup_simhash_banded",
      "SimHash banded near-dup fingerprint pairs (Hamming <= 3 via 4x4-bit band blocking over DISTINCT fingerprints) — the oracle is the EXHAUSTIVE Hamming join, so the gate proves the banding lossless",
      (s, dir) => simhashBandPairs(simhashFrame(s, dir)),
      Some(s"""WITH $simhashCteSql,
              |reps AS (
              |  SELECT simhash, min(doc_id) AS rep_doc, count(1) AS n_docs
              |  FROM sh_sim GROUP BY simhash)
              |SELECT a.simhash AS sim_a, b.simhash AS sim_b,
              |  a.rep_doc AS doc_a, b.rep_doc AS doc_b,
              |  a.n_docs AS docs_a, b.n_docs AS docs_b,
              |  cast(bit_count(xor(a.simhash, b.simhash)) as bigint) AS hamming
              |FROM reps a JOIN reps b ON a.simhash < b.simhash
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
              |ORDER BY sim_a, sim_b""".stripMargin)
    ),
    QueryDef(
      "q_dedup_jaccard",
      "n-gram Jaccard near-dup pairs within (lang, source) buckets via bucket-grouped shingle counting; high-df shingle buckets capped at MaxLshBucket smallest doc_ids with an observable drop metric (graft.jaccard_pairs), rank<=cap mirrored in the oracle",
      (s, dir) =>
        jaccardPairs(shingleFrame(s, dir), sizesOpt = Some(shingleSizes(s, dir)))
          .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH $shinglesCte,
              |ex0 AS (SELECT doc_id, lang, source, unnest(list_distinct(s)) AS shingle_raw FROM sh),
              |ex AS (SELECT doc_id, lang, source, substring(md5(shingle_raw), 1, 16) AS shingle FROM ex0),
              |sizes AS (SELECT doc_id, count(1) AS nsh FROM ex GROUP BY doc_id),
              |exr AS (SELECT doc_id, lang, source, shingle,
              |          row_number() OVER (PARTITION BY lang, source, shingle ORDER BY doc_id) AS rk
              |        FROM ex),
              |exc AS (SELECT doc_id, lang, source, shingle FROM exr WHERE rk <= $MaxLshBucket),
              |common AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS common
              |  FROM exc a JOIN exc b
              |    ON a.shingle = b.shingle AND a.lang = b.lang
              |   AND a.source = b.source AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_a, doc_b,
              |  common / (sa.nsh + sb.nsh - common) AS jaccard
              |FROM common
              |JOIN sizes sa ON sa.doc_id = doc_a
              |JOIN sizes sb ON sb.doc_id = doc_b
              |WHERE common / (sa.nsh + sb.nsh - common) >= 0.05
              |ORDER BY doc_a, doc_b""".stripMargin)
    ),
    QueryDef(
      "q_dedup_fuzzy",
      "edit-distance near-dup pairs on part names, blocked by brand (fuzzy record linkage): candidate pairs come from an equi-join on the block key — O(sum block^2) not O(n^2) — then exact levenshtein <= 2 filters; per-brand census",
      (s, dir) => {
        // fanout only the probe side (`part` is not a spread table): it
        // carries the per-pair levenshtein work (single-row-group fixture
        // -> 1 task otherwise); the build side just feeds a broadcast,
        // where a rebalance buys nothing.
        // r21: the LENGTH BAND rides the join KEY — d <= 2 implies
        // |len(a)-len(b)| <= 2, so blocking on (brand, len div 3) with
        // the build side exploded into its three adjacent buckets is
        // LOSSLESS (a qualifying pair's buckets differ by at most 1) and
        // cuts the candidate row explosion ~5x before the post-join
        // length filter even runs; the build side triples (cheap: it
        // broadcasts), the probe side is unchanged.
        val lb = floor(length(col("p_name")) / 3).cast("int")
        val a = Tables
          .fanout(Tables.part(s, dir))
          .select(col("p_brand").as("brand"), lb.as("lb"),
            col("p_partkey").as("key_a"), col("p_name").as("name_a"))
        val b = Tables
          .part(s, dir)
          .select(col("p_brand").as("brand"),
            explode(array(lb - 1, lb, lb + 1)).as("lb"),
            col("p_partkey").as("key_b"), col("p_name").as("name_b"))
        a.join(b, Seq("brand", "lb"))
          .filter(col("key_a") < col("key_b"))
          // d <= 2 implies |len(a)-len(b)| <= 2: a codegen'd integer compare
          // prunes the band's residue before the O(len^2) edit-distance DP,
          // and the thresholded levenshtein bails out of the DP as soon as
          // every band cell exceeds 2 (returns -1 past the threshold)
          .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 2)
          .select(col("brand"), levenshtein(col("name_a"), col("name_b"), 2).as("d"))
          .filter(col("d") >= 0)
          .groupBy(col("brand"))
          .agg(
            count(lit(1)).as("n_pairs"),
            sum((col("d") === 0).cast("long")).cast("long").as("n_exact"),
            min(col("d")).cast("long").as("min_d")
          )
          .orderBy(col("brand"))
      },
      Some("""SELECT a.p_brand AS brand, count(1) AS n_pairs,
             |  cast(sum(cast(levenshtein(a.p_name, b.p_name) = 0 as bigint)) as bigint) AS n_exact,
             |  cast(min(levenshtein(a.p_name, b.p_name)) as bigint) AS min_d
             |FROM part a JOIN part b
             |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
             |WHERE levenshtein(a.p_name, b.p_name) <= 2
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    QueryDef(
      "q_dedup_spans",
      "verbatim shared-span extent per doc pair (the exact-substring-dedup signal set similarity can't give: Jaccard says HOW MUCH overlaps, this says HOW LONG the longest verbatim run is): 13-token-window matches grouped on alignment diagonals (ib - ia), gaps-and-islands over window starts turns each maximal diagonal run of length L into a shared span of L+12 tokens — top-20 pairs by longest span. Scale: occurrence pairs come from bucket-grouped gram collection (never a gram self-join); the islands window partitions by (pair, diagonal) so no global sort; hot grams (boilerplate) are capped at MaxLshBucket occurrences with an observable drop metric (graft.span_pairs), mirrored rank<=cap in the oracle",
      (s, dir) =>
        spanExtentFromPg(pgrams13Frame(s, dir))
          .orderBy(col("max_span").desc, col("doc_a"), col("doc_b"))
          .limit(20),
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 12, 0))) AS i FROM toks),
             |pg AS (SELECT doc_id, i, substring(md5(array_to_string(t[i:i+12], ' ')), 1, 16) AS g FROM idx),
             |pgr AS (SELECT doc_id, i, g,
             |               row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rk FROM pg),
             |pgc AS (SELECT doc_id, i, g FROM pgr WHERE rk <= $MaxLshBucket),
             |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
             |      FROM pgc a JOIN pgc b ON a.g = b.g AND a.doc_id < b.doc_id),
             |isl AS (SELECT doc_a, doc_b, ib - ia AS diag, ia,
             |               ia - row_number() OVER (PARTITION BY doc_a, doc_b, ib - ia ORDER BY ia) AS island
             |        FROM m),
             |runs AS (SELECT doc_a, doc_b, count(1) AS len
             |         FROM isl GROUP BY doc_a, doc_b, diag, island)
             |SELECT doc_a, doc_b, cast(max(len) + 12 as bigint) AS max_span,
             |  count(1) AS n_spans, cast(sum(len) as bigint) AS n_matches
             |FROM runs GROUP BY 1, 2
             |ORDER BY max_span DESC, doc_a, doc_b LIMIT 20""".stripMargin)
    ),
    QueryDef(
      "q_dedup_containment",
      "asymmetric containment pairs C(a,b) = |A n B| / |A| over 5-token shingle sets — the subset-copy detector: a short doc pasted inside a long one scores c ~ 1.0 on its side while Jaccard (common / union) stays low, so a symmetric threshold misses it. Deliberately UNBLOCKED (no lang/source buckets, unlike q_dedup_jaccard): mirror copies cross source boundaries. Scale guard: shingle buckets above 1024 docs are capped to their smallest doc_ids with an observed drop metric (same guard as the LSH pair generator — a boilerplate shingle on a real corpus would emit bucket-squared pairs); at the fixtures' 5-gram df ~ 1 the cap never binds, so the query stays oracle-exact. Integer counts and single-divide doubles, bit-identical across engines",
      (s, dir) =>
        containmentPairs(shingleFrame(s, dir), sizesOpt = Some(shingleSizes(s, dir)))
          .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH $shinglesCte,
              |ex0 AS (SELECT doc_id, unnest(list_distinct(s)) AS shingle_raw FROM sh),
              |ex AS (SELECT doc_id, substring(md5(shingle_raw), 1, 16) AS shingle FROM ex0),
              |sizes AS (SELECT doc_id, count(1) AS nsh FROM ex GROUP BY doc_id),
              |common AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS common
              |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_a, doc_b, common / sa.nsh AS c_a, common / sb.nsh AS c_b
              |FROM common
              |JOIN sizes sa ON sa.doc_id = doc_a
              |JOIN sizes sb ON sb.doc_id = doc_b
              |WHERE greatest(common / sa.nsh, common / sb.nsh) >= 0.5
              |ORDER BY doc_a, doc_b""".stripMargin)
    ),
    QueryDef(
      "q_dedup_segments",
      "segment-level dedup WITH document rewrite — the CCNet/ExactSubstr-style sub-document pass the doc-level family can't do: every doc is cut into non-overlapping 8-token segments (map-only slice lambdas), the corpus-wide FIRST occurrence of each distinct segment (ordered by doc_id, seg_idx) survives, later copies are dropped, and each doc is REASSEMBLED from its kept segments in order. Scale shape: the shuffle key is md5(segment) — 32 bytes, never the text; first-occurrence is a groupBy min(struct), not a rank window; rebuild is one collect_list per doc. Output pins the rebuilt text by md5 per doc, so the oracle hash-proves the full cut-dedup-reassemble round trip",
      (s, dir) =>
        segmentDedup(Tables.documents(s, dir))
          .select(
            col("doc_id"),
            col("n_segs"),
            col("n_kept"),
            md5(col("rebuilt")).as("kept_hash")
          )
          .orderBy(col("doc_id"))
          .limit(500),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |idx AS (
             |  SELECT doc_id, t,
             |    unnest(generate_series(0, cast((len(t) + 7) // 8 as bigint) - 1)) AS seg_idx
             |  FROM toks),
             |segs AS (
             |  SELECT doc_id, seg_idx,
             |    array_to_string(t[(seg_idx*8+1):((seg_idx+1)*8)], ' ') AS seg
             |  FROM idx),
             |kept AS (
             |  SELECT doc_id, seg_idx, seg FROM (
             |    SELECT doc_id, seg_idx, seg,
             |      row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
             |    FROM segs)
             |  WHERE rn = 1),
             |reb AS (
             |  SELECT doc_id, count(1) AS n_kept,
             |    md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS kept_hash
             |  FROM kept GROUP BY doc_id),
             |base AS (SELECT doc_id, count(1) AS n_segs FROM segs GROUP BY doc_id)
             |SELECT b.doc_id, b.n_segs, cast(coalesce(r.n_kept, 0) as bigint) AS n_kept,
             |  coalesce(r.kept_hash, md5('')) AS kept_hash
             |FROM base b LEFT JOIN reb r USING (doc_id)
             |ORDER BY b.doc_id LIMIT 500""".stripMargin)
    ),
    QueryDef(
      "q_dedup_exact_substr",
      "TRUE exact-substring dedup (Lee et al. 2022): every duplicated >=13-token run is cut from all but its corpus-wide first occurrence — sliding windows, so a copied run STRADDLING q_dedup_segments' fixed 8-token boundaries is caught (spec-pinned). Scale: one window explode, first-occurrence = ONE min(struct) aggregation (map-side partial combine tames boilerplate grams), duplicated-token count = exact interval-union length via per-doc running-max window (no position explode), rewrite via a higher-order filter over each doc's own start list",
      (s, dir) =>
        exactSubstrFromDup(Tables.documents(s, dir), dupStartsFrame(s, dir))
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 12, 0))) AS i FROM toks),
             |pg AS (SELECT doc_id, i AS pos, substring(md5(array_to_string(t[i:i+12], ' ')), 1, 16) AS g FROM idx),
             |pgr AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk FROM pg),
             |dup AS (SELECT doc_id, pos FROM pgr WHERE rk > 1),
             |cov AS (SELECT doc_id, pos,
             |         max(pos + 12) OVER (PARTITION BY doc_id ORDER BY pos
             |                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
             |        FROM dup),
             |cnt AS (SELECT doc_id, sum(greatest(0, (pos + 12) - greatest(coalesce(pmax, pos - 1), pos - 1))) AS nd
             |        FROM cov GROUP BY 1),
             |ss AS (SELECT doc_id, list_sort(list(pos)) AS starts FROM dup GROUP BY 1)
             |SELECT tk.doc_id,
             |  cast(len(tk.t) as bigint) AS n_tokens,
             |  cast(coalesce(c.nd, 0) as bigint) AS n_dup_tokens,
             |  coalesce(array_to_string(list_filter(tk.t, (x, i) ->
             |    len(list_filter(coalesce(s.starts, CAST([] AS BIGINT[])),
             |                    st -> st <= i AND i < st + 13)) = 0), ' '), '') AS rebuilt
             |FROM toks tk LEFT JOIN cnt c USING (doc_id) LEFT JOIN ss s USING (doc_id)
             |ORDER BY tk.doc_id""".stripMargin)
    ),
    QueryDef(
      "q_dedup_substr_runs",
      "maximal duplicated-RUN decomposition (Lee et al. 2022's per-run report, the suffix-array-grade view q_dedup_exact_substr's interval-union length deliberately collapses): a run is a maximal block of CONSECUTIVE duplicate 13-token window starts — a missing start breaks the run because its straddling window is unique, even when the overlapping intervals would merge in the union. Same one-explode + one-min(struct) first-occurrence upstream as the rewrite query; runs fall out of a per-doc gaps-and-islands over start positions (island = pos - row_number, one gram per doc position). Top-20 runs by (run_len desc, doc_id, run_start) — the 'what got copied and how much of it' audit artifact",
      (s, dir) =>
        runsFromDup(dupStartsFrame(s, dir))
          .orderBy(col("run_len").desc, col("doc_id"), col("run_start"))
          .limit(20),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 12, 0))) AS i FROM toks),
             |pg AS (SELECT doc_id, i AS pos, substring(md5(array_to_string(t[i:i+12], ' ')), 1, 16) AS g FROM idx),
             |pgr AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk FROM pg),
             |dup AS (SELECT doc_id, pos FROM pgr WHERE rk > 1),
             |isl AS (SELECT doc_id, pos,
             |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             |        FROM dup),
             |runs AS (SELECT doc_id, cast(min(pos) as bigint) AS run_start,
             |           cast(count(1) + 12 as bigint) AS run_len
             |         FROM isl GROUP BY doc_id, grp)
             |SELECT doc_id, run_start, run_len FROM runs
             |ORDER BY run_len DESC, doc_id, run_start LIMIT 20""".stripMargin)
    ),
    QueryDef(
      "q_dedup_winnow",
      "winnowing fingerprint selection (Schleimer et al. 2003 / MOSS): 4-token gram hashes, sliding window of 5, keep each window's min hash with ties to the RIGHTMOST position (min(struct(h, -p))) — guarantees any shared run of >= 8 tokens contributes a common fingerprint while keeping ~2/(w+1) of grams. Scale: one map-only gram explode, one doc-keyed contiguous window (O(w) state), per-doc census; fingerprints are the bucket-join artifact for matching. Census: grams, full windows, distinct selected fingerprints, density",
      (s, dir) => winnowCensusFromSel(winnowSelFrame(s, dir)).orderBy(col("doc_id")).limit(300),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
             |idx AS (SELECT doc_id, t, len(t) AS m, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS p
             |        FROM toks WHERE len(t) >= 4),
             |hs AS (SELECT doc_id, m - 3 AS ng, p,
             |         substring(md5(array_to_string(t[p:p+3], ' ')), 1, 16) AS h
             |       FROM idx),
             |sel AS (
             |  SELECT doc_id, ng, p,
             |    min(struct_pack(h := h, np := -p)) OVER (
             |      PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS w
             |  FROM hs),
             |census AS (
             |  SELECT doc_id, max(ng) AS n_grams, count(1) AS n_windows, count(DISTINCT w) AS n_fps
             |  FROM sel WHERE p <= ng - 4 GROUP BY 1)
             |SELECT doc_id, cast(n_grams as bigint) AS n_grams,
             |  cast(n_windows as bigint) AS n_windows, cast(n_fps as bigint) AS n_fps,
             |  cast(n_fps as double) / cast(n_windows as double) AS density
             |FROM census ORDER BY doc_id LIMIT 300""".stripMargin)
    ),
    QueryDef(
      "q_dedup_winnow_matches",
      "winnow-fingerprint match pairs (the MOSS matcher): docs sharing >= 2 selected fingerprint HASHES, with overlap = shared / min(|fps_a|, |fps_b|) — near-1 overlap flags containment/duplication from the ~2/(w+1)-density fingerprint sets instead of full shingle sets (the whole point of winnowing: the joined frame is 3x smaller than the gram stream). Bucket-grouped pair counting with the standard MaxLshBucket cap + observable drop metric (graft.winnow_pairs), rank<=cap mirrored in the oracle; top-50 by shared count via TakeOrdered",
      (s, dir) => {
        // r21: the winnow_fps artifact (h-keyed pin) carries each row's
        // per-doc fingerprint count, so the matcher is ONE scan: the
        // h-bucketed pair window reads the pinned blocks exchange-free
        // and the set sizes ride the pair structs — no join-back at all.
        // The pair item is struct(doc_id, nfp); nfp is a function of
        // doc_id, so the bucket sort order (and the cap's kept set) is
        // exactly the former doc_id order.
        val fps = winnowFpsFrame(s, dir)
        cappedBucketPairs(fps, Seq(col("h")), struct(col("doc_id"), col("nfp")),
            "graft.winnow_pairs", MaxLshBucket)
          .groupBy(col("p.doc_a.doc_id").as("doc_a"), col("p.doc_b.doc_id").as("doc_b"))
          .agg(
            count(lit(1)).as("shared"),
            max(col("p.doc_a.nfp")).as("nfp_a"),
            max(col("p.doc_b.nfp")).as("nfp_b")
          )
          .filter(col("shared") >= 2)
          .select(
            col("doc_a"),
            col("doc_b"),
            col("shared"),
            (col("shared").cast("double") / least(col("nfp_a"), col("nfp_b")).cast("double")).as("overlap")
          )
          .orderBy(col("shared").desc, col("doc_a"), col("doc_b"))
          .limit(50)
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
              |idx AS (SELECT doc_id, t, len(t) AS m, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS p
              |        FROM toks WHERE len(t) >= 4),
              |hs AS (SELECT doc_id, m - 3 AS ng, p,
              |         substring(md5(array_to_string(t[p:p+3], ' ')), 1, 16) AS h
              |       FROM idx),
              |sel AS (
              |  SELECT doc_id, ng, p,
              |    min(struct_pack(h := h, np := -p)) OVER (
              |      PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS w
              |  FROM hs),
              |fps AS (SELECT DISTINCT doc_id, w.h AS h FROM sel WHERE p <= ng - 4),
              |fpr AS (SELECT doc_id, h, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rk FROM fps),
              |fpc AS (SELECT doc_id, h FROM fpr WHERE rk <= $MaxLshBucket),
              |nf  AS (SELECT doc_id, count(1) AS nfp FROM fps GROUP BY 1),
              |pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS shared
              |  FROM fpc a JOIN fpc b ON a.h = b.h AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_a, doc_b, shared,
              |  cast(shared as double) / cast(least(na.nfp, nb.nfp) as double) AS overlap
              |FROM pairs JOIN nf na ON na.doc_id = doc_a JOIN nf nb ON nb.doc_id = doc_b
              |WHERE shared >= 2
              |ORDER BY shared DESC, doc_a, doc_b LIMIT 50""".stripMargin)
    )
  )
}
