package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vector-similarity operators over the `embeddings` fixture
  * (north-star set: brute-force cosine top-k as the baseline, LSH-bucketed
  * search as the 100 TB scale path).
  *
  * Spark side computes cosine through [[graft.functions.CosineSimilarity]] —
  * a codegen'd Catalyst expression (fused dot/norm loop) — registered as
  * `cosine_sim`. The DuckDB oracle mirrors the same arithmetic
  * (left-to-right double accumulation), with outputs rounded to 6 decimals.
  *
  * Scale notes:
  *   - top-k vs one query vector is a map + TakeOrderedAndProject: no
  *     shuffle of the corpus, only k rows to the driver per partition;
  *   - LSH bucketing (8 fixed hyperplanes -> 256 buckets) cuts candidate
  *     scans ~256x; buckets are a plain groupBy/equi-join key so the whole
  *     pipeline shuffles once on a byte-sized key;
  *   - the hyperplane constants are literals baked into BOTH engines from
  *     one deterministic generator, so plans constant-fold them.
  */
object Similarity {

  /** 8 fixed hyperplanes x 64 dims, deterministic LCG, 6-decimal literals
    * (decimal literals parse to identical doubles in both engines).
    */
  val planes: Seq[Seq[Double]] = {
    var state = 42L
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      math.rint((((state >>> 33).toDouble / (1L << 31).toDouble) - 0.5) * 1e6) / 1e6
    }
    Seq.fill(8)(Seq.fill(64)(next()))
  }

  /** 32 further hyperplanes (4 bands x 8 bits) for the banded signature —
    * a distinct LCG stream (seed 7) so the banded index is independent of
    * the 8-bit probe signature. Same 6-decimal literal discipline.
    */
  val bandPlanes: Seq[Seq[Double]] = {
    var state = 7L
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      math.rint((((state >>> 33).toDouble / (1L << 31).toDouble) - 0.5) * 1e6) / 1e6
    }
    Seq.fill(32)(Seq.fill(64)(next()))
  }

  /** Bits per band of the banded signature (4 bands x 8 = 32 planes). */
  val bandBits = 8

  private def planeLits(p: Seq[Double]): String = p.mkString(", ")

  /** Spark SQL: dot(embedding, plane) via zip_with/aggregate (constant
    * array folds into codegen).
    */
  private def dotSpark(p: Seq[Double]): String =
    s"aggregate(zip_with(embedding, array(${planeLits(p)}), (x, y) -> cast(x as double) * y), cast(0 as double), (acc, v) -> acc + v)"

  private def dotPlaneSpark(i: Int): String = dotSpark(planes(i))

  /** DuckDB: same dot product over the literal list. */
  private def dotDuck(p: Seq[Double]): String =
    s"list_aggregate(list_transform(generate_series(1, len(embedding)), k -> cast(embedding[k] as double) * ([${planeLits(p)}])[k]), 'sum')"

  private def dotPlaneDuck(i: Int): String = dotDuck(planes(i))

  /** Band `b`'s 8-bit sign signature (bits from bandPlanes(b*8 .. b*8+7)). */
  private def bandSigSpark(b: Int): String =
    (0 until bandBits)
      .map(j => s"case when ${dotSpark(bandPlanes(b * bandBits + j))} > 0 then ${1 << j} else 0 end")
      .mkString("cast(", " + ", " as bigint)")

  private[operators] def bandSigDuck(b: Int): String =
    (0 until bandBits)
      .map(j => s"case when ${dotDuck(bandPlanes(b * bandBits + j))} > 0 then ${1 << j} else 0 end")
      .mkString("cast(", " + ", " as bigint)")

  private def bucketSpark: String =
    (0 until planes.size).map(i => s"case when ${dotPlaneSpark(i)} > 0 then ${1 << i} else 0 end").mkString("cast(", " + ", " as bigint)")

  private def bucketDuck: String =
    (0 until planes.size).map(i => s"case when ${dotPlaneDuck(i)} > 0 then ${1 << i} else 0 end").mkString("cast(", " + ", " as bigint)")

  /** DuckDB cosine between two list cols (cast-to-double, order-stable).
    * Each dot product iterates min(len(x), len(y)) of ITS OWN operands,
    * matching CosineSimilarity's truncate-to-min semantics for (hypothetical)
    * unequal-length vectors.
    */
  private[graft] def cosDuck(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_aggregate(list_transform(generate_series(1, least(len($x), len($y))), k -> cast($x[k] as double) * cast($y[k] as double)), 'sum')"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  /** (Multi-probe) LSH ANN probe over any frame with (vec_id, embedding):
    * candidates are vectors in the query's sign-bucket or any bucket within
    * `maxHamming` flipped sign bits (radius 0 = 1 bucket ~ 1/256 of the
    * corpus; radius 1 = 9 buckets ~ 9/256 — the standard recall lever,
    * mirroring IVF's nprobe). Scoring within candidates is EXACT cosine, so
    * the probe returns the true top-k of its candidate set (pinned by
    * SimilarityRecallSpec).
    *
    * Scale shape: the probe BUCKETS are enumerated on the 1-row query side
    * (query bucket XOR each single-bit flip) and broadcast into an
    * equi-join on the bucket key — against a bucket-partitioned corpus
    * layout this prunes to the probed buckets, where a
    * `bit_count(bucket ^ q_bucket) <= r` filter would scan every row. Radius
    * is capped at 1 because radius-2 enumeration (37 buckets here) belongs
    * to a banded-signature design, not more XOR terms.
    */
  def lshProbe(emb: DataFrame, queryVecId: Long, maxHamming: Int = 0, k: Int = 5): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 1, "supported probe radius: 0 or 1")
    VectorFunctions.register(emb.sparkSession)
    val withBucket = emb.withColumn("bucket", expr(bucketSpark))
    val q = withBucket
      .filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"), col("bucket").as("q_bucket"))
    val flips = lit(0L) +: (if (maxHamming >= 1) planes.indices.map(i => lit(1L << i)) else Nil)
    val probes = q.select(
      col("q_emb"),
      col("q_bucket"),
      explode(array(flips: _*)).as("flip")
    ).select(col("q_emb"), col("q_bucket").bitwiseXOR(col("flip")).as("probe_bucket"))
    withBucket
      .join(broadcast(probes), col("bucket") === col("probe_bucket"))
      .filter(col("vec_id") =!= queryVecId)
      .select(
        col("vec_id"),
        col("bucket"),
        round(expr("cosine_sim(embedding, q_emb)"), 6).as("cos_sim")
      )
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Banded-signature LSH index over any frame with (vec_id, embedding):
    * one row per (vector, band) carrying that band's 8-bit sign signature —
    * the classic MinHash-style banding table applied to sign-random-
    * projection bits. Two vectors are CANDIDATES iff some band's signature
    * matches exactly, which by pigeonhole guarantees recall of any pair
    * within Hamming distance `bands - 1` of the full `bands x 8`-bit
    * signature — the radius >= 2 recall lever that single-bucket flip
    * enumeration can't reach ([[lshProbe]] caps at radius 1 because
    * radius-2 enumeration is 37 XOR terms; here radius 3 costs nothing).
    *
    * Scale shape: the 32 dot products are computed ONCE per vector (band
    * sigs as columns), then posexplode duplicates only the (band_idx, sig)
    * pairs — the index is `bands x N` small rows, materialized once and
    * hive-partitionable by (band_idx, band_sig) exactly like the IVF
    * inverted file; a probe touches only its `bands` matching partitions
    * (~bands/2^8 of the corpus vs radius-1 enumeration's 9/2^8, with a
    * Hamming-3-of-32 guarantee instead of 1-of-8).
    */
  def bandedSignatures(emb: DataFrame, bands: Int = 4): DataFrame = {
    require(bands >= 1 && bands * bandBits <= bandPlanes.size, s"bands must be 1..${bandPlanes.size / bandBits}")
    val keep = emb.columns.map(col).toSeq
    emb
      .select(keep ++ (0 until bands).map(b => expr(bandSigSpark(b)).as(s"_band$b")): _*)
      .select(
        keep :+ posexplode(array((0 until bands).map(b => col(s"_band$b")): _*))
          .as(Seq("band_idx", "band_sig")): _*
      )
  }

  /** Banded-signature ANN probe: top-k by exact cosine among vectors
    * sharing at least one band signature with the query. Candidates arrive
    * via an equi-join on (band_idx, band_sig) — never a bit-distance
    * filter. A vector matching on several bands is scored per match and
    * deduped as `max(cos_sim)` (all copies score identically): the
    * re-score is a 64-float dot on the rare multi-band match, and the
    * dedup shuffle then carries 16-byte (id, double) rows through a
    * HashAggregate — deduping BEFORE scoring would drag both embedding
    * arrays through a SortAggregate exchange instead.
    */
  def bandedProbe(emb: DataFrame, queryVecId: Long, bands: Int = 4, k: Int = 5): DataFrame = {
    VectorFunctions.register(emb.sparkSession)
    val index = bandedSignatures(emb.select(col("vec_id"), col("embedding")), bands)
    val q = index
      .filter(col("vec_id") === queryVecId)
      .select(
        col("embedding").as("q_emb"),
        col("band_idx").as("q_band_idx"),
        col("band_sig").as("q_band_sig")
      )
    index
      .join(broadcast(q), col("band_idx") === col("q_band_idx") && col("band_sig") === col("q_band_sig"))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), round(expr("cosine_sim(embedding, q_emb)"), 6).as("cos_sim"))
      .groupBy(col("vec_id"))
      .agg(max(col("cos_sim")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Batched k-NN JOIN: every query vector gets its top-k cosine neighbors
    * from the corpus — the retrieval-eval / dedup-against-another-dataset
    * shape, where [[lshProbe]] is the single-query special case. Blocking
    * is the same multi-probe LSH (each query's probe bucket ids enumerated
    * and broadcast into an equi-join on the bucket key), and the per-query
    * top-k runs as the [[graft.functions.TopK]] typed AGGREGATE: map tasks
    * keep at most k candidates per query, the shuffle carries
    * O(queries x k x partitions) — a `row_number()` window would shuffle
    * and sort EVERY candidate pair. Scores are rounded to 6 decimals
    * BEFORE ranking so the ordering is reproducible across engines.
    *
    * Expects both frames to carry (vec_id, embedding); distinct probe
    * flips yield distinct buckets, so a corpus vector pairs with a given
    * query at most once (no candidate dedup step needed).
    *
    * `broadcastProbes` picks the probe-side strategy; the default (`None`)
    * is SIZE-AWARE: the probe side is broadcast-hinted only when
    * Catalyst's own size estimate fits `autoBroadcastJoinThreshold`
    * (stats-only inspection, no job). Over the estimate — or when the
    * threshold is disabled — the join runs unhinted on the bucket key,
    * both sides shuffle on the byte-sized key and AQE picks the strategy
    * from runtime sizes, so a corpus-sized probe set (dedup of one large
    * corpus against another) can never force a driver/executor-OOM
    * broadcast by default. `Some(true)` forces the hint for callers that
    * KNOW queries << corpus (size estimates without CBO don't shrink
    * through filters, so the eval-probe shape would otherwise
    * pessimize); `Some(false)` forces the shuffle path. Both plan shapes
    * are pinned in PlanSpec.
    */
  def knnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      maxHamming: Int = 1,
      broadcastProbes: Option[Boolean] = None,
      scoreQuantized: Boolean = false
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 1, "supported probe radius: 0 or 1")
    val s = queries.sparkSession
    VectorFunctions.register(s)
    val fn = graft.functions.TopK.register(s, k)
    val flips = lit(0L) +: (if (maxHamming >= 1) planes.indices.map(i => lit(1L << i)) else Nil)
    // scoreQuantized: candidates score with the fused int8 quantized_cosine
    // instead of float cosine_sim (|error| <= ~0.05 at dim 64, spec-pinned)
    // — the probe side then broadcasts ONLY int8 codes (~4x smaller than
    // the embeddings they replace), and the corpus-side scan reads codes.
    // Buckets still come from the FLOAT embedding on both sides, so
    // candidate sets are identical to the exact path's.
    val qBase = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), expr(bucketSpark).as("q_bucket"))
    val qScored =
      if (scoreQuantized) Quantize.withQcode(qBase, "q_emb", "q_qcode").drop("q_emb")
      else qBase
    val scoreCols = if (scoreQuantized) Seq("q_qcode") else Seq("q_emb")
    val probes = qScored
      .select((Seq("q_id", "q_bucket") ++ scoreCols).map(col) :+ explode(array(flips: _*)).as("flip"): _*)
      .select((Seq("q_id") ++ scoreCols).map(col) :+ col("q_bucket").bitwiseXOR(col("flip")).as("probe_bucket"): _*)
    val probeSide = broadcastProbes match {
      case Some(true)  => broadcast(probes)
      case Some(false) => probes
      case None =>
        val threshold = s.sessionState.conf.autoBroadcastJoinThreshold
        val est       = probes.queryExecution.optimizedPlan.stats.sizeInBytes
        if (threshold > 0 && est <= BigInt(threshold)) broadcast(probes) else probes
    }
    val corpusSide =
      if (scoreQuantized) Quantize.withQcode(corpus.withColumn("bucket", expr(bucketSpark)), "embedding", "qcode")
      else corpus.withColumn("bucket", expr(bucketSpark))
    val scoreExpr =
      if (scoreQuantized) "quantized_cosine(qcode, q_qcode)" else "cosine_sim(embedding, q_emb)"
    corpusSide
      .join(probeSide, col("bucket") === col("probe_bucket"))
      .select(
        col("q_id"),
        col("vec_id"),
        round(expr(scoreExpr), 6).as("cos_sim")
      )
      .groupBy(col("q_id"))
      .agg(expr(s"$fn(cos_sim, vec_id)").as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(
        col("q_id"),
        (col("i") + 1).cast("long").as("rank"),
        col("s.key").as("vec_id"),
        col("s.score").as("cos_sim")
      )
      .orderBy(col("q_id"), col("rank"))
  }

  /** Embedding-cosine near-dup PAIR GENERATOR (the q_dedup_embed body,
    * extracted so the planted-pair spec can drive it directly): candidates
    * must share (label, LSH bucket), so the self-join cost is sum(block^2)
    * over small blocks, never corpus x corpus; scoring within a block is
    * exact cosine, thresholded at `threshold`. `vec_a < vec_b` emits each
    * unordered pair once. A genuine near-duplicate (cos -> 1) flips sign
    * bits with probability theta/pi per plane, so it lands in its twin's
    * bucket with high probability — the same planted-recovery guarantee
    * SimilarityRecallSpec pins for the probe paths, pinned for THIS join in
    * the planted-pair spec (round-7 finding #3: an sf-gate 0=0 match would
    * otherwise hide a broken join predicate).
    */
  /** The (label, bucket) blocking key frame the banded/bucketed pair
    * generators join on — exposed for the streaming DBSCAN twin, which
    * must land arrivals under the IDENTICAL key so its accumulated pair
    * store equals the batch generator's pair set on the union corpus.
    */
  private[graft] def withBlockKey(emb: DataFrame): DataFrame = {
    VectorFunctions.register(emb.sparkSession)
    emb.select(col("vec_id"), col("label"), col("embedding"), expr(bucketSpark).as("bucket"))
  }

  def embedNearDupPairs(emb: DataFrame, threshold: Double = 0.85): DataFrame = {
    VectorFunctions.register(emb.sparkSession)
    val withBucket = withBlockKey(emb)
    val a = withBucket.alias("a")
    val b = withBucket.alias("b")
    a.join(
      b,
      col("a.label") === col("b.label") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id")
    ).select(
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        round(expr("cosine_sim(a.embedding, b.embedding)"), 6).as("cos_sim")
      )
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Banded-signature near-dup PAIR GENERATOR — [[embedNearDupPairs]] with
    * the banded index as the blocking key: candidates share (label,
    * band_idx, band_sig) for ANY band, so a near-dup pair is found whenever
    * at least one of its 4 bands is clean (Hamming <= 3 of the 32-bit
    * signature by pigeonhole), where the single-bucket generator misses any
    * pair whose 8-bit signatures differ at all. Cost is sum(block^2) per
    * (label, band, sig) block — blocks are ~1/256 of a label per band, so
    * the pair explode stays linear while signatures are spread; a pair
    * colliding in several bands is scored per collision and deduped as
    * max(cos_sim) AFTER the threshold filter (identical scores; filtering
    * first keeps non-dup pairs out of the dedup shuffle entirely).
    */
  def bandedNearDupPairs(emb: DataFrame, threshold: Double = 0.85, bands: Int = 4): DataFrame = {
    VectorFunctions.register(emb.sparkSession)
    val index =
      bandedSignatures(emb.select(col("vec_id"), col("label"), col("embedding")), bands)
    val a = index.alias("a")
    val b = index.alias("b")
    a.join(
      b,
      col("a.label") === col("b.label") && col("a.band_idx") === col("b.band_idx") &&
        col("a.band_sig") === col("b.band_sig") && col("a.vec_id") < col("b.vec_id")
    ).select(
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        round(expr("cosine_sim(a.embedding, b.embedding)"), 6).as("cos_sim")
      )
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(max(col("cos_sim")).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** LSH-blocked DBSCAN over a precomputed eps-neighbor PAIR frame — the
    * `q_embed_dbscan` body, exposed so the spec can plant a
    * core/border/noise structure directly. DBSCAN's three point classes
    * (Ester et al. 1996) over the blocked neighbor graph:
    *
    *   - CORE: >= `minPts` neighbors. Clusters are connected components
    *     of the core-core subgraph (pointer-doubling CC, min-id labels —
    *     [[Dedup.clusters]]); a core with no core neighbor is its own
    *     singleton cluster.
    *   - BORDER: non-core with >= 1 core neighbor, assigned the MIN
    *     cluster id among neighboring cores (deterministic — classic
    *     DBSCAN leaves border ties to scan order, which can never
    *     hash-match an independent engine).
    *   - NOISE: everything else, reported as the `cluster = -1` row.
    *
    * Scale shape: the pair frame is the LSH-blocked generator's output
    * (sum(block²), never all-pairs — and the ORACLE mirrors the same
    * blocking, so both engines cluster the identical neighbor graph);
    * degree/census aggregations are map-side-combinable; the only loop
    * is the O(log diameter) pointer-doubling CC over core-core edges.
    */
  private[graft] def dbscanFromPairs(
      pairs0: DataFrame,
      universe: DataFrame,
      minPts: Int = DbscanMinPts
  ): DataFrame = dbscanFromPairsTracked(pairs0, universe, minPts)._1

  /** [[dbscanFromPairs]] returning its pinned frames for reclaim — the
    * tracked-pins discipline the per-fold streaming twin needs (a
    * long-running stream re-runs the census every fold and must not
    * accumulate checkpoint generations).
    */
  private[graft] def dbscanFromPairsTracked(
      pairs0: DataFrame,
      universe: DataFrame,
      minPts: Int = DbscanMinPts
  ): (DataFrame, Seq[DataFrame]) = {
    val pairs = Tables.pin(pairs0.select(col("vec_a"), col("vec_b")))
    // the batch path derives degrees from the pair frame itself; the
    // streaming twin supplies them from its additive per-batch delta
    // store instead (the whole point of the split)
    val degrees = pairs
      .select(col("vec_a").as("v"))
      .unionByName(pairs.select(col("vec_b").as("v")))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("deg"))
    val (census, pins, _) = dbscanBody(pairs, degrees, universe, minPts)
    (census, pairs +: pins)
  }

  /** The DBSCAN census body over an ALREADY-PINNED pair frame and an
    * externally-supplied DEGREE frame (v, deg) that must equal the pair
    * frame's endpoint census — shared by [[dbscanFromPairsTracked]]
    * (degrees derived right here from the pairs) and the streaming twin
    * ([[graft.streaming.StreamingDbscan]]), whose degrees fold additively
    * from per-batch delta partials so the fold never re-aggregates the
    * whole pair store. Core status reads ONLY the degree frame; the pair
    * frame is read once, for the core-core CC subgraph and the
    * border-assignment join. The third return value is the CORE-CORE
    * pair count — derived from the pinned subgraph the CC consumes
    * anyway, so the streaming twin's `cc_pairs_read` observability costs
    * a block-local count instead of a third pass over the pair store
    * (r19 ADVICE item).
    */
  private[graft] def dbscanBody(
      pairs: DataFrame,   // pinned (vec_a, vec_b)
      degrees: DataFrame, // (v, deg) == the pair frame's endpoint census
      universe: DataFrame,
      minPts: Int
  ): (DataFrame, Seq[DataFrame], Long) = {
    val core = Tables.pin(degrees.filter(col("deg") >= minPts).select(col("v")))
    val corePairs = Tables.pin(
      pairs
        .join(core.select(col("v").as("vec_a")), Seq("vec_a"), "left_semi")
        .join(core.select(col("v").as("vec_b")), Seq("vec_b"), "left_semi"))
    val corePairsRead = corePairs.count() // block-local: corePairs is pinned
    val labels =
      Dedup.clusters(corePairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    val coreLab = Tables.pin(
      core
        .join(labels.withColumnRenamed("doc_id", "v"), Seq("v"), "left")
        .select(col("v"), coalesce(col("label"), col("v")).as("cluster")))
    val nbrs = pairs
      .select(col("vec_a").as("v"), col("vec_b").as("n"))
      .unionByName(pairs.select(col("vec_b").as("v"), col("vec_a").as("n")))
    val border = nbrs
      .join(core, Seq("v"), "left_anti")
      .join(coreLab.select(col("v").as("n"), col("cluster")), Seq("n"))
      .groupBy(col("v"))
      .agg(min(col("cluster")).as("cluster"))
    val census = coreLab
      .select(col("cluster"), lit(1L).as("c"), lit(0L).as("b"))
      .unionByName(border.select(col("cluster"), lit(0L).as("c"), lit(1L).as("b")))
      .groupBy(col("cluster"))
      .agg(sum(col("c")).as("n_core"), sum(col("b")).as("n_border"))
      .select(
        col("cluster"),
        col("n_core"),
        col("n_border"),
        (col("n_core") + col("n_border")).as("n_total"))
    val assigned = coreLab.select(col("v")).unionByName(border.select(col("v")))
    val noise = universe
      .select(col("vec_id").as("v"))
      .join(assigned, Seq("v"), "left_anti")
      .agg(count(lit(1)).as("n_noise"))
      .select(
        lit(-1L).as("cluster"),
        lit(0L).as("n_core"),
        lit(0L).as("n_border"),
        col("n_noise").as("n_total"))
    (census.unionByName(noise).orderBy(col("n_total").desc, col("cluster")).limit(100),
      // labels is the PINNED frame Dedup.clusters hands back — coreLab
      // (eagerly pinned) is its only consumer, so it reclaims with the
      // rest once the census materializes (r19: this was a leaked pin)
      Seq(core, corePairs, coreLab, labels),
      corePairsRead)
  }

  private[graft] val DbscanMinPts = 2

  private val DbscanArtifact = graft.Artifacts.declare("embed_dbscan", graft.Artifacts.RangeSorted("cluster"))

  /** The `q_embed_dbscan` cluster census as a build-once artifact — r20
    * optimization: the census is a pure function of the embedding table
    * (blocked pair gen + degree census + pointer-doubling CC + border
    * assignment, ~15 jobs), and the query re-ran all of it on every call
    * (measured: 2.6–3.4 s per bench pass at sf0.1) while every other
    * clustering readout in the engine (graph_components, semantic_cc,
    * ahash_clusters) already ships as an artifact. Same
    * [[graft.Artifacts]] treatment: session pin by default, durable
    * range-sorted parquet under `graft.artifact.root`, the tracked build
    * reclaims the loop's pins.
    */
  private[graft] def dbscanCensus(
      s: org.apache.spark.sql.SparkSession,
      dir: String
  ): DataFrame = {
    def build = {
      val emb = Tables.embeddings(s, dir)
      dbscanFromPairsTracked(embedNearDupPairs(emb, threshold = 0.0), emb)
    }
    graft.Artifacts.getTracked(s, dir, DbscanArtifact)(build)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_sim_topk",
      "brute-force cosine top-k vs a query vector (codegen'd CosineSimilarity expression; TakeOrderedAndProject, corpus never shuffles)",
      (s, dir) => {
        VectorFunctions.register(s)
        val emb = Tables.embeddings(s, dir)
        val q   = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
        emb
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(
            col("vec_id"),
            col("label"),
            round(expr("cosine_sim(embedding, q_emb)"), 6).as("cos_sim")
          )
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
              |SELECT vec_id, label,
              |  round(${cosDuck("embedding", "q_emb")}, 6) AS cos_sim
              |FROM embeddings CROSS JOIN q
              |WHERE vec_id <> 0
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)
    ),
    QueryDef(
      "q_sim_lsh_buckets",
      "random-hyperplane LSH bucketing: 8 sign bits -> 256 buckets (the ANN scale path); bucket histogram",
      (s, dir) =>
        Tables
          .embeddings(s, dir)
          .select(expr(bucketSpark).as("bucket"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("bucket")),
      Some(s"""SELECT $bucketDuck AS bucket, count(1) AS n
              |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin)
    ),
    QueryDef(
      "q_sim_lsh_probe",
      "LSH-bucketed ANN probe: top-5 by cosine among vectors sharing the query's bucket (~1/256 of the corpus scanned)",
      (s, dir) => lshProbe(Tables.embeddings(s, dir), queryVecId = 0, maxHamming = 0, k = 5),
      Some(s"""WITH bk AS (
              |  SELECT vec_id, embedding, $bucketDuck AS bucket FROM embeddings),
              |q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM bk WHERE vec_id = 0)
              |SELECT vec_id, bucket,
              |  round(${cosDuck("embedding", "q_emb")}, 6) AS cos_sim
              |FROM bk CROSS JOIN q
              |WHERE vec_id <> 0 AND bucket = q_bucket
              |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin)
    ),
    QueryDef(
      "q_sim_lsh_probe2",
      "multi-probe LSH (Hamming radius 1): top-5 by cosine across the query's bucket plus its 8 single-bit-flip neighbors (~9/256 scanned) — the LSH recall lever, mirroring IVF nprobe=2",
      (s, dir) => lshProbe(Tables.embeddings(s, dir), queryVecId = 0, maxHamming = 1, k = 5),
      Some(s"""WITH bk AS (
              |  SELECT vec_id, embedding, $bucketDuck AS bucket FROM embeddings),
              |q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM bk WHERE vec_id = 0)
              |SELECT vec_id, bucket,
              |  round(${cosDuck("embedding", "q_emb")}, 6) AS cos_sim
              |FROM bk CROSS JOIN q
              |WHERE vec_id <> 0 AND bit_count(xor(bucket, q_bucket)) <= 1
              |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin)
    ),
    QueryDef(
      "q_sim_banded_probe",
      "banded-signature LSH ANN probe: 32 sign bits in 4 bands x 8, candidate iff some band matches exactly — pigeonhole guarantees recall to Hamming 3 of the 32-bit signature at ~4/256 of the corpus, where radius-1 flip enumeration scans 9/256 and only covers Hamming 1",
      (s, dir) => bandedProbe(Tables.embeddings(s, dir), queryVecId = 0, bands = 4, k = 5),
      Some(s"""WITH bk AS (
              |  SELECT vec_id, embedding,
              |    ${bandSigDuck(0)} AS b0, ${bandSigDuck(1)} AS b1,
              |    ${bandSigDuck(2)} AS b2, ${bandSigDuck(3)} AS b3
              |  FROM embeddings),
              |q AS (SELECT embedding AS q_emb, b0 AS q0, b1 AS q1, b2 AS q2, b3 AS q3
              |      FROM bk WHERE vec_id = 0)
              |SELECT vec_id, round(${cosDuck("embedding", "q_emb")}, 6) AS cos_sim
              |FROM bk CROSS JOIN q
              |WHERE vec_id <> 0 AND (b0 = q0 OR b1 = q1 OR b2 = q2 OR b3 = q3)
              |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin)
    ),
    QueryDef(
      "q_sim_knn_join",
      "batched k-NN join: top-3 cosine neighbors for EACH of the first 3 query vectors, multi-probe-LSH-blocked, ranked by a mergeable typed top-k aggregate (no ranking window over the candidate pairs)",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        knnJoin(
          emb.filter(col("vec_id") < 3).select(col("vec_id"), col("embedding")),
          emb.filter(col("vec_id") >= 3).select(col("vec_id"), col("embedding")),
          k = 3,
          maxHamming = 1,
          broadcastProbes = Some(true) // 3 probe vectors by construction; stats can't see through the filter
        )
      },
      Some(s"""WITH bk AS (
              |  SELECT vec_id, embedding, $bucketDuck AS bucket FROM embeddings),
              |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
              |      FROM bk WHERE vec_id < 3),
              |cand AS (
              |  SELECT q.q_id, b.vec_id,
              |    round(${cosDuck("b.embedding", "q.q_emb")}, 6) AS cos_sim
              |  FROM bk b CROSS JOIN q
              |  WHERE b.vec_id >= 3 AND bit_count(xor(b.bucket, q.q_bucket)) <= 1)
              |SELECT q_id, rn AS "rank", vec_id, cos_sim FROM (
              |  SELECT q_id, vec_id, cos_sim,
              |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
              |  FROM cand) t
              |WHERE rn <= 3 ORDER BY q_id, "rank"""".stripMargin)
    ),
    QueryDef(
      "q_sim_knn_join_q8",
      "quantized-scoring twin of q_sim_knn_join: identical multi-probe LSH candidate sets (buckets from the FLOAT embedding on both sides), but candidates score with the fused int8 quantized_cosine — the probe broadcast carries ~4x fewer bytes and the corpus scan reads codes, not floats",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        knnJoin(
          emb.filter(col("vec_id") < 3).select(col("vec_id"), col("embedding")),
          emb.filter(col("vec_id") >= 3).select(col("vec_id"), col("embedding")),
          k = 3,
          maxHamming = 1,
          broadcastProbes = Some(true), // as q_sim_knn_join
          scoreQuantized = true
        )
      },
      // quantization spelled with Quantize's literal-identical CTE text;
      // integer dots are exact in both engines, one double division + round
      Some(s"""WITH bk AS (
              |  SELECT vec_id, embedding, $bucketDuck AS bucket FROM embeddings),
              |sc AS (
              |  SELECT vec_id, bucket, embedding, ${Quantize.scaleDuck} AS scale FROM bk),
              |qc AS (
              |  SELECT vec_id, bucket, ${Quantize.codesDuck} AS qcode FROM sc),
              |q AS (SELECT vec_id AS q_id, qcode AS q_qcode, bucket AS q_bucket
              |      FROM qc WHERE vec_id < 3),
              |cand AS (
              |  SELECT q.q_id, b.vec_id,
              |    round(${Quantize.qdotDuck("b.qcode", "q.q_qcode")} /
              |      (sqrt(${Quantize.qdotDuck("b.qcode", "b.qcode")}) * sqrt(${Quantize.qdotDuck("q.q_qcode", "q.q_qcode")})), 6) AS cos_sim
              |  FROM qc b CROSS JOIN q
              |  WHERE b.vec_id >= 3 AND bit_count(xor(b.bucket, q.q_bucket)) <= 1)
              |SELECT q_id, rn AS "rank", vec_id, cos_sim FROM (
              |  SELECT q_id, vec_id, cos_sim,
              |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
              |  FROM cand) t
              |WHERE rn <= 3 ORDER BY q_id, "rank"""".stripMargin)
    ),
    QueryDef(
      "q_dedup_embed",
      "embedding-cosine near-dup pairs, LSH-blocked: candidates share (label, bucket) so cost is sum(block^2), never all-pairs",
      // gate threshold 0.2, not the 0.85 API default: the synthetic fixture
      // holds no genuine near-dups (max within-block cosine ~0.34 at
      // sf0.01), so 0.85 would compare 0 rows = 0 rows and a broken join
      // predicate could hide (round-7 finding #3). 0.2 pushes real pairs
      // through join + score + filter in BOTH engines; the 0.85 semantics
      // are pinned separately by the planted-pair spec.
      (s, dir) => embedNearDupPairs(Tables.embeddings(s, dir), threshold = 0.2),
      Some(s"""WITH bk AS (
              |  SELECT vec_id, label, embedding, $bucketDuck AS bucket FROM embeddings)
              |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              |  round(${cosDuck("a.embedding", "b.embedding")}, 6) AS cos_sim
              |FROM bk a JOIN bk b
              |  ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
              |WHERE round(${cosDuck("a.embedding", "b.embedding")}, 6) >= 0.2
              |ORDER BY vec_a, vec_b""".stripMargin)
    ),
    QueryDef(
      "q_dedup_embed_banded",
      "banded-signature near-dup pairs: candidates share (label, any of 4 band signatures) — recalls pairs whose 8-bit buckets differ (Hamming <= 3 of 32 guaranteed), still sum(block^2) cost",
      // same 0.2 gate threshold rationale as q_dedup_embed
      (s, dir) => bandedNearDupPairs(Tables.embeddings(s, dir), threshold = 0.2),
      Some(s"""WITH bk AS (
              |  SELECT vec_id, label, embedding,
              |    ${bandSigDuck(0)} AS b0, ${bandSigDuck(1)} AS b1,
              |    ${bandSigDuck(2)} AS b2, ${bandSigDuck(3)} AS b3
              |  FROM embeddings)
              |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              |  round(${cosDuck("a.embedding", "b.embedding")}, 6) AS cos_sim
              |FROM bk a JOIN bk b
              |  ON a.label = b.label AND a.vec_id < b.vec_id
              | AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
              |WHERE round(${cosDuck("a.embedding", "b.embedding")}, 6) >= 0.2
              |ORDER BY vec_a, vec_b""".stripMargin)
    ),
    QueryDef(
      "q_embed_dbscan",
      s"LSH-blocked DBSCAN census over the embedding table (Ester et al. 1996 — the density-clustering readout an embedding-curation pipeline runs to find over-represented semantic pockets vs genuine outliers): eps-neighbors are the blocked cosine pairs (same (label, bucket) blocking as q_dedup_embed, ORACLE-MIRRORED so both engines cluster the identical neighbor graph; sum(block^2), never all-pairs), CORE = >= $DbscanMinPts neighbors, clusters = pointer-doubling CC over the core-core subgraph (min-id labels), BORDER assigned the MIN cluster among neighboring cores (classic DBSCAN leaves border ties to scan order — nondeterminism an independent oracle could never match), NOISE as the cluster = -1 row. Gate eps is cosine >= 0.0 (positive-similarity neighbor): the synthetic fixture has no cos >= 0.85 twins, and a realistic eps would pass 0 cores = 0 cores and hide a broken degree rule (the q_dedup_embed threshold rationale). Output per cluster: core/border/total counts, top 100",
      (s, dir) =>
        // read-back order is not guaranteed for the artifact, so the
        // query re-states the census's deterministic ordering
        dbscanCensus(s, dir).orderBy(col("n_total").desc, col("cluster")),
      Some(s"""WITH RECURSIVE bk AS (
              |  SELECT vec_id, label, embedding, $bucketDuck AS bucket FROM embeddings),
              |prs AS MATERIALIZED (
              |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
              |  FROM bk a JOIN bk b
              |    ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
              |  WHERE round(${cosDuck("a.embedding", "b.embedding")}, 6) >= 0.0),
              |nbrs AS (SELECT vec_a AS v, vec_b AS n FROM prs UNION ALL SELECT vec_b, vec_a FROM prs),
              |core AS MATERIALIZED (
              |  SELECT v FROM (SELECT v, count(1) AS c FROM nbrs GROUP BY 1) d WHERE c >= $DbscanMinPts),
              |ce AS MATERIALIZED (
              |  SELECT p.vec_a, p.vec_b FROM prs p
              |  JOIN core a ON a.v = p.vec_a JOIN core b ON b.v = p.vec_b),
              |edges AS (SELECT vec_a AS src, vec_b AS dst FROM ce UNION ALL SELECT vec_b, vec_a FROM ce),
              |reach AS (
              |  SELECT src AS id, src AS label FROM edges
              |  UNION
              |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id),
              |cc AS (SELECT id, min(label) AS label FROM reach GROUP BY 1),
              |corelab AS MATERIALIZED (
              |  SELECT c.v, coalesce(cc.label, c.v) AS cluster FROM core c LEFT JOIN cc ON cc.id = c.v),
              |border AS MATERIALIZED (
              |  SELECT n.v, min(cl.cluster) AS cluster
              |  FROM nbrs n JOIN corelab cl ON cl.v = n.n
              |  WHERE n.v NOT IN (SELECT v FROM core)
              |  GROUP BY n.v),
              |census AS (
              |  SELECT cluster, cast(sum(c) as bigint) AS n_core, cast(sum(b) as bigint) AS n_border,
              |    cast(sum(c) + sum(b) as bigint) AS n_total
              |  FROM (SELECT cluster, 1 AS c, 0 AS b FROM corelab
              |        UNION ALL SELECT cluster, 0 AS c, 1 AS b FROM border) z
              |  GROUP BY 1),
              |noise AS (
              |  SELECT cast(-1 as bigint) AS cluster, cast(0 as bigint) AS n_core,
              |    cast(0 as bigint) AS n_border, cast(count(1) as bigint) AS n_total
              |  FROM embeddings e
              |  WHERE e.vec_id NOT IN (SELECT v FROM corelab)
              |    AND e.vec_id NOT IN (SELECT v FROM border))
              |SELECT * FROM (SELECT * FROM census UNION ALL SELECT * FROM noise) x
              |ORDER BY n_total DESC, cluster LIMIT 100""".stripMargin)
    ),
    QueryDef(
      "q_embed_stats",
      "per-label embedding stats: count and L2-norm min/max/avg (per-row norm is order-stable; avg rounded)",
      (s, dir) => {
        VectorFunctions.register(s)
        Tables
          .embeddings(s, dir)
          .withColumn(
            "norm",
            sqrt(expr(
              "aggregate(embedding, cast(0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double))"
            ))
          )
          .groupBy(col("label"))
          .agg(
            count(lit(1)).as("n"),
            round(min(col("norm")), 6).as("min_norm"),
            round(max(col("norm")), 6).as("max_norm"),
            round(sum(col("norm").cast("decimal(18,12)")).cast("double") / count(lit(1)), 6)
              .as("avg_norm")
          )
          .orderBy(col("label"))
      },
      Some("""WITH n AS (
             |  SELECT label,
             |    sqrt(list_aggregate(list_transform(embedding, x -> cast(x as double) * cast(x as double)), 'sum')) AS norm
             |  FROM embeddings)
             |SELECT label, count(1) AS n,
             |  round(min(norm), 6) AS min_norm,
             |  round(max(norm), 6) AS max_norm,
             |  round(cast(sum(cast(norm as decimal(18,12))) as double) / count(1), 6) AS avg_norm
             |FROM n GROUP BY label ORDER BY label""".stripMargin)
    ),
    QueryDef(
      "q_sim_label_margin",
      "label-centroid cohesion/margin audit — the embedding-space quality check a labeled training set needs before the labels are trusted (nearest-centroid-classifier view of the space): per-label mean centroid (decimal-exact component sums, so the centroid is order-independent and engine-reproducible), then every vector scores cosine against ALL label centroids — mean intra-label cosine (cohesion), mean margin over the best OTHER centroid (separation), and the count of vectors whose nearest centroid is a different label (confusable points, the label-noise review queue). Scale shape: centroids are L x dim rows built with map-side partial aggregation, packed into ONE broadcast row; per-vector scoring and the own-vs-best-other reduction happen in a single map-side HOF projection (no x L row fan-out, no per-vec shuffle) — the corpus never shuffles, the only exchange is the L-group rollup",
      (s, dir) =>
        // r20: the L-row centroid table is a trained-model artifact (the
        // IvfSimilarity cent2 precedent) — build it once instead of
        // re-running the component explode + decimal means per call; the
        // per-vector scoring readout still runs per query
        labelCentroidMarginFrom(
          Tables.embeddings(s, dir),
          graft.Artifacts.get(s, dir, CentsRowArtifact)(centsRowOf(Tables.embeddings(s, dir)))
        ),
      Some(s"""WITH comp AS (
              |  SELECT vec_id, label, i AS d, cast(embedding[i] as double) AS x
              |  FROM embeddings
              |  CROSS JOIN (SELECT unnest(generate_series(1,
              |      (SELECT max(len(embedding)) FROM embeddings))) AS i) dims
              |  WHERE i <= len(embedding)),
              |cent AS (
              |  SELECT label AS c_label, d,
              |    cast(cast(cast(sum(cast(x as decimal(18,12))) as varchar) as double)
              |      / count(1) as real) AS cx
              |  FROM comp GROUP BY 1, 2),
              |cvec AS (SELECT c_label, list(cx ORDER BY d) AS c_vec FROM cent GROUP BY 1),
              |scored AS (
              |  SELECT e.vec_id, e.label, c.c_label,
              |    ${cosDuck("e.embedding", "c.c_vec")} AS cos
              |  FROM embeddings e CROSS JOIN cvec c),
              |perv AS (
              |  SELECT vec_id, label,
              |    max(CASE WHEN c_label = label THEN cos END) AS own,
              |    max(CASE WHEN c_label <> label THEN cos END) AS other
              |  FROM scored GROUP BY 1, 2)
              |SELECT label, count(1) AS n_vecs,
              |  round(cast(cast(sum(cast(own as decimal(18,12))) as varchar) as double) / count(1), 6) AS mean_intra,
              |  round(cast(cast(sum(cast(own - other as decimal(18,12))) as varchar) as double) / count(1), 6) AS mean_margin,
              |  cast(sum(cast(other > own as bigint)) as bigint) AS n_misassigned
              |FROM perv GROUP BY 1 ORDER BY 1""".stripMargin)
    )
  )

  /** The `q_sim_label_margin` body, frame-generic over (vec_id, label,
    * embedding). Centroid components are decimal-exact means (the
    * [[IvfSimilarity]] cent2 recipe: exact sum, one correctly-rounded
    * double conversion, one division), then narrowed to float so the
    * scoring side runs the same codegen [[graft.functions.CosineSimilarity]]
    * loop as every other similarity query — and so the oracle can
    * reproduce the exact centroid (`cast(... as real)`). Scoring packs ALL
    * L centroids into ONE broadcast row and computes own/best-other per
    * vector with array HOFs in a single map-side projection — no x L
    * row fan-out and, crucially, no (vec_id)-keyed shuffle of corpus x L
    * scored rows (at 10^9 vectors that shuffle would dwarf the metric
    * itself); the only shuffle left is the L-group final rollup.
    */
  private val CentsRowArtifact = graft.Artifacts.declare("sim_label_cents", graft.Artifacts.RangeSorted("n"))

  /** The one-row packed label-centroid table of [[labelCentroidMargin]]
    * (decimal-exact means narrowed to float), exposed for the artifact
    * cache. The extra `n` column keys the durable range-sort.
    */
  private[graft] def centsRowOf(emb: DataFrame): DataFrame = {
    val comp = emb
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("label"), (col("pos") + 1).as("d"), col("xf").cast("double").as("x"))
    val cent = comp
      .groupBy(col("label"), col("d"))
      .agg((sum(col("x").cast("decimal(18,12)")).cast("double") / count(lit(1))).as("cxd"))
      .select(col("label").as("c_label"), col("d"), col("cxd").cast("float").as("cx"))
    cent
      .groupBy(col("c_label"))
      .agg(expr("transform(array_sort(collect_list(struct(d, cx))), s -> s.cx)").as("c_vec"))
      .agg(collect_list(struct(col("c_label"), col("c_vec"))).as("cents"))
      .select(lit(1L).as("n"), col("cents"))
  }

  private[graft] def labelCentroidMargin(emb: DataFrame): DataFrame =
    labelCentroidMarginFrom(emb, centsRowOf(emb))

  /** [[labelCentroidMargin]] scoring over an externally-supplied packed
    * centroid row (the `sim_label_cents` artifact).
    */
  private[graft] def labelCentroidMarginFrom(emb: DataFrame, centsRow0: DataFrame): DataFrame = {
    VectorFunctions.register(emb.sparkSession)
    val centsRow = centsRow0.select(col("cents"))
    val perVec = emb
      .crossJoin(broadcast(centsRow))
      .select(
        col("label"),
        expr("element_at(transform(filter(cents, c -> c.c_label = label), c -> cosine_sim(embedding, c.c_vec)), 1)")
          .as("own"),
        expr("array_max(transform(filter(cents, c -> c.c_label != label), c -> cosine_sim(embedding, c.c_vec)))")
          .as("other")
      )
    perVec
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum(col("own").cast("decimal(18,12)")).cast("double") / count(lit(1)), 6).as("mean_intra"),
        round(sum((col("own") - col("other")).cast("decimal(18,12)")).cast("double") / count(lit(1)), 6)
          .as("mean_margin"),
        sum((col("other") > col("own")).cast("long")).as("n_misassigned")
      )
      .orderBy(col("label"))
  }
}
