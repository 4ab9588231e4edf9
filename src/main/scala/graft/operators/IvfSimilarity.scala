package graft.operators

import graft.{Artifacts, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) vector index: the k-means scale path for ANN that
  * SCALE.md pairs with LSH bucketing. A deterministic mini k-means (k
  * centroids, 2 Lloyd iterations, first-k init) partitions the corpus;
  * probes scan only the query's cluster (~1/k of the data).
  *
  * Everything is relational — posexplode to (vec, dim, component), joins
  * against the centroid frame, two groupBy rounds — which is exactly the
  * shape distributed k-means takes at 100 TB: per-iteration cost is one
  * broadcast-join + one shuffle on cluster id, centroids stay tiny.
  *
  * Oracle-parity engineering (this is the subtle part): every cross-row
  * double sum (distances, centroid means, dot products) casts its per-row
  * term to decimal(18,12) first. Per-row terms are bit-identical across
  * engines, and 12 fractional digits is well inside the ~15-17 significant-digit
  * zone where Spark's shortest-repr-based and DuckDB's binary-based
  * double->decimal casts agree — so the sums are exact decimals, the argmins
  * compare identically, and the whole 2-iteration pipeline is reproducible
  * bit-for-bit in DuckDB. (A higher scale like decimal(38,20) would NOT
  * match: the engines disagree beyond ~17 significant digits.) Where a
  * wide decimal must become a double in the oracle, it goes through a
  * varchar bridge — DuckDB's direct int128->double conversion double-rounds
  * once the scaled value exceeds 2^53, while string parsing is correctly
  * rounded like Spark's BigDecimal path at any magnitude.
  */
object IvfSimilarity {

  val K = 8

  /** decimal-exact cross-row sum of a per-row double term. */
  private def sumTerm(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,12)"))

  /** (vec_id, label, d (1-based), x (double)) component frame,
    * materialized once per (session, sfDir): the k-means lineage reads it
    * in every Lloyd pass (cent1, both assigns, cent2) and the probe twice
    * more — an unbroken lineage re-runs the scan+explode 4-6x per query.
    * Same per-round lineage-cut discipline as [[Dedup.clusters]].
    *
    * An intermediate, not an index artifact: always session-scoped, never
    * persisted durably. Pinned PRE-PARTITIONED on vec_id (r21,
    * Tables.pinKeyed): every Lloyd pass and every probe aggregates this
    * frame by vec_id behind a broadcast centroid/member join, so the
    * per-call Exchange moves into the one-time pin and the distance math
    * spreads across the pinned partitions instead of AQE coalescing it
    * onto one task.
    */
  private val CompArtifact =
    Artifacts.declare("ivf_comp", Artifacts.SessionOnly, pinKeys = Seq("vec_id"))

  private def comp(s: SparkSession, dir: String): DataFrame =
    Artifacts.get(s, dir, CompArtifact)(compFrame(Tables.embeddings(s, dir)))

  /** Frame-generic exploded component view — the shape every k-means /
    * probe stage consumes. Exposed to [[graft.streaming.StreamingIvf]],
    * which runs the same assignment math over arriving micro-batches.
    */
  private[graft] def compFrame(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("label"), (col("pos") + 1).as("d"), col("xf").cast("double").as("x"))

  /** Assignments after 2 Lloyd iterations: (vec_id, cid, dist2).
    *
    * Centroids are pivoted WIDE — one row per dimension with cx0..cx{K-1}
    * columns — so the distance pass stays one row per (vec, dim) computing
    * all K squared-diff terms in a single codegen'd projection, instead of
    * the long-form centroid join's K-fold row blowup (K x the shuffle and
    * K x the decimal aggregation rows). The argmin is a least()+coalesce
    * column compare (exact decimals, ties to the smallest cid — identical
    * to the oracle's ORDER BY dist, cid), so no per-vec window sort either.
    * Same math, same oracle SQL.
    *
    * Durable layout = the actual INVERTED FILE: hive-partitioned by cid, so
    * a probe that filters to the query's cluster reads ~1/K of the index
    * via partition pruning, sorted by vec_id for row-group pruning.
    */
  private val AssignArtifact =
    Artifacts.declare("ivf_assignments", Artifacts.Partitioned(Seq("cid"), Seq("vec_id")))

  /** The built index, one per (session, sfDir) — an IVF index is built once
    * and probed many times, so the probe reuses the build's assignments
    * (still recomputed-from-scratch semantics on first use; Verify checks
    * both queries against independent DuckDB derivations).
    */
  private[graft] def assignments(s: SparkSession, dir: String): DataFrame =
    Artifacts.get(s, dir, AssignArtifact)(assignPass(comp(s, dir), cent2(s, dir)))

  /** Second-iteration centroids (wide), cached as their own artifact: the
    * final assignment pass AND the multi-probe query both need them (the
    * probe ranks the query vector against the trained centroids — deriving
    * them from the FINAL assignments would be wrong, cent2 comes from the
    * first-pass labels a1). K x dims values: one range-sorted file is the
    * whole artifact.
    */
  private val Cent2Artifact = Artifacts.declare("ivf_cent2", Artifacts.RangeSorted("d", 1))

  private def cent2(s: SparkSession, dir: String): DataFrame =
    Artifacts.get(s, dir, Cent2Artifact)(trainCentroids(comp(s, dir)))

  /** Frame-generic centroid training (2 Lloyd iterations over an exploded
    * component frame, first-K init on the smallest vec_ids). Deterministic
    * in the ROW SET, not the row order: the init picks vectors by id and
    * the decimal sums are exact, so training the same vectors — whether
    * they arrived in one batch build or across streamed micro-batches —
    * yields bit-identical centroids ([[graft.streaming.StreamingIvf]]'s
    * retrain-equals-batch-build pin).
    */
  private[graft] def trainCentroids(c: DataFrame): DataFrame = {
    // init: centroid j = components of vec_id j (j < K), pivoted wide
    val cent1 = c
      .filter(col("vec_id") < K)
      .groupBy(col("d"))
      .agg(
        max(when(col("vec_id") === 0, col("x"))).as("cx0"),
        (1 until K).map(k => max(when(col("vec_id") === k, col("x"))).as(s"cx$k")): _*
      )

    val a1 = assignPass(c, cent1).select(col("vec_id"), col("cid"))
    // The assignment frame has ONE ROW PER CORPUS VECTOR — at 10^8-10^9
    // vectors a broadcast hint here would exceed the driver/broadcast limit
    // and hard-fail the build. The broadcastable side of this algorithm is
    // the CENTROIDS (K x dims, a few KB, hinted in assignPass); the
    // vector-assignment join must stay a shuffle join on vec_id. No hint:
    // AQE still chooses a broadcast at fixture scale, and at corpus scale
    // both sides hash-partition on vec_id (SCALE.md "broadcast centroids,
    // one shuffle per Lloyd iteration"). PlanSpec pins this: with AQE and
    // auto-broadcast off, the vec_id join plans as SortMergeJoin while the
    // centroid joins stay broadcast (hinted).
    c.join(a1, "vec_id")
      .groupBy(col("cid"), col("d"))
      .agg((sumTerm(col("x")).cast("double") / count(lit(1))).as("cx"))
      .groupBy(col("d"))
      .agg(
        max(when(col("cid") === 0, col("cx"))).as("cx0"),
        (1 until K).map(k => max(when(col("cid") === k, col("cx"))).as(s"cx$k")): _*
      )
  }

  /** One Lloyd assignment pass: per-vector squared distances to all K wide
    * centroids in a single codegen'd projection, argmin with ties to the
    * smallest cid.
    */
  private[graft] def assignPass(c: DataFrame, centWide: DataFrame): DataFrame = {
      val sums = c
        .join(broadcast(centWide), "d")
        .groupBy(col("vec_id"))
        .agg(
          sumTerm((col("x") - col("cx0")) * (col("x") - col("cx0"))).as("dist0"),
          (1 until K).map(k =>
            sumTerm((col("x") - col(s"cx$k")) * (col("x") - col(s"cx$k"))).as(s"dist$k")
          ): _*
        )
      val minDist = least((0 until K).map(k => col(s"dist$k")): _*)
      val argmin  = (0 until K).map(k => when(col(s"dist$k") === minDist, lit(k))).reduce(coalesce(_, _))
      sums.select(col("vec_id"), argmin.as("cid"), minDist.as("dist"))
  }

  /** Product quantization (Jégou et al. 2011, the Faiss PQ primitive): the
    * embedding splits into [[PqM]] contiguous 16-dim subspaces, each with
    * its OWN deterministic [[K]]-centroid codebook — [[trainCentroids]] /
    * [[assignPass]] run unchanged per subspace on the locally re-indexed
    * component frame, so the PQ build inherits the IVF build's proven
    * math and oracle parity wholesale. A vector's code is its M argmin
    * cluster ids: 4 x 3 bits here vs 64 x 32-bit floats — the memory lever
    * that lets a 10^9-vector index live in RAM. The ADC probe never
    * reconstructs vectors: the query precomputes a (sub, cid) distance
    * table (M*K = 32 rows, broadcast) and each corpus vector's
    * approximate distance is the sum of its M table lookups — decimal
    * sums, so the total is exact given the table.
    */
  val PqM = 4

  private def subComp(c: DataFrame, m: Int): DataFrame =
    c.filter(floor((col("d") - 1) / 16).cast("int") === m)
      .select(col("vec_id"), (col("d") - lit(16 * m)).as("d"), col("x"))

  private val PqCentArtifact  = Artifacts.declare("pq_cent", Artifacts.RangeSorted("sub", 1))
  private val PqCodesArtifact = Artifacts.declare("pq_codes", Artifacts.RangeSorted("vec_id"))

  /** Long-form codebooks (sub, dl, cid, cx) — one frame for all M
    * subspaces; the probe's distance table reads it directly.
    */
  private def pqCent(s: SparkSession, dir: String): DataFrame =
    Artifacts.get(s, dir, PqCentArtifact)(pqCentFrom(comp(s, dir)))

  /** Frame-generic long-form PQ codebooks (sub, dl, cid, cx) from any
    * exploded component frame — deterministic in the row SET like
    * [[trainCentroids]], so a streamed-then-retrained index reproduces
    * the batch build bit-for-bit ([[graft.streaming.StreamingIvf]]'s PQ
    * retrain pin).
    */
  private[graft] def pqCentFrom(c: DataFrame): DataFrame =
    (0 until PqM)
      .map { m =>
        trainCentroids(subComp(c, m))
          .select(
            col("d").as("dl"),
            explode(
              array((0 until K).map(k => struct(lit(k).as("cid"), col(s"cx$k").as("cx"))): _*)
            ).as("e")
          )
          .select(lit(m).as("sub"), col("dl"), col("e.cid").as("cid"), col("e.cx").as("cx"))
      }
      .reduce(_ unionByName _)

  /** PQ codes (vec_id, sub, cid, dist): the quantized corpus. Durable
    * layout range-sorts on vec_id — the probe streams it map-only.
    */
  private def pqCodes(s: SparkSession, dir: String): DataFrame =
    Artifacts.get(s, dir, PqCodesArtifact)(pqCodesFrom(comp(s, dir), pqCent(s, dir)))

  /** Frame-generic PQ encoding (vec_id, sub, cid, dist) of a component
    * frame against long-form codebooks.
    */
  private[graft] def pqCodesFrom(c: DataFrame, cent: DataFrame): DataFrame =
    (0 until PqM)
      .map { m =>
        val wide = cent
          .filter(col("sub") === m)
          .groupBy(col("dl"))
          .agg(
            max(when(col("cid") === 0, col("cx"))).as("cx0"),
            (1 until K).map(k => max(when(col("cid") === k, col("cx"))).as(s"cx$k")): _*
          )
          .withColumnRenamed("dl", "d")
        assignPass(subComp(c, m), wide)
          .select(col("vec_id"), lit(m).as("sub"), col("cid"), col("dist"))
      }
      .reduce(_ unionByName _)

  /** Semantic near-dup pairs within a k-means cluster (the SemDeDup shape,
    * Abbas et al. 2023: cluster the embedding space, then compare pairs
    * only WITHIN a cluster — the cluster assignment is the blocking key,
    * so the pair cost is sum(cluster^2), never corpus x corpus, and k is
    * the scale lever: at 10^9 vectors k ~ 10^5 keeps clusters at ~10^4).
    * Frame-generic over (vec_id, embedding) + (vec_id, cid) so the spec
    * plants twin vectors in and across clusters; `vec_a < vec_b` emits
    * each unordered pair once, scored with exact cosine.
    */
  private[graft] def semanticPairs(emb: DataFrame, a2: DataFrame, threshold: Double): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val withCid = emb
      .select(col("vec_id"), col("embedding"))
      .join(a2.select(col("vec_id"), col("cid")), "vec_id")
    val a = withCid.alias("a")
    val b = withCid.alias("b")
    a.join(b, col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.cid").as("cid"),
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        round(expr("cosine_sim(a.embedding, b.embedding)"), 6).as("cos_sim")
      )
      .filter(col("cos_sim") >= threshold)
  }

  /** Per-cluster SemDeDup accounting (the `q_dedup_semantic` body):
    * greedy keep-lowest-id — a vector is dropped iff SOME smaller-id
    * vector in its cluster scores >= threshold against it (distinct
    * vec_b of [[semanticPairs]]), the standard one-pass SemDeDup rule
    * (no transitive closure: dedup is per ε-ball, not per component).
    */
  private[graft] def semanticDedupStats(emb: DataFrame, a2: DataFrame, threshold: Double): DataFrame = {
    val dropped = semanticPairs(emb, a2, threshold)
      .select(col("cid"), col("vec_b").as("vec_id"))
      .distinct()
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_dropped"))
    a2.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"))
      .join(dropped, Seq("cid"), "left")
      .select(
        col("cid"),
        col("n_members"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped")
      )
      .orderBy(col("cid"))
  }

  /** Frame-generic 2-Lloyd assignments from any (vec_id, label, embedding)
    * frame — [[trainCentroids]] + [[assignPass]] over ONE shared pinned
    * component frame (the pipeline entry point; the gate queries read the
    * ivf_assignments artifact instead). Returns the assignment frame plus
    * the pin the caller reclaims once downstream work materializes. The
    * deterministic first-K init requires vec_ids 0..K-1 present.
    */
  private[graft] def assignFrom(emb: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val c = graft.Tables.pin(compFrame(emb))
    (assignPass(c, trainCentroids(c)), Seq(c))
  }

  /** SemDeDup GROUP-SURVIVOR drop set — the connected-component variant
    * of [[semanticDedupStats]]'s greedy per-pair rule (Abbas et al. 2023:
    * within each k-means cluster, every cosine-≥-threshold duplicate
    * GROUP keeps exactly one member): CC over the within-cluster pair
    * graph ([[Dedup.clusters]] pointer-doubling, min-id labels), survivor
    * = the smallest id of each component, everything else returned as the
    * (doc_id) rows to DROP. Pair cost is sum(cluster²) with k the scale
    * lever; the CC runs over the near-linear pair graph, never per
    * candidate. A component never spans clusters (pairs require equal
    * cid), so the keep rule is per-cluster by construction.
    */
  private[graft] def semanticDropIds(candEmb: DataFrame, a2: DataFrame, threshold: Double): DataFrame =
    semanticDropIdsTracked(candEmb, a2, threshold)._1

  /** [[semanticDropIds]] returning the pinned CC label frame for reclaim
    * by the caller once its consumer materializes ([[Dedup.clusters]]
    * hands back a PINNED frame; the per-fold streaming twin and the
    * pipeline stage must not leak one label-frame pin per invocation).
    */
  private[graft] def semanticDropIdsTracked(
      candEmb: DataFrame,
      a2: DataFrame,
      threshold: Double
  ): (DataFrame, Seq[DataFrame]) = {
    val labels = Dedup.clusters(
      semanticPairs(candEmb, a2, threshold)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    (labels.filter(col("label") =!= col("doc_id")).select(col("doc_id")), Seq(labels))
  }

  /** Per-cluster SemDeDup GROUP census (the `q_dedup_semantic_cc` body):
    * members, duplicate groups (CC components of the within-cluster pair
    * graph), and dropped rows (group members minus the one survivor each
    * group keeps). Exposed for the planted duplicate-cluster spec; the
    * gate reads it through the build-once `semantic_cc` artifact.
    */
  private[graft] def semanticCcStats(emb: DataFrame, a2: DataFrame, threshold: Double): DataFrame =
    semanticCcStatsTracked(emb, a2, threshold)._1

  private[graft] def semanticCcStatsTracked(
      emb: DataFrame,
      a2: DataFrame,
      threshold: Double
  ): (DataFrame, Seq[DataFrame]) = {
    val labels = Dedup.clusters(
      semanticPairs(emb, a2, threshold)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    val groups = labels
      .join(a2.select(col("vec_id").as("doc_id"), col("cid")), "doc_id")
      .groupBy(col("cid"))
      .agg(countDistinct(col("label")).as("g"), count(lit(1)).as("grouped"))
    val census = a2
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"))
      .join(groups, Seq("cid"), "left")
      .select(
        col("cid"),
        col("n_members"),
        coalesce(col("g"), lit(0L)).as("n_dup_groups"),
        (coalesce(col("grouped"), lit(0L)) - coalesce(col("g"), lit(0L))).as("n_dropped"))
      .orderBy(col("cid"))
    (census, Seq(labels))
  }

  private val SemCcArtifact = Artifacts.declare("semantic_cc", Artifacts.RangeSorted("cid"))

  /** The per-cluster group census as a build-once artifact (semantic_cc)
    * — the census-artifact treatment every deterministic readout gets
    * (2.3 s of pair scoring + CC per warm call otherwise).
    */
  private def semanticCcArtifact(s: SparkSession, dir: String): DataFrame = {
    def build =
      semanticCcStatsTracked(Tables.embeddings(s, dir), assignments(s, dir), 0.2)
    Artifacts.getTracked(s, dir, SemCcArtifact)(build)
  }

  // ---- DuckDB twins (same structure, CTE chain) ----

  private val compSql =
    """comp AS (
      |  SELECT vec_id, label, i AS d, cast(embedding[i] as double) AS x
      |  FROM embeddings
      |  CROSS JOIN (SELECT unnest(generate_series(1,
      |      (SELECT max(len(embedding)) FROM embeddings))) AS i) dims
      |  WHERE i <= len(embedding))""".stripMargin

  private[graft] val assignmentsSql =
    s"""$compSql,
       |cent1 AS (
       |  SELECT vec_id AS cid, d, x AS cx FROM comp WHERE vec_id < $K),
       |dist1 AS (
       |  SELECT comp.vec_id, cent1.cid,
       |    sum(cast((comp.x - cent1.cx) * (comp.x - cent1.cx) as decimal(18,12))) AS dist
       |  FROM comp JOIN cent1 USING (d) GROUP BY 1, 2),
       |a1 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM dist1) t WHERE rn = 1),
       |cent2 AS (
       |  SELECT a1.cid, comp.d,
       |    cast(cast(sum(cast(comp.x as decimal(18,12))) as varchar) as double)
       |      / count(1) AS cx
       |  FROM comp JOIN a1 USING (vec_id) GROUP BY 1, 2),
       |dist2 AS (
       |  SELECT comp.vec_id, cent2.cid,
       |    sum(cast((comp.x - cent2.cx) * (comp.x - cent2.cx) as decimal(18,12))) AS dist
       |  FROM comp JOIN cent2 USING (d) GROUP BY 1, 2),
       |a2 AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT vec_id, cid, dist,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM dist2) t WHERE rn = 1)""".stripMargin

  /** DuckDB mirror of the per-subspace PQ build: the IVF k-means chain
    * with `sub` added to every key — pcent1/pdist1/pa1/pcent2/pdist2/pa2
    * are [[assignmentsSql]]'s CTEs per subspace.
    */
  private val pqSql =
    s"""$compSql,
       |pqcomp AS (
       |  SELECT vec_id, (d - 1) // 16 AS sub, d - 16 * ((d - 1) // 16) AS dl, x FROM comp),
       |pcent1 AS (SELECT vec_id AS cid, sub, dl, x AS cx FROM pqcomp WHERE vec_id < $K),
       |pdist1 AS (
       |  SELECT c.vec_id, c.sub, k.cid,
       |    sum(cast((c.x - k.cx) * (c.x - k.cx) as decimal(18,12))) AS dist
       |  FROM pqcomp c JOIN pcent1 k ON k.sub = c.sub AND k.dl = c.dl
       |  GROUP BY 1, 2, 3),
       |pa1 AS (
       |  SELECT vec_id, sub, cid FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
       |    FROM pdist1) t WHERE rn = 1),
       |pcent2 AS (
       |  SELECT a.cid, c.sub, c.dl,
       |    cast(cast(sum(cast(c.x as decimal(18,12))) as varchar) as double) / count(1) AS cx
       |  FROM pqcomp c JOIN pa1 a ON a.vec_id = c.vec_id AND a.sub = c.sub
       |  GROUP BY 1, 2, 3),
       |pdist2 AS (
       |  SELECT c.vec_id, c.sub, k.cid,
       |    sum(cast((c.x - k.cx) * (c.x - k.cx) as decimal(18,12))) AS dist
       |  FROM pqcomp c JOIN pcent2 k ON k.sub = c.sub AND k.dl = c.dl
       |  GROUP BY 1, 2, 3),
       |pa2 AS (
       |  SELECT vec_id, sub, cid, dist FROM (
       |    SELECT vec_id, sub, cid, dist,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
       |    FROM pdist2) t WHERE rn = 1)""".stripMargin

  /** Per-query session-only stats frames, built once per fixture: the
    * (label x cid) census of `q_drift_semantic` and the global cosine
    * scoring pass of `q_sim_ivf_recall`.
    */
  private val DriftCensus  = Artifacts.declare("drift_semantic_census", Artifacts.SessionOnly)
  private val RecallScored = Artifacts.declare("ivf_recall_scored", Artifacts.SessionOnly)

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_sim_pq_codes",
      s"product-quantization codebook build (Jegou et al. 2011 / Faiss PQ): $PqM 16-dim subspaces, each trained with the SAME deterministic $K-centroid k-means as the IVF build (trainCentroids/assignPass reused per subspace, so the oracle mirrors the proven chain with `sub` added to every key) — per-(subspace, code) census with quantization-error mass; a vector's 4x3-bit code replaces 256 float bytes, the memory lever behind RAM-resident 10^9-vector indexes",
      (s, dir) =>
        pqCodes(s, dir)
          .groupBy(col("sub"), col("cid"))
          .agg(
            count(lit(1)).as("n_members"),
            // rounded at 6: the (x-cx)^2 terms carry ~15 significant digits
            // into their decimal(18,12) casts, so at large member counts a
            // single term rounding differently across engines can flip the
            // raw sum's 12th decimal (observed at sf0.1) — the 1e-6 wrap
            // absorbs it, same convention as every cosine/distance output
            round(sum(col("dist")).cast("double"), 6).as("sum_qerr"),
            min(col("vec_id")).as("first_vec")
          )
          .orderBy(col("sub"), col("cid")),
      Some(s"""WITH $pqSql
              |SELECT sub, cid, count(1) AS n_members,
              |  round(cast(cast(sum(dist) as varchar) as double), 6) AS sum_qerr,
              |  min(vec_id) AS first_vec
              |FROM pa2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),
    QueryDef(
      "q_sim_pq_probe",
      s"PQ asymmetric-distance probe (ADC): the query precomputes a ($PqM x $K)-row distance table against the subspace codebooks (broadcast, ~32 rows), and every corpus vector's approximate distance is the sum of its $PqM table lookups over the CODES — no vector reconstruction, no float column scanned. Decimal table entries make the per-vector sum exact, so ordering is engine-identical; top-5 selected on the exact decimal, then audited against the true 64-dim distance (adc <= true_d2 + quantization error, both reported)",
      (s, dir) => {
        val c     = comp(s, dir)
        val cent  = pqCent(s, dir)
        val codes = pqCodes(s, dir)
        val sub   = floor((col("d") - 1) / 16).cast("int")
        val qpq = c
          .filter(col("vec_id") === 0)
          .select(sub.as("sub"), (col("d") - lit(16) * sub).as("dl"), col("x").as("qx"))
        val dtab = cent
          .join(broadcast(qpq), Seq("sub", "dl"))
          .groupBy(col("sub"), col("cid"))
          .agg(sumTerm((col("qx") - col("cx")) * (col("qx") - col("cx"))).as("dq"))
        val top = codes
          .filter(col("vec_id") =!= 0)
          .join(broadcast(dtab), Seq("sub", "cid"))
          .groupBy(col("vec_id"))
          .agg(sum(col("dq")).as("adc"))
          .orderBy(col("adc"), col("vec_id"))
          .limit(5)
        val qComp = c.filter(col("vec_id") === 0).select(col("d"), col("x").as("qx"))
        top
          .join(c, "vec_id")
          .join(broadcast(qComp), "d")
          .groupBy(col("vec_id"), col("adc"))
          .agg(sumTerm((col("x") - col("qx")) * (col("x") - col("qx"))).as("d2"))
          .select(
            col("vec_id"),
            round(col("adc").cast("double"), 6).as("adc"),
            round(col("d2").cast("double"), 6).as("true_d2")
          )
          .orderBy(col("adc"), col("vec_id"))
      },
      Some(s"""WITH $pqSql,
              |qpq AS (SELECT sub, dl, x AS qx FROM pqcomp WHERE vec_id = 0),
              |dtab AS (
              |  SELECT k.sub, k.cid,
              |    sum(cast((q.qx - k.cx) * (q.qx - k.cx) as decimal(18,12))) AS dq
              |  FROM pcent2 k JOIN qpq q ON q.sub = k.sub AND q.dl = k.dl
              |  GROUP BY 1, 2),
              |topv AS (
              |  SELECT a.vec_id, sum(t.dq) AS adc
              |  FROM pa2 a JOIN dtab t ON t.sub = a.sub AND t.cid = a.cid
              |  WHERE a.vec_id <> 0 GROUP BY 1
              |  ORDER BY adc, vec_id LIMIT 5),
              |qcomp AS (SELECT d, x AS qx FROM comp WHERE vec_id = 0),
              |ex AS (
              |  SELECT c.vec_id, sum(cast((c.x - q.qx) * (c.x - q.qx) as decimal(18,12))) AS d2
              |  FROM comp c JOIN topv USING (vec_id) JOIN qcomp q ON q.d = c.d
              |  GROUP BY 1)
              |SELECT topv.vec_id,
              |  round(cast(cast(topv.adc as varchar) as double), 6) AS adc,
              |  round(cast(cast(ex.d2 as varchar) as double), 6) AS true_d2
              |FROM topv JOIN ex USING (vec_id)
              |ORDER BY 2, 1""".stripMargin)
    ),
    QueryDef(
      "q_sim_pq_recall",
      "gate-visible RECALL AUDIT of the PQ quantizer: top-10 by ADC over the codes vs the brute-force exact-L2 top-10 — one row (k, hits, recall@10), the post-(re)build health number an ANN deployment tracks (quantizer recall collapsing after a codebook retrain is the silent PQ failure mode). Scale shape: the ADC side scans only the code frame with a broadcast 32-row table; the exact side is the map-only decimal scoring pass; the intersection joins two 10-row frames",
      (s, dir) => {
        val c     = comp(s, dir)
        val cent  = pqCent(s, dir)
        val codes = pqCodes(s, dir)
        val sub   = floor((col("d") - 1) / 16).cast("int")
        val qpq = c
          .filter(col("vec_id") === 0)
          .select(sub.as("sub"), (col("d") - lit(16) * sub).as("dl"), col("x").as("qx"))
        val dtab = cent
          .join(broadcast(qpq), Seq("sub", "dl"))
          .groupBy(col("sub"), col("cid"))
          .agg(sumTerm((col("qx") - col("cx")) * (col("qx") - col("cx"))).as("dq"))
        val adcTop = codes
          .filter(col("vec_id") =!= 0)
          .join(broadcast(dtab), Seq("sub", "cid"))
          .groupBy(col("vec_id"))
          .agg(sum(col("dq")).as("adc"))
          .orderBy(col("adc"), col("vec_id"))
          .limit(10)
          .select("vec_id")
        val qComp = c.filter(col("vec_id") === 0).select(col("d"), col("x").as("qx"))
        val exactTop = c
          .filter(col("vec_id") =!= 0)
          .join(broadcast(qComp), "d")
          .groupBy(col("vec_id"))
          .agg(sumTerm((col("x") - col("qx")) * (col("x") - col("qx"))).as("d2"))
          .orderBy(col("d2"), col("vec_id"))
          .limit(10)
          .select("vec_id")
        exactTop
          .join(adcTop, "vec_id")
          .agg(count(lit(1)).as("hits"))
          .select(lit(10L).as("k"), col("hits"), (col("hits") / lit(10.0)).as("recall"))
      },
      Some(s"""WITH $pqSql,
              |qpq AS (SELECT sub, dl, x AS qx FROM pqcomp WHERE vec_id = 0),
              |dtab AS (
              |  SELECT k.sub, k.cid,
              |    sum(cast((q.qx - k.cx) * (q.qx - k.cx) as decimal(18,12))) AS dq
              |  FROM pcent2 k JOIN qpq q ON q.sub = k.sub AND q.dl = k.dl
              |  GROUP BY 1, 2),
              |adctop AS (SELECT vec_id FROM (
              |    SELECT a.vec_id, row_number() OVER (ORDER BY sum(t.dq), a.vec_id) AS rn
              |    FROM pa2 a JOIN dtab t ON t.sub = a.sub AND t.cid = a.cid
              |    WHERE a.vec_id <> 0 GROUP BY a.vec_id) x
              |  WHERE rn <= 10),
              |qcomp AS (SELECT d, x AS qx FROM comp WHERE vec_id = 0),
              |exacttop AS (SELECT vec_id FROM (
              |    SELECT c.vec_id,
              |      row_number() OVER (
              |        ORDER BY sum(cast((c.x - q.qx) * (c.x - q.qx) as decimal(18,12))), c.vec_id) AS rn
              |    FROM comp c JOIN qcomp q ON q.d = c.d
              |    WHERE c.vec_id <> 0 GROUP BY c.vec_id) y
              |  WHERE rn <= 10)
              |SELECT cast(10 as bigint) AS k,
              |  (SELECT count(1) FROM exacttop JOIN adctop USING (vec_id)) AS hits,
              |  (SELECT count(1) FROM exacttop JOIN adctop USING (vec_id)) / 10.0 AS recall""".stripMargin)
    ),
    QueryDef(
      "q_sim_ivfpq_probe",
      s"IVF-PQ probe — the full Faiss IVFPQ composition: the coarse IVF quantizer prunes to the query's cluster (~1/$K of the corpus via inverted-file partition pruning), then ADC ranks ONLY the members' PQ codes against the broadcast distance table. Both index artifacts are reused as built (coarse assignments + subspace codes); the scan touches cluster-member code rows only — at 10^9 vectors that is 1/$K of a 3-bit-per-subspace frame, the shape that serves million-QPS ANN from RAM",
      (s, dir) => {
        val c     = comp(s, dir)
        val a2    = assignments(s, dir).select(col("vec_id"), col("cid").as("coarse_cid"))
        val cent  = pqCent(s, dir)
        val codes = pqCodes(s, dir)
        val qcid  = a2.filter(col("vec_id") === 0).select(col("coarse_cid"))
        val members = a2.join(broadcast(qcid), "coarse_cid").filter(col("vec_id") =!= 0)
        val sub = floor((col("d") - 1) / 16).cast("int")
        val qpq = c
          .filter(col("vec_id") === 0)
          .select(sub.as("sub"), (col("d") - lit(16) * sub).as("dl"), col("x").as("qx"))
        val dtab = cent
          .join(broadcast(qpq), Seq("sub", "dl"))
          .groupBy(col("sub"), col("cid"))
          .agg(sumTerm((col("qx") - col("cx")) * (col("qx") - col("cx"))).as("dq"))
        codes
          .join(members.select("vec_id"), "vec_id")
          .join(broadcast(dtab), Seq("sub", "cid"))
          .groupBy(col("vec_id"))
          .agg(sum(col("dq")).as("adc"))
          .orderBy(col("adc"), col("vec_id"))
          .limit(5)
          .select(col("vec_id"), round(col("adc").cast("double"), 6).as("adc"))
      },
      Some(s"""WITH $pqSql,
              |cent1 AS (
              |  SELECT vec_id AS cid, d, x AS cx FROM comp WHERE vec_id < $K),
              |dist1 AS (
              |  SELECT comp.vec_id, cent1.cid,
              |    sum(cast((comp.x - cent1.cx) * (comp.x - cent1.cx) as decimal(18,12))) AS dist
              |  FROM comp JOIN cent1 USING (d) GROUP BY 1, 2),
              |a1 AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT vec_id, cid,
              |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
              |    FROM dist1) t WHERE rn = 1),
              |cent2 AS (
              |  SELECT a1.cid, comp.d,
              |    cast(cast(sum(cast(comp.x as decimal(18,12))) as varchar) as double)
              |      / count(1) AS cx
              |  FROM comp JOIN a1 USING (vec_id) GROUP BY 1, 2),
              |dist2 AS (
              |  SELECT comp.vec_id, cent2.cid,
              |    sum(cast((comp.x - cent2.cx) * (comp.x - cent2.cx) as decimal(18,12))) AS dist
              |  FROM comp JOIN cent2 USING (d) GROUP BY 1, 2),
              |a2 AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT vec_id, cid,
              |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
              |    FROM dist2) t WHERE rn = 1),
              |qc AS (SELECT cid AS qcid FROM a2 WHERE vec_id = 0),
              |members AS (
              |  SELECT a2.vec_id FROM a2, qc WHERE a2.cid = qc.qcid AND a2.vec_id <> 0),
              |qpq AS (SELECT sub, dl, x AS qx FROM pqcomp WHERE vec_id = 0),
              |dtab AS (
              |  SELECT k.sub, k.cid,
              |    sum(cast((q.qx - k.cx) * (q.qx - k.cx) as decimal(18,12))) AS dq
              |  FROM pcent2 k JOIN qpq q ON q.sub = k.sub AND q.dl = k.dl
              |  GROUP BY 1, 2),
              |scored AS (
              |  SELECT p.vec_id, sum(t.dq) AS adc
              |  FROM pa2 p
              |  JOIN members m ON m.vec_id = p.vec_id
              |  JOIN dtab t ON t.sub = p.sub AND t.cid = p.cid
              |  GROUP BY 1)
              |SELECT vec_id, round(cast(cast(adc as varchar) as double), 6) AS adc
              |FROM scored ORDER BY scored.adc, vec_id LIMIT 5""".stripMargin)
    ),
    QueryDef(
      "q_drift_semantic",
      s"EMBEDDING-SPACE drift monitor: per-label PSI over the IVF cluster-occupancy distribution vs the whole corpus — the semantic companion of q_drift_psi (length drift can be flat while a label quietly occupies different regions of embedding space; cluster ids are the buckets, so the check reuses the build-once IVF artifact instead of touching raw vectors). Same Laplace-smoothed, decimal-term PSI construction; the embeddings table never joins anything bigger than the $K-row cluster census",
      (s, dir) => {
        // one pass over the joined frame; everything else re-aggregates
        // the tiny (label x cid) census (reference-once rule, as in
        // q_drift_psi — PlanSpec pins the single embeddings scan)
        val sb = Artifacts.get(s, dir, DriftCensus) {
          val a = assignments(s, dir).select(col("vec_id"), col("cid"))
          Tables.embeddings(s, dir).select(col("vec_id"), col("label")).join(a, "vec_id")
            .groupBy(col("label"), col("cid")).agg(count(lit(1)).as("n_sb"))
        }
        val st  = sb.groupBy(col("label")).agg(sum(col("n_sb")).as("n_s"))
        val cb  = sb.groupBy(col("cid")).agg(sum(col("n_sb")).as("n_b"))
        val tot = sb.agg(sum(col("n_sb")).as("n"))
        val p   = (coalesce(col("n_sb"), lit(0L)) + lit(0.5)) / (col("n_s") + lit(0.5 * K))
        val q   = (col("n_b") + lit(0.5)) / (col("n") + lit(0.5 * K))
        st.crossJoin(broadcast(cb))
          .crossJoin(broadcast(tot))
          .join(sb, Seq("label", "cid"), "left_outer")
          .select(col("label"), col("n_s"), ((p - q) * log(p / q)).cast("decimal(18,12)").as("term"))
          .groupBy(col("label"), col("n_s"))
          .agg(round(sum(col("term")).cast("double"), 6).as("psi"))
          .select(col("label"), col("n_s").cast("long").as("n_vecs"), col("psi"))
          .orderBy(col("label"))
      },
      Some(s"""WITH $assignmentsSql,
              |b AS (SELECT e.label, a2.cid FROM embeddings e JOIN a2 USING (vec_id)),
              |sb AS (SELECT label, cid, count(1) AS n_sb FROM b GROUP BY 1, 2),
              |st AS (SELECT label, count(1) AS n_s FROM b GROUP BY 1),
              |cb AS (SELECT cid, count(1) AS n_b FROM b GROUP BY 1),
              |tot AS (SELECT count(1) AS n FROM b),
              |terms AS (
              |  SELECT st.label, st.n_s,
              |    cast((((coalesce(sb.n_sb, 0) + 0.5) / (st.n_s + ${0.5 * K}))
              |        - ((cb.n_b + 0.5) / (tot.n + ${0.5 * K})))
              |      * ln(((coalesce(sb.n_sb, 0) + 0.5) / (st.n_s + ${0.5 * K}))
              |           / ((cb.n_b + 0.5) / (tot.n + ${0.5 * K}))) as decimal(18,12)) AS term
              |  FROM st CROSS JOIN cb CROSS JOIN tot
              |  LEFT JOIN sb ON sb.label = st.label AND sb.cid = cb.cid)
              |SELECT label, cast(n_s as bigint) AS n_vecs,
              |  round(cast(cast(sum(term) as varchar) as double), 6) AS psi
              |FROM terms GROUP BY label, n_s ORDER BY label""".stripMargin)
    ),
    QueryDef(
      "q_sim_ivf_build",
      s"IVF index build: deterministic k-means ($K clusters, 2 Lloyd iterations, first-$K init) — cluster census with mean within-cluster distance",
      (s, dir) =>
        assignments(s, dir)
          .groupBy(col("cid"))
          .agg(
            count(lit(1)).as("n_members"),
            // decimal total emitted as rounded double (oracle mirrors via
            // the varchar bridge): the (x-cx)^2 terms carry ~15 significant
            // digits into their decimal(18,12) casts, so at large member
            // counts one term can round differently across engines and flip
            // the raw sum's last decimal — q_sim_pq_codes hit exactly that
            // at sf0.1; the 1e-6 wrap absorbs it
            round(sum(col("dist")).cast("double"), 6).as("sum_dist"),
            min(col("vec_id")).as("first_vec")
          )
          .orderBy(col("cid")),
      Some(s"""WITH $assignmentsSql
              |SELECT cid, count(1) AS n_members,
              |  round(cast(cast(sum(dist) as varchar) as double), 6) AS sum_dist,
              |  min(vec_id) AS first_vec
              |FROM a2 GROUP BY cid ORDER BY cid""".stripMargin)
    ),
    QueryDef(
      "q_sim_ivf_probe",
      "IVF probe: top-5 by cosine among the query vector's cluster only (~1/k of the corpus scored; decimal-exact dot products)",
      (s, dir) => {
        val a2 = assignments(s, dir).select(col("vec_id"), col("cid"))
        val c  = comp(s, dir)
        // the query vector's cluster id as a 1-row broadcast build side —
        // NOT a global `Window.partitionBy()` over a2, which would funnel
        // every assignment row (one per VECTOR — 10^9 at corpus scale)
        // through a single task. The assignments artifact is checkpointed,
        // so the filtered self-reference costs two tiny extra stages, not a
        // second k-means run; same shape as q_sim_ivf_probe2's qc2 join.
        val qcid = a2.filter(col("vec_id") === 0).select(col("cid"))
        val members = a2
          .join(broadcast(qcid), "cid")
          .filter(col("vec_id") =!= 0)
        val qComp    = c.filter(col("vec_id") === 0).select(col("d"), col("x").as("qx"))
        val scored = c
          .join(members.select("vec_id"), "vec_id")
          .join(broadcast(qComp), "d")
          .groupBy(col("vec_id"))
          .agg(
            sumTerm(col("x") * col("qx")).as("dot"),
            sumTerm(col("x") * col("x")).as("nx"),
            sumTerm(col("qx") * col("qx")).as("nq")
          )
          .select(
            col("vec_id"),
            round(
              col("dot").cast("double") /
                (sqrt(col("nx").cast("double")) * sqrt(col("nq").cast("double"))),
              6
            ).as("cos_sim")
          )
        scored.orderBy(col("cos_sim").desc, col("vec_id")).limit(5)
      },
      Some(s"""WITH $assignmentsSql,
              |qc AS (SELECT cid AS qcid FROM a2 WHERE vec_id = 0),
              |members AS (
              |  SELECT a2.vec_id FROM a2, qc WHERE a2.cid = qc.qcid AND a2.vec_id <> 0),
              |qcomp AS (SELECT d, x AS qx FROM comp WHERE vec_id = 0),
              |scored AS (
              |  SELECT comp.vec_id,
              |    sum(cast(comp.x * qcomp.qx as decimal(18,12))) AS dot,
              |    sum(cast(comp.x * comp.x as decimal(18,12))) AS nx,
              |    sum(cast(qcomp.qx * qcomp.qx as decimal(18,12))) AS nq
              |  FROM comp
              |  JOIN members USING (vec_id)
              |  JOIN qcomp USING (d)
              |  GROUP BY 1)
              |SELECT vec_id,
              |  round(cast(cast(dot as varchar) as double)
              |        / (sqrt(cast(cast(nx as varchar) as double))
              |           * sqrt(cast(cast(nq as varchar) as double))), 6) AS cos_sim
              |FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin)
    ),
    QueryDef(
      "q_sim_ivf_recall",
      "gate-visible RECALL AUDIT of the IVF probe: top-10 by exact cosine among the query's cluster vs the brute-force global top-10 — one row (k, n_candidates, hits, recall@10). The spec pins recall >= 0.7 as a bound; this query makes the NUMBER itself a tracked, oracle-verified artifact, the per-index health readout an ANN deployment logs after every (re)build (recall collapsing after a retrain is the classic silent ANN failure). Scale shape: the probe side scores ~1/k of the corpus (cluster members only), the brute side is the map-only decimal-exact scoring pass, and the final intersection joins two 10-row frames",
      (s, dir) => {
        val a2    = assignments(s, dir).select(col("vec_id"), col("cid"))
        val c     = comp(s, dir)
        val qComp = c.filter(col("vec_id") === 0).select(col("d"), col("x").as("qx"))
        def scoredOf() =
          c.filter(col("vec_id") =!= 0)
            .join(broadcast(qComp), "d")
            .groupBy(col("vec_id"))
            .agg(
              sumTerm(col("x") * col("qx")).as("dot"),
              sumTerm(col("x") * col("x")).as("nx"),
              sumTerm(col("qx") * col("qx")).as("nq")
            )
            .select(
              col("vec_id"),
              round(
                col("dot").cast("double") /
                  (sqrt(col("nx").cast("double")) * sqrt(col("nq").cast("double"))),
                6
              ).as("cos_sim")
            )
        val qcid    = a2.filter(col("vec_id") === 0).select(col("cid"))
        val members = a2.join(broadcast(qcid), "cid").filter(col("vec_id") =!= 0).select("vec_id")
        // ONE scoring pass (pinned): the probe ranking is the global scored
        // frame restricted to the cluster members — exactly the oracle's
        // `sall JOIN members` shape — instead of a second comp-join
        // aggregation over the members
        val scoredAll = Artifacts.get(s, dir, RecallScored)(scoredOf())
        val brute     = scoredAll.orderBy(col("cos_sim").desc, col("vec_id")).limit(10).select("vec_id")
        val probe =
          scoredAll.join(members, "vec_id").orderBy(col("cos_sim").desc, col("vec_id")).limit(10).select("vec_id")
        brute
          .join(probe, "vec_id")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(members.agg(count(lit(1)).as("n_candidates"))))
          .select(
            lit(10L).as("k"),
            col("n_candidates"),
            col("hits"),
            (col("hits") / lit(10.0)).as("recall")
          )
      },
      Some(s"""WITH $assignmentsSql,
              |qcomp AS (SELECT d, x AS qx FROM comp WHERE vec_id = 0),
              |sall AS (
              |  SELECT comp.vec_id,
              |    round(cast(cast(sum(cast(comp.x * qcomp.qx as decimal(18,12))) as varchar) as double)
              |      / (sqrt(cast(cast(sum(cast(comp.x * comp.x as decimal(18,12))) as varchar) as double))
              |         * sqrt(cast(cast(sum(cast(qcomp.qx * qcomp.qx as decimal(18,12))) as varchar) as double))), 6) AS cos_sim
              |  FROM comp JOIN qcomp USING (d) WHERE comp.vec_id <> 0 GROUP BY 1),
              |qc AS (SELECT cid AS qcid FROM a2 WHERE vec_id = 0),
              |members AS (SELECT a2.vec_id FROM a2, qc WHERE a2.cid = qc.qcid AND a2.vec_id <> 0),
              |brute AS (SELECT vec_id FROM (
              |    SELECT vec_id, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rn FROM sall) t
              |  WHERE rn <= 10),
              |probe AS (SELECT vec_id FROM (
              |    SELECT s.vec_id, row_number() OVER (ORDER BY s.cos_sim DESC, s.vec_id) AS rn
              |    FROM sall s JOIN members USING (vec_id)) t
              |  WHERE rn <= 10)
              |SELECT cast(10 as bigint) AS k,
              |  (SELECT count(1) FROM members) AS n_candidates,
              |  (SELECT count(1) FROM brute JOIN probe USING (vec_id)) AS hits,
              |  (SELECT count(1) FROM brute JOIN probe USING (vec_id)) / 10.0 AS recall""".stripMargin)
    ),
    QueryDef(
      "q_sim_pq_ndcg",
      "gate-visible NDCG@10 of the PQ quantizer's ADC ranking — the POSITION-WEIGHTED companion to q_sim_pq_recall (recall counts hits; NDCG additionally penalizes the quantizer for BURYING a true neighbor at rank 9 instead of rank 1, which is what a retrieval-quality SLO tracks — and unlike the exact-scored IVF probe, whose relevant items form an ideal prefix by construction, the ADC ordering genuinely REORDERS against exact L2, so the number is informative): relevance = membership in the exact-L2 top-10; gain 1/ln(rank+1) (NDCG is log-base-invariant since IDCG rescales identically, and ln is the transcendental whose cross-engine decimal(18,12)+round-6 convention this repo has proven); IDCG from the same formula over the ideal prefix of `hits` items. One row: (k, hits, ndcg). Scale shape: same frames as the recall audit — ADC scans codes with a broadcast 32-row table, the rank window sorts a 10-row frame",
      (s, dir) => {
        val c     = comp(s, dir)
        val cent  = pqCent(s, dir)
        val codes = pqCodes(s, dir)
        val sub   = floor((col("d") - 1) / 16).cast("int")
        val qpq = c
          .filter(col("vec_id") === 0)
          .select(sub.as("sub"), (col("d") - lit(16) * sub).as("dl"), col("x").as("qx"))
        val dtab = cent
          .join(broadcast(qpq), Seq("sub", "dl"))
          .groupBy(col("sub"), col("cid"))
          .agg(sumTerm((col("qx") - col("cx")) * (col("qx") - col("cx"))).as("dq"))
        // ADC top-10 WITH RANKS: TakeOrderedAndProject prunes to 10 rows,
        // then the row_number window sorts only those 10
        val adcRanked = codes
          .filter(col("vec_id") =!= 0)
          .join(broadcast(dtab), Seq("sub", "cid"))
          .groupBy(col("vec_id"))
          .agg(sum(col("dq")).as("adc"))
          .orderBy(col("adc"), col("vec_id"))
          .limit(10)
          .withColumn(
            "rn",
            row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy(col("adc"), col("vec_id")))
          )
        val qComp = c.filter(col("vec_id") === 0).select(col("d"), col("x").as("qx"))
        val exactTop = c
          .filter(col("vec_id") =!= 0)
          .join(broadcast(qComp), "d")
          .groupBy(col("vec_id"))
          .agg(sumTerm((col("x") - col("qx")) * (col("x") - col("qx"))).as("d2"))
          .orderBy(col("d2"), col("vec_id"))
          .limit(10)
          .select("vec_id")
        val dcg = adcRanked
          .join(exactTop, Seq("vec_id"), "left_semi")
          .agg(
            sum((lit(1.0) / log(col("rn") + 1)).cast("decimal(18,12)")).as("dcg_d"),
            count(lit(1)).as("hits")
          )
        dcg.select(
          lit(10L).as("k"),
          col("hits"),
          // hits = 0 is DEFINED as ndcg 0.0, never computed: sequence(1, 0)
          // generates a DESCENDING [1, 0] range (the WordPiece.scala
          // pitfall), whose i = 0 term divides by ln(1) = 0 — the zero-
          // overlap case must not depend on both engines collapsing to
          // NULL the same way
          when(
            col("hits") > 0,
            round(
              col("dcg_d").cast("double") /
                aggregate(
                  sequence(lit(1L), col("hits")),
                  lit(java.math.BigDecimal.ZERO).cast("decimal(28,12)"),
                  // re-cast each step: decimal + widens scale-losingly past
                  // p=38 otherwise; values are <= ~15, so (28,12) is exact
                  (acc, i) =>
                    (acc + (lit(1.0) / log(i.cast("double") + 1)).cast("decimal(18,12)"))
                      .cast("decimal(28,12)")
                ).cast("double"),
              6
            )
          ).otherwise(lit(0.0)).as("ndcg")
        )
      },
      Some(s"""WITH $pqSql,
              |qpq AS (SELECT sub, dl, x AS qx FROM pqcomp WHERE vec_id = 0),
              |dtab AS (
              |  SELECT k.sub, k.cid,
              |    sum(cast((q.qx - k.cx) * (q.qx - k.cx) as decimal(18,12))) AS dq
              |  FROM pcent2 k JOIN qpq q ON q.sub = k.sub AND q.dl = k.dl
              |  GROUP BY 1, 2),
              |adcranked AS (SELECT vec_id, rn FROM (
              |    SELECT a.vec_id, row_number() OVER (ORDER BY sum(t.dq), a.vec_id) AS rn
              |    FROM pa2 a JOIN dtab t ON t.sub = a.sub AND t.cid = a.cid
              |    WHERE a.vec_id <> 0 GROUP BY a.vec_id) x
              |  WHERE rn <= 10),
              |qcomp AS (SELECT d, x AS qx FROM comp WHERE vec_id = 0),
              |exacttop AS (SELECT vec_id FROM (
              |    SELECT c.vec_id,
              |      row_number() OVER (
              |        ORDER BY sum(cast((c.x - q.qx) * (c.x - q.qx) as decimal(18,12))), c.vec_id) AS rn
              |    FROM comp c JOIN qcomp q ON q.d = c.d
              |    WHERE c.vec_id <> 0 GROUP BY c.vec_id) y
              |  WHERE rn <= 10),
              |dcg AS (
              |  SELECT sum(cast(1.0 / ln(rn + 1) as decimal(18,12))) AS dcg_d,
              |    cast(count(1) as bigint) AS hits
              |  FROM adcranked JOIN exacttop USING (vec_id))
              |SELECT cast(10 as bigint) AS k, hits,
              |  CASE WHEN hits > 0 THEN
              |    round(cast(cast(dcg_d as varchar) as double) /
              |      cast(cast((SELECT sum(cast(1.0 / ln(i + 1) as decimal(18,12)))
              |                 FROM unnest(generate_series(1, hits)) t(i)) as varchar) as double), 6)
              |  ELSE 0.0 END AS ndcg
              |FROM dcg""".stripMargin)
    ),
    QueryDef(
      "q_sim_ivf_probe2",
      "multi-probe IVF (nprobe=2), the standard recall lever: rank the query vector against the trained centroids, search the 2 nearest clusters (~2/k of the corpus) — candidate recall rises at 2x the scoring cost, same decimal-exact arithmetic",
      (s, dir) => {
        val c     = comp(s, dir)
        val qComp = c.filter(col("vec_id") === 0).select(col("d"), col("x").as("qx"))
        // query-vector distance to every trained centroid -> top-2 cids
        val qc2 = qComp
          .join(broadcast(cent2(s, dir)), "d")
          .agg(
            sumTerm((col("qx") - col("cx0")) * (col("qx") - col("cx0"))).as("dist0"),
            (1 until K).map(k =>
              sumTerm((col("qx") - col(s"cx$k")) * (col("qx") - col(s"cx$k"))).as(s"dist$k")
            ): _*
          )
          .select(
            explode(
              array((0 until K).map(k => struct(col(s"dist$k").as("dist"), lit(k).as("cid"))): _*)
            ).as("p")
          )
          .select(col("p.cid").as("cid"), col("p.dist").as("dist"))
          .orderBy(col("dist"), col("cid"))
          .limit(2)
          .select(col("cid"))
        val members = assignments(s, dir)
          .join(broadcast(qc2), "cid")
          .filter(col("vec_id") =!= 0)
          .select("vec_id")
        val scored = c
          .join(members, "vec_id")
          .join(broadcast(qComp), "d")
          .groupBy(col("vec_id"))
          .agg(
            sumTerm(col("x") * col("qx")).as("dot"),
            sumTerm(col("x") * col("x")).as("nx"),
            sumTerm(col("qx") * col("qx")).as("nq")
          )
          .select(
            col("vec_id"),
            round(
              col("dot").cast("double") /
                (sqrt(col("nx").cast("double")) * sqrt(col("nq").cast("double"))),
              6
            ).as("cos_sim")
          )
        scored.orderBy(col("cos_sim").desc, col("vec_id")).limit(5)
      },
      Some(s"""WITH $assignmentsSql,
              |qd AS (SELECT cid, dist FROM dist2 WHERE vec_id = 0),
              |qc2 AS (SELECT cid FROM qd ORDER BY dist, cid LIMIT 2),
              |members AS (
              |  SELECT a2.vec_id FROM a2 JOIN qc2 USING (cid) WHERE a2.vec_id <> 0),
              |qcomp AS (SELECT d, x AS qx FROM comp WHERE vec_id = 0),
              |scored AS (
              |  SELECT comp.vec_id,
              |    sum(cast(comp.x * qcomp.qx as decimal(18,12))) AS dot,
              |    sum(cast(comp.x * comp.x as decimal(18,12))) AS nx,
              |    sum(cast(qcomp.qx * qcomp.qx as decimal(18,12))) AS nq
              |  FROM comp
              |  JOIN members USING (vec_id)
              |  JOIN qcomp USING (d)
              |  GROUP BY 1)
              |SELECT vec_id,
              |  round(cast(cast(dot as varchar) as double)
              |        / (sqrt(cast(cast(nx as varchar) as double))
              |           * sqrt(cast(cast(nq as varchar) as double))), 6) AS cos_sim
              |FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin)
    ),
    QueryDef(
      "q_sim_ivf_probe_batch",
      "BATCHED IVF probe: 5 query vectors answered in ONE plan — routing table (qid, cid) from the index, one cid join fans each query to its cluster's members, one (qid, vec_id) aggregation scores every candidate pair, top-3 per query via a qid-partitioned window. This is the query-serving shape that actually runs in production (requests arrive in batches, not one at a time): per-query driver round-trips are replaced by set-at-a-time joins, so 10^6 queries cost one more join row each, not 10^6 Spark jobs. At fixture scale the query frames broadcast; at real query volume both become shuffle joins on cid / (qid, d) — the plan shape is unchanged, only the join strategy flips, which AQE decides from size",
      (s, dir) => {
        val nQ   = 5
        val topK = 3
        val a2   = assignments(s, dir).select(col("vec_id"), col("cid"))
        val c    = comp(s, dir)
        // (qid, cid) routing rows for the query batch — tiny, broadcast
        val qRoute = a2.filter(col("vec_id") < nQ).select(col("vec_id").as("qid"), col("cid"))
        // query components long-form (qid, d, qx): nQ x dims rows
        val qComp = c.filter(col("vec_id") < nQ).select(col("vec_id").as("qid"), col("d"), col("x").as("qx"))
        // each query's candidates = its cluster's members (self-match excluded):
        // ONE join against the inverted file serves the whole batch
        val cands = a2
          .join(broadcast(qRoute), "cid")
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"))
        val scored = c
          .join(cands, "vec_id")
          .join(broadcast(qComp), Seq("qid", "d"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(
            sumTerm(col("x") * col("qx")).as("dot"),
            sumTerm(col("x") * col("x")).as("nx"),
            sumTerm(col("qx") * col("qx")).as("nq")
          )
          .select(
            col("qid"),
            col("vec_id"),
            round(
              col("dot").cast("double") /
                (sqrt(col("nx").cast("double")) * sqrt(col("nq").cast("double"))),
              6
            ).as("cos_sim")
          )
        // per-QUERY top-k: the window partitions on qid (bounded candidate
        // set per partition), never a global sort
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
        scored
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= topK)
          .select(col("qid"), col("rn"), col("vec_id"), col("cos_sim"))
          .orderBy(col("qid"), col("rn"))
      },
      Some(s"""WITH $assignmentsSql,
              |qroute AS (SELECT vec_id AS qid, cid FROM a2 WHERE vec_id < 5),
              |qcomp AS (SELECT vec_id AS qid, d, x AS qx FROM comp WHERE vec_id < 5),
              |cands AS (
              |  SELECT q.qid, a2.vec_id FROM a2 JOIN qroute q ON a2.cid = q.cid
              |  WHERE a2.vec_id <> q.qid),
              |scored AS (
              |  SELECT cands.qid, comp.vec_id,
              |    sum(cast(comp.x * qcomp.qx as decimal(18,12))) AS dot,
              |    sum(cast(comp.x * comp.x as decimal(18,12))) AS nx,
              |    sum(cast(qcomp.qx * qcomp.qx as decimal(18,12))) AS nq
              |  FROM comp
              |  JOIN cands ON cands.vec_id = comp.vec_id
              |  JOIN qcomp ON qcomp.qid = cands.qid AND qcomp.d = comp.d
              |  GROUP BY 1, 2),
              |ranked AS (
              |  SELECT qid, vec_id,
              |    round(cast(cast(dot as varchar) as double)
              |          / (sqrt(cast(cast(nx as varchar) as double))
              |             * sqrt(cast(cast(nq as varchar) as double))), 6) AS cos_sim
              |  FROM scored)
              |SELECT qid, rn, vec_id, cos_sim FROM (
              |  SELECT qid, vec_id, cos_sim,
              |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
              |  FROM ranked) t
              |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)
    ),
    QueryDef(
      "q_sim_ivf_sq8_probe",
      "IVF-SQ8 probe (the Faiss IVF-SQ design): cluster membership from the trained index, but members scored with int8-quantized cosine — the inverted file stores 72-byte codes instead of 256-byte float vectors, so a probe scans a quarter of the bytes; recall vs the exact probe pinned in QuantizeSpec",
      (s, dir) => {
        graft.functions.VectorFunctions.register(s)
        val a2   = assignments(s, dir).select(col("vec_id"), col("cid"))
        val qf   = Quantize.quantizedFrame(Tables.embeddings(s, dir))
        val qcid = a2.filter(col("vec_id") === 0).select(col("cid"))
        val members = a2
          .join(broadcast(qcid), "cid")
          .filter(col("vec_id") =!= 0)
          .select("vec_id")
        val q = qf.filter(col("vec_id") === 0).select(col("qcode").as("q_qcode"))
        qf.join(members, "vec_id")
          .crossJoin(broadcast(q))
          .select(
            col("vec_id"),
            round(expr("quantized_cosine(qcode, q_qcode)"), 6).as("cos_q")
          )
          .orderBy(col("cos_q").desc, col("vec_id"))
          .limit(5)
      },
      Some(s"""WITH $assignmentsSql,
              |qcid AS (SELECT cid AS qcid FROM a2 WHERE vec_id = 0),
              |members AS (
              |  SELECT a2.vec_id FROM a2, qcid WHERE a2.cid = qcid.qcid AND a2.vec_id <> 0),
              |sc AS (
              |  SELECT vec_id, embedding, ${Quantize.scaleDuck} AS scale FROM embeddings),
              |qcodes AS (
              |  SELECT vec_id, ${Quantize.codesDuck} AS qcode FROM sc),
              |q AS (SELECT qcode AS q_qcode FROM qcodes WHERE vec_id = 0)
              |SELECT qcodes.vec_id,
              |  round(${Quantize.qdotDuck("qcode", "q_qcode")} /
              |    (sqrt(${Quantize.qdotDuck("qcode", "qcode")}) * sqrt(${Quantize.qdotDuck("q_qcode", "q_qcode")})), 6) AS cos_q
              |FROM qcodes JOIN members USING (vec_id) CROSS JOIN q
              |ORDER BY cos_q DESC, vec_id LIMIT 5""".stripMargin)
    ),
    QueryDef(
      "q_dedup_semantic",
      "SemDeDup (Abbas et al. 2023): semantic near-dup removal blocked by the trained k-means clusters — within each cluster, a vector is dropped iff a smaller-id member scores cosine >= threshold against it (greedy keep-lowest-id, no transitive closure); per-cluster (n_members, n_dropped) accounting. The IVF assignments artifact does double duty as the dedup blocking key, so the pair cost is sum(cluster^2) with k the scale lever (at 10^9 vectors, k ~ 10^5 keeps clusters ~10^4); threshold 0.2 at the gate for the same reason as q_dedup_embed (the synthetic fixture holds no cos >= 0.85 twins, and 0 drops = 0 drops would hide a broken pair join)",
      (s, dir) =>
        semanticDedupStats(
          Tables.embeddings(s, dir),
          assignments(s, dir),
          threshold = 0.2
        ),
      Some(s"""WITH $assignmentsSql,
              |wc AS (
              |  SELECT e.vec_id, e.embedding, a2.cid FROM embeddings e JOIN a2 USING (vec_id)),
              |pr AS (
              |  SELECT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b
              |  FROM wc a JOIN wc b ON a.cid = b.cid AND a.vec_id < b.vec_id
              |  WHERE round(${Similarity.cosDuck("a.embedding", "b.embedding")}, 6) >= 0.2),
              |dr AS (
              |  SELECT cid, count(1) AS n_dropped
              |  FROM (SELECT DISTINCT cid, vec_b FROM pr) GROUP BY 1)
              |SELECT a2.cid, count(1) AS n_members,
              |  cast(coalesce(min(dr.n_dropped), 0) as bigint) AS n_dropped
              |FROM a2 LEFT JOIN dr USING (cid)
              |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    QueryDef(
      "q_dedup_semantic_cc",
      "SemDeDup GROUP-survivor census (Abbas et al. 2023, the keep-one-per-group composition q_dedup_semantic's greedy rule approximates): within each trained k-means cluster, the cosine >= threshold pair graph's CONNECTED COMPONENTS are the duplicate groups (pointer-doubling CC, min-id labels — a component never spans clusters since pairs require equal cid), each group keeps exactly its smallest-id member; per-cluster (n_members, n_dup_groups, n_dropped) accounting. The oracle states the components as a recursive transitive-closure fixpoint, so the gate proves CC convergence over the semantic pair graph, not a mirrored iteration count; threshold 0.2 at the gate for the q_dedup_embed reason (the synthetic fixture holds no cos >= 0.85 twins, and 0 groups = 0 groups would hide a broken pair join). Served as the build-once semantic_cc artifact (census-artifact treatment: the pair scoring + CC run once, warm calls read the census back). This is the drop rule CorpusPipeline's semantic stage applies between exact and MinHash near-dup dedup",
      (s, dir) => semanticCcArtifact(s, dir).orderBy(col("cid")),
      Some(s"""WITH RECURSIVE $assignmentsSql,
              |wc AS (
              |  SELECT e.vec_id, e.embedding, a2.cid FROM embeddings e JOIN a2 USING (vec_id)),
              |pr AS MATERIALIZED (
              |  SELECT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b
              |  FROM wc a JOIN wc b ON a.cid = b.cid AND a.vec_id < b.vec_id
              |  WHERE round(${Similarity.cosDuck("a.embedding", "b.embedding")}, 6) >= 0.2),
              |sedges AS (
              |  SELECT vec_a AS src, vec_b AS dst FROM pr
              |  UNION ALL SELECT vec_b, vec_a FROM pr),
              |sreach AS (
              |  SELECT src AS id, src AS label FROM sedges
              |  UNION
              |  SELECT e.src AS id, r.label FROM sedges e JOIN sreach r ON e.dst = r.id),
              |scc AS (SELECT id, min(label) AS label FROM sreach GROUP BY 1),
              |g AS (
              |  SELECT a2.cid, count(DISTINCT scc.label) AS g, count(1) AS grouped
              |  FROM scc JOIN a2 ON a2.vec_id = scc.id GROUP BY 1)
              |SELECT a2.cid, count(1) AS n_members,
              |  cast(coalesce(min(g.g), 0) as bigint) AS n_dup_groups,
              |  cast(coalesce(min(g.grouped), 0) - coalesce(min(g.g), 0) as bigint) AS n_dropped
              |FROM a2 LEFT JOIN g USING (cid)
              |GROUP BY 1 ORDER BY 1""".stripMargin)
    )
  )
}
