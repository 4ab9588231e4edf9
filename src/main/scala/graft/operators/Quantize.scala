package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Int8 scalar quantization of embedding vectors — the storage/bandwidth
  * lever for vector search at corpus scale: a 64-dim float32 embedding is
  * 256 bytes; its symmetric int8 code + one double scale is 72, a ~3.6x
  * shrink of every shuffle, broadcast, and cache partition the similarity
  * operators touch (per-vector max-abs scaling, the standard symmetric
  * scheme). Cosine is SCALE-INVARIANT, so quantized cosine needs no
  * dequantization at all: integer dot / integer norms, one double division
  * at the end — and the int8 x int8 dot is exactly what SIMD dot-product
  * instructions eat at 4x the throughput of float32.
  *
  * Oracle parity discipline: every arithmetic step is spelled with the
  * same literal expression text in Spark SQL and DuckDB — cast-to-double
  * first, `floor(v + 0.5)` for round-half-up (both engines define floor
  * identically; plain `round` HALF_UP vs HALF_EVEN diverges between them),
  * integer sums thereafter (exact in both). Codes are carried as BIGINT in
  * the gate queries (tinyint survives the trip, but the stringified-compare
  * gate is happier with one integer width); [[quantizeEmbeddings]] is the
  * storage-shape variant with a real `array<tinyint>` column.
  */
object Quantize {

  /** Max |component| as double; clamped away from 0 so an (unexpected)
    * all-zero vector quantizes to zeros instead of NULL/Inf codes.
    */
  private val scaleSpark =
    "greatest(array_max(transform(embedding, x -> abs(cast(x as double)))), 1e-30)"
  private[operators] val scaleDuck =
    "greatest(list_aggregate(list_transform(embedding, x -> abs(cast(x as double))), 'max'), 1e-30)"

  /** Symmetric int8 code: floor(x * 127 / scale + 0.5) in [-127, 127].
    * `scale` must already be a resolvable column.
    */
  private val codesSpark =
    "transform(embedding, x -> cast(floor(cast(x as double) * 127.0 / scale + 0.5) as bigint))"
  private[operators] val codesDuck =
    "list_transform(embedding, x -> cast(floor(cast(x as double) * 127.0 / scale + 0.5) as bigint))"

  /** Spark SQL: integer dot product of two bigint code arrays. */
  private[operators] def qdotSpark(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"

  /** DuckDB twin (1-based list indexing; truncate-to-min like cosDuck). */
  private[operators] def qdotDuck(a: String, b: String): String =
    s"list_aggregate(list_transform(generate_series(1, least(len($a), len($b))), k -> $a[k] * $b[k]), 'sum')"

  /** Append an int8-code column derived from an arbitrary embedding
    * column (two-step: materialize the scale, then the codes — inlining
    * the max-abs into the transform lambda would re-evaluate it per
    * element). Used by [[Similarity.knnJoin]]'s quantized scoring, where
    * the probe side then carries ONLY the codes: a broadcast of int8
    * codes is ~4x smaller than the float embeddings it replaces.
    */
  private[operators] def withQcode(df: DataFrame, embCol: String, outCol: String): DataFrame =
    df.withColumn(
        s"_scale_$outCol",
        expr(s"greatest(array_max(transform($embCol, x -> abs(cast(x as double)))), 1e-30)")
      )
      .withColumn(
        outCol,
        expr(s"transform($embCol, x -> cast(floor(cast(x as double) * 127.0 / _scale_$outCol + 0.5) as bigint))")
      )
      .drop(s"_scale_$outCol")

  /** (vec_id, label, scale, qcode) with codes carried as bigint — the
    * frame every quantized query builds on. Codes are exact integers, so
    * downstream dots/norms are exact until the final cosine division.
    */
  def quantizedFrame(emb: DataFrame): DataFrame =
    emb
      .withColumn("scale", expr(scaleSpark))
      .withColumn("qcode", expr(codesSpark))
      .select(col("vec_id"), col("label"), col("scale"), col("qcode"))

  /** Storage-shape quantization: `array<tinyint>` codes + double scale —
    * the artifact a 100 TB pipeline would persist instead of float vectors
    * (72 bytes/vector vs 256 at dim 64). Dequantization error is bounded
    * by scale/254 per component (half a quantization step), pinned by
    * QuantizeSpec.
    */
  def quantizeEmbeddings(emb: DataFrame): DataFrame =
    quantizedFrame(emb)
      .withColumn("qcode", expr("transform(qcode, x -> cast(x as tinyint))"))

  /** Quantized-cosine top-k vs one query vector: integer dot and norms
    * over int8 codes (scales cancel — cosine is scale-invariant), one
    * double division at the end. Same TakeOrderedAndProject shape as the
    * exact brute-force top-k: the corpus never shuffles, only k rows per
    * partition reach the driver — but every scanned byte is int8, not
    * float32. Recall vs exact cosine is pinned by QuantizeSpec's error
    * bound (|cos_q - cos| <= 0.05 at dim 64).
    */
  def quantizedTopK(emb: DataFrame, queryVecId: Long, k: Int = 10): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val qf = quantizedFrame(emb)
    val q = qf
      .filter(col("vec_id") === queryVecId)
      .select(col("qcode").as("q_qcode"))
    qf
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        col("label"),
        // fused codegen integer loop ([[graft.functions.QuantizedCosine]]);
        // exact longs + one double division, so bit-identical to the
        // aggregate(zip_with(...)) HOF form the oracle SQL spells out
        round(expr("quantized_cosine(qcode, q_qcode)"), 6).as("cos_q")
      )
      .orderBy(col("cos_q").desc, col("vec_id"))
      .limit(k)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_sim_quantize",
      "int8 scalar quantization of embeddings (symmetric max-abs, floor(v+0.5) rounding): per-vector scale + code stats — the 3.6x storage/shuffle shrink for vector search",
      (s, dir) =>
        Tables
          .embeddings(s, dir)
          .withColumn("scale", expr(scaleSpark))
          .withColumn("qcode", expr(codesSpark))
          .select(
            col("vec_id"),
            round(col("scale"), 6).as("scale6"),
            expr("array_min(qcode)").cast("long").as("q_min"),
            expr("array_max(qcode)").cast("long").as("q_max"),
            expr(qdotSpark("qcode", "qcode")).cast("long").as("q_sumsq")
          )
          .orderBy(col("vec_id"))
          .limit(500),
      Some(s"""WITH sc AS (
              |  SELECT vec_id, embedding, $scaleDuck AS scale FROM embeddings),
              |qc AS (
              |  SELECT vec_id, scale, $codesDuck AS qcode FROM sc)
              |SELECT vec_id, round(scale, 6) AS scale6,
              |  cast(list_aggregate(qcode, 'min') as bigint) AS q_min,
              |  cast(list_aggregate(qcode, 'max') as bigint) AS q_max,
              |  cast(${qdotDuck("qcode", "qcode")} as bigint) AS q_sumsq
              |FROM qc ORDER BY vec_id LIMIT 500""".stripMargin)
    ),
    QueryDef(
      "q_sim_quantized_topk",
      "quantized-cosine brute-force top-10 vs a query vector: int8 integer dot/norms, one double division (scales cancel) — exact-cosine's plan shape at a quarter of the scan bytes",
      (s, dir) => quantizedTopK(Tables.embeddings(s, dir), queryVecId = 0, k = 10),
      Some(s"""WITH sc AS (
              |  SELECT vec_id, label, embedding, $scaleDuck AS scale FROM embeddings),
              |qc AS (
              |  SELECT vec_id, label, $codesDuck AS qcode FROM sc),
              |q AS (SELECT qcode AS q_qcode FROM qc WHERE vec_id = 0)
              |SELECT vec_id, label,
              |  round(${qdotDuck("qcode", "q_qcode")} /
              |    (sqrt(${qdotDuck("qcode", "qcode")}) * sqrt(${qdotDuck("q_qcode", "q_qcode")})), 6) AS cos_q
              |FROM qc CROSS JOIN q
              |WHERE vec_id <> 0
              |ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin)
    ),
    QueryDef(
      "q_sim_sq8_rerank",
      "two-stage ANN, the production quantized-search pattern: stage 1 scans int8 codes for a quantized top-20 (a quarter of the bytes), stage 2 re-ranks ONLY those 20 with exact float cosine and emits the top-5 — full-precision answers at quantized-scan cost",
      (s, dir) => {
        graft.functions.VectorFunctions.register(s)
        val emb  = Tables.embeddings(s, dir)
        val cand = quantizedTopK(emb, queryVecId = 0, k = 20).select("vec_id")
        val q    = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
        emb
          .join(broadcast(cand), "vec_id")
          .crossJoin(broadcast(q))
          .select(
            col("vec_id"),
            col("label"),
            round(expr("cosine_sim(embedding, q_emb)"), 6).as("cos_sim")
          )
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(5)
      },
      Some(s"""WITH sc AS (
              |  SELECT vec_id, label, embedding, $scaleDuck AS scale FROM embeddings),
              |qc AS (
              |  SELECT vec_id, label, embedding, $codesDuck AS qcode FROM sc),
              |q AS (SELECT qcode AS q_qcode, embedding AS q_emb FROM qc WHERE vec_id = 0),
              |cand AS (
              |  SELECT qc.vec_id, qc.label, qc.embedding, q.q_emb,
              |    ${qdotDuck("qcode", "q_qcode")} /
              |      (sqrt(${qdotDuck("qcode", "qcode")}) * sqrt(${qdotDuck("q_qcode", "q_qcode")})) AS cos_q
              |  FROM qc CROSS JOIN q
              |  WHERE vec_id <> 0
              |  ORDER BY cos_q DESC, vec_id LIMIT 20)
              |SELECT vec_id, label,
              |  round(${Similarity.cosDuck("embedding", "q_emb")}, 6) AS cos_sim
              |FROM cand
              |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin)
    ),
    QueryDef(
      "q_sim_rrf",
      "RECIPROCAL-RANK FUSION of two retrieval lists (Cormack et al. 2009 — the standard hybrid-search combiner): fuse the exact-cosine top-10 and the int8-quantized top-10 for the same query as rrf = sum over lists of 1/(60 + rank), computed in EXACT fixed-point picounits (1e12 div (60+rank) — integer division, the PageRank unit discipline; 1/61 is not a finite decimal, so a float sum could never hash-match) with absent-from-list contributing zero. Both input rankings are TakeOrdered 10-row frames; the ranking windows and the fusion join run on those bounded frames, never the corpus. Output: fused top-5 with each list's rank (0 = absent)",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        graft.functions.VectorFunctions.register(s)
        val emb = Tables.embeddings(s, dir)
        val q   = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
        val exact = emb
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), round(expr("cosine_sim(embedding, q_emb)"), 6).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
        val ra = exact.select(
          col("vec_id"),
          row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id"))).cast("long").as("rank_exact"))
        val rb = quantizedTopK(emb, queryVecId = 0, k = 10).select(
          col("vec_id"),
          row_number().over(Window.orderBy(col("cos_q").desc, col("vec_id"))).cast("long").as("rank_q"))
        ra.join(rb, Seq("vec_id"), "full_outer")
          .select(
            col("vec_id"),
            coalesce(col("rank_exact"), lit(0L)).as("rank_exact"),
            coalesce(col("rank_q"), lit(0L)).as("rank_q"))
          .withColumn(
            "rrf_units",
            when(col("rank_exact") > 0, expr("1000000000000 div (60 + rank_exact)")).otherwise(lit(0L)) +
              when(col("rank_q") > 0, expr("1000000000000 div (60 + rank_q)")).otherwise(lit(0L)))
          .orderBy(col("rrf_units").desc, col("vec_id"))
          .limit(5)
      },
      Some(s"""WITH sc AS (
              |  SELECT vec_id, embedding, $scaleDuck AS scale FROM embeddings),
              |qc AS (
              |  SELECT vec_id, embedding, $codesDuck AS qcode FROM sc),
              |qq AS (SELECT qcode AS q_qcode, embedding AS q_emb FROM qc WHERE vec_id = 0),
              |ea AS (
              |  SELECT vec_id, round(${Similarity.cosDuck("embedding", "q_emb")}, 6) AS cos_sim
              |  FROM qc CROSS JOIN qq WHERE vec_id <> 0
              |  ORDER BY cos_sim DESC, vec_id LIMIT 10),
              |ra AS (SELECT vec_id, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank_exact FROM ea),
              |eb AS (
              |  SELECT vec_id,
              |    round(${qdotDuck("qcode", "q_qcode")} /
              |      (sqrt(${qdotDuck("qcode", "qcode")}) * sqrt(${qdotDuck("q_qcode", "q_qcode")})), 6) AS cos_q
              |  FROM qc CROSS JOIN qq WHERE vec_id <> 0
              |  ORDER BY cos_q DESC, vec_id LIMIT 10),
              |rb AS (SELECT vec_id, row_number() OVER (ORDER BY cos_q DESC, vec_id) AS rank_q FROM eb),
              |f AS (
              |  SELECT coalesce(ra.vec_id, rb.vec_id) AS vec_id,
              |    cast(coalesce(ra.rank_exact, 0) as bigint) AS rank_exact,
              |    cast(coalesce(rb.rank_q, 0) as bigint) AS rank_q
              |  FROM ra FULL JOIN rb ON ra.vec_id = rb.vec_id)
              |SELECT vec_id, rank_exact, rank_q,
              |  cast(CASE WHEN rank_exact > 0 THEN 1000000000000 // (60 + rank_exact) ELSE 0 END
              |     + CASE WHEN rank_q > 0 THEN 1000000000000 // (60 + rank_q) ELSE 0 END as bigint) AS rrf_units
              |FROM f ORDER BY rrf_units DESC, vec_id LIMIT 5""".stripMargin)
    )
  )
}
