package graft.streaming

import graft.{QueryDef, SparkEntry, Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming MERGE twin: update rows fold per micro-batch with a
  * deterministic latest-wins rule, the merged dimension republishes behind
  * one atomic version flip, and the published table is BIT-IDENTICAL to
  * the batch MERGE (`q_merge_upsert`) on the union update set — the
  * retrain-equals-batch-build discipline applied to a dimension table.
  */
class StreamingUpsertSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  private def writeBase(dir: String): Unit =
    Tables
      .orders(spark, TestSpark.sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write
      .mode("overwrite")
      .parquet(dir)

  /** The batch query's update set: every 7th order flips to status 'X'. */
  private def updatesX = Tables
    .orders(spark, TestSpark.sfDir)
    .filter(pmod(col("o_orderkey"), lit(7)) === 0)
    .select(col("o_orderkey"), lit("X").as("o_orderstatus"), col("o_totalprice"))

  /** The q_merge_upsert census over an arbitrary dimension frame. */
  private def census(dim: org.apache.spark.sql.DataFrame) =
    dim
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        QueryDef.sumScaled(col("o_totalprice"), 2).as("sum_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key")
      )
      .orderBy(col("o_orderstatus"))
      .collect()
      .map(_.toString)
      .toSeq

  test("streamed dimension == the batch MERGE on the union updates; later batches supersede; retain window slides") {
    val dir     = tempDir("streaming-upsert")
    val landing = s"$dir/landing"
    val baseDir = s"$dir/base"
    val dimDir  = s"$dir/dim"
    writeBase(baseDir)

    val ups = updatesX.orderBy(col("o_orderkey")).collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(ups.length > 20, s"fixture sanity: ${ups.length} update rows")
    val cut = ups.length / 2
    import spark.implicits._
    // batch 1: the first half of the updates, but with a WRONG interim
    // status 'Y' for the first 10 keys — batch 2 re-updates those keys to
    // 'X', so latest-wins is observable (a fold that kept the first
    // arrival would leak 'Y' rows into the final dimension)
    val batch1 = ups.take(cut).zipWithIndex.map { case ((k, st, p), i) =>
      (k, if (i < 10) "Y" else st, p)
    }
    batch1.toSeq.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .coalesce(1).write.mode("append").parquet(landing)
    val q = StreamingUpsert.ingest(spark, landing, baseDir, dimDir, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try {
      q.processAllAvailable()
      assert(StreamingUpsert.currentVersion(spark, dimDir) === Some(1))
      // the interim 'Y' rows are live at v=1
      assert(StreamingUpsert.dimension(spark, dimDir).filter(col("o_orderstatus") === "Y").count() === 10)
      // batch 2: the second half PLUS the corrected first-10 keys
      (ups.drop(cut) ++ ups.take(10)).toSeq.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
        .coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
      assert(StreamingUpsert.currentVersion(spark, dimDir) === Some(2))
      assert(new java.io.File(s"$dimDir/dim/v=1").exists, "one prior snapshot is retained")
      // a third (duplicate) arrival: idempotent content, version advances,
      // the retain window slides
      ups.take(5).toSeq.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
        .coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
    } finally q.stop()

    assert(StreamingUpsert.currentVersion(spark, dimDir) === Some(3))
    assert(!new java.io.File(s"$dimDir/dim/v=1").exists, "snapshots beyond the retain window are reclaimed")
    assert(new java.io.File(s"$dimDir/dim/v=2").exists, "the immediately prior snapshot survives")

    val dim = StreamingUpsert.dimension(spark, dimDir)
    assert(dim.filter(col("o_orderstatus") === "Y").count() === 0,
      "later batches must supersede the interim 'Y' updates")
    // row identity: the streamed dimension equals the batch MERGE result
    val streamed = dim.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val batchMerge = Tables
      .orders(spark, TestSpark.sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .join(updatesX.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
      .unionByName(updatesX)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(streamed === batchMerge, "streamed dimension must be bit-identical to the batch MERGE")
    // census identity: the q_merge_upsert readout over the STREAMED
    // dimension equals the oracle-gated batch query's result row for row
    val batchQueryRows = SparkEntry
      .queries("q_merge_upsert")(spark, TestSpark.sfDir)
      .collect()
      .map(_.toString)
      .toSeq
    assert(census(dim) === batchQueryRows,
      "the streamed dimension's census must equal the batch q_merge_upsert result")
    // fold-input accounting: fold N reads O(|dim| + |batch N|) rows — the
    // published dimension plus THIS batch's winners — never base + every
    // update ever landed (the r16 quadratic-refold shape). stats are the
    // fold's own record, so the bound is observable, not re-derived here.
    val stats2 = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dimDir/stats/batch_id=2")),
      "UTF-8")
    val om      = new com.fasterxml.jackson.databind.ObjectMapper().readTree(stats2)
    val dimRows = spark.read.parquet(s"$dimDir/dim/v=2").count()
    assert(om.get("prior_rows").asLong === dimRows,
      "fold input: the prior side reads the published dimension only")
    assert(om.get("batch_rows").asLong === 5L,
      "fold input: the update side reads this batch's winners only")
    // the update audit store compacts as it folds (retain-one), instead of
    // growing for the stream's lifetime
    val upDirs = new java.io.File(s"$dimDir/updates").listFiles().map(_.getName).toSet
    assert(upDirs === Set("batch_id=1", "batch_id=2"), s"update store must compact: $upDirs")
  }

  test("restart continuity: a new query instance resumes from the checkpoint, no replay and no gap") {
    val dir     = tempDir("streaming-upsert-restart")
    val landing = s"$dir/landing"
    val baseDir = s"$dir/base"
    val dimDir  = s"$dir/dim"
    writeBase(baseDir)
    val ups = updatesX.orderBy(col("o_orderkey")).collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val cut = ups.length / 2
    import spark.implicits._
    def start() = StreamingUpsert.ingest(spark, landing, baseDir, dimDir, s"$dir/ckpt", maxFilesPerTrigger = Some(1))

    ups.take(cut).toSeq.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .coalesce(1).write.mode("append").parquet(landing)
    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop() // simulated crash/redeploy between batches

    ups.drop(cut).toSeq.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .coalesce(1).write.mode("append").parquet(landing)
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()

    val batchDirs = new java.io.File(s"$dimDir/updates").listFiles().map(_.getName).toSet
    assert(batchDirs === Set("batch_id=0", "batch_id=1"), s"checkpoint continuity: $batchDirs")
    val streamed = StreamingUpsert
      .dimension(spark, dimDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    val batchMerge = Tables
      .orders(spark, TestSpark.sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .join(updatesX.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
      .unionByName(updatesX)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(streamed === batchMerge, "post-restart dimension must equal the batch MERGE on the union")
  }

  test("generic schema: a (sku, qty, note) stream runs the same fold") {
    val dir     = tempDir("streaming-upsert-generic")
    val landing = s"$dir/landing"
    val baseDir = s"$dir/base"
    val dimDir  = s"$dir/dim"
    import spark.implicits._
    val ddl = "sku STRING, qty BIGINT, note STRING"
    Seq(("a", 1L, "base-a"), ("b", 2L, "base-b"), ("c", 3L, "base-c"))
      .toDF("sku", "qty", "note").coalesce(1).write.mode("overwrite").parquet(baseDir)
    // batch 1 updates a (with an in-batch re-delivery the struct-max must
    // collapse) and inserts d; batch 2 updates b
    Seq(("a", 10L, "v1"), ("a", 11L, "v2"), ("d", 4L, "new"))
      .toDF("sku", "qty", "note").coalesce(1).write.mode("append").parquet(landing)
    def start() = StreamingUpsert.ingest(spark, landing, baseDir, dimDir, s"$dir/ckpt",
      maxFilesPerTrigger = Some(1), schemaDdl = ddl, key = "sku", attrs = Seq("qty", "note"))
    val q = start()
    try {
      q.processAllAvailable()
      Seq(("b", 20L, "v3")).toDF("sku", "qty", "note").coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
    } finally q.stop()
    val got = StreamingUpsert.dimension(spark, dimDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got === Set(
      ("a", 11L, "v2"), ("b", 20L, "v3"), ("c", 3L, "base-c"), ("d", 4L, "new")),
      s"generic-schema MERGE must latest-wins per key over the base: $got")
  }
}
