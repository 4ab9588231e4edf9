package graft.streaming

import graft.TestSpark
import graft.operators.IvfSimilarity
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Streaming SemDeDup twin: per-fold re-derived 2-Lloyd assignments over
  * the accumulated store, published census + drop set bit-identical to
  * the batch q_dedup_semantic_cc bodies on the union, restart
  * continuity, enforced exactly-once landing.
  */
class StreamingSemDedupSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def batchPair(union: org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
    val u            = graft.Tables.pin(union)
    val (a2, a2Pins) = IvfSimilarity.assignFrom(u)
    val a2p          = graft.Tables.pin(a2)
    val out = (
      rows(IvfSimilarity.semanticCcStats(u, a2p, threshold = 0.2)),
      rows(IvfSimilarity.semanticDropIds(u, a2p, threshold = 0.2)))
    (a2Pins ++ Seq(a2p, u)).foreach(graft.Tables.unpin)
    out
  }

  test("streamed census + drop set == batch semanticCcStats/DropIds on the union, across folds, restart, re-delivery") {
    val dir     = tempDir("streaming-semdedup")
    val landing = s"$dir/landing"
    val store   = s"$dir/sem"
    val emb = graft.Tables
      .embeddings(spark, TestSpark.sfDir)
      .select("vec_id", "embedding", "label")
    // first batch must carry the seed ids 0..K-1 (the deterministic
    // first-K init's training-set-as-ids convention)
    val b1 = emb.filter(col("vec_id") < 200)
    val b2 = emb.filter(col("vec_id") >= 200 && col("vec_id") < 350)
    // the third arrival re-delivers some of batch 1 alongside new rows
    val b3 = emb.filter(col("vec_id") >= 350).unionByName(b1.filter(col("vec_id") % 5 === 0))

    b1.coalesce(1).write.mode("append").parquet(landing)
    val q1 = StreamingSemDedup.ingest(spark, landing, store, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try {
      q1.processAllAvailable()
      assert(StreamingSemDedup.currentVersion(spark, store) === Some(1))
      val (c1, d1) = batchPair(b1)
      assert(rows(StreamingSemDedup.census(spark, store)) === c1,
        "v=1 census equals the batch body on the first slice")
      assert(rows(StreamingSemDedup.dropped(spark, store)) === d1)
      b2.coalesce(1).write.mode("append").parquet(landing)
      q1.processAllAvailable()
    } finally q1.stop() // simulated crash/redeploy between batches

    val q2 = StreamingSemDedup.ingest(spark, landing, store, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try {
      b3.coalesce(1).write.mode("append").parquet(landing)
      q2.processAllAvailable()
    } finally q2.stop()

    assert(StreamingSemDedup.currentVersion(spark, store) === Some(3))
    val (cu, du) = batchPair(emb)
    assert(rows(StreamingSemDedup.census(spark, store)) === cu,
      "post-restart census must equal the batch body on the distinct union")
    assert(rows(StreamingSemDedup.dropped(spark, store)) === du,
      "post-restart drop set must equal the batch body on the distinct union")

    // re-deliveries were dropped and counted; the retain window slid
    val s3 = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$store/stats/batch_id=2")), "UTF-8")
    val om = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s3)
    assert(om.get("dup_vec_ids").asLong === b1.filter(col("vec_id") % 5 === 0).count(),
      s"re-delivered ids counted: $s3")
    assert(om.get("store_rows").asLong === emb.count(), "each vec lands exactly once")
    assert(!new java.io.File(s"$store/census/v=1").exists, "retain-one reclaims v=1")
    assert(new java.io.File(s"$store/census/v=2").exists, "the prior census survives")
  }

  test("foldEvery cadence: landing is per-batch, the derivation flips only at every Nth batch") {
    val dir     = tempDir("streaming-semdedup-cadence")
    val landing = s"$dir/landing"
    val store   = s"$dir/sem"
    val emb = graft.Tables
      .embeddings(spark, TestSpark.sfDir)
      .select("vec_id", "embedding", "label")
    val b1 = emb.filter(col("vec_id") < 200)
    val b2 = emb.filter(col("vec_id") >= 200 && col("vec_id") < 300)
    val b3 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val b4 = emb.filter(col("vec_id") >= 400)

    // three single-file batches at foldEvery=2: folds fire at batch 1
    // only — the published tables are the batch build over batches 0..1
    // (exact but stale), while ALL three batches are landed
    Seq(b1, b2, b3).foreach(_.coalesce(1).write.mode("append").parquet(landing))
    val q = StreamingSemDedup.ingest(
      spark, landing, store, s"$dir/ckpt", maxFilesPerTrigger = Some(1), foldEvery = 2)
    try {
      q.processAllAvailable()
      assert(StreamingSemDedup.currentVersion(spark, store) === Some(1),
        "exactly one fold across batches 0..2 at foldEvery=2")
      val (c12, d12) = batchPair(b1.unionByName(b2))
      assert(rows(StreamingSemDedup.census(spark, store)) === c12,
        "the published census is the batch build over every batch landed at fold time")
      assert(rows(StreamingSemDedup.dropped(spark, store)) === d12)
      val landed = spark.read
        .option("basePath", s"$store/vecs").parquet(s"$store/vecs")
        .select("vec_id").distinct().count()
      assert(landed === b1.count() + b2.count() + b3.count(),
        "landing never waits for the fold cadence")
      // batch 3 completes the second fold group: the publish catches up
      // to the full union
      b4.coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
    } finally q.stop()
    assert(StreamingSemDedup.currentVersion(spark, store) === Some(2))
    val (cu, du) = batchPair(emb)
    assert(rows(StreamingSemDedup.census(spark, store)) === cu,
      "the batch-3 fold publishes the batch build over all four landed batches")
    assert(rows(StreamingSemDedup.dropped(spark, store)) === du)
    // the stats trail records which batches folded
    def folded(b: Int): Boolean = {
      val j = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$store/stats/batch_id=$b")), "UTF-8")
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(j).get("folded").asBoolean
    }
    assert(!folded(0) && folded(1) && !folded(2) && folded(3), "fold flags follow the cadence")
  }
}
