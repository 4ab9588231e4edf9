package graft.streaming

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Streaming DBSCAN: the per-batch blocked pair fold republishes a census
  * bit-identical to the batch `q_embed_dbscan` on the union of landed
  * vectors, across folds and a restart, with per-fold accounting.
  */
class StreamingDbscanSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  private def censusRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def batchCensus(union: org.apache.spark.sql.DataFrame): Seq[String] =
    censusRows(
      graft.operators.Similarity.dbscanFromPairs(
        graft.operators.Similarity.embedNearDupPairs(union, threshold = 0.0),
        union))

  test("streamed census == batch q_embed_dbscan on the union, across folds and a restart") {
    val dir     = tempDir("streaming-dbscan")
    val landing = s"$dir/landing"
    val store   = s"$dir/dbscan"
    val emb = graft.Tables
      .embeddings(spark, TestSpark.sfDir)
      .select("vec_id", "embedding", "label")
    val n = emb.count()
    import org.apache.spark.sql.functions.col
    val b1 = emb.filter(col("vec_id") % 3 === 0)
    val b2 = emb.filter(col("vec_id") % 3 === 1)
    val b3 = emb.filter(col("vec_id") % 3 === 2)

    b1.coalesce(1).write.mode("append").parquet(landing)
    val q1 = StreamingDbscan.ingest(spark, landing, store, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try {
      q1.processAllAvailable()
      assert(StreamingDbscan.currentVersion(spark, store) === Some(1))
      assert(censusRows(StreamingDbscan.census(spark, store)) === batchCensus(b1),
        "v=1 equals the batch census on the first slice")
      b2.coalesce(1).write.mode("append").parquet(landing)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(StreamingDbscan.currentVersion(spark, store) === Some(2))
    assert(censusRows(StreamingDbscan.census(spark, store)) === batchCensus(b1.unionByName(b2)),
      "v=2 equals the batch census on slices 1+2")

    // restart from the same checkpoint; the third slice folds on top
    b3.coalesce(1).write.mode("append").parquet(landing)
    val q2 = StreamingDbscan.ingest(spark, landing, store, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try q2.processAllAvailable()
    finally q2.stop()
    assert(StreamingDbscan.currentVersion(spark, store) === Some(3))
    assert(censusRows(StreamingDbscan.census(spark, store)) === batchCensus(emb),
      "post-restart census must equal the batch census on the full union")

    // the fold's cost accounting is observable: every batch recorded, the
    // store monotone, and pair dirs exist per batch (the new-pairs-only
    // rule — old x old is never re-scored)
    (0 to 2).foreach { b =>
      assert(new java.io.File(s"$store/stats/batch_id=$b").exists, s"stats for batch $b")
      assert(new java.io.File(s"$store/pairs/batch_id=$b").exists, s"pair dir for batch $b")
    }
    val s2 = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$store/stats/batch_id=2")), "UTF-8")
    val om = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s2)
    assert(om.get("store_rows").asLong === n, "the vec store holds exactly the landed union")
    // the incremental-degree fold's read shape is observable: degree rows
    // are vec-shaped (bounded by the universe), the CC pass reads only
    // core-incident pairs, and per-batch degree-delta dirs exist
    assert(om.get("degree_rows").asLong <= n, "degrees are vec-shaped, never pair-shaped")
    assert(om.get("degree_rows").asLong > 0L)
    assert(om.get("cc_pairs_read").asLong >= 0L)
    assert(om.get("dup_vec_ids").asLong === 0L, "no re-deliveries in this scenario")
    (0 to 2).foreach { b =>
      assert(new java.io.File(s"$store/deg/batch_id=$b").exists, s"degree delta for batch $b")
    }
  }

  test("re-delivered vec_ids across batches are dropped, counted, and leave the census exact") {
    val dir     = tempDir("streaming-dbscan-redeliver")
    val landing = s"$dir/landing"
    val store   = s"$dir/dbscan"
    val emb = graft.Tables
      .embeddings(spark, TestSpark.sfDir)
      .select("vec_id", "embedding", "label")
    import org.apache.spark.sql.functions.col
    val b1 = emb.filter(col("vec_id") % 2 === 0)
    // batch 2 re-delivers HALF of batch 1 alongside its genuinely new rows
    val b2 = emb.filter(col("vec_id") % 2 === 1).unionByName(b1.filter(col("vec_id") % 4 === 0))

    b1.coalesce(1).write.mode("append").parquet(landing)
    val q = StreamingDbscan.ingest(spark, landing, store, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try {
      q.processAllAvailable()
      b2.coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
    } finally q.stop()

    // the census equals the batch gate on the DISTINCT union — the
    // re-deliveries neither inflate degrees nor the noise universe
    assert(censusRows(StreamingDbscan.census(spark, store)) === batchCensus(emb),
      "re-delivered ids must not perturb the census")
    val s1 = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$store/stats/batch_id=1")), "UTF-8")
    val om = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s1)
    assert(om.get("dup_vec_ids").asLong === b1.filter(col("vec_id") % 4 === 0).count(),
      s"every re-delivered id is counted: $s1")
    assert(om.get("store_rows").asLong === emb.count(), "the store holds each vec exactly once")
  }
}
