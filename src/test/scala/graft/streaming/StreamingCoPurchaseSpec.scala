package graft.streaming

import graft.TestSpark
import graft.operators.Graph
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming weighted co-purchase twin: basket rows fold per micro-batch,
  * the weighted PageRank + SSSP tables republish behind one atomic version
  * flip, and both published tables are BIT-IDENTICAL to the batch builders
  * on the union corpus — the retrain-equals-batch-build discipline.
  */
class StreamingCoPurchaseSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  test("streamed fold == batch weighted builds on the union baskets, bit for bit, retain window slides") {
    val dir     = tempDir("streaming-copurchase")
    val landing = s"$dir/landing"
    val co      = s"$dir/co"

    // the real basket rows at sf0.001, split into two arrivals with an
    // OVERLAP: a basket row landing twice must stay ONE (o, p) fact, or
    // every overlapping pair's weight inflates
    val all = Graph
      .orderParts(spark, TestSpark.sfDir)
      .orderBy(col("o"), col("p"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(all.length > 500, s"fixture sanity: ${all.length} basket rows")
    val cut = all.length / 2
    import spark.implicits._
    all.take(cut + 50).toSeq.toDF("o", "p").coalesce(1).write.mode("append").parquet(landing)
    val q = StreamingCoPurchase.ingest(spark, landing, co, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try {
      q.processAllAvailable()
      assert(StreamingCoPurchase.currentVersion(spark, co) === Some(1))
      all.drop(cut).toSeq.toDF("o", "p").coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
      assert(StreamingCoPurchase.currentVersion(spark, co) === Some(2))
      assert(new java.io.File(s"$co/wpr/v=1").exists, "one prior snapshot is retained")
      // duplicate arrival: cross-batch distinct keeps weights exact,
      // versions advance, the retain window slides
      all.take(30).toSeq.toDF("o", "p").coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
    } finally q.stop()

    assert(StreamingCoPurchase.currentVersion(spark, co) === Some(3))
    assert(!new java.io.File(s"$co/wpr/v=1").exists, "snapshots beyond the retain window are reclaimed")
    assert(new java.io.File(s"$co/wpr/v=2").exists, "the immediately prior wpr snapshot survives")
    assert(new java.io.File(s"$co/sssp/v=2").exists, "the sssp snapshots share the retain window")

    // published tables equal the from-scratch batch builds on the FULL
    // basket set — integer fixed point / integer relaxation, so equality
    // is exact
    val unionBaskets = graft.Tables.pin(all.toSeq.toDF("o", "p"))
    val ew           = graft.Tables.pin(Graph.coPurchaseEdgesWeightedFrom(unionBaskets))
    val batchWpr =
      Graph.buildWeightedPagerankScores(ew).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamedWpr = StreamingCoPurchase
      .weightedScores(spark, co)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(streamedWpr === batchWpr, "streamed wpr must be bit-identical to the batch build")
    val batchDist = Graph.ssspFrom(ew).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamedDist = StreamingCoPurchase
      .distances(spark, co)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(streamedDist === batchDist, "streamed sssp must be bit-identical to the batch build")
  }

  test("restart continuity: a new query instance resumes from the checkpoint and converges to the same tables") {
    val dir     = tempDir("streaming-copurchase-restart")
    val landing = s"$dir/landing"
    val co      = s"$dir/co"
    val all = Graph
      .orderParts(spark, TestSpark.sfDir)
      .orderBy(col("o"), col("p"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cut = all.length / 2
    import spark.implicits._
    def start() = StreamingCoPurchase.ingest(spark, landing, co, s"$dir/ckpt", maxFilesPerTrigger = Some(1))

    all.take(cut).toSeq.toDF("o", "p").coalesce(1).write.mode("append").parquet(landing)
    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop() // simulated crash/redeploy between batches

    all.drop(cut).toSeq.toDF("o", "p").coalesce(1).write.mode("append").parquet(landing)
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()

    // the restarted instance continued the batch-id sequence (no replay of
    // batch 0, no gap) and both final tables equal the batch builds
    val batchDirs = new java.io.File(s"$co/baskets").listFiles().map(_.getName).toSet
    assert(batchDirs === Set("batch_id=0", "batch_id=1"), s"checkpoint continuity: $batchDirs")
    val ew = graft.Tables.pin(
      Graph.coPurchaseEdgesWeightedFrom(graft.Tables.pin(all.toSeq.toDF("o", "p"))))
    val streamedWpr = StreamingCoPurchase
      .weightedScores(spark, co).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchWpr =
      Graph.buildWeightedPagerankScores(ew).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedWpr === batchWpr, "post-restart wpr must equal the batch build on the union")
    val streamedDist = StreamingCoPurchase
      .distances(spark, co).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchDist = Graph.ssspFrom(ew).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedDist === batchDist, "post-restart sssp must equal the batch build on the union")
  }
}
