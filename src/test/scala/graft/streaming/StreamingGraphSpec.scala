package graft.streaming

import graft.TestSpark
import graft.operators.Graph
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming PageRank: edges fold per micro-batch into the durable store,
  * the score table republishes behind an atomic version flip, and the
  * published scores are BIT-IDENTICAL to the batch build on the union
  * corpus — the retrain-equals-batch-build discipline the IVF twin pins.
  */
class StreamingGraphSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  test("streamed fold == batch build on the union corpus, bit for bit, with idempotent batch dirs") {
    val dir     = tempDir("streaming-graph")
    val landing = s"$dir/landing"
    val graph   = s"$dir/graph"

    // the real purchase graph at sf0.001, split into two arrivals with an
    // OVERLAP: the shared pairs must still count as one edge each
    // (cross-batch distinct)
    val all = Graph
      .purchasePairs(spark, TestSpark.sfDir)
      .orderBy(col("c"), col("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(all.length > 100, s"fixture sanity: ${all.length} pairs")
    val cut = all.length / 2
    import spark.implicits._
    all.take(cut + 20).toSeq.toDF("c", "s").coalesce(1).write.mode("append").parquet(landing)
    val q = StreamingGraph.ingest(spark, landing, graph, s"$dir/ckpt", maxFilesPerTrigger = Some(1),
      trustSeeds = Some(s => Graph.trustSeeds(s, TestSpark.sfDir)))
    try {
      q.processAllAvailable()
      // first fold published v=1 over batch-1 edges only
      assert(StreamingGraph.currentVersion(spark, graph) === Some(1))
      val partial = StreamingGraph.scores(spark, graph)
      assert(partial.count() < all.flatMap(p => Seq(p._1 * 2, p._2 * 2 + 1)).distinct.length,
        "v=1 covers only batch-1 nodes")
      all.drop(cut).toSeq.toDF("c", "s").coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
      // v=2 live; v=1 RETAINED for in-flight readers that resolved the
      // pointer just before the flip (retain-one-prior rule)
      assert(StreamingGraph.currentVersion(spark, graph) === Some(2))
      assert(new java.io.File(s"$graph/scores/v=1").exists, "one prior snapshot is retained")
      // a third (duplicate) arrival: the cross-batch distinct makes the
      // fold idempotent on edges, versions still advance, and the retain
      // window slides — v=1 is reclaimed once v=3 publishes
      all.take(20).toSeq.toDF("c", "s").coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
    } finally q.stop()

    assert(StreamingGraph.currentVersion(spark, graph) === Some(3))
    assert(!new java.io.File(s"$graph/scores/v=1").exists, "snapshots beyond the retain window are reclaimed")
    assert(new java.io.File(s"$graph/scores/v=2").exists, "the immediately prior snapshot survives")
    val batchDirs = new java.io.File(s"$graph/edges").listFiles().map(_.getName).toSet
    assert(batchDirs === Set("batch_id=0", "batch_id=1", "batch_id=2"),
      s"one edge dir per micro-batch: $batchDirs")

    // the published table equals the from-scratch batch build on the FULL
    // pair set — same fixed-point integer loop, so equality is exact
    val streamed = StreamingGraph
      .scores(spark, graph)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val batch = Graph
      .buildPagerankScores(graft.Tables.pin(all.toSeq.toDF("c", "s")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(streamed === batch, "streamed scores must be bit-identical to the batch build")

    // the TrustRank table rides the same fold and the same version flip:
    // bit-identical to the frame-generic batch build on the union corpus
    // with the same whitelist
    val streamedTrust = StreamingGraph
      .trust(spark, graph)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val batchTrust = Graph
      .buildTrustrankScoresTracked(
        graft.Tables.pin(all.toSeq.toDF("c", "s")),
        Graph.trustSeeds(spark, TestSpark.sfDir)
      )._1
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(streamedTrust === batchTrust, "streamed trust table must be bit-identical to the batch build")
    assert(!new java.io.File(s"$graph/trust/v=1").exists, "trust snapshots share the retain window")
    assert(new java.io.File(s"$graph/trust/v=2").exists, "the prior trust snapshot survives the flip")
  }

  test("trust() on a SEEDLESS stream fails with a clear not-configured error, not a parquet path error") {
    val dir     = tempDir("streaming-graph-seedless")
    val landing = s"$dir/landing"
    val graph   = s"$dir/graph"
    val all = Graph
      .purchasePairs(spark, TestSpark.sfDir)
      .limit(50)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    import spark.implicits._
    all.toSeq.toDF("c", "s").coalesce(1).write.mode("append").parquet(landing)
    val q = StreamingGraph.ingest(spark, landing, graph, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try q.processAllAvailable()
    finally q.stop()
    // the pointer exists (PageRank published) but trust/v=1 does not: the
    // reader must say the stream was started without a seed whitelist
    assert(StreamingGraph.scores(spark, graph).count() > 0)
    val ex = intercept[IllegalStateException](StreamingGraph.trust(spark, graph))
    assert(ex.getMessage.contains("without trustSeeds"), ex.getMessage)
  }

  test("restart continuity: a new query instance resumes from the checkpoint and converges to the same table") {
    val dir     = tempDir("streaming-graph-restart")
    val landing = s"$dir/landing"
    val graph   = s"$dir/graph"
    val all = Graph
      .purchasePairs(spark, TestSpark.sfDir)
      .orderBy(col("c"), col("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cut = all.length / 2
    import spark.implicits._
    def start() = StreamingGraph.ingest(spark, landing, graph, s"$dir/ckpt", maxFilesPerTrigger = Some(1))

    all.take(cut).toSeq.toDF("c", "s").coalesce(1).write.mode("append").parquet(landing)
    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop() // simulated crash/redeploy between batches

    all.drop(cut).toSeq.toDF("c", "s").coalesce(1).write.mode("append").parquet(landing)
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()

    // the restarted instance continued the batch-id sequence (no replay of
    // batch 0, no gap) and the final table equals the batch build
    val batchDirs = new java.io.File(s"$graph/edges").listFiles().map(_.getName).toSet
    assert(batchDirs === Set("batch_id=0", "batch_id=1"), s"checkpoint continuity: $batchDirs")
    val streamed = StreamingGraph.scores(spark, graph).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Graph
      .buildPagerankScores(graft.Tables.pin(all.toSeq.toDF("c", "s")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(streamed === batch, "post-restart scores must equal the batch build on the union")
  }
}
