package graft.streaming

import graft.TestSpark
import graft.operators.Graph
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming community twin: basket rows fold per micro-batch, the LPA
  * census + community-structure tables republish behind one atomic
  * version flip, and all three derived gate readouts (LPA census,
  * modularity, conductance) are BIT-IDENTICAL to the batch builds on the
  * union corpus — integer label loops and exact-rational readouts, so
  * equality is exact, with restart continuity.
  */
class StreamingCommunitySpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("streamed fold == batch census/modularity/conductance on the union baskets, retain window slides") {
    val dir     = tempDir("streaming-community")
    val landing = s"$dir/landing"
    val comm    = s"$dir/comm"
    val seeds   = Graph.mfgrSeeds(spark, TestSpark.sfDir)

    // real basket rows at the spec sf, split into two arrivals with an
    // OVERLAP: a basket row landing twice must stay ONE (o, p) fact, or
    // every overlapping pair's edge weight inflates and the threshold
    // admits phantom edges
    val all = Graph
      .orderParts(spark, TestSpark.sfDir)
      .orderBy(col("o"), col("p"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(all.length > 500, s"fixture sanity: ${all.length} basket rows")
    val cut = all.length / 2
    import spark.implicits._
    all.take(cut + 50).toSeq.toDF("o", "p").coalesce(1).write.mode("append").parquet(landing)
    val q = StreamingCommunity.ingest(spark, landing, comm, s"$dir/ckpt", seeds, maxFilesPerTrigger = Some(1))
    try {
      q.processAllAvailable()
      assert(StreamingCommunity.currentVersion(spark, comm) === Some(1))
      all.drop(cut).toSeq.toDF("o", "p").coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
      assert(StreamingCommunity.currentVersion(spark, comm) === Some(2))
      assert(new java.io.File(s"$comm/community/v=1").exists, "one prior snapshot is retained")
      // duplicate arrival: cross-batch distinct keeps the edge set exact,
      // versions advance, the retain window slides
      all.take(30).toSeq.toDF("o", "p").coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
    } finally q.stop()

    assert(StreamingCommunity.currentVersion(spark, comm) === Some(3))
    assert(!new java.io.File(s"$comm/community/v=1").exists,
      "snapshots beyond the retain window are reclaimed")
    assert(new java.io.File(s"$comm/community/v=2").exists, "the prior structure snapshot survives")
    assert(new java.io.File(s"$comm/lpa/v=2").exists, "the lpa snapshots share the retain window")

    // all three readouts equal the from-scratch batch builds on the FULL
    // basket set — fixed-round integer label loops + exact-rational
    // readouts, so equality is exact
    val unionBaskets = graft.Tables.pin(all.toSeq.toDF("o", "p"))
    val edges        = graft.Tables.pin(Graph.coPurchaseEdgesFrom(unionBaskets))
    assert(rows(StreamingCommunity.lpaCensus(spark, comm)) === rows(Graph.lpaCensus(edges)),
      "streamed LPA census must be bit-identical to the batch census on the union")
    val batchCs = graft.Tables.pin(Graph.communityStructureTracked(edges, seeds)._1)
    assert(rows(StreamingCommunity.structure(spark, comm)) === rows(batchCs),
      "streamed community structure must be bit-identical to the batch build")
    assert(rows(StreamingCommunity.modularity(spark, comm)) ===
      rows(Graph.modularityFromStructure(batchCs)),
      "streamed modularity must equal the batch q_graph_modularity readout")
    assert(rows(StreamingCommunity.conductance(spark, comm)) ===
      rows(Graph.conductanceFromStructure(batchCs)),
      "streamed conductance must equal the batch q_graph_conductance readout")
  }

  test("restart continuity: a new query instance resumes from the checkpoint and converges to the same tables") {
    val dir     = tempDir("streaming-community-restart")
    val landing = s"$dir/landing"
    val comm    = s"$dir/comm"
    val seeds   = Graph.mfgrSeeds(spark, TestSpark.sfDir)
    val all = Graph
      .orderParts(spark, TestSpark.sfDir)
      .orderBy(col("o"), col("p"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cut = all.length / 2
    import spark.implicits._
    def start() =
      StreamingCommunity.ingest(spark, landing, comm, s"$dir/ckpt", seeds, maxFilesPerTrigger = Some(1))

    all.take(cut).toSeq.toDF("o", "p").coalesce(1).write.mode("append").parquet(landing)
    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop() // simulated crash/redeploy between batches

    all.drop(cut).toSeq.toDF("o", "p").coalesce(1).write.mode("append").parquet(landing)
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()

    // the restarted instance continued the batch-id sequence (no replay of
    // batch 0, no gap) and the final readouts equal the batch builds
    val batchDirs = new java.io.File(s"$comm/baskets").listFiles().map(_.getName).toSet
    assert(batchDirs === Set("batch_id=0", "batch_id=1"), s"checkpoint continuity: $batchDirs")
    val edges = graft.Tables.pin(
      Graph.coPurchaseEdgesFrom(graft.Tables.pin(all.toSeq.toDF("o", "p"))))
    val batchCs = graft.Tables.pin(Graph.communityStructureTracked(edges, seeds)._1)
    assert(rows(StreamingCommunity.lpaCensus(spark, comm)) === rows(Graph.lpaCensus(edges)),
      "post-restart LPA census must equal the batch census on the union")
    assert(rows(StreamingCommunity.modularity(spark, comm)) ===
      rows(Graph.modularityFromStructure(batchCs)),
      "post-restart modularity must equal the batch readout")
    assert(rows(StreamingCommunity.conductance(spark, comm)) ===
      rows(Graph.conductanceFromStructure(batchCs)),
      "post-restart conductance must equal the batch readout")
  }
}
