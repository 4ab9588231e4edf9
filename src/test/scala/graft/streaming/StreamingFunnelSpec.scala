package graft.streaming

import graft.{Tables, TestSpark}
import graft.pipelines.CorpusPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming funnel twin: census + ledger bit-identical to the batch
  * q_corpus_funnel / q_corpus_ledger bodies on the union of landed
  * documents, across folds, a restart, re-deliveries, and the foldEvery
  * cadence.
  */
class StreamingFunnelSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private lazy val emb = Tables.pin(Tables.embeddings(spark, TestSpark.sfDir))
  private lazy val a2  = {
    val (f, _) = graft.operators.IvfSimilarity.assignFrom(emb)
    Tables.pin(f)
  }

  /** Fixture docs plus planted rows: a junk doc (quality drop), an exact
    * dup pair, and a near-dup — one guaranteed drop per text stage.
    */
  private def corpus = {
    val base =
      "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill every single morning"
    Tables
      .documents(spark, TestSpark.sfDir)
      .select("doc_id", "text")
      .unionByName(Seq(
        (900001L, base),
        (900002L, base),
        (900003L, base + " quietly"),
        (900004L, "!!! ??? ### $$$ %%%")
      ).toDF("doc_id", "text"))
  }

  private def batchPair(docs: org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
    val (ledger, pins) = CorpusPipeline.funnelLedgerTracked(docs, emb, a2)
    val lp             = Tables.pin(ledger)
    val out = (rows(CorpusPipeline.censusFromLedger(docs, lp)), rows(lp))
    (pins :+ lp).foreach(Tables.unpin)
    out
  }

  test("streamed census + ledger == the batch funnel bodies on the union, across folds, restart, re-delivery") {
    val dir     = tempDir("streaming-funnel")
    val landing = s"$dir/landing"
    val store   = s"$dir/funnel"
    val all     = corpus
    val b1      = all.filter(col("doc_id") < 300 || col("doc_id") >= 900001L)
    val b2      = all.filter(col("doc_id") >= 300 && col("doc_id") < 900001L)
    // the third arrival re-delivers a slice of batch 1
    val b3 = all.filter(col("doc_id") % 7 === 0 && col("doc_id") < 300)

    b1.coalesce(1).write.mode("append").parquet(landing)
    val q1 = StreamingFunnel.ingest(
      spark, landing, store, s"$dir/ckpt", emb, a2, maxFilesPerTrigger = Some(1))
    try {
      q1.processAllAvailable()
      assert(StreamingFunnel.currentVersion(spark, store) === Some(1))
      val (c1, l1) = batchPair(b1)
      assert(rows(StreamingFunnel.census(spark, store)) === c1,
        "v=1 census equals the batch body on the first slice")
      assert(rows(StreamingFunnel.ledger(spark, store)) === l1)
      // the planted defects show up with their reasons
      val reasons = StreamingFunnel.ledger(spark, store).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
      assert(reasons(900002L) === (("3_dropped_exact", "dup_of:900001")))
      assert(reasons(900003L) === (("5_dropped_neardup", "near_dup_of:900001")))
      assert(reasons(900004L)._1 === "2_dropped_quality")
    } finally q1.stop() // simulated crash/redeploy between batches

    val q2 = StreamingFunnel.ingest(
      spark, landing, store, s"$dir/ckpt", emb, a2, maxFilesPerTrigger = Some(1))
    try {
      b2.coalesce(1).write.mode("append").parquet(landing)
      b3.coalesce(1).write.mode("append").parquet(landing)
      q2.processAllAvailable()
    } finally q2.stop()

    assert(StreamingFunnel.currentVersion(spark, store) === Some(3))
    val (cu, lu) = batchPair(all)
    assert(rows(StreamingFunnel.census(spark, store)) === cu,
      "post-restart census must equal the batch body on the distinct union")
    assert(rows(StreamingFunnel.ledger(spark, store)) === lu,
      "post-restart ledger must equal the batch body on the distinct union")

    // re-deliveries were dropped and counted; cumulative counters additive
    val om = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$store/stats/batch_id=2")), "UTF-8"))
    assert(om.get("dup_doc_ids").asLong === b3.count(), "re-delivered ids counted")
    assert(om.get("store_rows").asLong === all.count(), "each doc lands exactly once")
    assert(!new java.io.File(s"$store/funnel/v=1").exists, "retain-one reclaims v=1")
  }

  test("foldEvery cadence: per-batch landing and additive partials, derivation at every Nth batch") {
    val dir     = tempDir("streaming-funnel-cadence")
    val landing = s"$dir/landing"
    val store   = s"$dir/funnel"
    val all     = corpus
    val slices = Seq(
      all.filter(col("doc_id") < 200 || col("doc_id") >= 900001L),
      all.filter(col("doc_id") >= 200 && col("doc_id") < 400),
      all.filter(col("doc_id") >= 400 && col("doc_id") < 900001L))
    slices.take(3).foreach(_.coalesce(1).write.mode("append").parquet(landing))
    val q = StreamingFunnel.ingest(
      spark, landing, store, s"$dir/ckpt", emb, a2, maxFilesPerTrigger = Some(1), foldEvery = 3)
    try q.processAllAvailable()
    finally q.stop()
    // exactly one fold (at batch 2) over three landed batches; the
    // publish is the batch build over everything landed at fold time
    assert(StreamingFunnel.currentVersion(spark, store) === Some(1))
    val (cu, lu) = batchPair(all)
    assert(rows(StreamingFunnel.census(spark, store)) === cu)
    assert(rows(StreamingFunnel.ledger(spark, store)) === lu)
    def folded(b: Int): Boolean = {
      val j = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$store/stats/batch_id=$b")), "UTF-8")
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(j).get("folded").asBoolean
    }
    assert(!folded(0) && !folded(1) && folded(2), "fold flags follow the cadence")
    // row conservation on the published census
    val census = StreamingFunnel.census(spark, store).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(census("1_in") ===
      census.collect { case (k, n) if k != "1_in" => n }.sum,
      s"1_in = drops + out splits: $census")
  }
}
