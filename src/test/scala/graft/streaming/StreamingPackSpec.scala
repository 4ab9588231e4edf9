package graft.streaming

import graft.{Tables, TestSpark}
import graft.operators.{Bpe, PackSequences}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming packing twin: the per-lang packing census bit-identical to
  * the batch q_pack_sequences body (PackSequences.censusFrame under the
  * frozen trained merges) on the union of landed documents, across
  * folds, a restart, re-deliveries, and the foldEvery cadence — incl.
  * the non-additivity case the re-derive argument rests on (an arrival
  * shifts every later start position in its lang stream).
  */
class StreamingPackSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private lazy val merges = Tables.pin(Bpe.trainedMerges(spark, TestSpark.sfDir))

  /** Fixture docs plus planted rows: a doc that lands MID-STREAM in its
    * lang's doc_id order (id 150000 sorts between fixture ids), so the
    * second batch provably shifts chunk boundaries for docs landed in
    * the first.
    */
  private def corpus = Tables
    .documents(spark, TestSpark.sfDir)
    .select("doc_id", "lang", "text")
    .unionByName(Seq(
      (900001L, "en", "the quick brown fox jumps over the lazy dog"),
      (900002L, "de", "ein kleiner text")
    ).toDF("doc_id", "lang", "text"))

  private def batchCensus(docs: org.apache.spark.sql.DataFrame): Seq[String] =
    rows(PackSequences.censusFrame(docs, merges))

  test("streamed census == the batch packing body on the union, across folds, restart, re-delivery") {
    val dir     = tempDir("streaming-pack")
    val landing = s"$dir/landing"
    val store   = s"$dir/pack"
    val all     = corpus
    // batch 2's slice interleaves INSIDE batch 1's doc_id range per
    // lang: the fold must move already-landed docs' start positions
    val b1 = all.filter(col("doc_id") % 2 === 0 || col("doc_id") >= 900001L)
    val b2 = all.filter(col("doc_id") % 2 === 1 && col("doc_id") < 900001L)
    // the third arrival re-delivers a slice of batch 1
    val b3 = all.filter(col("doc_id") % 6 === 0)

    b1.coalesce(1).write.mode("append").parquet(landing)
    val q1 = StreamingPack.ingest(
      spark, landing, store, s"$dir/ckpt", merges, maxFilesPerTrigger = Some(1))
    try {
      q1.processAllAvailable()
      assert(StreamingPack.currentVersion(spark, store) === Some(1))
      assert(rows(StreamingPack.census(spark, store)) === batchCensus(b1),
        "v=1 census equals the batch body on the first slice")
    } finally q1.stop() // simulated crash/redeploy between batches

    val q2 = StreamingPack.ingest(
      spark, landing, store, s"$dir/ckpt", merges, maxFilesPerTrigger = Some(1))
    try {
      b2.coalesce(1).write.mode("append").parquet(landing)
      b3.coalesce(1).write.mode("append").parquet(landing)
      q2.processAllAvailable()
    } finally q2.stop()

    assert(StreamingPack.currentVersion(spark, store) === Some(3))
    assert(rows(StreamingPack.census(spark, store)) === batchCensus(all),
      "post-restart census must equal the batch body on the distinct union")

    // re-deliveries were dropped and counted; cumulative counters additive
    val om = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$store/stats/batch_id=2")), "UTF-8"))
    assert(om.get("dup_doc_ids").asLong === b3.count(), "re-delivered ids counted")
    assert(om.get("store_rows").asLong === all.count(), "each doc lands exactly once")
    assert(!new java.io.File(s"$store/census/v=1").exists, "retain-one reclaims v=1")
  }

  test("foldEvery cadence: per-batch landing, derivation at every Nth batch") {
    val dir     = tempDir("streaming-pack-cadence")
    val landing = s"$dir/landing"
    val store   = s"$dir/pack"
    val all     = corpus
    val slices = Seq(
      all.filter(col("doc_id") % 3 === 0),
      all.filter(col("doc_id") % 3 === 1),
      all.filter(col("doc_id") % 3 === 2))
    slices.foreach(_.coalesce(1).write.mode("append").parquet(landing))
    val q = StreamingPack.ingest(
      spark, landing, store, s"$dir/ckpt", merges, maxFilesPerTrigger = Some(1), foldEvery = 3)
    try q.processAllAvailable()
    finally q.stop()
    // exactly one fold (at batch 2) over three landed batches; the
    // publish is the batch build over everything landed at fold time
    assert(StreamingPack.currentVersion(spark, store) === Some(1))
    assert(rows(StreamingPack.census(spark, store)) === batchCensus(all))
    def folded(b: Int): Boolean = {
      val j = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$store/stats/batch_id=$b")), "UTF-8")
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(j).get("folded").asBoolean
    }
    assert(!folded(0) && !folded(1) && folded(2), "fold flags follow the cadence")
  }
}
