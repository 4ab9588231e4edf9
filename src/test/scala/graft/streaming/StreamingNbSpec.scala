package graft.streaming

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Streaming NB retrain: the per-batch additive frequency fold publishes
  * a model bit-identical to the batch trainer on the union of landed
  * labeled docs, across folds and a restart.
  */
class StreamingNbSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("streamed model == batch trainer on the union, across folds and a restart") {
    val dir     = tempDir("streaming-nb")
    val landing = s"$dir/landing"
    val nb      = s"$dir/nb"
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables
      .documents(spark, TestSpark.sfDir)
      .select("doc_id", "text", "lang")
    def slice(r: Long) = docs.filter(col("doc_id") % 3 === r)
    def batchModel(union: org.apache.spark.sql.DataFrame) = {
      val (scores, defaults, priors) = graft.operators.NaiveBayes.modelWeighted(
        union.select(col("lang"), col("text").as("s"),
          org.apache.spark.sql.functions.lit(1L).as("w")))
      (rows(scores), rows(priors.join(defaults, "lang")
        .select(col("lang"), col("ndc"), col("prior_s"), col("dflt"))))
    }

    slice(0).coalesce(1).write.mode("append").parquet(landing)
    val q1 = StreamingNb.ingest(spark, landing, nb, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try {
      q1.processAllAvailable()
      assert(StreamingNb.currentVersion(spark, nb) === Some(1))
      val (s1, c1) = batchModel(slice(0))
      assert(rows(StreamingNb.model(spark, nb)) === s1, "v=1 parameters equal the batch build on slice 0")
      assert(rows(StreamingNb.classes(spark, nb)) === c1, "v=1 class rows equal the batch build on slice 0")
      slice(1).coalesce(1).write.mode("append").parquet(landing)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(StreamingNb.currentVersion(spark, nb) === Some(2))

    // restart; third slice folds on top
    slice(2).coalesce(1).write.mode("append").parquet(landing)
    val q2 = StreamingNb.ingest(spark, landing, nb, s"$dir/ckpt", maxFilesPerTrigger = Some(1))
    try q2.processAllAvailable()
    finally q2.stop()
    assert(StreamingNb.currentVersion(spark, nb) === Some(3))
    val (sAll, cAll) = batchModel(docs)
    assert(rows(StreamingNb.model(spark, nb)) === sAll,
      "post-restart parameters must equal the batch trainer on the full union")
    assert(rows(StreamingNb.classes(spark, nb)) === cAll,
      "post-restart class rows must equal the batch trainer on the full union")
  }
}
