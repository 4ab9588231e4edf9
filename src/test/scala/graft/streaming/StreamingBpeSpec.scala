package graft.streaming

import graft.TestSpark
import graft.operators.Bpe
import org.scalatest.funsuite.AnyFunSuite

/** Streaming BPE retraining: per-batch additive frequency partials, merge
  * table retrained and republished behind an atomic version flip, and the
  * published table BIT-IDENTICAL to the batch trainer on the union corpus
  * — the retrain-equals-batch discipline of the IVF and PageRank twins,
  * applied to the tokenizer artifact.
  */
class StreamingBpeSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  test("streamed retrain == batch trainer on the union corpus, bit for bit, snapshots versioned") {
    val dir     = tempDir("streaming-bpe")
    val landing = s"$dir/landing"
    val bpe     = s"$dir/bpe"
    import spark.implicits._
    val docs = graft.Tables
      .documents(spark, TestSpark.sfDir)
      .select("doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val cut = docs.length / 2

    docs.take(cut).toSeq.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(landing)
    val q = StreamingBpe.ingest(spark, landing, bpe, s"$dir/ckpt", rounds = 4, maxFilesPerTrigger = Some(1))
    try {
      q.processAllAvailable()
      assert(StreamingBpe.currentVersion(spark, bpe) === Some(1))
      // v=1 trains on batch 1 only — equal to the batch trainer over the
      // same prefix (sanity that the fold really retrains per batch)
      val partial = StreamingBpe.merges(spark, bpe).collect().map(_.toString).sorted
      val partialBatch = Bpe
        .trainMerges(docs.take(cut).toSeq.toDF("doc_id", "text"), rounds = 4)
        .collect().map(_.toString).sorted
      assert(partial === partialBatch, "v=1 equals the batch trainer on batch-1 docs")

      docs.drop(cut).toSeq.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
    } finally q.stop()

    assert(StreamingBpe.currentVersion(spark, bpe) === Some(2))
    // retain-one-prior: v=1 survives the v=2 flip for in-flight readers
    // (reclaimed only when v=3 publishes)
    assert(new java.io.File(s"$bpe/merges/v=1").exists, "one prior merge snapshot is retained")
    assert(new java.io.File(s"$bpe/wordpiece/v=1").exists, "the wordpiece snapshots share the retain window")
    val streamed = StreamingBpe.merges(spark, bpe).collect().map(_.toString).sorted
    val batch = Bpe
      .trainMerges(docs.toSeq.toDF("doc_id", "text"), rounds = 4)
      .collect().map(_.toString).sorted
    assert(streamed === batch, "retrained merge table must equal the batch build on the union corpus")
    // BOTH tokenizers retrain from the one frequency store behind the one
    // pointer: the WordPiece table equals ITS batch trainer on the union
    val streamedWp = StreamingBpe.wordpieceMerges(spark, bpe).collect().map(_.toString).sorted
    val batchWp = graft.operators.WordPiece
      .trainWordPiece(docs.toSeq.toDF("doc_id", "text"), rounds = 4)
      .collect().map(_.toString).sorted
    assert(streamedWp === batchWp,
      "retrained wordpiece table must equal the batch build on the union corpus")
    // ...and the TextRank keyword prior retrains from the same store too
    assert(new java.io.File(s"$bpe/textrank/v=1").exists, "textrank snapshots share the retain window")
    val streamedTr = StreamingBpe.textrank(spark, bpe).collect().map(_.toString).sorted
    val (batchTrF, batchTrPins) = graft.operators.TextAnalysis
      .buildTextrankTracked(docs.toSeq.toDF("doc_id", "text"))
    val batchTr = batchTrF.collect().map(_.toString).sorted
    batchTrPins.foreach(graft.Tables.unpin)
    assert(streamedTr === batchTr,
      "retrained textrank prior must equal the batch build on the union corpus")
    // ...and the THIRD tokenizer family (Unigram-LM hard-EM) from the
    // same store behind the same pointer
    assert(new java.io.File(s"$bpe/unigram/v=1").exists, "unigram snapshots share the retain window")
    val streamedUg = StreamingBpe.unigramVocab(spark, bpe).collect().map(_.toString).sorted
    val batchUg = graft.operators.Unigram
      .trainUnigram(docs.toSeq.toDF("doc_id", "text"))
      .collect().map(_.toString).sorted
    assert(streamedUg === batchUg,
      "retrained unigram vocab must equal the batch build on the union corpus")
    // ...and the duplication spectrum folds from the same store — the
    // streamed 4 rows equal the batch q_text_dup_spectrum on the union
    val streamedSp = StreamingBpe.dupSpectrum(spark, bpe).collect().map(_.toString).sorted
    val tmpUnion   = tempDir("dupspec-union")
    docs.toSeq.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .write.mode("overwrite").parquet(s"$tmpUnion/documents.parquet")
    val batchSp = graft.operators.TextAnalysis.dupSpectrumDef
      .build(spark, tmpUnion)
      .collect().map(_.toString).sorted
    assert(streamedSp === batchSp,
      "streamed duplication spectrum must equal the batch query on the union corpus")
  }

  test("restart continuity: a re-started stream resumes the version chain and stays batch-identical") {
    val dir     = tempDir("streaming-bpe-restart")
    val landing = s"$dir/landing"
    val bpe     = s"$dir/bpe"
    import spark.implicits._
    val docs = graft.Tables
      .documents(spark, TestSpark.sfDir)
      .select("doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
      .take(120)
    val (b1, rest) = docs.splitAt(40)
    val (b2, b3)   = rest.splitAt(40)

    b1.toSeq.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(landing)
    val q1 = StreamingBpe.ingest(spark, landing, bpe, s"$dir/ckpt", rounds = 3, maxFilesPerTrigger = Some(1))
    try {
      q1.processAllAvailable()
      b2.toSeq.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(landing)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(StreamingBpe.currentVersion(spark, bpe) === Some(2))

    // restart from the same checkpoint: the third batch must fold WITHOUT
    // re-processing the first two (idempotent batch_id partials), and the
    // republished artifacts must equal the batch builds on the full union
    b3.toSeq.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(landing)
    val q2 = StreamingBpe.ingest(spark, landing, bpe, s"$dir/ckpt", rounds = 3, maxFilesPerTrigger = Some(1))
    try q2.processAllAvailable()
    finally q2.stop()
    assert(StreamingBpe.currentVersion(spark, bpe) === Some(3))

    val union = docs.toSeq.toDF("doc_id", "text")
    assert(
      StreamingBpe.merges(spark, bpe).collect().map(_.toString).sorted ===
        graft.operators.Bpe.trainMerges(union, rounds = 3).collect().map(_.toString).sorted,
      "post-restart merge table equals the batch build on the union")
    assert(
      StreamingBpe.unigramVocab(spark, bpe).collect().map(_.toString).sorted ===
        graft.operators.Unigram.trainUnigram(union).collect().map(_.toString).sorted,
      "post-restart unigram vocab equals the batch build on the union")
    val tmpUnion = tempDir("dupspec-union-restart")
    union
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .write.mode("overwrite").parquet(s"$tmpUnion/documents.parquet")
    assert(
      StreamingBpe.dupSpectrum(spark, bpe).collect().map(_.toString).sorted ===
        graft.operators.TextAnalysis.dupSpectrumDef.build(spark, tmpUnion)
          .collect().map(_.toString).sorted,
      "post-restart duplication spectrum equals the batch query on the union")
  }
}
