package graft.sources

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** JSONL corpus ingest/egress: round-trip fidelity against the parquet
  * fixture, drop-on-malformed with measurable losses, sparse records as
  * nulls — the [[JsonDecode]] contract at corpus granularity.
  */
class JsonlCorpusSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  test("documents round-trip parquet -> jsonl -> frame losslessly") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val dir  = tempDir("graft-jsonl") + "/docs"
    JsonlCorpus.write(docs, dir, nFiles = 3)
    val back = JsonlCorpus.read(spark, dir)
    assert(back.schema.fieldNames.toSeq === JsonlCorpus.documentsSchema.fieldNames.toSeq)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(back) === canon(docs), "jsonl round-trip must be lossless")
    val files = new java.io.File(dir).listFiles.count(_.getName.endsWith(".json"))
    assert(files === 3, "egress must honor the requested file count")
  }

  test("malformed lines drop (never fail) and are countable; sparse records keep nulls") {
    val dir  = tempDir("graft-jsonl-bad")
    val file = java.nio.file.Paths.get(dir, "part-0.json")
    java.nio.file.Files.write(
      file,
      java.util.Arrays.asList(
        """{"doc_id": 1, "text": "good doc", "lang": "en", "source": "s", "n_chars": 8}""",
        """{"doc_id": 2, "text": "sparse doc"}""", // missing fields -> nulls, NOT corrupt
        """{"doc_id": 3, "text": "truncated""",    // malformed JSON
        "not json at all",
        ""                                          // blank line
      )
    )
    val kept = JsonlCorpus.read(spark, dir).orderBy("doc_id").collect()
    assert(kept.map(_.getLong(0)).toSeq === Seq(1L, 2L), "good + sparse survive, malformed drop")
    assert(kept(1).isNullAt(2) && kept(1).isNullAt(4), "sparse record keeps nulls for missing fields")

    val counted = JsonlCorpus.readCounted(spark, dir)
    val n = counted.agg(sum(when(col("_corrupt"), 1L).otherwise(0L))).collect()(0).getLong(0)
    assert(n === 3L, "the three bad lines (malformed x2, blank) must be counted, not silent")
  }

  test("streaming ingest: files arrive as micro-batches, drop accounting matches batch") {
    val dir = tempDir("graft-jsonl-stream")
    val src = s"$dir/arrival"
    assert(new java.io.File(src).mkdirs())
    def land(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(src, name), java.util.Arrays.asList(lines: _*))

    land(
      "batch-0.json",
      """{"doc_id": 1, "text": "good doc", "lang": "en", "source": "s", "n_chars": 8}""",
      """{"doc_id": 2, "text": "sparse doc"}""", // sparse -> kept with nulls
      """{"doc_id": 3, "text": "truncated""",    // malformed
      "not json at all",
      ""                                          // blank line
    )

    val agg = JsonlCorpus
      .readStreamCounted(spark, src)
      .groupBy()
      .agg(
        sum(when(col("_corrupt"), 1L).otherwise(0L)).as("n_bad"),
        sum(when(col("_corrupt"), 0L).otherwise(1L)).as("n_ok")
      )
    val q = agg.writeStream
      .format("memory")
      .queryName("jsonl_ingest")
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      val r1 = spark.table("jsonl_ingest").collect()(0)
      assert((r1.getLong(0), r1.getLong(1)) === ((3L, 2L)), "first micro-batch: 3 dropped, 2 kept")

      // a file landing later is its own micro-batch; totals accumulate
      land("batch-1.json",
        """{"doc_id": 10, "text": "late doc", "lang": "en", "source": "s", "n_chars": 8}""",
        "{{{")
      q.processAllAvailable()
      val r2 = spark.table("jsonl_ingest").collect()(0)
      assert((r2.getLong(0), r2.getLong(1)) === ((4L, 3L)), "late file adds 1 bad + 1 good")
    } finally q.stop()

    // parity: the batch reader over the same landing dir agrees exactly
    val batch = JsonlCorpus
      .readCounted(spark, src)
      .agg(
        sum(when(col("_corrupt"), 1L).otherwise(0L)),
        sum(when(col("_corrupt"), 0L).otherwise(1L))
      )
      .collect()(0)
    assert((batch.getLong(0), batch.getLong(1)) === ((4L, 3L)), "streaming and batch accounting must agree")

    // maxFilesPerTrigger bounds a backlog to per-batch increments: 2 landed
    // files with the knob at 1 must drain as (at least) 2 data batches
    val bounded = JsonlCorpus
      .readStream(spark, src, maxFilesPerTrigger = Some(1))
      .writeStream
      .format("memory")
      .queryName("jsonl_ingest_bounded")
      .option("checkpointLocation", s"$dir/ckpt3")
      .start()
    try {
      bounded.processAllAvailable()
      val dataBatches = bounded.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 2, s"a 2-file backlog at maxFilesPerTrigger=1 must take >= 2 batches, got $dataBatches")
      assert(spark.table("jsonl_ingest_bounded").count() === 3, "bounded drain still delivers every kept record")
    } finally bounded.stop()

    // and the dropping variant delivers exactly the surviving records
    val kept = JsonlCorpus
      .readStream(spark, src)
      .writeStream
      .format("memory")
      .queryName("jsonl_ingest_kept")
      .option("checkpointLocation", s"$dir/ckpt2")
      .start()
    try {
      kept.processAllAvailable()
      val ids = spark.table("jsonl_ingest_kept").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 10L), s"kept stream must carry good + sparse rows only, got $ids")
    } finally kept.stop()
  }
}
