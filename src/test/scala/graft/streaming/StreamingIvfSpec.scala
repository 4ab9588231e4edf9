package graft.streaming

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming IVF ingest: arrivals indexed into the durable inverted file
  * per micro-batch, probes pruned to the query's cluster, and a re-train
  * that converges to the from-scratch batch build bit-for-bit.
  */
class StreamingIvfSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  test("ingest assigns arrivals to live centroids, probes prune to one cluster, retrain == batch build exactly") {
    val dir = tempDir("streaming-ivf")
    val emb = Tables.embeddings(spark, TestSpark.sfDir).select("vec_id", "embedding", "label")
    val n   = emb.count()

    // seed build on the first half (contains vec_ids 0..K-1, the
    // deterministic init), then stream the second half in two micro-batches
    StreamingIvf.buildIndex(emb.filter(col("vec_id") < 250), s"$dir/index")
    val landing = s"$dir/landing"
    emb.filter(col("vec_id") >= 250 && col("vec_id") < 375).coalesce(1)
      .write.mode("append").parquet(landing)
    val q = StreamingIvf.ingest(
      spark, landing, s"$dir/index", s"$dir/ckpt", emb.schema, maxFilesPerTrigger = Some(1))
    try {
      q.processAllAvailable()
      emb.filter(col("vec_id") >= 375).coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
    } finally q.stop()

    // every vector posted exactly once, arrivals in per-batch cid-hive dirs
    def postings = spark.read
      .option("basePath", s"$dir/index/v=1/postings")
      .parquet(s"$dir/index/v=1/postings")
    assert(postings.count() === n, "seed + both streamed batches all posted")
    assert(postings.select("vec_id").distinct().count() === n, "no vector posted twice")
    val batchDirs = new java.io.File(s"$dir/index/v=1/postings").listFiles().map(_.getName).toSet
    assert(batchDirs === Set("batch_id=-1", "batch_id=0", "batch_id=1"),
      s"one overwrite dir per micro-batch plus the seed fold: $batchDirs")
    assert(new java.io.File(s"$dir/index/v=1/postings/batch_id=0").listFiles()
      .exists(_.getName.startsWith("cid=")), "streamed appends keep the cid hive layout")

    // the probe prunes postings to the query's cluster via partition dirs
    val query = emb.filter(col("vec_id") === 0).select("vec_id", "embedding")
    val probeDf = StreamingIvf.probe(spark, s"$dir/index", query, k = 5)
    val formatted =
      probeDf.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pf = formatted.linesIterator.filter(_.trim.startsWith("PartitionFilters:")).mkString("\n")
    assert(pf.contains("cid"), s"cluster filter must land in PartitionFilters:\n$formatted")

    // recall of the streamed index vs brute force over the FULL corpus
    graft.functions.VectorFunctions.register(spark)
    val qEmb = query.select(col("embedding").as("q_emb"))
    val brute = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qEmb))
      .select(col("vec_id"), round(expr("cosine_sim(embedding, q_emb)"), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(5).collect().map(_.getLong(0)).toSet
    val streamed = probeDf.collect().map(_.getLong(0)).toSet
    assert((streamed & brute).size >= 3,
      s"streamed-index probe recall@5 must hold: got $streamed vs brute $brute")

    // retrain folds the streamed appends and CONVERGES TO THE BATCH BUILD:
    // training is deterministic in the row set, so centroids, postings,
    // and probe answers must all be bit-identical to a from-scratch build
    // over the same 500 vectors
    StreamingIvf.retrain(spark, s"$dir/index")
    assert(StreamingIvf.currentVersion(spark, s"$dir/index") === 2)
    assert(!new java.io.File(s"$dir/index/v=1").exists(), "old snapshot dropped after the flip")
    StreamingIvf.buildIndex(emb, s"$dir/batch-index")
    def centroids(p: String) = spark.read.parquet(p).orderBy(col("d")).collect().map(_.toSeq)
    assert(centroids(s"$dir/index/v=2/centroids").toSeq === centroids(s"$dir/batch-index/v=1/centroids").toSeq,
      "retrained centroids must equal the batch build's bit-for-bit")
    def probeRows(idx: String) =
      StreamingIvf.probe(spark, idx, query, k = 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probeRows(s"$dir/index") === probeRows(s"$dir/batch-index"),
      "probe answers over the retrained index must equal the batch build's")

    // the PQ layer retrains with the snapshot and converges identically:
    // codebooks trained per subspace by the same deterministic k-means,
    // codes assigned against them — both bit-for-bit vs the batch build
    val (rCent, rCodes) = StreamingIvf.pqLayer(spark, s"$dir/index")
    val (bCent, bCodes) = StreamingIvf.pqLayer(spark, s"$dir/batch-index")
    def sorted(df: org.apache.spark.sql.DataFrame, keys: String*) =
      df.orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq
    assert(sorted(rCent, "sub", "dl", "cid") === sorted(bCent, "sub", "dl", "cid"),
      "retrained PQ codebooks must equal the batch build's bit-for-bit")
    assert(sorted(rCodes, "vec_id", "sub") === sorted(bCodes, "vec_id", "sub"),
      "retrained PQ codes must equal the batch build's bit-for-bit")
    assert(rCodes.select("vec_id").distinct().count() === n,
      "every vector carries a PQ code after retrain")
  }

  test("deletes: tombstones mask probes immediately, retrain compacts to a fresh build excluding them") {
    val dir = tempDir("streaming-ivf-del")
    val emb = Tables.embeddings(spark, TestSpark.sfDir).select("vec_id", "embedding", "label")
    StreamingIvf.buildIndex(emb.filter(col("vec_id") < 250), s"$dir/index")
    val landing = s"$dir/landing"
    emb.filter(col("vec_id") >= 250).coalesce(1).write.mode("append").parquet(landing)
    val q = StreamingIvf.ingest(
      spark, landing, s"$dir/index", s"$dir/ckpt", emb.schema, maxFilesPerTrigger = Some(1))
    try q.processAllAvailable()
    finally q.stop()

    val query = emb.filter(col("vec_id") === 0).select("vec_id", "embedding")
    // take the top-7 BEFORE deleting, then tombstone two of them (a
    // non-seed id + a streamed id): the k=5 probe afterwards must be
    // exactly the prior ranking with those ids masked out — at most 2
    // deletions leave >= 5 known survivors, so the comparison is
    // deterministic with no recall slack
    val pre = StreamingIvf.probe(spark, s"$dir/index", query, k = 7)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val victim = pre.map(_._1).find(_ >= 16).get // clear of any first-K seed
    import spark.implicits._
    StreamingIvf.delete(spark, s"$dir/index", Seq(victim).toDF("vec_id"))
    // a second delete of a streamed-in id, plus an idempotent re-delete
    val victim2 = pre.map(_._1).find(id => id >= 250 && id != victim)
    victim2.foreach(v2 => StreamingIvf.delete(spark, s"$dir/index", Seq(v2, victim).toDF("vec_id")))
    val deleted = Set(victim) ++ victim2
    // each delete() lands its OWN uniquely-named dir: two calls can never
    // clobber each other (the r18 max+1 allocation raced under concurrency)
    val tombDirs = new java.io.File(s"$dir/index/v=1/tombstones")
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("d=")).map(_.getName)
    assert(tombDirs.length === (1 + victim2.size) && tombDirs.distinct.length === tombDirs.length,
      s"one unique tombstone dir per delete call, got: ${tombDirs.toSeq}")
    val post = StreamingIvf.probe(spark, s"$dir/index", query, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(post === pre.filterNot(p => deleted(p._1)).take(5),
      s"the masked probe must be the prior ranking minus the tombstones: $post vs $pre minus $deleted")
    // the PQ code layer masks the same ids
    val (_, codes) = StreamingIvf.pqLayer(spark, s"$dir/index")
    assert(codes.filter(col("vec_id").isin(deleted.toSeq: _*)).count() === 0,
      "tombstoned ids must not surface through the ADC code layer")

    // retrain COMPACTS: the new snapshot equals a fresh build over the
    // surviving rows bit-for-bit (training is deterministic in the row
    // set), and the tombstone store is gone
    StreamingIvf.retrain(spark, s"$dir/index")
    StreamingIvf.buildIndex(
      emb.filter(!col("vec_id").isin(deleted.toSeq: _*)), s"$dir/fresh-index")
    def centroids(p: String) = spark.read.parquet(p).orderBy(col("d")).collect().map(_.toSeq)
    assert(
      centroids(s"$dir/index/v=2/centroids").toSeq ===
        centroids(s"$dir/fresh-index/v=1/centroids").toSeq,
      "post-compaction centroids must equal a fresh build excluding the deleted ids")
    def probeRows(idx: String) =
      StreamingIvf.probe(spark, idx, query, k = 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probeRows(s"$dir/index") === probeRows(s"$dir/fresh-index"),
      "post-compaction probe answers must equal the fresh build's")
    assert(!new java.io.File(s"$dir/index/v=2/tombstones").exists(),
      "the version flip compacts the tombstone store away")
    val posted = spark.read
      .option("basePath", s"$dir/index/v=2/postings")
      .parquet(s"$dir/index/v=2/postings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(deleted.forall(!posted(_)), "deleted ids must not be re-posted by the retrain")
  }

  test("retrain fence: a delete racing the compaction fails loudly; a crashed fence heals") {
    val dir = tempDir("streaming-ivf-fence")
    val emb = Tables.embeddings(spark, TestSpark.sfDir).select("vec_id", "embedding", "label")
    StreamingIvf.buildIndex(emb, s"$dir/index")
    import spark.implicits._

    // 1. fence up (exactly what retrain raises before its tombstone
    // read): a delete completing behind it must throw, not lose its ids
    val fence = new java.io.File(s"$dir/index/RETRAIN_FENCE")
    java.nio.file.Files.write(fence.toPath, "2".getBytes("UTF-8"))
    val ex = intercept[IllegalStateException] {
      StreamingIvf.delete(spark, s"$dir/index", Seq(17L).toDF("vec_id"))
    }
    assert(ex.getMessage.contains("RETRAIN_FENCE"), s"loud fence failure expected: ${ex.getMessage}")
    // the tombstone dir DID land (write-then-check order) — the retrain
    // that raised the fence reads the listing after the fence, so it
    // either saw this dir or the caller was told to retry; nothing silent

    // 2. crashed-retrain healing: the fence targets v=2 and a partial
    // v=2 dir exists; the next retrain must discard both and complete
    new java.io.File(s"$dir/index/v=2/centroids").mkdirs()
    StreamingIvf.retrain(spark, s"$dir/index")
    assert(!fence.exists(), "retrain must lower its fence after the flip")
    assert(StreamingIvf.currentVersion(spark, s"$dir/index") === 2)
    // the healed snapshot is complete: probes answer and the partial
    // centroids dir was rebuilt, not reused
    val query = emb.filter(col("vec_id") === 0).select("vec_id", "embedding")
    assert(StreamingIvf.probe(spark, s"$dir/index", query, k = 5).count() === 5)

    // 3. post-retrain deletes succeed again (fence down, pointer stable)
    StreamingIvf.delete(spark, s"$dir/index", Seq(17L).toDF("vec_id"))
  }
}
