package graft.streaming

import graft.{Tables, TestSpark}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming drift monitor: per-micro-batch PSI vs a fixed reference
  * distribution. An in-distribution batch must score under the
  * conventional 0.2 actionable line; an all-short batch (every doc in
  * bucket 0) must blow far past it.
  */
class DriftMonitorSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  test("in-distribution batch scores low PSI; collapsed batch scores high; per-batch rows idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.documents(spark, TestSpark.sfDir).select(col("doc_id"), col("text"))
    val bucket = StreamingPipelines.lengthBucket(length(col("text")).cast("long"))
    val ref    = StreamingPipelines.referenceDistribution(docs, bucket)
    assert(math.abs(ref.values.sum - 1.0) < 1e-9, "reference must be a distribution")

    val inDist    = docs.limit(200).collect().map(r => Doc(r.getLong(0), r.getString(1)))
    val collapsed = (0 until 150).map(i => Doc(500000L + i, "tiny doc " + i))

    val dir   = tempDir("drift-mon")
    val input = MemoryStream[Doc]
    val q = StreamingPipelines.driftMonitor(
      input.toDF(), ref, s"$dir/out", s"$dir/ckpt", bucket = bucket)
    try {
      input.addData(inDist.toSeq); q.processAllAvailable()
      input.addData(collapsed);    q.processAllAvailable()
    } finally q.stop()

    val rows = spark.read
      .parquet(s"$dir/out")
      .select(col("batch_id"), col("n_docs"), col("psi"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
      .toSeq
    assert(rows.map(_._2) == Seq(inDist.length.toLong, collapsed.length.toLong), s"per-batch doc counts: $rows")
    val Seq(psiIn, psiCollapsed) = rows.map(_._3)
    assert(psiIn < 0.2, s"in-distribution batch must sit under the actionable line: $psiIn")
    assert(psiCollapsed > 1.0, s"a fully collapsed distribution must scream: $psiCollapsed")
  }

  test("novel buckets absent from the reference contribute drift (union grid)") {
    import spark.implicits._
    val bucket = StreamingPipelines.lengthBucket(col("len"))
    // reference: uniform over buckets 0 and 1
    val ref = Map(0L -> 0.5, 1L -> 0.5)

    def psiOf(lens: Seq[Long]): Double =
      StreamingPipelines
        .batchPsi(lens.toDF("len"), ref, bucket)
        .collect()
        .head
        .getDouble(1)

    // fully in-distribution: half bucket 0, half bucket 1 -> ~0
    val inDist = psiOf(Seq.fill(50)(10L) ++ Seq.fill(50)(250L))
    assert(inDist < 0.05, s"matching batch must be ~0: $inDist")

    // half the mass lands in bucket 5, which the reference never saw.
    // With a ref-only grid that mass vanishes (PSI ~2.3, just the bucket-1
    // absence term); the union grid adds the floored-q novel term (~6.5),
    // so the score must clear 5.
    val novel = psiOf(Seq.fill(50)(10L) ++ Seq.fill(50)(1050L))
    assert(novel > 5.0, s"novel-bucket mass must be counted as drift: $novel")
  }
}
