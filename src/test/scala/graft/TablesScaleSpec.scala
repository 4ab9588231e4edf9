package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale seams in [[Tables]]:
  *
  *   - [[Tables.fanout]] spreads a starved frame once: it is the identity
  *     on a frame that is already a narrow view of a spread one (so the
  *     corpus tables, which come spread, are never spread twice), and on a
  *     cluster it leaves an already-parallel input alone — on a 100 TB
  *     corpus an unconditional repartition would shuffle the whole corpus
  *     before every explode.
  *   - [[Tables.pin]] must materialize once under every mode; "persist"
  *     keeps lineage (fault-tolerant on executor loss) where the local
  *     default truncates it.
  */
class TablesScaleSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark
  private def dp = spark.sparkContext.defaultParallelism

  private def withModeValue[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def roundRobin(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.shuffleOrigin == org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM => e
    }

  private def repartitionNodes(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect { case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r }.size

  test("fanout: a starved frame is spread to defaultParallelism") {
    val one = spark.range(0, 1000, 1, numPartitions = 1).toDF("id")
    assert(Tables.fanout(one).rdd.getNumPartitions === dp)
  }

  test("fanout is idempotent: fanout(fanout(x)) plans one REPARTITION_BY_NUM exchange") {
    val once  = Tables.fanout(spark.range(0, 1000, 1, numPartitions = 1).toDF("id"))
    val twice = Tables.fanout(once)
    assert(twice eq once, "a spread frame must come back unchanged")
    assert(repartitionNodes(twice) === 1)
    assert(roundRobin(twice).size === 1, s"one exchange:\n${twice.queryExecution.sparkPlan}")
  }

  test("fanout of a documents view: one round-robin exchange, selected columns only") {
    val view = Tables
      .documents(spark, TestSpark.sfDir)
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
    val spread = Tables.fanout(view)
    assert(spread eq view, "a narrow view of the spread documents table is spread already")
    val ex = roundRobin(spread)
    assert(ex.size === 1, s"exactly one round-robin exchange:\n${spread.queryExecution.sparkPlan}")
    assert(ex.head.child.output.map(_.name) === Seq("doc_id", "text"),
      s"column pruning must reach below the table's exchange:\n${spread.queryExecution.sparkPlan}")
    assert(spread.count() === Tables.documents(spark, TestSpark.sfDir).filter(col("doc_id") % 2 === 1).count())
  }

  test("fanout decision: parallelism 1 no-op, local spread, cluster starvation check") {
    def unread: Int = fail("a local master must not read the input's partition count")
    assert(!Tables.spreads(1, isLocal = true, 1), "repartition(1) is an exchange for nothing")
    assert(!Tables.spreads(1, isLocal = false, 0))
    assert(Tables.spreads(4, isLocal = true, unread))
    assert(Tables.spreads(4, isLocal = false, 1), "a starved cluster scan is spread")
    assert(Tables.spreads(4, isLocal = false, 3))
    assert(!Tables.spreads(4, isLocal = false, 4), "an already-parallel cluster input is left alone")
    assert(!Tables.spreads(4, isLocal = false, 1000))
  }

  test("pinKeyed: the pinned frame advertises its hash partitioning and a keyed groupBy plans NO exchange") {
    import org.apache.spark.sql.functions._
    // r21: the keyed-pin mechanism behind the jaccard_shingles/pgrams13/
    // lm_bgdoc/ivf_comp artifacts. Three pins of the same mechanism:
    //  1. downstream groupBy on the pin key is exchange-free,
    //  2. a groupBy on a SUPERSET of the key is also exchange-free
    //     (HashPartitioning on a subset satisfies the clustering),
    //  3. rows and values are unchanged, and the AQE conf is restored.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val df = spark.range(0, 10000, 1, numPartitions = 3)
      .select((col("id") % 100).as("k"), (col("id") % 7).as("k2"), col("id").as("v"))
    val pinned = Tables.pinKeyed(df, col("k"))
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqeBefore, "AQE toggle must be restored")
    def exchanges(p: org.apache.spark.sql.DataFrame): Int =
      p.queryExecution.executedPlan.toString.linesIterator.count(_.contains("Exchange hashpartitioning"))
    val bySubset   = pinned.groupBy(col("k")).agg(sum(col("v")).as("s"))
    val bySuperset = pinned.groupBy(col("k"), col("k2")).agg(sum(col("v")).as("s"))
    assert(exchanges(bySubset) === 0, s"groupBy(pin key) must reuse the pin's partitioning:\n${bySubset.queryExecution.executedPlan}")
    assert(exchanges(bySuperset) === 0, s"groupBy(superset) must reuse it too:\n${bySuperset.queryExecution.executedPlan}")
    val expect = df.groupBy(col("k")).agg(sum(col("v")).as("s")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got    = bySubset.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect, "keyed pin must not change any value")
    Tables.unpin(pinned)
  }

  test("pinKeyed: concurrent builds restore AQE and each pin stays exchange-free") {
    // The toggle+pin region is serialized: without the lock, thread B can
    // capture thread A's temporary adaptive.enabled=false as its `prev`
    // and restore it PERMANENTLY — AQE silently off for the session. With
    // the lock, every interleaving restores the pre-call value and every
    // pin still records its hash partitioning.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val frames = (0 until 4).map { i =>
      spark.range(0, 4000, 1, numPartitions = 2)
        .select((col("id") % (50 + i)).as("k"), col("id").as("v"))
    }
    val pins = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = frames.map { f =>
      new Thread(() =>
        try pins.add(Tables.pinKeyed(f, col("k")))
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"concurrent pinKeyed failed: ${errs.peek()}")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqeBefore,
      "AQE must be restored whatever the interleaving")
    import scala.jdk.CollectionConverters._
    pins.asScala.foreach { p =>
      val agg = p.groupBy(col("k")).agg(sum(col("v")).as("s"))
      val ex = agg.queryExecution.executedPlan.toString.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(ex === 0, s"every concurrent pin must still be exchange-free:\n${agg.queryExecution.executedPlan}")
      Tables.unpin(p)
    }
  }

  test("pin persist mode: same rows, DISK_ONLY storage, lineage retained, unpin releases") {
    withModeValue("spark.graft.pin.mode", "persist") {
      val df = spark.range(0, 100).toDF("id").withColumn("v", col("id") * 2)
      val pinned = Tables.pin(df)
      assert(pinned.storageLevel === org.apache.spark.storage.StorageLevel.DISK_ONLY)
      assert(pinned.agg(sum(col("v"))).head().getLong(0) === 9900L)
      // lineage retained: the analyzed plan is still the original tree,
      // not a truncated LogicalRDD scan — executor loss can recompute
      assert(!pinned.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
      Tables.unpin(pinned)
      assert(pinned.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    }
  }

  test("cluster pin modes: the iterative CC loop truncates lineage (pinIter) and matches local-mode labels") {
    import spark.implicits._
    // A lineage-RETAINING persist in this loop is structurally wrong: each
    // pointer-doubling round self-joins the previous frame, so round k's
    // logical plan carries 2^k copies of round 0's tree (reproduced: heap
    // OOM in the analyzer within ~8 rounds). pinIter must therefore
    // truncate every round — reliable checkpoint() under cluster modes.
    spark.sparkContext.setCheckpointDir(
      tempDir("graft-ckpt-cc"))
    // a 30-node chain (worst-case diameter) plus a disjoint triangle
    val pairs = ((0L until 29L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (101L, 102L)))
      .toDF("doc_a", "doc_b")
    def run(): Seq[(Long, Long)] =
      operators.Dedup
        .clusters(pairs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(identity)
        .toSeq
    val localLabels = run()
    val persistedLabels = withModeValue("spark.graft.pin.mode", "persist")(run())
    assert(persistedLabels === localLabels, "pin mode must never change results")
    assert(localLabels.filter(_._1 <= 29L).forall(_._2 == 0L), "chain collapses to min label")
    assert(localLabels.filter(_._1 >= 100L).forall(_._2 == 100L), "triangle collapses to min label")
  }

  test("pin persist mode: batchPsi equals local mode") {
    import spark.implicits._
    val bucket = streaming.StreamingPipelines.lengthBucket(col("len"))
    val ref    = Map(0L -> 0.5, 1L -> 0.5)
    val batch  = (Seq.fill(40)(10L) ++ Seq.fill(60)(250L)).toDF("len")
    def psi(): Double =
      streaming.StreamingPipelines.batchPsi(batch, ref, bucket).collect().head.getDouble(1)
    val a = psi()
    val b = withModeValue("spark.graft.pin.mode", "persist")(psi())
    assert(a === b)
  }

  test("pinIter reliable path: unpin reclaims the checkpoint files, not just the blocks") {
    import spark.implicits._
    spark.sparkContext.setCheckpointDir(
      tempDir("graft-ckpt-reclaim"))
    withModeValue("spark.graft.pin.mode", "persist") {
      val pinned = Tables.pinIter(Seq(1L, 2L, 3L).toDF("id"))
      val ckptFile = pinned.queryExecution.analyzed
        .collect { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getCheckpointFile }
        .flatten.headOption
      assert(ckptFile.isDefined, "cluster-mode pinIter with a checkpoint dir must checkpoint reliably")
      val dir = new java.io.File(new java.net.URI(ckptFile.get).getPath)
      assert(dir.exists, "checkpoint files must exist while pinned")
      Tables.unpin(pinned)
      assert(!dir.exists,
        "unpin must delete the round's checkpoint files — Spark's cleaner only reclaims at shutdown")
    }
  }

  test("pin local mode (default): eager localCheckpoint semantics, unpin releases blocks") {
    val df     = spark.range(0, 50).toDF("id")
    val pinned = Tables.pin(df)
    assert(pinned.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      "local mode must truncate lineage (eager localCheckpoint)")
    assert(pinned.count() === 50L)
    Tables.unpin(pinned) // must not throw; blocks released asynchronously
  }
}
