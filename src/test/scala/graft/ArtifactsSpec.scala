package graft

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The build-once artifact registry ([[Artifacts]]): one build and one pin
  * per key under concurrent first use, globally unique artifact names, and
  * the versioned build-once directories under /tmp.
  */
class ArtifactsSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  test("concurrent first use: four threads share one build, one frame and one pin") {
    val spec    = Artifacts.declare("artifacts_spec_concurrent", Artifacts.SessionOnly)
    val dir     = "artifacts-spec-concurrent"
    val before  = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val builds  = new AtomicInteger
    val barrier = new CyclicBarrier(4)
    val pool    = Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { _ =>
        pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = {
            barrier.await()
            Artifacts.get(spark, dir, spec) {
              builds.incrementAndGet()
              Thread.sleep(200) // hold the build open so every thread arrives during it
              spark.range(100).toDF("id")
            }
          }
        })
      }
      val frames = futures.map(_.get(120, TimeUnit.SECONDS))
      val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(added.size === 1, s"exactly one new pinned RDD expected, found ${added.size}")
      assert(frames.forall(_ eq frames.head), "every caller must receive the one registered frame")
      assert(builds.get === 1, "the build must run once")
      assert(frames.head.count() === 100)
    } finally pool.shutdown()
  }

  test("no two artifact specs share a name (the name is the durable directory)") {
    // initialize every module that declares artifacts
    assert(SparkEntry.all.nonEmpty && operators.TextShared.ShingleWidth > 0)
    val names = Artifacts.declaredSpecs.map(_.name)
    assert(Set("minhash_sig", "ivf_assignments", "graph_pagerank", "ts_daily_counts").subsetOf(names.toSet))
    val dupes = names.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dupes.isEmpty, s"artifact names declared more than once: ${dupes.mkString(", ")}")
  }

  test("buildOnceDir: built once per version, rebuilt on another version or a torn marker") {
    val dir    = s"${tempDir("graft-once")}/d"
    var builds = 0
    def once(version: String) = Artifacts.buildOnceDir(dir, version) { d =>
      new java.io.File(d).mkdirs()
      builds += 1
    }
    once("v1")
    once("v1")
    assert(builds === 1)
    once("v2")
    assert(builds === 2, "a marker written by another version must rebuild")
    new java.io.File(dir, "_SUCCESS").delete()
    once("v2")
    assert(builds === 3, "a directory without its marker must rebuild")
  }
}
