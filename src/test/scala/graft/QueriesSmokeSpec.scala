package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must at least run at smoke scale; queries expected
  * to produce rows on the fixture must produce them. (Full value-level
  * verification is the driver's DuckDB gate, replayed locally by
  * scripts/verify_local.py.)
  */
class QueriesSmokeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Pair-finding queries legitimately return 0 rows on the dup-free fixture. */
  private val mayBeEmpty = Set("q_dedup_minhash_pairs", "q_dedup_simhash_dupes", "q_dedup_jaccard", "q_join_anti", "q_scan_project")

  /** Ids of the session's persistent RDDs and their stored bytes. */
  private def pinnedState(): (Set[Int], Long) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.keySet.toSet, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }

  /** Each query also runs a second time: the first run built every
    * artifact it reads, so the second must pin nothing new — a frame
    * pinned while the query is built (instead of through the artifact
    * registry) would add one RDD per run for the session lifetime.
    */
  SparkEntry.all.foreach { d =>
    test(s"${d.name} runs${if (mayBeEmpty(d.name)) "" else " and returns rows"}") {
      val n = d.build(spark, TestSpark.sfDir).count()
      if (!mayBeEmpty(d.name)) assert(n > 0, s"${d.name} returned no rows")
      val (ids, bytes) = pinnedState()
      d.build(spark, TestSpark.sfDir).write.format("noop").mode("overwrite").save()
      val (ids2, bytes2) = pinnedState()
      assert((ids2 -- ids).isEmpty, s"${d.name}'s second run added persistent RDDs ${(ids2 -- ids).mkString(", ")}")
      assert(bytes2 <= bytes, s"${d.name}'s second run grew pinned storage by ${bytes2 - bytes} B")
    }
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key corresponds to a declared query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("query names are unique (a duplicate would silently shadow in the queries map)") {
    val names = SparkEntry.all.map(_.name)
    val dupes = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate query names: ${dupes.mkString(", ")}")
  }
}
