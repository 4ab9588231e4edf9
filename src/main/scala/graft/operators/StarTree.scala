package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Star-tree-style pre-aggregation — the Spark-native rebuild of Pinot's
  * signature index (star-tree: materialized aggregates over dimension
  * combinations, `org.apache.pinot.segment.local` in the host; the plugin
  * feeds the tables it is built on).
  *
  * Idiomatic translation: ONE cube materialization holding every grouping
  * set of the chosen dimensions keyed by `grouping_id`, written as parquet
  * PARTITIONED BY the grouping id. A group-by over any dimension subset is
  * answered from its exact pre-aggregated slice — the partition filter
  * prunes every other slice at planning time (no scan of the base table,
  * no re-aggregation of finer slices).
  *
  * Scale: the cube of d low-cardinality dimensions is 2^d slices whose
  * total size is bounded by the product of cardinalities — negligible next
  * to a 100 TB fact table; building it is one pass (Catalyst expands cube
  * grouping sets inside a single aggregation). Queries then read KBs
  * instead of TBs — the exact trade Pinot's star-tree makes.
  */
object StarTree {

  /** Build the pre-aggregation: count + exact decimal sums of `metrics`
    * for every grouping set of `dims`, partitioned by grouping id.
    */
  def materialize(
      df: DataFrame,
      dims: Seq[String],
      metrics: Seq[String],
      path: String
  ): Unit = {
    val aggs = (count(lit(1)).as("_count") +:
      metrics.map(m => sum(col(m).cast("decimal(18,2)")).as(s"_sum_$m"))) :+
      grouping_id().cast("long").as("_gid") // must live inside agg()
    df.cube(dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write
      .mode("overwrite")
      .partitionBy("_gid")
      .parquet(path)
  }

  /** Answer `groupBy(subset).agg(count, sum(metrics))` from the pre-agg:
    * select the one slice whose grouping id matches the subset (partition
    * pruning eliminates all others — assert via PlanSpec/StarTreeSpec).
    *
    * Spark's grouping_id sets bit (dims.size - 1 - i) when dims(i) is
    * aggregated away, so the target slice id keeps exactly `subset` bits 0.
    */
  def query(
      spark: SparkSession,
      path: String,
      dims: Seq[String],
      subset: Seq[String],
      metrics: Seq[String]
  ): DataFrame = {
    require(subset.forall(dims.contains), s"subset $subset must be within $dims")
    val gid = dims.zipWithIndex
      .filterNot { case (d, _) => subset.contains(d) }
      .map { case (_, i) => 1L << (dims.size - 1 - i) }
      .sum
    spark.read
      .parquet(path)
      .filter(col("_gid") === gid)
      .select(
        subset.map(col) ++
          (col("_count").as("n") +: metrics.map(m => col(s"_sum_$m").cast("double").as(s"sum_$m"))): _*
      )
  }

  private val cubeDims    = Seq("o_orderstatus", "o_orderpriority")
  private val cubeMetrics = Seq("o_totalprice")

  /** Bump when the cube layout changes (dims/metrics/schema) so stale cubes
    * built by older code versions are never served.
    */
  private val cubeFormatVersion = 2

  /** Materialize once per (sfDir, spec): the directory name folds in a hash
    * of (dims, metrics, format version), so a cube left in /tmp by an older
    * code version with a different layout simply misses the lookup and a
    * fresh one is built; the version is also the `_SUCCESS` marker's
    * content, so a torn or foreign directory under the same name rebuilds.
    */
  def cubeDirFor(spark: SparkSession, sfDir: String): String = {
    val spec = s"v$cubeFormatVersion|${cubeDims.mkString(",")}|${cubeMetrics.mkString(",")}"
    val specHash = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(spec)
    )
    graft.Artifacts.buildOnceDir(
      s"/tmp/graft-startree-${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}-$specHash",
      s"graft-startree $spec"
    )(dir => materialize(Tables.orders(spark, sfDir), dims = cubeDims, metrics = cubeMetrics, path = dir))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_startree_slice",
      "star-tree pre-aggregation probe: group-by answered from the materialized cube's exact slice (partition-pruned; base table never scanned) — oracle aggregates the base table directly",
      (s, dir) =>
        query(
          s,
          cubeDirFor(s, dir),
          dims = Seq("o_orderstatus", "o_orderpriority"),
          subset = Seq("o_orderstatus"),
          metrics = Seq("o_totalprice")
        ).orderBy(col("o_orderstatus")),
      Some(s"""SELECT o_orderstatus, count(1) AS n,
              |  ${QueryDef.sumDecSql("o_totalprice", 2)} AS sum_o_totalprice
              |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    )
  )
}
