package graft.operators

import graft.TestSpark
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics tests for the product-analytics operators on constructed
  * corpora where the expected funnel / retention values are hand-checkable
  * (the DuckDB oracle checks the fixture corpus; this checks the logic).
  */
class AnalyticsSpec extends AnyFunSuite with TestSpark.TempDirs {

  // the SHARED test session — never stop it (localSession getOrCreate
  // returns the one active session; stopping it here killed every suite
  // that happened to run after this one)
  private lazy val spark: SparkSession = TestSpark.spark
  private var dir: String              = _

  override def beforeAll(): Unit = {
    // synthetic events: ts nanos (the events fixture codec), 4 users
    //  u1: view@10 click@20 purchase@30  -> full funnel
    //  u2: view@10 click@20              -> view+click
    //  u3: click@10 view@20 (click BEFORE first view -> not view_click)
    //  u4: purchase@10 (no view)         -> nothing
    val rows = Seq(
      (1L, 10L, 1L, "view", 1.0, "{}"),
      (2L, 20L, 1L, "click", 1.0, "{}"),
      (3L, 30L, 1L, "purchase", 1.0, "{}"),
      (4L, 10L, 2L, "view", 1.0, "{}"),
      (5L, 20L, 2L, "click", 1.0, "{}"),
      (6L, 10L, 3L, "click", 1.0, "{}"),
      (7L, 20L, 3L, "view", 1.0, "{}"),
      (8L, 10L, 4L, "purchase", 1.0, "{}")
    )
    val sp = spark
    import sp.implicits._
    dir = tempDir("analytics-spec")
    rows
      .toDF("event_id", "tsn", "user_id", "event_type", "value", "props")
      // long nanos, as Tables.events expects (the fixture stores parquet
      // TIMESTAMP(NANOS), surfaced as long via nanosAsLong); user_id picks
      // the day so retention cohorts differ
      .withColumn("ts", expr("(tsn + user_id * 86400) * 1000000000"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"), col("props"))
      .write
      .mode("overwrite")
      .parquet(s"$dir/events.parquet")
  }

  test("funnel counts users per stage with ordering constraints") {
    val r = Analytics.defs.find(_.name == "q_funnel").get.build(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_view") === 3L) // u1, u2, u3 viewed
    assert(r.getAs[Long]("n_view_click") === 2L) // u3's click precedes its view
    assert(r.getAs[Long]("n_view_click_purchase") === 1L) // only u1
  }

  test("retention matrix: every user lands in (cohort, 0); offsets are day deltas") {
    val rows = Analytics.defs
      .find(_.name == "q_retention")
      .get
      .build(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // all events of each synthetic user fall on one day -> only offset 0,
    // one cohort per user-day
    assert(rows.forall(_._2 == 0L))
    assert(rows.map(_._3).sum === 4L)
  }

  test("bigrams use adjacent tokens only") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val top = Analytics.defs
      .find(_.name == "q_text_bigrams")
      .get
      .build(spark, dir)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(top === Map("a b" -> 2L, "b c" -> 1L))
  }

  test("distinct-ngram diversity: repetitive source scores low, diverse source scores 1.0") {
    val sp = spark
    import sp.implicits._
    // own dir: Tables.documents memoizes the resolved relation per dir, and
    // the bigram test parks a 2-column documents.parquet under the shared one
    val ngDir = tempDir("analytics-ngrams")
    Seq(
      (1L, "a a a a", "en", "rep"),
      (2L, "a b c", "en", "div")
    ).toDF("doc_id", "text", "lang", "source")
      .write
      .mode("overwrite")
      .parquet(s"$ngDir/documents.parquet")
    val rows = Analytics.defs
      .find(_.name == "q_text_distinct_ngrams")
      .get
      .build(spark, ngDir)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5), r.getDouble(6))))
      .toMap
    assert(rows("rep") === ((4L, 1L, 0.25, 3L, 1L, 1.0 / 3.0)), s"got ${rows("rep")}")
    assert(rows("div") === ((3L, 3L, 1.0, 2L, 2L, 1.0)), s"got ${rows("div")}")
  }

  test("transition matrix: adjacent per-user steps only, probabilities row-conditional") {
    // u1 view->click->purchase, u2 view->click, u3 click->view, u4 single
    val cells = Events.defs
      .find(_.name == "q_event_transitions")
      .get
      .build(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(cells === Map(
      ("view", "click")     -> ((2L, 1.0)),
      ("click", "purchase") -> ((1L, 0.5)),
      ("click", "view")     -> ((1L, 0.5))
    ))
  }
}
