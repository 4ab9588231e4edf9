package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-analytics operators rounding out the OLAP surface a Pinot-class
  * engine serves over ingested event streams: funnel conversion (Pinot
  * FUNNELCOUNT's batch shape), cohort retention, linear-regression
  * aggregates, explicit GROUPING SETS, and corpus n-gram / TF-IDF term
  * statistics for the training-data side.
  *
  * Scale: every query is shuffle-on-group-key aggregation (funnel's staged
  * joins are co-partitioned on user_id, so the three stages reuse one
  * partitioning); nothing collects to the driver.
  */
object Analytics {

  import TextShared.tokens

  private def tsS = (unix_timestamp(col("ts"))).as("ts_s")

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_funnel",
      "funnel conversion (Pinot FUNNELCOUNT shape): users reaching view -> click-after-view -> purchase-after-click. ONE scan + ONE shuffle: per-user event histories collected (map-side partial collect_list), staged min-timestamps derived with array lambdas — the staged-join formulation scanned events 3x and joined twice for identical semantics. Per-user history is the irreducible funnel state; a pathological user's array is the same skew a join-based funnel shuffles anyway",
      (s, dir) => {
        val ev = Tables
          .events(s, dir)
          .filter(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id"), col("event_type"), tsS)
        ev.groupBy(col("user_id"))
          .agg(collect_list(struct(col("ts_s"), col("event_type"))).as("evs"))
          // v_ts = first view; c_ts = first click at/after v_ts; p_ts = first
          // purchase at/after c_ts — exactly the staged-join semantics
          // (inclusive >=, ties allowed). A null stage nulls the comparison,
          // so filter() drops every candidate and the next stage stays null.
          .withColumn("v_ts", array_min(expr("transform(filter(evs, e -> e.event_type = 'view'), e -> e.ts_s)")))
          .withColumn(
            "c_ts",
            array_min(expr("transform(filter(evs, e -> e.event_type = 'click' AND e.ts_s >= v_ts), e -> e.ts_s)"))
          )
          .withColumn(
            "p_ts",
            array_min(expr("transform(filter(evs, e -> e.event_type = 'purchase' AND e.ts_s >= c_ts), e -> e.ts_s)"))
          )
          .agg(
            sum(col("v_ts").isNotNull.cast("long")).as("n_view"),
            sum(col("c_ts").isNotNull.cast("long")).as("n_view_click"),
            sum(col("p_ts").isNotNull.cast("long")).as("n_view_click_purchase")
          )
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, cast(floor(epoch(ts)) as bigint) AS ts_s
             |  FROM events),
             |v AS (SELECT user_id, min(ts_s) AS v_ts FROM ev
             |      WHERE event_type = 'view' GROUP BY user_id),
             |c AS (SELECT ev.user_id, min(ts_s) AS c_ts FROM ev JOIN v USING (user_id)
             |      WHERE event_type = 'click' AND ts_s >= v_ts GROUP BY ev.user_id),
             |p AS (SELECT ev.user_id, min(ts_s) AS p_ts FROM ev JOIN c USING (user_id)
             |      WHERE event_type = 'purchase' AND ts_s >= c_ts GROUP BY ev.user_id)
             |SELECT (SELECT count(1) FROM v) AS n_view,
             |  (SELECT count(1) FROM c) AS n_view_click,
             |  (SELECT count(1) FROM p) AS n_view_click_purchase""".stripMargin)
    ),
    QueryDef(
      "q_funnel_time",
      "time-to-convert: seconds from first view to (ordered) purchase per converting user — count/min/median/max of the conversion lag",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), tsS)
        val v = ev
          .filter(col("event_type") === "view")
          .groupBy(col("user_id"))
          .agg(min(col("ts_s")).as("v_ts"))
        val p = ev
          .filter(col("event_type") === "purchase")
          .join(v, "user_id")
          .filter(col("ts_s") >= col("v_ts"))
          .groupBy(col("user_id"))
          .agg(min(col("ts_s")).as("p_ts"))
        v.join(p, "user_id")
          .select((col("p_ts") - col("v_ts")).as("lag_s"))
          .agg(
            count(lit(1)).as("n_converted"),
            min(col("lag_s")).as("min_s"),
            expr("percentile(lag_s, 0.5)").as("median_s"),
            max(col("lag_s")).as("max_s")
          )
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, cast(floor(epoch(ts)) as bigint) AS ts_s
             |  FROM events),
             |v AS (SELECT user_id, min(ts_s) AS v_ts FROM ev
             |      WHERE event_type = 'view' GROUP BY user_id),
             |p AS (SELECT ev.user_id, min(ts_s) AS p_ts FROM ev JOIN v USING (user_id)
             |      WHERE event_type = 'purchase' AND ts_s >= v_ts GROUP BY ev.user_id)
             |SELECT count(1) AS n_converted,
             |  min(p_ts - v_ts) AS min_s,
             |  quantile_cont(p_ts - v_ts, 0.5) AS median_s,
             |  max(p_ts - v_ts) AS max_s
             |FROM v JOIN p USING (user_id)""".stripMargin)
    ),
    QueryDef(
      "q_retention",
      "cohort retention: users bucketed by first-activity day, distinct actives per (cohort_day, day_offset) — the classic triangular retention matrix. cohort_day comes from an unbounded min window over the user partition, so events is scanned ONCE and never joined back to itself (the groupBy+join formulation scanned it twice)",
      (s, dir) => {
        val wUser = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
        Tables
          .events(s, dir)
          .select(col("user_id"), (unix_timestamp(col("ts")) / 86400).cast("long").as("day"))
          .withColumn("cohort_day", min(col("day")).over(wUser))
          .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_day"), col("day_offset"))
      },
      Some("""WITH d AS (
             |  SELECT user_id, cast(floor(epoch(ts)) as bigint) // 86400 AS day FROM events),
             |first AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
             |SELECT cohort_day, day - cohort_day AS day_offset,
             |  count(DISTINCT user_id) AS n_users
             |FROM d JOIN first USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin)
    ),
    QueryDef(
      "q_stat_regression",
      "linear-regression aggregates per group: regr_slope/intercept/r2/count (moment merges are parallel-order-sensitive -> rounded, like corr)",
      (s, dir) =>
        Tables
          .lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
            round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("intercept"),
            round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
            expr("regr_count(l_extendedprice, l_quantity)").as("n")
          )
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
             |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
             |  regr_count(l_extendedprice, l_quantity) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),
    QueryDef(
      "q_grouping_sets",
      "explicit GROUPING SETS ((nation), (segment), ()) — the general grouping-set form rollup/cube specialize",
      (s, dir) =>
        Tables
          .customer(s, dir)
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .groupingSets(
            Seq(Seq(col("n_name")), Seq(col("c_mktsegment")), Seq.empty),
            col("n_name"),
            col("c_mktsegment")
          )
          .agg(
            count(lit(1)).as("n"),
            QueryDef.sumScaled(col("c_acctbal"), 2).as("sum_bal"),
            grouping(col("n_name")).cast("long").as("g_nation"),
            grouping(col("c_mktsegment")).cast("long").as("g_seg")
          )
          .orderBy(
            col("g_nation"),
            col("g_seg"),
            col("n_name").asc_nulls_first,
            col("c_mktsegment").asc_nulls_first
          ),
      Some(s"""SELECT n_name, c_mktsegment, count(1) AS n,
              |  ${QueryDef.sumDecSql("c_acctbal", 2)} AS sum_bal,
              |  cast(grouping(n_name) as bigint) AS g_nation,
              |  cast(grouping(c_mktsegment) as bigint) AS g_seg
              |FROM customer JOIN nation ON c_nationkey = n_nationkey
              |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
              |ORDER BY g_nation, g_seg, n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin)
    ),
    QueryDef(
      "q_text_bigrams",
      "corpus bigram frequencies: adjacent-token 2-grams via sequence+transform, top 25 (map-side combine keeps the shuffle at distinct-bigram size)",
      (s, dir) => {
        val t = col("t")
        Tables
          .documents(s, dir)
          // materialize the split once: the lambda references the token
          // array 4x, and split() is expensive enough that CollapseProject
          // keeps the extra Project rather than duplicating it per use
          .select(tokens(col("text")).as("t"))
          .select(
            explode(
              when(
                size(t) >= 2,
                transform(
                  sequence(lit(1), size(t) - 1),
                  i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))
                )
              ).otherwise(array().cast("array<string>"))
            ).as("bigram")
          )
          .groupBy(col("bigram"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram"))
          .limit(25)
      },
      Some("""SELECT bigram, count(1) AS n FROM (
             |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
             |                               i -> t[i] || ' ' || t[i + 1])) AS bigram
             |  FROM (SELECT string_split(text, ' ') AS t FROM documents) s
             |  WHERE len(t) >= 2) x
             |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 25""".stripMargin)
    ),
    QueryDef(
      "q_text_distinct_ngrams",
      "distinct-n diversity census per source (the distinct-1/distinct-2 metric of generation-quality QA, applied as a corpus-health check: a templated or over-duplicated source shows a LOW distinct-bigram ratio long before doc-level dedup notices): unigram and bigram totals vs distinct counts and their ratios, one pass — both gram orders ride one explode as tagged structs, so the corpus scans once and the shuffle carries (source, ord, gram) keys only",
      (s, dir) =>
        Tables
          .documents(s, dir)
          .select(col("source"), tokens(col("text")).as("t"))
          .select(
            col("source"),
            expr("""explode(concat(
                   |  transform(t, x -> struct(1 as ord, x as gram)),
                   |  if(size(t) >= 2,
                   |     transform(sequence(1, size(t) - 1),
                   |       i -> struct(2 as ord, concat(element_at(t, i), ' ', element_at(t, i + 1)) as gram)),
                   |     cast(array() as array<struct<ord:int, gram:string>>))))""".stripMargin).as("g")
          )
          .select(col("source"), col("g.ord").as("ord"), col("g.gram").as("gram"))
          .filter(col("gram") =!= "")
          .groupBy(col("source"), col("ord"))
          .agg(count(lit(1)).as("n"), countDistinct(col("gram")).as("d"))
          .groupBy(col("source"))
          .agg(
            max(when(col("ord") === 1, col("n"))).as("n_uni"),
            max(when(col("ord") === 1, col("d"))).as("d_uni"),
            max(when(col("ord") === 1, col("d") / col("n"))).as("r_uni"),
            max(when(col("ord") === 2, col("n"))).as("n_bi"),
            max(when(col("ord") === 2, col("d"))).as("d_bi"),
            max(when(col("ord") === 2, col("d") / col("n"))).as("r_bi")
          )
          .orderBy(col("source")),
      Some("""WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
             |g AS (
             |  SELECT source, 1 AS ord, unnest(t) AS gram FROM toks
             |  UNION ALL
             |  SELECT source, 2 AS ord,
             |    unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1])) AS gram
             |  FROM toks WHERE len(t) >= 2),
             |a AS (
             |  SELECT source, ord, count(1) AS n, count(DISTINCT gram) AS d
             |  FROM g WHERE gram <> '' GROUP BY 1, 2)
             |SELECT source,
             |  max(CASE WHEN ord = 1 THEN n END) AS n_uni,
             |  max(CASE WHEN ord = 1 THEN d END) AS d_uni,
             |  max(CASE WHEN ord = 1 THEN d / n END) AS r_uni,
             |  max(CASE WHEN ord = 2 THEN n END) AS n_bi,
             |  max(CASE WHEN ord = 2 THEN d END) AS d_bi,
             |  max(CASE WHEN ord = 2 THEN d / n END) AS r_bi
             |FROM a GROUP BY source ORDER BY source""".stripMargin)
    ),
    QueryDef(
      "q_text_bm25",
      "BM25 document ranking (k1=1.2, b=0.75) for a fixed 3-term query — the standard retrieval scorer curation pipelines rank with (TF-IDF's production successor). Per-doc stats (dl, per-term tf) are MAP-ONLY array ops (no explode); corpus stats broadcast from one tiny aggregate; per-term scores go through decimal(18,12) casts so the cross-term sum is order-free and the DuckDB oracle hash-matches",
      (s, dir) => {
        val terms = Seq("join", "window", "query")
        val (k1, b) = (1.2, 0.75)
        def perDocOf(src: org.apache.spark.sql.DataFrame) = {
          val t = tokens(col("text"))
          src.select(
            col("doc_id") +:
              size(t).cast("long").as("dl") +:
              terms.map(term => size(filter(t, x => x === lit(term))).cast("long").as(s"tf_$term")): _*
          )
        }
        // two map-only passes over documents (stats + scoring) — same
        // two-scan budget as q_text_tfidf's n_langs; no aggregated frame is
        // referenced twice, so no lineage duplication trap
        val docs   = Tables.documents(s, dir)
        val statAggs = count(lit(1)).as("n_docs") +:
          sum(col("dl")).as("sum_dl") +:
          terms.map(term => sum(when(col(s"tf_$term") > 0, 1L).otherwise(0L)).as(s"df_$term"))
        val stats = perDocOf(docs).agg(statAggs.head, statAggs.tail: _*)
        val avgdl = col("sum_dl").cast("double") / col("n_docs")
        val score = terms
          .map { term =>
            val tf  = col(s"tf_$term").cast("double")
            val df  = col(s"df_$term").cast("double")
            val idf = log((col("n_docs").cast("double") - df + 0.5) / (df + 0.5) + 1.0)
            (idf * tf * lit(k1 + 1.0) / (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / avgdl)))
              .cast("decimal(18,12)")
          }
          .reduce(_ + _)
        perDocOf(docs)
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), col("dl"), round(score.cast("double"), 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(10)
      },
      Some {
        val terms = Seq("join", "window", "query")
        def tfSql(t: String) = s"len(list_filter(string_split(text, ' '), x -> x = '$t'))"
        val termScores = terms.map { t =>
          s"""cast(ln((n_docs - df_$t + 0.5) / (df_$t + 0.5) + 1.0) * tf_$t * 2.2
             |      / (tf_$t + 1.2 * (1 - 0.75 + 0.75 * dl / (cast(sum_dl as double) / n_docs))) as decimal(18,12))""".stripMargin
        }.mkString("(", "\n    + ", ")")
        s"""WITH perdoc AS (
           |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
           |    ${terms.map(t => s"${tfSql(t)} AS tf_$t").mkString(",\n    ")}
           |  FROM documents),
           |stats AS (
           |  SELECT count(1) AS n_docs, sum(dl) AS sum_dl,
           |    ${terms.map(t => s"sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t").mkString(",\n    ")}
           |  FROM perdoc),
           |scored AS (
           |  SELECT doc_id, dl,
           |    cast(cast($termScores as varchar) as double) AS score
           |  FROM perdoc CROSS JOIN stats)
           |SELECT doc_id, dl, round(score, 6) AS bm25
           |FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin
      }
    ),
    QueryDef(
      "q_text_tfidf",
      "TF-IDF top terms per language: corpus-level tf x ln((L+1)/(df+1)) with language as the document unit; ranked on the rounded score (raw transcendental scores can differ in the last ulp between engines)",
      (s, dir) => {
        // ONE explode: the earlier shape referenced tf three times (df and
        // n_langs re-aggregated it) and Catalyst duplicated the scan +
        // explode + aggregate subtree per reference (3 Generates, no
        // exchange reuse — measured). df is now a window over tf's own
        // output (count per word partition: tf is vocab x langs rows, tiny)
        // and n_langs comes from the documents table directly (5 values,
        // no tokenization needed) — same numbers, one token pipeline.
        val tok = Tables
          .documents(s, dir)
          .select(col("lang"), explode(tokens(col("text"))).as("word"))
        val tf = tok.groupBy(col("lang"), col("word")).agg(count(lit(1)).as("tf"))
        val nl = Tables.documents(s, dir).agg(countDistinct(col("lang")).as("n_langs"))
        val scored = tf
          .withColumn("df", count(lit(1)).over(Window.partitionBy(col("word"))))
          .crossJoin(broadcast(nl))
          .withColumn(
            "score",
            round(col("tf") * log((col("n_langs") + 1.0) / (col("df") + 1.0)), 6)
          )
        val w = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("word"))
        scored
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("lang"), col("rn"), col("word"), col("score"))
          .orderBy(col("lang"), col("rn"))
      },
      Some("""WITH tok AS (
             |  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
             |tf AS (SELECT lang, word, count(1) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT word, count(1) AS df FROM tf GROUP BY 1),
             |nl AS (SELECT count(DISTINCT lang) AS n_langs FROM tf),
             |scored AS (
             |  SELECT lang, word,
             |    round(tf * ln((n_langs + 1.0) / (df + 1.0)), 6) AS score
             |  FROM tf JOIN df USING (word) CROSS JOIN nl)
             |SELECT lang, rn, word, score FROM (
             |  SELECT lang, word, score,
             |    row_number() OVER (PARTITION BY lang ORDER BY score DESC, word) AS rn
             |  FROM scored) t
             |WHERE rn <= 3 ORDER BY lang, rn""".stripMargin)
    )
  )
}
