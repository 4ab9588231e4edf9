package graft.operators

import graft.{Artifacts, QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Dataset profiling / OLAP utility operators a training-data pipeline runs
  * before anything else: column profiles, value histograms, and time-series
  * gap-fill. All single-pass aggregations (profile), map-side bucketing
  * (histogram), or a generated-dimension left join (gap-fill) — no shape
  * that degrades at 100 TB.
  */
object Profiling {

  /** `q_drift_psi`'s (source x bucket) census, built once per fixture. */
  private val DriftCensus = Artifacts.declare("drift_psi_census", Artifacts.SessionOnly)

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_corpus_diff",
      "corpus snapshot diff (data versioning: what changed between crawl N and N+1): derive snapshot B from the fixture by deterministic drop/modify/add rules, full-outer join the two content manifests (doc_id -> md5(text)) and census added/removed/changed/unchanged. The manifests are (id, 32-byte hash) — the full-outer join moves hashes, never text; at 100 TB both snapshots live bucketed by doc_id (Sinks.writeBucketed) and the diff is a zero-shuffle co-partitioned merge",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val a    = docs.select(col("doc_id"), md5(col("text")).as("ha"))
        val b = docs
          .filter(col("doc_id") % 17 =!= 0) // dropped pages
          .select(
            col("doc_id"),
            md5(
              when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2"))) // re-crawled edits
                .otherwise(col("text"))
            ).as("hb")
          )
          .unionByName(
            docs
              .filter(col("doc_id") % 11 === 0) // newly discovered pages
              .select((col("doc_id") + 1000000L).as("doc_id"), md5(concat(lit("new "), col("text"))).as("hb"))
          )
        a.join(b, Seq("doc_id"), "full_outer")
          .select(
            when(col("ha").isNull, "added")
              .when(col("hb").isNull, "removed")
              .when(col("ha") =!= col("hb"), "changed")
              .otherwise("unchanged")
              .as("status")
          )
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("status"))
      },
      Some("""WITH a AS (SELECT doc_id, md5(text) AS ha FROM documents),
             |b AS (
             |  SELECT doc_id,
             |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS hb
             |  FROM documents WHERE doc_id % 17 <> 0
             |  UNION ALL
             |  SELECT doc_id + 1000000, md5('new ' || text) FROM documents WHERE doc_id % 11 = 0),
             |j AS (SELECT a.ha, b.hb FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
             |SELECT CASE WHEN ha IS NULL THEN 'added' WHEN hb IS NULL THEN 'removed'
             |            WHEN ha <> hb THEN 'changed' ELSE 'unchanged' END AS status,
             |  cast(count(1) as bigint) AS n
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    QueryDef(
      "q_profile_documents",
      "single-pass column profile: null/distinct/min/max per column (the pre-flight check of any ingest)",
      (s, dir) =>
        Tables
          .documents(s, dir)
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("text").isNull.cast("long")).as("null_text"),
            countDistinct(col("lang")).as("n_langs"),
            countDistinct(col("source")).as("n_sources"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id")
          ),
      Some("""SELECT count(1) AS n_rows,
             |  cast(sum(cast(text IS NULL as bigint)) as bigint) AS null_text,
             |  count(DISTINCT lang) AS n_langs,
             |  count(DISTINCT source) AS n_sources,
             |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
             |  cast(sum(n_chars) as bigint) AS sum_chars,
             |  min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM documents""".stripMargin)
    ),
    QueryDef(
      "q_skew_profile",
      "join-key skew profile: the 10 hottest keys with their frequency ratio vs a uniform key (n * n_keys / total) — the pre-flight diagnostic that decides salting/AQE-skew-join before a big join ships; one count shuffle + a broadcast 1-row global",
      (s, dir) => {
        val counts = Tables
          .events(s, dir)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"))
        val tot = counts.agg(
          sum(col("n")).cast("long").as("total"),
          count(lit(1)).as("n_keys")
        )
        counts
          .crossJoin(broadcast(tot))
          .select(
            col("user_id"),
            col("n"),
            round(col("n").cast("double") * col("n_keys") / col("total"), 6).as("skew_ratio")
          )
          .orderBy(col("n").desc, col("user_id"))
          .limit(10)
      },
      Some("""WITH counts AS (
             |  SELECT user_id, count(1) AS n FROM events GROUP BY user_id),
             |tot AS (
             |  SELECT cast(sum(n) as bigint) AS total, count(1) AS n_keys FROM counts)
             |SELECT user_id, n,
             |  round(cast(n as double) * n_keys / total, 6) AS skew_ratio
             |FROM counts CROSS JOIN tot
             |ORDER BY n DESC, user_id LIMIT 10""".stripMargin)
    ),
    QueryDef(
      "q_zorder_key",
      "z-order (Morton) layout key over (user_id, value): min/max scale each dimension to 8 bits via a broadcast 1-row global, interleave — the multi-column file-skipping key Sinks.compact(zorderCols) lays data out by; per-key census proves the arithmetic matches DuckDB bit-for-bit",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val stats = ev.agg(
          min(col("user_id").cast("double")).as("lo_u"),
          max(col("user_id").cast("double")).as("hi_u"),
          min(col("value")).as("lo_v"),
          max(col("value")).as("hi_v")
        )
        val k = 255L
        def scaled(c: org.apache.spark.sql.Column, lo: String, hi: String) =
          floor((c.cast("double") - col(lo)) * k / greatest(col(hi) - col(lo), lit(1e-12))).cast("long")
        ev.crossJoin(broadcast(stats))
          .withColumn(
            "z",
            graft.sources.Sinks.zorderKey(
              Seq(scaled(col("user_id"), "lo_u", "hi_u"), scaled(col("value"), "lo_v", "hi_v")),
              bits = 8
            )
          )
          .groupBy((col("z") / 256).cast("long").as("z_block"))
          .agg(count(lit(1)).as("n"), min(col("z")).as("z_min"), max(col("z")).as("z_max"))
          .orderBy(col("z_block"))
      }, {
        def bitsSql(s: String, j: Int) =
          (0 until 8).map(i => s"((($s >> $i) & 1) << ${2 * i + j})").mkString(" | ")
        Some(s"""WITH stats AS (
                |  SELECT min(cast(user_id as double)) AS lo_u, max(cast(user_id as double)) AS hi_u,
                |         min(value) AS lo_v, max(value) AS hi_v
                |  FROM events),
                |scaled AS (
                |  SELECT
                |    cast(floor((cast(user_id as double) - lo_u) * 255 / greatest(hi_u - lo_u, 1e-12)) as bigint) AS su,
                |    cast(floor((value - lo_v) * 255 / greatest(hi_v - lo_v, 1e-12)) as bigint) AS sv
                |  FROM events CROSS JOIN stats),
                |zed AS (SELECT (${bitsSql("su", 0)}) | (${bitsSql("sv", 1)}) AS z FROM scaled)
                |SELECT cast(z // 256 as bigint) AS z_block, count(1) AS n,
                |  min(z) AS z_min, max(z) AS z_max
                |FROM zed GROUP BY 1 ORDER BY z_block""".stripMargin)
      }
    ),
    QueryDef(
      "q_histogram",
      "fixed-width value histogram (Pinot HISTOGRAM shape): map-side bucketing, one tiny shuffle",
      (s, dir) => {
        val lo = 900.0
        val w  = 10000.0
        val bucket = least(greatest(floor((col("l_extendedprice") - lo) / w), lit(0.0)), lit(10.0))
          .cast("long")
        Tables
          .lineitem(s, dir)
          .groupBy(bucket.as("bucket"))
          .agg(
            count(lit(1)).as("n"),
            min(col("l_extendedprice")).as("min_v"),
            max(col("l_extendedprice")).as("max_v")
          )
          .orderBy(col("bucket"))
      },
      Some("""SELECT cast(least(greatest(floor((l_extendedprice - 900.0) / 10000.0), 0.0), 10.0) as bigint) AS bucket,
             |  count(1) AS n, min(l_extendedprice) AS min_v, max(l_extendedprice) AS max_v
             |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin)
    ),
    QueryDef(
      "q_bucketize",
      "equi-depth bucketing (feature discretization): quartile boundaries from ONE array-percentile pass (3 doubles, broadcast), then map-side bucket assignment + tiny shuffle — the 100 TB-safe alternative to a global ntile(4) sort, which would serialize the whole table through one window partition",
      (s, dir) => {
        graft.functions.ExactPercentiles.register(s)
        val li = Tables.lineitem(s, dir)
        val bounds = li
          .agg(expr("exact_percentiles(l_extendedprice, 0.25D, 0.5D, 0.75D)").as("ps"))
          .select(
            round(col("ps")(0), 4).as("q1"),
            round(col("ps")(1), 4).as("q2"),
            round(col("ps")(2), 4).as("q3")
          )
        li.join(broadcast(bounds))
          .withColumn(
            "bucket",
            when(col("l_extendedprice") <= col("q1"), 1L)
              .when(col("l_extendedprice") <= col("q2"), 2L)
              .when(col("l_extendedprice") <= col("q3"), 3L)
              .otherwise(4L)
          )
          .groupBy(col("bucket"))
          .agg(
            count(lit(1)).as("n"),
            min(col("l_extendedprice")).as("min_v"),
            max(col("l_extendedprice")).as("max_v")
          )
          .orderBy(col("bucket"))
      },
      Some("""WITH b AS (
             |  SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
             |         round(quantile_cont(l_extendedprice, 0.5), 4) AS q2,
             |         round(quantile_cont(l_extendedprice, 0.75), 4) AS q3
             |  FROM lineitem)
             |SELECT cast(CASE WHEN l_extendedprice <= q1 THEN 1
             |            WHEN l_extendedprice <= q2 THEN 2
             |            WHEN l_extendedprice <= q3 THEN 3 ELSE 4 END as bigint) AS bucket,
             |  count(1) AS n, min(l_extendedprice) AS min_v, max(l_extendedprice) AS max_v
             |FROM lineitem, b GROUP BY 1 ORDER BY bucket""".stripMargin)
    ),
    QueryDef(
      "q_pivot",
      "PIVOT: language x source counts as a wide table (conditional aggregation; Catalyst plans one pass)",
      (s, dir) => {
        val srcs = Seq("src0", "src1", "src2", "src3")
        Tables
          .documents(s, dir)
          .groupBy(col("lang"))
          .pivot("source", srcs)
          .agg(count(lit(1)))
          .na.fill(0L, srcs)
          .orderBy(col("lang"))
      },
      Some("""SELECT lang,
             |  count(1) FILTER (source = 'src0') AS src0,
             |  count(1) FILTER (source = 'src1') AS src1,
             |  count(1) FILTER (source = 'src2') AS src2,
             |  count(1) FILTER (source = 'src3') AS src3
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    QueryDef(
      "q_unpivot",
      "UNPIVOT/melt: lineitem metric columns to (metric, value) rows via stack()",
      (s, dir) =>
        Tables
          .lineitem(s, dir)
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            expr("stack(3, 'quantity', l_quantity, 'price', l_extendedprice, 'discount', l_discount) AS (metric, val)")
          )
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
          .limit(600),
      Some("""SELECT l_orderkey, l_linenumber, metric, val FROM (
             |  SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val FROM lineitem
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem) t
             |ORDER BY l_orderkey, l_linenumber, metric LIMIT 600""".stripMargin)
    ),
    QueryDef(
      "q_stat_corr",
      "bivariate statistics: correlation and sample covariance per group (parallel-order-sensitive -> rounded)",
      (s, dir) =>
        Tables
          .lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
            round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qty_price"),
            count(lit(1)).as("n")
          )
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
             |  round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
             |  count(1) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),
    QueryDef(
      "q_outlier_iqr",
      "IQR-fence outlier census per group (data-quality preflight): exact interpolated quartiles (engine-identical, q_percentile precedent), Tukey fences, outlier counts",
      (s, dir) => {
        graft.functions.ExactPercentiles.register(s)
        val quart = Tables
          .lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          // single array-percentile pass (see q_percentile)
          .agg(expr("exact_percentiles(l_extendedprice, 0.25D, 0.75D)").as("ps"))
          .select(col("l_returnflag"), col("ps")(0).as("p25"), col("ps")(1).as("p75"))
          .withColumn("lo_fence", col("p25") - (col("p75") - col("p25")) * 1.5)
          .withColumn("hi_fence", col("p75") + (col("p75") - col("p25")) * 1.5)
        Tables
          .lineitem(s, dir)
          .join(broadcast(quart), "l_returnflag")
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum((col("l_extendedprice") < col("lo_fence")).cast("long")).cast("long").as("n_low"),
            sum((col("l_extendedprice") > col("hi_fence")).cast("long")).cast("long").as("n_high"),
            round(min(col("hi_fence")), 4).as("hi_fence_r")
          )
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH quart AS (
             |  SELECT l_returnflag,
             |    quantile_cont(l_extendedprice, 0.25) AS p25,
             |    quantile_cont(l_extendedprice, 0.75) AS p75
             |  FROM lineitem GROUP BY l_returnflag),
             |fences AS (
             |  SELECT l_returnflag,
             |    p25 - (p75 - p25) * 1.5 AS lo_fence,
             |    p75 + (p75 - p25) * 1.5 AS hi_fence
             |  FROM quart)
             |SELECT l.l_returnflag, count(1) AS n,
             |  cast(sum(cast(l_extendedprice < lo_fence as bigint)) as bigint) AS n_low,
             |  cast(sum(cast(l_extendedprice > hi_fence as bigint)) as bigint) AS n_high,
             |  round(min(hi_fence), 4) AS hi_fence_r
             |FROM lineitem l JOIN fences f ON l.l_returnflag = f.l_returnflag
             |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin)
    ),
    QueryDef(
      "q_outlier_mad",
      "MAD-fence outlier census per group — the ROBUST twin of q_outlier_iqr (median absolute deviation tolerates up to 50% contamination where the IQR fence degrades at 25%; the 1.4826 factor scales MAD to sigma-equivalence under normality, so the 3-MAD fence reads like a 3-sigma rule that outliers can't drag): exact interpolated medians in two passes (value median, then deviation median — the second is ORDER-dependent on the first, so two passes is the lower bound), then a broadcast-fence census over the long-tailed events.value (~5% of each type sits beyond the 3-MAD fence at this fixture, so the counting arm is exercised — a 0-outlier column would hide a broken fence). All medians are the engine-identical exact_percentiles/quantile_cont pair (q_percentile precedent); the fence multiply keeps one operand order in both engines",
      (s, dir) => {
        graft.functions.ExactPercentiles.register(s)
        val med = Tables
          .events(s, dir)
          .groupBy(col("event_type"))
          .agg(expr("exact_percentiles(value, 0.5D)")(0).as("med"))
        val dev = Tables
          .events(s, dir)
          .join(broadcast(med), "event_type")
          .groupBy(col("event_type"))
          .agg(expr("exact_percentiles(abs(value - med), 0.5D)")(0).as("mad"))
        val st = med
          .join(dev, "event_type")
          .withColumn("thr", col("mad") * lit(3.0) * lit(1.4826))
        Tables
          .events(s, dir)
          .join(broadcast(st), "event_type")
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum((abs(col("value") - col("med")) > col("thr")).cast("long"))
              .cast("long")
              .as("n_outliers"),
            round(min(col("med")), 4).as("med_r"),
            round(min(col("mad")), 4).as("mad_r")
          )
          .orderBy(col("event_type"))
      },
      Some("""WITH med AS (
             |  SELECT event_type, quantile_cont("value", 0.5) AS med
             |  FROM events GROUP BY 1),
             |dev AS (
             |  SELECT e.event_type, quantile_cont(abs(e."value" - m.med), 0.5) AS mad
             |  FROM events e JOIN med m USING (event_type) GROUP BY 1),
             |st AS (
             |  SELECT med.event_type, med.med, dev.mad, dev.mad * 3.0 * 1.4826 AS thr
             |  FROM med JOIN dev USING (event_type))
             |SELECT e.event_type, count(1) AS n,
             |  cast(sum(cast(abs(e."value" - st.med) > st.thr as bigint)) as bigint) AS n_outliers,
             |  round(min(st.med), 4) AS med_r,
             |  round(min(st.mad), 4) AS mad_r
             |FROM events e JOIN st USING (event_type)
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    QueryDef(
      "q_drift_psi",
      "distribution-drift monitor: per-source Population Stability Index of the doc-length distribution vs the whole corpus (the between-snapshot check a training pipeline runs on every new crawl; PSI > 0.2 conventionally flags actionable drift). Fixed-width capped buckets, Laplace 0.5-smoothing so empty buckets contribute their full drift term instead of a log(0); each term is cast to decimal(18,12) before the per-source sum so the <=10-term addition is order-independent and hash-matches the oracle",
      (s, dir) => {
        // ONE documents scan: every downstream frame re-aggregates the
        // tiny (source x bucket) census — deriving cb/tot straight from
        // the scan would duplicate it per reference (the repo's
        // reference-an-unmaterialized-frame-once rule; PlanSpec pins the
        // single scan)
        val sb = Artifacts.get(s, dir, DriftCensus) {
          Tables
            .documents(s, dir)
            .select(col("source"), least(lit(9L), expr("n_chars div 200")).as("bkt"))
            .groupBy(col("source"), col("bkt"))
            .agg(count(lit(1)).as("n_sb"))
        }
        val srcTot = sb.groupBy(col("source")).agg(sum(col("n_sb")).as("n_s"))
        val cb     = sb.groupBy(col("bkt")).agg(sum(col("n_sb")).as("n_b"))
        val tot    = sb.agg(sum(col("n_sb")).as("n"))
        // grid: every (source x observed bucket), so a source MISSING a
        // bucket the corpus has still pays that bucket's drift term —
        // that absence IS the drift signal. Buckets/sources are small
        // (<=10 x n_sources); the doc table itself never joins.
        val p = (coalesce(col("n_sb"), lit(0L)) + lit(0.5)) / (col("n_s") + lit(5.0))
        val q = (col("n_b") + lit(0.5)) / (col("n") + lit(5.0))
        srcTot
          .crossJoin(broadcast(cb))
          .crossJoin(broadcast(tot))
          .join(sb, Seq("source", "bkt"), "left_outer")
          .select(col("source"), col("n_s"), ((p - q) * log(p / q)).cast("decimal(18,12)").as("term"))
          .groupBy(col("source"), col("n_s"))
          .agg(round(sum(col("term")).cast("double"), 6).as("psi"))
          .select(col("source"), col("n_s").cast("long").as("n_docs"), col("psi"))
          .orderBy(col("source"))
      },
      Some("""WITH b AS (SELECT source, least(9, n_chars // 200) AS bkt FROM documents),
             |sb AS (SELECT source, bkt, count(1) AS n_sb FROM b GROUP BY 1, 2),
             |st AS (SELECT source, count(1) AS n_s FROM b GROUP BY 1),
             |cb AS (SELECT bkt, count(1) AS n_b FROM b GROUP BY 1),
             |tot AS (SELECT count(1) AS n FROM b),
             |terms AS (
             |  SELECT st.source, st.n_s,
             |    cast(
             |      (((coalesce(sb.n_sb, 0) + 0.5) / (st.n_s + 5.0))
             |        - ((cb.n_b + 0.5) / (tot.n + 5.0)))
             |      * ln(((coalesce(sb.n_sb, 0) + 0.5) / (st.n_s + 5.0))
             |           / ((cb.n_b + 0.5) / (tot.n + 5.0)))
             |      as decimal(18,12)) AS term
             |  FROM st CROSS JOIN cb CROSS JOIN tot
             |  LEFT JOIN sb ON sb.source = st.source AND sb.bkt = cb.bkt)
             |SELECT source, cast(n_s as bigint) AS n_docs,
             |  round(cast(cast(sum(term) as varchar) as double), 6) AS psi
             |FROM terms GROUP BY source, n_s ORDER BY source""".stripMargin)
    ),
    QueryDef(
      "q_event_gapfill",
      "time-series resample with gap-fill: hourly counts left-joined onto a generated dense hour dimension (zero for silent hours)",
      (s, dir) => {
        val ev = Tables
          .events(s, dir)
          .select((unix_timestamp(col("ts")).cast("long") / 3600).cast("long").as("hour_n"), col("value"))
        val agg = ev
          .groupBy(col("hour_n"))
          .agg(count(lit(1)).as("n"), QueryDef.sumScaled(col("value"), 2).as("sum_value"))
        val bounds = ev.agg(min(col("hour_n")).as("lo"), max(col("hour_n")).as("hi"))
        val hours = bounds.select(explode(sequence(col("lo"), col("hi"))).as("hour_n"))
        hours
          .join(agg, Seq("hour_n"), "left_outer")
          .select(
            (col("hour_n") * 3600).as("hour_start_s"),
            coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("sum_value"), lit(0.0)).as("sum_value")
          )
          .orderBy(col("hour_start_s"))
      },
      Some(s"""WITH ev AS (
              |  SELECT cast(floor(epoch(ts)) as bigint) // 3600 AS hour_n, "value"
              |  FROM events),
              |agg AS (
              |  SELECT hour_n, count(1) AS n,
              |    ${QueryDef.sumDecSql("\"value\"", 2)} AS sum_value
              |  FROM ev GROUP BY hour_n),
              |bounds AS (SELECT min(hour_n) AS lo, max(hour_n) AS hi FROM ev),
              |hours AS (SELECT unnest(generate_series(lo, hi)) AS hour_n FROM bounds)
              |SELECT hours.hour_n * 3600 AS hour_start_s,
              |  coalesce(agg.n, 0) AS n,
              |  coalesce(agg.sum_value, 0.0) AS sum_value
              |FROM hours LEFT JOIN agg ON hours.hour_n = agg.hour_n
              |ORDER BY hour_start_s""".stripMargin)
    ),
    ksDriftDef
  )

  /** Exact two-sample KS over any (g ∈ {0,1}, v) membership frame — the
    * `q_drift_ks` body, exposed so the spec can plant distributions with
    * hand-computable D. Integer argmax of |cum1·n2 − cum2·n1| over the
    * value-grain frame, smallest value on ties, ONE final IEEE division.
    */
  private[graft] def ksDrift(m: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = m
      .groupBy(col("v"))
      .agg(sum(col("g")).as("c1"), sum(lit(1L) - col("g")).as("c2"))
    val tot = cnt.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val w   = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)
    cnt
      .withColumn("k1", sum(col("c1")).over(w))
      .withColumn("k2", sum(col("c2")).over(w))
      .crossJoin(broadcast(tot))
      .select(
        col("v"),
        col("n1"),
        col("n2"),
        abs(col("k1") * col("n2") - col("k2") * col("n1")).as("d_num"))
      .orderBy(col("d_num").desc, col("v"))
      .limit(1)
      .select(
        col("n1"),
        col("n2"),
        col("v").as("at_value"),
        col("d_num"),
        (col("d_num").cast("double") / (col("n1") * col("n2")).cast("double")).as("ks"))
  }

  // lazy: referenced by `defs` above, which initializes first — a strict
  // val here would be null inside the Seq (object-init order)
  private[graft] lazy val ksDriftDef: QueryDef =
    QueryDef(
      "q_drift_ks",
      "two-sample KOLMOGOROV-SMIRNOV drift test (the nonparametric companion to q_drift_psi: PSI needs a bucketing choice, KS reads the raw empirical CDFs): D = max_v |F1(v) - F2(v)| between the English and non-English doc-length (n_chars) distributions, computed EXACTLY as the integer argmax of |cum1*n2 - cum2*n1| over the value-grain frame (the common-denominator form — no per-value division, no float until ONE final d/(n1*n2)), ties to the smallest value. The cumulative window runs on the POST-AGGREGATION distinct-value frame (value-grain, the q_drift_psi exception class), never the doc stream. Int64 bound: |cum*n| <= n1*n2 stays exact below ~3e9 docs per cohort — past that, quantize the metric to capped buckets (the PSI treatment) or KS a deterministic hash-sample. Output: cohort sizes, the argmax value, the exact integer numerator, and D",
      (s, dir) =>
        ksDrift(
          Tables
            .documents(s, dir)
            .select(
              when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("g"),
              col("n_chars").as("v"))),
      Some("""WITH m AS (
             |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g, n_chars AS v FROM documents),
             |cnt AS (
             |  SELECT v, cast(sum(g) as bigint) AS c1, cast(sum(1 - g) as bigint) AS c2
             |  FROM m GROUP BY 1),
             |tot AS (SELECT cast(sum(c1) as bigint) AS n1, cast(sum(c2) as bigint) AS n2 FROM cnt),
             |cum AS (
             |  SELECT v,
             |    cast(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS k1,
             |    cast(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS k2
             |  FROM cnt),
             |best AS (
             |  SELECT n1, n2, v AS at_value, cast(abs(k1 * n2 - k2 * n1) as bigint) AS d_num
             |  FROM cum CROSS JOIN tot
             |  ORDER BY d_num DESC, v LIMIT 1)
             |SELECT n1, n2, at_value, d_num,
             |  cast(d_num as double) / cast(n1 * n2 as double) AS ks
             |FROM best""".stripMargin)
    )
}
