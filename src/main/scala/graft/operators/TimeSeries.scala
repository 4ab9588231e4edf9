package graft.operators

import graft.{Artifacts, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series diagnostics over the event stream: autocorrelation,
  * CUSUM changepoint detection, and seasonal-naive forecast evaluation —
  * the monitoring layer an ingestion pipeline runs over its own volume
  * curves (ingest-rate seasonality, regime shifts after a deploy, "is
  * today's volume explainable by last week's").
  *
  * Scale design: every query aggregates events to the SERIES GRAIN first
  * (one shuffle: groupBy day or (event_type, day) with map-side partial
  * counts — the only pass over the raw stream), and the series math runs
  * on the days-sized frame. Global-order windows therefore act on
  * hundreds-to-thousands of rows regardless of corpus size — the
  * documented exception to the no-global-window rule (same as the
  * post-aggregation windows in q_drift_psi/q_event_gapfill). CUSUM stays
  * in INTEGER space (n*prefix - t*total) so the argmax needs no rounding
  * at all; ACF wraps `corr` in round(6) like q_stat_corr (moment merges
  * are order-sensitive); forecast errors are integer sums (percentage
  * errors as floor'd picounits), emitted through deterministic raw
  * divisions — round() never touches a rational.
  *
  * The day grid is DENSIFIED before any lag/prefix math: a day with zero
  * events is a real observation (cnt = 0), and a row-based lag over only
  * the OBSERVED days would silently misalign every subsequent lag-k pair
  * — lag-7 would stop meaning "one week earlier" after the first quiet
  * day. The grid explode is bounded by the observation window, not the
  * corpus.
  */
object TimeSeries {

  private def day = (unix_timestamp(col("ts")) / 86400).cast("long").as("day")

  /** Holt double-exponential smoothing, made ENGINE-EXACT by unrolling the
    * recursion into literal dyadic weights: with α = 1/2, β = 1/4 and the
    * standard init (l₀ = x₀, b₀ = x₁ − x₀), the level/trend recursion
    *   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1});  b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    * is LINEAR in the observations, so l_K, b_K and the h-step forecast
    * l_K + h·b_K are exact rational combinations Σ W_k·x_k / 2^E whose
    * integer numerators this block derives ONCE (exact BigInt dyadic
    * arithmetic over coefficient vectors) and both engines consume as the
    * SAME literals — a recursive float Holt accumulates order-dependent
    * rounding that can never hash-match cross-engine (the EWMA dyadic
    * discipline, extended to a trend term). K = [[HoltSteps]] smoothing
    * steps over the last K+1 dense days.
    */
  private[graft] val HoltSteps = 8

  private[graft] val (holtLevelW, holtTrendW, holtForecastW, holtExp) = {
    type C = (BigInt, Int) // num / 2^exp
    val zero: C = (BigInt(0), 0)
    def plus(a: C, b: C): C = {
      val e = math.max(a._2, b._2)
      ((a._1 << (e - a._2)) + (b._1 << (e - b._2)), e)
    }
    def minus(a: C, b: C): C = plus(a, (-b._1, b._2))
    def shr(a: C, bits: Int): C = (a._1, a._2 + bits)
    type V = Vector[C]
    def unit(t: Int): V =
      Vector.tabulate(HoltSteps + 1)(k => if (k == t) (BigInt(1), 0) else zero)
    def vplus(a: V, b: V): V  = a.lazyZip(b).map(plus)
    def vminus(a: V, b: V): V = a.lazyZip(b).map(minus)
    var l: V = unit(0)
    var b: V = vminus(unit(1), unit(0))
    for (t <- 1 to HoltSteps) {
      val lPrev = l
      l = vplus(unit(t), vplus(lPrev, b)).map(shr(_, 1))                         // ½·x_t + ½(l+b)
      b = vplus(vminus(l, lPrev).map(shr(_, 2)), b.map(c => shr((c._1 * 3, c._2), 2))) // ¼Δl + ¾b
    }
    val f = vplus(l, b.map(c => (c._1 * 3, c._2))) // 3-step-ahead: l + 3b
    val e = (l ++ b ++ f).map(_._2).max
    // the scaled window sum stays an EXACT double for counts up to
    // ~2^53 / 2^(e+2); e is a literal, so this is a compile-time contract
    require(e <= 30, s"holt weight denominator 2^$e grew past the exactness budget")
    def ints(v: V): Seq[Long] = v.map { case (n, ex) => (n << (e - ex)).bigInteger.longValueExact() }
    (ints(l), ints(b), ints(f), e)
  }

  /** Gap-fill an observed `(keys..., day, cnt)` frame to the dense
    * [min day, max day] grid (per key combination when `keys` is
    * non-empty), absent cells becoming genuine zeros. `d0` is tiny
    * (series-grain) and read three times (the bounds, the key set, and
    * the left join), so callers pass a pinned artifact. ONE
    * implementation for every series query: a grid fix applied here
    * cannot silently diverge a sibling.
    */
  private def dense(d0: org.apache.spark.sql.DataFrame, keys: Seq[String]) = {
    val grid = d0
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val cells =
      if (keys.isEmpty) grid
      else d0.select(keys.map(col): _*).distinct().crossJoin(broadcast(grid))
    cells
      .join(d0, keys :+ "day", "left")
      .select(keys.map(col) ++ Seq(col("day"), coalesce(col("cnt"), lit(0L)).as("cnt")): _*)
  }

  /** The observed series every series query densifies, built once per
    * fixture: daily event counts, per-type daily counts, and the sparse
    * cohort revenue series of `q_ts_interp`.
    */
  private val DailyCounts     = Artifacts.declare("ts_daily_counts", Artifacts.SessionOnly)
  private val TypeDailyCounts = Artifacts.declare("ts_type_daily_counts", Artifacts.SessionOnly)
  private val InterpObserved  = Artifacts.declare("ts_interp_observed", Artifacts.SessionOnly)

  /** Dense daily counts over [min day, max day]. */
  private def denseDaily(s: org.apache.spark.sql.SparkSession, dir: String) =
    dense(
      Artifacts.get(s, dir, DailyCounts)(
        Tables.events(s, dir).select(day).groupBy(col("day")).agg(count(lit(1)).as("cnt"))),
      Seq.empty
    )

  /** Dense per-event-type daily counts over each type's [min, max] day. */
  private def denseByType(s: org.apache.spark.sql.SparkSession, dir: String) =
    dense(
      Artifacts.get(s, dir, TypeDailyCounts)(
        Tables
          .events(s, dir)
          .select(col("event_type"), day)
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("cnt"))),
      Seq("event_type")
    )

  /** Shared oracle CTE chain ending in dense `d(day, cnt)`. */
  private val denseDailySql =
    """d0 AS (
      |  SELECT cast(floor(epoch(ts)) as bigint) // 86400 AS day,
      |    cast(count(1) as bigint) AS cnt
      |  FROM events GROUP BY 1),
      |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d0),
      |grid AS (SELECT unnest(generate_series(b.lo, b.hi)) AS day FROM b),
      |d AS (SELECT grid.day, coalesce(d0.cnt, 0) AS cnt
      |      FROM grid LEFT JOIN d0 USING (day))""".stripMargin

  /** Linear-interpolation gap-fill of a SPARSE measurement series — the
    * `q_ts_interp` body over any (day, vc) observed frame with vc the
    * day's measurement in integer cents. Missing interior days get the
    * exact-integer linear interpolation between the bracketing
    * observations:
    *
    *   interp = (prev·(next_day − day) + next·(day − prev_day)) div span
    *
    * — the CONVEX-COMBINATION form, whose numerator is non-negative for
    * non-negative series, so Spark's truncating `div` and DuckDB's
    * floor `//` agree (the established floor-division discipline; the
    * naive `prev + Δ·frac` form has a sign-indefinite numerator where
    * the two engines' integer divisions round differently). The grid is
    * bounded by the OBSERVED min/max day, so every gap is interior and
    * prev/next always exist. Carry-forward/backward scaffolding rides
    * two IGNORE-NULLS running windows over the days-sized frame (the
    * documented post-aggregation exception to the no-global-window
    * rule). Zero floating point until the final cents-to-double readout.
    * `d0` is read twice (the bounds and the left join): callers with a
    * scan-backed series pass a pinned frame.
    */
  private[graft] def interpSeries(d0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val grid = d0
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val wPrev = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.orderBy(col("day")).rowsBetween(0, Window.unboundedFollowing)
    grid
      .join(d0, Seq("day"), "left")
      .withColumn("pv", last(col("vc"), ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(when(col("vc").isNotNull, col("day")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("vc"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(when(col("vc").isNotNull, col("day")), ignoreNulls = true).over(wNext))
      .select(
        col("day"),
        when(col("vc").isNotNull, lit(1L)).otherwise(lit(0L)).as("observed"),
        when(col("vc").isNotNull, col("vc"))
          .otherwise(
            expr("(pv * (nd - day) + nv * (day - pd)) div (nd - pd)")
          )
          .cast("long")
          .as("value_cents")
      )
      .withColumn("value", col("value_cents").cast("double") / 100.0)
      .orderBy(col("day"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_ts_interp",
      "LINEAR-INTERPOLATION gap-fill of a sparse daily measurement series (the metric-imputation twin of the zero-fill gap queries — a missing day in a MEASUREMENT series is unknown, not zero): daily purchase revenue of a sparse user cohort (user_id % 101 = 7) in integer cents, densified to the observed [min, max] day grid, with each missing interior day linearly interpolated between its bracketing observations as EXACT INTEGER arithmetic — interp = (prev*(next_day - day) + next*(day - prev_day)) div span, the convex-combination form whose non-negative numerator makes Spark div and DuckDB // agree (floor-division discipline) — no float until the final cents/100 readout. Carry scaffolding is two IGNORE-NULLS running windows over the days-sized post-aggregation frame. Output per day: observed flag, cents, value",
      (s, dir) =>
        interpSeries(
          Artifacts.get(s, dir, InterpObserved)(
            Tables
              .events(s, dir)
              .filter(col("event_type") === "purchase" && pmod(col("user_id"), lit(101)) === 7)
              .groupBy(day)
              .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("vc")))
        ),
      Some("""WITH obs AS (
             |  SELECT cast(floor(epoch(ts)) as bigint) // 86400 AS day,
             |    cast(sum(cast(floor("value" * 100 + 0.5) as bigint)) as bigint) AS vc
             |  FROM events WHERE event_type = 'purchase' AND user_id % 101 = 7 GROUP BY 1),
             |b AS (SELECT min(day) AS lo, max(day) AS hi FROM obs),
             |grid AS (SELECT unnest(generate_series(b.lo, b.hi)) AS day FROM b),
             |j AS (SELECT grid.day, obs.vc FROM grid LEFT JOIN obs USING (day)),
             |f AS (
             |  SELECT day, vc,
             |    last_value(vc IGNORE NULLS) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             |    last_value(CASE WHEN vc IS NOT NULL THEN day END IGNORE NULLS) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             |    first_value(vc IGNORE NULLS) OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             |    first_value(CASE WHEN vc IS NOT NULL THEN day END IGNORE NULLS) OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
             |  FROM j)
             |SELECT day,
             |  cast(CASE WHEN vc IS NOT NULL THEN 1 ELSE 0 END as bigint) AS observed,
             |  cast(CASE WHEN vc IS NOT NULL THEN vc
             |       ELSE (pv * (nd - day) + nv * (day - pd)) // (nd - pd) END as bigint) AS value_cents,
             |  cast(cast(CASE WHEN vc IS NOT NULL THEN vc
             |       ELSE (pv * (nd - day) + nv * (day - pd)) // (nd - pd) END as bigint) as double) / 100.0 AS value
             |FROM f ORDER BY day""".stripMargin)
    ),
    QueryDef(
      "q_ts_acf",
      "autocorrelation function of the daily event-count series at lags 1..7: one groupBy to the day grain, gap-filled to the dense day grid (a quiet day is a real zero — without it every lag-k pair after a gap misaligns), one global-order window adding the 7 lag columns (days-sized frame), Pearson corr per lag (null pairs skipped identically in both engines), rounded 6. Lag-7 spikes reveal weekly seasonality; a slow decay reveals trend — the standard pre-forecast readout",
      (s, dir) => {
        val d = denseDaily(s, dir)
        val w = Window.orderBy(col("day"))
        val l = d.select(
          col("cnt") +: (1 to 7).map(k => lag(col("cnt"), k).over(w).as(s"l$k")): _*
        )
        val a = l.agg(
          round(corr(col("cnt"), col("l1")), 6).as("a1"),
          (2 to 7).map(k => round(corr(col("cnt"), col(s"l$k")), 6).as(s"a$k")): _*
        )
        a.select(
          explode(
            array((1 to 7).map(k => struct(lit(k.toLong).as("lag"), col(s"a$k").as("acf"))): _*)
          ).as("e")
        ).select(col("e.lag").as("lag"), col("e.acf").as("acf"))
          .orderBy(col("lag"))
      },
      Some(s"""WITH $denseDailySql,
             |l AS (
             |  SELECT cnt,
             |    lag(cnt, 1) OVER (ORDER BY day) AS l1, lag(cnt, 2) OVER (ORDER BY day) AS l2,
             |    lag(cnt, 3) OVER (ORDER BY day) AS l3, lag(cnt, 4) OVER (ORDER BY day) AS l4,
             |    lag(cnt, 5) OVER (ORDER BY day) AS l5, lag(cnt, 6) OVER (ORDER BY day) AS l6,
             |    lag(cnt, 7) OVER (ORDER BY day) AS l7
             |  FROM d),
             |a AS (SELECT round(corr(cnt, l1), 6) AS a1, round(corr(cnt, l2), 6) AS a2,
             |  round(corr(cnt, l3), 6) AS a3, round(corr(cnt, l4), 6) AS a4,
             |  round(corr(cnt, l5), 6) AS a5, round(corr(cnt, l6), 6) AS a6,
             |  round(corr(cnt, l7), 6) AS a7 FROM l)
             |SELECT * FROM (
             |  SELECT cast(1 as bigint) AS lag, a1 AS acf FROM a
             |  UNION ALL SELECT 2, a2 FROM a UNION ALL SELECT 3, a3 FROM a
             |  UNION ALL SELECT 4, a4 FROM a UNION ALL SELECT 5, a5 FROM a
             |  UNION ALL SELECT 6, a6 FROM a UNION ALL SELECT 7, a7 FROM a) x
             |ORDER BY lag""".stripMargin)
    ),
    QueryDef(
      "q_ts_cusum",
      "CUSUM changepoint detection on the dense daily event-count series (quiet days are real zeros — a regime shift TO silence is exactly what CUSUM must catch): S_t = prefix_t - t*mean, changepoint = argmax |S_t|. Kept ENTIRELY in integer space (n*prefix_t - t*total — the mean never materializes as a double), so the argmax is exact with no rounding anywhere; only the reported magnitude divides back by n at the end. One shuffle to the day grain, days-sized windows, 1-row output",
      (s, dir) => {
        val d = denseDaily(s, dir)
        val t = d.agg(count(lit(1)).as("n"), sum(col("cnt")).as("total"))
        val w = Window.orderBy(col("day"))
        val p = d.select(
          col("day"),
          sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("prefix"),
          row_number().over(w).cast("long").as("t_idx")
        )
        p.crossJoin(broadcast(t))
          .select(
            col("day"),
            col("n"),
            col("total"),
            abs(col("n") * col("prefix") - col("t_idx") * col("total")).as("absn")
          )
          .orderBy(col("absn").desc, col("day"))
          .limit(1)
          .select(
            col("n").as("n_days"),
            col("total").as("total_events"),
            col("day").as("cp_day"),
            // exact integer / integer, one IEEE division, emitted raw
            (col("absn").cast("double") / col("n")).as("max_abs_cusum")
          )
      },
      Some(s"""WITH $denseDailySql,
             |t AS (SELECT cast(count(1) as bigint) AS n, cast(sum(cnt) as bigint) AS total FROM d),
             |p AS (
             |  SELECT day,
             |    cast(sum(cnt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) as bigint) AS prefix,
             |    cast(row_number() OVER (ORDER BY day) as bigint) AS t_idx
             |  FROM d)
             |SELECT t.n AS n_days, t.total AS total_events, p.day AS cp_day,
             |  abs(t.n * p.prefix - p.t_idx * t.total) / cast(t.n as double) AS max_abs_cusum
             |FROM p CROSS JOIN t
             |ORDER BY abs(t.n * p.prefix - p.t_idx * t.total) DESC, p.day LIMIT 1""".stripMargin)
    ),
    QueryDef(
      "q_ts_forecast",
      "seasonal-naive forecast evaluation per event type: predict day t's count with the count at day t-7 (the standard do-no-harm baseline every real forecaster must beat), scored MAE + MAPE over the evaluable days of the DENSE per-type day grid — without gap-filling, one quiet (event_type, day) cell would shift every later lag-7 pair off its weekday. MAE covers all eval days (zeros included); MAPE only days with a nonzero actual (the standard MAPE domain). BOTH metrics stay in integer space until one final division chain (per-day percentage errors as floor'd picounits — the CUSUM discipline), so every emitted value is a raw deterministic double, never round()ed",
      (s, dir) => {
        val d = denseByType(s, dir)
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        d.select(col("event_type"), col("cnt"), lag(col("cnt"), 7).over(w).as("pred"))
          .filter(col("pred").isNotNull)
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_eval"),
            // integer error sum / exact count: raw (rule 2)
            (sum(abs(col("cnt") - col("pred"))).cast("double") / count(lit(1))).as("mae"),
            // per-day APE as an integer picounit (|err|*1e12 div cnt) —
            // exact, order-free; the final two IEEE divisions are spelled
            // identically in the oracle, so the raw double matches
            (sum(when(col("cnt") > 0, expr("(abs(cnt - pred) * 1000000000000) div cnt")))
              .cast("double") / sum(when(col("cnt") > 0, 1L).otherwise(0L)) /
              lit(1000000000000.0)).as("mape")
          )
          .orderBy(col("event_type"))
      },
      Some("""WITH d0 AS (
             |  SELECT event_type, cast(floor(epoch(ts)) as bigint) // 86400 AS day,
             |    cast(count(1) as bigint) AS cnt
             |  FROM events GROUP BY 1, 2),
             |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d0),
             |grid AS (SELECT unnest(generate_series(b.lo, b.hi)) AS day FROM b),
             |d AS (
             |  SELECT t.event_type, grid.day, coalesce(d0.cnt, 0) AS cnt
             |  FROM (SELECT DISTINCT event_type FROM d0) t
             |  CROSS JOIN grid
             |  LEFT JOIN d0 ON d0.event_type = t.event_type AND d0.day = grid.day),
             |l AS (
             |  SELECT event_type, cnt,
             |    lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY day) AS pred
             |  FROM d)
             |SELECT event_type, cast(count(1) as bigint) AS n_eval,
             |  cast(cast(sum(abs(cnt - pred)) as varchar) as double) / count(1) AS mae,
             |  cast(cast(sum(CASE WHEN cnt > 0
             |                THEN (abs(cnt - pred) * 1000000000000) // cnt END) as varchar) as double)
             |    / sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) / 1000000000000.0 AS mape
             |FROM l WHERE pred IS NOT NULL GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    QueryDef(
      "q_ts_ewma",
      "finite-window EWMA (alpha = 1/2) of the per-type dense daily count series — the smoothed ingest-rate level an alerting layer thresholds against. DYADIC-EXACT: weights are w_k = 2^-(k+1) for lags 0..14 with the geometric tail folded into w_15 = 2^-15 (weights sum to exactly 1), so the smoothed value times 2^15 is an INTEGER window sum (16 lag columns over one days-sized window spec), and the emitted double is that exact integer divided by 2^15 — an exponent shift, EXACT in IEEE, zero rounding anywhere (the only EWMA formulation two engines can agree on bit-for-bit; a recursive float EWMA accumulates order-dependent rounding). Per type: the latest fully-windowed day, its raw count, and the smoothed level",
      (s, dir) => {
        val d = denseByType(s, dir)
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        // scaled = sum_{k=0..14} x_{t-k} * 2^(14-k) + x_{t-15}; the dense
        // grid is contiguous, so l15 non-null implies every smaller lag is
        val scaled = (0 to 14)
          .map(k => (if (k == 0) col("cnt") else lag(col("cnt"), k).over(w)) * lit(1L << (14 - k)))
          .reduce(_ + _) + lag(col("cnt"), 15).over(w)
        d.select(
          col("event_type"),
          col("day"),
          col("cnt"),
          scaled.as("scaled"),
          lag(col("cnt"), 15).over(w).as("l15")
        ).filter(col("l15").isNotNull)
          // latest fully-windowed day per type: one max(struct) argmax,
          // no per-type window sort
          .groupBy(col("event_type"))
          .agg(max(struct(col("day"), col("scaled"), col("cnt"))).as("m"))
          .select(
            col("event_type"),
            col("m.day").as("last_day"),
            col("m.cnt").as("last_cnt"),
            // exact integer / 2^15: an exponent shift — exact double
            (col("m.scaled").cast("double") / lit(32768.0)).as("ewma")
          )
          .orderBy(col("event_type"))
      },
      Some {
        val terms = (0 to 14)
          .map(k =>
            (if (k == 0) "cnt" else s"lag(cnt, $k) OVER w") + s" * ${1L << (14 - k)}")
          .mkString(" + ")
        s"""WITH d0 AS (
           |  SELECT event_type, cast(floor(epoch(ts)) as bigint) // 86400 AS day,
           |    cast(count(1) as bigint) AS cnt
           |  FROM events GROUP BY 1, 2),
           |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d0),
           |grid AS (SELECT unnest(generate_series(b.lo, b.hi)) AS day FROM b),
           |d AS (
           |  SELECT t.event_type, grid.day, coalesce(d0.cnt, 0) AS cnt
           |  FROM (SELECT DISTINCT event_type FROM d0) t
           |  CROSS JOIN grid
           |  LEFT JOIN d0 ON d0.event_type = t.event_type AND d0.day = grid.day),
           |f AS (
           |  SELECT event_type, day, cnt,
           |    $terms + lag(cnt, 15) OVER w AS scaled,
           |    lag(cnt, 15) OVER w AS l15
           |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
           |last AS (
           |  SELECT event_type, day, cnt, scaled,
           |    row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rn
           |  FROM f WHERE l15 IS NOT NULL)
           |SELECT event_type, day AS last_day, cnt AS last_cnt,
           |  cast(scaled as double) / 32768.0 AS ewma
           |FROM last WHERE rn = 1 ORDER BY event_type""".stripMargin
      }
    ),
    QueryDef(
      "q_ts_holt",
      s"Holt double-exponential (level + trend) smoothing of the per-type dense daily count series with a 3-day-ahead forecast — the trend-aware upgrade of q_ts_ewma's level and the first real model past q_ts_forecast's seasonal-naive baseline. ENGINE-EXACT by construction: with dyadic alpha = 1/2, beta = 1/4 the recursion over the last ${HoltSteps + 1} dense days is LINEAR in the observations, so level, trend and forecast are literal integer-weight window sums divided by 2^$holtExp — the weights are derived ONCE in exact dyadic BigInt arithmetic and consumed by BOTH engines as the same literals, every emitted double an exact integer-over-power-of-two (a recursive float Holt accumulates order-dependent rounding no two engines agree on). Per type: the latest fully-windowed day, its raw count, smoothed level, trend per day, and the 3-day forecast",
      (s, dir) => {
        val d = denseByType(s, dir)
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        def xk(k: Int) =
          if (k == HoltSteps) col("cnt") else lag(col("cnt"), HoltSteps - k).over(w)
        def scaled(ws: Seq[Long]) =
          ws.zipWithIndex.map { case (wt, k) => xk(k) * lit(wt) }.reduce(_ + _)
        val den = lit((1L << holtExp).toDouble)
        d.select(
          col("event_type"),
          col("day"),
          col("cnt"),
          scaled(holtLevelW).as("sl"),
          scaled(holtTrendW).as("sb"),
          scaled(holtForecastW).as("sf"),
          lag(col("cnt"), HoltSteps).over(w).as("l8")
        ).filter(col("l8").isNotNull)
          // latest fully-windowed day per type: one max(struct) argmax
          .groupBy(col("event_type"))
          .agg(max(struct(col("day"), col("cnt"), col("sl"), col("sb"), col("sf"))).as("m"))
          .select(
            col("event_type"),
            col("m.day").as("last_day"),
            col("m.cnt").as("last_cnt"),
            (col("m.sl").cast("double") / den).as("level"),
            (col("m.sb").cast("double") / den).as("trend"),
            (col("m.sf").cast("double") / den).as("forecast_3")
          )
          .orderBy(col("event_type"))
      },
      Some {
        def termSql(ws: Seq[Long]) =
          ws.zipWithIndex.map { case (wt, k) =>
            val lagj = HoltSteps - k
            val x    = if (lagj == 0) "cnt" else s"lag(cnt, $lagj) OVER w"
            s"($x) * ($wt)"
          }.mkString(" + ")
        val den = (1L << holtExp).toDouble
        s"""WITH d0 AS (
           |  SELECT event_type, cast(floor(epoch(ts)) as bigint) // 86400 AS day,
           |    cast(count(1) as bigint) AS cnt
           |  FROM events GROUP BY 1, 2),
           |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d0),
           |grid AS (SELECT unnest(generate_series(b.lo, b.hi)) AS day FROM b),
           |d AS (
           |  SELECT t.event_type, grid.day, coalesce(d0.cnt, 0) AS cnt
           |  FROM (SELECT DISTINCT event_type FROM d0) t
           |  CROSS JOIN grid
           |  LEFT JOIN d0 ON d0.event_type = t.event_type AND d0.day = grid.day),
           |f AS (
           |  SELECT event_type, day, cnt,
           |    ${termSql(holtLevelW)} AS sl,
           |    ${termSql(holtTrendW)} AS sb,
           |    ${termSql(holtForecastW)} AS sf,
           |    lag(cnt, $HoltSteps) OVER w AS l8
           |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
           |last AS (
           |  SELECT event_type, day, cnt, sl, sb, sf,
           |    row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rn
           |  FROM f WHERE l8 IS NOT NULL)
           |SELECT event_type, day AS last_day, cnt AS last_cnt,
           |  cast(sl as double) / $den AS level,
           |  cast(sb as double) / $den AS trend,
           |  cast(sf as double) / $den AS forecast_3
           |FROM last WHERE rn = 1 ORDER BY event_type""".stripMargin
      }
    ),
    QueryDef(
      "q_ts_seasonal",
      "weekday seasonality profile of the dense daily count series — the calendar shape of ingest volume (is Sunday 40% of Wednesday?), the profile a pipeline consults BEFORE interpreting a day-over-day drop as an incident (the same reason forecast eval is seasonal-naive). Per day-of-week (0 = Sunday; dow = (epoch-day + 4) mod 7, pure integer): the day count, the exact volume total, the mean, and the seasonal index mean_dow / mean_overall — every statistic is exact bigint moments with the ratios emitted as SINGLE IEEE divisions of exactly-converted integer products ((total*N) / (n_days*S) — the assortativity discipline), so both engines agree bit-for-bit with zero rounding. One shuffle to the series grain, then a 7-row aggregate",
      (s, dir) => {
        val d = denseDaily(s, dir)
        val byDow = d
          .groupBy(((col("day") + 4) % 7).cast("long").as("dow"))
          .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("total"))
        val tot = byDow.agg(sum(col("n_days")).as("nn"), sum(col("total")).as("ss"))
        byDow
          .crossJoin(broadcast(tot))
          .select(
            col("dow"),
            col("n_days"),
            col("total"),
            (col("total").cast("double") / col("n_days").cast("double")).as("mean_cnt"),
            ((col("total") * col("nn")).cast("double") /
              (col("n_days") * col("ss")).cast("double")).as("seasonal_index")
          )
          .orderBy(col("dow"))
      },
      Some(s"""WITH $denseDailySql,
              |byd AS (SELECT cast((day + 4) % 7 as bigint) AS dow,
              |  cast(count(1) as bigint) AS n_days, cast(sum(cnt) as bigint) AS total
              |  FROM d GROUP BY 1),
              |tot AS (SELECT cast(sum(n_days) as bigint) AS nn,
              |  cast(sum(total) as bigint) AS ss FROM byd)
              |SELECT dow, n_days, total,
              |  cast(cast(total as varchar) as double)
              |    / cast(cast(n_days as varchar) as double) AS mean_cnt,
              |  cast(cast(total * nn as varchar) as double)
              |    / cast(cast(n_days * ss as varchar) as double) AS seasonal_index
              |FROM byd CROSS JOIN tot ORDER BY dow""".stripMargin)
    )
  )
}
