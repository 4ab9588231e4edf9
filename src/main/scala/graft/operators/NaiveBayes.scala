package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed multinomial NAIVE BAYES text classifier — training AND
  * held-out apply. The LEARNED counterpart of the rule-based
  * `q_text_langid` heuristic and the closed-form-weight
  * `q_quality_classifier`: here the weights are genuinely TRAINED from
  * labeled data (the `lang` column over the even-doc_id half), and the
  * held-out half is scored with the frozen model — the
  * domain/language/quality classifier every curation pipeline trains to
  * route or filter a corpus (CCNet's fastText langid, quality filters
  * trained on curated-vs-crawl labels).
  *
  * Why NB and not logistic regression for the GATE: NB training is PURE
  * COUNTING — class priors, per-(class, token) occurrence counts, one
  * Laplace-smoothed log-likelihood per observed pair — so the whole model
  * is exact integers plus the proven fixed-point rule
  * floor(1e6·ln(num/den)) (ONE IEEE division + ONE ln per parameter, the
  * [[Unigram]] piece-score discipline), and prediction is INTEGER
  * addition + a deterministic argmax: both engines reproduce the model
  * and every prediction bit for bit. A gradient-trained model would be
  * iteration-order-dependent float math no independent oracle could
  * hash-match. The same frames feed an SGD trainer where approximate
  * parity suffices.
  *
  * Scale shape: training is two aggregations over the exploded token
  * frame (class-token counts, class totals) + one distinct for the
  * vocabulary size — all map-side-combinable. The model is
  * vocabulary-shaped (|V| · |classes| rows, the WordPiece vocab-row
  * bound) and BROADCASTS into a map-only scoring pass; per-doc class
  * scores shuffle (doc, class, int64) rows, the per-doc argmax is a
  * per-key window (row_number over |classes| rows per doc — the
  * [[Relational2]] per-key-window discipline). Smoothing: add-one
  * Laplace over the TRAINING vocabulary; a held-out token unseen in
  * training scores the per-class default floor(1e6·ln(1/(T_c+V))) — the
  * standard NB unseen rule, the [[Unigram.UnkUnits]] analogue but
  * derived from the model rather than pinned.
  */
object NaiveBayes {

  private val Dec = 1e6

  /** The trained model over a labeled (lang, text) frame:
    * (lang, tok, c, s) per observed class-token pair with
    * s = floor(1e6·ln((c+1)/(T_lang+V))), plus the per-class frames the
    * apply side needs (priors, defaults). All inputs to the ln are exact
    * bigint counts.
    */
  private def model(train: DataFrame): (DataFrame, DataFrame, DataFrame) =
    modelWeighted(train.select(col("lang"), col("text").as("s"), lit(1L).as("w")))

  /** [[model]] over a WEIGHTED labeled frequency frame (lang, s, w) — the
    * streaming retrain's entry point ([[graft.streaming.StreamingNb]]):
    * every model parameter is a pure function of additive counts (class
    * doc counts, class-token occurrence counts, the training vocabulary
    * set), so training on the re-aggregated union of per-batch partials
    * is bit-identical to the batch build on the union corpus — the
    * [[Bpe.trainMergesWeighted]] contract applied to a classifier.
    */
  private[graft] def modelWeighted(trainW: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val toks = trainW.select(col("lang"), col("w"), explode(split(col("s"), " ")).as("tok"))
    val tokc = toks.groupBy(col("lang"), col("tok")).agg(sum(col("w")).as("c"))
    val tlang = tokc.groupBy(col("lang")).agg(sum(col("c")).as("t"))
    val vocabN = toks.select(col("tok")).distinct().agg(count(lit(1)).as("v"))
    val scores = tokc
      .join(tlang, "lang")
      .crossJoin(broadcast(vocabN))
      .select(
        col("lang"),
        col("tok"),
        col("c"),
        floor(lit(Dec) * log((col("c") + 1).cast("double") / (col("t") + col("v")).cast("double")))
          .cast("long")
          .as("s"))
    val defaults = tlang
      .crossJoin(broadcast(vocabN))
      .select(
        col("lang"),
        floor(lit(Dec) * log(lit(1.0) / (col("t") + col("v")).cast("double")))
          .cast("long")
          .as("dflt"))
    val nd = trainW.agg(sum(col("w")).as("nd"))
    val priors = trainW
      .groupBy(col("lang"))
      .agg(sum(col("w")).as("ndc"))
      .crossJoin(broadcast(nd))
      .select(
        col("lang"),
        col("ndc"),
        floor(lit(Dec) * log(col("ndc").cast("double") / col("nd").cast("double")))
          .cast("long")
          .as("prior_s"))
    (scores, defaults, priors)
  }

  /** Margin-bin width: one whole ln unit (nat) of the fixed-point score
    * (scores carry 1e6 fixed-point nats), and the bin cap — margins past
    * [[MaxMarginBin]] nats collapse into the top bin so the calibration
    * readout has a FIXED, fixture-independent bin axis. A doc with no
    * runner-up class (single-class model) has no margin and reports bin
    * -1.
    */
  private[graft] val MarginBinUnit = 1000000L
  private[graft] val MaxMarginBin  = 10L

  /** Held-out SCORED census: every odd-doc_id doc scored with the frozen
    * even-half model — per class, prior + Σ token scores (unseen tokens
    * take the class default), argmax with ties to the smallest class
    * name — then censused by (true lang, predicted, margin bin), where
    * the MARGIN is the exact integer gap between the winning and
    * runner-up class scores. ONE held-out scoring pass; the confusion,
    * metrics, kappa AND calibration gates are all aggregations of this
    * frame. Exposed for the planted calibration spec.
    */
  private[graft] def scoredCensus(docs: DataFrame): DataFrame = {
    val (scores, defaults, priors) = model(docs.filter(col("doc_id") % 2 === 0))
    val test  = docs.filter(col("doc_id") % 2 === 1)
    val dtoks = test.select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
    val perClass = dtoks
      .crossJoin(broadcast(defaults.select(col("lang").as("clang"), col("dflt"))))
      .join(
        broadcast(scores.select(col("lang").as("clang"), col("tok"), col("s"))),
        Seq("clang", "tok"),
        "left")
      .groupBy(col("doc_id"), col("lang"), col("clang"))
      .agg(sum(coalesce(col("s"), col("dflt"))).as("ts"))
      .join(broadcast(priors.select(col("lang").as("clang"), col("prior_s"))), "clang")
      .select(col("doc_id"), col("lang"), col("clang"), (col("ts") + col("prior_s")).as("total"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("total").desc, col("clang"))
    // winner + runner-up in one pass over the SAME window the argmax uses:
    // margin = total_1 - total_2, an exact integer in 1e-6 nats
    perClass
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        max(when(col("rk") === 1, col("clang"))).as("predicted"),
        (max(when(col("rk") === 1, col("total"))) -
          max(when(col("rk") === 2, col("total")))).as("margin"))
      .select(
        col("lang"),
        col("predicted"),
        when(col("margin").isNull, lit(-1L))
          .otherwise(least(expr(s"margin div $MarginBinUnit"), lit(MaxMarginBin)))
          .cast("long")
          .as("mbin"))
      .groupBy(col("lang"), col("predicted"), col("mbin"))
      .agg(count(lit(1)).as("n"))
  }

  /** The held-out confusion matrix (true lang, predicted, n) — the
    * margin-marginalized view of the scored census.
    */
  private[graft] def confusionFromScored(sc: DataFrame): DataFrame =
    sc.groupBy(col("lang"), col("predicted"))
      .agg(sum(col("n")).as("n"))
      .orderBy(col("lang"), col("predicted"))

  /** RELIABILITY readout over the scored census (the calibration leg of
    * the acceptance family, next to metrics and kappa): per margin bin,
    * how many held-out docs landed there and how often the winner was
    * right — a well-calibrated classifier's observed accuracy RISES with
    * the margin; a flat curve means the margin carries no confidence
    * signal (over-confidence shows as low accuracy in high bins). Exact
    * integers from the census; ONE correctly-rounded IEEE division per
    * bin.
    */
  private[graft] def calibrationFromScored(sc: DataFrame): DataFrame =
    sc.groupBy(col("mbin"))
      .agg(
        sum(col("n")).as("n"),
        sum(when(col("lang") === col("predicted"), col("n")).otherwise(lit(0L))).as("n_correct"))
      .select(
        col("mbin"),
        col("n"),
        col("n_correct"),
        (col("n_correct").cast("double") / col("n").cast("double")).as("accuracy"))
      .orderBy(col("mbin"))

  /** Per-class precision / recall / F1 from the held-out confusion frame
    * — tp/fp/fn are exact integers, each emitted metric is ONE
    * correctly-rounded IEEE division of exact integers
    * (F1 = 2tp/(2tp+fp+fn), the rational form — never P·R float
    * composition), so the readout hash-matches cross-engine. Per-class
    * rows rather than a macro average: a macro mean would sum k doubles
    * (association-order-dependent); the consumer averages the exact
    * integer columns instead.
    */
  private def classMetrics(conf: DataFrame): DataFrame = {
    val tp = conf
      .filter(col("lang") === col("predicted"))
      .select(col("lang"), col("n").as("tp"))
    val pred = conf.groupBy(col("predicted").as("lang")).agg(sum(col("n")).as("npred"))
    val act  = conf.groupBy(col("lang")).agg(sum(col("n")).as("nact"))
    act
      .join(pred, Seq("lang"), "left")
      .join(tp, Seq("lang"), "left")
      .select(
        col("lang"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("npred"), lit(0L)) - coalesce(col("tp"), lit(0L))).as("fp"),
        (col("nact") - coalesce(col("tp"), lit(0L))).as("fn"))
      .select(
        col("lang"),
        col("tp"),
        col("fp"),
        col("fn"),
        when(col("tp") + col("fp") === 0, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision"),
        when(col("tp") + col("fn") === 0, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .as("recall"),
        when(lit(2) * col("tp") + col("fp") + col("fn") === 0, lit(null).cast("double"))
          .otherwise(
            (lit(2) * col("tp")).cast("double") /
              (lit(2) * col("tp") + col("fp") + col("fn")).cast("double"))
          .as("f1"))
      .orderBy(col("lang"))
  }

  /** Cohen's kappa + accuracy over the held-out confusion — the
    * chance-corrected agreement readout that catches "high accuracy
    * because one class dominates": κ = (p_o − p_e)/(1 − p_e) computed as
    * the exact rational (N·trace − Σ row_l·col_l) / (N² − Σ row_l·col_l)
    * — every term an integer (decimal(38,0) internals, so N up to ~10^19
    * survives), accuracy = trace/N, each ONE correctly-rounded IEEE
    * division; NULL κ when N² = Σ row·col (the degenerate single-class
    * case where chance agreement is total).
    */
  private def kappaFrame(conf: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val tot = conf.agg(
      sum(col("n")).as("n_docs"),
      sum(when(col("lang") === col("predicted"), col("n")).otherwise(lit(0L))).as("n_correct"))
    val rows   = conf.groupBy(col("lang")).agg(sum(col("n")).as("r"))
    val colsum = conf.groupBy(col("predicted").as("lang")).agg(sum(col("n")).as("c"))
    val chance = rows
      .join(colsum, "lang")
      .agg(coalesce(sum(col("r").cast("decimal(19,0)") * col("c").cast("decimal(19,0)")),
        lit(0).cast(dec)).as("chance"))
    tot
      .crossJoin(broadcast(chance))
      .select(
        col("n_docs"),
        col("n_correct"),
        (col("n_correct").cast("double") / col("n_docs").cast("double")).as("accuracy"),
        when(
          col("n_docs").cast(dec) * col("n_docs").cast(dec) === col("chance"),
          lit(null).cast("double"))
          .otherwise(
            (col("n_docs").cast(dec) * col("n_correct").cast(dec) - col("chance")).cast("double") /
              (col("n_docs").cast(dec) * col("n_docs").cast(dec) - col("chance")).cast("double"))
          .as("kappa"))
  }

  private val ConfArtifact = graft.Artifacts.declare("nb_scored", graft.Artifacts.RangeSorted("lang"))

  /** The held-out scored census as a BUILD-ONCE artifact (nb_scored —
    * replaces r18's nb_confusion, which lacked the margin axis): the
    * confusion, metrics, kappa AND calibration gates all aggregate this
    * one frame, so adding the calibration readout cost ZERO extra scoring
    * passes (the graph_community rationale: one build, several readouts).
    * The name change moves the durable path, so roots populated by the
    * r18 builder miss rather than serve the margin-less schema.
    */
  private def scoredArtifact(
      s: org.apache.spark.sql.SparkSession,
      dir: String
  ): DataFrame =
    graft.Artifacts.get(s, dir, ConfArtifact)(scoredCensus(Tables.documents(s, dir)))

  private def confusionArtifact(
      s: org.apache.spark.sql.SparkSession,
      dir: String
  ): DataFrame = confusionFromScored(scoredArtifact(s, dir))

  private val ModelArtifact = graft.Artifacts.declare("nb_model", graft.Artifacts.RangeSorted("tok"))

  /** The trained even-half NB score table (lang, tok, c, s) as a
    * build-once artifact (r21): `q_nb_train` re-ran the full training —
    * token explode, two aggregations, vocabulary distinct — on every call
    * (measured ~1.0 s per bench pass at sf0.1) although the model is a
    * pure function of the corpus, exactly like the bpe_enc / lm_terms /
    * sim_label_cents trained-model tables. The scored-census builder
    * keeps its own frame-generic training pass (cold-once, spec-planted
    * corpora flow through it unchanged).
    */
  private def nbModelTable(
      s: org.apache.spark.sql.SparkSession,
      dir: String
  ): DataFrame = {
    def build = modelWeighted(
      Tables
        .documents(s, dir)
        .filter(col("doc_id") % 2 === 0)
        .select(col("lang"), col("text").as("s"), lit(1L).as("w")))._1
    graft.Artifacts.get(s, dir, ModelArtifact)(build)
  }

  // ── oracle SQL ─────────────────────────────────────────────────────────

  private val trainCtesSql =
    """tr AS MATERIALIZED (SELECT lang, text FROM documents WHERE doc_id % 2 = 0),
      |toks AS MATERIALIZED (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM tr),
      |tokc AS MATERIALIZED (SELECT lang, tok, cast(count(1) as bigint) AS c FROM toks GROUP BY 1, 2),
      |tlang AS (SELECT lang, cast(sum(c) as bigint) AS t FROM tokc GROUP BY 1),
      |vn AS (SELECT cast(count(DISTINCT tok) as bigint) AS v FROM toks),
      |sc AS MATERIALIZED (
      |  SELECT k.lang, k.tok, k.c,
      |    cast(floor(1e6 * ln(cast(k.c + 1 as double) / cast(l.t + vn.v as double))) as bigint) AS s
      |  FROM tokc k JOIN tlang l USING (lang), vn),
      |dflt AS (
      |  SELECT l.lang,
      |    cast(floor(1e6 * ln(1.0 / cast(l.t + vn.v as double))) as bigint) AS dflt
      |  FROM tlang l, vn),
      |nd AS (SELECT count(1) AS nd FROM tr),
      |pri AS (
      |  SELECT lang, cast(count(1) as bigint) AS ndc,
      |    cast(floor(1e6 * ln(cast(count(1) as double) / cast(nd.nd as double))) as bigint) AS prior_s
      |  FROM tr, nd GROUP BY lang, nd.nd)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_nb_train",
      "TRAINED multinomial Naive Bayes text classifier — the learned counterpart of the rule-based q_text_langid (the domain/language router every curation pipeline trains; CCNet's langid / quality-filter pattern): class-conditional token model fit on the even-doc_id labeled half by PURE COUNTING — per-(lang, token) occurrence counts, per-class totals, training-vocabulary size — with add-one Laplace smoothing and the proven fixed-point rule s = floor(1e6*ln((c+1)/(T_class+V))) (exact bigint counts, ONE IEEE division + ONE ln per parameter, the unigram piece-score discipline — this is why NB gates where gradient training can't: the whole model hash-matches an independent engine). Training is two map-side-combinable aggregations over the exploded token frame + one distinct; the model is vocabulary-shaped (|V| x |classes| rows). Top 500 parameters by (count desc, lang, token)",
      (s, dir) =>
        // r21: reads the build-once nb_model artifact instead of
        // re-training per call (same modelWeighted body, one build)
        nbModelTable(s, dir).orderBy(col("c").desc, col("lang"), col("tok")).limit(500),
      Some(s"""WITH $trainCtesSql
              |SELECT lang, tok, c, s FROM sc
              |ORDER BY c DESC, lang, tok LIMIT 500""".stripMargin)
    ),
    QueryDef(
      "q_nb_confusion",
      "Naive Bayes HELD-OUT confusion matrix — the frozen even-half model scores every odd-doc_id doc (the q_bpe_encode_heldout gate shape for a trained classifier; the held-out half's own statistics never touch the model): per class, prior + sum of per-token fixed-point scores, tokens UNSEEN in training taking the per-class Laplace default floor(1e6*ln(1/(T_c+V))) — integer sums all the way, argmax deterministic (score desc, class name asc), so every prediction is bit-reproducible cross-engine. Scale shape: the vocabulary-shaped model broadcasts into a map-only token-scoring pass; per-doc class sums shuffle (doc, class, int64) rows; the argmax is a per-doc window over |classes| rows. Output: (true lang, predicted, n) — the router-quality readout a pipeline checks before trusting the classifier",
      (s, dir) => confusionArtifact(s, dir).orderBy(col("lang"), col("predicted")),
      Some(s"""WITH $trainCtesSql,
              |te AS MATERIALIZED (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1),
              |dt AS MATERIALIZED (
              |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM te),
              |pc AS MATERIALIZED (
              |  SELECT d.doc_id, d.lang, f.lang AS clang,
              |    cast(sum(coalesce(s.s, f.dflt)) as bigint) AS ts
              |  FROM dt d
              |  CROSS JOIN dflt f
              |  LEFT JOIN sc s ON s.lang = f.lang AND s.tok = d.tok
              |  GROUP BY 1, 2, 3),
              |tot AS (
              |  SELECT pc.doc_id, pc.lang, pc.clang, pc.ts + p.prior_s AS total
              |  FROM pc JOIN pri p ON p.lang = pc.clang),
              |win AS (
              |  SELECT doc_id, lang, clang,
              |    row_number() OVER (PARTITION BY doc_id ORDER BY total DESC, clang) AS rk
              |  FROM tot)
              |SELECT lang, clang AS predicted, cast(count(1) as bigint) AS n
              |FROM win WHERE rk = 1
              |GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin)
    ),
    QueryDef(
      "q_nb_metrics",
      "classifier QUALITY metrics from the held-out confusion matrix — per-class true/false positives/negatives as EXACT INTEGERS and precision / recall / F1 each as ONE correctly-rounded IEEE division of those integers (F1 in its rational form 2tp/(2tp+fp+fn), never the float P*R composition; an undefined metric — empty class or empty prediction set — is NULL, not 0). Per-class rows rather than a macro average BY DESIGN: a macro mean sums k doubles in nondeterministic order; the consumer derives any aggregate from the exact integer columns. The acceptance readout a pipeline checks before routing a corpus with the trained model",
      (s, dir) => classMetrics(confusionArtifact(s, dir)),
      Some(s"""WITH $trainCtesSql,
              |te AS MATERIALIZED (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1),
              |dt AS MATERIALIZED (
              |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM te),
              |pc AS MATERIALIZED (
              |  SELECT d.doc_id, d.lang, f.lang AS clang,
              |    cast(sum(coalesce(s.s, f.dflt)) as bigint) AS ts
              |  FROM dt d
              |  CROSS JOIN dflt f
              |  LEFT JOIN sc s ON s.lang = f.lang AND s.tok = d.tok
              |  GROUP BY 1, 2, 3),
              |tot AS (
              |  SELECT pc.doc_id, pc.lang, pc.clang, pc.ts + p.prior_s AS total
              |  FROM pc JOIN pri p ON p.lang = pc.clang),
              |win AS (
              |  SELECT doc_id, lang, clang,
              |    row_number() OVER (PARTITION BY doc_id ORDER BY total DESC, clang) AS rk
              |  FROM tot),
              |conf AS (
              |  SELECT lang, clang AS predicted, cast(count(1) as bigint) AS n
              |  FROM win WHERE rk = 1 GROUP BY 1, 2),
              |tp AS (SELECT lang, n AS tp FROM conf WHERE lang = predicted),
              |prd AS (SELECT predicted AS lang, cast(sum(n) as bigint) AS npred FROM conf GROUP BY 1),
              |act AS (SELECT lang, cast(sum(n) as bigint) AS nact FROM conf GROUP BY 1),
              |m AS (
              |  SELECT a.lang, coalesce(t.tp, 0) AS tp,
              |    coalesce(p.npred, 0) - coalesce(t.tp, 0) AS fp,
              |    a.nact - coalesce(t.tp, 0) AS fn
              |  FROM act a LEFT JOIN prd p USING (lang) LEFT JOIN tp t USING (lang))
              |SELECT lang, cast(tp as bigint) AS tp, cast(fp as bigint) AS fp,
              |  cast(fn as bigint) AS fn,
              |  CASE WHEN tp + fp = 0 THEN NULL
              |       ELSE cast(tp as double) / cast(tp + fp as double) END AS precision,
              |  CASE WHEN tp + fn = 0 THEN NULL
              |       ELSE cast(tp as double) / cast(tp + fn as double) END AS recall,
              |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
              |       ELSE cast(2 * tp as double) / cast(2 * tp + fp + fn as double) END AS f1
              |FROM m ORDER BY lang""".stripMargin)
    ),
    QueryDef(
      "q_nb_kappa",
      "COHEN'S KAPPA + accuracy over the held-out confusion — the chance-corrected agreement readout that catches 'high accuracy because one class dominates' (the router-acceptance number next to q_nb_metrics' per-class view): kappa = (p_o - p_e)/(1 - p_e) computed as the EXACT RATIONAL (N*trace - sum(row_l*col_l)) / (N^2 - sum(row_l*col_l)) — every term an integer from the confusion counts, decimal(38,0) internals, ONE correctly-rounded IEEE division (accuracy = trace/N is the other); kappa is NULL in the degenerate single-class case (chance agreement is total, the statistic is undefined — never reported as 0). One row",
      (s, dir) => kappaFrame(confusionArtifact(s, dir)),
      Some(s"""WITH $trainCtesSql,
              |te AS MATERIALIZED (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1),
              |dt AS MATERIALIZED (
              |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM te),
              |pc AS MATERIALIZED (
              |  SELECT d.doc_id, d.lang, f.lang AS clang,
              |    cast(sum(coalesce(s.s, f.dflt)) as bigint) AS ts
              |  FROM dt d
              |  CROSS JOIN dflt f
              |  LEFT JOIN sc s ON s.lang = f.lang AND s.tok = d.tok
              |  GROUP BY 1, 2, 3),
              |tot AS (
              |  SELECT pc.doc_id, pc.lang, pc.clang, pc.ts + p.prior_s AS total
              |  FROM pc JOIN pri p ON p.lang = pc.clang),
              |win AS (
              |  SELECT doc_id, lang, clang,
              |    row_number() OVER (PARTITION BY doc_id ORDER BY total DESC, clang) AS rk
              |  FROM tot),
              |conf AS (
              |  SELECT lang, clang AS predicted, cast(count(1) as bigint) AS n
              |  FROM win WHERE rk = 1 GROUP BY 1, 2),
              |agg AS (
              |  SELECT cast(sum(n) as hugeint) AS nd,
              |    cast(sum(CASE WHEN lang = predicted THEN n ELSE 0 END) as hugeint) AS tr
              |  FROM conf),
              |ch AS (
              |  SELECT cast(coalesce(sum(r.r * c.c), 0) as hugeint) AS chance
              |  FROM (SELECT lang, cast(sum(n) as hugeint) AS r FROM conf GROUP BY 1) r
              |  JOIN (SELECT predicted AS lang, cast(sum(n) as hugeint) AS c
              |        FROM conf GROUP BY 1) c USING (lang))
              |SELECT cast(a.nd as bigint) AS n_docs, cast(a.tr as bigint) AS n_correct,
              |  cast(cast(a.tr as varchar) as double) / cast(cast(a.nd as varchar) as double)
              |    AS accuracy,
              |  CASE WHEN a.nd * a.nd = ch.chance THEN NULL
              |       ELSE cast(cast(a.nd * a.tr - ch.chance as varchar) as double)
              |            / cast(cast(a.nd * a.nd - ch.chance as varchar) as double) END AS kappa
              |FROM agg a, ch""".stripMargin)
    ),
    QueryDef(
      "q_nb_calibration",
      s"classifier CALIBRATION (reliability diagram) over the held-out scored census — the third acceptance leg next to q_nb_metrics and q_nb_kappa (a router can have good aggregate metrics while its confidence signal is noise; pipelines threshold on confidence, so the margin must MEAN something): the winning-class score MARGIN (winner total minus runner-up total, an exact integer in 1e-6 nats) buckets into fixed integer bins of ${MarginBinUnit / 1000000L} nat capped at $MaxMarginBin (bin -1 = no runner-up), and each bin reports (n, n_correct, observed accuracy) — a calibrated classifier's accuracy rises with the margin, over-confidence shows as low accuracy in high bins. Exact integers from the SAME build-once nb_scored census the other three gates aggregate (one scoring pass, four readouts); ONE correctly-rounded IEEE division per bin",
      (s, dir) => calibrationFromScored(scoredArtifact(s, dir)),
      Some(s"""WITH $trainCtesSql,
              |te AS MATERIALIZED (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1),
              |dt AS MATERIALIZED (
              |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM te),
              |pc AS MATERIALIZED (
              |  SELECT d.doc_id, d.lang, f.lang AS clang,
              |    cast(sum(coalesce(s.s, f.dflt)) as bigint) AS ts
              |  FROM dt d
              |  CROSS JOIN dflt f
              |  LEFT JOIN sc s ON s.lang = f.lang AND s.tok = d.tok
              |  GROUP BY 1, 2, 3),
              |tot AS (
              |  SELECT pc.doc_id, pc.lang, pc.clang, pc.ts + p.prior_s AS total
              |  FROM pc JOIN pri p ON p.lang = pc.clang),
              |win AS (
              |  SELECT doc_id, lang, clang, total,
              |    row_number() OVER (PARTITION BY doc_id ORDER BY total DESC, clang) AS rk
              |  FROM tot),
              |pr2 AS (
              |  SELECT doc_id, lang,
              |    max(CASE WHEN rk = 1 THEN clang END) AS predicted,
              |    max(CASE WHEN rk = 1 THEN total END) - max(CASE WHEN rk = 2 THEN total END)
              |      AS margin
              |  FROM win WHERE rk <= 2 GROUP BY 1, 2),
              |cal AS (
              |  SELECT CASE WHEN margin IS NULL THEN cast(-1 as bigint)
              |              ELSE least(margin // $MarginBinUnit, $MaxMarginBin) END AS mbin,
              |    cast(count(1) as bigint) AS n,
              |    cast(sum(CASE WHEN lang = predicted THEN 1 ELSE 0 END) as bigint) AS n_correct
              |  FROM pr2 GROUP BY 1)
              |SELECT mbin, n, n_correct,
              |  cast(n_correct as double) / cast(n as double) AS accuracy
              |FROM cal ORDER BY mbin""".stripMargin)
    )
  )
}
