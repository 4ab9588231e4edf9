package graft.operators

import graft.{Artifacts, QueryDef, Tables}
import graft.Tables.PinOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north-star set):
  * heuristic language ID, quality scoring, token counting (whitespace + a
  * BPE-ish regex segmentation), document fingerprinting.
  *
  * All per-document: map-only, codegen'd, no shuffle except the final
  * aggregate — embarrassingly parallel at 100 TB. Stopword lists and
  * formulas come from [[TextShared]] so Spark and the oracle can't drift.
  */
object TextAnalysis {

  /** PII masking patterns + transform, shared by the batch query
    * (`q_pii_redact`), its DuckDB oracle, and the streaming twin
    * (`StreamingPipelines.redactPiiStream`). Stateless per-row codegen:
    * identical semantics in batch and micro-batch by construction.
    */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePat = "555-[0-9]{4}"
  val IpPat    = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Chained masking: email -> phone -> IPv4, each class to its own
    * placeholder token (order matters only in that placeholders carry no
    * digits/at-signs, so later passes can't re-match earlier output).
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(c, EmailPat, "<EMAIL>"), PhonePat, "<PHONE>"),
      IpPat,
      "<IP>"
    )

  /** SQL-surface builder for `redact_pii(text)` (injected by
    * `GraftExtensions`): expands to the same chained RegExpReplace tree as
    * [[redactPii]] — pattern literals bound at build time, so the SQL form
    * can never drift from the Column form.
    */
  def redactPiiBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]
  ): org.apache.spark.sql.catalyst.expressions.Expression = {
    graft.functions.Arity.require("redact_pii", "1", exprs, 1, 1)
    import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
    def rep(
        child: org.apache.spark.sql.catalyst.expressions.Expression,
        pat: String,
        to: String
    ) = RegExpReplace(child, Literal(pat), Literal(to))
    rep(rep(rep(exprs.head, EmailPat, "<EMAIL>"), PhonePat, "<PHONE>"), IpPat, "<IP>")
  }

  import TextShared._

  /** BPE-ish segmentation: letter runs | digit runs | single non-alnum. */
  private val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  private def stopHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => x.isin(words: _*)))

  private def stopHitsSql(words: Seq[String]): String =
    s"len(list_filter(t, x -> x IN ${inListSql(words)}))"

  /** DuckDB CTE chain computing the per-doc quality metrics `m` (the
    * [[qualityFrame]] twin) — ONE rendering shared by every oracle that
    * reads the composite score (`q_text_quality`, `q_dedup_keep_best`):
    * the score formula is a cross-engine parity contract, and a drifted
    * copy would silently break whichever oracle kept the old one.
    */
  private[graft] def qualityMetricsCteSql: String = {
    val stop = stopHitsSql(stopwords.head._2)
    s"""base AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    cast(len(t) as bigint) AS n_tok,
       |    cast(length(text) as bigint) AS n_char,
       |    cast(length(replace(text, ' ', '')) as bigint) / cast(len(t) as bigint) AS avg_tok_len,
       |    cast(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) as bigint)
       |      / cast(length(text) as bigint) AS punct_ratio,
       |    cast($stop as bigint) / cast(len(t) as bigint) AS stop_ratio
       |  FROM base)""".stripMargin
  }

  /** The composite-quality column over the `m` CTE of
    * [[qualityMetricsCteSql]] — the SQL twin of [[qualityFrame]]'s
    * `quality` expression.
    */
  private[graft] val qualityColSql: String =
    "least(avg_tok_len / 8.0, 1.0) * 0.5 + stop_ratio * 0.3 + (1.0 - punct_ratio) * 0.2"

  /** Input columns + per-language stopword scores + `predicted` — exposed so
    * tests drive THIS scoring pipeline, not a copy.
    */
  private[graft] def langidFrame(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks  = tokens(col("text"))
    val langs = stopwords.map(_._1)
    val scored = docs.select(
      col("*") +: stopwords.map { case (l, ws) => stopHits(toks, ws).as(s"sc_$l") }: _*
    )
    val best = langs.foldRight(lit("und")) { (l, acc) =>
      val isMax = langs.filter(_ != l).map(o => col(s"sc_$l") >= col(s"sc_$o")).reduce(_ && _)
      when(col(s"sc_$l") > 0 && isMax, lit(l)).otherwise(acc)
    }
    scored.withColumn("predicted", best)
  }

  /** Per-doc corpus bigram-LM scores (doc_id, lang, n_bigrams, avg_logp) —
    * the `q_text_lm_score` body, exposed so tests plant junk docs and
    * assert they sink. Add-one smoothed: P(w2|w1) = (c2+1)/(c1+V) with V
    * the context vocabulary size — WITHOUT smoothing a self-trained LM
    * scores a doc of globally-unique bigrams ln(1/1) = 0, i.e. junk made
    * of words never seen elsewhere would rank as perfectly predictable
    * (caught by the planted-junk spec). The exploded bigram frame and the
    * distinct-bigram count frame are each materialized ONCE
    * (localCheckpoint): the stats chain, the context counts, the vocab
    * count, and the per-doc join otherwise re-run the explode/aggregation
    * per reference. Log-probs are spelled ln(c2+1) - ln(c1+V) so every ln
    * takes an integer argument (cross-engine parity); cross-bigram sums go
    * through decimal(18,12) casts. Docs with fewer than 2 tokens emit no
    * bigrams and drop out.
    */
  private[graft] def lmScores(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bgdoc = lmBgdocOf(docs).pin() // referenced twice (stats + per-doc join)
    lmScoresFrom(bgdoc, lmTermsOf(bgdoc))
  }

  /** The exploded per-doc bigram frame (doc_id, lang, w1, bg). */
  private[graft] def lmBgdocOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val t = col("t")
    docs
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("t"))
      .select(
        col("doc_id"),
        col("lang"),
        explode(
          when(
            size(t) >= 2,
            transform(
              sequence(lit(1), size(t) - 1),
              i =>
                struct(
                  element_at(t, i).as("w1"),
                  concat_ws(" ", element_at(t, i), element_at(t, i + 1)).as("bg")
                )
            )
          ).otherwise(array().cast("array<struct<w1:string,bg:string>>"))
        ).as("e")
      )
      .select(col("doc_id"), col("lang"), col("e.w1").as("w1"), col("e.bg").as("bg"))
  }

  /** The add-one-smoothed bigram log-prob table (bg, lp) — the trained
    * LM in table form.
    */
  private[graft] def lmTermsOf(bgdoc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val c2 = bgdoc
      .groupBy(col("w1"), col("bg"))
      .agg(count(lit(1)).as("n2"))
      .pin() // context counts, vocab, and the term join all read it
    val c1 = c2.groupBy(col("w1")).agg(sum(col("n2")).cast("long").as("n1"))
    val v  = c2.agg(countDistinct(col("w1")).cast("long").as("v"))
    c2
      .join(c1, "w1")
      .crossJoin(broadcast(v))
      .select(col("bg"), (log(col("n2") + 1) - log(col("n1") + col("v"))).as("lp"))
  }

  /** The per-doc scoring tail over the (possibly artifact-backed) bigram
    * frame and trained term table.
    */
  private[graft] def lmScoresFrom(
      bgdoc: org.apache.spark.sql.DataFrame,
      terms: org.apache.spark.sql.DataFrame
  ): org.apache.spark.sql.DataFrame =
    bgdoc
      .join(terms, "bg")
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        count(lit(1)).cast("long").as("n_bigrams"),
        round(sum(col("lp").cast("decimal(18,12)")).cast("double") / count(lit(1)), 6).as("avg_logp")
      )

  /** Per-doc 13-gram novelty (doc_id, n_grams, n_novel, novel_frac) for
    * any (doc_id, text) frame — the `q_text_novelty` body, exposed so the
    * spec plants copies and disjoint docs. A gram is novel iff exactly one
    * doc contains it (per-doc distinct grams, so within-doc repetition
    * doesn't mask cross-doc redundancy); novel_frac is the doc's share of
    * novel grams — the corpus-redundancy QA metric dedup runs are judged
    * by. The distinct-gram frame feeds both the df count and the join
    * back, so it's materialized once (lineage cut, same discipline as
    * [[lmScores]]); grams travel as 16-hex md5 prefixes (fixed-width
    * shuffle keys).
    */
  private[graft] def noveltyScores(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // r21 restructure — one corpus pass instead of two plus a join-back.
    //  1. Per-doc totals are MAP-ONLY: n_grams = size(array_distinct(...))
    //     over the doc's own token array, no explode and no shuffle (the
    //     former shape exploded, pinned and re-scanned the gram frame just
    //     to count rows per doc).
    //  2. The gram frame is per-doc DISTINCT, so a df==1 gram belongs to
    //     exactly ONE doc and min(doc_id) over its group IS that owner —
    //     the novel census derives from the df aggregation alone, and the
    //     corpus-scale grams-join-df (a second full exchange + sorts per
    //     call, measured ~4 MB + 450 ms) is gone. The gram explode now has
    //     a single consumer, so the per-call pin is gone too.
    // Grams travel as 16-hex md5 prefixes (fixed-width shuffle keys).
    val gramsExpr =
      expr("transform(sequence(1, size(t) - 12), i -> substring(md5(concat_ws(' ', slice(t, i, 13))), 1, 16))")
    val toks = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 13)
    val perDoc = toks.select(col("doc_id"), size(array_distinct(gramsExpr)).cast("long").as("n_grams"))
    val novel = toks
      .select(col("doc_id"), explode(array_distinct(gramsExpr)).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
      .filter(col("df") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    perDoc
      .join(novel, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel")
      )
      .withColumn("novel_frac", col("n_novel") / col("n_grams"))
  }

  /** Repeated verbatim 13-gram census (g, n_occ, n_docs, first_doc) for any
    * (doc_id, text) frame — the `q_text_boilerplate` body, exposed so tests
    * plant a known repeated span and assert it surfaces.
    */
  private[graft] def repeatedGrams(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 13)
      .select(
        col("doc_id"),
        explode(expr("transform(sequence(1, size(t) - 12), i -> concat_ws(' ', slice(t, i, 13)))")).as("g")
      )
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_occ") > 1)

  /** Per-doc Gopher-style rule flags (Rae et al. 2021 §A1.1 re-expressed
    * over this corpus's whitespace tokens) — the `q_quality_gopher` body,
    * frame-generic so the spec plants one-rule-violation docs. Emits the
    * input columns plus the metrics and one boolean per rule
    * (`fail_len`, `fail_meanlen`, `fail_ttr`, `fail_stopword`,
    * `fail_repetition`) and `pass_all`. Map-only and codegen'd: every
    * metric is a HOF over the token array, no shuffle at any corpus size.
    * The repetition metric (top single-token frequency fraction) is
    * O(distinct x n_tok) per doc — right for ~100-token web docs; for
    * book-length inputs the exploded relational form (`q_text_topwords`'s
    * shape grouped per doc) is the fallback, same rule different plan.
    */
  private[graft] def gopherFlags(
      docs: org.apache.spark.sql.DataFrame,
      minTok: Long = 50,
      maxTok: Long = 100000,
      minMeanTokLen: Double = 3.0,
      maxMeanTokLen: Double = 10.0,
      minTtr: Double = 0.0,
      minStopHits: Long = 2,
      maxTopTokFrac: Double = 1.0
  ): org.apache.spark.sql.DataFrame = {
    val nTok = size(col("t")).cast("long")
    val mtl  = length(regexp_replace(col("text"), " ", "")).cast("long") / nTok
    val ttr  = size(array_distinct(col("t"))).cast("long") / nTok
    val topFrac =
      expr("array_max(transform(array_distinct(t), x -> size(filter(t, y -> y = x))))").cast("long") / nTok
    docs
      .withColumn("t", tokens(col("text")))
      .select(
        col("*"),
        nTok.as("n_tok"),
        mtl.as("mean_tok_len"),
        ttr.as("ttr"),
        stopHits(col("t"), stopwords.head._2).cast("long").as("stop_hits"),
        topFrac.as("top_tok_frac")
      )
      .select(
        col("*"),
        (col("n_tok") < minTok || col("n_tok") > maxTok).as("fail_len"),
        (col("mean_tok_len") < minMeanTokLen || col("mean_tok_len") > maxMeanTokLen).as("fail_meanlen"),
        (col("ttr") < minTtr).as("fail_ttr"),
        (col("stop_hits") < minStopHits).as("fail_stopword"),
        (col("top_tok_frac") > maxTopTokFrac).as("fail_repetition")
      )
      .withColumn(
        "pass_all",
        !col("fail_len") && !col("fail_meanlen") && !col("fail_ttr") &&
          !col("fail_stopword") && !col("fail_repetition")
      )
      .drop("t")
  }

  /** TextRank over the word co-occurrence graph: adjacent word pairs seen
    * >= 2 times form undirected edges (self-pairs dropped), and the score
    * table is [[Graph.buildPagerankScoresFromEdgesTracked]] run verbatim
    * over STRING nodes — one generic integer-PageRank builder for the
    * text and graph families. The co-occurrence frame is pinned (the
    * symmetrizing union and the degree fold read it several times) and
    * returned with the loop's pins.
    */
  private[graft] def buildTextrankTracked(
      docs: org.apache.spark.sql.DataFrame
  ): (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    // collapse to the space-padded distinct-sequence frequency table (the
    // tokenizer trainers' shape, so the streaming twin can retrain from
    // the SAME landed store): weighted bigram counts over distinct texts
    // equal raw-corpus counts exactly
    val freq = graft.Tables.pinIter(
      docs
        .select(concat(lit(" "), col("text"), lit(" ")).as("s"))
        .groupBy(col("s"))
        .agg(count(lit(1)).as("w"))
    )
    val (scores, pins) = buildTextrankFromFreqTracked(freq)
    (scores, pins :+ freq)
  }

  /** [[buildTextrankTracked]] over an ALREADY-BUILT (s, w) frequency frame
    * — the streaming entry point ([[Bpe.trainMergesWeighted]] contract:
    * additive partials re-aggregate to the union corpus's table, so the
    * retrained scores are bit-identical to the batch build).
    */
  private[graft] def buildTextrankFromFreqTracked(
      seqs0: org.apache.spark.sql.DataFrame
  ): (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val t = split(trim(col("s")), " ")
    val co = graft.Tables.pin(
      seqs0
        .select(
          col("w"),
          explode(
            when(
              size(t) >= 2,
              transform(
                sequence(lit(1), size(t) - 1),
                i => struct(element_at(t, i).as("a"), element_at(t, i + 1).as("b"))
              )
            ).otherwise(array().cast("array<struct<a:string,b:string>>"))
          ).as("p")
        )
        .filter(col("p.a") =!= col("p.b"))
        .select(
          least(col("p.a"), col("p.b")).as("wa"),
          greatest(col("p.a"), col("p.b")).as("wb"),
          col("w")
        )
        .groupBy(col("wa"), col("wb"))
        .agg(sum(col("w")).as("c"))
        .filter(col("c") >= 2)
    )
    val edges0 = co
      .select(col("wa").as("src"), col("wb").as("dst"))
      .unionByName(co.select(col("wb").as("src"), col("wa").as("dst")))
    val (scores, pins) = Graph.buildPagerankScoresFromEdgesTracked(edges0)
    (scores, pins :+ co)
  }

  private val TextrankArtifact = Artifacts.declare("textrank_scores", Artifacts.RangeSorted("node"))

  /** TextRank score table (word, s in 1e-12 units) as a build-once
    * artifact — a keyword prior is reused across runs like the graph
    * family's centrality tables.
    */
  private def textrankArtifact(
      s: org.apache.spark.sql.SparkSession,
      dir: String
  ): org.apache.spark.sql.DataFrame =
    Artifacts.getTracked(s, dir, TextrankArtifact) {
      // shared seq_freq artifact as the frequency input (r19 trim)
      val f              = graft.Tables.pinIter(TextShared.seqFreq(s, dir))
      val (scores, pins) = buildTextrankFromFreqTracked(f)
      (scores, pins :+ f)
    }

  /** Input columns + quality metrics (`n_tok`, `n_char`, `avg_tok_len`,
    * `punct_ratio`, `stop_ratio`, `quality`) — shared by query and tests.
    */
  private[graft] def qualityFrame(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks      = tokens(col("text"))
    val nTok      = size(toks).cast("long")
    val nChar     = length(col("text")).cast("long")
    val avgTokLen = length(regexp_replace(col("text"), " ", "")).cast("long") / nTok
    val punct     = length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).cast("long") / nChar
    val stopR     = stopHits(toks, stopwords.head._2).cast("long") / nTok
    val score     = least(avgTokLen / 8.0, lit(1.0)) * 0.5 + stopR * 0.3 + (lit(1.0) - punct) * 0.2
    docs.select(
      col("*"),
      nTok.as("n_tok"),
      nChar.as("n_char"),
      avgTokLen.as("avg_tok_len"),
      punct.as("punct_ratio"),
      stopR.as("stop_ratio"),
      score.as("quality")
    )
  }

  /** Per-doc repetition stats: `top_c` (count of the most frequent token)
    * and `n_tok`, computed MAP-SIDE in one pass over the sorted token array
    * (run-length max via `aggregate`) — no explode, no per-(doc,token)
    * shuffle. At 100 TB this keeps shuffle volume at O(docs), not O(tokens).
    */
  private[graft] def repetitionFrame(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sorted = array_sort(tokens(col("text")))
    val topC = aggregate(
      sorted,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (a, x) => {
        // x === null-prev is null → otherwise-branch → run restarts at 1
        val run = when(x === a("prev"), a("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"), greatest(a("best"), run).as("best"))
      },
      a => a("best")
    )
    docs.select(col("*"), topC.as("top_c"), size(sorted).cast("long").as("n_tok"))
  }

  /** Zipf-law fit over a documents frame (the `q_text_zipf` body, exposed
    * for planted-distribution tests): token census -> frequency rank ->
    * log-log linear regression. Natural text gives slope ~ -1; uniform /
    * templated corpora flatten toward 0. The unpartitioned rank window
    * sorts only the post-aggregation VOCABULARY frame (corpus-sublinear by
    * Heaps' law), never the token stream.
    *
    * KNOWN SCALE BOUND (documented, accepted): the vocabulary frame is
    * the ONE single-partition window here that still grows with corpus
    * scale — sublinearly (V ≈ K·n^0.5-0.8), so a 100 TB / ~2.5e13-token
    * corpus projects to ~10^7-10^8 distinct tokens: a single-task sort of
    * that frame is minutes of skew, not a failure, and is the accepted
    * cost of an EXACT full-vocabulary rank. Past ~10^8 distinct tokens,
    * swap the window for a two-pass rank (count-bucket histogram ->
    * per-bucket offsets) or fit on the `n >= 2` vocabulary (drops only
    * hapax legomena, which a log-log fit barely weighs). See SCALE.md
    * round-17 notes.
    */
  private[graft] def zipfFit(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    zipfFromCounts(
      docs
        .select(explode(tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"))
    )

  /** [[zipfFit]] over a prebuilt (tok, n) census (the tok_counts
    * artifact, empty token filtered).
    */
  private[graft] def zipfFromCounts(counts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    counts
      .withColumn("rank", row_number().over(Window.orderBy(col("n").desc, col("tok"))))
      .agg(
        round(expr("regr_slope(ln(n), ln(rank))"), 4).as("zipf_slope"),
        round(expr("regr_intercept(ln(n), ln(rank))"), 4).as("zipf_intercept"),
        round(expr("regr_r2(ln(n), ln(rank))"), 6).as("r2"),
        count(lit(1)).as("vocab_size"),
        sum(col("n")).cast("long").as("n_tokens")
      )
  }

  /** Heaps'-law vocabulary-growth fit (the `q_text_heaps` body): vocab
    * size V(n) vs tokens seen n across 10 NESTED corpus prefixes, fit as
    * ln V = ln K + beta * ln n (natural text: beta ~ 0.5-0.8; a templated
    * corpus saturates its vocabulary early and flattens; runaway junk
    * grows beta toward 1). Prefixes are doc_id % 10 < d — nested by
    * construction, map-only, deterministic, and no global doc sort (an
    * ntile window over the corpus would sort 100 TB for an ordering the
    * fit doesn't care about). One explode pass: vocab-at-step comes from
    * each token's FIRST step (groupBy(tok).min(step) then a 10-row
    * cumulative), token-counts-at-step from a map-side size(split) sum
    * per step — no second explode.
    */
  private[graft] def heapsFit(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val step = (col("doc_id") % 10).cast("int")
    val firstStep = docs
      .select(step.as("m"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok"))
      .agg(min(col("m")).as("fm"))
      .groupBy(col("fm"))
      .agg(count(lit(1)).as("nv"))
    val tokCnt = docs
      .select(step.as("m"), size(filter(tokens(col("text")), t => t =!= "")).cast("long").as("nt"))
      .groupBy(col("m"))
      .agg(sum(col("nt")).as("ntm"))
    // 10-row frames: cumulative over the step axis, then the regression
    val w = Window.orderBy(col("d")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstStep
      .withColumnRenamed("fm", "d")
      .join(tokCnt.withColumnRenamed("m", "d"), Seq("d"), "full_outer")
      .select(
        col("d"),
        coalesce(col("nv"), lit(0L)).as("nv"),
        coalesce(col("ntm"), lit(0L)).as("ntm")
      )
      .withColumn("v", sum(col("nv")).over(w))
      .withColumn("n", sum(col("ntm")).over(w))
      .filter(col("n") > 0)
      // A SATURATED corpus (every distinct token seen in step 0 — true of
      // the synthetic fixture, whose doc generator draws from a small word
      // pool) makes ln(v) CONSTANT, so regr_r2's variance term is pure
      // floating-point cancellation noise: both engines' parallel
      // aggregation nondeterministically yields 0 or ~1e-30, and r2 is
      // then garbage-over-garbage. The degeneracy test is deliberately on
      // QUANTIZED logs (ln(v) constant at 1e-6), NOT on the exact integer
      // v values: min(v) = max(v) would be "more precise", but a corpus
      // whose vocabulary grows by less than ~1 ppm per step has
      // var(ln v) ~ 1e-12 of mean^2 — the regression inputs are
      // indistinguishable at the precision the two engines share, regr_r2
      // is STILL cancellation noise there, and only the quantized guard
      // pins that whole regime deterministically. (An exact-integer guard
      // was tried in round 12 and reverted for exactly this reason: it
      // computes a "correct" fit that the engines cannot agree on.)
      .withColumn("ly", floor(log(col("v")) * lit(1e6)).cast("long"))
      .agg(
        // degenerate limits: slope's covariance is noise too (and can round
        // to the string-visible -0.0), intercept collapses to ln(v_const) —
        // computable exactly as ln(max(v)) since v is constant at the
        // shared precision here
        when(count(lit(1)) * sum(col("ly") * col("ly")) === sum(col("ly")) * sum(col("ly")), lit(0.0))
          .otherwise(round(expr("regr_slope(ln(v), ln(n))"), 4))
          .as("heaps_beta"),
        when(count(lit(1)) * sum(col("ly") * col("ly")) === sum(col("ly")) * sum(col("ly")),
          round(log(max(col("v"))), 4))
          .otherwise(round(expr("regr_intercept(ln(v), ln(n))"), 4))
          .as("heaps_lnk"),
        when(count(lit(1)) * sum(col("ly") * col("ly")) === sum(col("ly")) * sum(col("ly")), lit(1.0))
          .otherwise(round(expr("regr_r2(ln(v), ln(n))"), 6))
          .as("r2"),
        max(col("v")).cast("long").as("vocab_final"),
        max(col("n")).cast("long").as("tokens_final")
      )
  }

  /** The duplication-spectrum aggregation over a weighted token-array
    * frame (w, t): one explode emits (n, md5(gram)) for all four widths
    * via per-width map-side transforms (grams travel as fixed-width
    * digests — the shuffle-narrowing production shape), then TWO-STAGE
    * aggregation instead of count + countDistinct in one agg (the latter
    * plans an Expand that doubles the exploded gram stream before the
    * shuffle — measured 3x the cold time): the first stage is a
    * map-side-combinable weighted (n, h) count, the second runs over the
    * distinct-gram frame only. Weights make the SAME aggregation serve
    * both the batch query (w = 1 per doc) and the streaming twin (w =
    * the frequency store's sequence multiplicity): total = Σ w·grams and
    * distinct-over-distinct-sequences are identical either way, so the
    * streamed spectrum is bit-identical to the batch one by construction.
    */
  private def dupSpectrumOver(
      rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val t  = col("t")
    val ns = Seq(1, 2, 4, 8)
    rows
      .select(
        col("w"),
        explode(
          flatten(
            array(
              ns.map(n =>
                when(
                  size(t) >= n,
                  transform(
                    sequence(lit(1), size(t) - (n - 1)),
                    i =>
                      struct(
                        lit(n.toLong).as("n"),
                        md5(array_join(slice(t, i, lit(n)), " ")).as("h")
                      )
                  )
                ).otherwise(array().cast("array<struct<n:bigint,h:string>>"))
              ): _*
            )
          )
        ).as("g")
      )
      .groupBy(col("g.n").as("n"), col("g.h").as("h"))
      .agg(sum(col("w")).as("c"))
      .groupBy(col("n"))
      .agg(
        sum(col("c")).as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams")
      )
      .select(
        col("n"),
        col("total_ngrams"),
        col("distinct_ngrams"),
        ((col("total_ngrams") - col("distinct_ngrams")).cast("double") / col("total_ngrams"))
          .as("dup_frac")
      )
      .orderBy(col("n"))
  }

  /** The spectrum over a space-padded (s, w) FREQUENCY store — the
    * streaming twin's entry point ([[graft.streaming.StreamingBpe]]):
    * per-width gram counts are additive over the distinct-sequence table
    * exactly like the tokenizer trainers' inputs, so folding the
    * accumulated store per micro-batch republishes a spectrum
    * bit-identical to `q_text_dup_spectrum` on the union corpus. (The
    * BATCH query deliberately does NOT pre-aggregate to the frequency
    * table: that would shuffle full text strings where the direct explode
    * shuffles only 16-byte digests.)
    */
  private[graft] def dupSpectrumFromFreq(
      freq: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // strip EXACTLY the single padding space each side (the store's
    // ' '||text||' ' convention), not trim(): a text with its own
    // leading/trailing whitespace must tokenize identically to the batch
    // query's raw split — trim would eat the text's spaces too and break
    // the spec-pinned streamed==batch bit-identity for such inputs
    dupSpectrumOver(
      freq.select(
        col("w"),
        split(expr("substring(s, 2, length(s) - 2)"), " ").as("t")))

  private[graft] val dupSpectrumDef: QueryDef = QueryDef(
    "q_text_dup_spectrum",
    "n-gram DUPLICATION SPECTRUM (the Lee et al. 2022 pre-dedup diagnostic): for n in {1, 2, 4, 8}, the corpus-wide total and distinct n-gram counts and the duplicated-occurrence fraction (total - distinct) / total — the curve that tells a curation pipeline WHERE its duplication lives (high dup at n=1 is just Zipf; high dup persisting at n=8 means copied passages, i.e. run exact-substring dedup, not only doc-level). ONE explode emits (n, md5(gram)) for all four widths via per-width map-side transforms (grams ride as fixed-width digests, the shuffle-narrowing production shape); one aggregation per n with exact integer counts and ONE final IEEE division emitted raw — no rounding anywhere. Also republished per micro-batch by the streaming retrain fold from the additive frequency store (StreamingBpe), spec-pinned bit-identical",
    (s, dir) =>
      dupSpectrumOver(
        Tables
          .documents(s, dir)
          .select(lit(1L).as("w"), tokens(col("text")).as("t"))
      ),
    Some {
      val widths = Seq(1, 2, 4, 8)
      val arms = widths
        .map { n =>
          s"""SELECT cast($n as bigint) AS n,
             |  md5(unnest(list_transform(generate_series(1, len(t) - ${n - 1}),
             |                            i -> array_to_string(t[i:i+${n - 1}], ' ')))) AS h
             |FROM toks WHERE len(t) >= $n""".stripMargin
        }
        .mkString("\n  UNION ALL ")
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         |g AS (
         |  $arms)
         |SELECT n, cast(count(1) as bigint) AS total_ngrams,
         |  cast(count(DISTINCT h) as bigint) AS distinct_ngrams,
         |  cast(count(1) - count(DISTINCT h) as double) / count(1) AS dup_frac
         |FROM g GROUP BY n ORDER BY n""".stripMargin
    }
  )

  // lazy: the list references the contamination defs declared further
  // down the object body (kept next to their shared helpers)
  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_text_langid",
      "heuristic language ID: stopword-hit argmax per doc (deterministic tie order), confusion counts vs labeled lang",
      (s, dir) =>
        langidFrame(Tables.documents(s, dir))
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("predicted")),
      Some {
        val scores = stopwords.map { case (l, ws) => s"    ${stopHitsSql(ws)} AS sc_$l" }.mkString(",\n")
        val langs  = stopwords.map(_._1)
        val best = langs.foldRight("'und'") { (l, acc) =>
          val isMax = langs.filter(_ != l).map(o => s"sc_$l >= sc_$o").mkString(" AND ")
          s"CASE WHEN sc_$l > 0 AND $isMax THEN '$l' ELSE $acc END"
        }
        s"""WITH toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
           |scored AS (
           |  SELECT lang,
           |$scores
           |  FROM toks)
           |SELECT lang, $best AS predicted, count(1) AS n
           |FROM scored GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin
      }
    ),
    QueryDef(
      "q_text_quality",
      "quality scoring: token/char counts, avg token length, punctuation + stopword ratios, composite score",
      // all ratios are exact-int divisions / fixed-order double math:
      // bit-identical in both engines, so emitted RAW — rounding a
      // rational double at a decimal half diverges between engines
      (s, dir) =>
        qualityFrame(Tables.documents(s, dir))
          .select(
            col("doc_id"),
            col("n_tok"),
            col("n_char"),
            col("avg_tok_len"),
            col("punct_ratio"),
            col("stop_ratio"),
            col("quality")
          )
          .orderBy(col("doc_id"))
          .limit(500),
      Some(s"""WITH $qualityMetricsCteSql
              |SELECT doc_id, n_tok, n_char,
              |  avg_tok_len, punct_ratio, stop_ratio,
              |  $qualityColSql AS quality
              |FROM m ORDER BY doc_id LIMIT 500""".stripMargin)
    ),
    QueryDef(
      "q_text_textrank",
      "TextRank keyword extraction (Mihalcea & Tarau 2004) — PageRank over the WORD CO-OCCURRENCE graph, the unsupervised keyword ranking that beats raw frequency by rewarding words that co-occur with other central words: adjacent word pairs seen >= 2 times form undirected edges, and the score table is the SAME fixed-point integer PageRank loop the purchase graph runs (picoprobability units, floor-division damping, 5 rounds, zero rounding — one generic builder, so the text and graph families cannot drift), run verbatim over STRING nodes. The score table is a build-once artifact (textrank_scores, durable under graft.artifact.root). Top-20 keywords by score — the composition showcase: text preprocessing feeding graph centrality inside one engine",
      (s, dir) => textrankArtifact(s, dir)
        .orderBy(col("s").desc, col("node"))
        .limit(20)
        .select(col("node").as("word"), (col("s") / lit(1000000000000L)).as("textrank"))
        .orderBy(col("textrank").desc, col("word")),
      Some {
        s"""WITH wtoks AS (SELECT string_split(text, ' ') AS t FROM documents),
           |wpr AS (
           |  SELECT least(split_part(pr, ' ', 1), split_part(pr, ' ', 2)) AS wa,
           |         greatest(split_part(pr, ' ', 1), split_part(pr, ' ', 2)) AS wb
           |  FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
           |                                     i -> t[i] || ' ' || t[i+1])) AS pr
           |        FROM wtoks WHERE len(t) >= 2) y
           |  WHERE split_part(pr, ' ', 1) <> split_part(pr, ' ', 2)),
           |we AS (SELECT wa, wb FROM (
           |    SELECT wa, wb, count(1) AS c FROM wpr GROUP BY 1, 2) z
           |  WHERE c >= 2),
           |edges0 AS (SELECT wa AS src, wb AS dst FROM we UNION ALL SELECT wb, wa FROM we),
           |deg AS (SELECT src, count(1) AS outd FROM edges0 GROUP BY 1),
           |edges AS MATERIALIZED (SELECT e.src, e.dst, d.outd FROM edges0 e JOIN deg d USING (src)),
           |nn AS (SELECT count(1) AS n FROM (SELECT DISTINCT src FROM edges0) q),
           |it0 AS (SELECT src AS node, 1000000000000 // nn.n AS s
           |        FROM (SELECT DISTINCT src FROM edges0) q CROSS JOIN nn),
           |${(1 to graft.operators.Graph.PrIters).map(graft.operators.Graph.prIterSql).mkString(",\n")}
           |SELECT node AS word, s / 1000000000000.0 AS textrank
           |FROM (SELECT node, s FROM it${graft.operators.Graph.PrIters}
           |      ORDER BY s DESC, node LIMIT 20) t
           |ORDER BY textrank DESC, word""".stripMargin
      }
    ),
    QueryDef(
      "q_text_pmi",
      "PMI collocation mining (Church & Hanks 1990) — the classic phrase-extraction readout ('new york', 'machine learning') a curation pipeline runs before vocabulary decisions: for adjacent token pairs with count >= 5, pointwise mutual information ln(P(ab) / (P(a)P(b))) computed as ONE ln over a single IEEE product/quotient of exactly-converted integer counts (c_ab*N*N / (c_a*c_b*M) — identical expression shape on both engines), ranked on the ROUNDED score (the tfidf convention: raw transcendentals can differ in the last ulp) with (a, b) tiebreak. Corpus stats (total tokens N, total bigrams M) ride one broadcast row; unigram and bigram counts are each one explode + map-side-combinable aggregation. Top-15 collocations",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // r20: unigram counts ride the shared tok_counts artifact and the
        // bigram counts derive from the shared lm_bgdoc artifact (bg =
        // "a b" with space-free tokens, so the split is exact) — the two
        // corpus explodes this query re-ran per call are gone
        val uni = tokCountsTable(s, dir)
        val bi = lmBgdocTable(s, dir)
          .groupBy(col("w1").as("a"), element_at(split(col("bg"), " "), 2).as("b"))
          .agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 5)
        // M (total bigrams) derives from the unigram totals instead of a
        // third corpus pass: each doc of L tokens yields L-1 bigrams, so
        // M = N - n_docs — and it must be the TOTAL count, not the
        // thresholded bi-frame's sum
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        bi.crossJoin(broadcast(uni.agg(sum(col("c")).as("n_tok"))))
          .crossJoin(broadcast(nDocs))
          .join(uni.select(col("tok").as("a"), col("c").as("c_a")), "a")
          .join(uni.select(col("tok").as("b"), col("c").as("c_b")), "b")
          .select(
            col("a"),
            col("b"),
            col("c_ab"),
            round(
              log(
                (col("c_ab").cast("double") * col("n_tok").cast("double") * col("n_tok").cast("double")) /
                  (col("c_a").cast("double") * col("c_b").cast("double") *
                    (col("n_tok") - col("n_docs")).cast("double"))
              ),
              6
            ).as("pmi")
          )
          .orderBy(col("pmi").desc, col("a"), col("b"))
          .limit(15)
      },
      Some("""WITH toks AS (
             |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
             |uni AS (SELECT tok, cast(count(1) as bigint) AS c FROM toks GROUP BY 1),
             |st AS (SELECT cast(sum(c) as bigint) AS n_tok,
             |              (SELECT cast(count(1) as bigint) FROM documents) AS n_docs
             |       FROM uni),
             |bi AS (
             |  SELECT split_part(pr, ' ', 1) AS a, split_part(pr, ' ', 2) AS b,
             |    cast(count(1) as bigint) AS c_ab
             |  FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
             |                                     i -> t[i] || ' ' || t[i+1])) AS pr
             |        FROM (SELECT string_split(text, ' ') AS t FROM documents) x
             |        WHERE len(t) >= 2) y
             |  GROUP BY 1, 2
             |  HAVING count(1) >= 5)
             |SELECT a, b, c_ab,
             |  round(ln((cast(c_ab as double) * cast(n_tok as double) * cast(n_tok as double))
             |         / (cast(ua.c as double) * cast(ub.c as double)
             |            * cast(n_tok - n_docs as double))), 6) AS pmi
             |FROM bi JOIN uni ua ON ua.tok = bi.a JOIN uni ub ON ub.tok = bi.b
             |CROSS JOIN st
             |ORDER BY pmi DESC, a, b LIMIT 15""".stripMargin)
    ),
    dupSpectrumDef,
    QueryDef(
      "q_text_tokens",
      "token counting per lang: whitespace tokens + BPE-ish regex segmentation (letters|digits|punct)",
      (s, dir) =>
        Tables
          .documents(s, dir)
          .select(
            col("lang"),
            size(tokens(col("text"))).cast("long").as("ws_tokens"),
            size(expr(s"regexp_extract_all(text, '${BpePattern.replace("\\", "\\\\")}', 0)"))
              .cast("long")
              .as("bpe_tokens")
          )
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("ws_tokens")).as("sum_ws_tokens"),
            sum(col("bpe_tokens")).as("sum_bpe_tokens")
          )
          .orderBy(col("lang")),
      Some(s"""SELECT lang, count(1) AS n_docs,
              |  cast(sum(cast(len(string_split(text, ' ')) as bigint)) as bigint) AS sum_ws_tokens,
              |  cast(sum(cast(len(regexp_extract_all(text, '$BpePattern')) as bigint)) as bigint) AS sum_bpe_tokens
              |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    QueryDef(
      "q_text_fingerprint",
      "document fingerprinting: md5 of whitespace-normalized lowercase text (exact-dup key across formatting variants)",
      (s, dir) =>
        Tables
          .documents(s, dir)
          .select(
            col("doc_id"),
            md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fingerprint"),
            sha2(regexp_replace(lower(col("text")), "\\s+", " "), 256).as("fingerprint_sha")
          )
          .orderBy(col("doc_id"))
          .limit(500),
      Some("""SELECT doc_id,
             |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
             |  sha256(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint_sha
             |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin)
    ),
    QueryDef(
      "q_text_fingerprint_fast",
      "rolling-hash fingerprints via the codegen RollingHash expression (~20x cheaper than md5). Hash-verified: DuckDB has no rolling-hash primitive, but the polynomial-mod-Mersenne arithmetic is expressible in SQL — UTF-8 bytes via hex(encode(text)), 131^i mod 2^61-1 via a recursive CTE (hugeint keeps every product exact: terms < 2^69, the 500-doc sums < 2^83), then sum mod M",
      (s, dir) => {
        graft.functions.RollingHash.register(s)
        Tables
          .documents(s, dir)
          .select(
            col("doc_id"),
            expr("rolling_hash(text)").as("fingerprint")
          )
          .orderBy(col("doc_id"))
          .limit(500)
      },
      Some("""WITH RECURSIVE docs AS (
             |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
             |  FROM documents ORDER BY doc_id LIMIT 500),
             |pows(i, p) AS (
             |  SELECT 0, 1::hugeint
             |  UNION ALL
             |  SELECT i + 1, (p * 131) % 2305843009213693951::hugeint FROM pows
             |  WHERE i < (SELECT max(n) FROM docs) - 1),
             |bytes AS (
             |  SELECT doc_id, unnest(generate_series(0, n - 1)) AS i, hx FROM docs)
             |SELECT b.doc_id,
             |  cast(sum((('0x' || substr(b.hx, 2 * b.i + 1, 2))::int::hugeint + 1) * pw.p)
             |       % 2305843009213693951::hugeint AS bigint) AS fingerprint
             |FROM bytes b JOIN pows pw ON b.i = pw.i
             |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)
    ),
    QueryDef(
      "q_text_heavyhitters",
      "heavy-hitter tokens via sketch-then-verify: one Misra-Gries freq_items pass (mergeable TypedImperativeAggregate, k=128) prunes candidates — guaranteed to hold every token above n/129 — then a semi-join + exact count keeps tokens above 1% of all tokens. Final output is EXACT and hash-checked even though the sketch is partition-order dependent; at 100 TB the verify pass counts only the <=k candidates instead of the whole vocabulary",
      (s, dir) => {
        graft.functions.FreqItems.register(s)
        // Drop empty tokens (split on ' ' emits "" for consecutive /
        // leading / trailing spaces) BEFORE sketching: '' doubles as the
        // non-candidate collapse sentinel below, so an '' token above the
        // 1% threshold would silently vanish while the oracle counted it.
        val toks = Tables
          .documents(s, dir)
          .select(explode(tokens(col("text"))).as("tok"))
          .filter(col("tok") =!= "")
        val cand = toks
          .agg(expr("freq_items(tok, 128)").as("sk"))
          .select(explode(col("sk")).as("e"))
          .select(col("e.item").as("tok"))
          .filter(col("tok") =!= "") // drop the deficit sentinel
        // ONE counting pass carries both the candidate counts and the
        // grand total: non-candidate tokens collapse into a single ''
        // group (<= k+1 groups leave the aggregate), and total = sum over
        // that tiny frame via an unpartitioned window — safe only because
        // it runs POST-aggregation on <= 129 rows, never on the token
        // stream (a third token scan for a bare count() measured as the
        // plan's most expensive node).
        import org.apache.spark.sql.expressions.Window
        toks
          .join(broadcast(cand.withColumn("is_cand", lit(true))), Seq("tok"), "left_outer")
          .groupBy(when(col("is_cand"), col("tok")).otherwise(lit("")).as("tok"))
          .agg(count(lit(1)).as("n"))
          .withColumn("total", sum(col("n")).over(Window.partitionBy()))
          .filter(col("tok") =!= "" && col("n") * 100 > col("total"))
          .select(col("tok"), col("n"))
          .orderBy(col("n").desc, col("tok"))
      },
      // the oracle needs no sketch: candidates above the threshold are
      // exactly the HAVING filter (the sketch only prunes, never changes
      // the final set — that is the point the hash-match proves)
      Some("""WITH toks AS (
             |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
             |toks2 AS (SELECT tok FROM toks WHERE tok <> ''),
             |tot AS (SELECT count(1) AS total FROM toks2)
             |SELECT tok, count(1) AS n
             |FROM toks2 CROSS JOIN tot GROUP BY tok, total HAVING count(1) * 100 > total
             |ORDER BY n DESC, tok""".stripMargin)
    ),
    QueryDef(
      "q_cms_freq",
      "count-min sketch point queries (Cormode-Muthukrishnan; the frequency-sketch family Pinot exposes via DataSketches) — a 4x64 mergeable counter grid over the corpus token stream (one primitive-buffer cms_agg partial per partition, element-wise-add merge, self-describing header), probed for 5 tokens via the codegen cms_query min-over-rows. Hashing is engine-reproducible (one md5 per token, 8-hex-digit windows as the d rows), so the oracle recomputes the IDENTICAL counters relationally and the probabilistic estimates hash-match exactly; exact counts ride along to expose the guaranteed est >= truth over-count",
      (s, dir) => {
        graft.functions.CountMinSketch.register(s)
        val depth = 4
        val width = 64
        // ONE md5 per token, its 32 hex digits sliced into d disjoint
        // 8-digit windows — d rows from independent hash bits at a quarter
        // of the per-prefix-rehash cost (measured: 4 md5 calls dominated
        // the explode), still bit-reproducible in DuckDB
        def buckets(t: Column) = graft.functions.CountMinSketch.bucketsCol(t, depth, width)
        val toks = Tables
          .documents(s, dir)
          .select(explode(tokens(col("text"))).as("tok"))
          .filter(col("tok") =!= "")
        val sketch = toks
          .select(buckets(col("tok")).as("bks"))
          .agg(expr(s"cms_agg(bks, $depth, $width)").as("sk"))
        import s.implicits._
        val probes = Seq("merge", "query", "spark", "table", "zzz_unseen").toDF("tok")
        // exact counts for the probe tokens only: broadcast the 5-row probe
        // frame into the token stream — never a full-vocabulary census
        val exact = toks
          .join(broadcast(probes), Seq("tok"))
          .groupBy(col("tok"))
          .agg(count(lit(1)).as("exact_n"))
        probes
          .withColumn("bks", buckets(col("tok")))
          .crossJoin(broadcast(sketch)) // 1-row sketch frame
          .withColumn("est", expr("cms_query(sk, bks)"))
          .join(exact, Seq("tok"), "left_outer")
          .select(
            col("tok"),
            col("est"),
            coalesce(col("exact_n"), lit(0L)).as("exact_n"),
            (col("est") - coalesce(col("exact_n"), lit(0L))).as("overcount")
          )
          .orderBy(col("tok"))
      },
      Some("""WITH toks AS (
             |  SELECT t AS tok FROM (
             |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
             |  WHERE t <> ''),
             |ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
             |cells AS (
             |  SELECT d, ('0x' || substring(md5(tok), 1 + 8 * d, 8))::bigint % 64 AS bkt,
             |    count(1) AS c
             |  FROM toks CROSS JOIN ds GROUP BY 1, 2),
             |probes AS (SELECT unnest(['merge', 'query', 'spark', 'table', 'zzz_unseen']) AS tok),
             |pcells AS (
             |  SELECT p.tok, ds.d,
             |    ('0x' || substring(md5(p.tok), 1 + 8 * ds.d, 8))::bigint % 64 AS bkt
             |  FROM probes p CROSS JOIN ds),
             |est AS (
             |  SELECT pc.tok, cast(min(coalesce(c.c, 0)) as bigint) AS est
             |  FROM pcells pc LEFT JOIN cells c ON pc.d = c.d AND pc.bkt = c.bkt
             |  GROUP BY pc.tok),
             |exact AS (
             |  SELECT tok, count(1) AS exact_n FROM toks
             |  WHERE tok IN (SELECT tok FROM probes) GROUP BY tok)
             |SELECT e.tok, e.est, cast(coalesce(x.exact_n, 0) as bigint) AS exact_n,
             |  e.est - cast(coalesce(x.exact_n, 0) as bigint) AS overcount
             |FROM est e LEFT JOIN exact x ON e.tok = x.tok
             |ORDER BY e.tok""".stripMargin)
    ),
    QueryDef(
      "q_text_zipf",
      "Zipf-law fit — the corpus-health distributional check (natural text fits ln(freq) = a + s*ln(rank) with slope s ~ -1; synthetic/templated corpora flatten, boilerplate-heavy ones steepen): token census -> rank by frequency -> log-log linear regression via the same rounded regr_* aggregates as q_stat_regression (ln runs on INTEGER rank/count args, so per-row values agree across engines). The unpartitioned rank window runs over the VOCABULARY census only, never the token stream — vocab is corpus-sublinear (Heaps' law), so the single-partition sort is a post-aggregation frame at any corpus size",
      (s, dir) =>
        // r20: reads the shared tok_counts artifact (empty-token filter
        // commutes with the group key)
        zipfFromCounts(
          tokCountsTable(s, dir).filter(col("tok") =!= "").select(col("tok"), col("c").as("n"))),
      Some("""WITH toks AS (
             |  SELECT t AS tok FROM (
             |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
             |  WHERE t <> ''),
             |counts AS (SELECT tok, count(1) AS n FROM toks GROUP BY tok),
             |ranked AS (
             |  SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank FROM counts)
             |SELECT round(regr_slope(ln(n), ln(rank)), 4) AS zipf_slope,
             |  round(regr_intercept(ln(n), ln(rank)), 4) AS zipf_intercept,
             |  round(regr_r2(ln(n), ln(rank)), 6) AS r2,
             |  count(1) AS vocab_size,
             |  cast(sum(n) as bigint) AS n_tokens
             |FROM ranked""".stripMargin)
    ),
    QueryDef(
      "q_text_heaps",
      "Heaps'-law vocabulary-growth fit — the companion corpus-health check to q_text_zipf (V(n) = K*n^beta; natural text beta ~ 0.5-0.8, templated corpora saturate and flatten, junk floods grow toward 1): 10 nested doc_id%10 prefixes (map-only, no global doc sort), vocab-at-step from each token's first step, token counts from a map-side size(split) sum, log-log regr_* fit over the 10-row growth curve",
      (s, dir) => heapsFit(Tables.documents(s, dir)),
      Some("""WITH steps AS (
             |  SELECT doc_id % 10 AS m, string_split(text, ' ') AS t FROM documents),
             |firsts AS (
             |  SELECT fm AS d, count(1) AS nv FROM (
             |    SELECT tok, min(m) AS fm FROM (
             |      SELECT m, unnest(t) AS tok FROM steps) u
             |    WHERE tok <> '' GROUP BY tok)
             |  GROUP BY fm),
             |cnts AS (
             |  SELECT m AS d, cast(sum(len(list_filter(t, x -> x <> ''))) as bigint) AS ntm
             |  FROM steps GROUP BY m),
             |grid AS (
             |  SELECT coalesce(f.d, c.d) AS d, coalesce(f.nv, 0) AS nv, coalesce(c.ntm, 0) AS ntm
             |  FROM firsts f FULL JOIN cnts c ON f.d = c.d),
             |cum AS (
             |  SELECT d,
             |    sum(nv) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
             |    sum(ntm) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
             |  FROM grid),
             |fit AS (SELECT v, n, cast(floor(ln(v) * 1e6) as bigint) AS ly FROM cum WHERE n > 0)
             |SELECT
             |  CASE WHEN count(1) * sum(ly * ly) = sum(ly) * sum(ly) THEN 0.0
             |       ELSE round(regr_slope(ln(v), ln(n)), 4) END AS heaps_beta,
             |  CASE WHEN count(1) * sum(ly * ly) = sum(ly) * sum(ly) THEN round(ln(max(v)), 4)
             |       ELSE round(regr_intercept(ln(v), ln(n)), 4) END AS heaps_lnk,
             |  CASE WHEN count(1) * sum(ly * ly) = sum(ly) * sum(ly) THEN 1.0
             |       ELSE round(regr_r2(ln(v), ln(n)), 6) END AS r2,
             |  cast(max(v) as bigint) AS vocab_final,
             |  cast(max(n) as bigint) AS tokens_final
             |FROM fit""".stripMargin)
    ),
    QueryDef(
      "q_sample_hash",
      "deterministic content-hash sampling (training-data op): ~10% of docs by md5 bucket, stable across runs/engines",
      (s, dir) =>
        Tables
          .documents(s, dir)
          .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int") < 26)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
          .orderBy(col("lang")),
      Some("""SELECT lang, count(1) AS n_sampled, min(doc_id) AS first_doc
             |FROM documents
             |WHERE ('0x' || substring(md5(cast(doc_id as varchar)), 1, 2))::int < 26
             |GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    QueryDef(
      "q_split_assign",
      "deterministic train/val/test split assignment by content hash (80/10/10) — reproducible sharding for training pipelines",
      (s, dir) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
        Tables
          .documents(s, dir)
          .withColumn(
            "split",
            when(bucket < 204, "train").when(bucket < 230, "val").otherwise("test")
          )
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("n_langs"))
          .orderBy(col("split"))
      },
      Some("""SELECT CASE WHEN b < 204 THEN 'train' WHEN b < 230 THEN 'val'
             |            ELSE 'test' END AS split,
             |  count(1) AS n, count(DISTINCT lang) AS n_langs
             |FROM (SELECT lang,
             |        ('0x' || substring(md5(cast(doc_id as varchar)), 1, 2))::int AS b
             |      FROM documents) t
             |GROUP BY 1 ORDER BY split""".stripMargin)
    ),
    QueryDef(
      "q_text_repetition",
      "repetition-ratio quality filter (boilerplate detector): share of each doc taken by its most frequent token; census of docs above the 0.1 repetition threshold per language — exact integer ratios, no rounding needed",
      (s, dir) => {
        val perDoc = repetitionFrame(Tables.documents(s, dir))
        perDoc
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum((col("top_c") > col("n_tok") * 0.1).cast("long")).cast("long").as("n_repetitive"),
            max(col("top_c") / col("n_tok")).as("max_ratio")
          )
          .orderBy(col("lang"))
      },
      Some("""WITH tok AS (
             |  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
             |per_word AS (
             |  SELECT lang, doc_id, w, count(1) AS c FROM tok GROUP BY 1, 2, 3),
             |per_doc AS (
             |  SELECT lang, doc_id, max(c) AS top_c,
             |    cast(sum(c) as bigint) AS n_tok
             |  FROM per_word GROUP BY 1, 2)
             |SELECT lang, count(1) AS n_docs,
             |  cast(sum(cast(top_c > n_tok * 0.1 as bigint)) as bigint) AS n_repetitive,
             |  max(cast(top_c as double) / n_tok) AS max_ratio
             |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    QueryDef(
      "q_text_ttr",
      "type-token ratio (lexical diversity) quality filter: distinct-token share per doc, computed map-side (array_distinct, no explode); census of low-diversity docs per language plus the pooled corpus ratio — integer counts and one exact-long division, fully deterministic",
      (s, dir) => {
        val t = tokens(col("text"))
        val perDoc = Tables
          .documents(s, dir)
          .select(
            col("lang"),
            size(array_distinct(t)).cast("long").as("nd"),
            size(t).cast("long").as("nt")
          )
        perDoc
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum((col("nd") * 2 < col("nt")).cast("long")).cast("long").as("n_low_ttr"),
            (sum(col("nd")).cast("long") / sum(col("nt")).cast("long")).as("pooled_ttr")
          )
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(1) AS n_docs,
             |  cast(sum(cast(nd * 2 < nt as bigint)) as bigint) AS n_low_ttr,
             |  cast(sum(nd) as bigint) / cast(sum(nt) as bigint) AS pooled_ttr
             |FROM (SELECT lang,
             |        len(list_distinct(string_split(text, ' '))) AS nd,
             |        len(string_split(text, ' ')) AS nt
             |      FROM documents)
             |GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    QueryDef(
      "q_text_search",
      "keyword search, Pinot TEXT_MATCH analogue: conjunctive term filter over the token set (map-side array_contains, no index needed — at 100 TB this is a full scan by design; the inverted-index variant is the LSH/band pattern with term as the key); per-language hit census",
      (s, dir) => {
        val t = tokens(col("text"))
        Tables
          .documents(s, dir)
          .filter(array_contains(t, "query") && array_contains(t, "scan"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_hits"), min(col("doc_id")).as("first_doc"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(1) AS n_hits, min(doc_id) AS first_doc
             |FROM documents
             |WHERE list_contains(string_split(text, ' '), 'query')
             |  AND list_contains(string_split(text, ' '), 'scan')
             |GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    QueryDef(
      "q_source_caps",
      "per-source document cap (crawl-pipeline domain balancing): keep at most 10 docs per source, chosen by deterministic content-hash order; census of kept/total per source",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val rn = row_number().over(
          Window
            .partitionBy(col("source"))
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        )
        Tables
          .documents(s, dir)
          .withColumn("rn", rn)
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum((col("rn") <= 10).cast("long")).cast("long").as("n_kept"),
            min(when(col("rn") === 1, col("doc_id"))).as("first_kept")
          )
          .orderBy(col("source"))
      },
      Some("""SELECT source, count(1) AS n_docs,
             |  cast(sum(cast(rn <= 10 as bigint)) as bigint) AS n_kept,
             |  min(CASE WHEN rn = 1 THEN doc_id END) AS first_kept
             |FROM (SELECT source, doc_id,
             |        row_number() OVER (PARTITION BY source
             |          ORDER BY md5(cast(doc_id as varchar)), doc_id) AS rn
             |      FROM documents)
             |GROUP BY source ORDER BY source""".stripMargin)
    ),
    contaminationNgramDef,
    contaminationBloomDef
  ) ++ defs2

  private val ContamGramsArtifact = Artifacts.declare("contam_grams", Artifacts.RangeSorted("doc_id"))

  /** The distinct (doc_id, split, g) 13-gram frame behind the
    * decontamination checks — full-md5 grams, the GPT-3 convention.
    */
  private def contamGramDocs(toks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    toks
      .select(
        col("doc_id"),
        col("split"),
        explode(
          when(
            size(col("t")) >= 13,
            expr("transform(sequence(0, size(t) - 13), i -> md5(concat_ws(' ', slice(t, i + 1, 13))))")
          ).otherwise(expr("array()"))
        ).as("g")
      )
      .distinct()

  private val contaminationNgramDef: QueryDef =
    QueryDef(
      "q_contamination_ngram",
      "13-gram train/test contamination (the GPT-3-style decontamination check — whole-doc fingerprints miss partial copies): a test doc is contaminated if ANY of its 13-token windows appears in train. Grams carried as md5 (16-byte shuffle key); the gram-doc frame is materialized once and feeds both the train-gram set and the test semi-join",
      (s, dir) => {
        val b = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
        val toks = Tables
          .documents(s, dir)
          .select(
            col("doc_id"),
            split(col("text"), " ").as("t"),
            when(b < 204, "train").when(b < 230, "val").otherwise("test").as("split")
          )
        // referenced twice below (train-gram set + test side), and a pure
        // function of the corpus — a build-once artifact (r20: this was a
        // per-call pin, so every bench pass re-ran the corpus-wide gram
        // explode + distinct)
        val gramDocs   = Artifacts.get(s, dir, ContamGramsArtifact)(contamGramDocs(toks))
        val trainGrams = gramDocs.filter(col("split") === "train").select(col("g")).distinct()
        val testGrams  = gramDocs.filter(col("split") === "test")
        val hits       = testGrams.join(trainGrams, Seq("g"), "left_semi")
        val nTest      = toks.filter(col("split") === "test").agg(count(lit(1)).as("n_test_docs"))
        hits
          .agg(
            countDistinct(col("doc_id")).as("n_contaminated"),
            countDistinct(col("g")).as("n_shared_grams")
          )
          .crossJoin(broadcast(nTest))
          .select(col("n_contaminated"), col("n_test_docs"), col("n_shared_grams"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS t,
             |    CASE WHEN ('0x' || substring(md5(cast(doc_id as varchar)), 1, 2))::int < 204 THEN 'train'
             |         WHEN ('0x' || substring(md5(cast(doc_id as varchar)), 1, 2))::int < 230 THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM documents),
             |idx AS (
             |  SELECT doc_id, split, t, unnest(generate_series(1, greatest(len(t) - 12, 0))) AS i FROM toks),
             |grams AS (
             |  SELECT DISTINCT doc_id, split, md5(array_to_string(t[i:i+12], ' ')) AS g FROM idx),
             |trg AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
             |teg AS (SELECT doc_id, g FROM grams WHERE split = 'test')
             |SELECT
             |  (SELECT count(DISTINCT doc_id) FROM teg JOIN trg USING (g)) AS n_contaminated,
             |  (SELECT count(1) FROM toks WHERE split = 'test') AS n_test_docs,
             |  (SELECT count(DISTINCT teg.g) FROM teg JOIN trg USING (g)) AS n_shared_grams""".stripMargin)
    )

  private val TokCountsArtifact = Artifacts.declare("tok_counts", Artifacts.RangeSorted("tok"))

  /** Corpus token-frequency census (tok, c) as a build-once artifact —
    * r20: q_text_pmi, q_text_topwords and q_text_zipf each re-ran the
    * corpus token explode + count per call; one cached aggregation (the
    * Heaps'-law sublinear vocabulary frame) serves all three.
    */
  private[graft] def tokCountsTable(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.get(s, dir, TokCountsArtifact) {
      Tables
        .documents(s, dir)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("c"))
    }

  /** The lm_bgdoc artifact getter, shared by the LM-score and PMI gates
    * (both consume the same exploded bigram frame).
    */
  private[graft] def lmBgdocTable(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.get(s, dir, LmBgdocArtifact)(lmBgdocOf(Tables.documents(s, dir)))

  // session pin keyed by doc_id (r21): the hot consumer (the lm_score
  // scoring join + groupBy(doc_id, lang)) reads it exchange-free; PMI and
  // the one-time lm_terms build group by bigram keys and reshuffle
  // regardless of layout, so doc_id is the only key that pays per call
  private val LmBgdocArtifact =
    Artifacts.declare("lm_bgdoc", Artifacts.RangeSorted("doc_id"), pinKeys = Seq("doc_id"))
  private val LmTermsArtifact = Artifacts.declare("lm_terms", Artifacts.RangeSorted("bg"))

  private val bloomBytesCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), Array[Byte]]()

  private val contaminationBloomDef: QueryDef =
    QueryDef(
      "q_contamination_bloom",
      "bloom-prefiltered 13-gram decontamination (the GPT-3/Dolma production shape): build a self-describing Bloom filter over the SMALL side (the test/eval grams — one mergeable aggregate, a few MB of bits), broadcast it, and stream the HUGE side (every train gram) through a map-only probe — the train corpus is never shuffled; only the fpp-bounded candidate grams reach a shuffle, and an exact join against the test grams removes the false-positive residue. End-to-end EXACT, same oracle as q_contamination_ngram; at 100 TB this is the only shape that works — the unfiltered query must distinct-shuffle every gram of the full corpus",
      (s, dir) => {
        graft.functions.BloomFilter.register(s)
        val b = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
        val toks = Tables
          .documents(s, dir)
          .select(
            col("doc_id"),
            split(col("text"), " ").as("t"),
            when(b < 204, "train").when(b < 230, "val").otherwise("test").as("split")
          )
        // RAW exploded grams, no distinct and no materialization: bloom
        // inserts are idempotent and the exact-verify join tolerates
        // duplicate keys, so the full-gram-set distinct shuffle the plain
        // n-gram query needs never happens here. The small (test) side is
        // exploded twice — build and verify — which costs far less than
        // one materialization of the full gram set; the big (train) side
        // is exploded exactly once and never shuffled: its only consumer
        // is the map-side probe, and only the fpp-bounded candidates
        // continue.
        def grams(side: String) = toks
          .filter(col("split") === side)
          .select(
            col("doc_id"),
            explode(
              when(
                size(col("t")) >= 13,
                expr("transform(sequence(0, size(t) - 13), i -> md5(concat_ws(' ', slice(t, i + 1, 13))))")
              ).otherwise(expr("array()"))
            ).as("g")
          )
        // ~1M grams/GB of text: 2^23 bits / k=5 holds fpp < 1% up to ~1M
        // keys; at real scale size via BloomFilter.suggest from a corpus
        // stat. The filter is ONE size-bounded row (numBits/8 bytes)
        // collected to the driver and re-emitted as a LITERAL: joining it
        // in as a column makes every probe pay an UnsafeRow.getBinary
        // COPY of the full filter (measured 2.5x slower than the
        // unfiltered query at sf0.1); as a literal, projection collapse
        // inlines it and codegen hoists it into one reference object.
        // the filter bytes are a pure function of the corpus (a trained
        // model table in miniature), so they are built once per
        // (session, dir) — r20: the build was a full test-side explode +
        // aggregate + driver collect on every call
        val testDocs = Tables.documents(s, dir).filter(b >= 230)
        def buildBloom =
          graft.streaming.StreamingPipelines.buildGramBloom(testDocs, numBits = 1 << 23, numHashes = 5)
        // build OUTSIDE the map update: computeIfAbsent would run the
        // full bloom-build Spark job while holding the ConcurrentHashMap
        // bin lock, blocking concurrent queries that hash to the same bin
        // (r20 ADVICE). The bytes become a plan literal, so no-cache mode
        // (which exists to show lineage) has nothing to gain by rebuilding.
        val bloomBytes = {
          bloomBytesCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
          Option(bloomBytesCache.get((s, dir))).getOrElse {
            val bytes = buildBloom
            Option(bloomBytesCache.putIfAbsent((s, dir), bytes)).getOrElse(bytes)
          }
        }
        // train grams that might be test grams: candidates are exact on
        // the train side (they ARE train grams) and fpp-loose on the test
        // side — the equi-join against real test grams below removes that
        // residue, so the result is exact
        val candidates = grams("train")
          .select(col("g"), lit(bloomBytes).as("_bf"))
          .filter(expr("bloom_might_contain(_bf, g)"))
          .select(col("g"))
          .distinct()
        val hits  = grams("test").join(candidates, Seq("g"), "left_semi")
        val nTest = toks.filter(col("split") === "test").agg(count(lit(1)).as("n_test_docs"))
        hits
          .agg(
            countDistinct(col("doc_id")).as("n_contaminated"),
            countDistinct(col("g")).as("n_shared_grams")
          )
          .crossJoin(broadcast(nTest))
          .select(col("n_contaminated"), col("n_test_docs"), col("n_shared_grams"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS t,
             |    CASE WHEN ('0x' || substring(md5(cast(doc_id as varchar)), 1, 2))::int < 204 THEN 'train'
             |         WHEN ('0x' || substring(md5(cast(doc_id as varchar)), 1, 2))::int < 230 THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM documents),
             |idx AS (
             |  SELECT doc_id, split, t, unnest(generate_series(1, greatest(len(t) - 12, 0))) AS i FROM toks),
             |grams AS (
             |  SELECT DISTINCT doc_id, split, md5(array_to_string(t[i:i+12], ' ')) AS g FROM idx),
             |trg AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
             |teg AS (SELECT doc_id, g FROM grams WHERE split = 'test')
             |SELECT
             |  (SELECT count(DISTINCT doc_id) FROM teg JOIN trg USING (g)) AS n_contaminated,
             |  (SELECT count(1) FROM toks WHERE split = 'test') AS n_test_docs,
             |  (SELECT count(DISTINCT teg.g) FROM teg JOIN trg USING (g)) AS n_shared_grams""".stripMargin)
    )

  /** Per-source stats of `q_mixture_plan` and `q_sample_temperature`:
    * |sources|-row frames every reference of the query re-reads, built
    * once per fixture.
    */
  private val MixtureStats = Artifacts.declare("mixture_source_tokens", Artifacts.SessionOnly)
  private val SampleStats  = Artifacts.declare("sample_source_docs", Artifacts.SessionOnly)

  private val defs2: Seq[QueryDef] = Seq(
    QueryDef(
      "q_contamination",
      "train/test contamination check: test-split docs whose normalized fingerprint also appears in the train split (semi-join on the dedup key — the eval-integrity preflight every LLM pipeline runs)",
      (s, dir) => {
        val b = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
        val fp = Tables
          .documents(s, dir)
          .select(
            col("doc_id"),
            when(b < 204, "train").when(b < 230, "val").otherwise("test").as("split"),
            md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp")
          )
        // one pass instead of three: the regexp+md5 fingerprint projection is
        // the dominant cost, and the semi-join + two count branches each
        // re-ran it over the full corpus. Per-fingerprint train/test counts
        // give the same answer with a single scan and a single shuffle.
        fp.groupBy(col("fp"))
          .agg(
            sum((col("split") === "train").cast("long")).as("tr"),
            sum((col("split") === "test").cast("long")).as("te")
          )
          .agg(
            sum(when(col("tr") > 0, col("te")).otherwise(0L)).cast("long").as("n_contaminated"),
            sum(col("te")).cast("long").as("n_test")
          )
      },
      Some("""WITH fp AS (
             |  SELECT doc_id,
             |    CASE WHEN b < 204 THEN 'train' WHEN b < 230 THEN 'val'
             |         ELSE 'test' END AS split,
             |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS f
             |  FROM (SELECT *,
             |          ('0x' || substring(md5(cast(doc_id as varchar)), 1, 2))::int AS b
             |        FROM documents) t)
             |SELECT
             |  (SELECT count(1) FROM fp WHERE split = 'test'
             |     AND f IN (SELECT f FROM fp WHERE split = 'train')) AS n_contaminated,
             |  (SELECT count(1) FROM fp WHERE split = 'test') AS n_test""".stripMargin)
    ),
    QueryDef(
      "q_pii_scan",
      "PII-pattern census (data-cleaning preflight): per-language counts of docs containing email-like or long-digit-run patterns",
      (s, dir) =>
        Tables
          .documents(s, dir)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum((size(expr("regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', 0)")) > 0).cast("long"))
              .cast("long")
              .as("n_email_like"),
            sum((size(expr("regexp_extract_all(text, '[0-9]{6,}', 0)")) > 0).cast("long"))
              .cast("long")
              .as("n_long_digits")
          )
          .orderBy(col("lang")),
      Some("""SELECT lang, count(1) AS n_docs,
             |  cast(sum(cast(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) > 0 as bigint)) as bigint) AS n_email_like,
             |  cast(sum(cast(len(regexp_extract_all(text, '[0-9]{6,}')) > 0 as bigint)) as bigint) AS n_long_digits
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    QueryDef(
      "q_pii_redact",
      "PII REDACTION (the masking transform q_pii_scan only censuses): plant deterministic synthetic email/phone/IPv4 strings per doc (closed forms of doc_id, so both engines build the identical input), mask each class with a placeholder token via chained regexp_replace — map-only codegen, no shuffle at any corpus size — and emit per-doc match counts plus the md5 of the redacted text, which the oracle reproduces bit-for-bit",
      (s, dir) => {
        val seeded = concat(
          col("text"),
          lit(" contact u"),
          col("doc_id").cast("string"),
          lit("@ex"),
          (col("doc_id") % 7).cast("string"),
          lit(".com tel 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ip 10."),
          (col("doc_id") % 256).cast("string"),
          lit(".0."),
          ((col("doc_id") * 7) % 256).cast("string")
        )
        val (emailPat, phonePat, ipPat) = (EmailPat, PhonePat, IpPat)
        Tables
          .documents(s, dir)
          .withColumn("seeded", seeded)
          .select(
            col("doc_id"),
            // lit() patterns, NOT expr() SQL literals: the SQL parser would
            // unescape '\.' to '.' and silently diverge from the oracle's RE2
            size(regexp_extract_all(col("seeded"), lit(emailPat), lit(0))).cast("long").as("n_emails"),
            size(regexp_extract_all(col("seeded"), lit(phonePat), lit(0))).cast("long").as("n_phones"),
            size(regexp_extract_all(col("seeded"), lit(ipPat), lit(0))).cast("long").as("n_ips"),
            md5(redactPii(col("seeded"))).as("redacted_md5")
          )
          .orderBy(col("doc_id"))
          .limit(500)
      },
      Some("""WITH seeded AS (
             |  SELECT doc_id,
             |    text || ' contact u' || cast(doc_id as varchar)
             |      || '@ex' || cast(doc_id % 7 as varchar)
             |      || '.com tel 555-' || lpad(cast(doc_id % 10000 as varchar), 4, '0')
             |      || ' ip 10.' || cast(doc_id % 256 as varchar)
             |      || '.0.' || cast((doc_id * 7) % 256 as varchar) AS s
             |  FROM documents)
             |SELECT doc_id,
             |  cast(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) as bigint) AS n_emails,
             |  cast(len(regexp_extract_all(s, '555-[0-9]{4}')) as bigint) AS n_phones,
             |  cast(len(regexp_extract_all(s, '([0-9]{1,3}\.){3}[0-9]{1,3}')) as bigint) AS n_ips,
             |  md5(regexp_replace(regexp_replace(regexp_replace(s,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '555-[0-9]{4}', '<PHONE>', 'g'),
             |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5
             |FROM seeded ORDER BY doc_id LIMIT 500""".stripMargin)
    ),
    QueryDef(
      "q_quality_classifier",
      "fastText-style hashed linear quality classifier (the learned-filter step of corpus pipelines, next to the rule-based q_quality_gopher): each token hashes to one of 64 weight buckets (md5 prefix, engine-reproducible), the doc's logit is the bucket-weight sum — integer-exact tenths, summed in one map-only HOF aggregate, no explode, no shuffle of text — normalized by token count; keep = positive logit. Weights here are a closed form of the bucket id so the oracle is exact; production swaps in trained weights via the same broadcast-literal shape",
      (s, dir) => {
        val toks = TextShared.tokens(col("text"))
        // weight*10 per token: ((h % 64) % 7) - 3  in [-3, 3] — integers, so
        // the sum is exact in both engines regardless of order
        val w10 = aggregate(
          transform(
            toks,
            t => (conv(substring(md5(t), 1, 4), 16, 10).cast("long") % 64 % 7) - 3
          ),
          lit(0L),
          (acc, x) => acc + x
        )
        Tables
          .documents(s, dir)
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_tok"),
            w10.as("w10_sum")
          )
          .select(
            col("doc_id"),
            col("n_tok"),
            col("w10_sum"),
            (col("w10_sum").cast("double") / (lit(10.0) * col("n_tok").cast("double"))).as("score"),
            (col("w10_sum") > 0L).as("keep")
          )
          .orderBy(col("doc_id"))
          .limit(500)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |scored AS (
             |  SELECT doc_id,
             |    cast(len(toks) as bigint) AS n_tok,
             |    cast(list_sum(list_transform(toks,
             |      x -> ((('0x' || substring(md5(x), 1, 4))::bigint % 64) % 7) - 3)) as bigint) AS w10_sum
             |  FROM t)
             |SELECT doc_id, n_tok, w10_sum,
             |  cast(w10_sum as double) / (10.0 * cast(n_tok as double)) AS score,
             |  w10_sum > 0 AS keep
             |FROM scored ORDER BY doc_id LIMIT 500""".stripMargin)
    ),
    QueryDef(
      "q_sample_stratified",
      "stratified hash sampling: per-source rates (50/25/10%) for class balancing — deterministic md5 buckets, reproducible across runs and engines",
      (s, dir) => {
        val b = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
        val keep = when(col("source") === "src0", b < 128)
          .when(col("source") === "src1", b < 64)
          .otherwise(b < 26)
        Tables
          .documents(s, dir)
          .filter(keep)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, count(1) AS n_sampled, min(doc_id) AS first_doc
             |FROM (SELECT source, doc_id,
             |        ('0x' || substring(md5(cast(doc_id as varchar)), 1, 2))::int AS b
             |      FROM documents) t
             |WHERE CASE WHEN source = 'src0' THEN b < 128
             |           WHEN source = 'src1' THEN b < 64
             |           ELSE b < 26 END
             |GROUP BY source ORDER BY source""".stripMargin)
    ),
    QueryDef(
      "q_mixture_plan",
      "training-mixture planner (the stage whose output q_sample_temperature consumes): per-source TOKEN counts, temperature-weighted shares (n_tokens^0.5 — sqrt for the same IEEE-correctly-rounded reason as the sampler), and expected EPOCHS per source under a half-corpus token budget. Epochs > 1 flags sources the plan would repeat (the repeats-hurt-after-4-epochs accounting a data-constrained run needs BEFORE training); the whole query is one token-count aggregation plus arithmetic over the |sources|-row frame",
      (s, dir) => {
        val stats = Artifacts.get(s, dir, MixtureStats) {
          Tables
            .documents(s, dir)
            .groupBy(col("source"))
            .agg(sum(size(split(col("text"), " ")).cast("long")).cast("long").as("n_tokens"))
            .withColumn("w", sqrt(col("n_tokens").cast("double")).cast("decimal(18,12)"))
        }
        val tot = stats.agg(
          sum(col("w")).cast("double").as("sw"),
          sum(col("n_tokens")).cast("long").as("t_tot")
        )
        stats
          .crossJoin(broadcast(tot))
          .select(
            col("source"),
            col("n_tokens"),
            round(col("w").cast("double") / col("sw"), 6).as("share"),
            round(
              col("w").cast("double") / col("sw") * (col("t_tot").cast("double") * lit(0.5)) /
                col("n_tokens").cast("double"),
              6
            ).as("epochs")
          )
          .orderBy(col("source"))
      },
      Some("""WITH stats AS (
             |  SELECT source,
             |    cast(sum(cast(len(string_split(text, ' ')) as bigint)) as bigint) AS n_tokens,
             |    cast(sqrt(cast(sum(cast(len(string_split(text, ' ')) as bigint)) as double)) as decimal(18,12)) AS w
             |  FROM documents GROUP BY source),
             |tot AS (
             |  SELECT cast(cast(sum(w) as varchar) as double) AS sw,
             |    cast(sum(n_tokens) as bigint) AS t_tot
             |  FROM stats)
             |SELECT source, n_tokens,
             |  round(cast(w as double) / sw, 6) AS share,
             |  round(cast(w as double) / sw * (cast(t_tot as double) * 0.5)
             |        / cast(n_tokens as double), 6) AS epochs
             |FROM stats CROSS JOIN tot ORDER BY source""".stripMargin)
    ),
    QueryDef(
      "q_sample_temperature",
      "temperature-based source rebalancing (alpha = 0.5, the multilingual-LM upsampling standard): per-source sampling mass proportional to n^alpha flattens the source distribution — big sources downsample, small ones keep everything — with a 20%-of-corpus budget. alpha is 0.5 BECAUSE sqrt is the one power IEEE guarantees correctly rounded, so the keep fractions are bit-identical across engines with no rounding defense (pow/exp/ln differ by 1 ulp between StrictMath and libm); generalizing to other alphas needs an engine-pinned pow. Selection is the deterministic md5-bucket rule, so the sample is reproducible across runs and engines",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // per-source stats are a tiny frame (|sources| rows), materialized
        // once: totals, fractions, the sampling join, and the final output
        // all derive from it — unchecked, each reference re-scans documents
        // (the plan pin counts parquet scans to hold this at one data pass).
        // The decimal cast makes the cross-source weight sum order-free.
        val stats = Artifacts.get(s, dir, SampleStats) {
          docs
            .groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"))
            .withColumn("w", sqrt(col("n_docs").cast("double")).cast("decimal(18,12)"))
        }
        val tot = stats.agg(
          sum(col("w")).cast("double").as("sw"),
          sum(col("n_docs")).cast("long").as("n_tot")
        )
        val frac = stats
          .crossJoin(broadcast(tot))
          .withColumn(
            "f",
            least(
              lit(1.0),
              col("w").cast("double") / col("sw") * (col("n_tot").cast("double") * lit(0.2)) /
                col("n_docs").cast("double")
            )
          )
          .select(col("source"), col("n_docs"), col("f"))
        val b16 = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("int")
        val sampled = docs
          .join(broadcast(frac), "source")
          .filter(b16.cast("double") < col("f") * lit(65536.0))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled"))
        frac
          .join(sampled, Seq("source"), "left_outer")
          .select(
            col("source"),
            col("n_docs"),
            coalesce(col("n_sampled"), lit(0L)).cast("long").as("n_sampled"),
            round(col("f"), 6).as("keep_frac")
          )
          .orderBy(col("source"))
      },
      Some("""WITH stats AS (
             |  SELECT source, count(1) AS n_docs,
             |    cast(sqrt(cast(count(1) as double)) as decimal(18,12)) AS w
             |  FROM documents GROUP BY source),
             |tot AS (
             |  SELECT cast(cast(sum(w) as varchar) as double) AS sw,
             |    cast(sum(n_docs) as bigint) AS n_tot
             |  FROM stats),
             |frac AS (
             |  SELECT source, n_docs,
             |    least(cast(1.0 as double),
             |      cast(w as double) / sw * (cast(n_tot as double) * cast(0.2 as double))
             |        / cast(n_docs as double)) AS f
             |  FROM stats CROSS JOIN tot),
             |sampled AS (
             |  SELECT d.source, count(1) AS n_sampled
             |  FROM documents d JOIN frac USING (source)
             |  WHERE cast(('0x' || substring(md5(cast(doc_id as varchar)), 1, 4))::int as double)
             |        < f * cast(65536.0 as double)
             |  GROUP BY d.source)
             |SELECT source, cast(n_docs as bigint) AS n_docs,
             |  cast(coalesce(n_sampled, 0) as bigint) AS n_sampled,
             |  round(f, 6) AS keep_frac
             |FROM frac LEFT JOIN sampled USING (source)
             |ORDER BY source""".stripMargin)
    ),
    QueryDef(
      "q_pack_shards",
      "token-budget shard packing (sequence packing for training): per-language doc streams fill ~4096-token shards by exclusive prefix sum — shard census. Packing within a partition key (lang) is the scalable shape: a global prefix sum would serialize on one partition",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        Tables
          .documents(s, dir)
          .select(col("lang"), col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
          .withColumn("prefix", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .withColumn("shard", expr("prefix div 4096"))
          .groupBy(col("lang"), col("shard"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).cast("long").as("shard_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc")
          )
          .orderBy(col("lang"), col("shard"))
      },
      Some("""WITH toks AS (
             |  SELECT lang, doc_id, cast(len(string_split(text, ' ')) as bigint) AS n_tokens
             |  FROM documents),
             |packed AS (
             |  SELECT lang, doc_id, n_tokens,
             |    cast(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint) // 4096 AS shard
             |  FROM toks)
             |SELECT lang, shard, count(1) AS n_docs,
             |  cast(sum(n_tokens) as bigint) AS shard_tokens,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM packed GROUP BY lang, shard ORDER BY lang, shard""".stripMargin)
    ),
    QueryDef(
      "q_text_chunks",
      "document chunking for training (window 200 chars, stride 150, overlapping): sequence+posexplode fans chunks out map-side BEFORE any shuffle — documents never move whole; per-chunk md5 pins the exact window boundaries on both engines",
      (s, dir) => {
        val nChunks = greatest(ceil(length(col("text")) / 150.0).cast("int"), lit(1))
        val chunk   = col("text").substr(col("i") * 150 + 1, lit(200))
        Tables
          .documents(s, dir)
          .select(col("doc_id"), col("text"), explode(sequence(lit(0), nChunks - 1)).as("i"))
          .select(
            col("doc_id"),
            col("i").cast("long").as("chunk_idx"),
            length(chunk).cast("long").as("chunk_len"),
            md5(chunk).as("chunk_md5")
          )
          .orderBy(col("doc_id"), col("chunk_idx"))
          .limit(500)
      },
      Some("""WITH c AS (
             |  SELECT doc_id, text,
             |    unnest(generate_series(0, greatest(cast(ceil(length(text) / 150.0) as int), 1) - 1)) AS i
             |  FROM documents)
             |SELECT doc_id, cast(i as bigint) AS chunk_idx,
             |  cast(length(substring(text, cast(i * 150 + 1 as int), 200)) as bigint) AS chunk_len,
             |  md5(substring(text, cast(i * 150 + 1 as int), 200)) AS chunk_md5
             |FROM c ORDER BY doc_id, chunk_idx LIMIT 500""".stripMargin)
    ),
    QueryDef(
      "q_sample_weighted",
      "deterministic weighted sampling (Efraimidis-Spirakis A-ES): priority u^(1/w) from an md5-derived uniform, weight = n_chars, global top-20 — Spark plans TakeOrderedAndProject (per-partition heaps, no full sort); md5 seeding keeps it reproducible across runs, retries, and engines",
      (s, dir) => {
        val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("double") / lit(4294967296.0)
        Tables
          .documents(s, dir)
          .select(
            col("doc_id"),
            col("n_chars").cast("long").as("weight"),
            // pow is transcendental (never lands on a rounding half — SCALE.md
            // rule 4); round to 6 so both engines' libm agree, tiebreak doc_id
            round(pow(u, lit(1.0) / col("n_chars")), 6).as("priority")
          )
          .orderBy(col("priority").desc, col("doc_id"))
          .limit(20)
      },
      Some("""SELECT doc_id, cast(n_chars as bigint) AS weight,
             |  round(pow(('0x' || substring(md5(cast(doc_id as varchar)), 1, 8))::bigint / 4294967296.0,
             |            1.0 / n_chars), 6) AS priority
             |FROM documents ORDER BY priority DESC, doc_id LIMIT 20""".stripMargin)
    ),
    QueryDef(
      "q_text_entropy",
      "char-level Shannon entropy (nats) quality signal — low-entropy docs are repeated boilerplate, high-entropy ones are noise/binary junk: per-doc H = ln(n) - sum(c*ln(c))/n from one char-frequency aggregation; per-language census. Cross-row sums of the transcendental terms go through decimal(18,12) casts so addition order cannot move them (per-term ln agrees between engines — q_udaf_geomean precedent)",
      (s, dir) => {
        // per-doc H via the codegen'd map-only expression — the collapse of
        // explode(split(text,'')) -> char counts -> decimal-cast sum, proven
        // bit-identical to that relational form in CharEntropySpec (so the
        // oracle below, which IS the relational form, still hash-matches).
        // The explode shape shuffled one row per character; this shuffles
        // one double per doc.
        graft.functions.CharEntropy.register(s)
        val perDoc = Tables
          .documents(s, dir)
          .select(col("lang"), expr("char_entropy(text)").as("h"))
        perDoc
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            round(sum(col("h").cast("decimal(18,12)")).cast("double") / count(lit(1)), 4)
              .as("avg_entropy_nats"),
            round(max(col("h")), 4).as("max_entropy_nats")
          )
          .orderBy(col("lang"))
      },
      Some("""WITH ch AS (
             |  SELECT lang, doc_id, unnest(string_split(text, '')) AS ch FROM documents),
             |cc AS (SELECT lang, doc_id, ch, count(1) AS c FROM ch GROUP BY 1, 2, 3),
             |pd AS (
             |  SELECT lang, doc_id, cast(sum(c) as bigint) AS n,
             |    sum(cast(c * ln(c) as decimal(18,12))) AS clc
             |  FROM cc GROUP BY 1, 2),
             |ent AS (
             |  SELECT lang, ln(n) - cast(cast(clc as varchar) as double) / n AS h FROM pd)
             |SELECT lang, count(1) AS n_docs,
             |  round(cast(cast(sum(cast(h as decimal(18,12))) as varchar) as double) / count(1), 4)
             |    AS avg_entropy_nats,
             |  round(max(h), 4) AS max_entropy_nats
             |FROM ent GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    QueryDef(
      "q_text_lm_score",
      "corpus bigram-LM quality score (the perplexity-filter analogue CCNet-style pipelines run, self-trained on the corpus's own bigram stats): score(doc) = avg over its bigrams of ln P(w2|w1), add-one smoothed — (c2+1)/(c1+V) — so globally-unique junk sequences score very negative instead of ln(1/1)=0, and the bottom-20 docs surface for review. Per-bigram log-probs are spelled ln(c2+1) - ln(c1+V) so every ln takes an INTEGER argument (cross-engine ln parity holds for integer args — the entropy/geomean precedent; ln of an arbitrary double ratio would not be safe), and cross-bigram sums go through decimal(18,12) casts. One explode, materialized once (contamination-frame pattern): the stats chain and the per-doc join both read it, and bigram context counts derive from the bigram counts (no second token scan)",
      (s, dir) => {
        // r20: the exploded bigram frame and the trained log-prob table
        // are pure corpus functions — build-once artifacts (the dsir_docw
        // treatment); only the per-doc scoring join runs per call. The
        // The lm_bgdoc artifact is session-pinned PRE-PARTITIONED by
        // doc_id (r20 ADVICE → r21 pinKeyed): the terms side broadcasts,
        // the join preserves the artifact's partitioning, and the
        // groupBy(doc_id, lang) reuses it outright — HashPartitioning
        // (doc_id) satisfies the (doc_id, lang) clustered distribution,
        // so the scoring pass runs with ZERO exchanges. No per-call
        // fanoutBy: it would re-add the exchange the keyed pin paid for.
        val bgdoc = lmBgdocTable(s, dir)
        val terms = Artifacts.get(s, dir, LmTermsArtifact)(lmTermsOf(bgdoc))
        // broadcast(terms) explicitly: terms is the VOCAB-shaped side (the
        // only broadcastable one at corpus scale) — left to size
        // estimates, the planner broadcast bgdoc at small SFs, which puts
        // the artifact's doc_id partitioning on the build side and brings
        // the aggregation exchange back
        lmScoresFrom(bgdoc, broadcast(terms))
          .orderBy(col("avg_logp"), col("doc_id"))
          .limit(20)
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
             |bgd AS (
             |  SELECT doc_id, lang, t[i] AS w1, t[i] || ' ' || t[i + 1] AS bg
             |  FROM (SELECT doc_id, lang, t,
             |          unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
             |        FROM tok) x),
             |c2 AS (SELECT w1, bg, count(1) AS n2 FROM bgd GROUP BY 1, 2),
             |c1 AS (SELECT w1, cast(sum(n2) as bigint) AS n1 FROM c2 GROUP BY 1),
             |v AS (SELECT cast(count(DISTINCT w1) as bigint) AS v FROM c2),
             |terms AS (
             |  SELECT bg, ln(n2 + 1) - ln(n1 + v) AS lp
             |  FROM c2 JOIN c1 USING (w1) CROSS JOIN v)
             |SELECT doc_id, lang, cast(count(1) as bigint) AS n_bigrams,
             |  round(cast(cast(sum(cast(lp as decimal(18,12))) as varchar) as double) / count(1), 6)
             |    AS avg_logp
             |FROM bgd JOIN terms USING (bg)
             |GROUP BY 1, 2 ORDER BY avg_logp, doc_id LIMIT 20""".stripMargin)
    ),
    QueryDef(
      "q_quality_gopher",
      "Gopher-style composite rule filter with per-rule drop accounting (the funnel every production corpus filter reports): token count in [50, 100k], mean token length in [4, 10], type-token ratio >= 0.4, >= 2 stopword hits, top single-token frequency <= 12.5% — thresholds tightened from Gopher's to discriminate on this corpus (defaults in the API keep the published bounds). One wide bigint row: total, per-rule failure counts (a doc can fail several), survivors. Map-only flag computation + a single partial-aggregated count row — no shuffle of doc data at any corpus size",
      (s, dir) =>
        gopherFlags(
          Tables.documents(s, dir),
          minMeanTokLen = 4.0,
          minTtr = 0.4,
          maxTopTokFrac = 0.125
        ).agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("fail_len"), 1L).otherwise(0L)).cast("long").as("n_fail_len"),
          sum(when(col("fail_meanlen"), 1L).otherwise(0L)).cast("long").as("n_fail_meanlen"),
          sum(when(col("fail_ttr"), 1L).otherwise(0L)).cast("long").as("n_fail_ttr"),
          sum(when(col("fail_stopword"), 1L).otherwise(0L)).cast("long").as("n_fail_stopword"),
          sum(when(col("fail_repetition"), 1L).otherwise(0L)).cast("long").as("n_fail_repetition"),
          sum(when(col("pass_all"), 1L).otherwise(0L)).cast("long").as("n_pass")
        ),
      Some(s"""WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
              |m AS (
              |  SELECT doc_id,
              |    len(t) AS n_tok,
              |    cast(length(replace(text, ' ', '')) as double) / len(t) AS mtl,
              |    cast(len(list_distinct(t)) as double) / len(t) AS ttr,
              |    ${stopHitsSql(stopwords.head._2)} AS stop_hits,
              |    cast(list_max(list_transform(list_distinct(t),
              |      x -> len(list_filter(t, y -> y = x)))) as double) / len(t) AS top_frac
              |  FROM tk),
              |f AS (
              |  SELECT
              |    CASE WHEN n_tok < 50 OR n_tok > 100000 THEN 1 ELSE 0 END AS f_len,
              |    CASE WHEN mtl < 4.0 OR mtl > 10.0 THEN 1 ELSE 0 END AS f_mtl,
              |    CASE WHEN ttr < 0.4 THEN 1 ELSE 0 END AS f_ttr,
              |    CASE WHEN stop_hits < 2 THEN 1 ELSE 0 END AS f_stop,
              |    CASE WHEN top_frac > 0.125 THEN 1 ELSE 0 END AS f_rep
              |  FROM m)
              |SELECT count(1) AS n_docs,
              |  cast(sum(f_len) as bigint) AS n_fail_len,
              |  cast(sum(f_mtl) as bigint) AS n_fail_meanlen,
              |  cast(sum(f_ttr) as bigint) AS n_fail_ttr,
              |  cast(sum(f_stop) as bigint) AS n_fail_stopword,
              |  cast(sum(f_rep) as bigint) AS n_fail_repetition,
              |  cast(sum(CASE WHEN f_len + f_mtl + f_ttr + f_stop + f_rep = 0 THEN 1 ELSE 0 END) as bigint) AS n_pass
              |FROM f""".stripMargin)
    ),
    QueryDef(
      "q_text_novelty",
      "per-doc 13-gram novelty: share of a doc's distinct grams appearing in NO other doc — the corpus-redundancy QA metric (a post-dedup corpus should trend toward 1.0); bottom-20 docs by novelty = the residual-redundancy review queue. Per-doc totals are map-only (size of the doc's own distinct-gram array, no shuffle); the novel census rides the ONE gram explode + df aggregation (a df==1 gram has exactly one owner doc, so min(doc_id) attributes it without any corpus-scale join-back), md5-prefix shuffle keys, exact long/long -> double division",
      // NOT rebased onto the shared pgrams13 artifact (r20, measured):
      // the artifact path needs a corpus-wide (doc_id, g) distinct
      // SHUFFLE where this form's in-doc array_distinct dedups map-side
      // before anything moves — 1.38 s -> 1.75 s, reverted
      (s, dir) =>
        noveltyScores(Tables.documents(s, dir))
          .orderBy(col("novel_frac"), col("doc_id"))
          .limit(20),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 12, 0))) AS i FROM toks),
             |pg AS (SELECT DISTINCT doc_id, substring(md5(array_to_string(t[i:i+12], ' ')), 1, 16) AS g FROM idx),
             |df AS (SELECT g, count(1) AS df FROM pg GROUP BY 1)
             |SELECT doc_id, count(1) AS n_grams,
             |  cast(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) as bigint) AS n_novel,
             |  cast(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) as double) / count(1) AS novel_frac
             |FROM pg JOIN df USING (g)
             |GROUP BY 1 ORDER BY novel_frac, doc_id LIMIT 20""".stripMargin)
    ),
    QueryDef(
      "q_text_boilerplate",
      "boilerplate detector: the most-repeated verbatim 13-token spans corpus-wide (headers, templates, injected banners — the passages exact-substring dedup would strip doc-internally and q_dedup_spans pairs up doc-to-doc): top-20 grams by occurrence count with doc reach. The gram TEXT surfaces (not its hash) because the output is a review queue; one explode, one codegen'd HashAggregate with map-side combine — n_occ > 1 keeps the shuffle at duplicate grams only at any corpus size",
      (s, dir) =>
        repeatedGrams(Tables.documents(s, dir))
          .orderBy(col("n_occ").desc, col("g"))
          .limit(20),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 12, 0))) AS i FROM toks),
             |grams AS (SELECT doc_id, array_to_string(t[i:i+12], ' ') AS g FROM idx)
             |SELECT g, count(1) AS n_occ, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
             |FROM grams GROUP BY 1 HAVING count(1) > 1
             |ORDER BY n_occ DESC, g LIMIT 20""".stripMargin)
    ),
    QueryDef(
      "q_text_topwords",
      "corpus token frequencies: explode + count (classic map-side-combine aggregation)",
      (s, dir) =>
        // r20: reads the shared tok_counts artifact
        tokCountsTable(s, dir)
          .select(col("tok").as("word"), col("c").as("n"))
          .orderBy(col("n").desc, col("word"))
          .limit(25),
      Some("""SELECT word, count(1) AS n FROM (
             |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
             |GROUP BY word ORDER BY n DESC, word LIMIT 25""".stripMargin)
    )
  )
}
