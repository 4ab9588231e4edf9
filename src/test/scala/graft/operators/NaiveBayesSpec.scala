package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Differential + planted checks for the trained Naive Bayes classifier:
  * the distributed count-based trainer and the held-out argmax must
  * reproduce an in-memory reference of the same fixed-point scoring on
  * the fixture corpus, and planted cases pin the Laplace default for
  * unseen tokens and the deterministic tie rule.
  */
class NaiveBayesSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  /** In-memory reference: (scores (lang, tok) -> (c, s), defaults, priors). */
  private def refModel(train: Seq[(String, String)])
      : (Map[(String, String), (Long, Long)], Map[String, Long], Map[String, Long]) = {
    val toks = train.flatMap { case (lang, text) => text.split(" ", -1).map(lang -> _) }
    val tokc = toks.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val tlang = tokc.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
    val v = toks.map(_._2).distinct.size.toLong
    val scores = tokc.map { case ((l, tk), c) =>
      (l, tk) -> ((c, math.floor(1e6 * math.log((c + 1).toDouble / (tlang(l) + v).toDouble)).toLong))
    }
    val defaults = tlang.map { case (l, t) =>
      l -> math.floor(1e6 * math.log(1.0 / (t + v).toDouble)).toLong
    }
    val nd = train.size.toLong
    val priors = train.groupBy(_._1).map { case (l, xs) =>
      l -> math.floor(1e6 * math.log(xs.size.toDouble / nd.toDouble)).toLong
    }
    (scores, defaults, priors)
  }

  private def refPredict(
      text: String,
      m: (Map[(String, String), (Long, Long)], Map[String, Long], Map[String, Long])
  ): String = {
    val (scores, defaults, priors) = m
    priors.keys.toSeq
      .map { l =>
        val ts = text.split(" ", -1).map(tk => scores.get((l, tk)).map(_._2).getOrElse(defaults(l))).sum
        (l, ts + priors(l))
      }
      .maxBy { case (l, s) => (s, l) }(Ordering.Tuple2(Ordering.Long, Ordering.String.reverse))
      ._1
  }

  test("trained model parameters match the in-memory fixed-point reference") {
    val docs = graft.Tables.documents(spark, TestSpark.sfDir)
    import org.apache.spark.sql.functions.col
    val train = docs
      .filter(col("doc_id") % 2 === 0)
      .select("lang", "text")
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSeq
    val (refScores, _, _) = refModel(train)
    val expected = refScores.toSeq
      .map { case ((l, tk), (c, s)) => (l, tk, c, s) }
      .sortBy { case (l, tk, c, _) => (-c, l, tk) }
      .take(500)
    val got = graft.SparkEntry
      .queries("q_nb_train")(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expected, "trained NB parameters diverged from the in-memory reference")
  }

  test("held-out confusion matrix matches per-doc reference argmax predictions") {
    val docs = graft.Tables.documents(spark, TestSpark.sfDir)
    import org.apache.spark.sql.functions.col
    def half(r: Long) = docs
      .filter(col("doc_id") % 2 === r)
      .select("lang", "text")
      .collect()
      .map(x => (x.getString(0), x.getString(1)))
      .toSeq
    val m = refModel(half(0))
    val expected = half(1)
      .map { case (lang, text) => (lang, refPredict(text, m)) }
      .groupBy(identity)
      .map { case ((l, p), xs) => (l, p, xs.size.toLong) }
      .toSeq
      .sortBy(t => (t._1, t._2))
    val got = graft.SparkEntry
      .queries("q_nb_confusion")(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(got === expected, "held-out confusion diverged from the reference argmax")
  }

  test("per-class metrics are the exact integer ratios of the reference confusion") {
    val docs = graft.Tables.documents(spark, TestSpark.sfDir)
    import org.apache.spark.sql.functions.col
    def half(r: Long) = docs
      .filter(col("doc_id") % 2 === r)
      .select("lang", "text")
      .collect()
      .map(x => (x.getString(0), x.getString(1)))
      .toSeq
    val m     = refModel(half(0))
    val preds = half(1).map { case (lang, text) => (lang, refPredict(text, m)) }
    val langs = preds.map(_._1).distinct.sorted
    val expected = langs.map { l =>
      val tp = preds.count { case (a, p) => a == l && p == l }.toLong
      val fp = preds.count { case (a, p) => a != l && p == l }.toLong
      val fn = preds.count { case (a, p) => a == l && p != l }.toLong
      def div(n: Long, d: Long) = if (d == 0) None else Some(n.toDouble / d.toDouble)
      (l, tp, fp, fn, div(tp, tp + fp), div(tp, tp + fn), div(2 * tp, 2 * tp + fp + fn))
    }
    val got = graft.SparkEntry
      .queries("q_nb_metrics")(spark, TestSpark.sfDir)
      .collect()
      .map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), opt(4), opt(5), opt(6))
      }
      .toSeq
    assert(got === expected, "per-class metrics diverged from the reference confusion ratios")
  }

  test("kappa row is the exact chance-corrected rational of the reference confusion") {
    val docs = graft.Tables.documents(spark, TestSpark.sfDir)
    import org.apache.spark.sql.functions.col
    def half(r: Long) = docs
      .filter(col("doc_id") % 2 === r)
      .select("lang", "text")
      .collect()
      .map(x => (x.getString(0), x.getString(1)))
      .toSeq
    val m     = refModel(half(0))
    val preds = half(1).map { case (lang, text) => (lang, refPredict(text, m)) }
    val n     = preds.size.toLong
    val tr    = preds.count { case (a, p) => a == p }.toLong
    val langs = (preds.map(_._1) ++ preds.map(_._2)).distinct
    val chance = langs.map { l =>
      BigInt(preds.count(_._1 == l)) * BigInt(preds.count(_._2 == l))
    }.sum
    val expKappa =
      if (BigInt(n) * BigInt(n) == chance) None
      else Some((BigInt(n) * BigInt(tr) - chance).toDouble / (BigInt(n) * BigInt(n) - chance).toDouble)
    val got = graft.SparkEntry
      .queries("q_nb_kappa")(spark, TestSpark.sfDir)
      .collect()
    assert(got.length === 1)
    val r0 = got(0)
    assert(r0.getLong(0) === n && r0.getLong(1) === tr)
    assert(r0.getDouble(2) === tr.toDouble / n.toDouble, "accuracy must be the exact division")
    val gotKappa = if (r0.isNullAt(3)) None else Some(r0.getDouble(3))
    assert(gotKappa === expKappa, "kappa must be the exact chance-corrected rational")
  }

  test("planted: unseen held-out tokens take the Laplace default and cannot flip a clear class") {
    import spark.implicits._
    // training: lang a speaks 'aa', lang b speaks 'bb' (doc_ids even);
    // held-out doc 1 is 'aa aa zz' — 'zz' is unseen in BOTH classes, so
    // it contributes each class's default and the two 'aa' dominate
    val docs = Seq(
      (0L, "aa aa aa", "a", "src", 8L),
      (2L, "bb bb bb", "b", "src", 8L),
      (1L, "aa aa zz", "a", "src", 8L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val conf = NaiveBayes.defs.find(_.name == "q_nb_confusion").get
    // drive the op body directly over the planted frame via a temp dir
    val dir = tempDir("nb-planted")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = conf
      .build(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(got === Seq(("a", "a", 1L)), s"the unseen token must not flip the prediction: $got")
  }

  test("planted calibration: over-confident misclassification lands in a high bin with accuracy 0") {
    import spark.implicits._
    // training (even doc_ids): class a speaks 'aa' heavily, class b 'bb'.
    // held-out (odd doc_ids): doc 1 is pure 'aa' text but LABELED b — the
    // model misclassifies it as a with a LARGE margin (the planted
    // over-confidence); doc 3 is one 'bb' token labeled b — correct, with
    // a smaller margin. The two docs must land in DIFFERENT bins, the
    // high bin reading accuracy 0.0 and the low one 1.0.
    val wrong   = "aa aa aa aa aa aa"
    val correct = "bb"
    val docs = Seq(
      (0L, "aa aa aa aa aa aa aa aa", "a", "src", 8L),
      (2L, "bb bb", "b", "src", 8L),
      (1L, wrong, "b", "src", 8L),
      (3L, correct, "b", "src", 8L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = refModel(Seq("a" -> "aa aa aa aa aa aa aa aa", "b" -> "bb bb"))
    // reference margin: winner total minus runner-up total in 1e-6 nats
    def refBin(text: String): Long = {
      val (scores, defaults, priors) = m
      val totals = priors.keys.toSeq.map { l =>
        text.split(" ", -1).map(tk => scores.get((l, tk)).map(_._2).getOrElse(defaults(l))).sum +
          priors(l)
      }.sorted.reverse
      math.min((totals(0) - totals(1)) / NaiveBayes.MarginBinUnit, NaiveBayes.MaxMarginBin)
    }
    val (binWrong, binCorrect) = (refBin(wrong), refBin(correct))
    assert(binWrong > binCorrect, s"the planted margins must separate bins: $binWrong vs $binCorrect")
    val dir = tempDir("nb-cal-planted")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = NaiveBayes.defs.find(_.name == "q_nb_calibration").get
      .build(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got === Seq((binCorrect, 1L, 1L, 1.0), (binWrong, 1L, 0L, 0.0)),
      s"reliability rows must pin the planted over-confident case: $got")
  }

  test("planted calibration: a single-class model has no runner-up and reports bin -1") {
    import spark.implicits._
    val docs = Seq(
      (0L, "aa aa", "a", "src", 8L),
      (1L, "aa", "a", "src", 8L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("nb-cal-single")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = NaiveBayes.defs.find(_.name == "q_nb_calibration").get
      .build(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got === Seq((-1L, 1L, 1L, 1.0)), s"no-runner-up docs must census under bin -1: $got")
  }
}
