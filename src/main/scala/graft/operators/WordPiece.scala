package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed WordPiece training + greedy apply (Schuster & Nakajima
  * 2012; the BERT tokenizer's training objective) — the second tokenizer
  * family next to [[Bpe]], differing in exactly the two load-bearing
  * places:
  *
  *   - MERGE SCORE: a round merges the pair maximizing the likelihood
  *     ratio `n(ab) / (n(a) * n(b))` — the pair whose joint frequency most
  *     exceeds what its parts' unigram frequencies predict — instead of
  *     BPE's raw count. Unigram counts come from the CURRENT segmentation
  *     each round (one extra vocabulary-shaped aggregation). The score is
  *     ONE IEEE division of exactly-converted integers (exact bigint
  *     counts, `double(n) / (double(na) * double(nb))`): every operation
  *     is a correctly-rounded IEEE primitive evaluated in the same shape
  *     on both engines, so the argmax ordering (score desc, then (a, b))
  *     is bit-identical cross-engine — the assortativity discipline, not
  *     an iterated rounding.
  *   - ENCODE: greedy LONGEST-MATCH-FIRST against the frozen vocab (the
  *     WordPiece/BERT `tokenize()` rule), not BPE's merge-order replay.
  *     Expressed Spark-first as two map-only passes over each DISTINCT
  *     text: a `transform` computing the longest vocab match at every
  *     position (vocab rides ONE broadcast row), then an `aggregate` fold
  *     over positions that skips consumed ones — no UDF, whole-stage
  *     codegen, vocabulary-shaped work exactly like [[Bpe.encodeWithMerges]].
  *     The oracle derives the same greedy walk with a per-position
  *     longest-match table + a linear recursive CTE — an independent
  *     derivation of the same sequential rule.
  *
  * Everything else — the distinct-sequence frequency table (per-round cost
  * is |distinct sequences|, never |corpus|), the 4-pass non-overlapping
  * rewrite, the per-round pinIter discipline, the build-once durable merge
  * artifact — is shared with the BPE trainer verbatim.
  */
object WordPiece {

  private val Rounds = 6

  // NOTE deliberately NO MaxSymLen constant: a merge of two
  // already-merged symbols DOUBLES the span (round 2 can merge
  // ('x_y','x_y') into a 4-token symbol), so after R rounds a vocab entry
  // can span up to 2^R base tokens — any fixed "R+1" probe width would
  // silently truncate long symbols. The greedy probe instead filters the
  // trained vocab's ACTUAL distinct symbol lengths (the broadcast `vlens`
  // array), which is both correct and tighter.

  /** The WordPiece training loop over any (text) frame: collapse to the
    * distinct-sequence frequency table, then per round ONE unigram
    * aggregation + ONE adjacent-pair aggregation + a 1-row
    * likelihood-ratio argmax (TakeOrderedAndProject) broadcast into the
    * 4-pass rewrite. Returns the merge table
    * (round, a, b, n, na, nb, score).
    */
  private[graft] def trainWordPiece(
      docs: DataFrame,
      rounds: Int = Rounds,
      onRoundFrame: (Int, DataFrame) => Unit = (_, _) => ()
  ): DataFrame = trainWordPieceTracked(docs, rounds, onRoundFrame)._1

  /** [[trainWordPiece]] returning the pinned per-round argmax frames (the
    * tracked-pins discipline of [[Bpe.trainMergesTracked]]) so a fully
    * materializing caller — the durable artifact build — reclaims them.
    */
  private[graft] def trainWordPieceTracked(
      docs: DataFrame,
      rounds: Int = Rounds,
      onRoundFrame: (Int, DataFrame) => Unit = (_, _) => ()
  ): (DataFrame, Seq[DataFrame]) =
    trainWordPieceWeightedTracked(
      // THE one corpus-sized pass: collapse to (distinct sequence, weight).
      // pinIter, not pin — this is generation 0 of the loop frame below.
      Tables.pinIter(
        docs
          .select(concat(lit(" "), col("text"), lit(" ")).as("s"))
          .groupBy(col("s"))
          .agg(count(lit(1)).as("w"))
      ),
      rounds,
      onRoundFrame
    )

  /** The training loop over an ALREADY-BUILT frequency frame (s, w) with
    * space-padded sequences — the entry point the streaming tokenizer
    * twin retrains through (frequency tables are additive, so a
    * re-aggregated union of per-batch partials trains bit-identically to
    * the batch build — the [[Bpe.trainMergesWeighted]] contract). The
    * caller passes a MATERIALIZED frame; the loop unpins superseded
    * generations, generation 0 included.
    */
  private[graft] def trainWordPieceWeightedTracked(
      seqs0: DataFrame,
      rounds: Int = Rounds,
      onRoundFrame: (Int, DataFrame) => Unit = (_, _) => ()
  ): (DataFrame, Seq[DataFrame]) = {
    var seqs: DataFrame = seqs0
    val mks    = Seq.newBuilder[DataFrame]
    val merges = Seq.newBuilder[DataFrame]
    for (k <- 1 to rounds) {
      onRoundFrame(k, seqs)
      // unigram counts of the CURRENT segmentation — referenced twice
      // below (the na and nb joins). Deliberately NOT pinned: Catalyst
      // duplicates the explode+agg subtree, but both copies scan the
      // PINNED seqs blocks inside the one argmax job, and on the
      // vocabulary-shaped frame that duplication is cheaper than a
      // materialization job per round (measured: the heldout gate is
      // round-latency-bound, not data-bound)
      val uni = seqs
        .select(col("w"), explode(split(trim(col("s")), " ")).as("tok"))
        .groupBy(col("tok"))
        .agg(sum(col("w")).as("n"))
      val pairs = seqs
        .select(col("w"), split(trim(col("s")), " ").as("t"))
        .select(
          col("w"),
          explode(
            when(
              size(col("t")) >= 2,
              transform(
                sequence(lit(1), size(col("t")) - 1),
                i =>
                  struct(
                    element_at(col("t"), i).as("a"),
                    element_at(col("t"), i + 1).as("b")
                  )
              )
            ).otherwise(array().cast("array<struct<a:string,b:string>>"))
          ).as("p")
        )
        .select(col("p.a").as("a"), col("p.b").as("b"), col("w"))
        .groupBy(col("a"), col("b"))
        .agg(sum(col("w")).as("n"))
      // likelihood-ratio argmax: exact bigint counts, one IEEE division
      // per candidate, ties broken by (a, b) — both engines compute the
      // identical double, so the 1-row winner can never drift
      val scored = pairs
        .join(uni.select(col("tok").as("a"), col("n").as("na")), "a")
        .join(uni.select(col("tok").as("b"), col("n").as("nb")), "b")
        .select(
          col("a"),
          col("b"),
          col("n"),
          col("na"),
          col("nb"),
          (col("n").cast("double") / (col("na").cast("double") * col("nb").cast("double")))
            .as("score")
        )
      val mk = Tables.pinIter(scored.orderBy(col("score").desc, col("a"), col("b")).limit(1))
      mks += mk
      merges += mk.select(
        lit(k.toLong).as("round"),
        col("a"),
        col("b"),
        col("n"),
        col("na"),
        col("nb"),
        col("score")
      )
      if (k < rounds) {
        // the 4-pass non-overlapping rewrite + re-aggregation — shared
        // semantics with the BPE loop (Bpe.scala replaceSql twin)
        val pat = concat(lit(" "), col("a"), lit(" "), col("b"), lit(" "))
        val rep = concat(lit(" "), col("a"), lit("_"), col("b"), lit(" "))
        var sNew: org.apache.spark.sql.Column = col("s")
        for (_ <- 1 to 4) sNew = call_function("replace", sNew, pat, rep)
        val next = Tables.pinIter(
          seqs
            .crossJoin(broadcast(mk))
            .select(sNew.as("s"), col("w"))
            .groupBy(col("s"))
            .agg(sum(col("w")).as("w"))
        )
        Tables.unpin(seqs)
        seqs = next
      }
    }
    Tables.unpin(seqs)
    (merges.result().reduce(_ unionByName _).orderBy(col("round")), mks.result())
  }

  /** Greedy longest-match-first encode against a TRAINED merge table — the
    * WordPiece `tokenize()` rule: at each position take the longest vocab
    * symbol matching the upcoming tokens (singles always match), emit it,
    * skip past it. Two map-only passes per DISTINCT text with the vocab on
    * ONE broadcast row:
    *   1. `lmax[i]` — the longest match at every position, via a
    *      `transform` probing exactly the trained vocab's distinct symbol
    *      lengths with `array_contains` (position-independent, no
    *      sequencing; a head-token prune skips positions that cannot
    *      start any symbol);
    *   2. the left-to-right fold — an `aggregate` over positions carrying
    *      (next-unconsumed, output) and skipping consumed positions.
    * Returns the vocabulary-shaped (s0, enc) mapping, same contract as
    * [[Bpe.encodeWithMerges]].
    */
  private[graft] def encodeGreedy(docs: DataFrame, mergeTable: DataFrame): DataFrame = {
    // alongside the vocab, broadcast its HEAD-TOKEN set (each symbol's
    // first '_'-segment) and its distinct symbol lengths: at a random text
    // position almost no token heads a vocab symbol, so one cheap
    // array_contains on the head prunes the whole slice/join/contains
    // probe cascade — measured 2.7s -> sub-second on the encode gate
    val vrow = mergeTable
      .select(concat(col("a"), lit("_"), col("b")).as("sym"))
      .agg(
        sort_array(collect_set(col("sym"))).as("vocab"),
        sort_array(collect_set(element_at(split(col("sym"), "_"), 1))).as("vheads"),
        sort_array(collect_set(size(split(col("sym"), "_")))).as("vlens")
      )
    // keyed fanout into the distinct — the lmax probe + greedy fold are
    // compute-dense per row, and AQE's byte-sized coalescing serializes
    // them on one core at bench scale (the Bpe.encodeWithMerges finding);
    // repartition BY s0 pins the distinct's own exchange instead of
    // adding one
    Tables
      .fanoutBy(docs.select(concat(lit(" "), col("text"), lit(" ")).as("s0")), col("s0"))
      .distinct()
      .crossJoin(broadcast(vrow))
      .withColumn("t", split(trim(col("s0")), " "))
      .withColumn(
        "lmax",
        transform(
          sequence(lit(1), size(col("t"))),
          i =>
            when(!array_contains(col("vheads"), element_at(col("t"), i)), lit(1)).otherwise(
              coalesce(
                array_max(
                  // probe ONLY the lengths the vocab actually contains;
                  // length-validity INSIDE the lambda (sequence(2, n) with
                  // n < 2 generates a DESCENDING [2, n] range in Spark, so
                  // the naive sequence(2, remaining) form would probe
                  // phantom lengths at the tail positions)
                  filter(
                    col("vlens"),
                    l =>
                      (l <= size(col("t")) - i + 1) &&
                        array_contains(col("vocab"), array_join(slice(col("t"), i, l), "_"))
                  )
                ),
                lit(1)
              )
            )
        )
      )
      .select(
        col("s0"),
        trim(
          aggregate(
            sequence(lit(1), size(col("t"))),
            struct(lit(1).as("nxt"), lit("").as("out")),
            (acc, i) =>
              when(i < acc.getField("nxt"), acc).otherwise(
                struct(
                  (i + element_at(col("lmax"), i)).as("nxt"),
                  concat(
                    acc.getField("out"),
                    lit(" "),
                    array_join(slice(col("t"), i, element_at(col("lmax"), i)), "_")
                  ).as("out")
                )
              ),
            acc => acc.getField("out")
          )
        ).as("enc")
      )
  }

  private val MergesArtifact = graft.Artifacts.declare("wordpiece_merges", graft.Artifacts.RangeSorted("round"))

  /** The trained WordPiece merge table as a build-once artifact — the
    * [[Bpe.trainedMerges]] treatment (durable under `graft.artifact.root`,
    * parity spec-pinned, tracked build reclaims the per-round argmax pins).
    */
  private[graft] def trainedWordPiece(
      s: org.apache.spark.sql.SparkSession,
      dir: String
  ): DataFrame =
  {
    // shared seq_freq artifact as generation 0 (r19 cold-budget trim) —
    // a pinIter copy, reclaimed by the loop without touching the artifact
    def build =
      trainWordPieceWeightedTracked(Tables.pinIter(TextShared.seqFreq(s, dir)), Rounds)
    graft.Artifacts.getTracked(s, dir, MergesArtifact)(build)
  }

  private val MergesEvenArtifact = graft.Artifacts.declare("wordpiece_merges_even", graft.Artifacts.RangeSorted("round"))

  /** The held-out gate's even-half merge table as its own build-once
    * artifact (the [[Bpe.trainedMergesEven]] rationale).
    */
  private[graft] def trainedWordPieceEven(
      s: org.apache.spark.sql.SparkSession,
      dir: String
  ): DataFrame =
  {
    // shared seq_freq_even artifact (r19 cold-budget trim)
    def build =
      trainWordPieceWeightedTracked(Tables.pinIter(TextShared.seqFreqEven(s, dir)), Rounds)
    graft.Artifacts.getTracked(s, dir, MergesEvenArtifact)(build)
  }

  // ── oracle SQL ─────────────────────────────────────────────────────────

  /** Training CTE chain wd0..wdR / wu_k / wp_k / wm_k over `documents`
    * rows passing `where` — the DuckDB twin of [[trainWordPieceTracked]].
    * wd_k and wu_k are MATERIALIZED: each wd is read by three successors
    * (unigrams, pairs, rewrite) and wu by two (na + nb side), and DuckDB
    * inlines plain CTEs — unmaterialized the 6-round chain expands
    * exponentially.
    */
  private def trainCtesSql(rounds: Int, where: String): Seq[String] = {
    val ctes = Seq.newBuilder[String]
    ctes += (s"wd0 AS MATERIALIZED (SELECT s, cast(count(1) as bigint) AS w FROM " +
      s"(SELECT ' ' || text || ' ' AS s FROM documents WHERE $where) raw GROUP BY 1)")
    for (k <- 1 to rounds) {
      ctes += s"""wu$k AS MATERIALIZED (
                 |  SELECT tok, cast(sum(w) as bigint) AS n
                 |  FROM (SELECT w, unnest(string_split(trim(s), ' ')) AS tok FROM wd${k - 1}) z
                 |  GROUP BY 1)""".stripMargin
      ctes += s"""wp$k AS (
                 |  SELECT split_part(pr, ' ', 1) AS a, split_part(pr, ' ', 2) AS b,
                 |    cast(sum(w) as bigint) AS n
                 |  FROM (SELECT w, unnest(list_transform(generate_series(1, len(t) - 1),
                 |                                        i -> t[i] || ' ' || t[i+1])) AS pr
                 |        FROM (SELECT w, string_split(trim(s), ' ') AS t FROM wd${k - 1}) x
                 |        WHERE len(t) >= 2) y
                 |  GROUP BY 1, 2)""".stripMargin
      ctes += s"""wm$k AS MATERIALIZED (
                 |  SELECT p.a, p.b, p.n, ua.n AS na, ub.n AS nb,
                 |    cast(p.n as double) / (cast(ua.n as double) * cast(ub.n as double)) AS score
                 |  FROM wp$k p JOIN wu$k ua ON ua.tok = p.a JOIN wu$k ub ON ub.tok = p.b
                 |  ORDER BY score DESC, p.a, p.b LIMIT 1)""".stripMargin
      ctes += (s"wd$k AS MATERIALIZED (SELECT s, cast(sum(w) as bigint) AS w FROM " +
        s"(SELECT ${Bpe.replaceSql("s")} AS s, w FROM wd${k - 1} CROSS JOIN wm$k m) r GROUP BY 1)")
    }
    ctes.result()
  }

  /** Greedy-encode CTE chain over `documents` rows passing `where`: the
    * per-position longest-match table (map-only, vocab joined by exact
    * symbol match) + a LINEAR recursive walk — one row per emitted token
    * per text, terminating when the position leaves the token array. The
    * DuckDB twin of [[encodeGreedy]], derived independently (recursion vs
    * fold) so the gate compares two formulations of the same greedy rule.
    */
  private def encCtesSql(rounds: Int, where: String): Seq[String] = Seq(
    "wvocab AS (SELECT sym, len(string_split(sym, '_')) AS vl FROM (SELECT DISTINCT a || '_' || b AS sym FROM (" +
      (1 to rounds).map(k => s"SELECT a, b FROM wm$k").mkString(" UNION ALL ") + ") zz) vv)",
    s"wtexts AS MATERIALIZED (SELECT DISTINCT ' ' || text || ' ' AS s0 FROM documents WHERE $where)",
    "wtok AS MATERIALIZED (SELECT s0, string_split(trim(s0), ' ') AS t FROM wtexts)",
    "wposs AS (SELECT s0, t, unnest(generate_series(1, len(t))) AS pos FROM wtok)",
    """wlm0 AS MATERIALIZED (
      |  SELECT p.s0, p.pos, coalesce(max(v.vl), 1) AS l
      |  FROM wposs p LEFT JOIN wvocab v
      |    ON v.vl <= len(p.t) - p.pos + 1
      |   AND array_to_string(p.t[p.pos : p.pos + v.vl - 1], '_') = v.sym
      |  GROUP BY p.s0, p.pos)""".stripMargin,
    """wlm AS MATERIALIZED (
      |  SELECT l0.s0, l0.pos, l0.l,
      |         array_to_string(t.t[l0.pos : l0.pos + l0.l - 1], '_') AS tok
      |  FROM wlm0 l0 JOIN wtok t USING (s0))""".stripMargin,
    """wwalk AS (
      |  SELECT s0, 1 AS pos, '' AS out FROM wtok
      |  UNION ALL
      |  SELECT w.s0, w.pos + m.l, w.out || ' ' || m.tok
      |  FROM wwalk w JOIN wlm m ON m.s0 = w.s0 AND m.pos = w.pos)""".stripMargin,
    "wenc AS (SELECT s0, max_by(out, pos) AS out FROM wwalk GROUP BY s0)"
  )

  /** Per-doc encode readout over `documents` rows passing `where`. */
  private def encodeSelectSql(where: String): String =
    s"""SELECT d.doc_id,
       |  cast(len(string_split(d.text, ' ')) as bigint) AS n_tokens,
       |  cast(len(string_split(trim(e.out), ' ')) as bigint) AS n_enc,
       |  md5(trim(e.out)) AS enc_hash
       |FROM documents d JOIN wenc e ON e.s0 = ' ' || d.text || ' '
       |WHERE $where
       |ORDER BY d.doc_id LIMIT 500""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_wordpiece_merges",
      s"distributed WordPiece merge training (Schuster & Nakajima 2012 — the BERT tokenizer's objective), $Rounds rounds on the DISTINCT-SEQUENCE FREQUENCY TABLE: per round ONE unigram aggregation over the current segmentation + ONE adjacent-pair aggregation + a 1-row argmax of the LIKELIHOOD RATIO n(ab)/(n(a)*n(b)) — the pair whose joint frequency most exceeds its parts' unigram prediction, which is what separates WordPiece from BPE's raw-count argmax (q_bpe_merges) and makes it prefer reliable collocations over merely-common ones. The score is one IEEE division of exactly-converted bigint counts evaluated in the identical shape on both engines (bit-identical doubles — no iterated rounding), ties to (a, b); rewrite + re-aggregation are the shared 4-pass BPE machinery. The table (round, a, b, n, na, nb, score) is a BUILD-ONCE artifact (wordpiece_merges, durable under graft.artifact.root)",
      (s, dir) => trainedWordPiece(s, dir).orderBy(col("round")),
      Some {
        val sel = (1 to Rounds)
          .map(k => s"SELECT cast($k as bigint) AS round, a, b, n, na, nb, score FROM wm$k")
          .mkString(" UNION ALL ")
        "WITH " + trainCtesSql(Rounds, "TRUE").mkString(",\n") +
          s"\nSELECT * FROM ($sel) ORDER BY round"
      }
    ),
    QueryDef(
      "q_wordpiece_encode",
      s"WordPiece APPLY — greedy LONGEST-MATCH-FIRST encode against the trained vocab (the BERT tokenize() rule, and the second load-bearing difference from BPE: q_bpe_encode replays merges in training order, this walks each text left to right always taking the LONGEST vocab symbol at the current position). Spark-first as two map-only passes over each DISTINCT text with the vocab on ONE broadcast row: a transform computing the longest match at every position (probing exactly the trained vocab's distinct symbol lengths — a merge of two merged symbols DOUBLES the span, so no fixed probe width is safe — behind a head-token prune, array_contains against the broadcast vocab), then an aggregate fold over positions carrying (next-unconsumed, output) — no UDF, vocabulary-shaped work, per-doc results from ONE join back to documents. The oracle derives the same walk with a per-position longest-match table + a linear recursive CTE — an independent derivation of the same sequential rule. Output per doc: token counts before/after and the encode md5. First 500 docs by id",
      (s, dir) =>
        Bpe.encodeReadout(
          Tables.documents(s, dir),
          encodeGreedy(Tables.documents(s, dir), trainedWordPiece(s, dir))
        ),
      Some {
        val ctes = trainCtesSql(Rounds, "TRUE") ++ encCtesSql(Rounds, "TRUE")
        s"""WITH RECURSIVE ${ctes.mkString(",\n")}
           |${encodeSelectSql("TRUE")}""".stripMargin
      }
    ),
    QueryDef(
      "q_wordpiece_encode_heldout",
      s"WordPiece APPLY on HELD-OUT data — train the $Rounds-round likelihood-ratio merge table on the even-doc_id half of the corpus, then greedy-encode the ODD half with that frozen vocab (the q_bpe_encode_heldout gate shape for the second tokenizer family): the held-out half's own pair statistics never pick a merge — its likelihood argmax could differ from the trained table's, and the longest-match walk consumes ONLY the frozen vocab broadcast. Output per held-out doc: token counts before/after and the encode md5. First 500 docs by id",
      (s, dir) => {
        val heldOut = Tables.documents(s, dir).filter(col("doc_id") % 2 === 1)
        Bpe.encodeReadout(heldOut, encodeGreedy(heldOut, trainedWordPieceEven(s, dir)))
      },
      Some {
        val ctes = trainCtesSql(Rounds, "doc_id % 2 = 0") ++ encCtesSql(Rounds, "doc_id % 2 = 1")
        s"""WITH RECURSIVE ${ctes.mkString(",\n")}
           |${encodeSelectSql("d.doc_id % 2 = 1")}""".stripMargin
      }
    )
  )
}
