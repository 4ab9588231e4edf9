package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Unigram-LM tokenizer training + Viterbi apply (Kudo 2018 —
  * the SentencePiece default) — the THIRD tokenizer family next to [[Bpe]]
  * and [[WordPiece]], completing the production trio. Where BPE/WordPiece
  * GROW a vocabulary one merge at a time, the unigram LM starts from a
  * large seed vocabulary and SHRINKS it: each piece carries a probability
  * `p(g) = c(g) / T`, a sequence's segmentation is the Viterbi argmax of
  * `Σ log p(piece)`, and EM rounds re-estimate counts from the current
  * segmentation and prune pieces the model stopped using.
  *
  * This implementation is the HARD-EM (Viterbi-EM) variant: the E-step
  * uses the single best segmentation rather than forward-backward
  * expectations, and the prune rule drops every n≥2 piece with zero
  * Viterbi use count (unigrams are never pruned — they guarantee every
  * sequence stays segmentable, Kudo's "characters always kept" rule at
  * the word-token level). Hard EM is the standard deterministic
  * simplification and is what makes the objective ORACLE-EXACT:
  *
  *   - PIECE SCORES are fixed-point integers: `floor(1e6 · ln(c / T))`
  *     with c and T exact bigint counts converted once to double (both
  *     exact below 2^53; T at a 100 TB corpus is ~7.5e13, three orders
  *     inside). One IEEE division + ONE ln per piece per round — the
  *     q_graph_betweenness 1e-6-unit discipline, not an iterated
  *     rounding; the DP then sums INTEGERS, exact and
  *     association-order-free in both engines.
  *   - The VITERBI DP is a left-to-right fold over positions carrying
  *     the best-score table B (B[p+1] = best prefix score through
  *     position p): candidates `c_l = B[p+1-l] + li_l[p]` for piece
  *     lengths l ∈ {1,2,3}, ties broken LONGEST-PIECE-FIRST (l=3 checked
  *     first with >=). Per-position candidate scores ride precomputed
  *     arrays so the fold itself does no lookups.
  *   - The BACKTRACE re-derives each chosen length from the settled B
  *     table by the same cascade (equality against B[p+1], l=3 first) —
  *     no backpointer state is carried, and the recomputation provably
  *     picks the fold's branch (the fold chose l iff its candidate
  *     equals the settled best).
  *
  * Spark-first scale shape: training runs on the DISTINCT-SEQUENCE
  * FREQUENCY TABLE (the [[Bpe]] formulation — per-round cost is
  * |distinct sequences|, never |corpus|); the per-round score table rides
  * ONE broadcast map row into a MAP-ONLY segmentation pass (no shuffle,
  * no UDF — `transform` + `aggregate` folds, whole-stage codegen); the
  * M-step recount is one vocabulary-shaped aggregation. A production
  * 10^5–10^6-piece vocabulary is a few-MB broadcast — the WordPiece
  * vocab-row argument. Piece length is capped at [[MaxPieceLen]] = 3
  * word tokens BY DESIGN (a fixed model constant like SentencePiece's
  * max piece length, unlike BPE merges whose spans double per round).
  *
  * UNKNOWN TOKENS (possible only on held-out encode — during training
  * every unigram is in the vocab): a token absent from the vocab scores
  * [[UnkUnits]] = -5e7 fixed-point units and is emitted as itself —
  * strictly below any real piece score until T exceeds e^50/1e6 ≈ 5e21
  * total piece occurrences (a ~10^8 × 100 TB corpus), documented bound.
  *
  * The DuckDB oracle derives the same rounds independently: constant-
  * state recursive CTEs for the DP walk (state = last three best values;
  * the accumulated recursion rows ARE the DP table) and the backtrace
  * (state = the boundary position alone; pieces cut from the token array
  * between adjacent boundaries afterwards) — recursion vs fold, two
  * formulations of the same sequential rule, the WordPiece-gate shape.
  */
object Unigram {

  private[graft] val Rounds   = 3
  private val MaxPieceLen     = 3
  private val SeedMin         = 3L
  private[graft] val UnkUnits = -50000000L

  /** Seed vocabulary over the weighted tokenized (w, t) frame: every token unigram,
    * plus 2/3-gram pieces with weighted count >= [[SeedMin]]. Returns
    * (g, n, c) with g '_'-joined (the corpus alphabet never contains '_',
    * the [[Bpe]] invariant, so piece strings cannot collide across n).
    */
  private def seedVocab(tok: DataFrame): DataFrame = {
    val grams = (1 to MaxPieceLen)
      .map { n =>
        tok
          .filter(size(col("t")) >= n)
          .select(
            col("w"),
            lit(n).as("n"),
            explode(
              transform(
                sequence(lit(1), size(col("t")) - (n - 1)),
                i => array_join(slice(col("t"), i, lit(n)), "_")
              )
            ).as("g")
          )
      }
      .reduce(_ unionByName _)
    grams
      .groupBy(col("g"), col("n"))
      .agg(sum(col("w")).as("c"))
      .filter(col("n") === 1 || col("c") >= SeedMin)
  }

  /** Fixed-point piece scores from a (g, n, c) vocab: ONE exact-integer
    * division + ONE ln per piece, floored to 1e-6 units (bigint). The
    * total rides a 1-row broadcast.
    */
  private def scores(uv: DataFrame): DataFrame = {
    val tot = uv.agg(sum(col("c")).cast("double").as("tt"))
    uv.crossJoin(broadcast(tot))
      .select(
        col("g"),
        col("n"),
        floor(lit(1e6) * log(col("c").cast("double") / col("tt"))).cast("long").as("li")
      )
  }

  /** Viterbi-segment a weighted (s, w) frame of space-padded sequences
    * against a frozen (g, li) score table. The per-position candidate
    * scores are built the JOIN way — explode positions with their 1/2/3-
    * token gram strings, LEFT-join the vocabulary-shaped score table
    * (Spark broadcasts it: three broadcast hash joins, each probe O(1)),
    * and collect back to per-sequence arrays ordered by position. NOT a
    * broadcast-map `element_at` probe: Catalyst map lookup is a LINEAR
    * SCAN of the map's key array, so a 10^5-piece vocab would cost
    * O(|vocab|) per position — measured as the difference between
    * seconds and hours at sf0.1. The one narrow shuffle per pass (the
    * regroup) carries (pos, three longs) per DISTINCT-sequence token —
    * the same volume the M-step recount shuffles anyway. The DP and
    * backtrace are then pure `aggregate` folds over those arrays
    * (whole-stage codegen, O(1) per access). Returns (s, w, seg) with
    * seg the space-separated '_'-joined piece string.
    */
  private[graft] def viterbiSegment(seqs: DataFrame, sc: DataFrame): DataFrame =
    viterbiSegmentFrom(posGramsFrame(tokFrame(seqs)), sc)

  /** The tokenized (s, w, t) frame a segmentation pass folds over. */
  private def tokFrame(seqs: DataFrame): DataFrame =
    seqs.select(col("s"), col("w"), split(trim(col("s")), " ").as("t"))

  /** Positions with their candidate gram strings (g2/g3 NULL where the
    * position cannot end a piece of that length — a NULL join key never
    * matches, exactly the oracle's CASE construction). SCORE-INDEPENDENT:
    * the EM loop pins this frame ONCE and re-joins it against each
    * round's fresh score table (the r17 cold-path finding — re-exploding
    * the position frame per round tripled the training passes' scan work
    * for identical output).
    */
  private def posGramsFrame(tok: DataFrame): DataFrame =
    tok
      .select(col("s"), col("w"), col("t"), explode(sequence(lit(1), size(col("t")))).as("pos"))
      .select(
        col("s"),
        col("w"),
        col("pos"),
        element_at(col("t"), col("pos")).as("g1"),
        when(
          col("pos") >= 2,
          concat(element_at(col("t"), col("pos") - 1), lit("_"), element_at(col("t"), col("pos")))
        ).as("g2"),
        when(
          col("pos") >= 3,
          concat(
            element_at(col("t"), col("pos") - 2),
            lit("_"),
            element_at(col("t"), col("pos") - 1),
            lit("_"),
            element_at(col("t"), col("pos"))
          )
        ).as("g3")
      )

  /** One Viterbi pass over a pre-built token + position frame against a
    * frozen (g, li) score table — the per-round body of the EM loop and
    * of the held-out encode.
    */
  private def viterbiSegmentFrom(posGrams: DataFrame, sc: DataFrame): DataFrame = {
    def side(alias: String) =
      broadcast(sc.select(col("g").as(s"k_$alias"), col("li").as(s"li_$alias")))
    // Two r20 reshapes of the regroup (measured: the whole DP ran as a
    // single 1.6 s task before):
    //  1. The regroup carries g1 (the position's own token) and w through
    //     the shuffle, so the token array rebuilds from the regrouped
    //     structs (t = transform(ps, g1)) — the former `.join(tok, "s")`
    //     re-shuffle of the full-text token frame is GONE (one exchange
    //     and one join removed; the g1 string was already flowing into
    //     this exchange as the join probe key, so shuffle bytes barely
    //     move).
    //  2. fanoutBy(s) pins the regroup's OWN exchange at the session
    //     shuffle-partition count: the post-shuffle stage runs the
    //     compute-dense integer DP + backtrace, and AQE's byte-based
    //     coalescing would collapse the few-MB array frame to ONE task.
    //     No exchange is added — the groupBy below reuses the pinned
    //     partitioning.
    val withArrays = Tables
      .fanoutBy(
        posGrams
          .join(side("1"), col("g1") === col("k_1"), "left")
          .join(side("2"), col("g2") === col("k_2"), "left")
          .join(side("3"), col("g3") === col("k_3"), "left"),
        col("s")
      )
      .groupBy(col("s"))
      .agg(
        sort_array(
          collect_list(
            struct(col("pos"), col("g1"), col("li_1"), col("li_2"), col("li_3"))
          )
        ).as("ps"),
        max(col("w")).as("w")
      )
      .withColumn("t", transform(col("ps"), p => p.getField("g1")))
      // per-position candidate scores; l2/l3 are NULL where the position
      // cannot end a piece of that length OR the gram is out-of-vocab;
      // the unigram slot is never null — out-of-vocab tokens take the
      // UNK floor
      .withColumn("l1", transform(col("ps"), p => coalesce(p.getField("li_1"), lit(UnkUnits))))
      .withColumn("l2", transform(col("ps"), p => p.getField("li_2")))
      .withColumn("l3", transform(col("ps"), p => p.getField("li_3")))
      // the DP fold: B grows one best value per position. Indices are
      // clamped with greatest(., 1) — the clamped read is never USED
      // (its candidate is NULL there and the cascade skips it), the
      // clamp only keeps ANSI element_at in bounds
      .withColumn(
        "bs",
        aggregate(
          sequence(lit(1), size(col("t"))),
          array(lit(0L)),
          (acc, i) => {
            val c1 = element_at(acc, i) + element_at(col("l1"), i)
            val c2 = element_at(acc, greatest(i - 1, lit(1))) + element_at(col("l2"), i)
            val c3 = element_at(acc, greatest(i - 2, lit(1))) + element_at(col("l3"), i)
            concat(
              acc,
              array(
                when(c3.isNotNull && c3 >= coalesce(c2, c3) && c3 >= c1, c3)
                  .when(c2.isNotNull && c2 >= c1, c2)
                  .otherwise(c1)
              )
            )
          }
        )
      )
    // backtrace: walk pos from n to 0 re-deriving each chosen length from
    // the settled B by the same >=-cascade (equality against B[p+1], l=3
    // first); the fold runs n steps and idles once pos hits 0
    def blAt(p: Column): Column = {
      val b3 = element_at(col("bs"), greatest(p - 2, lit(1))) + element_at(col("l3"), p)
      val b2 = element_at(col("bs"), greatest(p - 1, lit(1))) + element_at(col("l2"), p)
      when(b3.isNotNull && b3 === element_at(col("bs"), p + 1), lit(3))
        .when(b2.isNotNull && b2 === element_at(col("bs"), p + 1), lit(2))
        .otherwise(lit(1))
    }
    withArrays.select(
      col("s"),
      col("w"),
      trim(
        aggregate(
          sequence(lit(1), size(col("t"))),
          struct(size(col("t")).as("pos"), lit("").as("out")),
          (a, _) => {
            val p = a.getField("pos")
            val l = blAt(p)
            when(p <= 0, a).otherwise(
              struct(
                (p - l).as("pos"),
                concat(array_join(slice(col("t"), p - l + 1, l), "_"), lit(" "), a.getField("out"))
                  .as("out")
              )
            )
          },
          a => a.getField("out")
        )
      ).as("seg")
    )
  }

  /** The hard-EM training loop over an ALREADY-BUILT weighted frequency
    * frame (s, w) — the entry point the streaming retrain folds through
    * (frequency tables are additive, the [[Bpe.trainMergesWeighted]]
    * contract). Per round: one broadcast score map, one map-only Viterbi
    * pass, one vocabulary-shaped recount, prune-unused. Returns the final
    * vocab WITH its scores (g, n, c, li) plus the pinned frames the
    * caller reclaims after materializing (the tracked-pins discipline).
    */
  private[graft] def trainUnigramWeightedTracked(
      seqs0: DataFrame,
      rounds: Int = Rounds
  ): (DataFrame, Seq[DataFrame]) = {
    // the tokenized corpus and its per-position gram frame are
    // score-INDEPENDENT: pin them once and let every EM round re-join the
    // same blocks against its fresh score table (cold-path trim — the
    // per-round work drops to the three broadcast probes + the regroup)
    val tok = Tables.pin(tokFrame(seqs0))
    val pg  = Tables.pin(posGramsFrame(tok))
    var uv  = Tables.pinIter(seedVocab(tok))
    for (_ <- 1 to rounds) {
      val seg = viterbiSegmentFrom(pg, scores(uv))
      val used = seg
        .select(col("w"), explode(split(col("seg"), " ")).as("g"))
        .groupBy(col("g"))
        .agg(sum(col("w")).as("used"))
      val next = Tables.pinIter(
        uv.join(used, Seq("g"), "left")
          .filter(col("n") === 1 || coalesce(col("used"), lit(0L)) > 0)
          .select(
            col("g"),
            col("n"),
            when(col("n") === 1, greatest(coalesce(col("used"), lit(0L)), lit(1L)))
              .otherwise(col("used"))
              .as("c")
          )
      )
      Tables.unpin(uv)
      uv = next
    }
    (uv.join(scores(uv), Seq("g", "n")), Seq(uv, tok, pg))
  }

  /** [[trainUnigramWeightedTracked]] from raw (doc_id, text) docs: ONE
    * corpus-sized pass collapses to the distinct-sequence frequency
    * table, pinned as generation 0.
    */
  private[graft] def trainUnigramTracked(
      docs: DataFrame,
      rounds: Int = Rounds
  ): (DataFrame, Seq[DataFrame]) = {
    val seqs0 = Tables.pinIter(
      docs
        .select(concat(lit(" "), col("text"), lit(" ")).as("s"))
        .groupBy(col("s"))
        .agg(count(lit(1)).as("w"))
    )
    val (vocab, pins) = trainUnigramWeightedTracked(seqs0, rounds)
    (vocab, seqs0 +: pins)
  }

  private[graft] def trainUnigram(docs: DataFrame, rounds: Int = Rounds): DataFrame =
    trainUnigramTracked(docs, rounds)._1

  private val VocabArtifact = graft.Artifacts.declare("unigram_vocab", graft.Artifacts.RangeSorted("g"))

  /** The trained unigram vocab (g, n, c, li) as a build-once artifact —
    * the [[Bpe.trainedMerges]] treatment (durable under
    * `graft.artifact.root`, parity spec-pinned, tracked build reclaims
    * the loop's pins).
    */
  private[graft] def trainedUnigram(
      s: org.apache.spark.sql.SparkSession,
      dir: String
  ): DataFrame =
  {
    // shared seq_freq artifact as generation 0 (r19 cold-budget trim):
    // the pinIter copy is returned with the loop's pins (the unigram loop
    // never unpins generation 0 itself), so the shared frame stays live
    def build = {
      val seqs0         = Tables.pinIter(TextShared.seqFreq(s, dir))
      val (vocab, pins) = trainUnigramWeightedTracked(seqs0, Rounds)
      (vocab, seqs0 +: pins)
    }
    graft.Artifacts.getTracked(s, dir, VocabArtifact)(build)
  }

  private val VocabEvenArtifact = graft.Artifacts.declare("unigram_vocab_even", graft.Artifacts.RangeSorted("g"))

  /** The held-out gate's even-half vocab as its own build-once artifact
    * (the [[Bpe.trainedMergesEven]] rationale — the hard-EM rounds are a
    * pure function of the training half).
    */
  private[graft] def trainedUnigramEven(
      s: org.apache.spark.sql.SparkSession,
      dir: String
  ): DataFrame =
  {
    // shared seq_freq_even artifact (r19 cold-budget trim)
    def build = {
      val seqs0         = Tables.pinIter(TextShared.seqFreqEven(s, dir))
      val (vocab, pins) = trainUnigramWeightedTracked(seqs0, Rounds)
      (vocab, seqs0 +: pins)
    }
    graft.Artifacts.getTracked(s, dir, VocabEvenArtifact)(build)
  }

  /** Viterbi APPLY against a frozen trained vocab: segment each DISTINCT
    * text (vocabulary-shaped work, the [[Bpe.encodeWithMerges]] contract)
    * and return the (s0, enc) mapping for [[Bpe.encodeReadout]].
    */
  private[graft] def encodeViterbi(docs: DataFrame, vocab: DataFrame): DataFrame =
    // fanoutBy BEFORE the distinct: everything downstream of the
    // distinct's exchange — explode, score joins, regroup, the integer
    // DP + backtrace, even the readout join (documents broadcasts) —
    // preserves s-partitioning and fuses into ONE post-shuffle stage, so
    // whatever width THIS exchange lands at is the width of the whole
    // encode. AQE's byte-based coalescing collapsed it to a single task
    // (measured r20: one 1.5 s task carried the full Viterbi walk);
    // pinning the distinct's own exchange at the session partition count
    // restores parallelism with zero added exchanges.
    viterbiSegment(
      Tables
        .fanoutBy(
          docs.select(concat(lit(" "), col("text"), lit(" ")).as("s")),
          col("s")
        )
        .distinct()
        .withColumn("w", lit(1L)),
      vocab.select(col("g"), col("li"))
    ).select(col("s").as("s0"), col("seg").as("enc"))

  // ── oracle SQL ─────────────────────────────────────────────────────────
  // The DuckDB twin, derived independently: recursive CTEs with CONSTANT
  // state (the DP walk carries only the last three best values and the
  // accumulated recursion rows ARE the DP table; the backtrace carries
  // only the boundary position). Every vocab join is a plain equi-join on
  // precomputed gram strings. Validated bit-identical to a third,
  // in-memory derivation at sf0.001/0.01/0.1 before landing.

  private def seedCtesSql(where: String): Seq[String] = Seq(
    s"""useqs AS MATERIALIZED (SELECT s, cast(count(1) as bigint) AS w FROM
       |  (SELECT ' ' || text || ' ' AS s FROM documents WHERE $where) raw GROUP BY 1)""".stripMargin,
    "utok AS MATERIALIZED (SELECT row_number() OVER (ORDER BY s) AS sid, s, string_split(trim(s), ' ') AS t, w FROM useqs)",
    """ug0 AS MATERIALIZED (
      |  SELECT g, n, cast(sum(w) as bigint) AS c FROM (
      |    SELECT w, 1 AS n, unnest(t) AS g FROM utok
      |    UNION ALL
      |    SELECT w, 2 AS n, unnest(list_transform(generate_series(1, len(t) - 1),
      |                                            i -> t[i] || '_' || t[i+1])) AS g
      |    FROM utok WHERE len(t) >= 2
      |    UNION ALL
      |    SELECT w, 3 AS n, unnest(list_transform(generate_series(1, len(t) - 2),
      |                                            i -> t[i] || '_' || t[i+1] || '_' || t[i+2])) AS g
      |    FROM utok WHERE len(t) >= 3
      |  ) z GROUP BY 1, 2)""".stripMargin,
    s"uv0 AS MATERIALIZED (SELECT g, n, c FROM ug0 WHERE n = 1 OR c >= $SeedMin)"
  )

  private def scoreCteSql(k: Int): String =
    s"""us$k AS MATERIALIZED (
       |  SELECT g, n, cast(floor(1e6 * ln(cast(c as double) / cast(tt.T as double))) as bigint) AS li
       |  FROM uv${k - 1}, (SELECT cast(sum(c) as double) AS T FROM uv${k - 1}) tt)""".stripMargin

  private def walkCtesSql(k: Int, src: String): Seq[String] = {
    val c1   = "w.b0 + p.l1[w.i + 1]"
    val c2   = "w.b1 + p.l2[w.i + 1]"
    val c3   = "w.b2 + p.l3[w.i + 1]"
    val best = s"CASE WHEN $c3 IS NOT NULL AND $c3 >= coalesce($c2, $c3) AND $c3 >= $c1 THEN $c3 " +
      s"WHEN $c2 IS NOT NULL AND $c2 >= $c1 THEN $c2 ELSE $c1 END"
    val b3 = "d.bs[greatest(b.pos - 2, 1)] + p.l3[b.pos]"
    val b2 = "d.bs[greatest(b.pos - 1, 1)] + p.l2[b.pos]"
    val bl = s"CASE WHEN $b3 IS NOT NULL AND $b3 = d.bs[b.pos + 1] THEN 3 " +
      s"WHEN $b2 IS NOT NULL AND $b2 = d.bs[b.pos + 1] THEN 2 ELSE 1 END"
    Seq(
      s"""upp$k AS (
         |  SELECT sid, pos, t[pos] AS g1,
         |    CASE WHEN pos >= 2 THEN t[pos-1] || '_' || t[pos] END AS g2,
         |    CASE WHEN pos >= 3 THEN t[pos-2] || '_' || t[pos-1] || '_' || t[pos] END AS g3
         |  FROM (SELECT sid, t, unnest(generate_series(1, len(t))) AS pos FROM $src) z)""".stripMargin,
      s"""upre$k AS MATERIALIZED (
         |  SELECT p.sid, any_value(len(u.t)) AS nt,
         |    list(coalesce(v1.li, $UnkUnits) ORDER BY p.pos) AS l1,
         |    list(v2.li ORDER BY p.pos) AS l2,
         |    list(v3.li ORDER BY p.pos) AS l3
         |  FROM upp$k p
         |  JOIN $src u ON u.sid = p.sid
         |  LEFT JOIN (SELECT g, li FROM us$k WHERE n = 1) v1 ON v1.g = p.g1
         |  LEFT JOIN (SELECT g, li FROM us$k WHERE n = 2) v2 ON v2.g = p.g2
         |  LEFT JOIN (SELECT g, li FROM us$k WHERE n = 3) v3 ON v3.g = p.g3
         |  GROUP BY p.sid)""".stripMargin,
      s"""uw$k AS (
         |  SELECT sid, 0 AS i, cast(0 as bigint) AS b0, cast(NULL as bigint) AS b1, cast(NULL as bigint) AS b2
         |  FROM upre$k
         |  UNION ALL
         |  SELECT w.sid, w.i + 1, $best, w.b0, w.b1
         |  FROM uw$k w JOIN upre$k p ON p.sid = w.sid WHERE w.i < p.nt)""".stripMargin,
      s"udp$k AS MATERIALIZED (SELECT sid, list(b0 ORDER BY i) AS bs FROM uw$k GROUP BY sid)",
      s"""ubt$k AS (
         |  SELECT sid, nt AS pos FROM upre$k
         |  UNION ALL
         |  SELECT b.sid, b.pos - ($bl)
         |  FROM ubt$k b JOIN udp$k d ON d.sid = b.sid JOIN upre$k p ON p.sid = b.sid
         |  WHERE b.pos > 0)""".stripMargin,
      s"""useg$k AS MATERIALIZED (
         |  SELECT u.s, u.w,
         |    array_to_string(list_transform(generate_series(2, len(b.bds)),
         |      j -> array_to_string(u.t[b.bds[j - 1] + 1 : b.bds[j]], '_')), ' ') AS seg
         |  FROM (SELECT sid, list(pos ORDER BY pos) AS bds FROM ubt$k GROUP BY sid) b
         |  JOIN $src u ON u.sid = b.sid)""".stripMargin
    )
  }

  private def recountCtesSql(k: Int): Seq[String] = Seq(
    s"""ucnt$k AS (
       |  SELECT g, cast(sum(w) as bigint) AS used
       |  FROM (SELECT w, unnest(string_split(seg, ' ')) AS g FROM useg$k) z GROUP BY 1)""".stripMargin,
    s"""uv$k AS MATERIALIZED (
       |  SELECT v.g, v.n,
       |         CASE WHEN v.n = 1 THEN greatest(coalesce(u.used, 0), 1) ELSE u.used END AS c
       |  FROM uv${k - 1} v LEFT JOIN ucnt$k u USING (g)
       |  WHERE v.n = 1 OR coalesce(u.used, 0) > 0)""".stripMargin
  )

  private def trainCtesSql(rounds: Int, where: String): Seq[String] = {
    val ctes = Seq.newBuilder[String]
    ctes ++= seedCtesSql(where)
    for (k <- 1 to rounds) {
      ctes += scoreCteSql(k)
      ctes ++= walkCtesSql(k, "utok")
      ctes ++= recountCtesSql(k)
    }
    ctes += scoreCteSql(rounds + 1)
    ctes.result()
  }

  private def vocabSql(rounds: Int, where: String): String =
    "WITH RECURSIVE " + trainCtesSql(rounds, where).mkString(",\n") +
      s"""
         |SELECT g, cast(n as bigint) AS piece_len, c, li
         |FROM uv$rounds JOIN us${rounds + 1} USING (g, n)
         |ORDER BY c DESC, g LIMIT 500""".stripMargin

  private def encSql(rounds: Int, trainWhere: String, encWhere: String): String = {
    val ctes = trainCtesSql(rounds, trainWhere) ++ Seq(
      s"etok AS MATERIALIZED (SELECT row_number() OVER (ORDER BY s0) AS sid, s0 AS s, " +
        s"string_split(trim(s0), ' ') AS t, cast(1 as bigint) AS w FROM " +
        s"(SELECT DISTINCT ' ' || text || ' ' AS s0 FROM documents WHERE $encWhere) dd)"
    ) ++ walkCtesSql(rounds + 1, "etok")
    "WITH RECURSIVE " + ctes.mkString(",\n") +
      s"""
         |SELECT d.doc_id,
         |  cast(len(string_split(d.text, ' ')) as bigint) AS n_tokens,
         |  cast(len(string_split(e.seg, ' ')) as bigint) AS n_enc,
         |  md5(e.seg) AS enc_hash
         |FROM documents d JOIN useg${rounds + 1} e ON e.s = ' ' || d.text || ' '
         |WHERE ${encWhere.replace("doc_id", "d.doc_id")} ORDER BY d.doc_id LIMIT 500""".stripMargin
  }

  /** Removal-LOSS ranking of the trained vocab's n>=2 pieces — the
    * readout behind Kudo's actual SHRINK rule (SentencePiece prunes the
    * bottom of exactly this ranking each EM round; the gate trainer's
    * zero-use prune is its limit case). For piece g with final Viterbi
    * use count c: loss(g) = c · (li(g) − Σ li(unigram components)) — the
    * EXACT INTEGER likelihood delta (fixed-point 1e-6 units) of deleting
    * g and re-segmenting every use into its component unigrams, the
    * always-available fallback the segmentability invariant guarantees.
    * An upper bound on the true Viterbi loss (the re-segmentation could
    * find a better non-unigram path), which is the standard deterministic
    * surrogate. KEEP decision = top 80% by rank, decided by integer
    * cross-multiplication (rank·5 ≤ n·4 — no IEEE anywhere). Work is
    * vocabulary-shaped: one explode of piece strings, one broadcast join
    * against the unigram scores, one global rank over |vocab| rows.
    */
  private def lossFrame(vocab: DataFrame): DataFrame = {
    val uni = vocab.filter(col("n") === 1).select(col("g").as("u"), col("li").as("uli"))
    val loss = vocab
      .filter(col("n") >= 2)
      .select(col("g"), col("n"), col("c"), col("li"), explode(split(col("g"), "_")).as("u"))
      .join(broadcast(uni), Seq("u"))
      .groupBy(col("g"), col("n"), col("c"), col("li"))
      .agg(sum(col("uli")).as("alt_li"))
      .withColumn("loss", col("c") * (col("li") - col("alt_li")))
    val n2 = loss.agg(count(lit(1)).as("n2"))
    val w  = org.apache.spark.sql.expressions.Window.orderBy(col("loss").desc, col("g"))
    loss
      .withColumn("keep_rank", row_number().over(w).cast("long"))
      .crossJoin(broadcast(n2))
      .select(
        col("g"),
        col("n").cast("long").as("piece_len"),
        col("c"),
        col("li"),
        col("alt_li"),
        col("loss"),
        col("keep_rank"),
        when(col("keep_rank") * 5 <= col("n2") * 4, lit(1L)).otherwise(lit(0L)).as("kept"))
  }

  private def lossSql(rounds: Int, where: String): String =
    "WITH RECURSIVE " + trainCtesSql(rounds, where).mkString(",\n") +
      s""",
         |fv AS MATERIALIZED (SELECT g, n, c, li FROM uv$rounds JOIN us${rounds + 1} USING (g, n)),
         |uni AS (SELECT g, li FROM fv WHERE n = 1),
         |px AS (SELECT g, unnest(string_split(g, '_')) AS tok FROM fv WHERE n >= 2),
         |alt AS (SELECT p.g, cast(sum(u.li) as bigint) AS alt_li
         |        FROM px p JOIN uni u ON u.g = p.tok GROUP BY 1),
         |lss AS (SELECT f.g, f.n, f.c, f.li, a.alt_li,
         |               cast(f.c * (f.li - a.alt_li) as bigint) AS loss
         |        FROM fv f JOIN alt a USING (g) WHERE f.n >= 2),
         |n2 AS (SELECT count(1) AS n2 FROM lss),
         |ranked AS (SELECT *, row_number() OVER (ORDER BY loss DESC, g) AS rk FROM lss)
         |SELECT g, cast(n as bigint) AS piece_len, c, li, alt_li, loss,
         |  cast(rk as bigint) AS keep_rank,
         |  cast(CASE WHEN rk * 5 <= n2.n2 * 4 THEN 1 ELSE 0 END as bigint) AS kept
         |FROM ranked, n2 ORDER BY keep_rank LIMIT 500""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_unigram_vocab",
      s"distributed Unigram-LM tokenizer training (Kudo 2018 — the SentencePiece default; hard-EM/Viterbi variant), $Rounds EM rounds on the DISTINCT-SEQUENCE FREQUENCY TABLE: seed vocab = every token unigram + 2/3-gram pieces with count >= $SeedMin, then per round fixed-point piece scores floor(1e6*ln(c/T)) (exact bigint counts, ONE IEEE division + ONE ln per piece — the 1e-6-unit integer discipline, so the Viterbi DP sums INTEGERS and is association-order-free cross-engine), a MAP-ONLY Viterbi segmentation of every distinct sequence (scores on ONE broadcast map row; per-position candidate arrays + an aggregate fold carrying the best-score table; ties longest-piece-first), and a vocabulary-shaped use-count re-estimation that PRUNES every n>=2 piece the model stopped using (unigrams never pruned — segmentability invariant). The opposite growth direction from q_bpe_merges/q_wordpiece_merges: start big, shrink to the pieces the LM keeps choosing. Final vocab (g, piece_len, c, li) is a BUILD-ONCE artifact (unigram_vocab, durable under graft.artifact.root); top 500 by final count",
      (s, dir) =>
        trainedUnigram(s, dir)
          .select(col("g"), col("n").cast("long").as("piece_len"), col("c"), col("li"))
          .orderBy(col("c").desc, col("g"))
          .limit(500),
      Some(vocabSql(Rounds, "TRUE"))
    ),
    QueryDef(
      "q_unigram_encode",
      s"Unigram-LM APPLY — Viterbi-encode the corpus with the TRAINED frozen vocab (the third tokenizer family's encode rule: the segmentation maximizing total piece log-probability, NOT greedy longest-match and NOT merge-order replay — a frequent trigram piece can beat the locally-longest bigram): the trained scores ride ONE broadcast map row, per-position candidate arrays are map-only transforms, and the DP + backtrace are aggregate folds over each DISTINCT text — vocabulary-shaped work, whole-stage codegen, per-doc results from ONE join back to documents. The oracle re-derives the same walk with constant-state recursive CTEs (state = last three best values / the boundary position) — recursion vs fold, two independent formulations of the same sequential rule. Output per doc: token counts before/after and the segmentation md5. First 500 docs by id",
      (s, dir) =>
        Bpe.encodeReadout(
          Tables.documents(s, dir),
          encodeViterbi(Tables.documents(s, dir), trainedUnigram(s, dir))
        ),
      Some(encSql(Rounds, "TRUE", "TRUE"))
    ),
    QueryDef(
      "q_unigram_encode_heldout",
      s"Unigram-LM APPLY on HELD-OUT data — train the $Rounds-round hard-EM vocab on the even-doc_id half of the corpus, then Viterbi-encode the ODD half with that frozen vocab (the q_bpe_encode_heldout gate shape for the third tokenizer family). The held-out half's own statistics never touch the model, and tokens NEVER SEEN in training score the documented UNK floor (${UnkUnits} fixed-point units — below any real piece until total piece count exceeds e^50/1e6) and pass through as themselves, the SentencePiece unk rule. Output per held-out doc: token counts before/after and the segmentation md5. First 500 docs by id",
      (s, dir) => {
        val heldOut = Tables.documents(s, dir).filter(col("doc_id") % 2 === 1)
        Bpe.encodeReadout(heldOut, encodeViterbi(heldOut, trainedUnigramEven(s, dir)))
      },
      Some(encSql(Rounds, "doc_id % 2 = 0", "doc_id % 2 = 1"))
    ),
    QueryDef(
      "q_unigram_vocab_loss",
      "Unigram-LM removal-LOSS ranking — the SHRINK rule Kudo 2018 actually specifies (SentencePiece keeps the top X% of pieces by likelihood loss if removed; the trainer's zero-use prune is its limit case): for each trained n>=2 piece, loss = final Viterbi use count x (piece score - sum of component unigram scores), the EXACT INTEGER fixed-point likelihood delta of deleting the piece and re-segmenting every use into its always-available unigram fallback (an upper bound on the true constrained-Viterbi loss — the standard deterministic surrogate). KEEP = top 80% by (loss desc, g) rank, decided by integer cross-multiplication rank*5 <= n*4 — zero IEEE in the decision. Vocabulary-shaped work over the build-once unigram_vocab artifact: one piece-string explode, one broadcast unigram-score join, one global rank over |vocab| rows (the WordPiece vocab-row bound — ~10^6 pieces at any corpus scale). Top 500 by keep rank",
      (s, dir) =>
        lossFrame(trainedUnigram(s, dir))
          .orderBy(col("keep_rank"))
          .limit(500),
      Some(lossSql(Rounds, "TRUE"))
    )
  )
}
