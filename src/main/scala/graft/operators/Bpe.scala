package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge training (Sennrich et al. 2016) over word
  * tokens — phrase-vocabulary mining: each round counts adjacent-pair
  * frequencies, picks the most frequent pair (deterministic tiebreak:
  * count desc, then lexicographic), and rewrites every sequence with the
  * merged symbol (joined with '_', which the corpus alphabet never
  * contains). The learned merge table IS the tokenizer artifact a
  * training pipeline ships.
  *
  * Spark-first scale shape — Sennrich's ACTUAL formulation: training runs
  * on the DISTINCT-SEQUENCE FREQUENCY TABLE, not the raw corpus. One
  * up-front aggregation collapses the corpus to (distinct sequence,
  * count) — vocabulary-shaped, orders of magnitude smaller than the
  * corpus on any real dataset (the paper trains on the word-frequency
  * dictionary for exactly this reason) — and every round's pair count and
  * rewrite runs against that weighted frame, with pair counts weighted by
  * `w`. The merge table is IDENTICAL to the raw-corpus derivation (the
  * weighted sum is the same total), but per-round cost is now
  * |distinct sequences|, which is what makes a 10^4-10^5-merge production
  * vocabulary trainable: 10^5 rounds over the frequency table is a plan,
  * 10^5 full-corpus passes is not.
  *
  *   - Per round: a map-only adjacent-pair explode (the q_text_bigrams
  *     shape) into a map-side-combinable weighted pair count, a 1-ROW
  *     argmax frame (TakeOrderedAndProject — per-partition heaps, never a
  *     global sort), and a map-only rewrite with the argmax CROSS-JOINED
  *     as a broadcast literal — the driver never collects anything.
  *   - After each rewrite the frame RE-AGGREGATES on the rewritten text:
  *     two previously-distinct sequences can collapse once a merge lands
  *     (" x a b " and " x a_b " become equal), and re-aggregation keeps
  *     the frame the distinct-sequence table with exact weights.
  *   - Sequence-frame lineage is truncated per round with pinIter (the
  *     iterative-loop discipline); the 1-row argmax is pinned because it
  *     is referenced twice (rewrite + output union); superseded
  *     generations are unpinned so K rounds never hold K frame copies.
  *   - MERGE SEMANTICS: a round applies the winning pair with FOUR passes
  *     of non-overlapping left-to-right `replace` on the ' '-delimited
  *     token string. Both engines' replace (Java UTF8String / DuckDB)
  *     scan the input continuing AFTER each match, so the pass-by-pass
  *     result is bit-identical cross-engine; four passes merge same-token
  *     runs of any realistic length (a run of n identical tokens needs
  *     ~log2 passes), and any residual adjacency beyond that is the SAME
  *     residual on both sides. This iterated-replace rule is the
  *     documented, deterministic variant of greedy BPE merging.
  */
object Bpe {

  private[operators] val Rounds = 6

  /** The training loop over any (text) frame — exposed with a per-round
    * observer so the spec can pin the scale invariant (the round-k input
    * frame is DISTINCT-TEXT-sized, never doc-count-sized). Returns the
    * merge table (round, a, b, n).
    */
  private[graft] def trainMerges(
      docs: DataFrame,
      rounds: Int = Rounds,
      onRoundFrame: (Int, DataFrame) => Unit = (_, _) => ()
  ): DataFrame =
    trainMergesTracked(docs, rounds, onRoundFrame)._1

  /** [[trainMerges]] that also RETURNS the per-round 1-row argmax frames it
    * pinned (the returned merge table reads their blocks, so they stay
    * live until the CALLER materializes it — a caller that does, like the
    * durable-artifact build or the streaming retrain, reclaims them via
    * [[graft.Tables.unpin]] instead of leaking `rounds` checkpoint blocks
    * per invocation).
    */
  private[graft] def trainMergesTracked(
      docs: DataFrame,
      rounds: Int = Rounds,
      onRoundFrame: (Int, DataFrame) => Unit = (_, _) => ()
  ): (DataFrame, Seq[DataFrame]) =
    trainMergesWeightedTracked(
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
    * space-padded sequences — the entry point [[graft.streaming
    * .StreamingBpe]] retrains through: frequency tables are additive, so a
    * re-aggregated union of per-batch partials trains bit-identically to
    * the batch build. The caller passes a MATERIALIZED frame (the loop
    * unpins superseded generations, generation 0 included).
    */
  private[graft] def trainMergesWeighted(
      seqs0: DataFrame,
      rounds: Int = Rounds,
      onRoundFrame: (Int, DataFrame) => Unit = (_, _) => ()
  ): DataFrame =
    trainMergesWeightedTracked(seqs0, rounds, onRoundFrame)._1

  /** [[trainMergesWeighted]] returning the pinned per-round argmax frames
    * alongside the merge table — see [[trainMergesTracked]].
    */
  private[graft] def trainMergesWeightedTracked(
      seqs0: DataFrame,
      rounds: Int = Rounds,
      onRoundFrame: (Int, DataFrame) => Unit = (_, _) => ()
  ): (DataFrame, Seq[DataFrame]) = {
    var seqs: DataFrame = seqs0
    val mks    = Seq.newBuilder[DataFrame]
    val merges = Seq.newBuilder[DataFrame]
    for (k <- 1 to rounds) {
      onRoundFrame(k, seqs)
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
      // 1-row argmax, pinned with TRUNCATED lineage (pinIter, not
      // pin): referenced by BOTH the rewrite and the output union —
      // unpinned, each reference re-derives the whole pair-count pass;
      // lineage-retaining, an evicted mk block would recompute into
      // the superseded generation's deleted checkpoint. The mk pins
      // stay live — the returned frame's union reads their blocks
      // when the CALLER evaluates.
      val mk = Tables.pinIter(pairs.orderBy(col("n").desc, col("a"), col("b")).limit(1))
      mks += mk
      merges += mk.select(lit(k.toLong).as("round"), col("a"), col("b"), col("n"))
      // the final round's merge needs no rewrite (nothing reads it) —
      // and once round k+1's generation is eagerly materialized, round
      // k's frame copy is dead and its checkpoint storage is reclaimed
      // (the CC-loop unpin discipline)
      if (k < rounds) {
        val pat = concat(lit(" "), col("a"), lit(" "), col("b"), lit(" "))
        val rep = concat(lit(" "), col("a"), lit("_"), col("b"), lit(" "))
        var sNew: Column = col("s")
        for (_ <- 1 to 4) sNew = call_function("replace", sNew, pat, rep)
        // re-aggregate on the rewritten text: merges can make distinct
        // sequences collapse, and the frame must STAY the distinct-
        // sequence table (exact weights) for every later round
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
    // the final generation fed the last round's (pinned) argmax and
    // has no further consumer — reclaim the last frame copy too
    Tables.unpin(seqs)
    (merges.result().reduce(_ unionByName _).orderBy(col("round")), mks.result())
  }

  private val MergesArtifact = graft.Artifacts.declare("bpe_merges", graft.Artifacts.RangeSorted("round"))

  /** The trained merge table as a BUILD-ONCE artifact — the same treatment
    * the graph family's PageRank scores get ([[graft.Artifacts]]):
    * session-pinned by default, durable range-sorted parquet (by round)
    * under `graft.artifact.root`, bit-identical replay pinned by
    * DurableArtifactParitySpec. A tokenizer is trained once and shipped;
    * before this, every session (and every `q_bpe_encode` call) re-ran the
    * 6-round training loop. The tracked build reclaims the per-round
    * argmax pins once the table is materialized.
    */
  private[graft] def trainedMerges(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // the corpus-sized collapse comes from the SHARED seq_freq artifact
    // (r19 cold-budget trim); generation 0 is a pinIter copy of it, which
    // the loop reclaims without touching the shared frame
    def build = trainMergesWeightedTracked(Tables.pinIter(TextShared.seqFreq(s, dir)), Rounds)
    graft.Artifacts.getTracked(s, dir, MergesArtifact)(build)
  }

  private val MergesEvenArtifact = graft.Artifacts.declare("bpe_merges_even", graft.Artifacts.RangeSorted("round"))

  /** The held-out gate's TRAINING-half merge table as its own build-once
    * artifact: the even-doc_id vocab is a pure function of the corpus
    * exactly like [[trainedMerges]], and the held-out APPLY was re-paying
    * the full training loop on every call — the gate's point (the frozen
    * vocab drives the encode) is unchanged, the cold build still trains
    * and hash-matches the oracle's re-derivation.
    */
  private[graft] def trainedMergesEven(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // the even-half collapse is the seq_freq_even artifact, SHARED with
    // the WordPiece and Unigram held-out trainers (r19 cold-budget trim)
    def build = trainMergesWeightedTracked(Tables.pinIter(TextShared.seqFreqEven(s, dir)), Rounds)
    graft.Artifacts.getTracked(s, dir, MergesEvenArtifact)(build)
  }

  /** Tokenizer APPLY — the other half of shipping a tokenizer: encode a
    * corpus with an ALREADY-TRAINED merge table (round, a, b, ...),
    * never re-deriving pair statistics from the corpus being encoded. The
    * R merges ride ONE broadcast row as a round-ordered array, and the
    * whole cascade is a single map-only `aggregate` fold over each
    * DISTINCT text (encoding is a pure function of the text, so per-doc
    * results come from one join against the returned vocabulary-shaped
    * (s0, enc) mapping) — the ADC-probe discipline
    * ([[IvfSimilarity]]): trained artifact broadcast into a map-only
    * apply. Pointed at a HELD-OUT corpus this encodes with the frozen
    * vocab — the corpus's own pair statistics never pick a merge (the
    * earlier formulation re-ran the full training loop inline, which both
    * doubled the cost and would have learned the held-out corpus's merges
    * instead of the tokenizer's; spec-pinned in BpeSpec).
    */
  private[graft] def encodeWithMerges(docs: DataFrame, mergeTable: DataFrame): DataFrame = {
    // round-ordered merge array on one broadcast row: array_sort on the
    // (round, a, b) struct orders by round first, so the fold applies
    // merges in training order regardless of the table's read-back order
    val mrow = mergeTable.agg(
      array_sort(collect_list(struct(col("round"), col("a"), col("b")))).as("ms")
    )
    // keyed fanout INTO the distinct: the fold below is compute-dense (R
    // merges x 4 replace passes over every character of every distinct
    // text), and AQE sizes the post-distinct stage by BYTES — at bench
    // scale the few-MB distinct-text frame coalesces to ONE partition,
    // serializing the whole encode on one core (measured r20: the encode
    // ran as a single 1.6 s task). Repartitioning BY s0 pins the reducer
    // count of the exchange the distinct needs anyway (AQE leaves user
    // repartitions alone), so the fold runs fully parallel with ZERO
    // extra exchanges.
    Tables
      .fanoutBy(docs.select(concat(lit(" "), col("text"), lit(" ")).as("s0")), col("s0"))
      .distinct()
      .crossJoin(broadcast(mrow))
      .select(
        col("s0"),
        trim(
          aggregate(
            col("ms"),
            col("s0"),
            (acc, m) => {
              val pat = concat(lit(" "), m.getField("a"), lit(" "), m.getField("b"), lit(" "))
              val rep = concat(lit(" "), m.getField("a"), lit("_"), m.getField("b"), lit(" "))
              (1 to 4).foldLeft(acc)((sc, _) => call_function("replace", sc, pat, rep))
            }
          )
        ).as("enc")
      )
  }

  /** Training CTE chain d0..dR / p_k / m_k over `documents` rows passing
    * `where` (SQL boolean, or "TRUE" for the whole corpus) — the DuckDB
    * twin of [[trainMergesWeighted]]. Rewritten frequency tables are
    * MATERIALIZED-free here because each d_k is read by exactly two
    * successors (p_{k+1} and d_{k+1}); DuckDB handles the linear chain.
    */
  private[operators] def trainCtesSql(rounds: Int, where: String): Seq[String] = {
    val ctes = Seq.newBuilder[String]
    ctes += (s"d0 AS (SELECT s, cast(count(1) as bigint) AS w FROM " +
      s"(SELECT ' ' || text || ' ' AS s FROM documents WHERE $where) raw GROUP BY 1)")
    for (k <- 1 to rounds) {
      ctes += s"""p$k AS (
                 |  SELECT split_part(pr, ' ', 1) AS a, split_part(pr, ' ', 2) AS b,
                 |    cast(sum(w) as bigint) AS n
                 |  FROM (SELECT w, unnest(list_transform(generate_series(1, len(t) - 1),
                 |                                        i -> t[i] || ' ' || t[i+1])) AS pr
                 |        FROM (SELECT w, string_split(trim(s), ' ') AS t FROM d${k - 1}) x
                 |        WHERE len(t) >= 2) y
                 |  GROUP BY 1, 2)""".stripMargin
      ctes += s"m$k AS (SELECT a, b, n FROM p$k ORDER BY n DESC, a, b LIMIT 1)"
      ctes += (s"d$k AS (SELECT s, cast(sum(w) as bigint) AS w FROM " +
        s"(SELECT ${replaceSql("s")} AS s, w FROM d${k - 1} CROSS JOIN m$k m) r GROUP BY 1)")
    }
    ctes.result()
  }

  /** Four non-overlapping replace passes of merge `m` on column `c`.
    * Shared with [[WordPiece]] — the rewrite rule is tokenizer-agnostic
    * (only the argmax that PICKS the merge differs).
    */
  private[operators] def replaceSql(c: String): String =
    (1 to 4).foldLeft(c) { (acc, _) =>
      s"replace($acc, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || '_' || m.b || ' ')"
    }

  /** APPLY CTE chain enc0..encR: enc0 is the DISTINCT texts of `documents`
    * rows passing `where`, and each enc_k consumes ONLY m_k (the frozen
    * merge table) — never the encode corpus's own pair statistics. The
    * DuckDB twin of [[encodeWithMerges]].
    */
  private[operators] def encCtesSql(rounds: Int, where: String): Seq[String] =
    (s"enc0 AS (SELECT DISTINCT ' ' || text || ' ' AS s0, ' ' || text || ' ' AS s " +
      s"FROM documents WHERE $where)") +:
      (1 to rounds).map(k => s"enc$k AS (SELECT s0, ${replaceSql("s")} AS s FROM enc${k - 1} CROSS JOIN m$k m)")

  /** Per-doc encode readout over `documents` rows passing `where`. */
  private def encodeSelectSql(rounds: Int, where: String): String =
    s"""SELECT d.doc_id,
       |  cast(len(string_split(d.text, ' ')) as bigint) AS n_tokens,
       |  cast(len(string_split(trim(e.s), ' ')) as bigint) AS n_enc,
       |  md5(trim(e.s)) AS enc_hash
       |FROM documents d JOIN enc$rounds e ON e.s0 = ' ' || d.text || ' '
       |WHERE $where
       |ORDER BY d.doc_id LIMIT 500""".stripMargin

  /** The per-doc encode readout on the Spark side: join the
    * vocabulary-shaped (s0, enc) mapping back to documents. Shared with
    * [[WordPiece]] — the readout is encoder-agnostic.
    */
  private[operators] def encodeReadout(docs: DataFrame, enc: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        concat(lit(" "), col("text"), lit(" ")).as("s0"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")
      )
      .join(enc, "s0")
      .select(
        col("doc_id"),
        col("n_tokens"),
        size(split(col("enc"), " ")).cast("long").as("n_enc"),
        md5(col("enc")).as("enc_hash")
      )
      .orderBy(col("doc_id"))
      .limit(500)

  private val EncCorpusArtifact = graft.Artifacts.declare("bpe_enc", graft.Artifacts.RangeSorted("s0"))

  /** The full-corpus frozen-vocab encode mapping (s0, enc) as a
    * build-once artifact — r20 optimization: FIVE gate queries consume
    * this identical mapping (q_bpe_encode and the whole pack family:
    * census, manifest, vocab ids, packed rows), and each re-ran the
    * R-merge x 4-replace fold over every distinct text per call. The
    * mapping is a pure function of (corpus, trained merges) — one more
    * derivation in the trained-tokenizer artifact chain.
    */
  private[graft] def encodedCorpus(
      s: org.apache.spark.sql.SparkSession,
      dir: String
  ): org.apache.spark.sql.DataFrame = {
    def build = encodeWithMerges(Tables.documents(s, dir), trainedMerges(s, dir))
    graft.Artifacts.get(s, dir, EncCorpusArtifact)(build)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_bpe_merges",
      s"distributed BPE merge training, $Rounds rounds, on the DISTINCT-SEQUENCE FREQUENCY TABLE (Sennrich et al. 2016's actual formulation): ONE corpus pass collapses documents to (distinct text, count), and every round's weighted pair count + 1-row argmax (count desc, lexicographic tiebreak) + broadcast-literal rewrite runs against that vocabulary-shaped frame — per-round cost is |distinct sequences|, not |corpus|, which is what makes a 10^4-merge production vocabulary trainable. The merge table (round, a, b, n) is IDENTICAL to the raw-corpus derivation (weighted sums are the same totals); rewritten sequences re-aggregate each round because merges can collapse previously-distinct texts. No driver collect anywhere: the argmax rides a 1-row crossJoin broadcast into the rewrite. The table is a BUILD-ONCE artifact (durable under graft.artifact.root, parity spec-pinned) — a tokenizer is trained once and shipped, like the graph family's score tables",
      (s, dir) => trainedMerges(s, dir).orderBy(col("round")),
      Some {
        val sel = (1 to Rounds)
          .map(k => s"SELECT cast($k as bigint) AS round, a, b, n FROM m$k")
          .mkString(" UNION ALL ")
        "WITH " + trainCtesSql(Rounds, "TRUE").mkString(",\n") +
          s"\nSELECT * FROM ($sel) ORDER BY round"
      }
    ),
    QueryDef(
      "q_bpe_encode",
      s"tokenizer APPLY — encode the corpus with the TRAINED merge table (the other half of shipping a tokenizer: q_bpe_merges learns the artifact, this query consumes it): the $Rounds merges ride ONE broadcast row as a round-ordered array and the whole cascade is a single map-only aggregate-fold over each DISTINCT text (vocabulary-shaped work; per-doc results come from ONE join of documents against the (orig, encoded) mapping) — the ADC-probe discipline applied to tokenization. NO pair counting or argmax happens here: encode reads the frozen vocab, so pointed at held-out data it applies the tokenizer instead of re-learning one (q_bpe_encode_heldout gates exactly that). Output per doc: whitespace token count before/after and md5 of the encoded text — the hash pins the full encode round trip. First 500 docs by id",
      (s, dir) =>
        encodeReadout(
          Tables.documents(s, dir),
          encodedCorpus(s, dir)
        ),
      Some {
        // the oracle has no artifact store: it re-derives m1..mR from the
        // same corpus (same merges), then its enc chain consumes ONLY the
        // m_k CTEs — mirroring encode-reads-the-frozen-table
        val ctes = trainCtesSql(Rounds, "TRUE") ++ encCtesSql(Rounds, "TRUE")
        s"""WITH ${ctes.mkString(",\n")}
           |${encodeSelectSql(Rounds, "TRUE")}""".stripMargin
      }
    ),
    QueryDef(
      "q_bpe_encode_heldout",
      s"tokenizer APPLY on HELD-OUT data — the first thing a real user does with a tokenizer: train the $Rounds-round merge table on the even-doc_id half of the corpus, then encode the ODD half with that frozen vocab. The held-out corpus's own pair statistics never pick a merge (its argmax could differ from the trained table's — the gate would catch an encoder that re-learns); the apply is the same broadcast merge array + map-only aggregate-fold over the held-out half's distinct texts as q_bpe_encode. Output per held-out doc: token counts before/after and the encode md5. First 500 docs by id",
      (s, dir) => {
        val heldOut = Tables.documents(s, dir).filter(col("doc_id") % 2 === 1)
        encodeReadout(heldOut, encodeWithMerges(heldOut, trainedMergesEven(s, dir)))
      },
      Some {
        val ctes = trainCtesSql(Rounds, "doc_id % 2 = 0") ++ encCtesSql(Rounds, "doc_id % 2 = 1")
        s"""WITH ${ctes.mkString(",\n")}
           |${encodeSelectSql(Rounds, "d.doc_id % 2 = 1")}""".stripMargin
      }
    )
  )
}
