package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tokenizer-aware SEQUENCE PACKING — the pipeline's actual terminal
  * product. The engine trains three tokenizers and packs word-count
  * shards (`q_pack_shards`), but a pretraining run consumes neither: it
  * reads fixed-length rows of TRAINED TOKEN IDS, with document-boundary
  * (EOS) tokens and truncation/padding accounting. This family composes
  * the two proven pieces end to end:
  *
  *   - the frozen-vocab BPE apply ([[Bpe.encodeWithMerges]] — the
  *     trained merge table on ONE broadcast row, a map-only
  *     aggregate-fold over each DISTINCT text, per-doc results from one
  *     join back), and
  *   - the per-key exclusive-prefix-sum packing discipline
  *     `q_pack_shards` proves out (packing within a partition key —
  *     here `lang`, the unit a curriculum samples by — is the scalable
  *     shape: a GLOBAL prefix sum would serialize the corpus through
  *     one partition).
  *
  * The GPT-style concat-and-chunk rule (Brown et al. 2020 appendix B;
  * the `reelevant-tech/pinot-pulsar-plugin` reference feeds row streams
  * to a host that never packs — this is north-star surface): per lang,
  * documents concatenate in doc_id order, each followed by ONE EOS
  * token (id 0); the token stream chunks into fixed [[SeqLen]]-token
  * sequences; the last partial sequence pads with the EOS/PAD id. A
  * document whose tokens cross a chunk boundary is SPLIT across
  * sequences (counted, not dropped — the accounting a data-loader
  * audits against attention-mask bugs).
  *
  * Everything downstream of the encode is integer math — token counts,
  * exclusive prefix sums, `div`/`mod` chunk assignment — so both
  * engines agree bit-for-bit with no rounding conventions: even the
  * fill rate ships as parts-per-million (`fill_ppm`, an integer
  * division) rather than a rounded double.
  *
  * Scale shape at 100 TB: the encode is the q_bpe_encode body
  * (vocabulary-shaped fold + one doc-shaped join); the census needs ONE
  * window prefix sum per lang partition and one groupBy — no per-token
  * explode. Only [[emit]] (which materializes the id arrays) goes
  * per-token, and its explode is map-side fanout straight into the
  * (lang, seq) shuffle — tokens move once, as ints, never as text. A
  * production packer shards the prefix sum further by (lang, shard) —
  * the documented q_pack_shards lever — when one lang's stream
  * outgrows a partition.
  */
object PackSequences {

  /** Fixed sequence length (tokens per packed row). 256 keeps the
    * fixture corpus at a few hundred sequences per lang — enough to
    * exercise splits, exact fills, and the padded tail at every SF.
    */
  val SeqLen = 256

  /** Reserved id: document separator AND trailing pad (the GPT-2
    * convention of one merged EOS/PAD id). Real token ids start at 1.
    */
  val EosId = 0

  /** Per-doc encoded length + 1 EOS, with the lang stream key:
    * (doc_id, lang, cnt). One frozen-vocab encode over the DISTINCT
    * texts, one join back to documents.
    */
  private def encCounts(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    // r20: read the shared bpe_enc artifact instead of re-running the
    // encode fold per call (the Bpe.encodedCorpus rationale)
    encCountsFromEnc(Tables.documents(s, dir), Bpe.encodedCorpus(s, dir))

  /** [[encCounts]] over an ARBITRARY (doc_id, lang, text) frame with a
    * caller-supplied frozen merge table — the body the streaming twin
    * ([[graft.streaming.StreamingPack]]) folds with.
    */
  private[graft] def encCountsFrame(docs: DataFrame, merges: DataFrame): DataFrame =
    // a caller's frame (streaming batch): spread the encode fold unless it is already
    encCountsFromEnc(docs, Bpe.encodeWithMerges(Tables.fanout(docs), merges))

  private def encCountsFromEnc(docs: DataFrame, enc: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), concat(lit(" "), col("text"), lit(" ")).as("s0"))
      .join(enc, "s0")
      .select(
        col("doc_id"),
        col("lang"),
        (size(split(col("enc"), " ")) + 1).cast("long").as("cnt")
      )

  /** The `q_pack_sequences` census body over an arbitrary corpus frame:
    * per-lang (n_docs, total_tokens, n_sequences, n_split_docs,
    * pad_tokens, fill_ppm) under the frozen `merges` vocabulary — shared
    * verbatim by the batch gate and the streaming twin, which is what
    * makes the twin's published census bit-identical by construction.
    */
  private[graft] def censusFrame(docs: DataFrame, merges: DataFrame, seqLen: Int = SeqLen): DataFrame =
    censusOverCounts(encCountsFrame(docs, merges), seqLen)

  private[graft] def censusOverCounts(counts: DataFrame, seqLen: Int): DataFrame = {
    val L = lit(seqLen.toLong)
    positioned(counts)
      .withColumn(
        "split_doc",
        (expr(s"start div $seqLen") =!= expr(s"(start + cnt - 1) div $seqLen")).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("cnt")).cast("long").as("total_tokens"),
        sum(col("split_doc")).cast("long").as("n_split_docs")
      )
      .withColumn("n_sequences", expr(s"(total_tokens + ${seqLen - 1}) div $seqLen"))
      .withColumn("pad_tokens", col("n_sequences") * L - col("total_tokens"))
      .withColumn("fill_ppm", expr(s"(total_tokens * 1000000) div (n_sequences * $seqLen)"))
      .select(
        col("lang"),
        col("n_docs"),
        col("total_tokens"),
        col("n_sequences"),
        col("n_split_docs"),
        col("pad_tokens"),
        col("fill_ppm")
      )
      .orderBy(col("lang"))
  }

  /** (doc_id, lang, cnt, start): exclusive prefix sum of token counts
    * per lang stream in doc_id order — each doc's tokens occupy global
    * positions [start, start + cnt). The q_pack_shards window shape.
    */
  private def positioned(counts: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    counts.withColumn("start", coalesce(sum(col("cnt")).over(w), lit(0L)))
  }

  /** The shared oracle prefix: frozen-vocab encode CTEs + per-doc
    * (doc_id, lang, cnt, start). `lens`/`pk` mirror [[encCounts]] /
    * [[positioned]] exactly.
    */
  private def packCtesSql: String =
    (Bpe.trainCtesSql(Bpe.Rounds, "TRUE") ++ Bpe.encCtesSql(Bpe.Rounds, "TRUE") ++ Seq(
      s"""lens AS (
         |  SELECT d.doc_id, d.lang,
         |    cast(len(string_split(trim(e.s), ' ')) + 1 as bigint) AS cnt
         |  FROM documents d JOIN enc${Bpe.Rounds} e ON e.s0 = ' ' || d.text || ' ')""".stripMargin,
      s"""pk AS (
         |  SELECT lang, doc_id, cnt,
         |    cast(coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint) AS start
         |  FROM lens)""".stripMargin
    )).mkString(",\n")

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_pack_sequences",
      s"tokenizer-aware sequence packing CENSUS — the terminal product of the training-data pipeline: per-lang streams of TRAINED-token-id docs (frozen ${Bpe.Rounds}-merge BPE apply, one EOS per doc) concat-and-chunk into fixed $SeqLen-token sequences; census = sequences produced, boundary-split docs, trailing pad, fill rate. Composes q_bpe_encode's map-only broadcast-merge fold with q_pack_shards' per-key exclusive prefix sum; everything after the encode is integer math (div/mod chunking, fill rate as parts-per-million integer division), so the gate is rounding-convention-free. Scale: one window prefix sum per lang partition + one groupBy — the census never explodes tokens",
      (s, dir) => censusOverCounts(encCounts(s, dir), SeqLen),
      Some(s"""WITH $packCtesSql,
              |ag AS (
              |  SELECT lang, count(1) AS n_docs, cast(sum(cnt) as bigint) AS total_tokens,
              |    cast(sum(CASE WHEN start // $SeqLen <> (start + cnt - 1) // $SeqLen
              |                  THEN 1 ELSE 0 END) as bigint) AS n_split_docs
              |  FROM pk GROUP BY lang)
              |SELECT lang, n_docs, total_tokens,
              |  cast((total_tokens + ${SeqLen - 1}) // $SeqLen as bigint) AS n_sequences,
              |  n_split_docs,
              |  cast(((total_tokens + ${SeqLen - 1}) // $SeqLen) * $SeqLen - total_tokens as bigint) AS pad_tokens,
              |  cast((total_tokens * 1000000) // (((total_tokens + ${SeqLen - 1}) // $SeqLen) * $SeqLen) as bigint) AS fill_ppm
              |FROM ag ORDER BY lang""".stripMargin)
    ),
    QueryDef(
      "q_pack_sequences_rows",
      s"per-SEQUENCE packing manifest — the row-level view of q_pack_sequences' census: for each fixed $SeqLen-token sequence, the docs overlapping it, its token occupancy, trailing pad, and first/last contributing doc — the manifest a data-loader uses to seek into packed shards and the gate that pins every chunk BOUNDARY cross-engine (the census alone could miss an off-by-one that conserves totals). The doc->sequence fanout is a bounded map-side explode (a doc spans at most cnt/$SeqLen+1 sequences) straight into the (lang, seq) shuffle — documents never move whole",
      (s, dir) => {
        positioned(encCounts(s, dir))
          .withColumn("seq", explode(sequence(expr(s"start div $SeqLen"), expr(s"(start + cnt - 1) div $SeqLen"))))
          .withColumn(
            "seg",
            least(col("start") + col("cnt") - 1, (col("seq") + 1) * lit(SeqLen.toLong) - 1) -
              greatest(col("start"), col("seq") * lit(SeqLen.toLong)) + 1
          )
          .groupBy(col("lang"), col("seq"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("seg")).cast("long").as("seq_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc")
          )
          .withColumn("n_pad", lit(SeqLen.toLong) - col("seq_tokens"))
          .select(
            col("lang"),
            col("seq"),
            col("n_docs"),
            col("seq_tokens"),
            col("n_pad"),
            col("first_doc"),
            col("last_doc")
          )
          .orderBy(col("lang"), col("seq"))
          .limit(500)
      },
      Some(s"""WITH $packCtesSql,
              |fan AS (
              |  SELECT lang, doc_id, start, cnt,
              |    unnest(generate_series(start // $SeqLen, (start + cnt - 1) // $SeqLen)) AS seq
              |  FROM pk)
              |SELECT lang, seq, count(1) AS n_docs,
              |  cast(sum(least(start + cnt - 1, (seq + 1) * $SeqLen - 1)
              |         - greatest(start, seq * $SeqLen) + 1) as bigint) AS seq_tokens,
              |  cast($SeqLen - sum(least(start + cnt - 1, (seq + 1) * $SeqLen - 1)
              |         - greatest(start, seq * $SeqLen) + 1) as bigint) AS n_pad,
              |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
              |FROM fan GROUP BY lang, seq ORDER BY lang, seq LIMIT 500""".stripMargin)
    ),
    QueryDef(
      "q_bpe_vocab_ids",
      s"trained-tokenizer VOCAB ID TABLE — the (token_id, token, n) mapping the packed sequences are expressed in: every distinct symbol of the frozen-${Bpe.Rounds}-merge encoded corpus, id = dense rank by (corpus frequency desc, symbol asc), id $EosId reserved for EOS/PAD. The frequency count weights each doc (the per-doc join fans the distinct-text encodes back out), so the ranking is the corpus's true token distribution, not the vocabulary's. Vocab-shaped output — the one global window runs over |vocab| rows, the merge-table discipline, never the corpus. First 500 ids",
      (s, dir) =>
        vocabIdsTable(s, dir)
          .select(col("id").cast("long").as("token_id"), col("token"), col("n"))
          .orderBy(col("token_id"))
          .limit(500),
      Some {
        val ctes = Bpe.trainCtesSql(Bpe.Rounds, "TRUE") ++ Bpe.encCtesSql(Bpe.Rounds, "TRUE")
        s"""WITH ${ctes.mkString(",\n")},
           |toks AS (
           |  SELECT unnest(string_split(trim(e.s), ' ')) AS token
           |  FROM documents d JOIN enc${Bpe.Rounds} e ON e.s0 = ' ' || d.text || ' '),
           |freq AS (SELECT token, cast(count(1) as bigint) AS n FROM toks GROUP BY token)
           |SELECT cast(row_number() OVER (ORDER BY n DESC, token) as bigint) AS token_id,
           |  token, n
           |FROM freq ORDER BY token_id LIMIT 500""".stripMargin
      }
    ),
    QueryDef(
      "q_pack_tokens",
      s"the PACKED SEQUENCES themselves, oracle-gated — [[emit]]'s fixed-$SeqLen token-id rows with the ids as a space-joined string, so the terminal product (not just its census/manifest) hash-verifies cross-engine: every id, every EOS placement, every pad, in every sequence position. DuckDB twin re-derives the frozen encode, the frequency-ranked vocab, the per-lang prefix sums and the div/mod chunking, then string_aggs the cells in offset order and appends the pad run. First 300 (lang, seq) rows — bounded, deterministic (ids fully determine the string)",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
        emitFromEnc(docs, Bpe.encodedCorpus(s, dir), vocabIdsTable(s, dir).select(col("token"), col("id")), SeqLen)
          .select(
            col("lang"),
            col("seq").cast("long").as("seq"),
            concat_ws(" ", transform(col("token_ids"), x => x.cast("string"))).as("ids_str"),
            col("n_tokens"),
            col("n_pad"),
            col("n_eos"))
          .orderBy(col("lang"), col("seq"))
          .limit(300)
      },
      Some {
        val ctes = Bpe.trainCtesSql(Bpe.Rounds, "TRUE") ++ Bpe.encCtesSql(Bpe.Rounds, "TRUE")
        s"""WITH ${ctes.mkString(",\n")},
           |ptok AS (
           |  SELECT d.doc_id, d.lang,
           |    list_append(string_split(trim(e.s), ' '), '') AS toks
           |  FROM documents d JOIN enc${Bpe.Rounds} e ON e.s0 = ' ' || d.text || ' '),
           |freq AS (
           |  SELECT tok AS token, cast(count(1) as bigint) AS n
           |  FROM (SELECT unnest(toks) AS tok FROM ptok)
           |  WHERE tok <> '' GROUP BY tok),
           |vocab AS (
           |  SELECT token, cast(row_number() OVER (ORDER BY n DESC, token) as int) AS id
           |  FROM freq),
           |pk AS (
           |  SELECT doc_id, lang, toks, cast(len(toks) as bigint) AS cnt,
           |    cast(coalesce(sum(cast(len(toks) as bigint)) OVER (PARTITION BY lang ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint) AS start
           |  FROM ptok),
           |fan AS (
           |  SELECT lang, start,
           |    unnest(toks) AS tok,
           |    unnest(range(1, len(toks) + 1)) AS ord
           |  FROM pk),
           |cells AS (
           |  SELECT f.lang,
           |    (f.start + f.ord - 1) // $SeqLen AS seq,
           |    (f.start + f.ord - 1) % $SeqLen AS off,
           |    CASE WHEN f.tok = '' THEN 0 ELSE v.id END AS id
           |  FROM fan f LEFT JOIN vocab v ON v.token = f.tok),
           |rows0 AS (
           |  SELECT lang, cast(seq as bigint) AS seq,
           |    string_agg(cast(id as varchar), ' ' ORDER BY off) AS ids0,
           |    cast(count(1) as bigint) AS n_tokens,
           |    cast($SeqLen - count(1) as bigint) AS n_pad,
           |    cast(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) as bigint) AS n_eos
           |  FROM cells GROUP BY lang, seq)
           |SELECT lang, seq,
           |  ids0 || repeat(' 0', cast(n_pad as int)) AS ids_str,
           |  n_tokens, n_pad, n_eos
           |FROM rows0 ORDER BY lang, seq LIMIT 300""".stripMargin
      }
    )
  )

  /** Materialize the PACKED SEQUENCES themselves — fixed-[[SeqLen]]
    * arrays of trained token ids, the rows a pretraining data-loader
    * reads. `docs` must carry (doc_id, lang, text); `merges` is a
    * trained BPE merge table (round, a, b).
    *
    * Output: (lang, seq, token_ids ARRAY<INT> of length exactly
    * [[SeqLen]], n_tokens, n_pad, n_eos) — token ids from the
    * frequency-ranked vocab (q_bpe_vocab_ids' rule), [[EosId]] after
    * every document and as trailing pad.
    *
    * Shape: the only per-token stage. posexplode fans each doc's
    * encoded tokens (+EOS) out MAP-SIDE with its global position
    * (prefix + pos), ids resolve via one BROADCAST join against the
    * vocab-shaped id table, and the (lang, seq) groupBy is the single
    * shuffle — tokens cross the wire once, as (long, int) pairs. The
    * in-sequence order rides a sort_array over (offset, id) structs,
    * never a window.
    */
  def emit(docs: DataFrame, merges: DataFrame, seqLen: Int = SeqLen): DataFrame = {
    val enc = Bpe.encodeWithMerges(docs, merges)
    emitFromEnc(docs, enc, vocabOf(docs, enc).select(col("token"), col("id")), seqLen)
  }

  /** The frequency-ranked vocab id table (token, n, id) of an encoded
    * corpus — id = dense rank by (n desc, token), ids start at 1
    * ([[EosId]] = 0 reserved).
    */
  private[graft] def vocabOf(docs: DataFrame, enc: DataFrame): DataFrame =
    docs
      .select(concat(lit(" "), col("text"), lit(" ")).as("s0"))
      .join(enc, "s0")
      .select(explode(split(col("enc"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn(
        "id",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("token"))).cast("int")
      )

  private val VocabIdsArtifact = graft.Artifacts.declare("bpe_vocab", graft.Artifacts.RangeSorted("id"))

  /** The corpus vocab-id table as a build-once artifact — shared by
    * `q_bpe_vocab_ids` and the packed-row emitter (`q_pack_tokens`),
    * which each re-derived the same frequency ranking per call.
    */
  private[graft] def vocabIdsTable(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    def build = vocabOf(Tables.documents(s, dir), Bpe.encodedCorpus(s, dir))
    graft.Artifacts.get(s, dir, VocabIdsArtifact)(build)
  }

  /** [[emit]] over an externally-supplied encode mapping and vocab id
    * table (the artifact-backed gate path).
    */
  private[graft] def emitFromEnc(
      docs: DataFrame,
      enc: DataFrame,
      vocab: DataFrame,
      seqLen: Int = SeqLen
  ): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val perDoc = docs
      .select(col("doc_id"), col("lang"), concat(lit(" "), col("text"), lit(" ")).as("s0"))
      .join(enc, "s0")
      // the EOS sentinel travels as an empty-string token; split never
      // produces one (enc is trimmed, single-space separated)
      .select(
        col("doc_id"),
        col("lang"),
        concat(split(col("enc"), " "), array(lit(""))).as("toks")
      )
      .withColumn("cnt", size(col("toks")).cast("long"))
      .withColumn("start", coalesce(sum(col("cnt")).over(w), lit(0L)))
    val tokenRows = perDoc
      .select(col("lang"), col("start"), posexplode(col("toks")).as(Seq("pos", "token")))
      .withColumn("gpos", col("start") + col("pos"))
      .join(broadcast(vocab), Seq("token"), "left_outer")
      .select(
        col("lang"),
        expr(s"gpos div $seqLen").as("seq"),
        (col("gpos") % seqLen).cast("int").as("off"),
        coalesce(col("id"), lit(EosId)).as("id")
      )
    tokenRows
      .groupBy(col("lang"), col("seq"))
      .agg(sort_array(collect_list(struct(col("off"), col("id")))).as("cells"))
      .select(
        col("lang"),
        col("seq"),
        // pad the tail sequence to exactly seqLen with EosId
        // (array_repeat with count 0 is the empty array — full sequences
        // concatenate nothing)
        concat(
          transform(col("cells"), c => c.getField("id")),
          array_repeat(lit(EosId), lit(seqLen) - size(col("cells")))
        ).as("token_ids"),
        size(col("cells")).cast("long").as("n_tokens"),
        (lit(seqLen.toLong) - size(col("cells"))).cast("long").as("n_pad"),
        // docs ENDING in this sequence (their EOS landed here) — the
        // boundary count a loader checks against its attention masks
        size(filter(col("cells"), c => c.getField("id") === EosId)).cast("long").as("n_eos")
      )
  }
}
