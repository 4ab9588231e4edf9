package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared text primitives for the dedup / text-analysis operators, kept as
  * single sources of truth so the Spark expression and the DuckDB oracle SQL
  * are generated from the same constants (seeds, shingle width, stopword
  * lists) and can't drift.
  *
  * All hashing is md5-based: md5 is bit-identical across engines, so a
  * MinHash signature can be defined as the lexicographic MIN of hex digests
  * — fully relational, ORDER-independent, and verifiable in ANSI SQL. (A
  * production deployment would swap in xxhash64 for ~5x cheaper hashing; the
  * structure — map-only signatures, shuffle only on band keys — is the part
  * that matters at 100 TB.)
  */
object TextShared {

  /** Shingle width (w-token shingles) for MinHash / Jaccard. */
  val ShingleWidth = 5

  /** MinHash signature length and LSH banding: 8 hashes = 4 bands x 2 rows.
    * Detection probability for similarity J is 1-(1-J^2)^4 — ~77% at J=0.5,
    * ~99.9% at J=0.9; 2 bands x 4 rows would miss half of 0.8-similar pairs.
    */
  val NumHashes = 8
  val NumBands  = 4
  val RowsPerBand: Int = NumHashes / NumBands

  // ---- Spark side (Column API) ----

  def tokens(text: Column): Column = split(text, " ")

  /** w-token shingles; documents shorter than w tokens collapse to a single
    * whole-text shingle (mirrored in the oracle SQL).
    */
  def shingles(text: Column): Column = {
    val t = tokens(text)
    val w = ShingleWidth
    when(
      size(t) >= w,
      transform(sequence(lit(1), size(t) - (w - 1)), i => concat_ws(" ", slice(t, i, lit(w))))
    ).otherwise(array(concat_ws(" ", t)))
  }

  /** MinHash value for one seed: min over shingles of md5("<seed>:<shingle>"). */
  def minhash(shinglesCol: Column, seed: Int): Column =
    array_min(transform(shinglesCol, x => md5(concat(lit(s"$seed:"), x))))

  /** All ordered pairs (ids[i], ids[j]), i < j, from a sorted id array —
    * the bucket-local pair generator for LSH/shingle collision buckets.
    * Higher-order-function lambdas are CodegenFallback, which is fine here:
    * this only ever runs on collision buckets (size > 1), a vanishing
    * fraction of the data.
    */
  def orderedPairs(ids: Column): Column =
    flatten(
      transform(
        ids,
        (x, i) =>
          transform(
            slice(ids, i + lit(2), size(ids) - i - 1),
            y => struct(x.as("doc_a"), y.as("doc_b"))
          )
      )
    )

  // ---- Shared distinct-sequence frequency artifacts ----

  /** The space-padded (s, w) DISTINCT-SEQUENCE frequency collapse — the
    * ONE corpus-sized pass all three tokenizer trainers (BPE, WordPiece,
    * Unigram) and the TextRank builder start from.
    */
  private[graft] def seqFreqFrom(docs: DataFrame): DataFrame =
    docs
      .select(concat(lit(" "), col("text"), lit(" ")).as("s"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("w"))

  private val FreqArtifact     = graft.Artifacts.declare("seq_freq", graft.Artifacts.RangeSorted("s"))
  private val FreqEvenArtifact = graft.Artifacts.declare("seq_freq_even", graft.Artifacts.RangeSorted("s"))

  /** [[seqFreqFrom]] over the full fixture corpus as a BUILD-ONCE artifact
    * (seq_freq) — r19 cold-budget trim: before this, EACH of the BPE /
    * WordPiece / Unigram / TextRank artifact builds re-ran the corpus
    * collapse (scan + shuffle); now the first build pays it and the rest
    * read the |distinct sequences|-shaped frame back. Consumers take a
    * [[graft.Tables.pinIter]] COPY as their loop's generation 0 so the
    * shared frame itself is never unpinned by a trainer's reclaim
    * discipline.
    */
  private[graft] def seqFreq(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.get(s, dir, FreqArtifact)(seqFreqFrom(graft.Tables.documents(s, dir)))

  /** [[seqFreq]] over the even-doc_id TRAINING half (seq_freq_even) — the
    * shared input of the three `*_encode_heldout` trainers.
    */
  private[graft] def seqFreqEven(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.get(s, dir, FreqEvenArtifact)(
      seqFreqFrom(graft.Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)))

  // ---- DuckDB side (SQL text) ----

  /** CTEs `toks(doc_id, <extra>, t)` and `sh(doc_id, <extra>, s)` over any
    * (doc_id, text) source CTE/table — parametrized so pipeline oracles
    * can shingle an intermediate STAGE (the funnel's exact-dedup
    * survivors) through the same rendering that shingles `documents`.
    */
  def shinglesCteFrom(src: String, extra: Seq[String] = Seq("lang", "source")): String = {
    val w    = ShingleWidth
    val w1   = w - 1
    val cols = ("doc_id" +: extra).mkString(", ")
    s"""toks AS (SELECT $cols, string_split(text, ' ') AS t FROM $src),
       |sh AS (SELECT $cols,
       |  CASE WHEN len(t) >= $w
       |    THEN list_transform(generate_series(1, len(t) - $w1),
       |                        i -> array_to_string(t[i:i+$w1], ' '))
       |    ELSE [array_to_string(t, ' ')] END AS s
       |  FROM toks)""".stripMargin
  }

  /** CTEs `toks(doc_id, lang, source, t)` and `sh(doc_id, lang, source, s)`. */
  val shinglesCte: String = shinglesCteFrom("documents")

  def minhashSql(seed: Int): String =
    s"list_min(list_transform(s, x -> md5(concat('$seed:', x))))"

  /** `sig` CTE chain over any (doc_id, text) source — see
    * [[shinglesCteFrom]].
    */
  def sigCteFrom(src: String, extra: Seq[String] = Seq("lang", "source")): String = {
    val hashes = (0 until NumHashes).map(j => s"  ${minhashSql(j)} AS h$j").mkString(",\n")
    val bands = (0 until NumBands)
      .map { b =>
        val cols = (b * RowsPerBand until (b + 1) * RowsPerBand).map(j => s"h$j").mkString(", ")
        s"  md5(concat_ws('|', $cols)) AS band$b"
      }
      .mkString(",\n")
    s"""${shinglesCteFrom(src, extra)},
       |sigraw AS (SELECT doc_id,
       |$hashes
       |  FROM sh),
       |sig AS (SELECT doc_id,
       |$bands
       |  FROM sigraw)""".stripMargin
  }

  /** `sig` CTE: doc_id plus h0..h{n-1} minhashes plus per-band keys. */
  val sigCte: String = sigCteFrom("documents")

  /** Hex-digit extraction SQL, valid verbatim in BOTH Spark SQL and DuckDB:
    * digit p (0-based) of a hex digest column as an int 0-15. Precomputed
    * ONCE per token before the bit-sum aggregation — the old form re-ran
    * substr+instr inside all 4 bit terms sharing the digit.
    */
  def hexDigitTerm(hashCol: String, p: Int): String =
    s"instr('0123456789abcdef', substr($hashCol, ${p + 1}, 1)) - 1"

  /** SimHash bit-term SQL over a precomputed digit column (+1 if bit j of
    * the digest is set else -1); bit j-within-digit via integer halving.
    */
  def simhashBitTerm(j: Int): String = {
    val digitCol = s"d${j / 4}"
    val div = 1 << (3 - j % 4)
    s"sum(case when (cast(floor($digitCol / $div.0) as int) % 2) = 1 then 1 else -1 end)"
  }

  val SimhashBits = 16

  /** Combine per-bit sums s0..s{n-1} into the final simhash value (majority
    * sign per bit). Valid in both engines.
    */
  def simhashCombine: String =
    (0 until SimhashBits)
      .map(j => s"case when s$j > 0 then ${1L << j} else 0 end")
      .mkString("cast(", " + ", " as bigint)")

  // ---- Stopword lists for language-ID / quality scoring ----

  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "mit"),
    "fr" -> Seq("le", "les", "et", "des", "un", "une")
  )

  def inListSql(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")
}
