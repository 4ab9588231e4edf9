package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the near-dup machinery actually DETECTS near-duplicates — the
  * fixture corpus has none, so the oracle-checked queries only prove parity;
  * these constructed corpora prove function.
  */
class DedupSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill every single morning"
  // near-dup for LSH: one appended word (high shingle overlap, J ~ 15/16)
  private val nearDupAppend = base + " quietly"
  // near-dup for jaccard: one word changed mid-document (J ~ 0.5)
  private val nearDup = base.replace("warm", "cold")
  // unrelated
  private val other =
    "completely different content about distributed query engines and their shuffle partitioning strategies at scale"

  private def corpus = Seq(
    (0L, base, "en", "s0"),
    (1L, nearDup, "en", "s0"),
    (2L, other, "en", "s0")
  ).toDF("doc_id", "text", "lang", "source")

  test("minhash signatures: near-dups collide on at least one band, unrelated do not") {
    import TextShared._
    val lshCorpus = Seq(
      (0L, base, "en", "s0"),
      (1L, nearDupAppend, "en", "s0"),
      (2L, other, "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    val sigs = Dedup
      .signatures(lshCorpus)
      .collect()
      .map(r => r.getLong(0) -> (1 to NumBands).map(r.getString))
      .toMap
    def share(a: Long, b: Long) = sigs(a).zip(sigs(b)).exists { case (x, y) => x == y }
    assert(share(0L, 1L), "near-duplicate documents should share a band")
    assert(!share(0L, 2L), "unrelated documents should not share a band")
  }

  test("identical docs produce identical simhash; unrelated docs differ") {
    import TextShared._
    val toks = corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), md5(col("w")).as("h"))
      .select(
        col("doc_id") +:
          (0 until SimhashBits / 4).map(p => expr(hexDigitTerm("h", p)).as(s"d$p")): _*
      )
    val sums = toks
      .groupBy(col("doc_id"))
      .agg(
        expr(simhashBitTerm(0)).as("s0"),
        (1 until SimhashBits).map(j => expr(simhashBitTerm(j)).as(s"s$j")): _*
      )
    val sh = sums
      .select(col("doc_id"), expr(simhashCombine).as("simhash"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    // hamming distance between near-dups is small, unrelated is larger
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) <= 4, s"near-dup hamming ${ham(sh(0L), sh(1L))}")
    assert(ham(sh(0L), sh(2L)) > ham(sh(0L), sh(1L)))
  }

  test("jaccard on 5-gram shingles: near-dups above 0.5, unrelated at 0") {
    import TextShared._
    val sets = corpus
      .select(col("doc_id"), array_distinct(shingles(col("text"))).as("s"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .toMap
    def jac(a: Set[String], b: Set[String]) = a.intersect(b).size.toDouble / a.union(b).size
    assert(jac(sets(0L), sets(1L)) > 0.3)
    assert(jac(sets(0L), sets(2L)) === 0.0)
  }

  test("clusters: connected components collapse transitive dup chains to min-label") {
    // chain 1-2-3 plus isolated pair 10-11: two clusters
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup
      .clusters(pairs)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("clusters CONVERGE on a long chain: diameter far beyond any fixed hop count") {
    // a 30-node path 1-2-...-30 (diameter 29) discovered in the worst
    // order for propagation. A hop-bounded loop (the old 3-iteration form)
    // leaves the tail in separate clusters; the convergent loop must
    // collapse everything to label 1 — and in O(log diameter) rounds via
    // pointer doubling, which the maxRounds backstop (20) indirectly pins:
    // without doubling, 29 hops would exhaust it and fail this assert.
    val pairs = (1L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === (1L to 30L).toSet)
    assert(out.values.toSet === Set(1L), "every node in the path adopts the component min")
  }

  test("clusters: empty pair set returns an empty labeling without iterating") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusters(pairs).collect().isEmpty)
  }

  test("LSH pathological-bucket cap: a high-df bucket is sub-sampled, counted, and deterministic") {
    // 60 docs sharing one boilerplate text -> identical signatures -> one
    // 60-id bucket in EVERY band. Uncapped that is C(60,2)=1770 pairs (the
    // 10M-doc version of this is 10^14 pairs); capped at 8 it must emit
    // exactly C(8,2)=28 pairs over the 8 smallest doc_ids.
    val boiler = (0 until 60).map(i => (i.toLong, base, "en", "s0"))
    val sig = Dedup.signatures(boiler.toDF("doc_id", "text", "lang", "source"))
    val capped = Dedup.pairsFromSignatures(sig, maxBucket = 8)
    val rows = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === 28, "capped bucket must emit C(8,2) pairs")
    assert(rows.flatMap(p => Seq(p._1, p._2)).toSet === (0L until 8L).toSet,
      "cap keeps the smallest doc_ids (the survivor labels)")
    // no-silent-caps: the drop is observable
    val m = capped.queryExecution.observedMetrics("graft.lsh_pairs")
    assert(m.getAs[Long]("capped_buckets") === TextShared.NumBands.toLong)
    assert(m.getAs[Int]("max_bucket") === 60)
    // and the default cap leaves sf-scale buckets untouched (uncapped count)
    assert(Dedup.pairsFromSignatures(sig).count() === 60L * 59 / 2)
  }

  test("durable artifact: signatures + pairs written via Sinks, pairs query served from read-back") {
    val baseline = graft.SparkEntry
      .queries("q_dedup_minhash_pairs")(spark, graft.TestSpark.sfDir)
      .collect()
      .map(_.toString)
      .toSeq
    val root = tempDir("graft-artifacts")
    System.setProperty("graft.artifact.root", root)
    try {
      val durable = graft.SparkEntry
        .queries("q_dedup_minhash_pairs")(spark, graft.TestSpark.sfDir)
        .collect()
        .map(_.toString)
        .toSeq
      assert(durable === baseline, "pairs from the durable artifact must match the in-session result")
      Seq("minhash_sig", "minhash_pairs").foreach { name =>
        assert(
          new java.io.File(s"${graft.Artifacts.durablePath(root, graft.TestSpark.sfDir, name)}/_SUCCESS").exists,
          s"committed $name artifact missing"
        )
      }
      // no-silent-caps survives durable mode: the build run's observed cap
      // counters are persisted next to the artifact (reuse runs read parquet
      // back and carry no observedMetrics of their own)
      val metricsFile = new java.io.File(
        s"${graft.Artifacts.durablePath(root, graft.TestSpark.sfDir, "minhash_pairs")}/_metrics.json")
      assert(metricsFile.exists, "LSH cap stats must be persisted next to the durable artifact")
      val metricsJson = new String(
        java.nio.file.Files.readAllBytes(metricsFile.toPath),
        "UTF-8"
      )
      assert(metricsJson.contains("\"graft.lsh_pairs\""), metricsJson)
      assert(metricsJson.contains("\"capped_buckets\""), metricsJson)
      assert(metricsJson.contains("\"max_bucket\""), metricsJson)
    } finally System.clearProperty("graft.artifact.root")
  }

  test("durable artifact: concurrent first-builds serialize on the per-path lock (one writer)") {
    // Two+ threads racing the same missing artifact must not interleave
    // overwrite writes into one _SUCCESS-marked dir (the exists-then-write
    // window); with the per-path lock exactly one builds, the rest read the
    // committed result.
    val dir         = tempDir("graft-durable-race") + "/artifact"
    val buildCount  = new java.util.concurrent.atomic.AtomicInteger(0)
    val inFlight    = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val counts = Await.result(
      Future.sequence((1 to 4).map { _ =>
        Future {
          graft.sources.Sinks
            .durableArtifact(spark, dir) { p =>
              maxInFlight.updateAndGet(m => math.max(m, inFlight.incrementAndGet()))
              Thread.sleep(150) // widen the exists-then-write race window
              buildCount.incrementAndGet()
              spark.range(10).toDF("id").write.mode("overwrite").parquet(p)
              inFlight.decrementAndGet()
            }
            .count()
        }
      }),
      scala.concurrent.duration.Duration(120, "s")
    )
    assert(counts.forall(_ === 10L), s"every caller must see the full artifact, got $counts")
    assert(maxInFlight.get() === 1, "first-builds must never overlap")
    assert(buildCount.get() === 1, "exactly one thread builds; the rest serve the committed read-back")
  }

  test("simhashBandPairs equals the exhaustive Hamming join on a synthetic fingerprint set") {
    // fingerprints chosen to cover: exact duplicates (must collapse to one
    // rep + count), Hamming 1/2/3 pairs (must ALL surface — the pigeonhole
    // completeness claim), and Hamming >= 4 pairs (must not).
    val sims = Seq(
      1L  -> 0x0000L, 2L -> 0x0000L, // exact dup group
      3L  -> 0x0001L, // H1 from 0x0000
      4L  -> 0x0003L, // H2 from 0x0000, H1 from 0x0001
      5L  -> 0x0007L, // H3 from 0x0000
      6L  -> 0x000FL, // H4 from 0x0000 (must NOT pair with it)
      7L  -> 0x0F0FL,
      8L  -> 0xFFFFL,
      9L  -> 0x8421L,
      10L -> 0x8420L  // H1 from 0x8421
    )
    val got = Dedup
      .simhashBandPairs(sims.toDF("doc_id", "simhash"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(6)))
      .toSet

    val distinctSims = sims.map(_._2).distinct
    val expected = (for {
      a <- distinctSims; b <- distinctSims
      if a < b
      h = java.lang.Long.bitCount(a ^ b)
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got === expected, s"banded pairs must equal the exhaustive Hamming<=3 join")
    assert(expected.contains((0x0000L, 0x0007L, 3L)), "sanity: an H3 pair is in the reference")

    // the exact-dup group must collapse: rep doc 1, count 2
    val dupRow = Dedup
      .simhashBandPairs(sims.toDF("doc_id", "simhash"))
      .filter(col("sim_a") === 0x0000L && col("sim_b") === 0x0001L)
      .collect()(0)
    assert(dupRow.getLong(2) === 1L && dupRow.getLong(4) === 2L, "group 0x0000: rep doc_id 1, 2 docs")
  }

  test("short documents (< shingle width) fall back to whole-text shingle") {
    import TextShared._
    val out = Seq((9L, "tiny doc", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .select(shingles(col("text")).as("s"))
      .collect()
    assert(out(0).getSeq[String](0) === Seq("tiny doc"))
  }

  test("span extent: a planted 21-token verbatim run measures exactly (length, spans, matches)") {
    // all-distinct vocab: no accidental 13-gram collisions
    val a = (1 to 40).map(i => s"w$i")
    // A[10..30] copied into B at an offset (diagonal != 0 exercised)
    val b = Seq("x1", "x2", "x3", "x4", "x5") ++ a.slice(9, 30) ++ Seq("y1", "y2", "y3", "y4", "y5")
    val docs = Seq((0L, a.mkString(" ")), (1L, b.mkString(" "))).toDF("doc_id", "text")
    val rows = Dedup.spanExtent(docs).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1)) === ((0L, 1L)))
    assert(r.getLong(2) === 21L, "max_span = the copied run's token length")
    assert(r.getLong(3) === 1L, "one maximal span")
    assert(r.getLong(4) === 9L, "a 21-token run has 21 - 13 + 1 = 9 matching window starts")
  }

  test("span extent: two disjoint copied runs on the SAME diagonal stay separate islands") {
    val a = (1 to 40).map(i => s"w$i")
    // C = A[1..15] + junk + A[26..40]: both runs sit at identical positions
    // in A and C (diagonal 0), so only the gaps-and-islands step can split
    // them — a max-minus-min span estimate would wrongly report 40
    val c = a.slice(0, 15) ++ (1 to 10).map(i => s"j$i") ++ a.slice(25, 40)
    val docs = Seq((0L, a.mkString(" ")), (2L, c.mkString(" "))).toDF("doc_id", "text")
    val r = Dedup.spanExtent(docs).collect().head
    assert(r.getLong(2) === 15L, "max_span is one run, not the envelope")
    assert(r.getLong(3) === 2L, "two maximal spans")
    assert(r.getLong(4) === 6L, "3 window starts per 15-token run")
  }

  test("span extent: disjoint docs produce no pair") {
    val docs = Seq(
      (0L, (1 to 20).map(i => s"w$i").mkString(" ")),
      (1L, (1 to 20).map(i => s"v$i").mkString(" "))
    ).toDF("doc_id", "text")
    assert(Dedup.spanExtent(docs).count() === 0L)
  }

  test("span extent pathological-gram cap: a boilerplate 13-gram bucket is sub-sampled, counted, deterministic") {
    // 1000 identical 13-token docs -> ONE gram bucket of 1000 occurrences.
    // Uncapped that is C(1000,2) ~ 5x10^5 occurrence pairs out of a single
    // bucket (the 10^6-doc banner version is 5x10^11 — a straggler task
    // that kills the stage); capped at 8 it must emit exactly C(8,2) = 28
    // pairs over the 8 smallest doc_ids, each with its exact span length.
    val boilerGram = (1 to 13).map(i => s"b$i").mkString(" ")
    val docs   = (0 until 1000).map(i => (i.toLong, boilerGram)).toDF("doc_id", "text")
    val capped = Dedup.spanExtent(docs, maxBucket = 8)
    val rows   = capped.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 28, "capped bucket must emit C(8,2) pairs")
    assert(rows.flatMap(p => Seq(p._1, p._2)).toSet === (0L until 8L).toSet,
      "cap keeps the smallest (doc_id, pos) occurrences")
    assert(rows.forall(_._3 === 13L), "kept pairs keep the exact span length")
    // no-silent-caps: the drop is observable
    val m = capped.queryExecution.observedMetrics("graft.span_pairs")
    assert(m.getAs[Long]("capped_buckets") === 1L)
    assert(m.getAs[Int]("max_bucket") === 1000)
  }

  test("jaccard pathological-bucket cap: boilerplate shingle buckets sub-sampled, counted; kept pairs stay exact") {
    // 60 identical docs in one (lang, source) block: every shingle bucket
    // holds all 60 ids. Capped at 8, pairs can only form among the 8
    // smallest doc_ids — and because EVERY bucket keeps the same smallest
    // ids, each kept pair's common count stays exact (J = 1.0 precisely).
    val boiler = (0 until 60).map(i => (i.toLong, base, "en", "s0"))
    val capped = Dedup.jaccardPairs(
      Dedup.explodedShingles(boiler.toDF("doc_id", "text", "lang", "source")),
      maxBucket = 8
    )
    val rows = capped.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length === 28, "C(8,2) pairs over the 8 smallest ids")
    assert(rows.flatMap(p => Seq(p._1, p._2)).toSet === (0L until 8L).toSet)
    assert(rows.forall(_._3 === 1.0), "kept pairs keep exact jaccard")
    val m = capped.queryExecution.observedMetrics("graft.jaccard_pairs")
    assert(m.getAs[Long]("capped_buckets") > 0L, "the drop must be observable")
    assert(m.getAs[Int]("max_bucket") === 60)
    // default cap leaves small corpora untouched
    assert(
      Dedup
        .jaccardPairs(Dedup.explodedShingles(boiler.toDF("doc_id", "text", "lang", "source")))
        .count() === 60L * 59 / 2
    )
  }

  test("exact-substring dedup: a copied run straddling the segment boundary is caught and cut") {
    // doc A = 24 unique tokens; doc B copies A[5..17] (13 tokens) between
    // unique padding. In B the copy sits at positions 6..18, crossing the
    // 8-token segment boundaries at 8|9 and 16|17 — none of B's ALIGNED
    // segments matches any of A's, so segment dedup keeps B verbatim; the
    // sliding-window pass must cut exactly those 13 tokens.
    val a    = (1 to 24).map(i => s"w$i")
    val copy = a.slice(4, 17) // w5..w17, 13 tokens
    val b    = (1 to 5).map(i => s"p$i") ++ copy ++ (1 to 6).map(i => s"q$i")
    val docs = Seq(
      (0L, a.mkString(" "), "en", "s0"),
      (1L, b.mkString(" "), "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")

    // segment dedup (fixed aligned windows) misses the straddling copy
    val seg = Dedup.segmentDedup(docs.select(col("doc_id"), col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(seg(1L) === b.mkString(" "), "aligned segments must miss the straddling copy (the gap this op closes)")

    val out = Dedup.exactSubstrDedup(docs.select(col("doc_id"), col("text")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(0L) === ((24L, 0L, a.mkString(" "))), "the first occurrence is untouched")
    assert(out(1L)._1 === 24L)
    assert(out(1L)._2 === 13L, "exactly the copied run's tokens count as duplicated")
    assert(out(1L)._3 === ((1 to 5).map(i => s"p$i") ++ (1 to 6).map(i => s"q$i")).mkString(" "),
      "the rewrite cuts the copied run and keeps everything else in order")
  }

  test("exact-substring dedup: self-repetition within one doc and overlapping windows merge to one cut") {
    // doc = X ++ filler ++ X with |X| = 15 > minLen: the repeated X spawns
    // THREE overlapping duplicate windows (starts 21, 22, 23); the interval
    // union must count 15 tokens once, not 3 x 13, and cut the whole block
    val x    = (1 to 15).map(i => s"x$i")
    val fill = (1 to 5).map(i => s"f$i")
    val doc  = x ++ fill ++ x
    val out = Dedup.exactSubstrDedup(Seq((7L, doc.mkString(" "))).toDF("doc_id", "text"))
      .collect().head
    assert(out.getLong(1) === 35L)
    assert(out.getLong(2) === 15L, "overlapping duplicate windows union to the run length")
    assert(out.getString(3) === (x ++ fill).mkString(" "), "the second X is cut, first kept")
  }

  test("exact-substring rebuild filters against MERGED intervals: degenerate alternating-run doc stays bounded") {
    // The straggler shape the merged-interval rebuild exists for: a long
    // doc of ALTERNATING duplicated runs. 50 runs of 100 tokens, each a
    // verbatim copy from a smaller-id source doc, separated by one unique
    // token -> ~10^4 tokens, 50 x 88 = 4400 raw duplicate window starts,
    // but only 50 disjoint merged intervals. Filtering per token against
    // raw starts is O(tokens x 4400); against merged intervals it is
    // O(tokens x 50) — the census must emit exactly the 50 islands.
    val runs = (1 to 50).map(r => (1 to 100).map(i => s"run$r-t$i"))
    val original   = (5L, runs.flatten.mkString(" "))
    val degenerate = (9L, runs.zipWithIndex.flatMap { case (r, i) => r :+ s"sep$i" }.mkString(" "))
    val docs = Seq(original, degenerate).toDF("doc_id", "text")

    val iv = Dedup
      .exactSubstrCensus(
        {
          val L  = 13
          val pg = docs
            .select(col("doc_id"), split(col("text"), " ").as("t"))
            .select(col("doc_id"), explode(expr(
              s"transform(sequence(1, size(t) - ${L - 1}), i -> " +
                s"named_struct('pos', i, 'g', substring(md5(concat_ws(' ', slice(t, i, $L))), 1, 16)))")).as("e"))
            .select(col("doc_id"), col("e.pos").as("pos"), col("e.g").as("g"))
          val first = pg.groupBy(col("g")).agg(min(struct(col("doc_id"), col("pos"))).as("f"))
          pg.join(first, "g")
            .filter(struct(col("doc_id"), col("pos")) =!= col("f"))
            .select(col("doc_id"), col("pos"))
        },
        minLen = 13
      )
      .filter(col("doc_id") === 9L)
      .collect().head
    val intervals = iv.getSeq[org.apache.spark.sql.Row](iv.fieldIndex("iv"))
    assert(intervals.length === 50,
      s"merged-interval count equals the disjoint duplicated-run count, not the 4400 raw starts: ${intervals.length}")
    assert(iv.getLong(iv.fieldIndex("n_dup_tokens")) === 50L * 100,
      "island census still counts the exact interval union")

    // end-to-end: only the unique separators survive the rebuild
    val out = Dedup.exactSubstrDedup(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(9L) === (0 until 50).map(i => s"sep$i").mkString(" "),
      "every duplicated run is cut, every separator kept, in order")
    assert(out(5L) === runs.flatten.mkString(" "), "the first occurrence is untouched")
  }

  test("exact-substring dedup: short docs and dup-free docs pass through unchanged") {
    val docs = Seq(
      (0L, "tiny doc below the window"),               // < minLen tokens
      (1L, (1 to 20).map(i => s"u$i").mkString(" "))   // >= minLen, no dups
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(0L) === ((0L, "tiny doc below the window")))
    assert(out(1L) === ((0L, (1 to 20).map(i => s"u$i").mkString(" "))))
  }

  test("winnowing: a shared run of w+k-1 tokens guarantees a common fingerprint hash") {
    // k=4, w=5: the paper's guarantee threshold is t = w+k-1 = 8 tokens.
    // A shares exactly 8 consecutive tokens with B amid unrelated text —
    // the run spans 5 grams = one full window on each side, whose selected
    // min hash is identical, so the fingerprint HASH sets must intersect.
    val run  = (1 to 8).map(i => s"r$i")
    val a    = (1 to 10).map(i => s"a$i") ++ run ++ (1 to 10).map(i => s"b$i")
    val b    = (1 to 7).map(i => s"c$i") ++ run ++ (1 to 13).map(i => s"d$i")
    val none = (1 to 30).map(i => s"n$i")
    val docs = Seq(
      (0L, a.mkString(" ")), (1L, b.mkString(" ")), (2L, none.mkString(" "))
    ).toDF("doc_id", "text")
    val sel = Dedup.winnowSelected(docs, k = 4, w = 5)
      .select(col("doc_id"), col("sel.h").as("h")).distinct()
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byDoc = sel.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    assert(byDoc(0L).intersect(byDoc(1L)).nonEmpty,
      "the guaranteed-length shared run must surface a common fingerprint")
    assert(byDoc(0L).intersect(byDoc(2L)).isEmpty, "unrelated docs share nothing")
  }

  test("winnowing: rightmost tie rule — an all-repeated doc selects every window's last position") {
    // one repeated token -> every gram hash identical -> each window's min
    // ties across all w positions and must resolve to the RIGHTMOST; the
    // selected (hash, position) fingerprints are then all distinct, so
    // density pins to exactly 1.0 (any other tie rule collapses them)
    val docs = Seq((5L, Seq.fill(12)("z").mkString(" "))).toDF("doc_id", "text")
    val r = Dedup.winnowFrame(docs).collect().head
    assert(r.getLong(1) === 9L, "12 tokens -> 9 grams")
    assert(r.getLong(2) === 5L, "9 grams -> 5 full windows")
    assert(r.getLong(3) === 5L)
    assert(r.getDouble(4) === 1.0)
  }

  test("containment flags a subset copy that the symmetric Jaccard threshold misses") {
    val short = (1 to 20).map(i => s"s$i")
    val long  = short ++ (1 to 40).map(i => s"l$i")
    val docs = Seq(
      (0L, short.mkString(" "), "en", "s0"),
      (1L, long.mkString(" "), "en", "s1") // different source: unblocked pairing must still find it
    ).toDF("doc_id", "text", "lang", "source")
    val rows = Dedup.containmentPairs(Dedup.explodedShingles(docs)).collect()
    assert(rows.length === 1)
    val r = rows.head
    // S: 16 shingles, all inside L's prefix; L: 56 shingles
    assert(r.getDouble(2) === 1.0, "every shingle of the short doc is in the long one")
    assert(r.getDouble(3) === 16.0 / 56.0)
    val jaccard = 16.0 / (16 + 56 - 16)
    assert(jaccard < 0.5, "the same pair sits below a 0.5 Jaccard threshold — asymmetry is the point")
  }

  test("containment: unrelated docs produce no pair") {
    val docs = Seq(
      (0L, (1 to 20).map(i => s"s$i").mkString(" "), "en", "s0"),
      (1L, (1 to 20).map(i => s"t$i").mkString(" "), "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    assert(Dedup.containmentPairs(Dedup.explodedShingles(docs)).count() === 0L)
  }

  test("containment pathological-bucket cap: boilerplate shingle bucket is sub-sampled, counted, never overcounts") {
    // 12 identical docs: every shingle bucket holds all 12 ids. Capped at 4,
    // pairs can only form among the 4 smallest doc_ids, and each kept pair's
    // common count stays exact (identical docs -> c = 1.0 both sides).
    val boiler = (0 until 12).map(i => (i.toLong, base, "en", "s0"))
    val capped = Dedup.containmentPairs(
      Dedup.explodedShingles(boiler.toDF("doc_id", "text", "lang", "source")),
      maxBucket = 4
    )
    val rows = capped.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length === 6, "C(4,2) pairs over the 4 smallest ids")
    assert(rows.flatMap(p => Seq(p._1, p._2)).toSet === (0L until 4L).toSet)
    assert(rows.forall(p => p._3 === 1.0 && p._4 === 1.0), "kept pairs keep exact counts")
    val m = capped.queryExecution.observedMetrics("graft.containment_pairs")
    assert(m.getAs[Long]("capped_buckets") > 0L, "the drop must be observable")
    assert(m.getAs[Int]("max_bucket") === 12)
    // default cap leaves small corpora untouched
    assert(
      Dedup
        .containmentPairs(Dedup.explodedShingles(boiler.toDF("doc_id", "text", "lang", "source")))
        .count() === 12L * 11 / 2
    )
  }

  test("containmentDropIds is asymmetric: the long original survives even when the quote holds the smaller id") {
    // Q (id 50) is mostly a quote of A (id 100): shared 8 of Q's 10
    // fingerprints (0.8 >= 0.5 of Q's OWN set) -> Q drops to the larger-set
    // A. The old symmetric least() + smallest-id-representative rule formed
    // the same pair but kept id 50 and dropped the ORIGINAL.
    val fps = (
      (1 to 20).map(h => (100L, s"a$h".hashCode.toLong)) ++
        (1 to 8).map(h => (50L, s"a$h".hashCode.toLong)) ++
        Seq((50L, 901L), (50L, 902L))
    ).toDF("doc_id", "h")
    val drops = Dedup
      .containmentDropIds(fps, minShared = 2, minOverlap = 0.5, "graft.test_contain")
      .collect().map(_.getLong(0)).toSet
    assert(drops === Set(50L), s"only the mostly-quoted copy drops, never the original: $drops")
  }

  test("containmentDropIds drops are direct, not transitive: touching a dropped doc is not containment") {
    // B (8 fps) is mostly inside A -> drops. D (20 fps) shares the same 6
    // fingerprints with B and A but that is only 0.3 of D's OWN set: under
    // the old CC closure the qualifying D-B edge pulled D into A's
    // component and dropped it; the asymmetric rule must keep D.
    val common = (1 to 6).map(h => s"c$h".hashCode.toLong)
    val fps = (
      (common ++ (1 to 14).map(h => s"a$h".hashCode.toLong)).map((1L, _)) ++
        (common ++ Seq(801L, 802L)).map((2L, _)) ++
        (common ++ (1 to 14).map(h => s"d$h".hashCode.toLong)).map((3L, _))
    ).toDF("doc_id", "h")
    val drops = Dedup
      .containmentDropIds(fps, minShared = 2, minOverlap = 0.5, "graft.test_contain")
      .collect().map(_.getLong(0)).toSet
    assert(drops === Set(2L), s"B drops to the outranking A; D's unique content survives: $drops")
  }

  test("containmentDropIds tie-break: equal fingerprint sets keep the smaller id") {
    val fps = (1 to 10).flatMap(h => Seq((7L, h.toLong), (9L, h.toLong))).toDF("doc_id", "h")
    val drops = Dedup
      .containmentDropIds(fps, minShared = 2, minOverlap = 0.5, "graft.test_contain")
      .collect().map(_.getLong(0)).toSet
    assert(drops === Set(9L), "exactly one of two identical docs drops, and it is the larger id")
  }

  test("segmentDedup: first occurrence survives, later copies drop, docs rebuild in order") {
    // segLen=4: doc 0 = segments [A, B]; doc 1 = verbatim copy (all drop);
    // doc 2 = fresh segment C then copied segment B (partial rewrite);
    // doc 3 = short unique doc (tail segment shorter than segLen kept as-is)
    val A = "alpha beta gamma delta"
    val B = "epsilon zeta eta theta"
    val C = "iota kappa lambda mu"
    val docs = Seq(
      (0L, s"$A $B", "en", "s0"),
      (1L, s"$A $B", "en", "s0"),
      (2L, s"$C $B", "en", "s0"),
      (3L, "nu xi", "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Dedup
      .segmentDedup(docs, segLen = 4)
      .orderBy(col("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) === ((0L, 2L, 2L, s"$A $B")), "first doc keeps everything verbatim")
    assert(out(1) === ((1L, 2L, 0L, "")), "verbatim copy loses every segment")
    assert(out(2) === ((2L, 2L, 1L, C)), "copied segment drops, fresh segment stays")
    assert(out(3) === ((3L, 1L, 1L, "nu xi")), "short tail segment is its own unit")
  }

  test("segmentDedup: a 2500-token doc is fully segmented (no 256-segment truncation)") {
    // guards the oracle-parity contract: the DuckDB twin once capped
    // enumeration at 256 segments/doc, silently diverging past 2048
    // tokens at segLen=8 — the engine side must segment the WHOLE doc
    val long  = (0 until 2500).map(i => s"w$i").mkString(" ")
    val docs  = Seq((0L, long, "en", "s0")).toDF("doc_id", "text", "lang", "source")
    val r     = Dedup.segmentDedup(docs, segLen = 8).collect()(0)
    val nSegs = r.getLong(1)
    assert(nSegs === 313L, s"2500 tokens / 8 = 313 segments (ceil), got $nSegs")
    assert(r.getLong(2) === 313L, "a unique doc keeps every segment")
    assert(r.getString(3) === long, "rebuild must round-trip the full text")
  }

  test("segmentDedup: within-doc repetition dedups to the first instance") {
    val A    = "one two three four"
    val docs = Seq((7L, s"$A $A $A", "en", "s0")).toDF("doc_id", "text", "lang", "source")
    val r    = Dedup.segmentDedup(docs, segLen = 4).collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getString(3)) === ((3L, 1L, A)))
  }

  test("keep-best: same clusters as the census, survivor is a member, changed flag consistent") {
    val best = graft.SparkEntry
      .queries("q_dedup_keep_best")(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4)))
    val census = graft.SparkEntry
      .queries("q_dedup_clusters")(spark, TestSpark.sfDir)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(best.map(_._1).toSeq === census.keys.toSeq.sorted, "same cluster set as the census")
    best.foreach { case (label, n, keepId, changed) =>
      assert(n === census(label), s"cluster $label member count must match the census")
      assert(keepId >= label, s"label is the min member id, so keep_id >= label: $label -> $keepId")
      assert(changed === (keepId != label), s"changed must mark divergence from the min-id rule")
    }
    assert(best.exists(_._4), "the fixture has clusters where quality beats min-id")
  }

  test("calibration: est_j is an eighth-step in [0,1], exact_j bounded, err consistent, pairs conserved") {
    val rows = graft.SparkEntry
      .queries("q_dedup_minhash_calib")(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val nPairs = graft.SparkEntry.queries("q_dedup_minhash_pairs")(spark, TestSpark.sfDir).count()
    assert(rows.length.toLong === nPairs, "every candidate pair gets a calibration row")
    rows.foreach { case (a, b, est, exact, err) =>
      assert(est >= 0.0 && est <= 1.0 && (est * 8).isWhole,
        s"est_j must be k/8: ($a,$b) -> $est")
      assert(exact > 0.0 && exact <= 1.0,
        s"candidate pairs share a band, so they share at least one shingle: ($a,$b) -> $exact")
      assert(err === est - exact)
    }
    // LSH candidates are similarity-biased: the mean estimate must sit well
    // above the ~0 similarity of random fixture pairs
    assert(rows.map(_._3).sum / rows.length > 0.5, "candidates should estimate as similar")
  }

  test("source matrix: unordered cells, and total pairs conserve against the pair generator") {
    val cells = graft.SparkEntry
      .queries("q_dedup_source_matrix")(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(cells.forall { case (a, b, _) => a <= b }, "cells must be unordered (least, greatest)")
    assert(cells.map { case (a, b, _) => (a, b) }.distinct.length === cells.length)
    val nPairs = graft.SparkEntry
      .queries("q_dedup_minhash_pairs")(spark, TestSpark.sfDir)
      .count()
    assert(cells.map(_._3).sum === nPairs, "every candidate pair lands in exactly one cell")
  }

  test("capped buckets: the collect INPUT itself is bounded at maxBucket rows per bucket") {
    // a planted 100k-item hot bucket plus a small exact bucket: the
    // pre-cap rank filter must hand the collect at most `cap` rows per
    // bucket (the aggregation-buffer bound), while metrics still report
    // the TRUE pre-cap size
    val cap = 64
    val items = spark
      .range(100000)
      .select(lit(1L).as("b"), col("id").as("doc"))
      .unionByName(spark.range(10).select(lit(2L).as("b"), (col("id") + 1000000L).as("doc")))
    val fed = Dedup
      .cappedRanked(items, Seq(col("b")), col("doc"), cap, minBucket = 2)
      .groupBy(col("b"))
      .count()
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(fed(1L) === cap.toLong, s"hot bucket must feed exactly $cap rows to the collect: $fed")
    assert(fed(2L) === 10L, s"small bucket stays exact: $fed")
    val metrics = graft.sources.Sinks.captureObservedMetrics(spark, Set("graft.test_capcore")) {
      val pairs = Dedup
        .cappedBucketPairs(items, Seq(col("b")), col("doc"), "graft.test_capcore", cap)
        .collect()
        .map(_.getStruct(0))
        .map(p => (p.getLong(0), p.getLong(1)))
      assert(pairs.length === cap * (cap - 1) / 2 + 45, s"pair volume must be capped: ${pairs.length}")
      // the kept items are the bucket's SMALLEST: every hot-bucket pair
      // draws from ids 0..cap-1
      assert(pairs.filter(_._1 < 1000000L).forall { case (a, b) => a < cap && b < cap })
    }
    val m = metrics("graft.test_capcore")
    assert(m.getAs[Long]("capped_buckets") === 1L, s"the drop must be observable: $m")
    assert(m.getAs[Int]("max_bucket") === 100000, s"TRUE pre-cap size must be reported: $m")
    // the keyed variant carries the TRUE size on every pair
    val keyed = Dedup
      .cappedBucketPairsKeyed(items, Seq(col("b")), col("doc"), "graft.test_capkeyed", cap)
      .select(col("b"), col("bucket_n"))
      .distinct()
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    assert(keyed === Map(1L -> 100000, 2L -> 10))
  }
}
