package graft.pipelines

import graft.{Tables, TestSpark}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The end-to-end corpus-preparation composition: quality filter ->
  * exact dedup -> near-dup dedup -> split assign -> partitioned write,
  * with row-conservation accounting and deterministic re-runs.
  */
class CorpusPipelineSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill every single morning"

  /** Fixture docs plus three planted rows: an exact copy, a near copy, and
    * a junk doc — one guaranteed drop per stage.
    */
  private def corpus = {
    val real = Tables.documents(spark, TestSpark.sfDir).select("doc_id", "text", "lang", "source")
    val planted = Seq(
      (900001L, base, "en", "planted"),
      (900002L, base, "en", "planted"),               // exact dup of 900001
      (900003L, base + " quietly", "en", "planted"),  // near dup (J ~ 15/16)
      (900004L, "!!! ??? ### $$$ %%%", "xx", "planted") // junk: fails quality
    ).toDF("doc_id", "text", "lang", "source")
    real.union(planted)
  }

  test("pipeline conserves rows, drops each planted defect, lays out splits") {
    val out = tempDir("pipeline") + "/corpus"
    val stats = CorpusPipeline.run(corpus, out)

    assert(stats.nIn === stats.nDroppedQuality + stats.nDroppedExact + stats.nDroppedNearDup + stats.nOut,
      s"row accounting must conserve: $stats")
    assert(stats.nDroppedQuality >= 1, s"junk doc must fail quality: $stats")
    assert(stats.nDroppedExact >= 1, s"exact dup must drop: $stats")
    assert(stats.nDroppedNearDup >= 1, s"near dup must drop: $stats")

    val dirs = Files.list(java.nio.file.Paths.get(out)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(Set("split=train", "split=val", "split=test").subsetOf(dirs), s"hive split layout expected, got $dirs")

    val written = spark.read.parquet(out)
    assert(written.count() === stats.nOut)
    // survivors: the smallest planted id wins its dup cluster
    val planted = written.filter(col("source") === "planted").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(planted.contains(900001L) && !planted.contains(900002L) && !planted.contains(900003L),
      s"cluster representative must survive, got $planted")
  }

  test("funnel census == the writing pipeline's own stage accounting on the same planted corpus") {
    val out = tempDir("pipeline-funnel") + "/corpus"
    // the funnel includes the semantic stage, so the writing run enables
    // it with the SAME embedding frame and threshold; planted docs
    // (900001+) have no embeddings and pass the stage untouched
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val stats =
      CorpusPipeline.run(corpus, out, semanticEmb = Some(emb), semanticThreshold = 0.4)
    val (a2, a2Pins) = graft.operators.IvfSimilarity.assignFrom(emb)
    val census = CorpusPipeline
      .funnelCensusTracked(corpus, emb, a2)._1
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toMap
    a2Pins.foreach(f => Tables.unpin(f))
    assert(census("1_in") === stats.nIn)
    assert(census("2_dropped_quality") === stats.nDroppedQuality, s"$census vs $stats")
    assert(census("3_dropped_exact") === stats.nDroppedExact, s"$census vs $stats")
    assert(census("4_dropped_semantic") === stats.nDroppedSemantic, s"$census vs $stats")
    assert(stats.nDroppedSemantic >= 1, s"the semantic stage must drop at this threshold: $stats")
    assert(census("5_dropped_neardup") === stats.nDroppedNearDup, s"$census vs $stats")
    val outSplits = census.collect { case (k, n) if k.startsWith("6_out_") => n }.sum
    assert(outSplits === stats.nOut, s"$census vs $stats")
    // the census splits match what the pipeline actually WROTE per split
    val written = spark.read
      .parquet(out)
      .groupBy(col("split"))
      .count()
      .collect()
      .map(r => ("6_out_" + r.getString(0), r.getLong(1)))
      .toMap
    assert(census.filter(_._1.startsWith("6_out_")) === written, s"$census vs $written")
  }

  test("semantic stage survivor rule: min-id by default, the cleaner copy with keepBestQuality") {
    // 10 docs with parallel planted embeddings: ids 0..7 are the 8 unit
    // axes (the deterministic first-K k-means seeds — mutually orthogonal
    // and >= 0.9 from nobody), ids 8 and 9 are near-identical diagonal
    // vectors (cos ~ 1) that land in one cluster and form the ONLY
    // semantic pair at threshold 0.9. Doc 9's text is cleaner than doc
    // 8's, so the two survivor rules genuinely pick different copies.
    def axis(i: Int): Array[Float] = Array.tabulate(8)(j => if (j == i) 1.0f else 0.0f)
    val diag1 = Array.tabulate(8)(j => if (j < 2) 0.7071f else 0.0f)
    val diag2 = Array.tabulate(8)(j => if (j < 2) 0.7065f else 0.02f)
    val emb = ((0 to 7).map(i => (i.toLong, axis(i), 0)) ++
      Seq((8L, diag1, 0), (9L, diag2, 0))).toDF("vec_id", "embedding", "label")
    val texts = (0 to 7).map(i => (i.toLong, s"filler sentence number $i about topic $i only", "en", "p")) ++ Seq(
      (8L, "noisy !!! draft ### copy $$$ with ??? junk %%% markers", "en", "p"),
      (9L, "the quick brown fox jumps over the lazy dog while the cat watches from the windowsill", "en", "p"))
    val docs = texts.toDF("doc_id", "text", "lang", "source")
    // sanity: the quality scorer really prefers doc 9
    val q = graft.operators.TextAnalysis.qualityFrame(docs)
      .select("doc_id", "quality").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(9L) > q(8L), s"planted quality order must hold: $q")

    def survivors(keepBest: Boolean): (CorpusPipeline.Stats, Set[Long]) = {
      val out = tempDir("pipeline-sem-keep") + "/corpus"
      val stats = CorpusPipeline.run(docs, out, minQuality = 0.0,
        semanticEmb = Some(emb), semanticThreshold = 0.9, keepBestQuality = keepBest)
      (stats, spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet)
    }
    val (sMin, minIds) = survivors(keepBest = false)
    assert(sMin.nDroppedSemantic === 1L, s"exactly the planted pair collapses: $sMin")
    assert(minIds.contains(8L) && !minIds.contains(9L), s"min-id keeps 8: $minIds")
    val (sBest, bestIds) = survivors(keepBest = true)
    assert(sBest.nDroppedSemantic === 1L, s"same drop COUNT under either rule: $sBest")
    assert(bestIds.contains(9L) && !bestIds.contains(8L), s"keepBestQuality keeps the cleaner 9: $bestIds")
  }

  test("gopher-rule stage: drops counted in the funnel, survivors satisfy every rule, off by default") {
    val out = tempDir("pipeline-gopher") + "/corpus"
    val stats = CorpusPipeline.run(corpus, out, gopherRules = true)

    assert(stats.nIn === stats.nDroppedQuality + stats.nDroppedRules + stats.nDroppedExact +
      stats.nDroppedNearDup + stats.nOut,
      s"conservation must include the rules stage: $stats")
    // the fixture corpus has sub-50-token docs, so the published length
    // bound must fire
    assert(stats.nDroppedRules >= 1, s"rule stage must drop short docs: $stats")

    val written = spark.read.parquet(out)
    assert(written.count() === stats.nOut)
    val minTok = written
      .select(org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.split(col("text"), " ")).as("n"))
      .agg(org.apache.spark.sql.functions.min(col("n")))
      .collect()(0)
      .getInt(0)
    assert(minTok >= 50, s"every survivor passes the length rule, min was $minTok")

    // default path unchanged: no rules stage, field stays 0
    val plain = CorpusPipeline.run(corpus, tempDir("pipeline-plain") + "/corpus")
    assert(plain.nDroppedRules === 0L)
  }

  test("segment-rewrite stage: shared banner cut from survivors, funnel extended, off by default") {
    val out = tempDir("pipeline-seg") + "/corpus"
    // 8-token banner shared by two otherwise-unique long docs: doc-level
    // dedup keeps both (low Jaccard), the segment stage must strip the
    // banner from the LATER doc only. Tails are 50+ tokens so the quality
    // stage keeps them.
    val banner = "standard legal disclaimer applies to this entire document"
    def tail(seed: String) =
      (1 to 56).map(i => s"$seed$i").mkString(" ")
    val planted = Seq(
      (910001L, s"$banner ${tail("alpha")}", "en", "seg"),
      (910002L, s"$banner ${tail("beta")}", "en", "seg")
    ).toDF("doc_id", "text", "lang", "source")
    val stats = CorpusPipeline.run(corpus.union(planted), out, segmentRewriteLen = Some(8))

    assert(stats.nIn === stats.nDroppedQuality + stats.nDroppedExact + stats.nDroppedNearDup +
      stats.nDroppedSegEmpty + stats.nOut,
      s"conservation must include the segment stage: $stats")
    assert(stats.nSegmentsDropped >= 1, s"the shared banner segment must be cut: $stats")

    val written = spark.read.parquet(out)
    assert(written.count() === stats.nOut)
    val texts = written
      .filter(col("source") === "seg")
      .select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(texts(910001L).startsWith(banner), "first occurrence keeps the banner")
    assert(!texts(910002L).contains(banner), s"later doc must lose the banner: ${texts(910002L).take(80)}")
    assert(texts(910002L).contains("beta1"), "unique content survives the rewrite")

    // default path unchanged: no rewrite, fields stay 0
    val plain = CorpusPipeline.run(corpus, tempDir("pipeline-noseg") + "/corpus")
    assert(plain.nDroppedSegEmpty === 0L && plain.nSegmentsDropped === 0L)
  }

  test("exact-substring stage: a copy straddling segment boundaries is cut; funnel extended, off by default") {
    val out = tempDir("pipeline-substr") + "/corpus"
    // doc B embeds a 13-token run copied from doc A at an UNALIGNED
    // offset: the run crosses every 8-token segment boundary, so the
    // segment stage (also on) misses it — only the sliding-window pass
    // cuts it. Both docs otherwise unique and long enough for quality.
    val runTok = (1 to 13).map(i => s"copyrun$i")
    val aDoc   = (1 to 25).map(i => s"alfa$i") ++ runTok ++ (1 to 25).map(i => s"bravo$i")
    val bDoc   = (1 to 22).map(i => s"golf$i") ++ runTok ++ (1 to 28).map(i => s"hotel$i")
    val planted = Seq(
      (920001L, aDoc.mkString(" "), "en", "substr"),
      (920002L, bDoc.mkString(" "), "en", "substr")
    ).toDF("doc_id", "text", "lang", "source")
    val stats = CorpusPipeline.run(
      corpus.union(planted), out,
      segmentRewriteLen = Some(8), exactSubstrMinLen = Some(13))

    assert(stats.nIn === stats.nDroppedQuality + stats.nDroppedExact + stats.nDroppedNearDup +
      stats.nDroppedSegEmpty + stats.nDroppedSubstrEmpty + stats.nOut,
      s"conservation must include the substring stage: $stats")
    assert(stats.nDupTokensCut >= 13L, s"the straddling run's tokens must be counted: $stats")

    val texts = spark.read.parquet(out)
      .filter(col("source") === "substr")
      .select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(texts(920001L).contains("copyrun1"), "the first occurrence keeps its run")
    assert(!texts(920002L).contains("copyrun1"), s"the later copy must be cut: ${texts(920002L).take(100)}")
    assert(texts(920002L).contains("golf1") && texts(920002L).contains("hotel1"),
      "unique content survives the rewrite")

    // default path unchanged: stage off, fields stay 0
    val plain = CorpusPipeline.run(corpus, tempDir("pipeline-nosub") + "/corpus")
    assert(plain.nDroppedSubstrEmpty === 0L && plain.nDupTokensCut === 0L)
  }

  test("winnowContainment stage: a MOSTLY-quoted doc drops whole, a lightly-quoting doc survives") {
    val out = tempDir("pipeline-contain") + "/corpus"
    // A carries two distinct 20-token runs. B is essentially run1 with
    // thin padding (overlap vs the smaller fingerprint set ~0.8): drops
    // whole. D quotes run2 amid 50 unique tokens (overlap ~0.3): the
    // normalized criterion must KEEP it — an absolute shared count alone
    // would kill D for a couple of boilerplate fingerprints. (D quotes a
    // run B does not carry, so no transitive edge through B.)
    val run1 = (1 to 20).map(i => s"quotedx$i")
    val run2 = (1 to 20).map(i => s"quotedy$i")
    val aDoc = ((1 to 10).map(i => s"alfa$i") ++ run1 ++ run2 ++ (1 to 10).map(i => s"bravo$i")).mkString(" ")
    val bDoc = ((1 to 3).map(i => s"golf$i") ++ run1 ++ (1 to 3).map(i => s"hotel$i")).mkString(" ")
    val dDoc = ((1 to 25).map(i => s"india$i") ++ run2 ++ (1 to 25).map(i => s"julia$i")).mkString(" ")
    val planted = Seq(
      (930001L, aDoc, "en", "contain"),
      (930002L, bDoc, "en", "contain"),
      (930003L, dDoc, "en", "contain")
    ).toDF("doc_id", "text", "lang", "source")
    val stats = CorpusPipeline.run(corpus.union(planted), out, winnowContainment = true)

    assert(stats.nIn === stats.nDroppedQuality + stats.nDroppedExact + stats.nDroppedNearDup +
      stats.nDroppedContainment + stats.nOut,
      s"conservation must include the containment stage: $stats")
    assert(stats.nDroppedContainment >= 1L, s"the mostly-quoted doc must drop: $stats")

    val ids = spark.read.parquet(out)
      .filter(col("source") === "contain")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(930001L, 930003L),
      s"the representative keeps its place, the mostly-quoted doc drops, the light quoter survives: $ids")

    // without the stage all three survive (LSH alone misses the quotes)
    val plain = CorpusPipeline.run(
      corpus.union(planted), tempDir("pipeline-nocontain") + "/corpus")
    assert(plain.nDroppedContainment === 0L)
    assert(plain.nOut === stats.nOut + stats.nDroppedContainment,
      "the containment drops are exactly the docs the default path keeps")
  }

  test("keepBestQuality: the cleaner near-dup copy survives regardless of id order") {
    // A (small id) ends in a junk token, B (large id) in a real word ->
    // same shingle mass (near-dups) but quality(B) > quality(A) via the
    // mean-token-length term. Default rule keeps A (min id); the
    // quality rule must keep B, with identical drop accounting. The stem
    // is DISTINCT from `base` so this cluster stays disjoint from the
    // fixture's planted 9000xx cluster (whose min id would win both).
    val stem =
      "seventeen engineers carefully reviewed the ancient manuscript before the museum accepted its donation every winter"
    val a = (990001L, stem + " zz", "en", "kb")
    val b = (990002L, stem + " quietly", "en", "kb")
    val corpus2 = corpus.union(Seq(a, b).toDF("doc_id", "text", "lang", "source"))

    val outMin  = tempDir("pipeline-kb-min") + "/corpus"
    val outBest = tempDir("pipeline-kb-best") + "/corpus"
    val sMin  = CorpusPipeline.run(corpus2, outMin)
    val sBest = CorpusPipeline.run(corpus2, outBest, keepBestQuality = true)
    assert(sMin.nDroppedNearDup === sBest.nDroppedNearDup,
      "survivor CHOICE must not change the drop count")
    def survivors(p: String) =
      spark.read.parquet(p).filter(col("source") === "kb").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    assert(survivors(outMin) === Set(990001L), "default rule keeps the min id")
    assert(survivors(outBest) === Set(990002L), "quality rule keeps the cleaner copy")
  }

  test("segment-rewrite stage survives upstream stages dropping every doc (zeros, not NPE)") {
    val out = tempDir("pipeline-seg-empty") + "/corpus"
    // every doc fails the quality gate, so the segment stage sees an
    // empty frame: sum() over it is null and must coalesce to 0 stats
    val junk = Seq(
      (920001L, "!!! ??? ###", "xx", "junk"),
      (920002L, "$$$ %%% ^^^", "xx", "junk")
    ).toDF("doc_id", "text", "lang", "source")
    val stats = CorpusPipeline.run(junk, out, segmentRewriteLen = Some(8))
    assert(stats.nOut === 0L)
    assert(stats.nDroppedSegEmpty === 0L)
    assert(stats.nSegmentsDropped === 0L)
    assert(stats.nIn === stats.nDroppedQuality + stats.nDroppedExact + stats.nDroppedNearDup +
      stats.nDroppedSegEmpty + stats.nOut, s"conservation on the all-dropped path: $stats")
  }

  test("compaction: identical content pre/post, file count sized by bytes/target per split") {
    val baseDir = tempDir("pipeline")
    val target  = 32L * 1024
    // 5 files per split fragments the output so compaction has work to do
    val plain     = CorpusPipeline.run(corpus, s"$baseDir/plain", filesPerSplit = 5)
    val compacted = CorpusPipeline.run(
      corpus,
      s"$baseDir/compact",
      filesPerSplit = 5,
      compactTargetBytes = Some(target)
    )
    assert(plain === compacted, "compaction must not change the row accounting")
    def rows(p: String) = spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    assert(rows(s"$baseDir/plain") === rows(s"$baseDir/compact"), "identical rows pre/post compaction")

    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq("train", "val", "test").foreach { s =>
      // Sinks.compact sizes on the fragmented input's actual on-disk bytes;
      // the plain run's split dir is that input's deterministic twin
      val bytes  = fs.getContentSummary(new org.apache.hadoop.fs.Path(s"$baseDir/plain/split=$s")).getLength
      val expect = math.max(1, math.ceil(bytes.toDouble / target).toInt)
      val got = fs
        .listStatus(new org.apache.hadoop.fs.Path(s"$baseDir/compact/split=$s"))
        .count(st => st.getPath.getName.endsWith(".parquet"))
      assert(got === expect, s"split $s: $got files for $bytes bytes at target $target")
      assert(got < 5 || expect >= 5, s"split $s: compaction should reduce the 5-file fragmentation")
    }
  }

  test("jsonl in, compacted parquet splits out: the arrival-format composition") {
    // the shape a real corpus job takes: JSONL delivery -> ingest with
    // explicit schema (malformed lines dropped, counted) -> the full
    // filter/dedup/split pipeline -> hive-layout parquet
    val baseDir = tempDir("pipeline-jsonl")
    graft.sources.JsonlCorpus.write(corpus, s"$baseDir/arrival", nFiles = 2)
    val ingested = graft.sources.JsonlCorpus
      .read(spark, s"$baseDir/arrival")
      .select("doc_id", "text", "lang", "source")
    val viaJsonl  = CorpusPipeline.run(ingested, s"$baseDir/corpus")
    val viaDirect = CorpusPipeline.run(corpus.select("doc_id", "text", "lang", "source"), s"$baseDir/direct")
    assert(viaJsonl === viaDirect, "the jsonl hop must not change pipeline accounting")
    assert(
      spark.read.parquet(s"$baseDir/corpus").count() === viaJsonl.nOut,
      "written splits must hold exactly the surviving rows"
    )
  }

  test("torn swap: the between-renames crash state keeps a full copy, and recovery heals it") {
    val baseDir = tempDir("pipeline-torn")
    val out     = s"$baseDir/corpus"
    CorpusPipeline.run(corpus, out, filesPerSplit = 5)

    val fs    = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val root  = new org.apache.hadoop.fs.Path(out)
    val live  = new org.apache.hadoop.fs.Path(root, "split=train")
    val tmp   = new org.apache.hadoop.fs.Path(root, ".compact-tmp-split=train")
    val aside = new org.apache.hadoop.fs.Path(root, ".compact-old-split=train")
    def rows(p: org.apache.hadoop.fs.Path) =
      spark.read.parquet(p.toString).collect().map(_.toString).sorted.toSeq
    val before = rows(live)

    // Simulate a crash in swapIn's worst window — compacted copy fully at
    // tmp, original parked aside, live path ABSENT. This is the state the
    // old delete-then-rename comment claimed could not exist.
    val result = graft.sources.Sinks.compact(spark, live.toString, tmp.toString, 32L * 1024, Seq("doc_id"))
    fs.rename(live, aside)

    assert(!fs.exists(live), "torn state: live path is gone")
    assert(rows(aside) === before, "the parked aside copy IS the complete original")
    assert(rows(tmp) === before, "the tmp copy is the complete compacted twin")

    // recovery: next run's recoverAside renames the original back
    CorpusPipeline.recoverAside(fs, root)
    assert(fs.exists(live) && !fs.exists(aside), "recovery restores the live path")
    assert(rows(live) === before, "recovered split is byte-identical in content")

    // and the completed swap promotes the compacted copy and cleans up
    CorpusPipeline.swapIn(fs, live, tmp, aside, result.inputFiles)
    assert(rows(live) === before, "swapped-in compacted split holds the same rows")
    assert(!fs.exists(tmp) && !fs.exists(aside), "no leftover tmp/aside after a clean swap")
  }

  /** Write one row with the split-dir schema to a temp dir and move its
    * part file into `live` under a distinctive name — the shape of a
    * concurrent writer's append landing after the compact snapshot.
    */
  private def appendNewcomer(
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path,
      docId: Long
  ): String = {
    val tmpDir = tempDir("newcomer") + "/one"
    Seq((docId, s"late arrival $docId", "en", "stream"))
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1)
      .write
      .parquet(tmpDir)
    val part = fs
      .listStatus(new org.apache.hadoop.fs.Path(tmpDir))
      .find(_.getPath.getName.endsWith(".parquet"))
      .get
      .getPath
    val name = s"part-newcomer-$docId.parquet"
    assert(fs.rename(part, new org.apache.hadoop.fs.Path(live, name)))
    name
  }

  test("a file appended between the compact snapshot and the swap survives the swap") {
    // round-7 finding #2: the old swap deleted the parked dir wholesale, so
    // anything a concurrent writer (e.g. a streaming sink) appended after
    // Sinks.compact's snapshot read was silently destroyed. The manifest
    // protocol must carry it forward.
    val baseDir = tempDir("pipeline-concurrent")
    val out     = s"$baseDir/corpus"
    CorpusPipeline.run(corpus, out, filesPerSplit = 5)

    val fs    = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val root  = new org.apache.hadoop.fs.Path(out)
    val live  = new org.apache.hadoop.fs.Path(root, "split=train")
    val tmp   = new org.apache.hadoop.fs.Path(root, ".compact-tmp-split=train")
    val aside = new org.apache.hadoop.fs.Path(root, ".compact-old-split=train")

    val nBefore = spark.read.parquet(live.toString).count()
    val result  = graft.sources.Sinks.compact(spark, live.toString, tmp.toString, 32L * 1024, Seq("doc_id"))
    // ...a concurrent writer appends AFTER the snapshot, BEFORE the swap
    val newcomer = appendNewcomer(fs, live, 777001L)

    CorpusPipeline.swapIn(fs, live, tmp, aside, result.inputFiles)

    assert(fs.exists(new org.apache.hadoop.fs.Path(live, newcomer)), "newcomer file must survive the swap")
    val after = spark.read.parquet(live.toString)
    assert(after.count() === nBefore + 1, "compacted rows plus the newcomer row")
    assert(after.filter(col("doc_id") === 777001L).count() === 1, "the appended row is readable post-swap")
    assert(!fs.exists(tmp) && !fs.exists(aside), "clean swap leaves no tmp/aside")
    assert(
      !fs.listStatus(root).exists(_.getPath.getName.startsWith(".compact-manifest-")),
      "clean swap leaves no manifest"
    )
  }

  test("crash after promote: recoverAside merges newcomers back from the manifest") {
    // the post-promote crash window: live = compacted copy, parked aside
    // still holds snapshot files AND a newcomer; the persisted manifest is
    // what lets recovery tell them apart (snapshot -> drop, newcomer ->
    // merge back). The manifest file format (newline-separated names at
    // .compact-manifest-<name>) is the on-disk contract this spec builds.
    val baseDir = tempDir("pipeline-crash2")
    val out     = s"$baseDir/corpus"
    CorpusPipeline.run(corpus, out, filesPerSplit = 5)

    val fs    = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val root  = new org.apache.hadoop.fs.Path(out)
    val live  = new org.apache.hadoop.fs.Path(root, "split=train")
    val tmp   = new org.apache.hadoop.fs.Path(root, ".compact-tmp-split=train")
    val aside = new org.apache.hadoop.fs.Path(root, ".compact-old-split=train")

    val nBefore  = spark.read.parquet(live.toString).count()
    val result   = graft.sources.Sinks.compact(spark, live.toString, tmp.toString, 32L * 1024, Seq("doc_id"))
    val newcomer = appendNewcomer(fs, live, 777002L)
    // manually drive the swap to just past the promote rename, then "crash"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, ".compact-manifest-split=train"),
      result.inputFiles.toSeq.sorted.mkString("\n").getBytes("UTF-8")
    )
    assert(fs.rename(live, aside) && fs.rename(tmp, live), "park + promote")

    CorpusPipeline.recoverAside(fs, root)

    assert(fs.exists(new org.apache.hadoop.fs.Path(live, newcomer)), "recovery must merge the newcomer back")
    val after = spark.read.parquet(live.toString)
    assert(after.count() === nBefore + 1, "compacted rows plus the recovered newcomer")
    assert(after.filter(col("doc_id") === 777002L).count() === 1)
    assert(!fs.exists(aside), "recovery drops the reconciled aside copy")
    assert(
      !fs.listStatus(root).exists(_.getPath.getName.startsWith(".compact-manifest-")),
      "recovery cleans up the manifest"
    )
  }

  test("compaction refuses a _spark_metadata-tracked dir until the stream log is retired") {
    // a streaming file sink's readers resolve files THROUGH _spark_metadata;
    // compacting around it would orphan every logged path. run() must
    // refuse; retireStreamLog (no active stream) unblocks it.
    val baseDir = tempDir("pipeline-meta")
    val out     = s"$baseDir/corpus"
    CorpusPipeline.run(corpus, out, filesPerSplit = 5)

    val before = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val fs     = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val meta   = new org.apache.hadoop.fs.Path(out, "_spark_metadata")
    assert(fs.mkdirs(meta))
    // proof of the danger the guard protects against: with the log present,
    // batch readers resolve THROUGH it (here: empty log -> no visible files)
    intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(out).collect())

    val err = intercept[IllegalArgumentException] {
      CorpusPipeline.compactSplits(spark, out, 32L * 1024)
    }
    assert(err.getMessage.contains("_spark_metadata"), s"refusal must name the log: ${err.getMessage}")

    CorpusPipeline.retireStreamLog(spark, out)
    assert(!fs.exists(meta), "retireStreamLog removes the sink log")
    // with the log retired the same maintenance run goes through
    CorpusPipeline.compactSplits(spark, out, 32L * 1024)
    assert(spark.read.parquet(out).collect().map(_.toString).sorted.toSeq === before,
      "compaction preserves content once the log is retired")
  }

  test("streaming ingest: landing zone -> quality/dedup-on-arrival -> split parquet, drops observable") {
    val dir  = tempDir("pipeline-stream")
    val land = s"$dir/landing"
    assert(new java.io.File(land).mkdirs())
    def landFile(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(land, name), java.util.Arrays.asList(lines: _*))
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "s", "n_chars": ${text.length}}"""

    landFile(
      "arrival-0.jsonl",
      doc(1, base),                           // good
      doc(2, "!!! ??? ### $$$ %%%"),          // fails the quality filter
      """{"doc_id": 3, "text": "truncated"""  // malformed -> dropped, counted
    )
    val q = CorpusPipeline.runStreaming(
      spark, land, s"$dir/corpus", s"$dir/ckpt", minQuality = 0.3, dedupHorizon = "10 minutes")
    try {
      q.processAllAvailable()
      // a later file: an exact duplicate of doc 1 (same normalized text,
      // different id/whitespace) must be dropped by cross-batch state
      landFile("arrival-1.jsonl", doc(10, base.replace(" ", "  ")), doc(20, base + " with an extra tail"))
      q.processAllAvailable()

      val out = spark.read.parquet(s"$dir/corpus")
      val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 20L),
        s"good docs survive; junk fails quality, malformed drops, cross-batch duplicate dedupes: $ids")
      assert(out.columns.contains("split"), "hive split layout in the streaming sink")

      // drop accounting is observable per micro-batch (no silent losses)
      val observed = q.recentProgress.flatMap(p => Option(p.observedMetrics.get("corpus_ingest"))).toSeq
      val totals = observed.map(r => (r.getLong(0), r.getLong(1)))
      assert(totals.map(_._1).sum === 5L, s"all landed lines accounted: $totals")
      assert(totals.map(_._2).sum === 1L, s"the malformed line must be counted: $totals")
    } finally q.stop()
  }

  test("streaming ingest with decontamination: eval-overlapping docs dropped at ingest, counted") {
    import spark.implicits._
    val dir  = tempDir("pipeline-decon")
    val land = s"$dir/landing"
    assert(new java.io.File(land).mkdirs())
    def landFile(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(land, name), java.util.Arrays.asList(lines: _*))
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "s", "n_chars": ${text.length}}"""

    // eval corpus = one benchmark doc; the bloom is built over its 13-grams
    val evalText = "what is the capital of france the answer is paris and it has been since the tenth century"
    val bloom = graft.streaming.StreamingPipelines.buildGramBloom(
      Seq((999L, evalText)).toDF("doc_id", "text"), numBits = 1 << 18, numHashes = 5)

    val clean = "a long and perfectly original passage about columnar storage formats and their row group statistics in modern analytics engines"
    landFile(
      "arrival-0.jsonl",
      doc(1, clean),                                         // survives
      doc(2, s"leaked prefix $evalText trailing words here") // shares 13-grams with eval -> dropped
    )
    val q = CorpusPipeline.runStreaming(
      spark, land, s"$dir/corpus", s"$dir/ckpt",
      minQuality = 0.3, dedupHorizon = "10 minutes", decontaminateBloom = Some(bloom))
    try {
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/corpus").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L), s"contaminated doc must be dropped at ingest: $ids")
      val observed = q.recentProgress.flatMap(p => Option(p.observedMetrics.get("corpus_decon"))).toSeq
      assert(observed.map(_.getLong(0)).sum === 1L, "the drop must be counted, not silent")
    } finally q.stop()
  }

  test("streaming NEAR-dup on arrival: durable band index drops cross-batch near-dups, CC drops within-batch ones") {
    val dir  = tempDir("pipeline-neardup")
    val land = s"$dir/landing"
    assert(new java.io.File(land).mkdirs())
    def landFile(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(land, name), java.util.Arrays.asList(lines: _*))
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "s", "n_chars": ${text.length}}"""
    val other = "a completely different document about distributed query engines and their storage layouts in large analytics clusters"

    // batch 0: 1 and 2 are within-batch near-dups (identical text) -> CC
    // keeps the min; 5 is distinct and must also survive
    landFile("b0.jsonl", doc(1, base), doc(2, base), doc(5, other))
    val q = CorpusPipeline.runStreamingNearDup(
      spark, land, s"$dir/corpus", s"$dir/index", s"$dir/ckpt", minQuality = 0.3)
    try {
      q.processAllAvailable()
      // batch 1: 10 collides with batch-0 survivor 1 via the band index
      // (same text, new id); 11 is fresh and survives
      landFile("b1.jsonl", doc(10, base), doc(11, other + " but this one has a long unique tail all of its own"))
      q.processAllAvailable()

      val out = spark.read.parquet(s"$dir/corpus")
      val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 5L, 11L),
        s"within-batch CC keeps the min (1 of {1,2}), prior-survivor collision drops 10, fresh docs land: $ids")

      // the index holds bands for SURVIVORS only, one batch_id dir per batch
      val idx = spark.read.parquet(s"$dir/index")
      assert(idx.select("doc_id").distinct().collect().map(_.getLong(0)).toSet === Set(1L, 5L, 11L),
        "index carries survivor bands only")
      assert(idx.select("batch_id").distinct().count() === 2, "one index dir per micro-batch")
      import graft.operators.TextShared.NumBands
      assert(idx.groupBy("doc_id").count().collect().forall(_.getLong(1) === NumBands.toLong),
        s"every survivor contributes exactly $NumBands band rows")
    } finally q.stop()
  }

  test("streaming winnow containment: quoting a prior survivor drops on arrival; within-batch quotes drop the larger id") {
    val dir  = tempDir("pipeline-winnow")
    val land = s"$dir/landing"
    assert(new java.io.File(land).mkdirs())
    def landFile(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(land, name), java.util.Arrays.asList(lines: _*))
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "s", "n_chars": ${text.length}}"""
    // a 30-token shared run guarantees several distinct common winnow
    // fingerprints; a MOSTLY-quote doc (thin padding) has overlap vs the
    // smaller fingerprint set near 1 and drops, while a long doc quoting
    // the same run amid ~60 unique tokens stays under the 0.5 overlap bar
    val run = (1 to 30).map(i => s"quoted$i").mkString(" ")
    def uniq(seed: String, n: Int) = (1 to n).map(i => s"$seed$i").mkString(" ")
    val d1  = s"${uniq("alpha", 20)} $run ${uniq("beta", 20)}"
    val d2  = s"${uniq("gamma", 3)} $run ${uniq("delta", 3)}"     // mostly-quote of d1, same batch
    val d5  = uniq("epsilon", 50)                                 // unrelated
    val d10 = s"${uniq("zeta", 4)} $run ${uniq("eta", 4)}"        // mostly-quote, later batch
    val d11 = uniq("theta", 50)                                   // fresh
    val d12 = s"${uniq("iotaz", 30)} $run ${uniq("kappaz", 30)}"  // LIGHT quoter: must survive

    landFile("b0.jsonl", doc(1, d1), doc(2, d2), doc(5, d5))
    val q = CorpusPipeline.runStreamingWinnow(
      spark, land, s"$dir/corpus", s"$dir/index", s"$dir/ckpt", minQuality = 0.0)
    try {
      q.processAllAvailable()
      landFile("b1.jsonl", doc(10, d10), doc(11, d11))
      q.processAllAvailable()
      // the light quoter arrives alone: probes prior survivors (d1) with
      // overlap ~0.3 < 0.5 — the normalized criterion must keep it
      landFile("b2.jsonl", doc(12, d12))
      q.processAllAvailable()

      val ids = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 5L, 11L, 12L),
        s"within-batch mostly-quote 2 drops, cross-batch mostly-quote 10 drops, light quoter 12 survives: $ids")

      // the fingerprint index carries SURVIVORS only, in the shared
      // (doc_id, band_idx, band) schema (+ nfp) the relayout machinery folds
      val idx = spark.read.parquet(s"$dir/index")
      assert(idx.select("doc_id").distinct().collect().map(_.getLong(0)).toSet === Set(1L, 5L, 11L, 12L))
      assert(idx.select("band_idx").distinct().collect().map(_.getInt(0)).toSeq === Seq(0))
      assert(idx.columns.contains("nfp"), "index rows must carry the fingerprint-set size")

      // the band (global-similarity) stream on the SAME landing data KEEPS
      // the mostly-quote doc 2 — its Jaccard vs the longer source doc 1 is
      // ~0.36, below the band-collision range — which is precisely the gap
      // the winnow stream closes; both answers are deterministic. (Doc 10
      // the band stream drops too, but only via its high MUTUAL Jaccard
      // with the surviving doc 2, not by detecting the quote from doc 1.)
      val q2 = CorpusPipeline.runStreamingNearDup(
        spark, land, s"$dir/corpus2", s"$dir/index2", s"$dir/ckpt2", minQuality = 0.0)
      try {
        q2.processAllAvailable()
        val bandIds = spark.read.parquet(s"$dir/corpus2")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(bandIds.contains(2L),
          s"the band index must MISS the low-Jaccard mostly-quote the winnow stream catches: $bandIds")
      } finally q2.stop()
    } finally q.stop()
  }

  test("winnow fingerprint index folds through the shared relayout; the pruned base still catches quotes") {
    val dir  = tempDir("pipeline-winnow-relayout")
    val land = s"$dir/landing"
    assert(new java.io.File(land).mkdirs())
    def landFile(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(land, name), java.util.Arrays.asList(lines: _*))
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "s", "n_chars": ${text.length}}"""
    def start() = CorpusPipeline.runStreamingWinnow(
      spark, land, s"$dir/corpus", s"$dir/index", s"$dir/ckpt", minQuality = 0.0)
    val run = (1 to 20).map(i => s"folded$i").mkString(" ")
    def uniq(seed: String, n: Int) = (1 to n).map(i => s"$seed$i").mkString(" ")

    landFile("b0.jsonl", doc(1, s"${uniq("iota", 20)} $run ${uniq("kappa", 20)}"))
    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop()

    // the SAME maintenance job as the band index — one hardened relayout
    CorpusPipeline.relayoutNearDupIndex(spark, s"$dir/index")
    val rootNames = new java.io.File(s"$dir/index").listFiles().map(_.getName).toSet
    assert(!rootNames.exists(_.startsWith("batch_id=")), s"tail dirs must fold into the base: $rootNames")

    // a MOSTLY-quote doc arriving AFTER the fold must still drop (overlap
    // vs its own small fingerprint set ~0.8) — through the partition-pruned
    // base, since no tail dirs remain
    landFile("b1.jsonl", doc(10, s"${uniq("lambda", 3)} $run ${uniq("mu", 3)}"), doc(11, uniq("nu", 50)))
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    val ids = spark.read.parquet(s"$dir/corpus").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 11L),
      s"10 must collide with folded survivor 1 through the pruned base: $ids")
  }

  test("viral fingerprint: index posting lists are capped at ingest and re-trimmed by the relayout fold, with visible metrics") {
    val dir  = tempDir("pipeline-winnow-viral")
    val land = s"$dir/landing"
    assert(new java.io.File(land).mkdirs())
    def landFile(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(land, name), java.util.Arrays.asList(lines: _*))
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "s", "n_chars": ${text.length}}"""
    // every doc: 30 unique tokens + ONE shared 8-token boilerplate run +
    // 30 unique tokens. The run guarantees a common winnow fingerprint
    // (>= w+k-1 = 8 tokens) across ALL docs, but each doc's overlap vs its
    // own large fingerprint set stays far below 0.5 — every doc must
    // SURVIVE containment, so without a cap the index would accumulate one
    // posting list as long as the whole corpus and the cross-batch probe
    // join would go quadratic on that hash.
    val viral = (1 to 8).map(i => s"boilerplate$i").mkString(" ")
    def uniq(seed: String, n: Int) = (1 to n).map(i => s"$seed$i").mkString(" ")
    def mkDoc(id: Long) = doc(id, s"${uniq(s"pre$id-x", 30)} $viral ${uniq(s"post$id-y", 30)}")
    val cap = 4
    def start() = CorpusPipeline.runStreamingWinnow(
      spark, land, s"$dir/corpus", s"$dir/index", s"$dir/ckpt",
      minQuality = 0.0, indexPostingCap = cap)

    landFile("b0.jsonl", (1L to 40L).map(mkDoc): _*)
    // the micro-batch session is CLONED at stream start and copies the
    // session's listeners then — so the metric listener must be registered
    // before start(), not just before processAllAvailable()
    val ingestMetrics =
      graft.sources.Sinks.captureObservedMetrics(spark, Set("graft.winnow_ingest_index_cap")) {
        val q1 = start()
        try q1.processAllAvailable()
        finally q1.stop()
      }

    // all 40 unique-heavy docs survive: capping the index must not turn
    // shared boilerplate into containment drops
    val survivors0 = spark.read.parquet(s"$dir/corpus").select("doc_id").distinct().count()
    assert(survivors0 === 40L, s"every unique-heavy doc survives: $survivors0")
    // the ingest-time cap bounds every posting list in the batch dir
    val postings0 = spark.read.parquet(s"$dir/index")
      .groupBy("band").count().agg(max("count")).collect().head.getLong(0)
    assert(postings0 <= cap.toLong, s"ingest cap must bound the viral posting list: $postings0")
    val m = ingestMetrics("graft.winnow_ingest_index_cap")
    assert(m.getAs[Long]("capped_postings") >= 1L, s"the drop must be observable: $m")
    assert(m.getAs[Int]("max_posting") >= 40, s"the viral hash had the full batch before the cap: $m")

    // a second batch adds its own capped contribution; the GLOBAL re-trim
    // happens at the relayout fold
    landFile("b1.jsonl", (101L to 140L).map(mkDoc): _*)
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    CorpusPipeline.relayoutNearDupIndex(spark, s"$dir/index", maxPostings = Some(cap))
    val basePostings = spark.read.parquet(s"$dir/index/base")
      .groupBy("band").count().agg(max("count")).collect().head.getLong(0)
    assert(basePostings <= cap.toLong, s"the fold re-trims accumulated posting lists: $basePostings")
    // the fold's cap metrics promote atomically with the base
    assert(new java.io.File(s"$dir/index/base/_metrics.json").isFile,
      "relayout cap counters must persist next to the base they describe")
    val mj = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/index/base/_metrics.json")), "UTF-8")
    assert(mj.contains("graft.index_relayout_cap") && mj.contains("capped_postings"), mj)

    // capped index still catches a real mostly-quote: a doc that is mostly
    // a copy of survivor 1's text (small id — inside every capped posting)
    val d1Text = s"${uniq("pre1-x", 30)} $viral ${uniq("post1-y", 30)}"
    landFile("b2.jsonl", doc(900L, d1Text.split(" ").take(40).mkString(" ")))
    val q3 = start()
    try q3.processAllAvailable()
    finally q3.stop()
    val finalIds = spark.read.parquet(s"$dir/corpus").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!finalIds.contains(900L), "a mostly-quote of an indexed survivor still drops through the capped index")
    assert(finalIds.size === 80, s"all prior unique-heavy docs remain: ${finalIds.size}")
  }

  test("streaming near-dup survives stop/restart: checkpoint resumes, index state carries across generations") {
    val dir  = tempDir("pipeline-neardup-restart")
    val land = s"$dir/landing"
    assert(new java.io.File(land).mkdirs())
    def landFile(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(land, name), java.util.Arrays.asList(lines: _*))
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "s", "n_chars": ${text.length}}"""
    def start() = CorpusPipeline.runStreamingNearDup(
      spark, land, s"$dir/corpus", s"$dir/index", s"$dir/ckpt", minQuality = 0.3)

    landFile("g0.jsonl", doc(1, base))
    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop()

    // second generation, same checkpoint: the already-processed file must
    // NOT replay (no duplicate batch dirs), and a near-dup of a FIRST-
    // generation survivor must still be caught via the durable index
    landFile("g1.jsonl", doc(10, base), doc(11, "vectorized execution engines batch tuples into columns so branch prediction and cache locality both improve dramatically"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/corpus").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 11L),
        s"index state crosses the restart: 10 collides with generation-1 survivor 1: $ids")
    } finally q2.stop()
  }

  test("near-dup index relayout folds the tail into a band-prefix base; the probe partition-prunes and still catches collisions") {
    val dir  = tempDir("pipeline-neardup-relayout")
    val land = s"$dir/landing"
    assert(new java.io.File(land).mkdirs())
    def landFile(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(land, name), java.util.Arrays.asList(lines: _*))
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "s", "n_chars": ${text.length}}"""
    def start() = CorpusPipeline.runStreamingNearDup(
      spark, land, s"$dir/corpus", s"$dir/index", s"$dir/ckpt", minQuality = 0.3)
    val other = "a completely different document about distributed query engines and their storage layouts in large analytics clusters"
    val third = "vectorized execution engines batch tuples into columns so branch prediction and cache locality both improve dramatically"

    // two micro-batches -> two flat batch_id=N tail dirs
    landFile("b0.jsonl", doc(1, base), doc(5, other))
    val q1 = start()
    try {
      q1.processAllAvailable()
      landFile("b1.jsonl", doc(7, third))
      q1.processAllAvailable()
    } finally q1.stop()

    CorpusPipeline.relayoutNearDupIndex(spark, s"$dir/index")
    val rootNames = new java.io.File(s"$dir/index").listFiles().map(_.getName).toSet
    assert(!rootNames.exists(_.startsWith("batch_id=")), s"tail dirs must fold into the base: $rootNames")
    val bpDirs = new java.io.File(s"$dir/index/base").listFiles().map(_.getName).filter(_.startsWith("bp=")).sorted
    assert(bpDirs.length > 1, s"fixture must span multiple band prefixes for a pruning assertion: ${bpDirs.toSeq}")

    // probing with ONE prefix must plan a partition filter and read only
    // that slice of the base
    val onePrefix = bpDirs.head.stripPrefix("bp=")
    val probe = CorpusPipeline
      .priorNearDupIndex(spark, s"$dir/index", batchId = 99L, Seq(onePrefix))
      .getOrElse(fail("relayed index must be visible to the probe"))
    val formatted =
      probe.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pf = formatted.linesIterator.filter(_.trim.startsWith("PartitionFilters:")).mkString("\n")
    assert(pf.contains("bp"), s"band-prefix predicate must land in PartitionFilters:\n$formatted")
    val rows = probe.collect()
    assert(rows.nonEmpty, "the chosen prefix has at least one band row by construction")
    val bandCol = probe.columns.indexOf("band")
    assert(rows.forall(r => s"p${r.getString(bandCol).substring(0, 2)}" == onePrefix),
      "probe must return only rows under the requested prefix")
    val scan = probe.queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .headOption.getOrElse(fail("no FileSourceScanExec in the probe plan"))
    def parquetFilesUnder(p: java.io.File): Long =
      if (p.isDirectory) p.listFiles().map(parquetFilesUnder).sum
      else if (p.getName.endsWith(".parquet")) 1L else 0L
    val totalBaseFiles = parquetFilesUnder(new java.io.File(s"$dir/index/base"))
    assert(scan.metrics("numFiles").value < totalBaseFiles,
      s"pruned probe must read fewer files (${scan.metrics("numFiles").value}) than the whole base ($totalBaseFiles)")

    // end-to-end: with NO tail dirs left, a collision with a folded
    // survivor must still be caught — i.e. the pruned base path is the
    // one doing the work
    landFile("b2.jsonl", doc(10, base), doc(11, "columnar file formats keep min max statistics in footers so selective scans prune entire row groups without reading them"))
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    val ids = spark.read.parquet(s"$dir/corpus").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 5L, 7L, 11L),
      s"10 must collide with folded survivor 1 through the partition-pruned base: $ids")
  }

  test("near-dup stream killed mid-stream (half-written replay dirs planted) converges to the uninterrupted run") {
    val other = "a completely different document about distributed query engines and their storage layouts in large analytics clusters"
    val fresh = "vectorized execution engines batch tuples into columns so branch prediction and cache locality both improve dramatically"
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "s", "n_chars": ${text.length}}"""
    val f0 = Seq(doc(1, base), doc(5, other))
    val f1 = Seq(doc(10, base), doc(11, fresh)) // 10 collides with survivor 1
    val f2 = Seq(doc(12, "columnar file formats keep min max statistics in footers so selective scans prune entire row groups without reading them"))
    def runScenario(dir: String, interrupted: Boolean): (Set[Long], Set[(Long, Int, String)]) = {
      val land = s"$dir/landing"
      assert(new java.io.File(land).mkdirs())
      def landFile(name: String, lines: Seq[String]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(land, name), lines.asJava)
      def start() = CorpusPipeline.runStreamingNearDup(
        spark, land, s"$dir/corpus", s"$dir/index", s"$dir/ckpt",
        minQuality = 0.3, maxFilesPerTrigger = Some(1))
      if (interrupted) {
        // generation 1 commits only batch 0, then the query is killed with
        // work still pending
        landFile("f0.jsonl", f0)
        val q1 = start()
        try q1.processAllAvailable()
        finally q1.stop()
        // simulate a crash MIDWAY through batch 1's foreachBatch on the
        // next generation: its corpus and index dirs were written but the
        // batch never committed — on restart batch 1 must replay over them
        // (overwrite) and its probe must NOT see its own half-written
        // index rows (batch_id exclusion)
        import spark.implicits._
        val half = Seq((10L, base, "en", "s", base.length), (11L, fresh, "en", "s", fresh.length))
          .toDF("doc_id", "text", "lang", "source", "n_chars")
        half.write.parquet(s"$dir/corpus/batch_id=1")
        graft.operators.Dedup.signatures(half)
          .select(col("doc_id"),
            posexplode(array((0 until graft.operators.TextShared.NumBands).map(i => col(s"band$i")): _*))
              .as(Seq("band_idx", "band")))
          .write.parquet(s"$dir/index/batch_id=1")
        landFile("f1.jsonl", f1)
        landFile("f2.jsonl", f2)
        val q2 = start()
        try q2.processAllAvailable()
        finally q2.stop()
      } else {
        landFile("f0.jsonl", f0); landFile("f1.jsonl", f1); landFile("f2.jsonl", f2)
        val q = start()
        try q.processAllAvailable()
        finally q.stop()
      }
      val ids = spark.read.parquet(s"$dir/corpus").select("doc_id").collect().map(_.getLong(0)).toSet
      val idx = spark.read.parquet(s"$dir/index")
        .select("doc_id", "band_idx", "band").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      (ids, idx)
    }
    val root = tempDir("pipeline-neardup-kill")
    val (idsA, idxA) = runScenario(s"$root/interrupted", interrupted = true)
    val (idsB, idxB) = runScenario(s"$root/clean", interrupted = false)
    assert(idsA === idsB, s"survivors must match the uninterrupted run: $idsA vs $idsB")
    assert(idsA === Set(1L, 5L, 11L, 12L), s"10 collides with survivor 1; the rest land: $idsA")
    assert(idxA === idxB, "the survivor band index must converge to the uninterrupted run's")
  }

  test("re-running the pipeline reproduces identical stats and splits") {
    val baseDir = tempDir("pipeline")
    val s1 = CorpusPipeline.run(corpus, s"$baseDir/a")
    val s2 = CorpusPipeline.run(corpus, s"$baseDir/b")
    assert(s1 === s2)
    def splitSig(p: String) =
      spark.read.parquet(p).groupBy("split").agg(count(lit(1)).as("n"), sum(col("doc_id")).as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(splitSig(s"$baseDir/a") === splitSig(s"$baseDir/b"))
  }

  test("terminal packing stage: fixed-length token-id rows per split, hidden from corpus readers") {
    val out   = tempDir("pipeline-pack") + "/corpus"
    val stats = CorpusPipeline.run(corpus, out, packSeqLen = Some(64))
    assert(stats.nPackedSequences > 0, s"packing must emit sequences: $stats")
    // a plain corpus reader of outPath must NOT see the packed product
    // (the _packed prefix hides it) and must still read exactly nOut rows
    assert(spark.read.parquet(out).count() === stats.nOut)
    val splits = Seq("train", "val", "test")
      .filter(sp => Files.exists(java.nio.file.Paths.get(s"$out/_packed/split=$sp")))
    assert(splits.nonEmpty, "at least the train split must pack")
    var total = 0L
    splits.foreach { sp =>
      val packed = spark.read.parquet(s"$out/_packed/split=$sp")
      total += packed.count()
      val rows = packed.collect()
      rows.foreach { r =>
        val ids = r.getAs[scala.collection.Seq[Int]]("token_ids")
        assert(ids.size === 64, s"every packed row is exactly seqLen ids ($sp)")
        assert(r.getAs[Long]("n_tokens") + r.getAs[Long]("n_pad") === 64L, s"pad accounting ($sp)")
      }
      // per (split, lang): EOS count == docs written to that split+lang —
      // one boundary per document, none lost at chunk edges
      val eos = packed.groupBy(col("lang")).agg(sum(col("n_eos")).as("e")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val docs = spark.read.parquet(out).filter(col("split") === sp)
        .groupBy(col("lang")).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(eos === docs, s"one EOS per packed doc in $sp")
    }
    assert(total === stats.nPackedSequences, "stats count the written sequences")
  }

  test("drop ledger: one row per dropped doc, first stage wins, census is its exact readout") {
    val emb      = Tables.embeddings(spark, TestSpark.sfDir)
    val (a2, a2Pins) = graft.operators.IvfSimilarity.assignFrom(emb)
    val (ledgerF, pins) = CorpusPipeline.funnelLedgerTracked(corpus, emb, a2)
    val ledger = ledgerF.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // a doc appears at most once: stages consume survivors
    assert(ledger.map(_._1).distinct.length === ledger.length, "ledger doc_ids must be unique")
    // the census derives from the ledger bit-for-bit
    val census = CorpusPipeline
      .censusFromLedger(corpus, ledgerF)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toMap
    val byStage = ledger.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    Seq("2_dropped_quality", "3_dropped_exact", "4_dropped_semantic", "5_dropped_neardup").foreach { st =>
      assert(census(st) === byStage.getOrElse(st, 0L), s"census $st == ledger count")
    }
    assert(census("1_in") === corpus.count())
    assert(census.collect { case (k, n) if k.startsWith("6_out_") => n }.sum ===
      census("1_in") - ledger.length, "out splits = in - dropped")
    // reasons are actionable: every dup_of/near_dup_of survivor it names
    // was NOT itself dropped, and the planted exact dup names 900001
    val droppedIds = ledger.map(_._1).toSet
    ledger.foreach {
      case (id, _, r) if r.contains(":") =>
        val ref = r.split(":")(1).toLong
        assert(!droppedIds.contains(ref), s"doc $id reason $r must name a survivor")
      case _ => ()
    }
    assert(ledger.find(_._1 == 900002L).exists(_._3 === "dup_of:900001"), s"planted exact dup trail")
    assert(ledger.find(_._1 == 900003L).exists(_._3 === "near_dup_of:900001"), s"planted near dup trail")
    (pins :+ a2Pins.head).foreach(Tables.unpin)
  }
}
