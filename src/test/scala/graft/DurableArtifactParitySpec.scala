package graft

import org.scalatest.funsuite.AnyFunSuite

/** The executor-loss story at scale, proven under the gate's own queries:
  * with `graft.artifact.root` set, every build-once artifact (dedup
  * signatures/pairs/shingles, IVF centroids/assignments) routes through the
  * [[graft.sources.Sinks]] durable layouts — first use writes parquet +
  * `_SUCCESS`, the returned frame IS the read-back — instead of
  * session-scoped `localCheckpoint` blocks. This spec runs the whole
  * dedup + IVF query family both ways and asserts BIT-IDENTICAL results:
  * a durable deployment (restarts, probe-from-another-job, executor loss)
  * answers exactly what the in-session path answers. The artifact root is
  * part of the build-once cache key, so flipping the property mid-session
  * rebuilds rather than serving the old blocks — which is precisely what
  * lets one JVM compare both paths.
  */
class DurableArtifactParitySpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  /** Every gate query whose plan traverses a durable-capable artifact:
    * minhash raw/banded signatures + LSH pairs, simhash fingerprints,
    * jaccard shingles, IVF comp/centroids/assignments (+ SQ8 codes and the
    * semantic-dedup blocking reuse).
    */
  private val family = Seq(
    "q_dedup_minhash_sig",
    "q_dedup_minhash_pairs",
    "q_dedup_clusters",
    "q_dedup_survivors",
    "q_dedup_minhash_calib",
    "q_dedup_keep_best",
    "q_dedup_source_matrix",
    "q_dedup_simhash",
    "q_dedup_simhash_dupes",
    "q_dedup_simhash_banded",
    "q_dedup_jaccard",
    "q_sim_ivf_build",
    "q_sim_ivf_probe",
    "q_sim_ivf_probe2",
    "q_sim_ivf_probe_batch",
    "q_sim_ivf_sq8_probe",
    "q_sim_ivf_recall",
    "q_sim_pq_codes",
    "q_sim_pq_probe",
    "q_sim_pq_recall",
    "q_sim_pq_ndcg",
    "q_sim_ivfpq_probe",
    "q_dedup_semantic",
    "q_dedup_semantic_cc",
    "q_corpus_funnel",
    "q_corpus_ledger",
    "q_pack_sequences",
    "q_pack_tokens",
    "q_graph_pagerank",
    "q_graph_trustrank",
    "q_graph_triangles",
    "q_graph_adamic_adar",
    "q_graph_ppr",
    "q_graph_pagerank_weighted",
    "q_graph_sssp",
    "q_graph_components",
    "q_graph_kcore",
    "q_graph_truss",
    "q_graph_hits",
    "q_graph_lpa",
    "q_graph_harmonic",
    "q_graph_effdiameter",
    "q_graph_pathcounts",
    "q_graph_betweenness",
    "q_graph_seeded_labels",
    "q_graph_modularity",
    "q_graph_conductance",
    "q_unigram_vocab_loss",
    "q_nb_confusion",
    "q_nb_metrics",
    "q_nb_kappa",
    "q_nb_calibration",
    "q_text_textrank",
    "q_bpe_merges",
    "q_bpe_encode",
    "q_wordpiece_merges",
    "q_wordpiece_encode",
    "q_unigram_vocab",
    "q_unigram_encode",
    "q_bpe_encode_heldout",
    "q_wordpiece_encode_heldout",
    "q_unigram_encode_heldout",
    "q_multimodal_ahash",
    "q_multimodal_ahash_pairs",
    "q_multimodal_ahash_clusters",
    "q_multimodal_audio_fp",
    // r20 optimization round: gates rebased onto new build-once artifacts
    // (cluster labels, gram frames, winnow selections, media fixtures,
    // trained LM/centroid/vocab tables) — durable replay must stay
    // bit-identical for every one of them
    "q_embed_dbscan",
    "q_dedup_exact_substr",
    "q_dedup_substr_runs",
    "q_dedup_spans",
    "q_dedup_winnow",
    "q_dedup_winnow_matches",
    "q_dedup_containment",
    "q_multimodal_png_decode",
    "q_multimodal_png_header",
    "q_multimodal_jpeg_header",
    "q_multimodal_wav_meta",
    "q_dsir_weights",
    "q_dsir_select",
    "q_contamination_ngram",
    "q_contamination_bloom",
    "q_sim_label_margin",
    "q_text_lm_score",
    "q_text_pmi",
    "q_text_topwords",
    "q_text_zipf",
    "q_bpe_vocab_ids",
    "q_pack_sequences_rows"
  )

  test("dedup + IVF family: durable-artifact runs are bit-identical to the local-checkpoint path") {
    family.foreach(name => assert(SparkEntry.queries.contains(name), s"unknown query $name"))
    // baseline: in-session localCheckpoint artifacts
    val baseline: Map[String, Seq[String]] = family.map { name =>
      name -> SparkEntry.queries(name)(spark, TestSpark.sfDir).collect().map(_.toString).toSeq
    }.toMap
    val root = tempDir("graft-parity-artifacts")
    System.setProperty("graft.artifact.root", root)
    try {
      family.foreach { name =>
        val durable = SparkEntry.queries(name)(spark, TestSpark.sfDir).collect().map(_.toString).toSeq
        assert(durable === baseline(name), s"$name: durable-artifact result differs from in-session result")
      }
      // the family's artifacts actually committed to the root (this was a
      // real durable run, not a silent fall-through to the session path)
      def artifactPath(artifact: String): String =
        Artifacts.durablePath(root, TestSpark.sfDir, artifact)
      Seq("minhash_sigraw", "minhash_sig", "minhash_pairs", "simhash",
          "jaccard_shingles", "ivf_cent2", "ivf_assignments",
          "pq_cent", "pq_codes", "graph_copurchase", "graph_pagerank",
          "graph_trustrank", "graph_ppr", "graph_wew", "graph_wpr",
          "graph_sssp", "graph_components", "graph_kcore", "graph_truss",
          "graph_hits", "graph_lpa", "graph_harmonic",
          "graph_effdiam", "graph_sigma", "graph_pathcounts", "graph_between",
          "graph_seeded", "graph_community", "nb_scored", "textrank_scores", "bpe_merges",
          "wordpiece_merges", "unigram_vocab", "ahash_fp",
          "ahash_clusters", "audio_fp", "bpe_merges_even",
          "wordpiece_merges_even", "unigram_vocab_even", "corpus_ledger",
          "seq_freq", "seq_freq_even", "semantic_cc",
          // r20 optimization-round artifacts
          "minhash_clusters", "embed_dbscan", "pgrams13", "substr_dup",
          "winnow_sel", "shingle_sizes", "png_media", "jpeg_media",
          "wav_media", "dsir_docw", "contam_grams", "sim_label_cents",
          "lm_bgdoc", "lm_terms", "tok_counts", "bpe_enc", "bpe_vocab").foreach { artifact =>
        assert(new java.io.File(s"${artifactPath(artifact)}/_SUCCESS").exists,
          s"expected committed durable artifact $artifact under $root")
      }
      // the format version is part of every artifact path (`fv=N`): a
      // formula change bumps Artifacts.FormatVersion and turns roots
      // populated by the previous build into cache MISSES instead of
      // silently-served stale tables
      assert(artifactPath("graph_pagerank").endsWith(s"/fv=${Artifacts.FormatVersion}"),
        "durable artifact paths must encode the format version")
      // no-silent-caps survives durable mode for the graph family too: the
      // co-purchase build's basket-cap counters persist next to _SUCCESS
      assert(new java.io.File(s"${artifactPath("graph_copurchase")}/_metrics.json").isFile,
        "the graft.copurchase_pairs counters must persist with the durable edge artifact")
      // same for the WEIGHTED edge artifact: the basket-cap observe fires
      // inside graph_wew's captured write (making it the artifact is what
      // keeps the metric visible — a pin inside a downstream builder
      // would swallow it)
      assert(new java.io.File(s"${artifactPath("graph_wew")}/_metrics.json").isFile,
        "the graft.copurchase_pairs counters must persist with the durable weighted-edge artifact")
    } finally System.clearProperty("graft.artifact.root")
  }
}
