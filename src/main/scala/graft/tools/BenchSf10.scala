package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ×100 spot-probe (VERDICT r9 #5): the 100 TB story rests on sf0.1→sf1
  * ratios staying sublinear; this main extends the evidence a SECOND
  * decade for the worst sf1 families. It scales the BenchSf1 dataset
  * (/tmp/sfx1) ×10 again with the same join-consistent key scaling
  * (k → k*10+i per copy; nation/region fixed-cardinality, like TPC-H's
  * own generator) → 60M-row lineitem = TPC-H sf10, 500k documents —
  * then times the five worst sf1 lines at BOTH sf1 and sf10 in one JVM.
  *
  * Run with SPARK_DRIVER_MEM=48g: the quantile family's melted range-sort
  * persists ~240M (vid, value) pairs MEMORY_AND_DISK at sf10.
  *
  * Bench-only data: correctness oracles keep reading /root/testdata. */
object BenchSf10 {

  private val srcDir = "/tmp/sfx1"
  private val outDir = "/tmp/sfx10"

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create("local[32]", 64)
    spark.sparkContext.setLogLevel("WARN")

    require(new java.io.File(s"$srcDir/lineitem.parquet").isDirectory,
      s"$srcDir missing — run graft.tools.BenchSf1 first (it builds sfx1)")
    // per-copy suffix again: cross-copy pairs stay near-dups, not byte-dups
    BenchSf1.scaleUp(spark, "sf10", srcDir, outDir, fileMul = 2, textSuffix = " rev")

    // the five worst sf1 ratios from BENCH_sf1 (VERDICT r9 #5, named),
    // plus a broad second wave covering every heavy family not probed in
    // the first pass — a cliff hiding in an unprobed family is exactly
    // what a 5-line sample would miss
    val secondWave = Seq(
      "q1_pricing_summary", "q3_join_revenue_by_nation", "join_asof",
      "join_salted", "text_bigram_lm", "dedup_exact",
      "events_sliding_distinct", "sessionize_events", "analyze_assoc_wide",
      "analyze_interaction_allpairs", "ann_ivf_topk",
      "modify_quantile_normalize", "modify_rint", "graph_triangles",
      "describe_summarize_approx", "describe_correlations",
      // third wave: every remaining family above ~1.3s on the local board
      "describe_gini", "describe_grouped_quantiles", "describe_bootstrap_ci",
      "describe_weighted_median", "describe_summarize", "decon_remove_spans",
      "graph_pagerank")
    val workloads: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "events_retention" -> graft.SparkEntry.queries("events_retention"),
      "text_tfidf_topk" -> graft.SparkEntry.queries("text_tfidf_topk"),
      "modify_robust_scale" -> graft.SparkEntry.queries("modify_robust_scale"),
      // r12 wave
      "events_drift_monitor" -> graft.SparkEntry.queries("events_drift_monitor"),
      "describe_psi_categorical" -> graft.SparkEntry.queries("describe_psi_categorical"),
      "text_js_divergence" -> graft.SparkEntry.queries("text_js_divergence"),
      "sample_epoch_mix" -> graft.SparkEntry.queries("sample_epoch_mix"),
      "ann_matryoshka_topk" -> graft.SparkEntry.queries("ann_matryoshka_topk"),
      "ann_hard_negatives" -> graft.SparkEntry.queries("ann_hard_negatives"),
      "sample_kcenter" -> graft.SparkEntry.queries("sample_kcenter"),
      "events_cusum_drift" -> graft.SparkEntry.queries("events_cusum_drift"),
      "text_ccnet_buckets" -> graft.SparkEntry.queries("text_ccnet_buckets"),
      "ann_mmr_rerank" -> graft.SparkEntry.queries("ann_mmr_rerank"),
      "graph_kcore" -> graft.SparkEntry.queries("graph_kcore"),
      "text_good_turing" -> graft.SparkEntry.queries("text_good_turing"),
      "modify_yeo_johnson_grid" -> graft.SparkEntry.queries("modify_yeo_johnson_grid"),
      "pipeline_budget_e2e" -> graft.SparkEntry.queries("pipeline_budget_e2e"),
      "pipeline_dedup_e2e" -> graft.SparkEntry.queries("pipeline_dedup_e2e"),
      "describe_score_eval" -> graft.SparkEntry.queries("describe_score_eval"),
      "ann_recall_eval" -> graft.SparkEntry.queries("ann_recall_eval"),
      "events_active_users" -> graft.SparkEntry.queries("events_active_users"),
      // r13 wave (see BenchSf1)
      "dedup_substring" -> graft.SparkEntry.queries("dedup_substring"),
      "dedup_substring_cut" -> graft.SparkEntry.queries("dedup_substring_cut"),
      "text_novelty_curve" -> graft.SparkEntry.queries("text_novelty_curve"),
      "embedding_dispersion" -> graft.SparkEntry.queries("embedding_dispersion"),
      "text_oov_curve" -> graft.SparkEntry.queries("text_oov_curve"),
      "decon_source_matrix" -> graft.SparkEntry.queries("decon_source_matrix"),
      "graph_lpa" -> graft.SparkEntry.queries("graph_lpa"),
      "dedup_prefix_join" -> graft.SparkEntry.queries("dedup_prefix_join"),
      "text_heavy_hitters_sketch_full" -> ((s: SparkSession, dir: String) =>
        graft.pipeline.SpaceSaving.approxHeavyHitters(
          s.read.parquet(s"$dir/documents.parquet"), "text", capacity = 200)),
      "ann_hard_negatives_ivf" -> graft.SparkEntry.queries("ann_hard_negatives_ivf"),
      "graph_pagerank_distributed" -> ((s: SparkSession, dir: String) =>
        graft.LocalPath.distributed(s)(graft.SparkEntry.queries("graph_pagerank")(s, dir))),
      "dedup_minhash_lsh_full" -> ((s: SparkSession, dir: String) =>
        graft.pipeline.Dedup.minhashCandidates(s,
          s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
          .groupBy().agg(count(lit(1)).as("n_candidates"))),
      // the linear-in-duplication grouping path: star edges + connected
      // components — the shape production dedup should use on dup-heavy
      // corpora (minhash_full's pair OUTPUT grows quadratically in
      // duplicate-cluster depth by contract; see SCALE.md)
      "dedup_minhash_star_full" -> ((s: SparkSession, dir: String) =>
        graft.pipeline.Dedup.components(
          graft.pipeline.Dedup.minhashStarEdges(s,
            s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id"))
          .groupBy().agg(count(lit(1)).as("n_grouped"),
            count_distinct(col("component")).as("n_groups"))),
      // round-11 operators, full-corpus forms (same shapes as BenchSf1)
      "text_heavy_hitters" -> graft.SparkEntry.queries("text_heavy_hitters"),
      "decon_corpus_minhash" -> graft.SparkEntry.queries("decon_corpus_minhash"),
      "dedup_keep_best_full" -> ((s: SparkSession, dir: String) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val edges = graft.pipeline.Dedup.minhashStarEdges(s, docs, "text", "doc_id")
        val comps = graft.pipeline.Dedup.components(edges)
        graft.pipeline.Dedup.keepBest(docs, comps, "doc_id",
            length(graft.pipeline.Text.normalized(col("text"))))
          .groupBy().agg(count(lit(1)).as("n_kept"))
      }),
      "embedding_random_projection_full" -> ((s: SparkSession, dir: String) => {
        val projOf = graft.pipeline.Similarity.randomProjection(dim = 64, outDim = 16)
        s.read.parquet(s"$dir/embeddings.parquet")
          .select(projOf(col("embedding")).as("p"))
          .groupBy().agg(count(lit(1)).as("n"),
            sum(element_at(col("p"), 1)).as("chk"))
      })) ++
      secondWave.map(n => n -> graft.SparkEntry.queries(n)) ++
      // round-11 second wave (shared full-corpus forms with BenchSf1)
      BenchSf1.round11SecondWave ++ BenchSf1.round14Wave ++
      // uncapped winnow pairs is sfx10-INFEASIBLE by contract (one
      // template print's bucket = one join key = Σ b² in one task; the
      // probe killed the context by skew) — sf0.1→sf1 evidence lives in
      // BENCH_sf1.json, the capped form is the sfx10 path
      BenchSf1.round14SecondWave.filterNot(_._1 == "dedup_winnow_pairs_full") ++
      BenchSf1.round15Wave ++ BenchSf1.round16Wave

    // sfx10-infeasible BY CONTRACT, each with its evidence elsewhere:
    // the uncapped winnow pair join puts one template print's Σ b² work
    // in a single task (the probe killed the context by skew; sf0.1→sf1
    // evidence lives in BENCH_sf1.json, the capped form IS on this board)
    val infeasible = Set("dedup_winnow_pairs")

    // probe keys must be grounded in declared query names (VERDICT r13
    // #7), and — the reverse, VERDICT r14 #3 — every declared query not
    // covered by a curated form rides the board as itself
    val board = BenchSf1.backfillDeclared(workloads, infeasible)
    BenchSf1.assertProbeKeysGrounded(board)
    BenchSf1.assertProbesCoverDeclared(board, infeasible)

    // optional subset: `runMain graft.tools.BenchSf10 q1 q2 ...` probes
    // only the named lines (skips re-timing the known-expensive ones)
    val selected =
      if (args.isEmpty) board
      else board.filter { case (n, _) => args.contains(n) }

    BenchSf1.timePairs(spark, "sf10", selected, "sf1" -> srcDir, "sf10" -> outDir,
      "10 (synthetic x10 of the sfx1 set)")
    spark.stop()
  }
}
