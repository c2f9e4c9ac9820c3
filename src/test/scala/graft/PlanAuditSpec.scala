package graft

import graft.tools.PlanAudit

/** The plan audit as a FAILING gate (VERDICT r8 #7): every declared query
  * is planned (AQE off) and any NO-PUSHDOWN / NO-CODEGEN / WIDE-SCAN flag
  * outside the justified allowlist below reds the build — a future
  * pushdown or codegen regression cannot slip through as a log line.
  * Plus the r8 #6 wobble check: q3's joins must stay broadcast at the
  * bench SF (an SMJ flip, not scheduling noise, would show here). */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries allowed to carry a flag, with the reason it is inherent.
    * Every entry filters ONLY derived values (window lag, aggregate
    * algebra, sample ranks) — there is no base-row predicate Catalyst
    * COULD push to the parquet scan. */
  private val allowlist: Map[String, String] = Map(
    // (analyze_assoc_cogroup left the list in r17: the study result is a
    // driver-local relation of its O(#rvs) rows, collected once at
    // construction, so the audited plan is the query's sort over that
    // relation; the melt/co-group pass whose post-stack IS NOT NULL filter
    // was allowlisted runs at construction)
    "ann_knn_graph" -> "NO-PUSHDOWN: whole-corpus graph; filters on IVF list ranks (derived)",
    "events_retention" -> "NO-PUSHDOWN: explode's implicit size(days) > 0 guard on the AGGREGATED per-user day set — no base-row predicate exists",
    // (describe_cramers_v / describe_mutual_info left the list in r17:
    // their grouping-sets base is now an eager localCheckpoint — the
    // concurrent-recompute fix — so the audited plan filters checkpointed
    // O(levels²) rows and no base-column predicate exists to push)
    // (describe_psi_drift left the list in r18: the union-tagged single
    // aggregation + per-variable window replaced the grid/full-outer join
    // whose post-aggregate share filters used to flag NO-PUSHDOWN)
    "events_interarrival" -> "NO-PUSHDOWN: filters the NULL first-lag per user (window-derived)",
    "events_scd2" -> "NO-PUSHDOWN: filters on change-detection lag columns (window-derived)",
    "sample_cluster_balanced" -> "NO-PUSHDOWN: filters on per-cluster sample ranks (derived)",
    "sample_stratified" -> "NO-PUSHDOWN: filters on per-stratum hash ranks (derived)",
    "sample_weighted" -> "NO-PUSHDOWN: filters on Efraimidis-Spirakis keys (derived)",
    // (dedup_substring / dedup_substring_cut don't appear here: their
    // cross-doc filters live BEHIND the crossDoc localCheckpoint, so the
    // audited plan is the already-materialized fingerprint set + joins)
    "decon_corpus_minhash" -> "NO-CODEGEN: the returned frame is a one-row LocalTableScan of the driver-computed estimate; the two signature aggregations that COMPUTE it are codegen'd projections + map-side-combined aggs, executed eagerly at construction",
    "text_hh_guaranteed" -> "NO-CODEGEN: the returned frame is an O(capacity)-row LocalTableScan of the guaranteed report read off the sketch; the compute path is the sketchOf treeAggregate over the codegen'd token projection, executed eagerly at construction",
    "describe_score_eval" -> "NO-CODEGEN: the returned frame is a one-row LocalTableScan of the (auc, ap) summary; the compute path is the ksTwoSample discipline — tie-aggregated codegen'd shuffle, range-partitioned sort, exact-int64 fold — executed eagerly at construction",
    "describe_ks_drift" -> "NO-CODEGEN: the returned frame is a one-row LocalTableScan of the (D, pvalue) summary; the compute path is the giniByGroup discipline — tie-aggregated codegen'd shuffle, range-partitioned sort, O(#partitions) offsets, max reduce — executed eagerly at construction",
    "text_heavy_hitters" -> "NO-PUSHDOWN: the exact pass filters the empty-word guard and the candidate semi-join on the EXPLODED token stream — post-explode, not a base-column predicate",
    "text_good_turing" -> "NO-PUSHDOWN: whole-corpus counts-of-counts; the only filters are the empty-word guard on the EXPLODED token stream and r <= maxR on the AGGREGATED table — no base-row predicate exists",
    "text_bigram_lm" -> "NO-PUSHDOWN: filters on n-gram count thresholds (aggregated)",
    "text_bm25_topk" -> "NO-PUSHDOWN: filters on df/rank thresholds (aggregated)",
    "text_collocations" -> "NO-PUSHDOWN: filters on PMI count thresholds (aggregated)",
    "text_tfidf_topk" -> "NO-PUSHDOWN: filters on df/rank thresholds (aggregated)")

  test("plan audit: zero unexplained NO-PUSHDOWN / NO-CODEGEN / WIDE-SCAN flags") {
    val hadAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val audits = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> PlanAudit.auditQuery(spark, sfDir, name, fn)
      }.toMap
      val bad = audits.toSeq.sortBy(_._1).collect {
        case (name, a) if a.flags.nonEmpty && !allowlist.contains(name) =>
          s"$name: ${a.flags.mkString(",")}"
      }
      assert(bad.isEmpty, s"plan regressions:\n  ${bad.mkString("\n  ")}")
      // the allowlist must not go stale: every entry still flags (reuses
      // the audits above — eager queries are not re-executed)
      val stale = allowlist.keys.filterNot(n => audits.get(n).exists(_.flags.nonEmpty))
      assert(stale.isEmpty, s"allowlist entries no longer flag (remove them): $stale")
    } finally spark.conf.set("spark.sql.adaptive.enabled", hadAqe)
  }

  test("q3 joins stay broadcast at the bench SF (no SMJ flip)") {
    val hadAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // plan-only against sf0.1 (the bench input): customer + nation are
      // both far under the broadcast threshold there — both joins must be
      // broadcast-hash, none sort-merge
      val a = PlanAudit.auditQuery(spark, "/root/testdata/sf0.1",
        "q3_join_revenue_by_nation", SparkEntry.queries("q3_join_revenue_by_nation"))
      val nBhj = "BroadcastHashJoin".r.findAllIn(a.plan).size
      assert(nBhj >= 2, s"expected both q3 joins broadcast, got $nBhj:\n${a.plan.take(2000)}")
      assert(!a.plan.contains("SortMergeJoin"),
        "q3 flipped to sort-merge join at the bench SF — fix the broadcast threshold")
    } finally spark.conf.set("spark.sql.adaptive.enabled", hadAqe)
  }
}
