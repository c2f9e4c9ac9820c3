package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.CladeFrame
import graft.modify.Modify
import graft.analyze.{AssociationStudy, Corrections, InteractionStudy}
import graft.pipeline.Text
import SparkEntry.{sig6, sqlSig6}
import Tables._

/** Analyze: association and interaction studies, corrections (SURVEY §2.6-2.7,
  * §2.10), survey-design aggregates and genotype QC. */
private[graft] object AnalyzeQueries {

  val all: Seq[Q] = Seq(
    Q("analyze_assoc_continuous", (s, dir) => {
      // all-numeric design -> routed to the distributed sufficient-stats
      // path (AggregatedGlm): one scan, no ids needed
      var cf = CladeFrame(t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_quantity", "l_discount", "l_tax"),
        "l_orderkey")
      AssociationStudy.run(s, cf, outcomes = Seq("l_extendedprice"),
        regressionVariables = Seq("l_quantity", "l_discount", "l_tax"), minN = 1)
        .select(col("Variable").as("variable"), col("N").as("n"),
          round(col("Beta"), 4).as("beta"), round(col("SE"), 4).as("se"))
        .orderBy("variable")
    },
      () => """SELECT variable, n, round(beta, 4) AS beta, round(se, 4) AS se FROM (
           SELECT 'l_quantity' AS variable, CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
             regr_slope(l_extendedprice, l_quantity) AS beta,
             sqrt((regr_syy(l_extendedprice, l_quantity)
                   - regr_sxy(l_extendedprice, l_quantity)^2 / regr_sxx(l_extendedprice, l_quantity))
                  / (regr_count(l_extendedprice, l_quantity) - 2)
                  / regr_sxx(l_extendedprice, l_quantity)) AS se FROM lineitem
           UNION ALL
           SELECT 'l_discount', CAST(regr_count(l_extendedprice, l_discount) AS BIGINT),
             regr_slope(l_extendedprice, l_discount),
             sqrt((regr_syy(l_extendedprice, l_discount)
                   - regr_sxy(l_extendedprice, l_discount)^2 / regr_sxx(l_extendedprice, l_discount))
                  / (regr_count(l_extendedprice, l_discount) - 2)
                  / regr_sxx(l_extendedprice, l_discount)) FROM lineitem
           UNION ALL
           SELECT 'l_tax', CAST(regr_count(l_extendedprice, l_tax) AS BIGINT),
             regr_slope(l_extendedprice, l_tax),
             sqrt((regr_syy(l_extendedprice, l_tax)
                   - regr_sxy(l_extendedprice, l_tax)^2 / regr_sxx(l_extendedprice, l_tax))
                  / (regr_count(l_extendedprice, l_tax) - 2)
                  / regr_sxx(l_extendedprice, l_tax)) FROM lineitem)
         ORDER BY variable"""),

    Q("analyze_assoc_wide", (s, dir) => {
      // EWAS-shaped wide fan-in: 32 derived variables fitted in ONE
      // sufficient-stats aggregation pass (AggregatedGlm batch)
      val base = t(s, dir, "lineitem")
      val withVars = wideVars.foldLeft(base) { case (d, (name, ex)) =>
        d.withColumn(name, expr(ex))
      }
      val cf = CladeFrame(withVars.select(
        (Seq("l_orderkey", "l_extendedprice") ++ wideVars.map(_._1)).map(col): _*),
        "l_orderkey")
      AssociationStudy.run(s, cf, outcomes = Seq("l_extendedprice"),
        regressionVariables = wideVars.map(_._1), minN = 1)
        .select(col("Variable").as("variable"), col("N").as("n"),
          round(col("Beta"), 4).as("beta"), round(col("SE"), 4).as("se"))
        .orderBy("variable")
    },
      () => wideOracle),

    Q("analyze_assoc_logistic", (s, dir) => {
      // binary outcome (high-price flag) ~ each continuous rv; hash-proven:
      // the oracle unrolls the 2-parameter IRLS (closed-form 2×2 solve per
      // iteration) with the engine's init + stopping rule in DuckDB SQL and
      // replays erfc via Cody's approximation — see logisticIrlsOracleSql
      var cf = CladeFrame(t(s, dir, "lineitem")
        .withColumn("high_price", (col("l_extendedprice") > 30000).cast("string"))
        .select("l_orderkey", "high_price", "l_quantity", "l_discount"), "l_orderkey")
      cf = cf.withTypes(Map("high_price" -> graft.model.VariableType.Binary))
        .withLevels(Map("high_price" -> Seq("false", "true")))
      AssociationStudy.run(s, cf, outcomes = Seq("high_price"),
        regressionVariables = Seq("l_quantity", "l_discount"), minN = 1)
        .select(col("Variable").as("variable"), col("N").as("n"),
          round(col("Beta"), 4).as("beta"), round(col("SE"), 4).as("se"),
          round(col("pvalue"), 6).as("pvalue"))
        .orderBy("variable")
    },
      () => logisticIrlsOracleSql),

    Q("analyze_quality_logit", (s, dir) => {
      // train a document-quality classifier with the SAME IRLS engine the
      // EWAS studies use: label = src0 membership, features = exact text
      // signals (word count; mean word length as an integer-ratio double,
      // so both engines fit from bitwise-identical inputs)
      val base = t(s, dir, "documents")
        .withColumn("is_src0", (col("source") === "src0").cast("string"))
        .withColumn("__t", Text.normalized(col("text")))
        .withColumn("__nw", size(split(col("__t"), " ")))
        .withColumn("n_words", col("__nw").cast("double"))
        .withColumn("mean_wlen",
          (char_length(col("__t")) - (col("__nw") - 1)).cast("double") / col("__nw"))
        .select("doc_id", "is_src0", "n_words", "mean_wlen")
      val cf = CladeFrame(base, "doc_id")
        .withTypes(Map("is_src0" -> graft.model.VariableType.Binary))
        .withLevels(Map("is_src0" -> Seq("false", "true")))
      AssociationStudy.run(s, cf, outcomes = Seq("is_src0"),
          regressionVariables = Seq("mean_wlen", "n_words"), minN = 1)
        // se/pvalue at 3dp: the near-constant mean_wlen design makes the
        // deviance stop marginal, and the engine can legitimately take one
        // more IRLS step than the replay (see logisticIrlsOracleSqlFor)
        .select(col("Variable").as("variable"), col("N").as("n"),
          round(col("Beta"), 4).as("beta"), round(col("SE"), 3).as("se"),
          round(col("pvalue"), 3).as("pvalue"))
        .orderBy("variable")
    },
      () => logisticIrlsOracleSqlFor(
      // features from exact integer counts only (word count; mean word
      // length = (chars - separators) / words as one int-ratio division)
      """SELECT CAST(nw AS DOUBLE) AS n_words,
           (lt - (nw - 1)) * 1.0 / nw AS mean_wlen, y
         FROM (SELECT len(string_split(t, ' ')) AS nw, length(t) AS lt, y
               FROM (SELECT trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS t,
                       CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y
                     FROM documents))""",
      Seq("mean_wlen", "n_words"), seDigits = 3, pDigits = 3)),

    Q("analyze_assoc_cogroup", (s, dir) => {
      // the 100 TB association path, driver-oracled (VERDICT r9 #6): a
      // CATEGORICAL covariate (l_returnflag) disqualifies the all-numeric
      // sufficient-stats fast path, and broadcastBase=Some(false) forces the
      // co-group route — melted variables JOIN the base block, each group
      // streams through the row kernel, nothing row-scale reaches the driver
      // (AssociationCogroupOracleSpec asserts !wasCollectedForBroadcast).
      // Oracle: Frisch–Waugh — demeaning y and x within returnflag groups
      // absorbs intercept + dummies, so the rv's beta/SE from the simple
      // regression on residuals equal the full-model GLM's (df = n - k - 1).
      // orders: o_orderkey is the one genuinely UNIQUE key in the testdata
      // (the co-group path rejects duplicate observation ids — they'd
      // explode the melt⋈base join); order_day = days since 1992-01-01
      val cf = CladeFrame(t(s, dir, "orders")
        .withColumn("order_day",
          datediff(col("o_orderdate").cast("date"), lit("1992-01-01")).cast("double"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus",
          "o_custkey", "order_day"), "o_orderkey")
        .withTypes(Map("o_orderstatus" -> graft.model.VariableType.Categorical))
      AssociationStudy.run(s, cf, outcomes = Seq("o_totalprice"),
        covariates = Seq("o_orderstatus"),
        regressionVariables = Seq("o_custkey", "order_day"), minN = 1,
        broadcastBase = Some(false))
        .select(col("Variable").as("variable"), col("N").as("n"),
          round(col("Beta"), 4).as("beta"), round(col("SE"), 4).as("se"))
        .orderBy("variable")
    },
      // Frisch–Waugh replay of the co-group GLM: within-returnflag demeaning
      // absorbs the intercept + categorical dummies, so the residual simple
      // regression reproduces the full model's rv beta and (with
      // df = n - #groups - 1) its GLM SE exactly
      () => """WITH cc AS (
           SELECT o_orderstatus AS g, CAST(o_totalprice AS DOUBLE) AS y,
             CAST(o_custkey AS DOUBLE) AS x1,
             CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE) AS x2
           FROM orders),
         d AS (
           SELECT g, y - avg(y) OVER (PARTITION BY g) AS yd,
             x1 - avg(x1) OVER (PARTITION BY g) AS x1d,
             x2 - avg(x2) OVER (PARTITION BY g) AS x2d
           FROM cc),
         f AS (
           SELECT count(*) AS n, count(DISTINCT g) AS k,
             sum(yd * x1d) AS sxy1, sum(x1d * x1d) AS sxx1,
             sum(yd * x2d) AS sxy2, sum(x2d * x2d) AS sxx2,
             sum(yd * yd) AS syy
           FROM d)
         SELECT variable, n, round(beta, 4) AS beta, round(se, 4) AS se FROM (
           SELECT 'o_custkey' AS variable, n, sxy1 / sxx1 AS beta,
             sqrt((syy - sxy1 * sxy1 / sxx1) / (n - k - 1) / sxx1) AS se FROM f
           UNION ALL
           SELECT 'order_day', n, sxy2 / sxx2,
             sqrt((syy - sxy2 * sxy2 / sxx2) / (n - k - 1) / sxx2) FROM f)
         ORDER BY variable"""),

    Q("analyze_corrected_pvalues", (s, dir) =>
      Corrections.addCorrectedPvalues(docPvalues(s, dir))
        .select(col("doc_id"), round(col("pvalue"), 6).as("pvalue"),
          round(col("pvalue_bonferroni"), 6).as("pvalue_bonferroni"),
          round(col("pvalue_fdr"), 6).as("pvalue_fdr"))
        .orderBy("doc_id"),
      () => """WITH p AS (SELECT doc_id, (doc_id * 37 % 100 + 1) / 101.0 AS pvalue
                    FROM documents WHERE doc_id < 200),
         r AS (SELECT doc_id, pvalue,
                 count(*) OVER () AS m,
                 row_number() OVER (ORDER BY pvalue, doc_id) AS rk FROM p),
         f AS (SELECT doc_id, pvalue, least(pvalue * m, 1.0) AS bonf,
                 least(min(pvalue * m / rk) OVER (ORDER BY rk
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 1.0) AS fdr
               FROM r)
         SELECT doc_id, round(pvalue, 6) AS pvalue, round(bonf, 6) AS pvalue_bonferroni,
           round(fdr, 6) AS pvalue_fdr
         FROM f ORDER BY doc_id""", dualPath = true),

    Q("analyze_top_results", (s, dir) =>
      docPvalues(s, dir)
        .orderBy(col("pvalue"), col("doc_id")).limit(10)
        .select(col("doc_id"), round(col("pvalue"), 6).as("pvalue")),
      () => """SELECT doc_id, round((doc_id * 37 % 100 + 1) / 101.0, 6) AS pvalue
         FROM documents WHERE doc_id < 200
         ORDER BY (doc_id * 37 % 100 + 1) / 101.0, doc_id LIMIT 10"""),

    Q("analyze_manhattan_prep", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), col("lang"),
          ((col("doc_id") * 37 % 100 + 1).cast("double") / 101.0).as("pvalue"))
      Corrections.manhattanPrep(docs, "pvalue", "lang")
        .select(col("doc_id"), col("lang"),
          round(col("neg_log_pvalue"), 6).as("neg_log_pvalue"), col("xpos"))
        .orderBy("doc_id")
    },
      () => """SELECT doc_id, lang,
           round(-log10((doc_id * 37 % 100 + 1) / 101.0), 6) AS neg_log_pvalue,
           dense_rank() OVER (ORDER BY lang) AS xpos
         FROM documents WHERE doc_id < 100 ORDER BY doc_id"""),

    Q("analyze_corrected_grouped", (s, dir) => {
      // grouped correction mode (reference: analyze/utils.py:77-117):
      // repeated tests share the group keys, the correction is computed
      // once per de-duplicated group (m = #groups, not #rows), then
      // re-joined to every original row
      val li = t(s, dir, "lineitem")
      val g = li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(avg("l_discount"), 6).as("pvalue"))
      val members = li.select(col("l_returnflag"), col("l_linestatus"),
        col("l_linenumber").as("member")).distinct()
      val base = members.join(g, Seq("l_returnflag", "l_linestatus"))
      Corrections.addCorrectedPvalues(base,
          groupby = Seq("l_returnflag", "l_linestatus"))
        .select(col("l_returnflag"), col("l_linestatus"), col("member"),
          round(col("pvalue"), 6).as("pvalue"),
          round(col("pvalue_bonferroni"), 6).as("pvalue_bonferroni"),
          round(col("pvalue_fdr"), 6).as("pvalue_fdr"))
        .orderBy("l_returnflag", "l_linestatus", "member")
    },
      () => """WITH g AS (SELECT l_returnflag, l_linestatus, round(avg(l_discount), 6) AS pvalue
                    FROM lineitem GROUP BY 1, 2),
         r AS (SELECT *, count(*) OVER () AS m,
                 row_number() OVER (ORDER BY pvalue, l_returnflag, l_linestatus) AS rk FROM g),
         f AS (SELECT l_returnflag, l_linestatus, pvalue,
                 least(pvalue * m, 1.0) AS bonf,
                 least(min(pvalue * m / rk) OVER (ORDER BY rk
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 1.0) AS fdr
               FROM r),
         mem AS (SELECT DISTINCT l_returnflag, l_linestatus, l_linenumber AS member FROM lineitem)
         SELECT mem.l_returnflag, mem.l_linestatus, mem.member,
           round(f.pvalue, 6) AS pvalue, round(f.bonf, 6) AS pvalue_bonferroni,
           round(f.fdr, 6) AS pvalue_fdr
         FROM mem JOIN f USING (l_returnflag, l_linestatus)
         ORDER BY 1, 2, 3""", dualPath = true),

    Q("analyze_get_significant", (s, dir) => {
      // significance filter over corrected results (reference:
      // cli/commands/analyze.py:299-324); a planted 0.001 factor on every
      // 10th doc gives the FDR pass a clear margin on both sides of the
      // cutoff (tiny group fdr ~0.01, rest ~0.99 — no boundary floats)
      val p = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          (((col("doc_id") * 37 % 100 + 1).cast("double") / 101.0) *
            when(col("doc_id") % 10 === 0, 0.001).otherwise(1.0)).as("pvalue"))
      Corrections.getSignificant(Corrections.addCorrectedPvalues(p), cutoff = 0.05)
        .select(col("doc_id"), round(col("pvalue"), 8).as("pvalue"),
          round(col("pvalue_fdr"), 6).as("pvalue_fdr"))
        .orderBy("doc_id")
    },
      () => """WITH p AS (SELECT doc_id,
                 ((doc_id * 37 % 100 + 1) / 101.0) *
                   (CASE WHEN doc_id % 10 = 0 THEN 0.001 ELSE 1.0 END) AS pvalue
               FROM documents WHERE doc_id < 200),
         r AS (SELECT doc_id, pvalue, count(*) OVER () AS m,
                 row_number() OVER (ORDER BY pvalue, doc_id) AS rk FROM p),
         f AS (SELECT doc_id, pvalue,
                 least(min(pvalue * m / rk) OVER (ORDER BY rk
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 1.0) AS fdr
               FROM r)
         SELECT doc_id, round(pvalue, 8) AS pvalue, round(fdr, 6) AS pvalue_fdr
         FROM f WHERE fdr <= 0.05 ORDER BY doc_id""", dualPath = true),

    Q("analyze_interaction_pair", (s, dir) => {
      // InteractionStudy LRT (reference: interaction_regression.py:22-501):
      // gaussian outcome, three continuous pairs — full model
      // y ~ 1 + v1 + v2 + v1:v2 vs restricted without the product term,
      // lrstat = -2*(llf_r - llf_f) with estimated (Pearson) scale. The
      // oracle replays the 4-parameter normal equations in DuckDB via
      // sequential Gram-Schmidt orthogonalization: by Frisch-Waugh-Lovell
      // the slope of the LAST orthogonalized regressor IS the full-model
      // interaction beta, and the per-stage projection drops give both RSS
      // values in closed form (see interactionPairArm)
      val cf = CladeFrame(t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_quantity", "l_discount", "l_tax"),
        "l_orderkey")
      InteractionStudy.run(s, cf, outcome = "l_extendedprice",
        interactions = Seq(("l_quantity", "l_discount"), ("l_quantity", "l_tax"),
          ("l_discount", "l_tax")), minN = 1)
        .select(col("Term1").as("term1"), col("Term2").as("term2"),
          col("N").as("n"),
          sig6(col("Beta")).as("beta"), sig6(col("SE")).as("se"),
          round(col("LRT_pvalue"), 6).as("lrt_pvalue"))
        .orderBy("term1", "term2")
    },
      () => interactionPairOracle),

    Q("analyze_interaction_betas", (s, dir) => {
      // report_betas mode (reference: interaction_regression.py:255-295):
      // one row per interaction design column carrying the REDUCED-model
      // coefficients and the FULL-model var1/var2/interaction coefficients.
      // Oracle: explicit Cramer's-rule solve of the 3-predictor normal
      // equations on centered moments (betas + SEs + estimated-scale LRT);
      // the t-based per-coefficient p-values stay golden-tested only
      val cf = CladeFrame(t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_quantity", "l_discount"),
        "l_orderkey")
      InteractionStudy.run(s, cf, outcome = "l_extendedprice",
        interactions = Seq(("l_quantity", "l_discount")), minN = 1,
        reportBetas = true)
        .select(col("Term1").as("term1"), col("Term2").as("term2"),
          col("Parameter").as("parameter"), col("N").as("n"),
          round(col("LRT_pvalue"), 6).as("lrt_pvalue"),
          sig6(col("Red_Var1_beta")).as("red_v1_beta"),
          sig6(col("Red_Var1_SE")).as("red_v1_se"),
          sig6(col("Red_Var2_beta")).as("red_v2_beta"),
          sig6(col("Red_Var2_SE")).as("red_v2_se"),
          sig6(col("Full_Var1_Var2_beta")).as("full_inter_beta"),
          sig6(col("Full_Var1_Var2_SE")).as("full_inter_se"),
          sig6(col("Full_Var1_beta")).as("full_v1_beta"),
          sig6(col("Full_Var1_SE")).as("full_v1_se"),
          sig6(col("Full_Var2_beta")).as("full_v2_beta"),
          sig6(col("Full_Var2_SE")).as("full_v2_se"))
    },
      () => interactionBetasOracle),

    Q("analyze_interaction_allpairs", (s, dir) => {
      // EWAS-shaped ALL-PAIRS interaction scan: 10 derived continuous
      // variables -> allPairs = 45 pair models (90 OLS fits), ALL from ONE
      // sufficient-stats treeAggregate scan (the aggregated fast path —
      // nothing row-scale anywhere). The oracle replays every pair with
      // the same Gram-Schmidt arms as analyze_interaction_pair, over the
      // vars' defining SQL expressions
      val base = t(s, dir, "lineitem")
      val withVars = interScanVars.foldLeft(base) { case (d, (name, ex)) =>
        d.withColumn(name, expr(ex))
      }
      val cf = CladeFrame(withVars.select(
        (Seq("l_orderkey", "l_extendedprice") ++ interScanVars.map(_._1)).map(col): _*),
        "l_orderkey")
      InteractionStudy.run(s, cf, outcome = "l_extendedprice",
        interactions = InteractionStudy.allPairs(cf, "l_extendedprice"), minN = 1)
        .select(col("Term1").as("term1"), col("Term2").as("term2"),
          col("N").as("n"),
          sig6(col("Beta")).as("beta"), sig6(col("SE")).as("se"),
          round(col("LRT_pvalue"), 6).as("lrt_pvalue"))
        .orderBy("term1", "term2")
    },
      () => interactionAllPairsOracle),

    Q("analyze_interaction_categorical", (s, dir) => {
      // categorical × continuous interaction (patsy level crossings,
      // reference: interaction_regression.py:308-314): full model
      // y ~ 1 + C + x + C:x spans exactly one (intercept, slope) line PER
      // LEVEL, so the oracle computes RSS_full as the sum of per-level
      // simple-regression residuals (grouped regr_* aggregates) and
      // RSS_restricted by the ANCOVA common-slope identity — no matrix
      // solve needed; lrdf = 2 makes chi2_sf(x,2) = exp(-x/2) SQL-exact
      var cf = CladeFrame(t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_quantity", "l_returnflag"),
        "l_orderkey")
      // makeCategorical DECLARES the level set, which routes this through
      // the one-scan sufficient-stats path (patsy submatrix selection)
      cf = Modify.makeCategorical(cf, only = Some(Seq("l_returnflag")))
      InteractionStudy.run(s, cf, outcome = "l_extendedprice",
        interactions = Seq(("l_returnflag", "l_quantity")), minN = 1)
        .select(col("Term1").as("term1"), col("Term2").as("term2"),
          col("N").as("n"), round(col("LRT_pvalue"), 6).as("lrt_pvalue"))
    },
      // full model = per-level (intercept, slope) lines -> RSS_f is the sum
      // of grouped simple-regression residuals; restricted = ANCOVA common
      // slope: RSS_r = sum(Syy_g) - (sum(Sxy_g))^2 / sum(Sxx_g). lrstat
      // mirrors Glm.fitGaussian's estimated-scale llf with p_r=4, p_f=6
      // (intercept + 2 dummies + slope [+ 2 slope crossings]); lrdf=2 so
      // chi2_sf = exp(-lr/2) exactly
      () => """WITH g AS (SELECT l_returnflag AS lvl, count(*) AS n_g,
             regr_sxx(CAST(l_extendedprice AS DOUBLE), CAST(l_quantity AS DOUBLE)) AS sxx,
             regr_sxy(CAST(l_extendedprice AS DOUBLE), CAST(l_quantity AS DOUBLE)) AS sxy,
             regr_syy(CAST(l_extendedprice AS DOUBLE), CAST(l_quantity AS DOUBLE)) AS syy
           FROM lineitem GROUP BY 1),
         t AS (SELECT sum(n_g) AS n,
             sum(syy) - sum(sxy)*sum(sxy)/sum(sxx) AS rss_r,
             sum(syy - sxy*sxy/sxx) AS rss_f FROM g),
         l AS (SELECT n, 2.0 + n * ln((rss_r / (n - 4)) * (n - 6) / rss_f) AS lr FROM t)
         SELECT 'l_returnflag' AS term1, 'l_quantity' AS term2,
           CAST(n AS BIGINT) AS n,
           round(CASE WHEN lr <= 0 THEN 1.0 ELSE exp(-lr / 2) END, 6) AS lrt_pvalue
         FROM l"""),

    Q("survey_design_aggs", (s, dir) =>
      t(s, dir, "orders")
        .withColumn("clust", col("o_custkey") % 20)
        .groupBy(col("o_orderpriority").as("strat"))
        .agg(countDistinct("clust").as("n_clusters"),
          count(lit(1)).as("n_rows"),
          round(avg("o_totalprice"), 4).as("avg_weight"))
        .orderBy("strat"),
      () => """SELECT o_orderpriority AS strat, count(DISTINCT o_custkey % 20) AS n_clusters,
         count(*) AS n_rows, round(avg(o_totalprice), 4) AS avg_weight
         FROM orders GROUP BY 1 ORDER BY 1"""),

    Q("genotype_ld", (s, dir) => {
      // linkage-disequilibrium screen: pairwise r² between SNP dosages
      // (alt-allele counts) — ONE aggregation computes every pair's corr;
      // the genotype-aware twin of describe_correlations
      val li = t(s, dir, "lineitem")
      val d = li.select(
        ((col("l_linenumber") % 2) + (col("l_suppkey") % 2)).cast("double").as("s1"),
        ((col("l_partkey") % 2) + (col("l_orderkey") % 2)).cast("double").as("s2"),
        (when(col("l_orderkey") % 3 === 0, 1).otherwise(0)
          + when(col("l_suppkey") % 3 === 0, 1).otherwise(0)).cast("double").as("s3"))
      d.agg(
        round(pow(corr(col("s1"), col("s2")), 2), 6).as("r2_s1_s2"),
        round(pow(corr(col("s1"), col("s3")), 2), 6).as("r2_s1_s3"),
        round(pow(corr(col("s2"), col("s3")), 2), 6).as("r2_s2_s3"))
    },
      () => """WITH d AS (SELECT
             CAST((l_linenumber % 2) + (l_suppkey % 2) AS DOUBLE) AS s1,
             CAST((l_partkey % 2) + (l_orderkey % 2) AS DOUBLE) AS s2,
             CAST((CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE 0 END)
               + (CASE WHEN l_suppkey % 3 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS s3
           FROM lineitem)
         SELECT round(pow(corr(s1, s2), 2), 6) AS r2_s1_s2,
           round(pow(corr(s1, s3), 2), 6) AS r2_s1_s3,
           round(pow(corr(s2, s3), 2), 6) AS r2_s2_s3
         FROM d"""),

    Q("genotype_maf_describe", (s, dir) => {
      // diploid calls synthesized deterministically from lineitem ints ->
      // Genotypes.describeMaf (ONE stack melt + ONE grouped aggregation);
      // DuckDB replays the identical alt-count arithmetic
      val li = t(s, dir, "lineitem")
      val calls = li.select(
        xxhash64(li.columns.map(col): _*).as("id"),
        array((col("l_linenumber") % 2).cast("int"),
          (col("l_suppkey") % 2).cast("int")).as("g1"),
        array((col("l_partkey") % 2).cast("int"),
          (col("l_orderkey") % 2).cast("int")).as("g2"))
      val cf = CladeFrame(calls).withTypes(Map(
        "g1" -> (graft.model.VariableType.Genotype: graft.model.VariableType),
        "g2" -> (graft.model.VariableType.Genotype: graft.model.VariableType)))
      graft.genomics.Genotypes.describeMaf(cf)
        .select(col("variable"), col("n_obs"), col("n_hom_ref"), col("n_het"),
          col("n_hom_alt"), col("n_missing"),
          round(col("alt_freq"), 6).as("alt_freq"), round(col("maf"), 6).as("maf"))
        .orderBy("variable")
    },
      () => """WITH melted AS (
           SELECT 'g1' AS variable, (l_linenumber % 2) + (l_suppkey % 2) AS ac FROM lineitem
           UNION ALL
           SELECT 'g2' AS variable, (l_partkey % 2) + (l_orderkey % 2) AS ac FROM lineitem)
         SELECT variable,
           CAST(count(ac) AS BIGINT) AS n_obs,
           CAST(sum(CASE WHEN ac = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_ref,
           CAST(sum(CASE WHEN ac = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het,
           CAST(sum(CASE WHEN ac = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_alt,
           CAST(0 AS BIGINT) AS n_missing,
           round(sum(ac) / (2.0 * count(ac)), 6) AS alt_freq,
           round(least(sum(ac) / (2.0 * count(ac)), 1 - sum(ac) / (2.0 * count(ac))), 6) AS maf
         FROM melted GROUP BY variable ORDER BY variable"""),

    Q("genotype_hwe", (s, dir) => {
      // Hardy-Weinberg QC on the same synthesized diploid calls as the MAF
      // describe; chi2 + A-S erfc p-value replay exactly in SQL
      val li = t(s, dir, "lineitem")
      val calls = li.select(
        xxhash64(li.columns.map(col): _*).as("id"),
        array((col("l_linenumber") % 2).cast("int"),
          (col("l_suppkey") % 2).cast("int")).as("g1"),
        array((col("l_partkey") % 2).cast("int"),
          (col("l_orderkey") % 2).cast("int")).as("g2"))
      val cf = CladeFrame(calls).withTypes(Map(
        "g1" -> (graft.model.VariableType.Genotype: graft.model.VariableType),
        "g2" -> (graft.model.VariableType.Genotype: graft.model.VariableType)))
      graft.genomics.Genotypes.hweTest(cf)
        .select(col("variable"), col("n_obs"), col("n_hom_ref"), col("n_het"),
          col("n_hom_alt"), round(col("alt_freq"), 6).as("alt_freq"),
          round(col("hwe_chi2"), 6).as("hwe_chi2"),
          round(col("hwe_p"), 6).as("hwe_p"), col("hwe_fail"))
        .orderBy("variable")
    },
      // replays hweTest's arithmetic left-to-right: expected counts from
      // the observed allele frequency, 1-df chi2, A-S 7.1.26 erfc p-value
      () => """WITH melted AS (
           SELECT 'g1' AS variable, (l_linenumber % 2) + (l_suppkey % 2) AS ac FROM lineitem
           UNION ALL
           SELECT 'g2' AS variable, (l_partkey % 2) + (l_orderkey % 2) AS ac FROM lineitem),
         c AS (SELECT variable,
             CAST(count(ac) AS BIGINT) AS n_obs,
             CAST(sum(CASE WHEN ac = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_ref,
             CAST(sum(CASE WHEN ac = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het,
             CAST(sum(CASE WHEN ac = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_alt,
             sum(ac) AS aa
           FROM melted GROUP BY 1),
         s AS (SELECT *, CAST(aa AS DOUBLE) / (2.0 * CAST(n_obs AS DOUBLE)) AS p FROM c),
         x AS (SELECT *, 1.0 - p AS q FROM s),
         ch AS (SELECT *,
             (CAST(n_hom_ref AS DOUBLE) - CAST(n_obs AS DOUBLE) * q * q)
               * (CAST(n_hom_ref AS DOUBLE) - CAST(n_obs AS DOUBLE) * q * q)
               / (CAST(n_obs AS DOUBLE) * q * q)
           + (CAST(n_het AS DOUBLE) - 2.0 * CAST(n_obs AS DOUBLE) * p * q)
               * (CAST(n_het AS DOUBLE) - 2.0 * CAST(n_obs AS DOUBLE) * p * q)
               / (2.0 * CAST(n_obs AS DOUBLE) * p * q)
           + (CAST(n_hom_alt AS DOUBLE) - CAST(n_obs AS DOUBLE) * p * p)
               * (CAST(n_hom_alt AS DOUBLE) - CAST(n_obs AS DOUBLE) * p * p)
               / (CAST(n_obs AS DOUBLE) * p * p) AS chi2
           FROM x),
         z AS (SELECT *, sqrt(chi2 / 2.0) AS zz FROM ch),
         tp AS (SELECT *, 1.0 / (1.0 + 0.3275911 * zz) AS tt FROM z),
         pv AS (SELECT *, tt * (0.254829592 + tt * (-0.284496736 + tt * (1.421413741
             + tt * (-1.453152027 + tt * 1.061405429)))) * exp(-zz * zz) AS hp FROM tp)
         SELECT variable, n_obs, n_hom_ref, n_het, n_hom_alt,
           round(p, 6) AS alt_freq, round(chi2, 6) AS hwe_chi2,
           round(hp, 6) AS hwe_p, hp < 1e-6 AS hwe_fail
         FROM pv ORDER BY variable"""))

  /** Deterministic synthetic p-values over documents (both engines compute
    * the identical integer expression). */
  private def docPvalues(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"),
        ((col("doc_id") * 37 % 100 + 1).cast("double") / 101.0).as("pvalue"))

  /** 32 deterministic derived variables over lineitem — identical SQL in
    * Spark and DuckDB (integer modulo + double arithmetic only). */
  private val wideVars: Seq[(String, String)] = (0 until 32).map { i =>
    (f"wv$i%02d",
      s"l_quantity * ((l_partkey % ${i + 2}) + 1) + l_tax * $i + l_discount * ${i % 7}")
  }

  private def wideOracle: String = {
    val arms = wideVars.map { case (name, ex) =>
      s"""SELECT '$name' AS variable, CAST(regr_count(l_extendedprice, $ex) AS BIGINT) AS n,
         round(regr_slope(l_extendedprice, $ex), 4) AS beta,
         round(sqrt((regr_syy(l_extendedprice, $ex)
                 - regr_sxy(l_extendedprice, $ex)^2 / regr_sxx(l_extendedprice, $ex))
               / (regr_count(l_extendedprice, $ex) - 2)
               / regr_sxx(l_extendedprice, $ex)), 4) AS se FROM lineitem"""
    }
    arms.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY variable")
  }

  /** One UNION-ALL arm of the interaction oracle: full-vs-restricted OLS
    * for y ~ 1 + x1 + x2 + x1*x2 replayed via sequential Gram-Schmidt.
    * Center everything (eliminates the intercept), then z2 = c2 − proj(c2
    * on c1), z3 = c3 − proj(c3 on c1, z2). By Frisch–Waugh–Lovell,
    * beta(x1:x2) = Σz3·cy / Σz3², SE = sqrt(RSS_f/(n−4)/Σz3²), and each
    * orthogonal stage's squared-projection drop yields RSS_restricted /
    * RSS_full in closed form. lrstat mirrors Glm.fitGaussian's estimated-
    * scale llf: 1 + n·ln((RSS_r/(n−3))·(n−4)/RSS_f); p = chi2_sf(·,1)
    * = erfc(sqrt(lr/2)) via the Cody replay. */
  private def interactionPairArm(x1: String, x2: String): String =
    interactionPairArm(x1, x1, x2, x2)

  /** Arm over DERIVED variables: `e1`/`e2` are the defining SQL
    * expressions, `n1`/`n2` the reported term names. */
  private def interactionPairArm(n1: String, e1: String,
                                 n2: String, e2: String): String = {
    val (x1, x2) = (e1, e2)
    val lr = "(1.0 + n * ln((rss_r / (n - 3)) * (n - 4) / rss_f))"
    s"""SELECT '$n1' AS term1, '$n2' AS term2, CAST(n AS BIGINT) AS n,
       |  ${sqlSig6("beta3")} AS beta,
       |  ${sqlSig6("sqrt(rss_f / (n - 4) / s33)")} AS se,
       |  round(CASE WHEN $lr <= 0 THEN 1.0
       |        ELSE ${sqlErfc(s"sqrt($lr / 2)")} END, 6) AS lrt_pvalue
       |FROM (
       |  WITH b AS (SELECT CAST($x1 AS DOUBLE) AS x1, CAST($x2 AS DOUBLE) AS x2,
       |               CAST($x1 AS DOUBLE) * CAST($x2 AS DOUBLE) AS x3,
       |               CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem),
       |  m AS (SELECT count(*) AS n, avg(x1) AS m1, avg(x2) AS m2,
       |               avg(x3) AS m3, avg(y) AS my FROM b),
       |  c AS (SELECT x1 - m1 AS c1, x2 - m2 AS c2, x3 - m3 AS c3, y - my AS cy
       |        FROM b CROSS JOIN m),
       |  g1 AS (SELECT sum(c1*c1) AS s11, sum(c1*c2) AS s12, sum(c1*c3) AS s13,
       |                sum(c1*cy) AS s1y FROM c),
       |  z2t AS (SELECT c.*, c2 - (s12/s11)*c1 AS z2 FROM c CROSS JOIN g1),
       |  g2 AS (SELECT sum(z2*z2) AS s22, sum(z2*c3) AS s23, sum(z2*cy) AS s2y FROM z2t),
       |  z3t AS (SELECT z2t.*, c3 - (s13/s11)*c1 - (s23/s22)*z2 AS z3
       |          FROM z2t CROSS JOIN g1 CROSS JOIN g2),
       |  g3 AS (SELECT sum(z3*z3) AS s33, sum(z3*cy) AS s3y FROM z3t),
       |  gy AS (SELECT sum(cy*cy) AS syy FROM c)
       |  SELECT n, s33, s3y/s33 AS beta3,
       |    syy - s1y*s1y/s11 - s2y*s2y/s22 AS rss_r,
       |    syy - s1y*s1y/s11 - s2y*s2y/s22 - s3y*s3y/s33 AS rss_f
       |  FROM m CROSS JOIN g1 CROSS JOIN g2 CROSS JOIN g3 CROSS JOIN gy
       |)""".stripMargin
  }

  /** report_betas oracle: explicit Cramer's-rule solve of the centered
    * 3-predictor normal equations (y ~ x1 + x2 + x1·x2) — full-model
    * betas/SEs from cofactor diagonals, reduced-model (2-predictor) betas
    * in closed form, LRT from the two RSS values with estimated scale. */
  private def interactionBetasOracle: String = {
    val lr = "(1.0 + n * ln((rss_r / (n - 3)) * (n - 4) / rss_f))"
    s"""WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS x1,
       |             CAST(l_discount AS DOUBLE) AS x2,
       |             CAST(l_quantity AS DOUBLE) * CAST(l_discount AS DOUBLE) AS x3,
       |             CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem),
       |m AS (SELECT count(*) AS n, avg(x1) AS m1, avg(x2) AS m2,
       |             avg(x3) AS m3, avg(y) AS my FROM b),
       |c AS (SELECT x1 - m1 AS c1, x2 - m2 AS c2, x3 - m3 AS c3, y - my AS cy
       |      FROM b CROSS JOIN m),
       |g AS (SELECT sum(c1*c1) AS s11, sum(c1*c2) AS s12, sum(c1*c3) AS s13,
       |             sum(c2*c2) AS s22, sum(c2*c3) AS s23, sum(c3*c3) AS s33,
       |             sum(c1*cy) AS s1y, sum(c2*cy) AS s2y, sum(c3*cy) AS s3y,
       |             sum(cy*cy) AS syy FROM c),
       |d AS (SELECT n, s11, s12, s22, s1y, s2y, s3y, syy,
       |        s11*(s22*s33 - s23*s23) - s12*(s12*s33 - s23*s13)
       |          + s13*(s12*s23 - s22*s13) AS det,
       |        s22*s33 - s23*s23 AS c11, s11*s33 - s13*s13 AS c22,
       |        s11*s22 - s12*s12 AS c33,
       |        s1y*(s22*s33 - s23*s23) - s12*(s2y*s33 - s23*s3y)
       |          + s13*(s2y*s23 - s22*s3y) AS d1,
       |        s11*(s2y*s33 - s23*s3y) - s1y*(s12*s33 - s23*s13)
       |          + s13*(s12*s3y - s2y*s13) AS d2,
       |        s11*(s22*s3y - s2y*s23) - s12*(s12*s3y - s2y*s13)
       |          + s1y*(s12*s23 - s22*s13) AS d3
       |      FROM m CROSS JOIN g),
       |f AS (SELECT *, d1/det AS b1, d2/det AS b2, d3/det AS b3 FROM d),
       |r AS (SELECT *, syy - b1*s1y - b2*s2y - b3*s3y AS rss_f,
       |        (s1y*s22 - s12*s2y) / c33 AS rb1,
       |        (s11*s2y - s12*s1y) / c33 AS rb2 FROM f),
       |fin AS (SELECT *, syy - rb1*s1y - rb2*s2y AS rss_r FROM r)
       |SELECT 'l_quantity' AS term1, 'l_discount' AS term2,
       |  'l_quantity:l_discount' AS parameter, CAST(n AS BIGINT) AS n,
       |  round(CASE WHEN $lr <= 0 THEN 1.0
       |        ELSE ${sqlErfc(s"sqrt($lr / 2)")} END, 6) AS lrt_pvalue,
       |  ${sqlSig6("rb1")} AS red_v1_beta,
       |  ${sqlSig6("sqrt(rss_r / (n - 3) * s22 / c33)")} AS red_v1_se,
       |  ${sqlSig6("rb2")} AS red_v2_beta,
       |  ${sqlSig6("sqrt(rss_r / (n - 3) * s11 / c33)")} AS red_v2_se,
       |  ${sqlSig6("b3")} AS full_inter_beta,
       |  ${sqlSig6("sqrt(rss_f / (n - 4) * c33 / det)")} AS full_inter_se,
       |  ${sqlSig6("b1")} AS full_v1_beta,
       |  ${sqlSig6("sqrt(rss_f / (n - 4) * c11 / det)")} AS full_v1_se,
       |  ${sqlSig6("b2")} AS full_v2_beta,
       |  ${sqlSig6("sqrt(rss_f / (n - 4) * c22 / det)")} AS full_v2_se
       |FROM fin""".stripMargin
  }

  private def interactionPairOracle: String =
    Seq(("l_quantity", "l_discount"), ("l_quantity", "l_tax"), ("l_discount", "l_tax"))
      .map { case (a, b) => interactionPairArm(a, b) }
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY term1, term2")

  /** 10 derived continuous variables for the all-pairs interaction scan —
    * wideVars-shaped (distinct partkey moduli keep every pair genuinely
    * non-collinear, so no fit is singular). */
  private val interScanVars: Seq[(String, String)] = (0 until 10).map { i =>
    (f"iv$i%02d",
      s"l_quantity * ((l_partkey % ${i + 2}) + 1) + l_tax * ${i + 1} + l_discount * ${i % 5 + 1}")
  }

  private def interactionAllPairsOracle: String = {
    val arms = for {
      i <- interScanVars.indices; j <- (i + 1) until interScanVars.size
    } yield interactionPairArm(
      interScanVars(i)._1, interScanVars(i)._2,
      interScanVars(j)._1, interScanVars(j)._2)
    arms.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY term1, term2")
  }

  // ------------------------------------------ logistic IRLS SQL replay
  // DuckDB replay of the Glm.fitBinomial kernel for the 2-parameter
  // (intercept + one continuous rv) logistic fits of analyze_assoc_logistic:
  // the 2×2 weighted normal equations solve in closed form, so each IRLS
  // iteration is one aggregation pass, unrolled to 8 iterations with the
  // engine's exact statsmodels init (mu = (y+0.5)/2) and deviance stopping
  // rule replayed via a lag window (the FIRST iteration meeting
  // |dev_k − dev_{k−1}| ≤ 1e-8(|dev_{k−1}|+1e-8) is reported, exactly like
  // the Scala loop). p-values replay erfc via Cody's rational Chebyshev
  // approximation (≤8e-16 relative for x ≤ 4; erfc beyond 4 is < 1.6e-8 and
  // rounds to 0 at 6 decimals).
  /** Full IRLS replay for analyze_assoc_logistic (verified to hash-match
    * the engine's rounded beta/se/pvalue at sf0.001 and sf0.01). */
  private def logisticIrlsOracleSql: String =
    logisticIrlsOracleSqlFor(
      "SELECT l_quantity, l_discount, " +
        "CASE WHEN l_extendedprice > 30000 THEN 1.0 ELSE 0.0 END AS y FROM lineitem",
      Seq("l_quantity", "l_discount"))

  /** Generalized single-covariate logistic IRLS replay: `dat0Select` must
    * yield every column in `vars` (exact cross-engine doubles) plus a
    * 1.0/0.0 `y`; one unrolled IRLS chain per var with the engine's init
    * and relative-deviance stopping rule. `seDigits`/`pDigits` let
    * ill-conditioned fits round past the near-convergence spread: when
    * the deviance step at the stopping iteration sits close to the
    * tolerance, the engine's partition-order accumulation can legitimately
    * run ONE more IRLS step than the replay, and the slowest-converging
    * outputs (se, then pvalue) differ at ~1e-4 relative — rounding must
    * absorb that, not pretend bit-parity (see analyze_quality_logit). */
  private def logisticIrlsOracleSqlFor(dat0Select: String, vars: Seq[String],
                                       seDigits: Int = 4, pDigits: Int = 6): String = {
    val iters = 8
    def chain(v: String): Seq[String] = {
      val init =
        s"""i_${v}_0 AS (SELECT 2*sum(-ln(0.75)) AS dev FROM dat_$v)"""
      val steps = (1 to iters).flatMap { k =>
        val inner =
          if (k == 1)
            s"""SELECT x, y,
               |  CASE WHEN y = 1.0 THEN ln(3.0) ELSE ln(1.0/3.0) END AS eta,
               |  CASE WHEN y = 1.0 THEN 0.75 ELSE 0.25 END AS mu
               |FROM dat_$v""".stripMargin
          else
            s"""SELECT x, y, b0 + b1*x AS eta, 1.0/(1.0+exp(-(b0 + b1*x))) AS mu
               |FROM dat_$v CROSS JOIN p_${v}_${k - 1}""".stripMargin
        Seq(
          s"""s_${v}_$k AS (
             |  SELECT sum(w) AS sw, sum(w*x) AS swx, sum(w*x*x) AS swxx,
             |         sum(w*z) AS swz, sum(w*x*z) AS swxz
             |  FROM (SELECT x, y, eta, mu, greatest(mu*(1.0-mu), 1e-10) AS w,
             |               eta + (y-mu)/greatest(mu*(1.0-mu), 1e-10) AS z
             |        FROM ($inner)))""".stripMargin,
          s"""p_${v}_$k AS (
             |  SELECT (swxx*swz - swx*swxz)/(sw*swxx - swx*swx) AS b0,
             |         (sw*swxz - swx*swz)/(sw*swxx - swx*swx) AS b1,
             |         sqrt(sw/(sw*swxx - swx*swx)) AS se1
             |  FROM s_${v}_$k)""".stripMargin,
          s"""q_${v}_$k AS (
             |  SELECT b0, b1, se1,
             |    2*sum(CASE WHEN y = 1.0
             |      THEN -ln(least(greatest(1.0/(1.0+exp(-(b0 + b1*x))), 1e-10), 1.0-1e-10))
             |      ELSE -ln(least(greatest(1.0 - 1.0/(1.0+exp(-(b0 + b1*x))), 1e-10), 1.0-1e-10)) END) AS dev
             |  FROM dat_$v CROSS JOIN p_${v}_$k GROUP BY b0, b1, se1)""".stripMargin)
      }
      val unions = (Seq(s"SELECT 0 AS k, NULL AS b0, NULL AS b1, NULL AS se1, dev FROM i_${v}_0") ++
        (1 to iters).map(k => s"SELECT $k AS k, b0, b1, se1, dev FROM q_${v}_$k"))
        .mkString(" UNION ALL ")
      val track = Seq(
        s"""t_$v AS (SELECT k, b0, b1, se1, dev, lag(dev) OVER (ORDER BY k) AS pdev FROM ($unions))""",
        s"""r_$v AS (SELECT b0, b1, se1 FROM t_$v
           |  WHERE k >= 1 AND abs(dev - pdev) <= 1e-8*(abs(pdev) + 1e-8)
           |  ORDER BY k LIMIT 1)""".stripMargin)
      init +: steps :+ track.head :+ track.last
    }
    val zExpr = "(abs(b1/se1)/sqrt(2.0))"
    val ctes = vars.flatMap(v => s"dat_$v AS (SELECT $v AS x, y FROM dat0)" +: chain(v))
    val arms = vars.map { v =>
      s"""SELECT '$v' AS variable, (SELECT count(*) FROM dat_$v) AS n,
         |  round(b1, 4) AS beta, round(se1, $seDigits) AS se,
         |  round(${sqlErfc(zExpr)}, $pDigits) AS pvalue FROM r_$v""".stripMargin
    }
    s"WITH dat0 AS ($dat0Select),\n" +
      ctes.mkString(",\n") + "\n" +
      "SELECT * FROM (" + arms.mkString(" UNION ALL ") + ") ORDER BY variable"
  }
}
