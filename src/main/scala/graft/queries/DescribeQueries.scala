package graft
package queries

import org.apache.spark.sql.functions._

import graft.model.CladeFrame
import graft.modify.Modify
import graft.describe.Describe
import graft.pipeline.Text
import SparkEntry.{sig6, sqlSig6}
import Tables._

/** Describe: per-variable summaries, association and drift statistics (SURVEY §2.5). */
private[graft] object DescribeQueries {

  val all: Seq[Q] = Seq(
    Q("describe_cramers_v", (s, dir) =>
      // pairwise categorical association: ALL pair tables from one
      // grouping-sets shuffle; chi2/V algebra on the tiny aggregate
      Describe.cramersV(
          t(s, dir, "lineitem")
            .withColumn("ship_mon", month(col("l_shipdate")).cast("string")),
          Seq("l_returnflag", "l_linestatus", "ship_mon"))
        .select(col("var_a"), col("var_b"), col("n"), col("df"),
          round(col("chi2"), 6).as("chi2"),
          round(col("cramers_v"), 6).as("cramers_v"))
        .orderBy("var_a", "var_b"),
      () => {
      def pairSql(a: String, b: String): String =
        s"""SELECT '$a' AS var_a, '$b' AS var_b, n, dof AS df,
           round(chi2, 6) AS chi2,
           round(sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(mindim AS DOUBLE))), 6) AS cramers_v
         FROM (
           WITH li AS (SELECT l_returnflag, l_linestatus,
               CAST(month(l_shipdate) AS VARCHAR) AS ship_mon FROM lineitem),
           cc AS (SELECT CAST($a AS VARCHAR) AS la, CAST($b AS VARCHAR) AS lb
               FROM li
               WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
                 AND ship_mon IS NOT NULL),
           cells AS (SELECT la, lb, count(*) AS n FROM cc GROUP BY 1, 2),
           rt AS (SELECT la, sum(n) AS ra FROM cells GROUP BY 1),
           ct AS (SELECT lb, sum(n) AS cb FROM cells GROUP BY 1),
           tot AS (SELECT sum(n) AS nn FROM cells),
           f AS (SELECT rt.la, ct.lb, CAST(coalesce(cells.n, 0) AS DOUBLE) AS o,
               CAST(ra AS DOUBLE) * cb / nn AS e, nn
             FROM rt CROSS JOIN ct CROSS JOIN tot
             LEFT JOIN cells ON rt.la = cells.la AND ct.lb = cells.lb)
           SELECT CAST(max(nn) AS BIGINT) AS n,
             CAST((count(DISTINCT la) - 1) * (count(DISTINCT lb) - 1) AS BIGINT) AS dof,
             least(count(DISTINCT la) - 1, count(DISTINCT lb) - 1) AS mindim,
             sum((o - e) * (o - e) / e) AS chi2 FROM f)"""
      // pair labels follow the Spark call's column order (var_a = earlier
      // listed column), chi2/V are symmetric
      Seq(("l_returnflag", "l_linestatus"), ("l_returnflag", "ship_mon"),
        ("l_linestatus", "ship_mon"))
        .map { case (x, y) => pairSql(x, y) }
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY var_a, var_b")
    }),

    Q("describe_grouped_quantiles", (s, dir) =>
      // per-group EXACT type-7 quantiles WITHOUT an agg buffer holding any
      // group's values (r10: Spark's `percentile` aggregate buffered every
      // value of a group — the one row-scale agg buffer in the library;
      // Describe.groupedQuantiles aggregates ties, sorts the DISTINCT
      // rows, and walks out only the needed order statistics)
      Describe.groupedQuantiles(t(s, dir, "lineitem"),
          "l_extendedprice", "l_returnflag", Seq(0.5, 0.9, 0.99))
        .select(col("l_returnflag"), col("n"),
          round(element_at(col("quantiles"), 1), 6).as("p50"),
          round(element_at(col("quantiles"), 2), 6).as("p90"),
          round(element_at(col("quantiles"), 3), 6).as("p99"))
        .orderBy("l_returnflag"),
      () => """SELECT l_returnflag, count(*) AS n,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
         FROM lineitem GROUP BY 1 ORDER BY 1""", dualPath = true),

    Q("describe_quality_rules", (s, dir) =>
      // Deequ-style validation: five declarative predicates checked in ONE
      // aggregation over ONE scan (null verdicts count as failures)
      Describe.checkRules(t(s, dir, "lineitem"), Seq(
          "quantity_positive" -> (col("l_quantity") > 0),
          "discount_in_range" -> (col("l_discount") >= 0 && col("l_discount") <= 0.1),
          "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"),
          "price_not_null" -> col("l_extendedprice").isNotNull,
          "tax_lt_discount" -> (col("l_tax") < col("l_discount"))))
        .withColumn("pass_rate", round(col("pass_rate"), 6))
        .orderBy("rule"),
      () => """WITH s AS (SELECT count(*) AS n,
             sum(CASE WHEN coalesce(l_quantity > 0, false) THEN 1 ELSE 0 END) AS p0,
             sum(CASE WHEN coalesce(l_discount >= 0 AND l_discount <= 0.1, false)
                 THEN 1 ELSE 0 END) AS p1,
             sum(CASE WHEN coalesce(l_returnflag IN ('A','N','R'), false)
                 THEN 1 ELSE 0 END) AS p2,
             sum(CASE WHEN l_extendedprice IS NOT NULL THEN 1 ELSE 0 END) AS p3,
             sum(CASE WHEN coalesce(l_tax < l_discount, false)
                 THEN 1 ELSE 0 END) AS p4
           FROM lineitem),
         r AS (
           SELECT 'quantity_positive' AS rule, p0 AS passed, n FROM s
           UNION ALL SELECT 'discount_in_range', p1, n FROM s
           UNION ALL SELECT 'returnflag_domain', p2, n FROM s
           UNION ALL SELECT 'price_not_null', p3, n FROM s
           UNION ALL SELECT 'tax_lt_discount', p4, n FROM s)
         SELECT rule, n AS n_rows, CAST(passed AS BIGINT) AS passed,
           CAST(n - passed AS BIGINT) AS failed,
           round(CAST(passed AS DOUBLE) / n, 6) AS pass_rate
         FROM r ORDER BY rule"""),

    Q("describe_gini", (s, dir) =>
      // concentration per group: Gini from the rank-weighted sum identity
      // G = 2·Σi·x₍ᵢ₎/(n·Σx) − (n+1)/n; ranks from a range-partitioned
      // sort (full parallelism however few groups — a per-group window
      // collapses to #groups tasks). Tie order cannot move the sum, so
      // the SQL window replay is exact
      Describe.giniByGroup(t(s, dir, "lineitem"), "l_extendedprice",
          "l_returnflag", Seq("l_orderkey", "l_linenumber"))
        .select(col("l_returnflag"), col("n"),
          round(col("gini"), 6).as("gini"))
        .orderBy("l_returnflag"),
      () => """WITH r AS (SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS i
           FROM lineitem)
         SELECT l_returnflag, count(*) AS n,
           round(CAST(2.0 AS DOUBLE) * sum(i * l_extendedprice)
               / (count(*) * sum(l_extendedprice))
             - (count(*) + CAST(1.0 AS DOUBLE)) / count(*), 6) AS gini
         FROM r GROUP BY 1 ORDER BY 1""", dualPath = true),

    Q("describe_weighted_median", (s, dir) =>
      // survey-weighted median per group (value where cumulative weight
      // crosses half the total): RANGE-frame windows make ties share one
      // cumulative weight, and integer-valued double weights sum EXACTLY,
      // so the crossing is deterministic in any engine
      Describe.weightedQuantile(t(s, dir, "lineitem"),
          "l_extendedprice", "l_quantity", Seq("l_returnflag"), q = 0.5)
        .select(col("l_returnflag"),
          round(col("weighted_quantile"), 4).as("weighted_median"),
          round(col("total_weight"), 2).as("total_weight"))
        .orderBy("l_returnflag"),
      () => """WITH b AS (SELECT l_returnflag, l_extendedprice,
             sum(l_quantity) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL)
         SELECT l_returnflag,
           round(min(l_extendedprice), 4) AS weighted_median,
           round(max(tw), 2) AS total_weight
         FROM b WHERE cw >= tw * 0.5
         GROUP BY 1 ORDER BY 1""", dualPath = true),

    Q("describe_bootstrap_ci", (s, dir) =>
      // Poisson-bootstrap CI for the mean: 50 resamples in ONE pass via
      // deterministic hash weights (exact hex-threshold compare, no float
      // conversion); shuffle carries replica partial sums only
      Describe.bootstrapCI(t(s, dir, "lineitem"), "l_extendedprice",
          concat_ws("_", col("l_orderkey"), col("l_linenumber")), replicas = 50)
        .select(col("n"), round(col("mean"), 4).as("mean"),
          round(col("se_boot"), 4).as("se_boot"),
          round(col("ci_lo"), 4).as("ci_lo"),
          round(col("ci_p50"), 4).as("ci_p50"),
          round(col("ci_hi"), 4).as("ci_hi")),
      () => """WITH s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x,
             (('0x' || substr(md5(concat(CAST(l_orderkey AS VARCHAR), '_',
                 CAST(l_linenumber AS VARCHAR))), 1, 12))::BIGINT)
               % 2147483647 AS h
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         e AS (SELECT x, h, g.r FROM s CROSS JOIN
               (SELECT unnest(generate_series(0, 49)) AS r) g),
         w AS (SELECT r, x,
             CASE WHEN u < 790015083 THEN 0
                  WHEN u < 1580030167 THEN 1
                  WHEN u < 1975037709 THEN 2
                  WHEN u < 2106706890 THEN 3
                  WHEN u < 2139624185 THEN 4
                  WHEN u < 2146207644 THEN 5
                  ELSE 6 END AS wt
           FROM (SELECT x, r,
                   (((r * 2654435761 + 1) % 2147483647) * h
                     + (r * 40503 + 7) % 2147483647) % 2147483647 AS u
                 FROM e)),
         m AS (SELECT r, sum(wt * x) / sum(wt) AS mm FROM w GROUP BY r),
         ci AS (SELECT stddev_samp(mm) AS se_boot,
                quantile_cont(mm, [0.025, 0.5, 0.975]) AS q FROM m),
         b AS (SELECT count(*) AS n, avg(x) AS mean FROM s)
         SELECT n, round(mean, 4) AS mean, round(se_boot, 4) AS se_boot,
           round(q[1], 4) AS ci_lo, round(q[2], 4) AS ci_p50,
           round(q[3], 4) AS ci_hi
         FROM b, ci"""),

    Q("describe_entropy", (s, dir) =>
      // per-column Shannon entropy over level counts: exact count algebra
      // (H = ln N − Σ n ln n / N), second aggregation is O(#levels)
      Describe.entropy(t(s, dir, "orders"),
          Seq("o_orderstatus", "o_orderpriority"))
        .select(col("variable"), col("n_levels"), col("total"),
          round(col("entropy_nats"), 6).as("entropy_nats"))
        .orderBy("variable"),
      () => """WITH m AS (
           SELECT 'o_orderstatus' AS variable, CAST(o_orderstatus AS VARCHAR) AS value FROM orders
           UNION ALL SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders),
         c AS (SELECT variable, value, count(*) AS n FROM m
               WHERE value IS NOT NULL GROUP BY 1, 2)
         SELECT variable, count(*) AS n_levels, CAST(sum(n) AS BIGINT) AS total,
           round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy_nats
         FROM c GROUP BY 1 ORDER BY 1"""),

    Q("describe_skew_report", (s, dir) =>
      // pre-join heavy-hitter diagnostic: one map-side-combined groupBy
      // + O(#distinct) stats; top-k via TakeOrderedAndProject
      Describe.skewReport(t(s, dir, "events"), "event_type", topK = 5)
        .select(col("key"), col("cnt"), col("total_rows"), col("n_keys"),
          round(col("share"), 6).as("share"),
          round(col("skew_ratio"), 6).as("skew_ratio"))
        .orderBy(col("cnt").desc, col("key").asc_nulls_first),
      () => """WITH c AS (SELECT CAST(event_type AS VARCHAR) AS key, count(*) AS cnt
                    FROM events GROUP BY 1),
         s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
                 count(*) AS n_keys, max(cnt) AS max_cnt FROM c),
         t AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key ASC NULLS FIRST LIMIT 5)
         SELECT key, cnt, total_rows, n_keys,
           round(CAST(cnt AS DOUBLE) / total_rows, 6) AS share,
           round(CAST(max_cnt AS DOUBLE) * n_keys / total_rows, 6) AS skew_ratio
         FROM t, s ORDER BY cnt DESC, key ASC NULLS FIRST"""),

    Q("describe_mutual_info", (s, dir) =>
      // pairwise MI + normalized MI from the same one-shuffle
      // grouping-sets machinery as cramers_v; only observed cells summed
      Describe.mutualInfo(
          t(s, dir, "lineitem")
            .withColumn("ship_mon", month(col("l_shipdate")).cast("string")),
          Seq("l_returnflag", "l_linestatus", "ship_mon"))
        .select(col("var_a"), col("var_b"), col("n"),
          round(col("mi"), 6).as("mi"), round(col("nmi"), 6).as("nmi"))
        .orderBy("var_a", "var_b"),
      () => {
      def pairSql(a: String, b: String): String =
        s"""SELECT '$a' AS var_a, '$b' AS var_b, n,
           round(mi, 6) AS mi, round(nmi, 6) AS nmi
         FROM (
           WITH li AS (SELECT l_returnflag, l_linestatus,
               CAST(month(l_shipdate) AS VARCHAR) AS ship_mon FROM lineitem),
           cc AS (SELECT CAST($a AS VARCHAR) AS la, CAST($b AS VARCHAR) AS lb
               FROM li
               WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
                 AND ship_mon IS NOT NULL),
           cells AS (SELECT la, lb, count(*) AS n FROM cc GROUP BY 1, 2),
           rt AS (SELECT la, sum(n) AS ra FROM cells GROUP BY 1),
           ct AS (SELECT lb, sum(n) AS cb FROM cells GROUP BY 1),
           tot AS (SELECT sum(n) AS nn FROM cells),
           m AS (SELECT CAST(max(nn) AS BIGINT) AS n,
               sum((CAST(cells.n AS DOUBLE) / nn) *
                   ln(CAST(cells.n AS DOUBLE) * nn / (CAST(ra AS DOUBLE) * cb))) AS mi
             FROM cells JOIN rt USING (la) JOIN ct USING (lb) CROSS JOIN tot),
           h1 AS (SELECT sum(-(CAST(ra AS DOUBLE) / nn) * ln(CAST(ra AS DOUBLE) / nn)) AS ha
                  FROM rt CROSS JOIN tot),
           h2 AS (SELECT sum(-(CAST(cb AS DOUBLE) / nn) * ln(CAST(cb AS DOUBLE) / nn)) AS hb
                  FROM ct CROSS JOIN tot)
           SELECT m.n, m.mi,
             CASE WHEN ha > 0 AND hb > 0 THEN m.mi / sqrt(ha * hb) ELSE 0.0 END AS nmi
           FROM m CROSS JOIN h1 CROSS JOIN h2)"""
      Seq(("l_returnflag", "l_linestatus"), ("l_returnflag", "ship_mon"),
        ("l_linestatus", "ship_mon")).map { case (x, y) => pairSql(x, y) }
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY var_a, var_b")
    }),

    Q("describe_merge_distinct", (s, dir) => {
      // mergeable cardinality: per-half HLL sketches union into the
      // whole-data estimate; the estimate is approximate BY CONTRACT so
      // it surfaces as a deterministic in-bounds boolean against the
      // exact count (the summarize_approx pattern). Bound widened to 8%
      // ≈ 4.9 sigma at lgK=12 (1.04/sqrt(4096) ≈ 1.6% per sigma; ADVICE
      // r11: the old 5% was only ~3 sigma — a legitimate tail deviation
      // at an untested SF or future datasketches version would have
      // surfaced as an oracle hash mismatch)
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
      val merged = Describe.mergeDistinctSketches(
        Describe.distinctSketches(li.filter(col("l_orderkey") % 2 === 0), cols),
        Describe.distinctSketches(li.filter(col("l_orderkey") % 2 =!= 0), cols))
      // exact branch melts the RAW longs (no string cast): the cast
      // tripled the shuffle/hash bytes and was the whole ×16 tail at
      // sfx10 (isolated probe: 34.2 s string vs 11.1 s long for the
      // branch; the sketch branch is 4.9 s) — counts are cast-invariant
      val exact = li.select(explode(array(cols.map(c =>
          struct(lit(c).as("variable"), col(c).as("value"))): _*)).as("e"))
        .select(col("e.variable"), col("e.value"))
        .groupBy("variable").agg(countDistinct(col("value")).as("n_exact"))
      merged.join(exact, Seq("variable"))
        .select(col("variable"), col("n_exact"),
          (abs(hll_sketch_estimate(col("sketch")) / col("n_exact") - 1.0) <= 0.08)
            .as("est_in_bounds"))
        .orderBy("variable")
    },
      // exact distinct per column; the merged-sketch estimate sits ~4.9
      // sigma inside the 8% bound so its verdict replays as TRUE
      () => """SELECT variable, n_exact, TRUE AS est_in_bounds FROM (
           SELECT 'l_orderkey' AS variable, count(DISTINCT l_orderkey) AS n_exact FROM lineitem
           UNION ALL SELECT 'l_partkey', count(DISTINCT l_partkey) FROM lineitem
           UNION ALL SELECT 'l_suppkey', count(DISTINCT l_suppkey) FROM lineitem)
         ORDER BY variable"""),

    Q("describe_merge_summaries", (s, dir) => {
      // incremental corpus statistics: per-batch mergeable profiles (Chan
      // parallel combine) must equal the whole-data stats — the oracle
      // computes the full table directly, so the merge algebra is proven
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      val a = Describe.numericSummary(li.filter(col("l_orderkey") % 2 === 0), cols)
      val b = Describe.numericSummary(li.filter(col("l_orderkey") % 2 =!= 0), cols)
      Describe.mergeSummaries(a, b)
        .select(col("variable"), col("n"), sig6(col("mean")).as("mean"),
          sig6(sqrt(col("m2") / (col("n") - 1).cast("double"))).as("sd"),
          col("min"), col("max"))
        .orderBy("variable")
    },
      () => {
      // the oracle never merges: it computes each column's stats over the
      // WHOLE table — equality proves the Chan combine is exact
      val arms = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax").map { c =>
        s"""SELECT '$c' AS variable, count($c) AS n,
           ${sqlSig6(s"avg($c)")} AS mean,
           ${sqlSig6(s"stddev_samp($c)")} AS sd,
           CAST(min($c) AS DOUBLE) AS min, CAST(max($c) AS DOUBLE) AS max
           FROM lineitem"""
      }.mkString(" UNION ALL ")
      s"SELECT * FROM ($arms) ORDER BY variable"
    }),

    Q("describe_score_eval", (s, dir) =>
      // classifier/ranking evaluation: exact-int64 ROC AUC (rank
      // identity, ties at 1/2) + sklearn-step average precision of
      // price as a "returned" predictor
      Describe.scoreEval(
        t(s, dir, "lineitem").filter(col("l_returnflag").isin("R", "A")),
        "l_extendedprice", col("l_returnflag") === "R"),
      () => """WITH s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS p
           FROM lineitem WHERE l_returnflag IN ('R', 'A')),
         b AS (SELECT x, CAST(sum(p) AS BIGINT) AS cp,
             CAST(count(*) - sum(p) AS BIGINT) AS cn FROM s GROUP BY 1),
         c AS (SELECT *,
             CAST(coalesce(sum(cp) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cpb,
             CAST(coalesce(sum(cn) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cnb
           FROM b),
         t AS (SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cn) AS BIGINT) AS nn FROM b),
         agg AS (SELECT CAST(sum(cp * (2 * cnb + cn)) AS BIGINT) AS a2,
             sum((CAST(cp AS DOUBLE) / np)
               * (CAST(np - cpb AS DOUBLE) / (CAST(np - cpb AS DOUBLE) + (nn - cnb)))) AS apv
           FROM c, t)
         SELECT np AS n_pos, nn AS n_neg,
           round(CAST(a2 AS DOUBLE) / (2.0 * np * nn), 6) AS auc,
           round(apv, 6) AS average_precision
         FROM agg, t""", dualPath = true),

    Q("describe_mannwhitney", (s, dir) =>
      // rank-based location-shift drift (outlier-robust where a mean test
      // is not); 2·rank-sum and the tie correction are exact int64
      Describe.mannWhitney(
        t(s, dir, "lineitem").filter(col("l_returnflag").isin("R", "A")),
        "l_extendedprice", col("l_returnflag") === "R"),
      () => mannWhitneyOracleSql, dualPath = true),

    Q("describe_ks_drift", (s, dir) =>
      // two-sample KS between returned (R) and accepted (A) line prices:
      // the bin-free companion to the PSI report; the maximized statistic
      // is an exact integer so the sup is partitioning-invariant
      Describe.ksTwoSample(
        t(s, dir, "lineitem").filter(col("l_returnflag").isin("R", "A")),
        "l_extendedprice", col("l_returnflag") === "R"),
      () => ksDriftOracleSql, dualPath = true),

    Q("describe_psi_categorical", (s, dir) => {
      // categorical drift: day-1 reference vs whole month over the raw
      // event_type and a derived value band (with nulls as their own
      // tagged category); categories = union of both sides, eps floor
      val ev = t(s, dir, "events")
        .withColumn("value_band",
          when(col("value").isNull, lit(null).cast("string"))
            .when(col("value") > 10, lit("high")).otherwise(lit("low")))
      val ref = ev.filter(col("ts") < lit("2024-01-02 00:00:00").cast("timestamp"))
      Describe.psiCategorical(ref, ev, Seq("event_type", "value_band"))
        .select(col("variable"), col("n_ref"), col("n_cur"), col("n_levels"),
          round(col("psi"), 6).as("psi"))
        .orderBy("variable")
    },
      () => """WITH src AS (SELECT event_type,
             CASE WHEN value IS NULL THEN NULL
                  WHEN value > 10 THEN 'high' ELSE 'low' END AS value_band, ts
           FROM events),
         refm AS (
           SELECT 'event_type' AS variable,
             CASE WHEN event_type IS NULL THEN 'N' ELSE 'V' || event_type END AS category
           FROM src WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
           UNION ALL
           SELECT 'value_band',
             CASE WHEN value_band IS NULL THEN 'N' ELSE 'V' || value_band END
           FROM src WHERE ts < TIMESTAMP '2024-01-02 00:00:00'),
         curm AS (
           SELECT 'event_type' AS variable,
             CASE WHEN event_type IS NULL THEN 'N' ELSE 'V' || event_type END AS category
           FROM src
           UNION ALL
           SELECT 'value_band',
             CASE WHEN value_band IS NULL THEN 'N' ELSE 'V' || value_band END
           FROM src),
         refb AS (SELECT variable, category, count(*) AS n_ref FROM refm GROUP BY 1, 2),
         curb AS (SELECT variable, category, count(*) AS n_cur FROM curm GROUP BY 1, 2),
         cells AS (SELECT variable, category,
             CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
             CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
           FROM refb FULL OUTER JOIN curb USING (variable, category)),
         tots AS (SELECT variable, CAST(sum(n_ref) AS BIGINT) AS t_ref,
             CAST(sum(n_cur) AS BIGINT) AS t_cur,
             CAST(count(*) AS BIGINT) AS n_levels
           FROM cells GROUP BY 1),
         pq AS (SELECT cells.variable,
             greatest(CAST(n_ref AS DOUBLE) / t_ref, 1.0e-6) AS p,
             greatest(CAST(n_cur AS DOUBLE) / t_cur, 1.0e-6) AS q,
             t_ref, t_cur, n_levels
           FROM cells JOIN tots USING (variable))
         SELECT variable, max(t_ref) AS n_ref, max(t_cur) AS n_cur,
           max(n_levels) AS n_levels,
           round(sum((p - q) * ln(p / q)), 6) AS psi
         FROM pq GROUP BY 1 ORDER BY 1"""),

    Q("describe_psi_drift", (s, dir) => {
      // corpus-drift monitor: current = a 15%-inflated price column and an
      // unchanged quantity column; PSI flags the former, not the latter
      val li = t(s, dir, "lineitem")
      val cur = li.withColumn("l_extendedprice", col("l_extendedprice") * 1.15)
      Describe.psiDrift(li, cur, Seq("l_extendedprice", "l_quantity"))
        .select(col("variable"), col("n_ref"), col("n_cur"),
          round(col("psi"), 6).as("psi"))
        .orderBy("variable")
    },
      () => {
      val probs = (1 until 10).map(i => s"0.$i").mkString(", ")
      def binChain(lst: String): String =
        (1 to 9).map(i => s"(CASE WHEN value > $lst[$i] THEN 1 ELSE 0 END)")
          .mkString(" + ")
      s"""WITH b AS (SELECT quantile_cont(l_extendedprice, [$probs]) AS be,
             quantile_cont(l_quantity, [$probs]) AS bq FROM lineitem),
         refm AS (
           SELECT 'l_extendedprice' AS variable, CAST(l_extendedprice AS DOUBLE) AS value FROM lineitem
           UNION ALL SELECT 'l_quantity', CAST(l_quantity AS DOUBLE) FROM lineitem),
         curm AS (
           SELECT 'l_extendedprice' AS variable, CAST(l_extendedprice * 1.15 AS DOUBLE) AS value FROM lineitem
           UNION ALL SELECT 'l_quantity', CAST(l_quantity AS DOUBLE) FROM lineitem),
         refb AS (SELECT variable,
             CASE WHEN variable = 'l_extendedprice' THEN ${binChain("be")}
                  ELSE ${binChain("bq")} END AS bin, count(*) AS n_ref
           FROM refm, b WHERE value IS NOT NULL GROUP BY 1, 2),
         curb AS (SELECT variable,
             CASE WHEN variable = 'l_extendedprice' THEN ${binChain("be")}
                  ELSE ${binChain("bq")} END AS bin, count(*) AS n_cur
           FROM curm, b WHERE value IS NOT NULL GROUP BY 1, 2),
         grid AS (SELECT v.variable, g.bin
           FROM (SELECT DISTINCT variable FROM refm) v, generate_series(0, 9) g(bin)),
         cells AS (SELECT grid.variable, grid.bin,
             CAST(coalesce(n_ref, 0) AS DOUBLE) AS n_ref,
             CAST(coalesce(n_cur, 0) AS DOUBLE) AS n_cur
           FROM grid LEFT JOIN refb USING (variable, bin)
             LEFT JOIN curb USING (variable, bin)),
         tots AS (SELECT variable, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
           FROM cells GROUP BY 1),
         pq AS (SELECT cells.variable,
             greatest(n_ref / t_ref, 1.0e-6) AS p,
             greatest(n_cur / t_cur, 1.0e-6) AS q, t_ref, t_cur
           FROM cells JOIN tots ON cells.variable = tots.variable)
         SELECT variable, CAST(max(t_ref) AS BIGINT) AS n_ref,
           CAST(max(t_cur) AS BIGINT) AS n_cur,
           round(sum((p - q) * ln(p / q)), 6) AS psi
         FROM pq GROUP BY 1 ORDER BY 1"""
    }),

    Q("describe_crosstab", (s, dir) =>
      Describe.crosstab(t(s, dir, "orders"), "o_orderstatus", "o_orderpriority")
        .orderBy("a", "b"),
      () => """SELECT CAST(o_orderstatus AS VARCHAR) AS a,
           CAST(o_orderpriority AS VARCHAR) AS b, count(*) AS n
         FROM orders
         WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    Q("describe_chi2_independence", (s, dir) =>
      // categorical x categorical screen: chi2 + Wilson-Hilferty p, both
      // replayed exactly in SQL (erfc poly constants and all)
      Describe.chi2Independence(t(s, dir, "orders"), "o_orderstatus", "o_orderpriority")
        .select(col("n"), col("df"), round(col("chi2"), 6).as("chi2"),
          round(col("pvalue_approx"), 6).as("pvalue_approx")),
      () => """WITH cells AS (SELECT CAST(o_orderstatus AS VARCHAR) AS a,
             CAST(o_orderpriority AS VARCHAR) AS b, count(*) AS n
           FROM orders
           WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
           GROUP BY 1, 2),
         rt AS (SELECT a, sum(n) AS ra FROM cells GROUP BY 1),
         ct AS (SELECT b, sum(n) AS cb FROM cells GROUP BY 1),
         tot AS (SELECT sum(n) AS nn FROM cells),
         f AS (SELECT rt.a, ct.b, CAST(coalesce(cells.n, 0) AS DOUBLE) AS o,
             CAST(ra AS DOUBLE) * cb / nn AS e, nn
           FROM rt CROSS JOIN ct CROSS JOIN tot
           LEFT JOIN cells ON rt.a = cells.a AND ct.b = cells.b),
         s AS (SELECT CAST(max(nn) AS BIGINT) AS n,
             CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT) AS dof,
             sum((o - e) * (o - e) / e) AS chi2 FROM f),
         wh AS (SELECT *, (pow(chi2 / CAST(dof AS DOUBLE), 1.0 / 3.0)
               - (1.0 - 2.0 / (9.0 * CAST(dof AS DOUBLE))))
             / sqrt(2.0 / (9.0 * CAST(dof AS DOUBLE))) AS z FROM s),
         az AS (SELECT *, abs(z) / sqrt(2.0) AS za FROM wh),
         tp AS (SELECT *, 1.0 / (1.0 + 0.3275911 * za) AS tt FROM az),
         ef AS (SELECT *, tt * (0.254829592 + tt * (-0.284496736 + tt * (1.421413741
             + tt * (-1.453152027 + tt * 1.061405429)))) * exp(-za * za) AS ep FROM tp)
         SELECT n, dof AS df, round(chi2, 6) AS chi2,
           round(0.5 * (CASE WHEN z >= 0 THEN ep ELSE 2.0 - ep END), 6) AS pvalue_approx
         FROM ef"""),

    Q("describe_percent_na", (s, dir) => {
      val cf = CladeFrame(lineitemWithNulls(s, dir)
        .select("id", "l_quantity", "disc_nz", "tax_nz"), "id")
      Describe.percentNa(s, cf)
        .select(col("variable"), round(col("percent_na"), 6).as("percent_na"))
        .orderBy("variable")
    },
      () => """SELECT 'disc_nz' AS variable,
           round((1.0 - count(nullif(l_discount, 0.0)) * 1.0 / count(*)) * 100, 6) AS percent_na
         FROM lineitem
         UNION ALL SELECT 'l_quantity',
           round((1.0 - count(l_quantity) * 1.0 / count(*)) * 100, 6) FROM lineitem
         UNION ALL SELECT 'tax_nz',
           round((1.0 - count(nullif(l_tax, 0.0)) * 1.0 / count(*)) * 100, 6) FROM lineitem
         ORDER BY 1"""),

    Q("describe_freq_table", (s, dir) => {
      var cf = CladeFrame(t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority"), "o_orderkey")
      cf = Modify.makeCategorical(cf, only = Some(Seq("o_orderstatus", "o_orderpriority")))
      Describe.freqTable(s, cf).orderBy("variable", "value")
    },
      () => """SELECT * FROM (
           SELECT 'o_orderpriority' AS variable, o_orderpriority AS value, count(*) AS count
           FROM orders GROUP BY 2
           UNION ALL
           SELECT 'o_orderstatus', o_orderstatus, count(*) FROM orders GROUP BY 2)
         ORDER BY variable, value"""),

    Q("describe_correlations", (s, dir) => {
      val cf = CladeFrame(t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        "l_orderkey")
      Describe.correlations(s, cf, threshold = 0.0)
        .select(col("var1"), col("var2"), round(col("correlation"), 6).as("correlation"))
        .orderBy("var1", "var2")
    },
      () => """SELECT * FROM (
           SELECT 'l_quantity' AS var1, 'l_extendedprice' AS var2,
             round(corr(l_quantity, l_extendedprice), 6) AS correlation FROM lineitem
           UNION ALL SELECT 'l_quantity', 'l_discount', round(corr(l_quantity, l_discount), 6) FROM lineitem
           UNION ALL SELECT 'l_quantity', 'l_tax', round(corr(l_quantity, l_tax), 6) FROM lineitem
           UNION ALL SELECT 'l_extendedprice', 'l_discount', round(corr(l_extendedprice, l_discount), 6) FROM lineitem
           UNION ALL SELECT 'l_extendedprice', 'l_tax', round(corr(l_extendedprice, l_tax), 6) FROM lineitem
           UNION ALL SELECT 'l_discount', 'l_tax', round(corr(l_discount, l_tax), 6) FROM lineitem)
         ORDER BY var1, var2"""),

    Q("describe_skewness", (s, dir) => {
      val cf = CladeFrame(t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount"),
        "l_orderkey")
      Describe.skewness(s, cf)
        .select(col("variable"), round(col("skew"), 6).as("skew"))
        .orderBy("variable")
    },
      () => """SELECT variable, round(g1, 6) AS skew FROM (
           SELECT 'l_quantity' AS variable,
             skewness(l_quantity) * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0)) AS g1 FROM lineitem
           UNION ALL SELECT 'l_extendedprice',
             skewness(l_extendedprice) * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0)) FROM lineitem
           UNION ALL SELECT 'l_discount',
             skewness(l_discount) * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0)) FROM lineitem)
         ORDER BY variable"""),

    Q("describe_summarize", (s, dir) => {
      val cf = CladeFrame(t(s, dir, "events"), "event_id")
      val rep = Modify.categorize(cf)
      Describe.summarize(s, rep.frame).orderBy("type")
    },
      () => """WITH u AS (
           SELECT 'event_type' AS variable, count(DISTINCT event_type) AS nunique,
             count(*) FILTER (WHERE event_type IS NOT NULL AND TRY_CAST(event_type AS DOUBLE) IS NULL) AS bad FROM events
           UNION ALL SELECT 'props', count(DISTINCT props),
             count(*) FILTER (WHERE props IS NOT NULL AND TRY_CAST(props AS DOUBLE) IS NULL) FROM events
           UNION ALL SELECT 'ts', count(DISTINCT ts), 0 FROM events
           UNION ALL SELECT 'user_id', count(DISTINCT user_id), 0 FROM events
           UNION ALL SELECT 'value', count(DISTINCT value), 0 FROM events),
         d AS (SELECT CASE WHEN nunique = 0 THEN 'dropped' WHEN nunique = 1 THEN 'constant'
                WHEN nunique = 2 THEN 'binary' WHEN nunique BETWEEN 3 AND 6 THEN 'categorical'
                WHEN nunique >= 15 AND bad = 0 THEN 'continuous' ELSE 'unknown' END AS decision FROM u),
         kinds(type) AS (VALUES ('binary'), ('categorical'), ('constant'), ('continuous'), ('genotypes'), ('unknown'))
         SELECT kinds.type,
           (SELECT count(*) FROM d WHERE d.decision = kinds.type) AS n_variables,
           (SELECT count(*) FROM events) AS n_rows
         FROM kinds ORDER BY kinds.type"""),

    Q("describe_summarize_approx", (s, dir) =>
      // sketch profile with an EXACT audit core: n/mean/min/max hash-match
      // DuckDB directly; the HLL-distinct and GK-quantile sketches are
      // approximate by contract so they surface as deterministic in-bounds
      // booleans (rank window ±1/accuracy; |distinct err| ≤ 3·rsd) that the
      // oracle pins TRUE — a sketch regression past its published bound
      // reds this row instead of hiding behind "approximate";
      // ModifyDescribeSpec pins the numeric error bounds as units
      // accuracy 2000 (±0.05% rank error), not the library's Spark-parity
      // default 10000: the GK sketch's per-row insert cost is strongly
      // superlinear in accuracy (measured 16-35s vs 5s vs 3.3s for
      // acc 10000/2000/500 on 60M×4 values) and a corpus profile does not
      // need ±0.01% ranks — the audit bounds scale with 1/accuracy, so the
      // in-bounds booleans stay pinned TRUE
      Describe.summarizeApproxAudited(s, t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          accuracy = 2000)
        .select(col("variable"), col("n"), round(col("mean"), 6).as("mean"),
          round(col("min"), 6).as("min"), round(col("max"), 6).as("max"),
          col("distinct_ok"), col("p25_ok"), col("p50_ok"), col("p75_ok"))
        .orderBy("variable"),
      // the exact audit core hash-matches; the sketch in-bounds booleans are
      // pinned TRUE (deterministic hash-seeded sketches inside published
      // error bounds — see Describe.summarizeApproxAudited)
      () => """SELECT variable, n, mean, min, max,
           TRUE AS distinct_ok, TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
         FROM (
           SELECT 'l_quantity' AS variable, count(CAST(l_quantity AS DOUBLE)) AS n,
             round(avg(CAST(l_quantity AS DOUBLE)), 6) AS mean,
             round(min(CAST(l_quantity AS DOUBLE)), 6) AS min,
             round(max(CAST(l_quantity AS DOUBLE)), 6) AS max FROM lineitem
           UNION ALL
           SELECT 'l_extendedprice', count(CAST(l_extendedprice AS DOUBLE)),
             round(avg(CAST(l_extendedprice AS DOUBLE)), 6),
             round(min(CAST(l_extendedprice AS DOUBLE)), 6),
             round(max(CAST(l_extendedprice AS DOUBLE)), 6) FROM lineitem
           UNION ALL
           SELECT 'l_discount', count(CAST(l_discount AS DOUBLE)),
             round(avg(CAST(l_discount AS DOUBLE)), 6),
             round(min(CAST(l_discount AS DOUBLE)), 6),
             round(max(CAST(l_discount AS DOUBLE)), 6) FROM lineitem
           UNION ALL
           SELECT 'l_tax', count(CAST(l_tax AS DOUBLE)),
             round(avg(CAST(l_tax AS DOUBLE)), 6),
             round(min(CAST(l_tax AS DOUBLE)), 6),
             round(max(CAST(l_tax AS DOUBLE)), 6) FROM lineitem)
         ORDER BY variable"""),

    Q("describe_histogram", (s, dir) =>
      graft.describe.Plots.histogram(t(s, dir, "lineitem"), "l_extendedprice", bins = 20)
        .select(col("bin"), round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"),
          col("count"))
        .orderBy("bin"),
      () => """WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem),
         w AS (SELECT lo, hi, (hi - lo) / 20 AS width FROM b),
         binned AS (SELECT CAST(least(floor((l_extendedprice - w.lo) / w.width), 19) AS INT) AS bin
                    FROM lineitem, w)
         SELECT bin, round((SELECT lo FROM w) + bin * (SELECT width FROM w), 4) AS lo,
           round((SELECT lo FROM w) + (bin + 1) * (SELECT width FROM w), 4) AS hi,
           count(*) AS count
         FROM binned GROUP BY bin ORDER BY bin"""),

    Q("plot_qq_prep", (s, dir) =>
      // 300 input rows <= the n=400 subsample cap, so no sampling fires and
      // the result is deterministic; theoretical_quantile (inverse normal
      // CDF, no DuckDB builtin) is covered by PlotsSpec instead
      graft.describe.Plots.qqPrep(s,
          t(s, dir, "documents").filter(col("doc_id") < 300).select("doc_id", "n_chars"),
          Seq("n_chars"))
        .select(col("variable"), col("position"),
          round(col("sample_quantile"), 6).as("sample_quantile"))
        .orderBy("variable", "position"),
      () => """WITH v AS (SELECT 'n_chars' AS variable, CAST(n_chars AS DOUBLE) AS value
                    FROM documents WHERE doc_id < 300),
         m AS (SELECT variable, count(*) AS n, avg(value) AS mu, stddev_samp(value) AS sd
               FROM v GROUP BY 1)
         SELECT v.variable,
           CAST(row_number() OVER (PARTITION BY v.variable ORDER BY value) AS INT) AS position,
           round((value - mu) / sd, 6) AS sample_quantile
         FROM v JOIN m ON v.variable = m.variable
         ORDER BY v.variable, position"""),

    Q("describe_calibration", (s, dir) =>
      // reliability table for the quality-filter sigmoid against an
      // is-English label: scores quantize to integer micro-probs (the
      // DSIR discipline) so bins and sums are exact int64 — mean_pred
      // vs obs_rate per bin is the filter-calibration report
      Describe.calibration(
        Text.classifierScore(t(s, dir, "documents"), "text",
          weights = Map("stopword_ratio" -> 4.0, "punct_ratio" -> 2.0,
            "mean_word_len" -> 0.1, "n_words" -> 0.001),
          bias = -1.0),
        "quality_score", col("lang") === "en", bins = 10)
        .orderBy("bin"),
      // sigmoid(bias + Σ w·f) replayed with the same left-fold order over
      // name-sorted features (float addition is not associative) and DOUBLE
      // casts so both engines run IEEE double end-to-end
      () => """WITH f AS (SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\s+')) AS n_words,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[\.,;:!\?]')) AS punct,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS stop
           FROM documents),
         g AS (SELECT doc_id, lang,
             CASE WHEN n_words > 0
               THEN CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words END AS mean_word_len,
             n_words,
             CASE WHEN n_chars > 0
               THEN CAST(punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_words > 0
               THEN CAST(stop AS DOUBLE) / n_words ELSE 0.0 END AS stopword_ratio
           FROM f),
         q AS (SELECT doc_id, lang,
             1.0 / (1.0 + exp(-(((((CAST(-1.0 AS DOUBLE)
               + mean_word_len * CAST(0.1 AS DOUBLE))
               + n_words * CAST(0.001 AS DOUBLE))
               + punct_ratio * CAST(2.0 AS DOUBLE))
               + stopword_ratio * CAST(4.0 AS DOUBLE))))) AS score
           FROM g),
         m AS (SELECT CAST(round(score * 1000000) AS BIGINT) AS mm,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM q WHERE lang IS NOT NULL AND score IS NOT NULL),
         b AS (SELECT least(mm * 10 // 1000000, 9) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(mm) AS BIGINT) AS sm
           FROM m GROUP BY 1)
         SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
           round(CAST(sm AS DOUBLE) / 1000000.0 / n, 6) AS mean_pred,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS obs_rate,
           round(abs(CAST(sm AS DOUBLE) / 1000000.0 / n
             - CAST(n_pos AS DOUBLE) / n), 6) AS gap
         FROM b ORDER BY bin"""))

  private[queries] def mannWhitneyOracleSql: String = {
      // average-rank algebra over tie runs: 2·R_A = Σ ca·(2·below + t + 1)
      // stays integral; u/z/p mirror the engine's column ops term for term
      val zExpr = "(abs(z) / sqrt(2.0))"
      s"""WITH s AS (SELECT l_extendedprice AS x, l_returnflag = 'R' AS a
               FROM lineitem WHERE l_returnflag IN ('R', 'A')),
         g AS (SELECT x, sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
                 sum(CASE WHEN a THEN 0 ELSE 1 END) AS cb
               FROM s GROUP BY 1),
         w AS (SELECT ca, ca + cb AS t,
                 coalesce(sum(ca + cb) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
               FROM g),
         tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM g),
         acc AS (SELECT sum(ca * (2 * below + t + 1)) AS ra2,
                   sum(t * t * t - t) AS t3 FROM w),
         kv AS (SELECT na, nb,
                 CAST(ra2 AS DOUBLE) / 2.0 - CAST(na * (na + 1) AS DOUBLE) / 2.0 AS u,
                 CAST(na * nb AS DOUBLE) / 2.0 AS mu,
                 CAST(na * nb AS DOUBLE) / 12.0 *
                   (CAST(na + nb + 1 AS DOUBLE) -
                     CAST(t3 AS DOUBLE) /
                       (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1.0))) AS s2
               FROM acc, tot),
         zt AS (SELECT na, nb, u, (u - mu) / sqrt(s2) AS z FROM kv)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, u,
           round(z, 6) AS z, round(${sqlErfc(zExpr)}, 6) AS pvalue
         FROM zt""".stripMargin
  }

  private[queries] def ksDriftOracleSql: String = {
      // window prefix-sums over tie-aggregated distinct values; the engine's
      // Smirnov series is replayed with the SAME left-associated 25-term sum
      val terms = (1 to 25).map { k =>
        val sign = if (k == 1) "" else if (k % 2 == 1) " + " else " - "
        s"${sign}exp(-2.0 * ${k * k} * lam * lam)"
      }.mkString
      s"""WITH s AS (SELECT l_extendedprice AS x, l_returnflag = 'R' AS a
               FROM lineitem WHERE l_returnflag IN ('R', 'A')),
         g AS (SELECT x, sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
                 sum(CASE WHEN a THEN 0 ELSE 1 END) AS cb
               FROM s GROUP BY 1),
         tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM g),
         c AS (SELECT sum(ca) OVER (ORDER BY x) AS cuma,
                 sum(cb) OVER (ORDER BY x) AS cumb FROM g),
         m AS (SELECT max(abs(cuma * nb - cumb * na)) AS dnum FROM c, tot),
         k AS (SELECT na, nb,
                 dnum * 1.0 / (na * 1.0 * nb) AS d,
                 (sqrt(na * 1.0 * nb / (na + nb)) + 0.12
                   + 0.11 / sqrt(na * 1.0 * nb / (na + nb)))
                   * (dnum * 1.0 / (na * 1.0 * nb)) AS lam
               FROM m, tot)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(d, 6) AS d,
           round(least(1.0, greatest(0.0, 2.0 * ($terms))), 6) AS pvalue
         FROM k"""
  }
}
