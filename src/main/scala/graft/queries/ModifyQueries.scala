package graft
package queries

import org.apache.spark.sql.functions._

import graft.model.CladeFrame
import graft.modify.Modify
import graft.describe.Describe
import graft.pipeline.Joins
import Tables._

/** Modify: column and row filters, merges and column functions (SURVEY §2.2-2.4, §2.9). */
private[graft] object ModifyQueries {

  val all: Seq[Q] = Seq(
    Q("modify_quantile_normalize", (s, dir) => {
      // expression-array quantile normalization: all columns forced to the
      // shared rank-mean distribution; ONE Tungsten range sort carries the
      // row id so ranks, rank means, and the remap stay distributed
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
        .withColumn("rid", col("l_orderkey") * 10 + col("l_linenumber"))
      Modify.quantileNormalize(li, Seq("l_quantity", "l_discount", "l_tax"), "rid")
        .withColumn("normalized", round(col("normalized"), 6))
        .orderBy("rid", "variable")
    },
      () => """WITH src AS (SELECT l_orderkey * 10 + l_linenumber AS rid,
             l_quantity, l_discount, l_tax
           FROM lineitem WHERE l_orderkey < 1000),
         m AS (SELECT rid, 'l_quantity' AS variable,
                 CAST(l_quantity AS DOUBLE) AS value FROM src
               UNION ALL SELECT rid, 'l_discount', CAST(l_discount AS DOUBLE) FROM src
               UNION ALL SELECT rid, 'l_tax', CAST(l_tax AS DOUBLE) FROM src),
         f AS (SELECT * FROM m WHERE value IS NOT NULL),
         r AS (SELECT rid, variable, value,
                 row_number() OVER (PARTITION BY variable ORDER BY value, rid) - 1
                   AS rank
               FROM f),
         rm AS (SELECT rank, avg(value) AS nv FROM r GROUP BY 1)
         SELECT r.rid, r.variable, round(rm.nv, 6) AS normalized
         FROM r JOIN rm USING (rank) ORDER BY rid, variable"""),

    Q("modify_upsert", (s, dir) => {
      // incremental corpus refresh: a delta (every 10th customer with a
      // new balance) supersedes stale rows via ONE anti-join (the delta
      // broadcasts; the base table never shuffles) + union
      val c = t(s, dir, "customer")
      val delta = c.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") * 2, 2))
      Joins.upsert(c, delta, Seq("c_custkey"))
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy("c_custkey")
    },
      () => """SELECT c_custkey, c_mktsegment, round(round(c_acctbal * 2, 2), 2) AS c_acctbal
         FROM customer WHERE c_custkey % 10 = 0
         UNION ALL
         SELECT c_custkey, c_mktsegment, round(c_acctbal, 2)
         FROM customer WHERE c_custkey % 10 <> 0
         ORDER BY c_custkey"""),

    Q("modify_diff_snapshots", (s, dir) => {
      // CDC between two snapshot versions: full-outer on the key +
      // null-safe struct compare; statuses aggregated for audit
      val c = t(s, dir, "customer")
      val newer = c.filter(col("c_custkey") % 97 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 10 === 0, round(col("c_acctbal") * 2, 2))
            .otherwise(col("c_acctbal")))
      Joins.diffSnapshots(c, newer, Seq("c_custkey"))
        .groupBy("row_status").agg(count(lit(1)).as("n"))
        .orderBy("row_status")
    },
      () => """WITH o AS (SELECT * FROM customer),
         nn AS (SELECT c_custkey, c_name, c_nationkey,
                  CASE WHEN c_custkey % 10 = 0 THEN round(c_acctbal * 2, 2)
                       ELSE c_acctbal END AS c_acctbal,
                  c_mktsegment
                FROM customer WHERE c_custkey % 97 <> 0),
         j AS (SELECT o.c_custkey IS NOT NULL AS in_old,
                 nn.c_custkey IS NOT NULL AS in_new,
                 (o.c_name IS NOT DISTINCT FROM nn.c_name)
                   AND (o.c_nationkey IS NOT DISTINCT FROM nn.c_nationkey)
                   AND (o.c_acctbal IS NOT DISTINCT FROM nn.c_acctbal)
                   AND (o.c_mktsegment IS NOT DISTINCT FROM nn.c_mktsegment) AS same
               FROM o FULL OUTER JOIN nn ON o.c_custkey = nn.c_custkey)
         SELECT CASE WHEN NOT in_old THEN 'added'
                     WHEN NOT in_new THEN 'removed'
                     WHEN same THEN 'unchanged' ELSE 'changed' END AS row_status,
           count(*) AS n
         FROM j GROUP BY 1 ORDER BY 1"""),

    Q("modify_colfilter", (s, dir) => {
      val cf = CladeFrame(t(s, dir, "part"), "p_partkey")
      Modify.colfilter(cf, only = Some(Seq("p_name", "p_retailprice"))).df
        .select(col("p_partkey"), col("p_name"), round(col("p_retailprice"), 2).as("p_retailprice"))
        .orderBy("p_partkey")
    },
      () => """SELECT p_partkey, p_name, round(p_retailprice, 2) AS p_retailprice
         FROM part ORDER BY p_partkey"""),

    Q("modify_colfilter_min_n", (s, dir) => {
      import s.implicits._
      val cf = CladeFrame(lineitemWithNulls(s, dir), "id")
      val cols = Seq("l_quantity", "disc_nz", "tax_nz")
      val counts = Modify.nonNullCounts(cf, cols)
      val total = cf.df.count()
      cols.map(c => (c, counts(c), counts(c) >= total * 9 / 10))
        .toDF("variable", "n_nonnull", "kept").orderBy("variable")
    },
      () => """WITH tot AS (SELECT count(*) AS n FROM lineitem)
         SELECT 'disc_nz' AS variable, count(nullif(l_discount, 0.0)) AS n_nonnull,
           count(nullif(l_discount, 0.0)) >= (SELECT n * 9 // 10 FROM tot) AS kept FROM lineitem
         UNION ALL
         SELECT 'l_quantity', count(l_quantity),
           count(l_quantity) >= (SELECT n * 9 // 10 FROM tot) FROM lineitem
         UNION ALL
         SELECT 'tax_nz', count(nullif(l_tax, 0.0)),
           count(nullif(l_tax, 0.0)) >= (SELECT n * 9 // 10 FROM tot) FROM lineitem
         ORDER BY 1"""),

    Q("modify_colfilter_min_cat_n", (s, dir) => {
      import s.implicits._
      val cf = CladeFrame(t(s, dir, "orders"), "o_orderkey")
      val m = Modify.minLevelCounts(cf, Seq("o_orderstatus", "o_orderpriority"))
      m.toSeq.map { case (k, v) => (k, v) }
        .toDF("variable", "min_level_n").orderBy("variable")
    },
      () => """SELECT 'o_orderpriority' AS variable,
           (SELECT min(n) FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderpriority)) AS min_level_n
         UNION ALL
         SELECT 'o_orderstatus',
           (SELECT min(n) FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderstatus))
         ORDER BY 1"""),

    Q("modify_colfilter_percent_zero", (s, dir) => {
      import s.implicits._
      val cf = CladeFrame(t(s, dir, "lineitem"), "l_orderkey")
      val p = Modify.percentZero(cf, Seq("l_discount", "l_tax"))
      p.toSeq.map { case (k, v) => (k, math.rint(v * 1e6) / 1e6) }
        .toDF("variable", "pct_zero").orderBy("variable")
    },
      () => """SELECT 'l_discount' AS variable,
           round(avg(CASE WHEN l_discount = 0 THEN 1.0 ELSE 0.0 END) * 100, 6) AS pct_zero
         FROM lineitem
         UNION ALL
         SELECT 'l_tax', round(avg(CASE WHEN l_tax = 0 THEN 1.0 ELSE 0.0 END) * 100, 6)
         FROM lineitem ORDER BY 1"""),

    Q("modify_yeo_johnson_grid", (s, dir) => {
      // power-transform normality profile: the full (column, lambda)
      // log-likelihood grid from ONE aggregation (reporting the grid,
      // not an argmax, is what keeps the replay exact); q_centered
      // exercises the negative-branch psi
      val li = t(s, dir, "lineitem")
        .withColumn("q_centered", col("l_quantity") - 25)
      Modify.yeoJohnsonGrid(li, Seq("l_quantity", "q_centered"))
        .select(col("variable"), col("lambda"), col("n"),
          round(col("llf"), 4).as("llf"))
        .orderBy("variable", "lambda")
    },
      () => yeoJohnsonOracleSql(
      Seq(("l_quantity", "l_quantity"), ("q_centered", "l_quantity - 25")),
      (-4 to 4).map(_ * 0.5))),

    Q("modify_quantile_bins", (s, dir) => {
      // equi-depth deciles of l_extendedprice: exact batched quantile
      // bounds + zero-shuffle assignment; oracle replays quantile_cont
      val li = t(s, dir, "lineitem")
      Modify.quantileBins(li, Seq("l_extendedprice"), k = 10)
        .groupBy(col("l_extendedprice_bin").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("l_extendedprice")), 2).as("lo"),
          round(max(col("l_extendedprice")), 2).as("hi"))
        .orderBy("bin")
    },
      () => s"""WITH q AS (SELECT ${(1 until 10).map(i =>
             s"quantile_cont(l_extendedprice, 0.$i) AS b$i").mkString(", ")}
           FROM lineitem)
         SELECT (${(1 until 10).map(i =>
             s"(CASE WHEN l_extendedprice > b$i THEN 1 ELSE 0 END)").mkString(" + ")}) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(min(l_extendedprice), 2) AS lo,
           round(max(l_extendedprice), 2) AS hi
         FROM lineitem, q GROUP BY 1 ORDER BY 1"""),

    Q("modify_rint", (s, dir) =>
      // rank-based inverse-normal transform map: average ranks (tie runs),
      // Blom offset, Acklam ppf — all replayed verbatim by the oracle
      Modify.rintMap(t(s, dir, "lineitem"), Seq("l_quantity", "l_tax"))
        .select(col("variable"), col("value"), col("n_ties"),
          round(col("rint"), 6).as("rint"))
        .orderBy("variable", "value"),
      () => s"""WITH m AS (SELECT 'l_quantity' AS variable, CAST(l_quantity AS DOUBLE) AS value
             FROM lineitem WHERE l_quantity IS NOT NULL
           UNION ALL
           SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem WHERE l_tax IS NOT NULL),
         g AS (SELECT variable, value, count(*) AS n_ties FROM m GROUP BY 1, 2),
         w AS (SELECT *, CAST(coalesce(sum(n_ties) OVER (PARTITION BY variable ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS below,
             CAST(sum(n_ties) OVER (PARTITION BY variable) AS DOUBLE) AS nn FROM g),
         r AS (SELECT variable, value, n_ties,
             below + (CAST(n_ties AS DOUBLE) + 1.0) / 2.0 AS avg_rank, nn FROM w),
         p AS (SELECT variable, value, n_ties,
             (avg_rank - 0.375) / (nn + 0.25) AS pp FROM r)
         SELECT variable, value, CAST(n_ties AS BIGINT) AS n_ties,
           round(${graft.stats.ColMath.normalPpfSql("pp")}, 6) AS rint
         FROM p ORDER BY variable, value"""),

    Q("modify_rowfilter", (s, dir) => {
      val cf = CladeFrame(t(s, dir, "lineitem"), "l_orderkey")
      Modify.rowfilter(cf, "l_quantity", "lt", 10).df
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    },
      () => """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem WHERE l_quantity < 10 GROUP BY 1 ORDER BY 1"""),

    Q("modify_rowfilter_incomplete_obs", (s, dir) => {
      val cf = CladeFrame(lineitemWithNulls(s, dir), "id")
      Modify.rowfilterIncompleteObs(cf, only = Some(Seq("disc_nz", "tax_nz"))).df
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },
      () => """SELECT l_returnflag, count(*) AS n FROM lineitem
         WHERE nullif(l_discount, 0.0) IS NOT NULL AND nullif(l_tax, 0.0) IS NOT NULL
         GROUP BY 1 ORDER BY 1"""),

    Q("modify_merge_variables", (s, dir) => {
      val orders = CladeFrame(t(s, dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice"), "o_custkey")
      val cust = CladeFrame(t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment"), "c_custkey")
      Modify.mergeVariables(orders, cust, "inner").df
        .filter(col("o_orderkey") <= 100)
        .select(col("o_orderkey"), col("c_name"), round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_orderkey")
    },
      () => """SELECT o_orderkey, c_name, round(o_totalprice, 2) AS price
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderkey <= 100 ORDER BY o_orderkey"""),

    Q("modify_merge_observations", (s, dir) => {
      val o = t(s, dir, "orders")
      val top = CladeFrame(o.filter(col("o_orderkey") % 2 === 0), "o_orderkey")
      val bottom = CladeFrame(o.filter(col("o_orderkey") % 2 === 1), "o_orderkey")
      Modify.mergeObservations(top, bottom).df
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    },
      () => """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
         FROM (SELECT * FROM orders WHERE o_orderkey % 2 = 0
               UNION ALL SELECT * FROM orders WHERE o_orderkey % 2 = 1)
         GROUP BY 1 ORDER BY 1"""),

    Q("modify_recode_values", (s, dir) => {
      val cf = CladeFrame(t(s, dir, "lineitem"), "l_orderkey")
      Modify.recodeValues(cf,
        Map("A" -> "accepted", "N" -> "none", "R" -> "returned"),
        only = Some(Seq("l_returnflag"))).df
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },
      () => """SELECT CASE l_returnflag WHEN 'A' THEN 'accepted' WHEN 'N' THEN 'none'
           WHEN 'R' THEN 'returned' ELSE l_returnflag END AS l_returnflag,
         count(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1"""),

    Q("modify_remove_outliers_iqr", (s, dir) => {
      val cf = CladeFrame(lineitemKeyed(s, dir), "id")
      val out = Modify.removeOutliers(cf, "iqr", 1.5, only = Some(Seq("l_extendedprice")))
      out.df.agg(count(lit(1)).as("n_total"),
          count(col("l_extendedprice")).as("n_kept"))
        .withColumn("n_removed", col("n_total") - col("n_kept"))
    },
      () => """WITH b AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
                    quantile_cont(l_extendedprice, 0.75) AS q3 FROM lineitem)
         SELECT count(*) AS n_total,
           count(*) FILTER (WHERE l_extendedprice BETWEEN q1 - 1.5*(q3-q1) AND q3 + 1.5*(q3-q1)) AS n_kept,
           count(*) - count(*) FILTER (WHERE l_extendedprice BETWEEN q1 - 1.5*(q3-q1) AND q3 + 1.5*(q3-q1)) AS n_removed
         FROM lineitem, b"""),

    Q("modify_remove_outliers_gaussian", (s, dir) => {
      val cf = CladeFrame(lineitemKeyed(s, dir), "id")
      val out = Modify.removeOutliers(cf, "gaussian", 2.0, only = Some(Seq("l_quantity")))
      out.df.agg(count(lit(1)).as("n_total"),
          count(col("l_quantity")).as("n_kept"))
        .withColumn("n_removed", col("n_total") - col("n_kept"))
    },
      () => """WITH b AS (SELECT avg(l_quantity) AS m, stddev_samp(l_quantity) AS s FROM lineitem)
         SELECT count(*) AS n_total,
           count(*) FILTER (WHERE l_quantity BETWEEN m - 2*s AND m + 2*s) AS n_kept,
           count(*) - count(*) FILTER (WHERE l_quantity BETWEEN m - 2*s AND m + 2*s) AS n_removed
         FROM lineitem, b"""),

    Q("modify_robust_scale", (s, dir) => {
      // median/MAD standardization over two batched range sorts; the
      // aggregate fingerprints the full scaled distribution
      val out = Modify.robustScale(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_tax"))
      out.agg(
        count(col("l_quantity")).as("n_qty"),
        round(min("l_quantity"), 6).as("qty_min"),
        round(max("l_quantity"), 6).as("qty_max"),
        round(avg("l_quantity"), 6).as("qty_avg"),
        count(col("l_tax")).as("n_tax"),
        round(min("l_tax"), 6).as("tax_min"),
        round(max("l_tax"), 6).as("tax_max"),
        round(avg("l_tax"), 6).as("tax_avg"))
    },
      () => """WITH m AS (SELECT quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS mq,
                    quantile_cont(CAST(l_tax AS DOUBLE), 0.5) AS mt FROM lineitem),
         d AS (SELECT quantile_cont(abs(CAST(l_quantity AS DOUBLE) - mq), 0.5) AS dq,
                      quantile_cont(abs(CAST(l_tax AS DOUBLE) - mt), 0.5) AS dt
               FROM lineitem, m),
         z AS (SELECT (CAST(l_quantity AS DOUBLE) - mq) / (1.4826022185056018 * dq) AS zq,
                      (CAST(l_tax AS DOUBLE) - mt) / (1.4826022185056018 * dt) AS zt
               FROM lineitem, m, d)
         SELECT count(zq) AS n_qty, round(min(zq), 6) AS qty_min,
           round(max(zq), 6) AS qty_max, round(avg(zq), 6) AS qty_avg,
           count(zt) AS n_tax, round(min(zt), 6) AS tax_min,
           round(max(zt), 6) AS tax_max, round(avg(zt), 6) AS tax_avg
         FROM z"""),

    Q("modify_target_encode_loo", (s, dir) =>
      // leave-one-out target encoding: (Σ_cat − own)/(n−1) from exact
      // int64 sums (quantity cast long) — one O(#cats) agg broadcast
      // back, the corpus never shuffles
      Modify.targetEncodeLoo(
        t(s, dir, "lineitem").filter(col("l_orderkey") < 400)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag").as("cat"),
            col("l_quantity").cast("long").as("q")),
        "cat", "q")
        .select(col("l_orderkey"), col("l_linenumber"), col("cat"),
          round(col("te_loo"), 6).as("te_loo"))
        .orderBy("l_orderkey", "l_linenumber"),
      () => """WITH t AS (SELECT l_orderkey, l_linenumber, l_returnflag AS cat,
             CAST(l_quantity AS BIGINT) AS q
           FROM lineitem WHERE l_orderkey < 400),
         s AS (SELECT cat, CAST(sum(q) AS BIGINT) AS sq,
             CAST(count(q) AS BIGINT) AS n FROM t GROUP BY 1)
         SELECT t.l_orderkey, t.l_linenumber, t.cat,
           round(CASE WHEN s.n > 1 AND t.q IS NOT NULL
             THEN CAST(s.sq - t.q AS DOUBLE) / (s.n - 1) END, 6) AS te_loo
         FROM t LEFT JOIN s USING (cat) ORDER BY 1, 2"""),

    Q("modify_winsorize", (s, dir) => {
      val out = Modify.winsorize(t(s, dir, "lineitem"),
        Seq("l_extendedprice"), lower = 0.05, upper = 0.95)
      out.agg(count(lit(1)).as("n"),
        round(min("l_extendedprice"), 4).as("lo"),
        round(max("l_extendedprice"), 4).as("hi"),
        round(sum("l_extendedprice"), 2).as("total"))
    },
      () => """WITH b AS (SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
                    quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem)
         SELECT count(*) AS n,
           round(min(least(greatest(CAST(l_extendedprice AS DOUBLE), lo), hi)), 4) AS lo,
           round(max(least(greatest(CAST(l_extendedprice AS DOUBLE), lo), hi)), 4) AS hi,
           round(sum(least(greatest(CAST(l_extendedprice AS DOUBLE), lo), hi)), 2) AS total
         FROM lineitem, b"""),

    Q("modify_transform_log", (s, dir) => {
      val cf = CladeFrame(t(s, dir, "lineitem"), "l_orderkey")
      Modify.transform(cf, "log", only = Some(Seq("l_extendedprice"))).df
        .groupBy("l_returnflag")
        .agg(round(sum("l_extendedprice"), 4).as("sum_log_price"))
        .orderBy("l_returnflag")
    },
      () => """SELECT l_returnflag, round(sum(ln(l_extendedprice)), 4) AS sum_log_price
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    Q("modify_make_binary", (s, dir) => {
      val cf = CladeFrame(t(s, dir, "lineitem")
        .select("l_orderkey", "l_linestatus"), "l_orderkey")
      val bin = Modify.makeBinary(cf, only = Some(Seq("l_linestatus")))
      Describe.freqTable(s, bin).orderBy("variable", "value")
    },
      () => """SELECT 'l_linestatus' AS variable, l_linestatus AS value, count(*) AS count
         FROM lineitem GROUP BY 2 ORDER BY 1, 2"""),

    Q("modify_categorize", (s, dir) => {
      import s.implicits._
      val cf = CladeFrame(t(s, dir, "events"), "event_id")
      val rep = Modify.categorize(cf)
      rep.decisions.map { case (v, u, d) => (v, u, d) }
        .toDF("variable", "nunique", "decision").orderBy("variable")
    },
      () => """WITH u AS (
           SELECT 'event_type' AS variable, count(DISTINCT event_type) AS nunique,
             count(*) FILTER (WHERE event_type IS NOT NULL AND TRY_CAST(event_type AS DOUBLE) IS NULL) AS bad
           FROM events
           UNION ALL SELECT 'props', count(DISTINCT props),
             count(*) FILTER (WHERE props IS NOT NULL AND TRY_CAST(props AS DOUBLE) IS NULL) FROM events
           UNION ALL SELECT 'ts', count(DISTINCT ts), 0 FROM events
           UNION ALL SELECT 'user_id', count(DISTINCT user_id), 0 FROM events
           UNION ALL SELECT 'value', count(DISTINCT value), 0 FROM events)
         SELECT variable, nunique,
           CASE WHEN nunique = 0 THEN 'dropped'
                WHEN nunique = 1 THEN 'constant'
                WHEN nunique = 2 THEN 'binary'
                WHEN nunique BETWEEN 3 AND 6 THEN 'categorical'
                WHEN nunique >= 15 AND bad = 0 THEN 'continuous'
                ELSE 'unknown' END AS decision
         FROM u ORDER BY variable"""),

    Q("modify_make_categorical", (s, dir) => {
      // make_categorical (reference: modify.py:456-500): records the
      // observed level sets as variable metadata; surfaced here as
      // (variable, level) rows
      import s.implicits._
      var cf = CladeFrame(t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority"), "o_orderkey")
      cf = Modify.makeCategorical(cf, only = Some(Seq("o_orderstatus", "o_orderpriority")))
      cf.levels.toSeq.flatMap { case (v, ls) => ls.map(v -> _) }
        .toDF("variable", "level").orderBy("variable", "level")
    },
      () => """SELECT 'o_orderstatus' AS variable, o_orderstatus AS level FROM orders GROUP BY 2
         UNION ALL
         SELECT 'o_orderpriority', o_orderpriority FROM orders GROUP BY 2
         ORDER BY 1, 2"""),

    Q("modify_make_continuous", (s, dir) => {
      // make_continuous (reference: modify.py:503-567): string-encoded
      // numerics cast to double, any uncastable value is an error; the
      // aggregate checksum proves the round-trip preserved every value
      var cf = CladeFrame(t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          col("l_quantity").cast("string").as("qty_str")), "l_orderkey")
      cf = Modify.makeContinuous(cf, only = Some(Seq("qty_str")))
      cf.df.agg(count(col("qty_str")).as("n"),
        round(sum("qty_str"), 4).as("total"),
        round(avg("qty_str"), 6).as("mean"))
    },
      () => """SELECT count(l_quantity) AS n,
           round(sum(CAST(l_quantity AS DOUBLE)), 4) AS total,
           round(avg(CAST(l_quantity AS DOUBLE)), 6) AS mean
         FROM lineitem"""),

    Q("modify_drop_extra_categories", (s, dir) => {
      // drop_extra_categories (reference: modify.py:1011-1061): a
      // rowfilter leaves the recorded level set stale ('F' becomes a
      // phantom level with zero rows); the op refreshes metadata from data
      import s.implicits._
      var cf = CladeFrame(t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus"), "o_orderkey")
      cf = Modify.makeCategorical(cf, only = Some(Seq("o_orderstatus")))
      val filtered = cf.copy(df = cf.df.filter(col("o_orderstatus") =!= "F"))
      val refreshed = Modify.dropExtraCategories(filtered, only = Some(Seq("o_orderstatus")))
      refreshed.levels.toSeq.flatMap { case (v, ls) => ls.map(v -> _) }
        .toDF("variable", "level").orderBy("variable", "level")
    },
      () => """SELECT 'o_orderstatus' AS variable, o_orderstatus AS level FROM orders
         WHERE o_orderstatus <> 'F' GROUP BY 2 ORDER BY 1, 2"""),

    Q("modify_move_variables", (s, dir) => {
      // move_variables (reference: modify.py:888-940): o_totalprice moves
      // from the left frame to the right via the outer id-join; the
      // per-variable sums prove the join aligned every row (a duplicated
      // or dropped id would shift a checksum)
      val c = t(s, dir, "customer")
      val left0 = CladeFrame(c.select("c_custkey", "c_acctbal", "c_nationkey"),
        "c_custkey")
      val right0 = CladeFrame(c.select("c_custkey", "c_name"), "c_custkey")
      val (nl, nr) = Modify.moveVariables(left0, right0, only = Some(Seq("c_acctbal")))
      def sums(side: String, cf: CladeFrame) = cf.variables.sorted.map(v =>
        cf.df.agg(count(col(v)).as("n_vals"),
            round(sum(col(v).cast("double")), 2).as("value_sum"))
          .select(lit(side).as("side"), lit(v).as("variable"),
            col("n_vals"), col("value_sum")))
      (sums("left", nl) ++ sums("right", nr)).reduce(_ unionByName _)
        .orderBy("side", "variable")
    },
      () => """SELECT 'left' AS side, 'c_nationkey' AS variable,
           count(c_nationkey) AS n_vals,
           round(sum(CAST(c_nationkey AS DOUBLE)), 2) AS value_sum FROM customer
         UNION ALL
         SELECT 'right', 'c_acctbal', count(c_acctbal),
           round(sum(CAST(c_acctbal AS DOUBLE)), 2) FROM customer
         UNION ALL
         SELECT 'right', 'c_name', count(c_name),
           round(sum(TRY_CAST(c_name AS DOUBLE)), 2) FROM customer
         ORDER BY 1, 2"""))

  /** UNION-arm replay of Modify.yeoJohnsonGrid: one arm per (column
    * expression, lambda) with the branch-exact psi and the identical
    * MLE-variance log-likelihood algebra. */
  private def yeoJohnsonOracleSql(cols: Seq[(String, String)],
                                  lambdas: Seq[Double]): String = {
    val arms = for { (name, expr) <- cols; lam <- lambdas } yield {
      val pos =
        if (lam == 0.0) "ln(x + 1.0)"
        else s"(pow(x + 1.0, $lam) - 1.0) / $lam"
      val neg =
        if (lam == 2.0) "-ln(-x + 1.0)"
        else s"-(pow(-x + 1.0, ${2.0 - lam}) - 1.0) / ${2.0 - lam}"
      s"""SELECT '$name' AS variable, CAST($lam AS DOUBLE) AS lambda,
           CAST(count(x) AS BIGINT) AS n,
           round(CASE WHEN (spp - sp * sp / n0) / n0 <= 0 THEN NULL
             ELSE -n0 / 2.0 * ln((spp - sp * sp / n0) / n0)
               + ($lam - 1.0) * slog END, 4) AS llf
         FROM (SELECT x, count(x) OVER () AS n0,
             sum(CASE WHEN x >= 0 THEN $pos ELSE $neg END) OVER () AS sp,
             sum((CASE WHEN x >= 0 THEN $pos ELSE $neg END)
               * (CASE WHEN x >= 0 THEN $pos ELSE $neg END)) OVER () AS spp,
             sum(CAST(sign(x) AS DOUBLE) * ln(abs(x) + 1.0)) OVER () AS slog
           FROM (SELECT CAST($expr AS DOUBLE) AS x FROM lineitem)
           WHERE x IS NOT NULL)
         GROUP BY n0, sp, spp, slog"""
    }
    arms.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) ORDER BY variable, lambda")
  }
}
