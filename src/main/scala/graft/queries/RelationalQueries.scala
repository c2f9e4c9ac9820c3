package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.{Joins, Layout}
import graft.streaming.EventStreams
import Tables._

/** Relational core and joins: scan, filter, join, aggregate, window and sort
  * (SURVEY §2.1-2.8), the temporal and range joins Spark lacks natively, and
  * the z-order layout. */
private[graft] object RelationalQueries {

  val all: Seq[Q] = Seq(
    Q("q1_pricing_summary", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      () => """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    Q("q2_topk_orders", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(10),
      () => """SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
         ORDER BY price DESC, o_orderkey LIMIT 10"""),

    Q("q3_join_revenue_by_nation", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      // dimension tables broadcast; the orders->customer join shuffles on
      // custkey only after Catalyst prunes to the 3 needed columns
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    },
      () => """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1"""),

    Q("q4_semi_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    },
      () => """SELECT c_mktsegment, count(*) AS n_customers FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY 1 ORDER BY 1"""),

    Q("q5_anti_join", (s, dir) => {
      // customers with NO order above 300k: the threshold keeps the
      // anti-join NON-VACUOUS at every SF (unfiltered, every customer has
      // orders and the result was empty — an oracle that exercised nothing)
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    },
      () => """SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 300000)
         ORDER BY 1"""),

    Q("q6_window_running_sum", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("epoch"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").filter(col("user_id") < 20)
        .withColumn("epoch", floor(unix_timestamp(col("ts"))).cast("long"))
        .withColumn("running_value", round(sum("value").over(w), 4))
        .select("user_id", "epoch", "event_id", "running_value")
        .orderBy("user_id", "epoch", "event_id")
    },
      () => """SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch, event_id,
         round(sum(value) OVER (PARTITION BY user_id ORDER BY floor(epoch(ts)), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
         FROM events WHERE user_id < 20
         ORDER BY user_id, epoch, event_id"""),

    Q("q7_tumbling_hourly", (s, dir) =>
      EventStreams.tumblingCounts(t(s, dir, "events"), "1 hour")
        .select(unix_timestamp(col("window_start")).cast("long").as("hour_start"),
          col("event_type"), col("n"), round(col("total_value"), 4).as("total_value"))
        .orderBy("hour_start", "event_type"),
      () => """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start,
         event_type, count(*) AS n, round(sum(value), 4) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    Q("layout_zorder", (s, dir) =>
      // Z-order clustering-quality report: all-integer bucketize+interleave
      // (exact SQL replay), one ≤4096-group aggregation whatever the input
      Layout.zCellStats(t(s, dir, "lineitem"), "l_partkey", "l_suppkey", bits = 6)
        .orderBy("zcell"),
      () => """WITH b AS (SELECT min(l_partkey) AS mnx, max(l_partkey) AS mxx,
             min(l_suppkey) AS mny, max(l_suppkey) AS mxy FROM lineitem),
         z AS (SELECT l_partkey, l_suppkey,
             ((l_partkey - mnx) * 63) // greatest(mxx - mnx, 1) AS bx,
             ((l_suppkey - mny) * 63) // greatest(mxy - mny, 1) AS by
           FROM lineitem, b),
         zz AS (SELECT l_partkey, l_suppkey,
             CAST((((bx >> 0) & 1) << 0) + (((by >> 0) & 1) << 1) +
             (((bx >> 1) & 1) << 2) + (((by >> 1) & 1) << 3) +
             (((bx >> 2) & 1) << 4) + (((by >> 2) & 1) << 5) +
             (((bx >> 3) & 1) << 6) + (((by >> 3) & 1) << 7) +
             (((bx >> 4) & 1) << 8) + (((by >> 4) & 1) << 9) +
             (((bx >> 5) & 1) << 10) + (((by >> 5) & 1) << 11) AS BIGINT)
               AS zcell
           FROM z)
         SELECT zcell, count(*) AS n_rows,
           min(l_partkey) AS x_min, max(l_partkey) AS x_max,
           min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
         FROM zz GROUP BY 1 ORDER BY 1"""),

    Q("join_asof", (s, dir) => {
      // each click attaches the user's most recent prior purchase
      val e = t(s, dir, "events")
      val mic = unix_micros(col("ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), mic.as("t"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), mic.as("pt"), col("value"))
      Joins.asofJoin(clicks, purchases, Seq("user_id"), "t", "pt",
          rightCols = Seq("value"), prefix = "purchase_")
        .select(col("event_id"), col("user_id"), col("t"),
          col("purchase_pt"), round(col("purchase_value"), 4).as("purchase_value"))
        .orderBy("event_id")
    },
      // events.ts is TIMESTAMP(NANOS); both engines truncate to epoch micros
      // (Spark reads nanosAsLong and keys on unix_micros) so the as-of order
      // is bit-identical
      () => """WITH e AS (SELECT event_id, user_id, event_type, value,
             epoch_ns(ts) // 1000 AS t FROM events),
         l AS (SELECT event_id, user_id, t FROM e WHERE event_type = 'click'),
         r AS (SELECT user_id, t AS pt, value FROM e WHERE event_type = 'purchase')
         SELECT l.event_id, l.user_id, l.t,
           r.pt AS purchase_pt, round(r.value, 4) AS purchase_value
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.t >= r.pt
         ORDER BY l.event_id"""),

    Q("join_asof_forward", (s, dir) => {
      // each click attaches the user's NEXT purchase (forward as-of)
      val e = t(s, dir, "events")
      val mic = unix_micros(col("ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), mic.as("t"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), mic.as("pt"), col("value"))
      Joins.asofJoin(clicks, purchases, Seq("user_id"), "t", "pt",
          rightCols = Seq("value"), prefix = "next_", direction = "forward")
        .select(col("event_id"), col("user_id"), col("t"),
          col("next_pt"), round(col("next_value"), 4).as("next_value"))
        .orderBy("event_id")
    },
      () => """WITH e AS (SELECT event_id, user_id, event_type, value,
             epoch_ns(ts) // 1000 AS t FROM events),
         l AS (SELECT event_id, user_id, t FROM e WHERE event_type = 'click'),
         r AS (SELECT user_id, t AS pt, value FROM e WHERE event_type = 'purchase')
         SELECT l.event_id, l.user_id, l.t,
           r.pt AS next_pt, round(r.value, 4) AS next_value
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.t <= r.pt
         ORDER BY l.event_id"""),

    Q("join_interval", (s, dir) => {
      // overlap join of two interval sets: purchase hours x click
      // half-hours, per user; pair survives in exactly one bucket
      val e = t(s, dir, "events")
      val mic = unix_micros(col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          mic.as("p_start"), (mic + 3600L * 1000 * 1000).as("p_end"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          mic.as("c_start"), (mic + 1800L * 1000 * 1000).as("c_end"))
      Joins.intervalJoin(purchases, clicks, Seq("user_id"),
          "p_start", "p_end", "c_start", "c_end",
          bucketWidth = 3600L * 1000 * 1000)
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_overlap"), min(col("click_id")).as("first_click"))
        .orderBy("purchase_id")
    },
      () => """WITH e AS (SELECT event_id, user_id, event_type,
             epoch_ns(ts) // 1000 AS t FROM events),
         p AS (SELECT event_id AS purchase_id, user_id, t AS p_start,
             t + 3600000000 AS p_end FROM e WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, t AS c_start,
             t + 1800000000 AS c_end FROM e WHERE event_type = 'click')
         SELECT p.purchase_id, CAST(count(*) AS BIGINT) AS n_overlap,
           min(c.click_id) AS first_click
         FROM p JOIN c ON p.user_id = c.user_id
           AND p.p_start <= c.c_end AND c.c_start <= p.p_end
         GROUP BY 1 ORDER BY 1"""),

    Q("join_salted", (s, dir) => {
      // skew-defused equi-join: big side salted by row hash, small side
      // exploded x salt — hot keys spread over `salt` reducers; the result
      // is EXACTLY the plain join (the oracle is the plain join)
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("s_suppkey"), col("l_extendedprice"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      Joins.saltedJoin(li, sup, Seq("s_suppkey"), salt = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          round(sum("l_extendedprice"), 2).as("revenue"))
        .orderBy("s_nationkey")
    },
      () => """SELECT s_nationkey, count(*) AS n,
           round(sum(l_extendedprice), 2) AS revenue
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY 1 ORDER BY 1"""),

    Q("join_range", (s, dir) => {
      // clicks landing inside the hour after each purchase, per user
      val e = t(s, dir, "events")
      val mic = unix_micros(col("ts"))
      val intervals = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          mic.as("w_start"), (mic + lit(3600000000L)).as("w_end"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), mic.as("t"), col("value"))
      Joins.rangeJoin(clicks, intervals, Seq("user_id"), "t",
          "w_start", "w_end", bucketWidth = 3600000000L)
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_clicks"),
          round(sum("value"), 4).as("click_value"))
        .orderBy("purchase_id")
    },
      () => """WITH e AS (SELECT event_id, user_id, event_type, value,
             epoch_ns(ts) // 1000 AS t FROM events),
         p AS (SELECT event_id AS purchase_id, user_id, t AS w_start,
                 t + 3600000000 AS w_end FROM e WHERE event_type = 'purchase'),
         c AS (SELECT user_id, t, value FROM e WHERE event_type = 'click')
         SELECT p.purchase_id, CAST(count(*) AS BIGINT) AS n_clicks,
           round(sum(c.value), 4) AS click_value
         FROM p JOIN c ON p.user_id = c.user_id
           AND c.t BETWEEN p.w_start AND p.w_end
         GROUP BY 1 ORDER BY 1"""),

    Q("fuzzy_join_parts", (s, dir) => {
      // near-miss NAME VARIANTS in the part catalog: fuzzy-link the distinct
      // name vocabulary, not the rows — dedupe-before-quadratic-verify is
      // the scale pattern (row-level blocking on a catalog that is mostly
      // duplicate names degenerates to |rows-per-name|² pairs).
      // maxDist = 3: the tightest radius at which the TPC-H color vocabulary
      // has real near-misses (32 pairs at every SF) — at 2 the oracle
      // compared empty results and exercised nothing (ADVICE r5)
      val p = t(s, dir, "part")
      val a = p.select(col("p_name").as("a_name")).distinct()
      val b = p.select(col("p_name").as("b_name")).distinct()
      Joins.fuzzyJoin(a, b, "a_name", "b_name", maxDist = 3, prefixLen = 4)
        .filter(col("edit_dist") >= 1)
        .groupBy(col("a_name"))
        .agg(count(lit(1)).as("n_near"), min(col("edit_dist")).as("min_dist"))
        .orderBy("a_name")
    },
      () => """WITH n AS (SELECT DISTINCT p_name FROM part)
         SELECT a.p_name AS a_name, CAST(count(*) AS BIGINT) AS n_near,
           CAST(min(levenshtein(lower(a.p_name), lower(b.p_name))) AS INT)
             AS min_dist
         FROM n a JOIN n b
           ON substr(lower(a.p_name), 1, 4) = substr(lower(b.p_name), 1, 4)
           AND abs(length(a.p_name) - length(b.p_name)) <= 3
           AND levenshtein(lower(a.p_name), lower(b.p_name)) BETWEEN 1 AND 3
         GROUP BY 1 ORDER BY 1"""))
}
