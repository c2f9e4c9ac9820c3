package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Joins
import graft.streaming.EventStreams
import SparkEntry.{sig6, sqlSig6}
import Tables._

/** Event streams: windows, funnels, drift monitors and sessionization. */
private[graft] object EventQueries {

  val all: Seq[Q] = Seq(
    Q("events_interarrival", (s, dir) => {
      // per-user inter-event gap profile: one shuffle on user_id, window
      // lag; gap multiset is tie-order invariant so the agg is exact
      val mic = unix_micros(col("ts"))
      val w = Window.partitionBy("user_id").orderBy("t")
      t(s, dir, "events").select(col("user_id"), mic.as("t"))
        .withColumn("gap", col("t") - lag("t", 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          min("gap").as("min_gap_us"),
          max("gap").as("max_gap_us"),
          // EXACT cross-engine average: integer gap sums stay < 2^53
          // (a user's gaps sum to its time span), so sum(long)/n is the
          // same two IEEE ops in Spark and DuckDB; sig6 instead of
          // round(x, 4) because the engines ROUND differently — Spark via
          // exact BigDecimal, DuckDB via float multiply — which diverges
          // on halfway decimals and on 1e10-magnitude values (measured at
          // sf0.1); sig6 runs both engines through the identical
          // float-scaled path, so ties land the same side
          sig6(sum("gap").cast("double") / count(lit(1))).as("avg_gap_us"))
        .orderBy("user_id")
    },
      () => s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS t FROM events),
         g AS (SELECT user_id,
                 t - lag(t) OVER (PARTITION BY user_id ORDER BY t) AS gap
               FROM e)
         SELECT user_id, count(*) AS n_gaps,
           CAST(min(gap) AS BIGINT) AS min_gap_us,
           CAST(max(gap) AS BIGINT) AS max_gap_us,
           ${sqlSig6("(CAST(sum(gap) AS DOUBLE) / count(*))")} AS avg_gap_us
         FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1"""),

    Q("events_funnel", (s, dir) => {
      // strict-order funnel view -> click -> purchase on first-touch
      // times: ONE groupBy computes every user's stage timestamps, one
      // tiny aggregate counts the stages (no joins, no windows)
      val mic = unix_micros(col("ts"))
      val f = t(s, dir, "events").groupBy("user_id").agg(
        min(when(col("event_type") === "view", mic)).as("t_view"),
        min(when(col("event_type") === "click", mic)).as("t_click"),
        min(when(col("event_type") === "purchase", mic)).as("t_purchase"))
      f.agg(count(lit(1)).as("n_users"),
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("viewed"),
        sum(when(col("t_view") < col("t_click"), 1L).otherwise(0L))
          .as("clicked_after_view"),
        sum(when(col("t_view") < col("t_click") &&
            col("t_click") < col("t_purchase"), 1L).otherwise(0L))
          .as("full_funnel"))
    },
      () => """WITH f AS (SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) // 1000 END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000 END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000 END) AS t_purchase
           FROM events GROUP BY 1)
         SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
           CAST(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
           CAST(sum(CASE WHEN t_view < t_click AND t_click < t_purchase
                    THEN 1 ELSE 0 END) AS BIGINT) AS full_funnel
         FROM f"""),

    Q("events_resample", (s, dir) =>
      // complete hourly spine per event type: gap hours carry n=0 and a
      // forward-filled mean value; spine rows = hours × types built from
      // one broadcast bounds row (never event-row scale)
      EventStreams.resampleHourly(t(s, dir, "events"))
        .select(col("event_type"),
          unix_timestamp(col("hour")).cast("long").as("hour_start"),
          // sig6: same cross-engine halfway-decimal rounding divergence
          // as events_moving_avg's ma
          col("n"), sig6(col("ffill_avg")).as("ffill_avg"))
        .orderBy("event_type", "hour_start"),
      () => s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
             count(*) AS n, avg(value) AS av FROM events GROUP BY 1, 2),
         b AS (SELECT min(date_trunc('hour', ts)) AS mn,
                 max(date_trunc('hour', ts)) AS mx FROM events),
         s AS (SELECT t.event_type, g.hour
               FROM (SELECT DISTINCT event_type FROM events) t
               CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
                             AS hour FROM b) g)
         , fl AS (SELECT s.event_type, CAST(floor(epoch(s.hour)) AS BIGINT) AS hour_start,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n,
           last_value(h.av IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f0
         FROM s LEFT JOIN h ON s.event_type = h.event_type AND s.hour = h.hour)
         SELECT event_type, hour_start, n, ${sqlSig6("f0")} AS ffill_avg
         FROM fl ORDER BY 1, 2"""),

    Q("events_anomaly", (s, dir) =>
      // hourly volume spikes/dips: hours > 2 sample-sd from the type's own
      // mean hourly count; per-type moments broadcast onto the hourly frame
      EventStreams.hourlyAnomaly(t(s, dir, "events"), zThreshold = 2.0)
        .select(col("event_type"),
          unix_timestamp(col("hour")).cast("long").as("hour_start"),
          col("n"), round(col("z"), 6).as("z"))
        .orderBy("event_type", "hour_start"),
      () => """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
             count(*) AS n FROM events GROUP BY 1, 2),
         st AS (SELECT event_type, avg(n) AS m, stddev_samp(n) AS sd
                FROM h GROUP BY 1)
         SELECT h.event_type, CAST(floor(epoch(hour)) AS BIGINT) AS hour_start,
           CAST(n AS BIGINT) AS n, round((n - m) / sd, 6) AS z
         FROM h JOIN st USING (event_type)
         WHERE sd > 0 AND abs((n - m) / sd) > 2
         ORDER BY 1, 2"""),

    Q("events_active_users", (s, dir) =>
      // DAU/WAU/MAU rollup: distinct (day, user) first, then a bounded
      // 30x explode of the tiny distinct table — never a sliding self-join
      EventStreams.activeUsers(t(s, dir, "events"))
        .select(unix_timestamp(col("day")).cast("long").as("day_start"),
          col("dau"), col("wau"), col("mau"))
        .orderBy("day_start"),
      () => """WITH ud AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
             user_id AS u
           FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         grid AS (SELECT DISTINCT day AS tday FROM ud),
         c AS (SELECT day + CAST(r.range AS INTEGER) AS tday, day, u
           FROM ud CROSS JOIN range(30) r),
         j AS (SELECT c.tday, c.day, c.u FROM c JOIN grid USING (tday))
         SELECT CAST(floor(epoch(tday)) AS BIGINT) AS day_start,
           CAST(count(DISTINCT CASE WHEN tday = day THEN u END) AS BIGINT) AS dau,
           CAST(count(DISTINCT CASE WHEN tday - day <= 6 THEN u END) AS BIGINT) AS wau,
           CAST(count(DISTINCT u) AS BIGINT) AS mau
         FROM j GROUP BY 1 ORDER BY 1"""),

    Q("events_cusum_drift", (s, dir) =>
      // sequential-shift detector over hourly volumes: the CUSUM
      // recurrence in its prefix form, all comparisons exact int64
      EventStreams.cusumHourly(t(s, dir, "events"), slack = 0L, threshold = 10L)
        .select(col("event_type"), col("n_hours"), col("total"),
          round(col("max_cusum"), 6).as("max_cusum"), col("n_alarms"),
          unix_timestamp(col("first_alarm_hour")).cast("long").as("first_alarm_hour"))
        .orderBy("event_type"),
      () => """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
         st AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS sx,
             CAST(count(*) AS BIGINT) AS nh FROM h GROUP BY 1),
         e AS (SELECT h.event_type, h.hour, h.n, st.sx, st.nh,
             nh * n - sx AS ev FROM h JOIN st USING (event_type)),
         p AS (SELECT *, CAST(sum(ev) OVER (PARTITION BY event_type
             ORDER BY hour) AS BIGINT) AS pp FROM e),
         s AS (SELECT *, pp - least(CAST(0 AS BIGINT),
             CAST(min(pp) OVER (PARTITION BY event_type ORDER BY hour) AS BIGINT)) AS ss
           FROM p),
         a AS (SELECT *, ss > nh * 10 AS alarm FROM s)
         SELECT event_type, max(nh) AS n_hours, max(sx) AS total,
           round(CAST(max(ss) AS DOUBLE) / max(nh), 6) AS max_cusum,
           CAST(count(*) FILTER (WHERE alarm) AS BIGINT) AS n_alarms,
           CAST(floor(epoch(min(hour) FILTER (WHERE alarm))) AS BIGINT) AS first_alarm_hour
         FROM a GROUP BY 1 ORDER BY 1"""),

    Q("events_drift_monitor", (s, dir) => {
      // streaming drift gate, batch shape (stream ≡ batch by shared
      // plan, parity-tested on MemoryStream in StreamingSpec): day-1
      // values are the static reference profile (O(bins) plan literals);
      // every hourly window scores PSI + binned-KS + verdict against it
      val ev = t(s, dir, "events")
      val ref = graft.streaming.DriftMonitor.buildReference(
        ev.filter(col("ts") < lit("2024-01-02 00:00:00").cast("timestamp")),
        "value", bins = 10)
      // r13: the cross-window CUSUM stage rides the same scored windows —
      // a persistent small location shift that never trips one window's
      // PSI accumulates in cusum_up/cusum_dn (prefix form, slack 0,
      // threshold 1 bin·window)
      graft.streaming.DriftMonitor.cusumBinnedScores(
          graft.streaming.DriftMonitor.windowedDrift(ev, "ts", "value", ref, "1 hour"))
        .select(unix_timestamp(col("window_start")).cast("long").as("hour_start"),
          col("n"), round(col("psi"), 6).as("psi"),
          round(col("ks_binned"), 6).as("ks_binned"), col("verdict"),
          round(col("loc_shift"), 6).as("loc_shift"),
          round(col("cusum_up"), 6).as("cusum_up"),
          round(col("cusum_dn"), 6).as("cusum_dn"), col("cusum_alarm"))
        .orderBy("hour_start")
    },
      () => driftMonitorOracleSql),

    Q("events_drift_vector", (s, dir) => {
      // the RESTART-DURABLE drift pipeline's batch shape (r15): ONE
      // windowed aggregation producing the per-window bin-count VECTOR
      // (conditional sums — no second streaming agg), stateless
      // scoreVector scoring, the same CUSUM columns. Bit-identical to
      // events_drift_monitor by the shared scoreFolded expressions
      // (spec-asserted), so the SAME oracle replays it; in streaming form
      // this plan chains legally into the checkpointed CUSUM
      // (durableDriftMonitor, kill-and-restart parity-tested).
      val ev = t(s, dir, "events")
      val ref = graft.streaming.DriftMonitor.buildReference(
        ev.filter(col("ts") < lit("2024-01-02 00:00:00").cast("timestamp")),
        "value", bins = 10)
      graft.streaming.DriftMonitor.cusumBinnedScores(
          graft.streaming.DriftMonitor.scoreVector(
            graft.streaming.DriftMonitor.windowedBinVector(
              ev, "ts", "value", ref, "1 hour"), ref))
        .select(unix_timestamp(col("window_start")).cast("long").as("hour_start"),
          col("n"), round(col("psi"), 6).as("psi"),
          round(col("ks_binned"), 6).as("ks_binned"), col("verdict"),
          round(col("loc_shift"), 6).as("loc_shift"),
          round(col("cusum_up"), 6).as("cusum_up"),
          round(col("cusum_dn"), 6).as("cusum_dn"), col("cusum_alarm"))
        .orderBy("hour_start")
    },
      // the vector-scored form is bit-identical by construction (shared
      // scoreFolded expressions, spec-asserted) — same replay
      () => driftMonitorOracleSql),

    Q("events_funnel_windowed", (s, dir) => {
      // per-view funnel with a 24-hour conversion window at each step:
      // two FORWARD as-of joins (view→next click, click→next purchase),
      // each ONE shuffle — the composition that replaces MATCH_RECOGNIZE.
      // 24h is the tightest round window where every leg fires on the
      // synthetic event density (1h left the final leg vacuous at all SFs)
      val ev = t(s, dir, "events")
      def stage(tp: String, out: String) =
        ev.filter(col("event_type") === tp)
          .select(col("user_id"), unix_micros(col("ts")).as(out))
      val hourUs = 24L * 3600L * 1000000L
      val vc = Joins.asofJoin(stage("view", "t_view"), stage("click", "t_click"),
        keys = Seq("user_id"), leftTs = "t_view", rightTs = "t_click",
        rightCols = Nil, prefix = "c_", tolerance = Some(hourUs),
        direction = "forward")
      val vcp = Joins.asofJoin(vc, stage("purchase", "t_purchase"),
        keys = Seq("user_id"), leftTs = "c_t_click", rightTs = "t_purchase",
        rightCols = Nil, prefix = "p_", tolerance = Some(hourUs),
        direction = "forward")
      vcp.agg(count(lit(1)).as("n_views"),
        sum(when(col("c_t_click").isNotNull, 1L).otherwise(0L)).as("clicked_24h"),
        sum(when(col("c_t_click").isNotNull && col("p_t_purchase").isNotNull, 1L)
          .otherwise(0L)).as("full_24h"))
    },
      () => """WITH v AS (SELECT user_id, epoch_ns(ts) // 1000 AS t FROM events
             WHERE event_type = 'view'),
         c AS (SELECT user_id, epoch_ns(ts) // 1000 AS t FROM events
             WHERE event_type = 'click'),
         p AS (SELECT user_id, epoch_ns(ts) // 1000 AS t FROM events
             WHERE event_type = 'purchase'),
         vc AS (SELECT v.user_id, v.t,
                  (SELECT min(c.t) FROM c
                   WHERE c.user_id = v.user_id AND c.t >= v.t) AS tc0
                FROM v),
         vc2 AS (SELECT user_id, t,
                   CASE WHEN tc0 IS NOT NULL AND tc0 - t <= 86400000000
                        THEN tc0 END AS tc
                 FROM vc),
         vcp AS (SELECT vc2.user_id, vc2.t, vc2.tc,
                   CASE WHEN vc2.tc IS NOT NULL THEN
                     (SELECT min(p.t) FROM p
                      WHERE p.user_id = vc2.user_id AND p.t >= vc2.tc) END AS tp0
                 FROM vc2),
         f AS (SELECT user_id, t, tc,
                 CASE WHEN tp0 IS NOT NULL AND tp0 - tc <= 86400000000
                      THEN tp0 END AS tp FROM vcp)
         SELECT count(*) AS n_views,
           CAST(sum(CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS clicked_24h,
           CAST(sum(CASE WHEN tc IS NOT NULL AND tp IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS full_24h
         FROM f"""),

    Q("events_markov", (s, dir) => {
      // first-order behavior model: P(next event type | current) from
      // per-user time-ordered transitions — one lag window keyed by user,
      // one O(#types²) pair aggregation, probabilities row-normalized
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = Window.partitionBy("from_type")
      pairs
        .withColumn("p", round(col("n") / sum(col("n")).over(tot), 6))
        .orderBy("from_type", "to_type")
    },
      () => """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t,
             event_type FROM events),
         s AS (SELECT event_type,
                 lead(event_type) OVER
                   (PARTITION BY user_id ORDER BY t, event_id) AS next_type
               FROM e),
         c AS (SELECT event_type AS from_type, next_type AS to_type,
                 count(*) AS n
               FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE) /
             sum(n) OVER (PARTITION BY from_type), 6) AS p
         FROM c ORDER BY 1, 2"""),

    Q("events_sliding_distinct", (s, dir) =>
      // distinct users per 3-hour window sliding hourly: each event lands
      // in 3 windows (bounded replication), exact distinct per (window,
      // type) — the overlapping-window distinct that resists naive reuse
      t(s, dir, "events")
        .groupBy(window(col("ts"), "3 hours", "1 hour"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(unix_timestamp(col("window.start")).cast("long").as("w_start"),
          col("event_type"), col("n_users"))
        .orderBy("w_start", "event_type"),
      () => """WITH w AS (SELECT user_id, event_type,
             date_trunc('hour', ts) - to_hours(g.k) AS w_start
           FROM events CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) g)
         SELECT CAST(floor(epoch(w_start)) AS BIGINT) AS w_start, event_type,
           count(DISTINCT user_id) AS n_users
         FROM w GROUP BY 1, 2 ORDER BY 1, 2"""),

    Q("events_scd2", (s, dir) =>
      // SCD2 state history: per-user validity intervals from the event
      // stream (consecutive repeats merge; open state has null valid_to);
      // both windows partition by user — key-parallel, never global
      EventStreams.scd2History(t(s, dir, "events"))
        .orderBy("user_id", "valid_from"),
      () => """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t,
             event_type FROM events),
         d AS (SELECT *, lag(event_type) OVER
                 (PARTITION BY user_id ORDER BY t, event_id) AS prev FROM e),
         f AS (SELECT user_id, event_id, t, event_type FROM d
               WHERE prev IS NULL OR prev <> event_type),
         g AS (SELECT user_id, event_type, t AS valid_from,
                 lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                   AS valid_to FROM f)
         SELECT user_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current
         FROM g ORDER BY user_id, valid_from"""),

    Q("events_retention", (s, dir) => {
      // cohort retention matrix: users bucketed by first-seen day, counted
      // at each day offset they return. ONE event-scale shuffle: the
      // per-user active-day SET aggregates with map-side combine (bounded
      // by the date range, ~30 entries), cohort = min of the set, offsets
      // explode locally, and the O(days²)-group cell count is a plain
      // count(*) — each (user, day) appears exactly once post-set, so no
      // per-cell distinct state (which scaled superlinearly: the old
      // join + countDistinct shape measured ×3.7 at ×10 data)
      val perUser = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .groupBy("user_id").agg(collect_set(col("d")).as("days"))
      perUser
        .select(array_min(col("days")).as("cohort_d"), explode(col("days")).as("d"))
        .groupBy(col("cohort_d"), datediff(col("d"), col("cohort_d")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        // date → ISO string: parquet DATE and DuckDB DATE reach the
        // comparator as different dtypes even when values agree
        .select(date_format(col("cohort_d"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_users"))
        .orderBy("cohort_day", "day_offset")
    },
      () => """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
         f AS (SELECT user_id, min(d) AS cohort_d FROM e GROUP BY 1)
         SELECT strftime(cohort_d, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', cohort_d, d) AS INT) AS day_offset,
           count(DISTINCT e.user_id) AS n_users
         FROM e JOIN f ON e.user_id = f.user_id
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    Q("events_moving_avg", (s, dir) => {
      // trailing 1-hour time-RANGE window frame (interval lookback, not a
      // row count): one shuffle on event_type, one pass per partition with
      // a sliding frame — tie-safe because RANGE includes all equal keys
      val w = Window.partitionBy("event_type").orderBy(col("t"))
        .rangeBetween(-3600000000L, Window.currentRow)
      t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_type"), unix_micros(col("ts")).as("t"), col("value"),
          // exact integer cents: the measurements are 2-decimal, and the
          // regular event spacing makes window counts power-of-two-dense,
          // so float window sums land on EXACT .5 rounding ties that
          // ±1-ulp accumulation-order noise flips per engine (89 rows at
          // sf0.1). The sliding integer sum is order-free and exact in
          // both engines; ma is then two identical IEEE ops + sig6.
          round(col("value") * 100, 0).cast("long").as("__cents"))
        .withColumn("n_win", count(lit(1)).over(w))
        .withColumn("ma",
          sum("__cents").over(w).cast("double") / (col("n_win") * lit(100.0)))
        .select(col("event_type"), col("t"), round(col("value"), 4).as("value"),
          col("n_win"), sig6(col("ma")).as("ma"))
        .orderBy("event_type", "t")
    },
      () => s"""WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS t, value,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         win AS (SELECT event_type, t, round(value, 4) AS value,
             count(*) OVER w AS n_win,
             CAST(sum(cents) OVER w AS DOUBLE) / (count(*) OVER w * 100.0) AS ma0
           FROM e
           WINDOW w AS (PARTITION BY event_type ORDER BY t
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
         SELECT event_type, t, value, n_win, ${sqlSig6("ma0")} AS ma
         FROM win ORDER BY 1, 2"""),

    Q("events_json_extract", (s, dir) => {
      // semi-structured payloads: schema-projected from_json (codegen'd;
      // only the needed field is materialized)
      val parsed = t(s, dir, "events").withColumn("k",
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k"))
      parsed.groupBy("event_type")
        .agg(count(col("k")).as("n_k"), sum("k").as("sum_k"),
          round(avg("k"), 6).as("avg_k"))
        .orderBy("event_type")
    },
      () => """SELECT event_type,
         count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k
         FROM events GROUP BY 1 ORDER BY 1"""),

    Q("sessionize_events", (s, dir) => {
      import s.implicits._
      // predicate BEFORE the stateful op: sessionization is per-user, so
      // the user slice prunes the scan — Catalyst cannot push a filter
      // through mapGroups itself (plan-audit finding, r3)
      EventStreams.sessionize(s, t(s, dir, "events").filter(col("user_id") < 50),
          gapSeconds = 1800)
        .groupByKey(_.user_id)
        .mapGroups((u, it) => {
          val ss = it.toSeq
          (u, ss.size.toLong, ss.map(_.n_events).sum)
        })
        .toDF("user_id", "n_sessions", "n_events")
        .filter(col("user_id") < 50)
        .orderBy("user_id")
    },
      () => """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep
                    FROM events WHERE user_id < 50),
         g AS (SELECT user_id, ep,
                 CASE WHEN ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id) > 1800
                      THEN 1 ELSE 0 END AS new_session
               FROM e),
         s AS (SELECT user_id, sum(new_session) OVER (PARTITION BY user_id ORDER BY ep
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
               FROM g)
         SELECT user_id, CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           count(*) AS n_events
         FROM s GROUP BY 1 ORDER BY 1"""))

  /** Shared by events_drift_monitor and events_drift_vector (the two
    * scoring forms are bit-identical by the shared scoreFolded
    * expressions — spec-asserted). Full replay: reference equi-depth
    * edges (quantile_cont = the engine's type-7), per-bin reference
    * proportions, per-hour window bin proportions, PSI with the eps
    * floor, binned KS via windowed cumulative sums over the bin order,
    * verdict bands on raw psi, CUSUM prefix form. */
  private def driftMonitorOracleSql: String = {
    val probs = (1 until 10).map(i => s"0.$i").mkString(", ")
    val binChain = (1 to 9)
      .map(i => s"(CASE WHEN value > be[$i] THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH refv AS (SELECT CAST(value AS DOUBLE) AS value FROM events
           WHERE ts < TIMESTAMP '2024-01-02 00:00:00' AND value IS NOT NULL),
       b AS (SELECT quantile_cont(value, [$probs]) AS be FROM refv),
       refb AS (SELECT $binChain AS bin, count(*) AS n FROM refv, b GROUP BY 1),
       reft AS (SELECT sum(n) AS t FROM refb),
       props AS (SELECT g.bin, CAST(coalesce(refb.n, 0) AS DOUBLE) / reft.t AS p
         FROM generate_series(0, 9) g(bin) LEFT JOIN refb USING (bin), reft),
       curv AS (SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start,
           $binChain AS bin
         FROM events, b WHERE value IS NOT NULL),
       curb AS (SELECT hour_start, bin, count(*) AS n FROM curv GROUP BY 1, 2),
       curt AS (SELECT hour_start, sum(n) AS t FROM curb GROUP BY 1),
       cells AS (SELECT curt.hour_start, props.bin, props.p, curt.t,
           CAST(coalesce(curb.n, 0) AS DOUBLE) / curt.t AS q
         FROM curt CROSS JOIN props
         LEFT JOIN curb ON curb.hour_start = curt.hour_start AND curb.bin = props.bin),
       cums AS (SELECT hour_start, t,
           greatest(p, 1.0e-6) AS pf, greatest(q, 1.0e-6) AS qf,
           sum(p) OVER (PARTITION BY hour_start ORDER BY bin) AS cp,
           sum(q) OVER (PARTITION BY hour_start ORDER BY bin) AS cq
         FROM cells),
       scored AS (SELECT hour_start, CAST(max(t) AS BIGINT) AS n,
           sum((pf - qf) * ln(pf / qf)) AS psi_raw,
           max(abs(cp - cq)) AS ks_raw
         FROM cums GROUP BY 1),
       mu AS (SELECT sum(bin * p) AS m FROM props),
       locs AS (SELECT hour_start, sum(bin * q) AS mq FROM cells GROUP BY 1),
       ser AS (SELECT hour_start, mq - mu.m AS d FROM locs, mu),
       pre AS (SELECT hour_start, d, sum(d) OVER (ORDER BY hour_start) AS p FROM ser),
       cus AS (SELECT hour_start, d,
           p - least(0.0, min(p) OVER (ORDER BY hour_start)) AS s_up,
           greatest(0.0, max(p) OVER (ORDER BY hour_start)) - p AS s_dn
         FROM pre)
       SELECT scored.hour_start, n, round(psi_raw, 6) AS psi,
         round(ks_raw, 6) AS ks_binned,
         CASE WHEN psi_raw >= 0.25 THEN 'action'
              WHEN psi_raw >= 0.1 THEN 'warning' ELSE 'stable' END AS verdict,
         round(d, 6) AS loc_shift, round(s_up, 6) AS cusum_up,
         round(s_dn, 6) AS cusum_dn,
         greatest(s_up, s_dn) > 1.0 AS cusum_alarm
       FROM scored JOIN cus USING (hour_start) ORDER BY hour_start"""
  }
}
