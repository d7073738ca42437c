package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.registry.OracleSql._
import graft.registry.Query.sql
import graft.operators.{Analytics, Etl, Observability}

/** Analytics and statistics queries: windows, cohorts, funnels, tests, survival,
  * time series, rollups and rankings. */
private[graft] object StatsQueries {

  val all: Seq[Query] = Seq(
    // §2.28 — batch dual of the streaming hourly window aggregation
    Query("q_event_windows", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).cast("date").as("window_day"),
          hour(date_trunc("hour", col("ts"))).as("window_hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          Etl.moneySum(col("value")).as("sum_value")),
      sql("""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS DATE) AS window_day,
        |  CAST(hour(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS INTEGER) AS window_hour,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin)),

    // §2.28b — cohort retention triangle: distinct users per
    // (first-seen day, day offset); exact integer counts
    Query("q_cohort_retention", (s, dir) =>
      Observability.cohortRetention(Tables.events(s, dir)),
      sql("""WITH activity AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |cohorts AS (
        |  SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id)
        |SELECT c.cohort_day,
        |  CAST(a.day - c.cohort_day AS BIGINT) AS day_offset,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM activity a JOIN cohorts c USING (user_id)
        |GROUP BY 1, 2""".stripMargin)),

    // §2.28c — strict-order funnel on first occurrences
    // (view -> click -> purchase): one row per step with reach counts
    Query("q_funnel", (s, dir) =>
      Observability.funnel(Tables.events(s, dir),
        Seq("view", "click", "purchase")),
      sql("""WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t1,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t2,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t3
        |  FROM events GROUP BY user_id),
        |d AS (
        |  SELECT user_id,
        |    CASE WHEN t1 IS NULL THEN 0
        |         WHEN t2 IS NULL OR t2 < t1 THEN 1
        |         WHEN t3 IS NULL OR t3 < t2 THEN 2
        |         ELSE 3 END AS depth
        |  FROM f)
        |SELECT CAST(s.i AS BIGINT) AS step_idx,
        |  CASE s.i WHEN 1 THEN 'view' WHEN 2 THEN 'click' ELSE 'purchase' END AS step,
        |  count(*) AS n_users
        |FROM d JOIN range(1, 4) AS s(i) ON d.depth >= s.i
        |GROUP BY 1, 2""".stripMargin)),

    // §2.66b — per-user exponentially time-decayed engagement score:
    // last-16 events, power-of-two weights over exact cents — the
    // recency feature with zero float/order hazard
    Query("q_decay_score", (s, dir) =>
      Analytics.decayScores(Tables.events(s, dir),
        "user_id", "ts", "event_id", "value"),
      sql("""WITH c AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |r AS (
        |  SELECT user_id, cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM c)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_recent,
        |  CAST(sum(cents * (CAST(1 AS BIGINT) << (16 - rn))) AS BIGINT)
        |    AS decay_cents
        |FROM r WHERE rn <= 16 GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // §2.59c — zone-map pruning audit: per-tile min/max footer stats +
    // prune verdicts for a one-day ts probe (prunable on time-ordered
    // storage) and a user-prefix probe (not prunable unclustered — the
    // measured case for Z-ordering)
    Query("q_zone_map", (s, dir) =>
      Analytics.zoneMap(Tables.events(s, dir), "event_id", "ts", "user_id",
        tileSize = 250L, tsLoUs = 1704672000000000L,
        tsHiUs = 1704758400000000L, userLt = 100L),
      // interval arithmetic over per-tile min/max — the footer-stat prune
      // replayed tile by tile
      sql("""WITH t AS (
        |  SELECT event_id // 250 AS tile,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, user_id
        |  FROM events)
        |SELECT tile, count(*) AS n_rows,
        |  min(ts_us) AS ts_min_us, max(ts_us) AS ts_max_us,
        |  min(user_id) AS user_min, max(user_id) AS user_max,
        |  (max(ts_us) < 1704672000000000 OR min(ts_us) >= 1704758400000000)
        |    AS prunable_ts,
        |  (min(user_id) >= 100) AS prunable_user
        |FROM t GROUP BY tile ORDER BY tile""".stripMargin)),

    // §2.29 — exact percentiles of event value per type
    Query("q_event_percentiles", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value")),
      sql("""SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.95) AS p95,
        |  min(value) AS min_value,
        |  max(value) AS max_value
        |FROM events GROUP BY event_type""".stripMargin)),

    // §2.29b — per-type z-score outliers (sensor-threshold alarms): the
    // cleared-denominator integer test (n·v−Σv)² > z²(n·Σv²−Σv²) in
    // 128-bit decimals — no float stddev, so the flag can't flap across
    // engines or partition orders; corpus scanned twice, shuffled never
    Query("q_event_anomaly", (s, dir) =>
      Observability.eventAnomalies(Tables.events(s, dir), z = 3),
      // the cleared-denominator test replays in HUGEINTs (the oracle's
      // int128) against Spark's decimal(38,0) — exact on both sides
      sql("""WITH b AS (
        |  SELECT event_id, event_type, value,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v_c
        |  FROM events),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v_c) AS BIGINT) AS s1,
        |    CAST(sum(v_c * v_c) AS BIGINT) AS s2
        |  FROM b GROUP BY event_type),
        |j AS (
        |  SELECT b.event_id, b.event_type, b.value,
        |    CAST(st.n AS HUGEINT) * b.v_c - st.s1 AS dev,
        |    CAST(st.n AS HUGEINT) * st.s2
        |      - CAST(st.s1 AS HUGEINT) * st.s1 AS vt
        |  FROM b JOIN st USING (event_type))
        |SELECT event_id, event_type, value,
        |  floor(CAST(dev AS DOUBLE) / sqrt(CAST(vt AS DOUBLE)) * 10000.0
        |    + 0.5) / 10000.0 AS zscore_r,
        |  dev > 0 AS high
        |FROM j WHERE dev * dev > 9 * vt""".stripMargin)),

    // §2.29c — robust stats: exact-integer median + MAD per event type
    // with the k-MAD outlier count — the heavy-tail-safe complement of
    // 29b's z-score gate; both rank stats off bounded histograms, rows
    // never globally sort
    Query("q_robust_stats", (s, dir) =>
      Analytics.robustStats(Tables.events(s, dir), "event_type", "value",
        k = 3),
      // both rank stats replayed off the bounded histograms: median at
      // ceil(n/2), MAD as the same form over |cents - median|, k-MAD count
      sql("""WITH c AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events
        |  WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) IS NOT NULL),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM c GROUP BY 1),
        |h AS (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS cnt
        |  FROM c GROUP BY 1, 2),
        |cu AS (SELECT event_type, cents,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h),
        |med AS (
        |  SELECT cu.event_type,
        |    min(CASE WHEN cum >= (n.n + 1) // 2 THEN cents END) AS med_c
        |  FROM cu JOIN n ON n.event_type = cu.event_type GROUP BY 1),
        |d AS (
        |  SELECT c.event_type, abs(c.cents - m.med_c) AS dev,
        |    c.cents, m.med_c
        |  FROM c JOIN med m ON m.event_type = c.event_type),
        |hd AS (SELECT event_type, dev, CAST(count(*) AS BIGINT) AS cnt
        |  FROM d GROUP BY 1, 2),
        |cud AS (SELECT event_type, dev,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY dev
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hd),
        |mad AS (
        |  SELECT cud.event_type,
        |    min(CASE WHEN cum >= (n.n + 1) // 2 THEN dev END) AS mad_c
        |  FROM cud JOIN n ON n.event_type = cud.event_type GROUP BY 1)
        |SELECT d.event_type, n.n,
        |  CAST(min(d.med_c) AS DOUBLE) / 100 AS median,
        |  CAST(min(mad.mad_c) AS DOUBLE) / 100 AS mad,
        |  CAST(sum(CASE WHEN abs(d.cents - d.med_c) > 3 * mad.mad_c
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(sum(CASE WHEN abs(d.cents - d.med_c) > 3 * mad.mad_c
        |    THEN 1 ELSE 0 END) * 10000 // n.n AS BIGINT) AS outlier_bp
        |FROM d
        |JOIN mad ON mad.event_type = d.event_type
        |JOIN n ON n.event_type = d.event_type
        |GROUP BY d.event_type, n.n
        |ORDER BY d.event_type""".stripMargin)),

    // §2.30 — salted two-phase aggregation (skewed-key pattern); result is
    // identical to a direct groupBy, which is exactly what the oracle checks
    Query("q_salted_agg", (s, dir) =>
      Etl.saltedSumCount(Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value")),
        key = "event_type", valueCol = "value", salt = 16),
      sql("""SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  count(value) AS n_rows
        |FROM events GROUP BY event_type""".stripMargin)),

    // §2.30b — hot-key SPLIT join (the join-side of §2.30's salting, and
    // the explicit form of AQE skew handling): hot keys broadcast, cold
    // keys shuffle, union certified equal to the plain join per tier
    Query("q_skew_join", (s, dir) =>
      Etl.skewSplitJoin(Tables.events(s, dir), "user_id", "value",
        hotThreshold = 1000L),
      // hot set, both branches, the union, and the plain join all replayed;
      // exact cents make the verdict bit-exact
      sql("""WITH f AS (
        |  SELECT CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id END AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |d AS (SELECT k, CAST(k % 7 AS INT) AS tier
        |  FROM (SELECT DISTINCT k FROM f)),
        |hot AS (SELECT k FROM f GROUP BY k HAVING count(*) > 1000),
        |hp AS (SELECT f.k, f.cents, d.tier
        |  FROM f JOIN hot ON f.k = hot.k JOIN d ON f.k = d.k),
        |cp AS (SELECT f.k, f.cents, d.tier
        |  FROM f LEFT JOIN hot ON f.k = hot.k JOIN d ON f.k = d.k
        |  WHERE hot.k IS NULL),
        |u AS (
        |  SELECT tier, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM (SELECT * FROM hp UNION ALL SELECT * FROM cp) GROUP BY 1),
        |p AS (
        |  SELECT d.tier, CAST(count(*) AS BIGINT) AS n_plain,
        |    CAST(sum(f.cents) AS BIGINT) AS cents_plain
        |  FROM f JOIN d ON f.k = d.k GROUP BY 1)
        |SELECT u.tier, u.n_rows, u.sum_cents,
        |  (u.n_rows = p.n_plain AND u.sum_cents = p.cents_plain)
        |    AS matches_plain
        |FROM u JOIN p ON u.tier = p.tier ORDER BY u.tier""".stripMargin)),

    // §2.47 — multidimensional ROLLUP aggregate (detail + per-source
    // subtotal + grand total from ONE Expand + ONE shuffle, not three scans)
    Query("q_rollup", (s, dir) =>
      Analytics.rollupStats(Tables.documents(s, dir),
        "source", "lang", countAlias = "n_docs",
        sumCol = "n_chars", sumAlias = "sum_chars"),
      sql("""SELECT source, lang,
        |  GROUPING(source) AS g_source, GROUPING(lang) AS g_lang,
        |  count(*) AS n_docs,
        |  CAST(sum(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS sum_chars
        |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin)),

    // §2.47b — explicit GROUPING SETS: the NON-hierarchical family member
    // (per-source totals and per-lang totals in one pass, no detail tier) —
    // still one Expand + one shuffle; SQL form since the DataFrame API has
    // no grouping-sets verb
    Query("q_grouping_sets", (s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("documents_gs")
      s.sql("""
        SELECT source, lang,
          CAST(grouping(source) AS INT) AS g_source,
          CAST(grouping(lang) AS INT) AS g_lang,
          count(*) AS n_docs,
          CAST(sum(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS sum_chars
        FROM documents_gs
        GROUP BY GROUPING SETS ((source), (lang))""")
    },
      sql("""SELECT source, lang,
        |  GROUPING(source) AS g_source, GROUPING(lang) AS g_lang,
        |  count(*) AS n_docs,
        |  CAST(sum(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS sum_chars
        |FROM documents GROUP BY GROUPING SETS ((source), (lang))""".stripMargin)),

    // §2.48 — referential-integrity audit over the star schema's three FK
    // edges: orphan/null-FK counts per relation, parents projected to keys
    Query("q_fk_check", (s, dir) => {
      val a = Analytics.fkAudit(
        Tables.lineitem(s, dir), "l_orderkey", Tables.orders(s, dir), "o_orderkey",
        "lineitem->orders")
      val b = Analytics.fkAudit(
        Tables.orders(s, dir), "o_custkey", Tables.customer(s, dir), "c_custkey",
        "orders->customer")
      val c = Analytics.fkAudit(
        Tables.customer(s, dir), "c_nationkey", Tables.nation(s, dir), "n_nationkey",
        "customer->nation")
      a.unionByName(b).unionByName(c)
    },
      sql("""SELECT 'lineitem->orders' AS relation,
        |  (SELECT count(*) FROM lineitem) AS n_child,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS n_null_fk,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        |     AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_orphan_rows,
        |  (SELECT count(DISTINCT l_orderkey) FROM lineitem WHERE l_orderkey IS NOT NULL
        |     AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_orphan_keys
        |UNION ALL
        |SELECT 'orders->customer',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
        |     AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)),
        |  (SELECT count(DISTINCT o_custkey) FROM orders WHERE o_custkey IS NOT NULL
        |     AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
        |UNION ALL
        |SELECT 'customer->nation',
        |  (SELECT count(*) FROM customer),
        |  (SELECT count(*) FROM customer WHERE c_nationkey IS NULL),
        |  (SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL
        |     AND NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)),
        |  (SELECT count(DISTINCT c_nationkey) FROM customer WHERE c_nationkey IS NOT NULL
        |     AND NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey))""".stripMargin)),

    // §2.49 — TPC-H Q3 shape: unshipped-order revenue top-10 (broadcast
    // segment dim, both date filters pushed, TakeOrdered top-k — no sort)
    Query("q_top_revenue", (s, dir) =>
      Analytics.topRevenue(Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir),
        segment = "BUILDING", cutoff = "1998-06-01", k = 10),
      sql("""SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)),

    // §2.50 — key-skew audit: order-of-magnitude histogram of per-key row
    // counts (the pre-join shuffle-planning diagnostic)
    Query("q_skew_report", (s, dir) =>
      Analytics.keySkewReport(
        Tables.events(s, dir).select(col("user_id")), "user_id"),
      sql("""WITH per_key AS (
        |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
        |SELECT CAST(length(CAST(n AS VARCHAR)) AS INT) AS magnitude,
        |  count(*) AS n_keys, min(n) AS min_rows, max(n) AS max_rows,
        |  CAST(sum(n) AS BIGINT) AS sum_rows
        |FROM per_key GROUP BY 1""".stripMargin)),

    // §2.51 — per-user running exact-decimal total + sliding 3-row average
    // over the event stream (explicit ROWS frame, unique ordering)
    Query("q_running_total", (s, dir) =>
      Analytics.runningTotals(Tables.events(s, dir),
        "user_id", "ts", "event_id", "value"),
      sql("""SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w_cum AS DOUBLE) AS running_sum,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w_sl AS DOUBLE)
        |    / count(*) OVER w_sl AS sliding_avg_3
        |FROM events
        |WINDOW
        |  w_cum AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  w_sl AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // §2.52 — daily gap-fill with LOCF: per-user purchase-day sums on a
    // complete broadcast-built day spine, gaps flagged and forward-filled
    Query("q_gapfill", (s, dir) =>
      Analytics.gapFillDaily(Tables.events(s, dir),
        "user_id", "ts", "value", "event_type", "purchase"),
      sql("""WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_sum
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |bounds AS (
        |  SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
        |  FROM events),
        |spine AS (
        |  SELECT u.user_id, CAST(d.day AS DATE) AS day
        |  FROM (SELECT DISTINCT user_id FROM daily) u
        |  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
        |              FROM bounds) d)
        |SELECT s.user_id, s.day, daily.day_sum,
        |  last_value(daily.day_sum IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum,
        |  daily.day_sum IS NULL AS is_gap
        |FROM spine s
        |LEFT JOIN daily ON s.user_id = daily.user_id AND s.day = daily.day""".stripMargin)),

    // §2.58i — Pearson χ² independence test (nation × market segment):
    // are the two release dimensions associated, or do the margins
    // already tell the whole story? Cleared-denominator per-cell
    // contributions (O·n − R·C)²·10⁶ DIV (R·C·n) quantized before the
    // sum, zero cells included via the margins cross, decimal(38,0)
    // throughout; verdict vs the df=96 95% critical value 119.871
    // (standard table) in micro-units — the caller-owned-significance
    // contract of srmCheckNArm
    Query("q_chi2", (s, dir) =>
      Analytics.independenceTest(Tables.customer(s, dir),
        "c_nationkey", "c_mktsegment", critMicro = 119871000L),
      // cleared-denominator cell contributions in HUGEINT, zero cells
      // from the margins cross, same 119.871 critical literal
      sql("""WITH cells AS (
        |  SELECT c_nationkey AS r, c_mktsegment AS c,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM customer
        |  WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
        |  GROUP BY 1, 2),
        |rm AS (SELECT r, CAST(sum(o) AS BIGINT) AS rn FROM cells GROUP BY 1),
        |cm AS (SELECT c, CAST(sum(o) AS BIGINT) AS cn FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT r) AS BIGINT) AS n_r,
        |    CAST(count(DISTINCT c) AS BIGINT) AS n_c
        |  FROM cells),
        |fcells AS (
        |  SELECT coalesce(ce.o, 0) AS o, rm.rn, cm.cn, t.n, t.n_r, t.n_c
        |  FROM rm CROSS JOIN cm
        |  LEFT JOIN cells ce ON ce.r = rm.r AND ce.c = cm.c
        |  CROSS JOIN tot t),
        |contrib AS (
        |  SELECT CAST(((CAST(o AS HUGEINT) * n - CAST(rn AS HUGEINT) * cn)
        |      * (CAST(o AS HUGEINT) * n - CAST(rn AS HUGEINT) * cn)
        |      * 1000000) // (CAST(rn AS HUGEINT) * cn * n) AS BIGINT)
        |    AS x, n, n_r, n_c
        |  FROM fcells)
        |SELECT n, n_r AS n_rowvals, n_c AS n_colvals,
        |  (n_r - 1) * (n_c - 1) AS dof,
        |  CAST(sum(x) AS BIGINT) AS chi2_micro,
        |  CAST(sum(x) AS BIGINT) <= 119871000 AS independent
        |FROM contrib GROUP BY 1, 2, 3""".stripMargin)),

    // §2.58h — daily EWMA baseline per event type (α fixed at 1/2 so
    // the recurrence is pure integer halving — engine-replayable where
    // arbitrary-α float EWMA never hash-matches): per (type, day) the
    // value mass, its smoothed baseline, and the deviation from
    // YESTERDAY'S baseline in bp (today must not contaminate the
    // baseline it is judged against); per-key sorted-array fold over
    // the bounded day panel, one data-sized daily aggregate
    Query("q_ewma", (s, dir) =>
      Analytics.ewmaDaily(Tables.events(s, dir), "event_type", "ts",
        "value"),
      // the order-dependent halving recurrence replayed as a recursive
      // CTE walking the per-key day index; truncating // on both engines
      sql("""WITH RECURSIVE daily AS (
        |  SELECT event_type AS g, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |    CAST(coalesce(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
        |      AS BIGINT)), 0) AS BIGINT) AS cents
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT g, day, cents,
        |    row_number() OVER (PARTITION BY g ORDER BY day) AS i
        |  FROM daily),
        |rec AS (
        |  SELECT g, day, cents, i, cents AS ewma, CAST(NULL AS BIGINT)
        |    AS prev
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.g, x.day, x.cents, x.i, (r.ewma + x.cents) // 2, r.ewma
        |  FROM rec r JOIN idx x ON x.g = r.g AND x.i = r.i + 1)
        |SELECT g, day, cents, ewma AS ewma_cents,
        |  CASE WHEN prev > 0 THEN ((cents - prev) * 10000) // prev
        |  END AS dev_bp
        |FROM rec ORDER BY g, day""".stripMargin)),

    // §2.58k — Spearman rank correlation between account balance and
    // order revenue per customer (does standing predict spend?):
    // tie-corrected by construction — Pearson on average ranks in 2×
    // units (integral under ties), decimal(38,0) sums, one division +
    // one IEEE sqrt at 4 dp; each variable collapses to its bounded
    // value histogram for rank assignment. Zero-order customers count
    // at revenue 0 (dropping them biases the association)
    Query("q_spearman", (s, dir) =>
      Analytics.spearman(
        Tables.customer(s, dir)
          .select(col("c_custkey"),
            (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
              .as("x"))
          .join(Tables.orders(s, dir).select(col("o_custkey"),
            (col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long").as("c0")),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"), col("x"))
          .agg(coalesce(sum(col("c0")), lit(0L)).as("y"))
          .select(col("x"), col("y"))),
      // Pearson-on-2x-average-ranks replayed: per-variable histogram
      // ranks, HUGEINT sums, the same single-division-single-sqrt tail
      sql("""WITH pairs AS (
        |  SELECT CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS x,
        |    CAST(coalesce(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
        |      * 100 AS BIGINT)), 0) AS BIGINT) AS y
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey, 1),
        |hx AS (SELECT x, CAST(count(*) AS BIGINT) AS t FROM pairs GROUP BY 1),
        |rx AS (SELECT x,
        |    CAST(coalesce(sum(t) OVER (ORDER BY x ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
        |      + t + 1 AS BIGINT) AS r2x
        |  FROM hx),
        |hy AS (SELECT y, CAST(count(*) AS BIGINT) AS t FROM pairs GROUP BY 1),
        |ry AS (SELECT y,
        |    CAST(coalesce(sum(t) OVER (ORDER BY y ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
        |      + t + 1 AS BIGINT) AS r2y
        |  FROM hy),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(r2x AS HUGEINT)) AS sx, sum(CAST(r2y AS HUGEINT)) AS sy,
        |    sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
        |    sum(CAST(r2y AS HUGEINT) * r2y) AS syy,
        |    sum(CAST(r2x AS HUGEINT) * r2y) AS sxy
        |  FROM pairs JOIN rx USING (x) JOIN ry USING (y))
        |SELECT n AS n_entities,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |        * CAST(n * syy - sy * sy AS DOUBLE))
        |      * 10000.0 + 0.5) / 10000.0 END AS rho_r
        |FROM a""".stripMargin)),

    // §2.58g — per-nation revenue-concentration profile: exact Gini in
    // micro-units (sorted rank-sum identity, decimal(38,0) arithmetic)
    // + top-decile share of per-customer order revenue, zero-order
    // customers included at 0 (leaving them out understates
    // inequality); the rank window runs on the per-customer aggregate
    // partitioned by nation — no global sort
    Query("q_gini", (s, dir) =>
      Analytics.concentrationProfile(
        Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))
          .join(Tables.orders(s, dir).select(col("o_custkey"),
            (col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long").as("c0")),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_nationkey").as("g"), col("c_custkey").as("entity"))
          .agg(coalesce(sum(col("c0")), lit(0L)).as("cents"))),
      // the rank-sum Gini identity replayed in HUGEINT (the Spark side's
      // decimal(38,0)); same deterministic (cents, entity) tie order
      sql("""WITH rev AS (
        |  SELECT c.c_nationkey AS g, c.c_custkey AS entity,
        |    CAST(coalesce(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
        |      * 100 AS BIGINT)), 0) AS BIGINT) AS cents
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT g, cents,
        |    row_number() OVER (PARTITION BY g
        |      ORDER BY cents ASC, entity ASC) AS rk,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM rev),
        |a AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n_entities,
        |    sum(CAST(cents AS HUGEINT)) AS s,
        |    sum(CAST(rk AS HUGEINT) * cents) AS ix,
        |    sum(CASE WHEN rk > n - (n + 9) // 10
        |      THEN CAST(cents AS HUGEINT) ELSE 0 END) AS top_cents
        |  FROM r GROUP BY 1)
        |SELECT g, n_entities, CAST(s AS BIGINT) AS sum_cents,
        |  CASE WHEN s > 0 THEN CAST((ix * 2 - (n_entities + 1) * s)
        |    * 1000000 // (n_entities * s) AS BIGINT) END AS gini_micro,
        |  CASE WHEN s > 0 THEN CAST(top_cents * 10000 // s AS BIGINT)
        |  END AS top_decile_bp
        |FROM a ORDER BY g""".stripMargin)),

    // §2.58f — market-basket association rules over brand baskets (an
    // order's distinct part brands): directed a→b pairs with exact
    // integer support/confidence bp and lift in micro-units (the column
    // separating affinity from mere popularity), pruned at 20 bp
    // support; pair expansion bounded per basket, supports map-side
    // combine, rule space bounded by the frequent-pair set
    Query("q_basket_rules", (s, dir) =>
      Analytics.basketRules(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
          .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("basket"), col("p_brand").as("item")),
        minSupportBp = 20),
      // non-negative integer support/confidence/lift; the lift numerator
      // widens to HUGEINT exactly like the Spark side's decimal(38,0)
      sql("""WITH b AS (
        |  SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |n AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets
        |  FROM b),
        |sup AS (SELECT item, CAST(count(*) AS BIGINT) AS sup
        |  FROM b GROUP BY 1),
        |p0 AS (
        |  SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS sup_ab
        |  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2),
        |d AS (SELECT a, b, sup_ab FROM p0
        |  UNION ALL SELECT b, a, sup_ab FROM p0)
        |SELECT d.a AS antecedent, d.b AS consequent, d.sup_ab,
        |  sa.sup AS sup_a, sb.sup AS sup_b, n.n_baskets,
        |  (d.sup_ab * 10000) // n.n_baskets AS support_bp,
        |  (d.sup_ab * 10000) // sa.sup AS confidence_bp,
        |  CAST((CAST(d.sup_ab AS HUGEINT) * n.n_baskets * 1000000)
        |    // (sa.sup * sb.sup) AS BIGINT) AS lift_micro
        |FROM d
        |JOIN sup sa ON d.a = sa.item
        |JOIN sup sb ON d.b = sb.item
        |CROSS JOIN n
        |WHERE (d.sup_ab * 10000) // n.n_baskets >= 20
        |ORDER BY 1, 2""".stripMargin)),

    // §2.58 — deterministic A/B bucketing + per-arm metrics: fold-assigned
    // variants, exposure/conversion in one aggregate pass, bp conversion
    Query("q_ab_metrics", (s, dir) =>
      Analytics.abMetrics(Tables.events(s, dir),
        "user_id", "value", "event_type", "purchase", arms = 2),
      sql(s"""WITH v AS (
        |  SELECT *,
        |    CAST(${sqlFold("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS INT) AS variant
        |  FROM events)
        |SELECT variant,
        |  count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
        |    AS n_converted,
        |  CAST(floor(count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
        |    * 10000.0 / count(DISTINCT user_id) + 0.5) AS BIGINT) AS conversion_bp
        |FROM v GROUP BY variant""".stripMargin)),

    // §2.58e — deterministic Poisson bootstrap: per-event-type mean value
    // with a resampling CI (32 replicates, Poisson(1) weights from fixed
    // integer thresholds on the salted 52-bit md5 uniform); replicate
    // means and the variance numerator are exact integer arithmetic, so
    // the CI replays bit-for-bit in SQL
    Query("q_bootstrap_ci", (s, dir) =>
      Analytics.bootstrapCi(Tables.events(s, dir),
        "event_type", "event_id", "value", b = 32),
      // full register-file replay: the first 52 md5 bits of the salted
      // value (p=9 → idx = hc % 512, rho from the remaining 43 bits via
      // 44 - bitlength), per-register max, integer 2^(44-rho) weights, and
      // the identical estimate arithmetic (the same IEEE double constants
      // as Approx.hllAudit)
      // replays the 32 Poisson(1) draws (same integer thresholds on the
      // same salted 52-bit md5 uniform), the exact integer replicate
      // means, and the exact-decimal variance numerator; the only float
      // steps are the final constant division and sqrt, identical ops on
      // identical operands
      sql {
        s"""WITH rows0 AS (
           |  SELECT event_type AS g, CAST(event_id AS VARCHAR) AS id,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           |  FROM events
           |  WHERE event_type IS NOT NULL AND event_id IS NOT NULL
           |    AND value IS NOT NULL),
           |drawn AS (
           |  SELECT g, cents, i AS b,
           |    ${md5bits("'boot' || CAST(i AS VARCHAR) || ':' || id")} AS h
           |  FROM rows0 CROSS JOIN range(0, 32) AS t(i)),
           |weighted AS (
           |  SELECT g, b, cents,
           |    CASE WHEN h < 1656781714176974 THEN 0
           |         WHEN h < 3313563428353948 THEN 1
           |         WHEN h < 4141954285442435 THEN 2
           |         WHEN h < 4418084571138597 THEN 3
           |         WHEN h < 4487117142562638 THEN 4
           |         WHEN h < 4500923656847446 THEN 5
           |         WHEN h < 4503224742561580 THEN 6
           |         ELSE 7 END AS w
           |  FROM drawn),
           |reps AS (
           |  SELECT g, b,
           |    CAST(sum(w) AS BIGINT) AS n_w,
           |    CAST(sum(w * cents) AS BIGINT) AS s_wc
           |  FROM weighted GROUP BY g, b),
           |means AS (
           |  SELECT g, (CAST(s_wc AS HUGEINT) * 1000000) // n_w AS m
           |  FROM reps WHERE n_w > 0),
           |spread AS (
           |  SELECT g, count(*) AS b_used,
           |    sum(CAST(m AS HUGEINT)) AS sm,
           |    sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS sm2
           |  FROM means GROUP BY g),
           |pt AS (
           |  SELECT g, count(*) AS n_events,
           |    CAST((CAST(sum(cents) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
           |      AS point_micro
           |  FROM rows0 GROUP BY g)
           |SELECT p.g, p.n_events, p.point_micro,
           |  CAST(s.b_used AS BIGINT) AS b_used,
           |  sqrt(CAST(s.b_used * s.sm2 - s.sm * s.sm AS DOUBLE) /
           |    CAST(s.b_used * (s.b_used - 1) AS DOUBLE)) AS se_micro,
           |  CAST(p.point_micro AS DOUBLE) - 2.0 *
           |    sqrt(CAST(s.b_used * s.sm2 - s.sm * s.sm AS DOUBLE) /
           |      CAST(s.b_used * (s.b_used - 1) AS DOUBLE)) AS lo_micro,
           |  CAST(p.point_micro AS DOUBLE) + 2.0 *
           |    sqrt(CAST(s.b_used * s.sm2 - s.sm * s.sm AS DOUBLE) /
           |      CAST(s.b_used * (s.b_used - 1) AS DOUBLE)) AS hi_micro
           |FROM pt p JOIN spread s ON p.g = s.g
           |ORDER BY p.g""".stripMargin
      }),

    // §2.65f — CUSUM change-point per event type: the day the n-scaled
    // cumulative deviation peaks (exact BIGINT — WHEN the volume shifted,
    // where q_trend answers whether it drifts), with before/after means
    Query("q_changepoint", (s, dir) =>
      Analytics.changePoints(Tables.events(s, dir), "event_type", "ts"),
      // daily series, n-scaled integer CUSUM, argmax by the same total
      // priority, and the two segment means replayed
      sql("""WITH dly AS (
        |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(y) AS BIGINT) AS s
        |  FROM dly GROUP BY 1),
        |c AS (
        |  SELECT dly.t, dly.day, dly.y, tot.n_days,
        |    CAST(sum(tot.n_days * dly.y - tot.s) OVER (PARTITION BY dly.t
        |      ORDER BY dly.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cusum,
        |    row_number() OVER (PARTITION BY dly.t ORDER BY dly.day) AS rn
        |  FROM dly JOIN tot ON dly.t = tot.t),
        |pk AS (
        |  SELECT t, day AS change_day, cusum AS peak_dev_n FROM (
        |    SELECT t, day, cusum,
        |      row_number() OVER (PARTITION BY t
        |        ORDER BY abs(cusum) DESC, day ASC) AS pr
        |    FROM c WHERE rn < n_days) WHERE pr = 1)
        |SELECT dly.t AS event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  max(pk.change_day) AS change_day,
        |  CAST(max(pk.peak_dev_n) AS BIGINT) AS peak_dev_n,
        |  round(CAST(sum(CASE WHEN dly.day <= pk.change_day THEN dly.y END)
        |      AS DOUBLE)
        |    / sum(CASE WHEN dly.day <= pk.change_day THEN 1 END), 4)
        |    AS mean_before,
        |  round(CAST(sum(CASE WHEN dly.day > pk.change_day THEN dly.y END)
        |      AS DOUBLE)
        |    / sum(CASE WHEN dly.day > pk.change_day THEN 1 END), 4)
        |    AS mean_after
        |FROM dly LEFT JOIN pk ON dly.t = pk.t
        |GROUP BY dly.t ORDER BY dly.t""".stripMargin)),

    // §2.58c — sample-ratio-mismatch guardrail: chi-square over the two
    // arms' user counts in exact integer micro-units vs the inlined 95%
    // critical value — run before trusting any A/B metric
    Query("q_srm_check", (s, dir) =>
      Analytics.srmCheck(Tables.events(s, dir), "user_id"),
      sql(s"""WITH v AS (
        |  SELECT CAST(${sqlFold("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS INT) AS variant
        |  FROM (SELECT DISTINCT user_id FROM events
        |        WHERE user_id IS NOT NULL)),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_arm0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_arm1
        |  FROM v)
        |SELECT n_users, n_arm0, n_arm1,
        |  (n_arm0 - n_arm1) * (n_arm0 - n_arm1) * 1000000 // n_users
        |    AS chi2_micro,
        |  ((n_arm0 - n_arm1) * (n_arm0 - n_arm1) * 1000000 // n_users)
        |    > 3841459 AS srm_flag
        |FROM a""".stripMargin)),

    // §2.58l — per-arm conversion rates with Wilson 95% score intervals
    // (the interval the readout quotes next to the point rate — stays
    // inside [0,1] and behaves at k=0/k=n where Wald breaks): the bound
    // expression is ONE shared SQL string evaluated verbatim by BOTH
    // engines, so they cannot round differently by construction
    Query("q_wilson", (s, dir) =>
      Analytics.wilsonRates(Tables.events(s, dir), "user_id",
        col("event_type") === "purchase"),
      // the SAME wilsonBound strings the Spark side evaluates — one
      // definition, two engines
      sql(s"""WITH u AS (
         |  SELECT user_id AS u,
         |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS conv
         |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
         |a AS (
         |  SELECT CAST(${sqlFold("'ab:' || CAST(u AS VARCHAR)")} % 2 AS BIGINT)
         |      AS variant,
         |    conv
         |  FROM u),
         |g AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(conv) AS BIGINT) AS k
         |  FROM a GROUP BY 1)
         |SELECT variant, n AS n_users, k AS converters,
         |  (k * 10000) // n AS rate_bp,
         |  ${Analytics.wilsonBound(-1)} AS lo_r,
         |  ${Analytics.wilsonBound(+1)} AS hi_r
         |FROM g ORDER BY variant""".stripMargin)),

    // §2.58n — Kruskal–Wallis H across 4 hash-split arms (the
    // nonparametric one-way ANOVA, q_mannwhitney generalized and the
    // rank twin of q_srm_narm's count test): 2×-unit average ranks off
    // the bounded histogram, per-arm rank sums exact, the cross-arm
    // statistic S = Σ(R2²DIV n_j) floored per arm before the
    // order-independent sum, standard tie correction, verdict vs the
    // df=3 95% critical value 7.8147
    Query("q_kruskal", (s, dir) => {
      import org.apache.spark.sql.graftnative.RollingHash.rollingHash
      Analytics.kruskalWallis(Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(
          pmod(rollingHash(concat(lit("ab:"),
            col("user_id").cast("string"))), lit(4)).cast("long").as("arm"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("score")),
        critH = 7.8147)
    },
      // 2x ranks + per-arm floored statistic terms + the same tie-
      // corrected H expression; HUGEINT mirrors decimal(38,0)
      sql(s"""WITH v AS (
        |  SELECT CAST(${sqlFold("'ab:' || CAST(user_id AS VARCHAR)")} % 4 AS BIGINT)
        |      AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS score
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |cells AS (SELECT score, arm, CAST(count(*) AS BIGINT) AS c
        |  FROM v GROUP BY 1, 2),
        |hist AS (SELECT score, CAST(sum(c) AS BIGINT) AS t
        |  FROM cells GROUP BY 1),
        |ranks AS (
        |  SELECT score,
        |    CAST(coalesce(sum(t) OVER (ORDER BY score ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
        |      + t + 1 AS BIGINT) AS r2
        |  FROM hist),
        |tie AS (
        |  SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_scores,
        |    coalesce(sum(CAST(t AS HUGEINT) * t * t - t), 0) AS tt
        |  FROM hist),
        |arms AS (
        |  SELECT arm, CAST(sum(c) AS BIGINT) AS n_arm,
        |    CAST(sum(CAST(c AS HUGEINT) * r2) AS HUGEINT) AS r2sum
        |  FROM cells JOIN ranks USING (score) GROUP BY 1),
        |hh AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_arms,
        |    coalesce(sum((r2sum * r2sum) // n_arm), 0) AS s2
        |  FROM arms),
        |hz AS (
        |  SELECT hh.n_arms,
        |    CASE WHEN t.n_scores > 1 AND hh.n_arms > 1 THEN
        |      floor((3.0 * CAST(hh.s2 AS DOUBLE)
        |        / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) + 1.0))
        |        - 3.0 * (CAST(t.n AS DOUBLE) + 1.0))
        |        / (1.0 - CAST(t.tt AS DOUBLE)
        |          / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
        |            * CAST(t.n AS DOUBLE) - CAST(t.n AS DOUBLE)))
        |        * 10000.0 + 0.5) / 10000.0 END AS h_r
        |  FROM hh CROSS JOIN tie t)
        |SELECT a.arm, a.n_arm, CAST(a.r2sum AS BIGINT) AS r2_sum,
        |  hz.h_r, hz.n_arms - 1 AS df,
        |  CASE WHEN hz.h_r IS NOT NULL THEN hz.h_r > 7.8147
        |  END AS significant
        |FROM arms a CROSS JOIN hz ORDER BY a.arm""".stripMargin)),

    // §2.58o — Welch's unequal-variance t test between the hash-split
    // arms (the PARAMETRIC member: q_mannwhitney compares ranks, this
    // compares the MEANS the readout headline quotes): exact integer
    // moments (Σcents² in decimal(38,0)), then t and the Welch-
    // Satterthwaite dof evaluate through ONE shared SQL string per
    // statistic — identical on both engines by construction
    // §2.58g — Kaplan–Meier survival (r15): time-to-purchase per
    // hash-split arm with honest censoring at the corpus horizon; the
    // product-limit estimate folds as a truncating-integer recurrence
    // over the bounded day-span panel (the ewma discipline), replayed
    // by a recursive-CTE oracle
    Query("q_kaplan_meier", (s, dir) =>
      Analytics.kaplanMeier(Tables.events(s, dir), "user_id", "ts",
        "purchase"),
      // the same fold assignment, integer chi-square, inlined critical value
      // the SAME welchT / welchDof strings the Spark side evaluates,
      // over the same exact integer moments
      // per-user entry/conversion days + arm fold + the (arm, duration)
      // grid, then the product-limit truncating-integer recurrence
      // replayed duration-by-duration in a recursive CTE (deaths-first
      // at-risk convention on both engines)
      sql(s"""WITH RECURSIVE e AS (
        |  SELECT user_id AS u, CAST(ts AS DATE) AS day, event_type AS ty
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |h AS (SELECT max(day) AS hz FROM e),
        |pu AS (
        |  SELECT u, min(day) AS first_day,
        |    min(CASE WHEN ty = 'purchase' THEN day END) AS conv_day
        |  FROM e GROUP BY u),
        |pa AS (
        |  SELECT CAST(${sqlFold("'km:' || CAST(u AS VARCHAR)")} % 2 AS BIGINT)
        |      AS arm,
        |    conv_day IS NOT NULL AS converted,
        |    CAST(CASE WHEN conv_day IS NOT NULL THEN conv_day - first_day
        |      ELSE (SELECT hz FROM h) - first_day END AS BIGINT) AS t
        |  FROM pu),
        |grid AS (
        |  SELECT arm, t,
        |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d,
        |    CAST(sum(CASE WHEN NOT converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM pa GROUP BY 1, 2),
        |idx AS (
        |  SELECT arm, t, d, c,
        |    CAST(row_number() OVER (PARTITION BY arm ORDER BY t)
        |      AS BIGINT) AS i,
        |    CAST(sum(d + c) OVER (PARTITION BY arm) AS BIGINT) AS total
        |  FROM grid),
        |rec AS (
        |  SELECT arm, t, d, c, i, total AS n_risk,
        |    CASE WHEN total > 0 THEN (1000000 * (total - d)) // total
        |      ELSE CAST(1000000 AS BIGINT) END AS s,
        |    total - d - c AS atrisk_next
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.arm, x.t, x.d, x.c, x.i, r.atrisk_next AS n_risk,
        |    CASE WHEN r.atrisk_next > 0
        |      THEN (r.s * (r.atrisk_next - x.d)) // r.atrisk_next
        |      ELSE r.s END,
        |    r.atrisk_next - x.d - x.c
        |  FROM rec r JOIN idx x ON x.arm = r.arm AND x.i = r.i + 1)
        |SELECT arm, t AS t_days, n_risk, d AS d_events, c AS c_censored,
        |  s AS s_micro
        |FROM rec ORDER BY arm, t_days""".stripMargin)),

    // §2.58h — log-rank / Mantel–Cox (r15): q_kaplan_meier's
    // significance companion over the SAME duration grid (shared
    // derivation — the curve and its test cannot disagree about who
    // converted when); per-death-day hypergeometric E/V terms from
    // exact integer risk-set windows, floor-quantized to micro-units
    // before the cross-day sum (the PSI micro-nat rule), z at 4 dp
    Query("q_logrank", (s, dir) =>
      Analytics.logRankTest(Tables.events(s, dir), "user_id", "ts",
        "purchase", critZ = 1.96),
      // the same grid derivation as q_kaplan_meier, then exact integer
      // risk-set windows + per-death-day quantized hypergeometric terms
      sql(s"""WITH e AS (
        |  SELECT user_id AS u, CAST(ts AS DATE) AS day, event_type AS ty
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |h AS (SELECT max(day) AS hz FROM e),
        |pu AS (
        |  SELECT u, min(day) AS first_day,
        |    min(CASE WHEN ty = 'purchase' THEN day END) AS conv_day
        |  FROM e GROUP BY u),
        |pa AS (
        |  SELECT CAST(${sqlFold("'km:' || CAST(u AS VARCHAR)")} % 2 AS BIGINT)
        |      AS arm,
        |    conv_day IS NOT NULL AS converted,
        |    CAST(CASE WHEN conv_day IS NOT NULL THEN conv_day - first_day
        |      ELSE (SELECT hz FROM h) - first_day END AS BIGINT) AS t
        |  FROM pu),
        |grid AS (
        |  SELECT arm, t,
        |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d,
        |    CAST(sum(CASE WHEN NOT converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM pa GROUP BY 1, 2),
        |byt AS (
        |  SELECT t,
        |    CAST(sum(CASE WHEN arm = 0 THEN d ELSE 0 END) AS BIGINT) AS d0,
        |    CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
        |  FROM grid GROUP BY t),
        |risk AS (
        |  SELECT t, d0, d1,
        |    CAST(sum(d0 + c0) OVER ()
        |      - coalesce(sum(d0 + c0) OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n0,
        |    CAST(sum(d1 + c1) OVER ()
        |      - coalesce(sum(d1 + c1) OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n1
        |  FROM byt),
        |tq AS (
        |  SELECT d0, d1,
        |    CAST(floor(CAST(d0 + d1 AS DOUBLE) * CAST(n0 AS DOUBLE)
        |      / CAST(n0 + n1 AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
        |      AS e0_micro,
        |    CASE WHEN n0 + n1 > 1 THEN
        |      CAST(floor(CAST(d0 + d1 AS DOUBLE)
        |        * (CAST(n0 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |        * (CAST(n1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |        * (CAST(n0 + n1 - d0 - d1 AS DOUBLE)
        |          / CAST(n0 + n1 - 1 AS DOUBLE))
        |        * 1000000.0 + 0.5) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS v_micro
        |  FROM risk WHERE d0 + d1 > 0 AND n0 + n1 > 0),
        |tot AS (
        |  SELECT CAST(coalesce(sum(CASE WHEN arm = 0 THEN d + c
        |      ELSE 0 END), 0) AS BIGINT) AS n0_total,
        |    CAST(coalesce(sum(CASE WHEN arm = 1 THEN d + c
        |      ELSE 0 END), 0) AS BIGINT) AS n1_total
        |  FROM grid),
        |agg AS (
        |  SELECT CAST(coalesce(sum(d0), 0) AS BIGINT) AS o0,
        |    CAST(coalesce(sum(d1), 0) AS BIGINT) AS o1,
        |    CAST(coalesce(sum(e0_micro), 0) AS BIGINT) AS e0_micro,
        |    CAST(coalesce(sum(v_micro), 0) AS BIGINT) AS v_micro
        |  FROM tq),
        |z AS (
        |  SELECT tot.n0_total, tot.n1_total, agg.o0, agg.o1,
        |    agg.e0_micro, agg.v_micro,
        |    CASE WHEN agg.v_micro > 0 THEN
        |      CAST(floor((CAST(agg.o0 AS DOUBLE)
        |          - CAST(agg.e0_micro AS DOUBLE) / 1000000.0)
        |        / sqrt(CAST(agg.v_micro AS DOUBLE) / 1000000.0)
        |        * 10000.0 + 0.5) AS DOUBLE) / 10000.0 END AS z_r
        |  FROM agg CROSS JOIN tot)
        |SELECT n0_total, n1_total, o0, o1, e0_micro, v_micro, z_r,
        |  CASE WHEN z_r IS NOT NULL THEN abs(z_r) > 1.96 END
        |    AS significant
        |FROM z""".stripMargin)),

    // §2.58j — Nelson–Aalen cumulative hazard (r15): KM's additive
    // twin off the same shared grid — pure-integer d·1e6 DIV n
    // increments (no doubles anywhere), one cumulative window, no
    // recursion; the −log(S) sanity companion
    Query("q_nelson_aalen", (s, dir) =>
      Analytics.nelsonAalen(Tables.events(s, dir), "user_id", "ts",
        "purchase"),
      // the same grid + at-risk windows, then pure-integer hazard
      // increments and one cumulative window — the whole oracle is
      // integer arithmetic
      sql(s"""WITH e AS (
        |  SELECT user_id AS u, CAST(ts AS DATE) AS day, event_type AS ty
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |h AS (SELECT max(day) AS hz FROM e),
        |pu AS (
        |  SELECT u, min(day) AS first_day,
        |    min(CASE WHEN ty = 'purchase' THEN day END) AS conv_day
        |  FROM e GROUP BY u),
        |pa AS (
        |  SELECT CAST(${sqlFold("'km:' || CAST(u AS VARCHAR)")} % 2 AS BIGINT)
        |      AS arm,
        |    conv_day IS NOT NULL AS converted,
        |    CAST(CASE WHEN conv_day IS NOT NULL THEN conv_day - first_day
        |      ELSE (SELECT hz FROM h) - first_day END AS BIGINT) AS t
        |  FROM pu),
        |grid AS (
        |  SELECT arm, t,
        |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d,
        |    CAST(sum(CASE WHEN NOT converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM pa GROUP BY 1, 2),
        |risk AS (
        |  SELECT arm, t, d,
        |    CAST(sum(d + c) OVER (PARTITION BY arm)
        |      - coalesce(sum(d + c) OVER (PARTITION BY arm ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk
        |  FROM grid),
        |hz2 AS (
        |  SELECT arm, t, n_risk, d,
        |    CASE WHEN n_risk > 0 THEN (d * 1000000) // n_risk
        |      ELSE CAST(0 AS BIGINT) END AS h_micro
        |  FROM risk)
        |SELECT arm, t AS t_days, n_risk, d AS d_events, h_micro,
        |  CAST(sum(h_micro) OVER (PARTITION BY arm ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS h_cum_micro
        |FROM hz2 ORDER BY arm, t_days""".stripMargin)),

    // §2.58i — STRATIFIED log-rank (r15, Mantel–Haenszel): the same
    // shared duration grid with every hypergeometric E/V term computed
    // against the STRATUM-LOCAL risk set (stratum = the user's first
    // event type, the acquisition-channel proxy), summed across strata
    // before the one z — within-stratum comparisons only, so a
    // channel-mix imbalance between arms cannot masquerade as a
    // treatment effect
    Query("q_logrank_strat", (s, dir) =>
      Analytics.logRankStratified(Tables.events(s, dir), "user_id", "ts",
        "purchase", critZ = 1.96),
      // the stratified replay: the pu CTE gains the first-event stratum
      // (min over 'day|type' strings — deterministic on both engines),
      // risk windows PARTITION BY stratum, terms summed across strata
      sql(s"""WITH e AS (
        |  SELECT user_id AS u, CAST(ts AS DATE) AS day, event_type AS ty
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |h AS (SELECT max(day) AS hz FROM e),
        |pu AS (
        |  SELECT u, min(day) AS first_day,
        |    min(CASE WHEN ty = 'purchase' THEN day END) AS conv_day,
        |    substr(min(CAST(day AS VARCHAR) || '|' || ty), 12) AS stratum
        |  FROM e GROUP BY u),
        |pa AS (
        |  SELECT stratum,
        |    CAST(${sqlFold("'km:' || CAST(u AS VARCHAR)")} % 2 AS BIGINT)
        |      AS arm,
        |    conv_day IS NOT NULL AS converted,
        |    CAST(CASE WHEN conv_day IS NOT NULL THEN conv_day - first_day
        |      ELSE (SELECT hz FROM h) - first_day END AS BIGINT) AS t
        |  FROM pu),
        |grid AS (
        |  SELECT stratum, arm, t,
        |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d,
        |    CAST(sum(CASE WHEN NOT converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM pa GROUP BY 1, 2, 3),
        |byt AS (
        |  SELECT stratum, t,
        |    CAST(sum(CASE WHEN arm = 0 THEN d ELSE 0 END) AS BIGINT) AS d0,
        |    CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
        |  FROM grid GROUP BY 1, 2),
        |risk AS (
        |  SELECT stratum, t, d0, d1,
        |    CAST(sum(d0 + c0) OVER (PARTITION BY stratum)
        |      - coalesce(sum(d0 + c0) OVER (PARTITION BY stratum
        |        ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n0,
        |    CAST(sum(d1 + c1) OVER (PARTITION BY stratum)
        |      - coalesce(sum(d1 + c1) OVER (PARTITION BY stratum
        |        ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n1
        |  FROM byt),
        |tq AS (
        |  SELECT d0, d1,
        |    CAST(floor(CAST(d0 + d1 AS DOUBLE) * CAST(n0 AS DOUBLE)
        |      / CAST(n0 + n1 AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
        |      AS e0_micro,
        |    CASE WHEN n0 + n1 > 1 THEN
        |      CAST(floor(CAST(d0 + d1 AS DOUBLE)
        |        * (CAST(n0 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |        * (CAST(n1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |        * (CAST(n0 + n1 - d0 - d1 AS DOUBLE)
        |          / CAST(n0 + n1 - 1 AS DOUBLE))
        |        * 1000000.0 + 0.5) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS v_micro
        |  FROM risk WHERE d0 + d1 > 0 AND n0 + n1 > 0),
        |ns AS (SELECT CAST(count(DISTINCT stratum) AS BIGINT) AS n_strata
        |  FROM grid),
        |agg AS (
        |  SELECT CAST(coalesce(sum(d0), 0) AS BIGINT) AS o0,
        |    CAST(coalesce(sum(d1), 0) AS BIGINT) AS o1,
        |    CAST(coalesce(sum(e0_micro), 0) AS BIGINT) AS e0_micro,
        |    CAST(coalesce(sum(v_micro), 0) AS BIGINT) AS v_micro
        |  FROM tq),
        |z AS (
        |  SELECT ns.n_strata, agg.o0, agg.o1, agg.e0_micro, agg.v_micro,
        |    CASE WHEN agg.v_micro > 0 THEN
        |      CAST(floor((CAST(agg.o0 AS DOUBLE)
        |          - CAST(agg.e0_micro AS DOUBLE) / 1000000.0)
        |        / sqrt(CAST(agg.v_micro AS DOUBLE) / 1000000.0)
        |        * 10000.0 + 0.5) AS DOUBLE) / 10000.0 END AS z_r
        |  FROM agg CROSS JOIN ns)
        |SELECT n_strata, o0, o1, e0_micro, v_micro, z_r,
        |  CASE WHEN z_r IS NOT NULL THEN abs(z_r) > 1.96 END
        |    AS significant
        |FROM z""".stripMargin)),

    // §2.58t — Breslow baseline cumulative hazard at the same fixed
    // hr=2 (the estimator half of the Cox pair): dH0 = d·1e6 DIV
    // (n0 + 2·n1) per (stratum, death day) — PURE integer, no doubles
    // anywhere (at hr=1 this IS the stratified Nelson–Aalen)
    Query("q_cox_baseline", (s, dir) =>
      Analytics.coxBaseline(Tables.events(s, dir), "user_id", "ts",
        "purchase", hr = 2L),
      // the stratified grid + risk windows, then the PURE-INTEGER
      // Breslow baseline increments d*1e6 DIV (n0 + 2*n1) and one
      // cumulative window — the whole oracle is integer arithmetic
      sql(s"""WITH e AS (
        |  SELECT user_id AS u, CAST(ts AS DATE) AS day, event_type AS ty
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |h AS (SELECT max(day) AS hz FROM e),
        |pu AS (
        |  SELECT u, min(day) AS first_day,
        |    min(CASE WHEN ty = 'purchase' THEN day END) AS conv_day,
        |    substr(min(CAST(day AS VARCHAR) || '|' || ty), 12) AS stratum
        |  FROM e GROUP BY u),
        |pa AS (
        |  SELECT stratum,
        |    CAST(${sqlFold("'km:' || CAST(u AS VARCHAR)")} % 2 AS BIGINT)
        |      AS arm,
        |    conv_day IS NOT NULL AS converted,
        |    CAST(CASE WHEN conv_day IS NOT NULL THEN conv_day - first_day
        |      ELSE (SELECT hz FROM h) - first_day END AS BIGINT) AS t
        |  FROM pu),
        |grid AS (
        |  SELECT stratum, arm, t,
        |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d,
        |    CAST(sum(CASE WHEN NOT converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM pa GROUP BY 1, 2, 3),
        |byt AS (
        |  SELECT stratum, t,
        |    CAST(sum(CASE WHEN arm = 0 THEN d ELSE 0 END) AS BIGINT) AS d0,
        |    CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
        |  FROM grid GROUP BY 1, 2),
        |risk AS (
        |  SELECT stratum, t, d0 + d1 AS d,
        |    CAST(sum(d0 + c0) OVER (PARTITION BY stratum)
        |      - coalesce(sum(d0 + c0) OVER (PARTITION BY stratum
        |        ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n0,
        |    CAST(sum(d1 + c1) OVER (PARTITION BY stratum)
        |      - coalesce(sum(d1 + c1) OVER (PARTITION BY stratum
        |        ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n1
        |  FROM byt),
        |hz2 AS (
        |  SELECT stratum, t, n0, n1, d,
        |    CASE WHEN n0 + 2 * n1 > 0
        |      THEN (d * 1000000) // (n0 + 2 * n1)
        |      ELSE CAST(0 AS BIGINT) END AS h0_micro
        |  FROM risk)
        |SELECT stratum, t AS t_days, n0, n1, d AS d_events, h0_micro,
        |  CAST(sum(h0_micro) OVER (PARTITION BY stratum ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS h0_cum_micro
        |FROM hz2 WHERE d > 0 ORDER BY stratum, t_days""".stripMargin)),

    // §2.58v — Cox score PROFILE over the binary-power hr ladder
    // {1/2, 1, 2, 4} (every e^beta an exact double, hr=1 IS the
    // log-rank score) sharing ONE grid derivation; the U sign change
    // between consecutive rungs BRACKETS the partial-likelihood MLE
    Query("q_cox_profile", (s, dir) =>
      Analytics.coxScoreProfile(Tables.events(s, dir), "user_id", "ts",
        "purchase"),
      // the shared grid + risk CTEs crossed with the 4-rung VALUES
      // ladder; hr_pct/100.0 is an exact double for binary powers, so
      // the whole profile replays transcendental-free; the MLE bracket
      // is one lead() window over the 4-row result
      sql(s"""WITH e AS (
        |  SELECT user_id AS u, CAST(ts AS DATE) AS day, event_type AS ty
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |h AS (SELECT max(day) AS hz FROM e),
        |pu AS (
        |  SELECT u, min(day) AS first_day,
        |    min(CASE WHEN ty = 'purchase' THEN day END) AS conv_day,
        |    substr(min(CAST(day AS VARCHAR) || '|' || ty), 12) AS stratum
        |  FROM e GROUP BY u),
        |pa AS (
        |  SELECT stratum,
        |    CAST(${sqlFold("'km:' || CAST(u AS VARCHAR)")} % 2 AS BIGINT)
        |      AS arm,
        |    conv_day IS NOT NULL AS converted,
        |    CAST(CASE WHEN conv_day IS NOT NULL THEN conv_day - first_day
        |      ELSE (SELECT hz FROM h) - first_day END AS BIGINT) AS t
        |  FROM pu),
        |grid AS (
        |  SELECT stratum, arm, t,
        |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d,
        |    CAST(sum(CASE WHEN NOT converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM pa GROUP BY 1, 2, 3),
        |byt AS (
        |  SELECT stratum, t,
        |    CAST(sum(CASE WHEN arm = 0 THEN d ELSE 0 END) AS BIGINT) AS d0,
        |    CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
        |  FROM grid GROUP BY 1, 2),
        |risk AS (
        |  SELECT stratum, t, d0, d1,
        |    CAST(sum(d0 + c0) OVER (PARTITION BY stratum)
        |      - coalesce(sum(d0 + c0) OVER (PARTITION BY stratum
        |        ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n0,
        |    CAST(sum(d1 + c1) OVER (PARTITION BY stratum)
        |      - coalesce(sum(d1 + c1) OVER (PARTITION BY stratum
        |        ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n1
        |  FROM byt),
        |lad(hr_pct) AS (VALUES (CAST(50 AS BIGINT)), (100), (200), (400)),
        |tq AS (
        |  SELECT lad.hr_pct, d0, d1,
        |    CAST(floor((CAST(d1 AS DOUBLE)
        |      - CAST(d0 + d1 AS DOUBLE)
        |        * (CAST(n1 AS DOUBLE) * (CAST(hr_pct AS DOUBLE) / 100.0))
        |        / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)
        |          * (CAST(hr_pct AS DOUBLE) / 100.0)))
        |      * 1000000.0 + 0.5) AS BIGINT) AS u_micro,
        |    CAST(floor(CAST(d0 + d1 AS DOUBLE)
        |      * (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)
        |        * (CAST(hr_pct AS DOUBLE) / 100.0))
        |      / ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)
        |          * (CAST(hr_pct AS DOUBLE) / 100.0))
        |        * (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)
        |          * (CAST(hr_pct AS DOUBLE) / 100.0)))
        |      * 1000000.0 + 0.5) AS BIGINT) AS i_micro
        |  FROM risk CROSS JOIN lad
        |  WHERE d0 + d1 > 0 AND n0 + n1 > 0),
        |agg AS (
        |  SELECT hr_pct,
        |    CAST(coalesce(sum(d0), 0) AS BIGINT) AS o0,
        |    CAST(coalesce(sum(d1), 0) AS BIGINT) AS o1,
        |    CAST(coalesce(sum(u_micro), 0) AS BIGINT) AS u_micro,
        |    CAST(coalesce(sum(i_micro), 0) AS BIGINT) AS i_micro
        |  FROM tq GROUP BY hr_pct),
        |z AS (
        |  SELECT hr_pct, o0, o1, u_micro, i_micro,
        |    CASE WHEN i_micro > 0 THEN
        |      CAST(floor(CAST(u_micro AS DOUBLE) / 1000000.0
        |        / sqrt(CAST(i_micro AS DOUBLE) / 1000000.0)
        |        * 10000.0 + 0.5) AS DOUBLE) / 10000.0 END AS z_r,
        |    lead(u_micro, 1) OVER (ORDER BY hr_pct) AS next_u
        |  FROM agg)
        |SELECT hr_pct, o0, o1, u_micro, i_micro, z_r,
        |  CASE WHEN next_u IS NOT NULL
        |    THEN u_micro > 0 AND next_u <= 0 END AS brackets_mle
        |FROM z ORDER BY hr_pct""".stripMargin)),

    // §2.58s — Cox proportional-hazards score at fixed hazard ratio 2
    // (Breslow ties, stratified baseline): the regression member
    // completing the survival family over the SAME stratum grid; at
    // hr=2 the model's e^beta is exactly 2.0, so the score/information
    // chain is pure integer-derived doubles — no transcendental
    // anywhere, oracle-exact by the established grid discipline
    Query("q_cox_score", (s, dir) =>
      Analytics.coxScore(Tables.events(s, dir), "user_id", "ts",
        "purchase", hr = 2.0, critZ = 1.96),
      // the q_logrank_strat grid + risk CTEs verbatim, with the
      // hypergeometric terms swapped for the Breslow score/information
      // at hr = 2.0 (e^beta exactly 2, no transcendental anywhere)
      sql(s"""WITH e AS (
        |  SELECT user_id AS u, CAST(ts AS DATE) AS day, event_type AS ty
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |h AS (SELECT max(day) AS hz FROM e),
        |pu AS (
        |  SELECT u, min(day) AS first_day,
        |    min(CASE WHEN ty = 'purchase' THEN day END) AS conv_day,
        |    substr(min(CAST(day AS VARCHAR) || '|' || ty), 12) AS stratum
        |  FROM e GROUP BY u),
        |pa AS (
        |  SELECT stratum,
        |    CAST(${sqlFold("'km:' || CAST(u AS VARCHAR)")} % 2 AS BIGINT)
        |      AS arm,
        |    conv_day IS NOT NULL AS converted,
        |    CAST(CASE WHEN conv_day IS NOT NULL THEN conv_day - first_day
        |      ELSE (SELECT hz FROM h) - first_day END AS BIGINT) AS t
        |  FROM pu),
        |grid AS (
        |  SELECT stratum, arm, t,
        |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d,
        |    CAST(sum(CASE WHEN NOT converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM pa GROUP BY 1, 2, 3),
        |byt AS (
        |  SELECT stratum, t,
        |    CAST(sum(CASE WHEN arm = 0 THEN d ELSE 0 END) AS BIGINT) AS d0,
        |    CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
        |  FROM grid GROUP BY 1, 2),
        |risk AS (
        |  SELECT stratum, t, d0, d1,
        |    CAST(sum(d0 + c0) OVER (PARTITION BY stratum)
        |      - coalesce(sum(d0 + c0) OVER (PARTITION BY stratum
        |        ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n0,
        |    CAST(sum(d1 + c1) OVER (PARTITION BY stratum)
        |      - coalesce(sum(d1 + c1) OVER (PARTITION BY stratum
        |        ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n1
        |  FROM byt),
        |tq AS (
        |  SELECT d0, d1,
        |    CAST(floor((CAST(d1 AS DOUBLE)
        |      - CAST(d0 + d1 AS DOUBLE)
        |        * (CAST(n1 AS DOUBLE) * 2.0)
        |        / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) * 2.0))
        |      * 1000000.0 + 0.5) AS BIGINT) AS u_micro,
        |    CAST(floor(CAST(d0 + d1 AS DOUBLE)
        |      * (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) * 2.0)
        |      / ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) * 2.0)
        |        * (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) * 2.0))
        |      * 1000000.0 + 0.5) AS BIGINT) AS i_micro
        |  FROM risk WHERE d0 + d1 > 0 AND n0 + n1 > 0),
        |ns AS (SELECT CAST(count(DISTINCT stratum) AS BIGINT) AS n_strata
        |  FROM grid),
        |agg AS (
        |  SELECT CAST(coalesce(sum(d0), 0) AS BIGINT) AS o0,
        |    CAST(coalesce(sum(d1), 0) AS BIGINT) AS o1,
        |    CAST(coalesce(sum(u_micro), 0) AS BIGINT) AS u_micro,
        |    CAST(coalesce(sum(i_micro), 0) AS BIGINT) AS i_micro
        |  FROM tq),
        |z AS (
        |  SELECT ns.n_strata, CAST(200 AS BIGINT) AS hr_pct,
        |    agg.o0, agg.o1, agg.u_micro, agg.i_micro,
        |    CASE WHEN agg.i_micro > 0 THEN
        |      CAST(floor(CAST(agg.u_micro AS DOUBLE) / 1000000.0
        |        / sqrt(CAST(agg.i_micro AS DOUBLE) / 1000000.0)
        |        * 10000.0 + 0.5) AS DOUBLE) / 10000.0 END AS z_r
        |  FROM agg CROSS JOIN ns)
        |SELECT n_strata, hr_pct, o0, o1, u_micro, i_micro, z_r,
        |  CASE WHEN z_r IS NOT NULL THEN abs(z_r) > 1.96 END
        |    AS significant
        |FROM z""".stripMargin)),

    Query("q_welch", (s, dir) =>
      Analytics.welchTTest(Tables.events(s, dir), "user_id", "value",
        critT = 1.96),
      sql(s"""WITH v AS (
         |  SELECT CAST(${sqlFold("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS BIGINT)
         |      AS arm,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS val
         |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
         |m AS (
         |  SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(coalesce(sum(CASE WHEN arm = 0 THEN val END), 0)
         |      AS BIGINT) AS s0,
         |    coalesce(sum(CASE WHEN arm = 0
         |      THEN CAST(val AS HUGEINT) * val END), 0) AS q0,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(coalesce(sum(CASE WHEN arm = 1 THEN val END), 0)
         |      AS BIGINT) AS s1,
         |    coalesce(sum(CASE WHEN arm = 1
         |      THEN CAST(val AS HUGEINT) * val END), 0) AS q1
         |  FROM v),
         |z AS (
         |  SELECT n0, n1,
         |    CASE WHEN n0 > 0 THEN floor(CAST(s0 AS DOUBLE) / n0 / 100.0
         |      * 10000.0 + 0.5) / 10000.0 END AS mean0_r,
         |    CASE WHEN n1 > 0 THEN floor(CAST(s1 AS DOUBLE) / n1 / 100.0
         |      * 10000.0 + 0.5) / 10000.0 END AS mean1_r,
         |    CASE WHEN n0 > 1 AND n1 > 1
         |      AND (${graft.operators.Analytics.welchVarPos(0)}
         |        OR ${graft.operators.Analytics.welchVarPos(1)})
         |      THEN ${graft.operators.Analytics.welchT} END AS t_r,
         |    CASE WHEN n0 > 1 AND n1 > 1
         |      AND (${graft.operators.Analytics.welchVarPos(0)}
         |        OR ${graft.operators.Analytics.welchVarPos(1)})
         |      THEN ${graft.operators.Analytics.welchDof} END AS dof_r
         |  FROM m)
         |SELECT n0, n1, mean0_r, mean1_r, t_r, dof_r,
         |  CASE WHEN t_r IS NOT NULL THEN abs(t_r) > 1.96
         |  END AS significant
         |FROM z""".stripMargin)),

    // §2.58j — Mann–Whitney U test between the two hash-split arms on
    // the per-event value metric: the NONPARAMETRIC location test next
    // to the SRM count checks — exact integer U (2× units) and tie term
    // off the bounded score histogram shared with the rocAuc machinery,
    // tie-corrected normal z at 4 dp written operation-identically on
    // both engines, verdict on the ROUNDED value (engine-identical by
    // construction). On the null split z sits near 0 — the honest
    // no-effect answer; the spec plants a shifted arm for the other path
    Query("q_mannwhitney", (s, dir) => {
      import org.apache.spark.sql.graftnative.RollingHash.rollingHash
      Analytics.mannWhitney(Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(
          (pmod(rollingHash(concat(lit("ab:"),
            col("user_id").cast("string"))), lit(2)) === 1).as("label"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("score")))
    },
      // same histogram rank-sum frame as the nb_auc oracle, tie term in
      // HUGEINT, the z written operation-identically and rounded before
      // the verdict
      sql(s"""WITH v AS (
        |  SELECT CAST(${sqlFold("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS INT) = 1
        |      AS label,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS score
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |hist AS (
        |  SELECT score,
        |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS nn
        |  FROM v GROUP BY score),
        |cum AS (
        |  SELECT score, np, nn,
        |    CAST(coalesce(sum(nn) OVER (ORDER BY score ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cnb
        |  FROM hist),
        |agg AS (
        |  SELECT CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pos,
        |    CAST(coalesce(sum(nn), 0) AS BIGINT) AS n_neg,
        |    CAST(count(*) AS BIGINT) AS n_scores,
        |    CAST(coalesce(sum(np * (cnb * 2 + nn)), 0) AS BIGINT) AS u2,
        |    coalesce(sum(CAST(np + nn AS HUGEINT) * (np + nn) * (np + nn)
        |      - (np + nn)), 0) AS tie_h
        |  FROM cum),
        |zed AS (
        |  SELECT n_pos, n_neg, n_scores, u2,
        |    CAST(tie_h AS BIGINT) AS tie_t,
        |    CASE WHEN n_pos > 0 AND n_neg > 0 AND n_scores > 1 THEN
        |      floor(CAST(u2 - n_pos * n_neg AS DOUBLE) / 2.0
        |        / sqrt((CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) / 12.0)
        |          * ((CAST(n_pos + n_neg AS DOUBLE) + 1.0)
        |            - CAST(tie_h AS DOUBLE)
        |              / (CAST(n_pos + n_neg AS DOUBLE)
        |                * (CAST(n_pos + n_neg AS DOUBLE) - 1.0))))
        |        * 10000.0 + 0.5) / 10000.0 END AS z_r
        |  FROM agg)
        |SELECT n_pos, n_neg, n_scores, u2, tie_t, z_r,
        |  CASE WHEN z_r IS NOT NULL THEN abs(z_r) > 1.96 END AS significant
        |FROM zed""".stripMargin)),

    // §2.58j2 — Kolmogorov–Smirnov two-sample test (r16): MW's
    // distribution-level companion off the SAME hash arms + cents
    // scores — D = max CDF gap as an exact decimal numerator with one
    // micro division, verdict a pure integer compare vs the quantized
    // asymptotic critical value
    Query("q_ks_test", (s, dir) => {
      import org.apache.spark.sql.graftnative.RollingHash.rollingHash
      Analytics.ksTest(Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(
          (pmod(rollingHash(concat(lit("ab:"),
            col("user_id").cast("string"))), lit(2)) === 1).as("label"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("score")))
    },
      // the same histogram + cumulative windows; D's numerator is exact
      // HUGEINT, one micro division, and the critical value quantizes
      // to micro once so the verdict is an integer compare
      sql(s"""WITH v AS (
        |  SELECT CAST(${sqlFold("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS INT) = 1
        |      AS label,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS score
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |hist AS (
        |  SELECT score,
        |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS nn
        |  FROM v GROUP BY score),
        |cum AS (
        |  SELECT score, np, nn,
        |    CAST(coalesce(sum(nn) OVER (ORDER BY score ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cnb,
        |    CAST(coalesce(sum(np) OVER (ORDER BY score ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cnpb,
        |    CAST(sum(np) OVER () AS BIGINT) AS np_tot,
        |    CAST(sum(nn) OVER () AS BIGINT) AS nn_tot
        |  FROM hist),
        |agg AS (
        |  SELECT max(np_tot) AS n_pos, max(nn_tot) AS n_neg,
        |    CAST(count(*) AS BIGINT) AS n_scores,
        |    max(abs(CAST(cnpb + np AS HUGEINT) * nn_tot
        |      - CAST(cnb + nn AS HUGEINT) * np_tot)) AS num_max
        |  FROM cum)
        |SELECT CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(n_neg AS BIGINT) AS n_neg, n_scores,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    CAST((num_max * 1000000)
        |      // (CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) END
        |    AS d_micro,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    CAST(floor(1.3581015157406195
        |      * sqrt(CAST(n_pos + n_neg AS DOUBLE)
        |        / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)))
        |      * 1000000.0 + 0.5) AS BIGINT) END AS crit_micro,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    CAST((num_max * 1000000)
        |      // (CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
        |    > CAST(floor(1.3581015157406195
        |      * sqrt(CAST(n_pos + n_neg AS DOUBLE)
        |        / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)))
        |      * 1000000.0 + 0.5) AS BIGINT) END AS significant
        |FROM agg""".stripMargin)),

    // §2.58j3 — Anderson–Darling two-sample test (r16 cont.): the
    // TAIL-WEIGHTED companion of q_ks_test on the same hash arms +
    // cents scores — every CDF gap integrated with the 1/(F(1−F))
    // weight, each term an exact-integer floor, verdict vs the
    // asymptotic 2.492 quantized once to micro
    Query("q_ad_test", (s, dir) => {
      import org.apache.spark.sql.graftnative.RollingHash.rollingHash
      Analytics.adTest(Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(
          (pmod(rollingHash(concat(lit("ab:"),
            col("user_id").cast("string"))), lit(2)) === 1).as("label"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("score")))
    },
      // same histogram + cumulative windows as q_ks_test; every AD term
      // is an exact HUGEINT floor (numerator a square — non-negative, so
      // DuckDB's flooring // and Spark's truncating DIV agree), summed
      // order-independently
      sql(s"""WITH v AS (
        |  SELECT CAST(${sqlFold("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS INT) = 1
        |      AS label,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS score
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |hist AS (
        |  SELECT score,
        |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS nn
        |  FROM v GROUP BY score),
        |cum AS (
        |  SELECT score, np, nn,
        |    CAST(coalesce(sum(nn) OVER (ORDER BY score ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cnb,
        |    CAST(coalesce(sum(np) OVER (ORDER BY score ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cnpb,
        |    CAST(sum(np) OVER () AS BIGINT) AS np_tot,
        |    CAST(sum(nn) OVER () AS BIGINT) AS nn_tot
        |  FROM hist),
        |terms AS (
        |  SELECT np_tot, nn_tot,
        |    CASE WHEN cnb + cnpb + np + nn < np_tot + nn_tot
        |        AND np_tot > 0 AND nn_tot > 0 THEN
        |      CAST((CAST(np + nn AS HUGEINT)
        |          * (CAST(np_tot + nn_tot AS HUGEINT) * (cnpb + np)
        |             - CAST(np_tot AS HUGEINT) * (cnb + cnpb + np + nn))
        |          * (CAST(np_tot + nn_tot AS HUGEINT) * (cnpb + np)
        |             - CAST(np_tot AS HUGEINT) * (cnb + cnpb + np + nn))
        |          * 1000000)
        |        // (CAST(cnb + cnpb + np + nn AS HUGEINT)
        |          * (np_tot + nn_tot - cnb - cnpb - np - nn)
        |          * np_tot * nn_tot) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS term
        |  FROM cum),
        |agg AS (
        |  SELECT max(np_tot) AS n_pos, max(nn_tot) AS n_neg,
        |    CAST(count(*) AS BIGINT) AS n_scores,
        |    CAST(sum(term) AS BIGINT) AS a2_sum
        |  FROM terms)
        |SELECT CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(n_neg AS BIGINT) AS n_neg, n_scores,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN a2_sum END AS a2_micro,
        |  CAST(2492000 AS BIGINT) AS crit_micro,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN a2_sum > 2492000 END
        |    AS significant
        |FROM agg""".stripMargin)),

    // §2.58d — N-arm SRM: chi-square over 4 equal-weight arms in exact
    // integer micro-units ((sum of (n_i*A - n)^2)*10^6 DIV (A*n),
    // decimal(38,0) accumulation), flag vs the df=3 95% critical value
    // 7.814728; one row per arm with the verdict riding along
    Query("q_srm_narm", (s, dir) =>
      Analytics.srmCheckNArm(Tables.events(s, dir), "user_id",
        arms = 4, critMicro = 7814728L),
      // N-arm replay: same rolling-hash assignment mod 4, arm spine from
      // range(4) so empty arms still contribute, HUGEINT squared-deviation
      // sum, chi2_micro = (ss*10^6) // (4*n) exactly as the operator's
      // decimal(38,0) DIV
      sql(s"""WITH v AS (
        |  SELECT ${sqlFold("'ab:' || CAST(user_id AS VARCHAR)")} % 4 AS variant
        |  FROM (SELECT DISTINCT user_id FROM events
        |        WHERE user_id IS NOT NULL)),
        |pa0 AS (
        |  SELECT variant, CAST(count(*) AS BIGINT) AS n_arm
        |  FROM v GROUP BY 1),
        |ids AS (SELECT CAST(range AS BIGINT) AS variant FROM range(4)),
        |pa AS (
        |  SELECT ids.variant, COALESCE(pa0.n_arm, 0) AS n_arm
        |  FROM ids LEFT JOIN pa0 USING (variant)),
        |n AS (SELECT CAST(sum(n_arm) AS BIGINT) AS n_users FROM pa),
        |d AS (
        |  SELECT variant, n_arm, n_users, n_arm * 4 - n_users AS dev_a
        |  FROM pa, n),
        |c AS (
        |  SELECT CAST((sum(CAST(dev_a AS HUGEINT) * CAST(dev_a AS HUGEINT))
        |      * 1000000) // (4 * CAST(max(n_users) AS HUGEINT)) AS BIGINT)
        |    AS chi2_micro
        |  FROM d)
        |SELECT variant, n_arm, n_users, dev_a, chi2_micro,
        |  chi2_micro > 7814728 AS srm_flag
        |FROM d, c ORDER BY variant""".stripMargin)),

    // §2.58b — CUPED variance reduction: pre-period covariate adjustment
    // with exact-BIGINT theta fraction (integer-OLS style), adjusted arm
    // means 4-dp — the experimentation upgrade of q_ab_metrics
    Query("q_cuped", (s, dir) =>
      Analytics.cupedMetrics(Tables.events(s, dir),
        "user_id", "ts", "value", cutDay = "2024-01-16", arms = 2),
      // per-user cents split at the cut date, pooled BIGINT moments, the
      // same double ops for theta and the adjusted means
      sql(s"""WITH v AS (
        |  SELECT user_id, ts, value,
        |    CAST(${sqlFold("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS INT) AS variant
        |  FROM events),
        |u AS (
        |  SELECT user_id, variant,
        |    COALESCE(CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END)
        |      AS BIGINT), 0) AS x,
        |    COALESCE(CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END)
        |      AS BIGINT), 0) AS y
        |  FROM v GROUP BY 1, 2),
        |pool AS (
        |  -- moments as HUGEINTs, the oracle twin of Spark's decimal(38,0)
        |  -- accumulation (the q_event_anomaly cleared-denominator pattern)
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM u),
        |a AS (
        |  SELECT variant, CAST(count(*) AS BIGINT) AS n_v,
        |    CAST(sum(x) AS BIGINT) AS sx_v, CAST(sum(y) AS BIGINT) AS sy_v
        |  FROM u GROUP BY 1),
        |w AS (
        |  SELECT a.*, pool.n, pool.sx, pool.sy,
        |    CAST(pool.n AS HUGEINT) * pool.sxy
        |      - CAST(pool.sx AS HUGEINT) * pool.sy AS num,
        |    CAST(pool.n AS HUGEINT) * pool.sxx
        |      - CAST(pool.sx AS HUGEINT) * pool.sx AS den
        |  FROM a CROSS JOIN pool)
        |SELECT variant, n_v AS n_users,
        |  round(CAST(sx_v AS DOUBLE) / CAST(n_v AS DOUBLE), 4) AS x_mean_cents,
        |  round(CAST(sy_v AS DOUBLE) / CAST(n_v AS DOUBLE), 4) AS y_mean_cents,
        |  round(CASE WHEN den > 0
        |    THEN CAST(sy_v AS DOUBLE) / CAST(n_v AS DOUBLE)
        |      - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
        |        * (CAST(sx_v AS DOUBLE) / CAST(n_v AS DOUBLE)
        |           - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    ELSE CAST(sy_v AS DOUBLE) / CAST(n_v AS DOUBLE) END, 4)
        |    AS adj_mean_cents,
        |  CAST(num AS DOUBLE) AS theta_num, CAST(den AS DOUBLE) AS theta_den,
        |  CASE WHEN den > 0 THEN CAST(floor(CAST(num AS DOUBLE) * 1000000.0
        |    / CAST(den AS DOUBLE) + 0.5) AS BIGINT) END AS theta_u
        |FROM w ORDER BY variant""".stripMargin)),

    // §2.59b — Morton (Z-order) tiling: the layout primitive behind
    // Pipeline.writeZOrdered, hash-verified cross-engine — per z-tile row
    // counts and code bounds over the (user mod 64, day-1) grid
    Query("q_zorder_tiles", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(pmod(col("user_id"), lit(64)).cast("int").as("zx"),
          (dayofmonth(col("ts")) - 1).cast("int").as("zy"))
      ev.select(col("zx"), col("zy"),
        graft.pipeline.Pipeline.mortonCode(col("zx"), col("zy"), 6).as("z"))
        .groupBy(shiftright(col("z"), 6).as("tile"))
        .agg(count(lit(1)).as("n"), min(col("z")).as("z_min"),
          max(col("z")).as("z_max"), countDistinct(col("zx")).as("n_x"),
          countDistinct(col("zy")).as("n_y"))
    },
      sql {
        // bit interleave replayed as an integer-arithmetic sum: bit b of x
        // lands at 2b, bit b of y at 2b+1
        val interleave = (0 until 6).map(b =>
          s"(((zx >> $b) & 1) << ${2 * b}) + (((zy >> $b) & 1) << ${2 * b + 1})")
          .mkString(" + ")
        s"""WITH g AS (
          |  SELECT CAST(user_id % 64 AS INT) AS zx,
          |    CAST(day(CAST(ts AS TIMESTAMP)) - 1 AS INT) AS zy
          |  FROM events),
          |z AS (SELECT zx, zy, $interleave AS z FROM g)
          |SELECT z >> 6 AS tile, count(*) AS n, min(z) AS z_min,
          |  max(z) AS z_max, count(DISTINCT zx) AS n_x,
          |  count(DISTINCT zy) AS n_y
          |FROM z GROUP BY 1""".stripMargin
      }),

    // §2.66 — period-over-period movers: week-2 vs week-1 value mass per
    // event type, shares + change in exact integer bp, one scan
    Query("q_period_movers", (s, dir) =>
      Analytics.periodMovers(Tables.events(s, dir),
        "event_type", "ts", "value",
        p1Start = "2024-01-08", p2Start = "2024-01-15", p2EndExcl = "2024-01-22"),
      sql("""WITH per AS (
        |  SELECT event_type,
        |    coalesce(CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-08 00:00:00'
        |      AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |      THEN CAST(value AS DECIMAL(18,2)) * 100 END) AS BIGINT), 0) AS p1_cents,
        |    coalesce(CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
        |      AND ts < TIMESTAMP '2024-01-22 00:00:00'
        |      THEN CAST(value AS DECIMAL(18,2)) * 100 END) AS BIGINT), 0) AS p2_cents
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-22 00:00:00'
        |  GROUP BY 1),
        |tot AS (SELECT sum(p1_cents) AS t1, sum(p2_cents) AS t2 FROM per)
        |SELECT event_type,
        |  CAST(p1_cents AS DOUBLE) / 100 AS p1_value,
        |  CAST(p2_cents AS DOUBLE) / 100 AS p2_value,
        |  CAST(floor(p1_cents * 10000.0 / t1 + 0.5) AS BIGINT) AS p1_share_bp,
        |  CAST(floor(p2_cents * 10000.0 / t2 + 0.5) AS BIGINT) AS p2_share_bp,
        |  CASE WHEN p1_cents > 0 THEN CAST(floor(
        |    (p2_cents - p1_cents) * 10000.0 / p1_cents + 0.5) AS BIGINT)
        |  END AS change_bp
        |FROM per, tot""".stripMargin)),

    // §2.58m — Population Stability Index between the first-half
    // reference window and the rest: value distributions over 10
    // quantile buckets cut at the REFERENCE period's exact rank
    // statistics, +1 Laplace smoothing both sides (an empty current
    // bucket is the signal, not a div-by-zero), per-bucket terms in
    // integer micro-nats before the order-independent sum — the drift
    // monitor every serving platform runs (>0.1 investigate, >0.25
    // retrain, by convention)
    Query("q_psi", (s, dir) =>
      Analytics.psiDrift(Tables.events(s, dir), "value", "ts",
        refEndExcl = "2024-01-16", nBuckets = 10),
      // the same reference-rank cuts, +1 smoothing, and micro-nat term
      // quantization; bucket spine from range() so empty buckets price in
      sql {
        val term =
          """CAST(floor(((CAST(ref_n + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE)
            |  - CAST(cur_n + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE))
            |  * ln((CAST(ref_n + 1 AS DOUBLE) * CAST(tc + 10 AS DOUBLE))
            |      / (CAST(cur_n + 1 AS DOUBLE) * CAST(tr + 10 AS DOUBLE))))
            |  * 1000000.0 + 0.5) AS BIGINT)""".stripMargin
        s"""WITH rowsv AS (
           |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
           |    ts < TIMESTAMP '2024-01-16' AS is_ref
           |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
           |hist AS (SELECT v, is_ref, CAST(count(*) AS BIGINT) AS c
           |  FROM rowsv GROUP BY 1, 2),
           |rc AS (SELECT v, c,
           |    CAST(coalesce(sum(c) OVER (ORDER BY v ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS cb
           |  FROM hist WHERE is_ref),
           |rt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS nr FROM rc),
           |cuts AS (
           |  SELECT k.k,
           |    min(CASE WHEN (rc.cb + rc.c) * 10 >= k.k * rt.nr
           |      THEN rc.v END) AS cut_v
           |  FROM rc CROSS JOIN rt, range(1, 10) AS k(k) GROUP BY 1),
           |bk AS (
           |  SELECT h.v, h.is_ref, h.c, CAST(count(cu.k) AS BIGINT) AS bucket
           |  FROM hist h LEFT JOIN cuts cu ON h.v >= cu.cut_v
           |  GROUP BY 1, 2, 3),
           |bg AS (SELECT bucket,
           |    CAST(sum(CASE WHEN is_ref THEN c ELSE 0 END) AS BIGINT)
           |      AS ref_n,
           |    CAST(sum(CASE WHEN NOT is_ref THEN c ELSE 0 END) AS BIGINT)
           |      AS cur_n
           |  FROM bk GROUP BY 1),
           |tot AS (SELECT CAST(coalesce(sum(ref_n), 0) AS BIGINT) AS tr,
           |    CAST(coalesce(sum(cur_n), 0) AS BIGINT) AS tc FROM bg),
           |sp AS (SELECT CAST(g.g AS BIGINT) AS bucket
           |  FROM range(0, 10) AS g(g)),
           |fullb AS (
           |  SELECT sp.bucket, coalesce(bg.ref_n, 0) AS ref_n,
           |    coalesce(bg.cur_n, 0) AS cur_n, t.tr, t.tc
           |  FROM sp LEFT JOIN bg USING (bucket) CROSS JOIN tot t),
           |r2 AS (
           |  SELECT f.bucket, cu.cut_v AS lo_cut, f.ref_n, f.cur_n,
           |    CASE WHEN tr > 0 THEN (ref_n * 10000) // tr END AS ref_bp,
           |    CASE WHEN tc > 0 THEN (cur_n * 10000) // tc END AS cur_bp,
           |    $term AS term_micro
           |  FROM fullb f LEFT JOIN cuts cu ON cu.k = f.bucket),
           |tt AS (SELECT CAST(sum(term_micro) AS BIGINT) AS psi_micro FROM r2)
           |SELECT r2.bucket, r2.lo_cut, r2.ref_n, r2.cur_n, r2.ref_bp,
           |  r2.cur_bp, r2.term_micro, tt.psi_micro
           |FROM r2 CROSS JOIN tt ORDER BY r2.bucket""".stripMargin
      }),

    // §2.64 — error-burst detection: hourly error rate vs the trailing
    // 6-hour mean, cross-multiplied (no division) burst test
    Query("q_error_burst", (s, dir) =>
      Observability.errorBursts(Tables.events(s, dir),
        errorType = "error", trailHours = 6, factor = 2, minErrors = 5),
      sql("""WITH hourly AS (
        |  SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us,
        |    count(*) AS n_events,
        |    count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT *,
        |    CAST(sum(n_errors) OVER w AS BIGINT) AS trail_errors,
        |    CAST(sum(n_events) OVER w AS BIGINT) AS trail_events
        |  FROM hourly
        |  WINDOW w AS (ORDER BY hour_us
        |    RANGE BETWEEN 21600000000 PRECEDING AND 1 PRECEDING))
        |SELECT hour_us, n_events, n_errors,
        |  CAST(floor(n_errors * 10000.0 / n_events + 0.5) AS BIGINT) AS rate_bp,
        |  trail_errors, trail_events,
        |  (trail_events IS NOT NULL AND trail_events > 0
        |    AND n_errors >= 5
        |    AND n_errors * trail_events > 2 * trail_errors * n_events) AS burst
        |FROM t""".stripMargin)),

    // §2.65 — event-type transition matrix (first-order Markov counts),
    // per-user lead window, output bounded at |types|^2
    Query("q_transitions", (s, dir) =>
      Observability.transitions(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type"),
      sql("""WITH p AS (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |pairs AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n) AS n_from FROM pairs GROUP BY 1)
        |SELECT pairs.from_type, to_type, n,
        |  CAST(floor(n * 10000.0 / n_from + 0.5) AS BIGINT) AS p_bp
        |FROM pairs JOIN tot USING (from_type)""".stripMargin)),

    // §2.65b — top-20 session paths: gap-sessionized event-type sequences
    // (first 5 events), counted and ranked — the n-th-order extension of
    // the transition matrix (what users actually DO, not just pairs)
    Query("q_event_paths", (s, dir) =>
      Observability.sessionPaths(Tables.events(s, dir),
        gapUs = 1800000000L, maxLen = 5, topN = 20),
      // replays the gap sessionization (q_sessions idiom), spells each
      // session's first-5 path, ranks by (count desc, path asc)
      sql("""WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |flagged AS (SELECT user_id, event_id, event_type, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (SELECT *, sum(new_session) OVER (
        |    PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged),
        |numbered AS (SELECT user_id, session_seq, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_seq
        |      ORDER BY us, event_id) AS rn
        |  FROM sess),
        |paths AS (SELECT string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM numbered WHERE rn <= 5 GROUP BY user_id, session_seq),
        |counts AS (SELECT path, count(*) AS n_sessions FROM paths GROUP BY path)
        |SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions,
        |  CAST(row_number() OVER (ORDER BY n_sessions DESC, path ASC)
        |    AS BIGINT) AS rk
        |FROM counts ORDER BY rk LIMIT 20""".stripMargin)),

    // §2.65f — Markov stationary mix (r16 cont.): where does traffic
    // settle if behavior is really first-order — and how far is
    // today's mix from that equilibrium? quantized integer power
    // iteration on the bounded transition matrix, dangling self-loops
    Query("q_markov_stationary", (s, dir) =>
      Observability.markovStationary(Tables.events(s, dir), "user_id",
        "ts", "event_id", "event_type", iters = 12),
      // the quantized power iteration unrolled: each step is
      // sum-then-DIV on the micro matrix, so every iterate replays
      // bit-identically; dangling rows self-loop at 1.0
      sql {
        val steps = (1 to 12).map(i =>
          s"""s$i AS (
             |  SELECT p.to_t AS t,
             |    CAST(sum(s${i - 1}.pi * p.p_micro) // 1000000 AS BIGINT)
             |      AS pi
             |  FROM s${i - 1} JOIN pmat p ON s${i - 1}.t = p.f
             |  GROUP BY 1)""".stripMargin).mkString(",\n")
        s"""WITH base AS (
           |  SELECT user_id, event_id, ts, event_type FROM events
           |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
           |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
           |p0 AS (
           |  SELECT event_type AS from_type,
           |    lead(event_type, 1) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS to_type
           |  FROM base),
           |pairs AS (
           |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
           |  FROM p0 WHERE to_type IS NOT NULL GROUP BY 1, 2),
           |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
           |  FROM pairs GROUP BY 1),
           |types AS (SELECT from_type AS t FROM pairs
           |  UNION SELECT to_type FROM pairs),
           |pmat AS (
           |  SELECT pairs.from_type AS f, pairs.to_type AS to_t,
           |    CAST((n * 1000000) // n_from AS BIGINT) AS p_micro
           |  FROM pairs JOIN tot USING (from_type)
           |  UNION ALL
           |  SELECT t, t, CAST(1000000 AS BIGINT) FROM types
           |  WHERE t NOT IN (SELECT from_type FROM tot)),
           |s0 AS (
           |  SELECT t, CAST(1000000 // (SELECT count(*) FROM types)
           |    AS BIGINT) AS pi
           |  FROM types),
           |$steps,
           |obs AS (
           |  SELECT event_type AS t, CAST(count(*) AS BIGINT) AS n_events
           |  FROM base GROUP BY 1),
           |obsh AS (
           |  SELECT t, n_events,
           |    CAST((n_events * 1000000)
           |      // (SELECT sum(n_events) FROM obs) AS BIGINT) AS obs_micro
           |  FROM obs)
           |SELECT types.t AS group_key,
           |  CAST(coalesce(obsh.n_events, 0) AS BIGINT) AS n_events,
           |  CAST(coalesce(obsh.obs_micro, 0) AS BIGINT) AS obs_micro,
           |  CAST(coalesce(s12.pi, 0) AS BIGINT) AS pi_micro,
           |  CAST(coalesce(s12.pi, 0) - coalesce(obsh.obs_micro, 0)
           |    AS BIGINT) AS gap_micro
           |FROM types LEFT JOIN s12 ON types.t = s12.t
           |LEFT JOIN obsh ON types.t = obsh.t
           |ORDER BY group_key""".stripMargin
      }),

    // §2.65c — last-touch attribution: each purchase credited to the
    // latest preceding click/view of the same user within 24h, found in
    // ONE per-user window pass (no stream self-join); exact integer
    // cents revenue per attributed type
    Query("q_attribution", (s, dir) =>
      Observability.lastTouchAttribution(Tables.events(s, dir),
        purchaseType = "purchase", touchTypes = Seq("click", "view"),
        windowUs = 86400000000L),
      sql("""WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c
        |  FROM events WHERE event_type IN ('purchase', 'click', 'view')),
        |marked AS (SELECT *,
        |    last_value(CASE WHEN event_type IN ('click', 'view') THEN us END
        |      IGNORE NULLS) OVER w AS t_us,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |      THEN event_type END IGNORE NULLS) OVER w AS t_type
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT
        |    CASE WHEN t_us IS NOT NULL AND us - t_us <= 86400000000
        |         THEN t_type ELSE 'none' END AS attributed_type,
        |    v_c,
        |    CASE WHEN t_us IS NOT NULL AND us - t_us <= 86400000000
        |         THEN us - t_us END AS lag_us
        |  FROM marked WHERE event_type = 'purchase')
        |SELECT attributed_type, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(v_c) AS BIGINT) AS revenue_cents,
        |  avg(lag_us) AS mean_lag_us
        |FROM p GROUP BY attributed_type""".stripMargin)),

    // §2.65d — audience-overlap matrix: distinct-user Jaccard per event-
    // type pair from each user's bounded type list — the |users|² self-
    // join the naive SQL pays never happens
    Query("q_audience_overlap", (s, dir) =>
      Analytics.audienceOverlap(Tables.events(s, dir),
        "user_id", "event_type"),
      // truth via the |users|²-shaped self-join the Spark side avoids —
      // the hash check proves the list-expansion form loses no pair
      sql("""WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t
        |  FROM events),
        |pairs AS (SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
        |  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t GROUP BY 1, 2),
        |tot AS (SELECT t, count(*) AS n FROM ut GROUP BY t)
        |SELECT type_a, type_b, CAST(n_both AS BIGINT) AS n_both,
        |  CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
        |  CAST(floor(n_both * 10000.0 / (ta.n + tb.n - n_both) + 0.5)
        |    AS BIGINT) AS jaccard_bp
        |FROM pairs
        |JOIN tot ta ON pairs.type_a = ta.t
        |JOIN tot tb ON pairs.type_b = tb.t""".stripMargin)),

    // §2.65e — daily-volume trend per type: exact integer OLS slope
    // numerator/denominator over the bounded (type, day) series — the
    // "which segments are growing" read, division only in the
    // human-readable micro-slope column
    Query("q_trend", (s, dir) =>
      Analytics.dailyTrend(Tables.events(s, dir), "event_type", "ts"),
      // integer OLS cross-products; one float division, written
      // operation-for-operation like the Spark side
      sql("""WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT min(day) AS day0 FROM daily),
        |xy AS (SELECT t, CAST(date_diff('day', day0, day) AS BIGINT) AS x, y
        |  FROM daily CROSS JOIN a),
        |g AS (SELECT t AS event_type, count(*) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM xy GROUP BY t)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(n_days * sxy - sx * sy AS BIGINT) AS slope_num,
        |  CAST(n_days * sxx - sx * sx AS BIGINT) AS slope_den,
        |  CASE WHEN n_days * sxx - sx * sx > 0 THEN
        |    CAST(floor(CAST(n_days * sxy - sx * sy AS DOUBLE) * 1000000.0 /
        |      (n_days * sxx - sx * sx) + 0.5) AS BIGINT) END AS slope_u
        |FROM g""".stripMargin)),

    // §2.58u — Benford first-digit audit (r16): the scale-invariant
    // data-quality / fraud screen over order totals — observed
    // first-digit shares vs the nine micro-literal Benford
    // expectations (they sum to exactly 1e6), signed deviations; ONE
    // map-side aggregate to the fixed 9-row frame
    Query("q_benford", (s, dir) =>
      Analytics.benfordAudit(Tables.orders(s, dir), "o_totalprice"),
      // the nine Benford micro literals inlined identically; shares are
      // exact integer DIV; digits with no rows still publish via the
      // fixed frame
      sql("""WITH b(digit, benford_micro) AS (VALUES
        |  (CAST(1 AS BIGINT), CAST(301030 AS BIGINT)),
        |  (2, 176091), (3, 124939), (4, 96910), (5, 79181),
        |  (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
        |c AS (
        |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
        |j AS (
        |  SELECT b.digit, CAST(coalesce(c.n, 0) AS BIGINT) AS n,
        |    t.n_total, b.benford_micro
        |  FROM b LEFT JOIN c ON b.digit = c.digit CROSS JOIN t)
        |SELECT digit, n, n_total,
        |  CASE WHEN n_total > 0 THEN (n * 1000000) // n_total
        |    ELSE CAST(0 AS BIGINT) END AS share_micro,
        |  benford_micro,
        |  CASE WHEN n_total > 0 THEN (n * 1000000) // n_total
        |    ELSE CAST(0 AS BIGINT) END - benford_micro AS dev_micro
        |FROM j ORDER BY digit""".stripMargin)),

    // §2.58u2 — Benford DRIFT TIMELINE (r16): the audit per (type,
    // day) — "since WHEN and in WHICH feed" — pure integer end to end
    // via the absent-digit complement identity
    Query("q_benford_timeline", (s, dir) =>
      Analytics.benfordTimeline(Tables.events(s, dir), "event_type",
        "ts", "value"),
      // per-(type, day) TV vs the nine literals, pure integer with the
      // absent-digit complement identity; one truncating DIV 2 publish
      sql("""WITH b(digit, bm) AS (VALUES
        |  (CAST(1 AS BIGINT), CAST(301030 AS BIGINT)),
        |  (2, 176091), (3, 124939), (4, 96910), (5, 79181),
        |  (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
        |cells AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |    CAST(substring(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR),
        |      1, 1) AS BIGINT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n_d
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL AND value >= 1
        |  GROUP BY 1, 2, 3),
        |byday AS (
        |  SELECT g, day, CAST(sum(n_d) AS BIGINT) AS n
        |  FROM cells GROUP BY 1, 2),
        |dev AS (
        |  SELECT c.g, c.day, d.n,
        |    CAST(sum(abs((c.n_d * 1000000) // d.n - b.bm)) AS BIGINT)
        |      AS present_dev,
        |    CAST(sum(b.bm) AS BIGINT) AS present_b
        |  FROM cells c JOIN b ON c.digit = b.digit
        |  JOIN byday d ON c.g = d.g AND c.day = d.day
        |  GROUP BY 1, 2, 3)
        |SELECT g AS group_key, CAST(day AS VARCHAR) AS day, n,
        |  (present_dev + (1000000 - present_b)) // 2 AS tv_micro
        |FROM dev ORDER BY group_key, day""".stripMargin)),

    // §2.63d — dow anomaly bands (r16): each day judged against its
    // OWN dow panel's mean ± 2σ with the whole gate pure integer —
    // (y·n − s)² > 4·n·(n·q − s²), no sqrt, no division
    Query("q_dow_anomaly", (s, dir) =>
      Analytics.dowAnomalyBands(Tables.events(s, dir), "event_type",
        "ts"),
      // the pure-integer variance gate replayed with the same exact
      // HUGEINT squares on both sides of the inequality
      sql("""WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |d2 AS (
        |  SELECT g, day, y, CAST(dayofweek(day) AS BIGINT) AS dow
        |  FROM daily),
        |p AS (
        |  SELECT g, day, y, dow,
        |    CAST(count(*) OVER w AS BIGINT) AS n_dow,
        |    CAST(sum(y) OVER w AS BIGINT) AS s_d,
        |    CAST(sum(y * y) OVER w AS BIGINT) AS q_d
        |  FROM d2 WINDOW w AS (PARTITION BY g, dow))
        |SELECT g AS group_key, CAST(day AS VARCHAR) AS day, y, dow,
        |  n_dow, (s_d * 1000000) // n_dow AS mean_micro,
        |  (CAST(y AS HUGEINT) * n_dow - s_d)
        |    * (CAST(y AS HUGEINT) * n_dow - s_d)
        |  > 4 * (CAST(n_dow AS HUGEINT) * q_d
        |      - CAST(s_d AS HUGEINT) * s_d) AS flagged
        |FROM p ORDER BY group_key, day""".stripMargin)),

    // §2.63c — forecast-baseline backtest (r16): naive-vs-seasonal MAE
    // per type over one shared scored-day set, exact integer micro
    // means, deterministic winner — which alerting baseline each
    // series should use
    Query("q_forecast_backtest", (s, dir) =>
      Analytics.forecastBacktest(Tables.events(s, dir), "event_type",
        "ts"),
      // row lags + exact integer micro means over the shared scored-day
      // set; the winner is an integer compare, no float anywhere
      sql("""WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |lagged AS (
        |  SELECT g, day, y,
        |    lag(y, 1) OVER (PARTITION BY g ORDER BY day) AS y1,
        |    lag(y, 7) OVER (PARTITION BY g ORDER BY day) AS y7
        |  FROM daily),
        |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days
        |  FROM lagged GROUP BY g),
        |sc AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n_scored,
        |    CAST(sum(abs(y - y1)) AS BIGINT) AS ae1,
        |    CAST(sum(abs(y - y7)) AS BIGINT) AS ae7
        |  FROM lagged WHERE y1 IS NOT NULL AND y7 IS NOT NULL
        |  GROUP BY g),
        |m AS (
        |  SELECT sc.g AS group_key, n.n_days, sc.n_scored,
        |    (sc.ae1 * 1000000) // sc.n_scored AS mae_naive_micro,
        |    (sc.ae7 * 1000000) // sc.n_scored AS mae_seasonal_micro
        |  FROM sc JOIN n ON sc.g = n.g)
        |SELECT group_key, n_days, n_scored, mae_naive_micro,
        |  mae_seasonal_micro,
        |  CASE WHEN mae_seasonal_micro < mae_naive_micro THEN 'seasonal'
        |    WHEN mae_naive_micro < mae_seasonal_micro THEN 'naive'
        |    ELSE 'tie' END AS winner
        |FROM m ORDER BY group_key""".stripMargin)),

    // §2.63b — classical additive decomposition (r16, STL-lite): each
    // type's daily series splits into centered-7-day trend + centered
    // day-of-week seasonal + remainder, all integer micro with the
    // negative-DIV divergence guard; the identity y*1e6 = trend +
    // seasonal + remainder reconstructs exactly by construction
    Query("q_stl_decompose", (s, dir) =>
      Analytics.stlDecompose(Tables.events(s, dir), "event_type", "ts"),
      // centered 7-row trend window, dow panel means, and the panel-wide
      // centering all replay as window functions; negative integer
      // divisions split into magnitude DIV + re-sign on BOTH engines
      sql("""WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT g, day, y,
        |    CAST(sum(y) OVER w7 AS BIGINT) AS tsum,
        |    CAST(count(*) OVER w7 AS BIGINT) AS tcnt
        |  FROM daily WINDOW w7 AS (PARTITION BY g ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (
        |  SELECT g, day, y, (tsum * 1000000) // tcnt AS trend_micro,
        |    CAST(dayofweek(day) AS BIGINT) AS dow,
        |    y * 1000000 - (tsum * 1000000) // tcnt AS det_micro
        |  FROM t),
        |s AS (
        |  SELECT g, day, y, dow, trend_micro, det_micro,
        |    CAST(sum(det_micro) OVER (PARTITION BY g, dow) AS BIGINT)
        |      AS dsum,
        |    CAST(count(*) OVER (PARTITION BY g, dow) AS BIGINT) AS dcnt
        |  FROM t2),
        |s2 AS (
        |  SELECT g, day, y, dow, trend_micro,
        |    CAST(CASE WHEN dsum >= 0 THEN dsum // dcnt
        |      ELSE -((-dsum) // dcnt) END AS BIGINT) AS s_raw
        |  FROM s),
        |s3 AS (
        |  SELECT g, day, y, dow, trend_micro, s_raw,
        |    CAST(sum(s_raw) OVER (PARTITION BY g) AS BIGINT) AS smn,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS smd
        |  FROM s2),
        |s4 AS (
        |  SELECT g, day, y, dow, trend_micro,
        |    s_raw - CAST(CASE WHEN smn >= 0 THEN smn // smd
        |      ELSE -((-smn) // smd) END AS BIGINT) AS seasonal_micro
        |  FROM s3)
        |SELECT g AS group_key, CAST(day AS VARCHAR) AS day, y, dow,
        |  trend_micro, seasonal_micro,
        |  y * 1000000 - trend_micro - seasonal_micro AS remainder_micro
        |FROM s4 ORDER BY group_key, day""".stripMargin)),

    // §2.63e — seasonal/trend strength (r16 cont.): the two variance-
    // explained numbers summarizing the decomposition per series —
    // which of my 400 series are strongly weekly / strongly trending?
    // n-scaled exact variances, one non-negative DIV, integer-compare
    // clamp so the quotient always fits BIGINT
    Query("q_seasonal_strength", (s, dir) =>
      Analytics.seasonalStrength(Tables.events(s, dir), "event_type",
        "ts"),
      // the full decomposition replayed, then n-scaled HUGEINT variances
      // and the integer-compare clamp before the single division
      sql("""WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT g, day, y,
        |    CAST(sum(y) OVER w7 AS BIGINT) AS tsum,
        |    CAST(count(*) OVER w7 AS BIGINT) AS tcnt
        |  FROM daily WINDOW w7 AS (PARTITION BY g ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (
        |  SELECT g, day, y, (tsum * 1000000) // tcnt AS trend_micro,
        |    CAST(dayofweek(day) AS BIGINT) AS dow,
        |    y * 1000000 - (tsum * 1000000) // tcnt AS det_micro
        |  FROM t),
        |s AS (
        |  SELECT g, day, y, dow, trend_micro, det_micro,
        |    CAST(sum(det_micro) OVER (PARTITION BY g, dow) AS BIGINT)
        |      AS dsum,
        |    CAST(count(*) OVER (PARTITION BY g, dow) AS BIGINT) AS dcnt
        |  FROM t2),
        |s2 AS (
        |  SELECT g, day, y, dow, trend_micro,
        |    CAST(CASE WHEN dsum >= 0 THEN dsum // dcnt
        |      ELSE -((-dsum) // dcnt) END AS BIGINT) AS s_raw
        |  FROM s),
        |s3 AS (
        |  SELECT g, day, y, dow, trend_micro, s_raw,
        |    CAST(sum(s_raw) OVER (PARTITION BY g) AS BIGINT) AS smn,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS smd
        |  FROM s2),
        |s4 AS (
        |  SELECT g, day, y, trend_micro,
        |    s_raw - CAST(CASE WHEN smn >= 0 THEN smn // smd
        |      ELSE -((-smn) // smd) END AS BIGINT) AS seasonal_micro
        |  FROM s3),
        |comp AS (
        |  SELECT g,
        |    CAST(y * 1000000 - trend_micro - seasonal_micro AS HUGEINT)
        |      AS r,
        |    CAST(y * 1000000 - trend_micro AS HUGEINT) AS sr,
        |    CAST(y * 1000000 - seasonal_micro AS HUGEINT) AS tr
        |  FROM s4),
        |agg AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n_days,
        |    sum(r) AS s_r, sum(r * r) AS q_r,
        |    sum(sr) AS s_sr, sum(sr * sr) AS q_sr,
        |    sum(tr) AS s_tr, sum(tr * tr) AS q_tr
        |  FROM comp GROUP BY g),
        |v AS (
        |  SELECT g AS group_key, n_days,
        |    n_days * q_r - s_r * s_r AS nvar_r,
        |    n_days * q_sr - s_sr * s_sr AS nvar_sr,
        |    n_days * q_tr - s_tr * s_tr AS nvar_tr
        |  FROM agg)
        |SELECT group_key, n_days,
        |  CASE WHEN nvar_sr > 0 THEN
        |    CASE WHEN nvar_r >= nvar_sr THEN CAST(0 AS BIGINT)
        |      ELSE CAST(1000000 - (nvar_r * 1000000) // nvar_sr
        |        AS BIGINT) END END AS fs_micro,
        |  CASE WHEN nvar_tr > 0 THEN
        |    CASE WHEN nvar_r >= nvar_tr THEN CAST(0 AS BIGINT)
        |      ELSE CAST(1000000 - (nvar_r * 1000000) // nvar_tr
        |        AS BIGINT) END END AS ft_micro
        |FROM v ORDER BY group_key""".stripMargin)),

    // §2.60b — Mann–Kendall + Theil–Sen: the ROBUST twin of q_trend's
    // OLS line (one outlier day owns an OLS slope; the rank test and
    // the median slope shrug it off): pure-integer S statistic,
    // integer 18·Var with the tie correction, continuity-corrected z,
    // and the lower-median pairwise slope in micro-units; the pair
    // frame is C(days,2) per type — day-span bounded, never corpus
    Query("q_mann_kendall", (s, dir) =>
      Analytics.mannKendallTrend(Tables.events(s, dir), "event_type",
        "ts", critZ = 1.96),
      // pure-integer S and 18*Var with the tie correction, the
      // continuity-corrected z through one double chain, and the lower
      // median of the micro-quantized pairwise slopes by row position
      sql("""WITH daily AS (
        |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |n AS (SELECT t, CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY t),
        |ties AS (
        |  SELECT t, CAST(sum(tk * (tk - 1) * (2 * tk + 5)) AS BIGINT)
        |    AS tie18
        |  FROM (SELECT t, y, CAST(count(*) AS BIGINT) AS tk
        |    FROM daily GROUP BY t, y) GROUP BY t),
        |pairs AS (
        |  SELECT a.t AS t,
        |    CAST(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
        |      ELSE 0 END AS BIGINT) AS sgn,
        |    CAST(floor(CAST(b.y - a.y AS DOUBLE) * 1000000.0
        |      / CAST(b.day - a.day AS DOUBLE) + 0.5) AS BIGINT)
        |      AS slope_micro
        |  FROM daily a JOIN daily b ON a.t = b.t AND a.day < b.day),
        |sagg AS (SELECT t, CAST(sum(sgn) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM pairs GROUP BY t),
        |sen AS (
        |  SELECT p.t, p.slope_micro AS sen_micro
        |  FROM (SELECT t, slope_micro,
        |      CAST(row_number() OVER (PARTITION BY t
        |        ORDER BY slope_micro) AS BIGINT) AS rk
        |    FROM pairs) p
        |  JOIN sagg ON p.t = sagg.t WHERE p.rk = (sagg.m + 1) // 2),
        |z AS (
        |  SELECT n.t AS group_key, n.n_days, sagg.s,
        |    n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - ties.tie18
        |      AS var18,
        |    sen.sen_micro
        |  FROM n JOIN ties ON n.t = ties.t JOIN sagg ON n.t = sagg.t
        |  JOIN sen ON n.t = sen.t),
        |zz AS (
        |  SELECT group_key, n_days, s, var18, sen_micro,
        |    CASE WHEN var18 > 0 THEN
        |      CAST(floor((CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
        |          WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) ELSE 0.0 END)
        |        / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |        * 10000.0 + 0.5) AS DOUBLE) / 10000.0 END AS z_r
        |  FROM z)
        |SELECT group_key, n_days, s, var18, sen_micro, z_r,
        |  CASE WHEN z_r IS NULL THEN NULL
        |    WHEN z_r > 1.96 THEN 'increasing'
        |    WHEN z_r < -1.96 THEN 'decreasing'
        |    ELSE 'none' END AS trend
        |FROM zz ORDER BY group_key""".stripMargin)),

    // §2.67 — new-vs-returning daily split (r16 cont.): is today's
    // traffic NEW users or the same ones coming back? first-day from
    // one user aggregate, co-partitioned join, bounded day frame
    Query("q_new_vs_returning", (s, dir) =>
      Analytics.newVsReturning(Tables.events(s, dir), "user_id", "ts"),
      // per-(user, day) frame + first-day join replayed; day frame
      // bounded, shares integer bp
      sql("""WITH ud AS (
        |  SELECT user_id AS u, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n_ev
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |fst AS (SELECT u, min(day) AS d0 FROM ud GROUP BY u)
        |SELECT CAST(ud.day AS VARCHAR) AS day,
        |  CAST(count(*) AS BIGINT) AS active_users,
        |  CAST(sum(CASE WHEN ud.day = fst.d0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS new_users,
        |  CAST(count(*) - sum(CASE WHEN ud.day = fst.d0 THEN 1 ELSE 0
        |    END) AS BIGINT) AS returning_users,
        |  CAST((sum(CASE WHEN ud.day = fst.d0 THEN 1 ELSE 0 END)
        |    * 10000) // count(*) AS BIGINT) AS new_share_bp,
        |  CAST(sum(ud.n_ev) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN ud.day = fst.d0 THEN ud.n_ev ELSE 0 END)
        |    AS BIGINT) AS new_events
        |FROM ud JOIN fst ON ud.u = fst.u
        |GROUP BY ud.day ORDER BY day""".stripMargin)),

    // §2.67b — DAU/WAU stickiness (r16 cont.): of everyone active
    // this week, how many showed up today? 7x fan-out of the COMPACT
    // (user, day) frame, never raw events
    Query("q_stickiness", (s, dir) =>
      Analytics.stickiness(Tables.events(s, dir), "user_id", "ts"),
      // the 7x fan-out replays via generate_series over dates; only
      // observed days publish
      sql("""WITH ud AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud
        |  GROUP BY day),
        |fan AS (
        |  SELECT DISTINCT u, CAST(f.d AS DATE) AS day
        |  FROM ud, unnest(generate_series(CAST(ud.day AS TIMESTAMP),
        |    CAST(ud.day + 6 AS TIMESTAMP), INTERVAL 1 DAY)) AS f(d)),
        |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau FROM fan
        |  GROUP BY day)
        |SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau,
        |  (dau.dau * 10000) // wau.wau AS stickiness_bp
        |FROM dau JOIN wau ON dau.day = wau.day
        |ORDER BY day""".stripMargin)),

    // §2.58x — minimum detectable effect (r16 cont.): what rate change
    // could a 50/50 split of today's users even SEE per metric? the
    // launch-an-experiment-or-don't design row; 2.8016 = z_.025 + z_.20
    // inlined once
    Query("q_power_mde", (s, dir) =>
      Analytics.powerMde(Tables.events(s, dir), "event_type",
        "user_id"),
      // distinct counts + the one 2.8016 sqrt chain, 4-bp quantized
      sql("""WITH u AS (
        |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM events WHERE user_id IS NOT NULL),
        |t AS (
        |  SELECT event_type AS group_key,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_t
        |  FROM events
        |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY 1),
        |m AS (
        |  SELECT group_key, n_users, n_t,
        |    (n_t * 10000) // n_users AS rate_bp,
        |    CASE WHEN n_t > 0 AND n_t < n_users THEN
        |      CAST(floor(2.8016
        |        * sqrt(2.0 * (CAST(n_t AS DOUBLE) / CAST(n_users AS DOUBLE))
        |          * (1.0 - CAST(n_t AS DOUBLE) / CAST(n_users AS DOUBLE))
        |          / (CAST(n_users AS DOUBLE) / 2.0))
        |        * 10000.0 + 0.5) AS BIGINT) END AS mde_bp
        |  FROM t, u)
        |SELECT group_key, n_users, n_t, rate_bp, mde_bp,
        |  CASE WHEN mde_bp IS NOT NULL AND rate_bp > 0 THEN
        |    (mde_bp * 10000) // rate_bp END AS rel_mde_bp
        |FROM m ORDER BY group_key""".stripMargin)),

    // §2.58y — group-sequential A/B monitor (r16 cont.): five daily
    // looks under the classic K=5 O'Brien-Fleming boundary — the
    // peeking-safe readout; cumulative enrollment, first-conversion
    // metric, stop_look riding every row
    Query("q_sequential_ab", (s, dir) =>
      Analytics.sequentialAb(Tables.events(s, dir), "user_id", "ts",
        "event_type", convType = "purchase", startDay = "2024-01-08",
        looks = 5),
      // the shared ab: rolling-hash arms, cumulative enrollment by
      // first-event look, the pooled two-proportion chain, and the five
      // OBF literals; stop_look = the window-min of crossed looks
      sql(s"""WITH ev AS (
        |  SELECT user_id, ts, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND CAST(ts AS DATE) >= DATE '2024-01-08'
        |    AND CAST(ts AS DATE) < DATE '2024-01-13'),
        |pu AS (
        |  SELECT user_id,
        |    CAST(min(CAST(ts AS DATE)) - DATE '2024-01-08' AS BIGINT) + 1
        |      AS first_look,
        |    CAST(min(CASE WHEN event_type = 'purchase'
        |      THEN CAST(ts AS DATE) END) - DATE '2024-01-08' AS BIGINT)
        |      + 1 AS conv_look,
        |    CAST(${sqlFold("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS BIGINT)
        |      AS arm
        |  FROM ev GROUP BY user_id),
        |looks(look) AS (VALUES (CAST(1 AS BIGINT)), (2), (3), (4), (5)),
        |byl AS (
        |  SELECT l.look,
        |    CAST(sum(CASE WHEN pu.arm = 0 AND pu.first_look <= l.look
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN pu.arm = 1 AND pu.first_look <= l.look
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN pu.arm = 0 AND pu.conv_look <= l.look
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN pu.arm = 1 AND pu.conv_look <= l.look
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM looks l, pu GROUP BY l.look),
        |bz AS (
        |  SELECT look, n0, n1, c0, c1,
        |    CAST(CASE look WHEN 1 THEN 4.562 WHEN 2 THEN 3.226
        |      WHEN 3 THEN 2.634 WHEN 4 THEN 2.281 ELSE 2.040 END
        |      AS DOUBLE) AS bound_r,
        |    CASE WHEN n0 > 0 AND n1 > 0 AND c0 + c1 > 0
        |        AND c0 + c1 < n0 + n1 THEN
        |      CAST(floor((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |          - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |        / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |          * (1.0 - CAST(c0 + c1 AS DOUBLE)
        |            / CAST(n0 + n1 AS DOUBLE))
        |          * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
        |        * 10000.0 + 0.5) AS DOUBLE) / 10000.0 END AS z_r
        |  FROM byl),
        |bc AS (
        |  SELECT look, n0, n1, c0, c1, z_r, bound_r,
        |    CASE WHEN z_r IS NOT NULL THEN abs(z_r) > bound_r END
        |      AS crossed
        |  FROM bz)
        |SELECT look, n0, n1, c0, c1, z_r, bound_r, crossed,
        |  min(CASE WHEN crossed THEN look END) OVER () AS stop_look
        |FROM bc ORDER BY look""".stripMargin)),

    // §2.64b — inter-arrival gap percentiles (r16 cont.): each type's
    // cadence health — p50/p90/p99/max ms gaps as exact rank
    // statistics off the bounded gap histogram
    Query("q_interarrival", (s, dir) =>
      Analytics.interarrivalPercentiles(Tables.events(s, dir),
        "event_type", "ts", "event_id"),
      // per-type lag gaps in ms, exact rank selection off the bounded
      // gap histogram (cum*100 >= n*q — ceil by cross-compare)
      sql("""WITH g AS (
        |  SELECT event_type AS t,
        |    (epoch_us(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |        PARTITION BY event_type
        |        ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) ASC,
        |          event_id ASC)) // 1000 AS gap_ms
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL),
        |hist AS (
        |  SELECT t, gap_ms, CAST(count(*) AS BIGINT) AS c
        |  FROM g WHERE gap_ms IS NOT NULL GROUP BY 1, 2),
        |cumf AS (
        |  SELECT t, gap_ms, c,
        |    CAST(sum(c) OVER (PARTITION BY t ORDER BY gap_ms ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY t) AS BIGINT) AS n
        |  FROM hist)
        |SELECT t AS group_key, max(n) AS n_gaps,
        |  min(CASE WHEN cum * 100 >= n * 50 THEN gap_ms END) AS p50_ms,
        |  min(CASE WHEN cum * 100 >= n * 90 THEN gap_ms END) AS p90_ms,
        |  min(CASE WHEN cum * 100 >= n * 99 THEN gap_ms END) AS p99_ms,
        |  max(gap_ms) AS max_ms
        |FROM cumf GROUP BY t ORDER BY group_key""".stripMargin)),

    // §2.58w — sample L-moments (r16 cont.): the robust (mean, L-CV,
    // L-skew) shape summary of each type's value distribution — the
    // shape alarm a whale row cannot own; rank-weighted sums exact per
    // tie block off the bounded cents histogram
    Query("q_lmoments", (s, dir) =>
      Analytics.lmomentsValues(Tables.events(s, dir), "event_type",
        "value"),
      // the tie-block rank weights replay off the same histogram; 2x/3x
      // scaled sums stay HUGEINT products, ratios are guarded //s with
      // the magnitude-floor-re-sign guard on the signed t3 numerator
      sql("""WITH hist AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |blocks AS (
        |  SELECT t, CAST(v AS HUGEINT) AS v, CAST(c AS HUGEINT) AS c,
        |    CAST(coalesce(sum(c) OVER (PARTITION BY t ORDER BY v ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS HUGEINT) AS cb
        |  FROM hist),
        |agg AS (
        |  SELECT t, sum(c) AS n, sum(v * c) AS a,
        |    sum(v * (2 * c * cb + c * (c - 1))) AS b2,
        |    sum(v * ((cb + c) * (cb + c - 1) * (cb + c - 2)
        |      - cb * (cb - 1) * (cb - 2))) AS c3
        |  FROM blocks GROUP BY t)
        |SELECT t AS group_key, CAST(n AS BIGINT) AS n,
        |  CAST((a * 1000000) // n AS BIGINT) AS l1_micro,
        |  CASE WHEN n >= 2 AND a > 0 THEN
        |    CAST(((b2 - (n - 1) * a) * 1000000)
        |      // ((n - 1) * a) AS BIGINT) END AS t2_micro,
        |  CASE WHEN n >= 3 AND b2 - (n - 1) * a > 0 THEN
        |    CAST(CASE
        |      WHEN 2 * c3 - 3 * (n - 2) * b2 + (n - 1) * (n - 2) * a >= 0
        |      THEN ((2 * c3 - 3 * (n - 2) * b2 + (n - 1) * (n - 2) * a)
        |        * 1000000) // ((n - 2) * (b2 - (n - 1) * a))
        |      ELSE -(((-(2 * c3 - 3 * (n - 2) * b2
        |        + (n - 1) * (n - 2) * a)) * 1000000)
        |        // ((n - 2) * (b2 - (n - 1) * a)))
        |    END AS BIGINT) END AS t3_micro
        |FROM agg ORDER BY group_key""".stripMargin)),

    // §2.66h — Fano factor (r16 cont.): is each type's daily series
    // Poisson-like or bursty? Var/mean in exact integer micro — the
    // overdispersion screen q_poisson_rate's null depends on
    Query("q_fano", (s, dir) =>
      Analytics.fanoDaily(Tables.events(s, dir), "event_type", "ts"),
      // HUGEINT moments, one non-negative DIV, banded integer verdict
      sql("""WITH daily AS (
        |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT t AS group_key, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(y) AS HUGEINT) AS s,
        |    sum(CAST(y AS HUGEINT) * y) AS q
        |  FROM daily GROUP BY 1),
        |f AS (
        |  SELECT group_key, n_days,
        |    CAST((s * 1000000) // n_days AS BIGINT) AS mean_micro,
        |    CASE WHEN s > 0 THEN
        |      CAST(((n_days * q - s * s) * 1000000) // (n_days * s)
        |        AS BIGINT) END AS fano_micro
        |  FROM agg)
        |SELECT group_key, n_days, mean_micro, fano_micro,
        |  CASE WHEN fano_micro IS NULL THEN NULL
        |    WHEN fano_micro > 1500000 THEN 'overdispersed'
        |    WHEN fano_micro < 500000 THEN 'underdispersed'
        |    ELSE 'poisson-like' END AS verdict
        |FROM f ORDER BY group_key""".stripMargin)),

    // §2.66f — two-window Poisson rate test (r16 cont.): did each
    // type's weekly rate change SIGNIFICANTLY (the significance half
    // of q_period_movers' share shift)? one range-pruned scan,
    // conditional counts, one sqrt chain
    Query("q_poisson_rate", (s, dir) =>
      Analytics.poissonRateTest(Tables.events(s, dir), "event_type",
        "ts", p1Start = "2024-01-08", p2Start = "2024-01-15",
        p2EndExcl = "2024-01-22"),
      // conditional window counts off one pruned scan; z is the one
      // sqrt chain, verdict off the rounded value
      sql("""WITH per AS (
        |  SELECT event_type AS group_key,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS k1,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS k2
        |  FROM events
        |  WHERE event_type IS NOT NULL
        |    AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-22 00:00:00'
        |  GROUP BY 1),
        |z AS (
        |  SELECT group_key, k1, k2,
        |    CASE WHEN k1 > 0 THEN (k2 * 10000) // k1 END AS ratio_bp,
        |    CASE WHEN k1 + k2 > 0 THEN
        |      CAST(floor(CAST(k2 - k1 AS DOUBLE)
        |        / sqrt(CAST(k1 + k2 AS DOUBLE))
        |        * 10000.0 + 0.5) AS DOUBLE) / 10000.0 END AS z_r
        |  FROM per)
        |SELECT group_key, k1, k2, ratio_bp, z_r,
        |  CASE WHEN z_r IS NULL THEN NULL
        |    WHEN z_r > 1.96 THEN 'up'
        |    WHEN z_r < -1.96 THEN 'down'
        |    ELSE 'stable' END AS verdict
        |FROM z ORDER BY group_key""".stripMargin)),

    // §2.66g — Chapman capture-recapture (r16 cont.): how many
    // distinct users does each type REALLY have, counting the unseen?
    // pure-integer mark-recapture off one per-(type, user) aggregate
    Query("q_capture_recapture", (s, dir) =>
      Analytics.captureRecapture(Tables.events(s, dir), "event_type",
        "user_id", "ts", p1Start = "2024-01-08", p2Start = "2024-01-15",
        p2EndExcl = "2024-01-22"),
      // per-(type, user) window flags, then pure-integer Chapman; the
      // +1s make the estimator div-zero-proof on both engines
      sql("""WITH pu AS (
        |  SELECT event_type AS group_key, user_id AS u,
        |    CAST(max(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS in1,
        |    CAST(max(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS in2
        |  FROM events
        |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |    AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-22 00:00:00'
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT group_key, CAST(sum(in1) AS BIGINT) AS n1,
        |    CAST(sum(in2) AS BIGINT) AS n2,
        |    CAST(sum(in1 * in2) AS BIGINT) AS m
        |  FROM pu GROUP BY 1)
        |SELECT group_key, n1, n2, m,
        |  ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS chapman,
        |  n1 + n2 - m AS seen,
        |  CASE WHEN ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 > 0 THEN
        |    ((n1 + n2 - m) * 10000)
        |      // (((n1 + 1) * (n2 + 1)) // (m + 1) - 1) END
        |    AS coverage_bp
        |FROM agg ORDER BY group_key""".stripMargin)),

    // §2.66d — Wald–Wolfowitz runs test (r16 cont.): is each type's
    // daily series random around its median level, or does it
    // cluster/oscillate? Integer numerator, one double chain for z,
    // verdict off the rounded value
    Query("q_runs_test", (s, dir) =>
      Analytics.runsTestDaily(Tables.events(s, dir), "event_type",
        "ts"),
      // lower median by rank position, lag() run boundaries, the integer
      // numerator and one double chain replayed; ties sit BELOW by the
      // documented > med convention
      sql("""WITH daily AS (
        |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |n AS (SELECT t, CAST(count(*) AS BIGINT) AS n_days FROM daily
        |  GROUP BY t),
        |med AS (
        |  SELECT r.t, r.y AS med FROM (
        |    SELECT t, y, CAST(row_number() OVER (PARTITION BY t
        |      ORDER BY y) AS BIGINT) AS rk
        |    FROM daily) r
        |  JOIN n ON r.t = n.t WHERE r.rk = (n.n_days + 1) // 2),
        |lagged AS (
        |  SELECT f.t, f.ab,
        |    lag(f.ab) OVER (PARTITION BY f.t ORDER BY f.day) AS prev
        |  FROM (SELECT d.t, d.day, d.y > m.med AS ab
        |    FROM daily d JOIN med m ON d.t = m.t) f),
        |agg AS (
        |  SELECT t,
        |    CAST(sum(CASE WHEN ab THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_above,
        |    CAST(sum(CASE WHEN NOT ab THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_below,
        |    CAST(sum(CASE WHEN prev IS NULL OR prev <> ab THEN 1
        |      ELSE 0 END) AS BIGINT) AS runs
        |  FROM lagged GROUP BY t),
        |z AS (
        |  SELECT n.t AS group_key, n.n_days, agg.n_above, agg.n_below,
        |    agg.runs, 2 * agg.n_above * agg.n_below AS p
        |  FROM n JOIN agg ON n.t = agg.t),
        |zz AS (
        |  SELECT group_key, n_days, n_above, n_below, runs,
        |    CASE WHEN p > n_days THEN
        |      CAST(floor(CAST(n_days * (runs - 1) - p AS DOUBLE)
        |        / sqrt(CAST(p AS DOUBLE) * CAST(p - n_days AS DOUBLE)
        |          / CAST(n_days - 1 AS DOUBLE))
        |        * 10000.0 + 0.5) AS DOUBLE) / 10000.0 END AS z_r
        |  FROM z)
        |SELECT group_key, n_days, n_above, n_below, runs, z_r,
        |  CASE WHEN z_r IS NULL THEN NULL
        |    WHEN z_r < -1.96 THEN 'clustered'
        |    WHEN z_r > 1.96 THEN 'oscillating'
        |    ELSE 'random' END AS verdict
        |FROM zz ORDER BY group_key""".stripMargin)),

    // §2.66e — daily autocorrelation at lags 1 and 7 (r16 cont.): the
    // two numbers that justify the seasonal model before it runs;
    // exact-integer num/den certificates, one 4-dp double quotient
    Query("q_autocorr", (s, dir) =>
      Analytics.autocorrDaily(Tables.events(s, dir), "event_type",
        "ts", lags = Seq(1, 7)),
      // HUGEINT centered products; per-lag linear lag() windows, NULL
      // num when the series is shorter than the lag, one double quotient
      sql("""WITH daily AS (
        |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |base AS (
        |  SELECT t,
        |    CAST(row_number() OVER (PARTITION BY t ORDER BY day)
        |      AS BIGINT) AS i,
        |    CAST(count(*) OVER (PARTITION BY t) AS BIGINT) AS n_days,
        |    CAST(count(*) OVER (PARTITION BY t) AS HUGEINT) * y
        |      - CAST(sum(y) OVER (PARTITION BY t) AS HUGEINT) AS d
        |  FROM daily),
        |den AS (
        |  SELECT t, max(n_days) AS n_days,
        |    CAST(sum(d * d) AS BIGINT) AS den
        |  FROM base GROUP BY t),
        |lagged AS (
        |  SELECT t, lag, CAST(sum(d * dk) AS BIGINT) AS num
        |  FROM (
        |    SELECT t, CAST(1 AS BIGINT) AS lag, d,
        |      lag(d, 1) OVER (PARTITION BY t ORDER BY i) AS dk
        |    FROM base
        |    UNION ALL
        |    SELECT t, CAST(7 AS BIGINT) AS lag, d,
        |      lag(d, 7) OVER (PARTITION BY t ORDER BY i) AS dk
        |    FROM base)
        |  GROUP BY t, lag)
        |SELECT den.t AS group_key, l.lag AS lag, den.n_days, lg.num,
        |  den.den,
        |  CASE WHEN lg.num IS NOT NULL AND den.den > 0 THEN
        |    CAST(floor(CAST(lg.num AS DOUBLE) / CAST(den.den AS DOUBLE)
        |      * 10000.0 + 0.5) AS DOUBLE) / 10000.0 END AS ac_r
        |FROM den
        |CROSS JOIN (SELECT CAST(1 AS BIGINT) AS lag
        |  UNION ALL SELECT CAST(7 AS BIGINT)) l
        |LEFT JOIN lagged lg ON den.t = lg.t AND l.lag = lg.lag
        |ORDER BY group_key, l.lag""".stripMargin)),

    // §2.66b — Spearman daily rank correlation (r16 cont.): are
    // high-traffic days also high-revenue days, monotonically? 2×
    // midranks exact integer, Pearson-on-ranks certificates exact,
    // one 4-dp double chain for rho (58k's q_spearman ranks customer
    // metrics; THIS ranks the day axis)
    Query("q_spearman_daily", (s, dir) =>
      Analytics.spearmanDaily(Tables.events(s, dir), "event_type",
        "ts", "value"),
      // 2x midranks (2*rank + tiecount - 1) replay exactly; the
      // certificates are integer and rho is the one shared double chain
      sql("""WITH daily AS (
        |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS ya,
        |    CAST(coalesce(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
        |      AS BIGINT)), 0) AS BIGINT) AS yb
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT t,
        |    CAST(rank() OVER (PARTITION BY t ORDER BY ya) AS BIGINT) * 2
        |      + CAST(count(*) OVER (PARTITION BY t, ya) AS BIGINT) - 1
        |      AS ra,
        |    CAST(rank() OVER (PARTITION BY t ORDER BY yb) AS BIGINT) * 2
        |      + CAST(count(*) OVER (PARTITION BY t, yb) AS BIGINT) - 1
        |      AS rb
        |  FROM daily),
        |agg AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ra) AS BIGINT) AS sa, CAST(sum(rb) AS BIGINT) AS sb,
        |    CAST(sum(ra * rb) AS BIGINT) AS sab,
        |    CAST(sum(ra * ra) AS BIGINT) AS saa,
        |    CAST(sum(rb * rb) AS BIGINT) AS sbb
        |  FROM ranked GROUP BY t),
        |certs AS (
        |  SELECT t AS group_key, n AS n_days,
        |    n * sab - sa * sb AS num,
        |    n * saa - sa * sa AS dena,
        |    n * sbb - sb * sb AS denb
        |  FROM agg)
        |SELECT group_key, n_days, num, dena, denb,
        |  CASE WHEN dena > 0 AND denb > 0 THEN
        |    CAST(floor(CAST(num AS DOUBLE)
        |      / sqrt(CAST(dena AS DOUBLE) * CAST(denb AS DOUBLE))
        |      * 10000.0 + 0.5) AS DOUBLE) / 10000.0 END AS rho_r
        |FROM certs ORDER BY group_key""".stripMargin)),

    // §2.66c — Kendall τ-b on the same daily pair (r16 cont.): pair-
    // order agreement, S pure integer over the C(days,2) frame, tie
    // terms exact, one 4-dp double chain for τ
    Query("q_kendall_tau", (s, dir) =>
      Analytics.kendallTauDaily(Tables.events(s, dir), "event_type",
        "ts", "value"),
      // S and the tie terms are pure integer; tau is the one shared
      // double chain, NULL when either series is all-tied
      sql("""WITH daily AS (
        |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS ya,
        |    CAST(coalesce(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
        |      AS BIGINT)), 0) AS BIGINT) AS yb
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.t AS t,
        |    CAST(CASE WHEN b.ya > a.ya THEN 1 WHEN b.ya < a.ya THEN -1
        |      ELSE 0 END AS BIGINT)
        |    * CAST(CASE WHEN b.yb > a.yb THEN 1 WHEN b.yb < a.yb THEN -1
        |      ELSE 0 END AS BIGINT) AS sgn
        |  FROM daily a JOIN daily b ON a.t = b.t AND a.day < b.day),
        |sagg AS (SELECT t, CAST(sum(sgn) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n0
        |  FROM pairs GROUP BY t),
        |ta AS (SELECT t, CAST(sum(tk * (tk - 1)) // 2 AS BIGINT) AS n1
        |  FROM (SELECT t, ya, CAST(count(*) AS BIGINT) AS tk
        |    FROM daily GROUP BY t, ya) GROUP BY t),
        |tb AS (SELECT t, CAST(sum(tk * (tk - 1)) // 2 AS BIGINT) AS n2
        |  FROM (SELECT t, yb, CAST(count(*) AS BIGINT) AS tk
        |    FROM daily GROUP BY t, yb) GROUP BY t),
        |n AS (SELECT t, CAST(count(*) AS BIGINT) AS n_days FROM daily
        |  GROUP BY t)
        |SELECT n.t AS group_key, n.n_days, sagg.s, sagg.n0, ta.n1, tb.n2,
        |  CASE WHEN sagg.n0 > ta.n1 AND sagg.n0 > tb.n2 THEN
        |    CAST(floor(CAST(sagg.s AS DOUBLE)
        |      / sqrt(CAST(sagg.n0 - ta.n1 AS DOUBLE)
        |        * CAST(sagg.n0 - tb.n2 AS DOUBLE))
        |      * 10000.0 + 0.5) AS DOUBLE) / 10000.0 END AS tau_r
        |FROM n JOIN sagg ON n.t = sagg.t JOIN ta ON n.t = ta.t
        |JOIN tb ON n.t = tb.t
        |ORDER BY group_key""".stripMargin)),

    // §2.60c — Theil–Sen forecast (r16): the FORECAST half of the
    // robust trend pair — lower-median slope AND intercept (both rank
    // statistics, pure integer given the quantized slope), one-step-
    // ahead forecast_micro = intercept + sen·(x_last + 1)
    Query("q_theil_sen_forecast", (s, dir) =>
      Analytics.theilSenForecast(Tables.events(s, dir), "event_type",
        "ts"),
      // same daily panel; both medians replay as rank statistics
      // (position (m+1)//2 under value ASC), the slope quantization is
      // the one shared double chain, everything else exact integer
      sql("""WITH daily AS (
        |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |base AS (
        |  SELECT t, min(day) AS day0, max(day) AS day_last,
        |    CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY t),
        |xd AS (
        |  SELECT d.t, CAST(d.day - b.day0 AS BIGINT) AS x, d.y
        |  FROM daily d JOIN base b ON d.t = b.t),
        |pairs AS (
        |  SELECT a.t AS t,
        |    CAST(floor(CAST(b.y - a.y AS DOUBLE) * 1000000.0
        |      / CAST(b.x - a.x AS DOUBLE) + 0.5) AS BIGINT)
        |      AS slope_micro
        |  FROM xd a JOIN xd b ON a.t = b.t AND a.x < b.x),
        |m AS (SELECT t, CAST(count(*) AS BIGINT) AS m FROM pairs
        |  GROUP BY t),
        |sen AS (
        |  SELECT p.t, p.slope_micro AS sen_micro
        |  FROM (SELECT t, slope_micro,
        |      CAST(row_number() OVER (PARTITION BY t
        |        ORDER BY slope_micro) AS BIGINT) AS rk
        |    FROM pairs) p
        |  JOIN m ON p.t = m.t WHERE p.rk = (m.m + 1) // 2),
        |resid AS (
        |  SELECT x.t, x.y * 1000000 - s.sen_micro * x.x AS r
        |  FROM xd x JOIN sen s ON x.t = s.t),
        |icept AS (
        |  SELECT r.t, r.r AS intercept_micro
        |  FROM (SELECT t, r,
        |      CAST(row_number() OVER (PARTITION BY t ORDER BY r)
        |        AS BIGINT) AS rk
        |    FROM resid) r
        |  JOIN base b ON r.t = b.t WHERE r.rk = (b.n_days + 1) // 2)
        |SELECT b.t AS group_key, b.n_days,
        |  CAST(b.day_last AS VARCHAR) AS day_last, s.sen_micro,
        |  i.intercept_micro,
        |  CAST(b.day_last - b.day0 AS BIGINT) + 1 AS x_next,
        |  i.intercept_micro + s.sen_micro
        |    * (CAST(b.day_last - b.day0 AS BIGINT) + 1) AS forecast_micro
        |FROM base b JOIN sen s ON b.t = s.t JOIN icept i ON b.t = i.t
        |ORDER BY group_key""".stripMargin)),

    // §2.61 — time-constrained funnel: view -> click within 24h -> purchase
    // within 24h of the click; chained conditional-min aggregates, one slim
    // row per surviving user per stage
    Query("q_funnel_windowed", (s, dir) =>
      Observability.funnelWindowed(Tables.events(s, dir),
        Seq("view", "click", "purchase"), windowUs = 24L * 3600 * 1000000),
      sql {
        val w = 24L * 3600 * 1000000
        s"""WITH s1 AS (
          |  SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
          |  FROM events WHERE event_type = 'view' GROUP BY 1),
          |s2 AS (
          |  SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t2,
          |    min(t1) AS t1
          |  FROM events e JOIN s1 USING (user_id)
          |  WHERE e.event_type = 'click'
          |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= t1
          |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) <= t1 + $w
          |  GROUP BY 1),
          |s3 AS (
          |  SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t3,
          |    min(t2) AS t2
          |  FROM events e JOIN s2 USING (user_id)
          |  WHERE e.event_type = 'purchase'
          |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= t2
          |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) <= t2 + $w
          |  GROUP BY 1)
          |SELECT 1 AS step_idx, 'view' AS step,
          |  (SELECT count(*) FROM s1) AS n_users,
          |  CAST(NULL AS DOUBLE) AS mean_us_from_prev
          |UNION ALL
          |SELECT 2, 'click', count(*),
          |  CAST(sum(t2 - t1) AS DOUBLE) / count(*) FROM s2
          |UNION ALL
          |SELECT 3, 'purchase', count(*),
          |  CAST(sum(t3 - t2) AS DOUBLE) / count(*) FROM s3""".stripMargin
      }),

    // §2.62 — RFM segmentation: exact rank-statistic quintile cuts off
    // bounded per-metric histograms, broadcast back; 5 = best
    Query("q_rfm", (s, dir) =>
      Analytics.rfmSegments(Tables.events(s, dir),
        "user_id", "event_type", "purchase", "ts", "value"),
      sql {
        def cuts(metric: String) =
          s"""${metric}_hist AS (
             |  SELECT $metric AS v, count(*) AS cnt FROM metrics GROUP BY 1),
             |${metric}_cum AS (
             |  SELECT v, sum(cnt) OVER (ORDER BY v
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM ${metric}_hist),
             |${metric}_cuts AS (
             |  SELECT
             |    min(CASE WHEN cum >= (n * 1 + 4) // 5 THEN v END) AS ${metric}_c1,
             |    min(CASE WHEN cum >= (n * 2 + 4) // 5 THEN v END) AS ${metric}_c2,
             |    min(CASE WHEN cum >= (n * 3 + 4) // 5 THEN v END) AS ${metric}_c3,
             |    min(CASE WHEN cum >= (n * 4 + 4) // 5 THEN v END) AS ${metric}_c4
             |  FROM ${metric}_cum, (SELECT sum(cnt) AS n FROM ${metric}_hist))""".stripMargin
        def bucket(metric: String) =
          s"""(1 + CAST($metric > ${metric}_c1 AS INT) + CAST($metric > ${metric}_c2 AS INT)
             | + CAST($metric > ${metric}_c3 AS INT) + CAST($metric > ${metric}_c4 AS INT))""".stripMargin.replace("\n", "")
        s"""WITH conv AS (
          |  SELECT * FROM events WHERE event_type = 'purchase'),
          |ref AS (SELECT max(CAST(ts AS DATE)) AS ref_day FROM conv),
          |metrics AS (
          |  SELECT user_id,
          |    CAST(date_diff('day', max(CAST(ts AS DATE)),
          |      (SELECT ref_day FROM ref)) AS BIGINT) AS recency_days,
          |    count(*) AS frequency,
          |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS monetary_cents
          |  FROM conv GROUP BY 1),
          |${cuts("recency_days")},
          |${cuts("frequency")},
          |${cuts("monetary_cents")}
          |SELECT user_id, recency_days, frequency,
          |  CAST(monetary_cents AS DOUBLE) / 100 AS monetary,
          |  6 - ${bucket("recency_days")} AS r_score,
          |  ${bucket("frequency")} AS f_score,
          |  ${bucket("monetary_cents")} AS m_score,
          |  CAST(6 - ${bucket("recency_days")} AS VARCHAR) ||
          |    CAST(${bucket("frequency")} AS VARCHAR) ||
          |    CAST(${bucket("monetary_cents")} AS VARCHAR) AS segment
          |FROM metrics, recency_days_cuts, frequency_cuts, monetary_cents_cuts""".stripMargin
      }),

    // §2.63 — seasonality matrix: (day-of-week, hour) activity heatmap,
    // output bounded at 7 x 24
    Query("q_seasonality", (s, dir) =>
      Analytics.seasonality(Tables.events(s, dir), "ts", "user_id", "value"),
      sql("""SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INT) AS dow,
        |  CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hour,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // §2.60 — hourly OHLC bars per event type: first/last by the unique
    // (ts, id) ordering via min_by/max_by in ONE hash aggregate — no
    // window sort
    Query("q_ohlc", (s, dir) =>
      Analytics.ohlcBars(Tables.events(s, dir),
        "event_type", "ts", "event_id", "value", bucket = "hour"),
      sql("""WITH h AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS bucket_us,
        |    ts, event_id, value
        |  FROM events),
        |o AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, bucket_us
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, bucket_us
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM h)
        |SELECT event_type, bucket_us,
        |  min(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  min(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
        |FROM o GROUP BY 1, 2""".stripMargin)),

    // §2.57 — the ranking-function family in one pass (tie-aware rank /
    // dense_rank / percent_rank / cume_dist + tie-broken ntile), one
    // exchange shared by both window orderings
    Query("q_rank_suite", (s, dir) =>
      Analytics.rankSuite(Tables.events(s, dir),
        "event_type", "user_id", "value", tiles = 4),
      sql("""WITH spend AS (
        |  SELECT event_type, user_id,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS spend_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, user_id,
        |  CAST(spend_cents AS DOUBLE) / 100 AS spend,
        |  rank() OVER w_val AS rnk,
        |  dense_rank() OVER w_val AS drnk,
        |  percent_rank() OVER w_val AS prank,
        |  cume_dist() OVER w_val AS cdist,
        |  ntile(4) OVER w_uniq AS quartile
        |FROM spend
        |WINDOW
        |  w_val AS (PARTITION BY event_type ORDER BY spend_cents DESC),
        |  w_uniq AS (PARTITION BY event_type ORDER BY spend_cents DESC, user_id)""".stripMargin)),

    // §2.53 — wide-to-long unpivot (pandas melt, inverse of the equip-util
    // pivot): per-user conditional-agg metric columns melted to rows
    Query("q_unpivot", (s, dir) =>
      Analytics.unpivotMetrics(Tables.events(s, dir),
        "user_id", "event_type", eventTypes, "value"),
      sql {
        val aggCols = eventTypes.map(t =>
          s"CAST(sum(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS $t")
          .mkString(", ")
        val arms = eventTypes.map(t =>
          s"SELECT user_id, '$t' AS metric, $t AS sum_value FROM wide")
          .mkString(" UNION ALL ")
        s"""WITH wide AS (SELECT user_id, $aggCols FROM events GROUP BY user_id)
           |SELECT * FROM ($arms) WHERE sum_value IS NOT NULL""".stripMargin
      }),

    // §2.54 — equal-width histogram with integer-exact bin assignment
    // (cents scaling + integer div; broadcast per-type bounds)
    Query("q_value_histogram", (s, dir) =>
      Analytics.valueHistogram(Tables.events(s, dir),
        "event_type", "value", bins = 8),
      sql("""WITH cents AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |bounds AS (
        |  SELECT event_type, min(cents) AS lo, max(cents) AS hi
        |  FROM cents GROUP BY 1)
        |SELECT c.event_type,
        |  CAST(((c.cents - b.lo) * 8) // (b.hi - b.lo + 1) AS INT) AS bin,
        |  count(*) AS n, min(c.cents) AS min_cents, max(c.cents) AS max_cents
        |FROM cents c JOIN bounds b USING (event_type)
        |GROUP BY 1, 2""".stripMargin)),

    // §2.55 — winsorization at exact rank statistics (p05/p95 per type):
    // clip points from the bounded cents histogram, no global sort
    Query("q_winsorize", (s, dir) =>
      Analytics.winsorize(Tables.events(s, dir),
        "event_type", "value", loPermille = 50, hiPermille = 950),
      sql("""WITH cents AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |hist AS (
        |  SELECT event_type, cents, count(*) AS cnt FROM cents GROUP BY 1, 2),
        |cum AS (
        |  SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hist),
        |tot AS (SELECT event_type, sum(cnt) AS n FROM hist GROUP BY 1),
        |cuts AS (
        |  SELECT c.event_type,
        |    min(CASE WHEN cum >= (n * 50 + 999) // 1000 THEN cents END) AS lo_c,
        |    min(CASE WHEN cum >= (n * 950 + 999) // 1000 THEN cents END) AS hi_c
        |  FROM cum c JOIN tot USING (event_type) GROUP BY 1)
        |SELECT c.event_type, count(*) AS n,
        |  CAST(min(lo_c) AS DOUBLE) / 100 AS cut_lo,
        |  CAST(min(hi_c) AS DOUBLE) / 100 AS cut_hi,
        |  count(CASE WHEN c.cents < lo_c THEN 1 END) AS n_clip_lo,
        |  count(CASE WHEN c.cents > hi_c THEN 1 END) AS n_clip_hi,
        |  CAST(sum(CASE WHEN c.cents < lo_c THEN lo_c
        |                WHEN c.cents > hi_c THEN hi_c
        |                ELSE c.cents END) AS DOUBLE) / 100 AS win_sum
        |FROM cents c JOIN cuts USING (event_type)
        |GROUP BY 1""".stripMargin))
  )
}
