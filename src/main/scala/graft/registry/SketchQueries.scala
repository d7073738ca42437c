package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.registry.OracleSql._
import graft.registry.Query.sql

/** Sketch queries: HyperLogLog, KMV, count-min, SpaceSaving, quantile sketches
  * and their rollups, timelines and audits. */
private[graft] object SketchQueries {

  // the SpaceSaving audit's item stream: planted scale-free hot keys
  // (every 10th user collapses to one of 4 items at share 1/40 — the
  // q_skew_join fixture discipline) folded in (ts, event_id) order
  private def ssItems(s: SparkSession, dir: String) =
    Tables.events(s, dir).select(
      col("event_type").as("g"),
      when(pmod(col("user_id"), lit(10)) === 0,
        expr("(user_id % 40) DIV 10"))
        .otherwise(col("user_id") + 100).as("i"),
      unix_micros(col("ts").cast("timestamp")).as("o1"),
      col("event_id").as("o2"))

  // the same planted-hot-key item stream with its arrival day — the
  // per-(group, day) summary-table fixture q_spacesaving_rollup folds
  private def ssItemsDaily(s: SparkSession, dir: String) =
    Tables.events(s, dir).select(
      col("event_type").as("g"),
      col("ts").cast("date").cast("string").as("day"),
      when(pmod(col("user_id"), lit(10)) === 0,
        expr("(user_id % 40) DIV 10"))
        .otherwise(col("user_id") + 100).as("i"),
      unix_micros(col("ts").cast("timestamp")).as("o1"),
      col("event_id").as("o2"))

  val all: Seq[Query] = Seq(
    // §2.24e2 — count-min sketch heavy hitters: a 3x2048 fixed-size
    // counter sketch over the token stream, certified against exact
    // counts for the true top-20 (cms_est >= true_count, one-sided)
    Query("q_cms_topk", (s, dir) =>
      graft.operators.Approx.cmsTopK(Tables.documents(s, dir),
        d = 3, w = 2048, k = 20),
      // replays the salted-fold bucket arithmetic of every sketch cell
      sql(s"""WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (SELECT token, count(*) AS true_count FROM tok GROUP BY token),
        |cells AS (
        |  SELECT i AS r,
        |    ${sqlFold("'cms' || CAST(i AS VARCHAR) || ':' || token")} % 2048 AS b,
        |    CAST(sum(true_count) AS BIGINT) AS v
        |  FROM cnt CROSS JOIN range(0, 3) AS t(i)
        |  GROUP BY r, b),
        |est AS (
        |  SELECT c.token, CAST(c.true_count AS BIGINT) AS true_count,
        |    min(cl.v) AS cms_est
        |  FROM cnt c CROSS JOIN range(0, 3) AS t(i) JOIN cells cl
        |    ON cl.r = i AND cl.b =
        |      ${sqlFold("'cms' || CAST(i AS VARCHAR) || ':' || c.token", "c2")} % 2048
        |  GROUP BY c.token, c.true_count)
        |SELECT token, true_count, cms_est FROM est
        |ORDER BY true_count DESC, token ASC LIMIT 20""".stripMargin)),

    // §2.24e7 — day-merged CMS (the CMS member of the sketch-warehouse
    // day-merge family): per-day d×w matrices over the per-user event
    // stream, merged by elementwise sum; merged == direct is an IDENTITY
    // verdict (counter addition commutes), and the true top-20 users'
    // merged-cell estimates carry the one-sided guarantee
    Query("q_cms_rollup", (s, dir) =>
      graft.operators.Approx.cmsRollup(
        Tables.events(s, dir).select(
          col("user_id").cast("string").as("token"),
          to_date(col("ts")).as("day")),
        d = 3, w = 2048, k = 20),
      // replays the daily matrices, the elementwise-sum merge, the direct
      // sketch, the full-outer cell identity verdict, and the top-20
      // estimates off the MERGED cells
      sql {
        def bucket(saltExpr: String, tok: String) =
          s"""${sqlFold(s"'cms' || $saltExpr || ':' || $tok", "c2")} % 2048""".stripMargin
        s"""WITH tok AS (
           |  SELECT CAST(user_id AS VARCHAR) AS token,
           |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
           |  FROM events
           |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |cnt_d AS (SELECT token, day, count(*) AS c FROM tok GROUP BY 1, 2),
           |daily AS (
           |  SELECT day, i AS r, ${bucket("CAST(i AS VARCHAR)", "token")} AS b,
           |    sum(c) AS v
           |  FROM cnt_d CROSS JOIN range(0, 3) AS t(i)
           |  GROUP BY 1, 2, 3),
           |merged AS (
           |  SELECT r, b, CAST(sum(v) AS BIGINT) AS v FROM daily GROUP BY 1, 2),
           |cnt AS (SELECT token, count(*) AS true_count FROM tok GROUP BY 1),
           |direct AS (
           |  SELECT i AS r, ${bucket("CAST(i AS VARCHAR)", "token")} AS b,
           |    CAST(sum(true_count) AS BIGINT) AS v
           |  FROM cnt CROSS JOIN range(0, 3) AS t(i)
           |  GROUP BY 1, 2),
           |vr AS (
           |  SELECT count(*) AS n_cells,
           |    count(*) = CAST(sum(CASE WHEN m.v = d2.v THEN 1 ELSE 0 END) AS BIGINT)
           |      AS cells_match
           |  FROM merged m FULL JOIN direct d2 ON m.r = d2.r AND m.b = d2.b),
           |est AS (
           |  SELECT c.token AS item, CAST(c.true_count AS BIGINT) AS true_count,
           |    min(m.v) AS cms_est
           |  FROM cnt c CROSS JOIN range(0, 3) AS t(i) JOIN merged m
           |    ON m.r = i AND m.b = ${bucket("CAST(i AS VARCHAR)", "c.token")}
           |  GROUP BY 1, 2)
           |SELECT item, true_count, cms_est, cms_est >= true_count AS one_sided,
           |  vr.n_cells, vr.cells_match
           |FROM est CROSS JOIN vr
           |ORDER BY true_count DESC, item ASC LIMIT 20""".stripMargin
      }),

    // §2.24e3 — batch SpaceSaving heavy hitters (the identified-top-m
    // complement of the CMS cells; batch twin of the 45n stream): per
    // event_type, 64 counters folded in (ts, event_id) order over a
    // PLANTED-hot-key item domain (every 10th user collapses to one of
    // 4 hot items at share 1/40 each — scale-free, so the guaranteed
    // set count·m > N is non-empty at every SF; the q_skew_join planted
    // fixture discipline). Published rows: the guaranteed set with
    // exact counts + the four Metwally theorem verdicts (43b pattern)
    Query("q_spacesaving", (s, dir) =>
      graft.operators.Approx.spaceSavingAudit(ssItems(s, dir), m = 64),
      // the guaranteed heavy-hitter set (exact count * m > N) replayed
      // exactly; the four theorem verdicts asserted as literal true (the
      // q_approx_audit pattern — the fold's own est/err are engine state,
      // any fold bug surfaces as a false/NULL verdict and a hash mismatch)
      spaceSavingOracle),

    // §2.24e4 — SHARDED SpaceSaving (the unbounded-group scale path):
    // items shard by the salted hash mod 4, each shard folds its own
    // sub-stream (groups x shards parallel), merged summary = plain
    // union (item-sharding owns each item wholly); the guaranteed set
    // and all four theorem verdicts are IDENTICAL, so the same oracle
    // certifies this plan
    Query("q_spacesaving_sharded", (s, dir) =>
      graft.operators.Approx.spaceSavingAuditSharded(ssItems(s, dir),
        m = 64, shards = 4),
      // identical published rows: sharding changes the fold's internals,
      // not the guaranteed set or the theorem verdicts
      spaceSavingOracle),

    // §2.24e5 — DAY-MERGED SpaceSaving rollup (r12, Agarwal et al.
    // mergeable summaries): one m=128 summary per (group, day) at rest,
    // a date-range top-m answered by merging summaries (tracked est/err
    // or the day's min-counter floor), never refolding raw rows; the
    // guaranteed set tightens to the post-merge 2e threshold
    // (exact*m > 2N — the top-m membership theorem after a merge), all
    // four verdicts engine-certified like 24e3/24e4
    Query("q_spacesaving_rollup", (s, dir) =>
      graft.operators.Approx.spaceSavingRollupAudit(
        ssItemsDaily(s, dir), m = 128),
      // guaranteed set at the post-merge 2e threshold; verdicts are
      // theorems of the mergeable-summaries construction, asserted true
      sql("""WITH it AS (
        |  SELECT event_type AS g,
        |    CASE WHEN user_id % 10 = 0 THEN (user_id % 40) // 10
        |         ELSE user_id + 100 END AS item
        |  FROM events),
        |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n_events
        |      FROM it GROUP BY 1),
        |e AS (SELECT g, item, CAST(count(*) AS BIGINT) AS exact_cnt
        |      FROM it GROUP BY 1, 2)
        |SELECT e.g AS group_key, e.item, e.exact_cnt,
        |  true AS tracked, true AS est_ge_exact,
        |  true AS lower_le_exact, true AS err_within_cap
        |FROM e JOIN n USING (g) WHERE e.exact_cnt * 128 > 2 * n.n_events
        |ORDER BY 1, 2""".stripMargin)),

    // §2.24e6 — SpaceSaving TIMELINE (r13): the
    // heavy-hitter guaranteed set's drift-to-date — the Agarwal merge of
    // the daily summaries applied PREFIX-wise, the 2e-threshold
    // guaranteed set with all four theorem verdicts at every as-of day;
    // exact certification is candidate-bounded (a guaranteed item is
    // necessarily tracked somewhere in its prefix), never data-sized
    // per prefix
    Query("q_spacesaving_timeline", (s, dir) =>
      graft.operators.Approx.spaceSavingTimelineAudit(
        ssItemsDaily(s, dir), m = 128),
      // the 2e-threshold guaranteed set at EVERY prefix, verdicts literal
      // (the q_spacesaving_rollup pattern per as-of day): the oracle
      // derives each prefix's guaranteed items from exact counts and
      // asserts all four theorem verdicts hold
      sql("""WITH it AS (
        |  SELECT event_type AS g, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |    CASE WHEN user_id % 10 = 0 THEN (user_id % 40) // 10
        |         ELSE user_id + 100 END AS item
        |  FROM events),
        |days AS (SELECT DISTINCT g, day AS asof FROM it),
        |n AS (SELECT g, day, CAST(count(*) AS BIGINT) AS n_day
        |      FROM it GROUP BY 1, 2),
        |nr AS (SELECT d.g, d.asof, CAST(sum(n.n_day) AS BIGINT) AS n_events
        |       FROM days d JOIN n ON n.g = d.g AND n.day <= d.asof
        |       GROUP BY 1, 2),
        |e AS (SELECT g, day, item, CAST(count(*) AS BIGINT) AS c
        |      FROM it GROUP BY 1, 2, 3),
        |et AS (SELECT d.g, d.asof, e.item, CAST(sum(e.c) AS BIGINT) AS exact_cnt
        |       FROM days d JOIN e ON e.g = d.g AND e.day <= d.asof
        |       GROUP BY 1, 2, 3)
        |SELECT et.g AS group_key, et.asof AS day, et.item, et.exact_cnt,
        |  true AS tracked, true AS est_ge_exact, true AS lower_le_exact,
        |  true AS err_within_cap
        |FROM et JOIN nr ON et.g = nr.g AND et.asof = nr.asof
        |WHERE et.exact_cnt * 128 > 2 * nr.n_events
        |ORDER BY 1, 2, 3""".stripMargin)),

    // §2.43b — approx-distinct audit: HLL++ (rsd 0.05) certified within
    // 15% of the exact per-type distinct-user count. The approx value
    // itself is engine-specific state, so the registered columns are the
    // exact count and the tolerance verdict — the contract a 100 TB run
    // relies on when it swaps countDistinct for the sketch.
    Query("q_approx_audit", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"),
          approx_count_distinct(col("user_id"), 0.05).as("hll"))
        .select(col("event_type"), col("exact_distinct"),
          (abs(col("hll") - col("exact_distinct")).cast("double") /
            col("exact_distinct") <= 0.15).as("within_tolerance")),
      // the oracle asserts the tolerance verdict, not the sketch value
      sql("""SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
        |  true AS within_tolerance
        |FROM events GROUP BY event_type""".stripMargin)),

    // §2.43c — approx-percentile audit (sketch-trust twin of q_approx_audit):
    // exact p50/p95 published, the t-digest-style approx_percentile certified
    // within 5%-relative/0.05-absolute of each — the contract a 100 TB run
    // relies on when the exact sort-based percentile is off the table
    Query("q_approx_pctl_audit", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(value, 0.5)").as("exact_p50"),
          expr("percentile(value, 0.95)").as("exact_p95"),
          expr("approx_percentile(value, 0.5, 10000)").as("ap50"),
          expr("approx_percentile(value, 0.95, 10000)").as("ap95"))
        .select(col("event_type"), col("exact_p50"), col("exact_p95"),
          (abs(col("ap50") - col("exact_p50")) <=
            greatest(abs(col("exact_p50")) * 0.05, lit(0.05))).as("p50_ok"),
          (abs(col("ap95") - col("exact_p95")) <=
            greatest(abs(col("exact_p95")) * 0.05, lit(0.05))).as("p95_ok")),
      sql("""SELECT event_type,
        |  quantile_cont(value, 0.5) AS exact_p50,
        |  quantile_cont(value, 0.95) AS exact_p95,
        |  true AS p50_ok, true AS p95_ok
        |FROM events GROUP BY event_type""".stripMargin)),

    // §2.43d — PORTABLE HyperLogLog audit (the engine-replayable upgrade
    // of 43b): the full 512-register file from the first 52 md5 bits,
    // integer-exact register weights, estimate + small-range correction +
    // exact count + err_bp — the registers themselves are the contract,
    // not just a tolerance verdict
    Query("q_hll_counts", (s, dir) =>
      graft.operators.Approx.hllAudit(Tables.events(s, dir), "event_type", "user_id"),
      sql {
        s"""WITH d AS (
           |  SELECT DISTINCT event_type, user_id FROM events
           |  WHERE user_id IS NOT NULL),
           |${hllAudit("event_type", "CAST(user_id AS VARCHAR)")}""".stripMargin
      }),

    // §2.43e — KMV bottom-k sketch set operations: per event-type pair,
    // union-size and Jaccard estimates from the k=64 smallest fold values
    // only, certified against the exact overlap (theta-sketch shape: the
    // 100 TB audience-overlap path when the exact pairwise join stops
    // paying)
    Query("q_kmv_overlap", (s, dir) =>
      graft.operators.Approx.kmvOverlap(Tables.events(s, dir), "event_type", "user_id"),
      // bottom-k sketch replay: global row_number per group == the operator's
      // skew-safe two-phase rank (the priority order is total), merged-pair
      // membership flags, kk = min(k, merged size), and the same estimator
      // arithmetic over the kk-th smallest
      sql {
        s"""WITH d0 AS (
           |  SELECT DISTINCT event_type, user_id FROM events
           |  WHERE user_id IS NOT NULL),
           |hh AS (
           |  SELECT DISTINCT event_type AS g,
           |    ${md5bits("'kmv:' || CAST(user_id AS VARCHAR)")} + 1 AS hc
           |  FROM d0),
           |rk0 AS (
           |  SELECT g, hc, row_number() OVER (PARTITION BY g ORDER BY hc) AS rk
           |  FROM hh),
           |sk AS (SELECT g, hc FROM rk0 WHERE rk <= 64),
           |ty AS (SELECT DISTINCT g FROM sk),
           |pr AS (SELECT a.g AS ta, b.g AS tb FROM ty a, ty b WHERE a.g < b.g),
           |mg AS (
           |  SELECT pr.ta, pr.tb, s.hc,
           |    max(CASE WHEN s.g = pr.ta THEN 1 ELSE 0 END) AS in_a,
           |    max(CASE WHEN s.g = pr.tb THEN 1 ELSE 0 END) AS in_b
           |  FROM pr JOIN sk s ON s.g = pr.ta OR s.g = pr.tb
           |  GROUP BY 1, 2, 3),
           |w AS (
           |  SELECT ta, tb, hc, in_a, in_b,
           |    row_number() OVER (PARTITION BY ta, tb ORDER BY hc) AS urk,
           |    count(*) OVER (PARTITION BY ta, tb) AS cnt
           |  FROM mg),
           |es AS (
           |  SELECT ta, tb, CAST(max(cnt) AS BIGINT) AS cnt,
           |    CAST(max(least(64, cnt)) AS BIGINT) AS kk,
           |    CAST(sum(in_a * in_b) AS BIGINT) AS matches,
           |    max(CASE WHEN urk = least(64, cnt) THEN hc END) AS u_kth
           |  FROM w WHERE urk <= least(64, cnt) GROUP BY 1, 2),
           |np AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM hh GROUP BY 1),
           |ix AS (
           |  SELECT a.g AS ta, b.g AS tb, CAST(count(*) AS BIGINT) AS inter_exact
           |  FROM hh a JOIN hh b ON a.hc = b.hc AND a.g < b.g GROUP BY 1, 2),
           |f AS (
           |  SELECT es.ta, es.tb, na.n AS n_a, nb.n AS n_b,
           |    COALESCE(ix.inter_exact, 0) AS inter_exact,
           |    na.n + nb.n - COALESCE(ix.inter_exact, 0) AS union_exact,
           |    es.cnt, es.kk, es.matches, es.u_kth
           |  FROM es JOIN np na ON na.g = es.ta JOIN np nb ON nb.g = es.tb
           |  LEFT JOIN ix ON ix.ta = es.ta AND ix.tb = es.tb),
           |f2 AS (
           |  SELECT ta, tb, n_a, n_b, inter_exact, union_exact,
           |    round(CAST(inter_exact AS DOUBLE) / CAST(union_exact AS DOUBLE), 4)
           |      AS jacc_exact,
           |    round(CAST(matches AS DOUBLE) / CAST(kk AS DOUBLE), 4) AS jacc_kmv,
           |    round(CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
           |      ELSE CAST(63.0 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
           |        / CAST(u_kth AS DOUBLE) END, 2) AS union_est
           |  FROM f)
           |SELECT ta, tb, n_a, n_b, inter_exact, union_exact, jacc_exact,
           |  jacc_kmv, union_est,
           |  CAST(round(abs(jacc_kmv - jacc_exact) * 10000.0, 0) AS BIGINT)
           |    AS jacc_err_bp,
           |  CAST(round(abs(union_est - CAST(union_exact AS DOUBLE))
           |    / CAST(union_exact AS DOUBLE) * 10000.0, 0) AS BIGINT)
           |    AS union_err_bp
           |FROM f2 ORDER BY ta, tb""".stripMargin
      }),

    // §2.43e4 — HLL register SET OPS (r15): per-pair |A∪B| off the
    // max-merged register file (max-merge IS the union law) and |A∩B|
    // by inclusion–exclusion, both certified against the exact
    // distinct-join truth — the audience-overlap path when only the
    // q_hll_counts register files are stored (KMV needs the bottom-k
    // value sets; this needs nothing beyond the registers)
    Query("q_hll_overlap", (s, dir) =>
      graft.operators.Approx.hllOverlap(Tables.events(s, dir),
        "event_type", "user_id"),
      // per-type register replay + the pair cross + max-merged union
      // registers + inclusion–exclusion, certified against the exact
      // distinct self-join
      sql {
        def est =
          s"""round(CASE WHEN CAST('3.3194137200059597e+18' AS DOUBLE)
             |      / CAST(sp + (512 - npres) * 17592186044416 AS DOUBLE)
             |      <= 1280.0 AND (512 - npres) > 0
             |    THEN CAST(512 AS DOUBLE)
             |      * ln(CAST(512 AS DOUBLE) / CAST(512 - npres AS DOUBLE))
             |    ELSE CAST('3.3194137200059597e+18' AS DOUBLE)
             |      / CAST(sp + (512 - npres) * 17592186044416 AS DOUBLE)
             |    END, 2)""".stripMargin
        s"""WITH d AS (
           |  SELECT DISTINCT event_type AS g, user_id AS v FROM events
           |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
           |h AS (SELECT g, ${md5bits("'hll:' || CAST(v AS VARCHAR)")} AS hc
           |  FROM d),
           |r AS (
           |  SELECT g, ${hllRegister()}
           |  FROM h),
           |reg AS (
           |  SELECT g, idx, max(rho) AS mx, CAST(count(*) AS BIGINT) AS nv
           |  FROM r GROUP BY 1, 2),
           |agg AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS npres,
           |    CAST(sum(nv) AS BIGINT) AS n_exact,
           |    ${hllSum()} AS sp
           |  FROM reg GROUP BY 1),
           |e AS (SELECT g, n_exact, $est AS est FROM agg),
           |pairs AS (
           |  SELECT a.g AS ga, a.n_exact AS n_a, a.est AS est_a,
           |    b.g AS gb, b.n_exact AS n_b, b.est AS est_b
           |  FROM e a CROSS JOIN e b WHERE a.g < b.g),
           |ureg AS (
           |  SELECT p.ga, p.gb, rg.idx, max(rg.mx) AS mx
           |  FROM pairs p JOIN reg rg ON rg.g = p.ga OR rg.g = p.gb
           |  GROUP BY 1, 2, 3),
           |uagg AS (
           |  SELECT ga, gb, CAST(count(*) AS BIGINT) AS npres,
           |    ${hllSum()} AS sp
           |  FROM ureg GROUP BY 1, 2),
           |ue AS (SELECT ga, gb, $est AS est_union FROM uagg),
           |ex AS (
           |  SELECT a.g AS ga, b.g AS gb, CAST(count(*) AS BIGINT)
           |    AS exact_inter
           |  FROM d a JOIN d b ON a.v = b.v AND a.g < b.g
           |  GROUP BY 1, 2)
           |SELECT p.ga, p.gb, p.n_a, p.n_b,
           |  CAST(coalesce(ex.exact_inter, 0) AS BIGINT) AS exact_inter,
           |  CAST(p.n_a + p.n_b - coalesce(ex.exact_inter, 0) AS BIGINT)
           |    AS exact_union,
           |  p.est_a, p.est_b, u.est_union,
           |  round(p.est_a + p.est_b - u.est_union, 2) AS est_inter,
           |  CAST(round(abs(u.est_union
           |      - CAST(p.n_a + p.n_b - coalesce(ex.exact_inter, 0) AS DOUBLE))
           |    / CAST(p.n_a + p.n_b - coalesce(ex.exact_inter, 0) AS DOUBLE)
           |    * 10000.0, 0) AS BIGINT) AS err_union_bp
           |FROM pairs p JOIN ue u USING (ga, gb)
           |LEFT JOIN ex USING (ga, gb)
           |ORDER BY p.ga, p.gb""".stripMargin
      }),

    // §2.43e2 — KMV set DIFFERENCE (r12, the third theta-sketch set op):
    // |A\B| and |B\A| per event-type pair from the bottom-64 sketches
    // alone — one-sided membership shares of the merged bottom-kk scale
    // the union estimate; the sketch-build is SHARED with q_kmv_overlap
    // (kmvSketch) so the set ops cannot hash or rank apart; exact
    // differences certify with err in bp of the union
    Query("q_kmv_diff", (s, dir) =>
      graft.operators.Approx.kmvDifference(Tables.events(s, dir),
        "event_type", "user_id"),
      // same sketch CTEs as q_kmv_overlap, the one-sided membership sums
      // and the scaled difference estimates mirrored op-for-op
      sql {
        s"""WITH d0 AS (
           |  SELECT DISTINCT event_type, user_id FROM events
           |  WHERE user_id IS NOT NULL),
           |hh AS (
           |  SELECT DISTINCT event_type AS g,
           |    ${md5bits("'kmv:' || CAST(user_id AS VARCHAR)")} + 1 AS hc
           |  FROM d0),
           |rk0 AS (
           |  SELECT g, hc, row_number() OVER (PARTITION BY g ORDER BY hc) AS rk
           |  FROM hh),
           |sk AS (SELECT g, hc FROM rk0 WHERE rk <= 64),
           |ty AS (SELECT DISTINCT g FROM sk),
           |pr AS (SELECT a.g AS ta, b.g AS tb FROM ty a, ty b WHERE a.g < b.g),
           |mg AS (
           |  SELECT pr.ta, pr.tb, s.hc,
           |    max(CASE WHEN s.g = pr.ta THEN 1 ELSE 0 END) AS in_a,
           |    max(CASE WHEN s.g = pr.tb THEN 1 ELSE 0 END) AS in_b
           |  FROM pr JOIN sk s ON s.g = pr.ta OR s.g = pr.tb
           |  GROUP BY 1, 2, 3),
           |w AS (
           |  SELECT ta, tb, hc, in_a, in_b,
           |    row_number() OVER (PARTITION BY ta, tb ORDER BY hc) AS urk,
           |    count(*) OVER (PARTITION BY ta, tb) AS cnt
           |  FROM mg),
           |es AS (
           |  SELECT ta, tb, CAST(max(cnt) AS BIGINT) AS cnt,
           |    CAST(max(least(64, cnt)) AS BIGINT) AS kk,
           |    CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS a_only,
           |    CAST(sum((1 - in_a) * in_b) AS BIGINT) AS b_only,
           |    CAST(sum(in_a * in_b) AS BIGINT) AS matches,
           |    max(CASE WHEN urk = least(64, cnt) THEN hc END) AS u_kth
           |  FROM w WHERE urk <= least(64, cnt) GROUP BY 1, 2),
           |np AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM hh GROUP BY 1),
           |ix AS (
           |  SELECT a.g AS ta, b.g AS tb, CAST(count(*) AS BIGINT) AS inter_exact
           |  FROM hh a JOIN hh b ON a.hc = b.hc AND a.g < b.g GROUP BY 1, 2),
           |f AS (
           |  SELECT es.ta, es.tb, na.n AS n_a, nb.n AS n_b,
           |    es.a_only, es.b_only, es.matches, es.kk, es.cnt, es.u_kth,
           |    COALESCE(ix.inter_exact, 0) AS inter_exact,
           |    na.n + nb.n - COALESCE(ix.inter_exact, 0) AS union_exact
           |  FROM es JOIN np na ON na.g = es.ta JOIN np nb ON nb.g = es.tb
           |  LEFT JOIN ix ON ix.ta = es.ta AND ix.tb = es.tb),
           |f2 AS (
           |  SELECT ta, tb, n_a, n_b, a_only, b_only, matches, kk,
           |    n_a - inter_exact AS diff_a_exact,
           |    n_b - inter_exact AS diff_b_exact, union_exact,
           |    round((CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
           |      ELSE CAST(63.0 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
           |        / CAST(u_kth AS DOUBLE) END)
           |      * CAST(a_only AS DOUBLE) / CAST(kk AS DOUBLE), 2)
           |      AS diff_a_est,
           |    round((CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
           |      ELSE CAST(63.0 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
           |        / CAST(u_kth AS DOUBLE) END)
           |      * CAST(b_only AS DOUBLE) / CAST(kk AS DOUBLE), 2)
           |      AS diff_b_est
           |  FROM f)
           |SELECT ta, tb, n_a, n_b, a_only, b_only, matches, kk,
           |  diff_a_exact, diff_b_exact, diff_a_est, diff_b_est,
           |  CAST(round(abs(diff_a_est - CAST(diff_a_exact AS DOUBLE))
           |    / CAST(union_exact AS DOUBLE) * 10000.0, 0) AS BIGINT)
           |    AS diff_a_err_bp,
           |  CAST(round(abs(diff_b_est - CAST(diff_b_exact AS DOUBLE))
           |    / CAST(union_exact AS DOUBLE) * 10000.0, 0) AS BIGINT)
           |    AS diff_b_err_bp
           |FROM f2
           |ORDER BY ta, tb""".stripMargin
      }),

    // §2.43e3 — KMV TIMELINE (r13): audience
    // distinct-to-date per (event_type, day) off per-day bottom-64
    // states alone — the 43k/43n prefix-merge posture on the theta
    // sketch; the min-k merge is exact, the estimator is Beyer et al.'s
    // (k-1)M/kth, and the exact distinct-to-date certificate rides as a
    // first-occurrence-day grid sum, never a per-prefix rescan
    Query("q_kmv_timeline", (s, dir) =>
      graft.operators.Approx.kmvTimeline(Tables.events(s, dir),
        "event_type", "ts", "user_id"),
      // per-day bottom-64 states, the prefix merge re-ranked, the Beyer
      // estimator, and the first-occurrence-day exact certificate — all
      // replayed over the SAME 'kmv:' fold as the set-operation oracles
      sql {
        s"""WITH hd AS (
           |  SELECT DISTINCT event_type AS g, CAST(ts AS DATE) AS day,
           |    ${md5bits("'kmv:' || CAST(user_id AS VARCHAR)")} + 1 AS hc
           |  FROM events WHERE user_id IS NOT NULL),
           |daily AS MATERIALIZED (
           |  SELECT g, day, hc FROM (
           |    SELECT g, day, hc, row_number() OVER (
           |      PARTITION BY g, day ORDER BY hc) AS rk
           |    FROM hd) WHERE rk <= 64),
           |days AS (SELECT DISTINCT g, day AS as_of FROM daily),
           |pref AS (
           |  SELECT DISTINCT d.g, dy.as_of, d.hc
           |  FROM daily d JOIN days dy ON d.g = dy.g AND d.day <= dy.as_of),
           |w AS (
           |  SELECT g, as_of, hc,
           |    row_number() OVER (PARTITION BY g, as_of ORDER BY hc) AS urk,
           |    count(*) OVER (PARTITION BY g, as_of) AS cnt
           |  FROM pref),
           |es AS (
           |  SELECT g, as_of, CAST(max(cnt) AS BIGINT) AS cnt,
           |    CAST(max(least(64, cnt)) AS BIGINT) AS kk,
           |    max(CASE WHEN urk = least(64, cnt) THEN hc END) AS u_kth
           |  FROM w WHERE urk <= least(64, cnt) GROUP BY 1, 2),
           |fc AS (
           |  SELECT g, fday, CAST(count(*) AS BIGINT) AS nf FROM (
           |    SELECT g, hc, min(day) AS fday FROM hd GROUP BY 1, 2)
           |  GROUP BY 1, 2),
           |ex AS (
           |  SELECT dy.g, dy.as_of, CAST(sum(fc.nf) AS BIGINT) AS exact_distinct
           |  FROM days dy JOIN fc ON fc.g = dy.g AND fc.fday <= dy.as_of
           |  GROUP BY 1, 2),
           |f AS (
           |  SELECT es.g, es.as_of AS day, es.kk AS m_state, ex.exact_distinct,
           |    round(CASE WHEN es.cnt < 64 THEN CAST(es.cnt AS DOUBLE)
           |      ELSE CAST(63.0 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
           |        / CAST(es.u_kth AS DOUBLE) END, 2) AS distinct_est
           |  FROM es JOIN ex ON ex.g = es.g AND ex.as_of = es.as_of)
           |SELECT g, day, m_state, exact_distinct, distinct_est,
           |  CAST(round(abs(distinct_est - CAST(exact_distinct AS DOUBLE))
           |    / CAST(exact_distinct AS DOUBLE) * 10000.0, 0) AS BIGINT)
           |    AS err_bp
           |FROM f ORDER BY g, day""".stripMargin
      }),

    // §2.8c — constant-state per-column profile: one 512-register HLL
    // file per column instead of q_profile's |cols|-way exact
    // countDistinct expand (O(cols*512) aggregation state at any scale);
    // column identities are the portable canonical strings (epoch
    // micros for ts, 2-dp cents for value) so the register file replays
    // bit-exactly in the oracle
    Query("q_profile_hll", (s, dir) =>
      graft.validation.Profile.profileHll(Tables.events(s, dir), Seq(
        "event_id" -> col("event_id"),
        "ts" -> unix_micros(col("ts").cast("timestamp")),
        "user_id" -> col("user_id"),
        "event_type" -> col("event_type"),
        "value" -> (col("value").cast("decimal(18,2)") * 100).cast("long"),
        "props" -> col("props"))),
      // per-column register-file replay: the q_hll_counts scheme over the
      // unpivoted (col_name, canonical string) rows — epoch micros for ts,
      // 2-dp cents for value, decimal strings for the BIGINT ids — so every
      // column's 512 registers rebuild bit-exactly
      sql {
        s"""WITH u AS (
           |  SELECT 'event_id' AS col_name, CAST(event_id AS VARCHAR) AS v
           |  FROM events WHERE event_id IS NOT NULL
           |  UNION ALL
           |  SELECT 'ts', CAST(epoch_us(ts) AS VARCHAR) FROM events
           |  WHERE ts IS NOT NULL
           |  UNION ALL
           |  SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
           |  WHERE user_id IS NOT NULL
           |  UNION ALL
           |  SELECT 'event_type', event_type FROM events
           |  WHERE event_type IS NOT NULL
           |  UNION ALL
           |  SELECT 'value',
           |    CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)
           |  FROM events WHERE value IS NOT NULL
           |  UNION ALL
           |  SELECT 'props', props FROM events WHERE props IS NOT NULL),
           |d AS (SELECT DISTINCT col_name, v FROM u),
           |${hllAudit("col_name", "v")}""".stripMargin
      }),

    // §2.43i — exact-quantile ROLLUP from day-partitioned cent histograms
    // (43g's exact counterpart for bounded value domains): merge-then-rank
    // certified equal to rank-directly
    Query("q_hist_rollup", (s, dir) =>
      graft.operators.Approx.histQuantileRollup(
        Tables.events(s, dir), "event_type", "ts", "value"),
      // both quantile routes replayed: daily histograms -> merge -> rank
      // statistic, and the direct per-row ranking; identical double targets
      sql("""WITH c AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |dly AS (
        |  SELECT event_type, day, cents, CAST(count(*) AS BIGINT) AS n
        |  FROM c GROUP BY 1, 2, 3),
        |mg AS (
        |  SELECT event_type, cents, CAST(sum(n) AS BIGINT) AS n
        |  FROM dly GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_rows
        |  FROM mg GROUP BY 1),
        |cm AS (
        |  SELECT event_type, cents,
        |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM mg),
        |h50 AS (
        |  SELECT cm.event_type, min(cents) AS p50_hist
        |  FROM cm JOIN tot ON cm.event_type = tot.event_type
        |  WHERE cum >= (5 * n_rows + 9) // 10
        |  GROUP BY 1),
        |h95 AS (
        |  SELECT cm.event_type, min(cents) AS p95_hist
        |  FROM cm JOIN tot ON cm.event_type = tot.event_type
        |  WHERE cum >= (95 * n_rows + 99) // 100
        |  GROUP BY 1),
        |rk AS (
        |  SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn
        |  FROM c),
        |d50 AS (
        |  SELECT rk.event_type, min(cents) AS p50_direct
        |  FROM rk JOIN tot ON rk.event_type = tot.event_type
        |  WHERE rn = (5 * n_rows + 9) // 10
        |  GROUP BY 1),
        |d95 AS (
        |  SELECT rk.event_type, min(cents) AS p95_direct
        |  FROM rk JOIN tot ON rk.event_type = tot.event_type
        |  WHERE rn = (95 * n_rows + 99) // 100
        |  GROUP BY 1)
        |SELECT tot.event_type, tot.n_rows, h50.p50_hist, h95.p95_hist,
        |  d50.p50_direct, d95.p95_direct,
        |  (h50.p50_hist = d50.p50_direct AND h95.p95_hist = d95.p95_direct)
        |    AS rollup_matches
        |FROM tot
        |JOIN h50 ON tot.event_type = h50.event_type
        |JOIN h95 ON tot.event_type = h95.event_type
        |JOIN d50 ON tot.event_type = d50.event_type
        |JOIN d95 ON tot.event_type = d95.event_type
        |ORDER BY tot.event_type""".stripMargin)),

    // §2.43l — portable mergeable quantile sketch, daily state build
    // (r12): per (event_type, day) the bottom-k (k=128) rows by salted
    // 52-bit md5 of the unique event id — deterministic uniform
    // k-sample state, min(k, n) rows per group-day forever, replayed
    // ROW-FOR-ROW by the oracle; the 43d/43g sketch-table posture
    // applied to percentiles on unbounded value domains (where 43i's
    // distinct-cents histogram state grows with the domain)
    Query("q_quantile_sketch", (s, dir) =>
      graft.operators.Approx.quantileSketchDaily(
        Tables.events(s, dir), "event_type", "ts", "event_id", "value"),
      // the daily sketch state replayed row-for-row: same salted 52-bit
      // md5 of the unique event id, same (hk, id) rank, same cent
      // canonicalization — the state IS the cross-engine contract
      sql {
        s"""WITH e AS (
           |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
           |    event_id AS id,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
           |    ${md5bits("'qsk:' || CAST(event_id AS VARCHAR)")} AS hk
           |  FROM events
           |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
           |n AS (
           |  SELECT g, day, CAST(count(*) AS BIGINT) AS n_day
           |  FROM e GROUP BY 1, 2),
           |r AS (
           |  SELECT g, day, hk, id, v,
           |    CAST(row_number() OVER (
           |      PARTITION BY g, day ORDER BY hk, id) AS BIGINT) AS rk
           |  FROM e)
           |SELECT r.g, r.day, r.rk, r.hk, r.id, r.v, n.n_day
           |FROM r JOIN n USING (g, day) WHERE r.rk <= 128
           |ORDER BY g, day, rk""".stripMargin
      }),

    // §2.43m — quantile ROLLUP off the daily sketch states (r12): a
    // 15-day range answered by the min-k merge of daily states vs an
    // independent direct sketch — rollup_matches certifies the two
    // state sets are IDENTICAL (the merge law is exact; mismatch =
    // plumbing bug, not sketch noise) — plus the integer-rank estimate
    // against the exact ceil(q·N) rank statistic with err_bp
    Query("q_quantile_rollup", (s, dir) =>
      graft.operators.Approx.quantileRollup(
        Tables.events(s, dir), "event_type", "ts", "event_id", "value",
        "2024-01-08", "2024-01-22"),
      // both sketch routes replayed (daily states -> min-k merge, and the
      // direct range sketch), the exact row-set equality verdict, and the
      // integer-rank estimate vs the exact ceil(q*N) rank statistic
      sql {
        s"""WITH e AS (
           |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
           |    event_id AS id,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
           |    ${md5bits("'qsk:' || CAST(event_id AS VARCHAR)")} AS hk
           |  FROM events
           |  WHERE event_type IS NOT NULL AND value IS NOT NULL
           |    AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
           |    AND DATE '2024-01-22'),
           |daily AS (
           |  SELECT * FROM (
           |    SELECT g, day, hk, id, v, row_number() OVER (
           |      PARTITION BY g, day ORDER BY hk, id) AS rk
           |    FROM e) WHERE rk <= 128),
           |merged AS MATERIALIZED (
           |  SELECT * FROM (
           |    SELECT g, hk, id, v, CAST(row_number() OVER (
           |      PARTITION BY g ORDER BY hk, id) AS BIGINT) AS rk
           |    FROM daily) WHERE rk <= 128),
           |direct AS (
           |  SELECT * FROM (
           |    SELECT g, hk, id, v, CAST(row_number() OVER (
           |      PARTITION BY g ORDER BY hk, id) AS BIGINT) AS rk
           |    FROM e) WHERE rk <= 128),
           |cmp AS (
           |  SELECT COALESCE(m.g, d.g) AS g,
           |    CAST(count(*) FILTER (WHERE m.hk IS DISTINCT FROM d.hk
           |      OR m.id IS DISTINCT FROM d.id
           |      OR m.v IS DISTINCT FROM d.v) AS BIGINT) AS mism
           |  FROM merged m FULL OUTER JOIN direct d
           |    ON m.g = d.g AND m.rk = d.rk
           |  GROUP BY 1),
           |msz AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS m_sample
           |  FROM merged GROUP BY 1),
           |vr AS (
           |  SELECT merged.g, v, row_number() OVER (
           |    PARTITION BY merged.g ORDER BY v, id) AS vr, m_sample
           |  FROM merged JOIN msz ON merged.g = msz.g),
           |est AS (
           |  SELECT g,
           |    min(CASE WHEN vr = (5 * m_sample + 9) // 10 THEN v END)
           |      AS est_50,
           |    min(CASE WHEN vr = (95 * m_sample + 99) // 100 THEN v END)
           |      AS est_95
           |  FROM vr GROUP BY 1),
           |nr AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS n_range
           |  FROM e GROUP BY 1),
           |rn AS (
           |  SELECT e.g, v, row_number() OVER (
           |    PARTITION BY e.g ORDER BY v, id) AS rn, n_range
           |  FROM e JOIN nr ON e.g = nr.g),
           |ex AS (
           |  SELECT g,
           |    min(CASE WHEN rn = (5 * n_range + 9) // 10 THEN v END)
           |      AS exact_50,
           |    min(CASE WHEN rn = (95 * n_range + 99) // 100 THEN v END)
           |      AS exact_95
           |  FROM rn GROUP BY 1),
           |wide AS (
           |  SELECT nr.g, nr.n_range, msz.m_sample, cmp.mism = 0
           |    AS rollup_matches, est_50, est_95, exact_50, exact_95
           |  FROM nr JOIN msz ON nr.g = msz.g
           |  JOIN est ON nr.g = est.g JOIN ex ON nr.g = ex.g
           |  JOIN cmp ON nr.g = cmp.g)
           |SELECT g, q, n_range, m_sample, est_cents, exact_cents,
           |  abs(est_cents - exact_cents) * 10000
           |    // greatest(abs(exact_cents), 1) AS err_bp,
           |  rollup_matches
           |FROM (
           |  SELECT g, CAST(50 AS BIGINT) AS q, n_range, m_sample,
           |    est_50 AS est_cents, exact_50 AS exact_cents, rollup_matches
           |  FROM wide
           |  UNION ALL
           |  SELECT g, CAST(95 AS BIGINT), n_range, m_sample,
           |    est_95, exact_95, rollup_matches
           |  FROM wide)
           |ORDER BY g, q""".stripMargin
      }),

    // §2.43n — running quantile-to-date timeline (r12, the 43k growth
    // curve applied to percentiles): per (event_type, day) the p50/p95
    // estimate over everything seen so far, from the daily bottom-k
    // states alone — an as-of theta join of the STATE table against the
    // day grid (bounded by groups*days^2*k, never the data) + the same
    // min-k re-rank and integer-rank estimator; exact running count
    // rides a bounded window, never a per-day re-scan
    Query("q_quantile_timeline", (s, dir) =>
      graft.operators.Approx.quantileTimeline(
        Tables.events(s, dir), "event_type", "ts", "event_id", "value"),
      // the whole timeline replays hash-exact: states, as-of prefix join,
      // min-k re-rank, integer rank targets, running count window
      sql {
        s"""WITH e AS (
           |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
           |    event_id AS id,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
           |    ${md5bits("'qsk:' || CAST(event_id AS VARCHAR)")} AS hk
           |  FROM events
           |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
           |daily AS MATERIALIZED (
           |  SELECT * FROM (
           |    SELECT g, day, hk, id, v, row_number() OVER (
           |      PARTITION BY g, day ORDER BY hk, id) AS rk
           |    FROM e) WHERE rk <= 128),
           |days AS (SELECT DISTINCT g, day AS as_of FROM daily),
           |merged AS MATERIALIZED (
           |  SELECT * FROM (
           |    SELECT d.g, dy.as_of, d.hk, d.id, d.v, row_number() OVER (
           |      PARTITION BY d.g, dy.as_of ORDER BY d.hk, d.id) AS rk
           |    FROM daily d JOIN days dy ON d.g = dy.g AND d.day <= dy.as_of)
           |  WHERE rk <= 128),
           |msz AS (
           |  SELECT g, as_of, CAST(count(*) AS BIGINT) AS m_sample
           |  FROM merged GROUP BY 1, 2),
           |vr AS (
           |  SELECT m.g, m.as_of, v, row_number() OVER (
           |    PARTITION BY m.g, m.as_of ORDER BY v, id) AS vr, m_sample
           |  FROM merged m JOIN msz ON m.g = msz.g AND m.as_of = msz.as_of),
           |est AS (
           |  SELECT g, as_of,
           |    min(CASE WHEN vr = (5 * m_sample + 9) // 10 THEN v END)
           |      AS est_50,
           |    min(CASE WHEN vr = (95 * m_sample + 99) // 100 THEN v END)
           |      AS est_95
           |  FROM vr GROUP BY 1, 2),
           |nto AS (
           |  SELECT g, day AS as_of, CAST(sum(n_day) OVER (
           |    PARTITION BY g ORDER BY day
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |    AS n_todate
           |  FROM (SELECT g, day, count(*) AS n_day FROM e GROUP BY 1, 2))
           |SELECT nto.g, nto.as_of AS day, q, n_todate, m_sample, est_cents
           |FROM nto
           |JOIN msz ON nto.g = msz.g AND nto.as_of = msz.as_of
           |JOIN (
           |  SELECT g, as_of, CAST(50 AS BIGINT) AS q, est_50 AS est_cents
           |  FROM est
           |  UNION ALL
           |  SELECT g, as_of, CAST(95 AS BIGINT), est_95 FROM est
           |) x ON nto.g = x.g AND nto.as_of = x.as_of
           |ORDER BY nto.g, day, q""".stripMargin
      }),

    // §2.43g — HLL ROLLUP audit: per-day register files max-merged to
    // group level == an independently built direct sketch (the
    // pre-aggregated sketch-table pattern: range distincts answered from
    // registers, never raw data), engine-certified + exact err_bp
    Query("q_hll_rollup", (s, dir) =>
      graft.operators.Approx.hllRollupAudit(
        Tables.events(s, dir), "event_type", "ts", "user_id"),
      // both sketch paths replayed: per-day registers -> max-merge ->
      // estimate, and the independent direct registers; the shared CASE
      // arithmetic keeps the two estimates comparable to the last bit
      sql {
        def est(from: String) =
          s"""SELECT event_type,
             |    $hllEstimate AS v
             |  FROM $from""".stripMargin
        s"""WITH dd AS (
           |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
           |  FROM events WHERE user_id IS NOT NULL),
           |hd AS (
           |  SELECT event_type, day,
           |    ${md5bits("'hll:' || CAST(user_id AS VARCHAR)")} AS hc
           |  FROM dd),
           |rd AS (
           |  SELECT event_type, day, ${hllRegister()}
           |  FROM hd),
           |regd AS (
           |  SELECT event_type, day, idx, max(rho) AS mx
           |  FROM rd GROUP BY 1, 2, 3),
           |mrg AS (SELECT event_type, idx, max(mx) AS mx FROM regd GROUP BY 1, 2),
           |gro AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS npres,
           |    ${hllSum()} AS sp
           |  FROM mrg GROUP BY 1),
           |ero AS (${est("gro")}),
           |d AS (
           |  SELECT DISTINCT event_type, user_id FROM events
           |  WHERE user_id IS NOT NULL),
           |h AS (
           |  SELECT event_type,
           |    ${md5bits("'hll:' || CAST(user_id AS VARCHAR)")} AS hc
           |  FROM d),
           |r AS (
           |  SELECT event_type, ${hllRegister()}
           |  FROM h),
           |reg AS (
           |  SELECT event_type, idx, max(rho) AS mx,
           |    CAST(count(*) AS BIGINT) AS nv
           |  FROM r GROUP BY 1, 2),
           |g AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS npres,
           |    CAST(sum(nv) AS BIGINT) AS n_exact,
           |    ${hllSum()} AS sp
           |  FROM reg GROUP BY 1),
           |e AS (${est("g")}),
           |nd AS (
           |  SELECT event_type, CAST(count(DISTINCT day) AS BIGINT) AS n_days
           |  FROM dd GROUP BY 1)
           |SELECT g.event_type, nd.n_days, g.n_exact,
           |  e.v AS hll_est, ero.v AS hll_est_rollup,
           |  e.v = ero.v AS rollup_matches,
           |  CAST(round(abs(ero.v - CAST(g.n_exact AS DOUBLE))
           |    / CAST(g.n_exact AS DOUBLE) * 10000.0, 0) AS BIGINT) AS err_bp
           |FROM g
           |JOIN e ON e.event_type = g.event_type
           |JOIN ero ON ero.event_type = g.event_type
           |JOIN nd ON nd.event_type = g.event_type
           |ORDER BY g.event_type""".stripMargin
      }),

    // §2.43k — HLL TIMELINE: cumulative distinct-to-date per (group, day)
    // from the daily sketch table — dense 512-register grid + ONE
    // partitioned running-max window (linear in the sketch table, never a
    // prefix rescan per day), exact running count via first-seen days as
    // the certificate
    Query("q_hll_timeline", (s, dir) =>
      graft.operators.Approx.hllTimeline(
        Tables.events(s, dir), "event_type", "ts", "user_id"),
      // the timeline replayed: daily register files, the dense 512-register
      // grid, the same running-max forward fill, the shared estimate
      // arithmetic per (group, day), and the first-seen running exact count
      sql {
        s"""WITH dd AS (
           |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
           |  FROM events WHERE user_id IS NOT NULL),
           |hd AS (
           |  SELECT event_type, day,
           |    ${md5bits("'hll:' || CAST(user_id AS VARCHAR)")} AS hc
           |  FROM dd),
           |rd AS (
           |  SELECT event_type, day, ${hllRegister()}
           |  FROM hd),
           |regd AS (
           |  SELECT event_type, day, idx, max(rho) AS mx
           |  FROM rd GROUP BY 1, 2, 3),
           |dys AS (SELECT DISTINCT event_type, day FROM regd),
           |grid AS (
           |  SELECT event_type, day, i.idx AS idx
           |  FROM dys CROSS JOIN (SELECT unnest(range(0, 512)) AS idx) i),
           |fl AS (
           |  SELECT g.event_type, g.day,
           |    max(r.mx) OVER (PARTITION BY g.event_type, g.idx
           |      ORDER BY g.day
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cmx
           |  FROM grid g LEFT JOIN regd r
           |    ON r.event_type = g.event_type AND r.day = g.day
           |      AND r.idx = g.idx),
           |ag AS (
           |  SELECT event_type, day, CAST(count(cmx) AS BIGINT) AS npres,
           |    ${hllSum("cmx")} AS sp
           |  FROM fl GROUP BY 1, 2),
           |eo AS (
           |  SELECT event_type, day,
           |    $hllEstimate AS v
           |  FROM ag),
           |fs AS (
           |  SELECT event_type, user_id, min(CAST(ts AS DATE)) AS fday
           |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
           |nn AS (
           |  SELECT event_type, fday AS day, CAST(count(*) AS BIGINT) AS n_new0
           |  FROM fs GROUP BY 1, 2),
           |ex AS (
           |  SELECT d.event_type, d.day,
           |    CAST(coalesce(nn.n_new0, 0) AS BIGINT) AS n_new,
           |    CAST(sum(coalesce(nn.n_new0, 0)) OVER (
           |      PARTITION BY d.event_type ORDER BY d.day
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS n_exact_cum
           |  FROM dys d LEFT JOIN nn
           |    ON nn.event_type = d.event_type AND nn.day = d.day)
           |SELECT ex.event_type, ex.day, ex.n_new, ex.n_exact_cum,
           |  eo.v AS hll_est_cum,
           |  CAST(round(abs(eo.v - CAST(ex.n_exact_cum AS DOUBLE))
           |    / CAST(ex.n_exact_cum AS DOUBLE) * 10000.0, 0) AS BIGINT)
           |    AS err_bp
           |FROM ex JOIN eo
           |  ON eo.event_type = ex.event_type AND eo.day = ex.day
           |ORDER BY ex.event_type, ex.day""".stripMargin
      }),

    // §2.43h — Bloom-filtered semi-join audit (the runtime-filter
    // pattern): m=4096/k=3 filter of nation-1 customers gates the orders
    // probe; one summary row measures the shuffle saved, the FP rows it
    // cost, and certifies zero false negatives
    Query("q_bloom_join", (s, dir) =>
      graft.operators.Approx.bloomJoinAudit(
        Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir).where(col("c_nationkey") === 1),
        "c_custkey"),
      // the bit set, all three probes per key, and the semi-join truth are
      // replayed row-by-row
      sql {
        def h(i: Int, key: String) =
          s"${md5bits(s"'bj$i:' || CAST($key AS VARCHAR)")} % 4096"
        s"""WITH b AS (SELECT c_custkey FROM customer WHERE c_nationkey = 1),
           |bits AS (SELECT DISTINCT h FROM (
           |  SELECT ${h(0, "c_custkey")} AS h FROM b
           |  UNION ALL SELECT ${h(1, "c_custkey")} FROM b
           |  UNION ALL SELECT ${h(2, "c_custkey")} FROM b)),
           |pp AS (
           |  SELECT o_custkey,
           |    (${h(0, "o_custkey")} IN (SELECT h FROM bits)
           |     AND ${h(1, "o_custkey")} IN (SELECT h FROM bits)
           |     AND ${h(2, "o_custkey")} IN (SELECT h FROM bits)) AS bloom_pass
           |  FROM orders),
           |j AS (
           |  SELECT pp.bloom_pass, tr.c_custkey IS NOT NULL AS is_match
           |  FROM pp LEFT JOIN (SELECT DISTINCT c_custkey FROM b) tr
           |    ON pp.o_custkey = tr.c_custkey),
           |a AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_probe,
           |    CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_pass,
           |    CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_match,
           |    CAST(sum(CASE WHEN bloom_pass AND is_match THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_match_passed
           |  FROM j),
           |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_build FROM b)
           |SELECT nb.n_build, a.n_probe, a.n_pass, a.n_match,
           |  a.n_pass - a.n_match_passed AS n_false_pos,
           |  CAST(round(CAST(a.n_pass - a.n_match_passed AS DOUBLE)
           |    / CAST(a.n_probe - a.n_match AS DOUBLE) * 10000.0, 0) AS BIGINT)
           |    AS fp_bp,
           |  a.n_match_passed = a.n_match AS no_false_negatives
           |FROM a CROSS JOIN nb""".stripMargin
      }),

    // §2.43j — join-size estimation audit by correlated key sampling:
    // the self-join quadratic sum_k n_k^2 estimated from a 1/8 KEY
    // sample (a sampled key keeps all rows) vs the exact count — the
    // synopsis trust contract for join planning
    Query("q_join_estimate", (s, dir) =>
      graft.operators.Approx.joinSizeAudit(
        Tables.events(s, dir), "event_type", "user_id"),
      // per-key counts, the same md5-threshold key membership, and the
      // scaled quadratic sum replayed
      sql {
        s"""WITH k AS (
           |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
           |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
           |f AS (
           |  SELECT event_type, n,
           |    ${md5bits("'js:' || CAST(user_id AS VARCHAR)")}
           |      < 562949953421312 AS in_sample
           |  FROM k),
           |a AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_keys,
           |    CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_keys_sampled,
           |    CAST(sum(n * n) AS BIGINT) AS exact_pairs,
           |    CAST(sum(CASE WHEN in_sample THEN n * n ELSE 0 END) * 8
           |      AS BIGINT) AS est_pairs
           |  FROM f GROUP BY 1)
           |SELECT event_type, n_keys, n_keys_sampled,
           |  CAST(round(CAST(n_keys_sampled AS DOUBLE) / CAST(n_keys AS DOUBLE)
           |    * 10000.0, 0) AS BIGINT) AS sample_bp,
           |  exact_pairs, est_pairs,
           |  CAST(round(CAST(abs(est_pairs - exact_pairs) AS DOUBLE)
           |    / CAST(exact_pairs AS DOUBLE) * 10000.0, 0) AS BIGINT) AS err_bp
           |FROM a ORDER BY event_type""".stripMargin
      }),

    // §2.43f — hash-sample quantile audit (third leg of the sketch-trust
    // family): exact p50/p95 vs the same quantiles over the deterministic
    // 1/8 md5-threshold sample, realized rate + err_bp — the production
    // path is the sample branch alone (a codegen'd scan filter)
    Query("q_sample_quantiles", (s, dir) =>
      graft.operators.Approx.sampleQuantileAudit(
        Tables.events(s, dir), "event_type", "value", "event_id"),
      // the deterministic sample is a pure hash predicate, so the oracle
      // replays membership row-by-row; quantile_cont == Spark percentile
      // (same linear interpolation, the q_event_percentiles precedent)
      sql {
        s"""WITH s AS (
           |  SELECT event_type, value,
           |    ${md5bits("'sq:' || CAST(event_id AS VARCHAR)")}
           |      < 562949953421312 AS in_sample
           |  FROM events),
           |f AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
           |    CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_sample,
           |    quantile_cont(value, 0.5) AS exact_p50,
           |    quantile_cont(value, 0.95) AS exact_p95,
           |    quantile_cont(CASE WHEN in_sample THEN value END, 0.5)
           |      AS samp_p50,
           |    quantile_cont(CASE WHEN in_sample THEN value END, 0.95)
           |      AS samp_p95
           |  FROM s GROUP BY 1)
           |SELECT event_type, n_total, n_sample,
           |  CAST(round(CAST(n_sample AS DOUBLE) / CAST(n_total AS DOUBLE)
           |    * 10000.0, 0) AS BIGINT) AS sample_bp,
           |  exact_p50, samp_p50, exact_p95, samp_p95,
           |  CAST(round(abs(samp_p50 - exact_p50) / exact_p50 * 10000.0, 0)
           |    AS BIGINT) AS p50_err_bp,
           |  CAST(round(abs(samp_p95 - exact_p95) / exact_p95 * 10000.0, 0)
           |    AS BIGINT) AS p95_err_bp
           |FROM f ORDER BY event_type""".stripMargin
      })
  )

  /** The guaranteed heavy-hitter set replay — q_spacesaving's oracle,
    * which q_spacesaving_sharded and q_stream_spacesaving share: neither
    * item sharding nor the staged stream fold changes the guaranteed
    * set or the theorem verdicts. */
  private[registry] lazy val spaceSavingOracle: Oracle =
    sql("""WITH it AS (
      |  SELECT event_type AS g,
      |    CASE WHEN user_id % 10 = 0 THEN (user_id % 40) // 10
      |         ELSE user_id + 100 END AS item
      |  FROM events),
      |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n_events
      |      FROM it GROUP BY 1),
      |e AS (SELECT g, item, CAST(count(*) AS BIGINT) AS exact_cnt
      |      FROM it GROUP BY 1, 2)
      |SELECT e.g AS group_key, e.item, e.exact_cnt,
      |  true AS tracked, true AS est_ge_exact,
      |  true AS lower_le_exact, true AS err_within_cap
      |FROM e JOIN n USING (g) WHERE e.exact_cnt * 64 > n.n_events
      |ORDER BY 1, 2""".stripMargin)
}
