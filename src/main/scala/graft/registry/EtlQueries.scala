package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.registry.OracleSql._
import graft.registry.Query.sql
import graft.operators.{Analytics, Etl, Observability}
import graft.validation.Validator

/** ETL and pipeline queries: extracts, WIP aggregates, upserts, validation and
  * privacy gates, schema checks, run observability, partition layout, joins,
  * digests and reconciliation. */
private[graft] object EtlQueries {

  // layout-prep memo: roots whose hive layout this JVM already wrote
  // (see q_hive_pruned — write once, measure the pruned read)
  private val writtenRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  val all: Seq[Query] = Seq(
    // §2.1 — daily-partitioned extract; the date filter is phrased as a
    // range on the STORED ts representation so it pushes down to the
    // parquet scan (Tables.eventsDayRange dispatches on the layout)
    Query("q_extract_daily", (s, dir) =>
      Tables.eventsDayRange(s, dir, "2024-01-02", "2024-01-03")
        .select("event_id", "user_id", "event_type", "value"),
      sql("""SELECT event_id, user_id, event_type, value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-02'""".stripMargin)),

    // §2.2 — constant-filtered dimension extract (cfg_item_master analog)
    Query("q_item_master", (s, dir) =>
      Tables.part(s, dir)
        .where(col("p_brand") === "Brand#1")
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      sql("""SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        |FROM part WHERE p_brand = 'Brand#1'""".stripMargin)),

    // §2.3 — WIP aggregation (transform_aps_wip_logic)
    Query("q_wip_agg", (s, dir) =>
      Etl.wipAggregate(Tables.orders(s, dir),
        statusCol = "o_orderstatus", activeStatuses = Seq("O", "F"),
        groupCols = Seq("o_orderpriority"),
        qtyCol = "o_totalprice", lotIdCol = "o_custkey",
        snapshotDate = "2024-06-30"),
      sql("""SELECT o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS wip_qty,
        |  count(DISTINCT o_custkey) AS lot_count,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(o_totalprice) AS avg_qty_per_lot,
        |  '2024-06-30' AS snapshot_date
        |FROM orders WHERE o_orderstatus IN ('O','F')
        |GROUP BY o_orderpriority""".stripMargin)),

    // §2.4 — tenant-custom WIP with conditional priority count (project_01)
    Query("q_wip_priority", (s, dir) =>
      Etl.wipWithPriority(Tables.orders(s, dir),
        statusCol = "o_orderstatus", activeStatuses = Seq("O", "F"),
        groupCols = Seq("o_orderstatus"),
        qtyCol = "o_totalprice", lotIdCol = "o_custkey",
        priorityCol = "o_orderpriority", highPriority = "1-URGENT",
        snapshotDate = "2024-06-30"),
      sql("""SELECT o_orderstatus,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS wip_qty,
        |  count(DISTINCT o_custkey) AS lot_count,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(o_totalprice) AS avg_qty_per_lot,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS high_priority_count,
        |  '2024-06-30' AS snapshot_date
        |FROM orders WHERE o_orderstatus IN ('O','F')
        |GROUP BY o_orderstatus""".stripMargin)),

    // §2.4b — multi-tenant FAN-OUT (the job-factory compute face): three
    // tenant configs run the same transform body in ONE plan, unioned
    // with a tenant column — N Dagster jobs become N union branches
    Query("q_tenant_fanout", (s, dir) =>
      Etl.tenantFanOut(Tables.orders(s, dir), Seq(
        Etl.TenantConfig("t_all", Seq("O", "F", "P"), "1-URGENT"),
        Etl.TenantConfig("t_open", Seq("O"), "2-HIGH"),
        Etl.TenantConfig("t_final", Seq("F"), "1-URGENT")),
        statusCol = "o_orderstatus", groupCols = Seq("o_orderpriority"),
        qtyCol = "o_totalprice", lotIdCol = "o_custkey",
        priorityCol = "o_orderpriority", snapshotDate = "2024-06-30"),
      // one UNION ALL branch per tenant config, same aggregate body
      sql {
        def branch(tenant: String, statuses: Seq[String], hp: String) = {
          val in = statuses.map(s => s"'$s'").mkString(", ")
          s"""SELECT '$tenant' AS tenant, o_orderpriority,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS wip_qty,
             |  count(DISTINCT o_custkey) AS lot_count,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(o_totalprice) AS avg_qty_per_lot,
             |  count(*) FILTER (WHERE o_orderpriority = '$hp') AS high_priority_count,
             |  '2024-06-30' AS snapshot_date
             |FROM orders WHERE o_orderstatus IN ($in)
             |GROUP BY o_orderpriority""".stripMargin
        }
        Seq(branch("t_all", Seq("O", "F", "P"), "1-URGENT"),
          branch("t_open", Seq("O"), "2-HIGH"),
          branch("t_final", Seq("F"), "1-URGENT"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY tenant, o_orderpriority")
      }),

    // §2.5 — cycle time: fact-fact join + day delta + multi-agg
    Query("q_cycle_time", (s, dir) =>
      Etl.cycleTime(Tables.lineitem(s, dir), Tables.orders(s, dir),
        completedStatus = "F", groupCol = "o_orderpriority"),
      sql("""SELECT o_orderpriority,
        |  avg(cycle_days) AS avg_cycle_days,
        |  min(cycle_days) AS min_cycle_days,
        |  max(cycle_days) AS max_cycle_days,
        |  count(*) AS lot_count
        |FROM (
        |  SELECT o_orderpriority,
        |    date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS cycle_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |GROUP BY o_orderpriority""".stripMargin)),

    // §2.6 — utilization pivot (transform_equipment_utilization_logic)
    Query("q_equip_util", (s, dir) =>
      Etl.utilizationPivot(Tables.events(s, dir),
        entityCol = "user_id", eventTypeCol = "event_type", valueCol = "value",
        eventTypes = eventTypes, runType = "click",
        minutesPerDay = 1440, snapshotDate = "2024-01-31"),
      sql {
        val sums = eventTypes.map(t =>
          s"  coalesce(CAST(sum(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS $t").mkString(",\n")
        s"""SELECT user_id,
           |$sums,
           |  floor(coalesce(CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) / 1440 * 100 * 100 + 0.5) / 100 AS utilization_rate,
           |  '2024-01-31' AS snapshot_date
           |FROM events GROUP BY user_id""".stripMargin
      }),

    // §2.7 — upsert / merge (trino.upsert_dataframe)
    Query("q_upsert", (s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), to_date(col("o_orderdate")).as("o_orderdate"),
        col("o_orderpriority"))
      val updates = base.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      Etl.upsert(base, updates, Seq("o_orderkey"))
    },
      sql("""WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |  FROM orders),
        |updates AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM base WHERE o_orderkey % 10 = 0)
        |SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |UNION ALL
        |SELECT * FROM updates""".stripMargin)),

    // §2.8 — validation rule engine, single-pass report
    Query("q_validate", (s, dir) =>
      Validator(Tables.orders(s, dir))
        .checkNotNull("o_custkey")
        .checkRange("o_totalprice", minVal = Some(0.0))
        .checkValuesIn("o_orderstatus", Seq("O", "F", "P"))
        .checkUnique("o_orderkey")
        .checkRegex("o_orderpriority", "^[1-5]-")
        .report(),
      sql("""SELECT count(*) AS total_rows,
        |  count(*) - count(o_custkey) AS not_null_o_custkey,
        |  count(*) FILTER (WHERE o_totalprice < 0) AS range_o_totalprice,
        |  count(*) FILTER (WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F','P')) AS values_in_o_orderstatus,
        |  count(o_orderkey) - count(DISTINCT o_orderkey) AS unique_o_orderkey,
        |  count(*) FILTER (WHERE o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS regex_o_orderpriority
        |FROM orders""".stripMargin)),

    // §2.8d — k-anonymity / l-diversity release gate: per quasi-identifier
    // equivalence class (nation, segment) the class size and distinct
    // sensitive bands (acctbal $1000 floor-bands), with meets_k / meets_l /
    // releasable flags — ONE aggregate, output bounded by the quasi domain
    Query("q_kanon", (s, dir) =>
      graft.validation.Privacy.kAnonymityAudit(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long"), k = 10, l = 3),
      // equivalence classes, the same $1000 floor-band sensitive attribute,
      // and the three flags replayed
      sql("""SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  count(*) >= 10 AS meets_k,
        |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
        |    AS BIGINT) AS l_distinct,
        |  count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= 3
        |    AS meets_l,
        |  (count(*) >= 10 AND
        |   count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= 3)
        |    AS releasable
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // §2.8g — t-closeness audit (r16): the third member of the privacy
    // triple — per quasi class the total-variation distance between
    // the class's sensitive distribution and the global one, exact
    // integer numerators over the common denominator N_c·N with ONE
    // double division at the end; t = 0.25 (250000 micro)
    Query("q_tcloseness", (s, dir) =>
      graft.validation.Privacy.tClosenessAudit(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long"), tMicro = 250000L),
      // exact integer TV numerators over the common denominator N_c*N,
      // the absent-mass complement identity, one double division at the
      // end — the whole audit replays as plain aggregates
      sql("""WITH cells AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS sens,
        |    CAST(count(*) AS BIGINT) AS n_cv
        |  FROM customer WHERE c_acctbal IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |gdist AS (SELECT sens, CAST(sum(n_cv) AS BIGINT) AS n_v
        |  FROM cells GROUP BY sens),
        |tot AS (SELECT CAST(sum(n_v) AS BIGINT) AS n FROM gdist),
        |cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(sum(n_cv) AS BIGINT) AS n_c,
        |    CAST(count(*) AS BIGINT) AS n_values_present
        |  FROM cells GROUP BY 1, 2),
        |pres AS (
        |  SELECT c.c_nationkey, c.c_mktsegment,
        |    CAST(sum(abs(c.n_cv * t.n - g.n_v * k.n_c)) AS BIGINT)
        |      AS present_num,
        |    CAST(sum(g.n_v) AS BIGINT) AS present_nv
        |  FROM cells c JOIN gdist g USING (sens)
        |  JOIN cls k ON c.c_nationkey = k.c_nationkey
        |    AND c.c_mktsegment = k.c_mktsegment
        |  CROSS JOIN tot t
        |  GROUP BY 1, 2),
        |tv AS (
        |  SELECT p.c_nationkey, p.c_mktsegment, k.n_c AS class_size,
        |    k.n_values_present,
        |    CAST(floor(CAST(p.present_num
        |      + (t.n - p.present_nv) * k.n_c AS DOUBLE)
        |      / (2.0 * CAST(k.n_c AS DOUBLE) * CAST(t.n AS DOUBLE))
        |      * 1000000.0 + 0.5) AS BIGINT) AS tv_micro
        |  FROM pres p
        |  JOIN cls k ON p.c_nationkey = k.c_nationkey
        |    AND p.c_mktsegment = k.c_mktsegment
        |  CROSS JOIN tot t)
        |SELECT c_nationkey, c_mktsegment, class_size, n_values_present,
        |  tv_micro, tv_micro <= 250000 AS meets_t
        |FROM tv ORDER BY 1, 2""".stripMargin)),

    // §2.8e — generalization-lattice sweep (the 8d planner): ONE cube pass
    // scores all four (nation, segment) subset levels — class count, min
    // class, violating classes, rows at risk — so the release picks the
    // minimal generalization meeting k
    Query("q_kanon_lattice", (s, dir) =>
      graft.validation.Privacy.generalizationLattice(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
        k = 10),
      // all four cube levels replayed: per-class sizes under GROUPING SETS,
      // the same retained-name derivation from grouping flags, per-level
      // risk rollup
      sql("""WITH cls AS (
        |  SELECT GROUPING(c_nationkey) AS g1, GROUPING(c_mktsegment) AS g2,
        |    CAST(count(*) AS BIGINT) AS class_size
        |  FROM customer
        |  GROUP BY CUBE (c_nationkey, c_mktsegment)),
        |lv AS (
        |  SELECT g1, g2,
        |    CAST(count(*) AS BIGINT) AS n_classes,
        |    CAST(min(class_size) AS BIGINT) AS min_class_size,
        |    CAST(sum(CASE WHEN class_size < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS violating_classes,
        |    CAST(sum(CASE WHEN class_size < 10 THEN class_size ELSE 0 END)
        |      AS BIGINT) AS rows_at_risk
        |  FROM cls GROUP BY 1, 2)
        |SELECT
        |  CASE WHEN concat_ws('+',
        |      CASE WHEN g1 = 0 THEN 'c_nationkey' END,
        |      CASE WHEN g2 = 0 THEN 'c_mktsegment' END) = ''
        |    THEN '(none)'
        |    ELSE concat_ws('+',
        |      CASE WHEN g1 = 0 THEN 'c_nationkey' END,
        |      CASE WHEN g2 = 0 THEN 'c_mktsegment' END) END AS retained,
        |  CAST(g1 + g2 AS BIGINT) AS n_generalized,
        |  n_classes, min_class_size, violating_classes, rows_at_risk,
        |  violating_classes = 0 AS meets_k
        |FROM lv
        |ORDER BY n_generalized, retained""".stripMargin)),

    // §2.8f — ε-DP COUNT release (r14, Ghosh et al.'s two-sided
    // geometric / discrete-Laplace mechanism at ε = 1/2): per (nation,
    // segment) the customer count plus geometric noise drawn from fixed
    // integer CDF thresholds on the salted 52-bit md5 uniform — the
    // perturb-and-release complement of q_kanon's suppress gate; the
    // deterministic group-keyed seed makes the release idempotent
    // across re-runs (no second-draw leak) and bit-replayable on any
    // engine. One bounded aggregate; sensitivity 1 by construction
    Query("q_dp_release", (s, dir) =>
      graft.validation.Privacy.dpCountRelease(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment")),
      // the geometric draw replayed from the SAME inlined integer cuts:
      // salted 52-bit md5 uniform per group key, threshold CASE, count + k
      sql {
        val noiseCase = graft.validation.Privacy.geomHalfCuts
          .map { case (k, t) => s"WHEN h < $t THEN $k" }
          .mkString("\n      ") + "\n      ELSE 15"
        s"""WITH g AS (
           |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
           |    ${md5bits("'dp:' || coalesce(CAST(c_nationkey AS VARCHAR), chr(1) || 'NULL') || '|' || coalesce(c_mktsegment, chr(1) || 'NULL')")} AS h
           |  FROM customer GROUP BY 1, 2)
           |SELECT c_nationkey, c_mktsegment,
           |  CAST(n + CASE $noiseCase END AS BIGINT) AS noisy_n
           |FROM g
           |ORDER BY 1, 2""".stripMargin
      }),

    // §2.8i — ε-DP SUM + COUNT release with the derived mean (the
    // coarse-grained geometric mechanism — zero new threshold tables):
    // per-customer acctbal cents clamped to [0, 500000] so the group
    // sum has sensitivity = the clamp, then released at granularity
    // clamp where floor(sum/clamp) has sensitivity exactly 1 — the
    // SAME ε=1/2 cuts apply; the count rides an independent draw
    // (ε=1 total by composition), dp_mean is free post-processing.
    // The negative acctbals exercise the lower clamp, >5000$ the upper
    Query("q_dp_sum", (s, dir) =>
      graft.validation.Privacy.dpSumRelease(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long"),
        clampCents = 500000L),
      // the coarse-grained sum mechanism replayed: clamp -> sum ->
      // granularity division -> the same cuts' noise per salt, truncating
      // integer division for the mean on both engines
      sql {
        def noiseCase(h: String) = graft.validation.Privacy.geomHalfCuts
          .map { case (k, t) => s"WHEN $h < $t THEN $k" }
          .mkString("\n      ") + "\n      ELSE 15"
        val key = "coalesce(CAST(c_nationkey AS VARCHAR), chr(1) || 'NULL') " +
          "|| '|' || coalesce(c_mktsegment, chr(1) || 'NULL')"
        s"""WITH g AS (
           |  SELECT c_nationkey, c_mktsegment,
           |    CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(least(greatest(coalesce(
           |      CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT),
           |      0), 0), 500000)) AS BIGINT) AS s,
           |    ${md5bits(s"'dps:' || $key")} AS hs,
           |    ${md5bits(s"'dpc:' || $key")} AS hc
           |  FROM customer GROUP BY 1, 2),
           |r AS (
           |  SELECT c_nationkey, c_mktsegment,
           |    CAST(((s // 500000) + CASE ${noiseCase("hs")} END) * 500000
           |      AS BIGINT) AS noisy_sum,
           |    CAST(n + CASE ${noiseCase("hc")} END AS BIGINT) AS noisy_n
           |  FROM g)
           |SELECT c_nationkey, c_mktsegment, noisy_sum, noisy_n,
           |  CASE WHEN noisy_n > 0 THEN noisy_sum // noisy_n END AS dp_mean
           |FROM r ORDER BY 1, 2""".stripMargin
      }),

    // §2.8g — the mechanism's calibration row (the audit-family
    // contract): one draw per customer key, histogrammed, with the
    // theoretical share in bp derived from the SAME inlined cuts by
    // integer subtraction — a mis-transcribed threshold or biased hash
    // shows as a histogram deviation, identically on either engine
    Query("q_dp_calibration", (s, dir) =>
      graft.validation.Privacy.dpNoiseCalibration(
        Tables.customer(s, dir), "c_custkey"),
      // histogram + theory shares re-derived from the same cuts by the
      // same integer subtraction — the two engines cannot disagree on the
      // distribution without disagreeing on the draw itself
      sql {
        val cuts = graft.validation.Privacy.geomHalfCuts
        val two52 = 1L << 52
        val noiseCase = cuts.map { case (k, t) => s"WHEN h < $t THEN $k" }
          .mkString("\n      ") + "\n      ELSE 15"
        val theoryCase = (cuts :+ (15 -> two52)).zip(0L +: cuts.map(_._2))
          .map { case ((k, t), lo) =>
            // BigInt: (t − lo)·10⁴ overflows Long near the mode
            s"WHEN $k THEN ${((BigInt(t) - BigInt(lo)) * 10000 / BigInt(two52)).toLong}"
          }.mkString("\n      ")
        s"""WITH d AS (
           |  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
           |  WHERE c_custkey IS NOT NULL),
           |h0 AS (SELECT ${md5bits("'dp:' || k")} AS h FROM d),
           |nz AS (SELECT CAST(CASE $noiseCase END AS BIGINT) AS noise FROM h0),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM nz)
           |SELECT noise, CAST(count(*) AS BIGINT) AS n_draws,
           |  CAST(count(*) * 10000 // (SELECT total FROM tot) AS BIGINT)
           |    AS emp_bp,
           |  CAST(CASE noise $theoryCase END AS BIGINT) AS theory_bp
           |FROM nz GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // §2.8h — stability-thresholded DP release over the UNBOUNDED item
    // domain (the private-vocabulary mechanism): unigrams + word
    // trigrams of the documents table, distinct-doc frequency +
    // geometric noise, released only when the noisy count clears τ=12 —
    // frequent vocabulary publishes, a rare phrase one document
    // contributes surfaces only with the geometric tail's probability
    // (the mechanism's δ); the registered fixture exercises both arms
    // (head unigrams release, the trigram singleton tail suppresses)
    Query("q_dp_vocab", (s, dir) =>
      graft.validation.Privacy.dpStabilityRelease(
        Tables.documents(s, dir), "doc_id", "text", tau = 12L),
      // the stability release replayed: distinct-doc frequency per
      // unigram/trigram item, the same cuts' noise, the same threshold
      sql {
        val noiseCase = graft.validation.Privacy.geomHalfCuts
          .map { case (k, t) => s"WHEN h < $t THEN $k" }
          .mkString("\n      ") + "\n      ELSE 15"
        s"""WITH d AS (
           |  SELECT doc_id AS doc, string_split(text, ' ') AS toks
           |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
           |items AS (
           |  SELECT DISTINCT doc, item FROM (
           |    SELECT doc, unnest(toks) AS item FROM d
           |    UNION ALL
           |    SELECT doc, unnest(list_transform(range(1, len(toks) - 1),
           |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS item
           |    FROM d WHERE len(toks) >= 3)),
           |f AS (
           |  SELECT item, CAST(count(*) AS BIGINT) AS df,
           |    ${md5bits("'dp:' || item")} AS h
           |  FROM items GROUP BY 1)
           |SELECT item, CAST(df + CASE $noiseCase END AS BIGINT) AS noisy_df
           |FROM f
           |WHERE df + CASE $noiseCase END >= 12
           |ORDER BY item""".stripMargin
      }),

    // §2.9 — apply_schema casts
    Query("q_schema_apply", (s, dir) =>
      Etl.applySchema(Tables.events(s, dir), Seq(
        "event_id" -> "long", "user_id" -> "int", "event_type" -> "string",
        "value" -> "double", "ts" -> "date", "props" -> "string")),
      sql("""SELECT CAST(event_id AS BIGINT) AS event_id, CAST(user_id AS INTEGER) AS user_id,
        |  CAST(event_type AS VARCHAR) AS event_type, CAST(value AS DOUBLE) AS value,
        |  CAST(ts AS DATE) AS ts, CAST(props AS VARCHAR) AS props
        |FROM events""".stripMargin)),

    // §2.9b — schema validation report (parquet.py:80 validate_schema):
    // expected-vs-actual with ok / type_mismatch / missing / extra rows.
    // The expected schema plants one mismatch, one missing, one extra.
    Query("q_schema_validate", (s, dir) =>
      graft.validation.SchemaCheck.validateSchema(Tables.events(s, dir), Seq(
        "event_id" -> "bigint", "ts" -> "timestamp", "user_id" -> "int",
        "event_type" -> "string", "value" -> "double",
        "quality_flag" -> "string")),
      // the events schema is fixed by the generator, so the expected report
      // is enumerable — a broken validator shows up as a wrong literal
      sql("""SELECT * FROM (VALUES
        |  ('event_id', 'bigint', 'bigint', 'ok'),
        |  ('ts', 'timestamp', 'timestamp', 'ok'),
        |  ('user_id', 'int', 'bigint', 'type_mismatch'),
        |  ('event_type', 'string', 'string', 'ok'),
        |  ('value', 'double', 'double', 'ok'),
        |  ('quality_flag', 'string', NULL, 'missing'),
        |  ('props', NULL, 'string', 'extra')
        |) t(column_name, expected_type, actual_type, status)""".stripMargin)),

    // §2.9c — schema-drift report (parquet.py:110 detect_schema_drift):
    // current vs next snapshot schemas, one row per column. The next
    // snapshot plants one type change (value -> string), one removal
    // (props), one addition (ingest_date); everything else is unchanged.
    Query("q_schema_drift", (s, dir) => {
      val cur = Tables.events(s, dir)
      val next = cur.drop("props")
        .withColumn("value", col("value").cast("string"))
        .withColumn("ingest_date", lit("2026-01-01"))
      Etl.schemaDriftReport(cur, next)
    },
      // like q_schema_validate: the generator fixes the events schema, so
      // the drift report against the planted next snapshot is enumerable
      sql("""SELECT * FROM (VALUES
        |  ('event_id', 'bigint', 'bigint', 'unchanged'),
        |  ('ts', 'timestamp', 'timestamp', 'unchanged'),
        |  ('user_id', 'bigint', 'bigint', 'unchanged'),
        |  ('event_type', 'string', 'string', 'unchanged'),
        |  ('value', 'double', 'string', 'type_changed'),
        |  ('props', 'string', NULL, 'removed'),
        |  ('ingest_date', NULL, 'string', 'added')
        |) t(column_name, current_type, next_type, status)""".stripMargin)),

    // §2.10 — event sessionization (RunAnalyzer.get_step_durations)
    Query("q_run_durations", (s, dir) =>
      Observability.eventDurations(Tables.events(s, dir), "user_id"),
      sql("""WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS start_us
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, event_type, start_us,
        |    lead(start_us) OVER (PARTITION BY user_id ORDER BY start_us, event_id) AS end_us,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY start_us, event_id) AS next_event_type
        |  FROM e)
        |SELECT user_id, event_id, event_type, start_us, end_us, next_event_type,
        |  end_us - start_us AS duration_us
        |FROM w WHERE end_us IS NOT NULL""".stripMargin)),

    // §2.10d — gap-based sessionization via native session_window (the
    // scalable one-shuffle form; identical call works in streaming). The
    // oracle rebuilds sessions with the lag/cumsum gap-split idiom.
    Query("q_sessions", (s, dir) =>
      Observability.gapSessions(Tables.events(s, dir), "user_id", "30 minutes"),
      sql("""WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |flagged AS (
        |  SELECT user_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
        |         OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, us,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, min(us) AS first_us, max(us) AS last_us,
        |  count(*) AS n_events, max(us) - min(us) AS span_us
        |FROM sessions GROUP BY user_id, session_id""".stripMargin)),

    // §2.11 — per-step duration stats (trino_observability_ddl q2)
    Query("q_step_stats", (s, dir) =>
      Observability.stepStats(
        Observability.eventDurations(Tables.events(s, dir), "user_id")),
      sql("""WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS start_us
        |  FROM events),
        |w AS (
        |  SELECT event_type, start_us,
        |    lead(start_us) OVER (PARTITION BY user_id ORDER BY start_us, event_id) AS end_us
        |  FROM e)
        |SELECT event_type,
        |  avg(end_us - start_us) AS avg_duration_us,
        |  max(end_us - start_us) AS max_duration_us,
        |  count(*) AS run_count
        |FROM w WHERE end_us IS NOT NULL
        |GROUP BY event_type""".stripMargin)),

    // §2.10b — status-matched step durations: START armed, closed by the
    // next SUCCESS/FAILURE of the same entity, with a status column
    // (observability.py:113-159 pairing semantics)
    Query("q_step_durations_status", (s, dir) =>
      Observability.stepDurationsStatus(Tables.events(s, dir), "user_id",
        startType = "click", successType = "purchase", failureType = "error"),
      sql("""WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS end_us
        |  FROM events WHERE event_type IN ('click','purchase','error')),
        |w AS (
        |  SELECT user_id, event_id, event_type, end_us,
        |    last_value(CASE WHEN event_type = 'click' THEN end_us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY end_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS start_us
        |  FROM e)
        |SELECT user_id, event_id,
        |  CASE WHEN event_type = 'purchase' THEN 'success' ELSE 'failure' END AS status,
        |  start_us, end_us, end_us - start_us AS duration_us
        |FROM w WHERE event_type IN ('purchase','error')""".stripMargin)),

    // §2.10c — materializations listing with asset key + flattened
    // metadata (observability.py:74-111)
    Query("q_materializations", (s, dir) =>
      Observability.materializations(Tables.events(s, dir), matType = "signup"),
      sql("""SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |  'stage.user_' || user_id AS asset_key,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS meta_k,
        |  value AS meta_value
        |FROM events WHERE event_type = 'signup'""".stripMargin)),

    // §2.12 — partition discovery (s3.list_partitions)
    Query("q_partition_listing", (s, dir) =>
      Etl.partitionListing(Tables.events(s, dir), col("ts")),
      sql("""SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y%m%d') AS partition_date
        |FROM events""".stripMargin)),

    // §2.12d — partition-completeness audit (q_partition_listing says
    // what IS there, this says what ISN'T): per event type the calendar
    // spine, missing-day count, completeness bp, and the first/last
    // missing day a backfill targets. The fixture PLANTS the outage
    // (the planted-defect pattern): (type, day) partitions whose salted
    // md5 fold lands on 0 mod 7 are dropped before the audit, so the
    // report finds exactly those ~14% of partitions at every SF
    Query("q_part_complete", (s, dir) => {
      val h = conv(substring(md5(concat(lit("gap:"), col("event_type"),
        lit("|"), col("ts").cast("date").cast("string"))), 1, 13), 16, 10)
        .cast("long")
      Etl.partitionCompleteness(
        Tables.events(s, dir).where(pmod(h, lit(7)) =!= 0),
        "event_type", "ts")
    },
      // the same planted (type, day) outage dropped, the same calendar
      // spine crossed, completeness in non-negative integer bp
      sql {
        val gap = md5bits(
          "'gap:' || event_type || '|' || CAST(CAST(ts AS DATE) AS VARCHAR)")
        s"""WITH present AS (
           |  SELECT DISTINCT event_type AS t, CAST(ts AS DATE) AS day
           |  FROM events
           |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
           |    AND $gap % 7 <> 0),
           |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM present),
           |spine AS (
           |  SELECT ty.t, CAST(unnest(generate_series((SELECT d0 FROM b),
           |    (SELECT d1 FROM b), INTERVAL 1 DAY)) AS DATE) AS day
           |  FROM (SELECT DISTINCT t FROM present) ty),
           |j AS (SELECT s.t, s.day, p.day IS NOT NULL AS pres
           |  FROM spine s LEFT JOIN present p ON p.t = s.t AND p.day = s.day)
           |SELECT t AS event_type,
           |  CAST(count(*) AS BIGINT) AS expected_days,
           |  CAST(sum(CASE WHEN pres THEN 1 ELSE 0 END) AS BIGINT)
           |    AS present_days,
           |  CAST(sum(CASE WHEN NOT pres THEN 1 ELSE 0 END) AS BIGINT)
           |    AS missing_days,
           |  CAST(min(CASE WHEN NOT pres THEN day END) AS VARCHAR)
           |    AS first_missing,
           |  CAST(max(CASE WHEN NOT pres THEN day END) AS VARCHAR)
           |    AS last_missing,
           |  (CAST(sum(CASE WHEN pres THEN 1 ELSE 0 END) AS BIGINT) * 10000)
           |    // count(*) AS completeness_bp
           |FROM j GROUP BY t ORDER BY t""".stripMargin
      }),

    // the planner over the SAME planted outage q_part_complete audits:
    // one row per missing (type, day) — neighbor-interpolated est_rows,
    // gap-and-island batching into <= 7-day runs, and the deterministic
    // idempotency key a scheduler dedups backfill retries on.
    // BackfillSpec proves re-running a planned day byte-equal via the
    // dynamic-partition-overwrite writer and completeness_bp = 10000
    // after the plan executes.
    Query("q_backfill_plan", (s, dir) => {
      val h = conv(substring(md5(concat(lit("gap:"), col("event_type"),
        lit("|"), col("ts").cast("date").cast("string"))), 1, 13), 16, 10)
        .cast("long")
      Etl.backfillPlan(
        Tables.events(s, dir).where(pmod(h, lit(7)) =!= 0),
        "event_type", "ts", batchDays = 7)
    },
      // same planted outage + calendar spine; IGNORE-NULLS window
      // neighbors replay est_rows, epoch-day-minus-rank islands and
      // floor-division chunks replay the batching, string concat the key
      sql {
        val gap = md5bits(
          "'gap:' || event_type || '|' || CAST(CAST(ts AS DATE) AS VARCHAR)")
        s"""WITH daily AS (
           |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM events
           |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
           |    AND $gap % 7 <> 0
           |  GROUP BY 1, 2),
           |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
           |spine AS (
           |  SELECT ty.t, CAST(unnest(generate_series((SELECT d0 FROM b),
           |    (SELECT d1 FROM b), INTERVAL 1 DAY)) AS DATE) AS day
           |  FROM (SELECT DISTINCT t FROM daily) ty),
           |j AS (
           |  SELECT s.t, s.day, d.n,
           |    last_value(d.n IGNORE NULLS) OVER (PARTITION BY s.t
           |      ORDER BY s.day
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_n,
           |    first_value(d.n IGNORE NULLS) OVER (PARTITION BY s.t
           |      ORDER BY s.day
           |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_n
           |  FROM spine s LEFT JOIN daily d ON s.t = d.t AND s.day = d.day),
           |m AS (
           |  SELECT t, day,
           |    CAST(CASE WHEN prev_n IS NOT NULL AND next_n IS NOT NULL
           |      THEN (prev_n + next_n) // 2
           |      ELSE coalesce(prev_n, next_n, 0) END AS BIGINT) AS est_rows,
           |    (day - DATE '1970-01-01')
           |      - row_number() OVER (PARTITION BY t ORDER BY day) AS island
           |  FROM j WHERE n IS NULL),
           |c AS (
           |  SELECT t, day, est_rows, island,
           |    (row_number() OVER (PARTITION BY t, island ORDER BY day) - 1)
           |      // 7 AS chunk
           |  FROM m),
           |g AS (
           |  SELECT t, day, est_rows,
           |    CAST(min(day) OVER w AS VARCHAR) AS batch_start,
           |    CAST(max(day) OVER w AS VARCHAR) AS batch_end,
           |    CAST(count(*) OVER w AS BIGINT) AS batch_days
           |  FROM c WINDOW w AS (PARTITION BY t, island, chunk))
           |SELECT t AS event_type, CAST(day AS VARCHAR) AS day, est_rows,
           |  batch_start, batch_end, batch_days,
           |  'backfill:' || t || ':' || batch_start || ':' || batch_end
           |    AS idem_key
           |FROM g ORDER BY event_type, day""".stripMargin
      }),

    // §2.12b — hive-partitioned daily storage round-trip with partition
    // pruning: write events partitioned by date=yyyyMMdd, read ONE day back
    // through a partition filter (directories for other days are never
    // scanned — asserted in PipelineSpec), aggregate it. The single most
    // common access pattern in the reference (every daily job).
    Query("q_hive_pruned", (s, dir) => {
      val root = "/tmp/graft_hive_" + dirTag(dir)
      // the date-partitioned layout is written by the daily pipeline job,
      // once; the query under measurement is the partition-pruned read.
      // One write per JVM (fresh on every new process) keeps repeat
      // iterations billing only the read they model. The root is marked
      // written only AFTER the write returns: marking first would make a
      // failed/partial write permanently skip the retry and every later
      // read hit a broken layout. (Concurrent first calls may both write
      // — mode("overwrite") makes that safe, if wasteful; the mains run
      // queries sequentially.)
      if (!writtenRoots.contains(root)) {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
        graft.pipeline.Pipeline.writeDailyAll(ev, root, "stage", "events_daily", col("ts"))
        writtenRoots.add(root)
      }
      graft.pipeline.Pipeline.readDay(s, root, "stage", "events_daily", "2024-01-02")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), Etl.moneySum(col("value")).as("sum_value"))
    },
      sql("""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE strftime(CAST(ts AS DATE), '%Y%m%d') = '20240102'
        |GROUP BY event_type""".stripMargin)),

    // §2.37b — co-located fact-fact join over bucketed tables: the
    // bucketing shuffle is paid once at write, the join itself plans
    // with no exchange on either big side (spec-asserted)
    Query("q_bucketed_join", (s, dir) => {
      val tag = dirTag(dir)
      val root = s"/tmp/graft_bkt_$tag"
      // bucket ONCE per session: bucketing trades one layout write for
      // every later exchange-free join — re-bucketing per read would bill
      // that amortized cost to each query, which is not the access
      // pattern the layout exists for. BOTH tables must exist to skip:
      // checking only lineitem would, after a crash between the two
      // writes, skip the orders write forever and fail every later join.
      if (!s.catalog.tableExists(s"graft_bkt_li_$tag") ||
          !s.catalog.tableExists(s"graft_bkt_ord_$tag")) {
        graft.pipeline.Pipeline.writeBucketed(
          Tables.lineitem(s, dir)
            .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
          s"graft_bkt_li_$tag", root, buckets = 8, key = "l_orderkey")
        graft.pipeline.Pipeline.writeBucketed(
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
          s"graft_bkt_ord_$tag", root, buckets = 8, key = "o_orderkey")
      }
      graft.pipeline.Pipeline.bucketedJoinAgg(s,
        s"graft_bkt_li_$tag", s"graft_bkt_ord_$tag")
    },
      // bucketing changes layout, not results: the oracle is the plain join
      sql("""SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin)),

    // §2.13 — star-schema analytics, broadcast dims
    Query("q_star_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir).where(year(col("o_orderdate")) === 1996)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
            .cast("double").as("revenue"),
          countDistinct(col("o_orderkey")).as("order_count"))
    },
      sql("""SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
        |  count(DISTINCT o_orderkey) AS order_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE year(CAST(o_orderdate AS DATE)) = 1996
        |GROUP BY r_name, n_name""".stripMargin)),

    // §2.14 — wide aggregation scan (TPC-H Q1 shape)
    Query("q_pricing_summary", (s, dir) => {
      val li = Tables.lineitem(s, dir).where(col("l_shipdate") <= lit("2000-12-01"))
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(3,2)")
      val tax = col("l_tax").cast("decimal(3,2)")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(price).cast("double").as("sum_base_price"),
          sum(price * (lit(1).cast("decimal(3,2)") - disc)).cast("double").as("sum_disc_price"),
          sum(price * (lit(1).cast("decimal(3,2)") - disc) * (lit(1).cast("decimal(3,2)") + tax))
            .cast("double").as("sum_charge"),
          (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(col("l_quantity")))
            .as("avg_qty"),
          (sum(price).cast("double") / count(col("l_extendedprice"))).as("avg_price"),
          (sum(disc).cast("double") / count(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
      sql("""SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / count(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // §2.27 — SQL model chain (dbt-factory analog); Catalyst sees through
    // the model boundary, so the status filter pushes into the scan.
    Query("q_sql_model", (s, dir) =>
      graft.pipeline.SqlModels.run(s,
        Map("orders" -> Tables.orders(s, dir)),
        Seq(
          graft.pipeline.SqlModels.Model("stg_orders",
            "SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice " +
              "FROM orders WHERE o_orderstatus IN ('O','F')"),
          graft.pipeline.SqlModels.Model("fct_priority_revenue",
            "SELECT o_orderpriority, " +
              "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, " +
              "count(*) AS n_orders FROM stg_orders GROUP BY o_orderpriority",
            deps = Seq("stg_orders"))))("fct_priority_revenue"),
      sql("""WITH stg_orders AS (
        |  SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderstatus IN ('O','F'))
        |SELECT o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM stg_orders GROUP BY o_orderpriority""".stripMargin)),

    // §2.27b — the reference's actual dbt models (stg_cfg_item_master ->
    // tfm_item_master_enriched: scoped cleanse with coalesce defaults,
    // then CASE priority buckets + manufactured flag + load stamp), run
    // through the same model-chain engine
    Query("q_item_enriched", (s, dir) =>
      graft.pipeline.SqlModels.run(s,
        Map("part" -> Tables.part(s, dir)),
        Seq(
          graft.pipeline.SqlModels.Model("stg_item_master",
            "SELECT p_partkey AS item_id, coalesce(p_type, 'UNKNOWN') AS item_type, " +
              "coalesce(p_name, '') AS item_name, coalesce(p_size, 0) AS item_priority " +
              "FROM part WHERE p_brand = 'Brand#2'"),
          graft.pipeline.SqlModels.Model("tfm_item_master_enriched",
            "SELECT *, " +
              "CASE WHEN item_priority >= 8 THEN 'HIGH' " +
              "     WHEN item_priority >= 4 THEN 'MEDIUM' ELSE 'LOW' END AS priority_category, " +
              "(item_type IS NOT NULL AND item_type <> '') AS is_manufactured, " +
              "DATE '2024-06-30' AS loaded_at " +
              "FROM stg_item_master",
            deps = Seq("stg_item_master"))))("tfm_item_master_enriched"),
      sql("""SELECT p_partkey AS item_id,
        |  coalesce(p_type, 'UNKNOWN') AS item_type,
        |  coalesce(p_name, '') AS item_name,
        |  coalesce(p_size, 0) AS item_priority,
        |  CASE WHEN coalesce(p_size, 0) >= 8 THEN 'HIGH'
        |       WHEN coalesce(p_size, 0) >= 4 THEN 'MEDIUM' ELSE 'LOW' END AS priority_category,
        |  (coalesce(p_type, 'UNKNOWN') IS NOT NULL AND coalesce(p_type, 'UNKNOWN') <> '') AS is_manufactured,
        |  DATE '2024-06-30' AS loaded_at
        |FROM part WHERE p_brand = 'Brand#2'""".stripMargin)),

    // §2.8b — per-column data profile: null rate, exact distinct, numeric
    // bounds (ts as epoch micros) in ONE aggregate pass — the descriptive
    // face of the rule-based validator
    Query("q_profile", (s, dir) =>
      graft.validation.Profile.profile(Tables.events(s, dir)),
      // one UNION ALL branch per column, stats identical to the single-pass
      // aggregate's
      sql {
        def row(c: String, minMax: Option[String]) = {
          val (mn, mx) = minMax match {
            case Some(e) => (s"min($e)", s"max($e)")
            case None => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
          }
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_null,
             |  CAST(round(CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000.0, 0)
             |    AS BIGINT) AS null_bp,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  $mn AS min_num, $mx AS max_num
             |FROM events""".stripMargin
        }
        Seq(
          row("event_id", Some("CAST(event_id AS DOUBLE)")),
          row("event_type", None),
          row("props", None),
          row("ts", Some("CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE)")),
          row("user_id", Some("CAST(user_id AS DOUBLE)")),
          row("value", Some("CAST(value AS DOUBLE)")))
          .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      }),

    // §2.7e — right-to-be-forgotten retraction: erased users (id % 17 = 0)
    // become negative deltas subtracted from the stored state — no corpus
    // rescan; verdict certified vs the rebuild over survivors
    Query("q_forget", (s, dir) =>
      Etl.forgetRetract(Tables.events(s, dir), "event_type", "value",
        pmod(col("user_id"), lit(17)) === 0),
      // retraction replayed in the same decimal type; the verdict column
      // re-derives the equality
      sql("""WITH f AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(20,6))) AS s
        |  FROM events GROUP BY 1),
        |e AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_e,
        |    sum(CAST(value AS DECIMAL(20,6))) AS s_e
        |  FROM events WHERE user_id % 17 = 0 GROUP BY 1),
        |ret AS (
        |  SELECT f.event_type,
        |    f.n - COALESCE(e.n_e, 0) AS n_events,
        |    f.s - COALESCE(e.s_e, CAST(0 AS DECIMAL(20,6))) AS s_dec
        |  FROM f LEFT JOIN e ON f.event_type = e.event_type),
        |r AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_r,
        |    sum(CAST(value AS DECIMAL(20,6))) AS s_r
        |  FROM events WHERE NOT (user_id % 17 = 0) GROUP BY 1)
        |SELECT ret.event_type, ret.n_events,
        |  CAST(ret.s_dec AS DOUBLE) AS total_value,
        |  (ret.n_events = r.n_r AND ret.s_dec = r.s_r) AS matches_recompute
        |FROM ret JOIN r ON ret.event_type = r.event_type
        |ORDER BY ret.event_type""".stripMargin)),

    // §2.7d — incremental JOIN-view maintenance: the four-term delta
    // algebra of (A0 ∪ ΔA) ⋈ (B0 ∪ ΔB), merged states proven equal to the
    // from-scratch recompute (q_incr_merge lifted to joins), exact cents
    Query("q_incr_join", (s, dir) =>
      Etl.incrJoinRevenue(Tables.orders(s, dir), Tables.lineitem(s, dir)),
      // all four delta terms + the recompute replayed; integer cents make
      // the equality verdict bit-exact
      sql("""WITH o AS (SELECT o_orderkey, o_orderpriority FROM orders),
        |l AS (
        |  SELECT l_orderkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM lineitem),
        |a0 AS (SELECT * FROM o WHERE o_orderkey % 7 <> 0),
        |ad AS (SELECT * FROM o WHERE o_orderkey % 7 = 0),
        |b0 AS (SELECT * FROM l WHERE l_orderkey % 5 <> 0),
        |bd AS (SELECT * FROM l WHERE l_orderkey % 5 = 0),
        |t1 AS (SELECT o_orderpriority, count(*) AS n, CAST(sum(cents) AS BIGINT) AS r
        |  FROM a0 JOIN b0 ON o_orderkey = l_orderkey GROUP BY 1),
        |t2 AS (SELECT o_orderpriority, count(*) AS n, CAST(sum(cents) AS BIGINT) AS r
        |  FROM ad JOIN b0 ON o_orderkey = l_orderkey GROUP BY 1),
        |t3 AS (SELECT o_orderpriority, count(*) AS n, CAST(sum(cents) AS BIGINT) AS r
        |  FROM a0 JOIN bd ON o_orderkey = l_orderkey GROUP BY 1),
        |t4 AS (SELECT o_orderpriority, count(*) AS n, CAST(sum(cents) AS BIGINT) AS r
        |  FROM ad JOIN bd ON o_orderkey = l_orderkey GROUP BY 1),
        |m AS (
        |  SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(sum(r) AS BIGINT) AS rev_cents
        |  FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2
        |    UNION ALL SELECT * FROM t3 UNION ALL SELECT * FROM t4)
        |  GROUP BY 1),
        |d AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_direct,
        |    CAST(sum(cents) AS BIGINT) AS rev_direct
        |  FROM o JOIN l ON o_orderkey = l_orderkey GROUP BY 1)
        |SELECT m.o_orderpriority, m.n_rows, m.rev_cents,
        |  (m.n_rows = d.n_direct AND m.rev_cents = d.rev_direct)
        |    AS matches_recompute
        |FROM m JOIN d ON m.o_orderpriority = d.o_orderpriority
        |ORDER BY m.o_orderpriority""".stripMargin)),

    // §2.12c — small-file compaction plan over the (type, day) manifest:
    // sorted sequential fill into ~targetRows bins, md5 member
    // fingerprints for resumable rewrites; manifest rows only, never data
    Query("q_compaction_plan", (s, dir) =>
      graft.operators.Packing.compactionPlan(Tables.events(s, dir),
        "event_type", "ts", targetRows = 5000L),
      // the manifest, the ordered prefix sum, the bin arithmetic, and the
      // member fingerprints replayed
      sql("""WITH m AS (
        |  SELECT event_type || ':' || CAST(CAST(ts AS DATE) AS VARCHAR)
        |      AS file,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |c AS (
        |  SELECT file, n_rows,
        |    CAST(sum(n_rows) OVER (ORDER BY n_rows DESC, file ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM m)
        |SELECT (cum - n_rows) // 5000 AS bin,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(n_rows) AS BIGINT) AS total_rows,
        |  CAST(floor(CAST(sum(n_rows) AS BIGINT) * 10000.0 / 5000 + 0.5)
        |    AS BIGINT) AS fill_bp,
        |  md5(string_agg(file, ',' ORDER BY file)) AS files_fp
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // §2.56 — CDC log apply: events as a change stream (every 10th event a
    // delete tombstone), collapsed to current state last-writer-wins
    // §2.56b — table reconciliation digest: per order-date partition the
    // (count, xor, mod-1e18 decimal sum) triple over portable 52-bit row
    // hashes — ONE aggregate, rows never leave the scan except as
    // (part, hash); comparing two 100 TB tables = two scans + a
    // |partitions|-row join. The nullif column plants real SQL NULLs so
    // the u0001-sentinel parity is exercised cross-engine every round
    // (r11: a sentinel divergence now fails the gate loudly instead of
    // hiding behind never-NULL TPC-H columns)
    Query("q_table_digest", (s, dir) =>
      graft.validation.Reconcile.tableDigest(
        Tables.orders(s, dir), col("o_orderdate").cast("date"),
        Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)"),
          nullif(col("o_orderpriority"), lit("1-URGENT"))))
        .withColumnRenamed("part", "day"),
      // the same canonical row string (chr(1)||'NULL' sentinel, '|'
      // separator, decimal money form), 52-bit salted md5, and the three
      // commuting folds; the nullif column makes real NULLs ride the
      // sentinel on both engines
      sql(s"""WITH b AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    ${md5bits(" 'digest:' || concat_ws('|', coalesce(CAST(o_orderkey AS VARCHAR), chr(1) || 'NULL'), coalesce(CAST(o_custkey AS VARCHAR), chr(1) || 'NULL'), coalesce(CAST(o_orderstatus AS VARCHAR), chr(1) || 'NULL'), coalesce(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), chr(1) || 'NULL'), coalesce(CAST(nullif(o_orderpriority, '1-URGENT') AS VARCHAR), chr(1) || 'NULL')) ")} AS h
        |  FROM orders)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(h) AS BIGINT) AS xor_digest,
        |  CAST(sum(CAST(h AS HUGEINT)) % 1000000000000000000 AS BIGINT)
        |    AS sum_digest
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // §2.56e — the reconcile REPORT itself, registered on planted
    // divergences (r11): the target drops one o_orderkey%8 partition
    // entirely (source_only), halves another (count_mismatch, the
    // okey%16 slice), and corrupts one money column in a third
    // (content_mismatch) — every status class exercised plus the
    // catch-all summary row; a clean 100 TB compare returns ONE row
    Query("q_reconcile_report", (s, dir) => {
      val src = Tables.orders(s, dir)
      val part8 = pmod(col("o_orderkey"), lit(8))
      val target = src
        .where(part8 =!= 3 && pmod(col("o_orderkey"), lit(16)) =!= 6)
        .withColumn("o_totalprice",
          when(part8 === 5, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")))
      graft.validation.Reconcile.reconcile(src, target,
        pmod(col("o_orderkey"), lit(8)),
        Seq(col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)")))
    },
      // the planted statuses are PROVABLE from row counts alone (dropped
      // partition, halved partition, value-corrupted partition), so the
      // oracle constructs the report without replaying the hashes —
      // a digest false-negative would leave extra rows and hash red.
      // Statuses and the summary counts are DERIVED from the same
      // filters the query plants (not hard-coded 5/3), so the fixture
      // survives generator or SF changes: an emptied-not-halved %16
      // slice degrades part 6 to source_only, an absent slice to match,
      // and the summary row counts whatever the classification yields
      sql("""WITH p AS (
        |  SELECT o_orderkey % 8 AS part, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) FILTER (WHERE o_orderkey % 16 = 6) AS BIGINT)
        |      AS dropped
        |  FROM orders GROUP BY 1),
        |cls AS (
        |  SELECT part, n AS s_rows,
        |    CASE WHEN part = 3 OR (part = 6 AND dropped = n) THEN 0
        |         WHEN part = 6 THEN n - dropped ELSE n END AS t_rows,
        |    CASE WHEN part = 3 OR (part = 6 AND dropped = n)
        |           THEN 'source_only'
        |         WHEN part = 6 AND dropped > 0 THEN 'count_mismatch'
        |         WHEN part = 5 THEN 'content_mismatch'
        |         ELSE 'match' END AS status
        |  FROM p)
        |SELECT CAST(part AS VARCHAR) AS part, status, s_rows, t_rows
        |FROM cls WHERE status <> 'match'
        |UNION ALL
        |SELECT '(all)',
        |  CASE WHEN count(*) FILTER (WHERE status <> 'match') = 0
        |    THEN 'match' ELSE 'mismatch' END,
        |  CAST(count(*) FILTER (WHERE status = 'match') AS BIGINT),
        |  CAST(count(*) FILTER (WHERE status <> 'match') AS BIGINT)
        |FROM cls
        |ORDER BY part""".stripMargin)),

    // §2.56c — column-localizing digest (r11, the drill-down 56b hands a
    // flagged partition to): same three commuting folds, one (xor, sum)
    // pair PER COLUMN with a column-name hash salt — one more scan says
    // WHICH column diverged; still a single aggregate pass, long-form
    // output bounded by |partitions| x |cols|
    Query("q_column_digest", (s, dir) =>
      graft.validation.Reconcile.columnDigest(
        Tables.orders(s, dir), col("o_orderdate").cast("date"),
        Seq("o_custkey" -> col("o_custkey"),
          "o_orderstatus" -> col("o_orderstatus"),
          "o_totalprice" -> col("o_totalprice").cast("decimal(18,2)"),
          "o_orderpriority" ->
            nullif(col("o_orderpriority"), lit("1-URGENT"))))
        .withColumnRenamed("part", "day"),
      // per-column salted hashes ('digest:<name>:'), the same fold triple
      // per column, long-form via one grouped select per column
      sql {
        val digCols = Seq(
          "o_custkey" -> "CAST(o_custkey AS VARCHAR)",
          "o_orderstatus" -> "CAST(o_orderstatus AS VARCHAR)",
          "o_totalprice" -> "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)",
          "o_orderpriority" -> "CAST(nullif(o_orderpriority, '1-URGENT') AS VARCHAR)")
        val hexprs = digCols.map { case (n, e) =>
          s"    ${md5bits(s"'digest:$n:' || coalesce($e, chr(1) || 'NULL')")} AS h_$n"
        }
        val selects = digCols.map { case (n, _) =>
          s"""SELECT day, '$n' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(bit_xor(h_$n) AS BIGINT) AS xor_digest,
             |  CAST(sum(CAST(h_$n AS HUGEINT)) % 1000000000000000000 AS BIGINT)
             |    AS sum_digest
             |FROM b GROUP BY 1""".stripMargin
        }
        s"""WITH b AS (
           |  SELECT CAST(o_orderdate AS DATE) AS day,
           |${hexprs.mkString(",\n")}
           |  FROM orders)
           |${selects.mkString("\nUNION ALL\n")}
           |ORDER BY day, "column"""".stripMargin
      }),

    // §2.56d — the composed CDC trust chain (56 → 7 → 56b, r11): snapshot
    // the state at the cut, apply the post-cut changes INCREMENTALLY (the
    // snapshot rows re-enter as upsert ops, so the merge costs
    // O(|snapshot| + |delta|), never the full log), and reconcile the
    // merged table against the full-log replay by per-partition digest —
    // the end-to-end check a warehouse migration actually runs. The
    // merge==replay equality is a theorem (last-writer-wins max composes
    // over any split of the log; post-cut ops outrank all pre-cut ops),
    // so the report is provably ONE all-match row — any chain bug
    // surfaces as extra mismatch rows and a hash red
    Query("q_cdc_reconcile", (s, dir) => {
      val log = Tables.events(s, dir).select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"),
        when(pmod(col("event_id"), lit(10)) === 0, "D").otherwise("U").as("op"))
      val cut = expr("unix_micros(TIMESTAMP '2024-01-16 00:00:00')")
      def apply0(l: org.apache.spark.sql.DataFrame) =
        Analytics.cdcApply(l, key = "user_id", seqCol = "ts_us",
          tieCol = "event_id", opCol = "op", deleteOp = "D").drop("n_ops")
      val snapshot = apply0(log.where(col("ts_us") < cut))
      val merged = apply0(snapshot.withColumn("op", lit("U"))
        .unionByName(log.where(col("ts_us") >= cut)))
      val replayed = apply0(log)
      graft.validation.Reconcile.reconcile(replayed, merged,
        pmod(col("user_id"), lit(16)),
        Seq(col("user_id"), col("event_id"), col("ts_us"), col("value")))
    },
      // the report is provably one all-match row; the oracle computes the
      // matched-partition count from the surviving state and asserts the
      // verdict (the 43b literal-verdict pattern applied to a chain)
      sql("""WITH log AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    value, CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM log),
        |state AS (SELECT user_id FROM r WHERE rn = 1 AND op <> 'D')
        |SELECT '(all)' AS part, 'match' AS status,
        |  CAST(count(DISTINCT user_id % 16) AS BIGINT) AS s_rows,
        |  CAST(0 AS BIGINT) AS t_rows
        |FROM state""".stripMargin)),

    // §2.31 — failure listing (RunAnalyzer.get_failures analog)
    Query("q_run_failures", (s, dir) =>
      Tables.events(s, dir)
        .where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value")),
      sql("""SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        |FROM events WHERE event_type = 'error'""".stripMargin)),

    // §2.31b — run-level metadata summary (observability.py:36-47
    // get_run_metadata): per-run start/end/duration, event + failure
    // counts, derived status, sorted event-type set as the tags analog
    Query("q_run_metadata", (s, dir) =>
      Observability.runMetadata(Tables.events(s, dir), "user_id"),
      sql("""SELECT user_id AS run_id,
        |  min(epoch_us(CAST(ts AS TIMESTAMP))) AS start_us,
        |  max(epoch_us(CAST(ts AS TIMESTAMP))) AS end_us,
        |  max(epoch_us(CAST(ts AS TIMESTAMP))) - min(epoch_us(CAST(ts AS TIMESTAMP))) AS duration_us,
        |  count(*) AS n_events,
        |  CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_errors,
        |  CASE WHEN count(CASE WHEN event_type = 'error' THEN 1 END) > 0
        |       THEN 'failure' ELSE 'success' END AS status,
        |  array_to_string(list_sort(list_distinct(list(event_type))), ',') AS tags
        |FROM events GROUP BY user_id""".stripMargin)),

    // §2.32 — JSON metadata extraction from the props column
    // (materialization-metadata analog)
    Query("q_props_json", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("prop_k"))
        .where(col("prop_k") % 10 === 0),
      sql("""SELECT event_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 = 0""".stripMargin)),

    // §2.35 — bucketed range join: lineitem quantities matched to part-size
    // intervals via an equi-join on domain buckets (no nested-loop join)
    Query("q_range_join", (s, dir) => {
      // Selective interval set: one brand, +-1 around each size. Wide
      // intervals over this tiny 1..50 domain would make the TRUE result a
      // near cross join — selectivity is a property of the query, bucketing
      // only removes the nested loop.
      // Aggregate pushdown: the point column has ~50 distinct values, so
      // pre-aggregate per value and range-join the tiny summary instead of
      // streaming 600k rows through the join. Algebraically identical.
      val points = Tables.lineitem(s, dir)
        .groupBy(col("l_quantity"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("qsum"))
      val intervals = Tables.part(s, dir)
        .where(col("p_brand") === "Brand#1")
        .select(col("p_size"),
          (col("p_size") - 1).cast("double").as("lo"),
          (col("p_size") + 1).cast("double").as("hi"))
      graft.operators.RangeJoin.bucketed(points, intervals,
          "l_quantity", "lo", "hi", bucketWidth = 2.0)
        .groupBy(col("p_size"))
        .agg(sum(col("cnt")).as("n_matches"),
          sum(col("qsum")).cast("double").as("sum_qty"))
    },
      sql("""SELECT p_size, count(*) AS n_matches,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM part JOIN lineitem
        |  ON l_quantity >= CAST(p_size - 1 AS DOUBLE)
        | AND l_quantity <= CAST(p_size + 1 AS DOUBLE)
        |WHERE p_brand = 'Brand#1'
        |GROUP BY p_size""".stripMargin)),

    // §2.34 — as-of join: each error event attributed to the latest
    // preceding click of the same user (point-in-time semantics)
    Query("q_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("err_us"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("click_us"),
          col("value").as("click_value"))
      graft.operators.AsOf.asofJoin(errors, clicks, Seq("user_id"), "err_us", "click_us")
    },
      sql("""WITH errors AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS err_us
        |  FROM events WHERE event_type = 'error'),
        |clicks AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us, value AS click_value
        |  FROM events WHERE event_type = 'click')
        |SELECT e.user_id, e.event_id, e.err_us, c.click_us, c.click_value
        |FROM errors e ASOF LEFT JOIN clicks c
        |  ON e.user_id = c.user_id AND e.err_us >= c.click_us""".stripMargin)),

    // §2.40b — as-of join with a staleness bound (kdb/QuestDB tolerance):
    // the latest click is attached only if it happened within the hour
    // before the error; staler matches are rejected, not replaced
    Query("q_asof_tolerance", (s, dir) => {
      val ev = Tables.events(s, dir)
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("err_us"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("click_us"),
          col("value").as("click_value"))
      graft.operators.AsOf.asofJoinTolerance(errors, clicks, Seq("user_id"),
        "err_us", "click_us", tolerance = 3600000000L)
    },
      // the tolerance gate post-filters the plain as-of match: a too-stale
      // match is rejected (never replaced by an older one), so the CASE
      // replay is exact
      sql("""WITH errors AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS err_us
        |  FROM events WHERE event_type = 'error'),
        |clicks AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us, value AS click_value
        |  FROM events WHERE event_type = 'click')
        |SELECT e.user_id, e.event_id, e.err_us,
        |  CASE WHEN e.err_us - c.click_us <= 3600000000 THEN c.click_us END
        |    AS click_us,
        |  CASE WHEN e.err_us - c.click_us <= 3600000000 THEN c.click_value END
        |    AS click_value
        |FROM errors e ASOF LEFT JOIN clicks c
        |  ON e.user_id = c.user_id AND e.err_us >= c.click_us""".stripMargin)),

    // §2.7b — SCD2 dimension build: compact each customer's order-status
    // change log into validity intervals (valid_from/valid_to/version/
    // is_current). One shuffle shared by both windows.
    Query("q_scd2", (s, dir) =>
      Etl.scd2(Tables.orders(s, dir), key = "o_custkey",
        attr = "o_orderstatus", ts = "o_orderdate", tie = "o_orderkey"),
      sql("""WITH c AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    lag(o_orderstatus) OVER w AS prev_status
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |ch AS (
        |  SELECT * FROM c
        |  WHERE prev_status IS NULL OR prev_status <> o_orderstatus)
        |SELECT o_custkey, o_orderstatus AS status,
        |  CAST(o_orderdate AS DATE) AS valid_from,
        |  CAST(lead(o_orderdate) OVER w2 AS DATE) AS valid_to,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version,
        |  (lead(o_orderdate) OVER w2 IS NULL) AS is_current
        |FROM ch
        |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    // §2.7f — point-in-time SCD2 read: every lineitem joined to the
    // customer-status version effective ON ITS SHIP DATE (latest
    // valid_from <= ship_day, same-day versions collapsed to end-of-day),
    // then rolled up per effective status. Composes 7b's dimension with
    // the as-of union+window formulation — one shuffle on the key, no
    // interval-join explosion.
    Query("q_scd2_asof", (s, dir) => {
      val dim = Etl.scd2(Tables.orders(s, dir), key = "o_custkey",
        attr = "o_orderstatus", ts = "o_orderdate", tie = "o_orderkey")
      val facts = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), to_date(col("l_shipdate")).as("ship_day"),
          col("l_extendedprice"), col("l_discount"))
      Etl.scd2PointInTime(facts, dim, "o_custkey", "ship_day")
        .groupBy(coalesce(col("status"), lit("none")).as("status_at_ship"))
        .agg(count(lit(1)).as("n_items"),
          countDistinct(col("o_custkey")).as("n_custs"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(3,2)") -
              col("l_discount").cast("decimal(3,2)")))
            .cast("double").as("revenue"))
    },
      // the as-of match is spelled as an inequality join + latest-valid_from
      // row_number per fact row (DuckDB's ASOF keyword is avoided per the
      // house rule); same-day versions collapse to max version first,
      // mirroring scd2PointInTime's end-of-day semantics
      sql("""WITH c AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    lag(o_orderstatus) OVER w AS prev_status
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |ch AS (
        |  SELECT * FROM c
        |  WHERE prev_status IS NULL OR prev_status <> o_orderstatus),
        |dim AS (
        |  SELECT o_custkey, o_orderstatus AS status,
        |    CAST(o_orderdate AS DATE) AS valid_from,
        |    CAST(row_number() OVER w2 AS BIGINT) AS version
        |  FROM ch
        |  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |dday AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_custkey, valid_from
        |      ORDER BY version DESC) AS rk
        |    FROM dim) WHERE rk = 1),
        |f AS (
        |  SELECT o.o_custkey, CAST(l.l_shipdate AS DATE) AS ship_day,
        |    l.l_extendedprice, l.l_discount
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |fk AS (SELECT DISTINCT o_custkey, ship_day FROM f),
        |eff AS (
        |  SELECT o_custkey, ship_day, status FROM (
        |    SELECT k.o_custkey, k.ship_day, d.status,
        |      row_number() OVER (PARTITION BY k.o_custkey, k.ship_day
        |        ORDER BY d.valid_from DESC) AS rk
        |    FROM fk k LEFT JOIN dday d
        |      ON d.o_custkey = k.o_custkey AND d.valid_from <= k.ship_day)
        |  WHERE rk = 1)
        |SELECT coalesce(e.status, 'none') AS status_at_ship,
        |  count(*) AS n_items,
        |  count(DISTINCT f.o_custkey) AS n_custs,
        |  CAST(sum(CAST(f.l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(3,2)) - CAST(f.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        |    AS revenue
        |FROM f JOIN eff e
        |  ON f.o_custkey = e.o_custkey
        |  AND f.ship_day IS NOT DISTINCT FROM e.ship_day
        |GROUP BY 1""".stripMargin)),

    // §2.7c — incremental aggregate maintenance: 9 days of prior state
    // merged with day 10's delta; the oracle recomputes from scratch over
    // the union of both windows, proving merge == recompute bit-for-bit
    // (exact-decimal mergeable state). Both extracts push stored-ts ranges
    // to the scan.
    Query("q_incr_merge", (s, dir) => {
      val state = Etl.aggState(
        Tables.eventsDayRange(s, dir, "2024-01-01", "2024-01-10"), "user_id", "value")
      val delta = Etl.aggState(
        Tables.eventsDayRange(s, dir, "2024-01-10", "2024-01-11"), "user_id", "value")
      Etl.mergeAggStates(Seq(state, delta))
    },
      sql("""SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE CAST(ts AS DATE) <= DATE '2024-01-10'
        |GROUP BY user_id""".stripMargin))
  )
}
