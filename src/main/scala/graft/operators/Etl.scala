package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core ETL operators re-expressed Spark-first.
  *
  * Determinism note: every aggregated double is first cast to an exact
  * DECIMAL so the fold is order-independent, then the final value is cast
  * back to double. Plain `sum(double)` differs in the last ulp between a
  * 32-way parallel fold and the single-threaded oracle — a hash-compare
  * killer at any scale.
  */
object Etl {

  /** Exact sum of a 2-decimal monetary double column, returned as double. */
  def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Order-stable mean: exact decimal sum divided by count, in doubles. */
  def moneyAvg(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double") / count(c)

  /** Round to 2 decimals as `floor(x*100 + 0.5) / 100` — pure IEEE double
    * ops, so every engine computes the identical result. Spark's round()
    * goes through the double's SHORTEST decimal string (BigDecimal.valueOf)
    * and rounds exact ties like 32.675 UP, while engines that round the
    * binary value (32.67499999999999715...) round DOWN — a hash-compare
    * killer whenever the true value lands exactly on a .xx5 boundary,
    * which money/1440-style rates do regularly.
    */
  def round2Stable(c: Column): Column =
    floor(c * 100 + 0.5).cast("double") / 100

  /** Slowly-changing-dimension type 2 build: compact an ordered change log
    * into validity intervals. Rows where the tracked attribute differs from
    * its predecessor (per key, ordered by ts with an id tie-break) open a
    * new version; `valid_to` is the next version's start, NULL on the
    * current row. Reference analog: the upsert load (trino.py:165) keeps
    * only latest state — SCD2 is the standard warehouse extension when
    * history must be queryable.
    *
    * One shuffle: both windows and the change filter share the same
    * (key, ts, tie) partitioning+ordering, so Spark plans a single exchange
    * and sort reused across them.
    */
  def scd2(changes: DataFrame, key: String, attr: String, ts: String,
      tie: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    changes
      .withColumn("prev_attr", lag(col(attr), 1).over(w))
      .where(col("prev_attr").isNull || col("prev_attr") =!= col(attr))
      .withColumn("valid_from", to_date(col(ts)))
      .withColumn("valid_to", to_date(lead(col(ts), 1).over(w)))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("is_current", lead(col(ts), 1).over(w).isNull)
      .select(col(key), col(attr).as("status"), col("valid_from"),
        col("valid_to"), col("version"), col("is_current"))
  }

  /** Point-in-time (as-of) read of an SCD2 dimension — the temporal
    * lookup every SCD2 warehouse needs at query time: each fact row gets
    * the dimension version that was effective on its date, i.e. the
    * latest `valid_from <= factDate`. Reference analog: the upsert load
    * (trino.py:165) serves only the LATEST state; once history is kept
    * (scd2 above), facts must be joinable to the state as of THEIR date,
    * not today's.
    *
    * Day-granularity semantics: multiple same-day versions of a key
    * collapse to the day's LAST (max `version`) — the state at end of
    * day — which also makes the right side unique per (key, day) as
    * [[AsOf.asofJoin]] requires for determinism.
    *
    * Scale: delegates to asofJoin's union+window formulation — ONE
    * shuffle on the key, no interval-join row explosion however many
    * versions a hot key accumulates; the same-day collapse is a window
    * pass on the (small) dimension only.
    */
  def scd2PointInTime(facts: DataFrame, dim: DataFrame, key: String,
      factDate: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lastPerDay = dim
      .withColumn("_rk", row_number().over(Window
        .partitionBy(col(key), col("valid_from"))
        .orderBy(col("version").desc)))
      .where(col("_rk") === 1)
      .select(col(key), col("valid_from"), col("status"), col("version"))
    AsOf.asofJoin(facts, lastPerDay, Seq(key), factDate, "valid_from")
  }

  /** Re-aggregable per-key state: count + exact-decimal sum. The decimal
    * sum makes the state MERGEABLE without drift: merging partials in any
    * order yields the identical bits, so an incrementally-maintained
    * aggregate equals a from-scratch recompute (the hash-compare proof is
    * q_incr_merge's oracle, which recomputes directly).
    */
  def aggState(df: DataFrame, key: String, valueCol: String): DataFrame =
    df.groupBy(col(key)).agg(
      count(lit(1)).as("n_events"),
      sum(col(valueCol).cast("decimal(20,6)")).as("total_dec"))

  /** Merge partial aggregate states (same schema as `aggState` output) into
    * the final per-key aggregate. Incremental daily maintenance: only the
    * new day's delta is scanned; the merge shuffles state rows (one per
    * key), not events.
    */
  def mergeAggStates(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(col(states.head.columns.head))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("total_dec")).as("total_dec"))
      .select(col(states.head.columns.head), col("n_events"),
        col("total_dec").cast("double").as("total_value"))

  /** WIP aggregation: keep active-status rows, aggregate quantity per group.
    * Reference: etl/common/assets/transfer.py:14 (transform_aps_wip_logic):
    * status-IN filter -> groupBy -> sum/nunique/mean -> snapshot_date.
    * One shuffle; partial aggregation is map-side except countDistinct which
    * Spark plans as a two-phase expand — acceptable, keys are low-cardinality.
    */
  def wipAggregate(
      lots: DataFrame,
      statusCol: String,
      activeStatuses: Seq[String],
      groupCols: Seq[String],
      qtyCol: String,
      lotIdCol: String,
      snapshotDate: String): DataFrame =
    wip(lots, statusCol, activeStatuses, groupCols, qtyCol, lotIdCol,
      snapshotDate)

  /** Tenant-custom WIP variant with a conditional "high priority" count.
    * Reference: etl/tenants/project_01/assets/transfer.py:14. The reference
    * runs a second groupBy + merge; here it is one extra aggregate in the
    * same single-shuffle pass.
    */
  def wipWithPriority(
      lots: DataFrame,
      statusCol: String,
      activeStatuses: Seq[String],
      groupCols: Seq[String],
      qtyCol: String,
      lotIdCol: String,
      priorityCol: String,
      highPriority: String,
      snapshotDate: String): DataFrame =
    wip(lots, statusCol, activeStatuses, groupCols, qtyCol, lotIdCol,
      snapshotDate,
      count(when(col(priorityCol) === highPriority, lit(1))).as("high_priority_count"))

  /** The WIP pass both variants run: the status filter, one groupBy, the
    * three base aggregates and then `extra`, and the snapshot date. */
  private def wip(lots: DataFrame, statusCol: String,
      activeStatuses: Seq[String], groupCols: Seq[String], qtyCol: String,
      lotIdCol: String, snapshotDate: String, extra: Column*): DataFrame =
    lots
      .where(col(statusCol).isin(activeStatuses: _*))
      .groupBy(groupCols.map(col): _*)
      .agg(
        moneySum(col(qtyCol)).as("wip_qty"),
        Seq(countDistinct(col(lotIdCol)).as("lot_count"),
          moneyAvg(col(qtyCol)).as("avg_qty_per_lot")) ++ extra: _*)
      .withColumn("snapshot_date", lit(snapshotDate))

  /** Cycle time: join fact-to-fact, day delta, min/avg/max per group.
    * Reference: etl/common/assets/transfer.py:68 (transform_cycle_time_logic)
    * — there the delta is minutes between two timestamps of one table; our
    * star schema splits start (order date) and end (ship date) across
    * orders/lineitem, so this also exercises the large-large shuffle join the
    * reference never had to plan. Both sides shuffle on the order key; dims
    * are not involved. Integer day deltas keep avg exact.
    */
  def cycleTime(
      lineitem: DataFrame,
      orders: DataFrame,
      completedStatus: String,
      groupCol: String): DataFrame =
    lineitem
      .join(orders.where(col("o_orderstatus") === completedStatus),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("cycle_days", datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
      .groupBy(col(groupCol))
      .agg(
        avg(col("cycle_days")).as("avg_cycle_days"),
        min(col("cycle_days")).as("min_cycle_days"),
        max(col("cycle_days")).as("max_cycle_days"),
        count(lit(1)).as("lot_count"))

  /** Utilization pivot: per-entity event-type totals as columns + rate.
    * Reference: etl/common/assets/transfer.py:129
    * (transform_equipment_utilization_logic): groupBy sum -> pandas pivot ->
    * fillna(0) -> RUN/(24*60)*100. Written as one conditional aggregation
    * per pivot value rather than `.pivot(...)`: the explicit value list
    * keeps the schema static, and the single groupBy is ONE shuffle with
    * map-side partial aggregation (Spark's pivot operator plans two).
    */
  def utilizationPivot(
      events: DataFrame,
      entityCol: String,
      eventTypeCol: String,
      valueCol: String,
      eventTypes: Seq[String],
      runType: String,
      minutesPerDay: Int,
      snapshotDate: String): DataFrame = {
    val sums = eventTypes.map { t =>
      coalesce(moneySum(when(col(eventTypeCol) === t, col(valueCol))), lit(0.0)).as(t)
    }
    events
      .groupBy(col(entityCol))
      .agg(sums.head, sums.tail: _*)
      .withColumn("utilization_rate",
        round2Stable(col(runType) / minutesPerDay * 100))
      .withColumn("snapshot_date", lit(snapshotDate))
  }

  /** Upsert (merge): delete-by-key + insert, as one distributed plan.
    * Reference: etl/resources/trino.py:165 (upsert_dataframe) issues one
    * DELETE per row then batched INSERTs — O(rows) round-trips. Here:
    * target ⟕̸ updates (left-anti on keys) ∪ updates. At 100 TB the anti
    * join shuffles on the key (or broadcasts when updates are small) and the
    * writer lands it with dynamic partition overwrite.
    */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    target.join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(updates)

  /** apply_schema: cast columns to a target schema, preserving the
    * frame's column order. Reference: etl/utils/parquet.py:145. `types`
    * maps column -> Spark DDL type string; unmapped columns pass through,
    * and a mapped column the frame lacks is an error.
    */
  def applySchema(df: DataFrame, types: Seq[(String, String)]): DataFrame = {
    val target = types.toMap
    val missing = target.keySet -- df.columns
    require(missing.isEmpty, s"applySchema: no column ${missing.mkString(", ")}")
    df.select(df.columns.toSeq.map(c =>
      target.get(c).fold(col(c))(t => col(c).cast(t).as(c))): _*)
  }

  /** Schema drift report between two frames (added/removed/type-changed).
    * Reference: etl/utils/parquet.py:110 (detect_schema_drift).
    */
  def schemaDrift(current: DataFrame, next: DataFrame): Map[String, Seq[String]] = {
    val cur = current.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val nxt = next.schema.map(f => f.name -> f.dataType.simpleString).toMap
    Map(
      "added" -> (nxt.keySet -- cur.keySet).toSeq.sorted,
      "removed" -> (cur.keySet -- nxt.keySet).toSeq.sorted,
      "type_changed" -> (cur.keySet & nxt.keySet).toSeq.sorted
        .filter(k => cur(k) != nxt(k)).map(k => s"$k: ${cur(k)} -> ${nxt(k)}"))
  }

  /** Schema drift as a report DataFrame — the registered sibling of
    * [[schemaDrift]] (which returns a driver-side Map for programmatic
    * callers): one row per column present in either snapshot, status in
    * added / removed / type_changed / unchanged, ordered current-schema
    * columns first then additions. Pure schema comparison — no row of
    * either table is read, so the plan is a LocalRelation regardless of
    * table size.
    * Reference: /root/reference/etl/utils/parquet.py:110
    * (detect_schema_drift).
    */
  def schemaDriftReport(current: DataFrame, next: DataFrame): DataFrame = {
    val spark = current.sparkSession
    import spark.implicits._
    val cur = current.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val nxt = next.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val names = (current.schema.map(_.name) ++ next.schema.map(_.name)).distinct
    names.map { n =>
      val status =
        if (!cur.contains(n)) "added"
        else if (!nxt.contains(n)) "removed"
        else if (cur(n) != nxt(n)) "type_changed"
        else "unchanged"
      (n, cur.get(n).orNull, nxt.get(n).orNull, status)
    }.toDF("column_name", "current_type", "next_type", "status")
  }

  /** Partition discovery: distinct partition days of a fact table.
    * Reference: etl/resources/s3.py:334 (list_partitions, date=YYYYMMDD).
    */
  def partitionListing(src: DataFrame, dateCol: Column): DataFrame =
    src.select(date_format(to_date(dateCol), "yyyyMMdd").as("partition_date"))
      .distinct()

  /** Partition-completeness audit over the daily layout — the
    * lake-management question every scheduled extract raises the
    * morning after (reference: the s3.py:60 `date=YYYYMMDD` layout +
    * the daily Dagster cadence; [[partitionListing]] says what IS
    * there, this says what ISN'T): per job/type, the expected calendar
    * spine (global min..max day — a series missing its first or last
    * days shows as missing because the spine is corpus-wide, not
    * per-series), present/missing day counts, completeness in basis
    * points, and the first/last missing day strings a backfill targets.
    *
    * Scale shape: the audit runs entirely on the BOUNDED distinct
    * (type, day) frame — one distinct aggregate over the scan, then a
    * calendar cross (|types| × |days|) and a left join, all bounded by
    * the partition count, never the table. Output: one row per type.
    */
  def partitionCompleteness(src: DataFrame, typeCol: String,
      tsCol: String): DataFrame = {
    val present = src.where(col(typeCol).isNotNull && col(tsCol).isNotNull)
      .select(col(typeCol).as("t"), col(tsCol).cast("date").as("day"))
      .distinct()
      .localCheckpoint() // bounded (type, day) frame, three consumers
    val bounds = present.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = present.select(col("t")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("t"), explode(expr("sequence(d0, d1)")).as("day"))
    spine.join(present.withColumn("pres", lit(1)), Seq("t", "day"), "left")
      .groupBy(col("t").as("event_type"))
      .agg(count(lit(1)).as("expected_days"),
        sum(when(col("pres").isNotNull, 1L).otherwise(0L))
          .as("present_days"),
        sum(when(col("pres").isNull, 1L).otherwise(0L)).as("missing_days"),
        min(when(col("pres").isNull, col("day"))).cast("string")
          .as("first_missing"),
        max(when(col("pres").isNull, col("day"))).cast("string")
          .as("last_missing"))
      .withColumn("completeness_bp",
        expr("present_days * 10000 DIV expected_days"))
      .orderBy(col("event_type"))
  }

  /** Backfill PLANNER over the missing partitions
    * [[partitionCompleteness]] finds — the morning-after action of every
    * scheduled extract (reference: etl/partitions/daily.py daily
    * partitions + the s3.py:60 `date=YYYYMMDD` layout + the Dagster
    * backfill workflow the schedule factory implies): from the same
    * calendar-spine derivation, one row per missing (type, day) carrying
    *
    *  - `est_rows` — the expected row count from the NEIGHBORING present
    *    days (mean of the nearest present day before and after, floor
    *    division; one-sided at series edges), the sanity number an
    *    operator compares the backfill's actual output against. The
    *    planner can only plan types it has SEEN at least once: a type
    *    with zero present days never enters `daily`, hence never the
    *    spine — planning never-seen types needs an external type
    *    catalog, out of scope here by design;
    *  - contiguous missing days grouped into ISLANDS (gap-and-island:
    *    epoch-day minus per-type missing rank is constant exactly on a
    *    run of consecutive days) and islands chunked into batches of at
    *    most `batchDays` days — `batch_start`/`batch_end`/`batch_days`,
    *    the bounded unit one backfill job run re-extracts;
    *  - `idem_key` — `backfill:<type>:<start>:<end>`, the deterministic
    *    key a scheduler dedups retries on: the plan derives purely from
    *    the (type, day) presence set, so re-planning after a partial
    *    backfill yields the same keys for the still-missing batches and
    *    drops the repaired ones. Re-RUNNING a planned day is idempotent
    *    by composition with the dynamic-partition-overwrite writer
    *    (Pipeline.overwriteDays) — proven byte-equal in BackfillSpec.
    *
    * Scale shape: identical to [[partitionCompleteness]] — one distinct
    * day-count aggregate over the scan (the only data-sized shuffle),
    * then the calendar cross and every window run on the bounded
    * |types|·|days| frame; output is bounded by the missing-day count.
    */
  def backfillPlan(src: DataFrame, typeCol: String, tsCol: String,
      batchDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(batchDays >= 1, s"batchDays must be >= 1, got $batchDays")
    val daily = src.where(col(typeCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(typeCol).as("t"), col(tsCol).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // bounded (type, day) frame, three consumers
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = daily.select(col("t")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("t"), explode(expr("sequence(d0, d1)")).as("day"))
    val byDay = Window.partitionBy(col("t")).orderBy(col("day"))
    val withNbr = spine.join(daily, Seq("t", "day"), "left")
      // nearest present day's count on each side: n is NULL exactly on
      // missing days, so ignoreNulls last/first over the spine IS the
      // neighbor lookup — no self-join against the present set
      .withColumn("prev_n", last(col("n"), ignoreNulls = true)
        .over(byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_n", first(col("n"), ignoreNulls = true)
        .over(byDay.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    val missing = withNbr.where(col("n").isNull)
      .withColumn("est_rows", expr(
        """CAST(CASE WHEN prev_n IS NOT NULL AND next_n IS NOT NULL
          |  THEN (prev_n + next_n) DIV 2
          |  ELSE coalesce(prev_n, next_n, 0) END AS BIGINT)""".stripMargin))
      .withColumn("island",
        expr("datediff(day, DATE '1970-01-01')")
          - row_number().over(byDay))
    val chunked = missing
      .withColumn("chunk",
        expr(s"(row_number() OVER (PARTITION BY t, island ORDER BY day)"
          + s" - 1) DIV $batchDays"))
    val batch = Window.partitionBy(col("t"), col("island"), col("chunk"))
    chunked
      .withColumn("batch_start", min(col("day")).over(batch).cast("string"))
      .withColumn("batch_end", max(col("day")).over(batch).cast("string"))
      .withColumn("batch_days", count(lit(1)).over(batch))
      .select(col("t").as("event_type"), col("day").cast("string").as("day"),
        col("est_rows"), col("batch_start"), col("batch_end"),
        col("batch_days"),
        concat(lit("backfill:"), col("t"), lit(":"), col("batch_start"),
          lit(":"), col("batch_end")).as("idem_key"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Salted two-phase aggregation for skewed group keys: explode each key
    * into `salt` shards, partially aggregate, then merge. Same result as a
    * direct groupBy; the first shuffle spreads a hot key over `salt`
    * reducers instead of one. Use when a handful of keys dominate (the
    * classic 100 TB failure mode); AQE skew handling covers joins, this
    * covers aggregations.
    */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String, salt: Int): DataFrame =
    df
      .withColumn("_salt", pmod(hash(df.columns.map(col): _*), lit(salt)))
      .groupBy(col(key), col("_salt"))
      .agg(
        sum(col(valueCol).cast("decimal(18,2)")).as("_psum"),
        count(col(valueCol)).as("_pcnt"))
      .groupBy(col(key))
      .agg(
        sum(col("_psum")).cast("double").as("sum_value"),
        sum(col("_pcnt")).as("n_rows"))

  /** One tenant's configuration in the multi-tenant fan-out: which
    * statuses count as active and what qualifies as high priority —
    * exactly the knobs the reference's per-tenant config files turn. */
  final case class TenantConfig(tenant: String, activeStatuses: Seq[String],
    highPriority: String)

  /** Multi-tenant FAN-OUT — the compute face of the reference's job
    * factories (etl/factories/dbt_factory.py and the per-tenant asset
    * modules): the SAME transform body parameterized per tenant config
    * and unioned with a `tenant` column, so N tenants are ONE Spark plan
    * — Catalyst shares the scan across the union branches and each
    * branch's filter pushes independently, where the reference schedules
    * N separate Dagster jobs. Output ordered (tenant, group) for a
    * deterministic frame.
    *
    * Scale shape: |tenants| filtered-aggregate branches over one source;
    * each branch is the single-shuffle [[wipWithPriority]] pass. Tenant
    * count is config-bounded (it is a config LIST, not data).
    */
  def tenantFanOut(lots: DataFrame, configs: Seq[TenantConfig],
      statusCol: String, groupCols: Seq[String], qtyCol: String,
      lotIdCol: String, priorityCol: String,
      snapshotDate: String): DataFrame =
    configs.map { cfg =>
      wipWithPriority(lots, statusCol, cfg.activeStatuses, groupCols,
        qtyCol, lotIdCol, priorityCol, cfg.highPriority, snapshotDate)
        .withColumn("tenant", lit(cfg.tenant))
    }.reduce(_ unionByName _)
      .orderBy(col("tenant") +: groupCols.map(col): _*)

  /** Hot-key SPLIT join — the join-side answer to [[saltedSumCount]]'s
    * aggregation salting, phrased as an explicit, auditable plan (what
    * AQE's skew handling does opaquely, and what a 100 TB job does by
    * hand when one key would pin a reducer): keys whose fact row count
    * exceeds `hotThreshold` form the bounded HOT set; hot fact rows join
    * the (bounded) hot slice of the dimension as a BROADCAST hash join —
    * the hot rows never shuffle — while the cold majority takes the
    * ordinary shuffle join. The union is aggregated per dimension
    * attribute and certified against the plain single-join result with a
    * `matches_plain` verdict per group (split is a partition of the join
    * by construction; the engine, not algebra on paper, certifies it).
    *
    * The skew key is derived deterministically here (half of all rows
    * collapse onto key 0 — the hot-key pathology planted on purpose);
    * exact cents keep the verdict bit-exact. Scale shape: the hot-set
    * detection is one map-side-combinable count; the hot dim slice and
    * key set are ≤ |hot keys| rows (broadcast-bounded by construction —
    * a handful of keys is the definition of skew).
    */
  def skewSplitJoin(events: DataFrame, userCol: String, valueCol: String,
      hotThreshold: Long): DataFrame = {
    val cents = (col(valueCol).cast("decimal(18,2)") * 100).cast("long")
    val fact = events.select(
      when(pmod(col(userCol), lit(10)) < 5, lit(0L))
        .otherwise(col(userCol)).as("k"), cents.as("cents"))
      .localCheckpoint()
    val dim = fact.select(col("k")).distinct()
      .select(col("k"), pmod(col("k"), lit(7)).cast("int").as("tier"))
      .localCheckpoint()
    val hotKeys = fact.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .where(col("n") > hotThreshold).select(col("k")).localCheckpoint()
    val hotDim = broadcast(dim.join(broadcast(hotKeys), "k"))
    val hotPart = fact.join(broadcast(hotKeys), "k").join(hotDim, "k")
    val coldPart = fact.join(broadcast(hotKeys), Seq("k"), "left_anti")
      .join(dim, "k")
    def agg(df: DataFrame, n: String, s: String) = df.groupBy(col("tier"))
      .agg(count(lit(1)).as(n), sum(col("cents")).as(s))
    val split = hotPart.unionByName(coldPart)
    val plain = agg(fact.join(dim, "k"), "n_plain", "cents_plain")
    agg(split, "n_rows", "sum_cents").join(plain, "tier")
      .select(col("tier"), col("n_rows"), col("sum_cents"),
        (col("n_rows") === col("n_plain") &&
          col("sum_cents") === col("cents_plain")).as("matches_plain"))
      .orderBy(col("tier"))
  }

  /** Snapshot delta: compare today's corpus against the prior snapshot by
    * (id, content hash) and emit only what moved — added / deleted /
    * changed. The incremental-crawl primitive: at 100 TB you re-process
    * the delta, not the corpus. Both sides project to (id, hash) BEFORE
    * the full-outer join, so the shuffle carries two slim columns, never
    * the payload; with both snapshots bucketed by id the join is
    * co-located and shuffle-free. Unchanged rows (the overwhelming
    * majority) are dropped before anything else happens.
    */
  def snapshotDelta(today: DataFrame, prior: DataFrame, idCol: String,
      hashCol: String): DataFrame =
    today.select(col(idCol), col(hashCol).as("h_today"))
      .join(prior.select(col(idCol), col(hashCol).as("h_prior")),
        Seq(idCol), "full_outer")
      .withColumn("change",
        when(col("h_prior").isNull, "added")
          .when(col("h_today").isNull, "deleted")
          .when(col("h_today") =!= col("h_prior"), "changed"))
      .where(col("change").isNotNull)
      .select(col(idCol), col("change"))

  /** Deletion propagation (right-to-be-forgotten) by RETRACTION: when a
    * set of users must be erased, a 100 TB warehouse does not rescan the
    * fact table to rebuild its aggregates — it reads ONLY the erased
    * users' rows (an index-bounded slice), turns them into negative
    * deltas, and subtracts them from the stored per-group state. Exact
    * because the state is mergeable count + decimal-sum (the q_incr_merge
    * state): subtraction is the inverse of the merge, bit for bit. This
    * query executes the retraction and emits the engine-certified
    * `matches_recompute` verdict against a from-scratch rebuild over the
    * surviving rows — the recompute side exists only as the certificate.
    *
    * Scale shape: the retraction path scans the erased slice + the state
    * table (group rows); the proof side scans the corpus once. Output is
    * one row per group.
    */
  def forgetRetract(events: DataFrame, typeCol: String, valueCol: String,
      erase: Column): DataFrame = {
    def state(df: DataFrame) = df.groupBy(col(typeCol)).agg(
      count(lit(1)).as("n"), sum(col(valueCol).cast("decimal(20,6)")).as("s"))
    val retracted = state(events)
      .join(state(events.where(erase))
        .select(col(typeCol), col("n").as("n_e"), col("s").as("s_e")),
        Seq(typeCol), "left")
      .select(col(typeCol),
        (col("n") - coalesce(col("n_e"), lit(0L))).as("n_events"),
        (col("s") - coalesce(col("s_e"), lit(0).cast("decimal(20,6)")))
          .as("s_dec"))
    val recompute = state(events.where(!erase))
      .select(col(typeCol), col("n").as("n_r"), col("s").as("s_r"))
    retracted.join(recompute, typeCol)
      .select(col(typeCol), col("n_events"),
        col("s_dec").cast("double").as("total_value"),
        (col("n_events") === col("n_r") && col("s_dec") === col("s_r"))
          .as("matches_recompute"))
      .orderBy(col(typeCol))
  }

  /** Incremental JOIN-view maintenance — the delta algebra behind every
    * materialized join view: with inserts ΔA/ΔB arriving on both sides of
    * R = A ⋈ B, the new join rows are EXACTLY
    * ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB (the four-way expansion of
    * (A₀∪ΔA)⋈(B₀∪ΔB), with A₀⋈B₀ being the stored state). This query
    * executes all four terms of a revenue-per-priority view over
    * orders ⋈ lineitem (deltas carved deterministically by key mod),
    * merges their mergeable states, and emits the from-scratch recompute
    * next to it with an engine-certified `matches_recompute` verdict —
    * q_incr_merge's merge == recompute proof lifted from aggregates to
    * joins. Exact integer cents, so equality is bit-equality.
    *
    * 100 TB posture: production stores the A₀⋈B₀ term's STATE (one row
    * per group) and pays only the three delta joins per batch — O(Δ⋈),
    * never O(A⋈B); with the base sides bucketed by the join key (the
    * q_bucketed_join layout) the delta probes shuffle only Δ. The state
    * merge exchanges group rows, not fact rows. The full-recompute side
    * here exists to certify the algebra, like incr_merge's oracle.
    */
  def incrJoinRevenue(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val o = orders.select(col("o_orderkey"), col("o_orderpriority"))
    val l = lineitem.select(col("l_orderkey"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
        .as("cents"))
    val a0 = o.where(pmod(col("o_orderkey"), lit(7)) =!= 0)
    val ad = o.where(pmod(col("o_orderkey"), lit(7)) === 0)
    val b0 = l.where(pmod(col("l_orderkey"), lit(5)) =!= 0)
    val bd = l.where(pmod(col("l_orderkey"), lit(5)) === 0)
    def term(a: DataFrame, b: DataFrame): DataFrame = a
      .join(b, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("rev_cents"))
    val maintained = Seq(term(a0, b0), term(ad, b0), term(a0, bd),
      term(ad, bd))
      .reduce(_ unionByName _)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("rev_cents")).as("rev_cents"))
    val direct = term(o, l)
      .select(col("o_orderpriority"), col("n_rows").as("n_direct"),
        col("rev_cents").as("rev_direct"))
    maintained.join(direct, "o_orderpriority")
      .select(col("o_orderpriority"), col("n_rows"), col("rev_cents"),
        (col("n_rows") === col("n_direct") &&
          col("rev_cents") === col("rev_direct")).as("matches_recompute"))
      .orderBy(col("o_orderpriority"))
  }
}
