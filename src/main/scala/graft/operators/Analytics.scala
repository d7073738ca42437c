package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational-analytics operators rounding out the lake-SQL surface the
  * reference reaches through Trino (reference: etl/resources/trino.py:74
  * `execute_query` — arbitrary analytical SQL on the lake): multidimensional
  * rollup aggregates, referential-integrity audits, top-k revenue scans,
  * key-skew diagnostics, running/sliding window totals, and time-series
  * gap-filling. Each is phrased so Catalyst keeps partial aggregation
  * map-side and the single data-sized shuffle is on the natural key.
  */
object Analytics {

  /** Multidimensional aggregate via ROLLUP (detail, per-first-key subtotal,
    * grand total) with explicit grouping flags so every output row is
    * self-describing. Spark plans one Expand (3 replicas of the slim
    * projection) feeding ONE hash aggregate + ONE shuffle — subtotals cost
    * no extra pass over the fact table, which is the point at 100 TB: the
    * naive UNION-of-three-groupBys reads the corpus three times.
    *
    * Empty-relation caveat (pinned in EmptyInputSpec): standard SQL emits
    * the () grouping-set row with count 0 over an empty relation; Spark's
    * rollup emits nothing. Matching the standard would cost a second
    * corpus scan, so this keeps Spark's semantics.
    */
  def rollupStats(df: DataFrame, k1: String, k2: String,
      countAlias: String, sumCol: String, sumAlias: String): DataFrame =
    df.rollup(col(k1), col(k2))
      .agg(grouping(col(k1)).cast("int").as(s"g_$k1"),
        grouping(col(k2)).cast("int").as(s"g_$k2"),
        count(lit(1)).as(countAlias), Etl.moneySum(col(sumCol)).as(sumAlias))
      .select(col(k1), col(k2), col(s"g_$k1"), col(s"g_$k2"),
        col(countAlias), col(sumAlias))

  /** Referential-integrity audit for one FK relation: total child rows,
    * NULL foreign keys, orphan rows (non-NULL FK with no parent), distinct
    * orphan key values. The parent side is projected to its key before the
    * anti join, so the shuffle carries keys only — at fact-to-fact scale
    * this is a shuffle-hash anti join on the key, never a broadcast of a
    * 100 TB parent.
    */
  def fkAudit(child: DataFrame, fk: String, parent: DataFrame, pk: String,
      relation: String): DataFrame = {
    val counts = child.agg(
      count(lit(1)).as("n_child"),
      count(when(col(fk).isNull, 1)).as("n_null_fk"))
    val orphans = child.select(col(fk)).where(col(fk).isNotNull)
      .join(parent.select(col(pk)), col(fk) === col(pk), "left_anti")
      .agg(count(lit(1)).as("n_orphan_rows"),
        countDistinct(col(fk)).as("n_orphan_keys"))
    counts.crossJoin(orphans).select(lit(relation).as("relation"),
      col("n_child"), col("n_null_fk"), col("n_orphan_rows"), col("n_orphan_keys"))
  }

  /** TPC-H Q3 shape: unshipped-order revenue top-k. Dimension filter
    * broadcast, both fact filters pushed to their scans, revenue as an
    * exact decimal sum (order-independent), and the top-k taken with
    * TakeOrdered over the aggregated rows — no global sort of the
    * aggregate output.
    */
  def topRevenue(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      segment: String, cutoff: String, k: Int): DataFrame =
    // string literals coerce to the timestamp column's own type (NTZ or
    // instant, whichever the parquet layout yields), fold at analysis, and
    // push to both scans — a typed literal of the WRONG flavor would not
    // even resolve
    lineitem.where(col("l_shipdate") > lit(cutoff))
      .join(orders.where(col("o_orderdate") < lit(cutoff)),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.where(col("c_mktsegment") === segment)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(k)
      .select(col("l_orderkey"), col("revenue"),
        col("o_orderdate").cast("date").as("order_date"), col("o_orderpriority"))

  /** Key-skew audit: order-of-magnitude histogram of per-key row counts —
    * the shuffle-planning diagnostic run BEFORE keying a 100 TB join or
    * aggregate on a column. Buckets are decimal-digit counts of the per-key
    * cardinality (integer-exact on every engine, unlike float log2), with
    * per-bucket key counts and min/max/total rows. Two aggregations, both
    * partial-aggregated map-side; output is O(log of the hottest key).
    */
  def keySkewReport(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .groupBy(length(col("n").cast("string")).cast("int").as("magnitude"))
      .agg(count(lit(1)).as("n_keys"), min(col("n")).as("min_rows"),
        max(col("n")).as("max_rows"), sum(col("n")).as("sum_rows"))

  /** Per-key running total + sliding 3-row aggregate over an ordered event
    * stream. The cumulative sum is an exact decimal (order-stable across
    * engines); the frame is an explicit ROWS frame with a unique (ts, id)
    * ordering, so every engine sees the identical frame contents. One
    * shuffle on the partition key; window state is O(frame) per task.
    */
  def runningTotals(events: DataFrame, partitionKey: String, tsCol: String,
      idCol: String, valueCol: String): DataFrame = {
    val order = Window.partitionBy(col(partitionKey))
      .orderBy(col(tsCol), col(idCol))
    val cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sliding = order.rowsBetween(-2, Window.currentRow)
    events.select(col(partitionKey), col(idCol),
      unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
      col(valueCol),
      sum(col(valueCol).cast("decimal(18,2)")).over(cum)
        .cast("double").as("running_sum"),
      (sum(col(valueCol).cast("decimal(18,2)")).over(sliding).cast("double") /
        count(lit(1)).over(sliding)).as("sliding_avg_3"))
  }

  /** Wide-to-long unpivot (pandas `melt`, the inverse of the equip-util
    * pivot): per-key conditional-aggregate metric columns melted back to
    * (key, metric, value) rows via the native Unpivot/Expand operator —
    * one shuffle for the aggregate, the melt itself is a projection.
    * NULL metric cells are dropped on both engines explicitly (Spark's
    * unpivot keeps them, DuckDB's UNPIVOT drops them by default — the
    * filter pins one portable semantic).
    */
  def unpivotMetrics(df: DataFrame, key: String, typeCol: String,
      types: Seq[String], valueCol: String): DataFrame = {
    val aggs = types.map(t =>
      Etl.moneySum(when(col(typeCol) === t, col(valueCol))).as(t))
    df.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
      .unpivot(Array(col(key)), types.map(col).toArray, "metric", "sum_value")
      .where(col("sum_value").isNotNull)
  }

  /** Equal-width histogram with integer-exact bin assignment: values are
    * scaled to cents (exact for 2-dp money doubles), per-group bounds come
    * from a slim broadcast aggregate, and the bin index is pure integer
    * arithmetic `((cents-lo)*bins) div (hi-lo+1)` — no float division, so
    * a value can never land in different bins on different engines. Two
    * passes over the fact column (bounds + bucket), both map-side partial
    * aggregated; output is O(groups x bins).
    */
  def valueHistogram(df: DataFrame, typeCol: String, valueCol: String,
      bins: Int): DataFrame = {
    val cents = df.select(col(typeCol),
      (col(valueCol).cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val bounds = cents.groupBy(col(typeCol))
      .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
    cents.join(broadcast(bounds), typeCol)
      .withColumn("bin",
        expr(s"((cents - lo) * $bins) DIV (hi - lo + 1)").cast("int"))
      .groupBy(col(typeCol), col("bin"))
      .agg(count(lit(1)).as("n"), min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
  }

  /** Winsorization (outlier clipping) at exact rank statistics: per group,
    * the clip points are the values at rank ceil(qLo*n) and ceil(qHi*n) —
    * computed on the bounded (group, cents) histogram with a cumulative
    * window, exactly like the CCNet perplexity cuts, so the corpus never
    * globally sorts and the cuts replay bit-for-bit on any engine (no
    * interpolated-percentile lerp). Output per group: row count, both
    * cuts, clipped-row counts, and the winsorized exact-decimal sum.
    * qLo/qHi are given as integer permille to keep rank arithmetic in the
    * integer domain.
    */
  def winsorize(df: DataFrame, typeCol: String, valueCol: String,
      loPermille: Int, hiPermille: Int): DataFrame = {
    val cents = df.select(col(typeCol),
      (col(valueCol).cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val hist = cents.groupBy(col(typeCol), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col(typeCol))
        .orderBy(col("cents").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = hist.groupBy(col(typeCol)).agg(sum(col("cnt")).as("n"))
    val cuts = cum.join(tot, typeCol)
      .groupBy(col(typeCol))
      .agg(
        min(when(col("cum") >= expr(s"(n * $loPermille + 999) DIV 1000"),
          col("cents"))).as("lo_c"),
        min(when(col("cum") >= expr(s"(n * $hiPermille + 999) DIV 1000"),
          col("cents"))).as("hi_c"))
    cents.join(broadcast(cuts), typeCol)
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n"),
        (min(col("lo_c")).cast("double") / 100).as("cut_lo"),
        (min(col("hi_c")).cast("double") / 100).as("cut_hi"),
        count(when(col("cents") < col("lo_c"), 1)).as("n_clip_lo"),
        count(when(col("cents") > col("hi_c"), 1)).as("n_clip_hi"),
        (sum(when(col("cents") < col("lo_c"), col("lo_c"))
          .when(col("cents") > col("hi_c"), col("hi_c"))
          .otherwise(col("cents"))).cast("double") / 100).as("win_sum"))
  }

  /** Robust location/scale statistics — exact-integer median and MAD
    * (median absolute deviation) per group, plus the robust-outlier count
    * at `k` MADs: the heavy-tail-safe complement of the z-score anomaly
    * report (one planted 1e6 spike moves a mean/std gate; it cannot move
    * a median/MAD gate). Both statistics are the registry's standard
    * exact rank form — value at rank ceil(n/2) off the bounded
    * (group, cents) histogram with one cumulative window — so nothing
    * ever globally sorts and the numbers replay bit-for-bit on any
    * engine (no interpolated percentile). The deviation pass reuses the
    * same shape on |cents − median|. Groups with MAD = 0 (over half the
    * mass at the median) flag ANY deviation as an outlier — the
    * degenerate case is documented rather than smoothed.
    *
    * Scale shape: two histogram passes (each: one exchange on
    * (group, cents), window over the bounded histogram, never the rows)
    * + one broadcast of the per-group medians back onto the scan.
    */
  def robustStats(df: DataFrame, typeCol: String, valueCol: String,
      k: Int): DataFrame = {
    require(k >= 1)
    val cents = df.select(col(typeCol),
      (col(valueCol).cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .where(col("cents").isNotNull)
    // value at rank ceil(n/2) = (n+1) DIV 2 off the bounded histogram
    def medianOf(vals: DataFrame, vcol: String, out: String): DataFrame = {
      val hist = vals.groupBy(col(typeCol), col(vcol))
        .agg(count(lit(1)).as("cnt"))
      val cum = hist.withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy(col(typeCol))
          .orderBy(col(vcol).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cum
        .join(hist.groupBy(col(typeCol)).agg(sum(col("cnt")).as("n")),
          typeCol)
        .groupBy(col(typeCol))
        .agg(min(when(col("cum") >= expr("(n + 1) DIV 2"), col(vcol)))
          .as(out))
    }
    val med = medianOf(cents, "cents", "med_c")
    val dev = cents.join(broadcast(med), typeCol)
      .select(col(typeCol), abs(col("cents") - col("med_c")).as("dev"),
        col("cents"), col("med_c"))
    val mad = medianOf(dev.select(col(typeCol), col("dev")), "dev", "mad_c")
    dev.join(broadcast(mad), typeCol)
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n"),
        (min(col("med_c")).cast("double") / 100).as("median"),
        (min(col("mad_c")).cast("double") / 100).as("mad"),
        sum(when(abs(col("cents") - col("med_c")) > lit(k.toLong) * col("mad_c"),
          1L).otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_bp", expr("(n_outliers * 10000) DIV n"))
      .orderBy(col(typeCol))
  }

  /** CDC log apply: collapse a change-data-capture stream (upserts +
    * delete tombstones) to current state, last-writer-wins by the seq
    * ordering with a unique tie-break. The generalization of the §2.7
    * upsert: the log may hold MANY versions per key and deletes must win
    * when newest. One exchange on the key: the row_number pick and the
    * per-key op count share the same window partitioning. Survivors =
    * newest row per key unless it is a tombstone.
    */
  def cdcApply(log: DataFrame, key: String, seqCol: String, tieCol: String,
      opCol: String, deleteOp: String): DataFrame = {
    val byKey = Window.partitionBy(col(key))
    val newestFirst = byKey.orderBy(col(seqCol).desc, col(tieCol).desc)
    log
      .withColumn("rn", row_number().over(newestFirst))
      .withColumn("n_ops", count(lit(1)).over(byKey))
      .where(col("rn") === 1 && col(opCol) =!= deleteOp)
      .drop("rn", opCol)
  }

  /** The ranking-function family in one pass: rank / dense_rank /
    * percent_rank / cume_dist over the VALUE ordering (tie-aware — all
    * four are well-defined and engine-identical under ties) plus ntile
    * over a tie-broken unique ordering (ntile under ties is
    * order-dependent, so it gets the deterministic ordering). Both window
    * specs share one exchange on the group key; the ratios are quotients
    * of small exact integers, so the doubles replay bit-for-bit.
    */
  def rankSuite(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, tiles: Int): DataFrame = {
    val spend = df.groupBy(col(groupCol), col(idCol))
      .agg(sum(col(valueCol).cast("decimal(18,2)")).as("spend_d"))
      .select(col(groupCol), col(idCol),
        (col("spend_d") * 100).cast("long").as("spend_cents"))
    val byValue = Window.partitionBy(col(groupCol))
      .orderBy(col("spend_cents").desc)
    val unique = Window.partitionBy(col(groupCol))
      .orderBy(col("spend_cents").desc, col(idCol).asc)
    spend.select(col(groupCol), col(idCol),
      (col("spend_cents").cast("double") / 100).as("spend"),
      rank().over(byValue).as("rnk"),
      dense_rank().over(byValue).as("drnk"),
      percent_rank().over(byValue).as("prank"),
      cume_dist().over(byValue).as("cdist"),
      ntile(tiles).over(unique).as("quartile"))
  }

  /** OHLC bars (open/high/low/close) per group and time bucket: the
    * classic time-series compaction, done as ONE hash aggregate — open
    * and close are `min_by`/`max_by` over the unique (ts, id) total
    * ordering (no window, no sort, deterministic under ties), high/low
    * plain min/max, volume an exact decimal sum. At 100 TB this is a
    * single map-side-combined shuffle keyed by (group, bucket); the
    * window-function formulation would sort every partition instead.
    */
  def ohlcBars(events: DataFrame, groupCol: String, tsCol: String,
      idCol: String, valueCol: String, bucket: String): DataFrame = {
    val ord = struct(col(tsCol), col(idCol))
    events
      .groupBy(col(groupCol),
        unix_micros(date_trunc(bucket, col(tsCol)).cast("timestamp"))
          .as("bucket_us"))
      .agg(
        min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        count(lit(1)).as("n_events"),
        Etl.moneySum(col(valueCol)).as("volume"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation: per-user
    * metrics off the conversion events, each scored 1..5 by EXACT
    * rank-statistic quintile cuts (value at rank ceil(k*n/5), the
    * winsorize/ppl-buckets machinery) — ties share a bucket, which is
    * both the reproducible semantics and the scalable one: a global
    * ntile would funnel every user through one sort task, while the
    * cut computation runs on the BOUNDED per-metric histogram (recency
    * in days, frequency, cents) and broadcasts 4 cut values back onto
    * the user-keyed aggregate. Scores: 5 = most recent / most frequent /
    * highest spend; `segment` is the concatenated RFM code.
    */
  def rfmSegments(events: DataFrame, userCol: String, typeCol: String,
      convertType: String, tsCol: String, valueCol: String): DataFrame = {
    val conv = events.where(col(typeCol) === convertType)
    val refDay = conv.agg(max(col(tsCol).cast("date")).as("ref_day"))
    val metrics = conv.groupBy(col(userCol))
      .agg(max(col(tsCol).cast("date")).as("last_day"),
        count(lit(1)).as("frequency"),
        (sum(col(valueCol).cast("decimal(18,2)")) * 100).cast("long")
          .as("monetary_cents"))
      .crossJoin(broadcast(refDay))
      .withColumn("recency_days",
        datediff(col("ref_day"), col("last_day")).cast("long"))
    // quintile cut points c1..c4 for one metric: value at rank
    // ceil(k*n/5) off the bounded histogram (constant partition key —
    // histogram rows, not users, flow through the one-task window)
    def cutsOf(metric: String): DataFrame = {
      val hist = metrics.groupBy(col(metric)).agg(count(lit(1)).as("cnt"))
      val cum = hist.withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy(lit(1))
          .orderBy(col(metric).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = hist.agg(sum(col("cnt")).as("n"))
      val aggs = (1 to 4).map(k =>
        min(when(col("cum") >= expr(s"(n * $k + 4) DIV 5"), col(metric)))
          .as(s"${metric}_c$k"))
      cum.crossJoin(broadcast(tot)).agg(aggs.head, aggs.tail: _*)
    }
    def bucket(metric: String): Column =
      (1 to 4).map(k => (col(metric) > col(s"${metric}_c$k")).cast("int"))
        .foldLeft(lit(1))(_ + _)
    metrics
      .crossJoin(broadcast(cutsOf("recency_days")))
      .crossJoin(broadcast(cutsOf("frequency")))
      .crossJoin(broadcast(cutsOf("monetary_cents")))
      .select(col(userCol), col("recency_days"), col("frequency"),
        (col("monetary_cents").cast("double") / 100).as("monetary"),
        (lit(6) - bucket("recency_days")).as("r_score"),
        bucket("frequency").as("f_score"),
        bucket("monetary_cents").as("m_score"))
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
  }

  /** Seasonality matrix: activity by (day-of-week, hour-of-day) — counts,
    * distinct users, exact-decimal value mass. One aggregate, output
    * bounded at 7 x 24 rows; `dow` is 0=Sunday to match DuckDB/Postgres
    * dow() so the oracle needs no offset arithmetic.
    */
  def seasonality(events: DataFrame, tsCol: String, userCol: String,
      valueCol: String): DataFrame =
    events.groupBy(
      (dayofweek(col(tsCol)) - 1).cast("int").as("dow"),
      hour(col(tsCol)).cast("int").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col(userCol)).as("n_users"),
        Etl.moneySum(col(valueCol)).as("sum_value"))

  /** Period-over-period movers: per-group value mass in two adjacent
    * windows, each group's share of its period total, and the
    * period-over-period change — all in exact integer basis points
    * (integer-rounded ratios of exact cent sums, so no float ratio can
    * diverge between engines). One conditional aggregate over both
    * periods (single scan, single shuffle) + a broadcast 1-row totals
    * frame. The standard BI "what moved this week" report.
    */
  def periodMovers(events: DataFrame, groupCol: String, tsCol: String,
      valueCol: String, p1Start: String, p2Start: String,
      p2EndExcl: String): DataFrame = {
    val inP1 = col(tsCol) >= lit(p1Start) && col(tsCol) < lit(p2Start)
    val inP2 = col(tsCol) >= lit(p2Start) && col(tsCol) < lit(p2EndExcl)
    val cents = col(valueCol).cast("decimal(18,2)") * 100
    val per = events.where(inP1 || inP2)
      .groupBy(col(groupCol))
      .agg(sum(when(inP1, cents)).cast("long").as("p1_cents"),
        sum(when(inP2, cents)).cast("long").as("p2_cents"))
      .na.fill(0L, Seq("p1_cents", "p2_cents"))
    val totals = per.agg(sum(col("p1_cents")).as("t1"), sum(col("p2_cents")).as("t2"))
    per.crossJoin(broadcast(totals))
      .select(col(groupCol),
        (col("p1_cents").cast("double") / 100).as("p1_value"),
        (col("p2_cents").cast("double") / 100).as("p2_value"),
        floor(col("p1_cents") * 10000.0 / col("t1") + 0.5).cast("long").as("p1_share_bp"),
        floor(col("p2_cents") * 10000.0 / col("t2") + 0.5).cast("long").as("p2_share_bp"),
        when(col("p1_cents") > 0,
          floor((col("p2_cents") - col("p1_cents")) * 10000.0 / col("p1_cents") + 0.5)
            .cast("long")).as("change_bp"))
  }

  /** Deterministic experiment analysis: users bucketed into arms by the
    * salted portable fold of their id (no RNG state — the same user lands
    * in the same arm on any cluster, retry, or engine, which is what makes
    * an A/B assignment auditable), then per-arm exposure and conversion
    * metrics in ONE aggregate pass. Conversion is reported in integer
    * basis points (exact integer rounding, no float ratio in the output).
    */
  def abMetrics(events: DataFrame, userCol: String, valueCol: String,
      typeCol: String, convertType: String, arms: Int): DataFrame = {
    import org.apache.spark.sql.graftnative.RollingHash.rollingHash
    events
      .withColumn("variant", pmod(rollingHash(
        concat(lit("ab:"), col(userCol).cast("string"))), lit(arms)).cast("int"))
      .groupBy(col("variant"))
      .agg(countDistinct(col(userCol)).as("n_users"),
        count(lit(1)).as("n_events"),
        Etl.moneySum(col(valueCol)).as("sum_value"),
        countDistinct(when(col(typeCol) === convertType, col(userCol)))
          .as("n_converted"))
      .withColumn("conversion_bp",
        floor(col("n_converted") * 10000.0 / col("n_users") + 0.5).cast("long"))
  }

  /** Sample-ratio-mismatch (SRM) check — the first guardrail every
    * experimentation platform runs before trusting ANY metric from
    * [[abMetrics]]/[[cupedMetrics]]: under a 50/50 split the two arms'
    * USER counts must match a binomial null, and a chi-square statistic
    * over the realized counts catches broken assignment (bot filtering,
    * logging loss, redirect bugs) that silently biases everything
    * downstream. For two equal arms χ² = (n_a − n_b)²/n, phrased as the
    * exact integer micro-unit floor((n_a−n_b)²·10⁶ / n) — the flag
    * compares against the inlined 95% critical value 3.841459·10⁶, so
    * the whole guardrail is integer arithmetic, hash-exact anywhere.
    * One bounded row.
    */
  def srmCheck(events: DataFrame, userCol: String): DataFrame = {
    import org.apache.spark.sql.graftnative.RollingHash.rollingHash
    events.select(col(userCol)).where(col(userCol).isNotNull).distinct()
      .select(pmod(rollingHash(
        concat(lit("ab:"), col(userCol).cast("string"))), lit(2)).as("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_arm0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_arm1"))
      .select(col("n_users"), col("n_arm0"), col("n_arm1"),
        expr("(n_arm0 - n_arm1) * (n_arm0 - n_arm1) * 1000000 DIV n_users")
          .as("chi2_micro"),
        (expr("(n_arm0 - n_arm1) * (n_arm0 - n_arm1) * 1000000 DIV n_users")
          > 3841459L).as("srm_flag"))
  }

  /** N-arm sample-ratio-mismatch check — [[srmCheck]] generalized past
    * two arms (multi-variant tests, holdout+N-treatments splits): users
    * hash into `arms` equal-weight variants and the χ² statistic over
    * the realized counts is phrased exactly-integer as
    * `chi2_micro = (Σ_i (n_i·A − n)²)·10⁶ DIV (A·n)` (the cleared-
    * denominator form of Σ(obs−exp)²/exp for exp = n/A), compared to
    * the caller's df = A−1 critical value in micro-units. Empty arms
    * still contribute their (0 − n/A)² term via the generated arm spine.
    * The squared deviations accumulate in decimal(38,0) (HUGEINT on the
    * oracle side — the cupedMetrics discipline), so the statistic
    * survives 10¹⁰-user counts where BIGINT squares would wrap.
    * Output: one row per arm (count + A·deviation) with the global
    * verdict riding along — ≤ A rows total.
    *
    * Scale shape: one distinct-user aggregate (map-side combined), then
    * everything downstream is ≤ A rows; the two crossJoins broadcast
    * 1-row frames.
    */
  def srmCheckNArm(events: DataFrame, userCol: String, arms: Int,
      critMicro: Long): DataFrame = {
    import org.apache.spark.sql.graftnative.RollingHash.rollingHash
    require(arms >= 2, "need at least two arms")
    val perArm0 = events.select(col(userCol)).where(col(userCol).isNotNull)
      .distinct()
      .select(pmod(rollingHash(
        concat(lit("ab:"), col(userCol).cast("string"))), lit(arms))
        .as("variant"))
      .groupBy(col("variant")).agg(count(lit(1)).as("n_arm"))
    val armIds = events.sparkSession.range(arms)
      .select(col("id").as("variant"))
    val perArm = armIds.join(perArm0, Seq("variant"), "left")
      .select(col("variant"), coalesce(col("n_arm"), lit(0L)).as("n_arm"))
      .localCheckpoint() // A rows, three consumers — one events scan
    val n1 = perArm.agg(sum(col("n_arm")).as("n_users"))
    val dev = perArm.crossJoin(broadcast(n1))
      .withColumn("dev_a", col("n_arm") * arms - col("n_users"))
    val chi = dev.agg(
        sum(col("dev_a").cast("decimal(19,0)") * col("dev_a").cast("decimal(19,0)"))
          .as("ss"),
        max(col("n_users")).as("n"))
      .select(expr(s"CAST((ss * 1000000) DIV " +
        s"(CAST($arms AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))) AS BIGINT)")
        .as("chi2_micro"))
    dev.crossJoin(broadcast(chi))
      .select(col("variant"), col("n_arm"), col("n_users"), col("dev_a"),
        col("chi2_micro"), (col("chi2_micro") > critMicro).as("srm_flag"))
      .orderBy(col("variant"))
  }

  /** The (key, day) panel every daily-series statistic reads: one row
    * per key and present calendar day of `events`, keyed as `key`, with
    * the day's row count `y` — or the aggregates `ys` in its place. Rows
    * with a null key or time are dropped unless `dropNulls` is off. The
    * grouping is the only data-sized shuffle; the panel is bounded by
    * keys x day span. */
  private def dailyPanel(events: DataFrame, keyCol: String, tsCol: String,
      key: String = "t", dropNulls: Boolean = true,
      ys: Seq[Column] = Seq(count(lit(1)).as("y"))): DataFrame = {
    val in = if (dropNulls)
      events.where(col(keyCol).isNotNull && col(tsCol).isNotNull)
    else events
    in.groupBy(col(keyCol).as(key), col(tsCol).cast("date").as("day"))
      .agg(ys.head, ys.tail: _*)
  }

  /** [[dailyPanel]]'s two series for the rank correlations: the count
    * `ya` and the cents sum of `valueCol` as `yb`. */
  private def countAndCents(valueCol: String): Seq[Column] = Seq(
    count(lit(1)).as("ya"),
    coalesce(sum((col(valueCol).cast("decimal(18,2)") * 100)
      .cast("long")), lit(0L)).as("yb"))

  /** Single change-point detection by exact-integer CUSUM over the daily
    * volume series — [[dailyTrend]] answers "is it drifting", this
    * answers "WHEN did it shift" (deploy regressions, data-source cutoffs,
    * logging changes): for each group the day t maximizing
    * |Σ_{i≤t} (n·x_i − S)| — the n-scaled cumulative deviation from the
    * mean, which never leaves BIGINT (the dailyTrend discipline: scale by
    * n instead of dividing by it), so the argmax day is hash-exact on any
    * engine. Emits the peak day, the peak deviation in n-scaled units,
    * and the means of the two segments it splits (4-dp doubles) — the
    * before/after evidence. Ties break toward the earliest day.
    *
    * Scale shape: the corpus collapses to the bounded (group, day) daily
    * series first; the CUSUM runs per group (a partitioned window over
    * ≤ days rows) and the two segment means are one more bounded
    * aggregate. Output is one row per group; single-day groups emit NULL
    * segments (no split exists).
    */
  def changePoints(events: DataFrame, typeCol: String,
      tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyPanel(events, typeCol, tsCol, dropNulls = false)
      .localCheckpoint()
    val tot = daily.groupBy(col("t"))
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("s"))
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = daily.join(broadcast(tot), "t")
      .withColumn("dev", col("n_days") * col("y") - col("s"))
      .withColumn("cusum", sum(col("dev")).over(w))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("t")).orderBy(col("day"))))
    // the peak |cusum| day, ties toward the earliest — max_by over the
    // unique (|cusum|, -epoch_day) priority, one hash aggregate
    val peak = cusum
      .where(col("rn") < col("n_days")) // a split needs a non-empty tail
      .groupBy(col("t"))
      .agg(max(struct(abs(col("cusum")).as("a"),
        (-col("day").cast("timestamp").cast("long")).as("negd"),
        col("day").as("day"), col("cusum").as("c"), col("rn").as("rn")))
        .as("p"))
      .select(col("t"), col("p.day").as("change_day"),
        col("p.c").as("peak_dev_n"), col("p.rn").as("n_days_before"))
    daily.join(peak, Seq("t"), "left")
      .groupBy(col("t").as("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(col("change_day")).as("change_day"),
        max(col("peak_dev_n")).as("peak_dev_n"),
        round(sum(when(col("day") <= col("change_day"), col("y")))
          .cast("double") /
          sum(when(col("day") <= col("change_day"), 1L)), 4)
          .as("mean_before"),
        round(sum(when(col("day") > col("change_day"), col("y")))
          .cast("double") /
          sum(when(col("day") > col("change_day"), 1L)), 4)
          .as("mean_after"))
      .orderBy(col("event_type"))
  }

  /** CUPED variance reduction (Deng et al., WSDM'13) — the experimentation
    * upgrade of [[abMetrics]]: each user's experiment-period outcome Y is
    * adjusted by their PRE-period covariate X (`adj = Y − θ(X − X̄)`,
    * θ = cov(X,Y)/var(X) pooled across arms), which removes the
    * between-user variance X explains and shrinks confidence intervals
    * without biasing the treatment difference (θ and X̄ are
    * assignment-independent). Phrased like dailyTrend's integer OLS: θ's
    * numerator n·ΣXY − ΣX·ΣY and denominator n·ΣX² − (ΣX)² are EXACT
    * BIGINT over per-user cents, with one double division only for θ and
    * the adjusted means (4-dp rounded, operation-identical on any engine);
    * zero-variance covariates yield NULL θ and fall back to the raw mean.
    *
    * Output per arm: user count, raw pre/post mean cents, adjusted mean
    * cents, plus the θ fraction's terms as correctly-rounded doubles of
    * the exact 128-bit moments — bounded rows.
    *
    * Scale shape: one per-(user, arm) aggregate (map-side combined), a
    * 1-row pooled-moment broadcast, and an |arms|-row aggregate. The fact
    * table is scanned once.
    */
  def cupedMetrics(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, cutDay: String, arms: Int): DataFrame = {
    import org.apache.spark.sql.graftnative.RollingHash.rollingHash
    val cents = (col(valueCol).cast("decimal(18,2)") * 100).cast("long")
    val perUser = events
      .withColumn("variant", pmod(rollingHash(
        concat(lit("ab:"), col(userCol).cast("string"))), lit(arms)).cast("int"))
      .groupBy(col(userCol), col("variant"))
      .agg(
        coalesce(sum(when(col(tsCol).cast("date") < to_date(lit(cutDay)),
          cents)), lit(0L)).as("x"),
        coalesce(sum(when(col(tsCol).cast("date") >= to_date(lit(cutDay)),
          cents)), lit(0L)).as("y"))
      .localCheckpoint()
    // θ's moments outgrow int64 at production cardinality (Σx² ~ n·x²,
    // n·Σxy ~ n²·x²): accumulate and clear denominators in 128-bit-exact
    // decimal(38,0) (the eventAnomalies/q_incr_merge discipline; HUGEINTs
    // on the oracle side) — int64 would wrap silently in Spark while
    // DuckDB raises, breaking both parity and the θ sign exactly when
    // the data gets large. PRECISE SAFE DOMAIN: the per-user products
    // x·y are exact under decimal(19,0) factors (cents ≤ 10^12/user),
    // and the clearing products n·sxy / sx·sy stay exact while
    // n·Σ|xy| < 10^38 — e.g. 10^9 users at ≤ 10^8 cents ($1M) per user
    // gives n·Σxy ≤ 10^34, four orders inside the cap. PAST that bound
    // Spark's capped decimal yields NULL θ (falling back to the raw
    // mean, visibly: theta_u NULL) while DuckDB raises — a loud
    // boundary on both engines, not a silent wrong sign.
    val dec19 = "decimal(19,0)"
    val pool = perUser.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x").cast(dec19) * col("x").cast(dec19)).as("sxx"),
      sum(col("x").cast(dec19) * col("y").cast(dec19)).as("sxy"))
    val byArm = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_v"),
        sum(col("x")).as("sx_v"), sum(col("y")).as("sy_v"))
    val withPool = byArm.crossJoin(broadcast(pool))
    val num = withPool("n").cast(dec19) * withPool("sxy") -
      withPool("sx").cast(dec19) * withPool("sy").cast(dec19)
    val den = withPool("n").cast(dec19) * withPool("sxx") -
      withPool("sx").cast(dec19) * withPool("sx").cast(dec19)
    val theta = num.cast("double") / den.cast("double")
    val xMeanV = col("sx_v").cast("double") / col("n_v").cast("double")
    val yMeanV = col("sy_v").cast("double") / col("n_v").cast("double")
    val xMeanPool = col("sx").cast("double") / col("n").cast("double")
    withPool
      .select(col("variant"), col("n_v").as("n_users"),
        round(xMeanV, 4).as("x_mean_cents"),
        round(yMeanV, 4).as("y_mean_cents"),
        round(when(den > 0,
          yMeanV - theta * (xMeanV - xMeanPool)).otherwise(yMeanV), 4)
          .as("adj_mean_cents"),
        // the fraction's exact decimal(38,0) terms REPORT as doubles
        // (correctly rounded from the same 128-bit integers on any
        // engine) — a HUGEINT/decimal output column converts to float
        // nondeterministically in downstream comparators, so the cast
        // happens here, explicitly, after all exact arithmetic is done
        num.cast("double").as("theta_num"), den.cast("double").as("theta_den"),
        when(den > 0, floor(num.cast("double") * 1000000.0 /
          den.cast("double") + 0.5).cast("long")).as("theta_u"))
      .orderBy(col("variant"))
  }

  /** Daily gap-fill with last-observation-carried-forward: per-key daily
    * sums joined onto a complete day spine (global corpus date bounds x
    * keys that ever observed), missing days flagged and filled with the
    * most recent prior value. The spine derives from a 1-row global bounds
    * aggregate cross-joined (broadcast) onto the distinct-key set, so
    * spine generation never shuffles the fact table; the LOCF window is
    * one exchange on the key. This is the warehouse resample/`ffill`
    * (pandas asfreq+ffill analog — the reference's transforms are pandas).
    */
  def gapFillDaily(events: DataFrame, key: String, tsCol: String,
      valueCol: String, typeCol: String, typeValue: String): DataFrame = {
    val daily = events.where(col(typeCol) === typeValue)
      .groupBy(col(key), col(tsCol).cast("date").as("day"))
      .agg(Etl.moneySum(col(valueCol)).as("day_sum"))
    val bounds = events.agg(min(col(tsCol).cast("date")).as("lo"),
      max(col(tsCol).cast("date")).as("hi"))
    val spine = daily.select(col(key)).distinct()
      .crossJoin(broadcast(bounds))
      .select(col(key), explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy(col(key)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq(key, "day"), "left")
      .select(col(key), col("day"), col("day_sum"),
        last(col("day_sum"), ignoreNulls = true).over(w).as("filled_sum"),
        col("day_sum").isNull.as("is_gap"))
  }

  /** Pairwise audience overlap between event types: for every unordered
    * type pair, the distinct users who did both, each type's audience
    * size, and the audience Jaccard in exact basis points — the
    * "segment overlap matrix" behind cross-sell and cannibalization
    * reads.
    *
    * Scale shape: one (user, type) distinct shuffle, then each user's
    * bounded sorted type list expands to its ≤|types|² pairs map-side —
    * the |users|² self-join the naive SQL pays never happens. Pair
    * counts and per-type audiences are map-side combined; the totals
    * join is a broadcast of a |types|-row frame. Output bounded at
    * |types|².
    */
  def audienceOverlap(events: DataFrame, userCol: String,
      typeCol: String): DataFrame = {
    // the distinct (user, type) table feeds the pair expansion AND the
    // audience totals — materialize it once
    val ut = events.select(col(userCol).as("u"), col(typeCol).as("t"))
      .distinct()
      .localCheckpoint()
    val pairs = ut.groupBy(col("u"))
      .agg(sort_array(collect_set(col("t"))).as("ts"))
      .select(explode(expr(
        """flatten(transform(ts, (a, i) ->
          |  transform(slice(ts, i + 2, size(ts)), b ->
          |    struct(a AS type_a, b AS type_b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    val totals = ut.groupBy(col("t")).agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(totals.select(col("t").as("type_a"), col("n").as("n_a"))),
        "type_a")
      .join(broadcast(totals.select(col("t").as("type_b"), col("n").as("n_b"))),
        "type_b")
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"),
        floor(col("n_both") * 10000.0 /
          (col("n_a") + col("n_b") - col("n_both")) + 0.5).cast("long")
          .as("jaccard_bp"))
  }

  /** Per-group daily-volume trend: the OLS slope of daily event counts
    * over the day index, reported as the EXACT integer numerator
    * n·Σxy − Σx·Σy and denominator n·Σx² − (Σx)² (one float division
    * only for the human-readable micro-events/day column) — the
    * "which segments are growing" read, engine-exact because the
    * regression never leaves integer arithmetic. Days are indexed from
    * the corpus's first day (1-row broadcast anchor) so the sums stay
    * tiny. Groups seen on a single day get NULL slope (denominator 0).
    *
    * Scale shape: the corpus collapses to the bounded (group, day)
    * daily series first (map-side combined); everything after is
    * per-group arithmetic on that bounded table. Output is one row per
    * group.
    */
  def dailyTrend(events: DataFrame, typeCol: String,
      tsCol: String): DataFrame = {
    val daily = dailyPanel(events, typeCol, tsCol, dropNulls = false)
      .localCheckpoint()
    val anchor = daily.agg(min(col("day")).as("day0"))
    val agg = daily.crossJoin(broadcast(anchor))
      .select(col("t"),
        datediff(col("day"), col("day0")).cast("long").as("x"), col("y"))
      .groupBy(col("t").as("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val num = agg("n_days") * agg("sxy") - agg("sx") * agg("sy")
    val den = agg("n_days") * agg("sxx") - agg("sx") * agg("sx")
    agg.select(col("event_type"), col("n_days"),
      num.as("slope_num"), den.as("slope_den"),
      when(den > 0,
        floor(num.cast("double") * 1000000.0 / den + 0.5).cast("long"))
        .as("slope_u"))
  }

  /** Per-user exponentially time-decayed engagement score over the last
    * `n` events (latest weighted 2^(n-1), halving per step back) — the
    * recency-weighted feature every ranking/churn model derives from an
    * event stream. Exact integer arithmetic end to end: value scaled to
    * cents (decimal(18,2), exact for 2-dp money doubles), weights are
    * powers of two, so the score is a BIGINT that is hash-exact on any
    * engine or partitioning — the usual float EMA is order-sensitive and
    * engine-drifting; this one is neither.
    *
    * The ROWS-bounded formulation also fixes the float EMA's unbounded
    * lookback: cents ≤ 10^16/2^n stays overflow-safe because the weight
    * sum is < 2^n and each term ≤ cents * 2^(n-1).
    *
    * Scale shape: ONE per-user window pass (rank from the end over the
    * unique (ts, id) order) + one map-side-combinable groupBy; no
    * self-join, no global sort. Output is one row per active user.
    */
  def decayScores(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, valueCol: String, n: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1 && n <= 32, "1 <= n <= 32")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).desc, col(idCol).desc)
    events
      .select(col(userCol), col(tsCol), col(idCol),
        (col(valueCol).cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= n)
      .groupBy(col(userCol))
      .agg(count(lit(1)).cast("long").as("n_recent"),
        sum(col("cents") *
          expr(s"shiftleft(CAST(1 AS BIGINT), $n - rn)")).as("decay_cents"))
      .orderBy(col(userCol))
  }

  /** Per-tile zone map + pruning audit — the data-skipping arithmetic a
    * lake scan planner runs against file/row-group footer stats (min/max
    * per column) before touching data. Tiles are `tileSize`-row slices in
    * storage order (event_id ranges — the stand-in for parquet row
    * groups); for each tile the map records row count and min/max of the
    * timestamp and user columns, plus two verdicts for canonical probes:
    * a one-day timestamp range (prunable on time-ordered storage — the
    * zone map's best case) and a user-id prefix (NOT prunable, because an
    * unclustered uniform column straddles every tile — the measured
    * argument for Z-ordering, cf. q_zorder_tiles).
    *
    * Scale shape: one map-side-combinable groupBy on a projected
    * three-column scan; output is rows/tileSize rows. The prune verdicts
    * are pure interval arithmetic on the aggregate — exactly what the
    * planner evaluates per footer at 100 TB (a million row groups is a
    * million BOUNDED rows here, never the data).
    */
  def zoneMap(events: DataFrame, idCol: String, tsCol: String,
      userCol: String, tileSize: Long, tsLoUs: Long, tsHiUs: Long,
      userLt: Long): DataFrame =
    events
      .select(expr(s"$idCol DIV $tileSize").as("tile"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"), col(userCol))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("ts_us")).as("ts_min_us"), max(col("ts_us")).as("ts_max_us"),
        min(col(userCol)).as("user_min"), max(col(userCol)).as("user_max"))
      .select(col("tile"), col("n_rows"), col("ts_min_us"), col("ts_max_us"),
        col("user_min"), col("user_max"),
        (col("ts_max_us") < tsLoUs || col("ts_min_us") >= tsHiUs)
          .as("prunable_ts"),
        (col("user_min") >= userLt).as("prunable_user"))
      .orderBy(col("tile"))

  /** Cumulative-Poisson(1) thresholds on the 52-bit md5 uniform:
    * weight k iff h < floor(P(X<=k)·2^52). FIXED integer literals (not
    * recomputed from doubles at runtime), shared verbatim with the SQL
    * oracle, so the draw replays bit-for-bit on any engine. The tail
    * mass above weight 7 is ~1e-7 per draw — folded into weight 7. */
  private val poisson1Cuts = Seq(
    1656781714176974L, 3313563428353948L, 4141954285442435L,
    4418084571138597L, 4487117142562638L, 4500923656847446L,
    4503224742561580L)

  /** Deterministic Poisson bootstrap — resampling-based uncertainty for
    * any per-group mean, the missing inferential tool next to the
    * closed-form abMetrics/cuped CIs (bootstrap works for metrics with
    * no closed form). Each row gets, per replicate `b`, a Poisson(1)
    * weight drawn from the salted md5 of its id ("boot<b>:" + id) via
    * fixed integer thresholds on the 52-bit hash — the standard
    * one-pass approximation of multinomial resampling (Efron's
    * bootstrap; Poissonization makes the draw per-row independent, so
    * it distributes with NO resampling shuffle). `idCol` must be unique
    * for independent draws.
    *
    * Exactness discipline: replicate means are integer micro-cents
    * (TRUNCATING division on both engines — DuckDB's integer `//`
    * truncates toward zero exactly like Spark's DIV, verified on
    * v1.0.0: (-7)//2 = -3 for BIGINT and HUGEINT alike — so negative
    * sums replay bit-for-bit with no correction), their variance numerator
    * B·Σm² − (Σm)² is exact decimal(38) integer arithmetic, and the
    * only floating steps are one division by the constant B(B−1) and
    * one sqrt (IEEE-exact) — so the published se/CI hash-matches any
    * engine. Replicates with zero total weight (probability e^(−n) per
    * replicate) are excluded; `b_used` publishes the survivor count.
    *
    * 100 TB posture: the B-fold explode happens INSIDE the scan and is
    * absorbed by map-side partial aggregation — at most groups×B rows
    * per task ever shuffle, the raw data never replicates through an
    * exchange; everything after the one groupBy is bounded at
    * groups×B rows.
    */
  def bootstrapCi(eventsRaw: DataFrame, groupCol: String, idCol: String,
      valueCol: String, b: Int = 32): DataFrame = {
    require(b >= 2, s"bootstrap needs >= 2 replicates, got $b")
    // NULL group/id/value rows are excluded up front (the kmvSketch
    // isNotNull discipline): a NULL id would give EVERY replicate the
    // null-propagated fall-through weight 7 (silent 7x over-weighting),
    // a NULL value has no cents, and a NULL group would vanish in the
    // null-unsafe point-spread equi-join
    val events = eventsRaw.where(col(groupCol).isNotNull &&
      col(idCol).isNotNull && col(valueCol).isNotNull)
    val cents = (col(valueCol).cast("decimal(18,2)") * 100).cast("long")
    def weight(h: Column): Column =
      poisson1Cuts.zipWithIndex.drop(1)
        .foldLeft(when(h < poisson1Cuts.head, 0L)) {
          case (e, (t, k)) => e.when(h < t, k.toLong)
        }.otherwise(7L)
    val drawn = events
      .select(col(groupCol).as("g"), col(idCol).cast("string").as("id"),
        cents.as("cents"))
      // the draw projection is CPU-bound (B salted hashes per row): hash-
      // spread the slim (g, id, cents) rows across the session's shuffle
      // partitions first, or a small input file pins all B·n hashes to
      // its one-or-two scan partitions. The explicit partition count
      // keeps AQE from coalescing the tiny-but-CPU-heavy exchange back
      // to one task; the shuffle itself moves three slim columns once
      .repartition(events.sparkSession.sessionState.conf.numShufflePartitions,
        col("id"))
      .select(col("g"), col("cents"),
        explode(array((0 until b).map { i =>
          val h = conv(substring(
            md5(concat(lit(s"boot$i:"), col("id"))), 1, 13), 16, 10)
            .cast("long")
          struct(lit(i).as("b"), weight(h).as("w"))
        }: _*)).as("x"))
    // per-(group, replicate) weighted mean in exact integer micro-cents;
    // the explode above collapses map-side, so only groups*B rows shuffle
    val reps = drawn
      .groupBy(col("g"), col("x.b").as("b"))
      .agg(sum(col("x.w")).as("n_w"),
        sum(col("x.w") * col("cents")).as("s_wc"))
      .where(col("n_w") > 0L)
      // Plain truncating DIV — exact parity with the oracle's `//`:
      // DuckDB integer division (BIGINT and HUGEINT `//` alike)
      // TRUNCATES toward zero, same as Spark's DIV — verified
      // empirically on DuckDB v1.0.0 (SELECT (-7)//2 = -3, and the same
      // for HUGEINT). A negative weighted sum (negative values are
      // legal input) therefore replays bit-for-bit with NO correction;
      // an explicit floor correction here would DIVERGE on negatives.
      .select(col("g"),
        expr("CAST(s_wc AS DECIMAL(38,0)) * 1000000 DIV n_w").as("m"))
    val spread = reps.groupBy(col("g")).agg(
      count(lit(1)).as("b_used"),
      sum(col("m").cast("decimal(38,0)")).as("sm"),
      // square in decimal — m is ~1e10 micro-cents, m*m overflows LONG
      sum(col("m").cast("decimal(19,0)") * col("m").cast("decimal(19,0)"))
        .as("sm2"))
    val point = events
      .select(col(groupCol).as("g"), cents.as("cents"))
      .groupBy(col("g")).agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("sc"))
      .select(col("g"), col("n_events"),
        // same truncating division as the replicate means
        expr("CAST(sc AS DECIMAL(38,0)) * 1000000 DIV n_events")
          .cast("long").as("point_micro"))
    point.join(spread, Seq("g"))
      .withColumn("se_micro", sqrt(
        ((col("b_used") * col("sm2") - col("sm") * col("sm"))
          .cast("double")) /
          (col("b_used") * (col("b_used") - lit(1L))).cast("double")))
      .select(col("g"), col("n_events"), col("point_micro"), col("b_used"),
        col("se_micro"),
        (col("point_micro").cast("double") - lit(2.0) * col("se_micro"))
          .as("lo_micro"),
        (col("point_micro").cast("double") + lit(2.0) * col("se_micro"))
          .as("hi_micro"))
      .orderBy(col("g"))
  }

  /** The per-arm variance-over-n term s²ᵢ/nᵢ shared by [[welchT]] and
    * [[welchDof]]: the numerator nᵢ·qᵢ − sᵢ² is computed EXACTLY in
    * decimal first — DECIMAL(18,0)·DECIMAL(19,0) is an exact 37-digit
    * product on both engines (probed); the sᵢ² term is
    * DECIMAL(19,0)·DECIMAL(19,0) → precision 39, capped to 38 by Spark,
    * which is still exact because Cauchy–Schwarz on the cast bounds
    * gives s² ≤ n·q < 10³⁸, so the value fits the capped type and the
    * precision cap can never overflow before the documented 10¹⁹ cast
    * cliff — and only the finished integer
    * numerator casts to double, so the catastrophic cancellation of
    * q − s²/n in doubles (lossy once Σcents² passes 2^53) can neither
    * flip a variance sign nor drive the sqrt argument negative. Exact
    * and engine-identical for q < 10¹⁹ (~1000× past the 2^53 double
    * bound); beyond that Spark nulls and DuckDB errors on the
    * DECIMAL(19,0) cast — loud, not silently wrong. */
  private[graft] def welchVarOverN(i: Int): String =
    s"""(CAST(CAST(n$i AS DECIMAL(18,0)) * CAST(q$i AS DECIMAL(19,0))
       |  - CAST(s$i AS DECIMAL(19,0)) * CAST(s$i AS DECIMAL(19,0))
       |  AS DOUBLE)
       |  / ((CAST(n$i AS DOUBLE) - 1.0) * CAST(n$i AS DOUBLE)
       |    * CAST(n$i AS DOUBLE)))""".stripMargin

  /** Positive-variance guard for arm i — the SAME exact decimal
    * numerator as [[welchVarOverN]], compared against zero with no
    * doubles anywhere, shared verbatim by operator and oracle. */
  private[graft] def welchVarPos(i: Int): String =
    s"""CAST(n$i AS DECIMAL(18,0)) * CAST(q$i AS DECIMAL(19,0))
       |  - CAST(s$i AS DECIMAL(19,0)) * CAST(s$i AS DECIMAL(19,0)) > 0""".stripMargin

  /** The Welch t statistic and Welch–Satterthwaite dof over exact
    * per-arm moment columns (n0, s0, q0, n1, s1, q1 — counts, sums,
    * and sums of squares as exact integers/decimals) — ONE SQL string
    * legal in both Spark SQL and DuckDB, consumed verbatim by the
    * operator and the oracle (the wilsonBound discipline): given exact
    * integer inputs, both engines execute the identical IEEE chain.
    * Each s²ᵢ/nᵢ term goes through [[welchVarOverN]]'s exact integer
    * numerator, never the cancellation-prone q − s²/n double path. */
  private[graft] def welchT: String =
    s"""CAST(floor(((CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
       |  - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
       |  / sqrt(${welchVarOverN(0)}
       |    + ${welchVarOverN(1)}))
       |  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""".stripMargin

  private[graft] def welchDof: String =
    s"""CAST(floor(((${welchVarOverN(0)}
       |    + ${welchVarOverN(1)})
       |  * (${welchVarOverN(0)}
       |    + ${welchVarOverN(1)}))
       |  / (${welchVarOverN(0)}
       |    * ${welchVarOverN(0)}
       |    / (CAST(n0 AS DOUBLE) - 1.0)
       |    + ${welchVarOverN(1)}
       |    * ${welchVarOverN(1)}
       |    / (CAST(n1 AS DOUBLE) - 1.0))
       |  * 100.0 + 0.5) AS DOUBLE) / 100.0""".stripMargin

  /** Welch's unequal-variance t test — the PARAMETRIC member of the
    * two-sample family ([[mannWhitney]] compares ranks; this compares
    * MEANS, the number the experiment readout headline quotes, without
    * the equal-variance assumption Student's t needs): per hash-split
    * arm the exact integer moments (count, Σcents, Σcents² — the sum
    * of squares in decimal(38,0): cents² sums wrap long past ~10¹⁵),
    * then t and the Welch–Satterthwaite dof evaluate through ONE
    * shared SQL string per statistic ([[welchT]]/[[welchDof]]),
    * identical on both engines by construction, published at 4/2 dp
    * with the verdict on the rounded t vs the caller's critical value.
    * NULL when either arm has < 2 rows or both variances are zero.
    *
    * Scale shape: one map-side-combinable aggregate; one row out
    * (n0, n1, mean0_r, mean1_r, t_r, dof_r, significant).
    */
  def welchTTest(events: DataFrame, userCol: String, valueCol: String,
      critT: Double): DataFrame = {
    import org.apache.spark.sql.graftnative.RollingHash.rollingHash
    val cents = (col(valueCol).cast("decimal(18,2)") * 100).cast("long")
    val arm = pmod(rollingHash(concat(lit("ab:"),
      col(userCol).cast("string"))), lit(2))
    val r4 = (c: Column) => floor(c * 10000.0 + 0.5) / 10000.0
    events.where(col(userCol).isNotNull && col(valueCol).isNotNull)
      .select(arm.as("arm"), cents.as("v"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        coalesce(sum(when(col("arm") === 0, col("v"))), lit(0L)).as("s0"),
        coalesce(sum(when(col("arm") === 0,
          col("v").cast("decimal(38,0)") * col("v"))),
          lit(0).cast("decimal(38,0)")).as("q0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        coalesce(sum(when(col("arm") === 1, col("v"))), lit(0L)).as("s1"),
        coalesce(sum(when(col("arm") === 1,
          col("v").cast("decimal(38,0)") * col("v"))),
          lit(0).cast("decimal(38,0)")).as("q1"))
      .select(col("n0"), col("n1"),
        when(col("n0") > 0,
          r4(col("s0").cast("double") / col("n0") / 100.0)).as("mean0_r"),
        when(col("n1") > 0,
          r4(col("s1").cast("double") / col("n1") / 100.0)).as("mean1_r"),
        when(col("n0") > 1 && col("n1") > 1 &&
          (expr(welchVarPos(0)) || expr(welchVarPos(1))),
          expr(welchT)).as("t_r"),
        when(col("n0") > 1 && col("n1") > 1 &&
          (expr(welchVarPos(0)) || expr(welchVarPos(1))),
          expr(welchDof)).as("dof_r"))
      .withColumn("significant",
        when(col("t_r").isNotNull, abs(col("t_r")) > critT))
  }

  /** Kruskal–Wallis H — [[mannWhitney]] generalized past two arms (the
    * nonparametric one-way ANOVA: does the metric's LOCATION differ
    * across k variants?), the rank-test twin of [[srmCheckNArm]]'s
    * count test. Average ranks in 2× units off the bounded score
    * histogram (integral under ties, the spearman rule); per-arm rank
    * sums and the cross-arm statistic accumulate exactly:
    * S = Σ_j (R2_j² DIV n_j) is the operator's DEFINED statistic —
    * each per-arm term floors to an exact integer before the
    * order-independent sum (a raw double Σ R_j²/n_j would be
    * arm-order dependent; the floor shifts H by < 3k/(n(n+1)),
    * far below the 4-dp publication grid for any real n), then
    *
    *   H = (3·S/(n(n+1)) − 3(n+1)) / (1 − T/(n³ − n))
    *
    * with the standard tie correction T = Σ(t³−t), written
    * operation-identically on both engines and published at 4 dp;
    * the verdict compares the ROUNDED value to the caller's
    * df-specific critical value (the srmCheckNArm contract). NULL H
    * when every value ties (one histogram bin). n³ through doubles is
    * exact below 2^53 — n ≲ 10⁵ per the tie term; past that the tie
    * CORRECTION (not H) coarsens in ulps (documented).
    *
    * Output: one row per arm (arm, n_arm, r2_sum) with h_r, df, and
    * the verdict riding along — ≤ k rows.
    *
    * Scale shape: one aggregate to the bounded (score, arm) cell
    * frame; ranks, tie term, and the statistic all run on bounded
    * frames.
    */
  def kruskalWallis(scored: DataFrame, critH: Double): DataFrame = {
    val cells = scored.groupBy(col("score"), col("arm"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // bounded (score, arm) cells, two consumers
    val hist = cells.groupBy(col("score")).agg(sum(col("c")).as("t"))
      .localCheckpoint() // bounded histogram, two consumers
    val below = Window.orderBy(col("score").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranks = hist
      .withColumn("cb", coalesce(sum(col("t")).over(below), lit(0L)))
      .select(col("score"), (col("cb") * 2 + col("t") + 1).as("r2"))
    val tie = hist.agg(
      coalesce(sum(col("t")), lit(0L)).as("n"),
      count(lit(1)).as("n_scores"),
      coalesce(sum({
        val t = col("t").cast("decimal(38,0)")
        t * t * t - t
      }), lit(0).cast("decimal(38,0)")).as("tt"))
    val arms = cells.join(ranks, "score")
      .groupBy(col("arm"))
      .agg(sum(col("c")).as("n_arm"),
        sum(col("c").cast("decimal(38,0)") * col("r2")).as("r2sum"))
      .localCheckpoint() // k rows, two consumers
    val h = arms
      .agg(count(lit(1)).as("n_arms"),
        coalesce(sum(expr("(r2sum * r2sum) DIV n_arm")),
          lit(0).cast("decimal(38,0)")).as("s2"))
      .crossJoin(broadcast(tie))
      .select(col("n_arms"),
        when(col("n_scores") > 1 && col("n_arms") > 1,
          expr("""CAST(floor((3.0 * CAST(s2 AS DOUBLE)
            / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
            - 3.0 * (CAST(n AS DOUBLE) + 1.0))
            / (1.0 - CAST(tt AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(n AS DOUBLE)))
            * 10000.0 + 0.5) AS DOUBLE) / 10000.0""")).as("h_r"))
    arms.crossJoin(broadcast(h))
      .select(col("arm"), col("n_arm"),
        col("r2sum").cast("long").as("r2_sum"),
        col("h_r"), (col("n_arms") - 1).as("df"),
        when(col("h_r").isNotNull, col("h_r") > critH).as("significant"))
      .orderBy(col("arm"))
  }

  /** Population Stability Index — the distribution-drift monitor every
    * ML-serving platform runs between a reference window and the
    * current one (PSI = Σ_buckets (p−q)·ln(p/q), the symmetrized-KL
    * shape credit scoring standardized; >0.1 = investigate, >0.25 =
    * retrain, by convention): value distributions are compared over
    * `nBuckets` quantile buckets whose cuts are EXACT rank statistics
    * of the REFERENCE period (value at rank ceil(k·N/n) — the
    * ppl_buckets rule, never percentile lerp), so the bucketing
    * replays bit-for-bit; per-bucket counts get +1 Laplace smoothing
    * on BOTH sides (an empty current bucket is exactly the signal PSI
    * must price, not a division by zero — documented standard
    * practice), each term is quantized to integer micro-nats BEFORE
    * the sum (the corpus-divergence discipline), and the ln is written
    * operation-identically on both engines.
    *
    * Output: one row per bucket — bucket id, the cut value opening it
    * (NULL for the first), raw ref/cur counts and shares in bp, the
    * term in micro-nats, and the total psi_micro riding on every row.
    *
    * Scale shape: one aggregate to the bounded (cents, side)
    * histogram; cuts, bucketing, smoothing, and the total all run on
    * bounded frames.
    */
  def psiDrift(events: DataFrame, valueCol: String, tsCol: String,
      refEndExcl: String, nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val cents = (col(valueCol).cast("decimal(18,2)") * 100).cast("long")
    val hist = events
      .where(col(valueCol).isNotNull && col(tsCol).isNotNull)
      .select(cents.as("v"), (col(tsCol) < lit(refEndExcl)).as("is_ref"))
      .groupBy(col("v"), col("is_ref")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // bounded (cents, side) histogram, 3 consumers
    val below = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val refCum = hist.where(col("is_ref"))
      .withColumn("cb", coalesce(sum(col("c")).over(below), lit(0L)))
    val refTot = refCum.agg(coalesce(sum(col("c")), lit(0L)).as("nr"))
    val ks = explode(array((1 until nBuckets).map(k => lit(k)): _*)).as("k")
    val cuts = refCum.crossJoin(broadcast(refTot))
      .select(col("v"), (col("cb") + col("c")).as("ct"), col("nr"), ks)
      .groupBy(col("k"))
      .agg(min(when(col("ct") * nBuckets >= col("k") * col("nr"),
        col("v"))).as("cut_v"))
      .localCheckpoint() // <= nBuckets-1 rows, two consumers
    // bucket of a histogram value = how many cuts it has passed
    val bucketed = hist.join(broadcast(cuts), col("v") >= col("cut_v"),
      "left")
      .groupBy(col("v"), col("is_ref"), col("c"))
      .agg(count(col("k")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("is_ref"), col("c")).otherwise(0L)).as("ref_n"),
        sum(when(!col("is_ref"), col("c")).otherwise(0L)).as("cur_n"))
    // every bucket 0..nBuckets-1 exists even when both sides are empty
    // there (the spine) — smoothing then prices it symmetrically
    val spine = events.sparkSession.range(nBuckets)
      .select(col("id").as("bucket"))
    val full = spine.join(bucketed, Seq("bucket"), "left")
      .na.fill(0L, Seq("ref_n", "cur_n"))
      .crossJoin(broadcast(
        bucketed.agg(coalesce(sum(col("ref_n")), lit(0L)).as("tr"),
          coalesce(sum(col("cur_n")), lit(0L)).as("tc"))))
    val term =
      s"""CAST(floor(((CAST(ref_n + 1 AS DOUBLE) / CAST(tr + $nBuckets AS DOUBLE)
         |  - CAST(cur_n + 1 AS DOUBLE) / CAST(tc + $nBuckets AS DOUBLE))
         |  * ln((CAST(ref_n + 1 AS DOUBLE) * CAST(tc + $nBuckets AS DOUBLE))
         |      / (CAST(cur_n + 1 AS DOUBLE) * CAST(tr + $nBuckets AS DOUBLE))))
         |  * 1000000.0 + 0.5) AS BIGINT)""".stripMargin
    val rows = full
      .join(broadcast(cuts.select(col("k").cast("long").as("bucket"),
        col("cut_v"))), Seq("bucket"), "left")
      .select(col("bucket"), col("cut_v").as("lo_cut"),
        col("ref_n"), col("cur_n"),
        when(col("tr") > 0, expr("ref_n * 10000 DIV tr")).as("ref_bp"),
        when(col("tc") > 0, expr("cur_n * 10000 DIV tc")).as("cur_bp"),
        expr(term).as("term_micro"))
      .localCheckpoint() // nBuckets rows, feeds itself + the total
    rows.crossJoin(broadcast(
      rows.agg(sum(col("term_micro")).as("psi_micro"))))
      .orderBy(col("bucket"))
  }

  /** The Wilson 95% score-interval bound over BIGINT columns (n, k) as
    * a SQL string legal in BOTH Spark SQL and DuckDB — ONE definition
    * consumed verbatim by the operator's expr() and the oracle's SQL,
    * so the two engines cannot round differently by construction
    * (every literal is CAST to DOUBLE first: bare 1.96 parses as
    * DECIMAL in both parsers and the decimal→double promotion ORDER
    * could differ; the outer CAST keeps the published column DOUBLE —
    * the q_mannwhitney lesson). `sign` = −1 for the lower bound, +1
    * for the upper. */
  private[graft] def wilsonBound(sign: Int): String = {
    val z = "CAST(1.96 AS DOUBLE)"
    val n = "CAST(n AS DOUBLE)"
    val p = s"(CAST(k AS DOUBLE) / $n)"
    val op = if (sign < 0) "-" else "+"
    s"""CAST(floor((($p + $z * $z / (2.0 * $n))
       |    / (1.0 + $z * $z / $n)
       |  $op $z * sqrt($p * (1.0 - $p) / $n
       |      + $z * $z / (4.0 * $n * $n))
       |    / (1.0 + $z * $z / $n))
       |  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""".stripMargin
  }

  /** Per-arm conversion rates with Wilson 95% score intervals — the
    * interval the experimentation readout actually quotes next to the
    * point rate (Wilson 1927; unlike the Wald interval it stays inside
    * [0, 1] and behaves at k = 0 / k = n, which real arms hit): per
    * hash-split arm the distinct-user count, converters (users with at
    * least one row satisfying `converted`), the exact rate in bp, and
    * the 4-dp interval bounds. The bound expression is ONE shared
    * string ([[wilsonBound]]) evaluated by both engines.
    *
    * Scale shape: one distinct-user aggregate (map-side combined), two
    * bounded rows after it; nothing else moves.
    */
  def wilsonRates(events: DataFrame, userCol: String,
      converted: Column): DataFrame = {
    import org.apache.spark.sql.graftnative.RollingHash.rollingHash
    events.where(col(userCol).isNotNull)
      .groupBy(col(userCol).as("u"))
      .agg(max(when(converted, 1L).otherwise(0L)).as("conv"))
      .select(pmod(rollingHash(concat(lit("ab:"), col("u").cast("string"))),
        lit(2)).as("variant"), col("conv"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
      .select(col("variant").cast("long").as("variant"),
        col("n").as("n_users"), col("k").as("converters"),
        expr("k * 10000 DIV n").as("rate_bp"),
        expr(wilsonBound(-1)).as("lo_r"),
        expr(wilsonBound(+1)).as("hi_r"))
      .orderBy(col("variant"))
  }

  /** Spearman rank correlation — the MONOTONE-association member of
    * the test family ([[independenceTest]] asks "associated at all?"
    * for categories; this asks "does y rise with x?" for ordered
    * metrics, robust to outliers and any monotone transform —
    * the do-richer-customers-buy-more / does-doc-length-track-quality
    * question). Tie-corrected by construction: computed as PEARSON ON
    * AVERAGE RANKS, with ranks in 2× units so tied averages stay
    * integral — a value with `t` ties and `cb` predecessors has
    * 2·rank = 2·cb + t + 1 exactly. All sums accumulate in
    * decimal(38,0) (n·Σr² bounds exactness at n ≲ 10⁹ entities —
    * documented); the only floating steps are one division and one
    * IEEE sqrt at the very end, written operation-identically on both
    * engines and published at 4 dp.
    *
    * Input: one row per entity with long columns `x` and `y`. Output:
    * one row — n_entities, rho_r (NULL when either variable is
    * constant: no ranking to correlate).
    *
    * Scale shape: each variable collapses to its bounded value
    * histogram for the rank assignment (the scoreHistCum discipline);
    * the two rank joins are histogram-sized; one aggregate ends it.
    */
  def spearman(pairsDf: DataFrame): DataFrame = {
    def ranks(c: String): DataFrame = {
      val hist = pairsDf.groupBy(col(c)).agg(count(lit(1)).as("t"))
      val below = Window.orderBy(col(c).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      hist.withColumn("cb", coalesce(sum(col("t")).over(below), lit(0L)))
        .select(col(c), (col("cb") * 2 + col("t") + 1).as(s"r2$c"))
    }
    pairsDf.join(ranks("x"), "x").join(ranks("y"), "y")
      .agg(count(lit(1)).as("n"),
        sum(col("r2x").cast("decimal(38,0)")).as("sx"),
        sum(col("r2y").cast("decimal(38,0)")).as("sy"),
        sum(col("r2x").cast("decimal(38,0)") * col("r2x")).as("sxx"),
        sum(col("r2y").cast("decimal(38,0)") * col("r2y")).as("syy"),
        sum(col("r2x").cast("decimal(38,0)") * col("r2y")).as("sxy"))
      .select(col("n").as("n_entities"),
        when(expr("n * sxx - sx * sx") > 0 && expr("n * syy - sy * sy") > 0,
          expr("""CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
            / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
              * CAST(n * syy - sy * sy AS DOUBLE))
            * 10000.0 + 0.5) AS DOUBLE) / 10000.0""")).as("rho_r"))
  }

  /** Pearson χ² independence test over a two-way contingency table —
    * the categorical-association member of the test family (srmCheck
    * asks "did the SPLITTER break", this asks "are these two columns
    * ASSOCIATED" — the segmentation sanity check behind every
    * per-(nation, segment) release: if the columns are independent,
    * publishing the margins already tells the whole story).
    *
    * Exact-integer phrasing: clearing denominators in
    * Σ (O − RC/n)²/(RC/n) gives per-cell contributions
    * (O·n − R·C)²·10⁶ DIV (R·C·n), each quantized to micro-units
    * BEFORE the sum (order-independent, the micro-nat discipline).
    * ZERO cells participate (the margins cross yields every (r, c)
    * combination; a missing cell is O = 0 with expected R·C/n > 0 —
    * dropping them understates the statistic). All arithmetic is
    * decimal(38,0) (HUGEINT in the oracle); exactness holds while
    * n⁴ < 10³⁸, i.e. n up to ~3·10⁹ rows — past that, pre-aggregate
    * per stratum (documented bound).
    *
    * Output: ONE row — n, distinct row/col values, dof =
    * (r−1)(c−1), chi2_micro, and `independent` = chi2 ≤ the caller's
    * critical value in micro-units (the df-specific 95% quantile; the
    * engine ships no χ² CDF — the caller owns the significance level,
    * the srmCheckNArm contract).
    *
    * Scale shape: one data-sized aggregate to the bounded cell frame;
    * margins, the cross, and the sum all run on bounded frames.
    */
  def independenceTest(df: DataFrame, rowCol: String, colCol: String,
      critMicro: Long): DataFrame = {
    val cells = df.where(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol).as("r"), col(colCol).as("c"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint() // bounded cell frame, four consumers — one scan
    val rm = cells.groupBy(col("r")).agg(sum(col("o")).as("rn"))
    val cm = cells.groupBy(col("c")).agg(sum(col("o")).as("cn"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("r")).as("n_r"),
      countDistinct(col("c")).as("n_c"))
    rm.crossJoin(broadcast(cm))
      .join(cells, Seq("r", "c"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(
        expr("""CAST((CAST(o AS DECIMAL(38,0)) * n
          - CAST(rn AS DECIMAL(38,0)) * cn) AS DECIMAL(38,0))""").as("d"),
        col("rn"), col("cn"), col("n"), col("n_r"), col("n_c"))
      .select(
        expr("""CAST((d * d * 1000000)
          DIV (CAST(rn AS DECIMAL(38,0)) * cn * n) AS BIGINT)""")
          .as("contrib"),
        col("n"), col("n_r"), col("n_c"))
      .groupBy(col("n"), col("n_r"), col("n_c"))
      .agg(sum(col("contrib")).as("chi2_micro"))
      .select(col("n"), col("n_r").as("n_rowvals"),
        col("n_c").as("n_colvals"),
        ((col("n_r") - 1) * (col("n_c") - 1)).as("dof"),
        col("chi2_micro"),
        (col("chi2_micro") <= critMicro).as("independent"))
  }

  /** Nelson–Aalen cumulative hazard — [[kaplanMeier]]'s additive twin
    * (KM multiplies survival fractions; this SUMS per-day hazard
    * increments H_t = Σ_{s≤t} d_s/n_s — the estimator a hazard-ratio
    * eyeball or a −log(S) sanity check reads): each increment is the
    * PURE INTEGER d·10⁶ DIV n (no doubles anywhere — truncating DIV on
    * exact counts, engine-identical by the standing division rule), and
    * the cumulative is one window over the bounded duration grid — no
    * recursion, no fold, the simplest member of the survival family.
    * At-risk counts come from the same exact cumulative windows as
    * [[logRankTest]]; the grid is the same [[kmStratumGrid]]-derived
    * truth, so curve, tests, and hazard can never disagree.
    *
    * Output: one row per (arm, t_days) — n_risk, d_events, h_micro
    * (the day's increment), h_cum_micro (monotone non-decreasing).
    */
  def nelsonAalen(events: DataFrame, userCol: String, tsCol: String,
      eventType: String, typeCol: String = "event_type"): DataFrame = {
    val grid = kmDurationGrid(events, userCol, tsCol, eventType, typeCol)
    val before = Window.partitionBy(col("arm")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.partitionBy(col("arm")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("arm"))
    grid
      .withColumn("n_risk", sum(col("d") + col("c")).over(tot) -
        coalesce(sum(col("d") + col("c")).over(before), lit(0L)))
      .withColumn("h_micro",
        when(col("n_risk") > 0, expr("d * 1000000 DIV n_risk"))
          .otherwise(lit(0L)))
      .withColumn("h_cum_micro", sum(col("h_micro")).over(upto))
      .select(col("arm"), col("t").as("t_days"), col("n_risk"),
        col("d").as("d_events"), col("h_micro"), col("h_cum_micro"))
      .orderBy(col("arm"), col("t_days"))
  }

  /** Daily EWMA smoothing — the anomaly-baseline member of the
    * time-series family (changepoint finds level SHIFTS, error-burst
    * finds windows; this maintains the running per-key baseline a
    * monitor compares today against): per (group, day) the value mass
    * in cents, its exponentially-weighted moving average, and today's
    * deviation from YESTERDAY'S baseline in basis points (the alert
    * column — today's own value must not contaminate the baseline it
    * is judged against).
    *
    * α is FIXED at 1/2 so the recurrence is pure integer halving —
    * s_i = (s_{i−1} + x_i) DIV 2 — replaying bit-for-bit on any engine
    * (an arbitrary-α EWMA through doubles drifts in the last ulp and
    * never hash-matches; truncating division is engine-identical even
    * on negative masses, verified). The fold is ORDER-DEPENDENT by
    * nature, so it runs inside a per-key sorted array fold, not a
    * partition-order-dependent aggregate.
    *
    * Scale shape: the daily aggregate is the only data-sized shuffle;
    * the per-key series then collects into a bounded array (panel
    * length = the day span — the q_event_paths bounded-collect
    * precedent) and the fold is one higher-order projection. Output is
    * |keys|·|days| rows.
    */
  /** Kaplan–Meier survival curve — the TIME-TO-EVENT member of the
    * experiment family (Welch/MW compare a metric's level; this answers
    * "how long until conversion, with the not-yet-converted counted
    * honestly?" — dropping censored users biases every naive
    * time-to-convert mean): per hash-split arm, users enter at their
    * first event day and either CONVERT at their first `eventType` day
    * (duration t, a death at t) or are CENSORED at the corpus horizon
    * (still at risk until t, then leave without converting). The
    * product-limit estimate folds in integer micro-units,
    *
    *   s_t = s_{t−1} · (n_t − d_t) DIV n_t        s_{−1} = 10⁶
    *
    * with n_t the at-risk count before t (deaths and censorings at t
    * both counted in n_t — the standard deaths-first convention), a
    * truncating-integer recurrence that replays bit-for-bit on any
    * engine (the ewmaDaily discipline; the ≤1e-6-per-step truncation
    * is far below the estimator's own noise). The fold is bounded by
    * the DAY SPAN, never the user count.
    *
    * Output: one row per (arm, t_days) with n_risk, d_events,
    * c_censored, s_micro — the survival table a retention readout
    * publishes. Scale shape: one per-user aggregate (the only
    * data-sized shuffle), a bounded (arm, duration) grid, and the
    * per-arm sorted-array fold on the day-span panel.
    */
  def kaplanMeier(events: DataFrame, userCol: String, tsCol: String,
      eventType: String, typeCol: String = "event_type"): DataFrame = {
    val grid = kmDurationGrid(events, userCol, tsCol, eventType, typeCol)
    grid.groupBy(col("arm"))
      .agg(sort_array(collect_list(struct(col("t"), col("d"), col("c"))))
        .as("xs"))
      .select(col("arm"), explode(expr(
        """aggregate(xs,
          |  named_struct('atrisk',
          |    CAST(aggregate(xs, CAST(0 AS BIGINT),
          |      (a, x) -> a + x.d + x.c) AS BIGINT),
          |    's', CAST(1000000 AS BIGINT),
          |    'out', CAST(array() AS ARRAY<STRUCT<t: BIGINT,
          |      n_risk: BIGINT, d: BIGINT, c: BIGINT, s: BIGINT>>)),
          |  (acc, x) -> named_struct(
          |    'atrisk', acc.atrisk - x.d - x.c,
          |    's', CASE WHEN acc.atrisk > 0
          |      THEN acc.s * (acc.atrisk - x.d) DIV acc.atrisk
          |      ELSE acc.s END,
          |    'out', concat(acc.out, array(named_struct(
          |      't', x.t, 'n_risk', acc.atrisk, 'd', x.d, 'c', x.c,
          |      's', CASE WHEN acc.atrisk > 0
          |        THEN acc.s * (acc.atrisk - x.d) DIV acc.atrisk
          |        ELSE acc.s END)))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("arm"), col("r.t").as("t_days"),
        col("r.n_risk").as("n_risk"), col("r.d").as("d_events"),
        col("r.c").as("c_censored"), col("r.s").as("s_micro"))
      .orderBy(col("arm"), col("t_days"))
  }

  /** The (stratum, arm, duration) death/censoring grid shared by
    * [[kaplanMeier]], [[logRankTest]], and [[logRankStratified]] — ONE
    * derivation (entry day, conversion day, horizon censoring, the
    * salted arm fold, the first-event stratum) so the curve and its
    * tests can never disagree about who converted when. The stratum is
    * the user's FIRST event's type (earliest day, ties broken by type
    * string — the min over 'day|type' strings is deterministic and
    * engine-identical), the acquisition-channel proxy a stratified test
    * controls for. */
  private def kmStratumGrid(events: DataFrame, userCol: String,
      tsCol: String, eventType: String, typeCol: String): DataFrame = {
    import org.apache.spark.sql.graftnative.RollingHash.rollingHash
    val ev = events.where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("u"), col(tsCol).cast("date").as("day"),
        col(typeCol).as("ty"))
      .localCheckpoint() // one scan feeds the horizon and the per-user agg
    val horizon = ev.agg(max(col("day")).as("h"))
    val perUser = ev.groupBy(col("u"))
      .agg(min(col("day")).as("first_day"),
        min(when(col("ty") === eventType, col("day"))).as("conv_day"),
        expr("substr(min(concat(CAST(day AS STRING), '|', ty)), 12)")
          .as("stratum"))
      .crossJoin(broadcast(horizon))
      .select(col("stratum"),
        pmod(rollingHash(concat(lit("km:"), col("u").cast("string"))),
          lit(2)).as("arm"),
        when(col("conv_day").isNotNull, lit(true)).otherwise(lit(false))
          .as("converted"),
        when(col("conv_day").isNotNull,
          datediff(col("conv_day"), col("first_day")))
          .otherwise(datediff(col("h"), col("first_day")))
          .cast("long").as("t"))
    perUser.groupBy(col("stratum"), col("arm"), col("t"))
      .agg(sum(when(col("converted"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("converted"), 1L).otherwise(0L)).as("c"))
  }

  /** The stratum-collapsed (arm, duration) grid [[kaplanMeier]] and the
    * plain [[logRankTest]] consume — summing the stratum partition
    * changes no count. */
  private def kmDurationGrid(events: DataFrame, userCol: String,
      tsCol: String, eventType: String, typeCol: String): DataFrame =
    kmStratumGrid(events, userCol, tsCol, eventType, typeCol)
      .groupBy(col("arm"), col("t"))
      .agg(sum(col("d")).as("d"), sum(col("c")).as("c"))

  /** The two-arm risk set over a [[kmStratumGrid]]-shaped grid: deaths
    * and censorings per t — per (stratum, t) when `stratified` — split
    * by arm (d0/c0, d1/c1), and each arm's exact at-risk count n0/n1
    * before t, from integer cumulative windows over the bounded grid
    * (the pooled form partitions on a constant key — the bounded-input
    * idiom). */
  private def survivalRiskSet(grid: DataFrame,
      stratified: Boolean): DataFrame = {
    val key = if (stratified) Seq(col("stratum")) else Nil
    val part = if (stratified) col("stratum") else lit(0)
    val byT = grid.groupBy(key :+ col("t"): _*)
      .agg(sum(when(col("arm") === 0, col("d")).otherwise(0L)).as("d0"),
        sum(when(col("arm") === 0, col("c")).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1, col("d")).otherwise(0L)).as("d1"),
        sum(when(col("arm") === 1, col("c")).otherwise(0L)).as("c1"))
    val w = Window.partitionBy(part).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = Window.partitionBy(part)
    byT
      .withColumn("n0", sum(col("d0") + col("c0")).over(tot) -
        coalesce(sum(col("d0") + col("c0")).over(w), lit(0L)))
      .withColumn("n1", sum(col("d1") + col("c1")).over(tot) -
        coalesce(sum(col("d1") + col("c1")).over(w), lit(0L)))
  }

  /** The log-rank statistic over a [[survivalRiskSet]]: per death time
    * the hypergeometric E/V terms, each micro-quantized before the sum,
    * then O/E/V summed over every risk set, `totals` (one row) in front,
    * and z at 4 dp with the verdict against `critZ`. */
  private def logRankZ(risk: DataFrame, totals: DataFrame,
      critZ: Double): DataFrame = {
    risk
      .withColumn("n", col("n0") + col("n1"))
      .withColumn("d", col("d0") + col("d1"))
      .where(col("d") > 0 && col("n") > 0)
      .withColumn("e0_micro", expr(
        """CAST(floor(CAST(d AS DOUBLE) * CAST(n0 AS DOUBLE)
          |  / CAST(n AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)""".stripMargin))
      .withColumn("v_micro", expr(
        """CASE WHEN n > 1 THEN
          |  CAST(floor(CAST(d AS DOUBLE)
          |    * (CAST(n0 AS DOUBLE) / CAST(n AS DOUBLE))
          |    * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
          |    * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
          |    * 1000000.0 + 0.5) AS BIGINT)
          |ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .agg(
        coalesce(sum(col("d0")), lit(0L)).as("o0"),
        coalesce(sum(col("d1")), lit(0L)).as("o1"),
        coalesce(sum(col("e0_micro")), lit(0L)).as("e0_micro"),
        coalesce(sum(col("v_micro")), lit(0L)).as("v_micro"))
      .crossJoin(broadcast(totals))
      .select(totals.columns.map(col) ++ Seq(col("o0"), col("o1"),
        col("e0_micro"), col("v_micro"),
        when(col("v_micro") > 0, expr(
          """CAST(floor((CAST(o0 AS DOUBLE)
            |  - CAST(e0_micro AS DOUBLE) / 1000000.0)
            |  / sqrt(CAST(v_micro AS DOUBLE) / 1000000.0)
            |  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""".stripMargin))
          .as("z_r")): _*)
      .withColumn("significant",
        when(col("z_r").isNotNull, abs(col("z_r")) > critZ))
  }

  /** Log-rank test (Mantel–Cox) — [[kaplanMeier]]'s significance
    * companion: does arm 0 convert at a different RATE than arm 1, over
    * the whole curve, censoring-honest? At each death time t the
    * hypergeometric expectation and variance of arm 0's deaths given
    * the combined risk set,
    *
    *   E₀(t) = d·n₀/n      V(t) = d·(n₀/n)·(n₁/n)·(n−d)/(n−1)
    *
    * each evaluated from EXACT integer counts through one fixed double
    * chain and round-half-up quantized to micro-units — floor(x·10⁶ +
    * 0.5) — BEFORE the cross-day sum (the PSI micro-nat rule — per-term
    * quantization keeps the sum order-independent), then
    * z = (O₀ − E₀)/sqrt(V) published at 4 dp
    * with the verdict against the caller's critical value. At-risk
    * counts come from exact integer cumulative windows over the
    * bounded duration grid — no recursion, no fold.
    *
    * Output: one row — n0/n1 (arm totals), o0/o1 (observed
    * conversions), e0_micro, v_micro, z_r, significant. Scale shape:
    * the per-user aggregate is the only data-sized shuffle; everything
    * after runs on the day-span-bounded grid (explicit constant
    * partition key — the bounded-input idiom).
    */
  def logRankTest(events: DataFrame, userCol: String, tsCol: String,
      eventType: String, critZ: Double = 1.96,
      typeCol: String = "event_type"): DataFrame = {
    val grid = kmDurationGrid(events, userCol, tsCol, eventType, typeCol)
      .localCheckpoint() // bounded (arm, duration) grid, two consumers
    logRankZ(survivalRiskSet(grid, stratified = false),
      grid.agg(
        coalesce(sum(when(col("arm") === 0, col("d") + col("c"))
          .otherwise(0L)), lit(0L)).as("n0_total"),
        coalesce(sum(when(col("arm") === 1, col("d") + col("c"))
          .otherwise(0L)), lit(0L)).as("n1_total")), critZ)
  }

  /** STRATIFIED log-rank — [[logRankTest]] with the standard confounder
    * control: if the arms' stratum mix differs (one arm over-drew from
    * a fast-converting acquisition channel), the plain test confounds
    * channel with treatment; stratifying computes every hypergeometric
    * E/V term against the STRATUM-LOCAL risk set and sums O−E and V
    * across strata before the single z — within-stratum comparisons
    * only, the Mantel–Haenszel construction. Same shared duration grid
    * ([[kmStratumGrid]]), same per-term micro-quantization rule, same
    * exact integer risk windows (now partitioned by stratum — still
    * bounded: |strata| ≤ |event types|).
    *
    * Output: one row — n_strata, o0, o1, e0_micro, v_micro, z_r,
    * significant.
    */
  def logRankStratified(events: DataFrame, userCol: String, tsCol: String,
      eventType: String, critZ: Double = 1.96,
      typeCol: String = "event_type"): DataFrame = {
    val grid = kmStratumGrid(events, userCol, tsCol, eventType, typeCol)
      .localCheckpoint() // bounded (stratum, arm, duration) grid
    logRankZ(survivalRiskSet(grid, stratified = true),
      grid.agg(countDistinct(col("stratum")).as("n_strata")), critZ)
  }

  /** Cox proportional-hazards SCORE at a fixed hazard ratio — the
    * regression member completing the survival family (KM curve,
    * Nelson–Aalen hazard, log-rank and stratified log-rank tests, now
    * the semi-parametric model): with the single binary covariate
    * x = arm and Breslow tie handling, the partial-likelihood score
    * and information at β = ln(hr) over the SAME [[kmStratumGrid]]
    * derivation (stratified baseline hazard — within-stratum risk
    * sets, the Mantel–Haenszel construction carried into the model)
    * are, at each (stratum, death time) with d deaths and exact
    * integer at-risk counts n0/n1,
    *
    *   U-term = d1 − d · (n1·hr)/(n0 + n1·hr)
    *   I-term = d · (n0·n1·hr)/(n0 + n1·hr)²
    *
    * each evaluated through one fixed double chain from exact integer
    * counts and round-half-up quantized to micro-units — floor(x·10⁶
    * + 0.5) — BEFORE the cross-time sum (the log-rank discipline; the
    * U-term can be negative, and floor round-half-up is toward +∞ on
    * both engines identically). At hr = 1 this IS the stratified
    * log-rank score; the default hr = 2 avoids transcendentals
    * entirely — e^β = 2.0 exactly, so operator and oracle share pure
    * integer-derived doubles with no exp/ln anywhere. z = U/sqrt(I)
    * published at 4 dp: a negative z at hr > 1 reads "arm 1's hazard
    * is LESS than hr × arm 0's"; the score test of H₀: β = ln(hr).
    *
    * Output: one row — n_strata, hr_pct (the fixed ratio in integer
    * percent), o0, o1 (observed conversions), u_micro, i_micro, z_r,
    * significant. Scale shape: identical to [[logRankStratified]] —
    * the per-user aggregate is the only data-sized shuffle; terms run
    * on the bounded (stratum, duration) grid.
    */
  def coxScore(events: DataFrame, userCol: String, tsCol: String,
      eventType: String, hr: Double = 2.0, critZ: Double = 1.96,
      typeCol: String = "event_type"): DataFrame = {
    require(hr > 0.0, s"hazard ratio must be positive, got $hr")
    val grid = kmStratumGrid(events, userCol, tsCol, eventType, typeCol)
      .localCheckpoint() // bounded (stratum, arm, duration) grid
    val risk = survivalRiskSet(grid, stratified = true)
    // hr inlined as its full decimal string so both engines parse the
    // identical IEEE double (the hllC constant discipline)
    val hrLit = java.lang.Double.toString(hr)
    val terms = risk.where(col("d0") + col("d1") > 0 &&
        col("n0") + col("n1") > 0)
      .withColumn("u_micro", expr(
        s"""CAST(floor((CAST(d1 AS DOUBLE)
           |  - CAST(d0 + d1 AS DOUBLE)
           |    * (CAST(n1 AS DOUBLE) * $hrLit)
           |    / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) * $hrLit))
           |  * 1000000.0 + 0.5) AS BIGINT)""".stripMargin))
      .withColumn("i_micro", expr(
        s"""CAST(floor(CAST(d0 + d1 AS DOUBLE)
           |  * (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) * $hrLit)
           |  / ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) * $hrLit)
           |    * (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) * $hrLit))
           |  * 1000000.0 + 0.5) AS BIGINT)""".stripMargin))
    terms.agg(
      coalesce(sum(col("d0")), lit(0L)).as("o0"),
      coalesce(sum(col("d1")), lit(0L)).as("o1"),
      coalesce(sum(col("u_micro")), lit(0L)).as("u_micro"),
      coalesce(sum(col("i_micro")), lit(0L)).as("i_micro"))
      .crossJoin(broadcast(grid.agg(
        countDistinct(col("stratum")).as("n_strata"))))
      .select(col("n_strata"),
        lit(math.round(hr * 100.0)).cast("long").as("hr_pct"),
        col("o0"), col("o1"), col("u_micro"), col("i_micro"),
        when(col("i_micro") > 0, expr(
          """CAST(floor(CAST(u_micro AS DOUBLE) / 1000000.0
            |  / sqrt(CAST(i_micro AS DOUBLE) / 1000000.0)
            |  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""".stripMargin))
          .as("z_r"))
      .withColumn("significant",
        when(col("z_r").isNotNull, abs(col("z_r")) > critZ))
  }

  /** Cox score PROFILE — [[coxScore]] evaluated at a ladder of hazard
    * ratios over ONE shared grid derivation (the cheap step from
    * testing toward estimation: the score U(β) is decreasing in β, so
    * the sign change between consecutive ladder points BRACKETS the
    * partial-likelihood MLE — a dashboard reads "the true hazard
    * ratio lies between 1× and 2×" without any iterative fitter):
    * ladder fixed at hr ∈ {½, 1, 2, 4} — all binary powers, so every
    * e^β is an EXACT double and the whole profile stays
    * transcendental-free (hr = 1 is the log-rank score; the ladder is
    * two octaves around it). Terms quantize per (stratum, time, hr)
    * through the same round-half-up micro chain as [[coxScore]].
    *
    * Output: one row per hr_pct ∈ {50, 100, 200, 400} — o0, o1,
    * u_micro, i_micro, z_r, and `brackets_mle` (this U > 0 and the
    * next ladder point's U ≤ 0 — the MLE bracket; NULL on the last
    * rung). Scale shape: the per-user aggregate is the only
    * data-sized shuffle; the ladder multiplies only the bounded grid.
    */
  def coxScoreProfile(events: DataFrame, userCol: String, tsCol: String,
      eventType: String,
      typeCol: String = "event_type"): DataFrame = {
    val grid = kmStratumGrid(events, userCol, tsCol, eventType, typeCol)
      .localCheckpoint() // bounded (stratum, arm, duration) grid
    val risk = survivalRiskSet(grid, stratified = true)
    val spark = events.sparkSession
    import spark.implicits._
    val ladder = Seq(50L, 100L, 200L, 400L).toDF("hr_pct")
    val terms = risk.where(col("d0") + col("d1") > 0 &&
        col("n0") + col("n1") > 0)
      .crossJoin(broadcast(ladder))
      // hr_pct/100.0 is an exact double for the binary-power ladder
      .withColumn("hrd", expr("CAST(hr_pct AS DOUBLE) / 100.0"))
      .withColumn("u_micro", expr(
        """CAST(floor((CAST(d1 AS DOUBLE)
          |  - CAST(d0 + d1 AS DOUBLE)
          |    * (CAST(n1 AS DOUBLE) * hrd)
          |    / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) * hrd))
          |  * 1000000.0 + 0.5) AS BIGINT)""".stripMargin))
      .withColumn("i_micro", expr(
        """CAST(floor(CAST(d0 + d1 AS DOUBLE)
          |  * (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) * hrd)
          |  / ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) * hrd)
          |    * (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) * hrd))
          |  * 1000000.0 + 0.5) AS BIGINT)""".stripMargin))
    val byHr = terms.groupBy(col("hr_pct"))
      .agg(coalesce(sum(col("d0")), lit(0L)).as("o0"),
        coalesce(sum(col("d1")), lit(0L)).as("o1"),
        coalesce(sum(col("u_micro")), lit(0L)).as("u_micro"),
        coalesce(sum(col("i_micro")), lit(0L)).as("i_micro"))
    val lad = Window.partitionBy(lit(1)).orderBy(col("hr_pct"))
    byHr
      .withColumn("z_r",
        when(col("i_micro") > 0, expr(
          """CAST(floor(CAST(u_micro AS DOUBLE) / 1000000.0
            |  / sqrt(CAST(i_micro AS DOUBLE) / 1000000.0)
            |  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""".stripMargin)))
      .withColumn("next_u", lead(col("u_micro"), 1).over(lad))
      .withColumn("brackets_mle",
        when(col("next_u").isNotNull,
          col("u_micro") > 0 && col("next_u") <= 0))
      .drop("next_u")
      .orderBy(col("hr_pct"))
  }

  /** Breslow baseline cumulative hazard at a fixed hazard ratio — the
    * estimator half of the Cox pair ([[coxScore]] tests β, this reads
    * the baseline the model implies at that β): per stratum and death
    * time, the increment dH₀(t) = d / Σ_{R(t)} e^{βx} = d / (n₀ +
    * n₁·hr), PURE INTEGER at the default hr = 2 — d·10⁶ DIV (n₀ +
    * 2·n₁), truncating DIV on exact counts, no doubles anywhere in
    * operator or oracle (the nelsonAalen discipline; at hr = 1 this IS
    * the stratified Nelson–Aalen) — and the cumulative is one window
    * over the bounded (stratum, duration) grid. Same shared
    * [[kmStratumGrid]], so score and baseline derive one truth.
    *
    * Only integral hr values keep the pure-integer contract (the
    * denominator must stay exact); enforced by taking hr as Long.
    *
    * Output: one row per (stratum, t_days) with a death — n0, n1, d,
    * h0_micro (the increment), h0_cum_micro (monotone non-decreasing
    * within the stratum). Scale shape: per-user aggregate is the only
    * data-sized shuffle; windows run per-stratum on the bounded grid.
    */
  def coxBaseline(events: DataFrame, userCol: String, tsCol: String,
      eventType: String, hr: Long = 2L,
      typeCol: String = "event_type"): DataFrame = {
    require(hr >= 1L, s"hazard ratio must be >= 1, got $hr")
    val grid = kmStratumGrid(events, userCol, tsCol, eventType, typeCol)
      .localCheckpoint() // bounded (stratum, arm, duration) grid
    val cum = Window.partitionBy(col("stratum")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivalRiskSet(grid, stratified = true)
      .withColumn("d", col("d0") + col("d1"))
      .withColumn("h0_micro",
        when(col("n0") + lit(hr) * col("n1") > 0,
          expr(s"(d * 1000000) DIV (n0 + $hr * n1)")).otherwise(lit(0L)))
      .withColumn("h0_cum_micro", sum(col("h0_micro")).over(cum))
      .where(col("d") > 0)
      .select(col("stratum"), col("t").as("t_days"), col("n0"), col("n1"),
        col("d").as("d_events"), col("h0_micro"), col("h0_cum_micro"))
      .orderBy(col("stratum"), col("t_days"))
  }

  /** Mann–Kendall monotonic-trend test + Theil–Sen slope — the ROBUST
    * twin of [[dailyTrend]]'s OLS line (one outlier day can own an OLS
    * slope; the rank test and the median slope shrug it off — the pair
    * a seasonality-wary dashboard reads): over each group's daily-count
    * panel,
    *
    *   S = Σ_{i<j} sign(y_j − y_i)            (PURE INTEGER)
    *   18·Var(S) = n(n−1)(2n+5) − Σ_k t_k(t_k−1)(2t_k+5)   (INTEGER;
    *     t_k = the size of the k-th tied-y group)
    *   z = (S∓1)/sqrt(Var)  (continuity-corrected, 0 when S = 0)
    *
    * and the Theil–Sen slope is the LOWER MEDIAN of the pairwise
    * slopes, each quantized micro round-half-up through one fixed
    * double chain on exact integers (position (m+1) DIV 2 under
    * slope_micro ASC — deterministic, no interpolation to diverge on).
    *
    * Output: one row per group — n_days, s, var18, z_r (4 dp),
    * trend ('increasing'/'decreasing'/'none' vs critZ; NULL when
    * var = 0), sen_micro. Scale shape: the daily aggregate is the only
    * data-sized shuffle; the pair frame is C(days, 2) per group —
    * day-span bounded (the dailyTrend contract), NOT corpus-sized.
    */
  def mannKendallTrend(events: DataFrame, typeCol: String, tsCol: String,
      critZ: Double = 1.96): DataFrame = {
    val daily = dailyPanel(events, typeCol, tsCol)
      .localCheckpoint() // bounded (type, day) panel, three consumers
    val n = daily.groupBy(col("t")).agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy(col("t"), col("y"))
      .agg(count(lit(1)).as("tk"))
      .groupBy(col("t"))
      .agg(sum(col("tk") * (col("tk") - 1) * (lit(2) * col("tk") + 5))
        .as("tie18"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.t") === col("b.t") && col("a.day") < col("b.day"))
      .select(col("a.t").as("t"),
        signum((col("b.y") - col("a.y")).cast("double")).cast("long")
          .as("sgn"),
        expr("""CAST(floor(CAST((b.y - a.y) AS DOUBLE) * 1000000.0
          |  / CAST(datediff(b.day, a.day) AS DOUBLE) + 0.5) AS BIGINT)"""
          .stripMargin).as("slope_micro"))
      .localCheckpoint() // C(days,2)-bounded pair frame, two consumers
    val s = pairs.groupBy(col("t"))
      .agg(sum(col("sgn")).as("s"), count(lit(1)).as("m"))
    val wSen = Window.partitionBy(col("t")).orderBy(col("slope_micro"))
    val sen = pairs
      .withColumn("rk", row_number().over(wSen))
      .join(s.select(col("t"), col("m")), "t")
      .where(col("rk").cast("long") === expr("(m + 1) DIV 2"))
      .select(col("t"), col("slope_micro").as("sen_micro"))
    n.join(ties, "t").join(s.drop("m"), "t").join(sen, "t")
      .select(col("t").as("group_key"), col("n_days"), col("s"),
        (col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5)
          - col("tie18")).as("var18"),
        col("sen_micro"))
      .withColumn("z_r",
        when(col("var18") > 0, expr(
          """CAST(floor((CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
            |  WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
            |  ELSE 0.0 END)
            |  / sqrt(CAST(var18 AS DOUBLE) / 18.0)
            |  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""".stripMargin)))
      .withColumn("trend",
        when(col("z_r").isNull, lit(null).cast("string"))
          .when(col("z_r") > critZ, lit("increasing"))
          .when(col("z_r") < -critZ, lit("decreasing"))
          .otherwise(lit("none")))
      .orderBy(col("group_key"))
  }

  /** Theil–Sen line + one-step-ahead forecast — the FORECAST half of
    * [[mannKendallTrend]] (MK says the trend is REAL; this says what
    * tomorrow should look like under it — the robust trending-series
    * baseline [[forecastBacktest]]'s naive/seasonal candidates both
    * miss, because each of those predicts a PAST value, never the
    * line's next point): over the same daily-count panel, with
    * x_i = days since the group's FIRST day (an exact integer),
    *
    *   sen_micro       = lower median of the pairwise slopes
    *                     (mannKendallTrend's statistic, re-derived on
    *                     the same quantization so the row is
    *                     self-contained)
    *   intercept_micro = lower median of (y_i·10⁶ − sen_micro·x_i)
    *                     — the standard Theil–Sen intercept, each
    *                     residual PURE INTEGER once sen_micro is fixed
    *   forecast_micro  = intercept_micro + sen_micro·(x_last + 1)
    *
    * Both medians are rank statistics — position (m+1) DIV 2 under
    * value ASC, row_number ties irrelevant because the SELECTED value
    * is order-invariant (the q_ppl_buckets rule: never interpolate).
    * The only doubles are mannKendallTrend's single slope-quantization
    * chain, written operation-identically in the oracle. Products
    * sen_micro·x stay exact in BIGINT through |slope|·span < 10¹⁹
    * (slope ≤ 10⁶·max daily count, span = the day axis — the welch
    * cast-cliff discipline; a 10⁹-events/day series with a 30-day
    * panel sits at 10¹⁷). Single-day groups have no pairs and drop
    * (a one-point series has no line — same contract as
    * mannKendallTrend's inner sen join).
    *
    * Output: one row per group — n_days, day_last, sen_micro,
    * intercept_micro, x_next, forecast_micro. Scale shape: the daily
    * aggregate is the only data-sized shuffle; the pair frame is
    * C(days, 2) per group (day-span bounded, never corpus) and both
    * median windows run on bounded frames.
    */
  def theilSenForecast(events: DataFrame, typeCol: String,
      tsCol: String): DataFrame = {
    val daily = dailyPanel(events, typeCol, tsCol)
      .localCheckpoint() // bounded (type, day) panel, two consumers
    val base = daily.groupBy(col("t"))
      .agg(min(col("day")).as("day0"), max(col("day")).as("day_last"),
        count(lit(1)).as("n_days"))
    val xd = daily.join(broadcast(base.select(col("t"), col("day0"))), "t")
      .select(col("t"), datediff(col("day"), col("day0")).cast("long")
        .as("x"), col("y"))
      .localCheckpoint() // bounded integer-x panel, two consumers
    val pairs = xd.as("a").join(xd.as("b"),
        col("a.t") === col("b.t") && col("a.x") < col("b.x"))
      .select(col("a.t").as("t"),
        expr("""CAST(floor(CAST(b.y - a.y AS DOUBLE) * 1000000.0
          |  / CAST(b.x - a.x AS DOUBLE) + 0.5) AS BIGINT)"""
          .stripMargin).as("slope_micro"))
    val m = pairs.groupBy(col("t")).agg(count(lit(1)).as("m"))
    val wS = Window.partitionBy(col("t")).orderBy(col("slope_micro"))
    val sen = pairs.withColumn("rk", row_number().over(wS))
      .join(m, "t")
      .where(col("rk").cast("long") === expr("(m + 1) DIV 2"))
      .select(col("t"), col("slope_micro").as("sen_micro"))
    val resid = xd.join(broadcast(sen), "t")
      .select(col("t"),
        (col("y") * 1000000L - col("sen_micro") * col("x")).as("r"))
    val wI = Window.partitionBy(col("t")).orderBy(col("r"))
    val icept = resid.withColumn("rk", row_number().over(wI))
      .join(base.select(col("t"), col("n_days")), "t")
      .where(col("rk").cast("long") === expr("(n_days + 1) DIV 2"))
      .select(col("t"), col("r").as("intercept_micro"))
    base.join(sen, "t").join(icept, "t")
      .select(col("t").as("group_key"), col("n_days"),
        col("day_last").cast("string").as("day_last"), col("sen_micro"),
        col("intercept_micro"),
        (datediff(col("day_last"), col("day0")).cast("long") + 1L)
          .as("x_next"))
      .withColumn("forecast_micro",
        col("intercept_micro") + col("sen_micro") * col("x_next"))
      .orderBy(col("group_key"))
  }

  /** New-vs-returning daily split — the growth dashboard's first row
    * ("is today's traffic NEW users or the same ones coming back?" —
    * [[cohortRetention]] shows the full matrix, THIS is the one-line
    * daily read): from the compact per-(user, day) activity frame, a
    * user is NEW on their first active day (min-day from ONE user
    * aggregate, joined back on the user key) and returning after;
    * per day the frame aggregates to active/new/returning users and
    * event masses, with new_share_bp = new·10⁴ DIV active exact
    * integer.
    *
    * Output: one row per observed day — day, active_users, new_users,
    * returning_users, new_share_bp, n_events, new_events. Scale
    * shape: the per-(user, day) aggregate and the user-keyed
    * first-day join are the two data-sized passes (both on the user
    * key — co-partitioned); the day frame is bounded.
    */
  def newVsReturning(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val ud = events
      .where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(userCol).as("u"), col(tsCol).cast("date").as("day"))
      .agg(count(lit(1)).as("n_ev"))
      .localCheckpoint() // per-(user, day) frame, two consumers
    val first = ud.groupBy(col("u")).agg(min(col("day")).as("d0"))
    ud.join(first, "u")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active_users"),
        sum(when(col("day") === col("d0"), 1L).otherwise(0L))
          .as("new_users"),
        sum(col("n_ev")).as("n_events"),
        sum(when(col("day") === col("d0"), col("n_ev")).otherwise(0L))
          .as("new_events"))
      .select(col("day").cast("string").as("day"), col("active_users"),
        col("new_users"),
        (col("active_users") - col("new_users")).as("returning_users"),
        expr("(new_users * 10000) DIV active_users").as("new_share_bp"),
        col("n_events"), col("new_events"))
      .orderBy(col("day"))
  }

  /** DAU/WAU stickiness per day — "of everyone active this week, how
    * many showed up TODAY?" (the engagement-frequency read the daily
    * split cannot give: flat DAU can hide a shift from daily habits
    * to weekly drive-bys): DAU(d) = distinct users on d; WAU(d) =
    * distinct users in [d−6, d], computed by fanning each (user,
    * active-day) row out to the 7 windows it supports (sequence +
    * explode — a bounded 7× expansion of the COMPACT per-(user, day)
    * frame, never of raw events) and de-duplicating;
    * stickiness_bp = dau·10⁴ DIV wau. Only observed days publish (a
    * day with no activity has no DAU row to anchor — the gap IS the
    * signal, same contract as [[gapFillDaily]]'s input).
    *
    * Output: one row per observed day — day, dau, wau,
    * stickiness_bp. Scale shape: per-(user, day) aggregate (data-
    * sized), one 7× fan-out + distinct on the compact frame, bounded
    * day aggregates.
    */
  def stickiness(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val ud = events
      .where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("u"), col(tsCol).cast("date").as("day"))
      .distinct()
      .localCheckpoint() // compact per-(user, day) frame, two consumers
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("u"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day").cast("string").as("day"), col("dau"), col("wau"),
        expr("(dau * 10000) DIV wau").as("stickiness_bp"))
      .orderBy(col("day"))
  }

  /** Minimum detectable effect per candidate metric — "if we split
    * today's users into two arms, what rate change could this metric
    * even SEE?" (the experiment-design row a platform publishes so
    * nobody launches an underpowered test: [[abMetrics]] reads an
    * experiment that ran, THIS says whether running one is worth it):
    * with n = all distinct users, n_t = distinct users touching the
    * metric (rate p = n_t/n), the classical two-proportion MDE at
    * α = .05 two-sided and 80% power is
    *
    *   MDE = (z_{α/2} + z_β)·√(2·p(1−p)/(n/2))
    *
    * with (1.96 + 0.8416) inlined once as the double literal 2.8016
    * (the hllC constant discipline), exact integer counts into ONE
    * double chain written operation-identically in the oracle, 4-bp
    * quantized. rel_mde_bp = mde·10⁴ DIV rate says it in relative
    * terms (the number product teams actually discuss). NULL when the
    * rate is 0 or 1 (no variance — nothing to power).
    *
    * Output: one row per metric type — n_users, n_t, rate_bp, mde_bp,
    * rel_mde_bp. Scale shape: two distinct aggregates (corpus-sized),
    * everything downstream groups-bounded.
    */
  def powerMde(events: DataFrame, typeCol: String,
      userCol: String): DataFrame = {
    val users = events.where(col(userCol).isNotNull)
      .agg(countDistinct(col(userCol)).as("n_users"))
    events.where(col(typeCol).isNotNull && col(userCol).isNotNull)
      .groupBy(col(typeCol).as("group_key"))
      .agg(countDistinct(col(userCol)).as("n_t"))
      .crossJoin(broadcast(users))
      .withColumn("rate_bp", expr("(n_t * 10000) DIV n_users"))
      .withColumn("mde_bp",
        when(col("n_t") > 0 && col("n_t") < col("n_users"), expr(
          """CAST(floor(2.8016
            |  * sqrt(2.0 * (CAST(n_t AS DOUBLE) / CAST(n_users AS DOUBLE))
            |    * (1.0 - CAST(n_t AS DOUBLE) / CAST(n_users AS DOUBLE))
            |    / (CAST(n_users AS DOUBLE) / 2.0))
            |  * 10000.0 + 0.5) AS BIGINT)""".stripMargin)))
      .withColumn("rel_mde_bp",
        when(col("mde_bp").isNotNull && col("rate_bp") > 0,
          expr("(mde_bp * 10000) DIV rate_bp")))
      .select(col("group_key"), col("n_users"), col("n_t"),
        col("rate_bp"), col("mde_bp"), col("rel_mde_bp"))
      .orderBy(col("group_key"))
  }

  /** Group-sequential A/B monitor with O'Brien–Fleming boundaries —
    * the peeking-safe readout ([[abMetrics]] assumes ONE look; a live
    * dashboard gets looked at daily, and five naive 1.96 looks spend
    * ~14% α — the OBF schedule is how real platforms let you watch):
    * users hash into two arms (the shared ab: rolling-hash fold), the
    * conversion metric is first-`convType`-event by look day, and per
    * look k = 1..5 the CUMULATIVE two-proportion z
    *
    *   z_k = (c₁/n₁ − c₀/n₀) / √(p̂(1−p̂)(1/n₀+1/n₁))
    *
    * (exact integer counts into one double chain, 4 dp) compares to
    * the classic K=5 OBF two-sided-.05 boundary inlined as literals —
    * 4.562, 3.226, 2.634, 2.281, 2.040 — so `crossed` is an
    * engine-identical compare of the ROUNDED z. stop_look (the first
    * crossing, NULL if none) rides every row: everything after it is
    * the counterfactual a fixed-horizon reader would have seen.
    * Entry = first event day in the window (cumulative enrollment —
    * n grows by look, the group-sequential shape). NULL z when an arm
    * is empty or p̂ ∈ {0, 1}.
    *
    * Output: one row per look — look, n0, n1, c0, c1, z_r, bound_r,
    * crossed, stop_look. Scale shape: ONE per-user aggregate
    * (data-sized), then per-(arm, day) bounded frames, the look spine,
    * and bounded windows.
    */
  def sequentialAb(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, convType: String = "purchase",
      startDay: String = "2024-01-08", looks: Int = 5): DataFrame = {
    require(looks == 5, "the inlined OBF boundary table is K = 5")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graftnative.RollingHash.rollingHash
    val start = lit(startDay).cast("date")
    val perUser = events
      .where(col(userCol).isNotNull && col(tsCol).isNotNull &&
        col(tsCol).cast("date") >= start &&
        col(tsCol).cast("date") < date_add(start, looks))
      .groupBy(col(userCol).as("u"))
      .agg(
        (datediff(min(col(tsCol).cast("date")), start) + 1)
          .cast("long").as("first_look"),
        (datediff(min(when(col(typeCol) === convType,
          col(tsCol).cast("date"))), start) + 1).cast("long")
          .as("conv_look"))
      .withColumn("arm",
        pmod(rollingHash(concat(lit("ab:"), col("u").cast("string"))),
          lit(2)).cast("long"))
    val enter = perUser.groupBy(col("arm"), col("first_look"))
      .agg(count(lit(1)).as("n"))
    val convs = perUser.where(col("conv_look").isNotNull)
      .groupBy(col("arm"), col("conv_look")).agg(count(lit(1)).as("c"))
    val spine = (1 to looks).map(_.toLong).toDF("look")
    val byLook = spine
      .join(enter.crossJoin(spine.select(col("look").as("k")))
        .where(col("first_look") <= col("k"))
        .groupBy(col("k").as("look"))
        .agg(sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n1")),
        Seq("look"), "left")
      .join(convs.crossJoin(spine.select(col("look").as("k")))
        .where(col("conv_look") <= col("k"))
        .groupBy(col("k").as("look"))
        .agg(sum(when(col("arm") === 0, col("c")).otherwise(0L)).as("c0"),
          sum(when(col("arm") === 1, col("c")).otherwise(0L)).as("c1")),
        Seq("look"), "left")
      .select(col("look"),
        coalesce(col("n0"), lit(0L)).as("n0"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("c0"), lit(0L)).as("c0"),
        coalesce(col("c1"), lit(0L)).as("c1"))
    val bounds = Seq(1L -> 4.562, 2L -> 3.226, 3L -> 2.634,
      4L -> 2.281, 5L -> 2.040).toDF("look", "bound_r")
    val z = byLook.join(broadcast(bounds), "look")
      .withColumn("z_r",
        when(col("n0") > 0 && col("n1") > 0 &&
          col("c0") + col("c1") > 0 &&
          col("c0") + col("c1") < col("n0") + col("n1"), expr(
          """CAST(floor((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            |    - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
            |  / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
            |    * (1.0 - CAST(c0 + c1 AS DOUBLE)
            |      / CAST(n0 + n1 AS DOUBLE))
            |    * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
            |  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""".stripMargin)))
      .withColumn("crossed",
        when(col("z_r").isNotNull, abs(col("z_r")) > col("bound_r")))
    val wAll = Window.partitionBy(lit(1))
    z.withColumn("stop_look",
      min(when(col("crossed"), col("look"))).over(wAll))
      .orderBy(col("look"))
  }

  /** Inter-arrival gap percentiles per group — the event-flow health
    * read ("is this feed's cadence what it was yesterday?" — a p99 gap
    * that doubles pages before a missing-data alert ever fires): gaps
    * between CONSECUTIVE events of the group in (ts, id) order,
    * quantized to ms, then p50/p90/p99/max as EXACT rank statistics
    * off the bounded (group, gap_ms) histogram — the smallest gap
    * whose cumulative count reaches ceil(n·q/100), by the integer
    * cross-compare cum·100 ≥ n·q (the q_ppl_buckets rule: value
    * selection, never interpolation).
    *
    * Output: one row per group — n_gaps, p50_ms, p90_ms, p99_ms,
    * max_ms. Scale shape: the per-group ordering window is the one
    * data-sized pass (partitioned by group — no global sort); the
    * histogram, cumulative window, and selections are gap-value
    * bounded.
    */
  def interarrivalPercentiles(events: DataFrame, typeCol: String,
      tsCol: String, idCol: String): DataFrame = {
    val gaps = events
      .where(col(typeCol).isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull)
      .select(col(typeCol).as("t"),
        unix_micros(col(tsCol).cast("timestamp")).as("us"),
        col(idCol).as("id"))
      .withColumn("gap_ms",
        expr("(us - lag(us) OVER (PARTITION BY t ORDER BY us ASC, id ASC)) DIV 1000"))
      .where(col("gap_ms").isNotNull)
    val hist = gaps.groupBy(col("t"), col("gap_ms"))
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy(col("t")).orderBy(col("gap_ms").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("t"))
    hist
      .withColumn("cum", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(tot))
      .groupBy(col("t"))
      .agg(max(col("n")).as("n_gaps"),
        min(when(col("cum") * 100 >= col("n") * 50, col("gap_ms")))
          .as("p50_ms"),
        min(when(col("cum") * 100 >= col("n") * 90, col("gap_ms")))
          .as("p90_ms"),
        min(when(col("cum") * 100 >= col("n") * 99, col("gap_ms")))
          .as("p99_ms"),
        max(col("gap_ms")).as("max_ms"))
      .select(col("t").as("group_key"), col("n_gaps"), col("p50_ms"),
        col("p90_ms"), col("p99_ms"), col("max_ms"))
      .orderBy(col("group_key"))
  }

  /** Two-window Poisson rate test per group — did this type's event
    * RATE change significantly window-over-window? ([[periodMovers]]
    * reports the share shift, THIS says whether the shift clears
    * noise — the difference between "clicks moved 2%" and "clicks
    * moved, p < .05"): with k₁, k₂ the exact window counts from ONE
    * range-pruned scan (conditional aggregation — the scan reads
    * [p1Start, p2EndExcl) once, predicate pushed to parquet),
    *
    *   z = (k₂ − k₁) / √(k₁ + k₂)
    *
    * — the classical conditional test (given k₁+k₂ = n, k₂ ~
    * Binomial(n, ½) under equal rates; this is its normal
    * approximation, exact integers into one sqrt chain written
    * operation-identically in the oracle, 4 dp). Windows must be
    * equal-length for the ½ null — callers pass aligned weeks.
    * ratio_bp = k₂·10⁴ DIV k₁ rides along (NULL when k₁ = 0). NULL z
    * when both windows are empty; the verdict compares the ROUNDED z
    * to ±1.96 ('up' / 'down' / 'stable').
    *
    * Output: one row per group — k1, k2, ratio_bp, z_r, verdict.
    * Scale shape: one aggregate over the pruned range to a
    * groups-bounded frame.
    */
  def poissonRateTest(events: DataFrame, typeCol: String, tsCol: String,
      p1Start: String, p2Start: String, p2EndExcl: String): DataFrame = {
    val cut = lit(p2Start).cast("timestamp")
    events
      .where(col(typeCol).isNotNull &&
        col(tsCol) >= lit(p1Start).cast("timestamp") &&
        col(tsCol) < lit(p2EndExcl).cast("timestamp"))
      .groupBy(col(typeCol).as("group_key"))
      .agg(sum(when(col(tsCol) < cut, 1L).otherwise(0L)).as("k1"),
        sum(when(col(tsCol) >= cut, 1L).otherwise(0L)).as("k2"))
      .withColumn("ratio_bp",
        when(col("k1") > 0, expr("(k2 * 10000) DIV k1")))
      .withColumn("z_r",
        when(col("k1") + col("k2") > 0, expr(
          """CAST(floor(CAST(k2 - k1 AS DOUBLE)
            |  / sqrt(CAST(k1 + k2 AS DOUBLE))
            |  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""".stripMargin)))
      .withColumn("verdict",
        when(col("z_r").isNull, lit(null).cast("string"))
          .when(col("z_r") > 1.96, lit("up"))
          .when(col("z_r") < -1.96, lit("down"))
          .otherwise(lit("stable")))
      .orderBy(col("group_key"))
  }

  /** Chapman capture–recapture estimate per group — how many distinct
    * users does this type REALLY have, counting the ones neither
    * window saw? (every overlap audit here — Jaccard, KMV, HLL —
    * measures the SEEN; mark–recapture estimates the UNSEEN, the
    * question behind "is our weekly reach saturating?"): with n₁, n₂
    * the distinct users in each window and m the users in BOTH (one
    * per-(group, user) aggregate carrying two window flags — never a
    * users² join),
    *
    *   N̂ = (n₁+1)(n₂+1) DIV (m+1) − 1     (Chapman's estimator —
    *        PURE INTEGER, the +1s make it div-zero-proof and nearly
    *        unbiased when n₁+n₂ ≥ N)
    *
    * seen = n₁+n₂−m rides along, and coverage_bp = seen·10⁴ DIV N̂
    * (how much of the estimated population the fortnight actually
    * touched). The independence assumption is the estimator's usual
    * one — documented, not hidden: users whose window-2 presence
    * correlates with window-1 presence bias N̂ low.
    *
    * Output: one row per group — n1, n2, m, chapman, seen,
    * coverage_bp. Scale shape: the per-(group, user) aggregate is the
    * only data-sized shuffle; everything downstream is groups-bounded.
    */
  def captureRecapture(events: DataFrame, typeCol: String,
      userCol: String, tsCol: String, p1Start: String, p2Start: String,
      p2EndExcl: String): DataFrame = {
    val cut = lit(p2Start).cast("timestamp")
    val perUser = events
      .where(col(typeCol).isNotNull && col(userCol).isNotNull &&
        col(tsCol) >= lit(p1Start).cast("timestamp") &&
        col(tsCol) < lit(p2EndExcl).cast("timestamp"))
      .groupBy(col(typeCol).as("group_key"), col(userCol).as("u"))
      .agg(max(when(col(tsCol) < cut, 1L).otherwise(0L)).as("in1"),
        max(when(col(tsCol) >= cut, 1L).otherwise(0L)).as("in2"))
    perUser.groupBy(col("group_key"))
      .agg(sum(col("in1")).as("n1"), sum(col("in2")).as("n2"),
        sum(col("in1") * col("in2")).as("m"))
      .withColumn("chapman",
        expr("((n1 + 1) * (n2 + 1)) DIV (m + 1) - 1"))
      .withColumn("seen", col("n1") + col("n2") - col("m"))
      .withColumn("coverage_bp",
        when(col("chapman") > 0, expr("(seen * 10000) DIV chapman")))
      .orderBy(col("group_key"))
  }

  /** Sample L-moments of each group's value distribution — the ROBUST
    * shape summary (mean, L-CV, L-skewness) that replaces fragile
    * classical moments for monitoring ("did the DISTRIBUTION of order
    * values change shape?" — a σ/skewness alarm is owned by one whale
    * row, the L-ratios move linearly in the data so they page on real
    * shape change): from the bounded (group, cents) value histogram
    * with cb = the count strictly below each distinct value, the three
    * rank-weighted sums are EXACT per tie-block
    *
    *   A  = Σ v·c
    *   B2 = Σ v·(2·c·cb + c(c−1))            (= 2·Σ (i−1)·x_(i))
    *   C3 = Σ v·(m₊(m₊−1)(m₊−2) − cb(cb−1)(cb−2)),  m₊ = cb+c
    *        (= 3·Σ (i−1)(i−2)·x_(i))
    *
    * — kept at 2× and 3× scale so every sum is a pure integer PRODUCT
    * (no mid-plan decimal division to pick up fractional scale); the
    * factors fold back in the ratio algebra. Ties permute equal values
    * — the sums cannot see the order. The published ratios are single
    * guarded integer DIVs: l1_micro = A·10⁶ DIV n,
    * t2 = (B2 − (n−1)A)/((n−1)A), and
    * t3 = (2C3 − 3(n−2)B2 + (n−1)(n−2)A)/((n−2)(B2 − (n−1)A)) with
    * the signed numerator through the magnitude-DIV-re-sign guard (Spark
    * truncates, DuckDB floors — the stlDecompose rule). t2 needs a
    * POSITIVE total (L-CV is a non-negative-domain statistic — NULL
    * when A ≤ 0, documented not hidden); t3 NULL when λ₂ = 0 (a
    * point mass has no shape). Exact through v_max·n³ < 3·10³⁸ —
    * aggregate to entities first beyond ~10¹¹ rows per group.
    *
    * Output: one row per group — n, l1_micro, t2_micro, t3_micro.
    * Scale shape: one corpus aggregate to the bounded histogram (the
    * scoreHistCum discipline); weights and ratios run on the bounded
    * frame.
    */
  def lmomentsValues(events: DataFrame, typeCol: String,
      valueCol: String): DataFrame = {
    val hist = events
      .where(col(typeCol).isNotNull && col(valueCol).isNotNull)
      .select(col(typeCol).as("t"),
        (col(valueCol).cast("decimal(18,2)") * 100).cast("long").as("v"))
      .groupBy(col("t"), col("v")).agg(count(lit(1)).as("c"))
    val wb = Window.partitionBy(col("t")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val blocks = hist
      .withColumn("cb", coalesce(sum(col("c")).over(wb), lit(0L)))
      .select(col("t"), col("v").cast("decimal(38,0)").as("v"),
        col("c").cast("decimal(38,0)").as("c"),
        col("cb").cast("decimal(38,0)").as("cb"))
    // b2 = 2B and c3 = 3C keep every sum a pure integer PRODUCT (a
    // decimal division mid-plan would pick up fractional scale); the
    // 2x/3x factors fold into the ratio algebra below
    val agg = blocks.groupBy(col("t")).agg(
      sum(col("c")).as("n"),
      sum(col("v") * col("c")).as("a"),
      sum(col("v") * (lit(2) * col("c") * col("cb") +
        col("c") * (col("c") - 1))).as("b2"),
      sum(col("v") * (
        (col("cb") + col("c")) * (col("cb") + col("c") - 1) *
          (col("cb") + col("c") - 2) -
        col("cb") * (col("cb") - 1) * (col("cb") - 2))).as("c3"))
    agg
      .select(col("t").as("group_key"), col("n").cast("long").as("n"),
        expr("CAST((a * 1000000) DIV n AS BIGINT)").as("l1_micro"),
        expr("""CASE WHEN n >= 2 AND a > 0 THEN
          |  CAST(((b2 - (n - 1) * a) * 1000000)
          |    DIV ((n - 1) * a) AS BIGINT) END""".stripMargin)
          .as("t2_micro"),
        expr("""CASE WHEN n >= 3 AND b2 - (n - 1) * a > 0 THEN
          |  CAST(CASE
          |    WHEN 2 * c3 - 3 * (n - 2) * b2 + (n - 1) * (n - 2) * a >= 0
          |    THEN ((2 * c3 - 3 * (n - 2) * b2 + (n - 1) * (n - 2) * a)
          |      * 1000000) DIV ((n - 2) * (b2 - (n - 1) * a))
          |    ELSE -(((-(2 * c3 - 3 * (n - 2) * b2
          |      + (n - 1) * (n - 2) * a)) * 1000000)
          |      DIV ((n - 2) * (b2 - (n - 1) * a)))
          |  END AS BIGINT) END""".stripMargin).as("t3_micro"))
      .orderBy(col("group_key"))
  }

  /** Fano factor (index of dispersion) of each group's daily counts —
    * IS this series Poisson-like, or bursty? (the one number that says
    * whether [[poissonRateTest]]'s Poisson null is even plausible for
    * this type, and the standard overdispersion screen before anyone
    * fits a rate model): with n days, S = Σy, Q = Σy²,
    *
    *   Fano = Var/mean = (n·Q − S²) / (n·S)
    *
    * — population variance over mean, PURE INTEGER in micro-units via
    * one non-negative DIV on decimal(38,0)/HUGEINT products (the
    * numerator is n²·σ², non-negative by Cauchy–Schwarz; exact through
    * S² ·10⁶ < 10³⁸). mean_micro = S·10⁶ DIV n rides along. A Poisson
    * process reads ≈ 10⁶; the verdict uses the conventional wide bands
    * — 'overdispersed' above 1.5, 'underdispersed' below 0.5,
    * 'poisson-like' between — as pure integer compares. NULL when
    * S = 0 (no events, no dispersion to measure).
    *
    * Output: one row per group — n_days, mean_micro, fano_micro,
    * verdict. Scale shape: the daily aggregate is the only data-sized
    * shuffle; the moment aggregate runs on the bounded panel.
    */
  def fanoDaily(events: DataFrame, typeCol: String,
      tsCol: String): DataFrame = {
    dailyPanel(events, typeCol, tsCol)
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("y")).cast("decimal(38,0)").as("s"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("q"))
      .select(col("t").as("group_key"), col("n_days"),
        expr("CAST((s * 1000000) DIV n_days AS BIGINT)").as("mean_micro"),
        expr("""CASE WHEN s > 0 THEN
          |  CAST(((n_days * q - s * s) * 1000000) DIV (n_days * s)
          |    AS BIGINT) END""".stripMargin).as("fano_micro"))
      .withColumn("verdict",
        when(col("fano_micro").isNull, lit(null).cast("string"))
          .when(col("fano_micro") > 1500000L, lit("overdispersed"))
          .when(col("fano_micro") < 500000L, lit("underdispersed"))
          .otherwise(lit("poisson-like")))
      .orderBy(col("group_key"))
  }

  /** Wald–Wolfowitz runs test on each group's daily series — IS the
    * series random around its level, or does it cluster/oscillate?
    * (the one-number check that catches both a regime shift — long
    * runs, too FEW run changes — and a sawtooth ingest artifact — too
    * MANY; [[mannKendallTrend]] asks "monotone?", this asks "random at
    * all?"): each day flags above (y > med) or below (ties BELOW by
    * convention — documented, deterministic) its group's LOWER-MEDIAN
    * daily count (rank statistic at position (n+1) DIV 2 — the
    * q_ppl_buckets rule), R = the number of maximal same-flag runs in
    * day order, and with p = 2·n₁·n₂ the standardized statistic is
    *
    *   z = (n·(R−1) − p) / √(p·(p−n)/(n−1))
    *
    * (algebraically (R−μ)/σ with μ = 1 + p/n, σ² = p(p−n)/(n²(n−1)) —
    * rearranged so the NUMERATOR is an exact integer and the only
    * doubles are one product/quotient/sqrt chain written operation-
    * identically in the oracle, 4 dp). NULL z when σ² = 0 (p ≤ n —
    * covers an empty side and the 1-vs-1 degenerate). The verdict
    * compares the ROUNDED z to ±1.96: fewer runs than expected
    * (z < −1.96) reads 'clustered', more reads 'oscillating', else
    * 'random' — engine-identical by construction.
    *
    * Output: one row per group — n_days, n_above, n_below, runs, z_r,
    * verdict. Scale shape: the daily aggregate is the only data-sized
    * shuffle; the median rank, lag, and run count run on the bounded
    * panel.
    */
  def runsTestDaily(events: DataFrame, typeCol: String,
      tsCol: String): DataFrame = {
    val daily = dailyPanel(events, typeCol, tsCol)
      .localCheckpoint() // bounded panel, three consumers
    val n = daily.groupBy(col("t")).agg(count(lit(1)).as("n_days"))
    val wMed = Window.partitionBy(col("t")).orderBy(col("y"))
    val med = daily.withColumn("rk", row_number().over(wMed))
      .join(n, "t")
      .where(col("rk").cast("long") === expr("(n_days + 1) DIV 2"))
      .select(col("t"), col("y").as("med"))
    val wDay = Window.partitionBy(col("t")).orderBy(col("day"))
    val flagged = daily.join(broadcast(med), "t")
      .select(col("t"), col("day"), (col("y") > col("med")).as("ab"))
      .withColumn("prev", lag(col("ab"), 1).over(wDay))
    val agg = flagged.groupBy(col("t")).agg(
      sum(when(col("ab"), 1L).otherwise(0L)).as("n_above"),
      sum(when(!col("ab"), 1L).otherwise(0L)).as("n_below"),
      sum(when(col("prev").isNull || col("prev") =!= col("ab"), 1L)
        .otherwise(0L)).as("runs"))
    n.join(agg, "t")
      .select(col("t").as("group_key"), col("n_days"), col("n_above"),
        col("n_below"), col("runs"),
        (lit(2L) * col("n_above") * col("n_below")).as("p"))
      .withColumn("z_r",
        when(col("p") > col("n_days"), expr(
          """CAST(floor(CAST(n_days * (runs - 1) - p AS DOUBLE)
            |  / sqrt(CAST(p AS DOUBLE) * CAST(p - n_days AS DOUBLE)
            |    / CAST(n_days - 1 AS DOUBLE))
            |  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""".stripMargin)))
      .withColumn("verdict",
        when(col("z_r").isNull, lit(null).cast("string"))
          .when(col("z_r") < -1.96, lit("clustered"))
          .when(col("z_r") > 1.96, lit("oscillating"))
          .otherwise(lit("random")))
      .drop("p")
      .orderBy(col("group_key"))
  }

  /** Daily-series autocorrelation at the diagnostic lags — lag 1 (does
    * today echo yesterday?) and lag 7 (is there weekly structure?),
    * the two numbers that justify [[stlDecompose]]'s seasonal model
    * and [[forecastBacktest]]'s candidate set before either runs: over
    * each group's day-ordered panel at ROW positions (present days —
    * the 63b edge convention),
    *
    *   r_k = Σ_{t≤n−k} (n·y_t − S)(n·y_{t+k} − S)
    *       / Σ_{t≤n}   (n·y_t − S)²
    *
    * — the standard ACF with the mean cleared by n-scaling, so BOTH
    * sums are EXACT integers (decimal(38,0)/HUGEINT — (n·y)² passes
    * long once n·y_max > 3·10⁹; published certificates cast to BIGINT
    * with the usual 10¹⁹ cliff) and the only double is the final
    * 4-dp quotient written operation-identically in the oracle. NULL
    * num and r when the series is shorter than the lag; NULL r when
    * the series is constant (den = 0).
    *
    * Output: one row per (group, lag) — lag, n_days, num, den, ac_r.
    * Scale shape: the daily aggregate is the only data-sized shuffle;
    * the position self-join runs on the bounded panel.
    */
  def autocorrDaily(events: DataFrame, typeCol: String, tsCol: String,
      lags: Seq[Int] = Seq(1, 7)): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), s"bad lags $lags")
    val spark = events.sparkSession
    import spark.implicits._
    val daily = dailyPanel(events, typeCol, tsCol)
    val wDay = Window.partitionBy(col("t")).orderBy(col("day"))
    val stats = Window.partitionBy(col("t"))
    val base = daily
      .withColumn("i", row_number().over(wDay).cast("long"))
      .withColumn("n_days", count(lit(1)).over(stats))
      .withColumn("s", sum(col("y")).over(stats))
      .select(col("t"), col("i"), col("n_days"),
        (col("n_days") * col("y") - col("s")).cast("decimal(38,0)")
          .as("d"))
      .localCheckpoint() // bounded centered panel, three consumers
    val den = base.groupBy(col("t"))
      .agg(max(col("n_days")).as("n_days"),
        sum(col("d") * col("d")).cast("long").as("den"))
    val spine = den.crossJoin(
      broadcast(lags.toDF("lag").select(col("lag").cast("long"))))
    // one linear lag window per k on the bounded panel (no pair
    // frame); a series shorter than k lags to all-NULL -> NULL num
    val wPos = Window.partitionBy(col("t")).orderBy(col("i"))
    val nums = lags.map { k =>
      base.withColumn("dk", lag(col("d"), k).over(wPos))
        .groupBy(col("t"))
        .agg(sum(col("d") * col("dk")).cast("long").as("num"))
        .withColumn("lag", lit(k.toLong))
    }.reduce(_ unionByName _)
    spine.join(nums, Seq("t", "lag"), "left")
      .select(col("t").as("group_key"), col("lag"), col("n_days"),
        col("num"), col("den"))
      .withColumn("ac_r",
        when(col("num").isNotNull && col("den") > 0, expr(
          """CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
            |  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""".stripMargin)))
      .orderBy(col("group_key"), col("lag"))
  }

  /** Spearman rank correlation between each group's daily event COUNT
    * and daily value MASS — "are high-traffic days also high-revenue
    * days, monotonically?" (Pearson on levels is owned by whale days;
    * the rank correlation is the version a dashboard can trust): over
    * the bounded (group, day) panel, midranks in 2× units so ties stay
    * EXACT INTEGER — rank2 = 2·rank + t − 1 (= twice the average rank:
    * rank() = c_below + 1 and t = the tie-group size), then Pearson on
    * the integer rank pairs:
    *
    *   num  = n·Σab − Σa·Σb
    *   dena = n·Σa² − (Σa)²,  denb = n·Σb² − (Σb)²   (all exact)
    *   rho  = num / √(dena·denb)                      (4 dp, one
    *          double chain written operation-identically in the oracle)
    *
    * NULL rho when either series is constant (den = 0 — surfacing it
    * beats dividing by zero). The integer accumulators hold exactly
    * through 4·n_days⁴ < 2⁶³ (a decade of days sits at ~10¹⁵).
    *
    * Output: one row per group — n_days, num, dena, denb (the exact
    * certificates), rho_r. Scale shape: the daily aggregate is the
    * only data-sized shuffle; ranks and sums run on the bounded panel.
    */
  def spearmanDaily(events: DataFrame, typeCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val daily = dailyPanel(events, typeCol, tsCol, ys = countAndCents(valueCol))
    val ranked = daily
      .withColumn("ra", rank().over(Window.partitionBy(col("t"))
        .orderBy(col("ya"))).cast("long") * 2
        + count(lit(1)).over(Window.partitionBy(col("t"), col("ya"))) - 1)
      .withColumn("rb", rank().over(Window.partitionBy(col("t"))
        .orderBy(col("yb"))).cast("long") * 2
        + count(lit(1)).over(Window.partitionBy(col("t"), col("yb"))) - 1)
    ranked.groupBy(col("t"))
      .agg(count(lit(1)).as("n"), sum(col("ra")).as("sa"),
        sum(col("rb")).as("sb"), sum(col("ra") * col("rb")).as("sab"),
        sum(col("ra") * col("ra")).as("saa"),
        sum(col("rb") * col("rb")).as("sbb"))
      .select(col("t").as("group_key"), col("n").as("n_days"),
        (col("n") * col("sab") - col("sa") * col("sb")).as("num"),
        (col("n") * col("saa") - col("sa") * col("sa")).as("dena"),
        (col("n") * col("sbb") - col("sb") * col("sb")).as("denb"))
      .withColumn("rho_r",
        when(col("dena") > 0 && col("denb") > 0, expr(
          """CAST(floor(CAST(num AS DOUBLE)
            |  / sqrt(CAST(dena AS DOUBLE) * CAST(denb AS DOUBLE))
            |  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""".stripMargin)))
      .orderBy(col("group_key"))
  }

  /** Kendall τ-b between the same two daily series [[spearmanDaily]]
    * ranks — the pair-counting view of the same question (Spearman
    * reads rank DISTANCE, τ reads pair ORDER agreement; τ's nearer-
    * Gaussian small-n null makes it the robustness cross-check):
    *
    *   S  = Σ_{i<j} sign(a_j−a_i)·sign(b_j−b_i)     (PURE INTEGER)
    *   n0 = n(n−1)/2,  n1 = Σ tₐ(tₐ−1)/2,  n2 = Σ t_b(t_b−1)/2
    *   τ_b = S / √((n0−n1)·(n0−n2))                 (4 dp, one
    *         double chain written operation-identically in the oracle)
    *
    * NULL τ when either series is all-tied (n0 = n1 or n0 = n2). The
    * pair frame is C(days, 2) per group — day-span bounded, never
    * corpus (the mannKendallTrend contract).
    *
    * Output: one row per group — n_days, s, n0, n1, n2, tau_r.
    */
  def kendallTauDaily(events: DataFrame, typeCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val daily = dailyPanel(events, typeCol, tsCol, ys = countAndCents(valueCol))
      .localCheckpoint() // bounded panel, three consumers
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.t") === col("b.t") && col("a.day") < col("b.day"))
      .select(col("a.t").as("t"),
        (signum((col("b.ya") - col("a.ya")).cast("double")).cast("long") *
          signum((col("b.yb") - col("a.yb")).cast("double")).cast("long"))
          .as("sgn"))
    val s = pairs.groupBy(col("t"))
      .agg(sum(col("sgn")).as("s"), count(lit(1)).as("n0"))
    val tiesA = daily.groupBy(col("t"), col("ya"))
      .agg(count(lit(1)).as("tk"))
      .groupBy(col("t"))
      .agg(expr("CAST(sum(tk * (tk - 1)) DIV 2 AS BIGINT)").as("n1"))
    val tiesB = daily.groupBy(col("t"), col("yb"))
      .agg(count(lit(1)).as("tk"))
      .groupBy(col("t"))
      .agg(expr("CAST(sum(tk * (tk - 1)) DIV 2 AS BIGINT)").as("n2"))
    val n = daily.groupBy(col("t")).agg(count(lit(1)).as("n_days"))
    n.join(s, "t").join(tiesA, "t").join(tiesB, "t")
      .select(col("t").as("group_key"), col("n_days"), col("s"),
        col("n0"), col("n1"), col("n2"))
      .withColumn("tau_r",
        when(col("n0") > col("n1") && col("n0") > col("n2"), expr(
          """CAST(floor(CAST(s AS DOUBLE)
            |  / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))
            |  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""".stripMargin)))
      .orderBy(col("group_key"))
  }

  /** Benford first-digit audit — the classic scale-invariant
    * data-quality / fraud screen (naturally-grown magnitude data
    * follows P(d) = log₁₀(1 + 1/d); fabricated, capped, or
    * unit-mangled loads do not — the ONE distributional test an
    * ingest gate can run with zero reference data): per leading digit
    * of floor(value) over rows with value ≥ 1, the observed share in
    * micro-units (n·10⁶ DIV total — exact integer) against the
    * Benford expectation inlined as nine micro LITERALS (quantized
    * once here, identically parsed by the oracle — the hllC constant
    * discipline; they sum to exactly 10⁶), the signed deviation, and
    * the per-digit absolute deviation's contribution to the total
    * variation distance. Digits with zero rows still publish (the
    * 9-row frame is the audit's fixed shape).
    *
    * Output: 9 rows — digit, n, share_micro, benford_micro,
    * dev_micro (signed), plus n_total riding each row. Scale shape:
    * ONE map-side-combinable aggregate to the 9-row frame; everything
    * after is bounded arithmetic.
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    // log10(1 + 1/d) round-half-up at 6 dp; the nine literals sum to
    // exactly 1e6 so the audit's shares and expectations share a scale
    val benford = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
      9 -> 45757L)
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .where(col(valueCol).isNotNull && col(valueCol) >= 1)
      .select(substring(floor(col(valueCol)).cast("long").cast("string"),
        1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val frame = benford.toDF("digit", "benford_micro")
      .select(col("digit").cast("long"), col("benford_micro"))
    frame.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("benford_micro"))
      .crossJoin(broadcast(counts.agg(sum(col("n")).as("n_total"))))
      .withColumn("share_micro",
        when(col("n_total") > 0, expr("(n * 1000000) DIV n_total"))
          .otherwise(lit(0L)))
      .select(col("digit"), col("n"), col("n_total"), col("share_micro"),
        col("benford_micro"),
        (col("share_micro") - col("benford_micro")).as("dev_micro"))
      .orderBy(col("digit"))
  }

  /** Day-of-week anomaly bands — the GATE [[stlDecompose]] informs (the
    * decomposition says Mondays run low; this says THIS Monday is low
    * even for a Monday): each day's count is judged against its OWN
    * dow panel's mean ± 2σ, with the whole comparison PURE INTEGER —
    * no sqrt, no division:
    *
    *   flagged  ⇔  (y·n_d − s_d)² > 4 · (n_d·q_d − s_d²)
    *
    * (both sides exact decimal off integer day counts: the left is
    * (n_d·(y − μ))², the right is 4·n_d²·σ² — the Welch
    * exact-numerator discipline applied to the variance gate; a
    * one-day dow panel can never flag — its sole day IS the mean, so
    * both sides are zero and the strict > stays false; n_dow rides
    * the row so a consumer can gate on panel depth). mean_micro
    * publishes the dow mean for the dashboard (Σ·10⁶ DIV n).
    *
    * Output: one row per (group, day) — y, dow (0=Sunday), n_dow,
    * mean_micro, flagged. Scale shape: the daily aggregate is the
    * only data-sized shuffle; the dow windows run on the bounded
    * panel.
    */
  def dowAnomalyBands(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame = {
    val daily = dailyPanel(events, groupCol, tsCol, key = "g")
      .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
    val dowW = Window.partitionBy(col("g"), col("dow"))
    daily
      .withColumn("n_dow", count(lit(1)).over(dowW))
      .withColumn("s_d", sum(col("y")).over(dowW))
      .withColumn("q_d", sum(col("y") * col("y")).over(dowW))
      .select(col("g").as("group_key"),
        col("day").cast("string").as("day"), col("y"), col("dow"),
        col("n_dow"),
        expr("(s_d * 1000000) DIV n_dow").as("mean_micro"),
        expr("""(CAST(y AS DECIMAL(19,0)) * n_dow - s_d)
          |  * (CAST(y AS DECIMAL(19,0)) * n_dow - s_d)
          |  > 4 * (CAST(n_dow AS DECIMAL(19,0)) * q_d
          |      - CAST(s_d AS DECIMAL(19,0)) * s_d)""".stripMargin)
          .as("flagged"))
      .orderBy(col("group_key"), col("day"))
  }

  /** Forecast-baseline BACKTEST — which alerting baseline should a
    * monitor use for each series? ([[stlDecompose]] explains the
    * series; this picks the predictor): over each group's daily-count
    * panel, score the two classical no-training baselines
    *
    *   naive       yhat_t = y_{t−1}        (yesterday)
    *   seasonal    yhat_t = y_{t−7}        (same weekday last week)
    *
    * by mean absolute error over the days where BOTH predictors exist
    * (one shared scored-day set — the comparison is apples-to-apples
    * by construction), each MAE an exact integer micro mean
    * (Σ|err|·10⁶ DIV n — the established integer-mean discipline).
    * `winner` names the lower-MAE baseline ('tie' on exact equality —
    * deterministic, no float compare). A series whose seasonal MAE
    * beats naive has real weekly structure (alert on dow-adjusted
    * levels); the reverse means yesterday is the better anchor.
    *
    * Lag semantics are ROW lags over present days (the stlDecompose
    * edge convention — a gapless fixture makes them calendar lags).
    * Output: one row per group — n_days, n_scored, mae_naive_micro,
    * mae_seasonal_micro, winner. Scale shape: the daily aggregate is
    * the only data-sized shuffle; lags and means run on the bounded
    * panel.
    */
  def forecastBacktest(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame = {
    val daily = dailyPanel(events, groupCol, tsCol, key = "g")
    val byDay = Window.partitionBy(col("g")).orderBy(col("day"))
    val scored = daily
      .withColumn("y1", lag(col("y"), 1).over(byDay))
      .withColumn("y7", lag(col("y"), 7).over(byDay))
      .localCheckpoint() // bounded panel, two consumers
    val n = scored.groupBy(col("g")).agg(count(lit(1)).as("n_days"))
    scored.where(col("y1").isNotNull && col("y7").isNotNull)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("y") - col("y1"))).as("ae1"),
        sum(abs(col("y") - col("y7"))).as("ae7"))
      .join(n, "g")
      .select(col("g").as("group_key"), col("n_days"), col("n_scored"),
        expr("(ae1 * 1000000) DIV n_scored").as("mae_naive_micro"),
        expr("(ae7 * 1000000) DIV n_scored").as("mae_seasonal_micro"))
      .withColumn("winner",
        when(col("mae_seasonal_micro") < col("mae_naive_micro"),
          lit("seasonal"))
          .when(col("mae_naive_micro") < col("mae_seasonal_micro"),
            lit("naive"))
          .otherwise(lit("tie")))
      .orderBy(col("group_key"))
  }

  /** Benford DRIFT TIMELINE — [[benfordAudit]] per (group, day): the
    * audit run once says "this load deviates"; the timeline says
    * "since WHEN and in WHICH feed" (the monitor form every ingest
    * gate actually deploys — a unit change or a capped upstream shows
    * up as a step in the series): per (group, day) the total-variation
    * distance between the day's first-digit distribution and the nine
    * Benford micro literals, PURE INTEGER end to end —
    *
    *   2·TV_micro = Σ_present |n_d·10⁶ DIV n − b_d| + (10⁶ − Σ_present b_d)
    *
    * (the absent-digit complement identity, the q_tcloseness
    * discipline — the (group, day, digit) frame never densifies), and
    * the publish is one truncating DIV 2. Output: one row per
    * (group, day) with any qualifying value — n, tv_micro. Scale
    * shape: ONE map-side aggregate to the ≤ 9-per-(group, day) digit
    * frame; everything after is bounded arithmetic.
    */
  def benfordTimeline(events: DataFrame, groupCol: String, tsCol: String,
      valueCol: String): DataFrame =
    benfordTimelineFromCells(events
      .where(col(groupCol).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull && col(valueCol) >= 1)
      .select(col(groupCol).as("g"), col(tsCol).cast("date").as("day"),
        benfordDigit(col(valueCol)).as("digit"))
      .groupBy(col("g"), col("day"), col("digit"))
      .agg(count(lit(1)).as("n_d")))

  /** Leading decimal digit of floor(v) — the ONE extraction both the
    * batch timeline and its streaming twin fold on (callers must
    * pre-filter v ≥ 1). */
  def benfordDigit(v: Column): Column =
    substring(floor(v).cast("long").cast("string"), 1, 1).cast("long")

  /** The cells → timeline half of [[benfordTimeline]], shared verbatim
    * with the streaming twin (q_stream_benford drains the SAME
    * (g, day, digit, n_d) cell frame from a complete-mode counter
    * stream — additive counters are a pure function of the row
    * multiset, so batching cannot matter and the batch oracle
    * certifies the stream). Everything here is bounded: cells are
    * groups × days × 9. */
  def benfordTimelineFromCells(cellsIn: DataFrame): DataFrame = {
    val benford = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
      9 -> 45757L)
    val spark = cellsIn.sparkSession
    import spark.implicits._
    val lits = broadcast(benford.toDF("digit", "b")
      .select(col("digit").cast("long"), col("b")))
    // batch callers pass the raw cell aggregate (Catalyst reuses the
    // exchange for the two consumers — no checkpoint barrier on the
    // benched path); STREAM callers must pass an already-materialized
    // frame (localCheckpoint) or the byDay/cells self-join cannot
    // resolve against a memory-table view
    val cells = cellsIn
    val byDay = cells.groupBy(col("g"), col("day"))
      .agg(sum(col("n_d")).as("n"))
    cells.join(lits, "digit")
      .join(byDay, Seq("g", "day"))
      .groupBy(col("g"), col("day"), col("n"))
      .agg(sum(abs(expr("(n_d * 1000000) DIV n") - col("b")))
          .as("present_dev"),
        sum(col("b")).as("present_b"))
      .select(col("g").as("group_key"),
        col("day").cast("string").as("day"), col("n"),
        expr("(present_dev + (1000000 - present_b)) DIV 2")
          .as("tv_micro"))
      .orderBy(col("group_key"), col("day"))
  }

  /** Classical additive seasonal decomposition over the daily panel —
    * the STL-lite preprocessing every seasonality-aware monitor runs
    * before alerting (q_seasonality shows the (dow, hour) heat map;
    * THIS splits each daily series into trend + day-of-week seasonal +
    * remainder so a Monday dip stops paging anyone):
    *
    *   trend_t    = mean(y) over the CENTERED 7-day window (shrinking
    *                at the series edges — deterministic, no NaN pad)
    *   seasonal_d = mean over the series of (y − trend) at dow d,
    *                then CENTERED by subtracting the panel-wide
    *                day-weighted mean of the per-day seasonal values
    *                (the additive-identity convention, row-weighted)
    *   remainder  = y − trend − seasonal
    *
    * All three published in micro-units, each derived from exact
    * integer day counts through sum·10⁶ DIV count integer arithmetic
    * BEFORE any cross-term subtraction — the remainder is then a pure
    * integer identity (y·10⁶ − trend − seasonal), so the decomposition
    * reconstructs exactly by construction on both engines.
    *
    * Output: one row per (group, day) — y, dow (0=Sunday, pinned to
    * the DuckDB/Postgres convention like q_seasonality),
    * trend_micro, seasonal_micro, remainder_micro. Scale
    * shape: the daily aggregate is the only data-sized shuffle; the
    * windows and the dow panel run on the bounded (group, day) frame.
    */
  def stlDecompose(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame = {
    val daily = dailyPanel(events, groupCol, tsCol, key = "g")
      .localCheckpoint() // bounded (group, day) panel
    // centered 7-day mean over ROW positions (the panel has one row
    // per present day; a missing calendar day shrinks the window —
    // deterministic and documented, matching a gapless fixture)
    val byDay = Window.partitionBy(col("g")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val withT = daily
      .withColumn("tsum", sum(col("y")).over(byDay))
      .withColumn("tcnt", count(lit(1)).over(byDay))
      .withColumn("trend_micro",
        expr("CAST(tsum * 1000000 DIV tcnt AS BIGINT)"))
      .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
      .withColumn("det_micro", col("y") * 1000000L - col("trend_micro"))
    val dowPanel = Window.partitionBy(col("g"), col("dow"))
    val allPanel = Window.partitionBy(col("g"))
    withT
      .withColumn("dsum", sum(col("det_micro")).over(dowPanel))
      .withColumn("dcnt", count(lit(1)).over(dowPanel))
      // truncation toward ZERO on both engines: DuckDB's // floors,
      // so divide magnitudes and re-sign explicitly (the documented
      // negative-DIV divergence guard)
      .withColumn("s_raw", expr(
        """CAST(CASE WHEN dsum >= 0 THEN dsum DIV dcnt
          |  ELSE -((-dsum) DIV dcnt) END AS BIGINT)""".stripMargin))
      .withColumn("s_mean_num", sum(col("s_raw")).over(allPanel))
      .withColumn("s_mean_den", count(lit(1)).over(allPanel))
      .withColumn("seasonal_micro", expr(
        """s_raw - CAST(CASE WHEN s_mean_num >= 0
          |  THEN s_mean_num DIV s_mean_den
          |  ELSE -((-s_mean_num) DIV s_mean_den) END AS BIGINT)"""
          .stripMargin))
      .withColumn("remainder_micro",
        col("y") * 1000000L - col("trend_micro") - col("seasonal_micro"))
      .select(col("g").as("group_key"), col("day").cast("string").as("day"),
        col("y"), col("dow"), col("trend_micro"), col("seasonal_micro"),
        col("remainder_micro"))
      .orderBy(col("group_key"), col("day"))
  }

  /** Trend / seasonal STRENGTH of each daily series — the two
    * variance-explained numbers (Hyndman's tsfeatures convention) that
    * SUMMARIZE [[stlDecompose]]'s frame for a fleet dashboard (the
    * decomposition is per-day; "which of my 400 series are strongly
    * weekly?" needs one row per series):
    *
    *   F_s = max(0, 1 − Var(R) / Var(S+R))     (seasonal strength)
    *   F_t = max(0, 1 − Var(R) / Var(T+R))     (trend strength)
    *
    * computed off the decomposition's EXACT integer micro components
    * (S+R = y·10⁶ − T and T+R = y·10⁶ − S, both by the reconstruction
    * identity), each variance n-scaled so it is an exact
    * decimal(38,0)/HUGEINT — nVar = n·Σv² − (Σv)² — and the ratio ONE
    * non-negative integer DIV: the clamp-at-zero branches on the
    * INTEGER compare nVar_R ≥ nVar_den first, so the published
    * quotient always fits BIGINT and no engine ever overflows the
    * division (the degenerate tiny-denominator case short-circuits to
    * 0). NULL strength when the matching variance is 0 (a flat series
    * has no structure to measure — surfaced, not divided). Exactness
    * holds through n²·v²·10⁶ < 10³⁸ (v = micro components; a
    * 1000-day panel at 10⁸ events/day sits inside).
    *
    * Output: one row per group — n_days, fs_micro, ft_micro. Scale
    * shape: inherits stlDecompose's (daily aggregate = the one
    * data-sized shuffle); the strength aggregate runs on the bounded
    * panel.
    */
  def seasonalStrength(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame = {
    val stl = stlDecompose(events, groupCol, tsCol)
    val comp = stl.select(col("group_key"),
      col("remainder_micro").cast("decimal(38,0)").as("r"),
      (col("y") * 1000000L - col("trend_micro")).cast("decimal(38,0)")
        .as("sr"),
      (col("y") * 1000000L - col("seasonal_micro")).cast("decimal(38,0)")
        .as("tr"))
    comp.groupBy(col("group_key")).agg(
      count(lit(1)).as("n_days"),
      sum(col("r")).as("s_r"), sum(col("r") * col("r")).as("q_r"),
      sum(col("sr")).as("s_sr"), sum(col("sr") * col("sr")).as("q_sr"),
      sum(col("tr")).as("s_tr"), sum(col("tr") * col("tr")).as("q_tr"))
      .select(col("group_key"), col("n_days"),
        (col("n_days") * col("q_r") - col("s_r") * col("s_r"))
          .as("nvar_r"),
        (col("n_days") * col("q_sr") - col("s_sr") * col("s_sr"))
          .as("nvar_sr"),
        (col("n_days") * col("q_tr") - col("s_tr") * col("s_tr"))
          .as("nvar_tr"))
      .withColumn("fs_micro", expr(
        """CASE WHEN nvar_sr > 0 THEN
          |  CASE WHEN nvar_r >= nvar_sr THEN CAST(0 AS BIGINT)
          |    ELSE CAST(1000000 - (nvar_r * 1000000) DIV nvar_sr
          |      AS BIGINT) END END""".stripMargin))
      .withColumn("ft_micro", expr(
        """CASE WHEN nvar_tr > 0 THEN
          |  CASE WHEN nvar_r >= nvar_tr THEN CAST(0 AS BIGINT)
          |    ELSE CAST(1000000 - (nvar_r * 1000000) DIV nvar_tr
          |      AS BIGINT) END END""".stripMargin))
      .select(col("group_key"), col("n_days"), col("fs_micro"),
        col("ft_micro"))
      .orderBy(col("group_key"))
  }

  def ewmaDaily(events: DataFrame, groupCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    // NULL day/group rows are dropped, not folded: a NULL day would
    // sort FIRST in Spark's sort_array fold but LAST in an oracle's
    // ORDER BY (NULLS LAST), silently diverging the order-dependent
    // halving recurrence — parity must not depend on fixture cleanliness
    val daily = events
      .where(col(tsCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"),
        col(tsCol).cast("date").cast("string").as("day"))
      .agg(coalesce(sum((col(valueCol).cast("decimal(18,2)") * 100)
        .cast("long")), lit(0L)).as("cents"))
    val series = daily.groupBy(col("g"))
      .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
        .as("xs"))
    series.select(col("g"), explode(expr(
      """aggregate(xs,
        |  CAST(array() AS ARRAY<STRUCT<day: STRING, cents: BIGINT,
        |    ewma: BIGINT, prev: BIGINT>>),
        |  (acc, x) -> concat(acc, array(named_struct(
        |    'day', x.day, 'cents', x.cents,
        |    'ewma', CASE WHEN size(acc) = 0 THEN x.cents
        |      ELSE (element_at(acc, -1).ewma + x.cents) DIV 2 END,
        |    'prev', CASE WHEN size(acc) = 0 THEN CAST(NULL AS BIGINT)
        |      ELSE element_at(acc, -1).ewma END))))""".stripMargin))
      .as("r"))
      .select(col("g"), col("r.day").as("day"), col("r.cents").as("cents"),
        col("r.ewma").as("ewma_cents"), col("r.prev").as("prev"))
      .withColumn("dev_bp",
        when(col("prev") > 0, expr("(cents - prev) * 10000 DIV prev")))
      .drop("prev")
      .orderBy(col("g"), col("day"))
  }

  /** Per-group concentration profile — exact Gini coefficient + top-
    * decile share of a per-entity value distribution: the inequality
    * diagnostic a revenue / traffic / token-mass warehouse publishes
    * (is this nation's revenue broad-based or three whales? is a
    * corpus source one domain in a trench coat?). Expects one row per
    * (g, entity) with a non-negative long `cents`; callers aggregate
    * entities first (zero-activity entities belong IN the frame at 0 —
    * leaving them out understates inequality).
    *
    * Gini via the sorted rank-sum identity — with x₁ ≤ … ≤ xₙ,
    * G = (2·Σ i·xᵢ − (n+1)·S) / (n·S) — computed entirely in
    * decimal(38,0) integer arithmetic (Σ i·xᵢ overflows long once
    * n·value passes ~10¹⁸; at warehouse scale it does) and emitted in
    * micro-units via non-negative DIV. Ties are rank-order invariant
    * (equal values permute without changing Σ i·xᵢ), so the
    * deterministic (cents, entity) sort exists only to pin the row
    * order, not the result. Zero-mass groups emit NULL gini (no
    * distribution to measure). top_decile_bp = the value share of the
    * ceil(n/10) highest entities — the headline concentration number.
    *
    * Scale shape: the rank window runs on the per-ENTITY aggregate —
    * already a reduction of the fact table — partitioned by group, so
    * no global sort; one groupBy collapses each partition to one row.
    */
  def concentrationProfile(perEntity: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("g"))
      .orderBy(col("cents").asc, col("entity").asc)
    val nW = Window.partitionBy(col("g"))
    val ranked = perEntity
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(nW))
    ranked.groupBy(col("g")).agg(
      count(lit(1)).as("n_entities"),
      sum(col("cents").cast("decimal(38,0)")).as("s"),
      sum(col("rk").cast("decimal(38,0)") * col("cents")).as("ix"),
      sum(when(col("rk") > col("n") - expr("(n + 9) DIV 10"),
        col("cents").cast("decimal(38,0)")).otherwise(lit(0).cast("decimal(38,0)")))
        .as("top_cents"))
      .select(col("g"), col("n_entities"),
        col("s").cast("long").as("sum_cents"),
        when(col("s") > 0,
          expr("""CAST((ix * 2 - (n_entities + 1) * s) * 1000000
            DIV (n_entities * s) AS BIGINT)""")).as("gini_micro"),
        when(col("s") > 0,
          expr("CAST(top_cents * 10000 DIV s AS BIGINT)"))
          .as("top_decile_bp"))
      .orderBy(col("g"))
  }

  /** Market-basket association rules — the classic co-occurrence miner
    * (Agrawal & Srikant 1994's support/confidence frame plus lift), the
    * cross-sell / co-view diagnostic a retail or recommendation
    * warehouse publishes: for every directed item pair a→b with enough
    * support, how often b rides along when a is in the basket
    * (confidence) and how much MORE often than independence predicts
    * (lift — the column that separates genuine affinity from two items
    * that are merely both popular).
    *
    * `baskets` carries (basket, item) rows (duplicates collapse). All
    * metrics are exact integers: support_bp = sup_ab·10⁴ DIV N,
    * confidence_bp = sup_ab·10⁴ DIV sup_a, lift_micro =
    * sup_ab·N·10⁶ DIV (sup_a·sup_b) — the lift numerator widens to
    * decimal(38,0) first (long overflows once basket counts pass ~10⁹;
    * at warehouse scale they do). Non-negative throughout, so DIV
    * replays engine-identically. Rules below `minSupportBp` are
    * dropped — the standard pruning, and what keeps the output bounded
    * by the frequent-pair set instead of all pairs.
    *
    * Scale shape: the pair expansion is C(basket size, 2) per basket —
    * bounded by the per-basket distinct-item count, the co-supply
    * projection argument, never an all-pairs item join; item and pair
    * supports map-side combine; the basket total broadcasts as one row.
    */
  def basketRules(baskets: DataFrame, minSupportBp: Int): DataFrame = {
    require(minSupportBp >= 1, s"minSupportBp must be >= 1, got $minSupportBp")
    val b = baskets.select(col("basket"), col("item")).distinct()
    val n = b.agg(countDistinct(col("basket")).as("n_baskets"))
    val sup = b.groupBy(col("item")).agg(count(lit(1)).as("sup"))
    val p0 = b.as("x").join(b.as("y"),
      col("x.basket") === col("y.basket") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("a"), col("y.item").as("b"))
      .agg(count(lit(1)).as("sup_ab"))
    val dir = p0.select(col("a"), col("b"), col("sup_ab"))
      .unionByName(
        p0.select(col("b").as("a"), col("a").as("b"), col("sup_ab")))
    dir
      .join(sup.select(col("item").as("a"), col("sup").as("sup_a")), "a")
      .join(sup.select(col("item").as("b"), col("sup").as("sup_b")), "b")
      .crossJoin(broadcast(n))
      .where(expr(s"sup_ab * 10000 DIV n_baskets >= $minSupportBp"))
      .select(col("a").as("antecedent"), col("b").as("consequent"),
        col("sup_ab"), col("sup_a"), col("sup_b"), col("n_baskets"),
        expr("sup_ab * 10000 DIV n_baskets").as("support_bp"),
        expr("sup_ab * 10000 DIV sup_a").as("confidence_bp"),
        expr("""CAST(CAST(sup_ab AS DECIMAL(38,0)) * n_baskets * 1000000
          DIV (sup_a * sup_b) AS BIGINT)""").as("lift_micro"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  /** Exact ROC AUC of a binary scorer — the rank-sum (Mann–Whitney U)
    * formulation: AUC = P(score(pos) > score(neg)) + ½·P(tie), computed
    * WITHOUT the all-pairs comparison. `scored` carries one row per
    * scored item with an exact integer `score` (long — callers quantize
    * upstream; exact integers make tie handling engine-identical) and a
    * boolean `label` (true = positive class). U is accumulated in 2×
    * units so ties stay integral: per distinct score s,
    * u2 += n_pos(s) · (2·cum_neg_below(s) + n_neg(s)), and
    * auc_micro = u2·10⁶ DIV (2·n_pos·n_neg) — non-negative throughout,
    * so DIV == floor on both engines. The DIV runs in decimal(38,0)
    * (HUGEINT in the oracle): u2 ≤ 2·n_pos·n_neg, so the ·10⁶ product
    * would silently wrap long past n_pos·n_neg ≈ 4.6·10¹² (~2M rows per
    * class) — the decimal widening keeps the quotient exact to the
    * decimal(38,0) ceiling like lift/chi2/Gini. gini_micro = 2·auc − 10⁶ (can go
    * negative; pure integer subtraction, no division).
    *
    * This is the trust metric for any model-based filter the engine
    * ships (the q_nb_quality classifier): the calibration-family
    * contract — an estimator is only done when a measured-vs-truth
    * audit rides next to it — applied to a CLASSIFIER's ranking power.
    *
    * Scale shape: one groupBy collapses the corpus to the (score)
    * histogram — bounded by distinct quantized scores, not rows (the
    * q_ppl_buckets bounded-histogram idiom) — the cumulative window and
    * the final 1-row aggregate run on that small frame only. Returns
    * one row: n_pos, n_neg, n_scores, u2, auc_micro, gini_micro; NULL
    * auc when either class is empty (no ranking to measure — surfacing
    * NULL beats inventing 0.5).
    */
  def rocAuc(scored: DataFrame): DataFrame = {
    val cum = scoreHistCum(scored)
    cum.agg(
      coalesce(sum(col("np")), lit(0L)).as("n_pos"),
      coalesce(sum(col("nn")), lit(0L)).as("n_neg"),
      count(lit(1)).as("n_scores"),
      coalesce(sum(col("np") * (col("cnb") * 2 + col("nn"))), lit(0L))
        .as("u2"))
      .withColumn("auc_micro",
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("CAST(u2 AS DECIMAL(38,0)) * 1000000" +
            " DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)")))
      .withColumn("gini_micro", col("auc_micro") * 2 - 1000000L)
  }

  /** The (score, label) → bounded histogram-with-exclusive-cumulatives
    * frame shared by [[rocAuc]], [[prCurve]], and [[mannWhitney]] — one
    * definition so the three audits can never rank differently.
    * Columns: score, np, nn, cnb (negatives strictly below), cnpb
    * (positives strictly below). */
  private def scoreHistCum(scored: DataFrame): DataFrame = {
    val hist = scored.groupBy(col("score"))
      .agg(sum(when(col("label"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("label"), 1L).otherwise(0L)).as("nn"))
    // bounded-histogram global window (q_ppl_buckets discipline): the
    // frame under the window is the distinct-score histogram, never rows
    val below = Window.orderBy(col("score").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cnb", coalesce(sum(col("nn")).over(below), lit(0L)))
      .withColumn("cnpb", coalesce(sum(col("np")).over(below), lit(0L)))
  }

  /** Mann–Whitney U test — the NONPARAMETRIC two-sample location test
    * (does the metric distribution differ between the two arms?), the
    * decision-statistic companion of [[rocAuc]] (same U, normalized
    * there as ranking quality, standardized here as a z-score): exact
    * integer U in 2× units and the exact tie term T = Σ(t³ − t) off
    * the same bounded score histogram, then the normal approximation
    * with tie correction
    *
    *   z = (u2 − n₊n₋) / 2 / sqrt(n₊n₋/12 · ((n+1) − T/(n(n−1))))
    *
    * written operation-identically on both engines (divisions,
    * multiplications, one IEEE-exact sqrt — the ab_metrics double
    * discipline) and published at 4 dp; `significant` compares the
    * ROUNDED value to 1.96, so the verdict is engine-identical by
    * construction. Per-row samples are what the caller passes — for a
    * per-user test, aggregate to users first (the usual independence
    * caveat). NULL z when either arm is empty or every value ties
    * (zero variance — surfacing it beats a division by zero).
    *
    * Scale shape: identical to [[rocAuc]] — one corpus aggregate to
    * the bounded histogram, everything downstream bounded.
    */
  /** Kolmogorov–Smirnov two-sample test — the DISTRIBUTION-level
    * companion of [[mannWhitney]] (MW asks "is one arm shifted?"; KS
    * asks "do the arms differ ANYWHERE in the CDF?" — variance
    * changes, bimodality, and tail effects that leave the location
    * untouched): off the SAME bounded score histogram
    * ([[scoreHistCum]] — one corpus aggregate, everything downstream
    * bounded), the statistic at each distinct score is
    *
    *   D = max_s |F₊(s) − F₋(s)|
    *     = max_s |c₊(s)·n₋ − c₋(s)·n₊| / (n₊·n₋)
    *
    * with the numerator EXACT DECIMAL (counts to 10¹⁹ before the cast
    * cliff — the welch discipline) and ONE integer micro division at
    * the end; the asymptotic critical value c(0.05)·√((n₊+n₋)/(n₊·n₋))
    * with c(0.05) = √(−ln(0.025)/2) inlined as the double literal
    * 1.3581015157406195 (the hllC constant discipline) is quantized
    * to micro ONCE, so `significant` is a pure integer compare —
    * engine-identical by construction. NULL verdict when either arm
    * is empty.
    *
    * Output: one row — n_pos, n_neg, n_scores, d_micro, crit_micro,
    * significant.
    */
  def ksTest(scored: DataFrame): DataFrame = {
    val tot = Window.partitionBy(lit(1))
    val terms = scoreHistCum(scored)
      .withColumn("np_tot", sum(col("np")).over(tot))
      .withColumn("nn_tot", sum(col("nn")).over(tot))
      .withColumn("num", abs(
        (col("cnpb") + col("np")).cast("decimal(19,0)") *
          col("nn_tot").cast("decimal(19,0)") -
        (col("cnb") + col("nn")).cast("decimal(19,0)") *
          col("np_tot").cast("decimal(19,0)")))
    terms.agg(
      max(col("np_tot")).as("n_pos"),
      max(col("nn_tot")).as("n_neg"),
      count(lit(1)).as("n_scores"),
      max(col("num")).as("num_max"))
      .select(col("n_pos"), col("n_neg"), col("n_scores"),
        when(col("n_pos") > 0 && col("n_neg") > 0, expr(
          """CAST((num_max * 1000000)
            |  DIV (CAST(n_pos AS DECIMAL(19,0))
            |    * CAST(n_neg AS DECIMAL(19,0))) AS BIGINT)""".stripMargin))
          .as("d_micro"),
        when(col("n_pos") > 0 && col("n_neg") > 0, expr(
          """CAST(floor(1.3581015157406195
            |  * sqrt(CAST(n_pos + n_neg AS DOUBLE)
            |    / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)))
            |  * 1000000.0 + 0.5) AS BIGINT)""".stripMargin))
          .as("crit_micro"))
      .withColumn("significant",
        when(col("d_micro").isNotNull, col("d_micro") > col("crit_micro")))
  }

  /** Anderson–Darling two-sample test — the TAIL-WEIGHTED companion of
    * [[ksTest]] (KS reads only the single worst CDF gap, so a
    * difference spread thinly across the tails can hide under its
    * max; AD integrates EVERY gap weighted by 1/(F(1−F)), which blows
    * up exactly in the tails — the test that catches "same median,
    * same max-gap, fatter tails"): off the SAME bounded score
    * histogram ([[scoreHistCum]] — one corpus aggregate, everything
    * downstream bounded), Pettitt's two-sample statistic evaluated on
    * distinct-value bins,
    *
    *   A² = (1/(n₊·n₋)) Σ_{j: B_j<N} l_j · (N·M_j − n₊·B_j)²
    *                                / (B_j·(N−B_j))
    *
    * (B_j = inclusive pooled count through bin j, M_j = inclusive
    * positive count, l_j = bin size) with EVERY term an exact-integer
    * floor — l·d²·10⁶ DIV (B·(N−B)·n₊·n₋) in decimal(38,0)/HUGEINT,
    * each term exact before the order-independent sum (the q_kruskal
    * floored-term discipline; the total floor bias is < n_bins micro,
    * far below the verdict scale). The decimal(38,0) window holds
    * l·d²·10⁶ exactly through N ≈ 4·10⁶ pooled rows — aggregate to
    * entities first at scale (the [[mannWhitney]] independence caveat
    * already requires exactly that). Verdict vs the asymptotic 5%
    * point of the A² limit law (Pettitt 1976: the two-sample statistic
    * shares the one-sample limit), 2.492 quantized once as the micro
    * literal 2492000 — a pure integer compare, engine-identical by
    * construction. NULL a2/verdict when either arm is empty; an
    * all-tied frame has no B_j < N bin and reads a2 = 0.
    *
    * Output: one row — n_pos, n_neg, n_scores, a2_micro, crit_micro,
    * significant.
    */
  def adTest(scored: DataFrame): DataFrame = {
    val tot = Window.partitionBy(lit(1))
    val terms = scoreHistCum(scored)
      .withColumn("np_tot", sum(col("np")).over(tot))
      .withColumn("nn_tot", sum(col("nn")).over(tot))
      .withColumn("term", expr(
        """CASE WHEN cnb + cnpb + np + nn < np_tot + nn_tot
          |    AND np_tot > 0 AND nn_tot > 0 THEN
          |  CAST((CAST(np + nn AS DECIMAL(38,0))
          |      * (CAST(np_tot + nn_tot AS DECIMAL(38,0)) * (cnpb + np)
          |         - CAST(np_tot AS DECIMAL(38,0))
          |           * (cnb + cnpb + np + nn))
          |      * (CAST(np_tot + nn_tot AS DECIMAL(38,0)) * (cnpb + np)
          |         - CAST(np_tot AS DECIMAL(38,0))
          |           * (cnb + cnpb + np + nn))
          |      * 1000000)
          |    DIV (CAST(cnb + cnpb + np + nn AS DECIMAL(38,0))
          |      * (np_tot + nn_tot - cnb - cnpb - np - nn)
          |      * np_tot * nn_tot) AS BIGINT)
          |  ELSE CAST(0 AS BIGINT) END""".stripMargin))
    terms.agg(
      max(col("np_tot")).as("n_pos"),
      max(col("nn_tot")).as("n_neg"),
      count(lit(1)).as("n_scores"),
      sum(col("term")).as("a2_sum"))
      .select(col("n_pos"), col("n_neg"), col("n_scores"),
        when(col("n_pos") > 0 && col("n_neg") > 0, col("a2_sum"))
          .as("a2_micro"),
        lit(2492000L).as("crit_micro"))
      .withColumn("significant",
        when(col("a2_micro").isNotNull, col("a2_micro") > col("crit_micro")))
  }

  def mannWhitney(scored: DataFrame): DataFrame = {
    // the outer CAST keeps the published column DOUBLE: in a SQL-parsed
    // expression 10000.0 is a DECIMAL literal, and BIGINT/DECIMAL would
    // publish decimal(…,7) where the oracle publishes double
    val z4 =
      """CAST(floor(CAST(u2 - n_pos * n_neg AS DOUBLE) / 2.0
        |  / sqrt((CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) / 12.0)
        |    * ((CAST(n_pos + n_neg AS DOUBLE) + 1.0)
        |      - CAST(tie_t AS DOUBLE)
        |        / (CAST(n_pos + n_neg AS DOUBLE)
        |          * (CAST(n_pos + n_neg AS DOUBLE) - 1.0))))
        |  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""".stripMargin
    scoreHistCum(scored).agg(
      coalesce(sum(col("np")), lit(0L)).as("n_pos"),
      coalesce(sum(col("nn")), lit(0L)).as("n_neg"),
      count(lit(1)).as("n_scores"),
      coalesce(sum(col("np") * (col("cnb") * 2 + col("nn"))), lit(0L))
        .as("u2"),
      // t = np+nn per distinct score; Σ(t³ − t) in decimal — t³ wraps
      // long once a tie group passes ~2·10⁶ rows (the published long
      // cast inherits that bound; the z itself reads the decimal)
      coalesce(sum({
        val t = (col("np") + col("nn")).cast("decimal(38,0)")
        t * t * t - t
      }), lit(0).cast("decimal(38,0)")).as("tie_t"))
      .select(col("n_pos"), col("n_neg"), col("n_scores"), col("u2"),
        col("tie_t").cast("long").as("tie_t"),
        // zero variance iff the histogram has ONE bin (every row ties)
        when(col("n_pos") > 0 && col("n_neg") > 0 && col("n_scores") > 1,
          expr(z4)).as("z_r"))
      .withColumn("significant",
        when(col("z_r").isNotNull, abs(col("z_r")) > 1.96))
  }

  /** Precision/recall operating-point table for a binary scorer — the
    * threshold-selection companion of [[rocAuc]] (AUC says the ranking
    * is good; this says what each cut of it costs). Thresholds are the
    * EXACT rank statistics of the score distribution: for k = 1..n-1
    * of `nCuts` ( = n) equal slices, thr_k = the score at ascending
    * rank ceil(k·N/n) — value cuts from rank selection, never
    * interpolated-percentile lerp (the q_ppl_buckets rule), so the
    * operating points replay bit-for-bit in any engine. At each
    * threshold the predicted-positive set is score ≥ thr, and the row
    * reports tp/fp/fn/tn plus precision/recall/F1 in basis points (all
    * non-negative integer DIV).
    *
    * Scale shape: the corpus collapses to the same bounded (score)
    * histogram as [[rocAuc]]; cut selection, the cuts×histogram join,
    * and the per-threshold arithmetic all run on bounded frames.
    * Output: n-1 rows (k, thr_score, tp, fp, fn, tn, precision_bp,
    * recall_bp, f1_bp), ordered by k.
    */
  def prCurve(scored: DataFrame, nCuts: Int = 10): DataFrame = {
    require(nCuts >= 2, s"nCuts must be >= 2, got $nCuts")
    val cum = scoreHistCum(scored).withColumnRenamed("cnb", "cnnb")
    val tot = cum.agg(
      coalesce(sum(col("np")), lit(0L)).as("t_pos"),
      coalesce(sum(col("nn")), lit(0L)).as("t_neg"))
    // thr_k = min score whose INCLUSIVE cumulative count reaches
    // ceil(k*N/n); for integer ct, ct >= ceil(kN/n) <=> ct*n >= kN —
    // exact integer arithmetic, no float rank
    val ks = explode(array((1 until nCuts).map(k => lit(k)): _*)).as("k")
    val cuts = cum.crossJoin(broadcast(tot))
      .select(col("score"),
        (col("cnpb") + col("cnnb") + col("np") + col("nn")).as("ct"),
        (col("t_pos") + col("t_neg")).as("n"), ks)
      .groupBy(col("k"))
      .agg(min(when(col("ct") * nCuts >= col("k") * col("n"),
        col("score"))).as("thr_score"))
    cuts.join(cum, cuts("thr_score") === cum("score"))
      .crossJoin(broadcast(tot))
      .select(col("k").cast("long").as("k"), col("thr_score"),
        (col("t_pos") - col("cnpb")).as("tp"),
        (col("t_neg") - col("cnnb")).as("fp"),
        col("cnpb").as("fn"), col("cnnb").as("tn"))
      .withColumn("precision_bp", expr("tp * 10000 DIV (tp + fp)"))
      .withColumn("recall_bp",
        when(col("tp") + col("fn") > 0,
          expr("tp * 10000 DIV (tp + fn)")))
      .withColumn("f1_bp",
        when(col("tp") * 2 + col("fp") + col("fn") > 0,
          expr("tp * 2 * 10000 DIV (tp * 2 + fp + fn)")))
      .orderBy(col("k"))
  }
}
