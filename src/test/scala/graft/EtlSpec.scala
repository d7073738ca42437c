package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Etl

class EtlSpec extends SparkSpec {
  import spark.implicits._

  private def lots = Seq(
    // lot_id, step, product, qty, status, priority
    ("L1", "ETCH", "P1", 10.0, "IN_PROGRESS", "HIGH"),
    ("L2", "ETCH", "P1", 20.0, "COMPLETED", "LOW"),
    ("L3", "ETCH", "P2", 5.0, "HOLD", "HIGH"),
    ("L4", "DIFF", "P1", 7.0, "COMPLETED", "HIGH"),
    ("L2", "ETCH", "P1", 30.0, "IN_PROGRESS", "LOW")
  ).toDF("lot_id", "process_step", "product_code", "quantity", "status", "priority")

  test("wipAggregate filters inactive lots and aggregates per group") {
    val out = Etl.wipAggregate(lots, "status", Seq("IN_PROGRESS", "COMPLETED"),
      Seq("process_step", "product_code"), "quantity", "lot_id", "2024-01-01")
      .orderBy("process_step").collect()
    assert(out.length == 2)
    val etch = out.find(_.getString(0) == "ETCH").get
    assert(etch.getDouble(2) == 60.0)     // wip_qty: 10+20+30 (HOLD excluded)
    assert(etch.getLong(3) == 2)          // distinct lots L1, L2
    assert(math.abs(etch.getDouble(4) - 20.0) < 1e-12)
  }

  test("wipWithPriority counts high-priority lots in the same pass") {
    val out = Etl.wipWithPriority(lots, "status", Seq("IN_PROGRESS", "COMPLETED"),
      Seq("process_step"), "quantity", "lot_id", "priority", "HIGH", "2024-01-01")
      .where($"process_step" === "ETCH").collect()
    assert(out.head.getAs[Long]("high_priority_count") == 1)
  }

  test("upsert replaces keyed rows and keeps the rest") {
    val target = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val updates = Seq((2, "B"), (4, "D")).toDF("k", "v")
    val out = Etl.upsert(target, updates, Seq("k")).orderBy("k")
      .as[(Int, String)].collect().toSeq
    assert(out == Seq((1, "a"), (2, "B"), (3, "c"), (4, "D")))
  }

  test("utilizationPivot emits static columns with explicit pivot values") {
    val ev = Seq(("E1", "RUN", 720.0), ("E1", "IDLE", 720.0), ("E2", "RUN", 1440.0))
      .toDF("equipment_id", "event_type", "duration_minutes")
    val out = Etl.utilizationPivot(ev, "equipment_id", "event_type",
      "duration_minutes", Seq("RUN", "IDLE", "DOWN"), "RUN", 1440, "2024-01-01")
    assert(out.columns.toSeq ==
      Seq("equipment_id", "RUN", "IDLE", "DOWN", "utilization_rate", "snapshot_date"))
    val m = out.collect().map(r => r.getString(0) -> r).toMap
    assert(m("E1").getDouble(4) == 50.0)
    assert(m("E2").getDouble(4) == 100.0)
    assert(m("E2").getDouble(2) == 0.0)   // fillna on missing IDLE
  }

  test("applySchema casts and preserves column order") {
    val df = Seq(("1", "x", "2.5")).toDF("a", "keep", "b")
    val out = Etl.applySchema(df, Seq("b" -> "double", "a" -> "long"))
    assert(out.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("a", "bigint"), ("keep", "string"), ("b", "double")))
    assert(out.head() == Row(1L, "x", 2.5))
    intercept[IllegalArgumentException](Etl.applySchema(df, Seq("c" -> "int")))
  }

  test("schemaDrift reports added/removed/type changes") {
    val cur = Seq((1, "x")).toDF("a", "b")
    val nxt = Seq((1L, 2.0)).toDF("a", "c")
    val drift = Etl.schemaDrift(cur, nxt)
    assert(drift("added") == Seq("c"))
    assert(drift("removed") == Seq("b"))
    assert(drift("type_changed") == Seq("a: int -> bigint"))
  }

  test("moneySum is exact under parallel fold") {
    val df = (1 to 10000).map(i => i / 100.0).toDF("x").repartition(16)
    val got = df.agg(Etl.moneySum($"x")).head().getDouble(0)
    assert(got == 500050.0)
  }

  test("scd2 compacts a change log into validity intervals") {
    val log = Seq(
      (1L, "A", "2024-01-01 00:00:00", 10L),
      (1L, "A", "2024-01-02 00:00:00", 11L), // no change -> absorbed
      (1L, "B", "2024-01-03 00:00:00", 12L),
      (1L, "A", "2024-01-05 00:00:00", 13L), // back to A = NEW version
      (2L, "X", "2024-01-01 00:00:00", 20L)
    ).toDF("k", "attr", "ts_s", "id")
      .withColumn("ts", to_timestamp($"ts_s"))
    val out = Etl.scd2(log, "k", "attr", "ts", "id")
      .orderBy("k", "version").collect()
    assert(out.length == 4)
    val v = out.map(r => (r.getAs[Long]("k"), r.getAs[String]("status"),
      r.getAs[Long]("version"), r.getAs[Boolean]("is_current")))
    assert(v.toSeq == Seq((1L, "A", 1L, false), (1L, "B", 2L, false),
      (1L, "A", 3L, true), (2L, "X", 1L, true)))
    // valid_to of version n = valid_from of version n+1
    assert(out(0).getAs[java.sql.Date]("valid_to").toString == "2024-01-03")
    assert(out(1).getAs[java.sql.Date]("valid_to").toString == "2024-01-05")
    assert(out(2).getAs[java.sql.Date]("valid_to") == null)
  }

  test("scd2PointInTime attaches the version effective at each fact date, " +
      "collapsing same-day versions to end-of-day") {
    val log = Seq(
      (1L, "A", "2024-01-01 00:00:00", 10L),
      (1L, "B", "2024-01-03 08:00:00", 12L), // two changes SAME day:
      (1L, "C", "2024-01-03 17:00:00", 13L), // end-of-day state is C
      (2L, "X", "2024-01-02 00:00:00", 20L)
    ).toDF("k", "attr", "ts_s", "id")
      .withColumn("ts", to_timestamp($"ts_s"))
    val dim = Etl.scd2(log, "k", "attr", "ts", "id")
    val facts = Seq(
      (100L, 1L, "2024-01-02"), // between v1 and the Jan-3 changes -> A
      (101L, 1L, "2024-01-03"), // ON the two-version day -> end-of-day C
      (102L, 1L, "2024-01-09"), // after everything -> C
      (103L, 2L, "2024-01-01"), // BEFORE key 2's history starts -> null
      (104L, 3L, "2024-01-05")  // key with no dimension rows -> null
    ).toDF("fid", "k", "d_s").withColumn("d", to_date($"d_s"))
    val got = Etl.scd2PointInTime(facts, dim, "k", "d")
      .select($"fid", $"status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(100L -> "A", 101L -> "C", 102L -> "C",
      103L -> null, 104L -> null))
  }

  test("merged aggState equals a from-scratch recompute, bit for bit") {
    val all = (1 to 5000).map(i => (i % 7L, i / 3.0)).toDF("k", "value")
    val part1 = all.where($"value" < 500)
    val part2 = all.where($"value" >= 500)
    val merged = Etl.mergeAggStates(Seq(
      Etl.aggState(part1, "k", "value"), Etl.aggState(part2, "k", "value")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val direct = Etl.mergeAggStates(Seq(Etl.aggState(all, "k", "value")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(merged == direct)
    assert(merged.values.map(_._1).sum == 5000L)
  }

  test("snapshotDelta classifies added/deleted/changed and drops unchanged") {
    import org.apache.spark.sql.functions.md5
    val today = Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "text").select($"id", md5($"text").as("h"))
    val prior = Seq((2L, "b"), (3L, "OLD"), (4L, "gone"))
      .toDF("id", "text").select($"id", md5($"text").as("h"))
    val out = Etl.snapshotDelta(today, prior, "id", "h")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "added", 3L -> "changed", 4L -> "deleted"))
  }

  test("schemaDriftReport mirrors schemaDrift as a per-column frame") {
    val cur = Seq((1L, "a", 1.0)).toDF("id", "name", "value")
    val nxt = Seq((1L, 1, "x")).toDF("id", "value", "extra")
    val rows = Etl.schemaDriftReport(cur, nxt)
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    assert(rows("id") == (("bigint", "bigint", "unchanged")))
    assert(rows("name") == (("string", null, "removed")))
    assert(rows("value") == (("double", "int", "type_changed")))
    assert(rows("extra") == ((null, "string", "added")))
  }

  test("tenantFanOut: per-tenant filters apply independently in one plan") {
    import spark.implicits._
    val lots = Seq(
      ("O", "1-URGENT", 10.00, 1L), ("O", "2-HIGH", 20.00, 2L),
      ("F", "1-URGENT", 30.00, 3L), ("P", "3-MED", 40.00, 4L))
      .toDF("status", "prio", "qty", "lot")
    val out = Etl.tenantFanOut(lots, Seq(
        Etl.TenantConfig("all", Seq("O", "F", "P"), "1-URGENT"),
        Etl.TenantConfig("open", Seq("O"), "2-HIGH")),
      "status", Seq("prio"), "qty", "lot", "prio", "2024-06-30")
      .collect().map(r => (r.getString(r.fieldIndex("tenant")),
        r.getString(0)) -> (r.getDouble(1), r.getLong(4))).toMap
    // tenant 'all' sees every status; 'open' sees only O rows
    assert(out(("all", "1-URGENT")) === ((40.0, 2L)))
    assert(out(("all", "3-MED")) === ((40.0, 0L)))
    assert(out(("open", "2-HIGH")) === ((20.0, 1L)))
    assert(!out.contains(("open", "3-MED")))
    // the whole fan-out is ONE plan: a single collect produced all rows
    assert(out.size == 5)
  }

  test("skewSplitJoin: split equals plain join, hot branch broadcasts") {
    import spark.implicits._
    // user 3 contributes 2000 rows -> its derived key 0 (3 % 10 < 5) is
    // hot; users 15, 17 are cold singletons
    val rows = (1 to 2000).map(i => (3L, 1.00)) ++
      Seq((15L, 2.00), (17L, 4.00))
    val ev = rows.toDF("user_id", "value")
    val out = Etl.skewSplitJoin(ev, "user_id", "value", hotThreshold = 1000L)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "hot branch must join as broadcast")
    val got = out.collect().map(r => r.getInt(0) ->
      (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // key 0 (tier 0): 2000 rows x 100 cents; key 15 (tier 1): 200 cents;
    // key 17 (tier 3): 400 cents
    assert(got(0) === ((2000L, 200000L, true)))
    assert(got(1) === ((1L, 200L, true)))
    assert(got(3) === ((1L, 400L, true)))
    assert(got.values.forall(_._3))
  }

  test("forgetRetract subtracts erased users exactly, incl. all-erased groups") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // type A: users 1,2,17 (17 erased); type B: only user 34 (fully erased)
    val ev = Seq((1L, "A", 1.25), (2L, "A", 2.50), (17L, "A", 4.00),
      (17L, "A", 0.50), (34L, "B", 9.99))
      .toDF("user_id", "event_type", "value")
    val out = Etl.forgetRetract(ev, "event_type", "value",
        pmod(col("user_id"), lit(17)) === 0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(out("A") === ((2L, 3.75, true)))
    // B retracts to zero rows; the recompute side has no B group, so the
    // inner proof join drops it — a fully-erased group must DISAPPEAR
    assert(!out.contains("B"))
  }

  test("incrJoinRevenue: four delta terms reassemble the full join exactly") {
    import spark.implicits._
    // orderkeys chosen to hit all four (mod-7, mod-5) delta cells,
    // including keys in BOTH deltas (35) and orders with no lineitem (11)
    val o = Seq((7L, "1-URGENT"), (5L, "1-URGENT"), (35L, "2-HIGH"),
      (3L, "2-HIGH"), (11L, "3-MEDIUM"))
      .toDF("o_orderkey", "o_orderpriority")
    val l = Seq((7L, 10.00), (7L, 2.50), (5L, 1.00), (35L, 4.00), (3L, 0.25))
      .toDF("l_orderkey", "l_extendedprice")
    val out = Etl.incrJoinRevenue(o, l).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    assert(out("1-URGENT") === ((3L, 1350L, true)))
    assert(out("2-HIGH") === ((2L, 425L, true)))
    assert(!out.contains("3-MEDIUM")) // no lineitem -> no join row
    assert(out.values.forall(_._3), "every group must match the recompute")
  }

  test("partitionCompleteness: the corpus-wide spine catches a missing " +
      "FIRST day, interior gaps are bounded, full coverage reports clean") {
    import org.apache.spark.sql.functions.col
    val ts = java.sql.Timestamp.valueOf(_: String)
    val rows = Seq(
      // a: days 1,2,4 — interior gap on day 3
      ("a", ts("2001-01-01 08:00:00")), ("a", ts("2001-01-02 08:00:00")),
      ("a", ts("2001-01-04 08:00:00")),
      // b: days 2,3,4 — missing the corpus FIRST day (a per-series
      // spine would miss this entirely)
      ("b", ts("2001-01-02 08:00:00")), ("b", ts("2001-01-03 08:00:00")),
      ("b", ts("2001-01-04 08:00:00")),
      // c: full coverage
      ("c", ts("2001-01-01 08:00:00")), ("c", ts("2001-01-02 08:00:00")),
      ("c", ts("2001-01-03 08:00:00")), ("c", ts("2001-01-04 08:00:00")))
      .toDF("event_type", "ts")
    val out = graft.operators.Etl.partitionCompleteness(rows.toDF(),
      "event_type", "ts")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.getString(4)), Option(r.getString(5)),
        r.getLong(6))).toMap
    assert(out("a") === ((4L, 3L, 1L, Some("2001-01-03"),
      Some("2001-01-03"), 7500L)))
    assert(out("b") === ((4L, 3L, 1L, Some("2001-01-01"),
      Some("2001-01-01"), 7500L)))
    assert(out("c") === ((4L, 4L, 0L, None, None, 10000L)))
  }
}
