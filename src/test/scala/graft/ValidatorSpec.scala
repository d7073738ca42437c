package graft

import org.apache.spark.sql.functions.col
import graft.validation.{SchemaCheck, Validator}

class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  test("all rules evaluate in one pass with correct failed counts") {
    val df = Seq(
      (Some(1), 10.0, "OK", "A-1"),
      (Some(1), -5.0, "OK", "B-2"),   // dup key, below range
      (None, 20.0, "BAD", "C-3"),     // null key, bad status
      (Some(3), 999.0, "OK", "nope")  // above range, regex fail
    ).toDF("k", "qty", "status", "code")

    val r = Validator(df)
      .checkNotNull("k")
      .checkUnique("k")
      .checkRange("qty", minVal = Some(0.0), maxVal = Some(100.0))
      .checkValuesIn("status", Seq("OK"))
      .checkRegex("code", "^[A-Z]-[0-9]$")
      .report().head()

    assert(r.getAs[Long]("total_rows") == 4)
    assert(r.getAs[Long]("not_null_k") == 1)
    assert(r.getAs[Long]("unique_k") == 1)
    assert(r.getAs[Long]("range_qty") == 2)
    assert(r.getAs[Long]("values_in_status") == 1)
    assert(r.getAs[Long]("regex_code") == 1)
  }

  test("clean data reports zeros") {
    val df = Seq((1, "x")).toDF("k", "s")
    val r = Validator(df).checkNotNull("k").checkUnique("k").report().head()
    assert(r.getAs[Long]("not_null_k") == 0)
    assert(r.getAs[Long]("unique_k") == 0)
  }

  test("checkType: a match passes, a mismatch and a missing column fail") {
    val df = Seq((1L, "a")).toDF("id", "name")
    val r = Validator(df)
      .checkType("id", "bigint")
      .checkType("name", "int")
      .checkType("absent", "string")
      .report().head()
    assert(r.getAs[Long]("type_id") == 0)
    assert(r.getAs[Long]("type_name") == 1)
    assert(r.getAs[Long]("type_absent") == 1)
  }

  test("checkRowCount: inside, below and above the bounds, and an empty frame") {
    def rowCount(n: Int, lo: Option[Long], hi: Option[Long]): (Long, Long) = {
      val r = Validator((1 to n).toDF("k"))
        .checkRowCount(minCount = lo, maxCount = hi).report().head()
      (r.getAs[Long]("total_rows"), r.getAs[Long]("row_count"))
    }
    assert(rowCount(3, Some(2L), Some(4L)) == ((3L, 0L)))
    assert(rowCount(3, Some(3L), Some(3L)) == ((3L, 0L)))
    assert(rowCount(1, Some(2L), Some(4L)) == ((1L, 1L)))
    assert(rowCount(5, Some(2L), Some(4L)) == ((5L, 1L)))
    assert(rowCount(5, None, Some(4L)) == ((5L, 1L)))
    assert(rowCount(1, Some(2L), None) == ((1L, 1L)))
    assert(rowCount(0, Some(1L), None) == ((0L, 1L)))
    assert(rowCount(0, None, Some(4L)) == ((0L, 0L)))
  }

  test("checkCustom: a predicate that is null on some rows counts only true rows") {
    val df = Seq(Some(5), None, Some(-1), None, Some(-7)).toDF("v")
    val r = Validator(df).checkCustom("negative", col("v") < 0).report().head()
    assert(r.getAs[Long]("total_rows") == 5)
    assert(r.getAs[Long]("custom_negative") == 2)
  }

  test("validateSchema reports ok / type_mismatch / missing / extra") {
    val df = Seq((1L, "a", 0.5)).toDF("id", "name", "score")
    val rep = SchemaCheck.validateSchema(df, Seq(
      "id" -> "bigint", "name" -> "int", "absent" -> "string"))
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(rep == Map("id" -> "ok", "name" -> "type_mismatch",
      "absent" -> "missing", "score" -> "extra"))
  }

  test("inferSchema reads the column -> type map off the frame") {
    val df = Seq((1L, "a")).toDF("id", "name")
    assert(SchemaCheck.inferSchema(df) == Seq("id" -> "bigint", "name" -> "string"))
  }

  test("profile: nulls, distincts, numeric bounds, and NULL bounds for strings") {
    val df = Seq((1L, Some(2.5), "x"), (2L, None, "y"), (3L, Some(0.5), "y"))
      .toDF("id", "v", "s")
    val out = graft.validation.Profile.profile(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), Option(r.get(5)), Option(r.get(6)))).toMap
    assert(out("id") === ((3L, 0L, 0L, 3L, Some(1.0), Some(3.0))))
    assert(out("v") === ((3L, 1L, 3333L, 2L, Some(0.5), Some(2.5))))
    assert(out("s") === ((3L, 0L, 0L, 2L, None, None)))
  }

  test("profileHll: per-column n_exact matches countDistinct, estimate tracks it") {
    import org.apache.spark.sql.functions._
    val df = (1L to 900L).map(i => (i, s"u${i % 37}", i % 5))
      .toDF("id", "name", "bucket")
    val cols = Seq("id" -> col("id"), "name" -> col("name"),
      "bucket" -> col("bucket"))
    val out = graft.validation.Profile.profileHll(df, cols).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_exact"), r.getAs[Double]("hll_est"),
          r.getAs[Long]("err_bp"))).toMap
    assert(out.keySet == Set("id", "name", "bucket"))
    assert(out("id")._1 == 900L)
    assert(out("name")._1 == 37L)
    assert(out("bucket")._1 == 5L)
    // small-range (linear counting) regime: the estimate should sit
    // within a few percent of exact for these cardinalities at m=512
    assert(out.values.forall(_._3 < 1000L),
      s"err_bp too high: $out")
    // nulls never hash into a register: a fully-null column vanishes
    val withNull = df.withColumn("nul", lit(null).cast("string"))
    val cols2 = cols :+ ("nul" -> col("nul"))
    val names = graft.validation.Profile.profileHll(withNull, cols2)
      .collect().map(_.getString(0)).toSet
    assert(names == Set("id", "name", "bucket"))
  }

  test("kAnonymityAudit: class size and sensitive diversity gate per class") {
    import org.apache.spark.sql.functions.col
    // class (1,a): 4 members, 3 sensitive values -> k=3/l=3 pass
    // class (1,b): 2 members -> fails k
    // class (2,a): 3 members, ONE sensitive value -> k passes, l fails
    //   (the k-anonymous-but-leaky case l-diversity exists to catch)
    val rows = Seq(
      (1, "a", 10L), (1, "a", 20L), (1, "a", 30L), (1, "a", 10L),
      (1, "b", 10L), (1, "b", 20L),
      (2, "a", 50L), (2, "a", 50L), (2, "a", 50L)
    ).toDF("region", "segment", "sens")
    val out = graft.validation.Privacy.kAnonymityAudit(
      rows, Seq("region", "segment"), col("sens"), k = 3, l = 3)
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        (r.getAs[Long]("class_size"), r.getAs[Boolean]("meets_k"),
          r.getAs[Long]("l_distinct"), r.getAs[Boolean]("meets_l"),
          r.getAs[Boolean]("releasable"))).toMap
    assert(out((1, "a")) == ((4L, true, 3L, true, true)))
    assert(out((1, "b")) == ((2L, false, 2L, false, false)))
    assert(out((2, "a")) == ((3L, true, 1L, false, false)))
  }

  test("tClosenessAudit: hand-checked TV distance incl. the absent-value " +
      "complement mass, the case l-diversity cannot see") {
    import org.apache.spark.sql.functions.col
    // class A holds ONLY value 1 (4 rows); class B holds values 2,2,3,4.
    // Global: v1=4, v2=2, v3=1, v4=1 over N=8.
    //   A: present |1 - 4/8| = 1/2; absent mass 1 - 4/8 = 1/2
    //      -> TV = (1/2 + 1/2)/2 = 1/2
    //   B: |2/4-2/8| + |1/4-1/8| + |1/4-1/8| = 1/2; absent p_g(v1)=1/2
    //      -> TV = 1/2
    // Both classes are 4-anonymous and B is 3-diverse, yet both leak
    // distributionally at t = 0.25.
    val rows = Seq(
      (1, "a", 1L), (1, "a", 1L), (1, "a", 1L), (1, "a", 1L),
      (2, "a", 2L), (2, "a", 2L), (2, "a", 3L), (2, "a", 4L)
    ).toDF("region", "segment", "sens")
    val out = graft.validation.Privacy.tClosenessAudit(
      rows, Seq("region", "segment"), col("sens"), tMicro = 250000L)
      .collect().map(r => r.getInt(0) ->
        (r.getAs[Long]("class_size"), r.getAs[Long]("n_values_present"),
          r.getAs[Long]("tv_micro"), r.getAs[Boolean]("meets_t"))).toMap
    assert(out(1) == ((4L, 1L, 500000L, false)), s"got $out")
    assert(out(2) == ((4L, 3L, 500000L, false)), s"got $out")
    // a class matching the global mix exactly has TV 0 and releases
    val uniform = Seq(
      (1, "a", 1L), (1, "a", 2L), (2, "a", 1L), (2, "a", 2L)
    ).toDF("region", "segment", "sens")
    val u = graft.validation.Privacy.tClosenessAudit(
      uniform, Seq("region", "segment"), col("sens"), tMicro = 250000L)
      .collect()
    u.foreach { r =>
      assert(r.getAs[Long]("tv_micro") == 0L &&
        r.getAs[Boolean]("meets_t"))
    }
  }

  test("generalizationLattice: one cube pass scores every subset level") {
    // full quasi fails k=3 (classes of 2), region-only and global pass,
    // segment-only still carries one leaky class — the planner's pick
    // must be the region-only level (least generalized that meets k)
    val rows = Seq(
      (1, "a"), (1, "a"), (1, "b"), (1, "b"),
      (2, "a"), (2, "a"), (2, "a"), (2, "a")
    ).toDF("region", "segment")
    val out = graft.validation.Privacy.generalizationLattice(
      rows, Seq("region", "segment"), k = 3)
      .collect().map(r => r.getAs[String]("retained") ->
        (r.getAs[Long]("n_generalized"), r.getAs[Long]("n_classes"),
          r.getAs[Long]("min_class_size"),
          r.getAs[Long]("violating_classes"),
          r.getAs[Long]("rows_at_risk"), r.getAs[Boolean]("meets_k")))
      .toMap
    assert(out.size == 4)
    assert(out("region+segment") == ((0L, 3L, 2L, 2L, 4L, false)))
    assert(out("region") == ((1L, 2L, 4L, 0L, 0L, true)))
    assert(out("segment") == ((1L, 2L, 2L, 1L, 2L, false)))
    assert(out("(none)") == ((2L, 1L, 8L, 0L, 0L, true)))
  }

  test("tableDigest: order-independent, change-sensitive, dup-pair caught " +
      "by the triple, NULL cannot alias a shifted field") {
    import org.apache.spark.sql.functions.col
    def digest(rows: Seq[(Int, String, String)]) =
      graft.validation.Reconcile.tableDigest(
        rows.toDF("part", "a", "b"), col("part"),
        Seq(col("a"), col("b")))
        .collect().map(r => r.getInt(0) ->
          (r.getAs[Long]("n_rows"), r.getAs[Long]("xor_digest"),
            r.getAs[Long]("sum_digest"))).toMap
    val base = Seq((1, "x", "y"), (1, "p", "q"), (2, "m", "n"))
    // row order is irrelevant
    assert(digest(base) == digest(base.reverse))
    // one changed row moves the digests, not the count
    val changed = digest(Seq((1, "x", "y"), (1, "p", "Z"), (2, "m", "n")))
    assert(changed(1)._1 == digest(base)(1)._1)
    assert(changed(1) != digest(base)(1))
    assert(changed(2) == digest(base)(2)) // untouched partition unmoved
    // a duplicated PAIR cancels in xor alone — count and sum catch it
    val dup = digest(base ++ Seq((1, "x", "y"), (1, "x", "y")))
    assert(dup(1)._2 == digest(base)(1)._2)
    assert(dup(1)._1 != digest(base)(1)._1)
    assert(dup(1)._3 != digest(base)(1)._3)
    // the NULL sentinel keeps (x, NULL) apart from (x, '') and from a
    // field-shifted row
    val withNull = Seq((1, "x", null: String))
    val withEmpty = Seq((1, "x", ""))
    assert(digest(withNull) != digest(withEmpty))
  }

  test("columnDigest: localizes the changed column, NULL-sentinel exact, " +
      "n_rows rides every column row") {
    import org.apache.spark.sql.functions.col
    def digest(rows: Seq[(Int, String, String)]) =
      graft.validation.Reconcile.columnDigest(
        rows.toDF("part", "a", "b"), col("part"),
        Seq("a" -> col("a"), "b" -> col("b")))
        .collect().map(r => (r.getInt(0), r.getString(1)) ->
          (r.getAs[Long]("n_rows"), r.getAs[Long]("xor_digest"),
            r.getAs[Long]("sum_digest"))).toMap
    val base = digest(Seq((1, "x", "y"), (1, "p", "q"), (2, "m", "n")))
    assert(base.keySet ==
      Set((1, "a"), (1, "b"), (2, "a"), (2, "b")))
    assert(base.values.forall(v => v._1 == 2L || v._1 == 1L))
    // change ONLY column b in partition 1: the (1, b) row moves, the
    // other three rows (incl. (1, a)) are untouched — the localization
    val moved = digest(Seq((1, "x", "y"), (1, "p", "Z"), (2, "m", "n")))
    assert(moved((1, "b")) != base((1, "b")))
    assert(moved((1, "a")) == base((1, "a")))
    assert(moved((2, "a")) == base((2, "a")))
    assert(moved((2, "b")) == base((2, "b")))
    // NULL is sentinel-hashed, not dropped: it differs from '' and from
    // the literal string the sentinel spells
    val withNull = digest(Seq((1, "x", null)))
    assert(withNull((1, "b")) != digest(Seq((1, "x", "")))((1, "b")))
    assert(withNull((1, "b")) !=
      digest(Seq((1, "x", "NULL")))((1, "b")),
      "a plain 'NULL' string must NOT alias SQL NULL")
    assert(withNull((1, "b")) ==
      digest(Seq((1, "x", "\u0001NULL")))((1, "b")),
      "documented alias: a literal u0001-sentinel field equals NULL")
    // order independence, same as the row digest
    assert(digest(Seq((1, "p", "q"), (1, "x", "y"), (2, "m", "n"))) == base)
  }

  test("reconcile: clean compare returns one (all) match row; planted " +
      "defects classify and the summary rolls up as 'mismatch'") {
    import org.apache.spark.sql.functions.col
    val src = Seq((1, "x", "y"), (1, "p", "q"), (2, "m", "n"), (3, "z", "w"))
      .toDF("part", "a", "b")
    def rec(t: Seq[(Int, String, String)]) =
      graft.validation.Reconcile.reconcile(src,
        t.toDF("part", "a", "b"), col("part"),
        Seq(col("a"), col("b")))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3))).toSeq
    // identical tables: exactly one row, all three partitions matched
    assert(rec(Seq((1, "x", "y"), (1, "p", "q"), (2, "m", "n"),
      (3, "z", "w"))) == Seq(("(all)", "match", 3L, 0L)))
    // content change in part 1, part 2 dropped, part 4 extra: each
    // classifies, and the summary verdict is the catch-all 'mismatch'
    // (its s_rows/t_rows are matched/mismatched PARTITION counts)
    val got = rec(Seq((1, "x", "y"), (1, "p", "Z"), (3, "z", "w"),
      (4, "e", "f")))
    assert(got.contains(("1", "content_mismatch", 2L, 2L)))
    assert(got.contains(("2", "source_only", 1L, 0L)))
    assert(got.contains(("4", "target_only", 0L, 1L)))
    assert(got.contains(("(all)", "mismatch", 1L, 3L)))
    // a duplicated row is a count mismatch, not content
    val dup = rec(Seq((1, "x", "y"), (1, "p", "q"), (1, "p", "q"),
      (2, "m", "n"), (3, "z", "w")))
    assert(dup.contains(("1", "count_mismatch", 2L, 3L)))
  }

  test("CDC trust chain: snapshot + incremental merge reconciles all-match " +
      "against the full replay; a corrupted merge is flagged") {
    import org.apache.spark.sql.functions._
    import graft.operators.Analytics
    // keys 1..3: key 1 updated pre+post cut, key 2 tombstoned post-cut,
    // key 3 created post-cut, key 4 tombstoned PRE-cut (absent from the
    // snapshot and from the final state)
    val log = Seq(
      (1L, 10L, 100L, 1.0, "U"), (1L, 11L, 150L, 2.0, "U"),
      (2L, 12L, 120L, 3.0, "U"),
      (4L, 13L, 130L, 9.0, "U"), (4L, 14L, 140L, 9.5, "D"),
      (1L, 20L, 210L, 4.0, "U"),
      (2L, 21L, 220L, 0.0, "D"),
      (3L, 22L, 230L, 5.0, "U")
    ).toDF("user_id", "event_id", "ts_us", "value", "op")
    def apply0(l: org.apache.spark.sql.DataFrame) =
      Analytics.cdcApply(l, "user_id", "ts_us", "event_id", "op", "D")
        .drop("n_ops")
    val cut = 200L
    val snapshot = apply0(log.where(col("ts_us") < cut))
    val merged = apply0(snapshot.withColumn("op", lit("U"))
      .unionByName(log.where(col("ts_us") >= cut)))
    val replayed = apply0(log)
    // final state: key 1 -> event 20, key 3 -> event 22; keys 2 and 4 gone
    assert(replayed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 20L, 3L -> 22L))
    def rec(t: org.apache.spark.sql.DataFrame) =
      graft.validation.Reconcile.reconcile(replayed, t,
        pmod(col("user_id"), lit(16)),
        Seq(col("user_id"), col("event_id"), col("ts_us"), col("value")))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rec(merged) == Seq(("(all)", "match")))
    // corrupt one merged value: that key's partition flags, summary flips
    val bad = merged.withColumn("value",
      when(col("user_id") === 3L, lit(99.0)).otherwise(col("value")))
    assert(rec(bad).contains(("3", "content_mismatch")))
    assert(rec(bad).contains(("(all)", "mismatch")))
  }

  test("dpCountRelease: deterministic geometric noise — idempotent " +
      "across re-runs, bounded by the clamp, unbiased-ish over many keys") {
    import graft.validation.Privacy
    val df = (1 to 4000).map(i => (i.toLong, s"g${i % 50}"))
      .toDF("id", "grp")
    val rel = Privacy.dpCountRelease(df, Seq("grp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // idempotence: the seed is the group key, so a second release is
    // byte-identical (publishing twice cannot leak a fresh draw)
    val rel2 = Privacy.dpCountRelease(df, Seq("grp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rel == rel2 && rel.size == 50)
    // every noisy count sits within the clamp of the true count (80/group)
    assert(rel.values.forall(v => v >= 80 - 15 && v <= 80 + 15))
    // and the noise is not degenerate: multiple distinct values appear
    assert(rel.values.toSet.size > 3)
  }

  test("dpStabilityRelease: the threshold gates rare items, frequent " +
      "vocabulary releases, and the release is idempotent") {
    import graft.validation.Privacy
    // 30 docs share a common phrase; each carries one private filler
    // token (df = 1) — the strings the mechanism must not enumerate
    val docs = (1 to 30).map(i =>
      (i.toLong, s"the quick brown fox jumps filler$i"))
      .toDF("doc_id", "text")
    def run() = Privacy.dpStabilityRelease(docs, "doc_id", "text",
      tau = 12L).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = run()
    // df = 30 and noise >= -15 -> noisy >= 15 >= tau: frequent items
    // can NEVER be suppressed at this margin
    for (t <- Seq("the", "quick", "brown", "fox", "jumps",
        "the quick brown", "brown fox jumps"))
      assert(out.contains(t), s"frequent item '$t' suppressed")
    // every released noisy count clears the threshold
    assert(out.values.forall(_ >= 12L))
    // singleton items (unigram fillers + their trigrams, ~60 of them)
    // surface only via the geometric tail (P ~ 2.6e-3 each) — the
    // mechanism's delta; the deterministic draw should leak at most a
    // couple
    assert(out.keys.count(_.contains("filler")) <= 2,
      s"singleton leak count too high: ${out.keys.filter(_.contains("filler"))}")
    // idempotent: publishing twice is the same release
    assert(run() == out)
  }

  test("dpSumRelease: clamp bounds the contribution, granularity bounds " +
      "the sum error, independent draws, idempotent, NULL-safe") {
    import graft.validation.Privacy
    // 40 entities per group, values 100.00$ (10000 cents) each; one
    // group carries a 9999$ whale (upper clamp) and a -500$ debtor
    // (lower clamp) and a NULL (counts as 0)
    val rows =
      (1 to 40).map(i => ("a", Some(10000L))) ++
      ((1 to 37).map(i => ("b", Some(10000L))) ++
        Seq(("b", Some(999900L)), ("b", Some(-50000L)), ("b", None)))
    val df = rows.toDF("grp", "cents")
    def run() = Privacy.dpSumRelease(df, Seq("grp"), col("cents"),
      clampCents = 500000L).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.toString.toLong)))
      .toMap
    val out = run()
    // exact clamped sums: a = 400000; b = 37*10000 + 500000 (whale
    // clamps down) + 0 (debtor clamps up) + 0 (NULL) = 870000.
    // released = 500000 * (floor(s/500000) + Z), Z in [-15, 15]
    val (sumA, nA, _) = out("a")
    assert(sumA % 500000L == 0L)
    assert(sumA / 500000L >= 0L - 15L && sumA / 500000L <= 0L + 15L)
    val (sumB, nB, meanB) = out("b")
    assert(sumB % 500000L == 0L)
    assert(sumB / 500000L >= 1L - 15L && sumB / 500000L <= 1L + 15L)
    // counts within the noise clamp of the true 40
    assert(nA >= 25L && nA <= 55L && nB >= 25L && nB <= 55L)
    // mean is the released ratio exactly (post-processing), NULL-guarded
    if (nB > 0) assert(meanB.contains(sumB / nB))
    // idempotent: re-release is byte-identical
    assert(run() == out)
    // the sum and count draws are INDEPENDENT (different salts): over
    // many groups they must not be equal everywhere
    val many = (1 to 2000).map(i => (s"g${i % 100}", Some(250000L)))
      .toDF("grp", "cents")
    val rel = Privacy.dpSumRelease(many, Seq("grp"), col("cents"),
      clampCents = 500000L).collect()
      .map(r => (r.getLong(1) / 500000L - 10L, r.getLong(2) - 20L))
    assert(rel.count { case (zs, zc) => zs != zc } > 50,
      "sum and count noise draws look correlated — salt separation broken")
  }

  test("dpNoiseCalibration: empirical histogram tracks the theory " +
      "derived from the same cuts (symmetric, mode at zero)") {
    import graft.validation.Privacy
    val df = (1 to 20000).map(i => Tuple1(i.toLong)).toDF("id")
    val cal = Privacy.dpNoiseCalibration(df, "id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byNoise = cal.map(t => t._1 -> t).toMap
    // mode at zero and theory says ~2448 bp there
    assert(byNoise(0L)._4 == 2449L)
    assert(cal.maxBy(_._2)._1 == 0L)
    // 20k draws: every |noise| <= 4 bucket within 60 bp of theory
    for ((n, _, emp, th) <- cal if math.abs(n) <= 4)
      assert(math.abs(emp - th) <= 60L,
        s"noise $n: empirical $emp bp vs theory $th bp")
    // total mass is 10000 bp up to truncation
    assert(math.abs(cal.map(_._3).sum - 10000L) <= cal.length)
  }
}
