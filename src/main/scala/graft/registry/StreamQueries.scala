package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.registry.OracleSql._
import graft.registry.Query.sql
import graft.operators.Analytics

/** Streaming queries: staged replays through Structured Streaming, with state
  * and sketches carried across micro-batches. */
private[graft] object StreamQueries {

  // per-process component for wipe-and-rebuild streaming staging dirs:
  // two concurrent runs (e.g. bench + correctness) against the same
  // dataset must not race on each other's staged replay files
  private val procTag: String = java.lang.ProcessHandle.current.pid.toString

  // every staging dir this process derives is deleted at JVM exit — the
  // per-process name fixes the concurrency race but would otherwise
  // strand a staged copy in /tmp per run (r14)
  private val stagedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val stagedDirsHookArmed =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private def stagingDir(prefix: String, tag: String): String = {
    val d = s"/tmp/${prefix}_${procTag}_$tag"
    stagedDirs.add(d)
    if (stagedDirsHookArmed.compareAndSet(false, true))
      java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() =>
        stagedDirs.forEach { p =>
          val path = java.nio.file.Paths.get(p)
          if (java.nio.file.Files.exists(path)) {
            val walk = java.nio.file.Files.walk(path)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .forEach(f => java.nio.file.Files.deleteIfExists(f))
            finally walk.close()
          }
        }))
    d
  }

  /** Stages `df` as the two-file replay (rows matching `early` in the
    * first file, the rest a minute later) under this process's staging
    * dir `<prefix>_<pid>_<dir tag>`, and returns that dir. */
  private def stage(s: SparkSession, dir: String, prefix: String,
      df: DataFrame,
      early: Column = col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
      : String = {
    val base = stagingDir(prefix, dirTag(dir))
    graft.streaming.EventStream.stageTwoPhase(df, early, base)
    base
  }

  /** Streams the replay staged at `base` back, one file per micro-batch. */
  private def streamOf(s: SparkSession, df: DataFrame, base: String): DataFrame =
    s.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(base)

  val all: Seq[Query] = Seq(
    // §2.45a2 — the REGISTERED streaming dedup gate (the at-least-once
    // ingest primitive; 45's dedupStream was spec-only): the events
    // table replays as the two-file stream and each DISTINCT
    // (event_type, user_id) key passes exactly once — batch-2
    // re-arrivals of batch-1 keys are dropped by the keyed state. The
    // watermark horizon (45 days) exceeds the table's whole span, so no
    // state evicts mid-replay and the emitted KEY SET is deterministic
    // (which physical row carried the key first is not, so only the key
    // columns are published — the gate's contract IS the set).
    Query("q_stream_dedup", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val base = stage(s, dir, "graft_dedupsrc", ev)
      val stream = streamOf(s, ev, base)
      graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.dedupStream(stream,
          watermark = "45 days", keyCols = Seq("event_type", "user_id")))
        .select(col("event_type"), col("user_id"))
        .orderBy(col("event_type"), col("user_id"))
    },
      // each distinct key passes the gate exactly once and nothing evicts
      // inside the replay, so the emitted key set is the plain DISTINCT
      sql("""SELECT DISTINCT event_type, user_id FROM events
        |ORDER BY 1, 2""".stripMargin)),

    // §2.45b2 — the REGISTERED stream-stream interval join (45b was
    // spec-only; the two-source JOIN class joins the oracle-checked
    // streaming surface): errors and clicks arrive as two sources over
    // the same staged two-file replay, matched per user within the
    // 30-minute lookback. Inner-join matches emit when found — no
    // append-mode flush gate — and state eviction below
    // watermark − lookback can never drop a feasible match (a file-2
    // click has ts >= the cut, far above any evicted error's bound), so
    // the emitted set is EXACTLY the batch interval join.
    Query("q_stream_join", (s, dir) => {
      // stage only the two joined event types: the collector-side
      // projection a real feed would apply — both sources scan and
      // buffer less
      val ev = Tables.events(s, dir)
        .where(col("event_type").isin("error", "click"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val base = stage(s, dir, "graft_ssjsrc", ev)
      def side = streamOf(s, ev, base)
      val errors = side.where(col("event_type") === "error")
        .select(col("user_id").as("err_user"), col("event_id").as("err_id"),
          col("ts").as("err_ts"))
      val clicks = side.where(col("event_type") === "click")
        .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
          col("value").as("click_value"))
      graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.attributeToRecent(errors, clicks,
          watermark = "2 hours", lookback = "30 MINUTES"))
        .select(col("err_user").as("user_id"), col("err_id"),
          unix_micros(col("err_ts")).as("err_us"),
          unix_micros(col("click_ts")).as("click_us"),
          col("click_value"))
        .orderBy(col("user_id"), col("err_id"), col("click_us"),
          col("click_value"))
    },
      // inner matches emit when found and no feasible match is ever
      // evicted, so the replay is the plain batch interval join
      sql("""WITH e AS (
        |  SELECT user_id, event_id AS err_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS err_us
        |  FROM events WHERE event_type = 'error'),
        |c AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us,
        |    value AS click_value
        |  FROM events WHERE event_type = 'click')
        |SELECT e.user_id, e.err_id, e.err_us, c.click_us, c.click_value
        |FROM e JOIN c ON e.user_id = c.user_id
        |  AND c.click_us <= e.err_us
        |  AND c.click_us >= e.err_us - 1800000000
        |ORDER BY 1, 2, 4, 5""".stripMargin)),

    // §2.51b — the REGISTERED streaming running-total row (45g was
    // spec-only; the flatMapGroupsWithState-with-emissions class joins
    // the oracle-checked streaming surface): the events table replays as
    // the two-file stream and every event emits its post-event cumulative
    // sum. One long of exact cents per user is the whole state; the
    // ts-cut staging preserves each user's (ts, event_id) order across
    // batches and arrivals fold in that order within a batch, so the
    // emitted prefix sums are EXACTLY the batch window replay — batch
    // boundaries cannot move a single value.
    Query("q_stream_running", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val base = stage(s, dir, "graft_runsrc", ev)
      val stream = streamOf(s, ev, base)
      graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.runningTotalsStream(stream))
        .orderBy(col("user_id"), col("event_id"))
    },
      // every event emits exactly once with its post-event cumulative sum;
      // exact-cents state + per-user order preserved across the staged
      // batches make the replay the plain batch window
      sql("""SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_sum
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin)),

    // §2.60b — the REGISTERED streaming OHLC row (45h was spec-only): the
    // events table replays as a two-file stream (maxFilesPerTrigger=1 →
    // two micro-batches, cross-batch window state), ohlcStream's
    // watermarked hour windows drain under Trigger.AvailableNow, and the
    // trailing no-data batch flushes every window strictly below the
    // final watermark max(ts) − 2h. No event is ever late by
    // construction (batch 2 holds only ts >= the cut, far above batch
    // 1's watermark), so the emitted set is EXACTLY the batch bars whose
    // window end <= max(ts) − 2h — the oracle's WHERE clause.
    // §2.45s — STREAMING gap sessionization (the sixth oracle-checked
    // streaming row — the session-window stateful-operator class): the
    // SAME session_window call as batch q_sessions runs over the
    // two-file replay, open sessions merging ACROSS micro-batches
    // (sessions spanning the 2024-01-16 split are the load-bearing
    // case); append mode emits a session when the watermark passes its
    // padded end, so sessions ending within 2h of the stream's max
    // event time stay open — the oracle replays the batch gap-split
    // with exactly that eviction rule
    Query("q_stream_sessions", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
        .where(col("user_id").isNotNull && col("ts").isNotNull)
      val base = stage(s, dir, "graft_sesssrc", ev)
      val stream = streamOf(s, ev, base)
      graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.sessionStream(stream,
          gap = "30 minutes", watermark = "2 hours"))
        .orderBy(col("user_id"), col("first_us"))
    },
      // append-mode flush rule: a window emits once the watermark
      // (max event time − 2h, advanced by the trailing no-data batch)
      // passes its END; nothing is late by construction, so the replay is
      // the batch bars filtered to flushed windows
      // the q_sessions gap-split replay + the append-mode eviction rule:
      // a session emits iff its padded end clears the final watermark
      sql("""WITH wm AS (
        |  SELECT epoch_us(max(ts) - INTERVAL 2 HOUR) AS w FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |flagged AS (
        |  SELECT user_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |           >= 1800000000
        |         OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, us,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, min(us) AS first_us, max(us) AS last_us,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    max(us) - min(us) AS span_us
        |  FROM sessions GROUP BY user_id, sid)
        |SELECT user_id, first_us, last_us, n_events, span_us
        |FROM agg
        |WHERE last_us + 1800000000 <= (SELECT w FROM wm)
        |ORDER BY user_id, first_us""".stripMargin)),

    // §2.45j promoted to a oracle-checked row (r15 —
    // the SKETCH class joins the streaming sextet): the HLL register
    // file maintained ACROSS two micro-batches (state bounded at
    // groups×512 rows forever; max-merge absorbs re-delivery), drained
    // in complete mode (the register file IS the state), estimates read
    // through the exact same column chain as the batch audit, exact
    // side certified by a batch distinct over the same staged bytes.
    // Oracle = the q_hll_counts register replay on the staged row set.
    Query("q_stream_hll", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("ts"))
        .where(col("event_type").isNotNull && col("user_id").isNotNull &&
          col("ts").isNotNull)
      val base = stage(s, dir, "graft_hllsrc", ev)
      val stream = streamOf(s, ev, base)
      val regs = graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.hllRegisterStream(stream, "user_id"),
        outputMode = "complete")
      val exact = s.read.parquet(base).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      graft.operators.Approx.hllEstimateFromRegisters(regs, "event_type")
        .join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"), col("v_zero"),
          col("small_range"), col("hll_est"),
          round(abs(col("hll_est") - col("n_exact").cast("double")) /
            col("n_exact").cast("double") * 10000.0, 0).cast("long")
            .as("err_bp"))
        .orderBy(col("event_type"))
    },
      // the q_hll_counts register replay over the streamed row set (the
      // staged two-file union = events with type/user/ts non-null): the
      // registers a correct cross-batch max-merge must converge to are a
      // pure function of the row SET, so the batch replay IS the oracle
      // for the streamed file — order/batching cannot matter by max's
      // idempotence
      sql {
        s"""WITH d AS (
           |  SELECT DISTINCT event_type, user_id FROM events
           |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
           |    AND ts IS NOT NULL),
           |${hllAudit("event_type", "CAST(user_id AS VARCHAR)")}""".stripMargin
      }),

    // §2.45m promoted to a oracle-checked row (r15 — the ADDITIVE sketch
    // class follows q_stream_hll's promotion): the d×w count-min cell
    // matrix maintained across two staged micro-batches (state bounded
    // at d·w counters forever; the exactly-once file source is the
    // dedup gate additive counters need), drained complete, estimates
    // read through the shared cmsTopKFromCells min-over-rows path with
    // true counts certified by a batch pass over the same staged bytes.
    // Oracle = the q_cms_topk replay: additive cells are a pure
    // function of the row MULTISET, so batching cannot matter.
    Query("q_stream_cms", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .where(col("doc_id").isNotNull && col("text").isNotNull)
      val base = stage(s, dir, "graft_cmssrc", docs,
        pmod(col("doc_id"), lit(2L)) === 0L)
      val stream = streamOf(s, docs, base)
      val cells = graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.cmsCellStream(stream, d = 3, w = 2048),
        outputMode = "complete")
      val toks = s.read.parquet(base)
        .select(explode(split(col("text"), " ")).as("token"))
      graft.operators.Approx.cmsTopKFromCells(cells, toks,
        d = 3, w = 2048, k = 20)
    },
      // the q_cms_topk replay over the streamed row set (doc_id/text
      // non-null — the staged union): additive cells are a pure function
      // of the token multiset, so the batch sketch IS the oracle for the
      // streamed matrix
      sql(s"""WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
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

    // §2.45r promoted to a oracle-checked row (r15 — the BOTTOM-K sketch
    // class follows hll/cms; streaming rows now NINE): the per-(group,
    // day) bottom-128 quantile state folds arrivals via
    // flatMapGroupsWithState across two staged micro-batches, each
    // touched batch re-emitting its refreshed ranked state; the final
    // state re-derives EXACTLY from the emission log by the bottom-k
    // law (a row in bottom-k of the total is never evicted and entered
    // state on arrival, so bottom-k(emitted) == bottom-k(seen) —
    // EventStreamSpec proves final-state equality with the batch
    // build), and n_day certifies from a batch count over the same
    // staged bytes. Oracle = the q_quantile_sketch row-for-row replay.
    Query("q_stream_quantile", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("event_type").isNotNull && col("value").isNotNull &&
          col("ts").isNotNull)
        .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      val base = stage(s, dir, "graft_qsksrc", ev)
      val stream = streamOf(s, ev, base)
      val rows = stream.select(col("event_type").as("g"),
        col("ts").cast("date").cast("string").as("day"),
        graft.operators.Approx.quantileSketchHash(col("event_id")).as("hk"),
        col("event_id").cast("long").as("id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("v"))
      val emitted = graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.quantileStateStream(rows, k = 128))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g"), col("day")).orderBy(col("hk"), col("id"))
      val st = emitted.select(col("g"), col("day"), col("hk"), col("id"),
        col("v")).distinct()
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 128)
      val n = s.read.parquet(base).groupBy(col("event_type").as("g"),
        col("ts").cast("date").cast("string").as("day"))
        .agg(count(lit(1)).as("n_day"))
      st.join(broadcast(n), Seq("g", "day"))
        .select(col("g"), col("day"), col("rk"), col("hk"), col("id"),
          col("v"), col("n_day"))
        .orderBy(col("g"), col("day"), col("rk"))
    },
      // the q_quantile_sketch row-for-row replay over the streamed row
      // set (ts additionally non-null — the staging split needs it; day
      // as VARCHAR, the stream's state key type): bottom-k state is a
      // pure function of the row SET, so the batch build IS the oracle
      sql {
        s"""WITH e AS (
           |  SELECT event_type AS g,
           |    CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           |    event_id AS id,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
           |    ${md5bits("'qsk:' || CAST(event_id AS VARCHAR)")} AS hk
           |  FROM events
           |  WHERE event_type IS NOT NULL AND value IS NOT NULL
           |    AND ts IS NOT NULL),
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

    // §2.45n promoted to a oracle-checked row (r16 — the IDENTIFIED-top-m
    // sketch completes the streaming sketch class: HLL counts distincts,
    // CMS answers point queries, quantile keeps order statistics, and
    // SpaceSaving names the hot keys — "what is trending NOW", the first
    // sketch a live pipeline watches): the planted-hot-key item stream
    // folds through `Approx.ssStep` (the ONE step shared with the batch
    // fold) across two staged micro-batches; the phase split is on ts,
    // so batch-1-sorted ++ batch-2-sorted IS the batch fold's global
    // (o1, o2) order and the final m counters equal the batch summary
    // exactly. The final emission per group is selected by the monotone
    // n_seen stamp (= Σ est, the SpaceSaving invariant), then published
    // through the SAME guaranteed-set + theorem-verdict audit as
    // q_spacesaving — so the batch oracle certifies the streaming fold
    // verbatim. State: m=64 counters per group forever.
    Query("q_stream_spacesaving", (s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("ts"),
        when(pmod(col("user_id"), lit(10)) === 0,
          expr("(user_id % 40) DIV 10"))
          .otherwise(col("user_id") + 100).as("user_id"),
        col("event_type"), col("value"))
      val base = stage(s, dir, "graft_sssrc", ev)
      val stream = streamOf(s, ev, base)
      val emitted = graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.heavyHittersStream(stream, m = 64))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      val fin = emitted
        .withColumn("n_fin", max(col("n_seen")).over(w))
        .where(col("n_seen") === col("n_fin"))
      val items = s.read.parquet(base)
        .select(col("event_type").as("g"), col("user_id").as("i"))
      graft.operators.Approx.spaceSavingAuditPrefolded(
        fin.select(col("event_type").as("g"), col("item"), col("est"),
          col("err")),
        fin.groupBy(col("event_type").as("g"))
          .agg(max(col("n_seen")).as("n_events")),
        items, m = 64)
    },
      // identical published rows: the streaming fold shares ssStep with
      // the batch fold and the staged phase split preserves the (o1, o2)
      // arrival order, so the final counters ARE the batch summary and
      // the batch oracle certifies the stream verbatim (the
      // stream-sketch promotion contract)
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
        |ORDER BY 1, 2""".stripMargin)),

    // §2.45i promoted to a oracle-checked row (r16 — the real-time
    // FEATURE-STORE twin graduates: last-touch attribution is the
    // credit a live dashboard reads the moment a purchase lands): per
    // user the latest (touch time, type) is the whole keyed state;
    // each purchase emits its credit on arrival across the two staged
    // micro-batches (a batch-1 touch credits a batch-2 purchase —
    // cross-batch state is the point), and the ts-split staging
    // preserves the batch operator's (us, event_id) decision order, so
    // the emitted credits are row-for-row the batch per-purchase
    // decisions. Revenue cents join from a batch read of the same
    // staged bytes by purchase event_id; the 'none' lag sentinel (-1)
    // maps back to NULL so avg() skips it exactly like the batch
    // window form. Oracle = the batch q_attribution replay verbatim.
    Query("q_stream_attribution", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("event_type").isin("purchase", "click", "view"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val base = stage(s, dir, "graft_attrsrc", ev)
      val stream = streamOf(s, ev, base)
      val credits = graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.lastTouchStream(stream,
          purchaseType = "purchase", touchTypes = Set("click", "view"),
          windowUs = 86400000000L))
      val vc = s.read.parquet(base)
        .where(col("event_type") === "purchase")
        .select(col("event_id"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("v_c"))
      credits.join(vc, Seq("event_id"))
        .select(col("attributed_type"), col("v_c"),
          when(col("lag_us") >= 0L, col("lag_us")).as("lag_us"))
        .groupBy(col("attributed_type"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("v_c")).as("revenue_cents"),
          avg(col("lag_us")).as("mean_lag_us"))
    },
      // the streaming fold shares the batch per-purchase decision rule
      // and the ts-split staging preserves the (us, event_id) order, so
      // the batch replay certifies the streamed credits verbatim
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

    // §2.45k promoted to a oracle-checked row (r16 — the recency
    // feature store joins attribution in the graduated set): each
    // user's bounded newest-16 buffer folds across two staged
    // micro-batches under the batch (ts, id) order; scores are NOT
    // monotone, so the final emission per user is selected by the
    // per-user epoch stamp (update-round counter) rather than a value
    // law; the final buffer equals the batch top-16 because top-n of a
    // union is top-n of (top-n ∪ new) — merge-idempotent like the
    // bottom-k family. Oracle = the batch q_decay_score replay.
    Query("q_stream_decay", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val base = stage(s, dir, "graft_decaysrc", ev)
      val stream = streamOf(s, ev, base)
      val emitted = graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.decayScoreStream(stream, n = 16))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
      emitted.withColumn("e_fin", max(col("epoch")).over(w))
        .where(col("epoch") === col("e_fin"))
        .select(col("user_id"), col("n_recent"), col("decay_cents"))
        .orderBy(col("user_id"))
    },
      // the unique (ts DESC, event_id DESC) order makes rank-from-the-end
      // deterministic; cents scaling and power-of-two weights keep the
      // whole score in BIGINT
      // the streamed newest-16 buffer folds under the batch (ts, id)
      // order and top-n is merge-idempotent, so the final per-user score
      // IS the batch operator's — the batch replay certifies the stream
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

    // §2.45o promoted to a oracle-checked row (r16 — the continuously
    // maintained eval-set draw): per source the k smallest salted-hash
    // doc ids fold as bottom-k state across two staged micro-batches;
    // the final sample re-derives EXACTLY from the emission log by the
    // bottom-k law (a doc in bottom-k of the total entered state on
    // arrival and was emitted — the q_stream_quantile discipline), with
    // the ord hash recomputed batch-side through the SAME native
    // RollingHash fold. Oracle = the batch q_group_sample replay.
    Query("q_stream_gsample", (s, dir) => {
      import org.apache.spark.sql.graftnative.RollingHash.rollingHash
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .where(col("doc_id").isNotNull && col("source").isNotNull)
      val base = stage(s, dir, "graft_gsamplesrc", docs,
        pmod(col("doc_id"), lit(2L)) === 0L)
      val stream = streamOf(s, docs, base)
      val emitted = graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.groupSampleStream(stream, k = 5))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("ord"), col("doc_id"))
      emitted.select(col("source"), col("doc_id")).distinct()
        .withColumn("ord", rollingHash(concat(lit("gsample:"),
          col("doc_id").cast("string"))))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 5)
        .select(col("doc_id"), col("source"), col("rank"))
        .orderBy(col("source"), col("rank"))
    },
      // bottom-k of a set re-derives from the streamed emission log, and
      // the ord hash is the same salted base-257 fold on both engines —
      // the batch replay certifies the streamed sample verbatim
      sql(s"""WITH h AS (
        |  SELECT doc_id, source,
        |    ${sqlFold("'gsample:' || CAST(doc_id AS VARCHAR)")} AS ord
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY ord, doc_id) AS BIGINT) AS rank
        |  FROM h)
        |SELECT doc_id, source, rank FROM r WHERE rank <= 5""".stripMargin)),

    // §2.45s — streaming KMV register row (r16 — the LAST sketch gets
    // its stream twin; the sketch class is now closed: HLL, CMS,
    // quantile, SpaceSaving, KMV all maintained as rows arrive): per
    // event_type the bottom-128 salted hashes fold via the SHARED
    // Approx.kmvHash across two staged micro-batches (bottom-k of a
    // set absorbs re-delivery with no dedup gate); the final register
    // file re-derives from the emission log by the bottom-k law, the
    // (k-1)·2^52/h_k estimate reads off the kth hash, and the exact
    // distinct certifies from a batch pass over the same staged bytes.
    // Oracle = the batch KMV register + estimate replay.
    Query("q_stream_kmv", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("ts"))
        .where(col("event_type").isNotNull && col("user_id").isNotNull &&
          col("ts").isNotNull)
      val base = stage(s, dir, "graft_kmvsrc", ev)
      val stream = streamOf(s, ev, base)
      val rows = stream.select(col("event_type").as("g"),
        graft.operators.Approx.kmvHash(col("user_id")).as("hc"))
      val emitted = graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.kmvRegisterStream(rows, k = 128))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("hc"))
      val reg = emitted.select(col("g"), col("hc")).distinct()
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 128)
      val exact = s.read.parquet(base).groupBy(col("event_type").as("g"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      reg.groupBy(col("g"))
        .agg(count(lit(1)).as("n_sketch"), max(col("hc")).as("kth_hc"))
        .join(exact, Seq("g"))
        .withColumn("est_r", round(
          when(col("n_sketch") < 128L, col("n_sketch").cast("double"))
            .otherwise(lit(127.0) * lit(4503599627370496.0) /
              col("kth_hc").cast("double")), 2))
        .withColumn("err_bp",
          round(abs(col("est_r") - col("n_exact").cast("double")) /
            col("n_exact").cast("double") * 10000.0, 0).cast("long"))
        .orderBy(col("g"))
    },
      // the running last-touch via IGNORE NULLS last_value over the same
      // strictly-before (us, event_id) frame the Spark window uses
      // bottom-k of a set re-derives from the emission log and the KMV
      // hash is the same salted 52-bit md5 fold on both engines — the
      // batch register + estimate replay certifies the stream verbatim
      sql {
        val kmvHash = md5bits("'kmv:' || CAST(v AS VARCHAR)")
        s"""WITH d AS (
           |  SELECT DISTINCT event_type AS g, user_id AS v FROM events
           |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
           |    AND ts IS NOT NULL),
           |h AS (SELECT DISTINCT g, $kmvHash + 1 AS hc FROM d),
           |r AS (SELECT g, hc,
           |    CAST(row_number() OVER (PARTITION BY g ORDER BY hc)
           |      AS BIGINT) AS rk
           |  FROM h),
           |sk AS (SELECT g, CAST(count(*) AS BIGINT) AS n_sketch,
           |    CAST(max(hc) AS BIGINT) AS kth_hc
           |  FROM r WHERE rk <= 128 GROUP BY g),
           |ex AS (SELECT g, CAST(count(DISTINCT v) AS BIGINT) AS n_exact
           |  FROM d GROUP BY g),
           |e AS (SELECT sk.g, sk.n_sketch, sk.kth_hc, ex.n_exact,
           |    round(CASE WHEN sk.n_sketch < 128
           |      THEN CAST(sk.n_sketch AS DOUBLE)
           |      ELSE CAST(127 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
           |        / CAST(sk.kth_hc AS DOUBLE) END, 2) AS est_r
           |  FROM sk JOIN ex ON sk.g = ex.g)
           |SELECT g, n_sketch, kth_hc, n_exact, est_r,
           |  CAST(round(abs(est_r - CAST(n_exact AS DOUBLE))
           |    / CAST(n_exact AS DOUBLE) * 10000.0, 0) AS BIGINT) AS err_bp
           |FROM e ORDER BY g""".stripMargin
      }),

    // §2.58u3 — streaming Benford drift monitor (r16 cont. — the
    // first-digit AUDIT becomes continuous: the data-quality screen a
    // live ingest gate runs per feed-day as rows arrive): per (type,
    // day, leading digit) ADDITIVE counters maintained in a
    // complete-mode aggregate across two staged micro-batches
    // (exactly-once file source = the dedup gate, the CMS promotion
    // law; state bounded at types × days × 9 tiny rows forever), the
    // drained cell file fed through the SAME
    // Analytics.benfordTimelineFromCells half the batch row uses.
    // Counters are a pure function of the row MULTISET, so the batch
    // q_benford_timeline oracle certifies the stream verbatim.
    Query("q_stream_benford", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("event_type"), col("ts"), col("value"))
      val base = stage(s, dir, "graft_benfsrc", ev)
      val stream = streamOf(s, ev, base)
      val cells = graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.benfordCellStream(stream,
          "event_type", "ts", "value"),
        outputMode = "complete")
      // bounded cell file; materialized so the shared half's self-join
      // resolves (and the drained state is read once, not re-planned)
      Analytics.benfordTimelineFromCells(cells.localCheckpoint())
    },
      // the streaming twin replays the BATCH timeline: additive cell
      // counters are a pure function of the row multiset, so the staged
      // two-batch drain must equal the one-shot SQL exactly
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

    Query("q_stream_ohlc", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val base = stage(s, dir, "graft_ohlcsrc", ev)
      val stream = streamOf(s, ev, base)
      graft.streaming.EventStream.drainAvailableNow(
        graft.streaming.EventStream.ohlcStream(stream, watermark = "2 hours"))
        .select(col("event_type"),
          unix_micros(col("window_start")).as("bucket_us"),
          col("open"), col("high"), col("low"), col("close"),
          col("n_events"))
        .orderBy(col("event_type"), col("bucket_us"))
    },
      sql("""WITH wm AS (
        |  SELECT epoch_us(max(ts) - INTERVAL 2 HOUR) AS w FROM events),
        |h AS (
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
        |  count(*) AS n_events
        |FROM o
        |WHERE bucket_us + 3600000000 <= (SELECT w FROM wm)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),

    // §2.56f — the REGISTERED streaming reconcile row (r13;
    // 45p/45q were spec-only): the replica is a live STREAM — the
    // orders file re-read through readStream with ONE planted
    // corruption class (o_custkey += 1 where o_orderkey % 1000 == 7) —
    // whose per-column digest state columnDigestStream maintains and
    // Trigger.AvailableNow drains; the source is the batch
    // Reconcile.columnDigest scan. Published verdicts localize the
    // divergence to exactly (part 7, o_custkey): 1000 ≡ 0 (mod 8), so
    // every corrupted key lands in partition 7, and the other 23
    // (part, column) cells read 'match'
    Query("q_stream_reconcile", (s, dir) => {
      val src = Tables.orders(s, dir)
      // the file streaming source lists a DIRECTORY; stage the orders
      // file into one (copied every invocation — self-healing against
      // the between-rounds testdata regeneration, and cheap next to the
      // stream itself)
      val tag = dirTag(dir)
      val d = java.nio.file.Paths.get(stagingDir("graft_streamsrc", tag))
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/orders.parquet"),
        d.resolve("orders.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val replica = s.readStream.schema(src.schema)
        .parquet(d.toString)
        .withColumn("o_custkey", col("o_custkey") +
          when(col("o_orderkey") % 1000 === 7, 1L).otherwise(0L))
      graft.streaming.EventStream.streamColumnReconcile(replica, src,
        pmod(col("o_orderkey"), lit(8)),
        Seq("o_custkey" -> col("o_custkey"),
          "o_orderstatus" -> col("o_orderstatus"),
          "o_totalprice" -> col("o_totalprice").cast("decimal(18,2)")))
    },
      // both sides' per-column digests replayed (the replica with the
      // planted o_custkey corruption applied in SQL) + the verdict CASE —
      // a pass certifies the LIVE digest state equals the batch scan of
      // the replica, the reconcile loop end to end
      sql {
        def side(tag: String, custExpr: String) = {
          val digCols = Seq(
            "o_custkey" -> s"CAST($custExpr AS VARCHAR)",
            "o_orderstatus" -> "CAST(o_orderstatus AS VARCHAR)",
            "o_totalprice" ->
              "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)")
          val hexprs = digCols.map { case (n, e) =>
            s"    ${md5bits(s"'digest:$n:' || coalesce($e, chr(1) || 'NULL')")} AS h_$n"
          }
          val selects = digCols.map { case (n, _) =>
            s"""SELECT part, '$n' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
               |  CAST(bit_xor(h_$n) AS BIGINT) AS xor_digest,
               |  CAST(sum(CAST(h_$n AS HUGEINT)) % 1000000000000000000 AS BIGINT)
               |    AS sum_digest
               |FROM b_$tag GROUP BY 1""".stripMargin
          }
          s"""b_$tag AS (
             |  SELECT CAST(o_orderkey % 8 AS VARCHAR) AS part,
             |${hexprs.mkString(",\n")}
             |  FROM orders),
             |d_$tag AS (
             |${selects.mkString("\nUNION ALL\n")})""".stripMargin
        }
        s"""WITH ${side("s", "o_custkey")},
           |${side("t",
              "o_custkey + CASE WHEN o_orderkey % 1000 = 7 THEN 1 ELSE 0 END")}
           |SELECT s.part, s."column",
           |  CASE WHEN s.n_rows IS NULL THEN 'target_only'
           |       WHEN t.n_rows IS NULL THEN 'source_only'
           |       WHEN s.n_rows <> t.n_rows THEN 'count_mismatch'
           |       WHEN s.xor_digest <> t.xor_digest
           |         OR s.sum_digest <> t.sum_digest THEN 'content_mismatch'
           |       ELSE 'match' END AS status,
           |  coalesce(s.n_rows, 0) AS s_rows,
           |  coalesce(t.n_rows, 0) AS t_rows
           |FROM d_s s JOIN d_t t USING (part, "column")
           |ORDER BY part, "column"""".stripMargin
      }),

    Query("q_cdc_apply", (s, dir) =>
      Analytics.cdcApply(
        Tables.events(s, dir).select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"),
          when(pmod(col("event_id"), lit(10)) === 0, "D").otherwise("U").as("op")),
        key = "user_id", seqCol = "ts_us", tieCol = "event_id",
        opCol = "op", deleteOp = "D")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("ts_us").as("last_ts_us"), col("value").as("last_value"),
          col("n_ops")),
      sql("""WITH log AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    value, CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_us DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_ops
        |  FROM log)
        |SELECT user_id, event_id AS last_event_id, ts_us AS last_ts_us,
        |  value AS last_value, n_ops
        |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin))
  )
}
