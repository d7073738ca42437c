package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.{Etl, Observability}
import graft.pipeline.Pipeline
import graft.validation.Validator

final case class OpResult(name: String, seconds: Double, ok: Boolean, error: String)

/** One workload over inputs already on disk. `warmUp` is part of the
  * set-up, `pass` runs the timed operations, `check` runs untimed.
  */
trait Workload {
  /** Seconds one timed pass takes on 4 cores: sets the pass count. */
  def nominalPassS: Double
  def warmUp(spark: SparkSession, tr: Tracer): Unit
  /** Untimed, after the set-up. */
  def afterSetUp(spark: SparkSession, tr: Tracer): Unit = ()
  def beforePass(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, tr: Tracer, index: Int): Seq[OpResult]
  /** Runs after the timed passes; returns the operations it ran and facts
    * for the checks. */
  def check(spark: SparkSession, tr: Tracer): (Seq[OpResult], Map[String, Any])
}

object Ops {
  def run(tr: Tracer, name: String)(body: => Unit): OpResult = {
    val t0 = System.nanoTime()
    try { tr.op(name)(body); OpResult(name, (System.nanoTime() - t0) / 1e9, ok = true, null) }
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name failed: $e")
      OpResult(name, (System.nanoTime() - t0) / 1e9, ok = false, e.toString)
    }
  }

  type Sink = (DataFrame, String) => Unit
  def noop(tr: Tracer): Sink = (df, _) =>
    tr("entry.sink")(df.write.format("noop").mode("overwrite").save())
  def parquet(dir: String): Sink = (df, name) =>
    df.write.mode("overwrite").parquet(s"$dir/$name")

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }
}

/** The reference's daily asset chain: extract -> WIP / cycle-time /
  * utilization transforms -> validate -> upsert-load, plus step statistics
  * over the run's own step log. One operation closes one day.
  */
final class EtlDays(data: String, work: String, days: Seq[String]) extends Workload {
  def nominalPassS: Double = 20.0
  private val lake = s"$work/lake"
  private val active = Seq("WAIT", "RUN", "HOLD")
  private val statuses = Seq("WAIT", "RUN", "HOLD", "DONE", "SCRAP", "SHIPPED")
  private val eventTypes = Seq("RUN", "IDLE", "DOWN", "PM")
  private val tenants = Seq(
    Etl.TenantConfig("fab_a", Seq("WAIT", "RUN", "HOLD"), "HIGH"),
    Etl.TenantConfig("fab_b", Seq("RUN"), "HIGH"),
    Etl.TenantConfig("fab_c", Seq("WAIT", "HOLD"), "LOW"))
  private val logSchema = StructType(Seq(
    StructField("run_id", StringType), StructField("event_id", LongType),
    StructField("event_type", StringType), StructField("ts", TimestampType)))

  def close(spark: SparkSession, tr: Tracer, lake: String, day: String): Unit = {
    val log = mutable.ArrayBuffer.empty[Row]
    def event(kind: String): Unit = log += Row(day, log.size.toLong, kind,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0, Clock.now())))
    def step[T](name: String)(body: => T): T = {
      event(name); val r = tr(name)(body); event("success"); r
    }
    def write(df: DataFrame, stage: String, job: String): Unit =
      tr("pipeline.write")(Pipeline.writeDaily(df, lake, stage, job, day))

    val (lots, results, equipment, master) = step("etl.extract")(tr("tables.open")((
      Pipeline.readDay(spark, data, "raw", "lot_history", day),
      Pipeline.readDay(spark, data, "raw", "process_result", day),
      Pipeline.readDay(spark, data, "raw", "equipment_event", day),
      Pipeline.readLatest(spark, data, "raw", "cfg_item_master"))))
    step("etl.wip")(write(Etl.wipAggregate(lots, "status", active,
      Seq("process_step", "product_code"), "quantity", "lot_id", day), "transform", "wip"))
    step("etl.priority")(write(Etl.wipWithPriority(lots, "status", active,
      Seq("process_step"), "quantity", "lot_id", "priority", "HIGH", day),
      "transform", "wip_priority"))
    step("etl.fanout")(write(Etl.tenantFanOut(lots, tenants, "status",
      Seq("product_code"), "quantity", "lot_id", "priority", day), "transform", "tenant_wip"))
    // the cycle-time join over the manufacturing tables: a result's
    // measurement day minus the DONE lot's track-in day
    step("etl.cycle")(write(Etl.cycleTime(
      results.select(col("lot_id").as("l_orderkey"), col("measured_at").as("l_shipdate")),
      lots.select(col("lot_id").as("o_orderkey"), col("status").as("o_orderstatus"),
        col("track_in").as("o_orderdate"), col("process_step")),
      completedStatus = "DONE", groupCol = "process_step"), "transform", "cycle_time"))
    step("etl.util")(tr("pipeline.write")(Pipeline.overwriteDays(
      Etl.utilizationPivot(equipment, "equipment_id", "event_type", "duration_min",
        eventTypes, "RUN", 1440, day),
      lake, "transform", "utilization", col("snapshot_date"))))
    step("validation.report")(write(
      Validator(lots.join(broadcast(master.select(col("item_code").as("product_code"),
        col("active_flag"))), Seq("product_code"), "left"))
        .checkNotNull("lot_id")
        .checkUnique("event_id")
        .checkRange("quantity", minVal = Some(0.0), maxVal = Some(1000.0))
        .checkValuesIn("status", statuses)
        .checkRegex("process_step", "^STEP_[0-9]{2}$")
        .checkCustom("inactive_item", !coalesce(col("active_flag") === "Y", lit(false)))
        .report(), "transform", "validation"))
    step("etl.load") {
      tr("pipeline.upsert")(Pipeline.upsertTable(spark, s"$lake/mart/wip_daily",
        tr("tables.open")(Pipeline.readDaily(spark, lake, "transform", "wip", day)),
        Seq("snapshot_date", "process_step", "product_code")))
      tr("pipeline.upsert")(Pipeline.upsertTable(spark, s"$lake/mart/equipment_util",
        tr("tables.open")(Pipeline.readDay(spark, lake, "transform", "utilization", day)),
        Seq("equipment_id")))
    }
    event("etl.obs")
    tr("etl.obs") {
      write(spark.createDataFrame(log.asJava, logSchema), "obs", "step_log")
      val persisted = tr("tables.open")(Pipeline.readDaily(spark, lake, "obs", "step_log", day))
      write(Observability.stepStats(Observability.eventDurations(persisted, "run_id")),
        "obs", "step_stats")
    }
  }

  private def fresh(dir: String): String = { Ops.rmTree(new File(dir)); dir }

  // the set-up closes the warm-up day; closing it a second time must leave
  // the marts' row counts as they were, which makes the upsert idempotent
  private val warmLake = fresh(s"$work/lake_warmup")
  private val martRows = mutable.ArrayBuffer.empty[Map[String, Long]]

  def warmUp(spark: SparkSession, tr: Tracer): Unit = close(spark, tr, warmLake, days.head)

  // row-count assertions, outside any timed region
  private def countMarts(spark: SparkSession): Unit =
    martRows += Seq("wip_daily", "equipment_util")
      .map(m => m -> spark.read.parquet(s"$warmLake/mart/$m").count()).toMap

  override def afterSetUp(spark: SparkSession, tr: Tracer): Unit = {
    countMarts(spark)
    close(spark, tr, warmLake, days.head)
    countMarts(spark)
  }

  // every pass starts from an empty lake, so passes do the same work and
  // the serving marts grow day over day inside each pass
  override def beforePass(spark: SparkSession): Unit = fresh(lake)

  def pass(spark: SparkSession, tr: Tracer, index: Int): Seq[OpResult] =
    days.tail.map(d => Ops.run(tr, "etl.close")(close(spark, tr, lake, d)))

  def check(spark: SparkSession, tr: Tracer): (Seq[OpResult], Map[String, Any]) =
    (Nil, Map("lake" -> lake, "days" -> days.tail, "warmup_mart_rows" -> martRows.toSeq))
}

/** Registered queries over a small star schema: fixed cost per query
  * dominates. The seed shuffles the order within each pass.
  */
final class RegistryMix(data: String, work: String, queries: Seq[String], seed: Long) extends Workload {
  def nominalPassS: Double = 5.0
  private def runAll(spark: SparkSession, tr: Tracer, dir: String, names: Seq[String],
      sink: Ops.Sink): Seq[OpResult] =
    names.map(q => Ops.run(tr, q)(sink(tr("entry.build")(SparkEntry.queries(q)(spark, dir)), q)))

  // one untimed pass, so the cold cost of each query (class loading, first
  // codegen, the JIT's first compiles) falls in the set-up
  def warmUp(spark: SparkSession, tr: Tracer): Unit =
    runAll(spark, tr, s"$data/sf", queries, Ops.noop(tr))

  def pass(spark: SparkSession, tr: Tracer, index: Int): Seq[OpResult] =
    runAll(spark, tr, s"$data/sf", new Random(seed * 7919 + index).shuffle(queries),
      Ops.noop(tr))

  def check(spark: SparkSession, tr: Tracer): (Seq[OpResult], Map[String, Any]) = {
    val dir = s"$work/check"
    (runAll(spark, tr, s"$data/sf", queries, Ops.parquet(dir)),
      Map("oracles" -> queries, "check_dir" -> dir))
  }
}

/** The benchmark JVM: set up, run timed passes, run the check pass, and
  * write everything measured as JSON for perfbench/run.py.
  *
  * Usage: Harness --workload W --data DIR --work DIR --seed N --seconds S
  *        --trace 0|1 --out FILE [--queries FILE]
  */
object Harness {
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap still in use after full collections: what the session retains. */
  private def liveHeapMb(): Double = {
    // Spark's ContextCleaner frees shuffle and broadcast blocks only after
    // a collection finds their handles dead, so collect a few times
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Per-layer figures of one traced pass, from its spans and listeners. */
  private def layerMetrics(spans: Seq[Span], st: PassStats, w0: Long, w1: Long,
      cores: Int, codegenNs: Long, compiles: Long): Map[String, Double] = {
    val wall = (w1 - w0) / 1e9
    val mb = 1024.0 * 1024.0
    val bySpan = spans.groupBy(_.name).map { case (n, ss) =>
      s"${n}_s" -> ss.map(s => s.end - s.start).sum / 1e9 }
    // rows written under each span, rolled up to its ancestors
    val parent = spans.map(s => s.id -> s.parent).toMap
    val rowsUnder = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    st.stageRows.foreach { case (stageId, rows) =>
      var id = st.stageJob.get(stageId).flatMap(j => st.jobGroup.get(j)).getOrElse(0L)
      while (id != 0L) { rowsUnder(id) += rows; id = parent.getOrElse(id, 0L) }
    }
    def rows(name: String) = spans.filter(_.name == name).map(s => rowsUnder(s.id)).sum
    val updates = rows("etl.wip") + rows("etl.util")
    val jobIv = st.jobs.map(j => (j.start, j.end))
    bySpan ++ Map(
      "spark.analysis_ms" -> st.analysisMs.toDouble,
      "spark.optimization_ms" -> st.optimizationMs.toDouble,
      "spark.planning_ms" -> st.planningMs.toDouble,
      "spark.codegen_ms" -> codegenNs / 1e6,
      "spark.codegen_compiles" -> compiles.toDouble,
      "spark.executions" -> st.executions.toDouble,
      "spark.jobs" -> st.jobs.size.toDouble,
      "spark.stages" -> st.stages.size.toDouble,
      "spark.tasks" -> st.tasks.toDouble,
      "spark.failed_tasks" -> st.failedTasks.toDouble,
      "spark.driver_idle_s" -> (wall - Intervals.union(jobIv, w0, w1) / 1e9),
      "spark.max_concurrent_jobs" -> Intervals.maxConcurrent(jobIv).toDouble,
      "spark.core_busy_frac" -> st.taskDurMs / 1e3 / (wall * cores),
      "spark.task_run_s" -> st.taskRunMs / 1e3,
      "spark.task_cpu_s" -> st.taskCpuNs / 1e9,
      "spark.gc_s" -> st.gcMs / 1e3,
      "spark.spill_mb" -> st.spillBytes / mb,
      "spark.peak_task_mem_mb" -> st.peakTaskMem / mb,
      "spark.input_mb" -> st.inputBytes / mb,
      "spark.input_rows" -> st.inputRecords.toDouble,
      "spark.output_mb" -> st.writtenBytes / mb,
      "spark.output_files" -> st.writtenFiles.toDouble,
      "spark.shuffle_write_mb" -> st.shuffleWriteBytes / mb,
      "spark.shuffle_read_mb" -> st.shuffleReadBytes / mb,
      "pipeline.rewrite_ratio" ->
        (if (updates > 0) rows("pipeline.upsert").toDouble / updates else 0.0))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = opt("work")
    val data = opt("data")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val wl: Workload = opt("workload") match {
      case "etl_days" =>
        new EtlDays(data, work, Files.readAllLines(Paths.get(s"$data/days.txt")).asScala.toSeq)
      case "registry_mix" => new RegistryMix(data, work,
        Files.readAllLines(Paths.get(opt("queries"))).asScala.map(_.trim)
          .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq, seed)
    }
    val tr = new Tracer

    // one cold set-up, the cost a fresh process pays: a second set-up in
    // the same JVM would find the classes loaded and the JIT warm
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    wl.warmUp(spark, tr)
    val setup = (System.nanoTime() - t0) / 1e9
    wl.afterSetUp(spark, tr)
    tr.attach(spark.sparkContext)
    System.err.println(s"[perfbench] master=${spark.sparkContext.master} setup_s=$setup")

    val listeners = new Listeners
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spanOut = mutable.ArrayBuffer.empty[Span]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // as many passes as --seconds holds at the workload's nominal pass
    // time, so a slow spell on the host makes a run longer, not different.
    // Trace mode makes at least four: the first pass runs while the JIT is
    // still compiling and is slower, so it stays untraced, and after it
    // untraced and traced passes alternate, so the overhead compares each
    // traced pass with the untraced passes beside it
    val count = math.max(if (trace) 4 else 1, math.round(seconds / wl.nominalPassS).toInt)
    for (i <- 0 until count) {
      val traced = trace && i > 0 && i % 2 == 0
      wl.beforePass(spark)
      if (traced) {
        listeners.current = new PassStats
        listeners.register(spark)
        tr.spans.clear()
        tr.enabled = true
      }
      val cg0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cpu0 = cpuNs()
      val w0 = Clock.now()
      val ops = wl.pass(spark, tr, i)
      val w1 = Clock.now()
      val cpu = (cpuNs() - cpu0) / 1e9
      var pass = Map[String, Any]("traced" -> traced, "wall_s" -> (w1 - w0) / 1e9,
        "cpu_s" -> cpu, "ops" -> ops)
      if (traced) {
        tr.enabled = false
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        listeners.unregister(spark)
        val st = listeners.current
        val spans = tr.spans.asScala.toSeq
        spanOut ++= spans ++ st.jobs ++ st.stages
        pass += "layers" -> layerMetrics(spans, st, w0, w1, cores,
          CodeGenerator.compileTime - cg0,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0)
      }
      passes += pass
    }
    val measured = elapsed
    val liveHeap = liveHeapMb()

    val (checkOps, facts) = wl.check(spark, tr)
    val oracles = facts.get("oracles").map(_.asInstanceOf[Seq[String]]
      .map(q => q -> SparkEntry.oracleSql(q)).toMap).getOrElse(Map.empty)
    val rss = peakRssMb()
    spark.stop()

    val self = Intervals.selfTimes(spanOut.toSeq)
    val spansFile = s"$work/trace/spans.json"
    if (trace) {
      new File(s"$work/trace").mkdirs()
      Files.write(Paths.get(spansFile), Json(spanOut.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "kind" -> s.kind, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ns" -> self.getOrElse(s.id, 0L))).toSeq).getBytes(UTF_8))
    }
    val result = Map[String, Any](
      "setup_s" -> setup, "session_s" -> sessionS,
      "measured_s" -> measured, "cores" -> cores, "passes" -> passes.toSeq,
      "check_ops" -> checkOps, "facts" -> (facts - "oracles"),
      "oracles" -> oracles, "peak_rss_mb" -> rss, "heap_live_mb" -> liveHeap,
      "spans_file" -> (if (trace) spansFile else null))
    Files.write(Paths.get(opt("out")), Json(result).getBytes(UTF_8))
  }
}

/** Just enough JSON for the result file. */
object Json {
  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + str(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: OpResult => apply(Map("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok,
      "error" -> o.error))
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
  }
}
