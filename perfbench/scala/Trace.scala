package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `op` is the id of the operation span that encloses
  * it (an operation's own span has op == id); `parent` is 0 at the root.
  * Times are epoch nanoseconds, so they line up with listener event times.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    kind: String, start: Long, end: Long)

/** Records spans around the benchmark's calls into the program, in memory.
  *
  * When disabled, `op` and `apply` only run their body. When enabled, each
  * span also sets the Spark job group to its own id, so jobs the call
  * submits (from this thread, or from pool threads it creates, which
  * inherit the group) attach to it in the listener's job spans.
  */
final class Tracer {
  @volatile var enabled = false
  private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def attach(context: SparkContext): Unit = sc = context

  def op[T](name: String)(body: => T): T = span(name, "op", newOp = true)(body)
  def apply[T](name: String)(body: => T): T = span(name, "layer", newOp = false)(body)

  private def span[T](name: String, kind: String, newOp: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, op) = outer match {
        case (p, o) :: _ => (p, if (newOp) id else o)
        case Nil => (0L, id)
      }
      stack.set((id, op) :: outer)
      val group = sc.getLocalProperty(Tracer.GroupKey)
      sc.setLocalProperty(Tracer.GroupKey, s"${Tracer.GroupPrefix}$id")
      val t0 = Clock.now()
      try body
      finally {
        spans.add(Span(id, parent, op, name, kind, t0, Clock.now()))
        sc.setLocalProperty(Tracer.GroupKey, group)
        stack.set(outer)
      }
    }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val GroupPrefix = "perfbench-span-"
}

/** Epoch nanoseconds with nanoTime resolution. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + base
}

/** What the listeners saw during one traced pass. */
final class PassStats {
  val jobs = mutable.ArrayBuffer.empty[Span]          // parent = the submitting span
  val stages = mutable.ArrayBuffer.empty[Span]        // parent = the job
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long)]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val jobGroup = mutable.HashMap.empty[Int, Long]
  val stageRows = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)  // rows written
  var tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, taskDurMs, gcMs = 0L
  var spillBytes, peakTaskMem = 0L
  var inputBytes, inputRecords = 0L
  var shuffleReadBytes, shuffleWriteBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var writtenBytes, writtenFiles, writtenRows = 0L
  var executions = 0L

  def jobStarted(id: Int, group: Long, timeMs: Long, stageIds: Seq[Int]): Unit = {
    jobStart(id) = (group, timeMs)
    jobGroup(id) = group
    stageIds.foreach(s => stageJob(s) = id)
  }
  def jobEnded(id: Int, timeMs: Long): Unit =
    jobStart.remove(id).foreach { case (group, t0) =>
      jobs += Span(PassStats.JobIds + id, group, 0, s"job $id", "job",
        t0 * 1000000L, timeMs * 1000000L)
    }
}

object PassStats {
  // job and stage spans get ids disjoint from the tracer's span ids
  val JobIds = 1L << 40
  val StageIds = 1L << 41
}

/** SparkListener + QueryExecutionListener feeding the current PassStats. */
final class Listeners extends SparkListener with QueryExecutionListener {
  @volatile var current = new PassStats

  private def groupSpan(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = current.synchronized {
    current.jobStarted(e.jobId, groupSpan(e.properties), e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = current.synchronized {
    current.jobEnded(e.jobId, e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = current.synchronized {
    val i = e.stageInfo
    for (t0 <- i.submissionTime; t1 <- i.completionTime)
      current.stages += Span(PassStats.StageIds + i.stageId,
        PassStats.JobIds + current.stageJob.getOrElse(i.stageId, -1), 0,
        s"stage ${i.stageId} (${i.numTasks} tasks)", "stage",
        t0 * 1000000L, t1 * 1000000L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = current.synchronized {
    val s = current
    s.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
    s.taskDurMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.taskRunMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.spillBytes += m.diskBytesSpilled
      s.peakTaskMem = math.max(s.peakTaskMem, m.peakExecutionMemory)
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.stageRows(e.stageId) += m.outputMetrics.recordsWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    current.synchronized {
      val s = current
      s.executions += 1
      val ph = qe.tracker.phases
      s.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      s.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      s.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
      qe.executedPlan.collect { case w: DataWritingCommandExec => w.cmd.metrics }
        .foreach { m =>
          s.writtenBytes += m.get("numOutputBytes").map(_.value).getOrElse(0L)
          s.writtenFiles += m.get("numFiles").map(_.value).getOrElse(0L)
          s.writtenRows += m.get("numOutputRows").map(_.value).getOrElse(0L)
        }
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Interval arithmetic for self time, driver idle time and concurrency. */
object Intervals {
  /** Total length of the union of [start, end) intervals, clipped to [lo, hi). */
  def union(iv: Iterable[(Long, Long)], lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
    val sorted = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def maxConcurrent(iv: Iterable[(Long, Long)]): Int = {
    val edges = iv.toSeq.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
      .sortBy { case (t, d) => (t, d) }
    edges.foldLeft((0, 0)) { case ((cur, best), (_, d)) =>
      val n = cur + d; (n, math.max(best, n))
    }._2
  }

  /** Self time per span: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).filter(_.kind != "stage")
        .map(c => (c.start, c.end)), s.start, s.end)
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}
