package graft.operators

/** Overlap INDEPENDENT eager job chains (optimization-guide §2.6: Spark's
  * scheduler happily runs several jobs at once inside one application;
  * actions are only sequential because driver code calls them
  * sequentially). The multi-stage close/certifier queries materialize
  * several mutually independent chains of small staged rounds
  * (localCheckpoint per round — each a driver-blocking job whose tasks
  * leave most of local[N] idle); submitting the chains from a small
  * thread pool lets one chain's rounds back-fill the cores another
  * chain's barrier leaves free. Each thunk's RESULT is unchanged — the
  * same frames, the same rows, the same per-chain round order — only the
  * driver-side submission overlaps, so outputs stay byte-identical.
  *
  * Failure contract: each thunk's Spark jobs run under the thunk's own
  * job tag. The first thunk to fail (in time) cancels the other thunks'
  * tags, thunks still queued do not start, and the caller waits until
  * every thunk has settled before that first failure is rethrown as its
  * ORIGINAL exception (unwrapped from ExecutionException) — so no job a
  * sibling submitted outlives the call, and a caller's try/catch sees
  * what the sequential code would have thrown.
  */
private[graft] object Par {
  /** Driver-side overlap only needs enough threads to fill a job's tail
    * (guide §2.6: "2-3 jobs in flight is plenty"); an unbounded pool sized
    * to the thunk count would, at a production batch count, spawn one
    * driver thread per batch each submitting Spark jobs. Excess thunks
    * queue on the fixed pool and run as slots free — same results, same
    * per-thunk order, bounded driver threads. */
  private val MaxPool = 8

  private val runIds = new java.util.concurrent.atomic.AtomicLong

  private def runAll(thunks: Seq[() => Any]): IndexedSeq[Any] = {
    if (thunks.sizeIs <= 1) return thunks.map(_()).toIndexedSeq
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val run = runIds.incrementAndGet()
    val tags = thunks.indices.map(i => s"graft-par-$run-$i")
    val first = new java.util.concurrent.atomic.AtomicReference[Throwable]
    def cancelOthers(): Unit =
      sc.foreach(c => tags.foreach(t => c.cancelJobsWithTag(t)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, MaxPool))
    try {
      val futs = thunks.zip(tags).map { case (t, tag) =>
        pool.submit(new java.util.concurrent.Callable[Any] {
          override def call(): Any = {
            if (first.get != null)
              throw new java.util.concurrent.CancellationException(
                s"$tag not started: a sibling thunk failed")
            sc.foreach(_.addJobTag(tag))
            try t()
            catch { case e: Throwable =>
              if (first.compareAndSet(null, e)) cancelOthers()
              throw e
            } finally sc.foreach(_.removeJobTag(tag))
          }
        })
      }.toIndexedSeq
      // settle every thunk; after a failure, keep cancelling so a job a
      // sibling submits after the first cancel cannot run to completion
      futs.foreach { f =>
        while (!f.isDone) {
          if (first.get != null) cancelOthers()
          try f.get(50, java.util.concurrent.TimeUnit.MILLISECONDS)
          catch { case _: java.util.concurrent.TimeoutException |
                       _: java.util.concurrent.ExecutionException => }
        }
      }
      Option(first.get).foreach(e => throw e)
      futs.map(_.get())
    } finally pool.shutdown()
  }

  /** The one heterogeneous fan-out: two thunks of different result
    * types. Same-typed thunks go through [[seq]]. */
  def run2[A, B](a: () => A, b: () => B): (A, B) = {
    val r = runAll(Seq(a, b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** Homogeneous fan-out — used where a Seq of same-typed independent
    * chains is materialized (e.g. per-batch signature staging). */
  def seq[T](thunks: Seq[() => T]): Seq[T] =
    runAll(thunks).map(_.asInstanceOf[T])
}
