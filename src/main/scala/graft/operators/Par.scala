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
  * Failure contract: the first thunk failure propagates its ORIGINAL
  * exception (unwrapped from ExecutionException) after every thunk has
  * settled, so a caller's try/catch sees exactly what the sequential
  * code would have thrown.
  */
private[graft] object Par {
  /** Driver-side overlap only needs enough threads to fill a job's tail
    * (guide §2.6: "2-3 jobs in flight is plenty"); an unbounded pool sized
    * to the thunk count would, at a production batch count, spawn one
    * driver thread per batch each submitting Spark jobs. Excess thunks
    * queue on the fixed pool and run as slots free — same results, same
    * per-thunk order, bounded driver threads. */
  private val MaxPool = 8

  private def runAll(thunks: Seq[() => Any]): IndexedSeq[Any] = {
    if (thunks.sizeIs <= 1) return thunks.map(_()).toIndexedSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, MaxPool))
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Any] {
          override def call(): Any = t()
        })
      }.toIndexedSeq
      futs.map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally pool.shutdownNow()
  }

  def run2[A, B](a: () => A, b: () => B): (A, B) = {
    val r = runAll(Seq(a, b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def run4[A, B, C, D](a: () => A, b: () => B, c: () => C,
      d: () => D): (A, B, C, D) = {
    val r = runAll(Seq(a, b, c, d))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C],
      r(3).asInstanceOf[D])
  }

  def run5[A, B, C, D, E](a: () => A, b: () => B, c: () => C, d: () => D,
      e: () => E): (A, B, C, D, E) = {
    val r = runAll(Seq(a, b, c, d, e))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C],
      r(3).asInstanceOf[D], r(4).asInstanceOf[E])
  }

  /** Homogeneous fan-out — used where a Seq of same-typed independent
    * chains is materialized (e.g. per-batch signature staging). */
  def seq[T](thunks: Seq[() => T]): Seq[T] =
    runAll(thunks).map(_.asInstanceOf[T])
}
