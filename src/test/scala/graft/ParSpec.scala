package graft

import org.apache.spark.TaskContext
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.operators.Par

/** Par's failure contract: the first thunk failure (in time) cancels the
  * siblings' Spark jobs, every thunk settles, and the caller sees the
  * original exception. */
class ParSpec extends SparkSpec {

  /** A job of four tasks that each run for up to `seconds` unless their
    * task is killed. */
  private def longJob(seconds: Int): Long = {
    spark.sparkContext.parallelize(1 to 4, 4).map { x =>
      val tc = TaskContext.get()
      val deadline = System.nanoTime + seconds * 1000000000L
      while (!tc.isInterrupted() && System.nanoTime < deadline) Thread.sleep(50)
      x.toLong
    }.count()
  }

  private def activeJobs: Seq[Int] =
    spark.sparkContext.statusTracker.getActiveJobIds().toSeq

  test("results come back in thunk order") {
    assert(Par.seq((1 to 12).map(i => () => i * i)) == (1 to 12).map(i => i * i))
    val (a, b) = Par.run2(() => spark.range(10).count(), () => "x")
    assert(a == 10L && b == "x")
  }

  test("a failing thunk cancels its sibling's long job and rethrows the original exception") {
    val t0 = System.nanoTime
    val e = intercept[IllegalStateException] {
      Par.run2(
        () => longJob(seconds = 60),
        () => {
          eventually(timeout(30.seconds), interval(50.millis)) {
            assert(activeJobs.nonEmpty)
          }
          throw new IllegalStateException("planted failure")
        })
    }
    val elapsed = (System.nanoTime - t0) / 1e9
    assert(e.getMessage == "planted failure")
    assert(elapsed < 30.0, s"Par returned after $elapsed s, not before the sibling's 60 s job")
    // job-end events reach the status tracker through the listener bus
    eventually(timeout(5.seconds), interval(50.millis)) {
      assert(activeJobs.isEmpty, s"jobs still active after Par returned: $activeJobs")
    }
  }

  test("the failure that happens first is the one rethrown") {
    val e = intercept[Exception] {
      Par.run2(
        () => { Thread.sleep(1000); throw new java.io.IOException("later") },
        () => throw new IllegalArgumentException("first"))
    }
    assert(e.isInstanceOf[IllegalArgumentException] && e.getMessage == "first")
  }
}
