package graft

/** Standalone single-query timer: `graft.TimeOne <sfDir> <query> [iters]`.
  * Same session config and noop-sink materialization as [[Bench]] (so a
  * minimum here is comparable to a BASELINE floor), without paying a
  * full-registry pass to floor one new or changed query.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeOne <sfDir> <query> [iters]")
    val sfDir = args(0); val name = args(1)
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = Session.local()
    // same JVM/codegen warm-up as Bench
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val fn = SparkEntry.queries(name)
    val ts = (0 until iters).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[timeone] $name min=${ts.min}%.3f " +
      s"all=${ts.map(t => f"$t%.2f").mkString(",")}")
    spark.stop()
  }
}
