package graft

/** Dev tool: print the formatted plan and timed runs for selected queries.
  * Usage: Explain <sfDir> <queryName> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = Session.local()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n===== $name =====")
      df.explain("formatted")
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
