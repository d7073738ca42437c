package graft

import org.apache.spark.sql.functions._

/** The Stress replication rule on sf0.001: copies under fresh keys for the
  * keyed tables, one copy of the dimensions, and pre-cut orders only in
  * replicas k >= 1. */
class StressSpec extends SparkSpec {
  private val src = "/root/testdata/sf0.001"
  private def replicated(factor: Int): String = {
    val dst = java.nio.file.Files.createTempDirectory("graft-stress").toString
    Stress.replicate(spark, src, dst, factor)
    dst
  }
  private lazy val x3 = replicated(3)
  private def n(dir: String, t: String): Long = Tables.table(spark, dir, t).count()

  test("factor 1 copies every table unchanged") {
    val x1 = replicated(1)
    Tables.names.foreach { t =>
      val (a, b) = (Tables.table(spark, src, t), Tables.table(spark, x1, t))
      assert(a.schema == b.schema, t)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, t)
    }
  }

  test("factor 3 triples the facts, minus post-cut orders in replicas 1 and 2") {
    val preCut = Tables.orders(spark, src)
      .where(col("o_orderdate") < lit(SparkEntry.incrCut))
    val preCutLines = Tables.lineitem(spark, src)
      .join(preCut, col("l_orderkey") === col("o_orderkey"), "left_semi")
    assert(preCut.count() < n(src, "orders"), "sf0.001 has post-cut orders")
    assert(n(x3, "orders") == n(src, "orders") + 2 * preCut.count())
    assert(n(x3, "lineitem") == n(src, "lineitem") + 2 * preCutLines.count())
    Seq("customer", "events", "documents", "embeddings").foreach { t =>
      assert(n(x3, t) == 3 * n(src, t), t)
    }
    Seq("region", "nation", "supplier", "part").foreach { t =>
      assert(n(x3, t) == n(src, t), t)
    }
    // the replicas past copy 0 hold no post-cut order
    assert(Tables.orders(spark, x3)
      .where(col("o_orderkey") >= 100000000L &&
        col("o_orderdate") >= lit(SparkEntry.incrCut)).isEmpty)
  }

  test("factor 3 keeps every key reference and no replica keys collide") {
    val o = Tables.orders(spark, x3)
    val l = Tables.lineitem(spark, x3)
    val c = Tables.customer(spark, x3)
    assert(l.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti").isEmpty)
    assert(o.join(c, col("o_custkey") === col("c_custkey"), "left_anti").isEmpty)
    assert(l.join(Tables.supplier(spark, x3),
      col("l_suppkey") === col("s_suppkey"), "left_anti").isEmpty)
    Seq("orders" -> "o_orderkey", "customer" -> "c_custkey",
      "events" -> "event_id", "documents" -> "doc_id",
      "embeddings" -> "vec_id").foreach { case (t, k) =>
      val df = Tables.table(spark, x3, t)
      assert(df.select(k).distinct().count() == df.count(), s"$t.$k")
    }
    val users = Tables.table(spark, src, "events").select("user_id").distinct().count()
    assert(Tables.table(spark, x3, "events").select("user_id").distinct().count()
      == 3 * users)
  }

  test("every factor-guarded query is registered") {
    assert(Stress.maxFactor.keySet -- SparkEntry.queries.keySet == Set.empty)
  }
}
