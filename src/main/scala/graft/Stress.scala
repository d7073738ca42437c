package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** Scale stress harness: `Stress <sfDir> <factor> [name-substring...]`.
  *
  *  1. Writes one replicated copy of the scale directory ([[replicate]]).
  *  2. Times [[SparkEntry.prebuildSubstrates]] on the copy as one line.
  *  3. Runs every registered query whose name contains one of the filters
  *     (all of them when none are given) through the noop sink, as
  *     [[Bench]] does, and prints its seconds plus a row count taken
  *     outside the timed region.
  *
  * Replicas are exact copies under fresh keys, which is the dedup worst
  * case: every LSH bucket holds all replicas, so a raw pair stage emits
  * C(factor, 2) echoes per original document.
  */
object Stress {

  /** Replica k adds k * offset to each listed key column. Tables not
    * listed (region, nation, supplier, part) stay one copy, so supplier
    * hubs gain degree with the factor. */
  val keyOffsets: Map[String, Seq[(String, Long)]] = Map(
    "customer" -> Seq("c_custkey" -> 10000000L),
    "orders" -> Seq("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L),
    "lineitem" -> Seq("l_orderkey" -> 100000000L),
    "events" -> Seq("event_id" -> 100000000L, "user_id" -> 1000000L),
    "documents" -> Seq("doc_id" -> 10000000L),
    "embeddings" -> Seq("vec_id" -> 10000000L))

  /** Largest factor a query runs at. Raw pair-emitting near-dedup is
    * O(factor²) pairs per replica cluster by construction, so past 50 its
    * output dominates the run without adding signal; raw edit distance
    * also pays an O(len²) DP per surviving pair, so it stops at 10. The
    * staged forms (q_dedup_staged and kin) run at every factor. */
  val maxFactor: Map[String, Int] = Seq(
    "q_cluster_sizes", "q_cluster_split", "q_dedup_clusters",
    "q_dedup_clusters_star", "q_dedup_keep_best", "q_dedup_minhash",
    "q_dedup_minhash_portable", "q_dedup_profile", "q_dedup_simhash",
    "q_dedup_simhash_portable", "q_embed_neardup", "q_minhash_calibration",
    "q_ngram_jaccard", "q_simhash_calibration", "q_text_semdedup")
    .map(_ -> 50).toMap + ("q_dedup_editdist" -> 10)

  /** Writes `factor` copies of every [[keyOffsets]] table of `src` (one
    * copy of the rest) to `dst`, one parquet directory per table. Copy 0
    * is the source itself. Copies k ≥ 1 of `orders`, and their `lineitem`
    * rows, keep only orders dated before [[SparkEntry.incrCut]], so the
    * incremental and day-close family grows its base graph with the
    * factor while its delta stays one copy. */
  def replicate(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    val preCut = col("o_orderdate") < lit(SparkEntry.incrCut)
    val preCutKeys = Tables.orders(spark, src).where(preCut)
      .select(col("o_orderkey"))
    Tables.names.foreach { name =>
      val base = Tables.table(spark, src, name)
      val copies = keyOffsets.get(name).fold(Seq(base)) { keys =>
        (0 until factor).map { k =>
          val rows = name match {
            case _ if k == 0 => base
            case "orders" => base.where(preCut)
            case "lineitem" => base.join(preCutKeys,
              col("l_orderkey") === col("o_orderkey"), "left_semi")
            case _ => base
          }
          keys.foldLeft(rows) { case (df, (c, offset)) =>
            df.withColumn(c, col(c) + lit(k * offset))
          }
        }
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
  }

  /** Deletes the replica `dir` and every `graft_*_<tag>` entry under
    * `tmp` built for it (substrate tables, staged layouts), where `<tag>`
    * is the replica's [[SparkEntry.dirTag]]. Nothing reads them again:
    * the catalog is in-memory and [[replicate]] overwrites. */
  def cleanUp(dir: String, tmp: String = "/tmp"): Unit = {
    val tag = SparkEntry.dirTag(dir)
    val built = Option(new java.io.File(tmp).listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_") && f.getName.endsWith(s"_$tag"))
    (new java.io.File(dir) +: built).map(_.toPath)
      .filter(java.nio.file.Files.exists(_)).foreach { p =>
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally walk.close()
      }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Stress <sfDir> <factor> [name-substring...]")
    val sfDir = args(0)
    val factor = args(1).toInt
    require(factor >= 1, s"factor must be at least 1, got $factor")
    val only = args.drop(2).toSeq
    val spark = Session.local()
    val dir = s"/tmp/graft_stress_${SparkEntry.dirTag(sfDir)}_x$factor"
    try {
      replicate(spark, sfDir, dir, factor)
      println(s"$sfDir x$factor -> $dir: " + Tables.names.map(n =>
        s"$n=${Tables.table(spark, dir, n).count()}").mkString(" "))
      val t0 = System.nanoTime()
      SparkEntry.prebuildSubstrates(spark, dir)
      println(f"${"prebuild_substrates"}%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s")

      val names = SparkEntry.queries.keys.toSeq.sorted
        .filter(n => only.isEmpty || only.exists(n.contains))
      var failed = 0
      names.foreach { name =>
        maxFactor.get(name).filter(factor > _) match {
          case Some(max) =>
            println(f"$name%-32s  skipped (O(factor^2) pair output past x$max)")
          case None =>
            try {
              val q0 = System.nanoTime()
              val out = SparkEntry.queries(name)(spark, dir)
              out.write.format("noop").mode("overwrite").save()
              val t = (System.nanoTime() - q0) / 1e9
              println(f"$name%-32s $t%8.2f s  (${out.count()} rows)")
            } catch { case e: Throwable =>
              failed += 1
              println(s"$name FAILED: $e")
            }
        }
      }
      println(s"${names.size} queries, $failed failed")
    } finally {
      spark.stop()
      cleanUp(dir)
    }
  }
}
