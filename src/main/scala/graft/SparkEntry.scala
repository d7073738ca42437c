package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query registry: every implemented operator from SURVEY.md §2 is one
  * registered query — a [[registry.Query]] record holding its name, the
  * build over a scale directory and its oracle (DuckDB SQL, or the name of
  * a hash-exact portable twin when the query keys on a Spark-internal
  * hash). The records live in per-family files under `graft/registry/`;
  * `queries` and `oracleSql` are derived from them. To add a query, add
  * one record to its family's `all` list. Column names are aliased
  * identically on both sides (the oracle compare sorts columns by name
  * before hashing). All aggregated doubles go through exact decimal sums —
  * see graft.operators.Etl.
  *
  * What stays here is shared across families: the substrate registrations
  * (which [[prebuildSubstrates]] walks), the order-log cuts and the ingest
  * batches.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_wip_agg")(spark, "/root/testdata/sf0.001")

  private[graft] val eventTypes = Seq("click", "view", "purchase", "signup", "error")

  // the incremental cut: orders before it are the "yesterday" graph the
  // warm-start queries refresh (Stress keeps its replicas before it too)
  private[graft] val incrCut = "2001-06-01"
  // lineitems of pre-cut (or post-cut) orders — the order log split the
  // incremental graph queries share
  private[graft] def baseCutLineitem(s: SparkSession, dir: String,
      pre: Boolean): org.apache.spark.sql.DataFrame =
    if (pre) rangeCutLineitem(s, dir, None, Some(incrCut))
    else rangeCutLineitem(s, dir, Some(incrCut), None)

  // lineitems of orders in [from, to) — the generalized order-log slice
  // the TWO-day close axis needs (day 1 = [incrCut, midCut), day 2 =
  // [midCut, ∞)); baseCutLineitem is the one-cut special case
  private[graft] def rangeCutLineitem(s: SparkSession, dir: String,
      from: Option[String], to: Option[String]): org.apache.spark.sql.DataFrame = {
    val pred = (from.map(f => col("o_orderdate") >= lit(f)) ++
      to.map(t => col("o_orderdate") < lit(t))).reduce(_ && _)
    val orders = Tables.orders(s, dir).where(pred).select(col("o_orderkey"))
    Tables.lineitem(s, dir)
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .drop("o_orderkey")
  }
  // the two-day close axis: the one-day delta [incrCut, ∞) splits at
  // midCut into day 1 = [incrCut, midCut) and day 2 = [midCut, ∞)
  private[graft] val midCut = "2001-07-01"

  /** Build-once-per-(session, sf) substrate tables (the q_bucketed_join
    * idiom): the graph family's registered queries run against the
    * bucketed substrate — the plan that survives 10¹⁰ nodes with zero
    * node-bounded broadcasts — and the bucketing write is the amortized
    * one-off layout cost, paid on first use per (session, sf).
    *
    * Every substrate is one [[substrate]] entry below; the entries'
    * order is [[prebuildSubstrates]]'s build order.
    */
  // Lazily-built substrate tables are reachable from OVERLAPPED fold
  // threads (Par, guide §2.6): every build holds this monitor so two
  // threads cannot both observe a missing table and race the write.
  // Builds are once-per-(session, sf) and Bench prebuilds them all, so on
  // the hit path the lock guards only a catalog probe (sub-ms); the
  // monitor is reentrant, so a build that calls another builder
  // (gskel → gcosup) re-enters safely.
  private val substrateBuildLock = new Object
  private val substrates =
    scala.collection.mutable.ArrayBuffer.empty[(String, (SparkSession, String) => String)]

  /** The per-scale-directory component of substrate table names and
    * staging paths. */
  private[graft] def dirTag(dir: String): String = dir.replaceAll("[^0-9A-Za-z]", "_")

  /** Registers substrate `name` and returns its getter. For a scale
    * directory `dir` the substrate's table is `graft_<name>_<tag>` and its
    * path `/tmp/graft_<root>_<tag>`. The getter holds
    * [[substrateBuildLock]], runs `write(s, dir, table, path)` unless every
    * table `done(dir, table)` names exists (by default the table itself),
    * and returns the table name. */
  private def substrate(name: String, root: String = "graph",
      done: (String, String) => Seq[String] = (_, tbl) => Seq(tbl))(
      write: (SparkSession, String, String, String) => Unit)
      : (SparkSession, String) => String = {
    val get: (SparkSession, String) => String = (s, dir) =>
      substrateBuildLock.synchronized {
        val tag = dirTag(dir)
        val tbl = s"graft_${name}_$tag"
        if (!done(dir, tbl).forall(t => s.catalog.tableExists(t)))
          write(s, dir, tbl, s"/tmp/graft_${root}_$tag")
        tbl
      }
    substrates += name -> get
    get
  }

  private[graft] val gredgesTable = substrate("gredges") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeTradeEdgeTable(Tables.orders(s, dir),
      Tables.lineitem(s, dir), tbl, path, buckets = 32)
  }
  private[graft] val gwedgesTable = substrate("gwedges") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeTradeEdgeTableWeighted(Tables.orders(s, dir),
      Tables.lineitem(s, dir), tbl, path, buckets = 32)
  }
  // the co-supply projection + its k-NN skeleton, same amortized one-off
  // layout contract (r11: the whole graph family now runs bucketed)
  private[graft] val gcosupTable = substrate("gcosup") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeCoSupplyEdgeTable(Tables.lineitem(s, dir),
      tbl, path, buckets = 32)
  }
  private[graft] val gskelTable = substrate("gskel") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeKnnSkeletonTable(s, gcosupTable(s, dir),
      5, tbl, path, buckets = 32)
  }
  // the trade graph as of the incremental cut — the "yesterday" substrate
  // q_pagerank_incr warm-starts from
  private[graft] val gredgesBaseTable = substrate("gredges_base") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeTradeEdgeTable(
      Tables.orders(s, dir).where(col("o_orderdate") < lit(incrCut)),
      Tables.lineitem(s, dir), tbl, path, buckets = 32)
  }
  // the pre-cut co-supply projection — the "yesterday" substrate the
  // incremental LPA warm-starts from
  private[graft] val gcosupBaseTable = substrate("gcosup_base") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeCoSupplyEdgeTable(
      baseCutLineitem(s, dir, pre = true), tbl, path, buckets = 32)
  }
  // the pre-cut skeleton (with keep-attribution flags) — the stored
  // feature-store table q_knn_graph_incr refreshes
  private[graft] val gskelBaseTable = substrate("gskel_base") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeKnnSkeletonTable(s, gcosupBaseTable(s, dir),
      5, tbl, path, buckets = 32)
  }
  // yesterday's rank vector at rest — the stored state the recurring
  // warm refresh (q_pagerank_decide) reads instead of recomputing
  private[graft] val gprVectorTable = substrate("gprvec") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeRankVectorTable(s,
      gredgesBaseTable(s, dir), tbl, path, buckets = 32, iters = 6)
  }
  // yesterday's label vector at rest — the q_communities_decide state
  private[graft] val glpaVectorTable = substrate("glpavec") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeLabelVectorTable(s,
      gcosupBaseTable(s, dir), tbl, path, buckets = 32, rounds = 4)
  }
  // The TWO-day close axis (q_daily_close2): the `*_mid` tables are the
  // warehouse after day 1's ingest (edges/pairs/skeleton compacted to
  // < midCut); the `*_d1` tables are day 1's CLOSE OUTPUTS at rest — the
  // post-warm rank/label vectors and the batch-1 ingest decisions — i.e.
  // exactly the state close 2 reads.
  private[graft] val gredgesMidTable = substrate("gredges_mid") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeTradeEdgeTable(
      Tables.orders(s, dir).where(col("o_orderdate") < lit(midCut)),
      Tables.lineitem(s, dir), tbl, path, buckets = 32)
  }
  private[graft] val gcosupMidTable = substrate("gcosup_mid") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeCoSupplyEdgeTable(
      rangeCutLineitem(s, dir, None, Some(midCut)), tbl, path, buckets = 32)
  }
  // day-1's refreshed skeleton at rest — the incremental refresh is
  // EXACT (== the full rebuild on the mid graph, GraphSpec), so the
  // rebuild writer IS the persisted day-1 output, keep flags included
  private[graft] val gskelMidTable = substrate("gskel_mid") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeKnnSkeletonTable(s, gcosupMidTable(s, dir),
      5, tbl, path, buckets = 32)
  }
  // day-1's post-warm rank vector at rest (full (node, pr, deg), not
  // the top-K face) — what close 1 wrote, what close 2 warm-starts from
  private[graft] val gprvecD1Table = substrate("gprvec_d1") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeWarmRankVectorTable(s,
      gredgesBaseTable(s, dir), gprVectorTable(s, dir),
      Tables.orders(s, dir).where(col("o_orderdate") >= lit(incrCut) &&
        col("o_orderdate") < lit(midCut)),
      Tables.lineitem(s, dir), tbl, path, buckets = 32)
  }
  // day-1's post-warm label vector at rest (raw (node, label) — the
  // canonical rollup is the published face only)
  private[graft] val glpavecD1Table = substrate("glpavec_d1") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeWarmLabelVectorTable(s,
      gcosupBaseTable(s, dir), glpaVectorTable(s, dir),
      graft.operators.Graph.coSupplyEdges(
        rangeCutLineitem(s, dir, Some(incrCut), Some(midCut))),
      tbl, path, buckets = 32)
  }
  /** BUCKETED signature-index tables (the recurring-ingest warehouse
    * layout, Ingest.writeBucketedIndex): the registered decide query then
    * times what a daily ingest actually pays — the batch-side work
    * against an in-place index scan — with the index build amortized
    * exactly like the graph edge tables. Guarded on BOTH tables (the
    * q_bucketed_join idiom): a build that failed between the two
    * saveAsTable calls must rebuild, not wedge every later invocation on
    * the missing bands table. Returns the index name. */
  private val ingestIndexTables = substrate("ingestidx", root = "ingestidx",
      done = (_, t) => Seq(s"${t}_hash", s"${t}_bands")) { (s, dir, name, path) =>
    graft.operators.Ingest.writeBucketedIndex(
      graft.operators.Ingest.signatureIndex(ingestCorpusSlice(s, dir), 64),
      name, path, buckets = 32, k = 64, bands = 16)
  }
  /** Day-1-closed ingest warehouse for the two-day close: a SEPARATE
    * bucketed signature index (never the shared q_ingest_decide one —
    * appends would corrupt it) seeded from the corpus, batch-1 decided
    * against it, the keepers APPENDED in place
    * (Ingest.appendBucketedIndex — O(keepers), bucket-preserving), and
    * the batch-1 decision log persisted as day-1's close output at
    * rest. Build order makes the decision table the completion marker:
    * it is written LAST (decisions localCheckpoint'd first so the
    * append cannot re-run the decide against the post-append index),
    * so a partially-built warehouse rebuilds instead of wedging.
    * `GraphQueries.ingestIndex2Tables` returns (indexName, decisionTable). */
  private[graft] def ingestDecision1Table(dir: String): String = s"graft_ingdec1_${dirTag(dir)}"
  private[graft] val ingestIndex2 = substrate("ingestidx2", root = "ingestidx2",
      done = (dir, _) => Seq(ingestDecision1Table(dir))) { (s, dir, name, path) =>
    val decT = ingestDecision1Table(dir)
    graft.operators.Ingest.writeBucketedIndex(
      graft.operators.Ingest.signatureIndex(ingestCorpusSlice(s, dir), 64),
      name, path, buckets = 32, k = 64, bands = 16)
    val b1Sigs = graft.operators.Ingest
      .signatureIndex(ingestBatch1(s, dir), 64).localCheckpoint()
    val dec = graft.operators.Ingest.ingestDecisionsBucketed(
      s, name, b1Sigs, 64, 16, 0.5).localCheckpoint()
    graft.operators.Ingest.appendBucketedIndex(
      b1Sigs.join(dec.where(col("verdict") === "keep")
        .select(col("doc_id")), "doc_id"),
      name, k = 64, bands = 16)
    dec.write.mode("overwrite")
      .option("path", s"$path/$decT")
      .saveAsTable(decT)
  }
  // the BFS node + seed tables, same amortized one-off layout contract
  // (r12: the traversal's per-run fixed costs move to the warehouse),
  // guarded on both; `GraphQueries.bfsSeedTables` returns (nodes, seeds)
  private[graft] def bfsSeedTable(dir: String): String = s"graft_bfs_seeds_${dirTag(dir)}"
  private[graft] val bfsNodes = substrate("gnodes",
      done = (dir, t) => Seq(t, bfsSeedTable(dir))) { (s, dir, nodesT, path) =>
    graft.operators.Graph.writeBfsSeedTables(s, gredgesTable(s, dir),
      nodesT, bfsSeedTable(dir), path, buckets = 32,
      Tables.customer(s, dir), seedNationKey = 1)
  }
  // yesterday's BFS layer vector at rest — the stored traversal state
  // the recurring q_bfs_decide refresh reads (base-graph layers)
  private[graft] val gbfsVecTable = substrate("gbfsvec") { (s, dir, tbl, path) =>
    graft.operators.Graph.writeBfsLayerVectorTable(s,
      gredgesBaseTable(s, dir), Tables.customer(s, dir),
      seedNationKey = 1, tbl, path, buckets = 32)
  }

  /** The recurring-day stage frames, ONE definition each — shared by
    * their standalone registrations and the composed `q_daily_close`
    * chain so the two can never drift.
    */
  /** The arriving batches of the ingest cadence — day 1 (b1, the
    * q_ingest_decide/q_dedup_ingest batch) and day 2 (b2, q_dedup_ingest's
    * second batch), ONE definition each so the decide, the chain, and
    * the two-day close cannot slice apart. */
  private[graft] def ingestCorpusSlice(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).where(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("text"))
  private[graft] def ingestBatch1(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val trunc = expr("substring(text, 1, greatest(length(text) - 30, 1))")
    docs.where(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.where(col("doc_id") % 3 === 1 && col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(docs.where(col("doc_id") % 3 === 1 && col("doc_id") % 20 === 5)
        .select((col("doc_id") + 2000000L).as("doc_id"), trunc.as("text")))
  }
  private[graft] def ingestBatch2(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.where(col("doc_id") % 3 === 2 && col("doc_id") % 10 === 2)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
  }
  private[graft] def ingestDecideFrame(s: SparkSession, dir: String): DataFrame = {
      val name = ingestIndexTables(s, dir)
      // the decide probes the batch side in all four tiers — materialize
      // the signatures once (the chain's own discipline) so the minhash
      // pass over the batch text runs once, not per tier
      graft.operators.Ingest.ingestDecisionsBucketed(s, name,
        graft.operators.Ingest.signatureIndex(ingestBatch1(s, dir), 64)
          .localCheckpoint(),
        64, 16, 0.5)
      }

  /** Pre-build every build-once-per-(session, sf) substrate table the
    * registered queries read (bucketed graph/ingest warehouse layout,
    * stored vectors, day-1 close outputs). `graft.Bench` calls this
    * BEFORE its timed loop: the amortized one-off layout cost is already
    * excluded from per-query minima by min-of-N interleaving, but on a
    * contended host the iteration-1 build runs co-resident with OTHER
    * queries' samples and inflates the whole graph family together —
    * building everything up front decouples the family's timings. */
  def prebuildSubstrates(s: SparkSession, dir: String): Unit = {
    // per-builder isolation: one transient failure must not skip the
    // remaining substrates (that would reintroduce the iteration-1
    // co-resident-build skew this prebuild exists to remove); the lazy
    // first-use path still covers any builder that failed here
    substrates.foreach { case (name, build) =>
      try build(s, dir)
      catch { case e: Throwable =>
        System.err.println(s"[prebuild] $name failed: $e")
      }
    }
  }

  /** Every registered query's build, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.Registry.byName.map { case (n, r) => n -> r.build }

  /** Each query's DuckDB oracle SQL by name; a lookup renders only the
    * string asked for, iteration renders them all. Rows-only queries
    * (a [[registry.Twin]] oracle) have no entry. */
  lazy val oracleSql: Map[String, String] =
    new scala.collection.immutable.AbstractMap[String, String] {
      private val byName = registry.Registry.byName.collect {
        case (n, registry.Query(_, _, o: registry.Sql)) => n -> o }
      def get(k: String): Option[String] = byName.get(k).map(_.text)
      def iterator: Iterator[(String, String)] =
        byName.iterator.map { case (n, o) => n -> o.text }
      override def contains(k: String): Boolean = byName.contains(k)
      override def keysIterator: Iterator[String] = byName.keysIterator
      override def size: Int = byName.size
      def removed(k: String): Map[String, String] = iterator.toMap - k
      def updated[V >: String](k: String, v: V): Map[String, V] =
        iterator.toMap.updated(k, v)
    }
}
