package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.registry.OracleSql._
import graft.registry.Query.sql

/** Graph and day-close queries: PageRank, BFS, label propagation, k-NN
  * skeletons, k-core and the composed daily closes over the bucketed
  * substrates. */
private[graft] object GraphQueries {
  // the day-axis close's third cut: d1 = [incrCut, midCut), d2 =
  // [midCut, cut3), d3 = [cut3, ∞) — q_daily_close3's day slices
  private val cut3 = "2001-07-15"
  private def ingestIndex2Tables(s: SparkSession, dir: String): (String, String) =
    (ingestIndex2(s, dir), ingestDecision1Table(dir))
  private def bfsSeedTables(s: SparkSession, dir: String): (String, String) =
    (bfsNodes(s, dir), bfsSeedTable(dir))
  /** The day-axis close's batch 2/3: ingestBatch2's arrivals split at
    * `% 10 < 5`, each slice with an exact-replica tier of an EARLIER
    * batch's keeper slice (batch 2 replicates batch-1 docs, batch 3
    * replicates batch-2 docs) so BOTH keeper appends are load-bearing
    * in the three-day chain. */
  private def ingestBatch2a(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    docs.where(col("doc_id") % 3 === 0 && col("doc_id") % 10 < 5)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.where(col("doc_id") % 3 === 2 && col("doc_id") % 10 === 2)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
  }
  private def ingestBatch3a(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    docs.where(col("doc_id") % 3 === 0 && col("doc_id") % 10 >= 5)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.where(col("doc_id") % 3 === 0 && col("doc_id") % 10 === 2)
        .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))
  }

  /** Day 2's arriving-batch decide against the keeper-appended index —
    * ONE definition shared by q_daily_close2's day-2 ingest stage and
    * q_daily_close_plain so the two closes cannot slice apart. */
  private def ingestDecide2Frame(s: SparkSession, dir: String): DataFrame = {
    val (idx2, _) = ingestIndex2Tables(s, dir)
    graft.operators.Ingest.ingestDecisionsBucketed(s, idx2,
      graft.operators.Ingest.signatureIndex(ingestBatch2(s, dir), 64)
        .localCheckpoint(), 64, 16, 0.5)
  }
  /** The day-axis close's four folds (ingest chain, PageRank vectors,
    * LPA vectors, skeletons) — ONE definition shared by q_daily_close3
    * and q_daily_close_cycle so the two day-axis rows can never fold a
    * different chain. Returns (ingestChain, prVecs, lpaVecs, skels),
    * each fold one frame per day. */
  private def close3Folds(s: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame], Seq[DataFrame], Seq[DataFrame]) = {
    val G = graft.operators.Graph
    // SHARED day-slice derivation (r17 — remove repeated
    // joins): the three graph folds used to re-join the order log per
    // cumulative day slice (trade edges 3x orders⋈lineitem, co-supply
    // 3 cumulative + 3 per-day lineitem self-joins — day-1 rows paid 4
    // self-join passes). Instead derive each substrate ONCE over the
    // whole delta with a day tag and slice by FILTER:
    //  - trade pairs are a DISTINCT set per slice, so a pair tagged
    //    with the FIRST day it appears yields day d's cumulative set as
    //    `first_day <= d` — set-equal to tradeEdges of that slice;
    //  - co-supply weights are ADDITIVE over any order-log split (the
    //    knnSkeletonFold contract), so per-(pair, day) counts yield day
    //    d's cumulative edges as `sum(w) where day <= d` and day d's
    //    increment as `day = d` — weight-equal to coSupplyEdges of the
    //    slice. knnSkeletonFold canonicalizes its input (groupBy +
    //    least/greatest), so feeding the one-directional (a<b) rows
    //    leaves every internal frame identical.
    // Both shared frames are lazy localCheckpoints: built by whichever
    // fold thread arrives first (lazy-val init is synchronized), the
    // others reuse the materialized partitions.
    val dayNo = when(col("o_orderdate") < lit(midCut), 1)
      .when(col("o_orderdate") < lit(cut3), 2).otherwise(3)
    lazy val tradeFirst = Tables.orders(s, dir)
      .where(col("o_orderdate") >= lit(incrCut))
      .select(col("o_orderkey"), col("o_custkey"), dayNo.as("day"))
      .join(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(concat(lit("c:"), col("o_custkey").cast("string")).as("a"),
        concat(lit("s:"), col("l_suppkey").cast("string")).as("b"))
      .agg(min(col("day")).as("day"))
      .localCheckpoint()
    def tradeTagged: DataFrame =
      tradeFirst.select(col("a").as("src"), col("b").as("dst"), col("day"))
        .unionByName(
          tradeFirst.select(col("b").as("src"), col("a").as("dst"),
            col("day")))
    lazy val coDay = {
      val liDay = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .join(Tables.orders(s, dir)
          .where(col("o_orderdate") >= lit(incrCut))
          .select(col("o_orderkey").as("ok"), dayNo.as("day")), "ok")
        .localCheckpoint()
      liDay.as("x")
        .join(liDay.as("y"), col("x.ok") === col("y.ok") &&
          col("x.sk") < col("y.sk"))
        .groupBy(col("x.sk").as("a"), col("y.sk").as("b"),
          col("x.day").as("day"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint()
    }
    def coCum(d: Int): DataFrame = {
      val p = coDay.where(col("day") <= d)
        .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
      p.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionByName(
          p.select(col("b").as("src"), col("a").as("dst"), col("w")))
    }
    // ONE staged set of cumulative co-supply frames feeds BOTH the LPA
    // fold (its per-day delta) and the skeleton fold (its running
    // cumulative weights — identical by additivity), staged overlapped
    // since no frame depends on another
    lazy val coCums: Seq[DataFrame] = graft.operators.Par.seq(
      (1 to 3).map(d => () => coCum(d).localCheckpoint()))
    def coInc(d: Int): DataFrame = coDay.where(col("day") === d)
      .select(col("a").as("src"), col("b").as("dst"), col("w"))
    // The four folds are mutually independent (each day's state seeds the
    // NEXT day of the SAME fold, never another fold), but every fold is a
    // chain of small eager staged rounds — run sequentially the driver
    // serializes ~30 mostly-idle jobs. Overlap them (Par):
    // identical frames per fold, same per-fold round order, byte-equal
    // digests.
    val Seq(Seq(chain), prVecs, lpaVecs, skels) = graft.operators.Par.seq(Seq(
      () => Seq(graft.operators.Ingest.ingestChain(
        graft.operators.Ingest.signatureIndex(ingestCorpusSlice(s, dir), 64),
        Seq(ingestBatch1(s, dir), ingestBatch2a(s, dir),
          ingestBatch3a(s, dir))).localCheckpoint()),
      () => G.pageRankWarmFoldTagged(s, gredgesBaseTable(s, dir),
        gprVectorTable(s, dir), tradeTagged, days = 3),
      () => G.labelPropagationWarmFold(s, gcosupBaseTable(s, dir),
        glpaVectorTable(s, dir), coCums, preStaged = true),
      () => G.knnSkeletonFold(s, gcosupBaseTable(s, dir),
        gskelBaseTable(s, dir), (1 to 3).map(coInc), k = 5,
        cumDeltaEdges = Some(coCums))))
    (chain, prVecs, lpaVecs, skels)
  }

  /** A day's published top-20 PageRank face off its full warm vector. */
  private def prTop20(vec: DataFrame): DataFrame = vec
    .select(col("node").as("node_id"), col("pr").as("rank_micro"),
      col("deg").as("degree"))
    .orderBy(col("rank_micro").desc, col("node_id").asc).limit(20)
  private def pagerankDecideFrame(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRankWarmBucketed(s,
      gredgesBaseTable(s, dir), gprVectorTable(s, dir),
      Tables.orders(s, dir).where(col("o_orderdate") >= lit(incrCut)),
      Tables.lineitem(s, dir))
  private def communitiesDecideFrame(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.labelPropagationWarmBucketed(s,
      gcosupBaseTable(s, dir), glpaVectorTable(s, dir),
      graft.operators.Graph.coSupplyEdges(
        baseCutLineitem(s, dir, pre = false)))
  private def skeletonIncrFrame(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.knnSkeletonIncremental(s,
      gcosupBaseTable(s, dir), gskelBaseTable(s, dir),
      graft.operators.Graph.coSupplyEdges(
        baseCutLineitem(s, dir, pre = false)), k = 5)
  /** The same refresh WITHOUT the publication sort — for the order-free
    * consumers (peel / census / digest all re-aggregate or re-order, so
    * the rows are identical and the full-skeleton range-exchange + sort
    * is pure waste there; q_knn_graph_incr keeps the ordered face). */
  private def skeletonIncrFrameU(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.knnSkeletonIncrementalUnordered(s,
      gcosupBaseTable(s, dir), gskelBaseTable(s, dir),
      graft.operators.Graph.coSupplyEdges(
        baseCutLineitem(s, dir, pre = false)), k = 5)

  /** The DAY-2 close stage frames (q_daily_close2): each is the same
    * operator as its day-1 twin, warm off the PERSISTED day-1 close
    * outputs — state written by close 1, read by close 2. */
  private def pagerankDecide2Frame(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRankWarmBucketed(s,
      gredgesMidTable(s, dir), gprvecD1Table(s, dir),
      Tables.orders(s, dir).where(col("o_orderdate") >= lit(midCut)),
      Tables.lineitem(s, dir))
  private def communitiesDecide2Frame(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.labelPropagationWarmBucketed(s,
      gcosupMidTable(s, dir), glpavecD1Table(s, dir),
      graft.operators.Graph.coSupplyEdges(
        rangeCutLineitem(s, dir, Some(midCut), None)))
  private def skeletonIncr2Frame(s: SparkSession, dir: String): DataFrame =
    // unordered face: every consumer (digest, census) is order-free
    graft.operators.Graph.knnSkeletonIncrementalUnordered(s,
      gcosupMidTable(s, dir), gskelMidTable(s, dir),
      graft.operators.Graph.coSupplyEdges(
        rangeCutLineitem(s, dir, Some(midCut), None)), k = 5)

  val all: Seq[Query] = Seq(
    // §2.67 — exact-integer PageRank over the customer–supplier trade
    // graph: 6 BSP rounds of BIGINT floor-division damping — link-analysis
    // centrality with zero float hazard, hash-exact on any engine. Runs
    // the BUCKETED-EDGE plan (edge table scans in place, only the
    // (node, pr) vector exchanges per round, zero broadcasts) — the shape
    // that survives 10¹⁰ nodes; spec-proven rank-identical to the
    // broadcast loop
    Query("q_pagerank", (s, dir) =>
      graft.operators.Graph.pageRankBucketed(s, gredgesTable(s, dir)),
      // 6 unrolled BSP rounds: each r_i is one join + grouped integer
      // floor-division sum — the exact arithmetic makes the replay bit-equal
      sql {
        def round_(i: Int) =
          s"""r$i AS (
             |  SELECT ed.dst AS node,
             |    CAST(150000 + sum((r.pr * 85) // (100 * dg.deg)) AS BIGINT) AS pr
             |  FROM ed JOIN r${i - 1} r ON ed.src = r.node
             |  JOIN dg ON ed.src = dg.src
             |  GROUP BY 1)""".stripMargin
        s"""WITH e0 AS (
           |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
           |    's:' || CAST(l_suppkey AS VARCHAR) AS b
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |ed AS (
           |  SELECT a AS src, b AS dst FROM e0
           |  UNION ALL SELECT b AS src, a AS dst FROM e0),
           |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY 1),
           |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM dg),
           |${(1 to 6).map(round_).mkString(",\n")}
           |SELECT r6.node AS node_id, r6.pr AS rank_micro, dg.deg AS degree
           |FROM r6 JOIN dg ON r6.node = dg.src
           |ORDER BY rank_micro DESC, node_id ASC LIMIT 20""".stripMargin
      }),

    // §2.67h — INCREMENTAL PageRank on edge deltas (r11): the orders
    // since the cut adjust degrees and re-run 3 warm rounds from the
    // stored base vector; the base table scans in place (the delta
    // dedups against it through one merge-joined bucket scan), and the
    // output certifies warm vs from-scratch ranks with a drift_bp
    // column — the merge==recompute posture, graph edition
    Query("q_pagerank_incr", (s, dir) =>
      graft.operators.Graph.pageRankIncrementalBucketed(s,
        gredgesBaseTable(s, dir), gredgesTable(s, dir),
        Tables.orders(s, dir).where(col("o_orderdate") >= lit(incrCut)),
        Tables.lineitem(s, dir),
        storedVectorTable = Some(gprVectorTable(s, dir))),
      // three unrolled pyramids: 6 base rounds on the pre-cut graph, 3
      // warm rounds on the full graph from the coalesced stored vector,
      // 9 from-scratch rounds (same total) as the drift certifier
      sql {
        def round_(name: String, prev: String, edges: String, deg: String) =
          s"""$name AS MATERIALIZED (
             |  SELECT e.dst AS node,
             |    CAST(150000 + sum((r.pr * 85) // (100 * d.deg)) AS BIGINT) AS pr
             |  FROM $edges e JOIN $prev r ON e.src = r.node
             |  JOIN $deg d ON e.src = d.src
             |  GROUP BY 1)""".stripMargin
        val baseRounds = (1 to 6)
          .map(i => round_(s"br$i", s"br${i - 1}", "be", "bdg")).mkString(",\n")
        val warmRounds = (1 to 3)
          .map(i => round_(s"w$i", s"w${i - 1}", "fe", "fdg")).mkString(",\n")
        val scratchRounds = (1 to 9)
          .map(i => round_(s"s$i", s"s${i - 1}", "fe", "fdg")).mkString(",\n")
        s"""WITH b0 AS (
           |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
           |    's:' || CAST(l_suppkey AS VARCHAR) AS b
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |  WHERE o_orderdate < TIMESTAMP '2001-06-01'),
           |be AS (
           |  SELECT a AS src, b AS dst FROM b0
           |  UNION ALL SELECT b AS src, a AS dst FROM b0),
           |bdg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
           |        FROM be GROUP BY 1),
           |f0 AS (
           |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
           |    's:' || CAST(l_suppkey AS VARCHAR) AS b
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |fe AS (
           |  SELECT a AS src, b AS dst FROM f0
           |  UNION ALL SELECT b AS src, a AS dst FROM f0),
           |fdg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
           |        FROM fe GROUP BY 1),
           |br0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM bdg),
           |$baseRounds,
           |w0 AS (
           |  SELECT fdg.src AS node,
           |    CAST(coalesce(br6.pr, 1000000) AS BIGINT) AS pr
           |  FROM fdg LEFT JOIN br6 ON fdg.src = br6.node),
           |$warmRounds,
           |s0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM fdg),
           |$scratchRounds
           |SELECT w3.node AS node_id, w3.pr AS rank_micro, fdg.deg AS degree,
           |  s9.pr AS scratch_micro,
           |  CAST(abs(w3.pr - s9.pr) * 10000 // s9.pr AS BIGINT) AS drift_bp
           |FROM w3 JOIN fdg ON w3.node = fdg.src
           |JOIN s9 ON w3.node = s9.node
           |ORDER BY rank_micro DESC, node_id ASC LIMIT 20""".stripMargin
      }),

    // §2.67i — the RECURRING warm refresh alone (the q_ingest_decide
    // shape applied to 67h): the base edge table and yesterday's rank
    // vector are at rest; the benched cost is one delta dedup (one
    // in-place base scan) + 3 warm rounds — what a daily PageRank
    // refresh actually pays, with 67h as its standing drift certificate
    Query("q_pagerank_decide", (s, dir) => pagerankDecideFrame(s, dir),
      // the recurring warm refresh: the 67h pyramid minus the scratch
      // certifier — 6 base rounds (the stored vector) + 3 warm rounds
      sql(pagerankDecideSql)),

    // §2.67r — the PLAIN day of the certifier cadence (r13,
    // Graph.pageRankDaily with certifyEvery = 3, registered at day 1):
    // the warm decide refresh digested + an integrity digest of the
    // stored (node, pr) vector at rest — the oracle re-derives the base
    // rounds, so the digest is a standing state-equals-derivation
    // certificate at one in-place vector-scan cost; the 9-round scratch
    // certifier (q_pagerank_incr) becomes the every-3rd-day arm
    Query("q_pagerank_day", (s, dir) =>
      graft.operators.Graph.pageRankDaily(s, gredgesBaseTable(s, dir),
        gprVectorTable(s, dir), gredgesTable(s, dir),
        Tables.orders(s, dir).where(col("o_orderdate") >= lit(incrCut)),
        Tables.lineitem(s, dir), day = 1, certifyEvery = 3),
      // the plain day of the certifier cadence: the decide replay digested
      // + the 6-round base vector replay digested — the stored vector table
      // equals its derivation, certified at digest cost
      sql {
        def round_(name: String, prev: String) =
          s"""$name AS MATERIALIZED (
             |  SELECT e.dst AS node,
             |    CAST(150000 + sum((r.pr * 85) // (100 * d.deg)) AS BIGINT) AS pr
             |  FROM vbe e JOIN $prev r ON e.src = r.node
             |  JOIN vbdg d ON e.src = d.src
             |  GROUP BY 1)""".stripMargin
        s"""WITH ref AS ($pagerankDecideSql),
           |vb0 AS (
           |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
           |    's:' || CAST(l_suppkey AS VARCHAR) AS b
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |  WHERE o_orderdate < TIMESTAMP '$incrCut'),
           |vbe AS (
           |  SELECT a AS src, b AS dst FROM vb0
           |  UNION ALL SELECT b AS src, a AS dst FROM vb0),
           |vbdg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
           |  FROM vbe GROUP BY 1),
           |vbr0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM vbdg),
           |${(1 to 6).map(i => round_(s"vbr$i", s"vbr${i - 1}"))
               .mkString(",\n")},
           |vec AS (SELECT node, pr FROM vbr6)
           |${stageDigestSql("refresh", "ref", "substring(node_id, 1, 1)",
               Seq("node_id", "rank_micro", "degree"))}
           |UNION ALL
           |${stageDigestSql("stored_vector", "vec", "substring(node, 1, 1)",
               Seq("node", "pr"))}
           |ORDER BY stage, part""".stripMargin
      }),

    // §2.67c — WEIGHTED exact-integer PageRank: edges carry distinct
    // order counts and mass splits proportionally in BIGINT floor
    // division — steady relationships outrank one-off orders. Bucketed
    // plan: w and src_wdeg ride each edge, so the per-round exchange is
    // still exactly (node, pr)
    Query("q_pagerank_weighted", (s, dir) =>
      graft.operators.Graph.pageRankWeightedBucketed(s, gwedgesTable(s, dir)),
      // the weighted rounds replayed with the same integer floor division
      sql {
        def round_(i: Int) =
          s"""r$i AS (
             |  SELECT ed.dst AS node,
             |    CAST(150000 + sum((r.pr * 85 * ed.w) // (100 * dg.wdeg))
             |      AS BIGINT) AS pr
             |  FROM ed JOIN r${i - 1} r ON ed.src = r.node
             |  JOIN dg ON ed.src = dg.src
             |  GROUP BY 1)""".stripMargin
        s"""WITH e0 AS (
           |  SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
           |    's:' || CAST(l_suppkey AS VARCHAR) AS b,
           |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS w
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |  GROUP BY 1, 2),
           |ed AS (
           |  SELECT a AS src, b AS dst, w FROM e0
           |  UNION ALL SELECT b AS src, a AS dst, w FROM e0),
           |dg AS (
           |  SELECT src, CAST(sum(w) AS BIGINT) AS wdeg,
           |    CAST(count(*) AS BIGINT) AS deg
           |  FROM ed GROUP BY 1),
           |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM dg),
           |${(1 to 6).map(round_).mkString(",\n")}
           |SELECT r6.node AS node_id, r6.pr AS rank_micro, dg.deg AS degree,
           |  dg.wdeg AS weight_total
           |FROM r6 JOIN dg ON r6.node = dg.src
           |ORDER BY rank_micro DESC, node_id ASC LIMIT 20""".stripMargin
      }),

    // §2.67v — harmonic centrality from a deterministic 4-seed panel
    // over the co-supply graph: H(s) = sum of 1/d(s,v) in exact integer
    // micro-units (10^6 DIV dist), reached count + max distance within
    // the hop cap — the centrality member of the traversal family
    // (defined on disconnected graphs, Boldi & Vigna 2014). Multi-source
    // BFS carries (seed, node) state, frontier joins the bucketed edge
    // table, early exit on exhaustion; exact all-pairs centrality is
    // O(V*E) and deliberately NOT the shape — a bounded seed panel is.
    Query("q_harmonic", (s, dir) => {
      val edges = s.table(gcosupTable(s, dir))
        .select(col("src"), col("dst"), col("w"))
      val seeds = edges.select(col("src").as("seed")).distinct()
        .orderBy(col("seed")).limit(4)
      graft.operators.Graph.harmonicCentrality(edges, seeds, maxHops = 4)
    },
      // 4 unrolled EXCEPT/UNION BFS rounds per seed; contributions as
      // positive truncating 1e6 // dist — engine-identical
      sql {
        val rounds = (1 to 4).map { r =>
          val f = if (r == 1) "v0" else s"n${r - 1}"
          s"""n$r AS MATERIALIZED (
             |  SELECT seed, node FROM (
             |    SELECT DISTINCT f.seed, e.dst AS node
             |    FROM $f f JOIN es e ON f.node = e.src)
             |  EXCEPT SELECT seed, node FROM v${r - 1}),
             |v$r AS MATERIALIZED (SELECT * FROM v${r - 1}
             |  UNION ALL SELECT seed, node, $r FROM n$r)""".stripMargin
        }.mkString(",\n")
        s"""WITH $coSupplyPairCtes,
           |es AS MATERIALIZED (SELECT a AS src, b AS dst FROM p0
           |  UNION ALL SELECT b, a FROM p0),
           |sd AS (SELECT DISTINCT src AS seed FROM es ORDER BY 1 LIMIT 4),
           |v0 AS (SELECT seed, seed AS node, 0 AS dist FROM sd),
           |$rounds
           |SELECT seed,
           |  CAST(sum(CASE WHEN dist > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS reached,
           |  CAST(coalesce(sum(CASE WHEN dist > 0 THEN 1000000 // dist END),
           |    0) AS BIGINT) AS h_micro,
           |  CAST(max(dist) AS BIGINT) AS max_dist
           |FROM v4 GROUP BY seed ORDER BY seed""".stripMargin
      }),

    // §2.67w — widest-path (maximin bottleneck) capacities from the
    // same 4-seed panel: the strongest chain of trading relationships
    // between seed and node (the path maximizing its MINIMUM edge
    // weight — supply-chain resilience). Order-free max/min BSP
    // relaxation, 6 rounds with early exit; top-5 per seed with
    // deterministic ties; O(k·V) state, edges scan the bucketed table
    // in place.
    Query("q_widest", (s, dir) => {
      val edges = s.table(gcosupTable(s, dir))
        .select(col("src"), col("dst"), col("w"))
      val seeds = edges.select(col("src").as("seed")).distinct()
        .orderBy(col("seed")).limit(4)
      graft.operators.Graph.widestPaths(edges, seeds, rounds = 6, topK = 5)
    },
      // 6 unrolled order-free max/min relaxation rounds; converged tails
      // replay as no-ops (the k-core discipline); the seed sentinel is
      // Long.MaxValue/4 on both engines
      sql {
        val big = Long.MaxValue / 4
        val rounds = (1 to 6).map { r =>
          s"""c$r AS MATERIALIZED (
             |  SELECT seed, node, max(cap) AS cap FROM (
             |    SELECT seed, node, cap FROM c${r - 1}
             |    UNION ALL
             |    SELECT c.seed, e.dst AS node, least(c.cap, e.w) AS cap
             |    FROM c${r - 1} c JOIN es e ON c.node = e.src)
             |  GROUP BY 1, 2)""".stripMargin
        }.mkString(",\n")
        s"""WITH $coSupplyPairCtes,
           |es AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM p0
           |  UNION ALL SELECT b, a, w FROM p0),
           |sd AS (SELECT DISTINCT src AS seed FROM es ORDER BY 1 LIMIT 4),
           |c0 AS (SELECT seed, seed AS node, CAST($big AS BIGINT) AS cap
           |  FROM sd),
           |$rounds
           |SELECT seed, node, cap AS capacity, CAST(rk AS BIGINT) AS rk
           |FROM (
           |  SELECT seed, node, cap, row_number() OVER (PARTITION BY seed
           |    ORDER BY cap DESC, node ASC) AS rk
           |  FROM c6 WHERE cap <> $big)
           |WHERE rk <= 5 ORDER BY seed, rk""".stripMargin
      }),

    // §2.67b — BFS layer expansion from the nation-1 customer seed set
    // over the trade graph: per-hop frontier sizes split by side +
    // the unreached remainder — the traversal member of the graph family.
    // Bucketed plan: visited set lives in an appendable bucketed table
    // (anti-join exchanges only the candidates), frontier merge-joins
    // into the in-place edge scan — no broadcast grows with the graph
    Query("q_bfs_layers", (s, dir) => {
      val tag = dirTag(dir)
      val (nodesT, seedT) = bfsSeedTables(s, dir)
      graft.operators.Graph.bfsLayersBucketed(s, gredgesTable(s, dir),
        s"graft_bfs_visited_$tag", s"/tmp/graft_graph_$tag", buckets = 32,
        Tables.customer(s, dir), seedNationKey = 1, maxHops = 4,
        nodesTable = Some(nodesT), seedTable = Some(seedT))
    },
      bfsLayersOracle),

    // §2.67p — the RECURRING BFS refresh (r12, the decide shape for the
    // traversal member): yesterday's layer vector at rest, the day's new
    // trade edges relaxed in EXACTLY (edge additions only shrink hop
    // distances, so min-relaxation from the stored vector IS the true
    // full-graph BFS — certified by the identical q_bfs_layers replay);
    // round 1 runs through the delta edges only, later rounds propagate
    // the just-improved node vector over the in-place base scan + delta,
    // early-exit on a no-improvement round
    Query("q_bfs_decide", (s, dir) => {
      val (nodesT, seedT) = bfsSeedTables(s, dir)
      graft.operators.Graph.bfsLayersDecide(s, gredgesBaseTable(s, dir),
        gbfsVecTable(s, dir), nodesT, seedT,
        graft.operators.Graph.tradeEdges(
          Tables.orders(s, dir).where(col("o_orderdate") >= lit(incrCut)),
          Tables.lineitem(s, dir)), maxHops = 4)
    },
      // the refresh is exact, so the identical full-graph replay
      // certifies the decide too
      bfsLayersOracle),

    // §2.67d — label-propagation communities over the NON-bipartite
    // co-supply projection (suppliers linked when they fill the same
    // order, weight = co-occurring lineitem pairs): 4 deterministic
    // synchronous rounds, heaviest-label vote with ties toward the
    // smaller label — all BIGINT, hash-exact; where CC would merge
    // everything reachable, weighted LPA keeps dense groups apart
    // across weak bridges. Bucketed plan (r11): the persisted co-supply
    // edge table scans in place every vote round — only the (node,
    // label) vector and the map-combined votes exchange, never the edges
    Query("q_communities", (s, dir) =>
      graft.operators.Graph.labelPropagationBucketed(s,
        gcosupTable(s, dir), rounds = 4),
      // 4 unrolled LPA rounds: per round the (node, label, sum-w) votes,
      // the row_number argmax (w DESC, label ASC — the operator's
      // max(struct(w, -label)) order), and the coalesce carry for nodes
      // with no incoming vote
      sql {
        def round(i: Int) =
          s"""v$i AS (
             |  SELECT e.dst AS node, l.label, CAST(sum(e.w) AS BIGINT) AS wsum
             |  FROM e JOIN l${i - 1} l ON e.src = l.node GROUP BY 1, 2),
             |p$i AS (
             |  SELECT node, label FROM (
             |    SELECT node, label, row_number() OVER (
             |      PARTITION BY node ORDER BY wsum DESC, label ASC) AS rk
             |    FROM v$i) WHERE rk = 1),
             |l$i AS MATERIALIZED (
             |  SELECT l.node, COALESCE(p.label, l.label) AS label
             |  FROM l${i - 1} l LEFT JOIN p$i p USING (node))""".stripMargin
        s"""WITH $coSupplyPairCtes,
           |e AS MATERIALIZED (
           |  SELECT a AS src, b AS dst, w FROM p0
           |  UNION ALL
           |  SELECT b, a, w FROM p0),
           |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e),
           |${(1 to 4).map(round).mkString(",\n")},
           |sizes AS (
           |  SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
           |  FROM l4 GROUP BY 1)
           |SELECT l4.node, l4.label AS community, s.n_members
           |FROM l4 JOIN sizes s ON l4.label = s.community
           |ORDER BY node""".stripMargin
      }),

    // §2.67j — INCREMENTAL LPA on edge deltas (r11, the warm-start
    // posture generalized to a second family): yesterday's labels (4
    // rounds on the persisted pre-cut co-supply table) warm-start 2
    // vote rounds over base + the new orders' pair increments —
    // co-occurrence weights are ADDITIVE over any order-log split, so
    // the delta frame votes next to the in-place base scan with zero
    // base-side merge; certified per node against the from-scratch
    // labels at the same total round count (agree column)
    Query("q_communities_incr", (s, dir) =>
      graft.operators.Graph.labelPropagationIncrementalBucketed(s,
        gcosupBaseTable(s, dir), gcosupTable(s, dir),
        graft.operators.Graph.coSupplyEdges(
          baseCutLineitem(s, dir, pre = false)),
        storedLabelTable = Some(glpaVectorTable(s, dir))),
      // warm votes replay on the FULL pair frame — exact by weight
      // additivity over the order-log split (w_full = w_base + w_delta and
      // the vote aggregate sums them); 4 base rounds on the pre-cut
      // projection, 2 warm, 6 scratch at the same total
      sql {
        def round(tag: String, i: Int, prev: String, edges: String) =
          s"""v$tag$i AS (
             |  SELECT e.dst AS node, l.label, CAST(sum(e.w) AS BIGINT) AS wsum
             |  FROM $edges e JOIN $prev l ON e.src = l.node GROUP BY 1, 2),
             |p$tag$i AS (
             |  SELECT node, label FROM (
             |    SELECT node, label, row_number() OVER (
             |      PARTITION BY node ORDER BY wsum DESC, label ASC) AS rk
             |    FROM v$tag$i) WHERE rk = 1),
             |l$tag$i AS MATERIALIZED (
             |  SELECT l.node, COALESCE(p.label, l.label) AS label
             |  FROM $prev l LEFT JOIN p$tag$i p USING (node))""".stripMargin
        val baseRounds = (1 to 4)
          .map(i => round("b", i, s"lb${i - 1}", "eb")).mkString(",\n")
        val warmRounds = (1 to 2)
          .map(i => round("w", i, s"lw${i - 1}", "e")).mkString(",\n")
        val scratchRounds = (1 to 6)
          .map(i => round("s", i, s"ls${i - 1}", "e")).mkString(",\n")
        s"""WITH $coSupplyPairCtes,
           |e AS MATERIALIZED (
           |  SELECT a AS src, b AS dst, w FROM p0
           |  UNION ALL
           |  SELECT b, a, w FROM p0),
           |lib AS (
           |  SELECT l.ok, l.sk FROM li l
           |  JOIN orders o ON l.ok = o.o_orderkey
           |  WHERE o.o_orderdate < TIMESTAMP '2001-06-01'),
           |p0b AS MATERIALIZED (
           |  SELECT x.sk AS a, y.sk AS b, CAST(count(*) AS BIGINT) AS w
           |  FROM lib x JOIN lib y ON x.ok = y.ok AND x.sk < y.sk
           |  GROUP BY 1, 2),
           |eb AS MATERIALIZED (
           |  SELECT a AS src, b AS dst, w FROM p0b
           |  UNION ALL
           |  SELECT b, a, w FROM p0b),
           |lb0 AS MATERIALIZED (
           |  SELECT DISTINCT src AS node, src AS label FROM eb),
           |$baseRounds,
           |nodes AS (SELECT DISTINCT src AS node FROM e),
           |lw0 AS MATERIALIZED (
           |  SELECT n.node, COALESCE(lb4.label, n.node) AS label
           |  FROM nodes n LEFT JOIN lb4 ON n.node = lb4.node),
           |$warmRounds,
           |ls0 AS MATERIALIZED (
           |  SELECT DISTINCT src AS node, src AS label FROM e),
           |$scratchRounds,
           |wcan AS (
           |  SELECT label, min(node) AS community,
           |    CAST(count(*) AS BIGINT) AS n_members
           |  FROM lw2 GROUP BY 1),
           |scan_ AS (
           |  SELECT label, min(node) AS community FROM ls6 GROUP BY 1)
           |SELECT w.node, wc.community, wc.n_members,
           |  sc.community AS scratch_community,
           |  (wc.community = sc.community) AS agree
           |FROM lw2 w JOIN wcan wc ON w.label = wc.label
           |JOIN ls6 s ON w.node = s.node
           |JOIN scan_ sc ON s.label = sc.label
           |ORDER BY w.node""".stripMargin
      }),

    // §2.67l — the RECURRING community refresh alone (the
    // q_pagerank_decide shape for LPA): base edges and yesterday's
    // label vector at rest, the benched cost = 2 incremental vote
    // rounds + the canonical community rollup; 67j stands as its
    // drift certificate
    Query("q_communities_decide", (s, dir) => communitiesDecideFrame(s, dir),
      // the recurring refresh: the 67j pyramid minus the scratch
      // certifier — 4 base rounds (the stored vector) + 2 warm rounds +
      // the min-member canonical rollup
      sql(communitiesDecideSql)),

    // §2.67s — q_pagerank_day's community twin (r13,
    // Graph.labelPropagationDaily with certifyEvery = 3, day 1): the
    // warm LPA decide digested + the stored (node, label) vector's
    // integrity digest; the 6-round scratch certifier
    // (q_communities_incr) becomes the every-3rd-day arm
    Query("q_communities_day", (s, dir) =>
      graft.operators.Graph.labelPropagationDaily(s,
        gcosupBaseTable(s, dir), glpaVectorTable(s, dir),
        gcosupTable(s, dir),
        graft.operators.Graph.coSupplyEdges(
          baseCutLineitem(s, dir, pre = false)),
        day = 1, certifyEvery = 3),
      // q_pagerank_day's community twin: decide replay digested + the
      // 4-round base label vector replay digested
      sql {
        def round(i: Int) =
          s"""vvb$i AS (
             |  SELECT e.dst AS node, l.label, CAST(sum(e.w) AS BIGINT) AS wsum
             |  FROM veb e JOIN vlb${i - 1} l ON e.src = l.node GROUP BY 1, 2),
             |vpb$i AS (
             |  SELECT node, label FROM (
             |    SELECT node, label, row_number() OVER (
             |      PARTITION BY node ORDER BY wsum DESC, label ASC) AS rk
             |    FROM vvb$i) WHERE rk = 1),
             |vlb$i AS MATERIALIZED (
             |  SELECT l.node, COALESCE(p.label, l.label) AS label
             |  FROM vlb${i - 1} l LEFT JOIN vpb$i p USING (node))""".stripMargin
        s"""WITH ref AS ($communitiesDecideSql),
           |vli AS (
           |  SELECT l.l_orderkey AS ok, l.l_suppkey AS sk FROM lineitem l
           |  JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  WHERE o.o_orderdate < TIMESTAMP '$incrCut'),
           |vp0 AS MATERIALIZED (
           |  SELECT x.sk AS a, y.sk AS b, CAST(count(*) AS BIGINT) AS w
           |  FROM vli x JOIN vli y ON x.ok = y.ok AND x.sk < y.sk
           |  GROUP BY 1, 2),
           |veb AS MATERIALIZED (
           |  SELECT a AS src, b AS dst, w FROM vp0
           |  UNION ALL SELECT b, a, w FROM vp0),
           |vlb0 AS MATERIALIZED (
           |  SELECT DISTINCT src AS node, src AS label FROM veb),
           |${(1 to 4).map(round).mkString(",\n")},
           |vec AS (SELECT node, label FROM vlb4)
           |${stageDigestSql("refresh", "ref", "node % 8",
               Seq("node", "community", "n_members"))}
           |UNION ALL
           |${stageDigestSql("stored_vector", "vec", "node % 8",
               Seq("node", "label"))}
           |ORDER BY stage, part""".stripMargin
      }),

    // §2.67e — triangle census + local clustering coefficient over the
    // k-NN SKELETON of the co-supply projection (each supplier keeps its
    // 5 heaviest partners — the raw projection is near-complete at every
    // SF, where a triangle census is cubic and meaningless): id-ordered
    // orientation so each triangle enumerates once, every corner
    // credited, lcc as the exact integer (2*T*10^6) DIV (d*(d-1)).
    // Registered plan (r11): the PERSISTED skeleton table + the
    // DEGREE-ordered orientation (Schank–Wagner O(m^{3/2}) wedge bound —
    // a power-law hub no longer sources its whole edge list); the census
    // is orientation-invariant, so the id-ordered oracle certifies it
    // §2.67y — HyperANF neighborhood function + effective diameter over
    // the trade graph (Boldi–Vigna–Rosa 2011 — THE distance-structure
    // algorithm for graphs too big for all-pairs BFS): every node
    // carries a 16-register HLL of its ball, one max-merge round along
    // the in-place bucketed edge scan grows every radius by one;
    // per-node estimates quantize to cents BEFORE the cross-node sum
    // (order-independent), the curve row reaching 90% coverage IS the
    // effective-diameter estimate
    Query("q_hyperanf", (s, dir) =>
      graft.operators.Graph.hyperAnf(
        s.table(gwedgesTable(s, dir)).select(col("src"), col("dst")),
        maxT = 4),
      // 4 unrolled register max-merge rounds + 5 per-round estimate
      // blocks with the SAME inlined alpha-constant double and cents
      // quantization; max-merge converged tails replay as no-ops
      sql {
        val c = graft.operators.Graph.anfC
        def nfK(src: String, t: Int) =
          s"""nf$t AS (
             |  SELECT CAST($t AS BIGINT) AS t,
             |    CAST(count(*) AS BIGINT) AS n_nodes,
             |    CAST(sum(cents) AS BIGINT) AS nf_cents
             |  FROM (
             |    SELECT CAST(floor((CASE
             |        WHEN CAST('$c' AS DOUBLE)
             |            / CAST(sp + (16 - npres) * 562949953421312 AS DOUBLE)
             |            <= 40.0
             |          AND 16 - npres > 0
             |        THEN 16.0 * ln(16.0 / CAST(16 - npres AS DOUBLE))
             |        ELSE CAST('$c' AS DOUBLE)
             |          / CAST(sp + (16 - npres) * 562949953421312 AS DOUBLE)
             |        END) * 100.0 + 0.5) AS BIGINT) AS cents
             |    FROM (
             |      SELECT node, CAST(count(*) AS BIGINT) AS npres,
             |        CAST(sum(CAST(1 AS BIGINT) << CAST(49 - rho AS INT))
             |          AS BIGINT) AS sp
             |      FROM $src GROUP BY node)))""".stripMargin
        val rounds = (1 to 4).map { t =>
          s"""r$t AS MATERIALIZED (
             |  SELECT node, idx, max(rho) AS rho FROM (
             |    SELECT node, idx, rho FROM r${t - 1}
             |    UNION ALL
             |    SELECT e.dst AS node, r.idx, r.rho
             |    FROM es e JOIN r${t - 1} r ON e.src = r.node)
             |  GROUP BY 1, 2)""".stripMargin
        }.mkString(",\n")
        val nfs = (0 to 4).map(t => nfK(s"r$t", t)).mkString(",\n")
        s"""WITH e0 AS (
           |  SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
           |    's:' || CAST(l_suppkey AS VARCHAR) AS b
           |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           |  GROUP BY 1, 2),
           |es AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
           |  UNION ALL SELECT b, a FROM e0),
           |n0 AS (SELECT DISTINCT src AS node FROM es),
           |h AS (SELECT node, ${md5bits("'hll:' || node")} AS hc FROM n0),
           |r0 AS MATERIALIZED (
           |  SELECT node, ${hllRegister(16)}
           |  FROM h),
           |$rounds,
           |$nfs,
           |curve AS (SELECT * FROM nf0 UNION ALL SELECT * FROM nf1
           |  UNION ALL SELECT * FROM nf2 UNION ALL SELECT * FROM nf3
           |  UNION ALL SELECT * FROM nf4),
           |lastr AS (SELECT nf_cents AS nf_last FROM curve WHERE t = 4)
           |SELECT c.t, c.n_nodes, c.nf_cents,
           |  (c.nf_cents * 10000) // l.nf_last AS coverage_bp,
           |  c.nf_cents * 10 >= l.nf_last * 9 AS reaches_90pct
           |FROM curve c CROSS JOIN lastr l ORDER BY c.t""".stripMargin
      }),

    // §2.67x — degree assortativity over the trade graph (Newman 2002,
    // the one-number companion of q_degree_hist): Pearson correlation
    // of endpoint degrees over directed edges — the bipartite
    // customer-supplier structure is strongly DISASSORTATIVE (hubs
    // attach to leaves), and the number says how strongly; decimal
    // sums, one sqrt at 4 dp, operation-identical on both engines
    Query("q_assortativity", (s, dir) =>
      graft.operators.Graph.degreeAssortativity(
        s.table(gwedgesTable(s, dir)).select(col("src"), col("dst"))),
      // Newman assortativity replayed: per-src degrees joined onto both
      // endpoints, HUGEINT sums, the same Pearson tail
      sql("""WITH e0 AS (
        |  SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
        |    's:' || CAST(l_suppkey AS VARCHAR) AS b
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |es AS (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
        |  FROM es GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |    sum(CAST(dx.d AS HUGEINT)) AS sx, sum(CAST(dy.d AS HUGEINT)) AS sy,
        |    sum(CAST(dx.d AS HUGEINT) * dx.d) AS sxx,
        |    sum(CAST(dy.d AS HUGEINT) * dy.d) AS syy,
        |    sum(CAST(dx.d AS HUGEINT) * dy.d) AS sxy
        |  FROM es
        |  JOIN deg dx ON es.src = dx.src
        |  JOIN deg dy ON es.dst = dy.src)
        |SELECT nn.n_nodes, a.m AS n_edges_directed,
        |  CASE WHEN a.m * a.sxx - a.sx * a.sx > 0
        |    AND a.m * a.syy - a.sy * a.sy > 0 THEN
        |    floor(CAST(a.m * a.sxy - a.sx * a.sy AS DOUBLE)
        |      / sqrt(CAST(a.m * a.sxx - a.sx * a.sx AS DOUBLE)
        |        * CAST(a.m * a.syy - a.sy * a.sy AS DOUBLE))
        |      * 10000.0 + 0.5) / 10000.0 END AS r_4dp
        |FROM a CROSS JOIN nn""".stripMargin)),

    // §2.67u — degree-distribution histogram over the TRADE graph: per
    // log2-degree bucket (exact bit-length log, never float log2) the
    // node count, degree range, and edge/weight mass — the power-law
    // diagnostic a graph warehouse publishes before deciding skew
    // plans; the bipartite hub structure shows as the supplier buckets
    // (deg ~2^8-2^9) separating cleanly from the customer mass (2^1-2^6).
    // Per-src count scans the bucketed edge table in place (zero
    // exchange); the rollup is bounded by 64 buckets.
    Query("q_degree_hist", (s, dir) =>
      graft.operators.Graph.degreeHistogram(
        s.table(gwedgesTable(s, dir)).select(col("src"), col("dst"), col("w"))),
      // 4 unrolled frontier rounds: neighbors EXCEPT visited, visited UNION
      // frontier — pure set algebra, bit-equal by construction
      // k-NN sparsify (per-node top-5 by weight desc, neighbor asc, union
      // of both endpoints' keeps) then id-ordered triangle enumeration,
      // per-corner credit, integer micro-unit lcc; e is MATERIALIZED
      // (five references — DuckDB inlines CTEs per reference, the q_kcore
      // lesson) and the projection/skeleton CTEs are shared with the
      // q_kcore and q_communities oracles so the graph family can never
      // drift apart
      // same bit-length log2 bucket (length(bin(deg)) - 1) — exact
      // integer on both engines, never float log2; edges = the weighted
      // trade graph (distinct-order weights, both directions)
      sql("""WITH e0 AS (
        |  SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
        |    's:' || CAST(l_suppkey AS VARCHAR) AS b,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS w
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |es AS (SELECT a AS src, b AS dst, w FROM e0
        |  UNION ALL SELECT b, a, w FROM e0),
        |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg,
        |    CAST(sum(w) AS BIGINT) AS wdeg
        |  FROM es GROUP BY src)
        |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  min(deg) AS min_deg, max(deg) AS max_deg,
        |  CAST(sum(deg) AS BIGINT) AS sum_deg,
        |  CAST(sum(wdeg) AS BIGINT) AS sum_wdeg
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    Query("q_triangles", (s, dir) =>
      graft.operators.Graph.triangleStatsOriented(
        s.table(gskelTable(s, dir)).select(col("src"), col("dst"), col("w")),
        byDegree = true),
      trianglesOracle),

    // §2.67g — the k-NN skeleton AS the product: each supplier's top-5
    // strongest trading partners with the co-occurrence weight (the
    // recommendation-edge / similar-entities table every graph feature
    // store ships); symmetric rows, union-keep rule, deterministic ties.
    // Registered plan (r11): the persisted skeleton table IS the product
    // — the read path a feature store actually serves (projection +
    // sparsifier amortized into the one-off layout build)
    Query("q_knn_graph", (s, dir) =>
      s.table(gskelTable(s, dir)).select(col("src"), col("dst"), col("w"))
        .orderBy(col("src"), col("dst")),
      // the skeleton itself: symmetric top-5 union-keep edges with the
      // co-occurrence weight, off the same shared CTEs as 67e/67f
      knnSkeletonOracle),

    // §2.67k — EXACT incremental skeleton refresh (r11): the delta can
    // only change its own endpoints' top-5, so the refresh recomputes
    // keeps for touched nodes (one in-place base scan + the increments)
    // and reuses every untouched node's directed keeps off the stored
    // kept_by_src flags; the reassembled union-keep skeleton is the
    // EXACT full-graph skeleton — certified by the SAME oracle as
    // q_knn_graph, not a drift bound
    Query("q_knn_graph_incr", (s, dir) => skeletonIncrFrame(s, dir),
      // the incremental refresh must reproduce the full skeleton EXACTLY —
      // the identical replay certifies it (no separate oracle shape)
      knnSkeletonOracle),

    // §2.67m — triangle census over the INCREMENTALLY refreshed
    // skeleton (r11): the day's structure statistics without a full
    // skeleton rebuild — the refresh is exact, so the census is too,
    // certified by the SAME oracle as q_triangles; the composition a
    // daily feature-store cadence actually runs
    Query("q_triangles_incr", (s, dir) =>
      graft.operators.Graph.triangleStatsOriented(
        skeletonIncrFrameU(s, dir), byDegree = true),
      // census over the refreshed skeleton == census over the full one
      // (the refresh is exact), so the q_triangles replay certifies it
      trianglesOracle),

    // §2.67n — the composed DAILY CLOSE (r12): the recurring production
    // day the engine sells piecemeal, run as ONE chain — ingest decide
    // against the persisted signature index, warm PageRank decide off
    // the stored rank vector, warm LPA decide off the stored label
    // vector, the EXACT skeleton refresh plus its triangle census —
    // with every stage output folded into the per-partition
    // (count, xor, sum) digest triple (§2.56b), so the chain's result
    // is the day's verifiable close-of-books: 5 stages × ≤8 partitions
    // of digest rows, each stage sharing its frame definition with its
    // standalone registration (they cannot drift). Chaining is what a
    // platform team budgets; shared-scan and staging interactions
    // between the stages are exactly what no single query exercises.
    Query("q_daily_close", (s, dir) => {
      val dig = graft.validation.Reconcile.digestStage _
      // the four stage chains are mutually independent and each fronts a
      // run of eager staged rounds — overlap their construction (Par);
      // frames and digests are byte-identical
      // every chain's FINAL frame is checkpointed INSIDE its thunk: the
      // decides' unstaged tails (final warm round, decision assembly)
      // otherwise execute serially inside the closing digest job, after
      // the overlap window has ended — staging them here moves that work
      // under the Par overlap where the pole chain hides it (r17
      // probe: the close2 digest tail carried 1.6 s of ingest-decide
      // tail + 0.9 s of rank-round tail). Pure materialization — rows
      // byte-identical.
      val Seq(ing, pr, lpa, skel) = graft.operators.Par.seq(Seq(
        () => ingestDecideFrame(s, dir).localCheckpoint(),
        () => pagerankDecideFrame(s, dir).localCheckpoint(),
        () => communitiesDecideFrame(s, dir).localCheckpoint(),
        // the skeleton feeds TWO consumers (its own digest + the census);
        // both are order-free, so the unordered face skips the
        // publication sort
        () => skeletonIncrFrameU(s, dir).localCheckpoint()))
      val census = graft.operators.Graph.triangleStatsOriented(
        skel, byDegree = true)
      dig("ingest", ing, pmod(col("doc_id"), lit(8)),
          Seq(col("doc_id"), col("verdict"), col("matched_id")))
        .unionByName(dig("pagerank", pr, substring(col("node_id"), 1, 1),
          Seq(col("node_id"), col("rank_micro"), col("degree"))))
        .unionByName(dig("communities", lpa, pmod(col("node"), lit(8)),
          Seq(col("node"), col("community"), col("n_members"))))
        .unionByName(dig("skeleton", skel, pmod(col("src"), lit(8)),
          Seq(col("src"), col("dst"), col("w"))))
        .unionByName(dig("census", census, pmod(col("node"), lit(8)),
          Seq(col("node"), col("degree"), col("n_tri"), col("lcc_micro"))))
        .orderBy(col("stage"), col("part"))
    },
      // the composed daily close: each stage replayed by ITS OWN shared
      // definition (the nested-WITH form of the standalone oracles), the
      // census derived from the skel stage CTE, and every stage folded by
      // the q_table_digest digest arm (same canonical row string, 52-bit
      // salted md5, count/xor/mod-1e18-sum triple)
      sql(s"""WITH ing AS ($ingestDecideSql),
         |pr AS ($pagerankDecideSql),
         |lpa AS ($communitiesDecideSql),
         |skel AS ($knnSkeletonReplaySql),
         |ce AS MATERIALIZED (
         |  SELECT src AS a, dst AS b FROM skel WHERE src < dst),
         |cdeg AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
         |    SELECT a AS node FROM ce UNION ALL SELECT b FROM ce)
         |  GROUP BY 1),
         |ctri AS (
         |  SELECT ab.a AS x, ab.b AS y, bc.b AS z
         |  FROM ce ab JOIN ce bc ON ab.b = bc.a
         |  JOIN ce ac ON ac.a = ab.a AND ac.b = bc.b),
         |cpn AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |    SELECT x AS node FROM ctri
         |    UNION ALL SELECT y FROM ctri
         |    UNION ALL SELECT z FROM ctri)
         |  GROUP BY 1),
         |census AS (
         |  SELECT d.node, d.degree, COALESCE(cpn.n_tri, 0) AS n_tri,
         |    CASE WHEN d.degree >= 2
         |      THEN (2 * COALESCE(cpn.n_tri, 0) * 1000000)
         |        // (d.degree * (d.degree - 1))
         |      ELSE 0 END AS lcc_micro
         |  FROM cdeg d LEFT JOIN cpn USING (node))
         |${stageDigestSql("ingest", "ing", "doc_id % 8",
             Seq("doc_id", "verdict", "matched_id"))}
         |UNION ALL
         |${stageDigestSql("pagerank", "pr", "substring(node_id, 1, 1)",
             Seq("node_id", "rank_micro", "degree"))}
         |UNION ALL
         |${stageDigestSql("communities", "lpa", "node % 8",
             Seq("node", "community", "n_members"))}
         |UNION ALL
         |${stageDigestSql("skeleton", "skel", "src % 8",
             Seq("src", "dst", "w"))}
         |UNION ALL
         |${stageDigestSql("census", "census", "node % 8",
             Seq("node", "degree", "n_tri", "lcc_micro"))}
         |ORDER BY stage, part""".stripMargin)),

    // §2.67q — the TWO-day close (r13): proof that the
    // recurring cadence COMPOSES — state written by close 1 is read by
    // close 2. Day 1's five stage outputs are republished FROM REST
    // (the persisted decision log, post-warm rank/label vectors, and
    // refreshed skeleton — the *D1*/*Mid* warehouse); day 2's stages
    // run the SAME warm operators off that stored state on the second
    // delta slice ([midCut, ∞)) and the batch-2 docs against the
    // keeper-appended signature index. All ten stage outputs fold into
    // the per-partition digest triple; the oracle replays BOTH days'
    // chains from scratch, so a green row certifies every handoff:
    // vector advance, skeleton refresh, and index append.
    Query("q_daily_close2", (s, dir) => {
      val dig = graft.validation.Reconcile.digestStage _
      val (_, decT) = ingestIndex2Tables(s, dir)
      // day 1 from rest
      val ing1 = s.table(decT)
        .select(col("doc_id"), col("verdict"), col("matched_id"))
      val pr1 = s.table(gprvecD1Table(s, dir))
        .select(col("node").as("node_id"), col("pr").as("rank_micro"),
          col("deg").as("degree"))
        .orderBy(col("rank_micro").desc, col("node_id").asc).limit(20)
      val lpa1 = graft.operators.Graph.communityRollup(
        s.table(glpavecD1Table(s, dir)))
      // day-1 republish + day 2's four warm chains are mutually
      // independent eager runs — overlap them (Par), and
      // checkpoint each chain's FINAL frame inside its thunk so the
      // decides' unstaged tails run under the overlap instead of
      // serially inside the closing digest job (see q_daily_close)
      val Seq(skel1, ing2, pr2, lpa2, skel2) = graft.operators.Par.seq(Seq(
        () => s.table(gskelMidTable(s, dir))
          .select(col("src"), col("dst"), col("w")).localCheckpoint(),
        () => ingestDecide2Frame(s, dir).localCheckpoint(),
        () => pagerankDecide2Frame(s, dir).localCheckpoint(),
        () => communitiesDecide2Frame(s, dir).localCheckpoint(),
        () => skeletonIncr2Frame(s, dir).localCheckpoint()))
      val cen1 = graft.operators.Graph.triangleStatsOriented(
        skel1, byDegree = true)
      val cen2 = graft.operators.Graph.triangleStatsOriented(
        skel2, byDegree = true)
      def day(d: String, ing: DataFrame, pr: DataFrame, lpa: DataFrame,
          skel: DataFrame, cen: DataFrame) =
        dig(s"${d}_ingest", ing, pmod(col("doc_id"), lit(8)),
            Seq(col("doc_id"), col("verdict"), col("matched_id")))
          .unionByName(dig(s"${d}_pagerank", pr,
            substring(col("node_id"), 1, 1),
            Seq(col("node_id"), col("rank_micro"), col("degree"))))
          .unionByName(dig(s"${d}_communities", lpa, pmod(col("node"), lit(8)),
            Seq(col("node"), col("community"), col("n_members"))))
          .unionByName(dig(s"${d}_skeleton", skel, pmod(col("src"), lit(8)),
            Seq(col("src"), col("dst"), col("w"))))
          .unionByName(dig(s"${d}_census", cen, pmod(col("node"), lit(8)),
            Seq(col("node"), col("degree"), col("n_tri"), col("lcc_micro"))))
      day("d1", ing1, pr1, lpa1, skel1, cen1)
        .unionByName(day("d2", ing2, pr2, lpa2, skel2, cen2))
        .orderBy(col("stage"), col("part"))
    },
      // BOTH days' chains replayed from scratch off the same CTE stages —
      // day 2 seeded by day 1's post-warm vectors / refreshed skeleton /
      // keeper-appended index, so a green row certifies the cross-day
      // state handoff the Spark side performs through persisted tables
      sql(dailyClose2Sql)),

    // §2.67r — the PLAIN-day close (r14): the certifier
    // cadence run THROUGH the daily close. A plain day pays ONLY the
    // four warm decides (day-2's refreshes off day-1's persisted close
    // outputs — the q_pagerank_day/q_communities_day policy's cheap arm
    // applied to the whole close) plus one in-place integrity digest of
    // each stored state table it read (decision log, rank vector, label
    // vector, skeleton); the triangle census — the structural certifier
    // — runs only on the every-k-th certified day (q_daily_close2).
    // Every `*_stored` digest is replayed by the oracle FROM the scratch
    // derivation, so a corrupted / partially-written state table flags
    // the same day it is read. This is the number a production platform
    // pays daily; the refresh digests are byte-equal to q_daily_close2's
    // d2_* stages (DailyPipelineSpec), proving the plain day publishes
    // exactly the certified day's state.
    Query("q_daily_close_plain", (s, dir) => {
      val dig = graft.validation.Reconcile.digestStage _
      val (_, decT) = ingestIndex2Tables(s, dir)
      // four independent warm chains — overlap them (Par),
      // each final frame checkpointed inside its thunk so the unstaged
      // decide tails run under the overlap, not in the digest job (see
      // q_daily_close)
      val Seq(ing, pr, lpa, skel) = graft.operators.Par.seq(Seq(
        () => ingestDecide2Frame(s, dir).localCheckpoint(),
        () => pagerankDecide2Frame(s, dir).localCheckpoint(),
        () => communitiesDecide2Frame(s, dir).localCheckpoint(),
        () => skeletonIncr2Frame(s, dir).localCheckpoint()))
      dig("ingest", ing, pmod(col("doc_id"), lit(8)),
          Seq(col("doc_id"), col("verdict"), col("matched_id")))
        .unionByName(dig("ingest_stored",
          s.table(decT).select(col("doc_id"), col("verdict"),
            col("matched_id")),
          pmod(col("doc_id"), lit(8)),
          Seq(col("doc_id"), col("verdict"), col("matched_id"))))
        .unionByName(dig("pagerank", pr, substring(col("node_id"), 1, 1),
          Seq(col("node_id"), col("rank_micro"), col("degree"))))
        .unionByName(dig("pagerank_stored",
          s.table(gprvecD1Table(s, dir)).select(col("node"), col("pr")),
          substring(col("node"), 1, 1), Seq(col("node"), col("pr"))))
        .unionByName(dig("communities", lpa, pmod(col("node"), lit(8)),
          Seq(col("node"), col("community"), col("n_members"))))
        .unionByName(dig("communities_stored",
          s.table(glpavecD1Table(s, dir)).select(col("node"), col("label")),
          pmod(col("node"), lit(8)), Seq(col("node"), col("label"))))
        .unionByName(dig("skeleton", skel, pmod(col("src"), lit(8)),
          Seq(col("src"), col("dst"), col("w"))))
        .unionByName(dig("skeleton_stored",
          s.table(gskelMidTable(s, dir))
            .select(col("src"), col("dst"), col("w")),
          pmod(col("src"), lit(8)), Seq(col("src"), col("dst"), col("w"))))
        .orderBy(col("stage"), col("part"))
    },
      sql(dailyClosePlainSql)),

    // §2.67s — the DAY-AXIS close (r14): a Seq[day] FOLD
    // over the close2 handoff machinery, proving the handoff is
    // INDUCTIVE — state schema and contract stable under N days, not a
    // one-off. Three day slices ([incrCut, midCut), [midCut, cut3),
    // [cut3, ∞)); the PageRank/LPA vectors advance day-over-day through
    // in-plan localCheckpoints off the day-0 stored vector tables (NO
    // new state table per day), the skeleton folds its directional keep
    // set (knnSkeletonFold — each day exact == that day's full rebuild),
    // and the three-batch ingest chain appends keepers between batches
    // (batch 3 replicates a batch-2 keeper slice, so BOTH appends are
    // load-bearing). All 15 stage digests (3 days × ingest / pagerank /
    // communities / skeleton / census) oracle-replayed from scratch.
    Query("q_daily_close3", (s, dir) => {
      val dig = graft.validation.Reconcile.digestStage _
      val G = graft.operators.Graph
      val (chain, prVecs, lpaVecs, skels) = close3Folds(s, dir)
      val days = (1 to 3).map { i =>
        val ing = chain.where(col("batch_no") === i.toLong)
          .select(col("doc_id"), col("verdict"), col("matched_id"))
        val pr = prTop20(prVecs(i - 1))
        val lpa = G.communityRollup(lpaVecs(i - 1))
        // the skeleton feeds two consumers (digest + census)
        val skel = skels(i - 1).localCheckpoint()
        val cen = G.triangleStatsOriented(skel, byDegree = true)
        dig(s"d${i}_ingest", ing, pmod(col("doc_id"), lit(8)),
            Seq(col("doc_id"), col("verdict"), col("matched_id")))
          .unionByName(dig(s"d${i}_pagerank", pr,
            substring(col("node_id"), 1, 1),
            Seq(col("node_id"), col("rank_micro"), col("degree"))))
          .unionByName(dig(s"d${i}_communities", lpa,
            pmod(col("node"), lit(8)),
            Seq(col("node"), col("community"), col("n_members"))))
          .unionByName(dig(s"d${i}_skeleton", skel, pmod(col("src"), lit(8)),
            Seq(col("src"), col("dst"), col("w"))))
          .unionByName(dig(s"d${i}_census", cen, pmod(col("node"), lit(8)),
            Seq(col("node"), col("degree"), col("n_tri"), col("lcc_micro"))))
      }
      days.reduce(_ unionByName _).orderBy(col("stage"), col("part"))
    },
      sql(dailyClose3Sql)),

    // §2.67t — the FULL CADENCE CYCLE (r14 capstone of the plain-day and day-axis closes):
    // certifyEvery = 3 routed through the day-axis close. Days 1 and 2
    // run the PLAIN arm — the four refreshes plus one integrity digest
    // per GRAPH state the day read (day 1 reads the day-0 persisted
    // vectors/skeleton, day 2 reads day 1's in-plan handoff — both
    // digested, both oracle-replayed FROM their scratch derivations);
    // day 3 is the CERTIFIED close and pays the triangle census. Same
    // folds as q_daily_close3 (close3Folds — one definition), so the
    // cycle's published state is the day-axis close's by construction;
    // what changes day-over-day is only what is AUDITED. 19 stage
    // digests; this is the cost PROFILE a production platform pays
    // across one certifier period.
    Query("q_daily_close_cycle", (s, dir) => {
      val dig = graft.validation.Reconcile.digestStage _
      val G = graft.operators.Graph
      val (chain, prVecs, lpaVecs, skels) = close3Folds(s, dir)
      // the graph state each day READ: day 1 the day-0 persisted tables,
      // day 2 the day-1 fold handoff (already localCheckpointed)
      val storedPr = Seq(
        s.table(gprVectorTable(s, dir)).select(col("node"), col("pr")),
        prVecs(0).select(col("node"), col("pr")))
      val storedLpa = Seq(
        s.table(glpaVectorTable(s, dir)).select(col("node"), col("label")),
        lpaVecs(0))
      val storedSkel = Seq(
        s.table(gskelBaseTable(s, dir))
          .select(col("src"), col("dst"), col("w")),
        skels(0))
      def refresh(i: Int, withCensus: Boolean) = {
        val ing = chain.where(col("batch_no") === i.toLong)
          .select(col("doc_id"), col("verdict"), col("matched_id"))
        val base = dig(s"d${i}_ingest", ing, pmod(col("doc_id"), lit(8)),
            Seq(col("doc_id"), col("verdict"), col("matched_id")))
          .unionByName(dig(s"d${i}_pagerank", prTop20(prVecs(i - 1)),
            substring(col("node_id"), 1, 1),
            Seq(col("node_id"), col("rank_micro"), col("degree"))))
          .unionByName(dig(s"d${i}_communities",
            G.communityRollup(lpaVecs(i - 1)), pmod(col("node"), lit(8)),
            Seq(col("node"), col("community"), col("n_members"))))
        if (withCensus) {
          val skel = skels(i - 1).localCheckpoint()
          base
            .unionByName(dig(s"d${i}_skeleton", skel,
              pmod(col("src"), lit(8)), Seq(col("src"), col("dst"), col("w"))))
            .unionByName(dig(s"d${i}_census",
              G.triangleStatsOriented(skel, byDegree = true),
              pmod(col("node"), lit(8)),
              Seq(col("node"), col("degree"), col("n_tri"),
                col("lcc_micro"))))
        } else base
          .unionByName(dig(s"d${i}_skeleton", skels(i - 1),
            pmod(col("src"), lit(8)), Seq(col("src"), col("dst"), col("w"))))
      }
      def stored(i: Int) =
        dig(s"d${i}_pagerank_stored", storedPr(i - 1),
            substring(col("node"), 1, 1), Seq(col("node"), col("pr")))
          .unionByName(dig(s"d${i}_communities_stored", storedLpa(i - 1),
            pmod(col("node"), lit(8)), Seq(col("node"), col("label"))))
          .unionByName(dig(s"d${i}_skeleton_stored", storedSkel(i - 1),
            pmod(col("src"), lit(8)), Seq(col("src"), col("dst"), col("w"))))
      refresh(1, withCensus = false).unionByName(stored(1))
        .unionByName(refresh(2, withCensus = false)).unionByName(stored(2))
        .unionByName(refresh(3, withCensus = true))
        .orderBy(col("stage"), col("part"))
    },
      sql(dailyCloseCycleSql)),

    // §2.67f — k-core onion layering over the same k-NN skeleton:
    // synchronous 6-core peel (all sub-6-degree nodes removed per
    // round, fixpoint-early-exit), each node labeled with its peel
    // round (layer 1 = weakest shell) or in_core for the survivors —
    // the structural-depth dual of q_triangles' local density.
    // Bucketed plan (r11): DELTA peel against the persisted skeleton —
    // deg_0 rides the table, each round exchanges only the peeled and
    // decrement vectors while the edges scan in place
    Query("q_kcore", (s, dir) =>
      graft.operators.Graph.kCorePeelBucketed(s, gskelTable(s, dir),
        k = 6, rounds = 8),
      // 8 unrolled synchronous peel rounds over the same k-NN skeleton
      // CTEs as q_triangles; converged rounds peel nothing, so trailing
      // no-op rounds replay harmlessly. The round CTEs are MATERIALIZED:
      // each round references its predecessor three times, and DuckDB's
      // default inlining would expand the base scan 3^8 ways (it ran out
      // of file handles before it ran out of time)
      kcoreOracle),

    // §2.67o — k-core layering over the INCREMENTALLY refreshed
    // skeleton (r12, the q_triangles_incr precedent applied to the
    // peel): knnSkeletonIncremental is EXACT, so the synchronous peel
    // over it is too — certified by the identical oracle as q_kcore;
    // completes the incremental structure family (skeleton -> census ->
    // layering) a daily feature-store cadence runs without a rebuild
    Query("q_kcore_incr", (s, dir) =>
      graft.operators.Graph.kCorePeel(
        skeletonIncrFrameU(s, dir), k = 6, rounds = 8),
      // the peel over the exactly-refreshed skeleton == the peel over the
      // full one, so the identical replay certifies it
      kcoreOracle)
  )

  /** DuckDB replay of `Reconcile.canonRowHash` + the three commuting
    * folds over one q_daily_close stage CTE — textually the same digest
    * arm as the q_table_digest oracle (canonical '|'-joined row string,
    * chr(1)||'NULL' sentinel, 52-bit salted md5 prefix, count / bit_xor
    * / mod-1e18 HUGEINT sum), parameterized by stage name, source CTE,
    * partition expression, and the digested column list. */
  private def stageDigestSql(stage: String, src: String, partExpr: String,
      cols: Seq[String]): String = {
    val canon = cols
      .map(c => s"coalesce(CAST($c AS VARCHAR), chr(1) || 'NULL')")
      .mkString(", ")
    s"""SELECT '$stage' AS stage, part, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(bit_xor(h) AS BIGINT) AS xor_digest,
       |  CAST(sum(CAST(h AS HUGEINT)) % 1000000000000000000 AS BIGINT)
       |    AS sum_digest
       |FROM (
       |  SELECT CAST($partExpr AS VARCHAR) AS part,
       |    ${md5bits(s" 'digest:' || concat_ws('|', $canon)")} AS h
       |  FROM $src)
       |GROUP BY 1, 2""".stripMargin
  }

  /** The full-graph BFS replay (4 unrolled EXCEPT/UNION hops) —
    * q_bfs_layers and q_bfs_decide share this one definition: the
    * incremental relaxation is exact, so both must equal it. */
  private lazy val bfsLayersOracle: Oracle = sql {
      def hop(i: Int) =
        s"""l$i AS (
           |  SELECT DISTINCT ed.dst AS node
           |  FROM ed JOIN l${i - 1} ON ed.src = l${i - 1}.node
           |  EXCEPT SELECT node FROM v${i - 1}),
           |v$i AS (SELECT node FROM v${i - 1}
           |  UNION SELECT node FROM l$i)""".stripMargin
      def row(src: String, layer: Int) =
        s"""SELECT CAST($layer AS BIGINT) AS layer,
           |  CAST(count(*) AS BIGINT) AS n_nodes,
           |  COALESCE(CAST(sum(CASE WHEN node LIKE 'c:%' THEN 1 ELSE 0 END)
           |    AS BIGINT), 0) AS n_customers,
           |  COALESCE(CAST(sum(CASE WHEN node LIKE 's:%' THEN 1 ELSE 0 END)
           |    AS BIGINT), 0) AS n_suppliers
           |FROM $src""".stripMargin
      s"""WITH e0 AS (
         |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
         |    's:' || CAST(l_suppkey AS VARCHAR) AS b
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |ed AS (
         |  SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b AS src, a AS dst FROM e0),
         |nd AS (SELECT DISTINCT src AS node FROM ed),
         |l0 AS (
         |  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS node
         |  FROM customer WHERE c_nationkey = 1
         |  INTERSECT SELECT node FROM nd),
         |v0 AS (SELECT node FROM l0),
         |${(1 to 4).map(hop).mkString(",\n")},
         |unr AS (SELECT node FROM nd EXCEPT SELECT node FROM v4)
         |${row("l0", 0)}
         |UNION ALL ${row("l1", 1)}
         |UNION ALL ${row("l2", 2)}
         |UNION ALL ${row("l3", 3)}
         |UNION ALL ${row("l4", 4)}
         |UNION ALL ${row("unr", -1)}
         |ORDER BY layer""".stripMargin
    }

  /** q_communities_decide oracle (also a q_daily_close stage): the
    * recurring refresh — 4 base rounds (the stored vector) + 2 warm
    * rounds + the min-member canonical rollup. */
  private def communitiesDecideSql: String = {
      def round(tag: String, i: Int, prev: String, edges: String) =
        s"""v$tag$i AS (
           |  SELECT e.dst AS node, l.label, CAST(sum(e.w) AS BIGINT) AS wsum
           |  FROM $edges e JOIN $prev l ON e.src = l.node GROUP BY 1, 2),
           |p$tag$i AS (
           |  SELECT node, label FROM (
           |    SELECT node, label, row_number() OVER (
           |      PARTITION BY node ORDER BY wsum DESC, label ASC) AS rk
           |    FROM v$tag$i) WHERE rk = 1),
           |l$tag$i AS MATERIALIZED (
           |  SELECT l.node, COALESCE(p.label, l.label) AS label
           |  FROM $prev l LEFT JOIN p$tag$i p USING (node))""".stripMargin
      val baseRounds = (1 to 4)
        .map(i => round("b", i, s"lb${i - 1}", "eb")).mkString(",\n")
      val warmRounds = (1 to 2)
        .map(i => round("w", i, s"lw${i - 1}", "e")).mkString(",\n")
      s"""WITH $coSupplyPairCtes,
         |e AS MATERIALIZED (
         |  SELECT a AS src, b AS dst, w FROM p0
         |  UNION ALL
         |  SELECT b, a, w FROM p0),
         |lib AS (
         |  SELECT l.ok, l.sk FROM li l
         |  JOIN orders o ON l.ok = o.o_orderkey
         |  WHERE o.o_orderdate < TIMESTAMP '2001-06-01'),
         |p0b AS MATERIALIZED (
         |  SELECT x.sk AS a, y.sk AS b, CAST(count(*) AS BIGINT) AS w
         |  FROM lib x JOIN lib y ON x.ok = y.ok AND x.sk < y.sk
         |  GROUP BY 1, 2),
         |eb AS MATERIALIZED (
         |  SELECT a AS src, b AS dst, w FROM p0b
         |  UNION ALL
         |  SELECT b, a, w FROM p0b),
         |lb0 AS MATERIALIZED (
         |  SELECT DISTINCT src AS node, src AS label FROM eb),
         |$baseRounds,
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |lw0 AS MATERIALIZED (
         |  SELECT n.node, COALESCE(lb4.label, n.node) AS label
         |  FROM nodes n LEFT JOIN lb4 ON n.node = lb4.node),
         |$warmRounds,
         |wcan AS (
         |  SELECT label, min(node) AS community,
         |    CAST(count(*) AS BIGINT) AS n_members
         |  FROM lw2 GROUP BY 1)
         |SELECT w.node, wc.community, wc.n_members
         |FROM lw2 w JOIN wcan wc ON w.label = wc.label
         |ORDER BY w.node""".stripMargin
    }

  /** q_pagerank_decide oracle (also a q_daily_close stage): the
    * recurring warm refresh — 6 base rounds (the stored vector) + 3
    * warm rounds. */
  private def pagerankDecideSql: String = {
      def round_(name: String, prev: String, edges: String, deg: String) =
        s"""$name AS MATERIALIZED (
           |  SELECT e.dst AS node,
           |    CAST(150000 + sum((r.pr * 85) // (100 * d.deg)) AS BIGINT) AS pr
           |  FROM $edges e JOIN $prev r ON e.src = r.node
           |  JOIN $deg d ON e.src = d.src
           |  GROUP BY 1)""".stripMargin
      val baseRounds = (1 to 6)
        .map(i => round_(s"br$i", s"br${i - 1}", "be", "bdg")).mkString(",\n")
      val warmRounds = (1 to 3)
        .map(i => round_(s"w$i", s"w${i - 1}", "fe", "fdg")).mkString(",\n")
      s"""WITH b0 AS (
         |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
         |    's:' || CAST(l_suppkey AS VARCHAR) AS b
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |  WHERE o_orderdate < TIMESTAMP '2001-06-01'),
         |be AS (
         |  SELECT a AS src, b AS dst FROM b0
         |  UNION ALL SELECT b AS src, a AS dst FROM b0),
         |bdg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |        FROM be GROUP BY 1),
         |f0 AS (
         |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
         |    's:' || CAST(l_suppkey AS VARCHAR) AS b
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |fe AS (
         |  SELECT a AS src, b AS dst FROM f0
         |  UNION ALL SELECT b AS src, a AS dst FROM f0),
         |fdg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |        FROM fe GROUP BY 1),
         |br0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM bdg),
         |$baseRounds,
         |w0 AS (
         |  SELECT fdg.src AS node,
         |    CAST(coalesce(br6.pr, 1000000) AS BIGINT) AS pr
         |  FROM fdg LEFT JOIN br6 ON fdg.src = br6.node),
         |$warmRounds
         |SELECT w3.node AS node_id, w3.pr AS rank_micro, fdg.deg AS degree
         |FROM w3 JOIN fdg ON w3.node = fdg.src
         |ORDER BY rank_micro DESC, node_id ASC LIMIT 20""".stripMargin
    }

  /** The 8-round synchronous peel replay over the k-NN skeleton CTEs —
    * q_kcore and q_kcore_incr share this one definition (the refresh is
    * exact, so the peel over the refreshed skeleton replays identically;
    * the q_triangles_incr precedent). Round CTEs are MATERIALIZED: each
    * round references its predecessor three times, and default inlining
    * would expand the base scan 3^8 ways. */
  private lazy val kcoreOracle: Oracle = sql {
      def peel(i: Int) =
        s"""d$i AS MATERIALIZED (
           |  SELECT s.node, CAST(count(ei.dst) AS BIGINT) AS d
           |  FROM s${i - 1} s
           |  LEFT JOIN (
           |    SELECT e2.src, e2.dst FROM e2
           |    JOIN s${i - 1} x ON e2.src = x.node
           |    JOIN s${i - 1} y ON e2.dst = y.node) ei ON ei.src = s.node
           |  GROUP BY 1),
           |p$i AS (
           |  SELECT node, CAST($i AS BIGINT) AS peel_round FROM d$i
           |  WHERE d < 6),
           |s$i AS MATERIALIZED (SELECT node FROM d$i WHERE d >= 6)""".stripMargin
      s"""WITH $knnSkeletonCtes,
         |e2 AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM knn
         |  UNION ALL
         |  SELECT b, a FROM knn),
         |s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e2),
         |${(1 to 8).map(peel).mkString(",\n")}
         |SELECT node, false AS in_core, peel_round FROM (
         |  ${(1 to 8).map(i => s"SELECT node, peel_round FROM p$i")
             .mkString("\n  UNION ALL\n  ")})
         |UNION ALL
         |SELECT node, true AS in_core, CAST(NULL AS BIGINT) AS peel_round
         |FROM s8
         |ORDER BY node""".stripMargin
    }

  /** The full-skeleton replay — q_knn_graph, q_knn_graph_incr (the
    * refresh is exact, so the identical replay certifies it) and the
    * q_daily_close skeleton stage share this one definition. */
  private def knnSkeletonReplaySql: String =
    s"""WITH $knnSkeletonCtes
      |SELECT a AS src, b AS dst, w FROM knn
      |UNION ALL
      |SELECT b, a, w FROM knn
      |ORDER BY src, dst""".stripMargin
  private lazy val knnSkeletonOracle: Oracle = sql(knnSkeletonReplaySql)

  /** The per-node triangle census replay over the k-NN skeleton —
    * q_triangles and q_triangles_incr share it: the refresh is exact, so
    * the census over the refreshed skeleton equals the full one. */
  private lazy val trianglesOracle: Oracle =
    sql(s"""WITH $knnSkeletonCtes,
      |e AS MATERIALIZED (SELECT a, b FROM knn),
      |deg AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
      |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY 1),
      |tri AS (
      |  SELECT ab.a AS x, ab.b AS y, bc.b AS z
      |  FROM e ab JOIN e bc ON ab.b = bc.a
      |  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b),
      |pn AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
      |    SELECT x AS node FROM tri
      |    UNION ALL SELECT y FROM tri
      |    UNION ALL SELECT z FROM tri)
      |  GROUP BY 1)
      |SELECT d.node, d.degree, COALESCE(pn.n_tri, 0) AS n_tri,
      |  CASE WHEN d.degree >= 2
      |    THEN (2 * COALESCE(pn.n_tri, 0) * 1000000)
      |      // (d.degree * (d.degree - 1))
      |    ELSE 0 END AS lcc_micro
      |FROM deg d LEFT JOIN pn USING (node)
      |ORDER BY node""".stripMargin)

  /** [[twoBatchIngestCtes]] generalized to the day-axis close's THREE
    * batches (b1 unchanged; batch 2/3 split `documents % 3 = 0` at
    * `% 10 < 5`, each with an exact-replica tier of an EARLIER batch's
    * keeper slice so every keeper append is load-bearing): decide b1 vs
    * the corpus index, append keepers → decide b2a, append → decide
    * b3a. Yields dec_b1 / dec_b2a / dec_b3a. */
  private def threeBatchIngestCtes: String = {
    def decide(b: String, idxHash: String, idxBanded: String): String =
      ingestDecideCtes(b, idxHash, idxBanded)
    s"""c0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
       |b1_0 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents
       |  WHERE doc_id % 3 = 1 AND doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, substring(text, 1, greatest(length(text) - 30, 1))
       |  FROM documents WHERE doc_id % 3 = 1 AND doc_id % 20 = 5),
       |b2a_0 AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 = 0 AND doc_id % 10 < 5
       |  UNION ALL
       |  SELECT doc_id + 3000000, text FROM documents
       |  WHERE doc_id % 3 = 2 AND doc_id % 10 = 2),
       |b3a_0 AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 = 0 AND doc_id % 10 >= 5
       |  UNION ALL
       |  SELECT doc_id + 4000000, text FROM documents
       |  WHERE doc_id % 3 = 0 AND doc_id % 10 = 2),
       |${minhashSideCtes("c", "c0")},
       |${minhashSideCtes("b1", "b1_0")},
       |${minhashSideCtes("b2a", "b2a_0")},
       |${minhashSideCtes("b3a", "b3a_0")},
       |${decide("b1", "h_c", "banded_c")},
       |h_i1 AS (
       |  SELECT * FROM h_c
       |  UNION ALL
       |  SELECT h.* FROM h_b1 h JOIN dec_b1 d USING (doc_id)
       |  WHERE d.verdict = 'keep'),
       |banded_i1 AS (
       |  SELECT * FROM banded_c
       |  UNION ALL
       |  SELECT b.* FROM banded_b1 b JOIN dec_b1 d USING (doc_id)
       |  WHERE d.verdict = 'keep'),
       |${decide("b2a", "h_i1", "banded_i1")},
       |h_i2 AS (
       |  SELECT * FROM h_i1
       |  UNION ALL
       |  SELECT h.* FROM h_b2a h JOIN dec_b2a d USING (doc_id)
       |  WHERE d.verdict = 'keep'),
       |banded_i2 AS (
       |  SELECT * FROM banded_i1
       |  UNION ALL
       |  SELECT b.* FROM banded_b2a b JOIN dec_b2a d USING (doc_id)
       |  WHERE d.verdict = 'keep'),
       |${decide("b3a", "h_i2", "banded_i2")}""".stripMargin
  }

  /** q_daily_close2 oracle: BOTH days' five-stage chains replayed from
    * scratch — day 1 warm off the day-0 base state on the
    * [incrCut, midCut) delta, day 2 warm off day 1's post-warm vectors
    * / refreshed skeleton / keeper-appended index on the [midCut, ∞)
    * delta — so a green row certifies every cross-day handoff the Spark
    * side performs through persisted tables. Ingest reuses
    * [[twoBatchIngestCtes]]; the graph stages are the decide replays
    * parameterized by graph cut (base < incrCut, mid < midCut, full).
    */
  /** The two-day close-chain CTE soup, shared by [[dailyClose2Sql]] and
    * [[dailyClosePlainSql]] so the plain-day oracle can never replay a
    * different chain than the certified-day one: ingest (both batch
    * decides + the keeper-appended index), PageRank (base/mid/full
    * graphs, 6 base + 3+3 warm rounds), LPA (4 base + 2+2 warm rounds),
    * and the per-day k-NN skeletons. `withCensus` adds the per-day
    * triangle census CTEs — the structural certifier only the
    * certified-day close pays. */
  // ---- shared close-chain CTE string builders (dailyClose2Sql +
  // dailyClose3Sql derive from the SAME builders, so the two-day and
  // day-axis oracles can never replay different round arithmetic) ----
  private def prRoundCte(name: String, prev: String, edges: String,
      deg: String) =
    s"""$name AS MATERIALIZED (
       |  SELECT e.dst AS node,
       |    CAST(150000 + sum((r.pr * 85) // (100 * d.deg)) AS BIGINT) AS pr
       |  FROM $edges e JOIN $prev r ON e.src = r.node
       |  JOIN $deg d ON e.src = d.src
       |  GROUP BY 1)""".stripMargin
  private def tradeGraphCte(sfx: String, where: String) =
    s"""g0$sfx AS (
       |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
       |    's:' || CAST(l_suppkey AS VARCHAR) AS b
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey$where),
       |ge$sfx AS (
       |  SELECT a AS src, b AS dst FROM g0$sfx
       |  UNION ALL SELECT b AS src, a AS dst FROM g0$sfx),
       |gdg$sfx AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |  FROM ge$sfx GROUP BY 1)""".stripMargin
  private def warmSeedCte(name: String, deg: String, prevVec: String) =
    s"""$name AS (
       |  SELECT $deg.src AS node,
       |    CAST(coalesce($prevVec.pr, 1000000) AS BIGINT) AS pr
       |  FROM $deg LEFT JOIN $prevVec ON $deg.src = $prevVec.node)""".stripMargin
  private def top20Cte(name: String, vec: String, deg: String) =
    s"""$name AS (
       |  SELECT $vec.node AS node_id, $vec.pr AS rank_micro,
       |    $deg.deg AS degree
       |  FROM $vec JOIN $deg ON $vec.node = $deg.src
       |  ORDER BY rank_micro DESC, node_id ASC LIMIT 20)""".stripMargin
  private def lpaRoundCte(tag: String, i: Int, prev: String, edges: String) =
    s"""v$tag$i AS (
       |  SELECT e.dst AS node, l.label, CAST(sum(e.w) AS BIGINT) AS wsum
       |  FROM $edges e JOIN $prev l ON e.src = l.node GROUP BY 1, 2),
       |p$tag$i AS (
       |  SELECT node, label FROM (
       |    SELECT node, label, row_number() OVER (
       |      PARTITION BY node ORDER BY wsum DESC, label ASC) AS rk
       |    FROM v$tag$i) WHERE rk = 1),
       |l$tag$i AS MATERIALIZED (
       |  SELECT l.node, COALESCE(p.label, l.label) AS label
       |  FROM $prev l LEFT JOIN p$tag$i p USING (node))""".stripMargin
  private def cutPairsCte(sfx: String, cut: String) =
    s"""li$sfx AS (
       |  SELECT l.ok, l.sk FROM li l
       |  JOIN orders o ON l.ok = o.o_orderkey
       |  WHERE o.o_orderdate < TIMESTAMP '$cut'),
       |p0$sfx AS MATERIALIZED (
       |  SELECT x.sk AS a, y.sk AS b, CAST(count(*) AS BIGINT) AS w
       |  FROM li$sfx x JOIN li$sfx y ON x.ok = y.ok AND x.sk < y.sk
       |  GROUP BY 1, 2),
       |e$sfx AS MATERIALIZED (
       |  SELECT a AS src, b AS dst, w FROM p0$sfx
       |  UNION ALL SELECT b, a, w FROM p0$sfx)""".stripMargin
  private def warmLabelSeedCte(name: String, edges: String,
      prevVec: String) =
    s"""${name}_n AS (SELECT DISTINCT src AS node FROM $edges),
       |$name AS MATERIALIZED (
       |  SELECT n.node, COALESCE(v.label, n.node) AS label
       |  FROM ${name}_n n LEFT JOIN $prevVec v ON n.node = v.node)""".stripMargin
  private def lpaRollupCte(name: String, vec: String) =
    s"""${name}_c AS (
       |  SELECT label, min(node) AS community,
       |    CAST(count(*) AS BIGINT) AS n_members
       |  FROM $vec GROUP BY 1),
       |$name AS (
       |  SELECT v.node, c.community, c.n_members
       |  FROM $vec v JOIN ${name}_c c ON v.label = c.label)""".stripMargin
  private def knnFromCte(sfx: String, pairs: String) =
    s"""es$sfx AS (
       |  SELECT a AS src, b AS dst, w FROM $pairs
       |  UNION ALL SELECT b, a, w FROM $pairs),
       |knn$sfx AS MATERIALIZED (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |    max(w) AS w
       |  FROM (
       |    SELECT src, dst, w, row_number() OVER (PARTITION BY src
       |      ORDER BY w DESC, dst ASC) AS rk
       |    FROM es$sfx)
       |  WHERE rk <= 5 GROUP BY 1, 2),
       |skel$sfx AS MATERIALIZED (
       |  SELECT a AS src, b AS dst, w FROM knn$sfx
       |  UNION ALL SELECT b, a, w FROM knn$sfx)""".stripMargin
  private def censusFromCte(sfx: String) =
    s"""ce$sfx AS MATERIALIZED (
       |  SELECT src AS a, dst AS b FROM skel$sfx WHERE src < dst),
       |cdeg$sfx AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
       |    SELECT a AS node FROM ce$sfx UNION ALL SELECT b FROM ce$sfx)
       |  GROUP BY 1),
       |ctri$sfx AS (
       |  SELECT ab.a AS x, ab.b AS y, bc.b AS z
       |  FROM ce$sfx ab JOIN ce$sfx bc ON ab.b = bc.a
       |  JOIN ce$sfx ac ON ac.a = ab.a AND ac.b = bc.b),
       |cpn$sfx AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
       |    SELECT x AS node FROM ctri$sfx
       |    UNION ALL SELECT y FROM ctri$sfx
       |    UNION ALL SELECT z FROM ctri$sfx)
       |  GROUP BY 1),
       |census$sfx AS (
       |  SELECT d.node, d.degree, COALESCE(cp.n_tri, 0) AS n_tri,
       |    CASE WHEN d.degree >= 2
       |      THEN (2 * COALESCE(cp.n_tri, 0) * 1000000)
       |        // (d.degree * (d.degree - 1))
       |      ELSE 0 END AS lcc_micro
       |  FROM cdeg$sfx d LEFT JOIN cpn$sfx cp USING (node))""".stripMargin

  /** ONE tier-parameterized close-chain CTE assembly — the two-day
    * (q_daily_close2 / q_daily_close_plain) and day-axis
    * (q_daily_close3 / q_daily_close_cycle) oracles all derive from
    * this single fold over the cut list, so they replay identical
    * round arithmetic BY CONSTRUCTION (r14: the former
    * near-copy pair could have been edited apart). `tiers` are
    * (suffix, cutDate) with the LAST tier the full graph (cut = None);
    * warm chains seed from the previous tier's final vector (br6 /
    * lb4 for the first), top-20 faces are pr1..prN and rollups
    * lpa1..lpaN in tier order. */
  private def closeTierCtes(tiers: Seq[(String, Option[String])],
      ingestCtes: String, withBaseSkel: Boolean,
      censusSfxs: Seq[String]): String = {
    require(tiers.nonEmpty && tiers.last._2.isEmpty &&
      tiers.init.forall(_._2.nonEmpty),
      "tiers must be cut-bounded except a full-graph last tier")
    val prGraphs =
      tradeGraphCte("b", s" WHERE o_orderdate < TIMESTAMP '$incrCut'") +:
        tiers.map { case (sfx, cut) =>
          tradeGraphCte(sfx,
            cut.map(c => s" WHERE o_orderdate < TIMESTAMP '$c'")
              .getOrElse(""))
        }
    val prBase = Seq(
      "br0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM gdgb)",
      (1 to 6).map(i => prRoundCte(s"br$i", s"br${i - 1}", "geb", "gdgb"))
        .mkString(",\n"))
    val prWarm = tiers.zipWithIndex.map { case ((sfx, _), i) =>
      val prev = if (i == 0) "br6" else s"${tiers(i - 1)._1}w3"
      Seq(warmSeedCte(s"${sfx}w0", s"gdg$sfx", prev),
        (1 to 3).map(j =>
          prRoundCte(s"${sfx}w$j", s"${sfx}w${j - 1}", s"ge$sfx",
            s"gdg$sfx")).mkString(",\n")).mkString(",\n")
    }
    val prTops = tiers.zipWithIndex.map { case ((sfx, _), i) =>
      top20Cte(s"pr${i + 1}", s"${sfx}w3", s"gdg$sfx")
    }
    val prCtes = (prGraphs ++ prBase ++ prWarm ++ prTops).mkString(",\n")
    val lpaPairs = cutPairsCte("cb", incrCut) +: tiers.collect {
      case (sfx, Some(cut)) => cutPairsCte(s"c$sfx", cut)
    }
    val lpaFullEdges =
      """ecf AS MATERIALIZED (
        |  SELECT a AS src, b AS dst, w FROM p0
        |  UNION ALL SELECT b, a, w FROM p0)""".stripMargin
    val lpaBase = Seq(
      "lb0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM ecb)",
      (1 to 4).map(i => lpaRoundCte("b", i, s"lb${i - 1}", "ecb"))
        .mkString(",\n"))
    val lpaWarm = tiers.zipWithIndex.map { case ((sfx, _), i) =>
      val prev = if (i == 0) "lb4" else s"l${tiers(i - 1)._1}2"
      Seq(warmLabelSeedCte(s"l${sfx}0", s"ec$sfx", prev),
        (1 to 2).map(j => lpaRoundCte(sfx, j, s"l$sfx${j - 1}", s"ec$sfx"))
          .mkString(",\n")).mkString(",\n")
    }
    val lpaRollups = tiers.zipWithIndex.map { case ((sfx, _), i) =>
      lpaRollupCte(s"lpa${i + 1}", s"l${sfx}2")
    }
    val lpaCtes = (lpaPairs ++ Seq(lpaFullEdges) ++ lpaBase ++ lpaWarm ++
      lpaRollups).mkString(",\n")
    val skelPairs = (if (withBaseSkel) Seq("b" -> "p0cb") else Nil) ++
      tiers.map { case (sfx, cut) =>
        sfx -> (if (cut.isEmpty) "p0" else s"p0c$sfx")
      }
    val skelCtes = (skelPairs.map { case (sfx, p) => knnFromCte(sfx, p) } ++
      censusSfxs.map(censusFromCte)).mkString(",\n")
    s"""$ingestCtes,
       |$prCtes,
       |$coSupplyPairCtes,
       |$lpaCtes,
       |$skelCtes""".stripMargin
  }

  private val twoDayTiers: Seq[(String, Option[String])] =
    Seq("m" -> Some(midCut), "f" -> None)
  private val dayAxisTiers: Seq[(String, Option[String])] =
    Seq("m" -> Some(midCut), "t" -> Some(cut3), "f" -> None)

  private def closeChainCtes(withCensus: Boolean): String =
    closeTierCtes(twoDayTiers, twoBatchIngestCtes, withBaseSkel = false,
      censusSfxs = if (withCensus) Seq("m", "f") else Nil)

  private def close3CtesBody(withBaseSkel: Boolean,
      censusSfxs: Seq[String]): String =
    closeTierCtes(dayAxisTiers, threeBatchIngestCtes, withBaseSkel,
      censusSfxs)

  private def dailyClose2Sql: String = {
    def arm(stage: String, src: String, partExpr: String,
        cols: Seq[String]) = stageDigestSql(stage, src, partExpr, cols)
    s"""WITH ${closeChainCtes(withCensus = true)}
       |${arm("d1_ingest", "dec_b1", "doc_id % 8",
           Seq("doc_id", "verdict", "matched_id"))}
       |UNION ALL
       |${arm("d1_pagerank", "pr1", "substring(node_id, 1, 1)",
           Seq("node_id", "rank_micro", "degree"))}
       |UNION ALL
       |${arm("d1_communities", "lpa1", "node % 8",
           Seq("node", "community", "n_members"))}
       |UNION ALL
       |${arm("d1_skeleton", "skelm", "src % 8", Seq("src", "dst", "w"))}
       |UNION ALL
       |${arm("d1_census", "censusm", "node % 8",
           Seq("node", "degree", "n_tri", "lcc_micro"))}
       |UNION ALL
       |${arm("d2_ingest", "dec_b2", "doc_id % 8",
           Seq("doc_id", "verdict", "matched_id"))}
       |UNION ALL
       |${arm("d2_pagerank", "pr2", "substring(node_id, 1, 1)",
           Seq("node_id", "rank_micro", "degree"))}
       |UNION ALL
       |${arm("d2_communities", "lpa2", "node % 8",
           Seq("node", "community", "n_members"))}
       |UNION ALL
       |${arm("d2_skeleton", "skelf", "src % 8", Seq("src", "dst", "w"))}
       |UNION ALL
       |${arm("d2_census", "censusf", "node % 8",
           Seq("node", "degree", "n_tri", "lcc_micro"))}
       |ORDER BY stage, part""".stripMargin
  }

  /** q_daily_close_plain oracle: the day-2 chain replayed from scratch
    * over [[closeChainCtes]] (census CTEs omitted — the plain day does
    * not pay the structural certifier), with the four refresh digests
    * plus the four STORED-state digests — each stored table's digest is
    * replayed from its scratch derivation (dec_b1 / mw3 / lm2 / skelm),
    * making every `*_stored` row a state-equals-derivation certificate
    * over the day-1 close outputs the plain day read. */
  private def dailyClosePlainSql: String = {
    def arm(stage: String, src: String, partExpr: String,
        cols: Seq[String]) = stageDigestSql(stage, src, partExpr, cols)
    s"""WITH ${closeChainCtes(withCensus = false)}
       |${arm("communities", "lpa2", "node % 8",
           Seq("node", "community", "n_members"))}
       |UNION ALL
       |${arm("communities_stored", "lm2", "node % 8",
           Seq("node", "label"))}
       |UNION ALL
       |${arm("ingest", "dec_b2", "doc_id % 8",
           Seq("doc_id", "verdict", "matched_id"))}
       |UNION ALL
       |${arm("ingest_stored", "dec_b1", "doc_id % 8",
           Seq("doc_id", "verdict", "matched_id"))}
       |UNION ALL
       |${arm("pagerank", "pr2", "substring(node_id, 1, 1)",
           Seq("node_id", "rank_micro", "degree"))}
       |UNION ALL
       |${arm("pagerank_stored", "mw3", "substring(node, 1, 1)",
           Seq("node", "pr"))}
       |UNION ALL
       |${arm("skeleton", "skelf", "src % 8", Seq("src", "dst", "w"))}
       |UNION ALL
       |${arm("skeleton_stored", "skelm", "src % 8",
           Seq("src", "dst", "w"))}
       |ORDER BY stage, part""".stripMargin
  }

  private def dailyClose3Sql: String = {
    def arm(stage: String, src: String, partExpr: String,
        cols: Seq[String]) = stageDigestSql(stage, src, partExpr, cols)
    def day(i: Int, dec: String, pr: String, lpa: String, skel: String,
        cen: String) = Seq(
      arm(s"d${i}_ingest", dec, "doc_id % 8",
        Seq("doc_id", "verdict", "matched_id")),
      arm(s"d${i}_pagerank", pr, "substring(node_id, 1, 1)",
        Seq("node_id", "rank_micro", "degree")),
      arm(s"d${i}_communities", lpa, "node % 8",
        Seq("node", "community", "n_members")),
      arm(s"d${i}_skeleton", skel, "src % 8", Seq("src", "dst", "w")),
      arm(s"d${i}_census", cen, "node % 8",
        Seq("node", "degree", "n_tri", "lcc_micro"))).mkString("\nUNION ALL\n")
    s"""WITH ${close3CtesBody(withBaseSkel = false, censusSfxs = Seq("m", "t", "f"))}
       |${day(1, "dec_b1", "pr1", "lpa1", "skelm", "censusm")}
       |UNION ALL
       |${day(2, "dec_b2a", "pr2", "lpa2", "skelt", "censust")}
       |UNION ALL
       |${day(3, "dec_b3a", "pr3", "lpa3", "skelf", "censusf")}
       |ORDER BY stage, part""".stripMargin
  }

  /** q_daily_close_cycle oracle: the day-axis chain over
    * [[close3CtesBody]] with the BASE skeleton added (day-1's stored
    * digest) and census on day 3 only — days 1/2 replay the plain arm
    * (refreshes + the stored graph states FROM their scratch
    * derivations: br6/lb4/skelb for day 1, mw3/lm2/skelm for day 2),
    * day 3 the certified close. 19 digest arms. */
  private def dailyCloseCycleSql: String = {
    def arm(stage: String, src: String, partExpr: String,
        cols: Seq[String]) = stageDigestSql(stage, src, partExpr, cols)
    def refresh(i: Int, dec: String, pr: String, lpa: String,
        skel: String) = Seq(
      arm(s"d${i}_ingest", dec, "doc_id % 8",
        Seq("doc_id", "verdict", "matched_id")),
      arm(s"d${i}_pagerank", pr, "substring(node_id, 1, 1)",
        Seq("node_id", "rank_micro", "degree")),
      arm(s"d${i}_communities", lpa, "node % 8",
        Seq("node", "community", "n_members")),
      arm(s"d${i}_skeleton", skel, "src % 8", Seq("src", "dst", "w")))
      .mkString("\nUNION ALL\n")
    def stored(i: Int, vec: String, labels: String, skel: String) = Seq(
      arm(s"d${i}_pagerank_stored", vec, "substring(node, 1, 1)",
        Seq("node", "pr")),
      arm(s"d${i}_communities_stored", labels, "node % 8",
        Seq("node", "label")),
      arm(s"d${i}_skeleton_stored", skel, "src % 8",
        Seq("src", "dst", "w"))).mkString("\nUNION ALL\n")
    s"""WITH ${close3CtesBody(withBaseSkel = true, censusSfxs = Seq("f"))}
       |${refresh(1, "dec_b1", "pr1", "lpa1", "skelm")}
       |UNION ALL
       |${stored(1, "br6", "lb4", "skelb")}
       |UNION ALL
       |${refresh(2, "dec_b2a", "pr2", "lpa2", "skelt")}
       |UNION ALL
       |${stored(2, "mw3", "lm2", "skelm")}
       |UNION ALL
       |${refresh(3, "dec_b3a", "pr3", "lpa3", "skelf")}
       |UNION ALL
       |${arm("d3_census", "censusf", "node % 8",
           Seq("node", "degree", "n_tri", "lcc_micro"))}
       |ORDER BY stage, part""".stripMargin
  }

  /** q_ann_lsh oracle: the deterministic hyperplane literals are inlined so
    * DuckDB computes the identical sign buckets.
    */
  /** q_ann_ndcg oracle: brute ideal + the IVF search ranking (the
    * q_ann_ivf CTE chain at nprobe=2, k=10), driver-inlined integer
    * discount weights, and the same exact integer DCG/IDCG arithmetic.
    */
  /** The co-supply projection CTEs shared by every graph-family oracle
    * (q_communities / q_triangles / q_kcore): `li` and the weighted
    * unique-pair frame `p0` (a < b). MATERIALIZED: p0 is referenced
    * twice by every symmetrizing consumer. One definition so the family
    * can never drift from Graph.coSupplyEdges' shape.
    */
  private def coSupplyPairCtes: String =
    """li AS (SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
      |p0 AS MATERIALIZED (
      |  SELECT x.sk AS a, y.sk AS b, CAST(count(*) AS BIGINT) AS w
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk
      |  GROUP BY 1, 2)""".stripMargin

  /** [[coSupplyPairCtes]] + the k-NN skeleton: symmetric weighted edges
    * `es` and the per-node top-5 union-keep unique pairs `knn` —
    * Graph.knnSparsify's replay, shared by q_triangles and q_kcore.
    */
  private def knnSkeletonCtes: String =
    s"""$coSupplyPairCtes,
       |es AS (
       |  SELECT a AS src, b AS dst, w FROM p0
       |  UNION ALL
       |  SELECT b, a, w FROM p0),
       |knn AS MATERIALIZED (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |    max(w) AS w
       |  FROM (
       |    SELECT src, dst, w,
       |      row_number() OVER (PARTITION BY src
       |        ORDER BY w DESC, dst ASC) AS rk
       |    FROM es)
       |  WHERE rk <= 5
       |  GROUP BY 1, 2)""".stripMargin
}
