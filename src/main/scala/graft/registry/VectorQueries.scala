package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.registry.OracleSql._
import graft.registry.Query.sql
import graft.operators.Similarity

/** Vector and similarity queries: embedding dedup, ANN search (brute force, LSH,
  * IVF, PQ, JL), PCA, k-center and their audits. */
private[graft] object VectorQueries {

  val all: Seq[Query] = Seq(
    // §2.19 — embedding-cosine near-dup pairs, blocked by IVF quantizer
    // cell (multi-probe). The oracle is blocking-free all-pairs truth, so
    // the hash check also certifies the blocking lost no pair.
    Query("q_embed_neardup", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val corpus = e.unionByName(
        e.where(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label")))
      val centroids = graft.operators.Ivf.train(
        e.where(col("vec_id") % 5 === 0), k = 16, iters = 2)
      Similarity.nearDupPairs(corpus, minCosine = 0.95, centroids, nprobe = 2)
    },
      // blocking-free ground truth: every pair, no bucket key — the Spark
      // side must find exactly these through its cell blocking
      sql("""WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0)
        |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
        |  round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 4) AS sim_r
        |FROM corpus x JOIN corpus y ON x.vec_id < y.vec_id
        |WHERE list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])) >= 0.95""".stripMargin)),

    // §2.19d — semantic dedup (SemDeDup): cell-blocked drop-list keeping
    // the lowest-id representative per near-duplicate group. Same planted
    // corpus and quantizer as q_embed_neardup; the oracle replays the
    // entire pipeline (training unrolled) in SQL.
    Query("q_semdedup", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val corpus = e.unionByName(
        e.where(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label")))
      val centroids = graft.operators.Ivf.train(
        e.where(col("vec_id") % 5 === 0), k = 16, iters = 2)
      Similarity.semDedup(corpus, centroids, minCosine = 0.95)
    },
      sql(semDedupOracle)),

    // §2.19f — incremental SEMANTIC ingest dedup (the embedding twin of
    // q_dedup_ingest): two vector batches decided tier-by-tier against a
    // persisted cell-assigned index — bitwise-exact vs index, cosine
    // near vs probed cells, exact/near within batch — keepers appending
    // between batches; the quantizer is never retrained. Planted rows
    // exercise every tier: exact copies of index vectors (%30==0),
    // 1.01-scaled near copies (%30==6), within-batch exact (%30==7) and
    // scaled (%30==13) copies of b1 docs, and a b2 copy of a b1 keeper
    // (%30==1) that must resolve exact_index via the append.
    Query("q_semdedup_ingest", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val centroids = graft.operators.Ivf.train(
        e.where(col("vec_id") % 5 === 0), k = 16, iters = 2)
      val scale = (c: org.apache.spark.sql.Column) =>
        transform(c, v => (v.cast("double") * lit(1.01)).cast("float"))
      val index0 = e.where(col("vec_id") % 3 === 0)
        .select(col("vec_id"), col("embedding"))
      val b1 = e.where(col("vec_id") % 3 === 1)
        .select(col("vec_id"), col("embedding"))
        .unionByName(e.where(col("vec_id") % 30 === 0)
          .select((col("vec_id") + 500000L).as("vec_id"), col("embedding")))
        .unionByName(e.where(col("vec_id") % 30 === 6)
          .select((col("vec_id") + 600000L).as("vec_id"),
            scale(col("embedding")).as("embedding")))
        .unionByName(e.where(col("vec_id") % 30 === 7)
          .select((col("vec_id") + 800000L).as("vec_id"), col("embedding")))
        .unionByName(e.where(col("vec_id") % 30 === 13)
          .select((col("vec_id") + 900000L).as("vec_id"),
            scale(col("embedding")).as("embedding")))
      val b2 = e.where(col("vec_id") % 3 === 2)
        .select(col("vec_id"), col("embedding"))
        .unionByName(e.where(col("vec_id") % 30 === 1)
          .select((col("vec_id") + 700000L).as("vec_id"), col("embedding")))
      Similarity.semIngestChain(index0, Seq(b1, b2), centroids,
        minCosine = 0.95, nprobe = 2)
    },
      sql(semIngestSql)),

    // §2.19b — per-label centroid embeddings (classifier prototypes):
    // exact-decimal means, reproducible across layouts. The array column
    // itself is not hashed portably by the oracle compare, so the query emits the
    // centroid's rounded first component + norm alongside the counts.
    Query("q_label_centroids", (s, dir) =>
      Similarity.groupCentroids(Tables.embeddings(s, dir), "label")
        .select(col("label"), col("n_vectors"),
          round(element_at(col("centroid"), 1).cast("double"), 6).as("c0_r"),
          round(sqrt(org.apache.spark.sql.graftnative.FloatVecDot.fdot(
            col("centroid"), col("centroid"))), 6).as("norm_r")),
      sql("""WITH m AS (
        |  SELECT label, r.i AS pos,
        |    CAST(CAST(sum(CAST(embedding[CAST(r.i AS INTEGER)] AS DECIMAL(20,10))) AS DOUBLE)
        |      / count(*) AS FLOAT) AS m,
        |    count(*) AS n
        |  FROM embeddings CROSS JOIN range(1, 65) r(i)
        |  GROUP BY label, r.i),
        |c AS (
        |  SELECT label, list(CAST(m AS DOUBLE) ORDER BY pos ASC) AS centroid,
        |    min(n) AS n_vectors
        |  FROM m GROUP BY label)
        |SELECT label, n_vectors,
        |  round(centroid[1], 6) AS c0_r,
        |  round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(centroid, x -> x * x)), (acc, x) -> acc + x)), 6) AS norm_r
        |FROM c""".stripMargin)),

    // §2.19c — embedding-column quality gate: NULL / wrong-dim /
    // non-finite / zero-norm counts per label, one aggregate scan
    Query("q_embed_quality", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      // plant defects deterministically: one NULL, one truncated, one
      // zeroed vector
      val corrupted = e.select(col("vec_id"), col("label"),
        when(col("vec_id") === 3, lit(null).cast("array<float>"))
          .when(col("vec_id") === 7, slice(col("embedding"), 1, 10))
          .when(col("vec_id") === 11,
            expr("transform(embedding, x -> CAST(0.0 AS FLOAT))"))
          .otherwise(col("embedding")).as("embedding"))
      Similarity.embeddingQuality(corrupted, "label", dim = 64)
    },
      sql("""WITH corrupted AS (
        |  SELECT vec_id, label,
        |    CASE WHEN vec_id = 3 THEN NULL
        |         WHEN vec_id = 7 THEN embedding[1:10]
        |         WHEN vec_id = 11 THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
        |         ELSE embedding END AS embedding
        |  FROM embeddings)
        |SELECT label, count(*) AS n_rows,
        |  count(*) FILTER (WHERE embedding IS NULL) AS n_null,
        |  count(*) FILTER (WHERE embedding IS NOT NULL AND len(embedding) <> 64) AS n_wrong_dim,
        |  count(*) FILTER (WHERE len(list_filter(embedding, x -> isnan(x) OR isinf(x))) > 0) AS n_nonfinite,
        |  count(*) FILTER (WHERE embedding IS NOT NULL AND
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (acc, x) -> acc + x) = 0) AS n_zero_norm
        |FROM corrupted GROUP BY label""".stripMargin)),

    // §2.19e — STAGED semantic dedup: exact-collapse on the embedding
    // value, then the cell-blocked drop rule on representatives only —
    // the §4.1-mandated ordering as a registered query, with a reason
    // column separating exact from semantic drops.
    Query("q_semdedup_staged", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val corpus = e.unionByName(
        e.where(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label")))
        .select(col("vec_id"), col("embedding"))
      val centroids = graft.operators.Ivf.train(
        e.where(col("vec_id") % 5 === 0), k = 16, iters = 2)
      Similarity.semDedupStaged(corpus, centroids, minCosine = 0.95)
    },
      sql(semDedupStagedOracle)),

    // §2.20 — brute-force cosine top-k ANN baseline
    Query("q_ann_topk", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(e.where(col("vec_id") < 8), e, k = 5)
    },
      annTopKOracle),

    // §2.21q — top principal component by power iteration (the
    // training-side linear algebra of the embedding family): 6
    // iterations of v <- A'Av from the fixed uniform start, every step
    // order-proof by per-component integer quantization (nano-unit
    // per-row dots, micro-unit update sums, 6-dp iterates) — the
    // quantization IS the definition, so both engines replay
    // bit-for-bit; Rayleigh eigenvalue + variance share vs the exact
    // quantized trace ride on every component row
    Query("q_pca", (s, dir) =>
      Similarity.pcaPower(Tables.embeddings(s, dir), dim = 64, iters = 6),
      // 6 unrolled power-iteration blocks: nano-quantized per-component
      // dot terms (exact integer row dots — NO cross-engine float-sum
      // trust anywhere), micro-quantized update sums, 6-dp iterates; the
      // same Rayleigh/trace integer arithmetic
      sql {
        val dim = 64
        def iter(t: Int) =
          s"""d$t AS (
             |  SELECT e.vec_id,
             |    CAST(list_sum(list_transform(range(1, ${dim + 1}),
             |      i -> CAST(floor(CAST(e.embedding[i] AS DOUBLE)
             |        * vl.vl[i] * 1000000000.0 + 0.5) AS BIGINT)))
             |      AS BIGINT) AS dn
             |  FROM base e CROSS JOIN vlist${t - 1} vl),
             |u$t AS (
             |  SELECT g.j,
             |    CAST(sum(CAST(floor(CAST(e.embedding[g.j + 1] AS DOUBLE)
             |      * (CAST(d.dn AS DOUBLE) / 1000000000.0) * 1000000.0 + 0.5)
             |      AS BIGINT)) AS BIGINT) AS u
             |  FROM base e JOIN d$t d ON e.vec_id = d.vec_id,
             |    range(0, $dim) AS g(j)
             |  GROUP BY g.j),
             |nrm$t AS (SELECT sqrt(CAST(sum(CAST(u AS HUGEINT) * u) AS DOUBLE))
             |    AS nm FROM u$t),
             |v$t AS (SELECT j,
             |    floor(CAST(u AS DOUBLE) / nm * 1000000.0 + 0.5) / 1000000.0
             |      AS val
             |  FROM u$t CROSS JOIN nrm$t),
             |vlist$t AS (SELECT list(val ORDER BY j) AS vl FROM v$t)""".stripMargin
        s"""WITH base AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  WHERE embedding IS NOT NULL AND len(embedding) = $dim),
           |tr AS (
           |  SELECT CAST(coalesce(sum(ssq), 0) AS BIGINT) AS trace_micro,
           |    CAST(count(*) AS BIGINT) AS n_vectors
           |  FROM (SELECT CAST(list_sum(list_transform(range(1, ${dim + 1}),
           |      i -> CAST(floor(CAST(embedding[i] AS DOUBLE)
           |        * CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5)
           |        AS BIGINT))) AS BIGINT) AS ssq FROM base)),
           |v0 AS (SELECT CAST(g.j AS BIGINT) AS j,
           |    CAST(0.125 AS DOUBLE) AS val
           |  FROM range(0, $dim) AS g(j)),
           |vlist0 AS (SELECT list(val ORDER BY j) AS vl FROM v0),
           |${(1 to 6).map(iter).mkString(",\n")},
           |p6 AS (SELECT j,
           |    CAST(floor(CAST(u AS DOUBLE) / nm * 1000000.0 + 0.5) AS BIGINT)
           |      AS p, u
           |  FROM u6 CROSS JOIN nrm6),
           |eig AS (SELECT CAST(sum(CAST(p AS HUGEINT) * u) // 1000000
           |    AS BIGINT) AS eig_micro FROM p6)
           |SELECT p6.j, CAST(p6.p AS DOUBLE) / 1000000.0 AS loading_r6,
           |  p6.u AS u_micro, eig.eig_micro,
           |  CASE WHEN tr.trace_micro > 0
           |    THEN CAST((CAST(eig.eig_micro AS HUGEINT) * 10000)
           |      // tr.trace_micro AS BIGINT) ELSE 0 END AS var_share_bp,
           |  tr.n_vectors
           |FROM p6 CROSS JOIN eig CROSS JOIN tr ORDER BY p6.j""".stripMargin
      }),

    // §2.21m2 — top-2 principal components by deflation (r15):
    // after component 1, every row sheds its
    // projection onto the QUANTIZED loading (nano-dot coefficient, one
    // IEEE multiply+subtract per coordinate — the deflated corpus
    // replays bit-for-bit), then the identical quantized iteration runs
    // again; per-component variance share of TOTAL variance plus the
    // exact-integer orthogonality certificate ride on every row
    Query("q_pca_topr", (s, dir) =>
      Similarity.pcaTopR(Tables.embeddings(s, dir), dim = 64, iters = 6,
        r = 2),
      // the q_pca iteration blocks replayed PER COMPONENT over a deflated
      // base: the nano-dot projection coefficient + one IEEE
      // multiply/subtract per coordinate rebuild base2 bit-identically,
      // then the identical six unrolled rounds run on it; the exact
      // HUGEINT loading-pair dot replays the orthogonality certificate
      sql {
        s"""WITH $pcaTwoComponentCtes,
           |ortho AS (
           |  SELECT CAST(abs(sum(CAST(a.p AS HUGEINT) * b.p)) AS BIGINT)
           |    AS ortho_max_e12
           |  FROM p1 a JOIN p2 b ON a.j = b.j)
           |SELECT c.component, c.j, c.loading_r6, c.u_micro, c.eig_micro,
           |  c.var_share_bp, o.ortho_max_e12, tr.n_vectors
           |FROM (SELECT * FROM comp1 UNION ALL SELECT * FROM comp2) c
           |CROSS JOIN ortho o CROSS JOIN tr
           |ORDER BY c.component, c.j""".stripMargin
      }),

    // §2.21m3 — the whitening TRANSFORM the decomposition informs (r15):
    // per vector the exact nano-dot onto each quantized top-2 loading,
    // scaled to unit variance by sqrt(n·1e6/eig) in one IEEE chain on
    // exact integer inputs — whitened coords a trainer dedups/filters/
    // bins on with every direction equally weighted; derivation scans
    // bounded, the transform itself ONE corpus scan with plan-literal
    // vectors (no shuffle, no state)
    Query("q_whiten", (s, dir) =>
      Similarity.pcaWhiten(Tables.embeddings(s, dir), dim = 64, iters = 6,
        r = 2),
      // the SAME two-component chain, read as the whitening transform:
      // per vector the exact nano-dot onto each quantized loading, scaled
      // by sqrt(n·1e6/eig) in one IEEE chain on exact integer inputs
      sql {
        def w(c: Int) =
          s"""CASE WHEN e$c.eig_micro > 0 THEN
             |    CAST(floor(CAST(wd.dn$c AS DOUBLE) / 1000000000.0
             |      * sqrt(CAST(tr.n_vectors AS DOUBLE) * 1000000.0
             |        / CAST(e$c.eig_micro AS DOUBLE))
             |      * 1000000.0 + 0.5) AS BIGINT) END AS w${c}_micro""".stripMargin
        s"""WITH $pcaTwoComponentCtes,
           |wd AS (
           |  SELECT e.vec_id,
           |    CAST(list_sum(list_transform(range(1, 65),
           |      i -> CAST(floor(e.xd[i] * p1l.vl[i] * 1000000000.0 + 0.5)
           |        AS BIGINT))) AS BIGINT) AS dn1,
           |    CAST(list_sum(list_transform(range(1, 65),
           |      i -> CAST(floor(e.xd[i] * p2l.vl[i] * 1000000000.0 + 0.5)
           |        AS BIGINT))) AS BIGINT) AS dn2
           |  FROM base1 e CROSS JOIN plist1 p1l CROSS JOIN plist2 p2l)
           |SELECT wd.vec_id, wd.dn1 AS c1_nano, wd.dn2 AS c2_nano,
           |  ${w(1)},
           |  ${w(2)}
           |FROM wd CROSS JOIN eig1 e1 CROSS JOIN eig2 e2 CROSS JOIN tr
           |ORDER BY wd.vec_id""".stripMargin
      }),

    // §2.21h — JL sign random projection: 64 -> 8 dims as 8 native fdot
    // columns against plan-literal sign vectors derived from the portable
    // fold; scan-speed, zero shuffle, engine-replayable
    Query("q_jl_project", (s, dir) => {
      val r4 = (c: org.apache.spark.sql.Column) => floor(c * 10000.0 + 0.5) / 10000.0
      Tables.embeddings(s, dir).select(
        col("vec_id") +:
          graft.functions.Vectors.jlProject(col("embedding"), dim = 64, k = 8)
            .zipWithIndex.map { case (c, j) => r4(c).as(s"r_$j") }: _*)
    },
      sql(jlOracle)),

    // §2.21b2 — multi-probe sign-LSH: queries also probe all Hamming-1
    // buckets (9 probe rows per query, candidate side untouched) — the
    // recall fix for near-boundary vectors
    Query("q_ann_lsh_mp", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.lshMultiProbeTopK(e.where(col("vec_id") < 8), e, k = 5,
        nPlanes = 8, dim = 64)
    },
      sql(annLshMpOracle)),

    // §2.21i — JL-prefiltered ANN: approximate L2 in the 8-dim projected
    // space prunes to k*4 survivors, exact cosine reranks — the
    // dim-reduction analog of the int8 prefilter
    Query("q_ann_jl", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.jlTopK(e.where(col("vec_id") < 8), e, k = 5,
        prefilter = 4, dim = 64, kProj = 8)
    },
      sql(annJlOracle)),

    // §2.21g — hard-negative mining: top-5 most-similar DIFFERENT-label
    // candidates per query (contrastive-training negatives); ANN-scan
    // plan with a label filter on the candidate side
    Query("q_hard_negatives", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.hardNegatives(e.where(col("vec_id") < 8), e, k = 5)
    },
      sql("""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
        |  FROM embeddings WHERE vec_id < 8),
        |sims AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings c, q
        |  WHERE c.vec_id <> q.query_id AND c.label <> q.q_label),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
        |  FROM sims)
        |SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim_r
        |FROM ranked WHERE rank <= 5""".stripMargin)),

    // §2.21 — LSH sign-bucketed ANN (scale path)
    Query("q_ann_lsh", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.lshTopK(e.where(col("vec_id") < 8), e, k = 5, nPlanes = 8, dim = 64)
    },
      sql(annLshOracle)),

    // §2.21o — nDCG audit of the IVF search (nprobe=2) vs the brute-force
    // ideal: position-discounted ranking quality in exact integer
    // micro-units (the ORDER member of the calibration family; 21l's
    // recall is membership) — composes with any registered searcher
    Query("q_ann_ndcg", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val qs = e.where(col("vec_id") < 8)
      val centroids = graft.operators.Ivf.train(
        e.where(col("vec_id") % 5 === 0), k = 16, iters = 2)
      Similarity.ndcgAudit(qs, e, k = 10,
        graft.operators.Ivf.search(qs, e, centroids, nprobe = 2, topK = 10))
    },
      sql(annNdcgOracle)),

    // §2.21p — MRR + recall@k over the SAME searcher as q_ann_ndcg
    // (shared oracle CTEs): reciprocal rank of the first ideal-top-k
    // member in the approx ranking, 10^6 DIV first_hit_rank exact
    Query("q_ann_mrr", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val qs = e.where(col("vec_id") < 8)
      val centroids = graft.operators.Ivf.train(
        e.where(col("vec_id") % 5 === 0), k = 16, iters = 2)
      Similarity.mrrAudit(qs, e, k = 10,
        graft.operators.Ivf.search(qs, e, centroids, nprobe = 2, topK = 10))
    },
      sql(annMrrOracle)),

    // §2.21k — sign-LSH calibration twin: measured bucket-collision rate
    // per exact-cosine tier over q_ann_lsh's real buckets + the
    // theoretical (1-acos(c)/pi)^8 rate as a plan literal — the recall
    // trust contract for the bucket join, the cosine analog of
    // q_minhash_calibration / q_simhash_calibration
    Query("q_lsh_calibration", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.lshCalibration(e.where(col("vec_id") < 8), e,
        nPlanes = 8, dim = 64)
    },
      sql(lshCalibrationOracle)),

    // §2.21c — int8-quantized ANN: 4x-smaller candidate codes ranked by
    // exact integer dot, fp32 touched only for the k*prefilter survivors,
    // exact re-rank. The oracle is the BRUTE-FORCE result: the check
    // enforces that the quantized prefilter lost no true top-k member.
    Query("q_ann_int8", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.int8TopK(e.where(col("vec_id") < 8), e, k = 5, prefilter = 4)
    },
      // identical to q_ann_topk's oracle: the int8 prefilter must be lossless
      annTopKOracle),

    // §2.21b — IVF ANN: deterministic coarse k-means cells, nprobe search.
    // Cell assignment is a native no-shuffle projection (NearestCells);
    // the oracle unrolls the same deterministic training into DuckDB SQL.
    Query("q_ann_ivf", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      // train the coarse quantizer on a deterministic 1/5 sample — at scale
      // the quantizer never sees the full corpus
      val centroids = graft.operators.Ivf.train(
        e.where(col("vec_id") % 5 === 0), k = 16, iters = 2)
      graft.operators.Ivf.search(e.where(col("vec_id") < 8), e, centroids,
        nprobe = 2, topK = 5)
    },
      sql(annIvfOracle)),

    // §2.21m — greedy k-center coreset (farthest-point traversal,
    // Gonzalez 2-approx): the k most mutually distant exemplars + the
    // selection radius curve + per-center assignment counts — diversity
    // subset selection before labeling/distillation/eval construction.
    // k bounded driver round-trips of ONE row each; distances are the
    // native ascending-index double fold, so the whole greedy replays
    Query("q_kcenter", (s, dir) =>
      graft.operators.Coreset.kCenter(Tables.embeddings(s, dir), k = 8),
      sql(kcenterOracle)),

    // §2.21n — the k-center ACCEPTANCE row: coverage of the whole corpus
    // at the final selection radius (+1e-4 of the 4-dp grid) — the
    // Gonzalez guarantee makes covered_bp = 10000 structural, and the
    // oracle re-derives it from scratch, so the hash gate re-proves the
    // guarantee every run
    Query("q_kcenter_coverage", (s, dir) =>
      graft.operators.Coreset.kCenterCoverage(Tables.embeddings(s, dir), k = 8),
      sql(kcenterCoverageOracle)),

    // §2.21l — IVF recall audit: measured recall@5 vs the exact
    // brute-force top-k at nprobe 1/2/4 — the nprobe selection contract,
    // the IVF companion of q_lsh_calibration (mean and worst-query
    // recall per probed-cell budget)
    Query("q_ivf_recall", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val centroids = graft.operators.Ivf.train(
        e.where(col("vec_id") % 5 === 0), k = 16, iters = 2)
      graft.operators.Ivf.recallAudit(e.where(col("vec_id") < 8), e,
        centroids, nprobes = Seq(1, 2, 4), topK = 5)
    },
      sql(ivfRecallOracle)),

    // §2.21d — product-quantization ANN: 4 subspace codebooks (trained on
    // the same deterministic 1/5 sample), corpus compressed to 4 int codes
    // per vector (16x scan-bandwidth cut at dim 64), ADC search = 4 table
    // lookups + 3 adds per pair. Only exchange: the final top-k window.
    // §2.21j — IVF-PQ: coarse cells prune candidates to nprobe buckets,
    // PQ ADC ranks survivors — both quantizer applications are native
    // scan-speed projections; the composed architecture of a production
    // vector store, and the search shape over the materialized cell-
    // partitioned index layout
    Query("q_ann_ivfpq", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val sample = e.where(col("vec_id") % 5 === 0)
      val coarse = graft.operators.Ivf.train(sample, k = 16, iters = 2)
      val codebooks = graft.operators.Pq.train(sample, dim = 64, m = 4, k = 16, iters = 2)
      graft.operators.Pq.searchIvfPq(e.where(col("vec_id") < 8), e,
        coarse, codebooks, dim = 64, nprobe = 2, topK = 5)
    },
      sql(annIvfPqOracle)),

    Query("q_ann_pq", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val codebooks = graft.operators.Pq.train(
        e.where(col("vec_id") % 5 === 0), dim = 64, m = 4, k = 16, iters = 2)
      graft.operators.Pq.search(e.where(col("vec_id") < 8), e, codebooks,
        dim = 64, topK = 5)
    },
      sql(annPqOracle)),

    // §2.21e — IVF quantizer health: per-cell population + mean squared
    // distance (inertia), exact integer accumulation in micro-units.
    Query("q_ivf_stats", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val centroids = graft.operators.Ivf.train(
        e.where(col("vec_id") % 5 === 0), k = 16, iters = 2)
      graft.operators.Ivf.cellStats(e, centroids)
    },
      sql(ivfStatsOracle))
  )

  /** The shared two-component PCA oracle chain — base1/tr + six
    * unrolled quantized iteration blocks per component + the nano-dot
    * deflation between them — ONE builder consumed by both the
    * q_pca_topr and q_whiten oracles, so the whitening transform can
    * never replay different directions than the published
    * decomposition. Exposes base1, tr, p1/p2, plist1/plist2,
    * eig1/eig2, comp1/comp2 to the consuming query.
    */
  private lazy val pcaTwoComponentCtes: String = {
    val dim = 64
    def iter(c: Int, t: Int) =
        s"""d${c}_$t AS (
           |  SELECT e.vec_id,
           |    CAST(list_sum(list_transform(range(1, ${dim + 1}),
           |      i -> CAST(floor(e.xd[i]
           |        * vl.vl[i] * 1000000000.0 + 0.5) AS BIGINT)))
           |      AS BIGINT) AS dn
           |  FROM base$c e CROSS JOIN vlist${c}_${t - 1} vl),
           |u${c}_$t AS (
           |  SELECT g.j,
           |    CAST(sum(CAST(floor(e.xd[g.j + 1]
           |      * (CAST(d.dn AS DOUBLE) / 1000000000.0) * 1000000.0 + 0.5)
           |      AS BIGINT)) AS BIGINT) AS u
           |  FROM base$c e JOIN d${c}_$t d ON e.vec_id = d.vec_id,
           |    range(0, $dim) AS g(j)
           |  GROUP BY g.j),
           |nrm${c}_$t AS (SELECT sqrt(CAST(sum(CAST(u AS HUGEINT) * u)
           |    AS DOUBLE)) AS nm FROM u${c}_$t),
           |v${c}_$t AS (SELECT j,
           |    floor(CAST(u AS DOUBLE) / nm * 1000000.0 + 0.5) / 1000000.0
           |      AS val
           |  FROM u${c}_$t CROSS JOIN nrm${c}_$t),
           |vlist${c}_$t AS (SELECT list(val ORDER BY j) AS vl
           |  FROM v${c}_$t)""".stripMargin
    def component(c: Int) =
        s"""v${c}_0 AS (SELECT CAST(g.j AS BIGINT) AS j,
           |    CAST(0.125 AS DOUBLE) AS val
           |  FROM range(0, $dim) AS g(j)),
           |vlist${c}_0 AS (SELECT list(val ORDER BY j) AS vl FROM v${c}_0),
           |${(1 to 6).map(t => iter(c, t)).mkString(",\n")},
           |p$c AS MATERIALIZED (SELECT j,
           |    CAST(floor(CAST(u AS DOUBLE) / nm * 1000000.0 + 0.5) AS BIGINT)
           |      AS p, u
           |  FROM u${c}_6 CROSS JOIN nrm${c}_6),
           |plist$c AS MATERIALIZED (
           |  SELECT list(CAST(p AS DOUBLE) / 1000000.0 ORDER BY j) AS vl
           |  FROM p$c),
           |eig$c AS (SELECT CAST(sum(CAST(p AS HUGEINT) * u) // 1000000
           |    AS BIGINT) AS eig_micro FROM p$c),
           |comp$c AS (
           |  SELECT CAST($c AS BIGINT) AS component, p.j,
           |    CAST(p.p AS DOUBLE) / 1000000.0 AS loading_r6,
           |    p.u AS u_micro, e.eig_micro,
           |    CASE WHEN tr.trace_micro > 0
           |      THEN CAST((CAST(e.eig_micro AS HUGEINT) * 10000)
           |        // tr.trace_micro AS BIGINT) ELSE 0 END AS var_share_bp
           |  FROM p$c p CROSS JOIN eig$c e CROSS JOIN tr)""".stripMargin
    def deflate(c: Int) =
        s"""pd$c AS (
           |  SELECT e.vec_id,
           |    CAST(list_sum(list_transform(range(1, ${dim + 1}),
           |      i -> CAST(floor(e.xd[i]
           |        * pl.vl[i] * 1000000000.0 + 0.5) AS BIGINT)))
           |      AS BIGINT) AS dn
           |  FROM base$c e CROSS JOIN plist$c pl),
           |base${c + 1} AS MATERIALIZED (
           |  SELECT e.vec_id,
           |    list_transform(range(1, ${dim + 1}),
           |      i -> e.xd[i] - (CAST(d.dn AS DOUBLE) / 1000000000.0)
           |        * pl.vl[i]) AS xd
           |  FROM base$c e JOIN pd$c d ON e.vec_id = d.vec_id
           |  CROSS JOIN plist$c pl)""".stripMargin
    s"""base1 AS MATERIALIZED (
       |  SELECT vec_id, list_transform(range(1, ${dim + 1}),
       |    i -> CAST(embedding[i] AS DOUBLE)) AS xd
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = $dim),
       |tr AS (
       |  SELECT CAST(coalesce(sum(ssq), 0) AS BIGINT) AS trace_micro,
       |    CAST(count(*) AS BIGINT) AS n_vectors
       |  FROM (SELECT CAST(list_sum(list_transform(range(1, ${dim + 1}),
       |      i -> CAST(floor(xd[i] * xd[i] * 1000000.0 + 0.5)
       |        AS BIGINT))) AS BIGINT) AS ssq FROM base1)),
       |${component(1)},
       |${deflate(1)},
       |${component(2)}""".stripMargin
  }

  /** q_ann_lsh_mp oracle: same inlined hyperplanes as annLshOracle, with
    * the query side expanded over the Hamming-1 probe masks.
    */
  private def annLshMpOracle: String = {
    val planes = Similarity.hyperplanes(8, 64)
    val bucketExpr = planes.zipWithIndex.map { case (plane, p) =>
      val arr = plane.mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), CAST($arr AS DOUBLE[])) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val masks = (0L +: (0 until 8).map(p => 1L << p)).mkString("[", ", ", "]")
    s"""WITH b AS (SELECT vec_id, embedding, CAST($bucketExpr AS BIGINT) AS bucket FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, xor(bucket, m.m) AS bucket
       |  FROM b, unnest(CAST($masks AS BIGINT[])) AS m(m) WHERE vec_id < 8),
       |sims AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
       |  FROM b c JOIN q ON c.bucket = q.bucket WHERE c.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM sims)
       |SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim_r
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** q_ann_ivf oracle: the deterministic IVF pipeline — first-16 seeding by
    * ascending vec_id, two Lloyd iterations with exact-decimal means, then
    * nprobe=2 / top-5 search — unrolled into DuckDB SQL. Distances replay
    * the native NearestCells fold exactly: ascending-index double
    * accumulation of (e[i]-c[i])^2 with lower-cell-id tie-break, so cell
    * assignments agree across engines; the centroid mean goes
    * float -> decimal(20,10) -> exact sum -> double / count -> float on
    * both sides, so iterations stay bit-reproducible.
    */
  /** Squared-L2 fold shared by the IVF-family oracles: ascending-index
    * double accumulation of (e[i]-c[i])^2, replaying NearestCells exactly.
    */
  private def ivfDist(e: String, c: String): String = {
    val diff = s"(CAST($e[i] AS DOUBLE) - CAST($c[i] AS DOUBLE))"
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, 65), i -> $diff * $diff)), (acc, x) -> acc + x)"
  }

  /** Shared CTE block unrolling the deterministic IVF training (first-16
    * seeding by ascending vec_id + two exact-decimal Lloyd iterations)
    * into DuckDB SQL; yields `c2` as the trained centroid table.
    */
  private def ivfTrainCtes: String = {
    // one Lloyd iteration: assign to nearest of c$it, then exact-mean
    // per (cell, dimension); empty cells keep their previous centroid
    val lloyd = (0 until 2).map { it =>
      s"""a${it + 1} AS (
         |  SELECT vec_id, cell_id FROM (
         |    SELECT t.vec_id, c.cell_id,
         |      row_number() OVER (PARTITION BY t.vec_id
         |        ORDER BY ${ivfDist("t.e", "c.c")} ASC, c.cell_id ASC) AS rn
         |    FROM train t CROSS JOIN c$it c) WHERE rn = 1),
         |m${it + 1} AS (
         |  SELECT a.cell_id, r.i AS pos,
         |    CAST(CAST(sum(CAST(t.e[CAST(r.i AS INTEGER)] AS DECIMAL(20,10))) AS DOUBLE)
         |      / count(*) AS FLOAT) AS m
         |  FROM a${it + 1} a JOIN train t USING (vec_id)
         |  CROSS JOIN range(1, 65) r(i)
         |  GROUP BY a.cell_id, r.i),
         |c${it + 1} AS (
         |  SELECT o.cell_id, coalesce(n.c, o.c) AS c
         |  FROM c$it o LEFT JOIN (
         |    SELECT cell_id, list(m ORDER BY pos ASC) AS c
         |    FROM m${it + 1} GROUP BY cell_id) n ON o.cell_id = n.cell_id)""".stripMargin
    }.mkString(",\n")
    s"""train AS (
       |  SELECT vec_id, embedding AS e FROM embeddings WHERE vec_id % 5 = 0),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INTEGER) AS cell_id, e AS c
       |  FROM (SELECT vec_id, e FROM train ORDER BY vec_id ASC LIMIT 16)),
       |$lloyd""".stripMargin
  }

  /** q_semdedup oracle: replays training (ivfTrainCtes), nearest-cell
    * assignment of the planted corpus, and the lowest-id-representative
    * drop rule, blocking-faithful (pairs only within a shared cell).
    */
  private def semDedupOracle: String =
    s"""WITH $ivfTrainCtes,
       |corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0),
       |cand AS (
       |  SELECT vec_id, emb, cell_id FROM (
       |    SELECT t.vec_id, t.embedding AS emb, c.cell_id,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${ivfDist("t.embedding", "c.c")} ASC, c.cell_id ASC) AS rn
       |    FROM corpus t CROSS JOIN c2 c) WHERE rn = 1),
       |pairs AS (
       |  SELECT y.vec_id AS vec_id, y.cell_id AS cell_id, x.vec_id AS xid,
       |    list_cosine_similarity(CAST(x.emb AS DOUBLE[]), CAST(y.emb AS DOUBLE[])) AS sim
       |  FROM cand x JOIN cand y ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id)
       |SELECT vec_id, cell_id, min(xid) AS dup_of,
       |  CAST(count(*) AS BIGINT) AS n_dups, round(max(sim), 4) AS best_sim_r
       |FROM pairs WHERE sim >= 0.95
       |GROUP BY vec_id, cell_id""".stripMargin

  /** q_ivf_stats oracle: replays training, single-cell assignment, and the
    * micro-unit distance quantization; the sum is exact integer math on
    * both engines.
    */
  private def ivfStatsOracle: String =
    s"""WITH $ivfTrainCtes,
       |cand AS (
       |  SELECT vec_id, emb, cell_id FROM (
       |    SELECT t.vec_id, t.embedding AS emb, c.cell_id,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${ivfDist("t.embedding", "c.c")} ASC, c.cell_id ASC) AS rn
       |    FROM embeddings t CROSS JOIN c2 c) WHERE rn = 1),
       |d AS (
       |  SELECT ca.cell_id,
       |    CAST(floor(${ivfDist("ca.emb", "c.c")} * 1000000.0 + 0.5) AS BIGINT) AS sqd_u
       |  FROM cand ca JOIN c2 c USING (cell_id))
       |SELECT cell_id, CAST(count(*) AS BIGINT) AS n_vectors,
       |  floor(CAST(sum(sqd_u) AS DOUBLE) / count(*) / 100.0 + 0.5) / 10000.0 AS mean_sqd_r
       |FROM d GROUP BY cell_id""".stripMargin

  /** q_semdedup_staged oracle: exact-collapse via a min-over-window on the
    * embedding value, then the semantic drop rule replayed on
    * representatives (same training unroll as semDedupOracle).
    */
  private def semDedupStagedOracle: String =
    s"""WITH $ivfTrainCtes,
       |corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0),
       |we AS (
       |  SELECT vec_id, embedding,
       |    min(vec_id) OVER (PARTITION BY embedding) AS rep_id
       |  FROM corpus),
       |exact AS (
       |  SELECT vec_id, rep_id AS dup_of, 'exact' AS reason
       |  FROM we WHERE vec_id <> rep_id),
       |reps AS (
       |  SELECT min(vec_id) AS vec_id, embedding FROM corpus GROUP BY embedding),
       |cand AS (
       |  SELECT vec_id, emb, cell_id FROM (
       |    SELECT t.vec_id, t.embedding AS emb, c.cell_id,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${ivfDist("t.embedding", "c.c")} ASC, c.cell_id ASC) AS rn
       |    FROM reps t CROSS JOIN c2 c) WHERE rn = 1),
       |pairs AS (
       |  SELECT y.vec_id AS vec_id, x.vec_id AS xid,
       |    list_cosine_similarity(CAST(x.emb AS DOUBLE[]), CAST(y.emb AS DOUBLE[])) AS sim
       |  FROM cand x JOIN cand y ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id),
       |sem AS (
       |  SELECT vec_id, min(xid) AS dup_of, 'semantic' AS reason
       |  FROM pairs WHERE sim >= 0.95 GROUP BY vec_id)
       |SELECT vec_id, dup_of, reason FROM exact
       |UNION ALL
       |SELECT vec_id, dup_of, reason FROM sem""".stripMargin

  /** q_semdedup_ingest oracle: replay the whole incremental semantic
    * chain — IVF training unroll (ivfTrainCtes), per-set cell
    * assignment, the four decision tiers as conditional-min CTEs
    * (mirroring dedupIngestSql's combine), and the keeper append
    * between batches.
    */
  private def semIngestSql: String = {
    def cos(a: String, b: String): String =
      s"list_cosine_similarity(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"
    def asg(name: String, src: String, rnMax: Int): String =
      s"""$name AS (
         |  SELECT vec_id, embedding, cell_id FROM (
         |    SELECT t.vec_id, t.embedding, c.cell_id,
         |      row_number() OVER (PARTITION BY t.vec_id
         |        ORDER BY ${ivfDist("t.embedding", "c.c")} ASC, c.cell_id ASC) AS rn
         |    FROM $src t CROSS JOIN c2 c) WHERE rn <= $rnMax)""".stripMargin
    def decide(b: String, idx: String): String =
      s"""exacti_$b AS (
         |  SELECT x.vec_id, min(i.vec_id) AS m
         |  FROM ${b}_0 x JOIN $idx i ON x.embedding = i.embedding
         |  GROUP BY x.vec_id),
         |neari_$b AS (
         |  SELECT p.vec_id, min(i.vec_id) AS m
         |  FROM probe_$b p JOIN $idx i USING (cell_id)
         |  WHERE ${cos("p.embedding", "i.embedding")} >= 0.95
         |  GROUP BY p.vec_id),
         |exactb_$b AS (
         |  SELECT x.vec_id, min(y.vec_id) AS m
         |  FROM ${b}_0 x JOIN ${b}_0 y
         |    ON x.embedding = y.embedding AND y.vec_id < x.vec_id
         |  GROUP BY x.vec_id),
         |nearb_$b AS (
         |  SELECT y.vec_id, min(x.vec_id) AS m
         |  FROM prim_$b x JOIN prim_$b y
         |    ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
         |  WHERE ${cos("x.embedding", "y.embedding")} >= 0.95
         |  GROUP BY y.vec_id),
         |dec_$b AS (
         |  SELECT x.vec_id,
         |    CASE WHEN ei.m IS NOT NULL THEN 'exact_index'
         |         WHEN ni.m IS NOT NULL THEN 'near_index'
         |         WHEN eb.m IS NOT NULL THEN 'exact_batch'
         |         WHEN nb.m IS NOT NULL THEN 'near_batch'
         |         ELSE 'keep' END AS verdict,
         |    COALESCE(ei.m, ni.m, eb.m, nb.m) AS matched_id
         |  FROM ${b}_0 x
         |  LEFT JOIN exacti_$b ei USING (vec_id)
         |  LEFT JOIN neari_$b ni USING (vec_id)
         |  LEFT JOIN exactb_$b eb USING (vec_id)
         |  LEFT JOIN nearb_$b nb USING (vec_id))""".stripMargin
    s"""WITH $ivfTrainCtes,
       |i0_0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0),
       |b1_0 AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 1
       |  UNION ALL
       |  SELECT vec_id + 500000, embedding FROM embeddings WHERE vec_id % 30 = 0
       |  UNION ALL
       |  SELECT vec_id + 600000,
       |    list_transform(embedding, v -> CAST(v * 1.01 AS FLOAT)) AS embedding
       |  FROM embeddings WHERE vec_id % 30 = 6
       |  UNION ALL
       |  SELECT vec_id + 800000, embedding FROM embeddings WHERE vec_id % 30 = 7
       |  UNION ALL
       |  SELECT vec_id + 900000,
       |    list_transform(embedding, v -> CAST(v * 1.01 AS FLOAT)) AS embedding
       |  FROM embeddings WHERE vec_id % 30 = 13),
       |b2_0 AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 2
       |  UNION ALL
       |  SELECT vec_id + 700000, embedding FROM embeddings WHERE vec_id % 30 = 1),
       |${asg("idx_i0", "i0_0", 1)},
       |${asg("prim_b1", "b1_0", 1)},
       |${asg("probe_b1", "b1_0", 2)},
       |${asg("prim_b2", "b2_0", 1)},
       |${asg("probe_b2", "b2_0", 2)},
       |${decide("b1", "idx_i0")},
       |idx_i1 AS (
       |  SELECT * FROM idx_i0
       |  UNION ALL
       |  SELECT p.* FROM prim_b1 p JOIN dec_b1 d USING (vec_id)
       |  WHERE d.verdict = 'keep'),
       |${decide("b2", "idx_i1")}
       |SELECT CAST(1 AS BIGINT) AS batch_no, vec_id, verdict, matched_id FROM dec_b1
       |UNION ALL
       |SELECT CAST(2 AS BIGINT) AS batch_no, vec_id, verdict, matched_id FROM dec_b2""".stripMargin
  }

  private def annIvfOracle: String = {
    def dist(e: String, c: String): String = ivfDist(e, c)
    s"""WITH $ivfTrainCtes,
       |probe AS (
       |  SELECT query_id, q_emb, cell_id FROM (
       |    SELECT t.vec_id AS query_id, t.embedding AS q_emb, c.cell_id,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${dist("t.embedding", "c.c")} ASC, c.cell_id ASC) AS rn
       |    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) t
       |    CROSS JOIN c2 c) WHERE rn <= 2),
       |cand AS (
       |  SELECT neighbor_id, c_emb, cell_id FROM (
       |    SELECT t.vec_id AS neighbor_id, t.embedding AS c_emb, c.cell_id,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${dist("t.embedding", "c.c")} ASC, c.cell_id ASC) AS rn
       |    FROM embeddings t CROSS JOIN c2 c) WHERE rn = 1),
       |sims AS (
       |  SELECT p.query_id, c.neighbor_id, c.cell_id,
       |    list_cosine_similarity(CAST(p.q_emb AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[])) AS sim
       |  FROM cand c JOIN probe p USING (cell_id)
       |  WHERE c.neighbor_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cell_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM sims)
       |SELECT query_id, neighbor_id, cell_id, rank, round(sim, 4) AS sim_r
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** q_ivf_recall oracle: replays IVF training (ivfTrainCtes), the
    * brute-force top-k ground truth (q_ann_topk's CTE shape), and one
    * probed search per audited nprobe (probe ranks computed once to the
    * max nprobe, filtered per block), then per-query hit counts -> the
    * per-nprobe recall stats; the qs LEFT JOIN keeps zero-hit queries in
    * the audit at recall 0, exactly like the Spark side's panel join.
    */
  private def ivfRecallOracle: String = {
    val nprobes = Seq(1, 2, 4)
    val perNp = nprobes.map { np =>
      s"""r$np AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, c.neighbor_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY list_cosine_similarity(CAST(p.q_emb AS DOUBLE[]),
         |          CAST(c.c_emb AS DOUBLE[])) DESC, c.neighbor_id ASC) AS rank
         |    FROM cand c JOIN probeall p USING (cell_id)
         |    WHERE c.neighbor_id <> p.query_id AND p.rn <= $np)
         |  WHERE rank <= 5),
         |h$np AS (
         |  SELECT query_id, count(*) AS n_hits
         |  FROM r$np JOIN brute USING (query_id, neighbor_id)
         |  GROUP BY query_id),
         |s$np AS (
         |  SELECT CAST($np AS BIGINT) AS nprobe,
         |    CAST(count(*) AS BIGINT) AS n_queries,
         |    floor(CAST(sum(coalesce(n_hits, 0)) AS DOUBLE) * 10000.0
         |      / (count(*) * 5) + 0.5) / 10000.0 AS mean_recall_r,
         |    floor(CAST(min(coalesce(n_hits, 0)) AS DOUBLE) * 10000.0 / 5
         |      + 0.5) / 10000.0 AS min_recall_r
         |  FROM qs LEFT JOIN h$np USING (query_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $ivfTrainCtes,
       |qs AS (SELECT vec_id AS query_id, embedding AS q_emb
       |  FROM embeddings WHERE vec_id < 8),
       |probeall AS (
       |  SELECT query_id, q_emb, cell_id, rn FROM (
       |    SELECT t.query_id, t.q_emb, c.cell_id,
       |      row_number() OVER (PARTITION BY t.query_id
       |        ORDER BY ${ivfDist("t.q_emb", "c.c")} ASC, c.cell_id ASC) AS rn
       |    FROM qs t CROSS JOIN c2 c) WHERE rn <= 4),
       |cand AS (
       |  SELECT neighbor_id, c_emb, cell_id FROM (
       |    SELECT t.vec_id AS neighbor_id, t.embedding AS c_emb, c.cell_id,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${ivfDist("t.embedding", "c.c")} ASC, c.cell_id ASC) AS rn
       |    FROM embeddings t CROSS JOIN c2 c) WHERE rn = 1),
       |brute AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]),
       |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank
       |    FROM embeddings c, qs q WHERE c.vec_id <> q.query_id)
       |  WHERE rank <= 5),
       |$perNp
       |SELECT * FROM s1 UNION ALL SELECT * FROM s2
       |UNION ALL SELECT * FROM s4""".stripMargin
  }

  /** q_kcenter oracle: the greedy farthest-point traversal unrolled into
    * k CTE levels (the Lloyd-unroll pattern of ivfTrainCtes applied to a
    * sequential greedy): each step cross-joins the corpus with the s
    * 1-row center CTEs, takes LEAST of the replayed ascending-fold
    * squared distances, excludes chosen ids, and picks (dmin DESC,
    * vec_id ASC) LIMIT 1 — exactly the Spark side's per-step
    * TakeOrdered(1). Assignment ranks (dist ASC, step ASC), the native
    * strict-< tie rule.
    */
  /** Shared greedy-unroll CTE chain for k = 8, ending at
    * `centers(step, vec_id, radius_sq_r, embedding)` — the base of the
    * q_kcenter oracle AND its coverage twin, so the two replays cannot
    * desync on the selection.
    */
  private def kcenterCtes: String = {
    val k = 8
    val steps = (1 until k).map { s =>
      val joins = (0 until s).map(j => s"CROSS JOIN c$j x$j").mkString(" ")
      val excl = (0 until s).map(j => s"e.vec_id <> x$j.vec_id").mkString(" AND ")
      val dists = (0 until s)
        .map(j => ivfDist("e.embedding", s"x$j.embedding"))
        .mkString(",\n    ")
      s"""d$s AS (
         |  SELECT e.vec_id, e.embedding, LEAST($dists) AS dmin
         |  FROM e $joins
         |  WHERE $excl),
         |c$s AS (
         |  SELECT vec_id, embedding, dmin FROM d$s
         |  ORDER BY dmin DESC, vec_id ASC LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val centerRows = (Seq(
      "SELECT CAST(0 AS INTEGER) AS step, vec_id, CAST(NULL AS DOUBLE) AS radius_sq_r, embedding FROM c0") ++
      (1 until k).map(s =>
        s"SELECT CAST($s AS INTEGER), vec_id, floor(dmin * 10000.0 + 0.5) / 10000.0, embedding FROM c$s"))
      .mkString("\n  UNION ALL ")
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id ASC LIMIT 1),
       |$steps,
       |centers AS (
       |  $centerRows)""".stripMargin
  }

  private def kcenterOracle: String = {
    s"""WITH $kcenterCtes,
       |asg AS (
       |  SELECT vec_id, step FROM (
       |    SELECT e.vec_id, c.step,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${ivfDist("e.embedding", "c.embedding")} ASC, c.step ASC) AS rn
       |    FROM e CROSS JOIN centers c) WHERE rn = 1),
       |cnt AS (SELECT step, count(*) AS n FROM asg GROUP BY step)
       |SELECT c.step, c.vec_id AS center_id, c.radius_sq_r,
       |  CAST(coalesce(n, 0) AS BIGINT) AS n_assigned
       |FROM centers c LEFT JOIN cnt USING (step)""".stripMargin
  }

  /** q_kcenter_coverage oracle: the same greedy chain, then every
    * corpus point's min distance to the selected centers and the
    * coverage report at the final selection radius + 1e-4 — the
    * covered_bp = 10000 row re-proves the k-center guarantee from
    * scratch. Per-point distances micro-quantize to bigints BEFORE the
    * mean's sum, the engine-exact pattern shared with the Spark side.
    */
  private def kcenterCoverageOracle: String =
    s"""WITH $kcenterCtes,
       |nd AS (
       |  SELECT e.vec_id,
       |    min(${ivfDist("e.embedding", "c.embedding")}) AS dmin
       |  FROM e CROSS JOIN centers c GROUP BY e.vec_id),
       |thr AS (
       |  SELECT radius_sq_r + 0.0001 AS t, radius_sq_r
       |  FROM centers WHERE step = 7)
       |SELECT CAST(8 AS BIGINT) AS k,
       |  max(thr.radius_sq_r) AS radius_sq_r,
       |  CAST(count(*) AS BIGINT) AS n_points,
       |  CAST(count(*) FILTER (WHERE dmin <= t) AS BIGINT) AS n_covered,
       |  CAST(floor(count(*) FILTER (WHERE dmin <= t) * 10000.0
       |    / count(*) + 0.5) AS BIGINT) AS covered_bp,
       |  floor(max(dmin) * 10000.0 + 0.5) / 10000.0 AS max_dist_sq_r,
       |  floor(CAST(sum(CAST(floor(dmin * 10000.0 + 0.5) AS BIGINT))
       |    AS DOUBLE) / count(*) + 0.5) / 10000.0 AS mean_dist_sq_r
       |FROM nd, thr""".stripMargin

  /** q_ann_pq oracle: replays the FULL product-quantization pipeline in
    * SQL — per-subspace 2-iteration Lloyd training (same unroll as the IVF
    * oracle, over the subvector slice), corpus encoding (per-subspace
    * argmin with id tie-break), query LUTs, and the left-associated ADC
    * sum — then ranks. Every arithmetic step uses the identical fold order
    * as the native expressions.
    */
  /** The JL component r_j as DuckDB SQL: rebuilds the sign vector from
    * the same "jl:j:i" fold parity and replays fdot's ascending left
    * fold from an explicit 0.0 seed (identical IEEE sequence to the
    * native loop). `emb` is the embedding column reference.
    */
  private def jlCompSql(j: Int, emb: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, 65), i ->
       |      CAST($emb[i] AS DOUBLE) *
       |      (CASE WHEN ${sqlFold(s"'jl:$j:' || CAST(i - 1 AS VARCHAR)")} % 2 = 0
       |        THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))),
       |    (a, b) -> a + b)""".stripMargin

  private def jlOracle: String = {
    val comps = (0 until 8).map(j =>
      s"  floor(${jlCompSql(j, "embedding")} * 10000.0 + 0.5) / 10000.0 AS r_$j")
      .mkString(",\n")
    s"SELECT vec_id,\n$comps\nFROM embeddings"
  }

  /** q_ann_jl oracle: phase 1 ranks by the ascending-j squared-distance
    * sum over UNROUNDED components (identical IEEE order to the flat
    * Spark sum), phase 2 replays the exact cosine rerank on survivors.
    */
  private def annJlOracle: String = {
    val comps = (0 until 8).map(j => s"  ${jlCompSql(j, "embedding")} AS r_$j")
      .mkString(",\n")
    val ad = (0 until 8).map(j => s"(q.r_$j - c.r_$j) * (q.r_$j - c.r_$j)")
      .mkString(" + ")
    s"""WITH p AS (SELECT vec_id,
       |$comps
       |FROM embeddings),
       |q AS (SELECT * FROM p WHERE vec_id < 8),
       |approx AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $ad AS ad
       |  FROM p c, q WHERE c.vec_id <> q.vec_id),
       |surv AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY ad ASC, neighbor_id ASC) AS rank8
       |    FROM approx) WHERE rank8 <= 20),
       |sims AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |      CAST(ce.embedding AS DOUBLE[])) AS sim
       |  FROM surv s
       |  JOIN embeddings qe ON qe.vec_id = s.query_id
       |  JOIN embeddings ce ON ce.vec_id = s.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM sims)
       |SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim_r
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  private def annPqOracle: String = {
    val m = 4
    val all = (0 until m).map(pqSubCtes).mkString(",\n")
    s"""WITH $all,
       |adc AS (
       |  SELECT d0.query_id, d0.vec_id AS neighbor_id,
       |    d0.d + d1.d + d2.d + d3.d AS adc
       |  FROM ds_0 d0
       |  JOIN ds_1 d1 ON d0.query_id = d1.query_id AND d0.vec_id = d1.vec_id
       |  JOIN ds_2 d2 ON d0.query_id = d2.query_id AND d0.vec_id = d2.vec_id
       |  JOIN ds_3 d3 ON d0.query_id = d3.query_id AND d0.vec_id = d3.vec_id
       |  WHERE d0.query_id <> d0.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adc,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc ASC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM adc)
       |SELECT query_id, neighbor_id, rank,
       |  floor(adc * 10000.0 + 0.5) / 10000.0 AS adc_r
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  private def pqDist(sub: Int)(e: String, c: String): String = {
    val diff = s"(CAST($e[i] AS DOUBLE) - CAST($c[i] AS DOUBLE))"
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, ${sub + 1}), i -> $diff * $diff)), (acc, x) -> acc + x)"
  }

  /** Per-subspace PQ training + code + query-distance CTEs (train_s,
    * c0_s..c2_s, codes_s, qd_s, ds_s) — shared by the PQ and IVF-PQ
    * oracles.
    */
  private def pqSubCtes(s: Int): String = {
      val sub = 16; val k = 16
      def dist(e: String, c: String): String = pqDist(sub)(e, c)
      val lo = s * sub + 1; val hi = (s + 1) * sub
      val lloyd = (0 until 2).map { it =>
        s"""a${it + 1}_$s AS (
           |  SELECT vec_id, cell_id FROM (
           |    SELECT t.vec_id, c.cell_id,
           |      row_number() OVER (PARTITION BY t.vec_id
           |        ORDER BY ${dist("t.e", "c.c")} ASC, c.cell_id ASC) AS rn
           |    FROM train_$s t CROSS JOIN c${it}_$s c) WHERE rn = 1),
           |m${it + 1}_$s AS (
           |  SELECT a.cell_id, r.i AS pos,
           |    CAST(CAST(sum(CAST(t.e[CAST(r.i AS INTEGER)] AS DECIMAL(20,10))) AS DOUBLE)
           |      / count(*) AS FLOAT) AS m
           |  FROM a${it + 1}_$s a JOIN train_$s t USING (vec_id)
           |  CROSS JOIN range(1, ${sub + 1}) r(i)
           |  GROUP BY a.cell_id, r.i),
           |c${it + 1}_$s AS (
           |  SELECT o.cell_id, coalesce(n.c, o.c) AS c
           |  FROM c${it}_$s o LEFT JOIN (
           |    SELECT cell_id, list(m ORDER BY pos ASC) AS c
           |    FROM m${it + 1}_$s GROUP BY cell_id) n ON o.cell_id = n.cell_id)""".stripMargin
      }.mkString(",\n")
      s"""train_$s AS (
         |  SELECT vec_id, embedding[$lo:$hi] AS e FROM embeddings WHERE vec_id % 5 = 0),
         |c0_$s AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INTEGER) AS cell_id, e AS c
         |  FROM (SELECT vec_id, e FROM train_$s ORDER BY vec_id ASC LIMIT $k)),
         |$lloyd,
         |codes_$s AS (
         |  SELECT vec_id, cell_id AS code FROM (
         |    SELECT t.vec_id, c.cell_id,
         |      row_number() OVER (PARTITION BY t.vec_id
         |        ORDER BY ${dist("t.e", "c.c")} ASC, c.cell_id ASC) AS rn
         |    FROM (SELECT vec_id, embedding[$lo:$hi] AS e FROM embeddings) t
         |    CROSS JOIN c2_$s c) WHERE rn = 1),
         |qd_$s AS (
         |  SELECT q.vec_id AS query_id, c.cell_id, ${dist("q.e", "c.c")} AS d
         |  FROM (SELECT vec_id, embedding[$lo:$hi] AS e FROM embeddings WHERE vec_id < 8) q
         |  CROSS JOIN c2_$s c),
         |ds_$s AS (
         |  SELECT qd.query_id, co.vec_id, qd.d
         |  FROM codes_$s co JOIN qd_$s qd ON co.code = qd.cell_id)""".stripMargin
  }

  /** q_ann_ivfpq oracle: the IVF training/probe/assignment CTEs compose
    * with the PQ per-subspace CTEs (disjoint names), and the ADC ranking
    * runs only over pairs whose candidate cell is probed by the query.
    */
  private def annIvfPqOracle: String = {
    val all = (0 until 4).map(pqSubCtes).mkString(",\n")
    s"""WITH $ivfTrainCtes,
       |$all,
       |probe AS (
       |  SELECT query_id, cell_id FROM (
       |    SELECT t.vec_id AS query_id, c.cell_id,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${ivfDist("t.embedding", "c.c")} ASC, c.cell_id ASC) AS rn
       |    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) t
       |    CROSS JOIN c2 c) WHERE rn <= 2),
       |cellof AS (
       |  SELECT neighbor_id, cell_id FROM (
       |    SELECT t.vec_id AS neighbor_id, c.cell_id,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${ivfDist("t.embedding", "c.c")} ASC, c.cell_id ASC) AS rn
       |    FROM embeddings t CROSS JOIN c2 c) WHERE rn = 1),
       |keep AS (
       |  SELECT p.query_id, c.neighbor_id
       |  FROM cellof c JOIN probe p USING (cell_id)
       |  WHERE c.neighbor_id <> p.query_id),
       |adc AS (
       |  SELECT d0.query_id, d0.vec_id AS neighbor_id,
       |    d0.d + d1.d + d2.d + d3.d AS adc
       |  FROM ds_0 d0
       |  JOIN ds_1 d1 ON d0.query_id = d1.query_id AND d0.vec_id = d1.vec_id
       |  JOIN ds_2 d2 ON d0.query_id = d2.query_id AND d0.vec_id = d2.vec_id
       |  JOIN ds_3 d3 ON d0.query_id = d3.query_id AND d0.vec_id = d3.vec_id),
       |ranked AS (
       |  SELECT k.query_id, k.neighbor_id, a.adc,
       |    CAST(row_number() OVER (PARTITION BY k.query_id
       |      ORDER BY a.adc ASC, k.neighbor_id ASC) AS BIGINT) AS rank
       |  FROM keep k JOIN adc a
       |    ON k.query_id = a.query_id AND k.neighbor_id = a.neighbor_id)
       |SELECT query_id, neighbor_id, rank,
       |  floor(adc * 10000.0 + 0.5) / 10000.0 AS adc_r
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** The ideal (brute-force top-10) and approx (IVF nprobe=2 top-10)
    * ranking CTEs shared by the nDCG and MRR oracles — one definition so
    * the two audits replay the identical searcher. Yields `ideal`
    * (query_id, neighbor_id, rank) and `approx` (query_id, neighbor_id,
    * arank). */
  private def annRankCtes: String = {
    def dist(e: String, c: String): String = ivfDist(e, c)
    s"""$ivfTrainCtes,
       |bq AS (SELECT vec_id AS query_id, embedding AS q_emb
       |  FROM embeddings WHERE vec_id < 8),
       |isims AS (
       |  SELECT bq.query_id, c.vec_id AS neighbor_id,
       |    list_cosine_similarity(CAST(bq.q_emb AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
       |  FROM embeddings c, bq WHERE c.vec_id <> bq.query_id),
       |ideal AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT query_id, neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
       |    FROM isims) WHERE rank <= 10),
       |probe AS (
       |  SELECT query_id, q_emb, cell_id FROM (
       |    SELECT t.query_id, t.q_emb, c.cell_id,
       |      row_number() OVER (PARTITION BY t.query_id
       |        ORDER BY ${dist("t.q_emb", "c.c")} ASC, c.cell_id ASC) AS rn
       |    FROM bq t CROSS JOIN c2 c) WHERE rn <= 2),
       |cand AS (
       |  SELECT neighbor_id, c_emb, cell_id FROM (
       |    SELECT t.vec_id AS neighbor_id, t.embedding AS c_emb, c.cell_id,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${dist("t.embedding", "c.c")} ASC, c.cell_id ASC) AS rn
       |    FROM embeddings t CROSS JOIN c2 c) WHERE rn = 1),
       |asims AS (
       |  SELECT p.query_id, c.neighbor_id,
       |    list_cosine_similarity(CAST(p.q_emb AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[])) AS sim
       |  FROM cand c JOIN probe p USING (cell_id)
       |  WHERE c.neighbor_id <> p.query_id),
       |approx AS (
       |  SELECT query_id, neighbor_id, arank FROM (
       |    SELECT query_id, neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS arank
       |    FROM asims) WHERE arank <= 10)""".stripMargin
  }

  /** q_ann_mrr oracle: first relevant arank per query over the shared
    * rank CTEs, rr_micro and recall_bp in exact integer division. */
  private def annMrrOracle: String =
    s"""WITH $annRankCtes,
       |h AS (
       |  SELECT a.query_id, CAST(min(a.arank) AS BIGINT) AS first_hit_rank,
       |    CAST(count(*) AS BIGINT) AS n_hits
       |  FROM approx a JOIN ideal i
       |    ON a.query_id = i.query_id AND a.neighbor_id = i.neighbor_id
       |  GROUP BY 1),
       |g AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_ideal
       |  FROM ideal GROUP BY 1)
       |SELECT g.query_id, g.n_ideal, COALESCE(h.n_hits, 0) AS n_hits,
       |  h.first_hit_rank,
       |  COALESCE(1000000 // h.first_hit_rank, 0) AS rr_micro,
       |  COALESCE(h.n_hits, 0) * 10000 // g.n_ideal AS recall_bp
       |FROM g LEFT JOIN h ON g.query_id = h.query_id
       |ORDER BY g.query_id""".stripMargin

  private def annNdcgOracle: String = {
    val wCase = (rk: String) => Similarity.ndcgWeightsMicro(10).zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN CAST($w AS BIGINT)" }
      .mkString(s"CASE $rk ", " ", " ELSE CAST(0 AS BIGINT) END")
    s"""WITH $annRankCtes,
       |d AS (
       |  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_approx,
       |    CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hits,
       |    CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
       |      THEN ${wCase("a.arank")} ELSE CAST(0 AS BIGINT) END)
       |      AS BIGINT) AS dcg_micro
       |  FROM approx a LEFT JOIN ideal i
       |    ON a.query_id = i.query_id AND a.neighbor_id = i.neighbor_id
       |  GROUP BY 1),
       |g AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_ideal,
       |    CAST(sum(${wCase("rank")}) AS BIGINT) AS idcg_micro
       |  FROM ideal GROUP BY 1)
       |SELECT g.query_id, g.n_ideal,
       |  COALESCE(d.n_approx, 0) AS n_approx,
       |  COALESCE(d.n_hits, 0) AS n_hits,
       |  COALESCE(d.dcg_micro, 0) AS dcg_micro, g.idcg_micro,
       |  COALESCE(d.dcg_micro, 0) * 1000000 // g.idcg_micro AS ndcg_micro
       |FROM g LEFT JOIN d ON g.query_id = d.query_id
       |ORDER BY g.query_id""".stripMargin
  }

  private def annLshOracle: String = {
    val planes = Similarity.hyperplanes(8, 64)
    val bucketExpr = planes.zipWithIndex.map { case (plane, p) =>
      val arr = plane.mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), CAST($arr AS DOUBLE[])) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH b AS (SELECT vec_id, embedding, CAST($bucketExpr AS BIGINT) AS bucket FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM b WHERE vec_id < 8),
       |sims AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id, c.bucket,
       |    list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
       |  FROM b c JOIN q ON c.bucket = q.bucket WHERE c.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, bucket, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM sims)
       |SELECT query_id, neighbor_id, bucket, rank, round(sim, 4) AS sim_r
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** q_lsh_calibration oracle: same inlined hyperplane buckets as
    * annLshOracle, full query-panel x corpus exact cosine (round 4dp),
    * hamming via bit_count(xor), tier floor, and the SAME driver-computed
    * theoretical literals ([[Similarity.lshTheoreticalBp]]) inlined as a
    * CASE — measured and theory columns both engine-exact.
    */
  private def lshCalibrationOracle: String = {
    val planes = Similarity.hyperplanes(8, 64)
    val bucketExpr = planes.zipWithIndex.map { case (plane, p) =>
      val arr = plane.mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), CAST($arr AS DOUBLE[])) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val theoCase = Similarity.lshTheoreticalBp(8)
      .map { case (t, v) => s"WHEN $t THEN CAST($v AS BIGINT)" }
      .mkString("CASE tier ", " ", " END")
    s"""WITH b AS (
       |  SELECT vec_id, embedding, CAST($bucketExpr AS BIGINT) AS bucket
       |  FROM embeddings
       |  WHERE list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket
       |  FROM b WHERE vec_id < 8),
       |p AS (
       |  SELECT round(list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]),
       |      CAST(c.embedding AS DOUBLE[])), 4) AS sim_r,
       |    CAST(bit_count(xor(c.bucket, q.q_bucket)) AS BIGINT) AS hamming
       |  FROM b c, q WHERE c.vec_id <> q.query_id),
       |t AS (
       |  SELECT CAST(least(floor(sim_r * 10), 9) AS INTEGER) AS tier, hamming
       |  FROM p)
       |SELECT tier, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(count(CASE WHEN hamming = 0 THEN 1 END) AS BIGINT) AS n_collide,
       |  CAST(floor(count(CASE WHEN hamming = 0 THEN 1 END) * 10000.0
       |    / count(*) + 0.5) AS BIGINT) AS collide_bp,
       |  floor(CAST(sum(hamming) AS DOUBLE) * 10000.0 / count(*) + 0.5)
       |    / 10000.0 AS mean_hamming_r,
       |  $theoCase AS theo_bp
       |FROM t GROUP BY tier""".stripMargin
  }

  /** The brute-force cosine top-5 replay — q_ann_topk's oracle, which
    * q_ann_int8 shares: its int8 prefilter must lose no true top-k
    * member. */
  private lazy val annTopKOracle: Oracle =
    sql("""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
      |sims AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
      |  FROM embeddings c, q WHERE c.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, sim,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM sims)
      |SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim_r
      |FROM ranked WHERE rank <= 5""".stripMargin)
}
