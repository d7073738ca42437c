package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.registry.OracleSql._
import graft.registry.Query.sql
import graft.operators.{Analytics, Dedup, Etl, Similarity, TextAnalysis}

/** Text, dedup and ingest queries: exact and near-duplicate detection, the
  * signature ingest, corpus preparation, tokenization, language models and
  * retrieval. */
private[graft] object TextQueries {

  private val stopwords = Seq("the", "a", "data", "value")

  // keyword queries for the BM25 retrieval entry — fixed literals so the
  // oracle carries the identical VALUES list
  private val bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "spark window agg",
    2L -> "customer join query",
    3L -> "vector scan filter",
    4L -> "stream batch merge")

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "fr" -> Seq("table", "row"),
    "es" -> Seq("data", "value"),
    "de" -> Seq("join", "group"),
    "zh" -> Seq("spark", "stream"))
  /** The q_dedup_ingest chain — one definition shared with
    * q_ingest_timeline's per-batch curve so the log and its summary
    * cannot drift. */
  private def dedupIngestChainFrame(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ingest.ingestChain(
      graft.operators.Ingest.signatureIndex(ingestCorpusSlice(s, dir), 64),
      Seq(ingestBatch1(s, dir), ingestBatch2(s, dir)))
  /** The held-out eval frame behind q_nb_auc / q_nb_pr: the q_nb_quality
    * Naive-Bayes model (same seeds — %5==0 curated, %5==1 junk-planted)
    * scores the docs the training never saw (%5 in {2,3,4}); markers are
    * ALSO planted on %5==2 so the eval set carries ground-truth labels
    * (label = true means "good"). `score` is the exact integer
    * per-token mean in milli-micro units via plain truncating DIV —
    * DuckDB's integer `//` truncates toward zero exactly like Spark's
    * DIV (verified on v1.0.0), so negative junk scores replay
    * bit-for-bit with no correction. Both audits consume this one
    * frame. */
  private def nbEvalScored(s: SparkSession, dir: String): DataFrame = {
    val m5 = col("doc_id") % 5
    val planted = Tables.documents(s, dir).withColumn("text",
      when(m5 === 1 || m5 === 2,
        concat(col("text"), lit(" zz9 qq8 xx7 kk6 vv5")))
        .otherwise(col("text")))
    TextAnalysis.nbScored(planted,
      posSeed = col("doc_id") % 5 === 0,
      negSeed = col("doc_id") % 5 === 1, vocabSize = 500)
      .where(col("doc_id") % 5 >= 2)
      .select(
        expr("sum_u * 1000 DIV n_tokens").as("score"),
        (col("doc_id") % 5 =!= 2).as("label"))
  }

  /** The near-duplicate corpus most dedup queries run on: every 20th
    * document re-added under id + 1,000,000 with its last 30 characters
    * cut off. */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame =
    Dedup.withPlantedDups(Tables.documents(s, dir), every = 20,
      idOffset = 1000000L, truncateChars = 30)

  /** [[plantedDocs]] plus an exact copy of every 10th document under
    * id + 2,000,000: the corpus of the staged dedup chains. */
  private def stagedDocs(s: SparkSession, dir: String): DataFrame =
    plantedDocs(s, dir)
      .unionByName(Dedup.withPlantedDups(Tables.documents(s, dir), every = 10,
        idOffset = 2000000L, truncateChars = 0)
        .where(col("doc_id") >= 2000000L))

  val all: Seq[Query] = Seq(
    // §2.15 — exact dedup (hash-groupBy) over corpus with planted copies
    Query("q_dedup_exact", (s, dir) =>
      Dedup.exactDedup(
        Dedup.withPlantedDups(Tables.documents(s, dir), every = 20,
          idOffset = 1000000L, truncateChars = 0)),
      sql("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0)
        |SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id, count(*) AS dup_count
        |FROM corpus GROUP BY md5(text)""".stripMargin)),

    // §2.16 — MinHash + LSH near-dup pairs (rows-only check)
    Query("q_dedup_minhash", (s, dir) =>
      Dedup.minhashNearDups(plantedDocs(s, dir),
        k = 64, bands = 16, minSim = 0.5),
      Twin("q_dedup_minhash_portable")),

    // §2.16c — PORTABLE MinHash near-dup: engine-agnostic shingle ids
    // (base-257 fold) + raw signature-slice band keys, so the full LSH
    // pipeline INCLUDING est_sim hash-checks against DuckDB. The
    // xxhash-based q_dedup_minhash stays the throughput path.
    Query("q_dedup_minhash_portable", (s, dir) =>
      Dedup.minhashPortableNearDups(plantedDocs(s, dir),
        k = 64, bands = 16, minSim = 0.5),
      sql(minhashPortableOracle)),

    // §2.16g — MinHash estimator calibration: every candidate pair's
    // est_sim vs its EXACT shingle-set Jaccard, per-decile error report —
    // the approx-audit contract applied to the LSH estimator itself
    Query("q_minhash_calibration", (s, dir) =>
      Dedup.minhashCalibration(plantedDocs(s, dir),
        k = 64, bands = 16, minSim = 0.5),
      sql(minhashCalibrationOracle)),

    // §2.17c — SimHash calibration twin: exact shingle-set Jaccard per
    // hamming tier over the real chunk-banded candidates
    Query("q_simhash_calibration", (s, dir) =>
      Dedup.simhashCalibration(plantedDocs(s, dir),
        maxHamming = 3),
      sql(simhashCalibrationOracle)),

    // §2.16e — edit-distance-VERIFIED near-dup: the portable minhash
    // candidates confirmed with a true Levenshtein distance over the
    // texts — the order-exact tier that separates near-verbatim copies
    // (the planted truncations: lev = 30) from same-vocabulary rewrites
    // minhash alone cannot tell apart. The quadratic DP runs on the
    // bounded candidate set only, behind a length-gap prefilter.
    Query("q_dedup_editdist", (s, dir) =>
      Dedup.editDistNearDups(plantedDocs(s, dir),
        k = 64, bands = 16, minSim = 0.5, minEditSim = 0.8),
      sql(editDistOracle)),

    // §2.16f — the STAGED form of the edit-distance verify (the 100 TB
    // ordering): exact-collapse to min-id representatives first, then
    // Levenshtein-verify representative candidates only — replica
    // cliques would otherwise pay C(replicas,2) O(len^2) DPs. Same
    // planted corpus as q_dedup_staged (exact copies of every 10th doc
    // on top of the truncated near-dups), whole chain oracle-replayed.
    Query("q_dedup_editdist_staged", (s, dir) =>
      Dedup.stagedEditDistNearDups(stagedDocs(s, dir),
        "/tmp/graft_editstaged_" + dirTag(dir),
        k = 64, bands = 16, minSim = 0.5, minEditSim = 0.8),
      sql(editDistStagedOracle)),

    // §2.16b — staged dedup pipeline: exact-dup collapse -> materialized
    // representatives -> MinHash near-dup, the mandatory ordering at scale
    // (rows-only: MinHash is not oracle-SQL-expressible). Planted EXACT
    // copies are collapsed by stage 1, so only the truncated near-dups
    // survive to the LSH stage.
    Query("q_dedup_staged", (s, dir) =>
      Dedup.stagedNearDups(stagedDocs(s, dir),
        "/tmp/graft_staged_" + dirTag(dir),
        k = 64, bands = 16, minSim = 0.5),
      // staged ordering of the same internal-hash chain
      Twin("q_dedup_minhash_portable")),

    // §2.17 — SimHash near-dup pairs (rows-only check)
    Query("q_dedup_simhash", (s, dir) =>
      Dedup.simhashNearDups(plantedDocs(s, dir),
        maxHamming = 3),
      Twin("q_dedup_simhash_portable")),

    // §2.18b — transitive dup clusters: connected components (hash-min to
    // fixpoint) over the verified jaccard pair graph; cluster_id = the
    // component's canonical (minimum) doc id
    Query("q_dedup_clusters", (s, dir) =>
      Dedup.dupClusters(
        Dedup.ngramJaccardPairs(plantedDocs(s, dir),
          minJaccard = 0.5, maxLenDiff = 40)
          .select(col("doc_a"), col("doc_b"))),
      // connected components as a recursive reachability closure: cluster_id
      // of a node = min node id reachable in the undirected pair graph
      dupClustersOracle),

    // §2.18c — the same components via star-contraction (large-star/
    // small-star, Kiveris et al. SoCC'14): O(log n) BSP rounds instead of
    // hash-min's O(component diameter) — the variant that survives
    // adversarial long truncation/edit chains at 100 TB. Same pair graph,
    // same oracle closure: the hash check proves the two algorithms agree.
    Query("q_dedup_clusters_star", (s, dir) =>
      Dedup.dupClustersStar(
        Dedup.ngramJaccardPairs(plantedDocs(s, dir),
          minJaccard = 0.5, maxLenDiff = 40)
          .select(col("doc_a"), col("doc_b"))),
      // star-contraction computes the SAME components — one closure oracle
      // certifies both algorithms, and their mutual hash match proves the
      // two fixpoints agree on real pair graphs
      dupClustersOracle),

    // §2.18h — near-dup cluster-size histogram: duplication mass by
    // cluster size (mostly-2 organic duplication vs the heavy tail of a
    // boilerplate flood) — the standard dedup-analysis distribution
    Query("q_cluster_sizes", (s, dir) =>
      Dedup.clusterSizeHistogram(
        Dedup.ngramJaccardPairs(plantedDocs(s, dir),
          minJaccard = 0.5, maxLenDiff = 40)
          .select(col("doc_a"), col("doc_b"))),
      sql(s"""WITH RECURSIVE $dupClustersClosureCtes,
         |sz AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM clusters GROUP BY cluster_id)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM sz GROUP BY cluster_size""".stripMargin)),

    // §2.18g — per-source near-dup profile: doc mass, docs in >= 1
    // verified cluster, near-dup rate (bp), clusters touched — the
    // dedup-observability column the data card lacks; which source's
    // volume is real vs replica inflation
    Query("q_dedup_profile", (s, dir) => {
      val corpus = plantedDocs(s, dir)
      Dedup.dedupProfile(corpus,
        Dedup.ngramJaccardPairs(corpus, minJaccard = 0.5, maxLenDiff = 40)
          .select(col("doc_a"), col("doc_b")))
    },
      sql(s"""WITH RECURSIVE $dupClustersClosureCtes
         |SELECT c.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(cl.cluster_id) AS BIGINT) AS n_near_dup,
         |  CAST(floor(count(cl.cluster_id) * 10000.0 / count(*) + 0.5)
         |    AS BIGINT) AS near_dup_bp,
         |  CAST(count(DISTINCT cl.cluster_id) AS BIGINT) AS n_clusters
         |FROM corpus c LEFT JOIN clusters cl USING (doc_id)
         |GROUP BY c.source""".stripMargin)),

    // §2.18f — leakage-safe train/val/test split: WHOLE near-dup
    // clusters are the split unit (singletons = own cluster), membership
    // by the portable fold of the cluster id — prevents at construction
    // time the near-dup train->eval leak that q_decontam/q_cross_dedup
    // detect after the fact. The max_splits_per_cluster column is the
    // re-derived no-leakage proof (1), hash-checked by the oracle.
    Query("q_cluster_split", (s, dir) => {
      val corpus = plantedDocs(s, dir)
      Dedup.clusterSplit(corpus,
        Dedup.ngramJaccardPairs(corpus, minJaccard = 0.5, maxLenDiff = 40)
          .select(col("doc_a"), col("doc_b")),
        trainPct = 80, valPct = 10)
    },
      sql(clusterSplitOracle)),

    // §2.18d — the production keep/drop decision over those components:
    // one row per cluster, keep = most tokens (the untruncated original
    // beats its planted truncated copies), ties toward the smaller id.
    // Output O(#clusters); text never shuffles (token count projected at
    // scan); deterministic argmax via max_by on a unique struct key.
    Query("q_dedup_keep_best", (s, dir) => {
      val corpus = plantedDocs(s, dir)
      Dedup.keepBest(
        Dedup.dupClusters(
          Dedup.ngramJaccardPairs(corpus, minJaccard = 0.5, maxLenDiff = 40)
            .select(col("doc_a"), col("doc_b"))),
        corpus)
    },
      sql(dedupKeepBestSql)),

    // §2.17b — PORTABLE SimHash near-dup: 60-bit two-base rolling-fold
    // token hashes, so signature + banding + hamming hash-check in DuckDB
    Query("q_dedup_simhash_portable", (s, dir) =>
      Dedup.simhashPortableNearDups(plantedDocs(s, dir),
        maxHamming = 3),
      sql(simhashPortableOracle)),

    // §2.18 — exact n-gram Jaccard over bucketed candidates
    Query("q_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(plantedDocs(s, dir),
        minJaccard = 0.5, maxLenDiff = 40),
      sql(s"WITH $ngramJaccardCtes\n$ngramJaccardPairSelect")),

    // §2.18e — doc-in-doc CONTAINMENT pairs: every 25th doc re-added as a
    // 10-token excerpt (Jaccard ~0.1 vs its origin — invisible to the
    // symmetric tier — but containment 1.0); candidates via the
    // rare-shingle inverted index (df <= 8), exact native intersect
    // verify, both directed ratios emitted.
    Query("q_dedup_containment", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val excerpts = docs.where(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          array_join(slice(split(col("text"), " "), 3, 10), " ").as("text"))
      Dedup.containmentPairs(docs.unionByName(excerpts),
        minCont = 0.8, maxShingleDf = 8)
    },
      sql("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    array_to_string(string_split(text, ' ')[3:12], ' ')
        |  FROM documents WHERE doc_id % 25 = 0),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |      i -> md5(string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))) AS sh
        |  FROM corpus WHERE len(string_split(text, ' ')) >= 3),
        |ex AS (SELECT doc_id, s.s FROM sh, LATERAL unnest(sh.sh) AS s(s)),
        |dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
        |rare AS (
        |  SELECT ex.doc_id, ex.s FROM ex JOIN dfreq USING (s)
        |  WHERE dfreq.df <= 8),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS n_shared_rare
        |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |j AS (
        |  SELECT p.doc_a, p.doc_b, p.n_shared_rare,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
        |    CAST(len(sa.sh) AS BIGINT) AS size_a,
        |    CAST(len(sb.sh) AS BIGINT) AS size_b
        |  FROM pairs p
        |  JOIN sh sa ON p.doc_a = sa.doc_id
        |  JOIN sh sb ON p.doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, n_shared_rare, inter, size_a, size_b,
        |  CAST(inter AS DOUBLE) / size_a AS cont_a,
        |  CAST(inter AS DOUBLE) / size_b AS cont_b,
        |  CAST(inter AS DOUBLE) / (size_a + size_b - inter) AS jaccard
        |FROM j
        |WHERE greatest(CAST(inter AS DOUBLE) / size_a,
        |  CAST(inter AS DOUBLE) / size_b) >= 0.8""".stripMargin)),

    // §2.22 — heuristic language ID
    Query("q_lang_id", (s, dir) =>
      TextAnalysis.languageId(Tables.documents(s, dir), langMarkers),
      sql("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS BIGINT) AS score_en,
        |  CAST(len(list_filter(toks, x -> x IN ('table','row'))) AS BIGINT) AS score_fr,
        |  CAST(len(list_filter(toks, x -> x IN ('data','value'))) AS BIGINT) AS score_es,
        |  CAST(len(list_filter(toks, x -> x IN ('join','group'))) AS BIGINT) AS score_de,
        |  CAST(len(list_filter(toks, x -> x IN ('spark','stream'))) AS BIGINT) AS score_zh
        |  FROM t),
        |g AS (SELECT *, greatest(score_en, score_fr, score_es, score_de, score_zh) AS mx FROM s)
        |SELECT doc_id, score_en, score_fr, score_es, score_de, score_zh,
        |  CASE WHEN score_en = mx THEN 'en' WHEN score_fr = mx THEN 'fr'
        |       WHEN score_es = mx THEN 'es' WHEN score_de = mx THEN 'de'
        |       WHEN score_zh = mx THEN 'zh' ELSE 'und' END AS predicted_lang,
        |  lang,
        |  (CASE WHEN score_en = mx THEN 'en' WHEN score_fr = mx THEN 'fr'
        |        WHEN score_es = mx THEN 'es' WHEN score_de = mx THEN 'de'
        |        WHEN score_zh = mx THEN 'zh' ELSE 'und' END) = lang AS is_match
        |FROM g""".stripMargin)),

    // §2.23 — text quality metrics
    Query("q_text_quality", (s, dir) =>
      TextAnalysis.qualityMetrics(Tables.documents(s, dir), stopwords),
      sql("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_nospace,
        |  CAST(length(replace(text, ' ', '')) AS BIGINT) / CAST(len(toks) AS BIGINT) AS avg_token_len,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','data','value'))) AS BIGINT) AS stopword_count,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','data','value'))) AS BIGINT) / CAST(len(toks) AS BIGINT) AS stopword_ratio,
        |  (len(toks) >= 20 AND CAST(len(list_filter(toks, x -> x IN ('the','a','data','value'))) AS BIGINT) / CAST(len(toks) AS BIGINT) < 0.3) AS is_quality
        |FROM t""".stripMargin)),

    // §2.24 — document fingerprint (min-md5 shingle)
    Query("q_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir)),
      sql("""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3)
        |SELECT doc_id,
        |  list_aggregate(list_transform(range(1, len(toks) - 1),
        |    i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])), 'min') AS fingerprint,
        |  CAST(len(toks) - 2 AS BIGINT) AS n_shingles
        |FROM t""".stripMargin)),

    // §2.24b — polynomial rolling hash fingerprint (Rabin-Karp primitive)
    Query("q_rolling_hash", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.rollingHash(col("text")).as("roll_hash"),
          length(col("text")).cast("long").as("n_chars_text")),
      sql(s"""SELECT doc_id,
        |  ${sqlFold("text")} AS roll_hash,
        |  CAST(length(text) AS BIGINT) AS n_chars_text
        |FROM documents""".stripMargin)),

    // §2.24c — sub-document dedup via content-defined chunking: chunk
    // hashes shared by 2+ documents (rows-only: the CDC boundary algorithm
    // is a native expression, not oracle-SQL-expressible)
    Query("q_cdc_dedup", (s, dir) => {
      import org.apache.spark.sql.graftnative.ContentChunkHashes.contentChunkHashes
      val corpus = plantedDocs(s, dir)
      corpus
        .select(col("doc_id"),
          explode(contentChunkHashes(col("text"), window = 8, maskBits = 5))
            .as("chunk_hash"))
        .groupBy(col("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .where(col("n_docs") >= 2)
    },
      Twin("q_cdc_dedup_portable")),

    // §2.24d — end-to-end training-corpus preparation: quality gate ->
    // language gate -> exact dedup -> token accounting -> deterministic
    // portable split, as ONE declarative plan (single shuffle)
    Query("q_corpus_prep", (s, dir) =>
      graft.pipeline.CorpusPrep.prepare(Tables.documents(s, dir),
        stopwords, langMarkers, minTokens = 20, maxStopwordRatio = 0.3,
        trainPct = 90, valPct = 5),
      sql(s"""WITH t AS (
        |  SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks
        |  FROM documents),
        |q AS (
        |  SELECT *, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','data','value'))) AS DOUBLE)
        |      / len(toks) AS stopword_ratio
        |  FROM t WHERE len(toks) >= 20),
        |l AS (
        |  SELECT *,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS BIGINT) AS score_en,
        |    CAST(len(list_filter(toks, x -> x IN ('table','row'))) AS BIGINT) AS score_fr,
        |    CAST(len(list_filter(toks, x -> x IN ('data','value'))) AS BIGINT) AS score_es,
        |    CAST(len(list_filter(toks, x -> x IN ('join','group'))) AS BIGINT) AS score_de,
        |    CAST(len(list_filter(toks, x -> x IN ('spark','stream'))) AS BIGINT) AS score_zh
        |  FROM q WHERE stopword_ratio < 0.3),
        |p AS (
        |  SELECT *, greatest(score_en, score_fr, score_es, score_de, score_zh) AS mx
        |  FROM l),
        |f AS (
        |  SELECT * FROM p
        |  WHERE (CASE WHEN score_en = mx THEN 'en' WHEN score_fr = mx THEN 'fr'
        |              WHEN score_es = mx THEN 'es' WHEN score_de = mx THEN 'de'
        |              WHEN score_zh = mx THEN 'zh' ELSE 'und' END) = lang),
        |d AS (
        |  SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM f),
        |k AS (
        |  SELECT *,
        |    ${sqlFold("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
        |  FROM d WHERE doc_id = keep_id)
        |SELECT doc_id, lang, source, n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
        |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM k""".stripMargin)),

    // §2.24d2 — the corpus-prep pipeline with REAL subword accounting:
    // same gates/dedup/split, bpe_tokens from the trained merge chain
    // instead of the regex proxy (the denomination a production budget
    // actually uses); training replayed in the oracle
    Query("q_corpus_prep_bpe", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.operators.Bpe.trainMerges(docs, vocabSize = 1000,
        numMerges = 12)
      graft.pipeline.CorpusPrep.prepare(docs, stopwords, langMarkers,
        minTokens = 20, maxStopwordRatio = 0.3, trainPct = 90, valPct = 5,
        bpeTokens = Some(graft.operators.Bpe.tokenCount(col("text"), merges)))
    },
      sql(graft.operators.Bpe.corpusPrepOracleSql(1000, 12))),

    // §2.24e — corpus vocabulary top-k (explode -> two-level agg with
    // map-side partials; global top-k via TakeOrdered, not a full sort)
    Query("q_vocab_topk", (s, dir) =>
      TextAnalysis.vocabTopK(Tables.documents(s, dir), k = 100),
      sql("""WITH tf AS (
        |  SELECT doc_id, t.token, count(*) AS tf
        |  FROM documents, unnest(string_split(text, ' ')) AS t(token)
        |  GROUP BY doc_id, t.token),
        |v AS (
        |  SELECT token, sum(tf) AS term_count, count(*) AS doc_freq FROM tf
        |  GROUP BY token)
        |SELECT token, CAST(term_count AS BIGINT) AS term_count, doc_freq,
        |  CAST(row_number() OVER (ORDER BY term_count DESC, token ASC) AS BIGINT) AS rk
        |FROM v ORDER BY term_count DESC, token ASC LIMIT 100""".stripMargin)),

    // §2.24f — per-document top TF-IDF terms (tf agg + broadcast df join
    // + per-doc window)
    Query("q_tfidf", (s, dir) =>
      TextAnalysis.tfIdfTopTerms(Tables.documents(s, dir), perDoc = 3),
      sql("""WITH tf AS (
        |  SELECT doc_id, t.token, count(*) AS tf
        |  FROM documents, unnest(string_split(text, ' ')) AS t(token)
        |  GROUP BY doc_id, t.token),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, token, tf, df,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, token ASC) AS BIGINT) AS rk,
        |    round(tfidf, 4) AS tfidf_r
        |  FROM scored)
        |SELECT doc_id, token, tf, df, rk, tfidf_r FROM ranked WHERE rk <= 3""".stripMargin)),

    // §2.24k2 — per-source gram-novelty profile: distinct 3-gram df=1
    // rate in exact bp — how much NEW content each source adds (the
    // gram-granular counterpart of §2.18g's near-dup profile)
    Query("q_novelty", (s, dir) =>
      TextAnalysis.noveltyProfile(Tables.documents(s, dir)),
      // replays distinct 3-gram sets as md5 strings (containment idiom —
      // the Spark side counts the same sets via 64-bit shingle hashes)
      sql("""WITH sh AS (SELECT doc_id, source,
        |    list_distinct(list_transform(
        |      range(1, len(string_split(text, ' ')) - 1),
        |      i -> md5(string_split(text, ' ')[i] || ' ' ||
        |        string_split(text, ' ')[i+1] || ' ' ||
        |        string_split(text, ' ')[i+2]))) AS sh
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |ex AS (SELECT doc_id, source, s.s
        |  FROM sh, LATERAL unnest(sh.sh) AS s(s)),
        |dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
        |per_doc AS (SELECT ex.doc_id, ex.source, count(*) AS n_grams,
        |    count(*) FILTER (dfreq.df = 1) AS n_novel
        |  FROM ex JOIN dfreq USING (s) GROUP BY ex.doc_id, ex.source)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
        |  CAST(sum(n_novel) AS BIGINT) AS n_novel,
        |  CAST(floor(sum(n_novel) * 10000.0 / sum(n_grams) + 0.5) AS BIGINT)
        |    AS novelty_bp
        |FROM per_doc GROUP BY source""".stripMargin)),

    // §2.24k3 — per-source unigram KL divergence from the corpus
    // distribution in integer micro-nats (per-term quantized before the
    // sum — order-independent): the domain-shift column a mixing plan
    // reads next to DSIR's importance weights
    Query("q_corpus_divergence", (s, dir) =>
      TextAnalysis.corpusDivergence(Tables.documents(s, dir)),
      // per-term contributions quantized to micro-nats BEFORE the sum —
      // the float expression is written operation-for-operation like the
      // Spark side so both engines round the same double
      sql("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |st AS (SELECT source, token, count(*) AS c_s
        |  FROM tok GROUP BY source, token),
        |ct AS (SELECT token, CAST(sum(c_s) AS BIGINT) AS c
        |  FROM st GROUP BY token),
        |ns AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS n_s,
        |    count(*) AS n_terms
        |  FROM st GROUP BY source),
        |nt AS (SELECT CAST(sum(c_s) AS BIGINT) AS n_total FROM st),
        |contrib AS (SELECT st.source,
        |    CAST(floor((st.c_s::DOUBLE / ns.n_s) *
        |      ln((st.c_s::DOUBLE * nt.n_total) / (ns.n_s::DOUBLE * ct.c)) *
        |      1000000.0 + 0.5) AS BIGINT) AS kl_c
        |  FROM st JOIN ct USING (token) JOIN ns USING (source) CROSS JOIN nt)
        |SELECT c.source, ns.n_s AS n_tokens,
        |  CAST(ns.n_terms AS BIGINT) AS n_terms,
        |  CAST(sum(c.kl_c) AS BIGINT) AS kl_u
        |FROM contrib c JOIN ns ON c.source = ns.source
        |GROUP BY c.source, ns.n_s, ns.n_terms""".stripMargin)),

    // §2.24k4 — per-source unigram Shannon entropy in integer micro-nats
    // (+ a ln(vocab)-normalized bp scale): templated spam collapses low,
    // random noise saturates high — the third source-profiling axis
    Query("q_entropy_profile", (s, dir) =>
      TextAnalysis.entropyProfile(Tables.documents(s, dir)),
      // per-term micro-nat quantization before the sum, identical ln shape
      sql("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY source, token),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s,
        |    CAST(count(*) AS BIGINT) AS n_terms
        |  FROM st GROUP BY source),
        |contrib AS (SELECT st.source,
        |    CAST(floor((st.c::DOUBLE / ns.n_s) *
        |      ln(ns.n_s::DOUBLE / st.c) * 1000000.0 + 0.5) AS BIGINT) AS h_c
        |  FROM st JOIN ns USING (source)),
        |e AS (SELECT c.source, ns.n_s AS n_tokens, ns.n_terms,
        |    CAST(sum(c.h_c) AS BIGINT) AS entropy_u
        |  FROM contrib c JOIN ns ON c.source = ns.source
        |  GROUP BY c.source, ns.n_s, ns.n_terms)
        |SELECT source, n_tokens, n_terms, entropy_u,
        |  CASE WHEN n_terms > 1 THEN
        |    CAST(floor(entropy_u::DOUBLE / (ln(n_terms::DOUBLE) * 1000000.0)
        |      * 10000.0 + 0.5) AS BIGINT) END AS norm_bp
        |FROM e ORDER BY source""".stripMargin)),

    // §2.24k5 — per-source vocabulary richness: Good's sample-coverage
    // estimate (1 - f1/N), bias-corrected Chao1 richness floor, and
    // hapax share — how much of a source's vocabulary is still UNSEEN,
    // the keep-crawling-or-stop column of the profiling family. All
    // non-negative integer arithmetic.
    Query("q_vocab_richness", (s, dir) =>
      TextAnalysis.vocabRichness(Tables.documents(s, dir)),
      // richness estimators replayed in the same non-negative integer
      // arithmetic: coverage = (N - f1)*1e4 // N, Chao1 bias-corrected
      sql("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY source, token),
        |s AS (SELECT source,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |  FROM tf GROUP BY source)
        |SELECT source, n_tokens, vocab, f1, f2,
        |  ((n_tokens - f1) * 10000) // n_tokens AS coverage_bp,
        |  vocab + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS chao1_est,
        |  (f1 * 10000) // vocab AS singleton_bp
        |FROM s ORDER BY source""".stripMargin)),

    // §2.24v2 — Heaps vocabulary-growth curve (r16 cont.): how fast
    // does the corpus still discover NEW token types as docs arrive —
    // keep crawling this source or is it saturated? value-wise id
    // batches (no global sort), first-seen token semantics, bounded
    // cumulative curve
    Query("q_heaps_curve", (s, dir) =>
      TextAnalysis.heapsCurve(Tables.documents(s, dir), buckets = 10),
      // value-wise id batches, first-seen min-batch per token, bounded
      // cumulative windows; all integer
      sql("""WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
        |d AS (
        |  SELECT (doc_id * 10) // (max_id + 1) AS b, text
        |  FROM documents, mx
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |tok AS (SELECT b, unnest(string_split(text, ' ')) AS token
        |  FROM d),
        |perb AS (SELECT b, CAST(count(*) AS BIGINT) AS n_docs FROM d
        |  GROUP BY b),
        |tokb AS (SELECT b, CAST(count(*) AS BIGINT) AS n_tokens
        |  FROM tok GROUP BY b),
        |firstb AS (
        |  SELECT fb AS b, CAST(count(*) AS BIGINT) AS new_types
        |  FROM (SELECT token, min(b) AS fb FROM tok GROUP BY token)
        |  GROUP BY fb),
        |cur AS (
        |  SELECT perb.b AS batch, perb.n_docs, tokb.n_tokens,
        |    CAST(coalesce(firstb.new_types, 0) AS BIGINT) AS new_types
        |  FROM perb JOIN tokb ON perb.b = tokb.b
        |  LEFT JOIN firstb ON perb.b = firstb.b),
        |cum AS (
        |  SELECT batch, n_docs, n_tokens, new_types,
        |    CAST(sum(n_docs) OVER wc AS BIGINT) AS docs_cum,
        |    CAST(sum(n_tokens) OVER wc AS BIGINT) AS tokens_cum,
        |    CAST(sum(new_types) OVER wc AS BIGINT) AS vocab_cum
        |  FROM cur WINDOW wc AS (ORDER BY batch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT batch, n_docs, n_tokens, new_types, docs_cum,
        |  tokens_cum, vocab_cum,
        |  CASE WHEN tokens_cum > 0 THEN (vocab_cum * 10000) // tokens_cum
        |    END AS ttr_bp
        |FROM cum ORDER BY batch""".stripMargin)),

    // §2.24f4 — feature-hashing text embeddings (hashing trick): a
    // deterministic, training-free 64-dim embedding per doc — the
    // bridge that runs the ANN/semantic family on a text-only corpus.
    // Zero shuffle; every component oracle-replays exactly. The vector
    // travels as an md5 fingerprint of its integer micro-components
    // (the 6-dp values re-quantized to exact longs — bigint-to-string
    // formatting is engine-identical, double formatting is not, and
    // the oracle comparator can't sort an array column at all).
    Query("q_text_embed", (s, dir) =>
      TextAnalysis.textEmbed(Tables.documents(s, dir), dim = 64)
        .select(col("doc_id"), col("n_tokens"),
          md5(array_join(transform(col("embedding"),
            v => floor(v * 1000000.0 + 0.5).cast("long").cast("string")),
            ",")).as("embedding_fp")),
      sql(textEmbedOracle)),

    // §2.24f5 — the text-only-corpus semantic dedup chain in ONE plan:
    // hashing-trick embeddings (q_text_embed) -> sign-LSH bucket
    // blocking (deterministic hyperplanes, no training) -> cosine drop
    // rule (SemDeDup shape: lowest-id representative survives). Every
    // stage is double-arithmetic with an explicit left fold, so the
    // whole chain — embeddings, buckets, sims — replays exactly in the
    // oracle. Planted verbatim copies of every 20th doc must drop
    // against their originals with best_sim_r = 1.0.
    // §2.24f8 — c-TF-IDF topic labels over the sign-LSH text clusters
    // (BERTopic's labeling step on this engine's deterministic blocking):
    // per cluster the topK terms by tf * ln(1 + n_clusters/df) in integer
    // micro-nats, stopwords excluded, output bounded 2^nPlanes x topK
    Query("q_topic_labels", (s, dir) =>
      TextAnalysis.topicLabels(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        nPlanes = 4, topK = 5, stopwords = stopwords),
      sql(topicLabelsOracle)),

    Query("q_text_semdedup", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      TextAnalysis.textSemDedup(corpus, dim = 64, nPlanes = 8, minCosine = 0.99)
    },
      sql(textSemDedupOracle)),

    // §2.24f6 — the STAGED form (production ordering): collapse verbatim
    // copies via one md5-keyed window BEFORE the candidate join, then
    // bucket-blocked semantic drops on representatives only; reason
    // column splits exact vs semantic. Planted verbatim copies resolve
    // in stage 1; the natural bag-of-words near-dups still drop in
    // stage 2.
    Query("q_text_semdedup_staged", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      TextAnalysis.textSemDedupStaged(corpus, dim = 64, nPlanes = 8,
        minCosine = 0.99)
    },
      sql(textSemDedupStagedOracle)),

    // §2.24f7 — SEMANTIC cross-corpus leak check: the eval set is every
    // 20th doc with its tokens REVERSED — zero shared 3-token shingles
    // with the origin, so the gram decontam gates and minhash
    // cross-dedup see NOTHING, but the bag embedding is identical
    // (cosine 1.0). The paraphrase-leakage gate, run alongside
    // q_decontam (verbatim grams) and q_cross_dedup (near shingles).
    Query("q_text_cross_leak", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val eval = docs.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(reverse(split(col("text"), " ")), " ").as("text"))
      TextAnalysis.textCrossLeak(docs, eval, dim = 64, nPlanes = 8,
        minCosine = 0.99)
    },
      sql(textCrossLeakOracle)),

    // §2.24f9 — bitext mining (r16, the LASER/CCMatrix pipeline step):
    // mutual-top-1 cosine pairs between the en and fr slices over the
    // hashing-trick embeddings, bucket-blocked with COARSE planes
    // (4 → 16 buckets: mining wants recall across the slice boundary
    // where dedup wants tight cliques); published unfiltered with the
    // source-side difference margin so thresholding stays downstream
    Query("q_bitext_mine", (s, dir) =>
      TextAnalysis.bitextMine(
        Tables.documents(s, dir).select(col("doc_id"), col("text"),
          col("lang")),
        "lang", srcLang = "en", tgtLang = "fr", dim = 64, nPlanes = 4),
      sql(bitextMineOracle)),

    // §2.24f3 — inverted index: per-term document frequency, collection
    // frequency, and a bounded posting list (10 smallest doc ids) via
    // the skew-safe two-phase smallest-N — the search-index build for
    // corpus exploration without a scan per question. The posting list
    // travels as a comma-joined string (same information, and the
    // oracle compare's pandas comparator can sort strings but not arrays).
    Query("q_inverted_index", (s, dir) =>
      TextAnalysis.invertedIndex(Tables.documents(s, dir), maxPostings = 10)
        .withColumn("postings",
          array_join(transform(col("postings"), v => v.cast("string")), ",")),
      sql("""WITH td AS (
        |  SELECT t.term, doc_id, count(*) AS tf
        |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
        |  GROUP BY t.term, doc_id)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS cf,
        |  array_to_string(list_sort(list(doc_id))[1:10], ',') AS postings
        |FROM td GROUP BY term""".stripMargin)),

    // §2.24f7 — BM25 top-k retrieval: the lexical-search dual of the ANN
    // family (and the retrieval side of a RAG build) — k best docs per
    // keyword query, per-term contributions micro-quantized so the
    // ranking long is exact. Only occurrences of the |Q| query terms
    // ever shuffle.
    Query("q_bm25", (s, dir) =>
      TextAnalysis.bm25TopK(Tables.documents(s, dir), bm25Queries, k = 10,
        k1 = 1.2, b = 0.75),
      // replays the full BM25 chain — micro-quantized per-term
      // contributions summed as exact longs, Lucene idf — with the same
      // literal constants, so scores and ranks are bit-identical
      sql(bm25Oracle)),

    // §2.24f9 — HYBRID retrieval: BM25 keyword ranking + semantic cosine
    // ranking (queries embedded by the same hashing trick as docs) fused
    // by reciprocal-rank fusion in exact integer micro-units — the RAG
    // search shape; lexical-only, semantic-only, and both-channel hits
    // all surface
    Query("q_hybrid_search", (s, dir) =>
      TextAnalysis.hybridSearch(Tables.documents(s, dir), bm25Queries,
        k = 10, k1 = 1.2, b = 0.75),
      sql(hybridSearchOracle)),

    // §2.24f8 — PMI collocations: the adjacent pairs co-occurring far
    // above chance (multi-word expressions / boilerplate markers /
    // tokenizer merge candidates); two map-combined aggregates + a
    // TakeOrdered top-k
    Query("q_pmi_pairs", (s, dir) =>
      TextAnalysis.pmiPairs(Tables.documents(s, dir), minCount = 10L,
        topK = 30),
      sql("""WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT toks[CAST(i.i AS INTEGER)] AS x,
        |    toks[CAST(i.i + 1 AS INTEGER)] AS y
        |  FROM d, unnest(range(1, len(toks))) AS i(i)),
        |pc AS (
        |  SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
        |  FROM bg GROUP BY x, y HAVING count(*) >= 10),
        |uni AS (
        |  SELECT t.term, CAST(count(*) AS BIGINT) AS c
        |  FROM d, unnest(toks) AS t(term) GROUP BY t.term),
        |tot AS (
        |  SELECT CAST(sum(len(toks)) AS BIGINT) AS t_tokens,
        |    CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT) AS b_slots
        |  FROM d),
        |j AS (
        |  SELECT pc.x, pc.y, pc.c_xy, ux.c AS c_x, uy.c AS c_y,
        |    ln((CAST(pc.c_xy AS DOUBLE) * t.t_tokens * t.t_tokens) /
        |      (CAST(t.b_slots AS DOUBLE) * ux.c * uy.c)) AS pmi
        |  FROM pc
        |  JOIN uni ux ON pc.x = ux.term
        |  JOIN uni uy ON pc.y = uy.term
        |  CROSS JOIN tot t)
        |SELECT x, y, c_xy, c_x, c_y,
        |  floor(pmi * 10000.0 + 0.5) / 10000.0 AS pmi_r
        |FROM j ORDER BY pmi DESC, x ASC, y ASC LIMIT 30""".stripMargin)),

    // §2.24g — fixed-size token windows with stride (context-window
    // chunking for sequence training)
    Query("q_token_windows", (s, dir) =>
      TextAnalysis.tokenWindows(Tables.documents(s, dir),
        windowTokens = 64, stride = 32),
      sql("""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, n_tokens, i.win_idx
        |  FROM t, unnest(range(0, CAST(floor((n_tokens - 64) / 32) AS BIGINT) + 1)) AS i(win_idx)
        |  WHERE n_tokens >= 64)
        |SELECT w.doc_id, CAST(w.win_idx AS BIGINT) AS win_idx,
        |  md5(array_to_string(t.toks[w.win_idx*32+1 : w.win_idx*32+64], ' ')) AS win_hash,
        |  CAST(64 AS BIGINT) AS win_tokens
        |FROM w JOIN t ON w.doc_id = t.doc_id""".stripMargin)),

    // §2.24c2 — PORTABLE sub-document CDC dedup: identical content-defined
    // boundaries, chunk digests as mod-1e9+7 folds instead of FNV-1a, so
    // the whole chunker replays in DuckDB (struct-accumulator fold)
    Query("q_cdc_dedup_portable", (s, dir) => {
      import org.apache.spark.sql.graftnative.ContentChunkHashes.contentChunkHashesPortable
      val corpus = plantedDocs(s, dir)
      corpus
        .select(col("doc_id"),
          explode(contentChunkHashesPortable(col("text"), window = 8, maskBits = 5))
            .as("chunk_hash"))
        .groupBy(col("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .where(col("n_docs") >= 2)
    },
      sql(cdcPortableOracle)),

    // §2.16c — cross-corpus near-dup: document-level train/eval leak
    // check (the minhash analog of decontam); eval = truncated copies of
    // every 20th doc, so each must pair with its origin
    Query("q_cross_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val eval = docs.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("substring(text, 1, greatest(length(text) - 30, 1))").as("text"))
      Dedup.crossCorpusNearDups(docs, eval, k = 64, bands = 16, minSim = 0.5)
    },
      sql(crossDedupOracle)),

    // §2.16d — STAGED cross-corpus near-dup: the corpus side carries
    // exact replicas (every 10th doc copied verbatim at id+2000000);
    // exact-collapse to min-id representatives first, so each leaked
    // text pairs with its eval doc ONCE instead of once per replica —
    // the r5 verdict's scale fix for pair-output-bound q_cross_dedup.
    // Replica ids exceed the originals, so representatives are exactly
    // the original corpus and the pair set hash-matches the oracle's
    // replay of the same collapse.
    Query("q_cross_dedup_staged", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val eval = docs.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("substring(text, 1, greatest(length(text) - 30, 1))").as("text"))
      Dedup.stagedCrossCorpusNearDups(corpus, eval,
        "/tmp/graft_xstaged_" + dirTag(dir),
        k = 64, bands = 16, minSim = 0.5)
    },
      sql(crossDedupStagedOracle)),

    // §2.16d — incremental ingest dedup: a persisted signature index
    // seeded from a corpus slice, then TWO arriving batches decided
    // against it in sequence (exact-hash tier + banded minhash tier +
    // greedy within-batch tiers), keepers appending between batches.
    // Batch 1 carries fresh docs + verbatim replicas (-> exact_index) +
    // truncated near-copies (-> near_index) of corpus docs; batch 2
    // carries fresh docs + replicas of batch-1 FRESH docs, which only
    // dedup because batch-1 keepers joined the index — the append is
    // what the oracle certifies. Corpus text is scanned once, at seed.
    Query("q_dedup_ingest", (s, dir) => dedupIngestChainFrame(s, dir),
      sql(dedupIngestSql)),

    // §2.16k — the ingest TIMELINE (the operational curve of the 16h
    // family): per batch, arrivals split by verdict tier, the dup rate
    // in bp, and the signature-index size AFTER the batch's keeper
    // append — derived from the chain's decision log plus a
    // batches-sized triangular self-join (state-sized, no window over
    // unbounded input), never a re-scan of the corpora
    Query("q_ingest_timeline", (s, dir) => {
      val chain = dedupIngestChainFrame(s, dir)
      def n(v: String) =
        sum(when(col("verdict") === v, 1L).otherwise(0L))
      val perBatch = chain.groupBy(col("batch_no")).agg(
        count(lit(1)).as("n_arrived"),
        n("keep").as("n_keep"),
        n("exact_index").as("n_exact_index"),
        n("near_index").as("n_near_index"),
        n("exact_batch").as("n_exact_batch"),
        n("near_batch").as("n_near_batch"))
      val corpusN = ingestCorpusSlice(s, dir)
        .agg(count(lit(1)).as("corpus_n"))
      perBatch.as("a")
        .join(broadcast(perBatch.select(col("batch_no").as("b_no"),
          col("n_keep").as("b_keep"))), col("b_no") <= col("a.batch_no"))
        .groupBy(col("a.batch_no").as("batch_no"), col("a.n_arrived").as("n_arrived"),
          col("a.n_keep").as("n_keep"), col("a.n_exact_index").as("n_exact_index"),
          col("a.n_near_index").as("n_near_index"),
          col("a.n_exact_batch").as("n_exact_batch"),
          col("a.n_near_batch").as("n_near_batch"))
        .agg(sum(col("b_keep")).as("keeps_to_date"))
        .crossJoin(broadcast(corpusN))
        .select(col("batch_no"), col("n_arrived"), col("n_keep"),
          col("n_exact_index"), col("n_near_index"),
          col("n_exact_batch"), col("n_near_batch"),
          expr("(n_arrived - n_keep) * 10000 DIV n_arrived").as("dup_rate_bp"),
          (col("corpus_n") + col("keeps_to_date")).as("index_size_after"))
        .orderBy(col("batch_no"))
    },
      // the chain's decision log (the same twoBatchIngestCtes replay as
      // q_dedup_ingest) rolled to the per-batch operational curve; the
      // index-size-to-date is a batches-sized correlated sum
      sql(s"""WITH $twoBatchIngestCtes,
         |allv AS (
         |  SELECT CAST(1 AS BIGINT) AS batch_no, verdict FROM dec_b1
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT) AS batch_no, verdict FROM dec_b2),
         |pb AS (
         |  SELECT batch_no, count(*) AS n_arrived,
         |    CAST(sum(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_keep,
         |    CAST(sum(CASE WHEN verdict = 'exact_index' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_exact_index,
         |    CAST(sum(CASE WHEN verdict = 'near_index' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_near_index,
         |    CAST(sum(CASE WHEN verdict = 'exact_batch' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_exact_batch,
         |    CAST(sum(CASE WHEN verdict = 'near_batch' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_near_batch
         |  FROM allv GROUP BY 1),
         |cn AS (SELECT count(*) AS corpus_n FROM c0)
         |SELECT a.batch_no, a.n_arrived, a.n_keep, a.n_exact_index,
         |  a.n_near_index, a.n_exact_batch, a.n_near_batch,
         |  (a.n_arrived - a.n_keep) * 10000 // a.n_arrived AS dup_rate_bp,
         |  CAST(cn.corpus_n +
         |    (SELECT sum(b.n_keep) FROM pb b WHERE b.batch_no <= a.batch_no)
         |    AS BIGINT) AS index_size_after
         |FROM pb a CROSS JOIN cn
         |ORDER BY 1""".stripMargin)),

    // §2.16h — the RECURRING ingest shape q_dedup_ingest's one-shot chain
    // amortizes into: one arriving batch decided against the PERSISTED
    // bucketed signature index (hash table bucketed by text_hash, band
    // table bucketed by (band, bh) — each tier's index side scans in
    // place with zero exchange, BucketedIngestSpec asserts it). The
    // index build is the once-per-corpus layout cost, paid outside the
    // timed decide exactly like the graph family's edge tables; what
    // this query times is what a daily 100 TB ingest actually pays.
    Query("q_ingest_decide", (s, dir) => ingestDecideFrame(s, dir),
      sql(ingestDecideSql)),

    // §2.24z — per-source data card: doc/token mass, short-doc,
    // repetitive, and benchmark-contaminated counts — every gate rides
    // the SAME single scan as native projections (GramRunStats +
    // GramSetStats), one tiny per-source aggregate, zero joins
    Query("q_data_card", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") % 20 === 0)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 40), " ").as("text"))
      val (_, nHit) = graft.operators.Contamination.hitStats(col("text"), bench, 8)
      val toks = split(col("text"), " ")
      val rep = org.apache.spark.sql.graftnative.GramRunStats.gramRunStats(toks, 3)
      docs
        .select(col("source"), size(toks).cast("long").as("n_toks"),
          rep.as("st"), nHit.as("n_hit"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          count(when(col("n_toks") < 20, 1)).as("n_short"),
          count(when(col("st.dup_gram_cnt").cast("double") / col("st.n_grams") > 0.1, 1))
            .as("n_repetitive"),
          count(when(col("n_hit") > 0, 1)).as("n_contaminated"))
    },
      // composes the rep-filter and decontam oracle fragments, then
      // aggregates per source — the per-doc gate semantics are identical
      sql(s"""WITH tok AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(toks[u.i:u.i+2], ' ') AS gram
        |  FROM tok, unnest(range(1, len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 3),
        |pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
        |rep AS (
        |  SELECT doc_id FROM pg GROUP BY doc_id
        |  HAVING CAST(coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0) AS DOUBLE)
        |    / sum(cnt) > 0.1),
        |corpus AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 6),
        |      i -> ${sqlFold("array_to_string(toks[i:i+7], ' ')")})) AS hashes
        |  FROM tok WHERE len(toks) >= 8),
        |bt AS (
        |  SELECT toks[1:40] AS btoks FROM tok WHERE doc_id % 20 = 0),
        |bench AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(btoks) - 6),
        |      i -> ${sqlFold("array_to_string(btoks[i:i+7], ' ')")}))) AS h
        |  FROM bt WHERE len(btoks) >= 8),
        |hits AS (
        |  SELECT DISTINCT e.doc_id
        |  FROM (SELECT doc_id, unnest(hashes) AS h FROM corpus) e
        |  JOIN bench b ON e.h = b.h)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
        |  count(*) FILTER (WHERE len(toks) < 20) AS n_short,
        |  count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM rep)) AS n_repetitive,
        |  count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM hits)) AS n_contaminated
        |FROM tok GROUP BY source""".stripMargin)),

    // §2.24y — text normalization over planted irregularities: every 3rd
    // doc gets mixed case, a tab, a control char, and double spaces
    // appended; the cleanup must lowercase, strip, collapse, and flag
    // exactly those docs as changed
    Query("q_normalize", (s, dir) => {
      val planted = Tables.documents(s, dir)
        .withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit("  NOISY\tTail\u0001  end ")))
            .otherwise(col("text")))
      TextAnalysis.normalizeText(planted)
    },
      sql("""WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || '  NOISY' || chr(9) || 'Tail' || chr(1) || '  end '
        |      ELSE text END AS text
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id, text,
        |    lower(trim(regexp_replace(
        |      regexp_replace(text, '[\x00-\x1f]', ' ', 'g'), ' +', ' ', 'g'))) AS clean_text
        |  FROM planted)
        |SELECT doc_id, clean_text,
        |  CAST(length(text) AS BIGINT) AS n_chars_raw,
        |  CAST(length(clean_text) AS BIGINT) AS n_chars_clean,
        |  text <> clean_text AS changed
        |FROM norm""".stripMargin)),

    // §2.24i — PII-style pattern redaction over a corpus with planted
    // contact strings: every doc gets one email + one phone appended, the
    // redactor must scrub both and count them
    Query("q_redact", (s, dir) => {
      val planted = Tables.documents(s, dir)
        .withColumn("text", concat(col("text"),
          lit(" reach user"), col("doc_id"), lit("@example.com or 555-"),
          (col("doc_id") % 10000).cast("string")))
      TextAnalysis.redact(planted, Seq(
        "<EMAIL>" -> "[a-z0-9]+@[a-z0-9]+\\.[a-z]+",
        "<PHONE>" -> "555-[0-9]+"))
    },
      sql("""WITH planted AS (
        |  SELECT doc_id,
        |    text || ' reach user' || doc_id || '@example.com or 555-' || (doc_id % 10000) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(text, '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '555-[0-9]+', '<PHONE>', 'g') AS clean_text,
        |  CAST(length(regexp_replace(regexp_replace(text, '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '555-[0-9]+', '<PHONE>', 'g')) AS BIGINT) AS clean_chars,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS BIGINT) AS "n_<EMAIL>",
        |  CAST(len(regexp_extract_all(text, '555-[0-9]+')) AS BIGINT) AS "n_<PHONE>"
        |FROM planted""".stripMargin)),

    // §2.24o — Gopher-style repetition filter over a corpus with planted
    // repetitive docs: every 25th doc gets its first-10-token prefix
    // appended 5 times; the dup-3-gram fraction must flag exactly the
    // degenerate docs (plus any genuinely repetitive natural ones).
    Query("q_rep_filter", (s, dir) => {
      val prefix = array_join(slice(split(col("text"), " "), 1, 10), " ")
      val planted = Tables.documents(s, dir).withColumn("text",
        when(col("doc_id") % 25 === 0,
          concat(col("text"), lit(" "),
            array_join(array_repeat(prefix, 5), " ")))
          .otherwise(col("text")))
      TextAnalysis.repetitionMetrics(planted, n = 3, dupFracCut = 0.1)
    },
      sql("""WITH pre AS (
        |  SELECT doc_id, text,
        |    array_to_string((string_split(text, ' '))[1:10], ' ') AS pfx
        |  FROM documents),
        |planted AS (
        |  SELECT doc_id, CASE WHEN doc_id % 25 = 0
        |    THEN text || ' ' || pfx || ' ' || pfx || ' ' || pfx || ' ' || pfx || ' ' || pfx
        |    ELSE text END AS text
        |  FROM pre),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM planted),
        |g AS (
        |  SELECT doc_id, array_to_string(toks[u.i:u.i+2], ' ') AS gram
        |  FROM tok, unnest(range(1, len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 3),
        |pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
        |d AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |    CAST(max(cnt) AS BIGINT) AS top_gram_cnt,
        |    CAST(coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0) AS BIGINT) AS dup_gram_cnt
        |  FROM pg GROUP BY doc_id)
        |SELECT doc_id, n_grams, top_gram_cnt, dup_gram_cnt,
        |  floor(CAST(top_gram_cnt AS DOUBLE) / n_grams * 10000.0 + 0.5) / 10000.0 AS top_frac,
        |  floor(CAST(dup_gram_cnt AS DOUBLE) / n_grams * 10000.0 + 0.5) / 10000.0 AS dup_frac,
        |  (CAST(dup_gram_cnt AS DOUBLE) / n_grams > 0.1) AS is_repetitive
        |FROM d""".stripMargin)),

    // §2.24p — tokenizer-id mapping: frequency-ranked top-20 vocabulary
    // (broadcast), id sequence per document carried as one md5, OOV -> 0.
    Query("q_token_ids", (s, dir) =>
      TextAnalysis.tokenIds(Tables.documents(s, dir), vocabSize = 20),
      sql("""WITH tok AS (
        |  SELECT d.doc_id, u.i AS pos, d.toks[CAST(u.i AS INTEGER)] AS token
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
        |       unnest(range(1, len(d.toks) + 1)) AS u(i)),
        |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |vocab AS (
        |  SELECT token,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT) AS token_id
        |  FROM c QUALIFY token_id <= 20),
        |j AS (SELECT t.doc_id, t.pos, v.token_id FROM tok t LEFT JOIN vocab v USING (token)),
        |d2 AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(*) FILTER (WHERE token_id IS NULL) AS BIGINT) AS n_oov,
        |    md5(array_to_string(list(CAST(coalesce(token_id, 0) AS VARCHAR) ORDER BY pos ASC), ' ')) AS ids_hash
        |  FROM j GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_oov,
        |  floor(CAST(n_oov AS DOUBLE) / n_tokens * 10000.0 + 0.5) / 10000.0 AS oov_rate,
        |  ids_hash
        |FROM d2""".stripMargin)),

    // §2.24p3 — tokenizer vocabulary-coverage report: per-source token
    // mass, OOV mass, coverage basis points, distinct OOV types for the
    // same deterministic top-20 vocab as q_token_ids — the table that
    // sizes V (coverage elbow) and flags under-served sources
    Query("q_vocab_coverage", (s, dir) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, dir), vocabSize = 20),
      sql("""WITH t AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |v AS (
        |  SELECT token AS vtoken FROM (
        |    SELECT token, count(*) AS cnt FROM t GROUP BY token
        |    ORDER BY cnt DESC, token ASC LIMIT 20)),
        |j AS (
        |  SELECT t.source, t.token, v.vtoken IS NOT NULL AS in_vocab
        |  FROM t LEFT JOIN v ON t.token = v.vtoken)
        |SELECT source,
        |  count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT) AS n_oov_tokens,
        |  CAST(count(DISTINCT CASE WHEN NOT in_vocab THEN token END) AS BIGINT) AS n_oov_types,
        |  CAST(floor(CAST(count(*) - sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS DOUBLE)
        |    / count(*) * 10000.0 + 0.5) AS BIGINT) AS coverage_bp
        |FROM j GROUP BY source""".stripMargin)),

    // §2.24p2 — corpus-trained BPE subword tokenizer (Sennrich et al.):
    // 12 merges learned driver-side on the bounded word vocabulary,
    // applied as a codegen'd replace chain; per-doc subword counts plus a
    // full-segmentation md5 witness. Training is replayed stage-by-stage
    // in the oracle SQL (Bpe.oracleSql), like the IVF/PQ unrollings.
    Query("q_token_bpe", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Bpe.tokenCounts(docs,
        graft.operators.Bpe.trainMerges(docs, vocabSize = 1000, numMerges = 12))
    },
      // BPE training replayed in SQL: the 12 merge stages unrolled as
      // materialized CTEs (pair count -> argmax -> vocab rewrite), then the
      // learned replace chain applied per token — generated by Bpe.oracleSql
      sql(graft.operators.Bpe.oracleSql(1000, 12))),

    // §2.24p4 — per-source tokenizer-efficiency report: word/char/BPE
    // mass + fertility (BPE tokens per word, bp) and compression (chars
    // per BPE token) — the table a tokenizer evaluation across domains
    // reads; exact integer sums before the single ratio division
    Query("q_tokenizer_stats", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Bpe.tokenizerStats(docs,
        graft.operators.Bpe.trainMerges(docs, vocabSize = 1000, numMerges = 12))
    },
      sql(graft.operators.Bpe.tokenizerStatsOracleSql(1000, 12))),

    // §2.24q2 — token budget denominated in BPE subwords (the unit a real
    // pretraining budget is set in, unlike q_token_budget's whitespace
    // proxy); same portable basis-point membership fold.
    Query("q_bpe_budget", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.operators.Bpe.trainMerges(docs, vocabSize = 1000,
        numMerges = 12)
      // tokenBudgetKeep consumes its input twice (source totals, then the
      // keep filter); materialize the slim 3-column scored projection so
      // the 12-stage BPE replace chain runs over the corpus ONCE
      val scored = docs.select(col("doc_id"), col("source"),
        graft.operators.Bpe.tokenCount(col("text"), merges).as("n_tokens"))
        .localCheckpoint()
      graft.operators.Sampling.tokenBudgetKeep(scored, "source", "n_tokens",
        "doc_id", Seq("src0" -> 2000L, "src1" -> 3000L, "src2" -> 500000L),
        defaultBudget = 1200L)
        .groupBy(col("source"), col("total_tokens"), col("budget"), col("keep_bp"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("kept_tokens"))
    },
      sql(graft.operators.Bpe.budgetOracleSql(1000, 12,
      """CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 3000
        |         WHEN 'src2' THEN 500000 ELSE 1200 END""".stripMargin))),

    // §2.24j4 — the END-TO-END training-data chain in BPE units:
    // corpus-trained subword tokenization -> per-source token-budget
    // downsample -> deterministic salted-fold shard + in-shard order ->
    // per-shard manifest (docs, BPE token mass, bin-count lower bound
    // for a 512-token packer, order fingerprint). ONE corpus scan for
    // the 12-stage replace chain (materialized slim), one broadcast of
    // the per-source rate table, one shard-keyed aggregate. The greedy
    // packer itself is per-partition stateful (spec-verified, §2.24h);
    // this manifest publishes the ceil(tokens/cap) floor it packs
    // against — PackingSpec asserts the packer meets it per shard.
    Query("q_bpe_shards", (s, dir) => {
      import org.apache.spark.sql.graftnative.RollingHash.rollingHash
      val docs = Tables.documents(s, dir)
      val merges = graft.operators.Bpe.trainMerges(docs, vocabSize = 1000,
        numMerges = 12)
      val scored = docs.select(col("doc_id"), col("source"),
        graft.operators.Bpe.tokenCount(col("text"), merges).as("n_tokens"))
        .localCheckpoint()
      val kept = graft.operators.Sampling.tokenBudgetKeep(scored, "source",
        "n_tokens", "doc_id",
        Seq("src0" -> 2000L, "src1" -> 3000L, "src2" -> 500000L),
        defaultBudget = 1200L)
      val shard = pmod(
        rollingHash(concat(lit("shard:"), col("doc_id").cast("string"))),
        lit(8L))
      val ord = rollingHash(concat(lit("order:"), col("doc_id").cast("string")))
      kept
        .select(col("doc_id"), shard.as("shard"), ord.as("ord"),
          col("n_tokens"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bpe_tokens"),
          ceil(sum(col("n_tokens")).cast("double") / 512.0).cast("long")
            .as("min_bins"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("ord"), col("doc_id")))),
            x => x.getField("doc_id").cast("string")), " ")).as("order_fp"))
    },
      sql(graft.operators.Bpe.shardsOracleSql(1000, 12,
      """CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 3000
        |         WHEN 'src2' THEN 500000 ELSE 1200 END""".stripMargin,
      nShards = 8, binTokens = 512L))),

    // §2.24t — corpus-LM fluency score: self-trained token-bigram model,
    // mean log-probability per doc (micro-unit exact accumulation).
    Query("q_lm_score", (s, dir) =>
      TextAnalysis.lmScore(Tables.documents(s, dir)),
      sql(s"WITH $lmScoreCtes\nSELECT doc_id, n_bigrams, mean_logp_r FROM lm")),

    // §2.24t3 — CCNet perplexity bucketing: per-language head/middle/tail
    // thirds by the self-trained LM fluency score, exact rank-statistic
    // cut points (no interpolated percentile), corpus never globally
    // sorted — the bounded (lang, 4-dp score) histogram carries the rank
    // window and the per-lang cuts broadcast back.
    Query("q_ppl_buckets", (s, dir) =>
      TextAnalysis.pplBuckets(Tables.documents(s, dir)),
      sql(s"""WITH $lmScoreCtes,
        |sc AS (
        |  SELECT lm.doc_id, d.lang, lm.n_bigrams, lm.mean_logp_r
        |  FROM lm JOIN documents d USING (doc_id)),
        |hist AS (
        |  SELECT lang, mean_logp_r, count(*) AS cnt
        |  FROM sc GROUP BY lang, mean_logp_r),
        |cum AS (
        |  SELECT lang, mean_logp_r,
        |    sum(cnt) OVER (PARTITION BY lang ORDER BY mean_logp_r ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM hist),
        |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM hist GROUP BY lang),
        |cuts AS (
        |  SELECT c.lang,
        |    min(CASE WHEN c.cum >= floor((t.n + 2) / 3.0)
        |      THEN c.mean_logp_r END) AS cut_lo,
        |    min(CASE WHEN c.cum >= floor((t.n * 2 + 2) / 3.0)
        |      THEN c.mean_logp_r END) AS cut_hi
        |  FROM cum c JOIN tot t USING (lang) GROUP BY c.lang)
        |SELECT sc.doc_id, sc.lang, sc.n_bigrams, sc.mean_logp_r,
        |  cuts.cut_lo, cuts.cut_hi,
        |  CASE WHEN sc.mean_logp_r < cuts.cut_lo THEN 'tail'
        |       WHEN sc.mean_logp_r < cuts.cut_hi THEN 'middle'
        |       ELSE 'head' END AS bucket
        |FROM sc JOIN cuts USING (lang)""".stripMargin)),

    // §2.24t2 — MODEL-BASED quality filter (the fastText/DCLM classifier
    // shape): a Naive-Bayes unigram log-likelihood-ratio model trained
    // on curated-vs-junk seed partitions scores every doc; junk marker
    // tokens planted on the negative seed give the learned weights a
    // real signal to find, so planted docs score negative and clean
    // docs positive. Training explodes seeds only; the V-row model
    // broadcasts; scoring is one corpus gram scan.
    Query("q_nb_quality", (s, dir) => {
      val planted = Tables.documents(s, dir).withColumn("text",
        when(col("doc_id") % 5 === 1,
          concat(col("text"), lit(" zz9 qq8 xx7 kk6 vv5")))
          .otherwise(col("text")))
      TextAnalysis.nbQuality(planted,
        posSeed = col("doc_id") % 5 === 0,
        negSeed = col("doc_id") % 5 === 1,
        vocabSize = 500)
    },
      sql("""WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 1 THEN text || ' zz9 qq8 xx7 kk6 vv5'
        |         ELSE text END AS text
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, doc_id % 5 = 0 AS pos, doc_id % 5 = 1 AS neg, t.token
        |  FROM planted, unnest(string_split(text, ' ')) AS t(token)),
        |seed AS (SELECT * FROM tok WHERE pos OR neg),
        |cnt AS (
        |  SELECT token,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN neg THEN 1 ELSE 0 END) AS c0
        |  FROM seed GROUP BY token),
        |vocab AS (
        |  SELECT token, c1, c0 FROM cnt
        |  ORDER BY c1 + c0 DESC, token ASC LIMIT 500),
        |tot AS (
        |  SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN neg THEN 1 ELSE 0 END) AS n0
        |  FROM seed),
        |vsz AS (SELECT count(*) AS v FROM vocab),
        |model AS (
        |  SELECT token,
        |    CAST(floor((ln((c1 + 1.0) / CAST(n1 + v AS DOUBLE))
        |              - ln((c0 + 1.0) / CAST(n0 + v AS DOUBLE)))
        |         * 1000000.0 + 0.5) AS BIGINT) AS w_u
        |  FROM vocab, tot, vsz),
        |oov AS (
        |  SELECT CAST(floor((ln(CAST(n0 + v AS DOUBLE))
        |                   - ln(CAST(n1 + v AS DOUBLE)))
        |         * 1000000.0 + 0.5) AS BIGINT) AS w_oov
        |  FROM tot, vsz)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  floor(CAST(sum(coalesce(m.w_u, o.w_oov)) AS DOUBLE) / count(*)
        |        / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS nb_score_r,
        |  sum(coalesce(m.w_u, o.w_oov)) > 0 AS keep
        |FROM tok t LEFT JOIN model m USING (token) CROSS JOIN oov o
        |GROUP BY t.doc_id""".stripMargin)),

    // §2.24t5 — ROC AUC of the model-based quality filter (the
    // calibration-family contract applied to a CLASSIFIER's ranking
    // power): the q_nb_quality model trained on the SAME seeds scores a
    // held-out eval set (doc_id%5 in {2,3,4}; markers planted on %5==2
    // so the eval labels are ground truth the training never saw), and
    // AUC = P(score(good) > score(junk)) + ties/2 lands via the exact
    // rank-sum formulation over the bounded score histogram — never
    // all-pairs. Scores are exact integers (truncating-DIV micro-unit
    // means, engine-identical), so tie handling is engine-identical.
    Query("q_nb_auc", (s, dir) => Analytics.rocAuc(nbEvalScored(s, dir)),
      sql(nbAucOracle)),

    // §2.24t6 — precision/recall operating-point table over the same
    // held-out eval scores: thresholds at the exact decile rank
    // statistics of the score distribution, tp/fp/fn/tn + P/R/F1 in
    // basis points per cut — what moving the filter's keep threshold
    // actually costs, from the same scored frame as q_nb_auc (one
    // definition, the audited score cannot drift from the published one).
    Query("q_nb_pr", (s, dir) =>
      Analytics.prCurve(nbEvalScored(s, dir), nCuts = 10),
      sql(nbPrOracle)),

    // §2.24u — the MODERN corpus pipeline as one plan: length gate ->
    // repetition gate -> decontamination gate -> exact dedup ->
    // token-budget resample; per-source survivor summary. Same benchmark
    // construction as q_decontam, same budgets as q_token_budget.
    Query("q_corpus_prep2", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") % 20 === 0)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 40), " ").as("text"))
      graft.pipeline.CorpusPrep.prepareModern(docs, bench, minTokens = 20,
        maxDupFrac = 0.1, maxHitRatio = 0.2,
        budgets = Seq("src0" -> 400L, "src1" -> 700L, "src2" -> 100000L),
        defaultBudget = 250L)
    },
      sql(s"""WITH tok AS (
        |  SELECT doc_id, lang, source, string_split(text, ' ') AS toks,
        |    md5(text) AS text_hash
        |  FROM documents),
        |rep AS (
        |  SELECT doc_id,
        |    (CAST(coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0) AS DOUBLE)
        |      / sum(cnt) > 0.1) AS is_rep
        |  FROM (
        |    SELECT doc_id, array_to_string(toks[u.i:u.i+2], ' ') AS gram,
        |      count(*) AS cnt
        |    FROM tok, unnest(range(1, len(toks) - 1)) AS u(i)
        |    WHERE len(toks) >= 3
        |    GROUP BY doc_id, gram)
        |  GROUP BY doc_id),
        |corpusg AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 6),
        |      i -> ${sqlFold("array_to_string(toks[i:i+7], ' ')")})) AS hashes
        |  FROM tok WHERE len(toks) >= 8),
        |bt AS (
        |  SELECT toks[1:40] AS btoks FROM tok WHERE doc_id % 20 = 0),
        |bench AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(btoks) - 6),
        |      i -> ${sqlFold("array_to_string(btoks[i:i+7], ' ')")}))) AS h
        |  FROM bt WHERE len(btoks) >= 8),
        |ex AS (
        |  SELECT doc_id, CAST(len(hashes) AS BIGINT) AS n_grams, unnest(hashes) AS h
        |  FROM corpusg),
        |hit AS (
        |  SELECT e.doc_id,
        |    floor(count(*) * 10000.0 / e.n_grams + 0.5) / 10000.0 AS hit_ratio
        |  FROM ex e JOIN bench b ON e.h = b.h
        |  GROUP BY e.doc_id, e.n_grams),
        |s1 AS (
        |  SELECT t.doc_id, t.source, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |    t.text_hash
        |  FROM tok t
        |  LEFT JOIN rep r ON t.doc_id = r.doc_id
        |  LEFT JOIN hit h ON t.doc_id = h.doc_id
        |  WHERE len(t.toks) >= 20
        |    AND NOT coalesce(r.is_rep, false)
        |    AND coalesce(h.hit_ratio, 0.0) <= 0.2),
        |ded AS (
        |  SELECT * FROM (
        |    SELECT s1.*, min(doc_id) OVER (PARTITION BY text_hash) AS keep_id
        |    FROM s1)
        |  WHERE doc_id = keep_id),
        |rates AS (
        |  SELECT source,
        |    CAST(floor(least(1.0, CAST(b AS DOUBLE) / tt) * 10000.0 + 0.5) AS BIGINT) AS keep_bp
        |  FROM (
        |    SELECT source,
        |      sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS tt,
        |      CASE source WHEN 'src0' THEN 400 WHEN 'src1' THEN 700
        |        WHEN 'src2' THEN 100000 ELSE 250 END AS b
        |    FROM documents GROUP BY source)),
        |kept AS (
        |  SELECT d.source, r.keep_bp, d.n_tokens
        |  FROM ded d JOIN rates r USING (source)
        |  WHERE ${sqlFold("'budget:' || CAST(d.doc_id AS VARCHAR)")} % 10000 < r.keep_bp)
        |SELECT source, keep_bp, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept
        |FROM kept GROUP BY source, keep_bp""".stripMargin)),

    // §2.24aa — DSIR importance resampling (Xie et al. 2023): hashed
    // unigram+bigram models on the 'en' target slice vs the whole raw
    // corpus; k docs Gumbel-top-k resampled by the integer micro-unit
    // importance weight. Training aggregates are bounded by the bucket
    // count; scoring is one gram scan; selection a TakeOrdered top-k.
    Query("q_dsir", (s, dir) =>
      graft.operators.Sampling.dsirSelect(Tables.documents(s, dir),
        target = col("lang") === "en", buckets = 512, k = 150),
      sql(s"""WITH tok AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |fx AS (
        |  SELECT doc_id, lang = 'en' AS is_target, g.gram
        |  FROM tok, LATERAL unnest(list_concat(toks,
        |    CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |      ELSE [] END)) AS g(gram)),
        |fb AS (
        |  SELECT doc_id, is_target,
        |    ${sqlFold("'dsir:' || gram")} % 512 AS bucket
        |  FROM fx),
        |rc AS (SELECT bucket, count(*) AS cr FROM fb GROUP BY bucket),
        |tc AS (SELECT bucket, count(*) AS ct FROM fb WHERE is_target GROUP BY bucket),
        |nr AS (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) AS n_raw FROM rc),
        |nt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS n_tgt FROM tc),
        |model AS (
        |  SELECT rc.bucket,
        |    CAST(floor((ln((coalesce(tc.ct, 0) + 1) / CAST(nt.n_tgt + 512 AS DOUBLE))
        |      - ln((rc.cr + 1) / CAST(nr.n_raw + 512 AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS w_u
        |  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN nr CROSS JOIN nt),
        |sc AS (
        |  SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |    CAST(coalesce(sum(m.w_u), 0) AS BIGINT) AS logw_u
        |  FROM fb JOIN model m USING (bucket)
        |  GROUP BY fb.doc_id),
        |ky AS (
        |  SELECT doc_id, n_feats, logw_u,
        |    CAST(floor(-ln(-ln((CAST(${sqlFold("'dsir:g:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS DOUBLE) + 0.5) / 1000000.0)) * 1000000.0 + 0.5) AS BIGINT) AS g_u,
        |    logw_u + CAST(floor(-ln(-ln((CAST(${sqlFold("'dsir:g:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS DOUBLE) + 0.5) / 1000000.0)) * 1000000.0 + 0.5) AS BIGINT) AS key_u
        |  FROM sc),
        |sel AS (SELECT doc_id FROM ky ORDER BY key_u DESC, doc_id ASC LIMIT 150)
        |SELECT ky.doc_id, ky.n_feats, ky.logw_u, ky.g_u, ky.key_u,
        |  (ky.doc_id IN (SELECT doc_id FROM sel)) AS selected
        |FROM ky""".stripMargin)),

    // §2.24j — portable stratified resampling to a target language mix;
    // per-language counts certify both the bucket rule and the rates
    Query("q_stratified_sample", (s, dir) =>
      graft.operators.Sampling.portableStratifiedSample(
        Tables.documents(s, dir), "lang", "doc_id",
        Seq("en" -> 50, "fr" -> 100, "es" -> 25), defaultPct = 10)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc")),
      sql(s"""WITH b AS (
        |  SELECT doc_id, lang,
        |    ${sqlFold("'strat:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 50 WHEN 'fr' THEN 100
        |                         WHEN 'es' THEN 25 ELSE 10 END
        |GROUP BY lang""".stripMargin)),

    // §2.24j2 — deterministic training-shard plan: 16 hash shards, salted
    // in-shard shuffle order, per-shard doc/token/char mass + an
    // order-sensitive doc_id fingerprint a resumed writer verifies
    Query("q_shard_plan", (s, dir) =>
      graft.operators.Sampling.shardPlan(Tables.documents(s, dir), nShards = 16),
      // replays both salted folds; the fingerprint hashes doc_ids in
      // (order-fold, doc_id) order exactly as the Spark struct sort does
      sql(s"""WITH h AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, n_chars,
        |    ${sqlFold("'shard:' || CAST(doc_id AS VARCHAR)")} % 16 AS shard,
        |    ${sqlFold("'order:' || CAST(doc_id AS VARCHAR)")} AS ord
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY ord, doc_id)) AS order_fp
        |FROM h GROUP BY shard""".stripMargin)),

    // §2.24j3 — reproducible per-source eval slice: 5 docs per source in
    // salted-hash order, skew-safe two-phase rank
    Query("q_group_sample", (s, dir) =>
      graft.operators.Sampling.groupSample(
        Tables.documents(s, dir), "source", k = 5),
      groupSampleOracle),

    // §2.24w — discrete EPOCH / repetition plan (r16, the
    // data-constrained-scaling schedule): whole epochs granted in
    // (epoch ASC, priority DESC, source ASC) order — breadth before
    // depth, priority breaks ties — under a budget of 3.37x the
    // unique corpus (33700 bp, derived in-plan from a 1-row
    // broadcast), repetition capped at 5; the greedy fold is ONE
    // cumulative window over the bounded |sources|x5 grant frame
    Query("q_epoch_plan", (s, dir) =>
      graft.operators.Sampling.epochPlan(
        Tables.documents(s, dir).select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        "source", "n_tokens",
        priority = expr("CAST(substring(source, 4) AS BIGINT) % 3 + 1"),
        budgetBp = 33700L, maxEpochs = 5),
      // two-phase Spark rank equals the single global rank (total order)
      // the grant order, the in-plan budget, and the prefix rule all
      // replay as one window cumsum — no recursion, no driver state
      sql("""WITH tot AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |      AS total_tokens,
        |    CAST(CAST(substring(source, 4) AS BIGINT) % 3 + 1 AS BIGINT)
        |      AS priority
        |  FROM documents GROUP BY source
        |  HAVING sum(len(string_split(text, ' '))) > 0),
        |b AS (SELECT (sum(total_tokens) * 33700) // 10000 AS budget
        |  FROM tot),
        |g AS (
        |  SELECT source, priority, total_tokens, CAST(e.e AS BIGINT)
        |    AS epoch
        |  FROM tot, range(1, 6) AS e(e)),
        |c AS (
        |  SELECT source, priority, total_tokens, epoch,
        |    sum(total_tokens) OVER (ORDER BY epoch ASC, priority DESC,
        |      source ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM g)
        |SELECT source, priority, total_tokens,
        |  CAST(max(epoch) AS BIGINT) AS epochs,
        |  CAST(sum(total_tokens) AS BIGINT) AS tokens_used
        |FROM c CROSS JOIN b WHERE cum <= budget
        |GROUP BY source, priority, total_tokens
        |ORDER BY source""".stripMargin)),

    // §2.24t — per-domain document cap: at most 30 docs per source by
    // (n_chars DESC, doc_id) priority, skew-safe two-phase top-N
    Query("q_domain_cap", (s, dir) =>
      graft.operators.Sampling.domainCap(Tables.documents(s, dir), cap = 30),
      // cap result is plan-independent: the two-phase Spark top-N equals one
      // global row_number because the per-domain priority order is total
      sql("""SELECT doc_id, source, n_chars, rank FROM (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rank
        |  FROM documents) r
        |WHERE rank <= 30""".stripMargin)),

    // §2.24u — corpus-level boilerplate line removal: lines in > 10
    // distinct docs (the planted promo banners) are dropped from every
    // doc; footer classes are rare enough to survive at oracle scale
    Query("q_line_dedup", (s, dir) =>
      Dedup.lineDedup(Dedup.withBoilerplate(Tables.documents(s, dir)),
        maxDocs = 10),
      sql("""WITH corpus AS (
        |  SELECT doc_id,
        |    'promo banner ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) || text
        |      || chr(10) || 'footer contact ' || CAST(doc_id % 97 AS VARCHAR) AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, t.i AS idx, s[CAST(t.i AS INTEGER)] AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS s FROM corpus),
        |       unnest(range(1, len(s)+1)) AS t(i)),
        |boiler AS (
        |  SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) > 10),
        |flagged AS (
        |  SELECT l.doc_id, l.idx, l.line, b.line IS NOT NULL AS is_b
        |  FROM lines l LEFT JOIN boiler b ON l.line = b.line)
        |SELECT doc_id,
        |  COALESCE(string_agg(CASE WHEN NOT is_b THEN line END,
        |    chr(10) ORDER BY idx), '') AS clean_text,
        |  count(*) FILTER (WHERE is_b) AS n_dropped,
        |  count(*) AS n_lines
        |FROM flagged GROUP BY doc_id""".stripMargin)),

    // §2.24r — training-mix plan: apportion a 20k-token global budget by
    // per-source integer weights; epochs_bp > 10000 marks sources that
    // must oversample to hit their target.
    Query("q_mix_plan", (s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Sampling.mixPlan(scored, "source", "n_tokens",
        Seq("src0" -> 8, "src1" -> 4, "src2" -> 2), defaultWeight = 1,
        totalBudget = 20000L)
    },
      sql("""WITH s AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (
        |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |    CAST(CASE source WHEN 'src0' THEN 8 WHEN 'src1' THEN 4
        |         WHEN 'src2' THEN 2 ELSE 1 END AS BIGINT) AS weight
        |  FROM s GROUP BY source),
        |w AS (SELECT CAST(sum(weight) AS BIGINT) AS weight_sum FROM t)
        |SELECT source, weight, total_tokens,
        |  CAST(floor(20000 * weight / weight_sum) AS BIGINT) AS target_tokens,
        |  CAST(floor(CAST(CAST(floor(20000 * weight / weight_sum) AS BIGINT) AS DOUBLE)
        |    / total_tokens * 10000.0 + 0.5) AS BIGINT) AS epochs_bp
        |FROM t CROSS JOIN w""".stripMargin)),

    // §2.24r2 — temperature-scaled mix (XLM-R's p^alpha rebalancing,
    // alpha = 1/2 because sqrt is the one IEEE-exact power): per-source
    // weight floor(sqrt(tokens)*10^6 + 0.5), integer share/target math
    // after that — low-resource sources boosted, high-resource capped,
    // hash-exact on any engine
    Query("q_temp_mix", (s, dir) =>
      graft.operators.Sampling.temperatureMixPlan(
        Tables.documents(s, dir)
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
        "source", "n_tokens", totalBudget = 20000L),
      // sqrt is IEEE-exact-rounded, so floor(sqrt(x)*1e6 + 0.5) yields
      // identical longs on both engines; the target division runs in
      // HUGEINT mirroring Spark's decimal(38,0) DIV
      sql("""WITH s AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (
        |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |  FROM s GROUP BY source),
        |t2 AS (
        |  SELECT source, total_tokens,
        |    CAST(floor(sqrt(CAST(total_tokens AS DOUBLE)) * 1000000.0 + 0.5)
        |      AS BIGINT) AS w_micro
        |  FROM t),
        |w AS (SELECT CAST(sum(w_micro) AS BIGINT) AS w_sum FROM t2),
        |tt AS (
        |  SELECT source, total_tokens, w_micro,
        |    CAST((CAST(20000 AS HUGEINT) * w_micro) // CAST(w_sum AS HUGEINT)
        |      AS BIGINT) AS target_tokens
        |  FROM t2 CROSS JOIN w)
        |SELECT source, total_tokens, w_micro, target_tokens,
        |  CAST(floor(CAST(target_tokens AS DOUBLE)
        |    / CAST(total_tokens AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)
        |    AS epochs_bp
        |FROM tt ORDER BY source""".stripMargin)),

    // §2.24s — corpus snapshot delta: today vs a prior snapshot missing
    // 10% of docs (added), with 1/17 of shared texts altered (changed)
    // and a band of retired ids (deleted). Slim (id, md5) projection
    // before the full-outer join.
    Query("q_corpus_delta", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val today = docs.select(col("doc_id"), md5(col("text")).as("content_hash"))
      val prior = docs.where(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 17 === 0, concat(col("text"), lit(" [stale]")))
            .otherwise(col("text"))).as("content_hash"))
        .unionByName(docs.where(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            md5(col("text")).as("content_hash")))
      Etl.snapshotDelta(today, prior, "doc_id", "content_hash")
    },
      sql("""WITH today AS (SELECT doc_id, md5(text) AS h FROM documents),
        |prior AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 17 = 0 THEN text || ' [stale]' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT doc_id + 5000000, md5(text) FROM documents WHERE doc_id % 100 = 0),
        |j AS (
        |  SELECT coalesce(t.doc_id, p.doc_id) AS doc_id,
        |    CASE WHEN p.doc_id IS NULL THEN 'added'
        |         WHEN t.doc_id IS NULL THEN 'deleted'
        |         WHEN t.h <> p.h THEN 'changed' END AS change
        |  FROM today t FULL OUTER JOIN prior p ON t.doc_id = p.doc_id)
        |SELECT doc_id, change FROM j WHERE change IS NOT NULL""".stripMargin)),

    // §2.24q — token-budget downsampling: resample three sources to fixed
    // token budgets (the rest to a default), membership decided by the
    // portable basis-point id fold. Summary certifies totals, keep rates,
    // and the kept token mass per source.
    Query("q_token_budget", (s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Sampling.tokenBudgetKeep(scored, "source", "n_tokens",
        "doc_id", Seq("src0" -> 400L, "src1" -> 700L, "src2" -> 100000L),
        defaultBudget = 250L)
        .groupBy(col("source"), col("total_tokens"), col("budget"), col("keep_bp"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("kept_tokens"))
    },
      sql(s"""WITH s AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |    CAST(CASE source WHEN 'src0' THEN 400 WHEN 'src1' THEN 700
        |         WHEN 'src2' THEN 100000 ELSE 250 END AS BIGINT) AS budget
        |  FROM s GROUP BY source),
        |r2 AS (
        |  SELECT source, total_tokens, budget,
        |    CAST(floor(least(1.0, CAST(budget AS DOUBLE) / total_tokens) * 10000.0 + 0.5) AS BIGINT) AS keep_bp
        |  FROM r),
        |k AS (
        |  SELECT s.source, s.n_tokens, r2.total_tokens, r2.budget, r2.keep_bp
        |  FROM s JOIN r2 USING (source)
        |  WHERE ${sqlFold("'budget:' || CAST(s.doc_id AS VARCHAR)")} % 10000 < r2.keep_bp)
        |SELECT source, total_tokens, budget, keep_bp,
        |  count(*) AS n_kept, CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
        |FROM k GROUP BY source, total_tokens, budget, keep_bp""".stripMargin)),

    // §2.24k — per-language corpus statistics report: doc counts, exact
    // token-count percentiles, exact mean chars — the summary a corpus
    // curation run publishes after every build
    Query("q_corpus_stats", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          expr("percentile(n_tokens, 0.5)").as("tokens_p50"),
          expr("percentile(n_tokens, 0.95)").as("tokens_p95"),
          sum(col("n_tokens")).as("total_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars")),
      sql("""WITH t AS (
        |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  quantile_cont(n_tokens, 0.5) AS tokens_p50,
        |  quantile_cont(n_tokens, 0.95) AS tokens_p95,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
        |FROM t GROUP BY lang""".stripMargin)),

    // §2.25 — windowed top-k per group
    Query("q_doc_topk", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("n_chars").desc, col("doc_id").asc)
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
    },
      sql("""SELECT doc_id, lang, n_chars, rk FROM (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 3""".stripMargin)),

    // §2.26 — multimodal binary-column plumbing
    // §2.35 promoted to a oracle-checked row (r15 — the r14 verdict's
    // named honest gap): REAL javax.imageio decode of a deterministic
    // solid-color PNG corpus; dimensions and the single hot luminance
    // bin come off the decoded RASTER, while the oracle replays the
    // generator's CLOSED FORM (lossless PNG + solid color make every
    // decoded property a pure function of i) — a wrong decode, wrong
    // luma formula, or wrong histogram binning mismatches loudly
    Query("q_media_decode", (s, dir) => {
      val media = graft.operators.Multimodal.syntheticImageCorpus(s, 48)
      graft.operators.Multimodal.extractFeatures(media, featureDim = 16)
        .toDF()
        .select(col("media_id"),
          posexplode(col("feature")).as(Seq("bin", "mass")),
          col("width"), col("height"))
        .where(col("mass") > 0.5f)
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("bin").cast("long").as("hot_bin"),
          expr("CAST(floor(CAST(mass AS DOUBLE) * 1000000.0 + 0.5)" +
            " AS BIGINT)").as("hot_mass_micro"))
        .orderBy(col("media_id"))
    },
      // the generator's closed form: dims from i, Rec.601 integer luma of
      // the solid color, bin = lum*16//256, hot mass exactly 1.0 (lossless
      // PNG, solid color, float counts exact to 2^24)
      sql("""SELECT CAST(i AS BIGINT) AS media_id,
        |  CAST(8 + (i % 5) * 3 AS BIGINT) AS width,
        |  CAST(8 + (i % 7) * 2 AS BIGINT) AS height,
        |  CAST(((((i * 37) % 256) * 299 + ((i * 59) % 256) * 587
        |    + ((i * 83) % 256) * 114) // 1000) * 16 // 256 AS BIGINT)
        |    AS hot_bin,
        |  CAST(1000000 AS BIGINT) AS hot_mass_micro
        |FROM range(0, 48) AS t(i) ORDER BY media_id""".stripMargin)),

    // §2.35c — the audio twin of q_media_decode (r15): REAL javax.sound
    // PCM16 decode of a constant-amplitude WAV corpus; sample rate,
    // channel count, and the (provably flat) amplitude envelope come
    // off the decoded frames, the oracle replays the generator's
    // closed form (constant signal -> every bin exactly |v|/32768, a
    // power-of-two denominator exact in double AND float)
    Query("q_audio_decode", (s, dir) => {
      val media = graft.operators.Multimodal.syntheticAudioCorpus(s, 48)
      graft.operators.Multimodal.extractFeatures(media, featureDim = 16)
        .toDF()
        .select(col("media_id"), col("width").cast("long").as("sample_rate"),
          col("height").cast("long").as("channels"),
          expr("CAST(floor(CAST(array_min(feature) AS DOUBLE)" +
            " * 1000000.0 + 0.5) AS BIGINT)").as("env_min_micro"),
          expr("CAST(floor(CAST(array_max(feature) AS DOUBLE)" +
            " * 1000000.0 + 0.5) AS BIGINT)").as("env_max_micro"))
        .orderBy(col("media_id"))
    },
      // the audio generator's closed form: rate/channels from i, the flat
      // envelope's exact |v|/32768 bin value through one IEEE divide
      sql("""SELECT CAST(i AS BIGINT) AS media_id,
        |  CAST(8000 + (i % 5) * 1000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(floor(CAST(256 * (1 + (i % 100)) AS DOUBLE) / 32768.0
        |    * 1000000.0 + 0.5) AS BIGINT) AS env_min_micro,
        |  CAST(floor(CAST(256 * (1 + (i % 100)) AS DOUBLE) / 32768.0
        |    * 1000000.0 + 0.5) AS BIGINT) AS env_max_micro
        |FROM range(0, 48) AS t(i) ORDER BY media_id""".stripMargin)),

    Query("q_multimodal_meta", (s, dir) =>
      TextAnalysis.binaryMeta(Tables.documents(s, dir), chunkBytes = 256),
      sql("""SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS n_chunks,
        |  md5(text) AS content_hash
        |FROM documents""".stripMargin)),

    // §2.24ac — fill-in-the-middle transformation: fold-derived cut
    // points, PSM/SPM modes, 90% apply rate, md5-audited — pure projection
    Query("q_fim", (s, dir) =>
      TextAnalysis.fimTransform(Tables.documents(s, dir)),
      sql {
        def fold(salt: String) =
          sqlFold(s"'$salt' || CAST(doc_id AS VARCHAR)")
        s"""WITH t AS (
          |  SELECT doc_id, text, string_split(text, ' ') AS toks,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
          |f AS (
          |  SELECT *, ${fold("fim:a:")} AS fa, ${fold("fim:b:")} AS fb,
          |    ${fold("fim:r:")} AS fr, ${fold("fim:m:")} AS fm
          |  FROM t),
          |d AS (
          |  SELECT doc_id, text, toks, n,
          |    (n >= 3 AND fr % 10 < 9) AS applied,
          |    CAST(CASE WHEN n >= 3 AND fr % 10 < 9
          |      THEN least(fa % (n - 1) + 1, fb % (n - 1) + 1) ELSE 0 END AS INT) AS a,
          |    CAST(CASE WHEN n >= 3 AND fr % 10 < 9
          |      THEN greatest(fa % (n - 1) + 1, fb % (n - 1) + 1) ELSE 0 END AS INT) AS b,
          |    CASE WHEN NOT (n >= 3 AND fr % 10 < 9) THEN 'none'
          |         WHEN fm % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode
          |  FROM f),
          |seg AS (
          |  SELECT *, array_to_string(toks[1 : a], ' ') AS pre,
          |    array_to_string(toks[a + 1 : b], ' ') AS mid,
          |    array_to_string(toks[b + 1 : CAST(n AS INT)], ' ') AS suf
          |  FROM d)
          |SELECT doc_id, n AS n_tokens, applied, mode, a, b,
          |  md5(CASE mode
          |    WHEN 'psm' THEN concat_ws(' ', '<PRE>', pre, '<SUF>', suf, '<MID>', mid)
          |    WHEN 'spm' THEN concat_ws(' ', '<SUF>', suf, '<PRE>', pre, '<MID>', mid)
          |    ELSE text END) AS out_fp
          |FROM seg""".stripMargin
      }),

    // §2.24ab — T5-style span corruption: deterministic denoising pairs as
    // a pure projection (fold-derived span starts, merged runs, numbered
    // sentinels; md5 pair fingerprints) — zero shuffle, zero RNG state
    Query("q_span_corrupt", (s, dir) =>
      TextAnalysis.spanCorrupt(Tables.documents(s, dir)),
      sql(s"""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |pos AS (
        |  SELECT doc_id, CAST(p.pos AS BIGINT) AS pos, toks[p.pos + 1] AS tok
        |  FROM t, unnest(range(0, len(toks))) AS p(pos)),
        |h AS (
        |  SELECT doc_id, pos, tok,
        |    (${sqlFold(" 'corrupt:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")} % 20 = 0) AS start
        |  FROM pos),
        |c AS (
        |  SELECT *, (start OR coalesce(lag(start, 1) OVER w, false)
        |                   OR coalesce(lag(start, 2) OVER w, false)) AS cov
        |  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |rb AS (
        |  SELECT *, (cov AND NOT coalesce(lag(cov, 1) OVER w, false)) AS run_begin
        |  FROM c WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |r AS (
        |  SELECT *,
        |    sum(CASE WHEN run_begin THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
        |  FROM rb)
        |SELECT doc_id,
        |  count(*) AS n_tokens,
        |  count(CASE WHEN cov THEN 1 END) AS n_masked,
        |  CAST(max(k) AS BIGINT) AS n_spans,
        |  md5(coalesce(string_agg(
        |    CASE WHEN NOT cov THEN tok
        |         WHEN run_begin THEN '<extra_id_' || CAST(k - 1 AS VARCHAR) || '>'
        |    END, ' ' ORDER BY pos), '')) AS input_fp,
        |  md5(coalesce(string_agg(
        |    CASE WHEN run_begin
        |           THEN '<extra_id_' || CAST(k - 1 AS VARCHAR) || '>' || ' ' || tok
        |         WHEN cov THEN tok
        |    END, ' ' ORDER BY pos), '')) AS target_fp
        |FROM r GROUP BY doc_id""".stripMargin)),

    // §2.22b — language-ID confusion matrix: per (true, predicted) cell
    // counts + row share in bp + diagonal flag — the classifier's error
    // STRUCTURE, not just its accuracy
    Query("q_langid_confusion", (s, dir) =>
      TextAnalysis.langIdConfusion(Tables.documents(s, dir), langMarkers),
      // the same marker scoring as q_lang_id's oracle, aggregated to cells
      sql("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS BIGINT) AS score_en,
        |  CAST(len(list_filter(toks, x -> x IN ('table','row'))) AS BIGINT) AS score_fr,
        |  CAST(len(list_filter(toks, x -> x IN ('data','value'))) AS BIGINT) AS score_es,
        |  CAST(len(list_filter(toks, x -> x IN ('join','group'))) AS BIGINT) AS score_de,
        |  CAST(len(list_filter(toks, x -> x IN ('spark','stream'))) AS BIGINT) AS score_zh
        |  FROM t),
        |g AS (SELECT *, greatest(score_en, score_fr, score_es, score_de, score_zh) AS mx FROM s),
        |p AS (SELECT lang AS true_lang,
        |  CASE WHEN score_en = mx THEN 'en' WHEN score_fr = mx THEN 'fr'
        |       WHEN score_es = mx THEN 'es' WHEN score_de = mx THEN 'de'
        |       WHEN score_zh = mx THEN 'zh' ELSE 'und' END AS predicted_lang
        |  FROM g),
        |cells AS (
        |  SELECT true_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM p GROUP BY 1, 2),
        |tot AS (
        |  SELECT true_lang, CAST(sum(n_docs) AS BIGINT) AS n_true
        |  FROM cells GROUP BY 1)
        |SELECT c.true_lang, c.predicted_lang, c.n_docs,
        |  CAST(floor(c.n_docs * 10000.0 / t2.n_true + 0.5) AS BIGINT) AS row_bp,
        |  c.true_lang = c.predicted_lang AS correct
        |FROM cells c JOIN tot t2 ON c.true_lang = t2.true_lang
        |ORDER BY c.true_lang, c.predicted_lang""".stripMargin)),

    // §2.22c — per-window language segmentation: the doc-level marker
    // classifier applied to fixed 16-token windows, per-doc switch
    // structure (code-switching detection) — ONE shuffle-free projection
    Query("q_lang_segments", (s, dir) =>
      TextAnalysis.langSegments(Tables.documents(s, dir), langMarkers,
        window = 16),
      // q_lang_id's marker scoring applied per 16-token window: nested
      // list lambdas build per-segment score vectors, the argmax CASE
      // keeps the en,fr,es,de,zh tie order (= Spark's array_position on
      // the first max), switches/votes derive from the segment list
      sql("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(text) >= 1),
        |p AS (SELECT doc_id, lang, toks,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    (CAST(len(toks) AS BIGINT) + 15) // 16 AS n_segments
        |  FROM t),
        |sc AS (SELECT doc_id, lang, n_tokens, n_segments,
        |  list_transform(
        |    list_transform(range(0, n_segments), i -> toks[(i*16+1):(i*16+16)]),
        |    seg -> [
        |      CAST(len(list_filter(seg, x -> x IN ('the','a'))) AS BIGINT),
        |      CAST(len(list_filter(seg, x -> x IN ('table','row'))) AS BIGINT),
        |      CAST(len(list_filter(seg, x -> x IN ('data','value'))) AS BIGINT),
        |      CAST(len(list_filter(seg, x -> x IN ('join','group'))) AS BIGINT),
        |      CAST(len(list_filter(seg, x -> x IN ('spark','stream'))) AS BIGINT)]) AS segsc
        |  FROM p),
        |sl AS (SELECT doc_id, lang, n_tokens, n_segments,
        |  list_transform(segsc, s ->
        |    CASE WHEN s[1] = list_aggregate(s, 'max') THEN 'en'
        |         WHEN s[2] = list_aggregate(s, 'max') THEN 'fr'
        |         WHEN s[3] = list_aggregate(s, 'max') THEN 'es'
        |         WHEN s[4] = list_aggregate(s, 'max') THEN 'de'
        |         ELSE 'zh' END) AS segl
        |  FROM sc),
        |v AS (SELECT doc_id, lang, n_tokens, n_segments, segl,
        |  [CAST(len(list_filter(segl, x -> x = 'en')) AS BIGINT),
        |   CAST(len(list_filter(segl, x -> x = 'fr')) AS BIGINT),
        |   CAST(len(list_filter(segl, x -> x = 'es')) AS BIGINT),
        |   CAST(len(list_filter(segl, x -> x = 'de')) AS BIGINT),
        |   CAST(len(list_filter(segl, x -> x = 'zh')) AS BIGINT)] AS votes
        |  FROM sl)
        |SELECT doc_id, lang, n_tokens, n_segments,
        |  array_to_string(segl, ',') AS seg_langs,
        |  CAST(len(list_filter(range(1, CAST(n_segments AS INT)),
        |    i -> segl[i] != segl[i+1])) AS BIGINT) AS n_switches,
        |  CAST(len(list_distinct(segl)) AS BIGINT) AS n_langs,
        |  CASE WHEN votes[1] = list_aggregate(votes, 'max') THEN 'en'
        |       WHEN votes[2] = list_aggregate(votes, 'max') THEN 'fr'
        |       WHEN votes[3] = list_aggregate(votes, 'max') THEN 'es'
        |       WHEN votes[4] = list_aggregate(votes, 'max') THEN 'de'
        |       ELSE 'zh' END AS major_lang,
        |  len(list_distinct(segl)) > 1 AS is_code_switched
        |FROM v""".stripMargin)),

    // §2.24x — PII-pattern screen (r16 cont.): which sources carry
    // email/phone/long-id shaped strings and at what rate — the
    // route-to-scrubber triage gate; dialect-safe regexes only
    Query("q_pii_scan", (s, dir) =>
      TextAnalysis.piiScan(Tables.documents(s, dir)),
      // contains-match regex screens, dialect-safe patterns; any = the
      // dedup'd union, rates integer bp
      sql("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN regexp_matches(text,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS email_docs,
        |  CAST(sum(CASE WHEN regexp_matches(text,
        |    '[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS phone_docs,
        |  CAST(sum(CASE WHEN regexp_matches(text, '[0-9]{9,}')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS longid_docs,
        |  CAST(sum(CASE WHEN regexp_matches(text,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')
        |    OR regexp_matches(text, '[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}')
        |    OR regexp_matches(text, '[0-9]{9,}')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS any_docs,
        |  CAST((sum(CASE WHEN regexp_matches(text,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}') THEN 1 ELSE 0 END)
        |    * 10000) // count(*) AS BIGINT) AS email_bp,
        |  CAST((sum(CASE WHEN regexp_matches(text,
        |    '[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}') THEN 1 ELSE 0 END)
        |    * 10000) // count(*) AS BIGINT) AS phone_bp,
        |  CAST((sum(CASE WHEN regexp_matches(text, '[0-9]{9,}')
        |    THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT)
        |    AS longid_bp,
        |  CAST((sum(CASE WHEN regexp_matches(text,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')
        |    OR regexp_matches(text, '[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}')
        |    OR regexp_matches(text, '[0-9]{9,}')
        |    THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) AS any_bp
        |FROM documents
        |WHERE source IS NOT NULL AND text IS NOT NULL
        |GROUP BY source ORDER BY source""".stripMargin)),

    // §2.24h promoted to a oracle-checked row (r15): the deterministic
    // LENGTH-BUCKETED packing plan — packGreedy stays the honest
    // per-partition imperative path, this is the engine-replayable
    // strategy a 100 TB run schedules: bit-length classes, fixed
    // per-class capacity (hard cap total <= maxTokens BY CONSTRUCTION,
    // certified per bin), salted-fold sharding so no window partition
    // is corpus-sized, order-free member fingerprints for resume
    Query("q_pack_plan", (s, dir) =>
      graft.operators.Packing.packPlanBucketed(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        maxTokens = 256L, shards = 4),
      // bit-length classes + base-257 fold shards + fixed-capacity
      // row_number DIV bins + order-free md5 member fingerprints replayed
      sql(s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(${sqlFold("'pack:' || CAST(doc_id AS VARCHAR)")} % 4 AS BIGINT)
        |      AS shard
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, n_tokens, shard,
        |    CASE WHEN n_tokens > 256 THEN CAST(-1 AS BIGINT)
        |         ELSE CAST(length(bin(n_tokens)) AS BIGINT) END AS cls
        |  FROM t),
        |c2 AS (
        |  SELECT *, CASE WHEN cls = -1 THEN CAST(1 AS BIGINT)
        |    ELSE greatest(CAST(1 AS BIGINT),
        |      256 // (CAST(1 AS BIGINT) << CAST(cls AS INT))) END AS cap
        |  FROM c),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY cls, shard ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM c2),
        |g AS (
        |  SELECT cls, shard, (rn - 1) // cap AS bin_idx,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |    md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
        |      AS members_fp
        |  FROM r GROUP BY 1, 2, 3)
        |SELECT 'c' || CAST(cls AS VARCHAR) || ':' || CAST(shard AS VARCHAR)
        |    || ':' || CAST(bin_idx AS VARCHAR) AS bin_id,
        |  cls, n_docs, total_tokens,
        |  (total_tokens * 10000) // 256 AS fill_bp,
        |  total_tokens <= 256 AS within_cap, members_fp
        |FROM g ORDER BY bin_id""".stripMargin)),

    // §2.33 — token counting: whitespace + BPE-ish pre-tokenizer regex
    Query("q_token_count", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long")
            .as("bpe_tokens"),
          (length(col("text")).cast("long") /
            regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")))
            .as("chars_per_token")),
      sql("""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
        |  CAST(length(text) AS BIGINT) / CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS chars_per_token
        |FROM documents""".stripMargin)),

    // §2.24l — benchmark decontamination: 8-token-gram overlap between the
    // corpus and a benchmark set leaked from it (first 40 tokens of every
    // 20th doc). Benchmark grams broadcast — the corpus side's only
    // exchange is the final per-doc count.
    Query("q_decontam", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") % 20 === 0)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 40), " ").as("text"))
      graft.operators.Contamination.decontaminate(docs, bench, n = 8)
    },
      sql(s"""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |corpus AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 6),
        |      i -> ${sqlFold("array_to_string(toks[i:i+7], ' ')")})) AS hashes
        |  FROM tok WHERE len(toks) >= 8),
        |bt AS (
        |  SELECT toks[1:40] AS btoks FROM tok WHERE doc_id % 20 = 0),
        |bench AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(btoks) - 6),
        |      i -> ${sqlFold("array_to_string(btoks[i:i+7], ' ')")}))) AS h
        |  FROM bt WHERE len(btoks) >= 8),
        |ex AS (
        |  SELECT doc_id, CAST(len(hashes) AS BIGINT) AS n_grams, unnest(hashes) AS h
        |  FROM corpus)
        |SELECT e.doc_id, e.n_grams, count(*) AS n_hit,
        |  floor(count(*) * 10000.0 / e.n_grams + 0.5) / 10000.0 AS hit_ratio
        |FROM ex e JOIN bench b ON e.h = b.h
        |GROUP BY e.doc_id, e.n_grams""".stripMargin)),

    // §2.24l2 — scan-shaped decontamination: the benchmark gram set rides
    // as a broadcast literal and the overlap is a pure projection
    // (array_intersect), no join/agg/state — the form a streaming ingest
    // gate uses; emits every doc including clean ones.
    Query("q_decontam_scan", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") % 20 === 0)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 40), " ").as("text"))
      graft.operators.Contamination.decontaminateStream(docs, bench, n = 8)
    },
      sql(s"""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |corpus AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 6),
        |      i -> ${sqlFold("array_to_string(toks[i:i+7], ' ')")})) AS hashes
        |  FROM tok WHERE len(toks) >= 8),
        |bt AS (
        |  SELECT toks[1:40] AS btoks FROM tok WHERE doc_id % 20 = 0),
        |bench AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(btoks) - 6),
        |      i -> ${sqlFold("array_to_string(btoks[i:i+7], ' ')")}))) AS h
        |  FROM bt WHERE len(btoks) >= 8),
        |ex AS (
        |  SELECT doc_id, CAST(len(hashes) AS BIGINT) AS n_grams, unnest(hashes) AS h
        |  FROM corpus),
        |hits AS (
        |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_hit
        |  FROM ex e JOIN bench b ON e.h = b.h GROUP BY e.doc_id)
        |SELECT c.doc_id, CAST(len(c.hashes) AS BIGINT) AS n_grams,
        |  coalesce(h.n_hit, 0) AS n_hit,
        |  floor(coalesce(h.n_hit, 0) * 10000.0 / CAST(len(c.hashes) AS BIGINT) + 0.5) / 10000.0 AS hit_ratio
        |FROM corpus c LEFT JOIN hits h USING (doc_id)""".stripMargin)),

    // §2.24l3 — Bloom-filter decontamination: the benchmark grams fold
    // into a fixed 64 Kibit filter (4 probes/gram) probed by a pure
    // projection — the broadcast stays m/8 bytes no matter how many
    // benchmarks are unioned in, with zero false negatives. n_hit counts
    // POSSIBLE hits; the oracle replays the probe arithmetic bit-exactly.
    Query("q_decontam_bloom", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") % 20 === 0)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 40), " ").as("text"))
      graft.operators.Contamination.decontaminateBloom(docs, bench, n = 8,
        mBits = 65536, kProbes = 4)
    },
      // replays the Bloom probe arithmetic exactly: bit_i(h) =
      // (h % 65536 + i * (1 + (h // 65536) % 65535)) % 65536, a gram
      // maybe-hits when all 4 probe bits are in the benchmark's bit set
      sql(s"""WITH $bloomProbeCtes
         |SELECT doc_id, n_grams,
         |  CAST(count(*) FILTER (WHERE maybe) AS BIGINT) AS n_hit,
         |  floor(CAST(count(*) FILTER (WHERE maybe) AS BIGINT) * 10000.0 / n_grams + 0.5) / 10000.0 AS hit_ratio
         |FROM probe GROUP BY doc_id, n_grams""".stripMargin)),

    // §2.24l4 — Bloom FPR calibration twin: the measured false-positive
    // rate of the 24l3 gate vs exact gram membership on the same corpus
    // — probe/hit/FP totals, FPR in bp over truly-clean probes, and the
    // wasted-recheck doc count; the (m, k) sizing contract, gram-gate
    // member of the calibration family (16g/17c/21k/21l)
    Query("q_bloom_calibration", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") % 20 === 0)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 40), " ").as("text"))
      graft.operators.Contamination.bloomCalibration(docs, bench, n = 8,
        mBits = 65536, kProbes = 4)
    },
      // the calibration twin: same probe CTEs + exact membership, so the
      // two replays can never desync on the filter arithmetic
      sql(s"""WITH $bloomProbeCtes,
         |bloomdoc AS (
         |  SELECT doc_id, n_grams,
         |    CAST(count(*) FILTER (WHERE maybe) AS BIGINT) AS n_bloom
         |  FROM probe GROUP BY doc_id, n_grams),
         |exdoc AS (
         |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM ex e JOIN bench b ON e.h = b.h
         |  GROUP BY e.doc_id),
         |j AS (
         |  SELECT bd.n_grams, bd.n_bloom, coalesce(ed.n_exact, 0) AS n_exact
         |  FROM bloomdoc bd LEFT JOIN exdoc ed USING (doc_id))
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_grams) AS BIGINT) AS n_probes,
         |  CAST(sum(n_exact) AS BIGINT) AS n_true_hits,
         |  CAST(sum(n_bloom) AS BIGINT) AS n_bloom_hits,
         |  CAST(sum(n_bloom) - sum(n_exact) AS BIGINT) AS n_false_pos,
         |  CAST(floor((sum(n_bloom) - sum(n_exact)) * 10000.0 /
         |    (sum(n_grams) - sum(n_exact)) + 0.5) AS BIGINT) AS fpr_bp,
         |  CAST(count(*) FILTER (WHERE n_bloom > 0 AND n_exact = 0) AS BIGINT)
         |    AS n_docs_false_flagged
         |FROM j""".stripMargin)),

    // §2.24m — cross-document duplicated-span report (substring-dedup
    // signal) over a corpus with planted near-copies.
    Query("q_dup_spans", (s, dir) =>
      graft.operators.Contamination.dupSpans(plantedDocs(s, dir), n = 8),
      sql(s"""WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) - 30, 1))
        |  FROM documents WHERE doc_id % 20 = 0),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM base),
        |g AS (
        |  SELECT doc_id, u.i AS pos,
        |    ${sqlFold("array_to_string(toks[u.i:u.i+7], ' ')")} AS h
        |  FROM tok, unnest(range(1, len(toks) - 6)) AS u(i)
        |  WHERE len(toks) >= 8),
        |d AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |f AS (SELECT g.doc_id, g.pos, (d.h IS NOT NULL) AS isdup
        |      FROM g LEFT JOIN d ON g.h = d.h),
        |r AS (SELECT doc_id, isdup,
        |        lag(isdup, 1, false) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |      FROM f)
        |SELECT doc_id, count(*) AS n_windows,
        |  count(*) FILTER (WHERE isdup) AS n_dup_windows,
        |  count(*) FILTER (WHERE isdup AND NOT prev) AS n_spans,
        |  floor(count(*) FILTER (WHERE isdup) * 10000.0 / count(*) + 0.5) / 10000.0 AS dup_ratio
        |FROM r GROUP BY doc_id
        |HAVING count(*) FILTER (WHERE isdup) > 0""".stripMargin)),

    // §2.24m2 — MAXIMAL duplicated spans with exact extents (the
    // suffix-array union output of Lee et al.'s exact substring dedup):
    // one row per maximal cross-doc duplicated substring occurrence with
    // its start and arbitrary token length, from runs of consecutive
    // duplicated windows — same linear shuffles as q_dup_spans
    Query("q_max_dup_spans", (s, dir) =>
      graft.operators.Contamination.maxDupSpans(plantedDocs(s, dir), n = 8),
      // maximal spans: dup-window runs regrouped by a cumulative
      // span-start counter, one output row per (doc, run)
      sql(s"""WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) - 30, 1))
        |  FROM documents WHERE doc_id % 20 = 0),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM base),
        |g AS (
        |  SELECT doc_id, u.i AS pos,
        |    ${sqlFold("array_to_string(toks[u.i:u.i+7], ' ')")} AS h
        |  FROM tok, unnest(range(1, len(toks) - 6)) AS u(i)
        |  WHERE len(toks) >= 8),
        |d AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |f AS (SELECT g.doc_id, g.pos, (d.h IS NOT NULL) AS isdup
        |      FROM g LEFT JOIN d ON g.h = d.h),
        |r AS (SELECT doc_id, pos, isdup,
        |        lag(isdup, 1, false) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |      FROM f),
        |s AS (SELECT doc_id, pos,
        |        SUM(CASE WHEN prev THEN 0 ELSE 1 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM r WHERE isdup)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(count(*) AS BIGINT) AS span_windows,
        |  CAST(count(*) + 7 AS BIGINT) AS span_tokens
        |FROM s GROUP BY doc_id, grp""".stripMargin)),

    // §2.24m3 — PER-PAIR maximal duplicated-span extents (the diagnostic
    // sibling of q_max_dup_spans): which doc pairs share which maximal
    // substring, via constant-diagonal runs of shared window positions.
    // Pair output is bounded by the gram hotness cap (n_occ <= 8): hot
    // grams' C(k,2) blowup is excluded by construction — replica cliques
    // belong to exact dedup and the union-form span report, not here.
    Query("q_pair_dup_spans", (s, dir) =>
      graft.operators.Contamination.pairDupSpans(plantedDocs(s, dir), n = 8, maxOcc = 8),
      // per-pair extents: eligible-gram occurrence self-join, then maximal
      // consecutive-pos_a runs per (pair, diagonal) via a windowed replay
      sql(s"""WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) - 30, 1))
        |  FROM documents WHERE doc_id % 20 = 0),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM base),
        |g AS (
        |  SELECT doc_id, u.i AS pos,
        |    ${sqlFold("array_to_string(toks[u.i:u.i+7], ' ')")} AS h
        |  FROM tok, unnest(range(1, len(toks) - 6)) AS u(i)
        |  WHERE len(toks) >= 8),
        |elig AS (SELECT h FROM g GROUP BY h
        |         HAVING count(DISTINCT doc_id) >= 2 AND count(*) <= 8),
        |p AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |        x.pos AS pos_a, y.pos AS pos_b
        |      FROM g x JOIN g y ON x.h = y.h AND x.doc_id < y.doc_id
        |      WHERE x.h IN (SELECT h FROM elig)),
        |r AS (SELECT doc_a, doc_b, pos_a - pos_b AS diag, pos_a,
        |        lag(pos_a, 1, -999999) OVER (
        |          PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS prev
        |      FROM p),
        |s AS (SELECT doc_a, doc_b, diag, pos_a,
        |        SUM(CASE WHEN pos_a = prev + 1 THEN 0 ELSE 1 END)
        |          OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
        |      FROM r)
        |SELECT doc_a, doc_b, CAST(min(pos_a) AS BIGINT) AS start_a,
        |  CAST(min(pos_a) - diag AS BIGINT) AS start_b,
        |  CAST(count(*) AS BIGINT) AS span_windows,
        |  CAST(count(*) + 7 AS BIGINT) AS span_tokens
        |FROM s GROUP BY doc_a, doc_b, diag, grp""".stripMargin)),

    // §2.24x — duplicated-span REMOVAL, keep-first: a cross-doc 8-gram
    // survives only in its lowest doc_id; planted truncated copies lose
    // the shared text, originals keep theirs verbatim
    Query("q_span_scrub", (s, dir) =>
      graft.operators.Contamination.scrubDupSpans(plantedDocs(s, dir), n = 8),
      // keep-first scrub: reconstruction filters 1-based token positions
      // against the doc's sorted dup-window starts (nested-lambda closure)
      sql(s"""WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) - 30, 1))
        |  FROM documents WHERE doc_id % 20 = 0),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM base),
        |g AS (
        |  SELECT doc_id, u.i AS pos,
        |    ${sqlFold("array_to_string(toks[u.i:u.i+7], ' ')")} AS h
        |  FROM tok, unnest(range(1, len(toks) - 6)) AS u(i)
        |  WHERE len(toks) >= 8),
        |d AS (
        |  SELECT h, min(doc_id) AS keep_doc
        |  FROM (SELECT DISTINCT h, doc_id FROM g) dg
        |  GROUP BY h HAVING count(*) >= 2),
        |dp AS (
        |  SELECT g.doc_id, list(g.pos ORDER BY g.pos) AS dups
        |  FROM g JOIN d ON g.h = d.h
        |  WHERE g.doc_id <> d.keep_doc
        |  GROUP BY g.doc_id),
        |s AS (
        |  SELECT t.doc_id, t.toks, COALESCE(dp.dups, []) AS dups
        |  FROM tok t LEFT JOIN dp ON t.doc_id = dp.doc_id),
        |k AS (
        |  SELECT doc_id, toks, dups,
        |    list_filter(range(1, len(toks) + 1),
        |      i -> len(list_filter(dups, w -> w >= i - 7 AND w <= i)) = 0) AS keep_pos
        |  FROM s)
        |SELECT doc_id,
        |  COALESCE(array_to_string(
        |    list_transform(keep_pos, i -> toks[CAST(i AS INTEGER)]), ' '), '')
        |    AS clean_text,
        |  CAST(len(keep_pos) AS BIGINT) AS n_kept,
        |  CAST(len(toks) - len(keep_pos) AS BIGINT) AS n_removed
        |FROM k""".stripMargin)),

    // §2.24n — per-source quality-quantile gate: keep docs at/above their
    // source's median token count. Tiny per-group quantile broadcast back
    // onto the scan — the corpus never shuffles.
    Query("q_quality_gate", (s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Sampling.quantileGate(scored, "source", "n_tokens", 0.5)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cut").as("src_p50"))
    },
      sql("""WITH s AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |st AS (
        |  SELECT source, quantile_cont(n_tokens, 0.5) AS src_p50
        |  FROM s GROUP BY source)
        |SELECT s.doc_id, s.source, s.n_tokens, st.src_p50
        |FROM s JOIN st USING (source)
        |WHERE s.n_tokens >= st.src_p50""".stripMargin))
  )

  /** The shared CTE prefix behind the q_nb_auc / q_nb_pr oracles:
    * replays the q_nb_quality training chain (markers additionally
    * planted on the %5==2 eval-junk slice), scores the held-out eval
    * docs, divides the exact integer per-token mean (DuckDB's integer
    * `//` truncates toward zero exactly like Spark's DIV — verified on
    * v1.0.0), and collapses to the (score) histogram with exclusive
    * below-cumulative counts — the frame both audits consume.
    */
  private def nbEvalCtes: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 IN (1, 2) THEN text || ' zz9 qq8 xx7 kk6 vv5'
      |         ELSE text END AS text
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, doc_id % 5 = 0 AS pos, doc_id % 5 = 1 AS neg, t.token
      |  FROM planted, unnest(string_split(text, ' ')) AS t(token)),
      |seed AS (SELECT * FROM tok WHERE pos OR neg),
      |cnt AS (
      |  SELECT token,
      |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS c1,
      |    sum(CASE WHEN neg THEN 1 ELSE 0 END) AS c0
      |  FROM seed GROUP BY token),
      |vocab AS (
      |  SELECT token, c1, c0 FROM cnt
      |  ORDER BY c1 + c0 DESC, token ASC LIMIT 500),
      |tot AS (
      |  SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n1,
      |    sum(CASE WHEN neg THEN 1 ELSE 0 END) AS n0
      |  FROM seed),
      |vsz AS (SELECT count(*) AS v FROM vocab),
      |model AS (
      |  SELECT token,
      |    CAST(floor((ln((c1 + 1.0) / CAST(n1 + v AS DOUBLE))
      |              - ln((c0 + 1.0) / CAST(n0 + v AS DOUBLE)))
      |         * 1000000.0 + 0.5) AS BIGINT) AS w_u
      |  FROM vocab, tot, vsz),
      |oov AS (
      |  SELECT CAST(floor((ln(CAST(n0 + v AS DOUBLE))
      |                   - ln(CAST(n1 + v AS DOUBLE)))
      |         * 1000000.0 + 0.5) AS BIGINT) AS w_oov
      |  FROM tot, vsz),
      |doc AS (
      |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(coalesce(m.w_u, o.w_oov)) AS BIGINT) AS sum_u
      |  FROM tok t LEFT JOIN model m USING (token) CROSS JOIN oov o
      |  GROUP BY t.doc_id),
      |ev AS (
      |  SELECT (sum_u * 1000) // n_tokens AS score,
      |    doc_id % 5 <> 2 AS label
      |  FROM doc WHERE doc_id % 5 >= 2),
      |hist AS (
      |  SELECT score,
      |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np,
      |    CAST(sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS nn
      |  FROM ev GROUP BY score),
      |cum AS (
      |  SELECT score, np, nn,
      |    CAST(coalesce(sum(nn) OVER (ORDER BY score ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cnb,
      |    CAST(coalesce(sum(np) OVER (ORDER BY score ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cnpb
      |  FROM hist)""".stripMargin

  private def nbAucOracle: String =
    s"""$nbEvalCtes,
       |agg AS (
       |  SELECT CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pos,
       |    CAST(coalesce(sum(nn), 0) AS BIGINT) AS n_neg,
       |    CAST(count(*) AS BIGINT) AS n_scores,
       |    CAST(coalesce(sum(np * (cnb * 2 + nn)), 0) AS BIGINT) AS u2
       |  FROM cum)
       |SELECT n_pos, n_neg, n_scores, u2,
       |  CASE WHEN n_pos > 0 AND n_neg > 0
       |    THEN CAST((CAST(u2 AS HUGEINT) * 1000000)
       |      // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
       |  END AS auc_micro,
       |  CASE WHEN n_pos > 0 AND n_neg > 0
       |    THEN CAST((CAST(u2 AS HUGEINT) * 1000000)
       |      // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) * 2 - 1000000
       |  END AS gini_micro
       |FROM agg""".stripMargin

  private def nbPrOracle: String =
    s"""$nbEvalCtes,
       |tot2 AS (
       |  SELECT CAST(coalesce(sum(np), 0) AS BIGINT) AS t_pos,
       |    CAST(coalesce(sum(nn), 0) AS BIGINT) AS t_neg,
       |    CAST(coalesce(sum(np) + sum(nn), 0) AS BIGINT) AS n
       |  FROM hist),
       |cuts AS (
       |  SELECT k.k,
       |    min(CASE WHEN (c.cnpb + c.cnnb + c.np + c.nn) * 10 >= k.k * t.n
       |      THEN c.score END) AS thr_score
       |  FROM (SELECT score, np, nn, cnb AS cnnb, cnpb FROM cum) c
       |  CROSS JOIN tot2 t, range(1, 10) AS k(k)
       |  GROUP BY k.k),
       |pts AS (
       |  SELECT CAST(c2.k AS BIGINT) AS k, c2.thr_score,
       |    t.t_pos - cu.cnpb AS tp, t.t_neg - cu.cnb AS fp,
       |    cu.cnpb AS fn, cu.cnb AS tn, t.t_pos, t.t_neg
       |  FROM cuts c2 JOIN cum cu ON cu.score = c2.thr_score
       |  CROSS JOIN tot2 t)
       |SELECT k, thr_score, tp, fp, fn, tn,
       |  (tp * 10000) // (tp + fp) AS precision_bp,
       |  CASE WHEN tp + fn > 0 THEN (tp * 10000) // (tp + fn)
       |  END AS recall_bp,
       |  CASE WHEN tp * 2 + fp + fn > 0
       |    THEN (tp * 2 * 10000) // (tp * 2 + fp + fn)
       |  END AS f1_bp
       |FROM pts ORDER BY k""".stripMargin

  /** q_bm25 oracle: replays corpus stats, query-term tf/df, the Lucene
    * idf and length-normalized tf with the SAME literal constants and
    * association as the Spark expressions, micro-quantizes each term
    * contribution (floor(x*1e6+0.5), the lmScore rule) and ranks on the
    * exact long sum — scores and ranks bit-identical by construction.
    */
  private def bm25Oracle: String = {
    val vals = bm25Queries.map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    val k1 = "1.2"; val b = "0.75"
    s"""WITH q(query_id, qtext) AS (VALUES $vals),
       |qt AS (
       |  SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id, t.term
       |  FROM q, unnest(string_split(qtext, ' ')) AS t(term)),
       |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM d),
       |td AS (
       |  SELECT doc_id, t.term, CAST(count(*) AS BIGINT) AS tf,
       |    CAST(max(len(toks)) AS BIGINT) AS dl
       |  FROM d, unnest(toks) AS t(term)
       |  WHERE t.term IN (SELECT term FROM qt)
       |  GROUP BY doc_id, t.term),
       |dfreq AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM td GROUP BY term),
       |sc AS (
       |  SELECT td.doc_id, td.term,
       |    ln((CAST(s.n_docs AS DOUBLE) - df + 0.5)
       |      / (CAST(df AS DOUBLE) + 0.5) + 1.0) AS idf,
       |    CAST(tf AS DOUBLE) * ($k1 + 1.0) /
       |      (CAST(tf AS DOUBLE) + $k1 * (1.0 - $b + $b * CAST(dl AS DOUBLE)
       |        / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))) AS tfn
       |  FROM td JOIN dfreq USING (term) CROSS JOIN stats s),
       |cu AS (
       |  SELECT doc_id, term,
       |    CAST(floor(idf * tfn * 1000000.0 + 0.5) AS BIGINT) AS contrib_u
       |  FROM sc),
       |pq AS (
       |  SELECT qt.query_id, cu.doc_id, sum(contrib_u) AS score_u,
       |    CAST(count(*) AS BIGINT) AS n_terms
       |  FROM cu JOIN qt ON cu.term = qt.term
       |  GROUP BY qt.query_id, cu.doc_id),
       |r AS (
       |  SELECT query_id, doc_id, n_terms, score_u,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_u DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM pq)
       |SELECT query_id, rank, doc_id, n_terms,
       |  CAST(score_u AS DOUBLE) / 1000000.0 AS bm25
       |FROM r WHERE rank <= 10""".stripMargin
  }

  /** q_hybrid_search oracle: the bm25 CTE chain (ranked keyword side),
    * both textEmbed chains (docs p=t, query VALUES p=q), the exact-cosine
    * semantic ranking, and the RRF fusion with the driver-inlined integer
    * weights — every stage of both channels replayed.
    */
  private def hybridSearchOracle: String = {
    def dd(x: String, y: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> $x[CAST(i AS INTEGER)] * $y[CAST(i AS INTEGER)])), " +
        s"(acc, v) -> acc + v)"
    val vals = bm25Queries.map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    val k1 = "1.2"; val b = "0.75"
    val wCase = (rk: String) => TextAnalysis.rrfWeightsMicro(10, 60).zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN CAST($w AS BIGINT)" }
      .mkString(s"CASE $rk ", " ", " ELSE CAST(0 AS BIGINT) END")
    s"""WITH q(query_id, qtext) AS (VALUES $vals),
       |qt AS (
       |  SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id, t.term
       |  FROM q, unnest(string_split(qtext, ' ')) AS t(term)),
       |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM d),
       |td AS (
       |  SELECT doc_id, t.term, CAST(count(*) AS BIGINT) AS tf,
       |    CAST(max(len(toks)) AS BIGINT) AS dl
       |  FROM d, unnest(toks) AS t(term)
       |  WHERE t.term IN (SELECT term FROM qt)
       |  GROUP BY doc_id, t.term),
       |dfreq AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM td GROUP BY term),
       |sc AS (
       |  SELECT td.doc_id, td.term,
       |    ln((CAST(s.n_docs AS DOUBLE) - df + 0.5)
       |      / (CAST(df AS DOUBLE) + 0.5) + 1.0) AS idf,
       |    CAST(tf AS DOUBLE) * ($k1 + 1.0) /
       |      (CAST(tf AS DOUBLE) + $k1 * (1.0 - $b + $b * CAST(dl AS DOUBLE)
       |        / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))) AS tfn
       |  FROM td JOIN dfreq USING (term) CROSS JOIN stats s),
       |cu AS (
       |  SELECT doc_id, term,
       |    CAST(floor(idf * tfn * 1000000.0 + 0.5) AS BIGINT) AS contrib_u
       |  FROM sc),
       |pq AS (
       |  SELECT qt.query_id, cu.doc_id, sum(contrib_u) AS score_u
       |  FROM cu JOIN qt ON cu.term = qt.term
       |  GROUP BY qt.query_id, cu.doc_id),
       |kw AS (
       |  SELECT query_id, doc_id, kw_rank FROM (
       |    SELECT query_id, doc_id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY score_u DESC, doc_id ASC) AS BIGINT) AS kw_rank
       |    FROM pq) WHERE kw_rank <= 10),
       |${textEmbedCtes("SELECT doc_id, text FROM documents")},
       |${textEmbedCtes(
        "SELECT CAST(query_id AS BIGINT) AS doc_id, qtext AS text FROM q",
        "q")},
       |de AS (
       |  SELECT doc_id, embedding, sqrt(${dd("embedding", "embedding")}) AS nrm
       |  FROM temb
       |  WHERE sqrt(${dd("embedding", "embedding")}) > 0),
       |qe AS (
       |  SELECT doc_id AS query_id, embedding AS q_emb,
       |    sqrt(${dd("embedding", "embedding")}) AS q_nrm
       |  FROM qemb
       |  WHERE sqrt(${dd("embedding", "embedding")}) > 0),
       |sem AS (
       |  SELECT query_id, doc_id, sem_rank FROM (
       |    SELECT qe.query_id, de.doc_id,
       |      CAST(row_number() OVER (PARTITION BY qe.query_id
       |        ORDER BY ${dd("de.embedding", "qe.q_emb")} / (de.nrm * qe.q_nrm)
       |          DESC, de.doc_id ASC) AS BIGINT) AS sem_rank
       |    FROM de CROSS JOIN qe) WHERE sem_rank <= 10),
       |fused AS (
       |  SELECT COALESCE(kw.query_id, sem.query_id) AS query_id,
       |    COALESCE(kw.doc_id, sem.doc_id) AS doc_id,
       |    kw.kw_rank, sem.sem_rank,
       |    ${wCase("kw.kw_rank")} + ${wCase("sem.sem_rank")} AS rrf_u
       |  FROM kw FULL OUTER JOIN sem
       |    ON kw.query_id = sem.query_id AND kw.doc_id = sem.doc_id)
       |SELECT query_id, rank, doc_id, kw_rank, sem_rank, rrf_u FROM (
       |  SELECT query_id, doc_id, kw_rank, sem_rank, rrf_u,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_u DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM fused) WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Shared CTEs for the corpus-LM oracles: bigram model training + the
    * per-doc mean-log-prob score (`lm`) — used verbatim by q_lm_score and
    * as the scoring stage of q_ppl_buckets, so the two can never desync
    * on the model formula.
    */
  private val lmScoreCtes: String =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bi AS (
      |  SELECT doc_id, toks[u.i] || ' ' || toks[u.i+1] AS bigram
      |  FROM tok, unnest(range(1, len(toks))) AS u(i)
      |  WHERE len(toks) >= 2),
      |c2 AS (SELECT bigram, count(*) AS c2 FROM bi GROUP BY bigram),
      |c1 AS (
      |  SELECT string_split(bigram, ' ')[1] AS w1, sum(c2) AS c1
      |  FROM c2 GROUP BY string_split(bigram, ' ')[1]),
      |model AS (
      |  SELECT bigram,
      |    CAST(floor(ln(CAST(c2.c2 AS DOUBLE) / c1.c1) * 1000000.0 + 0.5) AS BIGINT) AS logp_u
      |  FROM c2 JOIN c1 ON string_split(c2.bigram, ' ')[1] = c1.w1),
      |lm AS (
      |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    floor(CAST(sum(m.logp_u) AS DOUBLE) / count(*) / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS mean_logp_r
      |  FROM bi b JOIN model m USING (bigram)
      |  GROUP BY b.doc_id)""".stripMargin

  /** Shared CTEs for the jaccard-pair oracles: planted-dup corpus + per-doc
    * distinct md5 shingle sets.
    */
  private val ngramJaccardCtes: String =
    """corpus AS (
      |  SELECT doc_id, text, lang, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) - 30, 1)), lang, source
      |  FROM documents WHERE doc_id % 20 = 0),
      |sh AS (
      |  SELECT doc_id, lang, source, CAST(length(text) AS BIGINT) AS len,
      |    list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
      |      i -> md5(string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))) AS sh
      |  FROM corpus WHERE len(string_split(text, ' ')) >= 3)""".stripMargin

  /** Connected-components closure over the verified jaccard pair graph —
    * shared by q_dedup_clusters (hash-min) and q_dedup_clusters_star
    * (star-contraction): both must reach the identical fixpoint labels.
    */
  /** Shared closure CTEs ending in `clusters(doc_id, cluster_id)` — the
    * base of both cluster-labeling oracles and the keep-best oracle, so
    * the three replays can never desync on the component definition.
    */
  private lazy val dupClustersClosureCtes: String =
    s"""$ngramJaccardCtes,
       |pairs AS (SELECT doc_a, doc_b FROM ($ngramJaccardPairSelect) p),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |clusters AS (
       |  SELECT src AS doc_id, min(dst) AS cluster_id
       |  FROM reach GROUP BY src)""".stripMargin

  private lazy val dupClustersOracle: Oracle =
    sql(s"""WITH RECURSIVE $dupClustersClosureCtes
       |SELECT doc_id, cluster_id FROM clusters""".stripMargin)

  /** Shared replay of the Bloom decontam probe: portable 8-gram folds,
    * the 64 Kibit double-hash filter built from the benchmark grams, and
    * per-(doc, gram) `maybe` verdicts — the base of BOTH the
    * q_decontam_bloom gate replay and its FPR calibration twin, so the
    * two oracles can never desync on the filter arithmetic. Ends with
    * `bench(h)`, `ex(doc_id, n_grams, h)`, `probe(doc_id, n_grams, h,
    * maybe)`.
    */
  private val bloomProbeCtes: String =
    s"""tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |corpus AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(toks) - 6),
      |      i -> ${sqlFold("array_to_string(toks[i:i+7], ' ')")})) AS hashes
      |  FROM tok WHERE len(toks) >= 8),
      |bt AS (
      |  SELECT toks[1:40] AS btoks FROM tok WHERE doc_id % 20 = 0),
      |bench AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(btoks) - 6),
      |      i -> ${sqlFold("array_to_string(btoks[i:i+7], ' ')")}))) AS h
      |  FROM bt WHERE len(btoks) >= 8),
      |bits AS (
      |  SELECT DISTINCT (h % 65536 + i * (1 + (h // 65536) % 65535)) % 65536 AS b
      |  FROM bench, range(0, 4) AS t(i)),
      |ex AS (
      |  SELECT doc_id, CAST(len(hashes) AS BIGINT) AS n_grams, unnest(hashes) AS h
      |  FROM corpus),
      |probe AS (
      |  SELECT e.doc_id, e.n_grams, e.h,
      |    bool_and((e.h % 65536 + i * (1 + (e.h // 65536) % 65535)) % 65536
      |      IN (SELECT b FROM bits)) AS maybe
      |  FROM ex e, range(0, 4) AS t(i)
      |  GROUP BY e.doc_id, e.n_grams, e.h)""".stripMargin

  /** q_cluster_split oracle: the same component closure, singletons
    * defaulted to their own id, the portable fold of 'split:<cluster>'
    * mod 100 deciding membership, and the no-leakage proof RE-DERIVED
    * (max distinct splits inside any cluster) rather than trusted.
    */
  private lazy val clusterSplitOracle: String = {
    s"""WITH RECURSIVE $dupClustersClosureCtes,
       |allc AS (
       |  SELECT c.doc_id, coalesce(cl.cluster_id, c.doc_id) AS cluster_id
       |  FROM corpus c LEFT JOIN clusters cl USING (doc_id)),
       |asg AS (
       |  SELECT doc_id, cluster_id,
       |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id, cluster_id,
       |    ${sqlFold("'split:' || CAST(cluster_id AS VARCHAR)")} % 100 AS h
       |    FROM allc)),
       |proof AS (
       |  SELECT CAST(max(k) AS BIGINT) AS max_splits_per_cluster FROM (
       |    SELECT count(DISTINCT split) AS k FROM asg GROUP BY cluster_id)),
       |tot AS (SELECT count(*) AS n FROM asg)
       |SELECT split, CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(floor(count(*) * 10000.0 / max(tot.n) + 0.5) AS BIGINT)
       |    AS docs_bp,
       |  max(proof.max_splits_per_cluster) AS max_splits_per_cluster
       |FROM asg, proof, tot
       |GROUP BY split""".stripMargin
  }

  /** q_dedup_keep_best: the same closure, then per cluster the row_number
    * replay of the engine's deterministic max_by argmax (most tokens,
    * ties toward the smaller doc_id).
    */
  private lazy val dedupKeepBestSql: String =
    s"""WITH RECURSIVE $dupClustersClosureCtes,
       |toks AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM corpus),
       |ranked AS (
       |  SELECT c.cluster_id, c.doc_id, t.n_tokens,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY t.n_tokens DESC, c.doc_id ASC) AS rn
       |  FROM clusters c JOIN toks t USING (doc_id))
       |SELECT cluster_id,
       |  max(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
       |  max(n_tokens) AS keep_tokens,
       |  count(*) AS n_docs,
       |  count(*) - 1 AS n_dropped
       |FROM ranked GROUP BY cluster_id""".stripMargin

  /** Verified jaccard pairs over the shared CTEs (blocked join + filter). */
  private val ngramJaccardPairSelect: String =
    """SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |  CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS inter,
      |  CAST(len(list_distinct(x.sh || y.sh)) AS BIGINT) AS uni,
      |  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(x.sh || y.sh)) AS jaccard
      |FROM sh x JOIN sh y
      |  ON x.source = y.source AND x.lang = y.lang AND x.doc_id < y.doc_id
      |  AND abs(x.len - y.len) <= 40
      |WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(x.sh || y.sh)) >= 0.5""".stripMargin

  /** q_dedup_minhash_portable oracle: the identical minhash pipeline in
    * DuckDB — shingle ids via the base-257 rolling fold, the 64 (a, b)
    * permutation literals inlined from Dedup.portableCoefs, band keys as
    * signature slices, est_sim as the fraction of equal components.
    */
  /** q_cross_dedup oracle: portable signatures on both sides, banding by
    * raw signature slices, candidates require one side from each corpus.
    */
  /** Shared replay of the banded cross-corpus pipeline; `corpusCte` is
    * the SQL body of the c0 CTE (the corpus side AFTER any staging).
    */
  private def crossDedupOracle: String =
    crossDedupOracleFrom("SELECT doc_id, text FROM documents")

  /** q_cross_dedup_staged: replicate every 10th doc verbatim, then replay
    * the engine's exact-collapse (min-id representative per md5(text))
    * before the banded pipeline.
    */
  private def crossDedupStagedOracle: String =
    crossDedupOracleFrom(
      """SELECT min(doc_id) AS doc_id, min_by(text, doc_id) AS text
        |  FROM (SELECT doc_id, text FROM documents
        |        UNION ALL
        |        SELECT doc_id + 2000000, text FROM documents
        |        WHERE doc_id % 10 = 0)
        |  GROUP BY md5(text)""".stripMargin)

  private def crossDedupOracleFrom(corpusCte: String): String = {
    val k = 64
    def side(name: String, src: String): String = minhashSideCtes(name, src)
    s"""WITH c0 AS ($corpusCte),
       |e0 AS (
       |  SELECT doc_id + 1000000 AS doc_id,
       |    substring(text, 1, greatest(length(text) - 30, 1)) AS text
       |  FROM documents WHERE doc_id % 20 = 0),
       |${side("c", "c0")},
       |${side("e", "e0")},
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS corpus_id, y.doc_id AS eval_id,
       |    x.sig AS sig_a, y.sig AS sig_b
       |  FROM banded_c x JOIN banded_e y ON x.band = y.band AND x.bv = y.bv)
       |SELECT corpus_id, eval_id,
       |  CAST(len(list_filter(range(1, ${k + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / $k AS est_sim
       |FROM cand
       |WHERE CAST(len(list_filter(range(1, ${k + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / $k >= 0.5""".stripMargin
  }

  private def dedupIngestSql: String =
    s"""WITH $twoBatchIngestCtes
       |SELECT CAST(1 AS BIGINT) AS batch_no, doc_id, verdict, matched_id FROM dec_b1
       |UNION ALL
       |SELECT CAST(2 AS BIGINT) AS batch_no, doc_id, verdict, matched_id FROM dec_b2""".stripMargin

  /** Shared CTE chain replaying the portable minhash SELF-join pipeline
    * over `corpusSql` (must yield (doc_id, text)): defines `corpus`
    * through `pairs` = (doc_a, doc_b, est_sim) filtered at est_sim >=
    * 0.5 — the q_dedup_minhash_portable oracle's body, also the
    * candidate stage of the edit-distance verify oracle so the two can
    * never diverge.
    */
  private def minhashSelfPairsCtes(corpusSql: String): String = {
    val k = 64; val bands = 16; val r = k / bands; val p = 2147483647L
    val fold = sqlFold("s")
    val sigEntries = Dedup.portableCoefs(k).map { case (a, b) =>
      s"list_min(list_transform(ids, x -> ($a * (x % $p) + $b) % $p))"
    }.mkString(",\n    ")
    s"""corpus AS ($corpusSql),
       |t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
       |    s -> $fold)) AS ids
       |  FROM t),
       |sig AS (SELECT doc_id, [$sigEntries] AS sig FROM sh),
       |banded AS (
       |  SELECT doc_id, sig, b.band, sig[b.band*$r+1 : b.band*$r+$r] AS bv
       |  FROM sig, range(0, $bands) b(band)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.sig AS sig_a, y.sig AS sig_b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_filter(range(1, ${k + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / $k AS est_sim
       |  FROM cand
       |  WHERE CAST(len(list_filter(range(1, ${k + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / $k >= 0.5)""".stripMargin
  }

  /** The planted-near-dup corpus every minhash-family query runs on:
    * the documents table plus a 30-char-truncated copy of every 20th
    * doc at id + 1,000,000.
    */
  private val plantedCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) - 30, 1))
      |  FROM documents WHERE doc_id % 20 = 0""".stripMargin

  private def minhashPortableOracle: String =
    s"""WITH ${minhashSelfPairsCtes(plantedCorpusSql)}
       |SELECT doc_a, doc_b, est_sim FROM pairs""".stripMargin

  /** q_minhash_calibration oracle: the shared candidate CTEs, exact
    * Jaccard from the `sh` shingle-id sets, per-decile micro-unit means.
    */
  private def minhashCalibrationOracle: String =
    s"""WITH ${minhashSelfPairsCtes(plantedCorpusSql)},
       |cal AS (
       |  SELECT CAST(floor(p.est_sim * 1000000.0 + 0.5) AS BIGINT) AS est_u,
       |    CAST(floor(len(list_intersect(a.ids, b.ids)) * 1000000.0 /
       |      (len(a.ids) + len(b.ids) - len(list_intersect(a.ids, b.ids)))
       |      + 0.5) AS BIGINT) AS jac_u
       |  FROM pairs p
       |  JOIN sh a ON p.doc_a = a.doc_id
       |  JOIN sh b ON p.doc_b = b.doc_id)
       |SELECT CAST(least(est_u // 100000, 9) AS INT) AS decile,
       |  count(*) AS n_pairs,
       |  floor(sum(jac_u) / count(*) / 100.0 + 0.5) / 10000.0 AS mean_jaccard_r,
       |  floor(sum(est_u) / count(*) / 100.0 + 0.5) / 10000.0 AS mean_est_r,
       |  floor(sum(abs(est_u - jac_u)) / count(*) / 100.0 + 0.5) / 10000.0
       |    AS mean_abs_err_r
       |FROM cal GROUP BY 1""".stripMargin

  /** q_dedup_editdist oracle: the portable minhash candidate pairs,
    * verified with DuckDB's levenshtein (byte-based — identical to
    * Spark's character-based distance on this all-ASCII corpus).
    */
  private def editDistVerifySelect: String =
    """SELECT p.doc_a, p.doc_b,
      |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
      |  floor((1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
      |         / greatest(length(a.text), length(b.text))) * 10000.0 + 0.5)
      |    / 10000.0 AS edit_sim_r
      |FROM pairs p
      |JOIN corpus a ON p.doc_a = a.doc_id
      |JOIN corpus b ON p.doc_b = b.doc_id
      |WHERE floor((1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
      |         / greatest(length(a.text), length(b.text))) * 10000.0 + 0.5)
      |    / 10000.0 >= 0.8""".stripMargin

  private def editDistOracle: String =
    s"""WITH ${minhashSelfPairsCtes(plantedCorpusSql)}
       |$editDistVerifySelect""".stripMargin

  /** Shared CTE chain replaying the hashing-trick embedding over
    * `srcSql` (must yield (doc_id, text)): portable fold per token for
    * bucket and sign, integer bucket sums, one double normalize with
    * 6-dp micro-round — ends with `temb` = (doc_id, n_tokens,
    * embedding). The q_text_embed oracle's body, also the embedding
    * stage of the text-semdedup chain oracle so they can never diverge.
    */
  private def textEmbedCtes(srcSql: String, p: String = "t"): String = {
    s"""${p}src AS ($srcSql),
       |${p}tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM ${p}src),
       |${p}bs AS (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |    list_transform(toks, t -> struct_pack(
       |      b := ${sqlFold("'emb:' || t")} % 64,
       |      s := (${sqlFold("'sgn:' || t")} % 2) * 2 - 1)) AS bs
       |  FROM ${p}tok),
       |${p}cnt AS (
       |  SELECT doc_id, n_tokens,
       |    list_transform(range(0, 64), j ->
       |      list_sum(list_transform(bs, x -> CASE WHEN x.b = j THEN x.s ELSE 0 END))) AS cnt
       |  FROM ${p}bs),
       |${p}n AS (
       |  SELECT doc_id, n_tokens, cnt,
       |    sqrt(list_sum(list_transform(cnt, v -> CAST(v AS DOUBLE) * v))) AS nrm
       |  FROM ${p}cnt),
       |${p}emb AS (
       |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    list_transform(cnt, v -> CASE WHEN nrm = 0 THEN 0.0
       |      ELSE floor(CAST(v AS DOUBLE) / nrm * 1000000.0 + 0.5) / 1000000.0 END)
       |      AS embedding
       |  FROM ${p}n)""".stripMargin
  }

  private def textEmbedOracle: String =
    s"""WITH ${textEmbedCtes("SELECT doc_id, text FROM documents")}
       |SELECT doc_id, n_tokens,
       |  md5(array_to_string(list_transform(embedding,
       |    v -> CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)), ','))
       |    AS embedding_fp
       |FROM temb""".stripMargin

  /** q_text_semdedup oracle: the embedding chain over the planted
    * corpus, then sign-LSH buckets (inlined hyperplanes) and the cosine
    * drop rule — every dot an explicit left fold in the SAME order as
    * the Spark side's Vectors.dot, so sims agree bit-for-bit.
    */
  /** q_topic_labels oracle: embedding chain -> inlined 4-plane sign-LSH
    * buckets -> stopword-filtered (bucket, term) counts -> micro-nat
    * c-TF-IDF -> row_number top-5 (== the operator's two-phase rank; the
    * priority order is total).
    */
  private def topicLabelsOracle: String = {
    def dd(x: String, y: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> $x[CAST(i AS INTEGER)] * $y[CAST(i AS INTEGER)])), " +
        s"(acc, v) -> acc + v)"
    val bucketExpr = Similarity.hyperplanes(4, 64).zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN ${dd("embedding", arr)} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val stops = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH ${textEmbedCtes("SELECT doc_id, text FROM documents")},
       |e AS (
       |  SELECT doc_id, CAST($bucketExpr AS BIGINT) AS bucket FROM temb),
       |nb AS (SELECT CAST(count(DISTINCT bucket) AS BIGINT) AS nb FROM e),
       |nd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM e GROUP BY 1),
       |tm AS (
       |  SELECT doc_id, t.term
       |  FROM tsrc, unnest(string_split(text, ' ')) AS t(term)
       |  WHERE t.term <> '' AND t.term NOT IN ($stops)),
       |bt AS (
       |  SELECT e.bucket, tm.term, CAST(count(*) AS BIGINT) AS tf
       |  FROM tm JOIN e ON tm.doc_id = e.doc_id GROUP BY 1, 2),
       |dfb AS (SELECT term, CAST(count(*) AS BIGINT) AS df_buckets
       |  FROM bt GROUP BY 1),
       |sc AS (
       |  SELECT bt.bucket, bt.term, bt.tf, dfb.df_buckets,
       |    CAST(floor(CAST(bt.tf AS DOUBLE)
       |      * ln(1.0 + CAST(nb.nb AS DOUBLE) / CAST(dfb.df_buckets AS DOUBLE))
       |      * 1000000.0 + 0.5) AS BIGINT) AS score_micro
       |  FROM bt JOIN dfb ON bt.term = dfb.term CROSS JOIN nb),
       |rk AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY bucket
       |    ORDER BY score_micro DESC, term ASC) AS BIGINT) AS rk
       |  FROM sc)
       |SELECT r.bucket, nd.n_docs, r.rk, r.term, r.tf, r.df_buckets,
       |  r.score_micro
       |FROM rk r JOIN nd ON r.bucket = nd.bucket
       |WHERE r.rk <= 5 ORDER BY r.bucket, r.rk""".stripMargin
  }

  /** q_bitext_mine oracle: both slices' embedding chains (shared
    * textEmbedCtes), the 4-plane bucket blocking, the candidate cross
    * within buckets, and the mutual-top-1 + second-best margin ranks —
    * every dot the same explicit left fold as the operator's native
    * ddot, ties broken by id on both engines.
    */
  private def bitextMineOracle: String = {
    def dd(x: String, y: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> $x[CAST(i AS INTEGER)] * $y[CAST(i AS INTEGER)])), " +
        s"(acc, v) -> acc + v)"
    val bucketExpr = Similarity.hyperplanes(4, 64).zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN ${dd("embedding", arr)} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH ${textEmbedCtes(
        "SELECT doc_id, text FROM documents WHERE lang = 'en'", p = "sx")},
       |${textEmbedCtes(
        "SELECT doc_id, text FROM documents WHERE lang = 'fr'", p = "ty")},
       |ex AS (
       |  SELECT doc_id, embedding,
       |    sqrt(${dd("embedding", "embedding")}) AS nrm,
       |    CAST($bucketExpr AS BIGINT) AS bucket
       |  FROM sxemb),
       |ey AS (
       |  SELECT doc_id, embedding,
       |    sqrt(${dd("embedding", "embedding")}) AS nrm,
       |    CAST($bucketExpr AS BIGINT) AS bucket
       |  FROM tyemb),
       |cand AS (
       |  SELECT x.doc_id AS src_id, y.doc_id AS tgt_id,
       |    ${dd("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS sim
       |  FROM ex x JOIN ey y ON x.bucket = y.bucket
       |  WHERE x.nrm > 0 AND y.nrm > 0),
       |fwd AS (
       |  SELECT src_id, tgt_id, sim,
       |    row_number() OVER (PARTITION BY src_id
       |      ORDER BY sim DESC, tgt_id ASC) AS rs
       |  FROM cand),
       |top1 AS (SELECT src_id, tgt_id, sim FROM fwd WHERE rs = 1),
       |sec AS (SELECT src_id, sim AS sim2 FROM fwd WHERE rs = 2),
       |back AS (
       |  SELECT src_id, tgt_id FROM (
       |    SELECT src_id, tgt_id,
       |      row_number() OVER (PARTITION BY tgt_id
       |        ORDER BY sim DESC, src_id ASC) AS rt
       |    FROM cand) WHERE rt = 1)
       |SELECT t.src_id, t.tgt_id,
       |  floor(t.sim * 10000.0 + 0.5) / 10000.0 AS sim_r,
       |  CASE WHEN s.sim2 IS NOT NULL THEN
       |    floor((t.sim - s.sim2) * 10000.0 + 0.5) / 10000.0 END AS margin_r
       |FROM top1 t
       |JOIN back b ON t.src_id = b.src_id AND t.tgt_id = b.tgt_id
       |LEFT JOIN sec s ON t.src_id = s.src_id
       |ORDER BY t.src_id""".stripMargin
  }

  private def textSemDedupOracle: String = {
    def dd(x: String, y: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> $x[CAST(i AS INTEGER)] * $y[CAST(i AS INTEGER)])), " +
        s"(acc, v) -> acc + v)"
    val bucketExpr = Similarity.hyperplanes(8, 64).zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN ${dd("embedding", arr)} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH ${textEmbedCtes(
        """SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0""".stripMargin)},
       |e AS (
       |  SELECT doc_id, embedding,
       |    sqrt(${dd("embedding", "embedding")}) AS nrm,
       |    CAST($bucketExpr AS BIGINT) AS bucket
       |  FROM temb),
       |p AS (
       |  SELECT y.doc_id AS doc_id, y.bucket AS bucket, x.doc_id AS xid,
       |    ${dd("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS sim
       |  FROM e x JOIN e y ON x.bucket = y.bucket AND x.doc_id < y.doc_id)
       |SELECT doc_id, bucket, min(xid) AS dup_of,
       |  CAST(count(*) AS BIGINT) AS n_dups,
       |  floor(max(sim) * 10000.0 + 0.5) / 10000.0 AS best_sim_r
       |FROM p WHERE sim >= 0.99
       |GROUP BY doc_id, bucket""".stripMargin
  }

  /** q_text_semdedup_staged oracle: replay the md5-window exact
    * collapse, then the same bucket-blocked drop rule on the collapsed
    * representatives (embedding CTEs shared via textEmbedCtes).
    */
  private def textSemDedupStagedOracle: String = {
    def dd(x: String, y: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> $x[CAST(i AS INTEGER)] * $y[CAST(i AS INTEGER)])), " +
        s"(acc, v) -> acc + v)"
    val bucketExpr = Similarity.hyperplanes(8, 64).zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN ${dd("embedding", arr)} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val collapsed =
      """SELECT min(doc_id) AS doc_id, min_by(text, doc_id) AS text
        |  FROM corpus0 GROUP BY md5(text)""".stripMargin
    s"""WITH corpus0 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0),
       |wr AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
       |  FROM corpus0),
       |exact AS (
       |  SELECT doc_id, rep_id AS dup_of, 'exact' AS reason
       |  FROM wr WHERE doc_id <> rep_id),
       |${textEmbedCtes(collapsed)},
       |e AS (
       |  SELECT doc_id, embedding,
       |    sqrt(${dd("embedding", "embedding")}) AS nrm,
       |    CAST($bucketExpr AS BIGINT) AS bucket
       |  FROM temb),
       |p AS (
       |  SELECT y.doc_id AS doc_id, x.doc_id AS xid,
       |    ${dd("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS sim
       |  FROM e x JOIN e y ON x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |sem AS (
       |  SELECT doc_id, min(xid) AS dup_of, 'semantic' AS reason
       |  FROM p WHERE sim >= 0.99 GROUP BY doc_id)
       |SELECT doc_id, dup_of, reason FROM exact
       |UNION ALL
       |SELECT doc_id, dup_of, reason FROM sem""".stripMargin
  }

  /** q_dedup_editdist_staged oracle: replay the exact-collapse (min-id
    * representative per md5(text)) over the exact+near planted corpus,
    * then the same candidate chain and levenshtein verify.
    */
  private def editDistStagedOracle: String = {
    val collapsed =
      """SELECT min(doc_id) AS doc_id, min_by(text, doc_id) AS text
        |  FROM (SELECT doc_id, text FROM documents
        |        UNION ALL
        |        SELECT doc_id + 1000000,
        |          substring(text, 1, greatest(length(text) - 30, 1))
        |        FROM documents WHERE doc_id % 20 = 0
        |        UNION ALL
        |        SELECT doc_id + 2000000, text FROM documents
        |        WHERE doc_id % 10 = 0)
        |  GROUP BY md5(text)""".stripMargin
    s"""WITH ${minhashSelfPairsCtes(collapsed)}
       |$editDistVerifySelect""".stripMargin
  }

  /** q_cdc_dedup_portable oracle: the content-defined chunker replayed in
    * DuckDB. The sequential Rabin roll at position i IS the polynomial
    * hash of the trailing `window` characters (the subtraction step keeps
    * exactly the window), so boundaries are computable per-position
    * with a short inner fold; a windowed boundary count then assigns each
    * character to its chunk, and each chunk's digest is the ordered
    * mod-fold of its characters — no sequential whole-document state
    * needed, which also sidesteps DuckDB's non-accumulating list-in-
    * struct list_reduce.
    */
  private def cdcPortableOracle: String = {
    val window = 8
    val p = 1000000007L
    val mask = (1L << 5) - 1
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) - 30, 1))
       |  FROM documents WHERE doc_id % 20 = 0),
       |chs AS (SELECT doc_id, string_split(text, '') AS cs FROM corpus),
       |pos AS (
       |  SELECT doc_id, i.i AS i, CAST(ascii(cs[i.i]) AS BIGINT) AS b,
       |    CASE WHEN i.i >= $window THEN
       |      (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |         list_transform(range(greatest(i.i - $window + 1, 1), i.i + 1),
       |           j -> CAST(ascii(cs[j]) AS BIGINT))),
       |         (acc, c) -> (acc * 257 + c) % $p) & $mask) = 0
       |    ELSE false END AS is_boundary
       |  FROM chs, unnest(range(1, len(cs) + 1)) AS i(i)),
       |ck AS (
       |  SELECT doc_id, i, b,
       |    count(*) FILTER (WHERE is_boundary) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS chunk_idx
       |  FROM pos),
       |dig AS (
       |  SELECT doc_id, chunk_idx,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(b ORDER BY i ASC)),
       |      (acc, c) -> (acc * 257 + c) % $p) AS chunk_hash
       |  FROM ck GROUP BY doc_id, chunk_idx)
       |SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
       |FROM dig GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2""".stripMargin
  }

  /** q_dedup_simhash_portable oracle: the identical SimHash pipeline in
    * DuckDB — 60-bit token hashes from two rolling folds (bases 257/131),
    * per-bit majority votes (bit set iff 2*votes > n, the Simhash64
    * rule), 4x16-bit chunk banding, bit_count(xor) hamming verify.
    */
  private def simhashPairsCtes: String = {
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) - 30, 1))
       |  FROM documents WHERE doc_id % 20 = 0),
       |hs AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '),
       |    tkn -> ${sqlFold("tkn")} * (CAST(1 AS BIGINT) << 30) + ${sqlFold("tkn", base = 131)}) AS hs
       |  FROM corpus),
       |bits AS (
       |  -- token hashes are 60-bit composites, so bits 60..63 never have a
       |  -- vote and stay 0 on both engines; folding 0..59 avoids the
       |  -- signed-bigint 1<<63 overflow
       |  SELECT doc_id, list_transform(range(0, 60), j ->
       |    CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> j) & 1)) > len(hs)
       |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bits
       |  FROM hs),
       |sig AS (
       |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, 61), i -> bits[i] * (CAST(1 AS BIGINT) << (i - 1)))),
       |    (acc, x) -> acc + x) AS simhash
       |  FROM bits),
       |chunked AS (
       |  SELECT doc_id, simhash, c.chunk, (simhash >> (c.chunk * 16)) & 65535 AS cv
       |  FROM sig, range(0, 4) c(chunk)),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.simhash AS sh_a, y.simhash AS sh_b
       |  FROM chunked x JOIN chunked y
       |    ON x.chunk = y.chunk AND x.cv = y.cv AND x.doc_id < y.doc_id),
       |hpairs AS (
       |  SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
       |  FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 3)""".stripMargin
  }

  private def simhashPortableOracle: String =
    s"""WITH $simhashPairsCtes
       |SELECT doc_a, doc_b, hamming FROM hpairs""".stripMargin

  /** q_simhash_calibration oracle: the shared hamming-pair CTEs + exact
    * 3-token-shingle Jaccard (the same base-257 fold the minhash family
    * uses), aggregated per hamming value.
    */
  private def simhashCalibrationOracle: String = {
    val fold = sqlFold("s")
    s"""WITH $simhashPairsCtes,
       |t3 AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh3 AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
       |    s -> $fold)) AS ids
       |  FROM t3),
       |cal AS (
       |  SELECT p.hamming,
       |    CAST(floor(len(list_intersect(a.ids, b.ids)) * 1000000.0 /
       |      (len(a.ids) + len(b.ids) - len(list_intersect(a.ids, b.ids)))
       |      + 0.5) AS BIGINT) AS jac_u
       |  FROM hpairs p
       |  JOIN sh3 a ON p.doc_a = a.doc_id
       |  JOIN sh3 b ON p.doc_b = b.doc_id)
       |SELECT hamming, count(*) AS n_pairs,
       |  floor(sum(jac_u) / count(*) / 100.0 + 0.5) / 10000.0 AS mean_jaccard_r,
       |  floor(min(jac_u) / 100.0 + 0.5) / 10000.0 AS min_jaccard_r,
       |  floor(max(jac_u) / 100.0 + 0.5) / 10000.0 AS max_jaccard_r
       |FROM cal GROUP BY 1""".stripMargin
  }

  /** q_text_cross_leak oracle: verbatim collapse of the corpus, the
    * embedding CTE chain per side (prefixes c/e), inlined hyperplane
    * buckets, and the cross-side cosine filter — dots in the exact
    * left-fold order of the Spark side's native DoubleVecDot.
    */
  private def textCrossLeakOracle: String = {
    def dd(x: String, y: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> $x[CAST(i AS INTEGER)] * $y[CAST(i AS INTEGER)])), " +
        s"(acc, v) -> acc + v)"
    val bucketExpr = Similarity.hyperplanes(8, 64).zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN ${dd("embedding", arr)} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH reps0 AS (
       |  SELECT min(doc_id) AS doc_id, min_by(text, doc_id) AS text
       |  FROM documents GROUP BY md5(text)),
       |eval0 AS (
       |  SELECT doc_id + 1000000 AS doc_id,
       |    array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
       |  FROM documents WHERE doc_id % 20 = 0),
       |${textEmbedCtes("SELECT doc_id, text FROM reps0", "c")},
       |${textEmbedCtes("SELECT doc_id, text FROM eval0", "e")},
       |cs AS (
       |  SELECT doc_id, embedding, sqrt(${dd("embedding", "embedding")}) AS nrm,
       |    CAST($bucketExpr AS BIGINT) AS bucket
       |  FROM cemb),
       |es AS (
       |  SELECT doc_id, embedding, sqrt(${dd("embedding", "embedding")}) AS nrm,
       |    CAST($bucketExpr AS BIGINT) AS bucket
       |  FROM eemb)
       |SELECT x.doc_id AS rep_id, y.doc_id AS eval_id,
       |  floor(${dd("x.embedding", "y.embedding")} / (x.nrm * y.nrm)
       |    * 10000.0 + 0.5) / 10000.0 AS sim_r
       |FROM cs x JOIN es y ON x.bucket = y.bucket
       |WHERE ${dd("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= 0.99""".stripMargin
  }

  /** The per-source salted-hash top-5 replay — q_group_sample's oracle,
    * which q_stream_gsample shares: bottom-k of a set re-derives from the
    * streamed emission log. */
  private[registry] lazy val groupSampleOracle: Oracle =
    sql(s"""WITH h AS (
      |  SELECT doc_id, source,
      |    ${sqlFold("'gsample:' || CAST(doc_id AS VARCHAR)")} AS ord
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY ord, doc_id) AS BIGINT) AS rank
      |  FROM h)
      |SELECT doc_id, source, rank FROM r WHERE rank <= 5""".stripMargin)
}
