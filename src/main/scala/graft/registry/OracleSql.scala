package graft
package registry

import graft.operators.Dedup

/** DuckDB SQL the oracles of more than one query share: the portable
  * hashes and the HyperLogLog sketch the Spark side computes, and the
  * signature-ingest replay that both the ingest queries and the day-close
  * chains run. Each is written once so every oracle that uses it renders
  * the same text. */
private[graft] object OracleSql {

  /** The salted 52-bit md5 uniform: the first 13 hex digits of
    * `md5(salted)` as a BIGINT. */
  def md5bits(salted: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(substring(md5($salted), 1, 13), ''),
       |        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
       |      (acc, c) -> acc * 16 + c)""".stripMargin

  /** The salted polynomial rolling-hash fold, mod 1e9+7, over the
    * characters of string expression `s` — replays
    * graftnative.RollingHash (Bpe keeps its own copy for its oracles).
    * `v` names the lambda variable where `c` is taken. */
  def sqlFold(s: String, v: String = "c", base: Int = 257): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split($s, ''),
       |        $v -> CAST(ascii($v) AS BIGINT))),
       |      (acc, $v) -> (acc * $base + $v) % 1000000007)""".stripMargin

  /** A HyperLogLog register of the 52-bit hash `hc` over `m` registers
    * (a power of two): `idx` = hc mod m, and `rho` the rank of the
    * leading one bit of the remaining 52 - log2(m) bits. */
  def hllRegister(m: Int = 512): String = {
    val w = 53 - Integer.numberOfTrailingZeros(m)
    s"""hc % $m AS idx,
       |    CASE WHEN hc // $m = 0 THEN $w
       |         ELSE $w - length(bin(hc // $m)) END AS rho""".stripMargin
  }

  /** The integer harmonic sum of 512 register maxima `mx`, each weighted
    * 2^(44 - mx). */
  def hllSum(mx: String = "mx"): String =
    s"CAST(sum(CAST(1 AS BIGINT) << CAST(44 - $mx AS INT)) AS BIGINT)"

  /** The 512-register estimate from harmonic sum `sp` and the count of
    * present registers `npres`, small-range corrected, at 2 dp. */
  val hllEstimate: String =
    s"""round(CASE WHEN CAST('3.3194137200059597e+18' AS DOUBLE)
       |        / CAST(sp + (512 - npres) * 17592186044416 AS DOUBLE) <= 1280.0
       |        AND npres < 512
       |      THEN CAST(512 AS DOUBLE)
       |        * ln(CAST(512 AS DOUBLE) / CAST(512 - npres AS DOUBLE))
       |      ELSE CAST('3.3194137200059597e+18' AS DOUBLE)
       |        / CAST(sp + (512 - npres) * 17592186044416 AS DOUBLE)
       |      END, 2)""".stripMargin

  /** The HyperLogLog audit CTEs over distinct (`key`, value) rows in CTE
    * `d`, hashing `'hll:' || value`: the 512 registers, the raw estimate,
    * its small-range correction and the error against the exact distinct
    * count, ending in the per-`key` SELECT. */
  def hllAudit(key: String, value: String): String =
    s"""h AS (
       |  SELECT $key,
       |    ${md5bits(s"'hll:' || $value")} AS hc
       |  FROM d),
       |r AS (
       |  SELECT $key, ${hllRegister()}
       |  FROM h),
       |reg AS (
       |  SELECT $key, idx, max(rho) AS mx,
       |    CAST(count(*) AS BIGINT) AS nv
       |  FROM r GROUP BY 1, 2),
       |g AS (
       |  SELECT $key, CAST(count(*) AS BIGINT) AS npres,
       |    CAST(sum(nv) AS BIGINT) AS n_exact,
       |    ${hllSum()} AS sp
       |  FROM reg GROUP BY 1),
       |e AS (
       |  SELECT $key, n_exact, CAST(512 - npres AS INT) AS v_zero,
       |    CAST('3.3194137200059597e+18' AS DOUBLE)
       |      / CAST(sp + (512 - npres) * 17592186044416 AS DOUBLE) AS est_raw
       |  FROM g),
       |e2 AS (
       |  SELECT $key, n_exact, v_zero,
       |    (est_raw <= 1280.0 AND v_zero > 0) AS small_range,
       |    round(CASE WHEN est_raw <= 1280.0 AND v_zero > 0
       |      THEN CAST(512 AS DOUBLE) * ln(CAST(512 AS DOUBLE) / CAST(v_zero AS DOUBLE))
       |      ELSE est_raw END, 2) AS hll_est
       |  FROM e)
       |SELECT $key, n_exact, v_zero, small_range, hll_est,
       |  CAST(round(abs(hll_est - CAST(n_exact AS DOUBLE))
       |    / CAST(n_exact AS DOUBLE) * 10000.0, 0) AS BIGINT) AS err_bp
       |FROM e2 ORDER BY $key""".stripMargin

  /** Shared minhash-side CTE generator (k=64, bands=16): content hash,
    * token, shingle-id, signature, and band-slice CTEs for one named doc
    * source — used by the cross-corpus AND ingest oracles so the
    * signature replay can never diverge between them.
    */
  def minhashSideCtes(name: String, src: String): String = {
    val k = 64; val bands = 16; val r = k / bands; val p = 2147483647L
    val fold = sqlFold("s")
    val sigEntries = Dedup.portableCoefs(k).map { case (a, b) =>
      s"list_min(list_transform(ids, x -> ($a * (x % $p) + $b) % $p))"
    }.mkString(",\n    ")
    s"""h_$name AS (SELECT doc_id, md5(text) AS text_hash FROM $src),
       |t_$name AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM $src
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh_$name AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
       |    s -> $fold)) AS ids
       |  FROM t_$name),
       |sig_$name AS (SELECT doc_id, [$sigEntries] AS sig FROM sh_$name),
       |banded_$name AS (
       |  SELECT doc_id, sig, b.band, sig[b.band*$r+1 : b.band*$r+$r] AS bv
       |  FROM sig_$name, range(0, $bands) b(band))""".stripMargin
  }

  /** The tier-by-tier batch-decide CTE chain shared by the q_dedup_ingest
    * and q_ingest_decide oracles (one definition so the one-shot chain
    * and the bucketed recurring path can never diverge in the replay):
    * exact-hash vs index, banded minhash vs index, greedy within-batch
    * exact/near, priority CASE — yields `dec_<b>` (doc_id, verdict,
    * matched_id).
    */
  def ingestDecideCtes(b: String, idxHash: String,
      idxBanded: String): String = {
    val est = "CAST(len(list_filter(range(1, 65), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 64"
    s"""exacti_$b AS (
       |  SELECT h.doc_id, min(i.doc_id) AS m
       |  FROM h_$b h JOIN $idxHash i USING (text_hash) GROUP BY h.doc_id),
       |candi_$b AS (
       |  SELECT DISTINCT x.doc_id AS idx_id, y.doc_id AS b_id,
       |    x.sig AS sig_a, y.sig AS sig_b
       |  FROM $idxBanded x JOIN banded_$b y ON x.band = y.band AND x.bv = y.bv),
       |neari_$b AS (
       |  SELECT b_id AS doc_id, min(idx_id) AS m FROM candi_$b
       |  WHERE $est >= 0.5 GROUP BY b_id),
       |exactb_$b AS (
       |  SELECT x.doc_id, min(y.doc_id) AS m
       |  FROM h_$b x JOIN h_$b y
       |    ON x.text_hash = y.text_hash AND y.doc_id < x.doc_id
       |  GROUP BY x.doc_id),
       |candb_$b AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |    x.sig AS sig_a, y.sig AS sig_b
       |  FROM banded_$b x JOIN banded_$b y
       |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
       |nearb_$b AS (
       |  SELECT b_id AS doc_id, min(a_id) AS m FROM candb_$b
       |  WHERE $est >= 0.5 GROUP BY b_id),
       |dec_$b AS (
       |  SELECT h.doc_id,
       |    CASE WHEN ei.m IS NOT NULL THEN 'exact_index'
       |         WHEN ni.m IS NOT NULL THEN 'near_index'
       |         WHEN eb.m IS NOT NULL THEN 'exact_batch'
       |         WHEN nb.m IS NOT NULL THEN 'near_batch'
       |         ELSE 'keep' END AS verdict,
       |    COALESCE(ei.m, ni.m, eb.m, nb.m) AS matched_id
       |  FROM h_$b h
       |  LEFT JOIN exacti_$b ei USING (doc_id)
       |  LEFT JOIN neari_$b ni USING (doc_id)
       |  LEFT JOIN exactb_$b eb USING (doc_id)
       |  LEFT JOIN nearb_$b nb USING (doc_id))""".stripMargin
  }

  /** q_ingest_decide oracle: ONE batch decided against the seed index —
    * the recurring bucketed decide replays identically to the chain's
    * first step because the Spark side shares Ingest.decide and this
    * side shares [[ingestDecideCtes]] with the q_dedup_ingest oracle.
    */
  def ingestDecideSql: String =
    s"""WITH c0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
       |b1_0 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents
       |  WHERE doc_id % 3 = 1 AND doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, substring(text, 1, greatest(length(text) - 30, 1))
       |  FROM documents WHERE doc_id % 3 = 1 AND doc_id % 20 = 5),
       |${minhashSideCtes("c", "c0")},
       |${minhashSideCtes("b1", "b1_0")},
       |${ingestDecideCtes("b1", "h_c", "banded_c")}
       |SELECT doc_id, verdict, matched_id FROM dec_b1""".stripMargin

  /** q_dedup_ingest oracle: seed index from the corpus slice, replay both
    * batch decisions tier-by-tier (exact-hash vs index, banded minhash vs
    * index, greedy within-batch exact/near), appending batch-1 keepers'
    * hash and band rows to the index before batch 2 — the replay of
    * Ingest.ingestChain over the shared [[minhashSideCtes]] signatures.
    */
  /** The two-batch ingest CTE body (c0 → dec_b1 → keeper-appended index
    * → dec_b2) shared by the q_dedup_ingest oracle and the two-day
    * close's ingest stages — one definition so the chain replay and the
    * per-day decide replays can never diverge. */
  def twoBatchIngestCtes: String = {
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
       |b2_0 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000, text FROM documents
       |  WHERE doc_id % 3 = 2 AND doc_id % 10 = 2),
       |${minhashSideCtes("c", "c0")},
       |${minhashSideCtes("b1", "b1_0")},
       |${minhashSideCtes("b2", "b2_0")},
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
       |${decide("b2", "h_i1", "banded_i1")}""".stripMargin
  }
}
