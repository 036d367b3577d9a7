package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.analytics.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.functions.NetFunctions

/** Shared machinery of the query catalog: parquet table readers,
  * decimal-cast helpers, the quality-scoring chain shared by the
  * curation queries, and every DuckDB-SQL CTE builder the oracle
  * twins share (so operator and oracle cannot drift). Split out of
  * the single-file catalog; see [[SparkEntry]] for the contract and
  * the numeric-portability conventions.
  */
private[graft] object QueryHelpers {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private[graft] def dec(c: Column, p: Int, sc: Int): Column = c.cast(s"decimal($p,$sc)")

  /** Fixed clock for the NEF fixture query (determinism). */
  private[graft] val FixedNow = 1700000000L

  /** d19's public-suffix rule list — a PSL slice with single- and
    * multi-label rules so longest-match is exercised (github.io beats io,
    * co.uk beats uk, example.com beats com); the SQL twin carries the
    * identical literal list.
    */
  private[graft] val d19Psl: Seq[String] =
    Seq("com", "net", "org", "io", "uk", "co.uk", "ac.uk",
      "github.io", "example.com")


  /** The ONE quality-scoring projection behind q37/q38/q42 (the Spark twin
    * of [[qualityScoreCtes]]): (doc_id, lang, quality, n_tokens), with the
    * tokenizer materialized on its own projection boundary per the HOF
    * rule. Any scoring change propagates to all three queries — exactly
    * the no-drift contract their oracles share.
    */
  private[graft] def qualityScored(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), col("text"),
        TextAnalysis.tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScoreFromTokens(col("text"), col("ws")).as("quality"),
        size(col("ws")).cast("bigint").as("n_tokens"))

  /** Shared q37/q38 tail: quality score → per-language rank → top-k quota
    * (ONE definition so the two curation queries and their oracles cannot
    * drift from each other).
    */
  private[graft] def qualityQuota(docs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
    qualityScored(docs).withColumn("rnk", row_number().over(w).cast("bigint"))
      .where(col("rnk") <= k)
      .select(col("lang"), col("rnk"), col("doc_id"), col("quality"))
      .orderBy(col("lang"), col("rnk"))
  }

  /** q42: per-language token-budget selection — quality-ordered running
    * token sum (rows-unbounded-preceding window), keep while the INCLUSIVE
    * cumulative count stays within the budget. The running sum is integer
    * arithmetic, so the cross-engine cutoff is exact; the quality ORDER
    * inside the window reuses the double formula q37's oracle already
    * hash-matches.
    */
  private[graft] def tokenBudgetSelect(docs: DataFrame, budgetPerLang: Long): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    qualityScored(docs).withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= budgetPerLang)
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("cum_tokens"), col("quality"))
      .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
  }

  // ── DuckDB oracle twins (ANSI SQL on the same parquet tables) ──

  private[graft] val bitrateSqlExpr =
    """round(CAST(NULLIF(regexp_extract(trim(br), '^(\d+\.?\d*)\s*(bps|Kbps|Mbps|Gbps|Tbps)$', 1), '') AS DOUBLE)
      | * CASE regexp_extract(trim(br), '^(\d+\.?\d*)\s*(bps|Kbps|Mbps|Gbps|Tbps)$', 2)
      |     WHEN 'bps' THEN 1e-6 WHEN 'Kbps' THEN 1e-3 WHEN 'Mbps' THEN 1.0
      |     WHEN 'Gbps' THEN 1e3 WHEN 'Tbps' THEN 1e6 END, 6)""".stripMargin

  private[graft] val tokensSqlExpr =
    """list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> length(x) > 0)"""

  // ── shared CTE builders of the portable-MinHash twins (d10/d11/d12) ──

  /** Spark's wrapping 64-bit h·a+b reproduced in HUGEINT, re-centered to
    * signed 64-bit (expects columns `h`, `a`, `b` in scope). */
  private[graft] val minhashSwExpr =
    "(((h * a + b) % 18446744073709551616 + 18446744073709551616 + " +
      "9223372036854775808) % 18446744073709551616) - 9223372036854775808"

  /** md5-low64 of `s` as a signed BIGINT-range HUGEINT — the portable
    * base hash ([[Dedup.md5Low64]]'s twin). */
  private[graft] val md5Low64SqlExpr =
    "CASE WHEN CAST(('0x' || substr(md5(s), 17, 16)) AS UBIGINT) >= 9223372036854775808" +
      " THEN CAST(('0x' || substr(md5(s), 17, 16)) AS UBIGINT)::HUGEINT - 18446744073709551616" +
      " ELSE CAST(('0x' || substr(md5(s), 17, 16)) AS UBIGINT)::HUGEINT END"

  /** Opening CTEs of every portable-MinHash oracle: the k (a,b) constants
    * from the ONE shared generator ([[Dedup.minhashConstants]] — also
    * behind `minhashFromHashes` and the native expression, so operator and
    * oracle cannot drift), then tokenize → 3-gram shingle → md5-low64 base
    * hash. Emits `consts(pos, a, b)`, `tok`, `g`, `hs`; callers append
    * consumers of `hs CROSS JOIN consts`.
    */
  /** The ONE tokenize→distinct-3-shingle CTE pair (`tok`, `g`) — shared
    * by the minhash chain, the exact-truth chain, and the d37 simhash
    * sweep so the shingle definition cannot drift between consumers.
    */
  private[graft] def shingleCtes(src: String = "documents"): String =
    s"""tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM $src),
       |g AS (SELECT doc_id, list_distinct(list_transform(range(len(ws) - 2),
       |  i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
       |  FROM tok WHERE len(ws) >= 3)""".stripMargin

  private[graft] def portableMinhashCtes(k: Int, src: String = "documents"): String = {
    val consts = Dedup.minhashConstants(k).zipWithIndex.map { case ((a, b), p) =>
      s"($p, CAST($a AS HUGEINT), CAST($b AS HUGEINT))"
    }.mkString(", ")
    s"""consts(pos, a, b) AS (VALUES $consts),
       |${shingleCtes(src)},
       |hs AS (SELECT doc_id, list_transform(sh, s -> $md5Low64SqlExpr) AS hl FROM g)""".stripMargin
  }

  /** Band→bucket-join→estimate tail of the LSH twins (d11/d12), mirroring
    * [[Dedup.minhashCandidates]]: per-doc ordered signature lists, `bands`
    * bands of k/bands as list slices, candidate pairs on ANY equal band
    * slice (a_id < b_id, distinct), est_jaccard = agreeing-position
    * fraction over the full k, thresholded. Emits `sig`, `bnd`, `cand`,
    * `pairs(a_id, b_id, est_jaccard)` on top of [[portableMinhashCtes]].
    */
  private[graft] def portableLshPairCtes(k: Int, bands: Int, threshold: Double): String = {
    require(k % bands == 0, s"signature length $k must divide into $bands bands")
    val rpb = k / bands
    s"""sig AS (SELECT doc_id,
       |  list(CAST(list_min(list_transform(hl, h -> $minhashSwExpr)) AS BIGINT) ORDER BY pos) AS sg
       |  FROM hs CROSS JOIN consts GROUP BY doc_id),
       |bnd AS (SELECT doc_id, b, list_slice(sg, b*$rpb + 1, b*$rpb + $rpb) AS slc
       |  FROM sig CROSS JOIN range($bands) r(b)),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bnd x JOIN bnd y ON x.b = y.b AND x.slc = y.slc AND x.doc_id < y.doc_id),
       |pairs AS (SELECT a_id, b_id, est_jaccard FROM (
       |  SELECT a_id, b_id,
       |    CAST(len(list_filter(range(1, ${k + 1}), i -> sa.sg[i] = sb.sg[i])) AS DOUBLE) / $k AS est_jaccard
       |  FROM cand JOIN sig sa ON sa.doc_id = cand.a_id JOIN sig sb ON sb.doc_id = cand.b_id)
       |  WHERE est_jaccard >= $threshold)""".stripMargin
  }

  /** Exact n-gram-Jaccard ground-truth CTEs on top of
    * [[portableMinhashCtes]]'s shingle CTE `g`: `ex` explodes the
    * shingle sets, `inter` counts pairwise intersections, `truth` keeps
    * pairs at Jaccard >= threshold. ONE definition shared by the d26
    * point evaluation and the d36 sweep so the ground truth cannot
    * drift between them.
    */
  private[graft] def exactTruthPairCtes(threshold: Double): String =
    s"""ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM g),
       |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.sz AS a_size, b.sz AS b_size, count(*) AS n_inter
       |  FROM ex a JOIN ex b USING (shingle)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
       |truth AS (SELECT a_id, b_id FROM (
       |    SELECT a_id, b_id,
       |      CAST(n_inter AS DOUBLE) / (a_size + b_size - n_inter) AS j
       |    FROM inter) WHERE j >= $threshold)""".stripMargin

  /** LSH band-sweep twin (d36): ONE `sig` CTE (the shared signature pass
    * [[Dedup.lshBandSweep]] persists), then per grid level its own
    * banding/candidate/estimate/compare chain against the shared exact
    * `truth` ([[exactTruthPairCtes]]), unioned into operating-curve rows.
    */
  private[graft] def lshSweepOracleSql(k: Int, bandsGrid: Seq[Int],
      threshold: Double): String = {
    require(bandsGrid.distinct.size == bandsGrid.size,
      s"duplicate band counts would define duplicate CTE names: $bandsGrid")
    val sorted = bandsGrid.sorted
    val per = sorted.map { bands =>
      val rpb = k / bands
      s"""bnd$bands AS (SELECT doc_id, b, list_slice(sg, b*$rpb + 1, b*$rpb + $rpb) AS slc
         |  FROM sig CROSS JOIN range($bands) r(b)),
         |cand$bands AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bnd$bands x JOIN bnd$bands y
         |  ON x.b = y.b AND x.slc = y.slc AND x.doc_id < y.doc_id),
         |p$bands AS (SELECT a_id, b_id FROM (
         |  SELECT a_id, b_id,
         |    CAST(len(list_filter(range(1, ${k + 1}), i -> sa.sg[i] = sb.sg[i])) AS DOUBLE) / $k AS ej
         |  FROM cand$bands c JOIN sig sa ON sa.doc_id = c.a_id
         |    JOIN sig sb ON sb.doc_id = c.b_id)
         |  WHERE ej >= $threshold),
         |u$bands AS (SELECT
         |    CASE WHEN p.a_id IS NOT NULL THEN 1 ELSE 0 END AS e,
         |    CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END AS t
         |  FROM p$bands p FULL OUTER JOIN truth t
         |  ON p.a_id = t.a_id AND p.b_id = t.b_id),
         |a$bands AS (SELECT CAST(sum(t) AS BIGINT) AS n_true,
         |    CAST(sum(e) AS BIGINT) AS n_est,
         |    CAST(sum(e * t) AS BIGINT) AS tp FROM u$bands)""".stripMargin
    }.mkString(",\n")
    val rows = sorted.map { bands =>
      s"""SELECT CAST($bands AS BIGINT) AS bands,
         |  CAST(${k / bands} AS BIGINT) AS rows_per_band, n_true, n_est, tp,
         |  CASE WHEN n_est > 0 THEN CAST(tp AS DOUBLE) / CAST(n_est AS DOUBLE) END AS precision,
         |  CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) END AS recall
         |FROM a$bands""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${portableMinhashCtes(k)},
       |sig AS (SELECT doc_id,
       |  list(CAST(list_min(list_transform(hl, h -> $minhashSwExpr)) AS BIGINT) ORDER BY pos) AS sg
       |  FROM hs CROSS JOIN consts GROUP BY doc_id),
       |${exactTruthPairCtes(threshold)},
       |$per
       |$rows
       |ORDER BY bands""".stripMargin
  }

  /** SimHash fold CTEs over the portable md5-low64 token hash, mirroring
    * [[Dedup.simhashedPortable]]'s vote/fold construction: tokenize →
    * per-token signed-64 hash → 64 per-bit votes → fold to one BIGINT
    * (bit i set iff vote_i > 0; token-less docs LEFT-JOIN to all-zero
    * votes = fingerprint 0, matching Spark's declarative fold). Emits
    * `fps(doc_id, simhash)`; shared by the d08 value twin and the d05
    * cardinality contract so the construction cannot drift.
    */
  private[graft] def portableSimhashCtes: String =
    s"""tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
       |$portableSimhashCoreCtes""".stripMargin

  /** SimHash radius-sweep twin (d37): shared `tok`/`g` shingles
    * ([[shingleCtes]]) feed BOTH the exact-Jaccard truth and (via the
    * token unnest) the simhash chain; 4-block pigeonhole candidates, one
    * shared (pair, hamming) table, per-radius compare-and-aggregate
    * chains unioned into curve rows — the d36 layout on the fingerprint
    * family.
    */
  private[graft] def simhashSweepOracleSql(radii: Seq[Int],
      threshold: Double): String = {
    require(radii.distinct.size == radii.size,
      s"duplicate radii would define duplicate CTE names: $radii")
    val sorted = radii.sorted
    val levels = sorted.map { r =>
      s"""u$r AS (SELECT
         |    CASE WHEN p.a_id IS NOT NULL THEN 1 ELSE 0 END AS e,
         |    CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END AS t
         |  FROM (SELECT a_id, b_id FROM hdp WHERE hd <= $r) p
         |  FULL OUTER JOIN truth t ON p.a_id = t.a_id AND p.b_id = t.b_id),
         |a$r AS (SELECT CAST(sum(t) AS BIGINT) AS n_true,
         |    CAST(sum(e) AS BIGINT) AS n_est,
         |    CAST(sum(e * t) AS BIGINT) AS tp FROM u$r)""".stripMargin
    }.mkString(",\n")
    val rows = sorted.map { r =>
      s"""SELECT CAST($r AS BIGINT) AS radius,
         |  (SELECT n_cand FROM nc) AS n_cand, n_true, n_est, tp,
         |  CASE WHEN n_est > 0 THEN CAST(tp AS DOUBLE) / CAST(n_est AS DOUBLE) END AS precision,
         |  CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) END AS recall
         |FROM a$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${shingleCtes()},
       |${exactTruthPairCtes(threshold)},
       |$portableSimhashCoreCtes,
       |blk AS (SELECT doc_id, b, (simhash >> (16 * b)) & 65535 AS v
       |  FROM fps CROSS JOIN range(4) r(b)),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM blk x JOIN blk y
       |  ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id),
       |hdp AS MATERIALIZED (SELECT a_id, b_id,
       |    CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hd
       |  FROM cand JOIN fps fa ON fa.doc_id = cand.a_id
       |    JOIN fps fb ON fb.doc_id = cand.b_id),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM hdp),
       |$levels
       |$rows
       |ORDER BY radius""".stripMargin
  }

  /** The simhash vote/fold chain WITHOUT its `tok` CTE — for twins that
    * already define `tok` (the d37 sweep shares it with the shingle
    * truth chain via [[shingleCtes]]).
    */
  private[graft] def portableSimhashCoreCtes: String = {
    val votes = (0 until 64).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i").mkString(",\n ")
    val fold = (0 until 64).map { i =>
      val bit = if (i == 63) "(-9223372036854775807 - 1)" else (1L << i).toString
      s"(CASE WHEN v$i > 0 THEN CAST($bit AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" | ")
    s"""tu AS (SELECT doc_id, unnest(ws) AS t FROM tok),
       |th AS (SELECT doc_id,
       |  CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS h
       |  FROM (SELECT doc_id, CAST(('0x' || substr(md5(t), 17, 16)) AS UBIGINT)::HUGEINT AS u FROM tu)),
       |votes AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
       |fps AS (SELECT d.doc_id, $fold AS simhash
       |  FROM documents d LEFT JOIN votes USING (doc_id))""".stripMargin
  }

  /** Rolling-fingerprint fold CTEs over the portable md5-low64 token hash,
    * mirroring [[graft.analytics.TextAnalysis.rollingHashPortableFromTokens]]:
    * ordered token hashes folded with acc*1000003 + h under signed-64
    * wraparound (HUGEINT modular arithmetic), empty docs = 0. Emits
    * `fps(doc_id, fp64)`; shared by the t07 value twin and the t04
    * cardinality contract.
    */
  private[graft] def portableRollingFpCtes: String =
    s"""tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
       |hl AS (SELECT doc_id, list_transform(ws, s -> $md5Low64SqlExpr) AS hl FROM tok),
       |fps AS (SELECT doc_id, CAST(CASE WHEN len(hl) = 0 THEN 0
       |  ELSE list_reduce(hl, (acc, h) -> (((acc * 1000003 + h) % 18446744073709551616
       |    + 18446744073709551616 + 9223372036854775808) % 18446744073709551616)
       |    - 9223372036854775808) END AS BIGINT) AS fp64 FROM hl)""".stripMargin

  /** VALUES rows `(tbl, pl, w)` of the seeded random-hyperplane tables used
    * by s02 — generated from the SAME [[Similarity.hyperplanes]] calls as
    * the operator (one table per seed offset), so operator and oracle share
    * every plane coefficient bit-for-bit. `Double.toString` round-trips
    * exactly and DuckDB parses both plain and E-notation literals as
    * DOUBLE, so no precision is lost crossing engines.
    */
  private[graft] def lshPlanesValues(nTables: Int, planesPerTable: Int, dim: Int, seed: Long): String =
    (0 until nTables).flatMap { t =>
      Similarity.hyperplanes(planesPerTable, dim, seed + t).zipWithIndex.map { case (w, i) =>
        s"($t, $i, [${w.mkString(", ")}]::DOUBLE[])"
      }
    }.mkString(",\n")

  /** Shared scoring tail of the ANN twins (s02/s03): exact cosine over the
    * candidate pairs, per-probe rank (sim desc, neighbor asc — s01's
    * contract), top `k`, display-rounded to 6 dp. Expects CTEs
    * `v(vec_id, ev)` and `cand(probe_id, neighbor_id)` in scope.
    */
  private[graft] def annRankSql(k: Int): String =
    s"""s AS (SELECT probe_id, neighbor_id, list_cosine_similarity(pv.ev, cv.ev) AS sim
       |  FROM cand JOIN v pv ON pv.vec_id = cand.probe_id JOIN v cv ON cv.vec_id = cand.neighbor_id),
       |r AS (SELECT probe_id, neighbor_id, sim,
       |  row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
       |SELECT probe_id, rnk, neighbor_id, round(sim, 6) AS sim FROM r
       |WHERE rnk <= $k ORDER BY probe_id, rnk""".stripMargin

  /** SQL twin of [[qualityQuota]]: `sourceCtes` must open the WITH list and
    * define a CTE `d(doc_id, lang, text)`; the shared tail scores and
    * quota-selects exactly like the Spark helper.
    */
  /** Shared scoring CTEs of the quality-driven curation twins (q37/q38/
    * q42): `sourceCtes` must open the WITH list and define
    * `d(doc_id, lang, text)`; emits `tok`, `f`, and `q(doc_id, lang,
    * n_tokens, quality)` — the same formula as
    * [[TextAnalysis.qualityScoreFromTokens]].
    */
  private[graft] def qualityScoreCtes(sourceCtes: String): String =
    s"""$sourceCtes,
       |tok AS (SELECT doc_id, lang, text, $tokensSqlExpr AS ws FROM d),
       |f AS (SELECT doc_id, lang, text, CAST(len(ws) AS BIGINT) AS n_tokens,
       | CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
       | CASE WHEN len(ws) = 0 THEN 0.0 ELSE CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / len(ws) END AS stopword_ratio
       |FROM tok),
       |q AS (SELECT doc_id, lang, n_tokens,
       | 0.4 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) + 0.4 * stopword_ratio + 0.2 * (1.0 - punct_ratio) AS quality
       |FROM f)""".stripMargin

  /** Shared CTE chain of the d07/d29 exact dedup-cluster twins: opens the
    * WITH RECURSIVE list and emits `tok` and `cc(doc_id, cluster_id)` —
    * the shingle-Jaccard edges (maxDf cap) resolved to min-label
    * connected components. One source of truth so the cluster chain
    * cannot drift between the membership query and its consumers.
    */
  private[graft] def dedupClusterCtes(threshold: Double, maxDf: Long): String =
    s"""WITH RECURSIVE tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
       |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
       |  THEN list_distinct(list_transform(range(len(ws) - 2), i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))
       |  ELSE [] END AS sh FROM tok),
       |e AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM g),
       |df AS (SELECT shingle, count(*) AS dfreq FROM e GROUP BY shingle),
       |ef AS (SELECT e.doc_id, e.sz, e.shingle FROM e JOIN df USING (shingle) WHERE dfreq <= $maxDf),
       |inter AS (
       | SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS a_size, b.sz AS b_size, count(*) AS n_inter
       | FROM e a JOIN ef b USING (shingle)
       | WHERE a.doc_id < b.doc_id
       | GROUP BY 1, 2, 3, 4),
       |edges AS (
       | SELECT a_id, b_id FROM inter
       | WHERE CAST(n_inter AS DOUBLE) / (a_size + b_size - n_inter) >= $threshold),
       |bidir AS (SELECT a_id AS src, b_id AS dst FROM edges
       |          UNION ALL SELECT b_id AS src, a_id AS dst FROM edges),
       |reach(id, label) AS (
       | SELECT doc_id, doc_id FROM documents
       | UNION
       | SELECT b.dst, r.label FROM reach r JOIN bidir b ON r.id = b.src WHERE r.label < b.dst),
       |cc AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** q38's survivor source: fingerprint-dedup election (min doc_id per
    * normalized-text md5) feeding the quality CTEs. ONE definition shared
    * by the q38 twin and the q101 release capstone so the survivor
    * election cannot drift between them.
    */
  private[graft] val survivorSourceCtes: String =
    """WITH fp AS (SELECT min(doc_id) AS doc_id
      |  FROM documents GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))),
      |d AS (SELECT doc_id, lang, text FROM documents
      |  WHERE doc_id IN (SELECT doc_id FROM fp))""".stripMargin

  private[graft] def qualityQuotaSql(sourceCtes: String, k: Int): String =
    s"""${qualityScoreCtes(sourceCtes)},
       |r AS (SELECT lang, doc_id, quality,
       | row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rnk FROM q)
       |SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id, quality
       |FROM r WHERE rnk <= $k ORDER BY lang, rnk""".stripMargin

  /** Full SQL twin of s05: k-means training replayed iteration by
    * iteration (assignment → per-(cell,dim) id-ordered mean fold →
    * centroid update with empty-cell carry-over), then the s04 recall
    * machinery over BOTH quantizers. All chain CTEs MATERIALIZED — each
    * state feeds multiple consumers and inlining would blow up the
    * iteration chain.
    */
  private[graft] def kmeansOracleSql(nCells: Int, nProbe: Int, iters: Int,
      dim: Int, k: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""a$i AS MATERIALIZED (SELECT vec_id, cent_id FROM (
         |    SELECT v.vec_id, c.cent_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY round(list_cosine_similarity(v.ev, c.cv), 6) DESC NULLS LAST, c.cent_id) AS r
         |    FROM v CROSS JOIN c${i - 1} c) WHERE r = 1),
         |m$i AS MATERIALIZED (SELECT cent_id, d,
         |    round(list_reduce(list(x ORDER BY vec_id), (p, q) -> p + q) / count(*), 9) AS mv
         |  FROM (SELECT a.cent_id, a.vec_id, t.d, v.ev[t.d + 1] AS x
         |        FROM a$i a JOIN v USING (vec_id), UNNEST(range($dim)) AS t(d))
         |  GROUP BY cent_id, d),
         |c$i AS MATERIALIZED (SELECT c.cent_id, COALESCE(n.cv, c.cv) AS cv
         |  FROM c${i - 1} c LEFT JOIN
         |    (SELECT cent_id, list(mv ORDER BY d) AS cv FROM m$i GROUP BY cent_id) n
         |  USING (cent_id))""".stripMargin
    }.mkString(",\n")
    def ivfChain(cents: String, p: String) =
      s"""${p}ca AS (SELECT vec_id AS neighbor_id, cent_id FROM (
         |    SELECT v.vec_id, c.cent_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY round(list_cosine_similarity(v.ev, c.cv), 6) DESC NULLS LAST, c.cent_id) AS r
         |    FROM v CROSS JOIN $cents c) WHERE r <= 1),
         |${p}pa AS (SELECT vec_id AS probe_id, cent_id FROM (
         |    SELECT v.vec_id, c.cent_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY round(list_cosine_similarity(v.ev, c.cv), 6) DESC NULLS LAST, c.cent_id) AS r
         |    FROM v CROSS JOIN $cents c WHERE v.vec_id < 10) WHERE r <= $nProbe),
         |${p}cand AS (SELECT DISTINCT probe_id, neighbor_id
         |  FROM ${p}pa JOIN ${p}ca USING (cent_id) WHERE probe_id <> neighbor_id),
         |${p}tk AS (SELECT probe_id, neighbor_id FROM (
         |   SELECT c.probe_id, c.neighbor_id,
         |     row_number() OVER (PARTITION BY c.probe_id
         |       ORDER BY list_cosine_similarity(pv.ev, nv.ev) DESC, c.neighbor_id) AS rnk
         |   FROM ${p}cand c JOIN v pv ON pv.vec_id = c.probe_id
         |     JOIN v nv ON nv.vec_id = c.neighbor_id)
         | WHERE rnk <= $k)""".stripMargin
    s"""WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |c0 AS MATERIALIZED (SELECT vec_id AS cent_id, ev AS cv FROM v ORDER BY vec_id LIMIT $nCells),
       |$iterCtes,
       |ex AS (SELECT probe_id, neighbor_id FROM (
       |   SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |     row_number() OVER (PARTITION BY p.vec_id
       |       ORDER BY list_cosine_similarity(p.ev, c.ev) DESC, c.vec_id) AS rnk
       |   FROM v p JOIN v c ON p.vec_id <> c.vec_id WHERE p.vec_id < 10)
       | WHERE rnk <= $k),
       |${ivfChain("c0", "b")},
       |${ivfChain(s"c$iters", "t")},
       |hb AS (SELECT probe_id, count(*) AS hb FROM ex JOIN btk USING (probe_id, neighbor_id) GROUP BY probe_id),
       |ht AS (SELECT probe_id, count(*) AS ht FROM ex JOIN ttk USING (probe_id, neighbor_id) GROUP BY probe_id),
       |bs AS (SELECT probe_id, count(*) AS n_exact FROM ex GROUP BY probe_id),
       |o AS (SELECT b.probe_id, CAST(b.n_exact AS BIGINT) AS n_exact,
       |   CAST(COALESCE(hb.hb, 0) AS BIGINT) AS n_hit_base,
       |   CAST(COALESCE(ht.ht, 0) AS BIGINT) AS n_hit_km
       |  FROM bs b LEFT JOIN hb USING (probe_id) LEFT JOIN ht USING (probe_id))
       |SELECT probe_id, n_exact, n_hit_base, n_hit_km,
       | round(CAST(n_hit_base AS DOUBLE) / n_exact, 6) AS recall_base,
       | round(CAST(n_hit_km AS DOUBLE) / n_exact, 6) AS recall_km,
       | (SELECT sum(n_hit_km) FROM o) >= (SELECT sum(n_hit_base) FROM o) AS km_ge_base
       |FROM o ORDER BY probe_id""".stripMargin
  }

  /** Full SQL twin of t11: BPE training replayed round by round (see the
    * oracleSql entry's comment for the correspondence argument), then the
    * id assignment, per-doc encoding, and t03-estimator cross-check.
    */
  /** The shared CTE chain of the BPE twins (t11/t30): tokenize, train
    * `nMerges` greedy rounds, assign token ids, segment + encode every
    * doc — everything through the `enc(doc_id, n_bpe, ids_str)` CTE.
    */
  private def bpeEncChainSql(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { i =>
      s"""p$i AS MATERIALIZED (SELECT a, b, sum(freq) AS c FROM (
         |  SELECT freq, syms[j] AS a, syms[j+1] AS b
         |  FROM (SELECT freq, string_split(symstr, ' ') AS syms FROM v${i - 1}),
         |    UNNEST(range(1, len(syms))) AS t(j))
         |  GROUP BY a, b),
         |m$i AS MATERIALIZED (SELECT a, b FROM p$i ORDER BY c DESC, a, b LIMIT 1),
         |v$i AS MATERIALIZED (SELECT word, freq,
         |  CASE WHEN len(syms) <= 1 THEN symstr
         |    ELSE list_reduce(syms, (acc, x) ->
         |      CASE WHEN x = m.b AND (acc = m.a OR ends_with(acc, ' ' || m.a))
         |        THEN acc || x ELSE acc || ' ' || x END)
         |  END AS symstr
         |  FROM (SELECT word, freq, symstr, string_split(symstr, ' ') AS syms FROM v${i - 1})
         |  LEFT JOIN m$i m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""tok AS MATERIALIZED (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
       |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(ws) AS word FROM tok) GROUP BY word),
       |v0 AS MATERIALIZED (SELECT word, freq,
       |  array_to_string(list_transform(range(1, length(word) + 1), i -> word[i]), ' ')
       |    || ' </w>' AS symstr FROM wf),
       |$rounds,
       |ids AS MATERIALIZED (SELECT tokstr,
       |  CAST(row_number() OVER (ORDER BY tokstr) - 1 AS BIGINT) AS tok_id
       |  FROM (SELECT DISTINCT unnest(string_split(symstr, ' ')) AS tokstr FROM v$nMerges)),
       |dw AS (SELECT doc_id, j - 1 AS pos, ws[j] AS word
       |  FROM tok, UNNEST(range(1, len(ws) + 1)) AS t(j)),
       |sub AS (SELECT doc_id, pos, k - 1 AS spos, syms[k] AS tokstr
       |  FROM (SELECT doc_id, pos, string_split(v.symstr, ' ') AS syms
       |        FROM dw JOIN v$nMerges v USING (word)),
       |    UNNEST(range(1, len(syms) + 1)) AS u(k)),
       |enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bpe,
       |  string_agg(CAST(tok_id AS VARCHAR), ',' ORDER BY pos, spos) AS ids_str
       |  FROM sub JOIN ids USING (tokstr) GROUP BY doc_id)""".stripMargin
  }

  // NOTE: the chain is concatenated OUTSIDE the stripMargin strings —
  // running stripMargin over interpolated SQL that contains `||` at line
  // starts would eat one bar of the concat operator (measured: Binder
  // Error on ' </w>').
  private[graft] def bpeOracleSql(nMerges: Int): String =
    "WITH " + bpeEncChainSql(nMerges) + ",\n" +
    s"""tot AS (SELECT round(CAST(
       |    (SELECT sum(list_sum(list_transform(ws, x -> CAST(ceil(length(x) / 4.0) AS BIGINT)))) FROM tok)
       |    AS DOUBLE) / (SELECT sum(n_bpe) FROM enc), 3) AS est_ratio)
       |SELECT d.doc_id, COALESCE(e.n_bpe, 0) AS n_bpe, COALESCE(e.ids_str, '') AS ids_str,
       |  tot.est_ratio
       |FROM documents d LEFT JOIN enc e USING (doc_id) CROSS JOIN tot
       |ORDER BY d.doc_id""".stripMargin

  /** Fertility twin (t30): the shared BPE chain AND the unigram chain
    * (both tokenizers trained on the same corpus — the go/no-go
    * comparison the operator ships), then per-language exact integer sums
    * and the guarded ratio divisions for both models.
    */
  private[graft] def bpeFertilityOracleSql(nMerges: Int, seedMulti: Int,
      keepMulti: Int, emPre: Int, emPost: Int): String =
    "WITH " + bpeEncChainSql(nMerges) + ",\n" +
    unigramChainSql(seedMulti, keepMulti, emPre, emPost, defineTok = false) + ",\n" +
    s"""base AS (SELECT d.doc_id, d.lang,
       |    CAST(len(tok.ws) AS BIGINT) AS n_words,
       |    CAST(strlen(d.text) AS BIGINT) AS n_bytes,
       |    COALESCE(e.n_bpe, 0) AS n_bpe,
       |    COALESCE(u.n_uni, 0) AS n_uni
       |  FROM documents d JOIN tok USING (doc_id)
       |  LEFT JOIN enc e USING (doc_id) LEFT JOIN uenc u USING (doc_id))
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS n_words,
       |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
       |  CAST(sum(n_uni) AS BIGINT) AS n_uni,
       |  CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
       |  round(CASE WHEN sum(n_words) > 0
       |    THEN CAST(sum(n_bpe) AS DOUBLE) / sum(n_words) END, 6) AS fertility,
       |  round(CASE WHEN sum(n_bpe) > 0
       |    THEN CAST(sum(n_bytes) AS DOUBLE) / sum(n_bpe) END, 6) AS bytes_per_token,
       |  round(CASE WHEN sum(n_words) > 0
       |    THEN CAST(sum(n_uni) AS DOUBLE) / sum(n_words) END, 6) AS fertility_uni,
       |  round(CASE WHEN sum(n_uni) > 0
       |    THEN CAST(sum(n_bytes) AS DOUBLE) / sum(n_uni) END, 6) AS bytes_per_token_uni
       |FROM base GROUP BY lang ORDER BY lang""".stripMargin

  /** Shared CTE chain of the unigram-LM tokenizer twins (t32/t30): the
    * seed→EM→prune→EM→encode pipeline of [[graft.analytics.Unigram]]
    * replayed verbatim — substring-frequency seed (all single chars + top
    * `seedMulti` multi-char), `emPre` Viterbi-EM rounds, the prune to
    * chars + top `keepMulti`, `emPost` more rounds, then the final Viterbi
    * pass and per-doc encoding. The Viterbi DP is a list_reduce whose
    * accumulator is the LIST(STRUCT(s, g)) best-score/segmentation table
    * (first element seeds position 0; the dummy fold elements exist only
    * to drive one step per position — i = len(acc)); candidate lookbacks
    * fold l-ascending with `>=` replacement, exactly the operator's
    * tie-break. Scores are round-9 smoothed logs, so every DP sum is a
    * fixed-order fold of identical doubles in both engines. Emits
    * `uenc(doc_id, n_uni, ids_str)`; `defineTok` controls whether the
    * shared `tok` CTE opens the chain (false when composed after
    * [[bpeEncChainSql]], which already defines it).
    */
  private[graft] def unigramChainSql(seedMulti: Int, keepMulti: Int,
      emPre: Int, emPost: Int, defineTok: Boolean): String = {
    val L = graft.analytics.Unigram.MaxLen
    def segCte(tag: String, prev: String): String =
      s"""uent$tag AS (SELECT word, list({'pc': pc, 'lp': lp}) AS es
         |  FROM uwpc JOIN $prev USING (pc) GROUP BY word),
         |useg$tag AS MATERIALIZED (SELECT word, freq, ltrim(dp[n+1].g) AS seg FROM (
         |  SELECT w.word AS word, w.freq AS freq, length(w.word) AS n,
         |    list_reduce(
         |      list_prepend([{'s': CAST(0.0 AS DOUBLE), 'g': ''}],
         |        list_transform(range(1, length(w.word)+1), q -> [{'s': CAST(0.0 AS DOUBLE), 'g': ''}])),
         |      (acc, el) -> list_append(acc,
         |        list_reduce(
         |          list_prepend({'s': -1e18, 'g': ''},
         |            list_transform(range(1, least($L, len(acc))+1), l ->
         |              {'s': acc[len(acc)-l+1].s + list_filter(e.es, x -> x.pc = substr(w.word, len(acc)-l+1, l))[1].lp,
         |               'g': acc[len(acc)-l+1].g || ' ' || substr(w.word, len(acc)-l+1, l)})),
         |          (b, c) -> CASE WHEN c.s IS NOT NULL AND c.s >= b.s THEN c ELSE b END)))
         |    AS dp
         |  FROM uwf w JOIN uent$tag e USING (word)))""".stripMargin
    def scoreCte(vName: String, vcName: String): String =
      s"""$vName AS MATERIALIZED (SELECT pc, round(ln((CAST(c AS DOUBLE) + 0.5) /
         |  (CAST((SELECT sum(c) FROM $vcName) AS DOUBLE) + 0.5 * CAST((SELECT count(*) FROM $vcName) AS DOUBLE))), 9) AS lp
         |  FROM $vcName)""".stripMargin
    def countCte(vcName: String, segName: String, prevV: String): String =
      s"""$vcName AS MATERIALIZED (SELECT p.pc, COALESCE(c.c, 0) AS c
         |  FROM $prevV p LEFT JOIN (SELECT pc, CAST(sum(freq) AS BIGINT) AS c
         |    FROM (SELECT freq, unnest(string_split(seg, ' ')) AS pc FROM $segName)
         |    GROUP BY pc) c USING (pc))""".stripMargin
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    if (defineTok)
      parts += s"tok AS MATERIALIZED (SELECT doc_id, $tokensSqlExpr AS ws FROM documents)"
    parts +=
      s"""uwf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(ws) AS word FROM tok) GROUP BY word),
         |uocc AS MATERIALIZED (SELECT word, freq, substr(word, i, l) AS pc
         |  FROM uwf, UNNEST(range(1, length(word)+1)) AS t(i),
         |    UNNEST(range(1, least($L, length(word)-i+1)+1)) AS u(l)),
         |upf AS (SELECT pc, CAST(sum(freq) AS BIGINT) AS c FROM uocc GROUP BY pc),
         |uvc0 AS MATERIALIZED (SELECT pc, c FROM upf WHERE length(pc) = 1
         |  UNION ALL SELECT pc, c FROM (SELECT pc, c FROM upf
         |    WHERE length(pc) >= 2 ORDER BY c DESC, pc LIMIT $seedMulti)),
         |uwpc AS MATERIALIZED (SELECT DISTINCT word, pc FROM uocc)""".stripMargin
    parts += scoreCte("uv0", "uvc0")
    var prev = "uv0"
    for (r <- 1 to emPre) {
      parts += segCte(r.toString, prev)
      parts += countCte(s"uvc$r", s"useg$r", prev)
      parts += scoreCte(s"uv$r", s"uvc$r")
      prev = s"uv$r"
    }
    parts +=
      s"""upv AS MATERIALIZED (SELECT pc, c FROM uvc$emPre WHERE length(pc) = 1
         |  UNION ALL SELECT pc, c FROM (SELECT pc, c FROM uvc$emPre
         |    WHERE length(pc) >= 2 ORDER BY c DESC, pc LIMIT $keepMulti))""".stripMargin
    parts += scoreCte("uvP", "upv")
    prev = "uvP"
    for (r <- emPre + 1 to emPre + emPost) {
      parts += segCte(r.toString, prev)
      parts += countCte(s"uvc$r", s"useg$r", prev)
      parts += scoreCte(s"uv$r", s"uvc$r")
      prev = s"uv$r"
    }
    parts += segCte("E", prev)
    parts +=
      s"""uids AS MATERIALIZED (SELECT pc,
         |  CAST(row_number() OVER (ORDER BY pc) - 1 AS BIGINT) AS tok_id FROM $prev),
         |udw AS (SELECT doc_id, j - 1 AS pos, ws[j] AS word
         |  FROM tok, UNNEST(range(1, len(ws) + 1)) AS t(j)),
         |usub AS (SELECT doc_id, pos, k - 1 AS spos, syms[k] AS pc
         |  FROM (SELECT doc_id, pos, string_split(s.seg, ' ') AS syms
         |        FROM udw JOIN usegE s USING (word)),
         |    UNNEST(range(1, len(syms) + 1)) AS u(k)),
         |uenc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_uni,
         |  string_agg(CAST(tok_id AS VARCHAR), ',' ORDER BY pos, spos) AS ids_str
         |  FROM usub JOIN uids USING (pc) GROUP BY doc_id)""".stripMargin
    parts.mkString(",\n")
  }

  /** Full SQL twin of t32: the unigram chain, then the per-doc encode rows
    * (empty docs encode to (0, '')).
    */
  private[graft] def unigramOracleSql(seedMulti: Int, keepMulti: Int,
      emPre: Int, emPost: Int): String =
    "WITH " + unigramChainSql(seedMulti, keepMulti, emPre, emPost, defineTok = true) + "\n" +
    """SELECT d.doc_id, COALESCE(e.n_uni, 0) AS n_uni, COALESCE(e.ids_str, '') AS ids_str
      |FROM documents d LEFT JOIN uenc e USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** Round-trip twin (t35): the t32 chain's final segmentations
    * (`usegE`, which carries word AND freq) concat-checked and
    * occurrence-weighted — the losslessness contract as corpus-level
    * aggregates.
    */
  private[graft] def unigramRoundtripOracleSql(seedMulti: Int, keepMulti: Int,
      emPre: Int, emPost: Int): String =
    "WITH " + unigramChainSql(seedMulti, keepMulti, emPre, emPost, defineTok = true) + "\n" +
    """SELECT CAST(count(*) AS BIGINT) AS n_distinct_words,
      |  CAST(sum(freq) AS BIGINT) AS n_word_occurrences,
      |  CAST(sum(freq * len(string_split(seg, ' '))) AS BIGINT) AS n_piece_occurrences,
      |  CAST(max(len(string_split(seg, ' '))) AS BIGINT) AS max_pieces_per_word,
      |  round(CAST(sum(freq * len(string_split(seg, ' '))) AS DOUBLE) /
      |    CAST(sum(freq) AS DOUBLE), 6) AS pieces_per_occurrence,
      |  (CAST(sum(CASE WHEN replace(seg, ' ', '') = word THEN 0 ELSE 1 END) AS BIGINT) = 0)
      |    AS all_roundtrip
      |FROM usegE""".stripMargin

  /** Full SQL twin of t13: BPE training replayed on the even-doc half
    * (the bpeOracleSql rounds, plus a parallel o$i chain applying each
    * round's merge to the held-out OOV words — the same greedy fold, so
    * an unseen word segments exactly as the engine's segmentWords
    * replay), then the odd half encoded against v$n ∪ o$n with unknown
    * subwords mapped to -1 and counted.
    */
  private[graft] def bpeOovOracleSql(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { i =>
      s"""p$i AS MATERIALIZED (SELECT a, b, sum(freq) AS c FROM (
         |  SELECT freq, syms[j] AS a, syms[j+1] AS b
         |  FROM (SELECT freq, string_split(symstr, ' ') AS syms FROM v${i - 1}),
         |    UNNEST(range(1, len(syms))) AS t(j))
         |  GROUP BY a, b),
         |m$i AS MATERIALIZED (SELECT a, b FROM p$i ORDER BY c DESC, a, b LIMIT 1),
         |v$i AS MATERIALIZED (SELECT word, freq,
         |  CASE WHEN len(syms) <= 1 THEN symstr
         |    ELSE list_reduce(syms, (acc, x) ->
         |      CASE WHEN x = m.b AND (acc = m.a OR ends_with(acc, ' ' || m.a))
         |        THEN acc || x ELSE acc || ' ' || x END)
         |  END AS symstr
         |  FROM (SELECT word, freq, symstr, string_split(symstr, ' ') AS syms FROM v${i - 1})
         |  LEFT JOIN m$i m ON TRUE),
         |o$i AS MATERIALIZED (SELECT word,
         |  CASE WHEN len(syms) <= 1 THEN symstr
         |    ELSE list_reduce(syms, (acc, x) ->
         |      CASE WHEN x = m.b AND (acc = m.a OR ends_with(acc, ' ' || m.a))
         |        THEN acc || x ELSE acc || ' ' || x END)
         |  END AS symstr
         |  FROM (SELECT word, symstr, string_split(symstr, ' ') AS syms FROM o${i - 1})
         |  LEFT JOIN m$i m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS MATERIALIZED (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
       |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(ws) AS word FROM tok WHERE doc_id % 2 = 0) GROUP BY word),
       |v0 AS MATERIALIZED (SELECT word, freq,
       |  array_to_string(list_transform(range(1, length(word) + 1), i -> word[i]), ' ')
       |    || ' </w>' AS symstr FROM wf),
       |o0 AS MATERIALIZED (SELECT word,
       |  array_to_string(list_transform(range(1, length(word) + 1), i -> word[i]), ' ')
       |    || ' </w>' AS symstr
       |  FROM (SELECT DISTINCT unnest(ws) AS word FROM tok WHERE doc_id % 2 = 1)
       |  WHERE word NOT IN (SELECT word FROM v0)),
       |$rounds,
       |ids AS MATERIALIZED (SELECT tokstr,
       |  CAST(row_number() OVER (ORDER BY tokstr) - 1 AS BIGINT) AS tok_id
       |  FROM (SELECT DISTINCT unnest(string_split(symstr, ' ')) AS tokstr FROM v$nMerges)),
       |segs AS (SELECT word, symstr FROM v$nMerges
       |  UNION ALL SELECT word, symstr FROM o$nMerges),
       |dw AS (SELECT doc_id, j - 1 AS pos, ws[j] AS word
       |  FROM tok, UNNEST(range(1, len(ws) + 1)) AS t(j) WHERE doc_id % 2 = 1),
       |sub AS (SELECT doc_id, pos, k - 1 AS spos, syms[k] AS tokstr
       |  FROM (SELECT doc_id, pos, string_split(v.symstr, ' ') AS syms
       |        FROM dw JOIN segs v USING (word)),
       |    UNNEST(range(1, len(syms) + 1)) AS u(k)),
       |enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bpe,
       |  string_agg(CAST(COALESCE(i.tok_id, -1) AS VARCHAR), ',' ORDER BY pos, spos) AS ids_str,
       |  CAST(sum(CASE WHEN i.tok_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
       |  FROM sub LEFT JOIN ids i USING (tokstr) GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(e.n_bpe, 0) AS n_bpe, COALESCE(e.ids_str, '') AS ids_str,
       |  COALESCE(e.n_unk, 0) AS n_unk
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
       |LEFT JOIN enc e USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Full SQL twin of t37 (WordPiece): frequency-seeded piece
    * vocabulary (top-`topPieces` substrings of length 2..MaxPieceLen by
    * (Σfreq desc, piece asc) + all single chars), then the greedy
    * longest-prefix match unrolled as `maxInputChars` CTE steps (each
    * step's best match is a correlated max over the piece table — the
    * bpeEncChainSql unroll discipline), '##' continuation rendering,
    * whole-word [UNK] over the length bound, then the doc-level
    * word-order piece aggregation.
    */
  private[graft] def wordPieceOracleSql(topPieces: Int, maxInputChars: Int): String = {
    val maxPieceLen = analytics.WordPiece.MaxPieceLen
    val steps = (1 to maxInputChars).map { k =>
      s"""w$k AS MATERIALIZED (SELECT word, n,
         |  CASE WHEN unk OR p >= n THEN p WHEN bl IS NULL THEN n ELSE p + bl END AS p,
         |  CASE WHEN unk OR p >= n OR bl IS NULL THEN acc
         |    WHEN p = 0 THEN substr(word, 1, CAST(bl AS INT))
         |    ELSE acc || ' ##' || substr(word, CAST(p + 1 AS INT), CAST(bl AS INT)) END AS acc,
         |  unk OR (p < n AND bl IS NULL) AS unk
         |FROM (SELECT s.*, (SELECT max(length(pc.piece)) FROM pieces pc
         |    WHERE length(pc.piece) <= s.n - s.p
         |      AND pc.piece = substr(s.word, CAST(s.p + 1 AS INT), CAST(length(pc.piece) AS INT))) AS bl
         |  FROM w${k - 1} s))""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS MATERIALIZED (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
       |wf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(ws) AS word FROM tok) GROUP BY word),
       |subs AS (SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
       |    sum(freq) AS w
       |  FROM wf, UNNEST(range(1, length(word) + 1)) AS t(i),
       |    UNNEST(range(2, $maxPieceLen + 1)) AS u(l)
       |  WHERE i + l - 1 <= length(word) GROUP BY 1),
       |topp AS (SELECT piece FROM subs ORDER BY w DESC, piece LIMIT $topPieces),
       |sing AS (SELECT DISTINCT substr(word, CAST(i AS INT), 1) AS piece
       |  FROM wf, UNNEST(range(1, length(word) + 1)) AS t(i)),
       |pieces AS MATERIALIZED (SELECT DISTINCT piece FROM
       |  (SELECT piece FROM topp UNION ALL SELECT piece FROM sing)),
       |w0 AS (SELECT word, CAST(length(word) AS BIGINT) AS n,
       |    CAST(0 AS BIGINT) AS p, CAST('' AS VARCHAR) AS acc,
       |    length(word) > $maxInputChars AS unk FROM wf),
       |$steps,
       |segs AS (SELECT word,
       |    CASE WHEN unk THEN '[UNK]' ELSE acc END AS pstr,
       |    CASE WHEN unk THEN 1 ELSE len(string_split(acc, ' ')) END AS np, unk
       |  FROM w$maxInputChars),
       |dw AS (SELECT doc_id, j - 1 AS pos, ws[j] AS word
       |  FROM tok, UNNEST(range(1, len(ws) + 1)) AS t(j)),
       |enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(np) AS BIGINT) AS n_pieces,
       |    CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words,
       |    string_agg(pstr, ' ' ORDER BY pos) AS pieces_str
       |  FROM dw JOIN segs USING (word) GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(e.n_words, 0) AS n_words,
       |  COALESCE(e.n_pieces, 0) AS n_pieces,
       |  COALESCE(e.n_unk_words, 0) AS n_unk_words,
       |  COALESCE(e.pieces_str, '') AS pieces_str
       |FROM documents d LEFT JOIN enc e USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Full SQL twin of s08: per-subspace L2 Lloyd PQ training replayed
    * round by round (assignment = first minimum of the round-6 squared
    * L2, ≡ order by (d2, code); means = vec-id-ordered fold / count,
    * round 9; empty codes keep the previous codeword), then both
    * codebooks' encode → ADC → top-k chains and the exact squared-L2
    * reference, reduced to per-probe hit counts and recalls.
    */
  private[graft] def pqTrainedOracleSql(m: Int, ks: Int, sub: Int, iters: Int,
      k: Int, nProbes: Int): String = {
    val dim = m * sub
    def d2sql(a: String, b: String): String =
      s"round(list_reduce(list_transform(range(1, ${sub + 1}), " +
        s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y), 6)"
    val rounds = (1 to iters).map { r =>
      s"""a$r AS (SELECT vec_id, j, code FROM (
         |    SELECT sv.vec_id, sv.j, c.code,
         |      row_number() OVER (PARTITION BY sv.vec_id, sv.j
         |        ORDER BY ${d2sql("s", "cw")}, c.code) AS rr
         |    FROM sv JOIN cb${r - 1} c ON sv.j = c.j) WHERE rr = 1),
         |m$r AS (SELECT j, code, i,
         |    round(list_reduce(list(s[i] ORDER BY vec_id), (x, y) -> x + y)
         |      / count(*), 9) AS mv
         |  FROM a$r JOIN sv USING (vec_id, j) CROSS JOIN range(1, ${sub + 1}) t(i)
         |  GROUP BY j, code, i),
         |n$r AS (SELECT j, code, list(mv ORDER BY i) AS cw FROM m$r GROUP BY j, code),
         |cb$r AS (SELECT c.j, c.code, COALESCE(n.cw, c.cw) AS cw
         |  FROM cb${r - 1} c LEFT JOIN n$r n ON c.j = n.j AND c.code = n.code)""".stripMargin
    }.mkString(",\n")
    def encChain(tag: String, cbName: String): String =
      s"""enc$tag AS (SELECT vec_id AS neighbor_id, j, code FROM (
         |    SELECT sv.vec_id, sv.j, c.code,
         |      row_number() OVER (PARTITION BY sv.vec_id, sv.j
         |        ORDER BY ${d2sql("s", "cw")}, c.code) AS rr
         |    FROM sv JOIN $cbName c ON sv.j = c.j) WHERE rr = 1),
         |pt$tag AS (SELECT sv.vec_id AS probe_id, sv.j, c.code,
         |    ${d2sql("s", "cw")} AS pd
         |  FROM sv JOIN $cbName c ON sv.j = c.j WHERE sv.vec_id < $nProbes),
         |top$tag AS (SELECT probe_id, neighbor_id FROM (
         |    SELECT probe_id, neighbor_id,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY adc, neighbor_id) AS rk
         |    FROM (SELECT probe_id, neighbor_id,
         |        list_reduce(list(pd ORDER BY j), (x, y) -> x + y) AS adc
         |      FROM enc$tag JOIN pt$tag USING (j, code)
         |      WHERE probe_id <> neighbor_id
         |      GROUP BY probe_id, neighbor_id)) WHERE rk <= $k)""".stripMargin
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |sv AS (SELECT vec_id, j, ev[j*$sub+1:j*$sub+$sub] AS s
       |  FROM v CROSS JOIN range($m) r(j)),
       |cb0 AS (SELECT j, code, s AS cw FROM (
       |    SELECT vec_id, j, s,
       |      row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS code
       |    FROM sv WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT $ks))),
       |$rounds,
       |${encChain("B", "cb0")},
       |${encChain("T", s"cb$iters")},
       |ex AS (SELECT probe_id, neighbor_id FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
       |        round(list_reduce(list_transform(range(1, ${dim + 1}),
       |          i -> (p.ev[i] - c.ev[i]) * (p.ev[i] - c.ev[i])), (x, y) -> x + y), 6),
       |        c.vec_id) AS rnk
       |    FROM v p JOIN v c ON p.vec_id <> c.vec_id WHERE p.vec_id < $nProbes)
       |  WHERE rnk <= $k),
       |ne AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact FROM ex GROUP BY probe_id),
       |hb AS (SELECT ex.probe_id, count(*) AS n
       |  FROM ex JOIN topB USING (probe_id, neighbor_id) GROUP BY ex.probe_id),
       |ht AS (SELECT ex.probe_id, count(*) AS n
       |  FROM ex JOIN topT USING (probe_id, neighbor_id) GROUP BY ex.probe_id)
       |SELECT ne.probe_id, ne.n_exact,
       |  CAST(COALESCE(hb.n, 0) AS BIGINT) AS n_hit_base,
       |  CAST(COALESCE(ht.n, 0) AS BIGINT) AS n_hit_tr,
       |  round(CAST(COALESCE(hb.n, 0) AS DOUBLE) / ne.n_exact, 6) AS recall_base,
       |  round(CAST(COALESCE(ht.n, 0) AS DOUBLE) / ne.n_exact, 6) AS recall_tr
       |FROM ne LEFT JOIN hb USING (probe_id) LEFT JOIN ht USING (probe_id)
       |ORDER BY ne.probe_id""".stripMargin
  }

  /** Full SQL twin of g05: the k-core peel unrolled as `maxRounds` CTE
    * layers over the same ring+chord+hub-mesh graph — each layer keeps
    * edges with both endpoints in the previous layer, recounts degrees,
    * drops vertices under k. Layers past the fixed point are identity,
    * so the unroll equals the operator's early-stopping driver loop
    * exactly; `rounds` counts strictly-shrinking layers and `converged`
    * compares the last two layer counts (sound because peeling only
    * shrinks). All integer arithmetic — no rounding discipline needed.
    */
  private[graft] def kCoreOracleSql(k: Int, maxRounds: Int): String = {
    val layers = (1 to maxRounds).map { i =>
      s"""s$i AS MATERIALIZED (SELECT v FROM (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT ue.a AS v FROM ue
         |      JOIN s${i - 1} sa ON ue.a = sa.v JOIN s${i - 1} sb ON ue.b = sb.v
         |    UNION ALL
         |    SELECT ue.b FROM ue
         |      JOIN s${i - 1} sa ON ue.a = sa.v JOIN s${i - 1} sb ON ue.b = sb.v)
         |  GROUP BY v) WHERE d >= $k)""".stripMargin
    }.mkString(",\n")
    val counts = (0 to maxRounds)
      .map(i => s"SELECT $i AS i, (SELECT count(*) FROM s$i) AS c")
      .mkString(" UNION ALL ")
    s"""WITH nn AS (SELECT count(*) AS n FROM documents),
       |mm AS (SELECT n // 10 AS m FROM nn),
       |de AS (SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
       |  UNION ALL SELECT doc_id, (doc_id * 7 + 13) % (SELECT n FROM nn) FROM documents
       |  UNION ALL SELECT doc_id, (doc_id + 1) % (SELECT m FROM mm) FROM documents WHERE doc_id < (SELECT m FROM mm)
       |  UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT m FROM mm) FROM documents WHERE doc_id < (SELECT m FROM mm)
       |  UNION ALL SELECT doc_id, (doc_id + 3) % (SELECT m FROM mm) FROM documents WHERE doc_id < (SELECT m FROM mm)),
       |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM de WHERE src <> dst),
       |s0 AS MATERIALIZED (SELECT a AS v FROM ue UNION SELECT b FROM ue),
       |$layers,
       |cnt AS ($counts),
       |meta AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM cnt x JOIN cnt y ON y.i = x.i + 1 WHERE y.c < x.c) AS rounds,
       |  (SELECT c FROM cnt WHERE i = $maxRounds) = (SELECT c FROM cnt WHERE i = ${maxRounds - 1}) AS converged),
       |fin AS (SELECT v, CAST(count(*) AS BIGINT) AS core_deg FROM (
       |    SELECT ue.a AS v FROM ue
       |      JOIN s$maxRounds sa ON ue.a = sa.v JOIN s$maxRounds sb ON ue.b = sb.v
       |    UNION ALL
       |    SELECT ue.b FROM ue
       |      JOIN s$maxRounds sa ON ue.a = sa.v JOIN s$maxRounds sb ON ue.b = sb.v)
       |  GROUP BY v)
       |SELECT v AS doc_id, core_deg, rounds, converged FROM fin CROSS JOIN meta
       |ORDER BY doc_id""".stripMargin
  }

  /** Full SQL twin of g01: the 10 PageRank iterations as a CTE chain —
    * same synthesized edges, same src-ordered contribution folds. The
    * teleport base is interpolated from the SAME Scala double
    * (`1.0 - damping` is 0.15000000000000002, not 0.15 — writing the
    * rounder literal would make the engines round different doubles).
    */
  /** Label-propagation twin (g07): the block-community graph as literal
    * arithmetic, symmetrized+dedup'd and RESTRICTED to endpoints in the
    * vertex set (the operator's phantom-vertex guard — the fixture's
    * partial last block wires ring/chord targets past max(doc_id)), then
    * every synchronous round unrolled — neighbor votes + the self-vote,
    * (count desc, label asc) winner — exactly
    * [[graft.analytics.Graph.labelPropagation]]'s loop body.
    * Integer-only computation: no float discipline needed.
    */
  private[graft] def lpaOracleSql(rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      s"""v$i AS (SELECT v, nl, count(*) AS c FROM (
         |    SELECT e.src AS v, l.lbl AS nl FROM e JOIN l${i - 1} l ON l.v = e.dst
         |    UNION ALL SELECT v, lbl FROM l${i - 1}) GROUP BY v, nl),
         |l$i AS MATERIALIZED (SELECT v, nl AS lbl FROM (
         |    SELECT v, nl, row_number() OVER (PARTITION BY v ORDER BY c DESC, nl) AS r
         |    FROM v$i) WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM documents),
       |e0 AS (SELECT doc_id AS src, (doc_id - doc_id % 8) + (doc_id + 1) % 8 AS dst FROM documents
       |  UNION ALL SELECT doc_id, (doc_id - doc_id % 8) + (doc_id + 2) % 8 FROM documents
       |  UNION ALL SELECT doc_id, (doc_id + 8) % (SELECT n FROM nn) FROM documents WHERE doc_id % 32 = 0),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
       |  WHERE src <> dst
       |    AND src IN (SELECT doc_id FROM documents)
       |    AND dst IN (SELECT doc_id FROM documents)),
       |l0 AS (SELECT doc_id AS v, doc_id AS lbl FROM documents),
       |$rs
       |SELECT v AS doc_id, lbl AS community FROM l$rounds ORDER BY doc_id""".stripMargin
  }

  private[graft] def pageRankOracleSql(iters: Int, damping: Double): String = {
    val rounds = (1 to iters).map { i =>
      s"""pr$i AS (SELECT v.id,
         |  round(${1.0 - damping}/(SELECT n FROM nn) + $damping * COALESCE(s.s, 0.0), 12) AS pr
         |  FROM verts v LEFT JOIN (
         |    SELECT dst AS id, list_reduce(list(c ORDER BY src), (a, b) -> a + b) AS s
         |    FROM (SELECT e.dst, e.src, round(p.pr / d.deg, 15) AS c
         |          FROM e JOIN pr${i - 1} p ON e.src = p.id JOIN deg d ON e.src = d.src)
         |    GROUP BY dst) s ON v.id = s.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM documents),
       |verts AS (SELECT doc_id AS id FROM documents),
       |e AS (SELECT doc_id AS src, (doc_id*7+13) % (SELECT n FROM nn) AS dst FROM documents
       |      UNION ALL SELECT doc_id, (doc_id*31+7) % (SELECT n FROM nn) FROM documents),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |pr0 AS (SELECT id, round(1.0/(SELECT n FROM nn), 12) AS pr FROM verts),
       |$rounds
       |SELECT id AS doc_id, pr FROM pr$iters ORDER BY doc_id""".stripMargin
  }

  /** Personalized-PageRank twin (g09): the scaled-integer fixed-point
    * replay — rank at 10¹², contributions at 10¹⁵ via the floor((2a+b)/2b)
    * half-up identity, damping as the exact rational 85/100, plain
    * integer SUMs. No float exists anywhere in the chain until the final
    * p/10¹² double view, so there is no rounding-parity surface at all
    * (the double-round recipe hit Spark-BigDecimal-vs-DuckDB-binary
    * half-boundary disagreements twice). Every intermediate is re-cast
    * to BIGINT — DuckDB SUM(BIGINT) is HUGEINT and would otherwise leak
    * into the output dtype.
    */
  private[graft] def pprOracleSql(iters: Int, seeds: Seq[Long]): String = {
    val seedList = seeds.mkString(", ")
    val k = seeds.size.toLong
    require(15000000000000000L % k == 0L, s"teleport must be exact for k=$k")
    val base17 = 15000000000000000L / k
    val init12 = (2L * 1000000000000L + k) / (2L * k)
    val rounds = (1 to iters).map { i =>
      s"""pr$i AS (SELECT v.id,
         |  CAST((2 * (CASE WHEN v.id IN ($seedList) THEN ${base17} ELSE 0 END
         |    + 85 * COALESCE(s.s, 0)) + 100000) // 200000 AS BIGINT) AS p
         |  FROM verts v LEFT JOIN (
         |    SELECT dst AS id, CAST(SUM(c) AS BIGINT) AS s
         |    FROM (SELECT e.dst, CAST((p.p * 2000 + d.deg) // (d.deg * 2) AS BIGINT) AS c
         |          FROM e JOIN pr${i - 1} p ON e.src = p.id JOIN deg d ON e.src = d.src)
         |    GROUP BY dst) s ON v.id = s.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM documents),
       |verts AS (SELECT doc_id AS id FROM documents),
       |e AS (SELECT doc_id AS src, (doc_id*7+13) % (SELECT n FROM nn) AS dst FROM documents
       |      UNION ALL SELECT doc_id, (doc_id*31+7) % (SELECT n FROM nn) FROM documents),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |pr0 AS (SELECT id, CAST(CASE WHEN id IN ($seedList) THEN ${init12} ELSE 0 END AS BIGINT) AS p FROM verts),
       |$rounds
       |SELECT id AS doc_id, p AS ppr_e12, CAST(p AS DOUBLE) / 1e12 AS ppr
       |FROM pr$iters ORDER BY doc_id""".stripMargin
  }

  /** HITS twin (g02): replays every half-step — src-ordered in-edge folds
    * for authority, dst-ordered out-edge folds for hub, the two-level
    * BLOCKED L1 totals (id-ordered folds per id//4096 block, then a
    * block-ordered fold of the block sums — Graph.hits' exact tree),
    * round-12 normalized scores. Score CTEs are MATERIALIZED (each feeds
    * the next half-step AND the final join).
    */
  private[graft] def hitsOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT e.dst AS id,
         |  list_reduce(list(h.v ORDER BY e.src), (x, y) -> x + y) AS raw
         |  FROM e JOIN h${i - 1} h ON e.src = h.id GROUP BY e.dst),
         |abs$i AS (SELECT id // 4096 AS blk,
         |  list_reduce(list(raw ORDER BY id), (x, y) -> x + y) AS s
         |  FROM ar$i GROUP BY blk),
         |at$i AS (SELECT list_reduce(list(s ORDER BY blk), (x, y) -> x + y) AS tot FROM abs$i),
         |a$i AS MATERIALIZED (SELECT v.id, round(COALESCE(ar.raw, 0.0) / t.tot, 12) AS v
         |  FROM verts v LEFT JOIN ar$i ar ON v.id = ar.id CROSS JOIN at$i t),
         |hr$i AS MATERIALIZED (SELECT e.src AS id,
         |  list_reduce(list(a.v ORDER BY e.dst), (x, y) -> x + y) AS raw
         |  FROM e JOIN a$i a ON e.dst = a.id GROUP BY e.src),
         |hbs$i AS (SELECT id // 4096 AS blk,
         |  list_reduce(list(raw ORDER BY id), (x, y) -> x + y) AS s
         |  FROM hr$i GROUP BY blk),
         |ht$i AS (SELECT list_reduce(list(s ORDER BY blk), (x, y) -> x + y) AS tot FROM hbs$i),
         |h$i AS MATERIALIZED (SELECT v.id, round(COALESCE(hr.raw, 0.0) / t.tot, 12) AS v
         |  FROM verts v LEFT JOIN hr$i hr ON v.id = hr.id CROSS JOIN ht$i t)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM documents),
       |verts AS (SELECT doc_id AS id FROM documents),
       |e AS MATERIALIZED (SELECT doc_id AS src, (doc_id*7+13) % (SELECT n FROM nn) AS dst FROM documents
       |      UNION ALL SELECT doc_id, (doc_id*31+7) % (SELECT n FROM nn) FROM documents),
       |h0 AS (SELECT id, round(1.0/(SELECT n FROM nn), 12) AS v FROM verts),
       |$rounds
       |SELECT v.id AS doc_id, a$iters.v AS auth, h$iters.v AS hub
       |FROM verts v JOIN a$iters ON v.id = a$iters.id JOIN h$iters ON v.id = h$iters.id
       |ORDER BY doc_id""".stripMargin
  }

  /** Beam-search ANN twin (s21): s13's LSH kNN-graph chain (same planes,
    * same raw-sim (DESC, id) rank to `graphK` edges), symmetrized, then
    * the walk replayed round by round — beam = per-probe top-`beamWidth`
    * of everything scored so far by (round-6 cosine DESC, id), candidates
    * = the beam's out-edges never seen before, scored exactly; after
    * `rounds` expansions the per-probe top-`k` of the scored set.
    */
  /** Shared beam-search CTE builders (s21/s26): base-graph construction
    * (LSH-bucketed kNN, symmetrized) + probe table, the per-round
    * expand/score chain, and the final top-k select. ONE definition so
    * the flat and hierarchical twins walk the SAME base graph the same
    * way — only the entry CTE differs.
    */
  private def beamGraphCtes(graphK: Int, nProbes: Int): String =
    s"""planes(tbl, pl, w) AS (VALUES ${lshPlanesValues(8, 8, 64, 42L)}),
       |v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |bk AS MATERIALIZED (SELECT vec_id, tbl,
       |  SUM(CASE WHEN list_dot_product(ev, w) >= 0 THEN 1::BIGINT << pl ELSE 0 END)::BIGINT AS bucket
       |  FROM v CROSS JOIN planes GROUP BY vec_id, tbl),
       |gcand AS (SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
       |  FROM bk p JOIN bk c ON p.tbl = c.tbl AND p.bucket = c.bucket AND p.vec_id <> c.vec_id),
       |gs AS (SELECT probe_id, neighbor_id, list_cosine_similarity(pv.ev, cv.ev) AS sim
       |  FROM gcand JOIN v pv ON pv.vec_id = gcand.probe_id
       |    JOIN v cv ON cv.vec_id = gcand.neighbor_id),
       |ge AS (SELECT probe_id AS src, neighbor_id AS dst FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk
       |    FROM gs) WHERE rnk <= $graphK),
       |edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM ge UNION ALL SELECT dst AS src, src AS dst FROM ge)),
       |pr AS MATERIALIZED (SELECT vec_id AS probe_id, ev AS pv FROM v WHERE vec_id < $nProbes)""".stripMargin

  private def beamRoundCtes(rounds: Int, beamWidth: Int): String =
    (1 to rounds).map { r =>
      s"""b$r AS (SELECT probe_id, neighbor_id FROM (
         |    SELECT probe_id, neighbor_id,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rn
         |    FROM s${r - 1}) WHERE rn <= $beamWidth),
         |c$r AS (SELECT DISTINCT b.probe_id, e.dst AS neighbor_id
         |  FROM b$r b JOIN edges e ON e.src = b.neighbor_id
         |  WHERE e.dst <> b.probe_id
         |    AND NOT EXISTS (SELECT 1 FROM s${r - 1} s
         |      WHERE s.probe_id = b.probe_id AND s.neighbor_id = e.dst)),
         |s$r AS MATERIALIZED (SELECT * FROM s${r - 1}
         |  UNION ALL
         |  SELECT c.probe_id, c.neighbor_id,
         |    round(list_cosine_similarity(pr.pv, v.ev), 6) AS sim
         |  FROM c$r c JOIN pr ON pr.probe_id = c.probe_id
         |    JOIN v ON v.vec_id = c.neighbor_id)""".stripMargin
    }.mkString(",\n")

  private def beamFinalSelect(k: Int, rounds: Int): String =
    s"""SELECT probe_id, rnk, neighbor_id, sim FROM (
       |  SELECT probe_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk
       |  FROM s$rounds)
       |WHERE rnk <= $k ORDER BY probe_id, rnk""".stripMargin

  private[graft] def beamSearchOracleSql(k: Int, beamWidth: Int, rounds: Int,
      graphK: Int, nProbes: Int): String =
    s"""WITH ${beamGraphCtes(graphK, nProbes)},
       |ent AS (SELECT vec_id AS neighbor_id FROM v ORDER BY vec_id LIMIT $beamWidth),
       |s0 AS MATERIALIZED (SELECT pr.probe_id, ent.neighbor_id,
       |    round(list_cosine_similarity(pr.pv, cv.ev), 6) AS sim
       |  FROM pr CROSS JOIN ent JOIN v cv ON cv.vec_id = ent.neighbor_id
       |  WHERE ent.neighbor_id <> pr.probe_id),
       |${beamRoundCtes(rounds, beamWidth)}
       |${beamFinalSelect(k, rounds)}""".stripMargin

  /** Hierarchical-entry twin (s26): replays the coarse level move for
    * move — the ~√n stride sample, its brute-force symmetrized kNN
    * graph, `descentRounds` greedy rounds (best neighbor by round-6
    * cosine DESC / id ASC; move only on STRICT improvement), the
    * descended vertex + coarse neighborhood as the per-probe entry set —
    * then the SAME base-layer walk as s21 via the shared CTE builders.
    */
  private[graft] def hierarchicalBeamOracleSql(k: Int, beamWidth: Int,
      rounds: Int, graphK: Int, nProbes: Int, descentRounds: Int,
      coarseGraphK: Int, nStarts: Int): String = {
    // zero-norm pin: list_cosine_similarity yields NaN (never NULL) on a
    // zero vector — the guard mirrors the Spark side's coalesce(cf, -2)
    def gsim(a: String, b: String): String =
      s"CASE WHEN list_dot_product($a, $a) > 0 AND list_dot_product($b, $b) > 0" +
        s" THEN round(list_cosine_similarity($a, $b), 6) ELSE -2.0 END"
    val descent = (1 to descentRounds).map { r =>
      // gsc = the round's scored (probe, cand) pool, shared across
      // chains (DISTINCT: csim is deterministic per pair); gb = each
      // CHAIN's best neighbor; g = per-chain move-or-stay
      s"""gsc$r AS MATERIALIZED (SELECT DISTINCT g.probe_id, e.dst AS cand,
         |    ${gsim("pr.pv", "cv.ev")} AS csim
         |  FROM g${r - 1} g JOIN cedges e ON e.src = g.cur
         |    JOIN pr ON pr.probe_id = g.probe_id
         |    JOIN v cv ON cv.vec_id = e.dst),
         |gb$r AS (SELECT probe_id, start_id, cand, csim FROM (
         |    SELECT g.probe_id, g.start_id, e.dst AS cand, sc.csim,
         |      row_number() OVER (PARTITION BY g.probe_id, g.start_id
         |        ORDER BY sc.csim DESC, e.dst ASC) AS rn
         |    FROM g${r - 1} g JOIN cedges e ON e.src = g.cur
         |      JOIN gsc$r sc ON sc.probe_id = g.probe_id AND sc.cand = e.dst)
         |  WHERE rn = 1),
         |g$r AS MATERIALIZED (SELECT g.probe_id, g.start_id,
         |    CASE WHEN b.csim > g.sim THEN b.cand ELSE g.cur END AS cur,
         |    CASE WHEN b.csim > g.sim THEN b.csim ELSE g.sim END AS sim
         |  FROM g${r - 1} g LEFT JOIN gb$r b
         |  ON b.probe_id = g.probe_id AND b.start_id = g.start_id)""".stripMargin
    }.mkString(",\n")
    // visited pool = starts + every round's scored neighborhoods (UNION
    // dedups; a converged chain re-visits only its unchanged
    // neighborhood, so re-evaluated rounds add nothing — the Spark
    // side's live-set early exit is invisible here)
    val visUnion = ("SELECT probe_id, cur AS cand, sim AS csim FROM g0" +:
      (1 to descentRounds).map(r => s"SELECT probe_id, cand, csim FROM gsc$r"))
      .mkString("\n  UNION\n  ")
    s"""WITH ${beamGraphCtes(graphK, nProbes)},
       |st AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS stride FROM v),
       |co AS MATERIALIZED (SELECT vec_id, ev FROM v CROSS JOIN st
       |  WHERE vec_id % stride = 0),
       |cge AS (SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${gsim("a.ev", "b.ev")} DESC, b.vec_id) AS rn
       |    FROM co a JOIN co b ON a.vec_id <> b.vec_id) WHERE rn <= $coarseGraphK),
       |cedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM cge UNION ALL SELECT dst AS src, src AS dst FROM cge)),
       |sts AS (SELECT vec_id AS start_id, ev FROM co ORDER BY vec_id LIMIT $nStarts),
       |g0 AS MATERIALIZED (SELECT pr.probe_id, s.start_id,
       |    s.start_id AS cur, ${gsim("pr.pv", "s.ev")} AS sim
       |  FROM pr CROSS JOIN sts s),
       |$descent,
       |vis AS ($visUnion),
       |ent AS (SELECT probe_id, cand AS neighbor_id FROM (
       |    SELECT probe_id, cand,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY csim DESC, cand ASC) AS rn
       |    FROM vis) WHERE rn <= $beamWidth),
       |s0 AS MATERIALIZED (SELECT pr.probe_id, ent.neighbor_id,
       |    round(list_cosine_similarity(pr.pv, cv.ev), 6) AS sim
       |  FROM pr JOIN ent USING (probe_id)
       |    JOIN v cv ON cv.vec_id = ent.neighbor_id
       |  WHERE ent.neighbor_id <> pr.probe_id),
       |${beamRoundCtes(rounds, beamWidth)}
       |${beamFinalSelect(k, rounds)}""".stripMargin
  }

  /** MMR twin (s09): candidate pool + candidate-pair sims as round-6
    * cosines, then every greedy round unrolled — per round, the max-sim
    * penalty against the selected-so-far union, the interpolated
    * `rel·λ − pen·(1−λ)` chain (λ and 1−λ printed from the SAME Scala
    * doubles the operator multiplies by), round-6 score, id tie-break.
    */
  private[graft] def mmrOracleSql(kCand: Int, kSelect: Int, lambda: Double): String = {
    val mu = 1.0 - lambda
    def selUnion(r: Int) =
      (1 to r).map(i => s"SELECT probe_id, neighbor_id FROM sel$i").mkString(" UNION ALL ")
    val rounds = (2 to kSelect).map { r =>
      s"""selu${r - 1} AS (${selUnion(r - 1)}),
         |pen$r AS (SELECT cc.probe_id, cc.a_id AS neighbor_id, max(cc.cc) AS pen
         |  FROM cc JOIN selu${r - 1} s ON cc.probe_id = s.probe_id AND cc.b_id = s.neighbor_id
         |  GROUP BY cc.probe_id, cc.a_id),
         |sc$r AS (SELECT c.probe_id, c.neighbor_id, c.rel,
         |    round(c.rel * $lambda - COALESCE(p.pen, 0.0) * $mu, 7) AS mmr_score
         |  FROM cand c LEFT JOIN pen$r p USING (probe_id, neighbor_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} s
         |    WHERE s.probe_id = c.probe_id AND s.neighbor_id = c.neighbor_id)),
         |sel$r AS MATERIALIZED (SELECT probe_id, CAST($r AS BIGINT) AS mmr_rank,
         |    neighbor_id, rel, mmr_score
         |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
         |     ORDER BY mmr_score DESC, neighbor_id) AS rn FROM sc$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val finalUnion = (1 to kSelect).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
    s"""WITH p AS (SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
       |s AS (SELECT probe_id, neighbor_id, list_cosine_similarity(pv, cv) AS sim
       |      FROM p JOIN c ON probe_id <> neighbor_id),
       |cand AS MATERIALIZED (SELECT probe_id, neighbor_id, round(sim, 6) AS rel FROM (
       |  SELECT probe_id, neighbor_id, sim, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY sim DESC, neighbor_id) AS rnk FROM s) WHERE rnk <= $kCand),
       |cc AS MATERIALIZED (SELECT a.probe_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
       |    round(list_cosine_similarity(ca.cv, cb.cv), 6) AS cc
       |  FROM cand a JOIN cand b ON a.probe_id = b.probe_id AND a.neighbor_id <> b.neighbor_id
       |  JOIN c ca ON ca.neighbor_id = a.neighbor_id
       |  JOIN c cb ON cb.neighbor_id = b.neighbor_id),
       |sel1 AS MATERIALIZED (SELECT probe_id, CAST(1 AS BIGINT) AS mmr_rank, neighbor_id, rel,
       |    round(rel * $lambda - 0.0 * $mu, 7) AS mmr_score
       |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY round(rel * $lambda - 0.0 * $mu, 7) DESC, neighbor_id) AS rn FROM cand)
       |  WHERE rn = 1),
       |$rounds
       |SELECT * FROM ($finalUnion) ORDER BY probe_id, mmr_rank""".stripMargin
  }

  /** Shard-rebalance twin (q99): identical md5-low-60 key positions, the
    * identical sorted vnode VALUES for the n- and (n+1)-shard rings, the
    * ring lookup as an at-or-after scalar subquery with wrap, and the
    * one-aggregate summary reshaped to two strategy rows.
    */
  private[graft] def rebalanceOracleSql(n: Int, vnodes: Int): String = {
    def values(t: Seq[(Long, Int)]) =
      t.map { case (p, s) => s"($p, $s)" }.mkString(", ")
    val vnOld = values(Sampling.ringVnodes(n, vnodes))
    val vnNew = values(Sampling.ringVnodes(n + 1, vnodes))
    s"""WITH d AS (SELECT doc_id,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 18, 15)) AS BIGINT) AS pos
       |  FROM documents),
       |vno(vpos, shard) AS (VALUES $vnOld),
       |vnn(vpos, shard) AS (VALUES $vnNew),
       |a AS (SELECT doc_id, pos,
       |  pos % $n AS m_old, pos % ${n + 1} AS m_new,
       |  COALESCE((SELECT shard FROM vno WHERE vpos >= d.pos ORDER BY vpos, shard LIMIT 1),
       |           (SELECT shard FROM vno ORDER BY vpos, shard LIMIT 1)) AS r_old,
       |  COALESCE((SELECT shard FROM vnn WHERE vpos >= d.pos ORDER BY vpos, shard LIMIT 1),
       |           (SELECT shard FROM vnn ORDER BY vpos, shard LIMIT 1)) AS r_new
       |  FROM d),
       |g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN m_old <> m_new THEN 1 ELSE 0 END) AS BIGINT) AS mm,
       |  CAST(sum(CASE WHEN m_old <> m_new AND m_new = $n THEN 1 ELSE 0 END) AS BIGINT) AS mmn,
       |  CAST(sum(CASE WHEN r_old <> r_new THEN 1 ELSE 0 END) AS BIGINT) AS rm,
       |  CAST(sum(CASE WHEN r_old <> r_new AND r_new = $n THEN 1 ELSE 0 END) AS BIGINT) AS rmn
       |  FROM a)
       |SELECT strategy, n_docs, n_moved, n_moved_to_new,
       |  round(CAST(n_moved AS DOUBLE) / n_docs, 6) AS moved_frac
       |FROM (
       |  SELECT 'mod' AS strategy, n_docs, mm AS n_moved, mmn AS n_moved_to_new FROM g
       |  UNION ALL
       |  SELECT 'ring', n_docs, rm, rmn FROM g)
       |ORDER BY strategy""".stripMargin
  }

  /** Greedy-rollout twin (t34): t10's bigram CTEs, the argmax transition
    * as a (count DESC, word ASC) row_number pick, and the `steps`
    * rollout rounds unrolled — each MATERIALIZED (each feeds the next).
    */
  private[graft] def rolloutOracleSql(nSeeds: Int, steps: Int): String = {
    val rounds = (1 to steps).map { i =>
      s"""r$i AS MATERIALIZED (SELECT seed,
         |  CASE WHEN n.next IS NOT NULL THEN list_append(gen, n.next) ELSE gen END AS gen,
         |  COALESCE(n.next, last) AS last
         |  FROM r${i - 1} LEFT JOIN nxt n ON r${i - 1}.last = n.prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
       |seeds AS (SELECT w AS seed FROM (
       |  SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM tok) GROUP BY w
       |  ORDER BY c DESC, w LIMIT $nSeeds)),
       |bg AS (SELECT ws[i+1] AS prev, ws[i+2] AS cur
       |  FROM tok, UNNEST(range(len(ws) - 1)) AS u(i) WHERE len(ws) >= 2),
       |nxt AS MATERIALIZED (SELECT prev, cur AS next FROM (
       |  SELECT prev, cur, row_number() OVER (PARTITION BY prev ORDER BY c DESC, cur) AS rn
       |  FROM (SELECT prev, cur, count(*) AS c FROM bg GROUP BY prev, cur)) WHERE rn = 1),
       |r0 AS (SELECT seed, [seed] AS gen, seed AS last FROM seeds),
       |$rounds
       |SELECT seed, array_to_string(gen, ' ') AS gen_text,
       |  CAST(len(gen) AS BIGINT) AS n_words,
       |  CAST(len(list_distinct(gen)) AS BIGINT) AS n_distinct,
       |  round(CAST(len(list_distinct(gen)) AS DOUBLE) / len(gen), 6) AS distinct_ratio
       |FROM r$steps ORDER BY seed""".stripMargin
  }

  /** IVF-sweep twin (s25): s04's exact/assignment CTEs with the probe
    * side ranked to max(probes) cells, candidates tagged by cell rank,
    * ONE shared scored table, and per-level rank-≤p re-ranks unioned
    * into the operating-curve rows.
    */
  private[graft] def ivfSweepOracleSql(k: Int, nCells: Int,
      probes: Seq[Int]): String = {
    require(probes.distinct.size == probes.size,
      s"duplicate probe counts would define duplicate CTE names: $probes")
    val sorted = probes.sorted
    val maxP = sorted.max
    val ivCtes = sorted.map { p =>
      s"""iv$p AS (SELECT probe_id, neighbor_id FROM (
         |   SELECT probe_id, neighbor_id,
         |     row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk
         |   FROM scored WHERE cell_rank <= $p)
         | WHERE rnk <= $k)""".stripMargin
    }.mkString(",\n")
    val levels = sorted.map { p =>
      s"""SELECT CAST($p AS BIGINT) AS n_probe,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ex JOIN iv$p USING (probe_id, neighbor_id)) AS n_hit,
         |  round((SELECT count(*) FROM ex JOIN iv$p USING (probe_id, neighbor_id))::DOUBLE /
         |        (SELECT count(*) FROM ex), 6) AS recall""".stripMargin
    }.mkString("\nUNION ALL\n")
    // ex and scored both rank on round(sim, 6) — the operator's
    // round-6-before-order convention (r15 ADVICE): rank-k membership is
    // decided on a value both engines compute bit-identically
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |ex AS MATERIALIZED (SELECT probe_id, neighbor_id FROM (
       |   SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |     row_number() OVER (PARTITION BY p.vec_id
       |       ORDER BY round(list_cosine_similarity(p.ev, c.ev), 6) DESC, c.vec_id) AS rnk
       |   FROM v p JOIN v c ON p.vec_id <> c.vec_id WHERE p.vec_id < 10)
       | WHERE rnk <= $k),
       |cents AS (SELECT vec_id AS cent_id, ev AS cv FROM v ORDER BY vec_id LIMIT $nCells),
       |asgn AS (SELECT vec_id, cent_id,
       |    round(list_cosine_similarity(ev, cv), 6) AS csim
       |  FROM v CROSS JOIN cents),
       |ca AS (SELECT vec_id AS neighbor_id, cent_id FROM (
       |    SELECT vec_id, cent_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC NULLS LAST, cent_id) AS r
       |    FROM asgn) WHERE r <= 1),
       |pa AS (SELECT vec_id AS probe_id, cent_id, CAST(r AS BIGINT) AS cell_rank FROM (
       |    SELECT vec_id, cent_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC NULLS LAST, cent_id) AS r
       |    FROM asgn WHERE vec_id < 10) WHERE r <= $maxP),
       |cand AS (SELECT pa.probe_id, ca.neighbor_id, pa.cell_rank
       |  FROM pa JOIN ca USING (cent_id) WHERE pa.probe_id <> ca.neighbor_id),
       |scored AS MATERIALIZED (SELECT c.probe_id, c.neighbor_id, c.cell_rank,
       |    round(list_cosine_similarity(pv.ev, nv.ev), 6) AS sim
       |  FROM cand c JOIN v pv ON pv.vec_id = c.probe_id
       |    JOIN v nv ON nv.vec_id = c.neighbor_id),
       |$ivCtes
       |$levels
       |ORDER BY n_probe""".stripMargin
  }

  /** PQ m-sweep twin (s27): ONE shared codebook-vector CTE and ONE
    * shared round-6 exact baseline (the s25 `ex` convention); per m
    * level the s07 chain — subvector codewords, round-6 squared-L2
    * sub-distances, first-strict-min encode, subspace-ordered ADC fold,
    * (adc asc, id asc) rank — then recall rows unioned into the curve.
    */
  private[graft] def pqSweepOracleSql(mGrid: Seq[Int], ks: Int, dim: Int,
      k: Int, nProbes: Int): String = {
    require(mGrid.distinct.size == mGrid.size,
      s"duplicate subspace counts would define duplicate CTE names: $mGrid")
    val sorted = mGrid.sorted
    val per = sorted.map { m =>
      val sub = dim / m
      s"""cbe$m AS (SELECT j, code, ev[j*$sub+1:j*$sub+$sub] AS cw
         |  FROM cbv CROSS JOIN range($m) r(j)),
         |dist$m AS MATERIALIZED (SELECT v.vec_id, c.j, c.code,
         |    round(list_reduce(list_transform(range(1, ${sub + 1}),
         |      i -> (ev[c.j*$sub+i] - cw[i]) * (ev[c.j*$sub+i] - cw[i])),
         |      (a, b) -> a + b), 6) AS d2
         |  FROM v CROSS JOIN cbe$m c),
         |enc$m AS (SELECT vec_id AS neighbor_id, j, code FROM (
         |    SELECT vec_id, j, code,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS r
         |    FROM dist$m) WHERE r = 1),
         |pt$m AS (SELECT vec_id AS probe_id, j, code, d2 AS pd
         |  FROM dist$m WHERE vec_id < $nProbes),
         |adc$m AS (SELECT probe_id, neighbor_id,
         |    list_reduce(list(pd ORDER BY j), (a, b) -> a + b) AS adc
         |  FROM enc$m JOIN pt$m USING (j, code) WHERE probe_id <> neighbor_id
         |  GROUP BY probe_id, neighbor_id),
         |iv$m AS (SELECT probe_id, neighbor_id FROM (
         |    SELECT probe_id, neighbor_id,
         |      row_number() OVER (PARTITION BY probe_id
         |        ORDER BY adc, neighbor_id) AS rank
         |  FROM adc$m) WHERE rank <= $k),
         |a$m AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
         |  FROM ex JOIN iv$m USING (probe_id, neighbor_id))""".stripMargin
    }.mkString(",\n")
    val rows = sorted.map { m =>
      s"""SELECT CAST($m AS BIGINT) AS m, CAST(${dim / m} AS BIGINT) AS sub_dim,
         |  CAST($m AS BIGINT) AS code_bytes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact, n_hit,
         |  round(CAST(n_hit AS DOUBLE) / (SELECT count(*) FROM ex), 6) AS recall
         |FROM a$m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, ev
       |  FROM (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT $ks)),
       |ex AS MATERIALIZED (SELECT probe_id, neighbor_id FROM (
       |   SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |     row_number() OVER (PARTITION BY p.vec_id
       |       ORDER BY round(list_cosine_similarity(p.ev, c.ev), 6) DESC, c.vec_id) AS rnk
       |   FROM v p JOIN v c ON p.vec_id <> c.vec_id WHERE p.vec_id < $nProbes)
       | WHERE rnk <= $k),
       |$per
       |$rows
       |ORDER BY m""".stripMargin
  }

  /** Unrolled k-center greedy replay (s23): round r's `c_r` CTE selects
    * the argmin of max-cosine-to-selected (6 dp, vec_id tie-break) from
    * the running `m_{r-1}` table, and `m_r` folds the new center's
    * similarity in via greatest(). Every round table is MATERIALIZED —
    * each is referenced twice (the next argmin and the next fold), and
    * CTE inlining would re-evaluate the whole chain per reference.
    */
  private[graft] def kCenterOracleSql(k: Int): String = {
    require(k >= 2, s"oracle unroll needs k >= 2, got $k")
    // zero-norm pin: DuckDB's list_cosine_similarity yields NaN (never
    // NULL) on a zero vector, so a coalesce default would be dead code —
    // the guard must test the norms explicitly, exactly like the Spark
    // side's `nv > 0` (review finding; latent until a zero vector lands)
    def sim(a: String, b: String): String =
      s"CASE WHEN list_dot_product($a, $a) > 0 AND list_dot_product($b, $b) > 0" +
        s" THEN round(list_cosine_similarity($a, $b), 6) ELSE -2.0 END"
    val ctes = scala.collection.mutable.ArrayBuffer(
      "v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings)",
      "c1 AS MATERIALIZED (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT 1)",
      // each m_r drops the just-selected center from the running pool —
      // the operator's excludeIds anti-filter (selected centers must never
      // be re-selectable, even on an all-duplicate corpus)
      s"""m1 AS MATERIALIZED (SELECT v.vec_id, v.ev,
        |  ${sim("v.ev", "c1.ev")} AS ms
        |  FROM v CROSS JOIN c1 WHERE v.vec_id <> c1.vec_id)""".stripMargin)
    for (r <- 2 to k) {
      ctes += s"c$r AS MATERIALIZED (SELECT vec_id, ms FROM m${r - 1} ORDER BY ms ASC, vec_id ASC LIMIT 1)"
      if (r < k)
        ctes += s"""m$r AS MATERIALIZED (SELECT m.vec_id, m.ev,
          |  greatest(m.ms, ${sim("m.ev", "s.ev")}) AS ms
          |  FROM m${r - 1} m CROSS JOIN
          |    (SELECT v.ev FROM v JOIN c$r USING (vec_id)) s
          |  WHERE m.vec_id NOT IN (SELECT vec_id FROM c$r))""".stripMargin
    }
    val sel = (1 to k).map { r =>
      if (r == 1)
        "SELECT CAST(1 AS BIGINT) AS sel_order, vec_id, CAST(NULL AS DOUBLE) AS max_sim_prev FROM c1"
      else s"SELECT CAST($r AS BIGINT), vec_id, ms FROM c$r"
    }.mkString("\nUNION ALL ")
    s"WITH ${ctes.mkString(",\n")}\n$sel\nORDER BY sel_order"
  }
}
