package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph centrality over the link structure of a corpus — the curation
  * signal family CC (d07/d12) doesn't cover: connected components tell
  * you WHICH pages are duplicates; PageRank-style authority tells you
  * which DOMAINS/pages deserve weight in the training mix (the classic
  * crawl-quality prior next to t02/t12's content-based scores).
  */
object Graph {

  /** Deterministic fixed-iteration PageRank. Every float is pinned so a
    * SQL twin replays training exactly (the kmeans/BPE discipline):
    *  - initial rank and the teleport base are the SAME double division
    *    both engines compute (`1.0/n`, `(1−d)/n`), rounded with the rank;
    *  - per-edge contribution = `round(pr/outdeg, 15)`;
    *  - the per-vertex sum folds contributions in SRC-ID ORDER (collect +
    *    sort + left fold — the t09 recipe, aggregation-order-free);
    *  - new rank = `round((1−d)/n + d·sum, 12)`; vertices with no
    *    in-links keep the teleport base.
    *
    * Scale shape: per iteration, one join of the rank vector with the
    * edge list on src (both partitioned by the join key — at 100 TB the
    * edge list is the persisted artifact, bucketed by src so rounds
    * co-locate) and ONE aggregation keyed by dst; the src-sorted fold's
    * buffer is bounded by in-degree. For genuinely viral dst keys set
    * `foldBlock > 0`: the fold becomes TWO-LEVEL — per-(dst, src-block)
    * ordered partials (buffer ≤ foldBlock), then a block-ordered fold of
    * the partials — still deterministic under ANY partitioning because
    * the tree is keyed by src VALUES, never by task layout (the g02 L1
    * recipe applied per key). The production swap is plain `sum`, losing
    * only bit-replayability, the s05/s08 trade. Lazy localCheckpoints
    * keep lineage flat across rounds; the caller gets materialized state.
    *
    * `vertices` must carry every node (including sinks with no
    * in-links); dangling vertices (no OUT-links) simply contribute
    * nothing — their mass leaks to teleport, the common simplification.
    */
  def pageRank(edges: DataFrame, vertices: DataFrame, iters: Int,
      damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst",
      idCol: String = "id", replayable: Boolean = true,
      foldBlock: Long = 0L, checkpointEvery: Int = 5): DataFrame = {
    require(checkpointEvery >= 1, s"checkpointEvery=$checkpointEvery")
    val n = vertices.count() // scalar control decision, not a data collect
    require(n > 0, "pageRank needs a non-empty vertex set")
    val init: Column = round(lit(1.0) / lit(n), 12)
    val base: Column = lit(1.0 - damping) / lit(n)
    // out-degree is rank-independent — join it into the persisted edge
    // table ONCE instead of re-joining outDeg inside every round (r18,
    // guide §2.4: one exchange per round instead of two; at 100 TB the
    // (src, dst, deg) table IS the bucketed adjacency artifact). The raw
    // edge projection is pinned too so the deg join's two inputs read one
    // cached copy instead of re-running the caller's edge derivation
    // twice; released with the widened table below.
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = e0.join(e0.groupBy(col("src")).agg(count(lit(1)).as("deg")), Seq("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the per-round left join re-reads the vertex list — pin it once
    // instead of rescanning the source per round
    val verts = vertices.select(col(idCol).as("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var pr = verts.select(col("id"), init.as("pr"))
    for (it <- 1 to iters) {
      val contrib = e
        .join(pr.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("src"),
          round(col("pr") / col("deg"), 15).as("c"))
      // replayable=false is the documented production swap: a plain
      // partial-aggregated sum — map-side combine, no per-key buffers,
      // no bit-replayability (GraphSpec pins its agreement with the
      // replayable fold)
      val sums =
        if (replayable && foldBlock > 0L)
          // viral-key cap: two-level fold keyed by src VALUE blocks —
          // per-(dst, block) partials bound every buffer at foldBlock,
          // the block fold at in-degree/foldBlock; partition-independent
          contrib
            .groupBy(col("id"),
              (col("src") - pmod(col("src"), lit(foldBlock))).as("blk"))
            .agg(collect_list(struct(col("src"), col("c"))).as("cs"))
            .select(col("id"), col("blk"),
              aggregate(transform(array_sort(col("cs")), x => x.getField("c")),
                lit(0.0), (a, b) => a + b).as("bs"))
            .groupBy(col("id"))
            .agg(collect_list(struct(col("blk"), col("bs"))).as("bss"))
            .select(col("id"),
              aggregate(transform(array_sort(col("bss")), x => x.getField("bs")),
                lit(0.0), (a, b) => a + b).as("s"))
        else if (replayable) contrib
          .groupBy(col("id"))
          .agg(collect_list(struct(col("src"), col("c"))).as("cs"))
          .select(col("id"),
            aggregate(transform(array_sort(col("cs")), x => x.getField("c")),
              lit(0.0), (a, b) => a + b).as("s"))
        else contrib.groupBy(col("id")).agg(sum(col("c")).as("s"))
      pr = verts
        .join(sums, Seq("id"), "left")
        .select(col("id"),
          round(base + lit(damping) * coalesce(col("s"), lit(0.0)), 12).as("pr"))
      // lineage cut every K rounds instead of every round (r18): each lazy
      // localCheckpoint costs a materialization job at action time, and a
      // fixed-iteration loop with NO per-round probe doesn't need per-round
      // state — exchange reuse inside a K-round segment computes each stage
      // once. K bounds the plan depth Catalyst re-optimizes (measured at
      // sf0.1: every-round 4.2-5.1 s, K=5 3.5-4.1 s, NO cuts 5.3-6.0 s —
      // the uncut 10-round plan pays more in optimizer time than it saves
      // in jobs; bit-identical outputs, receipt in OPTIMIZATION_r18.md).
      if (it % checkpointEvery == 0 || it == iters)
        pr = pr.localCheckpoint(eager = false)
    }
    pr.count() // materialize the checkpoint chain before releasing the cache
    e0.unpersist(blocking = false)
    e.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    pr
  }

  /** Personalized PageRank (random walk with restart — Page et al. 1999
    * §6's personalized teleport; Jeh & Widom 2003): [[pageRank]]'s walk
    * with the teleport vector CONCENTRATED on a seed set — restart(v) =
    * 1/|seeds| on seeds, 0 elsewhere — so mass measures proximity to the
    * seeds, the graph-locality expansion signal a curation pipeline uses
    * to grow a trusted-domain set (g06's seed BFS gives hop DISTANCE;
    * PPR weights all paths).
    *
    * Determinism is SCALED-INTEGER FIXED POINT, one step past g01's
    * round-and-fold discipline: rank lives as `p = pr·10¹²` (BIGINT),
    * per-edge contribution is the half-up integer rounding of p·10³/deg
    * (rank at 15 decimals), damping is the exact rational 85/100, and
    * the per-vertex reduce is a PLAIN integer SUM — exact under ANY
    * execution order, so it needs neither g01's src-ordered fold (no
    * collect_list buffers, no viral-key blocks) nor round-parity luck:
    * Spark's BigDecimal HALF_UP and DuckDB's binary double rounding
    * disagree on values within one ulp of a decimal half-boundary (hit
    * twice while this operator was built), and integer arithmetic
    * removes the class. `1.5·10¹⁶ % |seeds| == 0` is required so the
    * seed teleport `0.15/|seeds|` is exact at scale 17 (k ∈ 1,2,3,4,5,6,
    * 8,10,… — a divisibility require, not a silent rounding).
    *
    * Overflow audit (BIGINT, |·| < 9.2·10¹⁸): p ≤ 10¹² (total mass 1),
    * 2·p·10³ + deg ≤ ~2·10¹⁵; Σ contribs per vertex ≤ 10¹⁵ (total scale-
    * 15 mass), ×85 ≤ 8.5·10¹⁶, ×2 ≤ 1.7·10¹⁷ — three orders of headroom.
    * Scale shape per iteration: one src-keyed join of the rank vector
    * with the edge list + ONE partial+final sum keyed by dst — strictly
    * cheaper than g01's replayable fold at identical exactness.
    *
    * Output: (id, ppr_e12 BIGINT, ppr DOUBLE) — the scaled-integer rank
    * and its exact double view p/10¹² (p < 2⁵³, one IEEE division: both
    * engines produce the identical double).
    */
  def personalizedPageRank(edges: DataFrame, vertices: DataFrame,
      seeds: Seq[Long], iters: Int,
      srcCol: String = "src", dstCol: String = "dst",
      idCol: String = "id", checkpointEvery: Int = 5): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs a non-empty seed set")
    require(checkpointEvery >= 1, s"checkpointEvery=$checkpointEvery")
    val k = seeds.size.toLong
    require(15000000000000000L % k == 0L,
      s"seed count $k must divide 1.5e16 so the teleport term is exact at scale 17")
    val base17 = 15000000000000000L / k // (1-0.85)/k at scale 17, exact
    val init12 = (2L * 1000000000000L + k) / (2L * k) // round_half_up(1e12/k)
    val onSeed = col("id").isInCollection(seeds)
    // deg folded into the persisted edge table, verts pinned, lineage cut
    // every K rounds — the g01 recipe (see pageRank), integer arithmetic
    // untouched
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = e0.join(e0.groupBy(col("src")).agg(count(lit(1)).as("deg")), Seq("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verts = vertices.select(col(idCol).as("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var pr = verts.select(col("id"),
        when(onSeed, lit(init12)).otherwise(lit(0L)).as("p"))
    for (it <- 1 to iters) {
      // round_half_up(p·10³/deg): positive operands, so the classic
      // floor((2a + b) / 2b) half-up identity holds — via `div`
      // (IntegralDivide; Column./ on integers plans DOUBLE division,
      // the m11 lesson)
      val sums = e
        .join(pr.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"),
          call_function("div",
            col("p") * lit(2000L) + col("deg"), col("deg") * lit(2L)).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("s"))
      pr = verts
        .join(sums, Seq("id"), "left")
        .select(col("id"),
          call_function("div",
            lit(2L) * (when(onSeed, lit(base17)).otherwise(lit(0L)) +
              lit(85L) * coalesce(col("s"), lit(0L))) + lit(100000L),
            lit(200000L)).as("p"))
      if (it % checkpointEvery == 0 || it == iters)
        pr = pr.localCheckpoint(eager = false)
    }
    pr.count() // materialize the checkpoint chain before releasing the cache
    e0.unpersist(blocking = false)
    e.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    pr.select(col("id"), col("p").as("ppr_e12"),
      (col("p").cast("double") / lit(1.0e12)).as("ppr"))
  }


  /** Deterministic fixed-iteration HITS (Kleinberg 1999): authority and
    * hub scores over the same edge list PageRank consumes — authorities
    * are the pages worth keeping (what good hubs point at), hubs are the
    * link-directory pages a crawler mines for frontier expansion; the
    * two-sided complement to [[pageRank]]'s one-score authority prior.
    *
    * Determinism is the [[pageRank]] discipline applied twice per
    * iteration: auth(v) = fold of hub(u) over in-edges in SRC order,
    * hub(u) = fold of auth(v) over out-edges in DST order; each half-step
    * normalizes by the TOTAL (L1 — chosen over the classic L2 because it
    * needs no sqrt on the cross-engine gate; the RANKING is identical
    * under any positive scaling), where the total itself is an id-ordered
    * fold, and the normalized score is rounded to 12 dp. Initial hub =
    * round(1/n, 12).
    *
    * Scale shape per iteration: two joins of a score vector with the
    * edge list (by src, then by dst — at 100 TB keep TWO bucketed copies
    * of the edge list, one per key, the standard adjacency/reverse-
    * adjacency layout) and two key-wise aggregations. Per-key fold
    * buffers are bounded by in-/out-degree — `foldBlock > 0` caps them
    * with the same two-level VALUE-keyed block fold (in code, not a
    * comment — GraphSpec proves partition-independence). The
    * L1 totals use a FIXED TWO-LEVEL BLOCKED fold: per-block (id div
    * 4096) ordered partial sums — distributed, buffer ≤ block size —
    * then one block-ordered fold of the ~n/4096 block sums. The tree
    * shape is keyed by id, never by partitioning, so the result is
    * bit-replayable AND scales; the first cut folded the whole
    * vertex-count vector in ONE row and measured SUPERLINEAR at corpus
    * blowup (9.3 s @5× → 59 s @20× — single-task sort+fold), vs
    * near-linear blocked. The production swap remains a plain
    * partial-aggregated `sum` (and classically L2), losing only
    * bit-replayability — the s05 replayableMeans trade.
    */
  def hits(edges: DataFrame, vertices: DataFrame, iters: Int,
      srcCol: String = "src", dstCol: String = "dst",
      idCol: String = "id", replayable: Boolean = true,
      foldBlock: Long = 0L): DataFrame = {
    val n = vertices.count()
    require(n > 0, "hits needs a non-empty vertex set")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    require(!e.isEmpty, "hits needs a non-empty edge set (L1 norm is 0 otherwise)")
    // normalize's left join re-reads the vertex list twice per iteration —
    // pin it once (r18). NOTE a negative r18 experiment worth keeping: the
    // g01 every-K-rounds checkpoint recipe does NOT transfer here — hits'
    // per-half-step `raw` needs a pin (two consumers), and pinning via
    // lazy persist inside an uncut multi-iteration segment measured 24 s
    // at K=2 (vs 3.4 s baseline) and a hang at K=5: nested unmaterialized
    // SQL-level caches re-execute their deep upstream per consumer, where
    // the per-half-step lazy localCheckpoint dedupes at the RDD level.
    val verts = vertices.select(col(idCol).as("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // key-wise sum of `v` folded in sortKey order (the t09 recipe);
    // foldBlock > 0 caps per-key buffers via the two-level VALUE-keyed
    // block fold (see pageRank — the viral-key guard, deterministic
    // under any partitioning); replayable=false swaps in the plain
    // partial-aggregated sum (the production path, without the
    // determinism tax)
    def orderedSum(df: DataFrame, key: String, sortKey: String): DataFrame =
      if (replayable && foldBlock > 0L) df
        .groupBy(col(key),
          (col(sortKey) - pmod(col(sortKey), lit(foldBlock))).as("blk"))
        .agg(collect_list(struct(col(sortKey).as("o"), col("v").as("x"))).as("cs"))
        .select(col(key), col("blk"),
          aggregate(transform(array_sort(col("cs")), c => c.getField("x")),
            lit(0.0), (a, b) => a + b).as("bs"))
        .groupBy(col(key))
        .agg(collect_list(struct(col("blk"), col("bs"))).as("bss"))
        .select(col(key).as("id"),
          aggregate(transform(array_sort(col("bss")), c => c.getField("bs")),
            lit(0.0), (a, b) => a + b).as("raw"))
      else if (replayable) df.groupBy(col(key))
        .agg(collect_list(struct(col(sortKey).as("o"), col("v").as("x"))).as("cs"))
        .select(col(key).as("id"),
          aggregate(transform(array_sort(col("cs")), c => c.getField("x")),
            lit(0.0), (a, b) => a + b).as("raw"))
      else df.groupBy(col(key)).agg(sum(col("v")).as("raw"))
        .withColumnRenamed(key, "id")

    // L1-normalize a raw score vector over the full vertex set; the
    // total is the blocked two-level ordered fold described above
    def normalize(raw0: DataFrame): DataFrame = {
      // raw feeds BOTH the total and the per-vertex division — pin it
      // once or the join+fold upstream runs twice per half-step
      val raw = raw0.localCheckpoint(eager = false)
      val tot =
        if (replayable) raw
          .groupBy((col("id") - pmod(col("id"), lit(4096L))).as("blk"))
          .agg(collect_list(struct(col("id"), col("raw"))).as("xs"))
          .select(col("blk"),
            aggregate(transform(array_sort(col("xs")), c => c.getField("raw")),
              lit(0.0), (a, b) => a + b).as("s"))
          .agg(collect_list(struct(col("blk"), col("s"))).as("bs"))
          .select(aggregate(transform(array_sort(col("bs")), c => c.getField("s")),
            lit(0.0), (a, b) => a + b).as("tot"))
        else raw.agg(sum(col("raw")).as("tot"))
      verts.join(raw, Seq("id"), "left")
        .crossJoin(broadcast(tot))
        .select(col("id"),
          round(coalesce(col("raw"), lit(0.0)) / col("tot"), 12).as("v"))
    }

    var hub = verts.select(col("id"), round(lit(1.0) / lit(n), 12).as("v"))
      .localCheckpoint(eager = false)
    var auth: DataFrame = hub
    for (_ <- 1 to iters) {
      auth = normalize(orderedSum(
          e.join(hub.withColumnRenamed("id", "src"), Seq("src")),
          key = "dst", sortKey = "src"))
        .localCheckpoint(eager = false)
      hub = normalize(orderedSum(
          e.join(auth.withColumnRenamed("id", "dst"), Seq("dst")),
          key = "src", sortKey = "dst"))
        .localCheckpoint(eager = false)
    }
    val out = verts
      .join(auth.withColumnRenamed("v", "auth"), Seq("id"))
      .join(hub.withColumnRenamed("v", "hub"), Seq("id"))
    out.count() // materialize the checkpoint chain before releasing the cache
    e.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    out
  }

  /** k-core decomposition (fixed k): iteratively peel vertices whose
    * INDUCED degree falls below `k` until the set is stable — the
    * dense-subgraph membership signal next to [[triangleCounts]]' local
    * closure score (link farms and citation rings live in high cores;
    * long-tail leaf pages never do, whatever their raw degree — raw
    * degree is spoofable by pointing MANY leaves at a page, core
    * membership is not, because the leaves themselves get peeled).
    *
    * Peeling is the textbook fixed-point (Seidman 1983; the Pregel/
    * GraphX formulation): each round keeps edges whose BOTH endpoints
    * are alive, recounts degrees, drops vertices under k. All integer
    * arithmetic — nothing to round, the cross-engine twin replays the
    * rounds as an unrolled CTE chain.
    *
    * Scale shape per round: two semi-join-shaped equi-joins of the
    * (persisted, canonical) edge list with the alive set and ONE
    * count aggregation — no all-pairs term; at 100 TB the edge list is
    * the bucketed artifact, the alive vector the small side. The loop
    * is driver-coordinated with control-sized state only (one count per
    * round, the pageRank discipline); rounds are bounded by `maxRounds`
    * (peeling depth, typically O(log n) on web-shaped graphs) with the
    * honest `converged` flag in the output when the bound bites first.
    * Monotone shrinkage makes count-equality a sound fixed-point test.
    *
    * Output: one row per core member `(v, core_deg)` (degree within the
    * final core) plus the constant `rounds` (peels that removed at
    * least one vertex) and `converged` columns.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val ue = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def induced(alive: DataFrame): DataFrame = ue
      .join(alive.withColumnRenamed("v", "a"), Seq("a"))
      .join(alive.withColumnRenamed("v", "b"), Seq("b"))
    def degrees(ind: DataFrame): DataFrame = ind
      .select(col("a").as("v")).unionAll(ind.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    var alive = ue.select(col("a").as("v"))
      .unionAll(ue.select(col("b").as("v"))).distinct()
      .localCheckpoint(eager = false)
    var prev = alive.count()
    var rounds = 0
    var converged = false
    var iter = 0
    while (!converged && iter < maxRounds) {
      iter += 1
      val next = degrees(induced(alive)).where(col("d") >= k)
        .select(col("v")).localCheckpoint(eager = false)
      val c = next.count()
      if (c == prev) converged = true
      else { rounds += 1; prev = c; alive = next }
    }
    // final induced degrees; inner join drops a (non-converged-only)
    // edge-free survivor identically to the twin
    val out = alive.join(degrees(induced(alive)), Seq("v"))
      .select(col("v"), col("d").as("core_deg"),
        lit(rounds.toLong).as("rounds"), lit(converged).as("converged"))
      .localCheckpoint(eager = false)
    out.count()
    ue.unpersist(blocking = false)
    out
  }

  /** BFS distance from a seed set (directed, unit weights) — the
    * crawl-depth quality prior ([[pageRank]]'s cheap cousin): pages far
    * from trusted seeds are late-crawl frontier sludge, and "distance
    * from seeds ≤ d" is a standard corpus-inclusion gate. Synchronous
    * min-plus propagation: each round extends the reached set by one
    * hop; a vertex's distance is assigned at the round equal to its
    * true BFS distance and never changes after, so reached-set COUNT
    * equality is a sound fixed-point test (the [[kCore]] argument,
    * mirrored for growth). Rounds are bounded by `maxRounds` (graph
    * diameter, log-ish on web graphs); vertices unreached by then are
    * simply absent (the caller left-joins and reads null as
    * "beyond the horizon", which at a bitten bound is the honest
    * answer).
    *
    * Scale shape per round: ONE join of the frontier-bearing distance
    * vector with the (persisted) edge list on src and one min
    * aggregation keyed by vertex — the distance vector is the small
    * side; driver state is one count per round.
    */
  def seedDistances(edges: DataFrame, seeds: DataFrame, maxRounds: Int,
      srcCol: String = "src", dstCol: String = "dst",
      idCol: String = "id"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var dist = seeds.select(col(idCol).as("v")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(eager = false)
    var cnt = dist.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxRounds) {
      iter += 1
      val next = dist.withColumnRenamed("v", "src").join(e, Seq("src"))
        .select(col("dst").as("v"), (col("dist") + 1L).as("dist"))
        .unionByName(dist)
        .groupBy(col("v")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(eager = false)
      val c = next.count()
      if (c == cnt) converged = true else { cnt = c; dist = next }
    }
    e.unpersist(blocking = false)
    dist
  }

  /** Harmonic centrality over a seed SAMPLE (Boldi & Vigna 2014's
    * axiomatically-preferred closeness variant): H(v) = Σ_s 1/d(s, v)
    * over sampled seeds, unreachable pairs contributing 0 — the
    * disconnected-graph pathology classic closeness has (1/∞ sums) is
    * designed out, which is exactly why it's the centrality a crawl
    * authority prior can actually use. Sampling seeds is the standard
    * estimator at scale (exact all-pairs BFS is O(n·m)); distances
    * follow edge direction, so this is harmonic IN-centrality from the
    * sample.
    *
    * Determinism is the g09 discipline — NO float anywhere: each term is
    * the exact half-up integer 10⁹/d (the floor((2a+b)/2b) identity) and
    * H_e9 is a plain integer SUM, order-free by arithmetic; the double
    * view divides once (exact: H_e9 < 2⁵³). The BFS is [[seedDistances]]
    * carried per (vertex, seed) pair — state is |reached|·|seeds| rows,
    * the per-seed version of g06's frontier loop (one edge join + one
    * min aggregation per round, count-stability = convergence by the BFS
    * layer property).
    *
    * Output per vertex: (v, n_reached, harmonic_e9, harmonic) — seeds
    * exclude their own d=0 row.
    */
  def harmonicCentrality(edges: DataFrame, seeds: DataFrame, maxRounds: Int,
      srcCol: String = "src", dstCol: String = "dst",
      idCol: String = "id", requireConverged: Boolean = false): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var dist = seeds.select(col(idCol).as("v")).distinct()
      .select(col("v"), col("v").as("seed"), lit(0L).as("dist"))
      .localCheckpoint(eager = false)
    var cnt = dist.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxRounds) {
      iter += 1
      val next = dist.withColumnRenamed("v", "src").join(e, Seq("src"))
        .select(col("dst").as("v"), col("seed"), (col("dist") + 1L).as("dist"))
        .unionByName(dist)
        .groupBy(col("v"), col("seed")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(eager = false)
      val c = next.count()
      if (c == cnt) converged = true else { cnt = c; dist = next }
    }
    // a BFS cut short by maxRounds silently underestimates n_reached and
    // harmonic on a graph whose seed-eccentricity exceeds the cap — make
    // truncation observable (r15 ADVICE): always log it, and let callers
    // that need the exact fixed point demand convergence outright (the
    // catalog twin instead mirrors the SAME dist < maxRounds cap in its
    // recursive-CTE oracle, so truncated and exact regimes both verify)
    if (!converged) {
      require(!requireConverged,
        s"harmonicCentrality: BFS not converged after maxRounds=$maxRounds")
      System.err.println(s"[graft] harmonicCentrality: maxRounds=$maxRounds" +
        " hit before convergence — distances (and harmonic terms) truncated")
    }
    val out = dist.where(col("dist") >= 1L)
      .select(col("v"),
        // exact half-up 10⁹/d — integer, order-free under any sum order
        call_function("div",
          lit(2000000000L) + col("dist"), col("dist") * lit(2L)).as("term"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n_reached"), sum(col("term")).as("harmonic_e9"))
      .select(col("v"), col("n_reached"), col("harmonic_e9"),
        (col("harmonic_e9").cast("double") / lit(1.0e9)).as("harmonic"))
      .localCheckpoint(eager = false)
    out.count()
    e.unpersist(blocking = false)
    out
  }

  /** Per-vertex triangle counts — the local clustering signal (link-farm
    * and spam-ring detection sit on it: organic link neighborhoods close
    * triangles, generated ones don't) next to [[pageRank]]/[[hits]]'s
    * global scores.
    *
    * The shape is the MapReduce-triangle-counting standard (Suri &
    * Vassilvitskii, WWW'11): canonicalize to undirected distinct edges,
    * then ORIENT each edge from its (degree, id)-smaller endpoint to the
    * larger. Every triangle has exactly one vertex with two out-edges
    * under this order, so enumerating wedges only at out-neighbors and
    * closing them against the edge set counts each triangle once — and
    * the out-degree of any vertex is O(sqrt(|E|)) on skewed graphs
    * (the degree ordering is precisely what caps the hub explosion that
    * kills naive wedge counting on power-law webs).
    *
    * All integer arithmetic — no rounding discipline needed. Scale: two
    * degree joins (shuffles on the edge key), one self-join on the wedge
    * pivot `u` (bounded by capped out-degrees), one closure equi-join on
    * the canonical edge key, and the final explode+group-by for
    * attribution. No all-pairs term anywhere. Vertices in no triangle are
    * absent from the output (count 0).
    */
  /** Synchronous label propagation (Raghavan et al. 2007, "Near linear
    * time algorithm to detect community structures in large-scale
    * networks") — community detection by iterated majority vote, made
    * fully deterministic: the edge set is symmetrized, dedup'd
    * (self-loops dropped), and restricted to endpoints IN `vertices`
    * (a dangling edge must neither vote nor mint a phantom vertex),
    * every vertex starts labeled with its own id,
    * and each of the FIXED `rounds` recomputes every label
    * simultaneously as the (count desc, label asc) winner among its
    * neighbors' current labels plus ONE self-vote. The self-vote damps
    * the classic 2-cycle oscillation of synchronous LPA; the fixed
    * round count (no convergence test) is what lets the SQL twin unroll
    * the exact computation. Communities resist single-edge bridges —
    * a mode needs MORE cross-edges than intra-edges to flip a block —
    * which is the property that makes LPA a useful domain/community
    * signal for corpus curation.
    *
    * Scale shape: each round is one edge-keyed join (labels onto dst) +
    * one (v, label) count + one per-vertex arg-max window — all keyed
    * shuffles, no pair term, no driver state beyond the loop counter.
    * The edge list persists across rounds; labels localCheckpoint so
    * the plan does not grow with rounds. O(rounds · |E|) total work —
    * the paper's near-linear claim, kept.
    */
  def labelPropagation(edges: DataFrame, vertices: DataFrame, rounds: Int,
      srcCol: String = "src", dstCol: String = "dst",
      idCol: String = "id"): DataFrame = {
    val vset = vertices.select(col(idCol).as("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dir = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // the label universe is `vertices` and nothing else: an edge endpoint
    // outside the vertex set must neither vote nor acquire a label (the
    // r13 finding — a symmetrized dangling edge injected PHANTOM vertices
    // into round-1 votes and the output, and their labels fed back into
    // real vertices). Both endpoints are semi-joined against the vertex
    // set before any round runs — two edge-keyed semi-joins, once.
    val ue = dir
      .unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct()
      .join(vset.select(col("v").as("src")), Seq("src"), "left_semi")
      .join(vset.select(col("v").as("dst")), Seq("dst"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = vset.withColumn("lbl", col("v"))
    // NOTE (r18 negative experiment): the g01 every-K-rounds checkpoint
    // recipe does not transfer — labels_k has TWO consumers in round k+1
    // (the neighbor join and the self-vote union), and the pin a lazy
    // persist provides re-executes its deep upstream per consumer when
    // nested inside an uncut segment (the hits measurement: 24 s vs 3.4 s
    // baseline). The per-round lazy localCheckpoint dedupes at the RDD
    // level and stays.
    for (_ <- 1 to rounds) {
      val nbrVotes = ue
        .join(labels.select(col("v").as("dst"), col("lbl").as("nl")), Seq("dst"))
        .select(col("src").as("v"), col("nl"))
      val votes = nbrVotes
        .unionByName(labels.select(col("v"), col("lbl").as("nl")))
        .groupBy(col("v"), col("nl")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("v")).orderBy(col("c").desc, col("nl").asc)
      labels = votes.withColumn("r", row_number().over(w)).where(col("r") === 1)
        .select(col("v"), col("nl").as("lbl"))
        .localCheckpoint(eager = false)
    }
    ue.unpersist(blocking = false)
    vset.unpersist(blocking = false)
    labels.select(col("v").as(idCol), col("lbl").as("community"))
  }

  /** GraphSAGE-style neighborhood feature propagation (Hamilton et al.
    * 2017's mean aggregator, kept to the deterministic skeleton): `hops`
    * rounds of h_{t+1}(v) = mean over v's neighbors of h_t — the
    * "smooth a per-node signal over the link structure" primitive. For
    * corpus curation the signal is quality: a page whose NEIGHBORHOOD
    * is junk is suspect even when it scores well in isolation (link
    * farms decay the smoothed score of everything they touch), and the
    * h1/h2 columns are exactly the 1-hop / 2-hop neighborhood-quality
    * features a spam classifier trains on.
    *
    * Determinism: edges symmetrized+dedup'd (self-loops dropped); each
    * hop's neighbor sum folds in neighbor-id order (the pageRank
    * discipline) and is NOT rounded — identical input bits through an
    * identical fold yield identical doubles in both engines, whereas a
    * round() at any precision REINTRODUCES divergence when a value
    * lands on a decimal half-boundary (Spark rounds the shortest
    * decimal repr, DuckDB the exact binary — measured: one sf0.01 h2
    * value at ...8815 flipped the 9-dp round between engines).
    * Scale: one edge-keyed join + one grouped fold per hop, O(hops·|E|)
    * — no pair term, no driver state; isolated vertices surface as
    * null (no neighborhood ⇒ no smoothed signal, not a fake 0).
    * Output: (idCol, featCol, h1..h`hops`).
    */
  def featurePropagation(edges: DataFrame, feats: DataFrame, hops: Int,
      srcCol: String = "src", dstCol: String = "dst",
      idCol: String = "id", featCol: String = "f"): DataFrame = {
    require(hops >= 1, s"hops=$hops")
    val dir = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val ue = dir
      .unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cur = feats.select(col(idCol).as("v"),
      col(featCol).cast("double").as("h"))
    val outs = (1 to hops).map { hop =>
      cur = ue
        .join(cur.select(col("v").as("dst"), col("h").as("nh")), Seq("dst"))
        .groupBy(col("src"))
        .agg(collect_list(struct(col("dst"), col("nh"))).as("ns"))
        .select(col("src").as("v"),
          (aggregate(transform(array_sort(col("ns")),
              x => x.getField("nh")), lit(0.0), (a, x) => a + x) /
            size(col("ns"))).as("h"))
        .localCheckpoint(eager = false)
      cur.select(col("v"), col("h").as(s"h$hop"))
    }
    ue.unpersist(blocking = false)
    outs.foldLeft(feats.select(col(idCol), col(featCol))) { (acc, o) =>
      acc.join(o.withColumnRenamed("v", idCol), Seq(idCol), "left")
    }
  }

  def triangleCounts(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val ue = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = ue.select(col("a").as("v"))
      .unionAll(ue.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // (deg, id)-lexicographic orientation: struct comparison IS that order
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    // persist the oriented edges: the wedge self-join reads them twice,
    // and each derivation carries two degree joins
    val oe = ue
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wedges = oe.as("e1")
      .join(oe.as("e2"), col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(col("e1.u").as("x"), col("e1.w").as("y"), col("e2.w").as("z"))
    val tri = wedges.join(ue,
        col("a") === least(col("y"), col("z")) &&
        col("b") === greatest(col("y"), col("z")))
      .select(col("x"), col("y"), col("z"))
    // checkpoint the result BEFORE releasing the caches — otherwise the
    // caller's sink replays the whole wedge/closure DAG uncached
    val out = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
      .localCheckpoint(eager = false)
    out.count() // materialize the checkpoint
    ue.unpersist(blocking = false)
    oe.unpersist(blocking = false)
    out
  }
}
