package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import scala.util.Random

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two paths:
  *  - brute-force cosine top-k (the exactness baseline): broadcast the probe
  *    set against the corpus — a map-side loop with a final per-probe top-k,
  *    no corpus shuffle. Right answer at any corpus size as long as the
  *    probe set is broadcastable.
  *  - LSH (random hyperplanes): bucket the corpus once by sign-pattern,
  *    probe only matching buckets — the 100 TB path; recall tunable via
  *    number of tables/planes.
  */
object Similarity {

  /** Dot product of two float-array columns in double precision, strict
    * left-to-right accumulation (portable across engines for oracle checks).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** Euclidean norm of a float-array column (double accumulation). */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast(DoubleType) * x.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v))

  /** Cosine similarity between two float-array columns. Null/zero-norm →
    * null. NOTE for hot paths: this evaluates BOTH norms per call — inside
    * a pair join that recomputes each side's norm once per PAIR. The top-k /
    * near-dup operators below instead materialize each side's norm once per
    * ROW in its own projection and divide the dot product per pair (the
    * O(pairs)-work-per-pair term drops from 3 array passes to 1).
    */
  def cosine(a: Column, b: Column): Column = {
    val na = norm(a)
    val nb = norm(b)
    when(na > 0 && nb > 0, dot(a, b) / (na * nb))
  }

  /** The fused `vec_dot` kernel (codegen'd, zero per-pair allocation) that
    * the operators below call. It and [[dot]] both accumulate strictly
    * left-to-right in double, so results are bit-identical (equivalence
    * asserted in SimilaritySpec).
    */
  private def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  private def vecNorm(a: Column): Column = sqrt(vecDot(a, a))

  /** Per-pair cosine from pre-materialized norms. */
  private def cosineFromNorms(aVec: Column, bVec: Column, na: Column, nb: Column): Column =
    when(na > 0 && nb > 0, vecDot(aVec, bVec) / (na * nb))

  /** The 1-NN assignment ordering as a `max_by` SORT KEY: maximizing
    * `struct(coalesce(csim, -2), -cent_id)` is exactly the window order
    * `(csim DESC NULLS LAST, cent_id ASC)` the quantizer contract pins —
    * cosine lives in [-1, 1] so -2 sorts a null-similarity row (zero-norm
    * vector) below every real score, and struct comparison breaks exact
    * ties to the LOWEST centroid id. Why this exists: the former
    * `row_number().over(partitionBy(id))` argmax forced a full
    * shuffle+sort of the n×k scored rows per assignment pass (the r13
    * #2 bench line); `max_by` plans as a partial+final HashAggregate —
    * map-side combine collapses each partition to one row per vector
    * BEFORE the exchange and nothing is ever sorted. Requires a NUMERIC
    * cent_id (negation is the tie-flip); every quantizer in this file
    * derives cent_id from the corpus id column, which is integral in
    * all catalog uses.
    */
  private def assignOrd(csim: Column, centId: Column): Column =
    struct(coalesce(csim, lit(-2.0)), negate(centId))

  /** Exact cosine top-k: for each probe row, the k nearest corpus rows
    * (self-match excluded). The probe side is broadcast, so the corpus is
    * scanned once with no shuffle; the per-probe top-k is a
    * TakeOrderedAndProject-style window with deterministic (sim desc, id)
    * tie-breaking. Norms are computed once per row on each side; the corpus
    * is spread to one task per core (byte-small inputs arrive single-split).
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      round6: Boolean = false): DataFrame = {
    val p = broadcast(probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
      vecNorm(col(vecCol)).as("probe_norm")))
    val c = Par.spreadForCpu(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"),
        vecNorm(col(vecCol)).as("vec_norm"))
    // round6=true applies the repo's round-6-before-order convention to
    // the ranking score: two candidates whose true cosines differ only in
    // the last few ulps could otherwise order differently between Spark's
    // vec_dot and DuckDB's list_cosine_similarity (r15 ADVICE). s04 keeps
    // the historical unrounded ranking (its oracle shares it verbatim);
    // rank-set consumers (the s25 recall sweep) opt in.
    val rank = if (round6) round(cosineFromNorms(col("probe_vec"), col("vec"),
        col("probe_norm"), col("vec_norm")), 6)
      else cosineFromNorms(col("probe_vec"), col("vec"), col("probe_norm"), col("vec_norm"))
    val scored = c.join(p, col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), rank.as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Deterministic random hyperplanes (seeded) as literal columns. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def signBits(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val dot = aggregate(
        zip_with(vec, typedLit(p.toSeq), (x, w) => x.cast(DoubleType) * w),
        lit(0.0), (acc, v) => acc + v)
      when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Multi-table LSH approximate top-k: `nTables` independent hash tables,
    * each bucketing by the sign pattern of `planesPerTable` random
    * hyperplanes. A corpus row lands in one bucket per table (an
    * `nTables`-element posexplode — table index disambiguates buckets);
    * candidates are bucket-join hits in ANY table, deduplicated before the
    * exact cosine ranking, so each candidate is scored once.
    *
    * One table of b planes has match probability (1−θ/π)^b — round-3
    * measurement: recall 0.02 at b=8 on the 64-dim testdata. The standard
    * fix is OR-ing tables: 1−(1−p^b)^L. With L=16, b=4 the analytic recall
    * at cos-sim 0.5 is ≈0.97 (measured ≥0.9 on sf0.001; floor-tested vs the
    * exact baseline in SimilaritySpec).
    *
    * Scale shape: the corpus side is nTables narrow (bucket, id) rows per
    * vector — at 100 TB the bucketed index would be written once with
    * bucketBy(table, bucket) so repeated probe batches never reshuffle the
    * corpus; the probe side is broadcast.
    */
  /** Per-row array of `nTables` sign-pattern bucket keys — the native
    * `lsh_sign_buckets` kernel (one fused codegen'd loop), bit-identical to
    * one [[signBits]] per table over `hyperplanes(planesPerTable, dim,
    * seed + t)` (SimilaritySpec). Shared by the ANN probe path (lshTopK)
    * and the semantic-cluster path (semanticClusters).
    */
  private def bucketArrayFor(vecCol: String, nTables: Int,
      planesPerTable: Int, dim: Int, seed: Long): Column =
    // coalesce: the kernel null-propagates a NULL vector, the declarative
    // form yields an all-zero bucket array (null dots → no bits) — align
    // on the declarative value so a null-vector row buckets identically
    coalesce(
      call_function("lsh_sign_buckets", col(vecCol),
        lit(seed), lit(nTables), lit(planesPerTable), lit(dim)),
      typedLit(Seq.fill(nTables)(0L)))

  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      nTables: Int, planesPerTable: Int,
      dim: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      multiProbe: Boolean = false): DataFrame = {
    def bucketArray: Column =
      bucketArrayFor(vecCol, nTables, planesPerTable, dim, seed)
    def buckets(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol).as(s"${side}_id"),
        posexplode(bucketArray).as(Seq("table", "bucket")))
    val c = buckets(Par.spreadForCpu(corpus), "neighbor")
    // multi-probe (Lv et al. 2007): each probe ALSO visits the
    // planesPerTable Hamming-1 neighbor buckets per table — the recall
    // of more tables at the index size of fewer, since near vectors
    // most often land one sign-flip away. Probe-side-only expansion:
    // the corpus index is untouched and the join stays an equi-join.
    val pBase = buckets(probes, "probe")
    val p = broadcast(
      if (!multiProbe) pBase
      else pBase.select(col("probe_id"), col("table"),
        explode(array(Seq(col("bucket")) ++
          (0 until planesPerTable).map(j =>
            col("bucket").bitwiseXOR(lit(1 << j))): _*)).as("bucket")))
    val candidates = c.join(p, Seq("table", "bucket"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"))
      .distinct()
    val scored = candidates
      .join(broadcast(probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
        vecNorm(col(vecCol)).as("probe_norm"))), Seq("probe_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"),
        vecNorm(col(vecCol)).as("vec_norm")), Seq("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosineFromNorms(col("probe_vec"), col("vec"),
          col("probe_norm"), col("vec_norm")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Write-once LSH bucket INDEX — the persisted artifact every lshTopK
    * scale note points at, as an executable seam rather than a comment:
    * the corpus's (tbl, bucket, neighbor_id, vec, vec_norm) rows saved as
    * a parquet table bucketed on `bucket` (a SINGLE bucket column — Spark
    * applies bucket pruning only to single-column bucket specs; `tbl`
    * rides as an ordinary pushed-filter column). Vectors and norms are
    * DENORMALIZED into the index, so the query half never joins — or
    * shuffles — the raw corpus: scoring is local to the bucket lookup.
    * Storage trade: nTables copies of each vector, the standard
    * inverted-index trade (the IVF cell tables make the same one).
    */
  /** Drop `table` AND its managed warehouse directory. `mode("overwrite")
    * .saveAsTable` alone is not enough across JVMs: a fresh session's
    * in-memory catalog has no entry for the table, but the previous
    * session's warehouse directory survives on disk, and Spark then
    * refuses the write with LOCATION_ALREADY_EXISTS (caught by the s28
    * gate run — the spec JVM had written the same table name).
    */
  private def replaceTable(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whPath = if (wh.contains(":")) new java.net.URI(wh).getPath else wh
    val dir = new java.io.File(whPath, table.toLowerCase)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    if (dir.exists()) rm(dir)
  }

  def writeLshIndex(corpus: DataFrame, table: String, nTables: Int,
      planesPerTable: Int, dim: Int, seed: Long = 42L, nBuckets: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    replaceTable(corpus.sparkSession, table)
    Par.spreadForCpu(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"),
        vecNorm(col(vecCol)).as("vec_norm"),
        posexplode(bucketArrayFor(vecCol, nTables, planesPerTable,
          dim, seed)).as(Seq("tbl", "bucket")))
      .select(col("tbl"), col("bucket"), col("neighbor_id"),
        col("vec"), col("vec_norm"))
      // align the write partitioning with the bucket spec (r18, guide §6):
      // repartition(nBuckets, bucket) uses the SAME pmod(murmur3) id a
      // bucketed write computes, so each task holds exactly one bucket and
      // the table lands as nBuckets files — previously every spread task
      // wrote a file per bucket it saw (up to tasks × nBuckets splinters;
      // measured 512 files at sf0.1). The hash/plane compute still runs
      // spread across cores, upstream of this one exchange.
      .repartition(nBuckets, col("bucket"))
      .write.mode("overwrite").bucketBy(nBuckets, "bucket").sortBy("bucket")
      .format("parquet").saveAsTable(table)
  }

  /** Query half of [[writeLshIndex]] — value-identical to [[lshTopK]] on
    * the same config (SimilaritySpec asserts row equality; the s28
    * catalog entry replays the SAME oracle as s02). The probe batch's
    * bucket keys are COLLECTED (control-sized: ≤ nProbes × nTables
    * values) and pushed into the index scan as an `isin` filter on the
    * bucket column, so Spark's bucket pruning opens ONLY the probed
    * buckets' files (`SelectedBucketsCount` in the scan — the
    * plan-audited receipt); the raw corpus is never read. Scoring runs
    * per bucket-join hit from the index's own vec/norm columns; the
    * (probe, neighbor, sim) distinct then equals lshTopK's
    * distinct-before-score because duplicate hits carry bit-identical
    * vectors and therefore bit-identical sims.
    */
  def lshTopKFromIndex(probes: DataFrame, table: String, k: Int,
      nTables: Int, planesPerTable: Int, dim: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = probes.sparkSession
    val pBase = probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("probe_vec"), vecNorm(col(vecCol)).as("probe_norm"),
      posexplode(bucketArrayFor(vecCol, nTables, planesPerTable,
        dim, seed)).as(Seq("tbl", "bucket")))
    val bucketKeys = pBase.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val idx = spark.table(table).where(col("bucket").isin(bucketKeys: _*))
    val scored = idx.join(broadcast(pBase), Seq("tbl", "bucket"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosineFromNorms(col("probe_vec"), col("vec"),
          col("probe_norm"), col("vec_norm")).as("sim"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Graph-traversal ANN (the HNSW/NSG family shape, flattened to one
    * layer): beam search over the s13 kNN graph. The index artifact is the
    * SYMMETRIZED LSH-built kNN graph (an edge list a 100 TB deployment
    * writes once, bucketed by src); each query walks it — score the fixed
    * entry points (the `beamWidth` lowest-id corpus vectors), then for a
    * fixed number of rounds expand the current beam's out-edges, score
    * only the NEVER-SEEN candidates exactly, and keep the best `beamWidth`
    * by (round-6 cosine DESC, id ASC). After `rounds` expansions the
    * per-probe top-k of everything scored is the answer.
    *
    * Determinism contract (so the DuckDB twin replays the walk move for
    * move): every beam/output ranking compares the 6-dp-ROUNDED cosine
    * with id tie-break — the s03 assignment convention — so beam
    * membership never hinges on sub-round float noise.
    *
    * Scale shape — the driver-coordinated round loop of Graph.seedDistances:
    * per round ONE broadcast-filtered pass over the edge list (frontier is
    * probes×beamWidth rows, broadcast; at scale the graph is bucketed by
    * src so the pass is a pruned lookup) and ONE broadcast-filtered pass
    * over the corpus scoring only the new candidates (at scale an id-keyed
    * point lookup against the bucketed/z-ordered embedding table; in Spark
    * the equivalent column-pruned scan + broadcast semi-filter). Driver
    * state per round is the probes×beam scored set — frontier-bound, never
    * corpus-bound (ScaleSmoke measured wall tracking corpus LINEARLY, the
    * per-round scans, not candidate fan-out). The scored set is eagerly
    * checkpointed per round, so the graph cache can be released before the
    * result is consumed.
    *
    * COST SPLIT at scale: the graph BUILD (the all-corpus lshTopK) is the
    * index-construction term, and its bucket self-join is quadratic in
    * bucket OCCUPANCY — with a fixed `planesPerTable` the occupancy grows
    * linearly in corpus and the build goes quadratic (the s13 pair-op
    * cost model, measured ×27 wall for ×4 corpus at 8 planes). The
    * production sizing bounds occupancy by scaling planes with corpus:
    * planesPerTable ≈ log₂(n / targetOccupancy), which keeps per-bucket
    * pairs — and so the whole build — linear in n (measured linear in
    * ScaleSmoke's id-shifted blowup under exactly that sizing). The build
    * runs ONCE per index generation; queries pay only the walk, so the two are
    * separate entry points: [[beamSearchOnGraph]] walks a prebuilt edge
    * list, and this convenience overload builds-then-walks.
    */
  def beamSearchTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      beamWidth: Int, rounds: Int, nTables: Int, planesPerTable: Int,
      dim: Int, seed: Long = 42L, graphK: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val edges0 = lshTopK(corpus, corpus, graphK, nTables, planesPerTable,
        dim, seed, idCol, vecCol)
      .select(col("probe_id").as("src"), col("neighbor_id").as("dst"))
    beamSearchOnGraph(corpus, probes, edges0, k, beamWidth, rounds,
      idCol, vecCol)
  }

  /** The walk half of [[beamSearchTopK]]: beam search over a PREBUILT
    * raw kNN edge list `edges0` (src, dst) — the index artifact a
    * deployment writes once and queries many times. Symmetrization
    * happens here so a stored one-directional kNN list stays the
    * canonical artifact.
    */
  def beamSearchOnGraph(corpus: DataFrame, probes: DataFrame,
      edges0: DataFrame, k: Int, beamWidth: Int, rounds: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      entries: Seq[(Long, Long)] = Nil): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // symmetrize: kNN edges are asymmetric (b in a's top-k ≠ a in b's),
    // and greedy traversal needs to walk BACK out of a local pocket.
    // Persisted: every round's expansion reads it.
    val edges = edges0
      .unionByName(edges0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cSelCache: DataFrame = null
    try {
      val p = broadcast(probes.select(col(idCol).as("probe_id"),
        col(vecCol).as("probe_vec"), vecNorm(col(vecCol)).as("probe_norm")))
      // every round's scoring job reads this projection — persist it so
      // the parquet scan + per-row norm run once, not once per round
      // (the serving-layer (id, vec, norm) table an ANN deployment holds
      // hot; released before return)
      val cSel = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("vec"), vecNorm(col(vecCol)).as("vec_norm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cSelCache = cSel
      // The walk state is probes × beam — CONTROL data (the BPE-argmax /
      // kmeans-centroid size class), so the loop is driver-coordinated:
      // per round ONE job expands the frontier through the distributed
      // edge list and ONE job scores the never-seen candidates against
      // the distributed corpus (both broadcast-filtered scans; at 100 TB
      // the edge list is bucketed by src and the corpus id-indexed, so
      // both passes are pruned lookups). The first, window-per-round
      // DataFrame formulation measured 10–25 s on a 500-vector corpus —
      // all scheduling overhead, growing with accumulated checkpoint
      // state; this form is ~20 Spark jobs total and holds nothing
      // distributed between rounds beyond the persisted graph.
      def scoreNew(cand: Seq[(Long, Long)]): Array[(Long, Long, Double)] =
        cSel.join(broadcast(cand.toDF("probe_id", "neighbor_id")),
            Seq("neighbor_id"))
          .join(p, Seq("probe_id"))
          .select(col("probe_id"), col("neighbor_id"),
            round(cosineFromNorms(col("probe_vec"), col("vec"),
              col("probe_norm"), col("vec_norm")), 6).as("sim"))
          .as[(Long, Long, Double)].collect()
      // lazy: the per-probe-entries path (s26) never runs this job
      lazy val entryIds = corpus.select(col(idCol).cast("long"))
        .orderBy(col(idCol)).limit(beamWidth).as[Long].collect()
      val probeIds = probes.select(col(idCol).cast("long")).as[Long]
        .collect().sorted
      val scored = scala.collection.mutable.Map.empty[Long,
        scala.collection.mutable.ArrayBuffer[(Long, Double)]]
      val seen = scala.collection.mutable.Map.empty[Long,
        scala.collection.mutable.HashSet[Long]]
      probeIds.foreach { pid =>
        scored(pid) = scala.collection.mutable.ArrayBuffer.empty
        seen(pid) = scala.collection.mutable.HashSet.empty
      }
      // idempotent: a candidate reached from two frontier nodes (or
      // re-scored in a later round) enters the scored set exactly once
      def absorb(rows: Array[(Long, Long, Double)]): Unit =
        rows.foreach { case (pid, nid, sim) =>
          if (!seen(pid)(nid)) { scored(pid) += ((nid, sim)); seen(pid) += nid }
        }
      // beam = per-probe top-B of everything scored, (sim DESC, id ASC) —
      // sims are round-6 doubles, so this order is the oracle's order
      def top(n: Int): Seq[(Long, Long, Double)] =
        probeIds.toSeq.flatMap { pid =>
          scored(pid).toSeq.sortBy { case (nid, sim) => (-sim, nid) }
            .take(n).map { case (nid, sim) => (pid, nid, sim) }
        }
      // per-probe entry override (the s26 hierarchical layer hands each
      // probe its own descended entry set); default = the flat fixed
      // lowest-id entry points (s21)
      val entryPairs =
        if (entries.nonEmpty) entries.filter { case (pid, c) => c != pid }
        else for {
          pid <- probeIds.toSeq; c <- entryIds.toSeq; if c != pid
        } yield (pid, c)
      absorb(scoreNew(entryPairs))
      // per round ONE fused job: frontier out-edges scored in place (the
      // handful of already-seen candidates re-scored and dropped on the
      // driver cost less than a second expand-only job round-trip —
      // frontier×degree rows either way)
      var exhausted = false
      for (_ <- 1 to rounds if !exhausted) {
        val frontier = top(beamWidth).map { case (pid, nid, _) => (pid, nid) }
        // no distinct: a neighbor reached from two frontier nodes scores
        // twice (bounded by frontier×degree) and absorb drops the dupe —
        // cheaper than an exchange + AQE stage inside every round job
        val cand = edges
          .join(broadcast(frontier.toDF("probe_id", "src")), Seq("src"))
          .select(col("probe_id"), col("dst").as("neighbor_id"))
        val scoredRows = cSel.join(broadcast(cand), Seq("neighbor_id"))
          .join(p, Seq("probe_id"))
          .select(col("probe_id"), col("neighbor_id"),
            round(cosineFromNorms(col("probe_vec"), col("vec"),
              col("probe_norm"), col("vec_norm")), 6).as("sim"))
          .as[(Long, Long, Double)].collect()
        val fresh = scoredRows.filter { case (pid, nid, _) =>
          nid != pid && !seen(pid)(nid)
        }
        if (fresh.isEmpty) exhausted = true else absorb(fresh)
      }
      probeIds.toSeq.flatMap { pid =>
        scored(pid).toSeq.sortBy { case (nid, sim) => (-sim, nid) }.take(k)
          .zipWithIndex.map { case ((nid, sim), i) => (pid, (i + 1).toLong, nid, sim) }
      }.toDF("probe_id", "rank", "neighbor_id", "sim")
    } finally {
      edges.unpersist(blocking = false)
      if (cSelCache != null) cSelCache.unpersist(blocking = false)
    }
  }

  /** Hierarchical-entry beam search (s26) — the HNSW-style upper level
    * over [[beamSearchOnGraph]]'s flat walk (r15 verdict task 4): s21
    * enters the base graph at a FIXED lowest-id entry set, which at
    * corpus scale means every probe pays beamWidth entry scores against
    * vectors chosen with no regard to the probe. Here a COARSE level —
    * the deterministic ~√n sample `id % ceil(√n) == 0` — carries its own
    * brute-force kNN graph (√n vertices ⇒ n candidate pairs, the same
    * budget as ONE flat entry scan), and each probe GREEDY-DESCENDS it
    * along `nStarts` independent chains (seeded at the nStarts lowest
    * coarse ids): each chain moves to the round-6-cosine-best neighbor
    * while STRICTLY improving (ties stay, so the walk is deterministic
    * and the oracle replays it move for move). The entry
    * beam is the top-beamWidth of EVERY coarse vertex scored during the
    * descent (the ef-style visited pool, ~descentRounds·2·coarseGraphK
    * vertices) — probe-LOCAL entries at the same budget as s21's
    * beamWidth arbitrary lowest-id ones.
    *
    * Scale shape: the coarse graph is √n·2k control rows (collected —
    * the kmeans-centroid size class; at 10⁹ vectors ≈ 31k·16 edges);
    * descent state is probes×1 rows on the driver; per descent round ONE
    * broadcast-filtered scoring job (the s21 walk discipline) whose
    * candidate set is ≤ probes·coarseGraphK·2 pairs. The base walk is
    * unchanged [[beamSearchOnGraph]] machinery with per-probe entries.
    */
  def hierarchicalBeamTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      beamWidth: Int, rounds: Int, descentRounds: Int, coarseGraphK: Int,
      nTables: Int, planesPerTable: Int, dim: Int, seed: Long = 42L,
      graphK: Int = 8, nStarts: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val edges0 = lshTopK(corpus, corpus, graphK, nTables, planesPerTable,
        dim, seed, idCol, vecCol)
      .select(col("probe_id").as("src"), col("neighbor_id").as("dst"))
    hierarchicalBeamOnGraph(corpus, probes, edges0, k, beamWidth, rounds,
      descentRounds, coarseGraphK, nStarts, idCol, vecCol)
  }

  /** The query-time half of [[hierarchicalBeamTopK]] on a PREBUILT base
    * kNN edge list (the s21 beamSearchOnGraph split, one level up), so
    * the entry layer's cost can be timed apart from the graph build.
    */
  def hierarchicalBeamOnGraph(corpus: DataFrame, probes: DataFrame,
      edges0: DataFrame, k: Int, beamWidth: Int, rounds: Int,
      descentRounds: Int, coarseGraphK: Int, nStarts: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val n = corpus.count()
    require(n > 0, "hierarchicalBeamTopK: empty corpus")
    val stride = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val coarse = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        vecNorm(col(vecCol)).as("nv"))
      .where(pmod(col("id"), lit(stride)) === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // coarse kNN graph, brute force (√n vertices — n pairs, one job),
      // round-6 cosine with id tie-break, SYMMETRIZED (the base-layer
      // rationale: greedy descent must be able to walk back out of a
      // pocket); √n·2k edges = driver-held control data
      val wCoarse = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("sim").desc_nulls_last, col("dst").asc)
      val ge = coarse.select(col("id").as("src"), col("vec").as("sv"), col("nv").as("sn"))
        .join(coarse.select(col("id").as("dst"), col("vec").as("dv"), col("nv").as("dn")),
          col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          // zero-norm pin: cosineFromNorms yields NULL on a zero vector here but the
          // DuckDB twin's list_cosine_similarity yields NaN (which DuckDB
          // ranks ABOVE all reals) — coalesce to -2 on both sides so a
          // zero-norm vector on a stride-multiple id ranks last in both
          // engines
          round(coalesce(cosineFromNorms(col("sv"), col("dv"), col("sn"), col("dn")),
            lit(-2.0)), 6).as("sim"))
        .withColumn("rn", row_number().over(wCoarse))
        .where(col("rn") <= coarseGraphK)
        .select(col("src"), col("dst"))
        .as[(Long, Long)].collect()
      val cNbrs: Map[Long, Seq[Long]] =
        (ge ++ ge.map { case (s, d) => (d, s) }).distinct
          .groupBy(_._1).map { case (s, ds) => s -> ds.map(_._2).toSeq.sorted }
      // multi-start: the nStarts LOWEST coarse ids each seed an
      // independent greedy chain per probe — single-start descent
      // measured recall 0.64 vs the flat walk's 0.72 on sf0.001 (one
      // chain's visited pool concentrates around one coarse region);
      // independent chains recover the coverage a full coarse scan has
      // (0.74) while scoring ~nStarts·descentRounds·2·coarseGraphK
      // vertices instead of √n
      val starts = coarse.select(col("id")).orderBy(col("id"))
        .limit(nStarts).as[Long].collect().toSeq
      // an id-sparse corpus can leave the stride sample empty — with no
      // chains the walk would silently fall back to beamSearchOnGraph's
      // flat lowest-id entries (a semantics change, not an error state);
      // surface it instead
      require(starts.nonEmpty,
        s"hierarchicalBeam: stride-$stride coarse sample is empty — no id " +
          "in the corpus is a multiple of the stride; use beamSearchOnGraph " +
          "directly or re-key ids")
      val probeIds = probes.select(col(idCol).cast("long")).as[Long]
        .collect().sorted
      val p = broadcast(probes.select(col(idCol).cast("long").as("probe_id"),
        col(vecCol).as("probe_vec"), vecNorm(col(vecCol)).as("probe_norm")))
      // one broadcast-filtered scoring job per descent round (candidates
      // are probes×nStarts×(2·coarseGraphK) pairs — control data)
      def score(cand: Seq[(Long, Long)]): Map[(Long, Long), Double] =
        coarse.join(broadcast(cand.toDF("probe_id", "id")), Seq("id"))
          .join(p, Seq("probe_id"))
          .select(col("probe_id"), col("id"),
            round(coalesce(cosineFromNorms(col("probe_vec"), col("vec"),
              col("probe_norm"), col("nv")), lit(-2.0)), 6).as("sim"))
          .as[(Long, Long, Double)].collect()
          .map { case (pid, id, s) => (pid, id) -> s }.toMap
      val s0 = score(for { pid <- probeIds.toSeq; st <- starts }
        yield (pid, st))
      // chain state keyed by (probe, startIndex); chains share one
      // visited pool (and one scoring job per round)
      val chains = for { pid <- probeIds.toSeq; st <- starts } yield (pid, st)
      var cur: Map[(Long, Long), (Long, Double)] =
        chains.map { case (pid, st) => (pid, st) -> (st, s0((pid, st))) }.toMap
      // every coarse vertex SCORED during the descent (starts + each
      // round's neighborhoods) — the ef-style candidate pool the entry
      // beam is drawn from. A converged chain re-visits only its
      // unchanged neighborhood, so the pool is stable after convergence
      // on both engines.
      val visited = scala.collection.mutable.Map.empty[(Long, Long), Double]
      s0.foreach { case (k2, v) => visited(k2) = v }
      var live = chains.toSet
      for (_ <- 1 to descentRounds if live.nonEmpty) {
        val cand = live.toSeq.flatMap { case (pid, st) =>
          cNbrs.getOrElse(cur((pid, st))._1, Nil).map(nb => (pid, nb))
        }.distinct
        if (cand.isEmpty) live = Set.empty
        else {
          val sc = score(cand)
          sc.foreach { case (k2, v) => visited(k2) = v }
          val moved = scala.collection.mutable.Set.empty[(Long, Long)]
          cur = cur.map { case (key @ (pid, _), (c, cs)) =>
            if (!live(key)) key -> (c, cs)
            else {
              // best neighbor by (sim DESC, id ASC); move only on STRICT
              // improvement — ties stay, making the walk replayable
              val nbs = cNbrs.getOrElse(c, Nil).map(nb => (nb, sc((pid, nb))))
              if (nbs.isEmpty) key -> (c, cs)
              else {
                val (bid, bs) = nbs.minBy { case (id, s) => (-s, id) }
                if (bs > cs) { moved += key; key -> (bid, bs) }
                else key -> (c, cs)
              }
            }
          }
          live = live.intersect(moved.toSet)
        }
      }
      // entry set per probe: the top-beamWidth of the visited pool by
      // (sim DESC, id ASC) — probe-LOCAL entries of the same budget as
      // s21's beamWidth arbitrary lowest-id ones, drawn from
      // ~descentRounds·2·coarseGraphK scored vertices instead of a √n
      // coarse scan
      val entries = probeIds.flatMap { pid =>
        visited.collect { case ((p, id), s) if p == pid => (id, s) }.toSeq
          .sortBy { case (id, s) => (-s, id) }.take(beamWidth)
          .map { case (id, _) => (pid, id) }
      }.toSeq
      beamSearchOnGraph(corpus, probes, edges0, k, beamWidth, rounds,
        idCol, vecCol, entries)
    } finally coarse.unpersist(blocking = false)
  }

  /** k-center greedy coreset selection (farthest-point traversal —
    * Gonzalez 1985's 2-approximation; Sener & Savarese ICLR 2018 is the
    * data-selection use): seed with the lowest-id vector, then repeatedly
    * add the point FARTHEST from the selected set — the argmin of
    * max-cosine-to-selected, 6-dp-rounded with id-ascending tie-break, so
    * every selection decision is deterministic and oracle-replayable.
    * Returns the k selected rows in selection order, each carrying the
    * max-cosine to the previously-selected set at the moment it was
    * chosen (null for the seed) — the non-decreasing radius schedule a
    * pruning pipeline thresholds on.
    *
    * Scale shape: the selected set is CONTROL data (k vectors on the
    * driver — the kmeans-centroid size class), so the loop is
    * driver-coordinated (the s21 walk discipline): per round ONE
    * partial+final `min_by` aggregate over the persisted (id, vec, norm)
    * projection — map-side combine collapses each partition to one row
    * before the exchange, the corpus itself never shuffles — with the
    * per-row work a greatest() over ≤ k literal-vector cosines. Each
    * round is a fresh plan over the cache (no lineage growth, no
    * checkpoint chain). k linear passes over 100 TB is the algorithm's
    * irreducible cost; the standard mitigation (coarse-cluster first,
    * k-center per cell) composes from s05/s06.
    */
  /** The (id, vec, norm) projection every k-center round scans — split
    * out (with [[kCenterRound]]) so PlanAuditSpec can pin the per-round
    * plan shape on exactly the operator's own building blocks. */
  private[graft] def kCenterBase(corpus: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Par.spreadForCpu(corpus)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        vecNorm(col(vecCol)).as("nv"))

  /** One greedy round: the argmin of max-cosine-to-`centers` (each term
    * 6-dp-rounded, zero-norm rows pinned to -2 — below any real cosine;
    * the greatest() of per-center rounds is exactly the oracle's
    * greatest-chain, since greatest is associative) as a partial+final
    * `min_by` aggregate — map-side combine collapses each partition to
    * one candidate row before the single-row exchange, so the corpus
    * never hash-shuffles. `centers` carries (vector-as-doubles, norm).
    */
  private[graft] def kCenterRound(base: DataFrame,
      centers: Seq[(Array[Double], Double)],
      excludeIds: Seq[Long] = Nil): DataFrame = {
    val sims = centers.map { case (cv, cn) =>
      round(coalesce(
        when(col("nv") > 0 && lit(cn) > 0,
          dot(col("vec"), typedLit(cv.toSeq)) / (col("nv") * lit(cn))),
        lit(-2.0)), 6)
    }
    val ms = if (sims.size == 1) sims.head else greatest(sims: _*)
    // already-selected centers leave the candidate pool (a k-sized isin
    // filter): on an all-duplicate corpus every max-cosine rounds to 1.0
    // and the (ms, id) min_by would otherwise re-select the lowest-id
    // center forever — the coreset's ids-distinct invariant must hold by
    // construction, not by fixture luck (r15 ADVICE)
    val pool = if (excludeIds.isEmpty) base
      else base.where(!col("id").isin(excludeIds: _*))
    pool.select(col("id"), col("vec"), col("nv"), ms.as("ms"))
      .select(min_by(struct(col("id"), col("vec"), col("nv"), col("ms")),
        struct(col("ms"), col("id"))).as("r"))
      .select(col("r.id"), col("r.vec"), col("r.nv"), col("r.ms"))
  }

  def kCenterGreedy(corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = kCenterBase(corpus, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def vecOf(r: org.apache.spark.sql.Row): Array[Double] =
        r.getSeq[Any](1).map(x => x.asInstanceOf[Number].doubleValue).toArray
      val seed = base
        .select(min_by(struct(col("id"), col("vec"), col("nv")), col("id")).as("r"))
        .select(col("r.id"), col("r.vec"), col("r.nv")).head()
      // min_by over an empty input yields one all-null row, not an empty
      // result — surface it as a clear contract violation instead of the
      // NPE the getters would throw (r15 ADVICE)
      require(!seed.isNullAt(0), "kCenterGreedy: corpus is empty")
      // (id, vec-as-doubles, norm, max-sim-to-selected at selection time)
      var selected = Vector(
        (seed.getLong(0), vecOf(seed), seed.getDouble(2), Option.empty[Double]))
      for (_ <- 2 to k) {
        val r = kCenterRound(base,
          selected.map { case (_, cv, cn, _) => (cv, cn) },
          selected.map(_._1)).head()
        // an exhausted pool (k > corpus row count) also surfaces as the
        // all-null min_by row — fail with the actual bound, not an NPE
        require(!r.isNullAt(0),
          s"kCenterGreedy: k=$k exceeds corpus row count ${selected.size}")
        selected :+= ((r.getLong(0), vecOf(r), r.getDouble(2), Some(r.getDouble(3))))
      }
      selected.zipWithIndex.map { case ((id, _, _, ms), i) =>
        ((i + 1).toLong, id, ms)
      }.toDF("sel_order", "vec_id", "max_sim_prev")
    } finally base.unpersist(blocking = false)
  }

  /** Semantic dedup clusters — the embedding-space sibling of the lexical
    * cluster paths (d07 exact / d12 LSH): sign-LSH bucket candidates over
    * the FULL corpus (pair = any shared (table, bucket) hit, a_id < b_id,
    * deduplicated), exact cosine computed ONLY on candidates and rounded
    * to 6 dp BEFORE thresholding (the d06 boundary convention), then the
    * same connected-components + min-id survivor election the lexical
    * family uses ([[Dedup.clustersFromPairs]]) — so "semantically
    * near-identical" groups collapse to one kept representative.
    *
    * Scale shape: identical to d12's — the corpus becomes nTables narrow
    * (table, bucket, id) index rows (persisted: both sides of the
    * self-join consume it), candidates are a bucketed self-join, exact
    * scoring touches candidates only, and CC iterates over edge
    * endpoints. At 100 TB the bucket index is written once with
    * bucketBy(table, bucket); recall is tuned by (nTables,
    * planesPerTable) exactly as in [[lshTopK]].
    */
  def semanticClusters(vecs: DataFrame, threshold: Double,
      nTables: Int, planesPerTable: Int, dim: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (pairs, caches) =
      semanticPairsCached(vecs, threshold, nTables, planesPerTable, dim, seed, idCol, vecCol)
    val out = Dedup.clustersFromPairs(pairs, vecs, idCol)
    // clustersFromPairs' CC loop runs its convergence probes EAGERLY and
    // returns a plan rooted at the checkpointed label state, so by the time
    // it returns the pair-stage caches are fully consumed — unpersist here
    // (the cluster-size window below the CC tail reads labels, not pairs)
    // instead of leaking two cached plans per call for the session lifetime
    caches.foreach(_.unpersist(blocking = false))
    out
  }

  /** The candidate-generation + exact-scoring stage of [[semanticClusters]],
    * exposed so the plan is auditable on its own (the cluster output's plan
    * only shows the CC tail — the pair joins execute inside the iteration).
    * NOTE: the returned plan rides two MEMORY_AND_DISK caches (bucket index,
    * sided norms); standalone callers own their lifetime (`clearCache`) —
    * [[semanticClusters]] unpersists them itself once CC has consumed them.
    */
  private[graft] def semanticPairs(vecs: DataFrame, threshold: Double,
      nTables: Int, planesPerTable: Int, dim: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    semanticPairsCached(vecs, threshold, nTables, planesPerTable, dim, seed, idCol, vecCol)._1

  private def semanticPairsCached(vecs: DataFrame, threshold: Double,
      nTables: Int, planesPerTable: Int, dim: Int, seed: Long,
      idCol: String, vecCol: String): (DataFrame, Seq[DataFrame]) = {
    val index = Par.spreadForCpu(vecs)
      .select(col(idCol).as("id"),
        posexplode(bucketArrayFor(vecCol, nTables, planesPerTable, dim, seed))
          .as(Seq("table", "bucket")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = index.select(col("table"), col("bucket"), col("id").as("a_id"))
      .join(index.select(col("table"), col("bucket"), col("id").as("b_id")),
        Seq("table", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    // persisted like the index: the (id, vec, norm) projection feeds BOTH
    // pair-join sides — unpersisted, the embeddings table is re-scanned
    // (and norms recomputed) once per side (~4 corpus scans total with the
    // CC vertex list; persisted it is 2)
    val sided = vecs.select(col(idCol).as("id"), col(vecCol).as("v"),
      vecNorm(col(vecCol)).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = candidates
      .join(sided.select(col("id").as("a_id"), col("v").as("av"), col("nrm").as("an")),
        Seq("a_id"))
      .join(sided.select(col("id").as("b_id"), col("v").as("bv"), col("nrm").as("bn")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosineFromNorms(col("av"), col("bv"), col("an"), col("bn")), 6).as("sim"))
      .where(col("sim") >= threshold)
    (pairs, Seq(index, sided))
  }

  /** IVF (inverted-file) approximate top-k — the second scale path next to
    * LSH. A coarse quantizer of `nCells` centroids partitions the corpus:
    * each corpus vector is assigned to its nearest centroid (one cell);
    * each probe searches its `nProbe` nearest cells; candidates are scored
    * exactly and ranked.
    *
    * The quantizer here is deterministic — the `nCells` lowest-id corpus
    * vectors serve as centroids — so results are reproducible and
    * recall-testable without an iterative clustering dependency; a
    * production deployment would train k-means centroids once (e.g.
    * spark.ml KMeans) and keep everything downstream identical.
    *
    * Cell assignment ranks centroids by the cosine ROUNDED to 6 decimals
    * (ties broken by cent_id): near-equal centroid similarities collapse
    * into a deterministic id-ordered tie instead of depending on the
    * engine's float accumulation order, which is what lets a SQL twin
    * reproduce the assignment exactly (the s03 oracle).
    *
    * Scale shape: assignment is one broadcast-NLJ pass over the corpus
    * (nCells dot products per row, no shuffle of the corpus); at 100 TB the
    * cell assignment is written once with bucketBy(cell) so probe batches
    * only read their nProbe cells — candidate volume is
    * corpus × nProbe / nCells.
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      nCells: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfTopKWithCentroids(corpus, probes, k,
      corpus.orderBy(col(idCol)).limit(nCells)
        .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec")),
      nProbe, idCol, vecCol)

  /** [[ivfTopK]] with a caller-supplied quantizer `(cent_id, cent_vec)` —
    * the entry point for TRAINED centroids ([[kmeansCentroids]]); the
    * default path feeds it the lowest-id stand-in quantizer.
    */
  def ivfTopKWithCentroids(corpus: DataFrame, probes: DataFrame, k: Int,
      centroids: DataFrame, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = broadcast(centroids
      .select(col("cent_id"), col("cent_vec"),
        vecNorm(col("cent_vec")).as("cent_norm")))
    def assign(df: DataFrame, side: String, nNearest: Int): DataFrame = {
      val scored = df
        .select(col(idCol).as(s"${side}_id"), col(vecCol).as("v"), vecNorm(col(vecCol)).as("vn"))
        .join(cents)
        .select(col(s"${side}_id"), col("cent_id"),
          round(cosineFromNorms(col("v"), col("cent_vec"), col("vn"),
            col("cent_norm")), 6).as("csim"))
      if (nNearest == 1)
        // corpus-sized side: partial+final max_by aggregate, never a
        // window sort over n×nCells rows (see assignOrd)
        scored.groupBy(col(s"${side}_id"))
          .agg(max_by(col("cent_id"), assignOrd(col("csim"), col("cent_id"))).as("cent_id"))
          .select(col(s"${side}_id"), col("cent_id"))
      else {
        // probe-sized side only (nProbe nearest cells): window is fine
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(s"${side}_id"))
          .orderBy(col("csim").desc_nulls_last, col("cent_id").asc)
        scored.withColumn("r", row_number().over(w))
          .where(col("r") <= nNearest)
          .select(col(s"${side}_id"), col("cent_id"))
      }
    }
    val cAssign = assign(Par.spreadForCpu(corpus), "neighbor", 1)
    val pAssign = broadcast(assign(probes, "probe", nProbe))
    val candidates = cAssign.join(pAssign, Seq("cent_id"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"))
    val scored = candidates
      .join(broadcast(probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
        vecNorm(col(vecCol)).as("probe_norm"))), Seq("probe_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"),
        vecNorm(col(vecCol)).as("vec_norm")), Seq("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosineFromNorms(col("probe_vec"), col("vec"),
          col("probe_norm"), col("vec_norm")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Write-once IVF cell INDEX — [[writeLshIndex]]'s sibling for the IVF
    * scale path: the corpus's nearest-cell assignment (s03's exact
    * recipe — round-6 cosine, cent_id tie-break, partial+final max_by)
    * persisted as `(cent_id, neighbor_id, vec, vec_norm)` bucketed on
    * `cent_id`, with the quantizer saved alongside as
    * `<table>_quantizer` (the FAISS convention: the coarse quantizer IS
    * part of the index artifact — the query half must assign probes with
    * the SAME centroids the corpus was cut by, never re-derive them).
    */
  def writeIvfIndex(corpus: DataFrame, table: String, nCells: Int,
      nBuckets: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    replaceTable(corpus.sparkSession, table)
    replaceTable(corpus.sparkSession, s"${table}_quantizer")
    val centroids = corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))
    centroids.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_quantizer")
    val cents = broadcast(centroids
      .select(col("cent_id"), col("cent_vec"), vecNorm(col("cent_vec")).as("cent_norm")))
    cellAssigned(corpus, cents, idCol, vecCol)
      // bucket-aligned write partitioning — one file per bucket (r18,
      // guide §6; see writeLshIndex)
      .repartition(nBuckets, col("cent_id"))
      .write.mode("overwrite").bucketBy(nBuckets, "cent_id").sortBy("cent_id")
      .format("parquet").saveAsTable(table)
  }

  /** The ONE corpus→cell assignment projection behind [[writeIvfIndex]]
    * and [[appendToIvfIndex]] (s03's exact recipe), emitting the index
    * row shape `(cent_id, neighbor_id, vec, vec_norm)` — shared so the
    * build and the delta append can never assign by different rules.
    */
  private def cellAssigned(corpus: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    Par.spreadForCpu(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"),
        vecNorm(col(vecCol)).as("vec_norm"))
      .join(cents)
      .select(col("neighbor_id"), col("vec"), col("vec_norm"), col("cent_id"),
        round(cosineFromNorms(col("vec"), col("cent_vec"),
          col("vec_norm"), col("cent_norm")), 6).as("csim"))
      .groupBy(col("neighbor_id"))
      .agg(
        max_by(col("cent_id"), assignOrd(col("csim"), col("cent_id"))).as("cent_id"),
        first(col("vec")).as("vec"), first(col("vec_norm")).as("vec_norm"))
      .select(col("cent_id"), col("neighbor_id"), col("vec"), col("vec_norm"))
  }

  /** Incremental maintenance of a [[writeIvfIndex]] artifact — the FAISS
    * `add` operation on a trained index: new vectors are assigned
    * against the PERSISTED quantizer (never re-derived — re-clustering
    * would silently move every existing cell boundary) and appended to
    * the bucketed cell table with the same bucket spec, so bucket
    * pruning keeps working across the append. The merged index answers
    * queries exactly as if the union corpus had been cut by the original
    * quantizer ([[ivfTopKWithCentroids]] on the union — SimilaritySpec
    * asserts row equality), which is the production contract: ingest
    * appends vectors in place, re-training the quantizer is a separate,
    * deliberate rebuild. At 100 TB the delta pass touches only the delta
    * (one broadcast of the quantizer, one partial+final max_by), and the
    * append writes only the delta's files.
    */
  def appendToIvfIndex(delta: DataFrame, table: String, nBuckets: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = delta.sparkSession
    val cents = broadcast(spark.table(s"${table}_quantizer")
      .select(col("cent_id"), col("cent_vec"), vecNorm(col("cent_vec")).as("cent_norm")))
    cellAssigned(delta, cents, idCol, vecCol)
      // bucket-aligned write partitioning — one file per bucket per append
      // (r18, guide §6; see writeLshIndex)
      .repartition(nBuckets, col("cent_id"))
      .write.mode("append").bucketBy(nBuckets, "cent_id").sortBy("cent_id")
      .format("parquet").saveAsTable(table)
  }

  /** Query half of [[writeIvfIndex]] — value-identical to [[ivfTopK]] on
    * the same (nCells, nProbe) (SimilaritySpec asserts row equality; the
    * s29 catalog entry replays s03's oracle verbatim): probes assign to
    * their nProbe nearest cells against the PERSISTED quantizer, the
    * probed cell ids are collected (control-sized: ≤ nProbes × nProbe)
    * and pushed into the index scan as an `isin` filter, so bucket
    * pruning opens only those cells' files; candidates score from the
    * index's own vec/norm columns — candidate volume is
    * corpus × nProbe / nCells and the raw corpus is never read.
    */
  def ivfTopKFromIndex(probes: DataFrame, table: String, k: Int,
      nProbe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = probes.sparkSession
    val cents = broadcast(spark.table(s"${table}_quantizer")
      .select(col("cent_id"), col("cent_vec"), vecNorm(col("cent_vec")).as("cent_norm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("csim").desc_nulls_last, col("cent_id").asc)
    val pAssign = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
        vecNorm(col(vecCol)).as("probe_norm"))
      .join(cents)
      .select(col("probe_id"), col("probe_vec"), col("probe_norm"), col("cent_id"),
        round(cosineFromNorms(col("probe_vec"), col("cent_vec"),
          col("probe_norm"), col("cent_norm")), 6).as("csim"))
      .withColumn("r", row_number().over(w))
      .where(col("r") <= nProbe)
      .select(col("probe_id"), col("probe_vec"), col("probe_norm"), col("cent_id"))
    val cellIds = pAssign.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val idx = spark.table(table).where(col("cent_id").isin(cellIds: _*))
    val scored = idx.join(broadcast(pAssign), Seq("cent_id"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosineFromNorms(col("probe_vec"), col("vec"),
          col("probe_norm"), col("vec_norm")).as("sim"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(wr).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Inverted-LISTS layout of the IVF index — [[writeIvfIndex]]'s
    * delete-friendly sibling: one `cent_id=<cell>` PARTITION per coarse
    * cell (FAISS's inverted lists as directories) instead of hash
    * buckets. Same quantizer convention (`<table>_quantizer`, lowest-id
    * stand-in centroids, never re-derived), same ONE [[cellAssigned]]
    * projection, so lists and buckets can never assign by different
    * rules. The layout choice is what makes deletion maintainable:
    * a delete touches only the lists that hold deleted vectors, and
    * [[compactIvfLists]] rewrites exactly those partitions via dynamic
    * partition overwrite — hash buckets would force a whole-table
    * rewrite (every bucket file can hold a deleted row). Query-path
    * pruning becomes partition pruning (`cent_id IN (probed cells)`
    * lands in PartitionFilters; files-read receipt in SimilaritySpec).
    * An empty `<table>_tombstones` side table is created alongside —
    * the deletion-vector slot [[deleteFromIvfLists]] appends to.
    */
  def writeIvfLists(corpus: DataFrame, table: String, nCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    replaceTable(spark, table)
    replaceTable(spark, s"${table}_quantizer")
    replaceTable(spark, s"${table}_tombstones")
    val centroids = corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))
    centroids.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_quantizer")
    val cents = broadcast(centroids
      .select(col("cent_id"), col("cent_vec"), vecNorm(col("cent_vec")).as("cent_norm")))
    cellAssigned(corpus, cents, idCol, vecCol)
      // partition-aligned write: one file per inverted list instead of one
      // per (task, list) splinter (r18, guide §6; scale-adaptive — the
      // exchange width follows shuffle.partitions/AQE, not a constant.
      // A/B at sf0.1 showed the exchange inside same-session noise:
      // 3.97 s with vs 4.52 s without across adjacent runs)
      .repartition(col("cent_id"))
      .write.mode("overwrite").format("parquet").partitionBy("cent_id")
      .saveAsTable(table)
    spark.table(table).select(col("cent_id"), col("neighbor_id")).limit(0)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_tombstones")
  }

  /** FAISS `remove_ids` on a [[writeIvfLists]] artifact, as a TOMBSTONE
    * write — the deletion-vector recipe the lakehouse formats converged
    * on (Delta deletion vectors, Iceberg positional deletes): physically
    * rewriting an immutable columnar artifact per delete would touch
    * every file holding a deleted row, so the delete lands as
    * `(cent_id, neighbor_id)` rows in the control-sized
    * `<table>_tombstones` side table and the query path subtracts them
    * with one broadcast anti-join AFTER partition pruning. Capturing
    * `cent_id` at delete time is what lets [[compactIvfLists]] rewrite
    * only touched lists (at 100 TB an id→cell secondary index serves
    * this lookup; here it is one semi-joined scan of the lists table).
    * The quantizer is untouched — FAISS semantics: `remove_ids` never
    * retrains the coarse quantizer, cell boundaries hold even when a
    * centroid's SOURCE vector is deleted (SimilaritySpec pins both).
    */
  def deleteFromIvfLists(ids: DataFrame, table: String,
      idCol: String = "vec_id"): Unit = {
    val spark = ids.sparkSession
    spark.table(table)
      .join(broadcast(ids.select(col(idCol).as("neighbor_id")).distinct()),
        Seq("neighbor_id"), "left_semi")
      .select(col("cent_id"), col("neighbor_id"))
      .write.mode("append").format("parquet")
      .saveAsTable(s"${table}_tombstones")
  }

  /** Query half of [[writeIvfLists]] — [[ivfTopKFromIndex]]'s recipe
    * (probes assign against the persisted quantizer, probed cells
    * collected control-sized and pushed as `cent_id IN (...)`, which is
    * now PARTITION pruning) minus the live tombstones: one broadcast
    * anti-join on `neighbor_id` after the pruned scan. The tombstone
    * set is bounded by delete traffic between compactions, so at 100 TB
    * the subtraction stays a per-row hash probe against a broadcast —
    * never a shuffle of the lists.
    */
  def ivfListsTopK(probes: DataFrame, table: String, k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = probes.sparkSession
    val cents = broadcast(spark.table(s"${table}_quantizer")
      .select(col("cent_id"), col("cent_vec"), vecNorm(col("cent_vec")).as("cent_norm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("csim").desc_nulls_last, col("cent_id").asc)
    val pAssign = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
        vecNorm(col(vecCol)).as("probe_norm"))
      .join(cents)
      .select(col("probe_id"), col("probe_vec"), col("probe_norm"), col("cent_id"),
        round(cosineFromNorms(col("probe_vec"), col("cent_vec"),
          col("probe_norm"), col("cent_norm")), 6).as("csim"))
      .withColumn("r", row_number().over(w))
      .where(col("r") <= nProbe)
      .select(col("probe_id"), col("probe_vec"), col("probe_norm"), col("cent_id"))
    val cellIds = pAssign.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val tomb = spark.table(s"${table}_tombstones")
      .select(col("neighbor_id")).distinct()
    val idx = spark.table(table).where(col("cent_id").isin(cellIds: _*))
      .join(broadcast(tomb), Seq("neighbor_id"), "left_anti")
    val scored = idx.join(broadcast(pAssign), Seq("cent_id"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosineFromNorms(col("probe_vec"), col("vec"),
          col("probe_norm"), col("vec_norm")).as("sim"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(wr).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** One micro-batch of STREAMING index maintenance applied to a
    * [[writeIvfLists]] artifact with exactly-once observable state on
    * plain immutable files. Batch schema: `(op 'add'|'del', vec_id,
    * embedding)`. Adds are cell-assigned by the PERSISTED quantizer
    * (the s30 contract — the same [[cellAssigned]] projection the build
    * uses); deletes carry just their id. Everything lands as ONE
    * dynamic-partition-overwrite write into the batch_id-PARTITIONED ops
    * log `<table>_stream_ops`: a replayed batch — crash after the write,
    * before the checkpoint commit — overwrites ITS OWN partition with
    * the same rows, so at-least-once re-delivery collapses to
    * exactly-once state. The partition IS the transaction: the
    * (batchId, key) idempotent-sink discipline (Stream.KeyedUpsertStore)
    * expressed as a file layout, which is exactly how lakehouse streaming
    * sinks make object stores transactional. StreamingSpec crashes a
    * batch mid-apply and proves the restarted state equals a
    * never-crashed run's.
    */
  def applyIvfOpsBatch(batch: DataFrame, table: String, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    ensureStreamOps(spark, table)
    val cents = broadcast(spark.table(s"${table}_quantizer")
      .select(col("cent_id"), col("cent_vec"), vecNorm(col("cent_vec")).as("cent_norm")))
    val adds = cellAssigned(batch.where(col("op") === "add"), cents, idCol, vecCol)
      .select(lit("add").as("op"), col("neighbor_id"), col("vec"),
        col("vec_norm"), col("cent_id"))
    val dels = batch.where(col("op") === "del")
      .select(lit("del").as("op"), col(idCol).as("neighbor_id"),
        lit(null).cast(spark.table(table).schema("vec").dataType).as("vec"),
        lit(null).cast("double").as("vec_norm"),
        lit(-1L).as("cent_id"))
    val cols = spark.table(s"${table}_stream_ops").columns
    val rows = adds.unionByName(dels)
      .withColumn("batch_id", lit(batchId))
      .select(cols.map(col).toIndexedSeq: _*)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try rows.write.mode("overwrite").insertInto(s"${table}_stream_ops")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Create the batch_id-partitioned streaming ops log if absent, with
    * the lists table's own column types (one schema authority).
    */
  private def ensureStreamOps(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit =
    if (!spark.catalog.tableExists(s"${table}_stream_ops"))
      spark.table(table)
        .select(lit("add").as("op"), col("neighbor_id"), col("vec"),
          col("vec_norm"), col("cent_id"), lit(0L).as("batch_id"))
        .limit(0)
        .write.mode("overwrite").format("parquet").partitionBy("batch_id")
        .saveAsTable(s"${table}_stream_ops")

  /** Query half over lists + live streaming ops — the LSM read-side
    * merge: per id the op with the HIGHEST batch_id wins (an id deleted
    * in batch 3 after an add in batch 1 is gone; a re-add in batch 5
    * with a new vector supersedes both, and its REASSIGNED cell is the
    * one probed). Base lists rows whose id carries any op are
    * superseded; the winning adds join in with their own cell
    * assignments. The ops log between compactions is bounded by delete/
    * ingest traffic (the s31 tombstone argument), so both derived sets
    * ride broadcasts — the lists scan stays partition-pruned to the
    * probed cells and never re-shuffles.
    */
  def ivfListsTopKLive(probes: DataFrame, table: String, k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = probes.sparkSession
    ensureStreamOps(spark, table)
    val cents = broadcast(spark.table(s"${table}_quantizer")
      .select(col("cent_id"), col("cent_vec"), vecNorm(col("cent_vec")).as("cent_norm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("csim").desc_nulls_last, col("cent_id").asc)
    val pAssign = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
        vecNorm(col(vecCol)).as("probe_norm"))
      .join(cents)
      .select(col("probe_id"), col("probe_vec"), col("probe_norm"), col("cent_id"),
        round(cosineFromNorms(col("probe_vec"), col("cent_vec"),
          col("probe_norm"), col("cent_norm")), 6).as("csim"))
      .withColumn("r", row_number().over(w))
      .where(col("r") <= nProbe)
      .select(col("probe_id"), col("probe_vec"), col("probe_norm"), col("cent_id"))
    val cellIds = pAssign.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val latest = spark.table(s"${table}_stream_ops")
      .groupBy(col("neighbor_id"))
      .agg(max_by(struct(col("op"), col("vec"), col("vec_norm"),
        col("cent_id")), col("batch_id")).as("o"))
      .select(col("neighbor_id"), col("o.op").as("op"), col("o.vec").as("vec"),
        col("o.vec_norm").as("vec_norm"), col("o.cent_id").as("cent_id"))
    val tomb = spark.table(s"${table}_tombstones")
      .select(col("neighbor_id")).distinct()
    val base = spark.table(table).where(col("cent_id").isin(cellIds: _*))
      .join(broadcast(tomb), Seq("neighbor_id"), "left_anti")
      .join(broadcast(latest.select(col("neighbor_id"))),
        Seq("neighbor_id"), "left_anti")
      .select(col("cent_id"), col("neighbor_id"), col("vec"), col("vec_norm"))
    val liveAdds = latest.where(col("op") === "add" &&
        col("cent_id").isin(cellIds: _*))
      .select(col("cent_id"), col("neighbor_id"), col("vec"), col("vec_norm"))
    val idx = base.unionByName(liveAdds)
    val scored = idx.join(broadcast(pAssign), Seq("cent_id"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosineFromNorms(col("probe_vec"), col("vec"),
          col("probe_norm"), col("vec_norm")).as("sim"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(wr).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Fold the streaming ops log physically into the lists artifact: the
    * winning deletes become tombstones (then [[compactIvfLists]] folds
    * them, rewriting only touched lists), the winning adds land in their
    * assigned cells via the same dynamic-partition-overwrite recipe, and
    * the ops log is truncated. After this, the PLAIN [[ivfListsTopK]]
    * path answers exactly what [[ivfListsTopKLive]] answered before —
    * StreamingSpec asserts that equality, which is the whole contract:
    * streaming maintenance is a deferral of the s31 batch fold, never a
    * different index.
    */
  def compactIvfListsStream(table: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    ensureStreamOps(spark, table)
    val ops = spark.table(s"${table}_stream_ops")
    if (ops.isEmpty) return
    val latest = ops
      .groupBy(col("neighbor_id"))
      .agg(max_by(struct(col("op"), col("vec"), col("vec_norm"),
        col("cent_id")), col("batch_id")).as("o"))
      .select(col("neighbor_id"), col("o.op").as("op"), col("o.vec").as("vec"),
        col("o.vec_norm").as("vec_norm"), col("o.cent_id").as("cent_id"))
      .localCheckpoint(true)
    val opIds = broadcast(latest.select(col("neighbor_id")))
    // every base row superseded by ANY op becomes a tombstone (a winning
    // add REPLACES its base row — possibly in a different cell)
    spark.table(table)
      .join(opIds, Seq("neighbor_id"), "left_semi")
      .select(col("cent_id"), col("neighbor_id"))
      .write.mode("append").format("parquet")
      .saveAsTable(s"${table}_tombstones")
    compactIvfLists(table, spark)
    // winning adds land in their assigned cells; cells already compacted
    // above, so this touches only the added rows' partitions
    val adds = latest.where(col("op") === "add")
      .select(col("neighbor_id"), col("vec"), col("vec_norm"), col("cent_id"))
    if (!adds.isEmpty) {
      val cols = spark.table(table).columns
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try spark.table(table)
        .where(col("cent_id").isin(adds.select("cent_id").distinct()
          .collect().map(_.getLong(0)).toSeq: _*))
        .unionByName(adds)
        .select(cols.map(col).toIndexedSeq: _*)
        .localCheckpoint(true)
        .write.mode("overwrite").insertInto(table)
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    spark.sql(s"TRUNCATE TABLE ${table}_stream_ops")
  }

  /** Physical fold of the tombstones into a [[writeIvfLists]] artifact —
    * the compaction half of the deletion-vector contract. Touched cells
    * (the distinct `cent_id`s in the tombstone table — control-sized,
    * ≤ nCells) are rewritten via DYNAMIC partition overwrite: survivors
    * of exactly those lists are materialized (localCheckpoint breaks the
    * read-from-target lineage; production rewrites list files directly),
    * then `INSERT OVERWRITE` replaces only the partitions present in the
    * written data. Untouched lists keep their FILES byte-identical —
    * SimilaritySpec asserts the directory listing (names + sizes +
    * mtimes) of every untouched cell is unchanged through compaction.
    * A list whose every member was deleted produces NO survivor rows, so
    * dynamic overwrite would silently leave its stale files in place —
    * the classic dynamic-partition pitfall — hence emptied cells are
    * dropped explicitly (`ALTER TABLE .. DROP PARTITION`; spec pins the
    * case). Tombstones reset to empty afterwards: post-compaction
    * queries answer identically with a zero-row subtraction.
    */
  def compactIvfLists(table: String, spark: org.apache.spark.sql.SparkSession): Unit = {
    val tombCells = spark.table(s"${table}_tombstones")
      .select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    if (tombCells.nonEmpty) {
      val tombIds = broadcast(spark.table(s"${table}_tombstones")
        .select(col("neighbor_id")).distinct())
      val cols = spark.table(table).columns // partition col last in table order
      val survivors = spark.table(table)
        .where(col("cent_id").isin(tombCells: _*))
        .join(tombIds, Seq("neighbor_id"), "left_anti")
        .select(cols.map(col).toIndexedSeq: _*)
        .localCheckpoint(true)
      val keptCells = survivors.select(col("cent_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try survivors.write.mode("overwrite").insertInto(table)
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      tombCells.filterNot(keptCells).foreach { c =>
        spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (cent_id=$c)")
      }
    }
    spark.sql(s"TRUNCATE TABLE ${table}_tombstones")
  }

  /** Deterministic fixed-iteration spherical Lloyd's k-means — the real
    * IVF quantizer training s03's lowest-id stand-in documents as the
    * production path. Every source of nondeterminism in textbook k-means
    * is pinned so a SQL twin replays training exactly (the s05 oracle):
    *  - init is the `nCells` lowest-id corpus vectors (seeded and
    *    portable — iteration 0 IS s03's quantizer, so recall deltas are
    *    attributable to training alone);
    *  - assignment ranks centroids by `round(cosine, 6)` with cent_id
    *    tie-break (s03's recipe — near-equal similarities collapse into
    *    a deterministic id-ordered tie instead of a float-accumulation
    *    race);
    *  - the centroid mean is `avg` keyed by (cell, dim), rounded to 9 dp
    *    (the PRODUCTION default — a partial-aggregable HashAggregate with
    *    constant per-group state, the shape that survives million-member
    *    cells at 100 TB). `replayableMeans = true` swaps in the id-sorted
    *    fold (collect + array_sort + left fold, the t09 recipe) whose
    *    addition ORDER a SQL twin can replay bit-exactly — that buffer
    *    grows with cell population, so it exists only for the
    *    cross-engine oracle gate (s05), never the scale path;
    *  - empty cells keep their previous centroid.
    * Spherical variant: assignment by cosine, means left unnormalized —
    * cosine is scale-invariant in the centroid, so normalization would
    * only burn a pass.
    *
    * Scale shape: per iteration, assignment is one broadcast-NLJ pass
    * over the corpus (nCells dots per row) and the mean is ONE
    * aggregation keyed by (cell, dim) — the classic distributed k-means.
    * Lazy localCheckpoints per iteration (the CC discipline) keep lineage
    * flat; the returned centroids are materialized (training is
    * inherently iterative — the caller gets state, not lineage).
    */
  def kmeansCentroids(corpus: DataFrame, nCells: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      replayableMeans: Boolean = false): DataFrame = {
    val vecs = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        vecNorm(col(vecCol)).as("vn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents = corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cent_id"),
        transform(col(vecCol), x => x.cast(DoubleType)).as("cent_vec"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to iters) {
      val cw = broadcast(cents.select(col("cent_id"), col("cent_vec"),
        vecNorm(col("cent_vec")).as("cn")))
      // per-vector argmax as a partial+final max_by aggregate — the
      // former per-iteration window forced a shuffle+SORT of n×nCells
      // scored rows every Lloyd round (see assignOrd)
      val assigned = vecs.crossJoin(cw)
        .select(col("vec_id"), col("cent_id"),
          round(cosineFromNorms(col("v"), col("cent_vec"), col("vn"), col("cn")), 6).as("csim"))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cent_id"), assignOrd(col("csim"), col("cent_id"))).as("cent_id"))
      val members = assigned
        .join(vecs.select(col("vec_id"), col("v")), Seq("vec_id"))
        .select(col("cent_id"), col("vec_id"), posexplode(col("v")).as(Seq("d", "x")))
      val means =
        if (replayableMeans)
          members
            .groupBy(col("cent_id"), col("d"))
            .agg(collect_list(struct(col("vec_id"), col("x").cast(DoubleType).as("x"))).as("xs"))
            .select(col("cent_id"), col("d"),
              round(aggregate(transform(array_sort(col("xs")), s => s.getField("x")),
                lit(0.0), (a, b) => a + b) / size(col("xs")), 9).as("mv"))
        else
          members
            .groupBy(col("cent_id"), col("d"))
            .agg(round(avg(col("x").cast(DoubleType)), 9).as("mv"))
      val newC = means.groupBy(col("cent_id"))
        .agg(collect_list(struct(col("d"), col("mv"))).as("ds"))
        .select(col("cent_id"),
          transform(array_sort(col("ds")), s => s.getField("mv")).as("cent_vec"))
      cents = cents.select(col("cent_id"), col("cent_vec").as("prev_vec"))
        .join(newC, Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("cent_vec"), col("prev_vec")).as("cent_vec"))
        .localCheckpoint(eager = false)
    }
    cents.count() // materialize the checkpoint chain before releasing the cache
    vecs.unpersist(blocking = false)
    cents
  }

  /** Cluster-balanced (semantic-stratified) sampling — q36's
    * deterministic per-stratum quota with the stratum lifted from
    * metadata to EMBEDDING SPACE (the cluster-balance step of
    * SemDeDup-style curation: cap each semantic cluster's share of the
    * training mix instead of each language/source's). Every vector is
    * assigned to its cell by the s03 deterministic recipe — round-6
    * cosine against a caller-supplied quantizer, cent_id tie-break —
    * then at most `k` per cell survive, selected by the portable md5
    * permutation on the vector id ([[Sampling.deterministicStratified]]'s
    * reproducibility contract).
    *
    * Scale shape: assignment is one broadcast-NLJ corpus pass (quantizer
    * broadcast, corpus never shuffled); the quota is ONE shuffle on the
    * cell id + a per-cell window. Output: (idCol, cent_id, sample_rank),
    * quota-filtered.
    */
  def clusterBalancedSample(corpus: DataFrame, centroids: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = broadcast(centroids.select(col("cent_id"), col("cent_vec"),
      vecNorm(col("cent_vec")).as("cent_norm")))
    val assigned = Par.spreadForCpu(corpus)
      .select(col(idCol), col(vecCol).as("v"), vecNorm(col(vecCol)).as("vn"))
      .join(cents)
      .select(col(idCol), col("cent_id"),
        round(cosineFromNorms(col("v"), col("cent_vec"), col("vn"), col("cent_norm")), 6).as("csim"))
      // argmax via max_by: map-side partial aggregation, no window sort
      // of the n×nCells scored rows (see assignOrd)
      .groupBy(col(idCol))
      .agg(max_by(col("cent_id"), assignOrd(col("csim"), col("cent_id"))).as("cent_id"))
    Sampling.deterministicStratified(assigned, stratumCol = "cent_id",
      k = k, idCol = idCol)
  }

  /** Product-quantization ADC top-k — the memory-compression ANN scale
    * path next to LSH (s02) and IVF (s03), after Jégou et al. 2011
    * ("Product quantization for nearest neighbor search"): the vector
    * splits into `m` subspaces; each subspace gets a `ks`-codeword
    * codebook; a vector encodes as `m` small codes; a probe precomputes
    * its per-(subspace, codeword) squared-L2 table once and scores every
    * corpus vector by `m` TABLE LOOKUPS (asymmetric distance
    * computation) instead of a `dim`-wide float scan.
    *
    * Determinism (the cross-engine contract, every float pinned):
    *  - codebook = the `ks` lowest-id corpus vectors' subvectors (the
    *    s03 stand-in recipe — production trains per-subspace k-means via
    *    [[kmeansCentroids]] on sliced dims and keeps everything
    *    downstream identical);
    *  - sub-distances round to 6 dp; code assignment takes the first
    *    strict minimum (≡ order by (distance, code)) per subspace;
    *  - ADC = the m rounded table entries added in subspace order (left
    *    fold), ties in the final ranking broken by neighbor id.
    *
    * Scale shape: the codebook is a MODEL ARTIFACT — m·ks·(dim/m)
    * doubles, collected once driver-side (the s02 hyperplane-literal /
    * t12 weight-vector precedent) and embedded as a plan literal, so
    * BOTH encode and probe-table build are pure per-row projections: no
    * join, no shuffle anywhere in the index path. The scoring pass joins
    * corpus CODES (m ints/row — the 32× memory win over raw floats)
    * against broadcast probe tables; the only shuffle is the final
    * per-probe top-k window. At 100 TB the code table is the persisted
    * artifact and re-encoding never touches raw vectors again.
    */
  def pqTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      m: Int, ks: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqTopKWithCodebooks(corpus, probes, k,
      pqStandInCodebooks(corpus, m, ks, dim, idCol, vecCol),
      m, ks, dim, idCol, vecCol)

  private def pqDvec(c: Column): Column = transform(c, x => x.cast(DoubleType))

  /** Squared L2, rounded — zip then strict left fold, the pinned order. */
  private def pqD2(a: Column, b: Column): Column =
    round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (s, x) => s + x), 6)

  /** Nearest codeword for one ALREADY-SLICED subvector in subspace `j`
    * (0-based, as a Column): first strict minimum of the rounded squared
    * L2 ≡ order by (distance, code) — lowest code wins ties.
    */
  private def pqArgmin(sv: Column, j: Column, cbLit: Column, ks: Int): Column =
    aggregate(sequence(lit(0), lit(ks - 1)),
      struct(lit(Double.MaxValue).as("d"), lit(-1).as("c")),
      (acc, c) => {
        val dd = pqD2(sv, element_at(element_at(cbLit, j + 1), c + 1))
        when(dd < acc.getField("d"),
          struct(dd.as("d"), c.as("c"))).otherwise(acc)
      }).getField("c")

  /** The stand-in codebook: the `ks` lowest-id corpus vectors'
    * subvectors, collected driver-side (m·ks·(dim/m) doubles — a model
    * artifact, the s02 hyperplane precedent). Training iteration 0 IS
    * this codebook, so recall deltas attribute to training alone.
    */
  def pqStandInCodebooks(corpus: DataFrame, m: Int, ks: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    val sub = dim / m
    val cbRows = corpus.orderBy(col(idCol)).limit(ks)
      .select(pqDvec(col(vecCol)).as("v"))
      .collect().map(_.getSeq[Double](0).toIndexedSeq)
    // a short codebook would surface much later as an opaque driver
    // IndexOutOfBounds in training (absent codes) — fail at the source
    require(cbRows.length == ks,
      s"codebook needs $ks vectors, corpus has only ${cbRows.length}")
    require(cbRows.head.length == dim,
      s"codebook vectors must have dim $dim, got ${cbRows.head.length}")
    (0 until m).map(j => cbRows.map(r => r.slice(j * sub, (j + 1) * sub).toSeq).toSeq)
  }

  /** Deterministic per-subspace L2 Lloyd training for PQ codebooks — the
    * production quantizer [[pqTopK]]'s Scaladoc points at (and what the
    * s08 oracle replays). Same pinning discipline as [[kmeansCentroids]]:
    * lowest-id init (= the stand-in, so iteration 0 is s07's codebook),
    * round-6 assignment with first-strict-min code ties, means per
    * (subspace, code, dim) as plain partial `avg` rounded to 9 dp
    * (production default) or the vec-id-ordered fold (`replayableMeans`,
    * the cross-engine gate); empty codes keep their previous codeword.
    *
    * Scale shape: the corpus explodes ONCE to (id, subspace, subvector)
    * rows, persisted across iterations; each iteration is a pure
    * projection against the codebook LITERAL (no join — the codebook is
    * a model artifact) plus one (j, code, dim)-keyed aggregation whose
    * result — at most m·ks·(dim/m) rows — lands on the driver as the
    * next iteration's literal: the standard distributed-k-means control
    * loop, model-sized driver state only.
    */
  def pqTrainCodebooks(corpus: DataFrame, m: Int, ks: Int, iters: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      replayableMeans: Boolean = false): Seq[Seq[Seq[Double]]] = {
    val sub = dim / m
    var cb = pqStandInCodebooks(corpus, m, ks, dim, idCol, vecCol)
    if (iters == 0) return cb
    val sv = corpus.select(col(idCol).as("vec_id"),
        explode(transform(sequence(lit(0), lit(m - 1)), j =>
          struct(j.as("j"), slice(pqDvec(col(vecCol)), j * sub + 1, lit(sub)).as("sv"))))
          .as("e"))
      .select(col("vec_id"), col("e.j").as("j"), col("e.sv").as("sv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (_ <- 1 to iters) {
      val cbLit = typedlit(cb)
      val members = sv
        .select(col("vec_id"), col("j"),
          pqArgmin(col("sv"), col("j"), cbLit, ks).as("code"), col("sv"))
        .select(col("vec_id"), col("j"), col("code"),
          posexplode(col("sv")).as(Seq("d", "x")))
      val means =
        if (replayableMeans)
          members.groupBy(col("j"), col("code"), col("d"))
            .agg(collect_list(struct(col("vec_id"), col("x"))).as("xs"))
            .select(col("j"), col("code"), col("d"),
              round(aggregate(transform(array_sort(col("xs")), x => x.getField("x")),
                lit(0.0), (a, b) => a + b) / size(col("xs")), 9).as("mv"))
        else
          members.groupBy(col("j"), col("code"), col("d"))
            .agg(round(avg(col("x")), 9).as("mv"))
      val upd = means.collect()
        .groupBy(r => (r.getAs[Int]("j"), r.getAs[Int]("code")))
        .view.mapValues(rs =>
          rs.sortBy(_.getAs[Int]("d")).map(_.getAs[Double]("mv")).toSeq)
        .toMap
      cb = (0 until m).map(j => (0 until ks).map(c => upd.getOrElse((j, c), cb(j)(c))))
    }
    sv.unpersist(blocking = false)
    cb
  }

  /** [[pqTopK]] with caller-supplied codebooks — the entry point for
    * TRAINED codebooks ([[pqTrainCodebooks]]); the default path feeds it
    * the lowest-id stand-in.
    */
  def pqTopKWithCodebooks(corpus: DataFrame, probes: DataFrame, k: Int,
      cb: Seq[Seq[Seq[Double]]], m: Int, ks: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(cb.length == m && cb.forall(_.length == ks),
      s"codebook shape must be $m x $ks")
    val sub = dim / m
    val cbLit = typedlit(cb)
    def codesOf(v: Column): Column =
      transform(sequence(lit(0), lit(m - 1)),
        j => pqArgmin(slice(v, j * sub + 1, lit(sub)), j, cbLit, ks))
    def flatTableOf(v: Column): Column =
      flatten(transform(sequence(lit(0), lit(m - 1)), j => {
        val sv = slice(v, j * sub + 1, lit(sub))
        transform(sequence(lit(0), lit(ks - 1)),
          c => pqD2(sv, element_at(element_at(cbLit, j + 1), c + 1)))
      }))
    val enc = Par.spreadForCpu(corpus)
      .select(col(idCol).as("neighbor_id"), pqDvec(col(vecCol)).as("v"))
      .select(col("neighbor_id"), codesOf(col("v")).as("codes"))
    val pt = broadcast(probes
      .select(col(idCol).as("probe_id"), pqDvec(col(vecCol)).as("v"))
      .select(col("probe_id"), flatTableOf(col("v")).as("flat")))
    val scored = enc.join(pt, col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (s, j) =>
          s + element_at(col("flat"),
            j * ks + element_at(col("codes"), j + 1) + 1)).as("adc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        round(col("adc"), 6).as("adc_dist"))
  }

  /** PQ subspace-count operating curve (s27) — the quantization-budget
    * tuning artifact next to s25's nProbe curve and d36's band grid:
    * recall@k of ADC-ranked PQ against the exact baseline for a grid of
    * m (subspace counts) at fixed ks, i.e. the recall-per-code-byte
    * trade (a PQ code is m bytes at ks ≤ 256; the curve is what picks m
    * for a 100 TB index). The exact baseline is computed ONCE (shared,
    * round-6-before-order — the s25 convention); each m level is its
    * own encode+ADC pass by necessity (different slicing re-buckets
    * every subvector), which is exactly the real tuning cost a
    * deployment pays. Config legality (dim % m == 0) is [[pqTopK]]'s
    * require.
    */
  def pqMSweep(corpus: DataFrame, probes: DataFrame, k: Int,
      mGrid: Seq[Int], ks: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(mGrid.nonEmpty, "need at least one subspace count")
    require(mGrid.distinct.size == mGrid.size,
      s"duplicate subspace counts produce duplicate curve rows: $mGrid")
    val exact = bruteForceTopK(corpus, probes, k, idCol, vecCol, round6 = true)
      .select(col("probe_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    mGrid.sorted.map { m =>
      val approx = pqTopK(corpus, probes, k, m, ks, dim, idCol, vecCol)
        .select(col("probe_id"), col("neighbor_id"))
      exact.join(approx, Seq("probe_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_exact"))))
        .select(lit(m.toLong).as("m"), lit((dim / m).toLong).as("sub_dim"),
          lit(m.toLong).as("code_bytes"), col("n_exact"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** IVF-PQ with residual encoding (Jégou et al. 2011 §V — the index
    * FAISS calls IVFPQ, THE production composition for billion-vector
    * corpora): a coarse quantizer routes each vector to a cell; PQ
    * encodes the RESIDUAL vector − centroid (residuals concentrate near
    * 0, so the same codebook budget quantizes them far better than raw
    * vectors); a probe visits `nProbe` cells, and in each visited cell
    * builds its ADC table from the probe's residual AGAINST THAT CELL'S
    * centroid — a corpus code is only ever compared with a probe table
    * from its own cell's frame of reference.
    *
    * Composition of the house pieces, every float pinned: s03's coarse
    * assignment (round-6 cosine, cent-id tie-break), s07's stand-in
    * codebook recipe (the `ks` lowest-id corpus vectors' RESIDUAL
    * subvectors, collected driver-side — a model artifact), s07's
    * round-6 sub-distances, first-strict-min encoding, and the rounded
    * subspace-ordered ADC fold; final ranking (adc asc, id asc).
    *
    * Scale shape — why THIS is the 100 TB ANN default: the corpus
    * stores one cell id + m codes per vector (8 bytes of codes vs 256
    * bytes of floats at m=8/dim=64), the probe side broadcasts
    * nProbe·m·ks table entries, and candidate volume is
    * corpus·nProbe/nCells with the scan bucketed by cell (s03's
    * bucketBy artifact path applies unchanged). Raw vectors are touched
    * ONLY at index build.
    */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      nCells: Int, nProbe: Int, m: Int, ks: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    val sub = dim / m
    val cents = broadcast(corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cent_id"), pqDvec(col(vecCol)).as("cv"))
      .select(col("cent_id"), col("cv"), vecNorm(col("cv")).as("cent_norm")))
    // assignment carries the residual out: rv = v − cv of the chosen cell
    def assign(df: DataFrame, side: String, nNearest: Int): DataFrame = {
      val scored = df
        .select(col(idCol).as(s"${side}_id"), pqDvec(col(vecCol)).as("v"))
        .withColumn("vn", vecNorm(col("v")))
        .join(cents)
        .select(col(s"${side}_id"), col("cent_id"),
          zip_with(col("v"), col("cv"), (a, b) => a - b).as("rv"),
          round(cosineFromNorms(col("v"), col("cv"), col("vn"), col("cent_norm")), 6)
            .as("csim"))
      if (nNearest == 1)
        // corpus-sized side: the winning (cent_id, residual) rides one
        // max_by struct — partial+final aggregate, no window sort
        // (see assignOrd)
        scored.groupBy(col(s"${side}_id"))
          .agg(max_by(struct(col("cent_id"), col("rv")),
            assignOrd(col("csim"), col("cent_id"))).as("win"))
          .select(col(s"${side}_id"), col("win.cent_id").as("cent_id"),
            col("win.rv").as("rv"))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(s"${side}_id"))
          .orderBy(col("csim").desc_nulls_last, col("cent_id").asc)
        scored.withColumn("r", row_number().over(w))
          .where(col("r") <= nNearest)
          .select(col(s"${side}_id"), col("cent_id"), col("rv"))
      }
    }
    val cAssign = assign(Par.spreadForCpu(corpus), "neighbor", 1)
    // residual codebook: the ks lowest-id corpus residuals (model artifact)
    val cbRows = cAssign.orderBy(col("neighbor_id")).limit(ks)
      .select(col("rv")).collect().map(_.getSeq[Double](0).toIndexedSeq)
    require(cbRows.length == ks,
      s"corpus has only ${cbRows.length} rows for a $ks-codeword codebook")
    val cb: Seq[Seq[Seq[Double]]] =
      (0 until m).map(j => cbRows.toSeq.map(r => r.slice(j * sub, (j + 1) * sub): Seq[Double]))
    val cbLit = typedlit(cb)
    def codesOf(v: Column): Column =
      transform(sequence(lit(0), lit(m - 1)),
        j => pqArgmin(slice(v, j * sub + 1, lit(sub)), j, cbLit, ks))
    def flatTableOf(v: Column): Column =
      flatten(transform(sequence(lit(0), lit(m - 1)), j => {
        val sv = slice(v, j * sub + 1, lit(sub))
        transform(sequence(lit(0), lit(ks - 1)),
          c => pqD2(sv, element_at(element_at(cbLit, j + 1), c + 1)))
      }))
    val enc = cAssign.select(col("neighbor_id"), col("cent_id"),
      codesOf(col("rv")).as("codes"))
    val pt = broadcast(assign(probes, "probe", nProbe)
      .select(col("probe_id"), col("cent_id"), flatTableOf(col("rv")).as("flat")))
    val scored = enc.join(pt, Seq("cent_id"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (s2, j) =>
          s2 + element_at(col("flat"),
            j * ks + element_at(col("codes"), j + 1) + 1)).as("adc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        round(col("adc"), 6).as("adc_dist"))
  }

  /** Exact squared-L2 top-k by brute force — the reference ranking for
    * the PQ family ([[pqTopK]] approximates L2; [[bruteForceTopK]] is
    * the cosine family's). Distances round to 6 dp before ranking, ties
    * to the lowest neighbor id — the standard pinning.
    */
  def bruteForceL2TopK(corpus: DataFrame, probes: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val p = broadcast(probes.select(col(idCol).as("probe_id"),
      pqDvec(col(vecCol)).as("pv")))
    val scored = Par.spreadForCpu(corpus)
      .select(col(idCol).as("neighbor_id"), pqDvec(col(vecCol)).as("cv"))
      .join(p, col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        pqD2(col("pv"), col("cv")).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("d2").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("d2"))
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, probe set vs
    * corpus (broadcast probe side — the exact-verification step after any
    * candidate generation). The similarity is rounded to `roundDp` decimals
    * BEFORE thresholding (and returned rounded), so the boundary decision is
    * identical across engines — filtering the unrounded value while an
    * oracle compares the rounded one is a data-dependent flake for true sims
    * in [threshold − 5e-(roundDp+1), threshold).
    */
  def cosineNearDupPairs(corpus: DataFrame, probes: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding", roundDp: Int = 6): DataFrame = {
    val p = broadcast(probes.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"),
      vecNorm(col(vecCol)).as("a_norm")))
    val c = Par.spreadForCpu(corpus)
      .select(col(idCol).as("b_id"), col(vecCol).as("b_vec"),
        vecNorm(col(vecCol)).as("b_norm"))
    c.join(p, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosineFromNorms(col("a_vec"), col("b_vec"),
          col("a_norm"), col("b_norm")), roundDp).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Diversified top-k retrieval by Maximal Marginal Relevance (Carbonell
    * & Goldstein 1998): greedily select `kSelect` of the `kCand` nearest
    * candidates, each round maximizing `λ·rel − (1−λ)·max_sim_to_selected`
    * — the retrieval-side answer to embedding near-dup (d06/d14 drop
    * duplicates from the CORPUS; MMR keeps them out of a RESULT SET —
    * diverse few-shot example selection, dedup'd RAG contexts).
    *
    * Determinism: relevance and candidate-candidate similarities are
    * round-6 cosines; each round's score is the identical
    * `rel·λ − pen·(1−λ)` float chain rounded to SEVEN dp, argmax ties
    * break on neighbor id; the penalty is a MAX over rounded sims
    * (order-free). The oracle unrolls every greedy round.
    *
    * Why 7 dp and not the house 6: with 1-decimal λ and 6-decimal
    * rel/pen, the exact score has EXACTLY 7 decimals — so its 7th digit
    * sits ON the 6-dp half boundary whenever it is 5, and there Spark
    * (rounds the shortest decimal repr, BigDecimal.valueOf) and DuckDB
    * (rounds the exact binary value) systematically disagree. At 7 dp
    * the exact decimal is recovered on both engines (float error ~1e-16
    * ≪ 0.5e-7) and no tie-break is ever exercised — measured: sf0.01
    * probe 1's top score 0.2600395 flipped 0.26004 vs 0.260039 at 6 dp.
    *
    * Scale shape: one broadcast-probe corpus scan builds the candidate
    * pool (s01's shape); everything after — the candidate-pair sims and
    * the greedy rounds — runs on probes×kCand rows, index-sized, never
    * corpus-sized. kSelect is a fixed small constant, so the sequential
    * rounds are bounded; per-round state is the (probe, selected) frame.
    */
  def mmrTopK(corpus: DataFrame, probes: DataFrame, kCand: Int, kSelect: Int,
      lambda: Double, idCol: String = "vec_id", vecCol: String = "embedding",
      checkpoint: Boolean = true): DataFrame = {
    require(kSelect >= 1 && kCand >= kSelect, s"need 1 <= kSelect <= kCand")
    // `checkpoint = false` is for plan audits only: lazy localCheckpoint
    // replaces the logical plan with a LogicalRDD, so the full join tree
    // is invisible to explain; semantics are identical either way
    def cp(df: DataFrame): DataFrame =
      if (checkpoint) df.localCheckpoint(eager = false) else df
    val cand = cp(bruteForceTopK(corpus, probes, kCand, idCol, vecCol)
      .select(col("probe_id"), col("neighbor_id"), round(col("sim"), 6).as("rel")))
    val vecs = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
    val cv = cand.join(vecs, Seq("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), col("vec"),
        vecNorm(col("vec")).as("nrm"))
    val cc = cv.select(col("probe_id"), col("neighbor_id").as("a_id"),
        col("vec").as("a_vec"), col("nrm").as("a_norm"))
      .join(cv.select(col("probe_id"), col("neighbor_id").as("b_id"),
        col("vec").as("b_vec"), col("nrm").as("b_norm")), Seq("probe_id"))
      .where(col("a_id") =!= col("b_id"))
      .select(col("probe_id"), col("a_id"), col("b_id"),
        round(cosineFromNorms(col("a_vec"), col("b_vec"),
          col("a_norm"), col("b_norm")), 6).as("cc"))
    val ccCp = cp(cc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("mmr_score").desc, col("neighbor_id").asc)
    def score(rel: Column, pen: Column): Column =
      round(rel * lit(lambda) - pen * lit(1.0 - lambda), 7)
    var selected: DataFrame = null
    for (r <- 1 to kSelect) {
      val pick =
        if (r == 1)
          cand.withColumn("mmr_score", score(col("rel"), lit(0.0)))
        else {
          val pens = ccCp
            .join(selected.select(col("probe_id"), col("neighbor_id").as("b_id")),
              Seq("probe_id", "b_id"))
            .groupBy(col("probe_id"), col("a_id")).agg(max(col("cc")).as("pen"))
            .withColumnRenamed("a_id", "neighbor_id")
          cand
            .join(selected.select(col("probe_id"), col("neighbor_id")),
              Seq("probe_id", "neighbor_id"), "left_anti")
            .join(pens, Seq("probe_id", "neighbor_id"), "left")
            .withColumn("mmr_score", score(col("rel"), coalesce(col("pen"), lit(0.0))))
        }
      val sel = pick.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("probe_id"), lit(r.toLong).as("mmr_rank"),
          col("neighbor_id"), col("rel"), col("mmr_score"))
      selected = cp(if (r == 1) sel else selected.unionByName(sel))
    }
    selected
  }

  /** Per-dimension (lo, width) bounds of the corpus — the int8 scalar-
    * quantization "codebook" (a dim-sized model artifact; min/max are
    * order-free exact folds, so no pinning discipline is needed).
    */
  def sqMinMax(corpus: DataFrame, dim: Int,
      vecCol: String = "embedding"): Seq[(Double, Double)] = {
    val mm = corpus
      .select(posexplode(transform(col(vecCol), x => x.cast(DoubleType))))
      .toDF("j", "x")
      .groupBy(col("j")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .orderBy(col("j"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    require(mm.length == dim, s"corpus vectors must have dim $dim, got ${mm.length}")
    mm.map { case (lo, hi) => (lo, hi - lo) }
  }

  /** Scalar-quantization (int8) ADC top-k — the simplest production
    * quantizer next to PQ (s07/s08): each dimension maps to a 0..255
    * code against per-dimension corpus bounds (4× memory vs float32,
    * 8× vs double — the stored artifact at scale is the code array),
    * scoring dequantizes at the bin CENTER (`lo + (q+0.5)·w/256`) and
    * folds squared L2 in j order (round 6, the s07 discipline). Encode
    * is a pure per-row projection against the bounds LITERAL — no join,
    * no shuffle in the index path; scoring is the s01 broadcast-NLJ
    * shape (probes broadcast, corpus never shuffled); only the final
    * per-probe top-k window shuffles.
    *
    * Determinism: bounds are exact min/max; the encode floor sits on
    * identical IEEE ops both engines (`least(floor((x−lo)/w·256), 255)`,
    * exact-hi capped); constant dimensions (w = 0) encode to 0 and
    * dequantize to lo exactly.
    */
  def sqTopK(corpus: DataFrame, probes: DataFrame, k: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val mm = sqMinMax(corpus, dim, vecCol)
    val loLit = array(mm.map(t => lit(t._1)): _*)
    val wLit = array(mm.map(t => lit(t._2)): _*)
    def enc(v: Column): Column = transform(v, (x, i) => {
      val lo = element_at(loLit, i + 1)
      val w = element_at(wLit, i + 1)
      when(w === 0.0, lit(0L))
        .otherwise(least(floor((x.cast(DoubleType) - lo) / w * 256), lit(255.0))
          .cast("long"))
    })
    def deq(c: Column): Column = transform(c, (q, i) => {
      val lo = element_at(loLit, i + 1)
      val w = element_at(wLit, i + 1)
      lo + (q.cast(DoubleType) + lit(0.5)) * w / 256.0
    })
    val codes = Par.spreadForCpu(corpus)
      .select(col(idCol).as("neighbor_id"), enc(col(vecCol)).as("cq"))
    val p = broadcast(probes.select(col(idCol).as("probe_id"),
      transform(col(vecCol), x => x.cast(DoubleType)).as("pev")))
    val scored = codes.join(p, col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(aggregate(
          zip_with(col("pev"), deq(col("cq")), (a, b) => (a - b) * (a - b)),
          lit(0.0), (s, x) => s + x), 6).as("adc_d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("adc_d2").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("adc_d2"))
  }

  /** Random-projection (Johnson–Lindenstrauss) ANN top-k: project every
    * vector once onto `rDim` seeded Gaussian directions (the SAME
    * generator as [[hyperplanes]] — one "table" of `rDim` planes), pick
    * each probe's `nCand` nearest by PROJECTED cosine, then re-rank the
    * candidates by exact full-dimension cosine. The dimensionality-
    * reduction ANN family next to the hashing one (s02 keeps only the
    * projections' SIGNS as bucket bits; this keeps their real values, so
    * ranking survives where sign buckets lose resolution near plane
    * boundaries). JL: pairwise angles are preserved within ~1/√rDim, so
    * the true top-k is inside a modest projected-top-`nCand` with high
    * probability — recall floor-asserted in SimilaritySpec.
    *
    * Candidate ranking is on round(projected cosine, 6) with neighbor-id
    * tie-break — the s03 determinism convention, so the DuckDB twin
    * reproduces candidate selection exactly (planes cross as literal
    * doubles via lshPlanesValues).
    *
    * Scale shape: projection is one linear per-row pass (rDim·dim mults)
    * — at 100 TB the projected corpus (rDim doubles vs dim floats, 4×
    * smaller at 16/64) is a written-once columnar artifact; per probe the
    * candidate scan does rDim-wide arithmetic instead of dim-wide, and
    * the exact re-rank touches only nCand full vectors. The probe side
    * broadcasts; the corpus never shuffles.
    */
  def rpTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      rDim: Int, nCand: Int, dim: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nCand >= k, s"need nCand >= k, got nCand=$nCand k=$k")
    val planes = hyperplanes(rDim, dim, seed)
    def proj(vec: Column): Column = array(planes.map(p =>
      aggregate(zip_with(vec, typedLit(p.toSeq), (x, w) => x.cast(DoubleType) * w),
        lit(0.0), (acc, v) => acc + v)): _*)
    def projNorm(pv: Column): Column =
      sqrt(aggregate(transform(pv, x => x * x), lit(0.0), (acc, v) => acc + v))
    val c = Par.spreadForCpu(corpus)
      .select(col(idCol).as("neighbor_id"), proj(col(vecCol)).as("cp"))
      .withColumn("cn", projNorm(col("cp")))
    val p = broadcast(probes
      .select(col(idCol).as("probe_id"), proj(col(vecCol)).as("pp"))
      .withColumn("pn", projNorm(col("pp"))))
    val psim = c.join(p, col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(when(col("pn") > 0 && col("cn") > 0,
          aggregate(zip_with(col("pp"), col("cp"), (a, b) => a * b),
            lit(0.0), (acc, v) => acc + v) / (col("pn") * col("cn"))), 6).as("ps"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("ps").desc_nulls_last, col("neighbor_id").asc)
    val cand = psim.withColumn("cr", row_number().over(wc))
      .where(col("cr") <= nCand)
      .select(col("probe_id"), col("neighbor_id"))
    val scored = cand
      .join(broadcast(probes.select(col(idCol).as("probe_id"),
        col(vecCol).as("probe_vec"), vecNorm(col(vecCol)).as("probe_norm"))), Seq("probe_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"),
        vecNorm(col(vecCol)).as("vec_norm")), Seq("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosineFromNorms(col("probe_vec"), col("vec"), col("probe_norm"), col("vec_norm")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Hard-negative mining for contrastive training: for each probe, the
    * `k` corpus vectors MOST similar to it among those with a DIFFERENT
    * label — the near-miss examples a retrieval/embedding model learns
    * the most from (in-batch random negatives are mostly too easy; the
    * highest-similarity wrong-label neighbors are the informative ones).
    * Exact brute force over the label complement, (sim desc, id) ranked —
    * [[bruteForceTopK]]'s contract with the label-inequality predicate
    * pushed into the scoring join, so a probe's own class never enters
    * its candidate set (POST-filtering a label-blind top-k under-returns
    * exactly like s12's predicate case).
    *
    * Scale shape: per-label complement search at 100 TB runs against a
    * label-bucketed ANN index (the s12 pattern — probe every partition
    * EXCEPT the probe's own), or this exact pass over a per-batch
    * candidate pool; the probe side broadcasts, the corpus scans once.
    * Output: (probe_id, rank, neighbor_id, neg_label, sim).
    */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val p = broadcast(probes.select(col(idCol).as("probe_id"),
      col(labelCol).as("probe_label"), col(vecCol).as("probe_vec"),
      vecNorm(col(vecCol)).as("probe_norm")))
    val c = Par.spreadForCpu(corpus)
      .select(col(idCol).as("neighbor_id"), col(labelCol).as("neg_label"),
        col(vecCol).as("vec"), vecNorm(col(vecCol)).as("vec_norm"))
    val scored = c.join(p, col("probe_label") =!= col("neg_label"))
      .select(col("probe_id"), col("neighbor_id"), col("neg_label"),
        cosineFromNorms(col("probe_vec"), col("vec"),
          col("probe_norm"), col("vec_norm")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        col("neg_label"), col("sim"))
  }

  /** Matryoshka-truncation recall eval (Kusupati et al. 2022,
    * "Matryoshka representation learning"): for each prefix dimension
    * in `dims`, run the EXACT top-k search on prefix-truncated vectors
    * and report how much of the full-dimension top-k it recovers —
    * recall@k = |trunc-top-k ∩ full-top-k| / (|probes|·k). This is the
    * measurement that decides whether the 100 TB scale path (store/scan
    * a short prefix, re-rank survivors at full width — 8× less IO at
    * 64→8) is affordable for a given embedding: MRL-trained embeddings
    * hold recall at small prefixes, generic ones decay, and this op is
    * how you find out which you have.
    *
    * Determinism: each per-dim search is [[bruteForceTopK]]'s exact
    * contract ((sim desc, id asc) ranking); hit counting is integer;
    * the single division is the only float output (round 6).
    * Scale shape: one corpus scan per dim with a pinned broadcast probe
    * side — linear, no pair term; at production scale the truncated
    * pass reads an `dims.max`-wide prefix column, not the full vector.
    */
  def matryoshkaRecall(corpus: DataFrame, probes: DataFrame, k: Int,
      dims: Seq[Int],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty, "need at least one truncation dim")
    val full = bruteForceTopK(corpus, probes, k)
      .select(col("probe_id"), col("neighbor_id"), lit(1L).as("infull"))
    val perDim = dims.map { d =>
      val tc = corpus.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val tp = probes.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      bruteForceTopK(tc, tp, k)
        .select(lit(d).as("dim"), col("probe_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    perDim
      .join(broadcast(full), Seq("probe_id", "neighbor_id"), "left")
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_slots"),
        sum(coalesce(col("infull"), lit(0L))).as("n_hits"))
      .select(col("dim"), col("n_slots"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_slots"), 6).as("recall"))
  }

  /** Binary sign-embedding ANN (Charikar 2002 SimHash similarity
    * estimation applied as a COMPRESSED SCORER, not a bucketer): every
    * vector compresses to the 63 sign bits of seeded hyperplane
    * projections packed in one BIGINT (63, not 64 — the top bit stays
    * clear so the packed value never goes negative and the SQL twin's
    * `1 << pl` sum can't overflow a signed 64-bit lane); candidates are
    * each probe's `nCand` nearest by HAMMING distance (one xor +
    * popcount per pair — pure integer, no float discipline needed
    * anywhere in the candidate stage); exact cosine re-ranks the
    * survivors. Charikar: P(bit differs) = θ/π, so Hamming/63 is an
    * unbiased angle estimate with σ ≈ π/(2√63).
    *
    * The third compression point on the family's memory axis: 256-byte
    * floats (s01) → 64-byte int8 (s10) → 8-byte codes (s19/s07) →
    * 8-BYTE SIGN MASK here, with the cheapest possible scorer (xor +
    * popcount — SIMD-friendly, no table lookups). Scale: the sign mask
    * is a written-once artifact; probes broadcast; the corpus scan is
    * one long-integer op per pair; ties break (hd asc, id asc) —
    * integer-exact, so candidate selection is trivially cross-engine.
    */
  def binaryTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      nCand: Int, dim: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nCand >= k, s"need nCand >= k, got nCand=$nCand k=$k")
    val planes = hyperplanes(63, dim, seed)
    val c = Par.spreadForCpu(corpus)
      .select(col(idCol).as("neighbor_id"),
        signBits(col(vecCol), planes).as("cb"))
    val p = broadcast(probes
      .select(col(idCol).as("probe_id"), signBits(col(vecCol), planes).as("pb")))
    val ham = c.join(p, col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        bit_count(col("cb").bitwiseXOR(col("pb"))).as("hd"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("hd").asc, col("neighbor_id").asc)
    val cand = ham.withColumn("cr", row_number().over(wc))
      .where(col("cr") <= nCand)
      .select(col("probe_id"), col("neighbor_id"))
    val scored = cand
      .join(broadcast(probes.select(col(idCol).as("probe_id"),
        col(vecCol).as("probe_vec"), vecNorm(col(vecCol)).as("probe_norm"))),
        Seq("probe_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"),
        vecNorm(col(vecCol)).as("vec_norm")), Seq("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosineFromNorms(col("probe_vec"), col("vec"), col("probe_norm"), col("vec_norm"))
          .as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Shared 1-NN cell assignment for the embedding-curation operators
    * (s16/s17): each corpus vector to its single nearest centroid by
    * round-6 cosine with cent-id tie-break — s03's deterministic
    * assignment contract. Keeps the vector and its norm on the row so
    * downstream within-cell scoring needs no second corpus join.
    */
  private def assignCells(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val cents = broadcast(centroids.select(col("cent_id"), col("cent_vec"),
      vecNorm(col("cent_vec")).as("cent_norm")))
    Par.spreadForCpu(corpus)
      .select(col(idCol), col(vecCol).as("v"), vecNorm(col(vecCol)).as("vn"))
      .join(cents)
      .select(col(idCol), col("v"), col("vn"), col("cent_id"),
        round(cosineFromNorms(col("v"), col("cent_vec"), col("vn"), col("cent_norm")), 6)
          .as("csim"))
      // winning (cell, csim) and the row's own (v, vn) — constant within
      // the group — ride ONE max_by struct: partial+final aggregate, no
      // window sort of n×nCells scored rows (see assignOrd)
      .groupBy(col(idCol))
      .agg(max_by(struct(col("v"), col("vn"), col("cent_id"), col("csim")),
        assignOrd(col("csim"), col("cent_id"))).as("win"))
      .select(col(idCol), col("win.v").as("v"), col("win.vn").as("vn"),
        col("win.cent_id").as("cent_id"), col("win.csim").as("csim"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-duplicate
    * removal that only ever compares vectors INSIDE the same k-means
    * cell. Assignment is s03's deterministic 1-NN quantizer; within a
    * cell, a vector is DROPPED when some cell-mate with round-6 cosine
    * ≥ `tau` precedes it in keep-priority order (centroid-cosine ASC,
    * id ASC — the paper keeps the member LEAST similar to the centroid,
    * preserving the hard/diverse example of each duplicate ball). The
    * existence test is one-shot against all priority-earlier cell-mates
    * (the paper's one-pass semantics; in a mutual-duplicate clique
    * exactly the priority-minimum survives — no iteration, no
    * connected-components state).
    *
    * Scale shape — THE reason this operator exists at 100 TB: the pair
    * term is Σ|cell|², not n². With balanced cells that is n²/nCells;
    * nCells grows with the corpus (the paper runs 50k cells), holding
    * per-cell work constant. The quadratic lives inside one
    * cent_id-keyed shuffle partition — no all-pairs exchange exists in
    * the plan; centroids broadcast. Output: every corpus row with its
    * cell, centroid cosine, and the `kept` verdict (the keep-list is
    * `where(kept)` — emitting the verdict keeps the operator auditable).
    */
  def semDeDup(corpus: DataFrame, centroids: DataFrame, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val asgn = assignCells(corpus, centroids, idCol, vecCol)
    val a = asgn.select(col("cent_id"), col(idCol).as("x_id"),
      col("v").as("xv"), col("vn").as("xn"), col("csim").as("xc"))
    val b = asgn.select(col("cent_id"), col(idCol).as("y_id"),
      col("v").as("yv"), col("vn").as("yn"), col("csim").as("yc"))
    val dropped = a.join(b, Seq("cent_id"))
      .where(col("yc") < col("xc") ||
        (col("yc") === col("xc") && col("y_id") < col("x_id")))
      .where(round(cosineFromNorms(col("xv"), col("yv"), col("xn"), col("yn")), 6) >= tau)
      .select(col("x_id")).distinct()
    asgn.join(dropped, col(idCol) === col("x_id"), "left")
      .select(col(idCol), col("cent_id"), col("csim"),
        col("x_id").isNull.as("kept"))
  }

  /** Prototype-based pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws: beating power law scaling via data pruning"): rank
    * every vector by how PROTOTYPICAL it is of its own cluster (cosine
    * to its 1-NN centroid) and keep only each cell's hardest
    * `keepNum/keepDenom` fraction — easy, redundant examples near the
    * centroid go first, which the paper shows beats random pruning when
    * data is abundant. Per-cell ordering is (centroid-cosine ASC, id
    * ASC) = hardest first; the keep gate is the exact integer test
    * rank·keepDenom ≤ n_cell·keepNum (t29's discipline — no float
    * quantile edge). Per-cell (not global) ranking is the point: a
    * global threshold would empty the tight clusters and keep every
    * outlier cell whole.
    *
    * Scale shape: one broadcast-assignment pass + ONE shuffle on
    * cent_id with a per-cell window — no pair term at all, linear in
    * the corpus. Output: every row with cell, centroid cosine, cell
    * size, hardness rank, and the `kept` verdict.
    */
  def prototypePrune(corpus: DataFrame, centroids: DataFrame,
      keepNum: Int, keepDenom: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(keepNum >= 0 && keepDenom > 0, "keep fraction must be valid")
    val asgn = assignCells(corpus, centroids, idCol, vecCol)
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cent_id"))
      .orderBy(col("csim").asc_nulls_last, col(idCol).asc)
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cent_id"))
    asgn.withColumn("cell_rank", row_number().over(wc).cast("bigint"))
      .withColumn("cell_n", count(lit(1)).over(wn))
      .select(col(idCol), col("cent_id"), col("csim"),
        col("cell_n"), col("cell_rank"),
        (col("cell_rank") * keepDenom <= col("cell_n") * keepNum).as("kept"))
  }

  /** Late-interaction (ColBERT-style MaxSim) retrieval: a document is a
    * BAG of token embeddings — here `tokensPerDoc` consecutive corpus
    * rows form one document (doc = vec_id div tokensPerDoc, the `div`
    * keeping the id exact at any magnitude where a double quotient would
    * drift past 2⁵³) — and
    * score(q, d) = Σ_{t ∈ q} max_{u ∈ d} cosine(t, u):
    * each query token votes for its best-matching document token
    * (Khattab & Zaharia, SIGIR 2020), which preserves term-level
    * matching that a single pooled vector averages away.
    *
    * Spark shape: the probe documents' token set is BOUNDED
    * (|probeDocs| × tokensPerDoc rows), so it broadcasts and the corpus
    * token table streams ONCE — no corpus-sized shuffle or broadcast
    * anywhere (the m07 lesson applied at design time). The per-
    * (query-token, doc) max is a partial+final HashAggregate whose
    * map-side combine collapses each scan partition to one row per
    * (qtok, doc) before the exchange — token rows of one document are
    * adjacent in vec_id order, so the combine is near-total and the
    * exchange carries O(|Q_tokens| × nDocs) rows, never the token-pair
    * fan-out. Determinism: the per-pair cosine is rounded to 6 BEFORE
    * the max and the final Σ folds as an exact DECIMAL(18,6), so the
    * score is addition-order-free — bit-identical across engines and
    * partitionings.
    *
    * The final per-probe top-k is a rank window whose partitions are
    * nDocs rows each — the [[bruteForceTopK]] trade, documented there
    * too: exact top-k over an unbounded candidate set needs the
    * per-probe sort, and the candidate-BOUNDING path at scale is the
    * ANN family (s02–s21) feeding a bounded candidate set into this
    * same scoring, not a bigger window.
    */
  def maxSimTopK(corpus: DataFrame, probeDocs: Seq[Long], k: Int,
      tokensPerDoc: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(tokensPerDoc > 0 && k > 0, "tokensPerDoc and k must be positive")
    val toks = Par.spreadForCpu(corpus).select(
      expr(s"cast($idCol as bigint) div $tokensPerDoc").as("doc"),
      col(vecCol).as("vec"), vecNorm(col(vecCol)).as("nrm"),
      col(idCol).cast("long").as("tok"))
    val q = broadcast(toks
      .where(col("doc").isin(probeDocs: _*))
      .select(col("doc").as("probe_doc"), col("tok").as("qtok"),
        col("vec").as("qvec"), col("nrm").as("qnrm")))
    val mx = toks.join(q, col("probe_doc") =!= col("doc"))
      .groupBy(col("probe_doc"), col("qtok"), col("doc"))
      .agg(max(round(cosineFromNorms(col("qvec"), col("vec"),
        col("qnrm"), col("nrm")), 6)).as("m"))
    val sc = mx.groupBy(col("probe_doc"), col("doc"))
      .agg(sum(col("m").cast("decimal(18,6)")).cast("double").as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_doc"))
      .orderBy(col("score").desc, col("doc").asc)
    sc.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("probe_doc"), col("rank"),
        col("doc").as("neighbor_doc"), col("score"))
  }

  /** IVF recall OPERATING CURVE (s25): recall@k of [[ivfTopK]]'s stand-in
    * quantizer at every probe count in `probeCounts`, computed from ONE
    * shared pass — the assignment, candidate generation, and exact
    * scoring run once with each candidate tagged by its probe-side cell
    * RANK, and nProbe=p's result is simply the rank-≤p slice re-ranked.
    * The curve is THE artifact an ANN deployment picks its nProbe from
    * (recall vs candidate volume); probing ALL cells degenerates to
    * exact brute force (recall 1.0 — the s04 invariant, asserted in
    * SimilaritySpec at probeCounts.max = nCells).
    *
    * Scale shape: identical to [[ivfTopK]] at nProbe = max(probeCounts) —
    * one corpus assignment (partial+final max_by), candidates bucketed by
    * cell — plus per-level windows over the SHARED persisted scored-
    * candidate table (probe-partitioned, bounded by candidate volume).
    * The two operator-internal persists (scored candidates, exact top-k)
    * follow the d03 cache convention (session-owned; Bench clearCache).
    */
  def ivfRecallSweep(corpus: DataFrame, probes: DataFrame, k: Int,
      nCells: Int, probeCounts: Seq[Int],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(probeCounts.nonEmpty, "need at least one probe count")
    require(probeCounts.distinct.size == probeCounts.size,
      s"duplicate probe counts produce duplicate curve rows: $probeCounts")
    val maxProbe = probeCounts.max
    val cents = broadcast(corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))
      .select(col("cent_id"), col("cent_vec"), vecNorm(col("cent_vec")).as("cent_norm")))
    val cAssign = Par.spreadForCpu(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("v"), vecNorm(col(vecCol)).as("vn"))
      .join(cents)
      .select(col("neighbor_id"), col("cent_id"),
        round(cosineFromNorms(col("v"), col("cent_vec"), col("vn"), col("cent_norm")), 6).as("csim"))
      .groupBy(col("neighbor_id"))
      .agg(max_by(col("cent_id"), assignOrd(col("csim"), col("cent_id"))).as("cent_id"))
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("csim").desc_nulls_last, col("cent_id").asc)
    val pAssign = broadcast(probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("v"), vecNorm(col(vecCol)).as("vn"))
      .join(cents)
      .select(col("probe_id"), col("cent_id"),
        round(cosineFromNorms(col("v"), col("cent_vec"), col("vn"), col("cent_norm")), 6).as("csim"))
      .withColumn("cell_rank", row_number().over(wCell).cast("long"))
      .where(col("cell_rank") <= maxProbe)
      .select(col("probe_id"), col("cent_id"), col("cell_rank")))
    val scored = cAssign.join(pAssign, Seq("cent_id"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .join(broadcast(probes.select(col(idCol).as("probe_id"),
        col(vecCol).as("probe_vec"), vecNorm(col(vecCol)).as("probe_norm"))), Seq("probe_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("nvec"), vecNorm(col(vecCol)).as("nnorm")), Seq("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), col("cell_rank"),
        // round-6-before-order on the candidate ranking AND the exact
        // baseline (round6 = true below): rank-k membership must not
        // hinge on cross-engine ulp noise (r15 ADVICE; the cell
        // assignment above already followed the convention)
        round(cosineFromNorms(col("probe_vec"), col("nvec"),
          col("probe_norm"), col("nnorm")), 6).as("sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = bruteForceTopK(corpus, probes, k, idCol, vecCol, round6 = true)
      .select(col("probe_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sim").desc_nulls_last, col("neighbor_id").asc)
    probeCounts.sorted.map { p =>
      val approx = scored.where(col("cell_rank") <= p)
        .withColumn("rnk", row_number().over(wRank))
        .where(col("rnk") <= k)
        .select(col("probe_id"), col("neighbor_id"))
      exact.join(approx, Seq("probe_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_exact"))))
        .select(lit(p.toLong).as("n_probe"), col("n_exact"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Semantic chunking over token-embedding streams (the RAG segmentation
    * complement to t28's fixed windows and d23's content-defined chunks:
    * fixed windows give uniform lengths, CDC survives edits, SEMANTIC
    * splits follow topic drift — Kamradt-style embedding-drift chunking):
    * documents are bags of `tokensPerDoc` consecutive vectors (s22's
    * convention), a chunk boundary opens wherever the adjacent-token
    * cosine (round 6, the d06 threshold-on-rounded convention) drops
    * below `minCos`, and each position carries its running chunk index.
    *
    * Scale shape: one map-only projection, then a per-doc lag + running
    * sum — BOTH windows share the same bounded `tokensPerDoc`-row
    * partitioning (one exchange, no global sort), the m11 discipline in
    * embedding space.
    */
  def semanticChunks(corpus: DataFrame, tokensPerDoc: Int, minCos: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = Par.spreadForCpu(corpus).select(
      call_function("div", col(idCol).cast("long"), lit(tokensPerDoc.toLong)).as("doc"),
      pmod(col(idCol).cast("long"), lit(tokensPerDoc.toLong)).as("pos"),
      col(vecCol).as("vec"))
      .withColumn("nv", vecNorm(col("vec")))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("pos"))
    val adj = v
      .select(col("doc"), col("pos"), col("vec"), col("nv"),
        lag(col("vec"), 1).over(byDoc).as("pv"),
        lag(col("nv"), 1).over(byDoc).as("pn"))
      .select(col("doc"), col("pos"),
        round(when(col("pn") > 0 && col("nv") > 0,
          vecDot(col("pv"), col("vec")) / (col("pn") * col("nv"))), 6).as("adj_cos"))
    adj
      .withColumn("is_break",
        when(col("adj_cos").isNotNull, col("adj_cos") < minCos))
      .withColumn("chunk_idx",
        sum(when(col("is_break"), lit(1L)).otherwise(lit(0L)))
          .over(byDoc.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
  }
}
