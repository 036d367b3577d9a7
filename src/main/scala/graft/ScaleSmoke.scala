package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Dedup

/** Adversarial scale probes: the regimes [[ScaleSweep]] cannot express.
  * ScaleSweep is the catalog-wide scaling gate; its copies are salted, so
  * duplicate mass grows ×N like a real corpus. Here the sf corpus is
  * blown up N× by id-shifted unions instead: every document gains N−1
  * exact copies, so duplicate mass — the O(bands·c²) candidate term and
  * the connected-components edge count — grows ×N² while the corpus grows
  * ×N. The eight probes:
  *  - `minhash_lsh`, `dedup_clusters_lsh`, `dedup_clusters_exact`: LSH
  *    candidates and both cluster paths under that duplicate mass. The
  *    exact path's gap over the LSH path is the recorded reason
  *    `dedupClustersApprox` is the 100 TB shape.
  *  - `cc_chain_contracted`: one path component of 25k×N nodes. It backs
  *    `connectedComponents`' refusal, which points the caller at the
  *    contracted variant.
  *  - `skew_join_plain`, `skew_join_salted`: a 90%-hot join key, plain
  *    and through `SkewJoin.saltedInnerJoin` (no catalog query calls it).
  *  - `driver_budget`: `require`s that the driver-coordinated operators'
  *    collected state stays inside its documented bounds.
  *  - `streaming_state_scale`: RocksDB `transformWithState` state over
  *    50k×N keys (no catalog twin).
  * Prints one JSON line of seconds and rows per op. Run:
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.ScaleSmoke 20"
  * Optional args after the multiplier select single ops by name
  * (isolated re-measurement — neighbor ops' GC/JIT pollution showed up
  * as a 1.4× swing on minhash_lsh in the round-8 run). An unknown op name
  * prints a warning and exits 2.
  */
object ScaleSmoke {

  private def timed(fn: => DataFrame): (Double, Long) = {
    val t0 = System.nanoTime()
    // operator CONSTRUCTION stays inside the timed region: iterative
    // operators (connected components) run driver-side rounds while the
    // frame is being built, not at sink time
    val df = fn
    // noop sink, NOT count(): count() lets Catalyst prune every projected
    // column, so a per-row hash kernel would be dead code and the probe
    // would time only the scan (the round-4 review caught exactly that)
    df.write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    (sec, df.count()) // row count for the record, untimed re-run
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = args.headOption.map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark: SparkSession = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang")
    val vecs0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // shifts derived from the corpus so copies can never collide with
    // originals whatever sf dir is pointed at
    val docShift = docs0.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val vecShift = vecs0.agg(max(col("vec_id"))).head.getLong(0) + 1L
    def blowUp(base: DataFrame, idCol: String, shift: Long): DataFrame =
      (0 until mult).map(i =>
        base.withColumn(idCol, col(idCol) + lit(i * shift))).reduce(_ union _)
    val docs = blowUp(docs0, "doc_id", docShift)
    val vecs = blowUp(vecs0, "vec_id", vecShift)

    val opFilter = args.drop(1).toSet
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long)]
    // every op name registers here whether or not it runs, so a misspelled
    // filter arg is detectable (an empty results JSON used to look like a
    // valid measurement)
    val declaredOps = scala.collection.mutable.LinkedHashSet.empty[String]
    def shouldRun(name: String): Boolean = {
      declaredOps += name
      opFilter.isEmpty || opFilter(name)
    }
    def run(name: String)(fn: => DataFrame): Unit =
      if (shouldRun(name)) {
        spark.catalog.clearCache()
        System.gc()
        results(name) = timed(fn)
        System.err.println(s"[scale-smoke] $name: ${results(name)._1}s rows=${results(name)._2}")
      }

    run("minhash_lsh")(
      Dedup.minhashCandidates(docs, n = 3, k = 64, bands = 16, threshold = 0.9))
    // the scale path: clusters from LSH candidates (the exact-pair variant's
    // shingle join grows with the SQUARE of duplicate-cluster size — at 5×
    // it is already 5× the cost of this one)
    run("dedup_clusters_lsh")(
      Dedup.dedupClustersApprox(docs, n = 3, k = 64, bands = 16, threshold = 0.9)
        .where(col("is_survivor")))
    // the EXACT cluster path (d07's operator) at the same blown-up corpus:
    // its shingle-index pair-gen is quadratic in per-shingle DF, so its
    // gap vs dedup_clusters_lsh above IS the documented reason
    // dedupClustersApprox is the 100 TB shape — keep both timed so the
    // gap is a recorded number, not an assertion
    run("dedup_clusters_exact")(
      Dedup.dedupClusters(docs, n = 3, threshold = 0.9, maxDf = 1000L)
        .where(col("is_survivor")))

    // Adversarial CC topology at scale: ONE path component of 25k×mult
    // nodes (diameter = n−1). Min-label propagation needs one round per
    // hop — structurally impossible here; the large-star/small-star
    // contraction must resolve it in O(log n) rounds, so this times the
    // escape-hatch path the propagation variant's error message points at
    // (construction runs inside the timed region, which captures the
    // iterative rounds — see timed()).
    run("cc_chain_contracted") {
      val n = 25000L * mult
      val chain = spark.range(n - 1)
        .select(col("id").as("src"), (col("id") + 1L).as("dst"))
      Dedup.connectedComponentsContracted(chain, spark.range(n).toDF("id"))
    }

    // B2's skew story, measured: the blown-up docs are joined to a
    // 64-row dimension on an ADVERSARIALLY hot key (90% of fact rows
    // collapse onto key 0 — the mult× union multiplies the hot key's
    // mass, the single-key-too-big-for-one-task regime AQE cannot split
    // when the straggler is one key). salted spreads it over factor=32
    // sub-keys; both variants count the same joined rows, so the wall
    // delta IS the straggler term. The plain variant re-measures the
    // baseline, not a claim — on local[32] the gap is bounded by one
    // task's runtime, at 1000 executors it is the whole stage.
    if (shouldRun("skew_join_salted") || shouldRun("skew_join_plain")) {
      import spark.implicits._
      val dim = (0L until 64L).map(k => (k, s"grp$k")).toSeq
        .toDF("k", "grp")
      val fact = docs.select(
        when(pmod(col("doc_id"), lit(10L)) < 9, lit(0L))
          .otherwise(pmod(col("doc_id"), lit(64L))).as("k"),
        col("doc_id"))
      run("skew_join_plain")(
        fact.join(dim, Seq("k")).groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("s")))
      run("skew_join_salted")(
        graft.operators.SkewJoin.saltedInnerJoin(fact, dim, Seq("k"),
            factor = 32)
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("s")))
    }

    // Driver-memory budget receipts (r16 verdict task 6): the driver-
    // coordinated ops hold only CONTROL-sized state, enforced by measured
    // sizes against their documented bounds — not just described.
    //  - BPE/unigram trainers: regime picked by the MEASURED word-table
    //    size vs maxDriverVocab (2^20). The id-shift blowup alone keeps
    //    the vocabulary FLAT (it multiplies frequencies — the dup-
    //    adversarial probe), so this receipt salts every copy's words
    //    (`c{i}_` prefix) to make vocabularies DISJOINT: the word table
    //    grows ×mult, the worst realistic direction for the budget.
    //  - hierarchical beam: the collected control tables are the stride-
    //    sampled coarse layer (~sqrt(n) rows) and its kNN edges
    //    (≤ sample × 2k) — measured against those caps.
    //  - k-center: k ids per round (trivially bounded by the k argument).
    if (shouldRun("driver_budget")) {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val salted = (0 until mult).map(i =>
        docs0.withColumn("doc_id", col("doc_id") + lit(i * docShift))
          .withColumn("text", regexp_replace(col("text"), " ", s" c${i}_")))
        .reduce(_ unionByName _)
      val wf = graft.analytics.Bpe.wordFreqs(salted)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val vocabRows = wf.count()
        val sumChars = wf.agg(sum(length(col("word")))).head.getLong(0)
        // driver-held entry ≈ (word UTF-16, freq, per-char piece strings):
        // 2 bytes/char word + ~40 bytes/char piece objects + ~64/row fixed
        val estBytes = sumChars * 48 + vocabRows * 64
        val bound = 1L << 20 // Bpe.train / Unigram.train maxDriverVocab default
        val regime = if (vocabRows <= bound) "driver" else "distributed"
        // the enforcement: when the probe picks the DRIVER regime, the
        // state it will collect must fit a conservative heap budget
        if (vocabRows <= bound)
          require(estBytes < (512L << 20),
            s"driver-regime vocab estimate $estBytes B breaches the 512 MB budget")
        val n = vecs.count()
        val stride = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
        val coarseRows = vecs.where(pmod(col("vec_id"), lit(stride)) === 0).count()
        require(coarseRows <= 4 * stride + 4,
          s"stride sample $coarseRows rows is not ~sqrt(n=$n)")
        val edgeCap = coarseRows * 2 * 8 // coarseGraphK = 8, symmetrized
        require(edgeCap * 16 < (64L << 20),
          s"coarse edge list cap $edgeCap rows breaches the 64 MB control budget")
        val sec = (System.nanoTime() - t0) / 1e9
        results("driver_budget") = (sec, vocabRows)
        System.err.println(f"[scale-smoke] driver_budget: $sec%.2fs " +
          f"bpe_vocab_rows=$vocabRows (bound=$bound, regime=$regime) " +
          f"est_mb=${estBytes / 1048576.0}%.1f " +
          f"beam_n=$n coarse_sample=$coarseRows edge_cap=$edgeCap " +
          s"kcenter_state=k")
      } finally wf.unpersist(blocking = false)
    }

    // RocksDB transformWithState STATE-SCALE datapoint: the per-key
    // ListState rolling window (RecentEventsProcessor) over a key space
    // that grows with mult — 50k×mult keys × 4 observations. Cost must
    // track input rows (state ops are O(keys touched) per batch, RocksDB
    // keeps the working set off-heap); the checkpointed state at the end
    // holds every key's bounded window, which is the 100 TB question:
    // does per-key state survive a key space in the millions.
    if (shouldRun("streaming_state_scale")) {
      import graft.streaming.Stream
      val nKeys = 50000L * mult
      val perKey = 4L
      val tmp = java.nio.file.Files.createTempDirectory("graft-stream-state")
      val srcDir = s"$tmp/src"
      // key-major id layout: each of the perKey passes touches every key,
      // so batches hit EXISTING state rather than only inserting
      spark.range(nKeys * perKey).select(
        concat(lit("k"), pmod(col("id"), lit(nKeys))).as("k"),
        (col("id") / lit(nKeys)).cast("long").as("ts"),
        pmod(col("id") * 7, lit(1000)).as("v"))
        .write.json(srcDir)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prior = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        val src = spark.readStream.schema("k string, ts long, v long")
          .option("maxFilesPerTrigger", 8).json(srcDir)
        val q = Stream.recentActivityTws(src, keep = 3)
          .writeStream
          .option("checkpointLocation", s"$tmp/ck")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("noop")
          .start()
        q.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        val rows = nKeys * perKey
        val batches = q.recentProgress.filter(_.numInputRows > 0)
        val lat = batches.map(_.durationMs.get("triggerExecution").toLong)
        results("streaming_state_scale") = (sec, rows)
        System.err.println(f"[scale-smoke] streaming_state_scale: $sec%.2fs " +
          f"rows=$rows keys=$nKeys (${rows / sec}%.0f rows/s, " +
          s"batches=${batches.length}, batch_ms mean=" +
          f"${if (lat.isEmpty) 0.0 else lat.sum.toDouble / lat.length}%.0f " +
          s"max=${if (lat.isEmpty) 0L else lat.max})")
      } finally {
        // unload every loaded state-store provider NOW: a RocksDB
        // background compaction still running at JVM shutdown races the
        // executor temp-dir cleanup (measured: native abort, exit 134)
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        prior match {
          case Some(v) => spark.conf.set(providerKey, v)
          case None => spark.conf.unset(providerKey)
        }
      }
    }

    val unknown = opFilter.diff(declaredOps.toSet)
    if (unknown.nonEmpty)
      System.err.println(s"[scale-smoke] WARNING: no such op(s): " +
        s"${unknown.mkString(", ")} — known: ${declaredOps.mkString(", ")}")
    def j(s: String): String = "\"" + s + "\""
    val body = results.map { case (k, (sec, rows)) =>
      s"${j(k)}:{${j("sec")}:$sec,${j("rows")}:$rows}"
    }.mkString(",")
    println(s"""{"mult":$mult,"sf":${j(sfDir)},"ops":{$body}}""")
    spark.stop()
    // a filter that matched nothing is an operator error, not a
    // measurement of zero ops — make it loud for scripts too
    if (unknown.nonEmpty) sys.exit(2)
  }
}
