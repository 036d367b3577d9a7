package graft

/** Physical-plan audits: the optimizations the engine's 100 TB story rests
  * on must be visible in the executed plans, not assumed — filter pushdown
  * into the parquet scan, nested-projection pruning, broadcast joins on
  * dimensions, TakeOrderedAndProject for top-k, and shuffle-free
  * single-pass shapes for the NEF pipeline.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q02: predicate pushdown and column pruning reach the parquet scan") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters:") && p.contains("IsNotNull(l_shipdate)"),
      s"expected pushed filters, plan:\n$p")
    assert(p.contains("LessThan(l_quantity,3"), s"quantity filter must push, plan:\n$p")
    // pruned read schema: only the 5 referenced columns, not the full table
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double,l_shipdate:timestamp"),
      s"expected pruned ReadSchema, plan:\n$p")
  }

  test("q04: dimension joins broadcast (no shuffle of the fact side)") {
    val p = plan("q04_broadcast_dims")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins, plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dims must not SMJ, plan:\n$p")
  }

  test("q13: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q13_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator, plan:\n$p")
  }

  test("q20: the NEF pipeline is a single pass — no shuffle before output ordering") {
    val p = SparkEntry.queries("q20_nef_envelope")(spark, dir)
      .queryExecution.executedPlan.toString
    // the only SHUFFLE allowed is the final ORDER BY's range partitioning
    // (BroadcastExchange of the subscription dimension is the design)
    assert(!p.contains("Exchange hashpartitioning"),
      s"pipeline must not hash-shuffle, plan:\n$p")
    assert(p.contains("Exchange rangepartitioning"),
      s"expected only the output-order shuffle, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"enrich join must broadcast, plan:\n$p")
    // the bitrate parser — the hottest per-row ingest expression — runs
    // as the fused kernel, never as the declarative regexp_extract chain
    assert(p.contains("parse_bitrate_mbps"), s"expected the fused bitrate kernel, plan:\n$p")
    assert(!p.contains("regexp_extract"), s"declarative bitrate parser in the plan:\n$p")
  }

  test("q20: each per-info shared subexpression is planned once — 4 timestamp " +
      "regex parses, one trajectory and one comms transform, a bounded plan") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, RLike}
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val p = SparkEntry.queries("q20_nef_envelope")(spark, dir).queryExecution.optimizedPlan
    val exprs = p.collect { case n => n.expressions.flatMap(_.collect { case e => e }) }.flatten
    def transformsOf(fields: String*): Int = exprs.count {
      case t: ArrayTransform => t.dataType match {
        case ArrayType(s: StructType, _) => s.fieldNames.toSeq == fields
        case _ => false
      }
      case _ => false
    }
    // one parse per site: the PERF_DATA timeStamp, trajectory ts, comms
    // startTime and endTime — re-inlined, tsOrNow/size/element_at copied
    // them to 24
    assert(exprs.count(_.isInstanceOf[RLike]) === 4)
    assert(transformsOf("ts", "tac", "nrCellId") === 1, "trajectory transform re-inlined")
    assert(transformsOf("startTime", "endTime", "ulVol", "dlVol") === 1,
      "comms transform re-inlined")
    assert(exprs.size <= 900, s"q20's optimized plan grew to ${exprs.size} expression nodes")
  }

  test("q01: aggregation is partial+final hash aggregate") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"expected map-side partial aggregation, plan:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregation, plan:\n$p")
  }

  test("runtime bloom-filter join pruning injects might_contain and preserves results") {
    // THE runtime row-level filter for selective joins at 100 TB: the
    // selective side builds a bloom filter that prunes the big side's rows
    // before the shuffle. Thresholds are lowered so the toy tables qualify.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .where(org.apache.spark.sql.functions.col("o_totalprice") > 400000)
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
      assert(joined.queryExecution.executedPlan.toString.contains("might_contain"),
        "bloom filter must be injected on the probe side")
      val withBloom = joined.count()
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      assert(withBloom === li.join(o, li("l_orderkey") === o("o_orderkey")).count(),
        "bloom pruning must not change the result")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("join strategy is controllable per join via hints (shuffle_hash / merge)") {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    def planOf(hint: String): String =
      c.hint(hint).join(o, c("c_custkey") === o("o_custkey"))
        .queryExecution.executedPlan.toString
    // at 100 TB the optimizer's stats-based choice is sometimes wrong
    // (e.g. a "small" side that explodes after filters) — per-join hints
    // are the override mechanism, and they must actually take effect
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"))
    assert(planOf("merge").contains("SortMergeJoin"))
  }

  test("q28: pivot compiles to ONE aggregation pass, no per-value scans") {
    val p = plan("q28_pivot")
    // explicit pivot values → a single groupBy(priority) aggregate of
    // conditional counts; the source is scanned once (count detail-section
    // headers — formatted mode prints each node in tree AND details)
    assert("""(?m)^\(\d+\) Scan parquet""".r.findAllIn(p).size === 1,
      s"pivot must scan the table once, plan:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregation, plan:\n$p")
  }

  test("q30: HLL sketches aggregate without shuffling distinct values") {
    val p = plan("q30_approx_distinct")
    assert(p.contains("approx_count_distinct"),
      s"expected HLL partial aggregation, plan:\n$p")
    // no Expand anywhere: the sketch branch never needs the distinct
    // rewrite, and the exact branch is a LONE countDistinct, which Spark
    // plans as two-phase aggregation without Expand — mixing them into one
    // agg (the 27s-vs-2s pathology this query's shape exists to avoid)
    // WOULD bring Expand back, so its absence is the regression signal
    assert(!p.contains("Expand"),
      s"distinct-rewrite Expand must not appear, plan:\n$p")
  }

  test("q73: the approx profile path plans WITHOUT Expand; the exact path exhibits it") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val approx = graft.analytics.Profile
      .numericProfile(li, cols, approxDistinct = true, rsd = 0.01)
      .queryExecution.executedPlan.toString
    assert(!approx.contains("Expand"),
      s"the HLL++ profile must be one ordinary scan — no distinct-rewrite Expand:\n$approx")
    // and the exact path IS the documented Expand shape — if this stops
    // holding, q44's scale note (and q73's reason to exist) is stale
    val exact = graft.analytics.Profile.numericProfile(li, cols)
      .queryExecution.executedPlan.toString
    assert(exact.contains("Expand"),
      "the exact multi-distinct profile is expected to plan through Expand")
  }

  test("m07: the BOUNDED caption probe set broadcasts and the image corpus " +
      "streams — top-1 is a partial+final max_by, no window sort") {
    val p = SparkEntry.queries("m07_crossmodal")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"cross-modal scoring must be a broadcast NLJ, plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a shuffled cartesian would not survive a large image side, plan:\n$p")
    // the r14 finding: broadcasting the image CORPUS lands a data-sized
    // table on the driver at 100×. The broadcast subtree (the last child
    // printed under the BNLJ) must be the caption/probe side.
    val bx = p.indexOf("BroadcastExchange")
    assert(bx >= 0, s"expected a BroadcastExchange node, plan:\n$p")
    val sub = p.substring(bx)
    assert(sub.contains("caption_id") && !sub.contains("image_id"),
      s"the broadcast side must be the bounded caption probe set, never " +
        s"the image corpus, broadcast subtree:\n$sub")
    // and the per-caption top-1 is an aggregate (map-side combine bounds
    // the shuffle at |captions| rows/partition), not a window sort of
    // the |captions|×|corpus| scored rows
    assert(!p.contains("Window"),
      s"per-caption top-1 must not window-sort the scored rows, plan:\n$p")
    assert(p.contains("max_by"),
      s"expected the max_by argmax aggregate, plan:\n$p")
  }

  test("s23: each k-center round is a partial+final min_by aggregate over " +
      "the corpus projection — no hash shuffle, no window, no join") {
    import graft.analytics.Similarity
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = Similarity.kCenterBase(e)
    val p = Similarity.kCenterRound(base,
        Seq((Array.fill(64)(0.1), 1.0), (Array.fill(64)(0.2), 1.0)))
      .queryExecution.executedPlan.toString
    assert(p.contains("min_by"), s"expected the min_by argmin aggregate, plan:\n$p")
    assert(p.contains("partial_min_by") ||
      p.split("Aggregate").length - 1 >= 2,
      s"expected map-side partial aggregation, plan:\n$p")
    // the corpus is scanned, combined per partition, and only the 1-row
    // candidates move — a hash shuffle or window sort of corpus rows
    // would not survive 100×
    assert(!p.contains("Exchange hashpartitioning"),
      s"a k-center round must never hash-shuffle the corpus, plan:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"a k-center round is one aggregate, plan:\n$p")
  }

  test("m11: the frame-delta window is partitioned per doc (no global sort), " +
      "and the fan-out stays map-only until the window") {
    val df = SparkEntry.queries("m11_shot_boundaries")(spark, dir)
    df.collect() // AQE finalizes the executed plan
    // audit the FINAL plan only — AQE's toString appends the initial
    // plan, which would double-count exchanges
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val wline = p.linesIterator.find(_.contains("Window ")).getOrElse(
      fail(s"expected a Window node, plan:\n$p"))
    assert(wline.contains("windowspecdefinition(doc_id"),
      s"the lag window must partition by doc_id (a partition-less window " +
        s"is a single-task global sort), window line:\n$wline\nplan:\n$p")
    // exactly one hash exchange — the window's doc_id partitioning; the
    // final ORDER BY is range partitioning and the explode fan-out rides
    // the scan
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"expected exactly one hash exchange (the per-doc window), plan:\n$p")
  }

  test("t33: the gram table collapses to doc-sized aggregates BEFORE any " +
      "join — no gram-keyed join, no pair space") {
    val df = SparkEntry.queries("t33_novelty")(spark, dir)
    df.collect() // AQE finalizes join strategies
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"novelty must never form a pair space, plan:\n$p")
    // the one join keys on doc ids (first_id = the min-doc aggregate's
    // output), never on the exploded gram column
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.nonEmpty && joinLines.forall(l =>
      l.contains("first_id") && !l.contains("g#")),
      s"the join must key on doc ids, not grams, joins:\n${joinLines.mkString("\n")}")
  }

  test("s22: MaxSim broadcasts the BOUNDED probe token set and streams the " +
      "corpus; the per-(qtok, doc) max is a partial+final aggregate") {
    val p = SparkEntry.queries("s22_maxsim")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"token scoring must be a broadcast NLJ, plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a shuffled cartesian would not survive a large corpus side, plan:\n$p")
    // the broadcast subtree must be the probe token projection (qtok is
    // its alias; the streamed corpus side has no such column)
    val bx = p.indexOf("BroadcastExchange")
    assert(bx >= 0, s"expected a BroadcastExchange node, plan:\n$p")
    assert(p.substring(bx).contains("qtok"),
      s"the broadcast side must be the bounded probe token set, never the " +
        s"corpus, broadcast subtree:\n${p.substring(bx)}")
    // per-(query-token, doc) max collapses map-side before any exchange
    assert(p.contains("partial_max") ||
      p.split("HashAggregate").length - 1 >= 4,
      s"expected partial+final aggregates for the MaxSim fold, plan:\n$p")
  }

  test("q98: the corpus total folds from the domain table — ONE corpus scan, " +
      "shared via exchange reuse") {
    val df = SparkEntry.queries("q98_temperature_mix")(spark, dir)
    df.collect() // AQE finalizes the executed plan
    val p = df.queryExecution.executedPlan.toString
    val scans = p.split("Scan parquet").length - 1
    assert(scans <= 1 || p.contains("ReusedExchange"),
      s"expected the documents scan to run once (ReusedExchange over the " +
        s"domain aggregate), got $scans scans and no reuse, plan:\n$p")
  }

  test("q77: OHLC bars are ONE partial+final aggregation — no window pass") {
    val p = SparkEntry.queries("q77_ohlc_bars")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // min_by/max_by are partial-aggregable: open/close need no
    // row_number window and no second scan
    assert(!p.contains("Window"), s"OHLC must not need a window pass, plan:\n$p")
    assert(p.contains("partial_min_by") || p.contains("partial_min"),
      s"expected partial aggregation of min_by, plan:\n$p")
  }

  test("q80: the 3-sigma flag pass joins the baseline by BROADCAST — no row shuffle") {
    val p = SparkEntry.queries("q80_seasonal_anomaly")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the types×24 baseline must broadcast back onto the scan, plan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join here would shuffle every raw row, plan:\n$p")
  }

  test("q82: the as-of attribution lookup is union+window — NO join node at all") {
    // leftAsOf's O(|L|+|R|) claim as an executed-plan property: a range
    // join here would blow up to O(|matches|) intermediate rows
    val p = SparkEntry.queries("q82_attribution")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    for (j <- Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!p.contains(j), s"attribution must not plan a $j, plan:\n$p")
    assert(p.contains("Window"), s"the running-last window IS the lookup, plan:\n$p")
  }

  test("d04: the signature table is served from cache in every consuming branch") {
    // the round-2 1824s regression was exactly this persist missing: four
    // plan branches each re-running tokenize→shingle→minhash. The executed
    // plan must read signatures through InMemoryTableScan.
    try {
      val p = SparkEntry.queries("d04_minhash_lsh")(spark, dir)
        .queryExecution.executedPlan.toString
      assert(p.contains("InMemoryTableScan"),
        s"persisted signature table must appear as InMemoryTableScan, plan:\n$p")
    } finally spark.catalog.clearCache() // never leak the persist into other tests
  }

  test("q38: flagship curation plan — one scan family, semi-join survivor election, no cartesian") {
    val p = plan("q38_curation_pipeline")
    assert(p.contains("LeftSemi"), s"survivor election must be a semi join, plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs joins in the curation chain, plan:\n$p")
  }

  test("q101: release capstone reuses q38's scan family — packing, shard " +
      "and Merkle stages add ZERO parquet scans; no cartesian") {
    // formatted explain prints one Location line per scan node, carrying
    // the full table path
    def docScans(p: String): Int =
      p.linesIterator.count(l =>
        l.contains("Location") && l.contains("documents.parquet"))
    val p38 = plan("q38_curation_pipeline")
    val p101 = plan("q101_release_manifest")
    assert(docScans(p101) > 0, s"expected documents scans in:\n$p101")
    // the capstone appends three whole stages to q38's chain — its scan
    // count must not grow (each stage consumes the prior FRAME, the
    // shared-CTE discipline)
    assert(docScans(p101) === docScans(p38),
      s"capstone re-scans the corpus: ${docScans(p101)} vs q38's ${docScans(p38)}")
    assert(p101.contains("LeftSemi"), s"survivor election must stay a semi join:\n$p101")
    assert(!p101.contains("CartesianProduct"),
      s"no all-pairs joins in the release chain:\n$p101")
  }

  test("d07: pair generation is index-join shaped — no cartesian/loop join") {
    val p = plan("d07_dedup_clusters")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dedup clustering must never plan an all-pairs join, plan:\n$p")
  }

  test("d08: portable simhash is a pure per-row projection chain (no shuffle before ordering)") {
    val p = SparkEntry.queries("d08_simhash_portable")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row hashing must not shuffle, plan:\n$p")
  }

  test("t08: repetition scoring is a pure per-row projection chain (no shuffle before ordering)") {
    val p = SparkEntry.queries("t08_repetition")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row repetition scoring must not shuffle, plan:\n$p")
  }

  test("d13: contamination shingle universe broadcasts; corpus never shuffles for the semi-join") {
    val p = plan("d13_decontaminate")
    assert(!p.contains("CartesianProduct"),
      s"decontamination must never plan an all-pairs join, plan:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"shingle hit-test must be a broadcast semi join, plan:\n$p")
  }

  test("s02: LSH ANN candidates equi-join on (table, bucket) — no all-pairs join anywhere") {
    val p = plan("s02_lsh_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bucketed ANN must never plan an all-pairs join, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probe side must broadcast into the bucket join, plan:\n$p")
  }

  test("q39–q42: packing, mixture, sharding, and budget selection plan ONE stratum shuffle each — no global sort before output ordering") {
    for (name <- Seq("q39_pack", "q40_mix", "q41_shard", "q42_budget")) {
      val p = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashShuffles == 1,
        s"$name must shuffle once on the stratum key, found $hashShuffles, plan:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"$name must never collapse to one partition, plan:\n$p")
    }
  }

  test("d14: the (id, vec, norm) projection is served from cache on both pair-join sides") {
    // the cluster output's plan only shows the CC tail (pair joins execute
    // inside the iteration), so audit the pair stage directly. Without the
    // `sided` persist the embeddings parquet is re-scanned (and norms
    // recomputed) once per join side; persisted, both sides read
    // InMemoryTableScan and the only parquet scan left is the index build.
    try {
      val pairs = graft.analytics.Similarity.semanticPairs(
        spark.read.parquet(s"$dir/embeddings.parquet"), threshold = 0.5,
        nTables = 8, planesPerTable = 8, dim = 64)
      pairs.write.format("noop").mode("overwrite").save() // materialize caches
      val p = pairs.queryExecution.executedPlan.toString
      val cacheScans = "InMemoryTableScan".r.findAllIn(p).size
      assert(cacheScans >= 2,
        s"both pair-join sides must read the persisted projection, found $cacheScans InMemoryTableScans, plan:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"semantic dedup must never plan an all-pairs join, plan:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("s03: IVF candidates equi-join on cent_id; the only loop join is the bounded centroid broadcast") {
    val p = plan("s03_ivf_topk")
    assert(!p.contains("CartesianProduct"),
      s"IVF must never plan an unbounded cartesian, plan:\n$p")
    // the nCells-row centroid table broadcast-NLJs against each side by
    // design (assignment = nCells dot products per row, no corpus
    // shuffle); anything beyond those two assignment joins is a defect.
    // Count the "(n) Op" detail entries — formatted explain also repeats
    // each operator in the tree rendering.
    val loops = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size
    assert(loops <= 2,
      s"only the two centroid-assignment loop joins are allowed, found $loops, plan:\n$p")
  }

  test("d15: span coverage explodes grams ONCE; dup filter is a window, not a self-join") {
    val p = plan("d15_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span dedup must never plan an all-pairs join, plan:\n$p")
    assert(p.contains("Window"), s"dup filter + span union must be windows, plan:\n$p")
    // exactly one Generate NODE: the positional gram explode (formatted
    // explain prints each node in the tree AND the details section — count
    // details entries "(k) Generate"). The groupBy+semi-join formulation
    // planned TWO full explodes, one per side of the join; the min≠max
    // window over the gram key keeps it to one
    val generates = "\\(\\d+\\) Generate".r.findAllIn(p).size
    assert(generates == 1, s"expected exactly 1 Generate node, got $generates, plan:\n$p")
    // and only ONE join remains: the final left join stitching coverage
    // back onto the (id, n_toks) base
    val joins = "\\(\\d+\\) \\w*(HashJoin|MergeJoin)".r.findAllIn(p).size
    assert(joins == 1, s"expected exactly 1 join (coverage→base), got $joins, plan:\n$p")
  }

  test("d16: bloom probe rides a scalar-subquery constant; corpus side never shuffles for it") {
    val p = plan("d16_bloom")
    assert(p.contains("might_contain") || p.contains("bloom_contains"),
      s"bloom probe expression missing from plan:\n$p")
    assert(p.contains("Subquery"),
      s"bloom must arrive as a scalar-subquery constant, plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"bloom decontamination must never plan an all-pairs join, plan:\n$p")
  }

  test("q23: the Kafka-batch aggregate collects serialized strings, never record structs") {
    // the round-9 regression this pins: to_json(collect_list(record))
    // collected the 6-field record struct (with its map column) — the
    // aggregate input re-evaluated the from_json subtree per field (26×
    // CPU on a 1M-notification batch) and the shuffle carried nested
    // structs (983 GC-s vs 10). The contract: every CollectList in the
    // sink's plan buffers either the JSON string itself or the flat
    // (ts, ev, j) sort-key struct — nothing with a map, nothing untyped.
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList}
    import org.apache.spark.sql.types._
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val notifs = Fixtures.notifications(spark, Seq(
      Fixtures.perfDataPayload, Fixtures.ueCommPayload))
    val env = Ingest.envelopes(notifs, Fixtures.subscriptions(spark),
      now = org.apache.spark.sql.functions.lit(1776680100L))
    for (det <- Seq(true, false)) {
      val collected = sinks.Sinks.kafkaBatches(env, deterministicOrder = det)
        .queryExecution.optimizedPlan.collect { case a: Aggregate =>
          a.aggregateExpressions.flatMap(_.collect {
            case ae: AggregateExpression => ae.aggregateFunction
          })
        }.flatten.collect { case c: CollectList => c.child.dataType }
      assert(collected.size == 1,
        s"deterministicOrder=$det: expected exactly one CollectList, got $collected")
      assert(!hasMap(collected.head),
        s"deterministicOrder=$det: aggregate buffers the record struct " +
          s"(map column present) — the serialize-before-shuffle contract is " +
          s"broken: ${collected.head}")
      val leaf = collected.head match {
        case s: StructType => s.fields.map(_.dataType).toSeq
        case other => Seq(other)
      }
      assert(leaf.contains(StringType),
        s"deterministicOrder=$det: collected element carries no serialized " +
          s"JSON string: ${collected.head}")
    }
  }

  test("q47: the MG sketch partial-aggregates per partition; no cartesian anywhere") {
    val p = plan("q47_heavy_hitters")
    // the typed Aggregator plans as ObjectHashAggregate with a partial
    // pass — per-partition k-counter summaries merge, raw tokens never
    // shuffle for the sketch side
    assert(p.contains("ObjectHashAggregate"),
      s"expected the typed sketch aggregate, plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian expected, plan:\n$p")
    // the 1-row sketch and total rejoin the exact side as broadcasts
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"sketch/total must broadcast back, plan:\n$p")
  }

  test("s09: loop joins only in the probe/corpus scan; greedy rounds are hash joins") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.where(col("vec_id") < 5)
    // stage 1 — the candidate pool: exactly ONE broadcast loop join
    // (probe × corpus with the self-exclusion predicate), no cartesian
    val candPlan = analytics.Similarity.bruteForceTopK(e, probes, k = 10)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!candPlan.contains("CartesianProduct"), s"plan:\n$candPlan")
    // count node-detail headers — formatted explain prints each node
    // once in the tree and once in the details section
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(candPlan).size === 1,
      s"expected exactly the probe×corpus loop join, plan:\n$candPlan")
    // full operator (checkpoint=false exposes the whole logical tree —
    // at runtime the checkpoints materialize cand/cc ONCE; the explain
    // artifact is subtree duplication, so count SHAPES, not instances):
    // no cartesian anywhere, and the greedy rounds' pens/anti/pick joins
    // key on probe_id as HASH joins
    val p = analytics.Similarity.mmrTopK(e, probes,
        kCand = 10, kSelect = 3, lambda = 0.7, checkpoint = false)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), s"no cartesian expected, plan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"greedy-round joins must be hash/merge equi-joins, plan:\n$p")
  }

  test("m06: banded candidates are equi-joins — no loop join, no cartesian") {
    import org.apache.spark.sql.functions.col
    // audit the candidate stage (the full operator checkpoints, which
    // hides the tree behind a LogicalRDD): hash joins on the band keys
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val hashes = analytics.Multimodal.aHashed(docs)
    val a = hashes.select(col("doc_id").as("id_a"), col("b0").as("a0"))
    val b = hashes.select(col("doc_id").as("id_b"), col("b0").as("c0"))
    val cand = a.join(b, col("a0") === col("c0") && col("id_a") < col("id_b"))
    val p = cand.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band join must be an equi-join, plan:\n$p")
  }

  test("q61: support prune precedes the pair self-join; aggregation is partial+final") {
    // checkpoint=false exposes the tree (the default hides it behind a
    // LogicalRDD, the mmr precedent)
    val p = analytics.Itemsets.frequentPairs(
        spark.read.parquet(s"$dir/lineitem.parquet"),
        "l_orderkey", "l_partkey", minItemSupport = 8, minPairSupport = 2,
        checkpoint = false)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    assert(p.contains("partial_count"),
      s"expected map-side partials, plan:\n$p")
    // the support gate must sit UNDER the pair join (on the pruned build
    // side), not above the pair fan-out; attributes print with #id tags
    assert("""s#\d+L? >= 8""".r.findFirstIn(p).isDefined,
      s"support filter must appear in the plan, plan:\n$p")
  }

  test("d24: both blocking passes are equi-joins; no cartesian anywhere") {
    val p = plan("d24_entity_resolution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocking must hash-join, plan:\n$p")
  }

  test("s16: the duplicate-pair join equi-joins on cent_id — the quadratic " +
      "term is cell-local, never an all-pairs plan") {
    val p = plan("s16_semdedup")
    // the only NLJ allowed is the broadcast of the 16-row centroid table
    // into the assignment; the PAIR join itself must key on cent_id
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"pair join must be an equi-join on cent_id, plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian anywhere, plan:\n$p")
    assert("cent_id".r.findAllIn(p).size >= 2,
      s"cell key must drive the join, plan:\n$p")
  }

  test("s15/s14: probe sides broadcast; the corpus is never shuffled " +
      "for scoring") {
    for (name <- Seq("s15_hard_negatives", "s14_rp_topk")) {
      val p = plan(name)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$name: pinned probe side must broadcast, plan:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$name: no cartesian, plan:\n$p")
    }
  }

  test("s19: corpus codes equi-join the broadcast probe tables on cent_id " +
      "— candidate volume is cell-bounded by construction") {
    val p = plan("s19_ivfpq_topk")
    assert(!p.contains("CartesianProduct"),
      s"no all-pairs join in an IVF index, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the (probe, cell) ADC tables must broadcast into the cell join, plan:\n$p")
  }

  test("q94: the manifest is three aggregations — no window, no sort " +
      "before the output ordering, no join but the 1-row root broadcast") {
    val p = plan("q94_merkle_manifest")
    assert(!p.contains("Window"),
      s"data-ordered folds must ride aggregates, not windows, plan:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"expected aggregate levels, plan:\n$p")
  }

  test("q93: CUPED is two aggregates + a 1-row broadcast — no window, " +
      "no per-unit shuffle beyond the user grouping") {
    val p = plan("q93_cuped")
    assert(!p.contains("Window"), s"moment algebra needs no window, plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row moment table must broadcast, plan:\n$p")
  }

  test("q73: both profile passes read the ONE persisted projection — " +
      "exact and approx aggregates must not each re-scan the parquet") {
    try {
      val p = SparkEntry.queries("q73_profile_approx")(spark, dir)
        .queryExecution.executedPlan.toString
      // both the exact and the approx branch must read the cache (the
      // InMemoryRelation node prints its own cached child plan, so a
      // bare "no Scan parquet" assertion would false-fail)
      assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
        s"BOTH profile passes must serve from the one cache, plan:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("d32 dense path AT SCALE (forced large-corpus regime): the ONLY " +
      "broadcast is the distinct-mask candidate table — the corpus-sized " +
      "doc→mask expansion rides chunked shuffle hash joins") {
    // the r13 finding: broadcasting the per-document masks table is fine
    // at 5k docs and a driver OOM at 100×. The expansion regime is picked
    // by the measured corpus size; smallCorpusMax = 0 forces the scale
    // regime here, where the distinct-mask table `dm` (bounded by the
    // ≤2^64 mask space, not the corpus) is the one legitimate broadcast
    // and every corpus-sized join must shuffle.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val p = analytics.Dedup.bitsetJaccardPairs(docs, smallCorpusMax = 0L)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // count TREE nodes ("BroadcastExchange (15)"), not the formatted
    // explain's per-node detail section repeating each name once more
    val nBroadcast = """BroadcastExchange \(\d+\)""".r.findAllIn(p).size
    assert(nBroadcast <= 1,
      s"dense Jaccard must broadcast at most the distinct-mask table, " +
        s"found $nBroadcast BroadcastExchange nodes, plan:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"doc-pair expansion must be mask-keyed shuffle hash joins, plan:\n$p")
  }
}
