package graft

import org.apache.spark.sql.functions._

import graft.enrich.Enrich
import graft.normalize.Normalize

/** Endpoint-behavior goldens ported from the reference's TestClient tests
  * (reference tests/test_receiver.py:204–471): exact envelope values, the
  * no-UE-id drop, unsupported-event skip, the 403 anti-join, empty
  * trajectories, context-only tags, and multi-event batching into one
  * Kafka array.
  */
class PipelineSpec extends SparkSpec {

  private val FixedNow = 1700000000L

  private def envelopes(payloads: String*) = {
    val notifs = Fixtures.notifications(spark, payloads)
    Ingest.envelopes(notifs, Fixtures.subscriptions(spark), now = lit(FixedNow))
  }

  test("PERF_DATA envelope golden (tests/test_receiver.py:226–237)") {
    val r = rows(envelopes(Fixtures.perfDataPayload)) match {
      case Seq(only) => only
      case other => fail(s"expected 1 record, got ${other.size}")
    }
    assert(r.getAs[Long]("timestamp") === 1776680100L)
    assert(r.getAs[String]("event") === "PERF_DATA")
    val tags = r.getAs[org.apache.spark.sql.Row]("tags")
    assert(tags.getAs[Int]("snssai_sst") === 1)
    assert(tags.getAs[String]("snssai_sd") === "000001")
    assert(tags.getAs[String]("dnn") === "internet")
    assert(tags.getAs[String]("ueIpv4Addr") === "10.0.1.10")
    assert(tags.getAs[String]("appId") === "app-test")
    assert(tags.getAs[String]("supi") === null)
    val metrics = r.getAs[Map[String, Double]]("metrics")
    assert(metrics === Map(
      "thrputUl_mbps" -> 11.74, "thrputDl_mbps" -> 87.57,
      "pdb_ms" -> 18.0, "plr_per_thousand" -> 17.0))
  }

  test("UE_MOBILITY envelope: trajectory transform + first-point timestamp") {
    val r = rows(envelopes(Fixtures.ueMobilityPayload)) match {
      case Seq(only) => only
      case other => fail(s"expected 1 record, got ${other.size}")
    }
    assert(r.getAs[Long]("timestamp") === 1776680090L) // trajectory[0].ts
    val traj = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("trajectory"))
    assert(traj.size === 2)
    assert(traj.head.getAs[Long]("ts") === 1776680090L)
    assert(traj.head.getAs[String]("tac") === "000001")
    assert(traj.head.getAs[String]("nrCellId") === "000000001")
    assert(traj(1).getAs[String]("tac") === "000002")
  }

  test("UE_COMM envelope: comms transform + first endTime timestamp") {
    val r = rows(envelopes(Fixtures.ueCommPayload)) match {
      case Seq(only) => only
      case other => fail(s"expected 1 record, got ${other.size}")
    }
    assert(r.getAs[Long]("timestamp") === 1776680100L) // comms[0].endTime
    val comms = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("comms"))
    assert(comms.size === 1)
    assert(comms.head.getAs[Long]("startTime") === 1776679200L)
    assert(comms.head.getAs[Long]("endTime") === 1776680100L)
    assert(comms.head.getAs[Long]("ulVol") === 1048576L)
    assert(comms.head.getAs[Long]("dlVol") === 52428800L)
  }

  test("no-UE-id record dropped when subscription has no context (tests:306–332)") {
    val notifs = Fixtures.notifications(spark, Seq(Fixtures.noUeIdPayload))
    val env = Ingest.envelopes(notifs, Fixtures.subscriptionsNoContext(spark), now = lit(FixedNow))
    assert(env.count() === 0)
    val dropped = Normalize.droppedNoUeId(
      Enrich.enrich(notifs, Fixtures.subscriptionsNoContext(spark)), lit(FixedNow))
    assert(dropped.count() === 1) // observability complement sees the drop
  }

  test("context-only tags suffice to keep the record (tests:453–472)") {
    // same payload, but the subscription carries snssai/dnn context
    val env = envelopes(Fixtures.noUeIdPayload)
    assert(env.count() === 1)
    val metrics = rows(env).head.getAs[Map[String, Double]]("metrics")
    assert(metrics === Map("pdb_ms" -> 10.0))
  }

  test("unsupported event type skipped (tests:334–345)") {
    assert(envelopes(Fixtures.unsupportedEventPayload).count() === 0)
  }

  test("unknown notifId takes the 403 anti-join path (receiver.py:363–365)") {
    val notifs = Fixtures.notifications(spark,
      Seq(Fixtures.perfDataPayload, Fixtures.unknownNotifPayload))
    val rejected = Enrich.rejected(notifs, Fixtures.subscriptions(spark))
    assert(column[String](rejected.select("notifId")) === Seq("unknown"))
    assert(Enrich.accepted(notifs, Fixtures.subscriptions(spark)).count() === 1)
    assert(envelopes(Fixtures.perfDataPayload, Fixtures.unknownNotifPayload).count() === 1)
  }

  test("empty ueTrajs still emits a record with now-fallback ts (tests:434–451)") {
    val r = rows(envelopes(Fixtures.emptyTrajsPayload)) match {
      case Seq(only) => only
      case other => fail(s"expected 1 record, got ${other.size}")
    }
    assert(r.getAs[Long]("timestamp") === FixedNow)
    assert(r.getSeq[Any](r.fieldIndex("trajectory")).isEmpty)
  }

  test("multi-event notification collapses to ONE Kafka array message (tests:365–395)") {
    val notifs = Fixtures.notifications(spark, Seq(Fixtures.multiEventPayload))
    val env = Ingest.envelopes(notifs, Fixtures.subscriptions(spark), now = lit(FixedNow))
    assert(env.count() === 2) // one PERF_DATA + one UE_MOBILITY record
    val msgs = rows(sinks.Sinks.kafkaBatches(env, deterministicOrder = true))
    assert(msgs.size === 1) // ONE message for the whole notification
    assert(msgs.head.getAs[String]("key") === Fixtures.NotifId)
    val value = msgs.head.getAs[String]("value")
    assert(value.startsWith("[") && value.endsWith("]"))
    assert("\"event\":".r.findAllIn(value).size === 2)
    assert(value.contains("\"thrputDl_mbps\":50.0"))
  }

  test("int() metric semantics: floats truncate toward zero, numeric strings accepted") {
    // Documented deviation (Normalize.scala): reference int(val) raises on
    // '17.8' (HTTP 500); the engine truncates any numeric — including
    // decimal/scientific strings — and drops unparseable values.
    val payload =
      s"""{"notifId":"${Fixtures.NotifId}","eventNotifs":[{"event":"PERF_DATA",
         |"perfDataInfos":[{"ueIpAddr":{"ipv4Addr":"10.0.0.1"},
         |"perfData":{"pdb":17.8,"plr":"12","pdbDl":"1e3","maxPdbUl":"junk"}}]}]}""".stripMargin.replace("\n", "")
    val metrics = rows(envelopes(payload)).head.getAs[Map[String, Double]]("metrics")
    assert(metrics === Map("pdb_ms" -> 17.0, "plr_per_thousand" -> 12.0, "pdbDl_ms" -> 1000.0))
  }

  test("malformed notification JSON falls out silently (no 500s in a batch engine)") {
    val env = envelopes("{not json at all", """{"wrong":"shape"}""", Fixtures.perfDataPayload)
    // unparseable rows → null struct → null notifId → dropped at the join;
    // only the valid payload's record survives
    assert(env.count() === 1)
  }

  test("websocket fan-out payload shape (receiver.py:450–452)") {
    val env = envelopes(Fixtures.perfDataPayload)
    val msg = rows(sinks.Sinks.websocketMessages(env)).head
    assert(msg.getAs[String]("key") === Fixtures.NotifId)
    val value = msg.getAs[String]("value")
    assert(value.contains("\"type\":\"data_ingested\""))
    assert(value.contains("\"data\":{"))
    assert(value.contains("\"thrputUl_mbps\":11.74"))
  }

  test("discovered fields over the full fixture set (receiver.py:394–397)") {
    val fields = column[String](
      sinks.Sinks.discoveredFields(SparkEntry.entry(spark)).orderBy(col("field")))
    assert(fields === Seq("comms", "pdb_ms", "plr_per_thousand",
      "thrputDl_mbps", "thrputUl_mbps", "trajectory"))
  }

  test("FieldRegistry control loop: a new metric key triggers exactly one re-registration (D3)") {
    // reference receiver.py:399–410: on discovering unseen metric fields,
    // the service re-registers its output schema ONCE with the full set.
    val calls = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    val registry = new sinks.FieldRegistry(calls += _)
    val perfFields = Set("pdb_ms", "plr_per_thousand", "thrputUl_mbps", "thrputDl_mbps")

    // batch 1: first sight of the PERF_DATA fields → one registration
    assert(registry.observe(envelopes(Fixtures.perfDataPayload)) === perfFields)
    assert(calls.toSeq === Seq(perfFields))

    // batch 2: same fields again → no delta, NO registration call
    assert(registry.observe(envelopes(Fixtures.perfDataPayload)) === Set.empty)
    assert(calls.size === 1)

    // batch 3: a payload with a new metric key (pdbDl_ms) → exactly one
    // more registration, carrying the ENLARGED universe
    val newKeyPayload =
      s"""{"notifId":"${Fixtures.NotifId}","eventNotifs":[{"event":"PERF_DATA",
         |"perfDataInfos":[{"ueIpAddr":{"ipv4Addr":"10.0.0.1"},
         |"perfData":{"pdbDl":"250"}}]}]}""".stripMargin.replace("\n", "")
    assert(registry.observe(envelopes(newKeyPayload)) === Set("pdbDl_ms"))
    assert(calls.size === 2)
    assert(calls.last === perfFields + "pdbDl_ms")
    assert(registry.universe === perfFields + "pdbDl_ms")
  }

  test("DiscoveredFieldsAgg: the typed Aggregator form agrees with the plan form") {
    import spark.implicits._
    val metricKeys = SparkEntry.entry(spark)
      .select(map_keys(col("metrics")).as("keys")).as[Seq[String]]
    val viaAggregator = metricKeys.select(sinks.DiscoveredFieldsAgg.toColumn).collect().head
    assert(viaAggregator === Seq("pdb_ms", "plr_per_thousand",
      "thrputDl_mbps", "thrputUl_mbps"))
  }

  test("dead-letter split: malformed notifications quarantine with raw bytes") {
    import spark.implicits._
    val truncated = Fixtures.perfDataPayload.dropRight(5)
    val raw = Seq(Fixtures.perfDataPayload, truncated, "not json at all")
      .toDF("value")
    val (ok, dlq) = Ingest.parseNotificationsWithDlq(raw)
    assert(ok.count() === 1)
    assert(ok.select("notifId").as[String].head() === Fixtures.NotifId)
    val quarantined = dlq.as[String].collect().toSet
    assert(quarantined === Set(truncated, "not json at all"),
      "the DLQ must carry the original payloads, replayable verbatim")
    // the good row still drives the full pipeline
    val env = Ingest.envelopes(ok, Fixtures.subscriptions(spark), now = lit(FixedNow))
    assert(env.count() === 1)
  }

  test("observe: the pipeline reports its own counters without a second pass") {
    // CollectMetrics rides the existing action — record count, UE-id
    // drops and absent-metric records surface as observed metrics with
    // ZERO extra scans (the production ops story: a 100 TB ingest cannot
    // afford count() side-queries for its dashboards)
    val obs = new org.apache.spark.sql.Observation("ingest")
    val env = envelopes(Fixtures.perfDataPayload, Fixtures.ueMobilityPayload,
      Fixtures.ueCommPayload, Fixtures.unsupportedEventPayload)
      .observe(obs,
        count(lit(1)).as("n_envelopes"),
        sum(when(size(map_keys(col("metrics"))) === 0, 1L).otherwise(0L))
          .as("n_no_metrics"),
        // DISTINCT aggregates are rejected in observed metrics
        // (INVALID_OBSERVED_METRICS) — the HLL sketch is the metric that
        // IS allowed, and the right one at scale anyway
        approx_count_distinct(col("event")).as("n_event_types"))
    val n = env.count() // the one action; metrics piggyback on it
    val m = obs.get
    assert(m("n_envelopes") === n)
    // mobility/comm payloads live in the nested array columns, so their
    // scalar-metrics maps are legitimately empty (C8)
    assert(m("n_no_metrics") === 2L)
    assert(m("n_event_types") === 3L) // unsupported event never normalizes
  }

  test("q84 dataset card: per-language rows match an independent driver replay " +
      "of every constituent (tokens, quality, contamination, exact-dup)") {
    // q84 composes d01 (exact dup), d13 (contamination), and t02 (quality)
    // — a silent regression in any constituent would only surface as an
    // opaque hash mismatch. This replay recomputes ALL of them driver-side
    // from first principles on the 50-doc corpus.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toks(t: String): Array[String] =
      t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val stop = Set("the", "a", "of", "and", "to", "in", "is")
    def q6(t: String): BigDecimal = {
      val ws = toks(t)
      val lenScore = math.min(t.length / 500.0, 1.0)
      val stopR = if (ws.isEmpty) 0.0 else ws.count(stop).toDouble / ws.length
      val punct = if (t.isEmpty) 0.0
        else (t.length - t.replaceAll("[\\p{Punct}]", "").length).toDouble / t.length
      BigDecimal(0.4 * lenScore + 0.4 * stopR + 0.2 * (1.0 - punct))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    def shingles(t: String): Set[String] =
      toks(t).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val benchUniverse = docs.filter(_._1 < 20).flatMap(d => shingles(d._3)).toSet
    val textCounts = docs.groupBy(_._3).view.mapValues(_.length).toMap
    val byLang = docs.groupBy(_._2)
    val want = byLang.map { case (lang, ds) =>
      val nDocs = ds.length.toLong
      val totalTokens = ds.map(d => toks(d._3).length.toLong).sum
      val meanQ = (ds.map(d => q6(d._3)).sum.toDouble / nDocs)
      val nContam = ds.count(d => shingles(d._3).exists(benchUniverse)).toLong
      val nDup = ds.count(d => textCounts(d._3) > 1).toLong
      lang -> ((nDocs,
        BigDecimal(nDocs.toDouble / docs.length)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble,
        totalTokens,
        BigDecimal(meanQ).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble,
        nContam, nDup))
    }
    val got = SparkEntry.queries("q84_dataset_card")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3),
          r.getDouble(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (lang, w) =>
      val g = got(lang)
      assert(g._1 == w._1 && g._3 == w._3 && g._5 == w._5 && g._6 == w._6,
        s"$lang counts: engine $g vs replay $w")
      assert(math.abs(g._2 - w._2) <= 1e-9 && math.abs(g._4 - w._4) <= 1e-9,
        s"$lang ratios: engine $g vs replay $w")
    }
  }

  test("q94 merkle manifest: a single-row edit flips exactly its own shard " +
      "hash and the root; every other shard is bit-identical") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    def manifest(d: org.apache.spark.sql.DataFrame) =
      graft.analytics.Sampling.merkleManifest(d, nShards = 8,
          blockSize = 4096, idCol = "doc_id", payloadCol = "text")
        .collect().map(r => r.getAs[Long]("shard") ->
          (r.getAs[Long]("n_docs"), r.getAs[Long]("n_blocks"),
            r.getAs[String]("shard_hash"), r.getAs[String]("root_hash")))
        .toMap
    val a = manifest(docs)
    assert(a.values.map(_._4).toSet.size === 1, "one root for the corpus")
    val mutated = docs.withColumn("text",
      when(col("doc_id") === 7L, concat(col("text"), lit("!")))
        .otherwise(col("text")))
    val b = manifest(mutated)
    val changed = a.keySet.filter(s => a(s)._3 != b(s)._3)
    assert(changed.size === 1, s"exactly one shard hash flips: $changed")
    assert(a.forall { case (s, v) => (v._1, v._2) == (b(s)._1, b(s)._2) },
      "structure (doc/block counts) is edit-invariant")
    assert(a.values.head._4 != b.values.head._4, "the root must flip")
    // determinism: repartitioning cannot move a hash (data-derived folds)
    val c = manifest(docs.repartition(7))
    assert(a === c, "partition-order independence")
  }

  test("q102 incremental merkle: block reuse wins strictly on the append " +
      "cut, and a STALE pre-delta block table is detected — the match " +
      "flag compares content, not structure") {
    import graft.analytics.Sampling
    val dir = "/root/testdata/sf0.001"
    // the catalog composition on honest inputs: all-TRUE flags and a
    // strict reuse win (touched < total blocks on every shard)
    val out = SparkEntry.queries("q102_manifest_delta")(spark, dir)
      .collect().map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_blocks"),
        r.getAs[Long]("n_blocks_touched"), r.getAs[Boolean]("incr_matches_full")))
    assert(out.forall(_._4), s"honest incremental must match full: ${out.toSeq}")
    assert(out.forall(t => t._3 < t._2), s"append cut must reuse blocks: ${out.toSeq}")
    // stale-b0 composition: one BASE row's payload corrupted only in the
    // pre-delta block table — its reused block hash is stale, so its
    // shard hash mismatches and (through the root) every row's flag
    // trips. A flag that only checked structure would stay TRUE.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cut = docs.agg((max(col("doc_id")) -
      expr("max(doc_id) div 10")).as("cut"))
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      Sampling.merkleRows(d, nShards = 8, blockSize = 64,
          idCol = "doc_id", payloadCol = "text")
        .crossJoin(broadcast(cut))
    val honest = rowsOf(docs)
    val corrupted = rowsOf(docs.withColumn("text",
      when(col("doc_id") === 7L, concat(col("text"), lit("!")))
        .otherwise(col("text"))))
    val b0stale = Sampling.merkleBlocks(corrupted.where(col("id") < col("cut")))
    val touched = honest.where(col("id") >= col("cut"))
      .select(col("shard"), col("blk")).distinct()
    val incr = Sampling.manifestFromBlocks(
      b0stale.join(broadcast(touched), Seq("shard", "blk"), "left_anti")
        .unionByName(Sampling.merkleBlocks(
          honest.join(broadcast(touched), Seq("shard", "blk"), "left_semi"))))
    val full = Sampling.merkleManifest(docs, nShards = 8, blockSize = 64,
      idCol = "doc_id", payloadCol = "text")
    val cmp = incr.select(col("shard"), col("shard_hash"), col("root_hash"))
      .join(full.select(col("shard"), col("shard_hash").as("fsh"),
        col("root_hash").as("frh")), Seq("shard"))
      .collect().map(r => (r.getString(1) == r.getString(3),
        r.getString(2) == r.getString(4)))
    assert(cmp.count(!_._1) === 1, "exactly doc 7's shard hash goes stale")
    assert(cmp.forall(!_._2), "the stale block must flip the root everywhere")
  }

  test("q98 temperature mix: hand fixture has analytic weights; weights sum " +
      "to 1; upsample boosts exactly the tail domain") {
    import spark.implicits._
    // A holds 90 of 100 chars, B 10 — √0.9 = 3·√0.1, so the α=1/2 weights
    // are EXACTLY 3/4 and 1/4 and every downstream field is analytic
    val docs = Seq(("A", 50L), ("A", 40L), ("B", 10L))
      .toDF("source", "n_chars")
    val got = graft.analytics.Sampling.temperatureMix(docs, "source",
        "n_chars", tokenBudget = 1000L).orderBy("source").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_chars"), r.getAs[Double]("share"),
        r.getAs[Double]("weight"), r.getAs[Double]("upsample"),
        r.getAs[Double]("epochs")))
    assert(got.toSeq === Seq(
      ("A", 2L, 90L, 0.9, 0.75, 0.833333, 33.333333),
      ("B", 1L, 10L, 0.1, 0.25, 2.5, 100.0)), s"got ${got.toSeq}")
    // on the real corpus: weights sum to 1 (decimal-fold normalizer) and
    // upsample > 1 exactly for below-uniform-share domains
    val real = graft.analytics.Sampling.temperatureMix(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("source"), col("n_chars")),
      "source", "n_chars", tokenBudget = 1000000L).collect()
    val wsum = real.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-7, s"weights sum to $wsum")
    // √-temperature flattens: upsample ordering inverts share ordering
    val byShare = real.map(r =>
      (r.getAs[Double]("share"), r.getAs[Double]("upsample"))).sortBy(_._1)
    assert(byShare.map(_._2).toSeq === byShare.map(_._2).sortBy(-_).toSeq,
      "upsample must be monotone-decreasing in share")
  }

  test("q99 shard rebalance: consistent hashing moves a small fraction and " +
      "ONLY onto the new shard; mod-hash remaps most keys everywhere") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").select(col("doc_id"))
    val got = graft.analytics.Sampling.shardRebalance(docs, n = 8, vnodes = 16)
      .orderBy("strategy").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_moved"), r.getAs[Long]("n_moved_to_new"),
        r.getAs[Double]("moved_frac")))
    val Array(m, ring) = got
    assert(m._1 === "mod" && ring._1 === "ring" && m._2 === ring._2)
    // the consistent-hashing LOCALITY guarantee: a key moves only when
    // the new shard's vnode claims its arc — so every mover lands there
    assert(ring._3 === ring._4,
      s"ring movers must ALL land on the new shard: $ring")
    // mod-hash scatters: movers land on whichever residue class shifts
    // under the new modulus — only ~1/(n+1) of them hit the new shard
    assert(m._4 < m._3, s"mod movers must scatter beyond the new shard: $m")
    // magnitudes: mod remaps ~n/(n+1) ≈ 0.889 of ALL keys; the ring only
    // the new node's arc share ≈ 1/9 (wide bounds — 100 docs at sf0.001)
    assert(m._5 > 0.7 && m._5 <= 1.0, s"mod moved_frac out of band: $m")
    assert(ring._5 < 0.35 && ring._5 < m._5 / 2,
      s"ring moved_frac must undercut mod by far: ring=$ring mod=$m")
  }

  test("null array ELEMENTS: null info drops (never a context-only record), " +
      "null eventNotif drops, siblings survive — documented resilience vs " +
      "the reference's whole-request 500 (receiver.py:384–385)") {
    // shape 1: null element inside eventNotifs alongside a valid notif
    val nullNotif = s"""{"notifId":"${Fixtures.NotifId}","eventNotifs":[null,""" +
      """{"event":"PERF_DATA","perfDataInfos":[{"appId":"keep-me"}]}]}"""
    // shape 2: null element inside the infos array alongside a valid info —
    // before the round-17 fix this fabricated a context-tags-only envelope
    // (the subscription ctx alone passes hasAnyTag)
    val nullInfo = s"""{"notifId":"${Fixtures.NotifId}","eventNotifs":[""" +
      """{"event":"PERF_DATA","perfDataInfos":[null,{"appId":"keep-me-2"}]}]}"""
    val out = rows(envelopes(nullNotif, nullInfo))
    assert(out.size === 2, s"exactly the two sibling records survive: $out")
    val apps = out.map(_.getAs[org.apache.spark.sql.Row]("tags")
      .getAs[String]("appId")).toSet
    assert(apps === Set("keep-me", "keep-me-2"),
      s"null elements must never become records: $apps")
    // shape 3: a STRING where an info struct belongs corrupts the whole
    // payload row (PERMISSIVE from_json) — zero records, convergent with
    // the reference's 500 for the same input
    val typeConfusion = s"""{"notifId":"${Fixtures.NotifId}","eventNotifs":[""" +
      """{"event":"PERF_DATA","perfDataInfos":["garbage",{"appId":"keep-me-3"}]}]}"""
    assert(rows(envelopes(typeConfusion)).isEmpty,
      "type-confused payload must drop whole, like the reference's 500")
  }

  test("fuzz corpus: the data plane's envelopes are pinned by count and " +
      "sorted-JSON SHA-256 (tools/fuzz, fixed now)") {
    val env = Ingest.envelopes(Ingest.parseNotifications(FuzzCorpus.raw(spark)),
      FuzzCorpus.subscriptions(spark), now = lit(FuzzCorpus.NowSec))
    val lines = FuzzCorpus.sortedJsonLines(env)
    assert(lines.size === 9384)
    assert(FuzzCorpus.sha256(lines) === "38d7399ec32c930cf63284ea9b403eca7a6fc32cda8385b6eef1016ea2f96d62")
  }
}
