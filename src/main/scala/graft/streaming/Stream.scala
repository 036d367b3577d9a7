package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.Ingest
import graft.policy.Policy
import graft.sinks.Sinks

/** H2/H4/H5/H7 — the Structured Streaming driver around the batch-identical
  * transform library.
  *
  * The reference is a streaming service end-to-end (receiver.py:354–458):
  * each HTTP request is one micro-batch — parse → enrich → normalize →
  * policy → one Kafka message per request, at-most-once (produce failures
  * swallowed, receiver.py:446–456). The Spark-native equivalent is a
  * `readStream` source of raw notification JSON driven through the SAME
  * `Ingest` composition as a streaming query, analyzed once per query, with
  * `foreachBatch` only grouping and delivering, and a checkpoint directory:
  * delivery becomes at-least-once (a beneficial, documented deviation —
  * SURVEY.md H5), batching is the micro-batch trigger (H7), and per-
  * subscription ordering rides the notifId message key (H6).
  */
object Stream {

  /** Run the NEF data plane over a streaming DataFrame of raw JSON
    * notifications (one JSON document per row in `jsonCol`).
    *
    * Parse → enrich → normalize → policy → per-record serialization
    * ([[graft.sinks.Sinks.serializedRecords]]) are applied to the streaming
    * DataFrame itself, so Catalyst analyzes them once per query and only
    * re-plans them per micro-batch. `foreachBatch` receives the serialized
    * rows and does the per-batch part alone: the per-notifId grouping
    * ([[graft.sinks.Sinks.groupedBatches]]) and `sendBatch`. The default
    * clock is the micro-batch timestamp ([[envelopeStream]]).
    *
    * `sendBatch` receives the per-micro-batch Kafka-shaped frame
    * (key = notifId, value = JSON array) — in production a Kafka writer,
    * in tests a memory collector. The empty-batch short-circuit (C7,
    * receiver.py:391–392) needs no guard: when no record survives, the
    * grouping emits no row, so `sendBatch` gets an empty frame and sends
    * no message. A per-batch emptiness check would cost one more Spark job
    * per micro-batch, re-reading the source.
    */
  def runIngest(
      raw: DataFrame,
      subscriptions: DataFrame,
      checkpointDir: String,
      sendBatch: (DataFrame, Long) => Unit,
      rules: Policy.Rules = Policy.Rules.allowAll,
      jsonCol: String = "value",
      now: Option[Column] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.serializedRecords(envelopeStream(raw, subscriptions, rules, jsonCol, now))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sendBatch(Sinks.groupedBatches(batch), batchId)
      }
      .start()

  /** Full streaming pipeline to envelopes (for sinks that want the flat
    * record stream rather than the batched Kafka shape). `now` is the
    * processing-time fallback clock, by default `current_timestamp()`,
    * which on a streaming frame is the micro-batch timestamp.
    */
  def envelopeStream(
      raw: DataFrame,
      subscriptions: DataFrame,
      rules: Policy.Rules = Policy.Rules.allowAll,
      jsonCol: String = "value",
      now: Option[Column] = None): DataFrame =
    Ingest.envelopes(Ingest.parseNotifications(raw, jsonCol), subscriptions, rules,
      now.getOrElse(unix_timestamp(current_timestamp())))

  /** H2/H3 — event-time tumbling-window aggregation with a watermark over
    * the envelope stream: per (window, event-type) record counts. The
    * reference has no lateness concept (every arriving record is processed,
    * SURVEY H2) — this is the engine's added stateful analytics surface, so
    * it gets real watermark semantics: late rows beyond `watermarkDelay`
    * are dropped and completed windows are emitted exactly once in append
    * mode. Works identically over a batch envelope frame (the watermark is
    * a no-op there).
    */
  def windowedEventCounts(envelopes: DataFrame,
      windowDur: String = "1 hour", watermarkDelay: String = "10 minutes"): DataFrame =
    envelopes
      .withColumn("event_time", timestamp_seconds(col("timestamp")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowDur), col("event"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("window_start"), col("event"), col("n"))

  /** H3 streaming — SESSION windows with a watermark over the envelope
    * stream: per (session, event) record counts, append mode. A session
    * groups events whose gaps are ≤ `gap` (window end = last event +
    * gap); a session is emitted exactly once, when the watermark passes
    * its end and it can no longer grow or merge. The stateful sibling of
    * [[windowedEventCounts]] — session windows carry MERGEABLE state (two
    * sessions fuse when a bridging event arrives), which is exactly what
    * q24 computes statically with the gaps-and-islands oracle. Works
    * identically over a batch envelope frame.
    */
  def sessionizedEventCounts(envelopes: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    envelopes
      .withColumn("event_time", timestamp_seconds(col("timestamp")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(session_window(col("event_time"), gap), col("event"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("session_window.start")).as("session_start"),
        unix_timestamp(col("session_window.end")).as("session_end"),
        col("event"), col("n"))

  /** Per-subscription running activity, emitted on every micro-batch the
    * subscription appears in. */
  case class SubActivity(notifId: String, totalRecords: Long, lastTimestamp: Long)

  /** Custom arbitrary state via `flatMapGroupsWithState` (the
    * `KeyValueGroupedDataset` path for state the built-in aggregations
    * can't express): a per-subscription (record count, max event time)
    * accumulator surviving restarts through the checkpoint — the typed
    * analog of the reference's per-subscription bookkeeping. Unbounded
    * keyed state like the reference's registry (one state row per active
    * subscription — dimension-sized, not data-sized).
    */
  def subscriptionActivity(envelopes: DataFrame): Dataset[SubActivity] = {
    import envelopes.sparkSession.implicits._
    envelopes
      .select(col("notifId").cast("string"), col("timestamp").cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), SubActivity](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, Long)]) =>
          val (c0, t0) = state.getOption.getOrElse((0L, 0L))
          var c = c0
          var tMax = t0
          rows.foreach { case (_, ts) => c += 1; tMax = math.max(tMax, ts) }
          state.update((c, tMax))
          Iterator(SubActivity(key, c, tMax))
      }
  }

  /** [[subscriptionActivity]]'s accumulator as a Spark-4
    * `transformWithState` StatefulProcessor — the arbitrary-state API a
    * production pipeline should target over `flatMapGroupsWithState`:
    * NAMED typed state handles (value/list/map, each its own column
    * family in the store instead of one opaque blob), per-state TTL,
    * event/processing-time timers, and schema-evolvable state. Requires
    * the RocksDB state-store provider (enforced at query start), which
    * is also the 100 TB answer for state larger than executor heap —
    * changelog-checkpointed off-heap state per partition.
    */
  final class SubActivityProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), SubActivity] {
    import implicits._
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long)]("activity",
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SubActivity] = {
      val (c0, t0) = if (state.exists()) state.get() else (0L, 0L)
      var c = c0
      var tMax = t0
      rows.foreach { case (_, ts) => c += 1; tMax = math.max(tMax, ts) }
      state.update((c, tMax))
      Iterator(SubActivity(key, c, tMax))
    }
  }

  /** One closed session: key, record count, first/last event seconds. */
  case class SessionClose(key: String, nRecords: Long,
    firstEventSec: Long, lastEventSec: Long)

  /** Session closing with EVENT-TIME TIMERS — the transformWithState
    * capability `session_window` (H3) cannot express: emit a session's
    * summary the moment the WATERMARK proves it over, not only when a
    * newer record from the same key shows up. Two close paths, both
    * exercised by StreamingSpec:
    *  - inline: a record beyond `gapSec` of the session's last event
    *    closes it in `handleInputRows` (batch rows folded in ts order);
    *  - timer: `registerTimer(lastEvent + gap)` arms per key, re-armed on
    *    every update (previous timer deleted); when the watermark passes
    *    it with no newer record, `handleExpiredTimer` emits the close and
    *    clears the state — bounded state without same-key traffic.
    *
    * Input frame needs (`k` string, `ts` epoch seconds). State per key is
    * one (count, first, last) triple + one timer — subscription-sized.
    */
  final class SessionCloseProcessor(gapSec: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), SessionClose] {
    import implicits._
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long, Long)]("session",
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionClose] = {
      val closed = scala.collection.mutable.ArrayBuffer.empty[SessionClose]
      var cur = if (state.exists()) Some(state.get()) else None
      rows.map(_._2).toSeq.sorted.foreach { ts =>
        cur match {
          case Some((c, f, l)) if ts - l > gapSec =>
            closed += SessionClose(key, c, f, l)
            cur = Some((1L, ts, ts))
          case Some((c, f, l)) =>
            cur = Some((c + 1L, f, math.max(l, ts)))
          case None =>
            cur = Some((1L, ts, ts))
        }
      }
      cur.foreach { s =>
        state.update(s)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer((s._3 + gapSec) * 1000L)
      }
      closed.iterator
    }

    override def handleExpiredTimer(key: String,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionClose] = {
      val out = if (state.exists()) {
        val (c, f, l) = state.get()
        Iterator.single(SessionClose(key, c, f, l))
      } else Iterator.empty
      state.clear()
      out
    }
  }

  /** One discovered metric field with its running observation count. */
  case class FieldCount(notifId: String, field: String, n: Long)

  /** E1/D3 on transformWithState MAP state: per-subscription metric-key
    * counts — each key is its own MapState entry, so an update touches
    * ONE state row instead of rewriting a whole accumulated-set blob
    * (the flatMapGroupsWithState/ValueState cost model inverts once the
    * per-key universe grows: Value state = O(universe) serialization per
    * batch, Map state = O(keys touched)). Emits only fields whose count
    * CHANGED this batch — the on-delta contract FieldRegistry wants.
    */
  final class FieldCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Seq[String]), FieldCount] {
    import implicits._
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("fieldCounts",
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Seq[String])],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[FieldCount] = {
      val touched = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.foreach { case (_, fields) =>
        fields.foreach { f =>
          val cur = touched.getOrElse(f,
            if (counts.containsKey(f)) counts.getValue(f) else 0L)
          touched.update(f, cur + 1L)
        }
      }
      touched.foreach { case (f, c) => counts.updateValue(f, c) }
      touched.iterator.map { case (f, c) => FieldCount(key, f, c) }
    }
  }

  case class RollingStat(key: String, n: Long, total: Long, latestTs: Long)

  /** E1/H4 on transformWithState LIST state — the third state kind next
    * to Value (SubActivityProcessor) and Map (FieldCountsProcessor): a
    * bounded last-`keep` observation window per key, the feature-store
    * rolling-window primitive (last-N metric average per subscription).
    * ListState keeps per-element state rows, so the window APPEND is
    * O(batch) — only the trim rewrites, and only when the window
    * overflows. Emits the post-batch rolling aggregate per touched key.
    *
    * Elements are (ts, value) and the window is ordered by (ts, value) —
    * a total order, so the retained set is deterministic under replays
    * regardless of arrival interleaving.
    */
  final class RecentEventsProcessor(keep: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Long), RollingStat] {
    import implicits._
    @transient private var recent:
      org.apache.spark.sql.streaming.ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      recent = getHandle.getListState[(Long, Long)]("recent",
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[RollingStat] = {
      val incoming = rows.map { case (_, ts, v) => (ts, v) }.toArray
      val prior = recent.get().toArray
      val all = (prior ++ incoming).sorted
      if (all.length <= keep && incoming.nonEmpty) {
        recent.appendList(incoming) // no overflow: pure append, no rewrite
      } else {
        recent.put(all.takeRight(keep))
      }
      val window = all.takeRight(keep)
      if (incoming.isEmpty || window.isEmpty) Iterator.empty
      else Iterator.single(RollingStat(key, window.length.toLong,
        window.map(_._2).sum, window.last._1))
    }
  }

  /** One near-duplicate candidate surfaced by the streaming dedup. */
  case class DupMatch(docId: Long, matchId: Long, bucket: Long,
    estJaccard: Double)

  /** d17/d21's batch-incremental MinHash probe as a transformWithState
    * processor — the rolling-ingest dedup that never re-reads the
    * corpus: the banded-LSH signature store IS the state. Keyed by band
    * BUCKET; MapState holds doc_id → signature for every document ever
    * routed to the bucket. An arriving document (in doc_id order within
    * the batch, for determinism) compares its k-element signature
    * against every stored signature — the same agreeing-position
    * estimate as Dedup.estJaccard — emits matches ≥ threshold, then
    * enters the store.
    *
    * Replay absorption (H5) is SIGNATURE-keyed, not id-keyed: a
    * document whose stored signature EQUALS the incoming one is skipped
    * entirely — no duplicate emission, no state rewrite — so an
    * at-least-once replay of a committed micro-batch produces nothing.
    * A known id arriving with a DIFFERENT signature is an upstream
    * correction (the text changed), not a replay: it re-probes the
    * bucket (self excluded) and overwrites the stored signature —
    * keying on id alone would silently drop corrections, leaving the
    * store stale forever. Restart durability: the store lives in the
    * RocksDB state checkpoint, proven by StreamingSpec's restart-resume
    * scenario (batch 2 matches against batch 1's signatures after a
    * full query restart).
    *
    * Scale shape: state is partitioned by bucket key across executors
    * (RocksDB, off-heap); per-batch work is O(batch bands × bucket
    * occupancy) — the d21 candidate model — and nothing ever scans the
    * historical corpus.
    */
  final class BucketSignatureProcessor(k: Int, threshold: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Seq[Long]), DupMatch] {
    import implicits._
    @transient private var sigs:
      org.apache.spark.sql.streaming.MapState[Long, Seq[Long]] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sigs = getHandle.getMapState[Long, Seq[Long]]("sigs",
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(bucket: Long,
        rows: Iterator[(Long, Long, Seq[Long])],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[DupMatch] = {
      val incoming = rows.map { case (_, id, sig) => (id, sig) }
        .toArray.sortBy(_._1)
      val out = scala.collection.mutable.ArrayBuffer.empty[DupMatch]
      incoming.foreach { case (id, sig) =>
        val stored = if (sigs.containsKey(id)) sigs.getValue(id) else null
        // equal signature → at-least-once replay: absorbed. Different
        // signature under a known id → upstream CORRECTION: re-probe
        // (self excluded) and overwrite the stored signature.
        if (stored == null || stored != sig) {
          sigs.iterator().foreach { case (mid, msig) =>
            if (mid != id) {
              val est = sig.iterator.zip(msig.iterator)
                .count { case (a, b) => a == b }.toDouble / k
              if (est >= threshold) out += DupMatch(id, mid, bucket, est)
            }
          }
          sigs.updateValue(id, sig)
        }
      }
      out.iterator
    }
  }

  /** [[BucketSignatureProcessor]] over a streaming (doc_id, text) frame:
    * portable MinHash signatures (pure per-row HOFs — streaming-safe),
    * banded bucket keys (Dedup.bandBuckets' exact expression), then the
    * stateful per-bucket probe. A pair colliding in several bands
    * surfaces once per band — candidates, deduped by the consumer.
    */
  def incrementalDedupTws(docs: DataFrame, n: Int, k: Int, bands: Int,
      threshold: Double): Dataset[DupMatch] = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    import docs.sparkSession.implicits._
    graft.analytics.Dedup.minhashSignaturesPortable(docs, n, k)
      .select(col("id"), col("sig"),
        explode(graft.analytics.Dedup.bandBucketKeys(col("sig"), bands, k / bands))
          .as("bucket"))
      .select(col("bucket").cast("long"), col("id").cast("long"), col("sig"))
      .as[(Long, Long, Seq[Long])]
      .groupByKey(_._1)
      .transformWithState(new BucketSignatureProcessor(k, threshold),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** One n-gram first seen in the stream, credited to a document. */
  case class NovelGram(docId: Long, gram: String)

  /** t33's batch≡stream twin: per-gram FIRST-SEEN election as
    * transformWithState ValueState — the incremental form of
    * [[graft.analytics.TextAnalysis.noveltyScores]]'s `min(doc_id)` per
    * gram. The first document a gram ever presents (lowest doc_id within
    * its batch) is emitted as that gram's novelty credit and recorded;
    * any arrival in a LATER batch — including an at-least-once replay of
    * already-processed data — finds the state occupied and absorbs
    * silently, so summing emissions per doc across batches is exactly
    * the batch operator's `n_novel` under id-ascending ingest (the same
    * first-seen ≡ min-id contract the dedup gate and the q38 curation
    * gate pin in StreamingSpec). One H5 caveat absorption cannot cover:
    * a mid-batch engine RETRY re-runs the crediting batch against the
    * rolled-back state version and re-emits its credits — standard
    * Structured Streaming semantics, so a consumer folding credits into
    * an external store must be idempotent per (batchId, gram) like any
    * foreachBatch sink.
    *
    * Scale shape: state is one long per DISTINCT gram — the biggest key
    * space in the streaming layer, which is precisely what the RocksDB
    * provider's off-heap, changelog-checkpointed store is for; per-batch
    * work is O(batch grams), nothing rescans history.
    */
  final class GramFirstSeenProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), NovelGram] {
    import implicits._
    @transient private var first:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      first = getHandle.getValueState[Long]("first",
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(gram: String, rows: Iterator[(String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[NovelGram] = {
      if (first.exists()) Iterator.empty
      else {
        var mn = Long.MaxValue
        rows.foreach { case (_, id) => if (id < mn) mn = id }
        if (mn == Long.MaxValue) Iterator.empty
        else { first.update(mn); Iterator.single(NovelGram(mn, gram)) }
      }
    }
  }

  /** [[GramFirstSeenProcessor]] over a streaming (doc_id, text) frame:
    * the same tokenize → distinct-shingle expressions the batch operator
    * uses (per-row HOFs — streaming-safe), exploded to (gram, id) and
    * keyed by gram. Consumers sum emissions per docId for `n_novel`;
    * `n_grams` is stateless per doc (size of its distinct shingle set).
    */
  def incrementalNoveltyTws(docs: DataFrame, n: Int): Dataset[NovelGram] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id").cast("long").as("id"),
        graft.analytics.TextAnalysis.tokens(col("text")).as("ws"))
      .select(col("id"),
        explode(graft.analytics.Dedup.shinglesFromTokens(col("ws"), n)).as("g"))
      .select(col("g"), col("id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new GramFirstSeenProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** One counter row of a group's streaming Misra-Gries summary. */
  case class HeavyHitter(group: String, term: String, weight: Long)

  /** q47's Misra-Gries heavy-hitters summary as a transformWithState
    * processor (r15 verdict task 5 — the last batch-has-it/stream-doesn't
    * gap): per key-group, a ValueState holds the k-counter summary; each
    * micro-batch's EXACT term counts are folded in through THE SAME
    * [[graft.analytics.Sketches.mgMerge]] the batch Aggregator uses (one
    * merge rule, zero drift — the bandBucketKeys convention), so the MG
    * guarantee (undercount ≤ n/(k+1); every true heavy hitter keeps a
    * positive counter) holds over the whole stream prefix after every
    * batch, across restarts, under ANY batch partitioning.
    *
    * At-least-once absorption rides the repo's id-ascending ingest
    * contract (the d17/t33 streaming discipline): a per-group high-water
    * mark drops rows whose item id is ≤ the stored maximum, so a
    * replayed batch cannot double-count. Emission per batch = the
    * group's FULL updated summary (a consumer overwrites the group's
    * rows per batch — idempotent by construction, H6's deterministic
    * ordering via the term-sorted iterator).
    *
    * Scale shape: state per group is ≤ k counters + one long — control
    * data regardless of stream volume; per-batch work is O(batch rows)
    * for the count fold plus O(k log k) for the merge.
    */
  final class HeavyHittersProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, String), HeavyHitter] {
    import implicits._
    @transient private var summary:
      org.apache.spark.sql.streaming.ValueState[Map[String, Long]] = _
    @transient private var maxId:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      summary = getHandle.getValueState[Map[String, Long]]("mg",
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      maxId = getHandle.getValueState[Long]("maxId",
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(group: String,
        rows: Iterator[(String, Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[HeavyHitter] = {
      val hwm = if (maxId.exists()) maxId.get() else Long.MinValue
      val counts = scala.collection.mutable.Map.empty[String, Long]
      var mx = hwm
      rows.foreach { case (_, id, term) =>
        if (id > hwm) {
          counts(term) = counts.getOrElse(term, 0L) + 1L
          if (id > mx) mx = id
        }
      }
      if (counts.isEmpty) Iterator.empty // fully-replayed batch: absorbed
      else {
        val cur = if (summary.exists()) summary.get() else Map.empty[String, Long]
        val merged = graft.analytics.Sketches.mgMerge(k)(cur, counts.toMap)
        summary.update(merged)
        maxId.update(mx)
        merged.toSeq.sortBy(_._1).iterator
          .map { case (t, c) => HeavyHitter(group, t, c) }
      }
    }
  }

  /** [[HeavyHittersProcessor]] over a streaming (group, item_id, term)
    * frame. Consumers keep each group's LAST emitted row set (the
    * summary is re-emitted whole per contributing batch).
    */
  def heavyHittersTws(items: DataFrame, k: Int): Dataset[HeavyHitter] = {
    import items.sparkSession.implicits._
    items
      .select(col("group").cast("string"), col("item_id").cast("long"),
        col("term").cast("string"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new HeavyHittersProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** One rank row of a group's streaming top-k (the full ranking is
    * re-emitted whenever it changes — overwrite-consumer semantics).
    */
  case class TopKEntry(group: String, rnk: Long, id: Long, score: Double)

  /** Streaming grouped top-k — the transformWithState twin of the batch
    * [[graft.operators.GroupedTopK]] aggregate, ranking by the SAME
    * shared total order (GroupedTopK.ord — the mgMerge no-drift
    * convention). State per group is the exactly-compacted ranking:
    * ≤ k (score, id) pairs, control data regardless of stream volume.
    *
    * Replay/duplicate absorption is structural, not high-water-marked:
    * an arriving id already IN the ranking is skipped; an id evicted
    * earlier re-inserts and re-evicts (the ranking only ever improves,
    * so once an entry is outranked by k better ones it stays outranked —
    * idempotent under any at-least-once replay). A batch that leaves the
    * ranking unchanged emits NOTHING; a batch that changes it re-emits
    * the group's full ranking in rank order (H6 determinism).
    */
  final class GroupedTopKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Double, Long), TopKEntry] {
    import implicits._
    @transient private var top:
      org.apache.spark.sql.streaming.ValueState[Seq[(Double, Long)]] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      top = getHandle.getValueState[Seq[(Double, Long)]]("topk",
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(group: String,
        rows: Iterator[(String, Double, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TopKEntry] = {
      val before = if (top.exists()) top.get() else Seq.empty[(Double, Long)]
      var cur = before
      rows.foreach { case (_, score, id) =>
        if (!score.isNaN && !cur.exists(_._2 == id))
          cur = graft.operators.GroupedTopK.compactTo(k,
            (cur :+ (score, id)).sorted(graft.operators.GroupedTopK.ord))
      }
      if (cur == before) Iterator.empty // absorbed: nothing outranked
      else {
        top.update(cur)
        cur.iterator.zipWithIndex.map { case ((score, id), i) =>
          TopKEntry(group, (i + 1).toLong, id, score)
        }
      }
    }
  }

  /** [[GroupedTopKProcessor]] over a streaming (group, score, id) frame.
    * Consumers keep each group's LAST emitted ranking.
    */
  def groupedTopKTws(items: DataFrame, k: Int): Dataset[TopKEntry] = {
    import items.sparkSession.implicits._
    items
      .select(col("group").cast("string"), col("score").cast("double"),
        col("id").cast("long"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .transformWithState(new GroupedTopKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** One document surviving the streaming exact-dedup gate. */
  case class KeptDoc(docId: Long, lang: String, text: String)

  /** q38's exact-dedup survivor election as a transformWithState
    * processor — the streaming front half of the curation flagship:
    * keyed by the md5 CONTENT FINGERPRINT ([[graft.analytics.TextAnalysis
    * .contentFingerprint]] — the same expression Dedup.byFingerprint
    * groups on, so batch and stream agree on what "identical" means),
    * ValueState holds the keeper's doc id. The first document a
    * fingerprint ever presents (lowest doc_id within its batch) is
    * emitted and recorded; every later arrival is dropped — under
    * id-ascending ingest this IS batch q38's min-id survivor election,
    * the contract the parity spec pins. An at-least-once replay of the
    * keeper itself re-arrives under an occupied fingerprint and absorbs
    * silently (H5).
    *
    * Scale shape: state is one long per DISTINCT fingerprint, hash-
    * partitioned across executors (RocksDB, off-heap); per-batch work is
    * O(batch) — nothing ever rescans the corpus. Downstream (scoring,
    * quota) is stateless projection + the batch window over the
    * accumulated survivor sink.
    */
  final class FingerprintGateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, String, String), KeptDoc] {
    import implicits._
    @transient private var keep:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      keep = getHandle.getValueState[Long]("keep",
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(fp: String,
        rows: Iterator[(String, Long, String, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[KeptDoc] = {
      val incoming = rows.map { case (_, id, lang, text) => (id, lang, text) }
        .toArray.sortBy(_._1)
      if (incoming.isEmpty || keep.exists()) Iterator.empty
      else {
        val (id, lang, text) = incoming.head
        keep.update(id)
        Iterator.single(KeptDoc(id, lang, text))
      }
    }
  }

  /** [[FingerprintGateProcessor]] over a streaming (doc_id, lang, text)
    * frame — the q38 streaming twin's stateful gate. Compose downstream
    * as `curationGateTws(src)` → quality scoring (stateless) → the
    * per-language quota window over the accumulated survivors
    * (StreamingSpec's parity test does exactly that against batch q38).
    */
  def curationGateTws(docs: DataFrame): Dataset[KeptDoc] = {
    import docs.sparkSession.implicits._
    docs.select(
        graft.analytics.TextAnalysis.contentFingerprint(col("text")).as("fp"),
        col("doc_id").cast("long"), col("lang").cast("string"),
        col("text").cast("string"))
      .as[(String, Long, String, String)]
      .groupByKey(_._1)
      .transformWithState(new FingerprintGateProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** [[RecentEventsProcessor]] over a (k, ts, v) frame: per-key rolling
    * last-`keep` stats, checkpoint-durable (RocksDB state store).
    */
  def recentActivityTws(events: DataFrame, keep: Int): Dataset[RollingStat] = {
    import events.sparkSession.implicits._
    events
      .select(col("k").cast("string"), col("ts").cast("long"),
        col("v").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RecentEventsProcessor(keep),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** [[FieldCountsProcessor]] over the envelope stream: per notifId, the
    * per-batch delta of metric-field observation counts.
    */
  def fieldCountsTws(envelopes: DataFrame): Dataset[FieldCount] = {
    import envelopes.sparkSession.implicits._
    envelopes
      .select(col("notifId").cast("string"), map_keys(col("metrics")))
      .as[(String, Seq[String])]
      .groupByKey(_._1)
      .transformWithState(new FieldCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Watermarked session closing over a (k, ts-epoch-seconds) frame via
    * [[SessionCloseProcessor]]. RocksDB state store required (as for all
    * transformWithState operators).
    */
  def sessionCloseTws(events: DataFrame, gapSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[SessionClose] = {
    import events.sparkSession.implicits._
    events
      .select(col("k").cast("string").as("k"), col("ts").cast("long").as("ts"),
        timestamp_seconds(col("ts")).as("ets"))
      .withWatermark("ets", watermarkDelay)
      .select(col("k"), col("ts")).as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionCloseProcessor(gapSec),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[subscriptionActivity]] via [[SubActivityProcessor]] — identical
    * output contract (StreamingSpec runs the same restart-resume scenario
    * against both), different state machinery underneath.
    */
  def subscriptionActivityTws(envelopes: DataFrame): Dataset[SubActivity] = {
    import envelopes.sparkSession.implicits._
    envelopes
      .select(col("notifId").cast("string"), col("timestamp").cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new SubActivityProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Stream-stream INTERVAL join: for each left row, the right rows with
    * the same key whose event time falls in `[leftTs - lookback, leftTs]`.
    * Both sides carry a watermark, which is what BOUNDS THE JOIN STATE —
    * Spark buffers each side only until the other side's watermark passes
    * the interval, so state is O(rate × (lookback + delay)), not O(stream).
    * This is the shape for enriching a live stream with recent context
    * from ANOTHER live stream (vs. the broadcast stream-static join in
    * Ingest, and the batch as-of join in operators.AsOfJoin — which picks
    * only the single latest match).
    *
    * Column names must be disjoint apart from `keys` (pre-rename one side);
    * the timestamp columns must be TimestampType. Works identically on
    * batch frames (watermarks are no-ops there) — tested both ways.
    *
    * `joinType` "left_outer": unmatched left rows ARE emitted (with null
    * right columns) — but only once the right watermark has passed their
    * whole match interval, i.e. when Spark can PROVE no future right row
    * can match; until then they sit in state. This is the streaming outer
    * join's fundamental latency/completeness trade, driven entirely by
    * `watermarkDelay` (StreamingSpec demonstrates the eviction).
    *
    * `joinType` "full_outer": unmatched rows on BOTH sides are emitted
    * (with the other side's columns null) under the same
    * watermark-proof-then-evict rule. The output key columns coalesce the
    * two sides' copies, so a right-only row still carries its key.
    *
    * "inner", "left_outer" and "full_outer" are accepted; for right-outer
    * semantics swap the sides (the left frame's columns lead the output).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTsCol: String, rightTsCol: String,
      lookback: String = "30 seconds",
      watermarkDelay: String = "10 seconds",
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer", "full_outer").contains(joinType),
      s"intervalJoin supports inner, left_outer and full_outer, got " +
        s"$joinType (swap sides for right-outer semantics)")
    // fail fast (cf. AsOfJoin.leftAsOf): a shared non-key column would
    // otherwise surface much later as an ambiguous-reference analysis error
    for ((side, cols, ts) <- Seq(("left", left.columns, leftTsCol),
        ("right", right.columns, rightTsCol))) {
      val missing = (keys :+ ts).filterNot(cols.contains)
      require(missing.isEmpty,
        s"intervalJoin: $side frame is missing column(s) ${missing.mkString(", ")}")
    }
    val overlap = (left.columns.toSet & right.columns.toSet) -- keys
    require(overlap.isEmpty,
      s"intervalJoin: non-key column(s) ${overlap.mkString(", ")} exist on both " +
        "sides — rename one side first")
    val l = left.withWatermark(leftTsCol, watermarkDelay)
    val r = right.withWatermark(rightTsCol, watermarkDelay)
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      r(rightTsCol) >= l(leftTsCol) - expr(s"interval $lookback") &&
      r(rightTsCol) <= l(leftTsCol)
    val joined = l.join(r, cond, joinType)
    if (joinType == "full_outer")
      // a row unmatched on EITHER side leaves that side's key copy null —
      // fold the two copies into one output key column (select, not
      // withColumn+drop, so the key keeps its leading position)
      joined.select(
        keys.map(k => coalesce(l(k), r(k)).as(k)) ++
          (left.columns.filterNot(keys.contains).map(l(_)) ++
            right.columns.filterNot(keys.contains).map(r(_))): _*)
    else
      // drop the right side's copy of the join keys
      keys.foldLeft(joined)((df, k) => df.drop(r(k)))
  }

  /** SOURCE-side duplicate filtering with BOUNDED state: drops rows whose
    * `idCols` were already seen while their event time is within the
    * watermark (upstream redelivery — NEF re-notification, producer
    * retries); state for older keys is evicted, unlike the unbounded key
    * set a plain `dropDuplicates` accumulates at 100 TB/day ingest rates.
    *
    * This does NOT dedupe a SINK-side micro-batch replay: on restart after
    * a foreachBatch failure the operator's state rolls back to the
    * checkpoint taken BEFORE that batch, so the replayed rows pass the
    * filter again. End-to-end exactly-once additionally requires an
    * idempotent sink keyed on (batchId, row key) — the standard
    * foreachBatch contract.
    */
  def dedupWithinWatermark(stream: DataFrame, idCols: Seq[String],
      eventTimeCol: String, watermarkDelay: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  /** H5 — the idempotent-sink half of end-to-end exactly-once. foreachBatch
    * delivery is at-least-once (a batch whose sink failed is re-delivered
    * with the SAME batchId after restart — StreamingSpec proves the
    * redelivery), so a sink that UPSERTS by (batchId, key) makes the replay
    * overwrite its own partial first attempt instead of appending
    * duplicates: at-least-once delivery + idempotent writes = exactly-once
    * OBSERVABLE state, the standard foreachBatch contract this file's
    * dedupWithinWatermark doc points at.
    *
    * The store is the single-JVM analog of a transactional keyed target
    * (Delta `MERGE`, JDBC `INSERT .. ON CONFLICT DO UPDATE`): instances
    * carry only a `storeId`, and all closure copies in the JVM address one
    * shared table (how a remote keyed system behaves from every executor).
    */
  final class KeyedUpsertStore(val storeId: String) extends Serializable {
    private def table = KeyedUpsertStore.tableFor(storeId)
    /** Idempotent write: replaces any prior value for (batchId, key). */
    def upsert(batchId: Long, key: String, value: String): Unit =
      table.put((batchId, key), value)
    def snapshot: Map[(Long, String), String] = table.readOnlySnapshot().toMap
  }

  object KeyedUpsertStore {
    private val stores =
      scala.collection.concurrent.TrieMap
        .empty[String, scala.collection.concurrent.TrieMap[(Long, String), String]]
    private def tableFor(id: String) =
      stores.getOrElseUpdate(id, scala.collection.concurrent.TrieMap.empty)
  }

  /** A `sendBatch` adapter for [[runIngest]]: writes each (key, value) row
    * into `store` keyed by (batchId, key). The write path is
    * `foreachPartition` — executor-side, no driver materialization — which
    * is exactly where a production sink would open its per-partition
    * connection to the keyed target.
    */
  def upsertSender(store: KeyedUpsertStore): (DataFrame, Long) => Unit =
    (frame, batchId) =>
      frame.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach(r =>
          store.upsert(batchId, r.getAs[String]("key"), r.getAs[String]("value")))
      }

  /** A4 — the executable WebSocket fan-out analog (receiver.py:450–452):
    * the reference pushes each ingested record, wrapped
    * `{"type":"data_ingested","data":rec}`, to every WebSocket client
    * subscribed to that record's notifId. The hub is the single-JVM
    * stand-in for the push layer's connection registry (the
    * [[KeyedUpsertStore]] discipline: instances carry only an id, every
    * closure copy in the JVM addresses one shared table — how a remote
    * push service looks from every executor). Frames append per
    * connection in delivery order; a deployment swaps `push`'s table
    * write for the socket send and keeps the routing shape.
    */
  final class WebSocketHub(val hubId: String) extends Serializable {
    private def conns = WebSocketHub.tableFor(hubId)
    /** Register a client connection subscribed to one notifId. */
    def connect(connId: String, notifId: String): Unit =
      conns.put(connId,
        (notifId, new java.util.concurrent.ConcurrentLinkedQueue[String]()))
    /** Deliver a frame to every connection subscribed to `notifId`. */
    def push(notifId: String, frame: String): Unit =
      conns.values.foreach { case (nid, q) => if (nid == notifId) q.add(frame) }
    /** Frames delivered to one connection so far, in delivery order. */
    def frames(connId: String): Seq[String] =
      conns.get(connId)
        .map(_._2.toArray(new Array[String](0)).toSeq)
        .getOrElse(Seq.empty)
  }

  object WebSocketHub {
    private val hubs = scala.collection.concurrent.TrieMap.empty[String,
      scala.collection.concurrent.TrieMap[String,
        (String, java.util.concurrent.ConcurrentLinkedQueue[String])]]
    private def tableFor(id: String) =
      hubs.getOrElseUpdate(id, scala.collection.concurrent.TrieMap.empty)
  }

  /** A4 wiring: raw notification stream → envelopes → per-record
    * `data_ingested` frames ([[graft.sinks.Sinks.websocketMessages]]) →
    * hub routing. The frames are built by the streaming query itself
    * (analyzed once, like [[runIngest]]); `foreachBatch` only pushes. The
    * route runs `foreachPartition` executor-side — no driver
    * materialization; exactly where a production push layer holds its
    * per-partition connection pool. Delivery matches the reference's
    * semantics: every surviving record of a batch is pushed to that
    * notifId's subscribers, per record, not per batch.
    */
  def websocketFanoutStream(
      raw: DataFrame,
      subscriptions: DataFrame,
      checkpointDir: String,
      hub: WebSocketHub,
      rules: Policy.Rules = Policy.Rules.allowAll,
      jsonCol: String = "value",
      now: Option[Column] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Sinks.websocketMessages(envelopeStream(raw, subscriptions, rules, jsonCol, now))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach(r => hub.push(r.getAs[String]("key"), r.getAs[String]("value")))
        }
      }
      .start()

  /** Convenience: a file-based raw-notification stream (one JSON document
    * per line) — the test/demo source; production would use
    * `format("kafka")`.
    */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir)

  /** H4/H5 × the s29–s31 index lifecycle: STREAMING maintenance of a
    * persisted IVF lists index. `ops` is a stream of
    * `(op 'add'|'del', vec_id, embedding)` events; each micro-batch is
    * applied by [[graft.analytics.Similarity.applyIvfOpsBatch]] as ONE
    * dynamic-partition-overwrite write into the batch_id-partitioned ops
    * log, so a batch replayed after a crash overwrites its own partition
    * — exactly-once observable state on plain files, no transactional
    * store needed (the partition is the transaction). Readers see the
    * index through [[graft.analytics.Similarity.ivfListsTopKLive]]
    * (lists + winning ops, LSM-style), and
    * [[graft.analytics.Similarity.compactIvfListsStream]] periodically
    * folds the log back into the s31 artifact. StreamingSpec proves
    * crash-replay absorption, last-op-wins across batches (delete→re-add
    * with a new vector), equality with the batch-built index on the net
    * corpus, and live≡compacted answers.
    */
  def ivfMaintenanceStream(ops: DataFrame, table: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      onBatch: Long => Unit = _ => ()): StreamingQuery =
    ops.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.analytics.Similarity.applyIvfOpsBatch(batch, table, batchId)
        onBatch(batchId)
      }
      .start()
}
