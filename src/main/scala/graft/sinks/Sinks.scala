package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A3/E2 — per-notification batch-collect into one JSON-array message, plus
  * E1 — the discovered-metric-fields aggregation.
  */
object Sinks {

  /** E2 + A3: the reference serializes ALL surviving records of one request
    * as a single JSON array and produces one Kafka message
    * (receiver.py:442–445). Batch key = notifId, which also preserves
    * per-subscription ordering when used as the Kafka message key (H6).
    *
    * Schema note (documented deviation): the engine's envelope carries
    * `trajectory`/`comms` as typed sibling columns of the scalar `metrics`
    * map rather than inside one heterogeneous `metrics` dict; `to_json`
    * drops null fields (ignoreNullFields=true default), so absent metric
    * keys stay absent (C8).
    */
  /** `deterministicOrder` sorts the collected records by (timestamp, event)
    * before serializing: `collect_list` order is partition-arrival order,
    * which is nondeterministic under shuffles. The reference preserves
    * per-request arrival order (H6) — a single-writer property a
    * distributed engine replaces with an explicit sort key; the Kafka
    * message key (notifId) still gives per-subscription partition ordering.
    * (`array_sort` with a comparator, not `sort_array`: comparing whole
    * record structs is both illegal — the struct carries a map column,
    * which struct ordering rejects — and unnecessary.)
    *
    * Each record is serialized to its JSON form BEFORE the groupBy and the
    * array is assembled by string join, not `to_json(collect_list(struct))`.
    * Two reasons, both load-bearing at scale:
    *  - the aggregate's input projection then references the upstream
    *    parse subtree ONCE (notifId + one `to_json`). Collecting the raw
    *    6-field struct instead makes the collapsed projection repeat the
    *    `from_json` subtree per field — measured 3202 cpu-s vs 121 for
    *    this shape on a 1M-notification batch (26×), with the interpreted
    *    full-schema re-parse (`JsonToStructsEvaluator`) as the hot frame;
    *  - the shuffle then carries one compact string per record instead of
    *    nested structs with map columns (same batch: 983 GC-s vs 10).
    * Byte-equivalence of the two shapes: `to_json` of an array emits its
    * elements exactly as the per-element `to_json`, with no separator
    * whitespace, so bracket + comma-join reproduces it byte-for-byte
    * (q23's golden oracle pins this).
    */
  def kafkaBatches(records: DataFrame, deterministicOrder: Boolean = false): DataFrame =
    groupedBatches(serializedRecords(records, deterministicOrder))

  /** The stateless first step of [[kafkaBatches]]: `notifId` plus `k`, the
    * record's JSON form, or with `deterministicOrder` its sort-key struct
    * (`ts`, `ev`, `j` = the JSON form). It runs row by row, so a streaming
    * query can carry it (Stream.runIngest); the grouping needs the batch.
    */
  def serializedRecords(records: DataFrame, deterministicOrder: Boolean = false): DataFrame = {
    val json = to_json(struct(
      col("timestamp"), col("tags"), col("event"), col("metrics"),
      col("trajectory"), col("comms")))
    records.select(col("notifId"),
      (if (deterministicOrder)
        struct(col("timestamp").as("ts"), col("event").as("ev"), json.as("j"))
      else json).as("k"))
  }

  /** The per-batch second step of [[kafkaBatches]]: one `[r1,r2,…]` message
    * per notifId from [[serializedRecords]]' rows, sorted when `k` is the
    * sort-key struct.
    */
  def groupedBatches(serialized: DataFrame): DataFrame = {
    // total order: (timestamp, event) fast path, serialized-record final
    // tie-break — records tying on both keys (e.g. two same-second
    // perfDataInfos) must still sort deterministically, or the JSON array
    // keeps partition-arrival order and flips run-to-run. The sort key
    // (including the record's JSON form) is computed ONCE per element at
    // collect time; the comparator touches only those precomputed fields —
    // an array_sort comparator runs O(n log n) times, and serializing both
    // records inside it would re-run to_json per COMPARISON.
    def cmp(l: Column, r: Column): Column =
      when(l.getField("ts") < r.getField("ts"), -1)
        .when(l.getField("ts") > r.getField("ts"), 1)
        .when(l.getField("ev") < r.getField("ev"), -1)
        .when(l.getField("ev") > r.getField("ev"), 1)
        .when(l.getField("j") < r.getField("j"), -1)
        .when(l.getField("j") > r.getField("j"), 1)
        .otherwise(0)
    val collected = collect_list(col("k"))
    val sorted = serialized.schema("k").dataType.isInstanceOf[StructType]
    serialized
      .groupBy(col("notifId"))
      .agg((if (sorted) transform(array_sort(collected, cmp), k => k.getField("j"))
        else collected).as("js"))
      .select(
        col("notifId").as("key"),
        concat(lit("["), array_join(col("js"), ","), lit("]")).as("value"))
  }

  /** A4: per-record WebSocket fan-out payload
    * `{"type":"data_ingested","data":rec}` (receiver.py:450–452), keyed by
    * notifId for routing in a `foreachBatch` push layer.
    */
  def websocketMessages(records: DataFrame): DataFrame =
    records.select(
      col("notifId").as("key"),
      to_json(struct(
        lit("data_ingested").as("type"),
        struct(col("timestamp"), col("tags"), col("event"), col("metrics"),
          col("trajectory"), col("comms")).as("data"))).as("value"))

  /** E1: the reference's global `_discovered_fields` set — every metric key
    * ever seen (receiver.py:45–46, 394–397). The two array payloads count as
    * the keys "trajectory"/"comms" (they are `metrics` dict keys there).
    * The same frame serves both modes: on a streaming frame `distinct()`
    * is a watermark-free `dropDuplicates` — the same unbounded distinct-set
    * state, made durable by the checkpoint, strictly better than the
    * reference's in-memory set, which is lost on restart (SURVEY.md H4) —
    * and an append-mode query emits each field name once, when first seen.
    */
  def discoveredFields(records: DataFrame): DataFrame =
    records
      .select(explode(map_keys(col("metrics"))).as("field"))
      .unionAll(records.where(col("trajectory").isNotNull)
        .select(lit("trajectory").as("field")))
      .unionAll(records.where(col("comms").isNotNull)
        .select(lit("comms").as("field")))
      .distinct()
}

/** D3 — the dynamic-registration CONTROL LOOP on top of
  * [[Sinks.discoveredFields]]: the reference re-registers its output schema
  * with the registry service whenever a batch surfaces a metric field it
  * has not seen before (receiver.py:399–410 — "if new fields discovered →
  * call registration once with the full field set"). The engine's analog:
  * per micro-batch, diff the batch's discovered fields against the
  * registered universe; on any delta, invoke `onRegister` EXACTLY ONCE with
  * the ENLARGED universe. Idempotent batches (no new fields) invoke nothing.
  *
  * The per-batch `collect` here is a driver-side CONTROL decision over the
  * distinct field-NAME set (dimension-sized — a handful of metric names,
  * bounded by the schema, not the data volume); the aggregation that
  * produces it is the same distributed plan as q21. This is the standard
  * shape for control loops at 100 TB: the data path stays distributed, only
  * the decision variable lands on the driver.
  */
final class FieldRegistry(onRegister: Set[String] => Unit) {
  @volatile private var registered = Set.empty[String]

  /** The currently-registered field universe. */
  def universe: Set[String] = registered

  /** Process one (micro-)batch of envelopes; registers once if the batch
    * enlarges the universe. Returns the newly-discovered fields.
    */
  def observe(envelopes: DataFrame): Set[String] = synchronized {
    import envelopes.sparkSession.implicits._
    val batchFields = Sinks.discoveredFields(envelopes).as[String].collect().toSet
    val fresh = batchFields -- registered
    if (fresh.nonEmpty) {
      registered = registered ++ fresh
      onRegister(registered)
    }
    fresh
  }
}
