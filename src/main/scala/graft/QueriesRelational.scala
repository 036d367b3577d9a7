package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.analytics.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.QueryHelpers._

/** Relational core (q01-q35): TPC-H-shaped aggregation, joins,
  * windows, set ops, percentiles, sketches, plus the NEF fixture queries
  * (q17-q26).
  *
  * Extracted from the original single-file SparkEntry catalog; the
  * driver contract is unchanged — [[SparkEntry.queries]] and
  * [[SparkEntry.oracleSql]] concatenate the family maps. Shared
  * helpers (including the numeric-portability conventions documented
  * on [[SparkEntry]]) live in [[QueryHelpers]].
  */
private[graft] object QueriesRelational {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // E3/G2 — TPC-H-Q1-shaped hash aggregation with partial+final agg.
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"), 18, 2)).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"), 18, 2)).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice"), 18, 2) * dec(lit(1) - col("l_discount"), 3, 2)).cast("double").as("sum_disc_price"),
          sum(dec(col("l_extendedprice"), 18, 2) * dec(lit(1) - col("l_discount"), 3, 2) * dec(lit(1) + col("l_tax"), 3, 2)).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),


    // A7/C — scan with predicate pushdown + column pruning; raw row passthrough.
    "q02_filter_pushdown" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_quantity") < 3)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),


    // B2 — three-way join (customer ⋈ orders ⋈ lineitem) + agg + top-k.
    "q03_top_customers" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(
          sum(dec(col("l_extendedprice"), 18, 2) * dec(lit(1) - col("l_discount"), 3, 2)).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    }),


    // B1-analog — broadcast hash joins against tiny dims (region, nation).
    "q04_broadcast_dims" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(dec(col("c_acctbal"), 18, 2)).cast("double").as("total_acctbal"))
        .orderBy(col("r_name"), col("n_name"))
    }),


    // B1 semi — EXISTS as left_semi join.
    "q05_semi_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey"))
    }),


    // B1 anti — NOT EXISTS as left_anti join (the reference's 403 path shape).
    "q06_anti_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),


    // G1 — ranking window, deterministic tie-break.
    "q07_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"))
    }),


    // G1 — running aggregate + lag over event-time order.
    "q08_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("running_spend",
          sum(dec(col("o_totalprice"), 18, 2))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("double"))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("running_spend"), col("prev_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),


    // E5 — rollup grouping sets.
    "q09_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"), 18, 2)).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),


    // E4 — exact distinct counts (partial aggregation under the hood).
    "q10_count_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),


    // G5 — intersect.
    "q11_intersect" -> ((s, dir) => {
      val rich = t(s, dir, "customer").where(col("c_acctbal") > 5000).select(col("c_custkey"))
      val big = t(s, dir, "orders").where(col("o_totalprice") > 100000)
        .select(col("o_custkey").as("c_custkey"))
      rich.intersect(big).orderBy(col("c_custkey"))
    }),


    // G5 — except (distinct set difference).
    "q12_except" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_custkey"))
        .except(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")))
        .orderBy(col("c_custkey"))
    }),


    // G3 — global top-k (TakeOrderedAndProject, no full sort at scale).
    "q13_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),


    // G4 — union of heterogeneous branches (the three-normalizer shape).
    "q14_union" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.where(col("o_totalprice") > 400000)
        .select(lit("high").as("bucket"), col("o_orderkey"), col("o_totalprice"))
      val lo = o.where(col("o_totalprice") < 5000)
        .select(lit("low").as("bucket"), col("o_orderkey"), col("o_totalprice"))
      hi.unionByName(lo).orderBy(col("bucket"), col("o_orderkey"))
    }),


    // E5 — cube.
    "q15_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),


    // B3 — equi + range join (ship within 30 days of order date).
    "q16_range_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }),


    // F6 — JSON extraction from events.props (the reference's schema-on-read).
    "q17_events_json" -> ((s, dir) => {
      val k = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
      t(s, dir, "events")
        .select(col("event_type"), when(k === "", lit(null)).otherwise(k).cast("bigint").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),


    // F2/H3-analog — event-time to unix seconds + tumbling 1h buckets.
    // `ts` has carried two dtypes across testdata generations (LongType
    // nanos, now TIMESTAMP_NTZ micros) — EventTime.hourEpoch dispatches on
    // the schema so this query survives either.
    "q18_events_hourly" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev
        .groupBy(col("event_type"),
          EventTime.hourEpoch(ev).as("hour_epoch"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"), 18, 2)).cast("double").as("total_value"))
        .orderBy(col("event_type"), col("hour_epoch"))
    }),


    // F1 — the signature 3GPP BitRate parser over synthesized strings
    // (unit picked by l_linenumber, incl. a no-unit null branch).
    "q19_bitrate_parse" -> ((s, dir) => {
      val unit = element_at(
        array(lit(" bps"), lit(" Kbps"), lit(" Mbps"), lit(" Gbps"), lit(" Tbps"), lit("")),
        (pmod(col("l_linenumber"), lit(6)) + 1).cast("int"))
      val br = concat(col("l_quantity").cast("string"), unit)
      val total = sum(dec(col("mbps"), 28, 6))
      // native fused parser (one compiled-regex pass/row vs two
      // regexp_extract passes; value-identical — NetFunctionsSpec)
      t(s, dir, "lineitem")
        .select(call_function("parse_bitrate_mbps", br.cast("string")).as("mbps"))
        // The exact 6-dp Mbps total exceeds 2^53 as bps (×1e6) even at
        // sf0.01 (double inexact), and the single-BIGINT bps total would
        // overflow 2^63 near sf1 — so emit the exact decimal sum as TWO
        // BIGINTs: the floored Mbps part (overflows only past sf~3e5) and
        // the sub-Mbps remainder in micro-Mbps. Both engines compute the
        // split on the identical exact decimal.
        .agg(
          floor(total).cast("bigint").as("total_mbps_int"),
          ((total - floor(total)) * lit(1000000)).cast("bigint").as("micro_rem"),
          count(col("mbps")).as("n_parsed"),
          count(lit(1)).as("n"))
    }),


    // The flagship NEF pipeline on the reference's own fixtures, flattened —
    // oracle is a literal VALUES golden (reference tests/test_receiver.py).
    "q20_nef_envelope" -> ((s, _) => {
      SparkEntry.entry(s).select(
        col("event"),
        col("timestamp"),
        col("tags.snssai_sst").as("sst"),
        col("tags.snssai_sd").as("sd"),
        col("tags.dnn").as("dnn"),
        col("tags.ueIpv4Addr").as("ipv4"),
        col("tags.appId").as("app_id"),
        col("tags.supi").as("supi"),
        element_at(col("metrics"), "thrputUl_mbps").as("thrput_ul"),
        element_at(col("metrics"), "thrputDl_mbps").as("thrput_dl"),
        element_at(col("metrics"), "pdb_ms").cast("bigint").as("pdb_ms"),
        element_at(col("metrics"), "plr_per_thousand").cast("bigint").as("plr"),
        // guarded: with legacy sizeOfNull, size(NULL) is -1 — the oracle
        // (and the reference, which has no trajectory key at all here)
        // expects NULL for non-mobility rows.
        when(col("trajectory").isNotNull, size(col("trajectory"))).as("n_traj"),
        element_at(col("trajectory"), 1).getField("ts").as("traj0_ts"),
        element_at(col("trajectory"), 1).getField("tac").as("traj0_tac"),
        element_at(col("comms"), 1).getField("endTime").as("comm0_end"),
        element_at(col("comms"), 1).getField("ulVol").as("comm0_ul"),
        element_at(col("comms"), 1).getField("dlVol").as("comm0_dl"))
        .orderBy(col("event"), col("timestamp"), coalesce(col("thrput_dl"), lit(-1.0)))
    }),


    // E1 — discovered metric fields over the fixture envelopes.
    // discoveredFields consumes the envelope frame in THREE union branches;
    // localCheckpoint cuts the lineage so the (large) NEF parse expression
    // is planned and codegen'd once, not three times — the recompute showed
    // up as multi-second planning variance on a 6-row query.
    "q21_discovered_fields" -> ((s, _) => {
      sinks.Sinks.discoveredFields(SparkEntry.entry(s).localCheckpoint()).orderBy(col("field"))
    }),


    // H3 — session windows (30-minute gap) over event time, truncated to
    // seconds (the nanos remainder is below the gap resolution). A session
    // spans events whose gaps are <= 30 min (touching intervals merge);
    // window end = last event + gap (Spark merges on overlap-or-touch — the DuckDB twin reproduces it
    // with a gaps-and-islands cumulative sum).
    "q24_session_windows" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev
        // floor-to-second, dtype-dispatched (EventTime)
        .withColumn("et", EventTime.secondsFloor(ev))
        .groupBy(col("event_type"), session_window(col("et"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"), 18, 2)).cast("double").as("total_value"))
        .select(col("event_type"),
          unix_timestamp(col("session_window.start")).as("session_start"),
          unix_timestamp(col("session_window.end")).as("session_end"),
          col("n_events"), col("total_value"))
        .orderBy(col("event_type"), col("session_start"))
    }),


    // H3 — SLIDING windows (2h window, 1h slide) over event time: each
    // event lands in exactly windowDur/slide = 2 windows. The DuckDB twin
    // unnests the two aligned window starts per event.
    "q25_sliding_windows" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev
        .withColumn("et", EventTime.secondsFloor(ev))
        .groupBy(col("event_type"), window(col("et"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"),
          unix_timestamp(col("window.start")).as("window_start"), col("n"))
        .orderBy(col("event_type"), col("window_start"))
    }),


    // E3/F8 — exact linear-interpolated percentiles (both engines use the
    // p·(n−1) type-7 convention, so the doubles are bit-comparable).
    "q27_percentiles" -> ((s, dir) => {
      // one array-percentile buffer, not two scalar ones (the q35 note)
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("percentile(o_totalprice, array(0.5, 0.95))").as("p"),
          count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("p")(0).as("p50"),
          col("p")(1).as("p95"), col("n"))
        .orderBy(col("o_orderstatus"))
    }),


    // F8/E5 — pivot (wide conditional aggregation): order counts by
    // priority × status. Explicit pivot values keep the plan static (no
    // driver-side distinct-values job — at 100 TB the value scan is a full
    // pass, so production pivots should always declare their columns).
    "q28_pivot" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy(col("o_orderpriority"))
    }),


    // C1/F8 — standalone positional explode (LATERAL with ordinality): the
    // first 5 tokens of each document with their positions. One generate
    // per row, no join.
    "q29_posexplode" -> ((s, dir) => {
      analytics.Par.spreadForCpu(t(s, dir, "documents"))
        .where(col("doc_id") < 20)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
        .select(col("doc_id"), posexplode(slice(col("ws"), 1, 5)))
        .withColumnRenamed("col", "token")
        .orderBy(col("doc_id"), col("pos"))
    }),


    // E4 at scale — HLL approximate distinct: one pass, fixed-size partial
    // state merged across partitions (vs countDistinct's shuffle of every
    // distinct value — THE count-distinct shape for 100 TB). Both the
    // HyperLogLog++ estimator and a mergeable Apache DataSketches HLL
    // sketch. The exact count (here only to exhibit the error) runs as a
    // SEPARATE aggregation joined on the 3-row result: mixing it into one
    // agg triggers the distinct-rewrite, whose first phase groups by
    // (flag, partkey) — and every one of those ~200k groups would carry
    // the 16 KB rsd=0.01 HLL++ partial buffer (measured: 27 s vs 2 s at
    // sf0.1). Estimator internals are engine-specific, so the raw
    // estimates cannot hash-match a DuckDB twin; instead the OUTPUT is the
    // oracle-checkable part of the contract: the exact distinct count
    // (hash-matched cross-engine) plus per-estimator ≤2%-relative-error
    // flags, which the twin asserts as literal TRUE — the gate now checks
    // the error contract on real data, not just in OperatorsSpec. Both
    // estimators are order-insensitive (HLL register merge is a max), so
    // the flags are deterministic under task reordering.
    "q30_approx_distinct" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val approx = li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), rsd = 0.01).as("approx_parts"),
          hll_sketch_estimate(hll_sketch_agg(col("l_partkey"))).as("sketch_parts"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      approx.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.02).as("approx_err_ok"),
          (abs(col("sketch_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.02).as("sketch_err_ok"))
        .orderBy(col("l_returnflag"))
    }),


    // E5 — arbitrary GROUPING SETS (beyond q09 rollup / q15 cube) with
    // grouping_id disambiguating which set produced each row.
    "q31_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping_id(col("o_orderstatus"), col("o_orderpriority")).as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),


    // G1/F8 — VALUE-range window frame (vs q08's ROWS frame): per-customer
    // rolling 30-day spend. The frame bound is on the ORDER-BY VALUE
    // (epoch seconds), so ties and gaps behave identically cross-engine;
    // decimal-exact sum keeps the double bit-comparable.
    "q33_range_frame" -> ((s, dir) => {
      // NTZ → TIMESTAMP → epoch long (exact under the UTC session TZ)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30L * 86400L, 0L)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec(col("o_totalprice"), 18, 2)).over(w).cast("double").as("spend_30d"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),


    // G1 — distribution analytics: quartile bucketing + exact rank ratios
    // (total tiebreak order makes every value deterministic cross-engine).
    "q34_distribution_windows" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderkey"),
          ntile(4).over(w).cast("bigint").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy(col("o_orderstatus"), col("o_orderkey"))
    }),


    // B3 — as-of join: for each error event, the user's most recent
    // purchase at or before it (union+window shape, no range-join blowup);
    // DuckDB twin uses its native ASOF JOIN. Testdata has no (user_id, ts)
    // purchase duplicates, so the "single most recent" row is well-defined.
    "q26_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"),
          col("event_id"), col("value"))
      val errors = e.where(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      operators.AsOfJoin.leftAsOf(errors, purchases, Seq("user_id"), "ts", "purch_")
        .select(col("user_id"), col("event_id"),
          round(col("purch_value"), 6).as("purch_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),


    // D1/D2/F9 — the compiled policy gate with a non-trivial rule set:
    // deny UE_COMM rows, sha2-hash supi, redact dnn, drop the pdb_ms metric
    // (reference receiver.py:412–433; README.md:10 "field filtering,
    // hashing, redaction").
    "q22_policy_gate" -> ((s, _) => {
      val notifs = Fixtures.notifications(s, Seq(
        Fixtures.perfDataPayload, Fixtures.ueMobilityPayload,
        Fixtures.ueCommPayload, Fixtures.multiEventPayload))
      val rules = policy.Policy.Rules(
        deny = col("event") === "UE_COMM",
        hashTags = Set("supi"),
        redactTags = Set("dnn"),
        dropMetrics = Set("pdb_ms"))
      Ingest.envelopes(notifs, Fixtures.subscriptions(s), rules, now = lit(FixedNow))
        .select(
          col("event"),
          col("timestamp"),
          col("tags.supi").as("supi_h"),
          col("tags.dnn").as("dnn"),
          col("tags.ueIpv4Addr").as("ipv4"),
          element_at(col("metrics"), "pdb_ms").cast("bigint").as("pdb_ms"),
          element_at(col("metrics"), "plr_per_thousand").cast("bigint").as("plr"),
          element_at(col("metrics"), "thrputDl_mbps").as("thrput_dl"))
        .orderBy(col("event"), col("timestamp"), coalesce(col("thrput_dl"), lit(-1.0)))
    }),


    // E2/A3/F6-serialize/H6 — the Kafka batch-collect contract: ALL
    // surviving records of a subscription leave as ONE JSON-array message
    // keyed by notifId (reference receiver.py:442–445; golden from
    // tests/test_receiver.py:226–237). The unknown-notifId payload proves
    // the 403 path contributes nothing.
    "q23_kafka_batches" -> ((s, _) => {
      val notifs = Fixtures.notifications(s, Seq(
        Fixtures.perfDataPayload, Fixtures.ueCommPayload,
        Fixtures.unknownNotifPayload))
      val env = Ingest.envelopes(notifs, Fixtures.subscriptions(s), now = lit(FixedNow))
      sinks.Sinks.kafkaBatches(env, deterministicOrder = true)
        .orderBy(col("key"))
    }),


    // E3 at scale — sketch percentiles (GK/QuantileSummaries: fixed-size
    // mergeable state, the 100 TB shape) side by side with the exact
    // sort-based percentile (q27's operator). GK internals are
    // engine-specific, so like q30 the output is the oracle-checkable
    // contract: exact percentiles (hash-matched vs quantile_cont, the
    // q27 recipe) plus ≤1%-relative-error flags for the sketch values,
    // asserted TRUE by the twin. accuracy=10000 bounds rank error at
    // n/10000 ≈ 2 rows per group at sf0.01, so the 1% value flag holds
    // with wide margin regardless of partial-merge order.
    "q35_approx_percentiles" -> ((s, dir) => {
      // spread the single-split scan so percentile partials parallelize.
      // ONE array-percentile buffer per family (r17 optimization round):
      // two scalar percentile() slots each buffered the FULL value-count
      // map per group independently (and two percentile_approx slots each
      // built their own GK summary) — the array form fills one buffer and
      // reads both ranks from it, halving aggregate state. Values are
      // identical: the same counts map / same summary queried at each p.
      analytics.Par.spreadForCpu(t(s, dir, "lineitem"))
        .groupBy(col("l_returnflag"))
        .agg(
          percentile_approx(col("l_extendedprice"),
            array(lit(0.5), lit(0.95)), lit(10000)).as("ap"),
          expr("percentile(l_extendedprice, array(0.5, 0.95))").as("ex"))
        .select(col("l_returnflag"),
          col("ex")(0).as("p50_exact"), col("ex")(1).as("p95_exact"),
          (abs(col("ap")(0) - col("ex")(0)) <=
            abs(col("ex")(0)) * 0.01).as("p50_err_ok"),
          (abs(col("ap")(1) - col("ex")(1)) <=
            abs(col("ex")(1)) * 0.01).as("p95_err_ok"))
        .orderBy(col("l_returnflag"))
    }),


    // B1/E3 — correlated scalar subquery, decorrelated the way Catalyst
    // itself does it: orders at >2× their customer's average order value.
    // The average goes through the exact-decimal-sum → one-double-division
    // convention so the comparison is bit-identical cross-engine.
    "q32_scalar_subquery" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val avgs = o.groupBy(col("o_custkey"))
        .agg((sum(dec(col("o_totalprice"), 18, 2)).cast("double") / count(lit(1)))
          .as("avg_price"))
      o.join(avgs, Seq("o_custkey"))
        .where(col("o_totalprice") > lit(2) * col("avg_price"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("avg_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),


    // G3 at aggregate cost — grouped top-k as a bounded-state typed
    // aggregate (operators/GroupedTopK): the rows `row_number() <= k`
    // keeps, with NO sort of the input anywhere in the plan. Spark's own
    // InferWindowGroupLimit already makes the window form's shuffle
    // n-independent, but still full-sorts every map partition first
    // (O(n log n) + spills — at 100 TB that sort is the cost); the
    // aggregate keeps a ≤2k−1-pair buffer per key (O(n log k)) and
    // ships one buffer row per (map partition, key). Equivalence, plan
    // shape, and shuffle receipt pinned in OperatorsSpec; the oracle
    // replays the window definition.
    "q103_grouped_topk" -> ((s, dir) => {
      val li = analytics.Par.spreadForCpu(t(s, dir, "lineitem"))
        .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("bigint").as("id"),
          col("l_extendedprice").as("price"))
      operators.GroupedTopK.topKPerKey(li, Seq("rf", "ls"), "price", "id", k = 5)
        .orderBy(col("rf"), col("ls"), col("rnk"))
    }),
  )

  // ── DuckDB oracle twins ──

  val oracle: Map[String, String] = Map(


    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(3,2))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(3,2)) * CAST(1 + l_tax AS DECIMAL(3,2))) AS DOUBLE) AS sum_charge,
        | count(*) AS count_order,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,


    "q02_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' AND l_quantity < 3
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,


    "q03_top_customers" ->
      """SELECT c_custkey, c_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,


    "q04_broadcast_dims" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,


    "q05_semi_join" ->
      """SELECT c_custkey FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,


    "q06_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,


    "q07_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,


    "q08_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        | lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,


    "q09_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,


    "q10_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    "q11_intersect" ->
      """SELECT * FROM (
        | SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        | INTERSECT
        | SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 100000
        |) ORDER BY c_custkey""".stripMargin,


    "q12_except" ->
      """SELECT * FROM (
        | SELECT c_custkey FROM customer EXCEPT SELECT o_custkey AS c_custkey FROM orders
        |) ORDER BY c_custkey""".stripMargin,


    "q13_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,


    "q103_grouped_topk" ->
      """SELECT rf, ls, rnk, id, price FROM (
        | SELECT l_returnflag AS rf, l_linestatus AS ls,
        |   row_number() OVER (PARTITION BY l_returnflag, l_linestatus
        |     ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber) AS rnk,
        |   CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
        |   l_extendedprice AS price
        | FROM lineitem)
        |WHERE rnk <= 5 ORDER BY rf, ls, rnk""".stripMargin,


    "q14_union" ->
      """SELECT * FROM (
        | SELECT 'high' AS bucket, o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000
        | UNION ALL
        | SELECT 'low' AS bucket, o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 5000
        |) ORDER BY bucket, o_orderkey""".stripMargin,


    "q15_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,


    "q16_range_join" ->
      """SELECT o_orderstatus, count(*) AS n
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,


    "q17_events_json" ->
      """SELECT event_type,
        | CAST(sum(CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT)) AS BIGINT) AS sum_k,
        | count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    "q18_events_hourly" ->
      """SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        | count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type, hour_epoch ORDER BY event_type, hour_epoch""".stripMargin,


    "q19_bitrate_parse" -> (
      s"""SELECT CAST(floor(sum(CAST(mbps AS DECIMAL(28,6)))) AS BIGINT) AS total_mbps_int,
         | CAST((sum(CAST(mbps AS DECIMAL(28,6))) - floor(sum(CAST(mbps AS DECIMAL(28,6))))) * 1000000 AS BIGINT) AS micro_rem,
         | count(mbps) AS n_parsed, count(*) AS n
         |FROM (SELECT $bitrateSqlExpr AS mbps FROM (
         | SELECT CAST(l_quantity AS VARCHAR) ||
         |  CASE l_linenumber % 6 WHEN 0 THEN ' bps' WHEN 1 THEN ' Kbps' WHEN 2 THEN ' Mbps'
         |   WHEN 3 THEN ' Gbps' WHEN 4 THEN ' Tbps' ELSE '' END AS br
         | FROM lineitem))""".stripMargin),


    // Golden VALUES twin of the NEF fixture pipeline (expected values from
    // reference tests/test_receiver.py:204–471; 1776680100 = 2026-04-20T10:15:00Z,
    // 1776680090 = 10:14:50Z, 1700000000 = injected fixed "now").
    "q20_nef_envelope" ->
      """SELECT * FROM (VALUES
        | ('PERF_DATA', CAST(1776680100 AS BIGINT), 1, '000001', 'internet', '10.0.1.10', NULL, NULL,
        |  CAST(NULL AS DOUBLE), CAST(50.0 AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS INTEGER), CAST(NULL AS BIGINT), NULL, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
        | ('PERF_DATA', CAST(1776680100 AS BIGINT), 1, '000001', 'internet', '10.0.1.10', 'app-test', NULL,
        |  CAST(11.74 AS DOUBLE), CAST(87.57 AS DOUBLE), CAST(18 AS BIGINT), CAST(17 AS BIGINT),
        |  CAST(NULL AS INTEGER), CAST(NULL AS BIGINT), NULL, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
        | ('UE_COMM', CAST(1776680100 AS BIGINT), 1, '000001', 'internet', NULL, NULL, 'imsi-001011234567890',
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS INTEGER), CAST(NULL AS BIGINT), NULL, CAST(1776680100 AS BIGINT), CAST(1048576 AS BIGINT), CAST(52428800 AS BIGINT)),
        | ('UE_MOBILITY', CAST(1700000000 AS BIGINT), 1, '000001', 'internet', NULL, NULL, 'imsi-001011234567890',
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(0 AS INTEGER), CAST(NULL AS BIGINT), NULL, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
        | ('UE_MOBILITY', CAST(1776680090 AS BIGINT), 1, '000001', 'internet', NULL, NULL, 'imsi-001011234567890',
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(2 AS INTEGER), CAST(1776680090 AS BIGINT), '000001', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
        | ('UE_MOBILITY', CAST(1776680100 AS BIGINT), 1, '000001', 'internet', NULL, NULL, 'imsi-001011234567890',
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(1 AS INTEGER), CAST(1776680100 AS BIGINT), NULL, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))
        |) AS t(event, "timestamp", sst, sd, dnn, ipv4, app_id, supi, thrput_ul, thrput_dl, pdb_ms, plr,
        |       n_traj, traj0_ts, traj0_tac, comm0_end, comm0_ul, comm0_dl)
        |ORDER BY event, "timestamp", coalesce(thrput_dl, -1.0)""".stripMargin,


    "q21_discovered_fields" ->
      """SELECT * FROM (VALUES ('comms'), ('pdb_ms'), ('plr_per_thousand'), ('thrputDl_mbps'),
        | ('thrputUl_mbps'), ('trajectory')) AS t(field) ORDER BY field""".stripMargin,


    // DuckDB // and % truncate toward zero; the ((x % d) + d) % d form is
    // the pmod that makes the division a FLOOR, matching the Spark side
    // for pre-1970 timestamps.
    "q24_session_windows" ->
      """WITH e AS (SELECT event_type,
        |  CAST((epoch_ns(ts) - ((epoch_ns(ts) % 1000000000 + 1000000000) % 1000000000)) // 1000000000 AS BIGINT) AS sec,
        |  value FROM events),
        |o AS (SELECT event_type, sec, value,
        |  CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY sec)),
        |s AS (SELECT event_type, sec, value,
        |  sum(new_s) OVER (PARTITION BY event_type ORDER BY sec ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT event_type, min(sec) AS session_start, max(sec) + 1800 AS session_end,
        | count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY event_type, sid ORDER BY event_type, session_start""".stripMargin,


    "q25_sliding_windows" ->
      """WITH e AS (SELECT event_type,
        |  CAST((epoch_ns(ts) - ((epoch_ns(ts) % 1000000000 + 1000000000) % 1000000000)) // 1000000000 AS BIGINT) AS sec
        |FROM events),
        |w AS (SELECT event_type,
        |  unnest([sec - ((sec % 3600 + 3600) % 3600), sec - ((sec % 3600 + 3600) % 3600) - 3600]) AS window_start
        |FROM e)
        |SELECT event_type, window_start, count(*) AS n
        |FROM w GROUP BY event_type, window_start
        |ORDER BY event_type, window_start""".stripMargin,


    "q27_percentiles" ->
      """SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS p50,
        | quantile_cont(o_totalprice, 0.95) AS p95, count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,


    // Sketch twins (q30/q35): the estimator internals are engine-specific,
    // so the twin checks the two halves of the contract separately — the
    // exact aggregate hash-matches cross-engine, and the sketch's
    // documented error bound is a deterministic boolean the Spark side
    // computes and the twin asserts as literal TRUE. A sketch regression
    // beyond its bound now fails the gate, not just the unit test.
    "q30_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        | TRUE AS approx_err_ok, TRUE AS sketch_err_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    "q35_approx_percentiles" ->
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50_exact,
        | quantile_cont(l_extendedprice, 0.95) AS p95_exact,
        | TRUE AS p50_err_ok, TRUE AS p95_err_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    "q26_asof_join" ->
      """WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'),
        |r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
        |SELECT l.user_id, l.event_id, round(r.value, 6) AS purch_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.user_id, l.event_id""".stripMargin,


    "q28_pivot" ->
      """SELECT o_orderpriority,
        | count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        | count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        | count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    "q33_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate
        |   RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,


    "q34_distribution_windows" ->
      """SELECT o_orderstatus, o_orderkey,
        | ntile(4) OVER w AS quartile,
        | percent_rank() OVER w AS pr,
        | cume_dist() OVER w AS cd
        |FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,


    "q31_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,


    "q29_posexplode" -> (
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents WHERE doc_id < 20),
         |ex AS (SELECT doc_id, unnest(list_transform(range(least(len(ws), 5)),
         |  i -> {'pos': i, 'token': ws[CAST(i + 1 AS INT)]})) AS u FROM tok)
         |SELECT doc_id, CAST(u.pos AS INT) AS pos, u.token AS token FROM ex
         |ORDER BY doc_id, pos""".stripMargin),


    // Golden VALUES twin of the policy gate: UE_COMM rows denied, supi
    // sha256-hashed (DuckDB sha256 = Spark sha2(…,256)), dnn redacted,
    // pdb_ms metric dropped. Expected rows derived from the q20 goldens.
    "q22_policy_gate" ->
      """SELECT * FROM (VALUES
        | ('PERF_DATA', CAST(1776680100 AS BIGINT), CAST(NULL AS VARCHAR), '***', '10.0.1.10',
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(50.0 AS DOUBLE)),
        | ('PERF_DATA', CAST(1776680100 AS BIGINT), CAST(NULL AS VARCHAR), '***', '10.0.1.10',
        |  CAST(NULL AS BIGINT), CAST(17 AS BIGINT), CAST(87.57 AS DOUBLE)),
        | ('UE_MOBILITY', CAST(1776680090 AS BIGINT), sha256('imsi-001011234567890'), '***', CAST(NULL AS VARCHAR),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)),
        | ('UE_MOBILITY', CAST(1776680100 AS BIGINT), sha256('imsi-001011234567890'), '***', CAST(NULL AS VARCHAR),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE))
        |) AS t(event, "timestamp", supi_h, dnn, ipv4, pdb_ms, plr, thrput_dl)
        |ORDER BY event, "timestamp", coalesce(thrput_dl, -1.0)""".stripMargin,


    // Golden twin of the Kafka batch-collect contract: ONE JSON-array
    // message for the known subscription (reference receiver.py:442–445,
    // asserted in tests/test_receiver.py:226–237); the unknown-notifId
    // payload contributes nothing (403 anti-join path).
    "q23_kafka_batches" ->
      """SELECT * FROM (VALUES ('test-notif-001',
        | '[{"timestamp":1776680100,"tags":{"snssai_sst":1,"snssai_sd":"000001","dnn":"internet","ueIpv4Addr":"10.0.1.10","appId":"app-test"},"event":"PERF_DATA","metrics":{"thrputUl_mbps":11.74,"thrputDl_mbps":87.57,"pdb_ms":18.0,"plr_per_thousand":17.0}},{"timestamp":1776680100,"tags":{"snssai_sst":1,"snssai_sd":"000001","dnn":"internet","supi":"imsi-001011234567890"},"event":"UE_COMM","metrics":{},"comms":[{"startTime":1776679200,"endTime":1776680100,"ulVol":1048576,"dlVol":52428800}]}]'
        |)) AS t(key, "value") ORDER BY key""".stripMargin,


    "q32_scalar_subquery" ->
      """WITH a AS (SELECT o_custkey,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
        |FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, o_orderkey, o_totalprice, avg_price
        |FROM orders JOIN a USING (o_custkey)
        |WHERE o_totalprice > 2 * avg_price
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
  )
}
