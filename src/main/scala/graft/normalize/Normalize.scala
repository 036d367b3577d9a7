package graft.normalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, MapType, StringType}

import graft.functions.NetFunctions._
import graft.schemas.NefSchemas

/** The reference's data plane re-expressed as ONE declarative Spark pass.
  *
  * Reference shape (receiver.py:376–389): for each `eventNotifs[]` element,
  * dispatch on `event`, iterate the matching `*Infos[]` array, normalize each
  * info into the envelope, drop records with no UE identifier. That is a
  * hand-fused explode×2 → project → filter.
  *
  * Spark-first design: instead of three filter+explode branches unioned back
  * together (which would scan the source three times), each eventNotif is
  * mapped — via the higher-order `transform` — to an array of envelope
  * structs chosen by a `CASE` on the event type, and exploded ONCE. The
  * pipeline is one whole-stage-codegen span with no shuffle and no
  * repeated scan, but `transform`, `filter` and `map_filter` are
  * `CodegenFallback`: their lambdas run interpreted inside that span.
  * Unsupported event types (C2) fall out for free because their CASE
  * branch is null and `explode` drops null arrays.
  *
  * Inputs are *enriched* notifications: columns `notifId, eventNotifs` plus
  * the subscription context tags `snssai_sst, snssai_sd, dnn` (see
  * [[graft.enrich.Enrich]]). `now` is the processing-time fallback clock —
  * injectable so tests and declared queries stay deterministic.
  */
object Normalize {

  val SupportedEvents: Seq[String] = Seq("PERF_DATA", "UE_MOBILITY", "UE_COMM")

  private val nullTrajectory = lit(null).cast(ArrayType(NefSchemas.trajectoryPoint))
  private val nullComms = lit(null).cast(ArrayType(NefSchemas.commWindow))
  private val emptyMetrics = typedLit(Map.empty[String, Double])

  /** Context-tag column trio carried alongside each notification. */
  case class Ctx(sst: Column, sd: Column, dnn: Column)

  private def tagsStruct(
      ctx: Ctx,
      ueIpv4Addr: Column = lit(null).cast(StringType),
      ueIpv6Addr: Column = lit(null).cast(StringType),
      appId: Column = lit(null).cast(StringType),
      supi: Column = lit(null).cast(StringType),
      gpsi: Column = lit(null).cast(StringType),
      interGroupId: Column = lit(null).cast(StringType)): Column =
    struct(
      ctx.sst.cast(IntegerType).as("snssai_sst"),
      ctx.sd.cast(StringType).as("snssai_sd"),
      ctx.dnn.cast(StringType).as("dnn"),
      ueIpv4Addr.as("ueIpv4Addr"), ueIpv6Addr.as("ueIpv6Addr"),
      appId.as("appId"), supi.as("supi"), gpsi.as("gpsi"),
      interGroupId.as("interGroupId"))

  private def envelope(notifId: Column, timestamp: Column, event: String,
      tags: Column, metrics: Column, trajectory: Column, comms: Column): Column =
    struct(
      notifId.as("notifId"),
      timestamp.cast(LongType).as("timestamp"),
      lit(event).as("event"),
      tags.as("tags"),
      metrics.cast(MapType(StringType, DoubleType)).as("metrics"),
      trajectory.as("trajectory"),
      comms.as("comms"))

  // ── PERF_DATA (reference receiver.py:89–135, C3) ──

  /** The 6 bitrate-string metrics and 8 integer delay/loss metrics with their
    * output names (reference receiver.py:106–125).
    */
  val BitrateMetrics: Seq[(String, String)] = Seq(
    "thrputUl" -> "thrputUl_mbps", "thrputDl" -> "thrputDl_mbps",
    "maxThrputUl" -> "maxThrputUl_mbps", "minThrputUl" -> "minThrputUl_mbps",
    "maxThrputDl" -> "maxThrputDl_mbps", "minThrputDl" -> "minThrputDl_mbps")

  val IntMetrics: Seq[(String, String)] = Seq(
    "pdb" -> "pdb_ms", "pdbDl" -> "pdbDl_ms",
    "maxPdbUl" -> "maxPdbUl_ms", "maxPdbDl" -> "maxPdbDl_ms",
    "plr" -> "plr_per_thousand", "plrDl" -> "plrDl_per_thousand",
    "maxPlrUl" -> "maxPlrUl_per_thousand", "maxPlrDl" -> "maxPlrDl_per_thousand")

  /** The fused native bitrate parser (one compiled-regex pass per metric
    * field, value-identical to [[graft.functions.NetFunctions.parseBitrateMbps]]
    * — NetFunctionsSpec): the hottest per-row expression of the ingest
    * path, pinned in the executed plan by PlanAuditSpec (q20).
    */
  private def parseBitrate(c: Column): Column =
    call_function("parse_bitrate_mbps", c.cast(StringType))

  /** The parsed `timeStamp`, only when the string is truthy (reference:
    * `parse(ts) if ts else now`, receiver.py:128–131). Bound once per info
    * by [[explodedEnvelopes]].
    */
  private def perfTs(info: Column): Column =
    parseDatetimeToUnix(truthyStr(info.getField("timeStamp")))

  /** `ts` is [[perfTs]] of `info`. */
  private def perfEnvelope(notifId: Column, info: Column, ts: Column, ctx: Ctx, now: Column): Column = {
    val ueIp = info.getField("ueIpAddr")
    val ipv4 = truthyStr(ueIp.getField("ipv4Addr"))
    // elif: ipv6 only when ipv4 is NOT truthy (receiver.py:92–95)
    val ipv6 = when(ipv4.isNull, truthyStr(ueIp.getField("ipv6Addr")))
    val perf = info.getField("perfData")
    // A metric key exists only when the source field was present AND parsed
    // (C8 absent-vs-null): build the full map, then drop null values.
    val entries: Seq[Column] =
      BitrateMetrics.flatMap { case (src, dst) =>
        Seq(lit(dst), parseBitrate(perf.getField(src)))
      } ++ IntMetrics.flatMap { case (src, dst) =>
        // int(val) semantics (receiver.py:125) — documented deviations: the
        // reference's int() RAISES (HTTP 500) on any non-integer STRING,
        // including decimal ("17.8") and scientific ("1e3") literals; this
        // double-cast accepts all numeric strings (truncating toward zero:
        // "17.8" → 17, "1e3" → 1000) and turns unparseable garbage into an
        // absent key instead of a request failure. JSON *numbers* behave
        // identically in both (17.8 → 17).
        Seq(lit(dst), perf.getField(src).cast(DoubleType).cast(LongType).cast(DoubleType))
      }
    val metrics = map_filter(map(entries: _*), (_, v) => v.isNotNull)
    envelope(
      notifId,
      tsOrNow(ts, now),
      "PERF_DATA",
      tagsStruct(ctx, ueIpv4Addr = ipv4, ueIpv6Addr = ipv6,
        appId = truthyStr(info.getField("appId"))),
      metrics, nullTrajectory, nullComms)
  }

  // ── UE_MOBILITY (reference receiver.py:138–165, C4) ──

  /** The normalized trajectory; bound once per info by [[explodedEnvelopes]]. */
  private def trajectoryOf(info: Column): Column =
    transform(coalesce(info.getField("ueTrajs"),
        array().cast(ArrayType(NefSchemas.ueTraj))), { t =>
      val nr = t.getField("location").getField("nrLocation")
      struct(
        parseDatetimeToUnix(truthyStr(t.getField("ts"))).as("ts"),
        nr.getField("tai").getField("tac").as("tac"),
        nr.getField("ncgi").getField("nrCellId").as("nrCellId"))
    })

  /** `trajectory` is [[trajectoryOf]] `info`. */
  private def mobilityEnvelope(notifId: Column, info: Column, trajectory: Column,
      ctx: Ctx, now: Column): Column = {
    // record ts := trajectory[0].ts when trajectory nonempty and ts truthy
    // (0 is falsy too — receiver.py:158), else now
    val first = element_at(trajectory, 1).getField("ts")
    envelope(
      notifId,
      tsOrNow(when(size(trajectory) > 0, first), now),
      "UE_MOBILITY",
      tagsStruct(ctx,
        supi = truthyStr(info.getField("supi")),
        gpsi = truthyStr(info.getField("gpsi"))),
      emptyMetrics, trajectory, nullComms)
  }

  // ── UE_COMM (reference receiver.py:168–196, C5) ──

  /** The normalized comms array; bound once per info by [[explodedEnvelopes]]. */
  private def commsOf(info: Column): Column =
    transform(coalesce(info.getField("comms"),
        array().cast(ArrayType(NefSchemas.comm))), { c =>
      struct(
        parseDatetimeToUnix(truthyStr(c.getField("startTime"))).as("startTime"),
        parseDatetimeToUnix(truthyStr(c.getField("endTime"))).as("endTime"),
        c.getField("ulVol").cast(LongType).as("ulVol"),
        c.getField("dlVol").cast(LongType).as("dlVol"))
    })

  /** `comms` is [[commsOf]] `info`. */
  private def commEnvelope(notifId: Column, info: Column, comms: Column,
      ctx: Ctx, now: Column): Column = {
    val firstEnd = element_at(comms, 1).getField("endTime")
    envelope(
      notifId,
      tsOrNow(when(size(comms) > 0, firstEnd), now),
      "UE_COMM",
      tagsStruct(ctx,
        supi = truthyStr(info.getField("supi")),
        interGroupId = truthyStr(info.getField("interGroupId")),
        gpsi = truthyStr(info.getField("gpsi"))),
      emptyMetrics, nullTrajectory, comms)
  }

  /** C6: the reference drops a record whose tags dict ended up empty
    * (receiver.py:100–101, 146–147, 177–178). All tag fields were built with
    * truthiness applied, so "empty dict" ⇔ all nine struct fields null.
    */
  def hasAnyTag(tags: Column): Column =
    coalesce(
      tags.getField("snssai_sst").cast(StringType),
      tags.getField("snssai_sd"), tags.getField("dnn"),
      tags.getField("ueIpv4Addr"), tags.getField("ueIpv6Addr"),
      tags.getField("appId"), tags.getField("supi"),
      tags.getField("gpsi"), tags.getField("interGroupId")).isNotNull

  /** explode(eventNotifs) → CASE-dispatched per-info envelope transform →
    * explode — unsupported events (C2) fall out because their CASE branch is
    * null and `explode` drops null/empty arrays.
    */
  private def explodedEnvelopes(enriched: DataFrame, now: Column): DataFrame = {
    val ctx = Ctx(col("snssai_sst"), col("snssai_sd"), col("dnn"))
    val en = col("en")
    // null ELEMENTS inside an infos array drop before the envelope build:
    // a null info would otherwise fabricate a context-tags-only record
    // (the subscription ctx alone passes hasAnyTag). The reference 500s
    // the whole request on a null info (`None.get` AttributeError,
    // receiver.py:384–385); the engine's documented per-record resilience
    // keeps the SIBLING records and drops only the null element — same
    // deviation class as the malformed-line DLQ split. Null elements in
    // eventNotifs itself already fall out (null `en` → null CASE → null
    // array → explode drops). PipelineSpec pins all three shapes.
    //
    // Each info's shared value (the parsed timeStamp, the trajectory, the
    // comms array) is bound ONCE by a first `transform` to struct(i, v);
    // the envelope `transform` reads the bound field. Passed as an inline
    // subtree instead, every use (`tsOrNow` ×3, `size`, `element_at`, the
    // envelope field) copies it: 7 copies of each array transform and 24
    // regex parses for 4 parse sites, all planned by Catalyst and all
    // evaluated per row by the interpreted lambdas.
    def perInfo(field: String, shared: Column => Column)(
        build: (Column, Column) => Column): Column =
      transform(
        transform(filter(en.getField(field), i => i.isNotNull),
          i => struct(i.as("i"), shared(i).as("v"))),
        b => build(b.getField("i"), b.getField("v")))
    val notifId = col("notifId")
    val recArray =
      when(en.getField("event") === "PERF_DATA",
        perInfo("perfDataInfos", perfTs)(perfEnvelope(notifId, _, _, ctx, now)))
      .when(en.getField("event") === "UE_MOBILITY",
        perInfo("ueMobilityInfos", trajectoryOf)(mobilityEnvelope(notifId, _, _, ctx, now)))
      .when(en.getField("event") === "UE_COMM",
        perInfo("ueCommInfos", commsOf)(commEnvelope(notifId, _, _, ctx, now)))
    enriched
      .select(col("notifId"), col("snssai_sst"), col("snssai_sd"), col("dnn"),
        explode(col("eventNotifs")).as("en"))
      .select(explode(recArray).as("rec"))
      .select(col("rec.*"))
  }

  /** The fused single-pass data plane: enriched notifications in, flat
    * normalized envelope out. One scan, zero shuffles, one codegen span
    * (the higher-order lambdas inside it run interpreted).
    */
  def envelopes(enriched: DataFrame, now: Column): DataFrame =
    explodedEnvelopes(enriched, now).where(hasAnyTag(col("tags")))

  /** The complement of C6 — records the reference would log as
    * "Dropped ...: no UE identifier". Exposed for observability parity.
    */
  def droppedNoUeId(enriched: DataFrame, now: Column): DataFrame =
    explodedEnvelopes(enriched, now).where(!hasAnyTag(col("tags")))
}
