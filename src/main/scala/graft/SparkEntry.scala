package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.analytics.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.functions.NetFunctions

/** Driver contract — see /root/repo/SURVEY.md §7 + BASELINE.md.
  *
  * Numeric-portability conventions (so Spark results hash-match the DuckDB
  * oracle exactly):
  *  - money/quantity sums go through DECIMAL casts pre-aggregation (exact,
  *    order-independent) — but the OUTPUT type is DOUBLE via a final cast
  *    on both sides. Decimal/hugeint outputs hash-mismatch in the driver
  *    gate (round 1: q01/q03/q04/q08/q09/q19/t03 were value-identical but
  *    dtype-mismatched — Spark parquet decimal/int64 vs DuckDB
  *    DECIMAL/HUGEINT result columns). At sf0.01 every such sum is exactly
  *    representable in a double (< 2^53 when scaled), so the cast of the
  *    identical exact decimal is bit-identical in both engines.
  *  - DuckDB integer sums are wrapped in CAST(… AS BIGINT) — sum(BIGINT)
  *    is HUGEINT there, which pandas-converts to object/float.
  *  - sums that overflow 2^53 when scaled (q19's micro-Mbps) leave as exact
  *    BIGINT in the natural smaller unit instead (bps).
  *  - averages/ratios are a single double division of exact operands
  *    (IEEE-identical in both engines);
  *  - doubles in output are either row passthroughs or round()ed, and any
  *    threshold on a rounded double is applied to the ROUNDED value on both
  *    sides;
  *  - every query has a total ORDER BY; timestamps leave as epoch BIGINT.
  */
object SparkEntry {

  /** Forwarders into [[QueryHelpers]] (OperatorsSpec; d19 in
    * QueriesDedup). */
  private[graft] def tokenBudgetSelect(docs: DataFrame, budgetPerLang: Long): DataFrame =
    QueryHelpers.tokenBudgetSelect(docs, budgetPerLang)

  private[graft] def d19Psl: Seq[String] = QueryHelpers.d19Psl

  /** Flagship: the full NEF data plane (parse → broadcast-enrich →
    * explode×2/normalize → tag-filter → policy) over the reference's own
    * test payloads, plus a scan of the driver's sf0.001 lineitem to prove
    * the parquet path. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val notifs = Fixtures.notifications(spark, Seq(
      Fixtures.perfDataPayload, Fixtures.ueMobilityPayload,
      Fixtures.ueCommPayload, Fixtures.multiEventPayload,
      Fixtures.emptyTrajsPayload, Fixtures.unsupportedEventPayload,
      Fixtures.unknownNotifPayload))
    Ingest.envelopes(notifs, Fixtures.subscriptions(spark), now = lit(QueryHelpers.FixedNow))
  }


  // ── the operator catalog: family maps concatenated (count asserted
  // in OperatorsSpec — don't record it here, it goes stale) ──

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueriesRelational.queries ++ QueriesPipeline.queries ++
      QueriesDedup.queries ++ QueriesText.queries ++ QueriesSimGraph.queries

  def oracleSql: Map[String, String] =
    QueriesRelational.oracle ++ QueriesPipeline.oracle ++
      QueriesDedup.oracle ++ QueriesText.oracle ++ QueriesSimGraph.oracle
}
