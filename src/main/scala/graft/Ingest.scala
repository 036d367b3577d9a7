package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.enrich.Enrich
import graft.normalize.Normalize
import graft.policy.Policy
import graft.schemas.NefSchemas

/** The end-to-end data plane (reference `POST /nef/notify`,
  * receiver.py:354–458), composed from the per-stage modules:
  *
  * raw JSON → from_json(declared schema) → broadcast-join enrich (B1) →
  * fused explode×2/normalize/tag-filter (C1–C8) → compiled policy gate
  * (D1/D2) → batch-collect JSON sink (E2/A3).
  *
  * Every stage is a `DataFrame => DataFrame`; the same composition runs in
  * batch and, up to the per-record serialization, as the Structured
  * Streaming query itself (Stream.runIngest), whose `foreachBatch` only
  * groups and delivers.
  */
object Ingest {

  /** Parse raw notification JSON (one document per row) into the declared
    * notification schema. Unparseable rows yield null structs and fall out
    * at the join (the reference would 400/500 them).
    */
  def parseNotifications(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    raw.select(from_json(col(jsonCol).cast("string"), NefSchemas.notification).as("n"))
      .select(col("n.*"))

  /** [[parseNotifications]] with a dead-letter split — the production
    * hardening the reference's bare `request.json()` lacks (it 500s the
    * whole request): parse in PERMISSIVE mode with an explicit
    * corrupt-record column, then route rows. Returns (parsed, dlq);
    * `dlq` carries the ORIGINAL raw payload so quarantined requests are
    * replayable after a parser fix. A null/empty payload is dlq too —
    * silently vanishing input is the failure mode this exists to stop
    * (the q55 catalog entry is the same idiom on the events table).
    */
  def parseNotificationsWithDlq(raw: DataFrame,
      jsonCol: String = "value"): (DataFrame, DataFrame) = {
    val schema = org.apache.spark.sql.types.StructType(
      NefSchemas.notification.fields :+
        org.apache.spark.sql.types.StructField("_corrupt",
          org.apache.spark.sql.types.StringType))
    val parsed = raw
      .select(col(jsonCol).cast("string").as("_raw"))
      .withColumn("n", from_json(col("_raw"), schema,
        Map("columnNameOfCorruptRecord" -> "_corrupt")))
    val ok = parsed
      .where(col("n").isNotNull && col("n._corrupt").isNull)
      .select(col("n.*")).drop("_corrupt")
    val dlq = parsed
      .where(col("n").isNull || col("n._corrupt").isNotNull)
      .select(col("_raw").as("payload"))
    (ok, dlq)
  }

  /** Full pipeline to normalized envelopes. `now` is the processing-time
    * fallback clock (injectable for determinism).
    */
  def envelopes(
      notifications: DataFrame,
      subscriptions: DataFrame,
      rules: Policy.Rules = Policy.Rules.allowAll,
      now: Column = unix_timestamp(current_timestamp())): DataFrame =
    Policy(Normalize.envelopes(Enrich.enrich(notifications, subscriptions), now), rules)

  /** Pipeline to the Kafka-message shape: one JSON array per notifId. */
  def kafkaMessages(
      notifications: DataFrame,
      subscriptions: DataFrame,
      rules: Policy.Rules = Policy.Rules.allowAll,
      now: Column = unix_timestamp(current_timestamp())): DataFrame =
    sinks.Sinks.kafkaBatches(envelopes(notifications, subscriptions, rules, now))

  /** Typed view of the envelope stream — the closed output shape gets a
    * case-class Encoder (SURVEY §1.4: `Dataset[T]` where the shape is
    * closed, `DataFrame` where it is schema-flexible).
    */
  def envelopeDataset(
      notifications: DataFrame,
      subscriptions: DataFrame,
      rules: Policy.Rules = Policy.Rules.allowAll,
      now: Column = unix_timestamp(current_timestamp())): Dataset[schemas.Envelope] = {
    val df = envelopes(notifications, subscriptions, rules, now)
    import df.sparkSession.implicits._
    df.as[schemas.Envelope]
  }
}
