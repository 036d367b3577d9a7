package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schemas.NefSchemas

/** The seeded NEF payload corpus of the differential fuzz gate
  * (tools/fuzz/, 4,000 payloads, one JSON document per line) with its
  * subscription registry and the fixed now-fallback clock that
  * `tools/fuzz_normalizers.py` hands `FuzzNormalize`.
  */
object FuzzCorpus {
  val CorpusPath = "tools/fuzz/corpus.jsonl.gz"
  val SubscriptionsPath = "tools/fuzz/subscriptions.jsonl"
  val NowSec = 1776729600L

  def raw(spark: SparkSession): DataFrame = spark.read.text(CorpusPath)

  def subscriptions(spark: SparkSession): DataFrame =
    spark.read.schema(NefSchemas.subscription).json(SubscriptionsPath)

  /** The corpus payloads, one JSON document per element, in file order. */
  def payloads(): Seq[String] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(CorpusPath))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  /** One JSON line per envelope, FuzzNormalize's field order, sorted. */
  def sortedJsonLines(envelopes: DataFrame): Seq[String] =
    envelopes.select(to_json(struct(col("notifId"), col("timestamp"), col("event"),
        col("tags"), col("metrics"), col("trajectory"), col("comms"))))
      .collect().map(_.getString(0)).toSeq.sorted

  /** Hex SHA-256 of `lines`, each terminated by a newline. */
  def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
