package nefbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Ingest
import graft.policy.Policy
import graft.schemas.NefSchemas
import graft.streaming.Stream

/** The NEF data plane as the benchmark drives it: `Stream.runIngest` over
  * a file source, delivering into a `KeyedUpsertStore` through
  * `Stream.upsertSender`, with every `sendBatch` call timed.
  */
object IngestRun {

  /** The fixed processing-time clock (2026-04-21T00:00:00Z). */
  val NowSec: Long = Gen.BaseEpochSec + 86400
  def now: Column = lit(NowSec)

  /** One rule of each kind: deny UE_COMM under the denied dnn, hash supi,
    * redact IPv6 addresses, drop interGroupId and one metric. `appId` and
    * `gpsi` pass through, so records keep their file tag.
    */
  def rules: Policy.Rules = Policy.Rules(
    deny = col("event") === "UE_COMM" && (col("tags.dnn") <=> lit(Gen.DeniedDnn)),
    hashTags = Set("supi"),
    redactTags = Set("ueIpv6Addr"),
    dropTags = Set("interGroupId"),
    dropMetrics = Set("maxPlrDl_per_thousand"))

  def subscriptions(spark: SparkSession, gen: Gen): DataFrame =
    spark.createDataFrame(gen.subscriptions.asJava, NefSchemas.subscription)

  /** The record shape `Sinks.kafkaBatches` serializes. */
  def recordJson: Column = to_json(struct(
    col("timestamp"), col("tags"), col("event"), col("metrics"),
    col("trajectory"), col("comms")))

  /** Split a `[r1,r2,…]` message into its top-level record texts. */
  def splitArray(json: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    var depth = 0
    var inStr = false
    var esc = false
    var start = -1
    var i = 0
    while (i < json.length) {
      val c = json.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' | '[' =>
          if (depth == 1 && start < 0) start = i
          depth += 1
        case '}' | ']' =>
          depth -= 1
          if (depth == 1 && start >= 0) { out += json.substring(start, i + 1); start = -1 }
        case _ =>
      }
      i += 1
    }
    require(depth == 0 && !inStr, s"unbalanced message: ${json.take(80)}")
    out.result()
  }

  private val FileTag = "~f(\\d+)\"".r

  /** The generator file number a record names in its tags. */
  def fileOf(record: String): Option[Int] = FileTag.findFirstMatchIn(record).map(_.group(1).toInt)

  /** 64-bit hash of a `notifId \u0001 record` key. The check compares
    * sorted hashes, so the harness holds 8 bytes per expected record
    * while the engine runs, not the record text.
    */
  def keyHash(key: String): Long =
    (MurmurHash3.stringHash(key, 0x6e656662).toLong << 32) |
      (MurmurHash3.stringHash(key, 0x656e6368).toLong & 0xffffffffL)

  /** Hashes of the `notifId \u0001 record` keys batch `Ingest.envelopes`
    * yields over `corpus`, sorted: the multiset the check compares.
    */
  def expected(spark: SparkSession, corpus: String, subs: DataFrame): Array[Long] =
    Ingest.envelopes(Ingest.parseNotifications(spark.read.text(corpus)), subs, rules, now)
      .select(concat(col("notifId"), lit("\u0001"), recordJson))
      .collect().map(r => keyHash(r.getString(0))).sorted

  /** Delivered records, keyed like [[expected]], with the batch of each. */
  final case class Delivered(keys: Array[String], batchOf: Array[Long], messages: Int,
      maxGroupRecords: Int) {
    def hashes: Array[Long] = keys.map(keyHash).sorted
    /** What is kept of a delivery once it has been checked. */
    def summary: Got = {
      val fileBatch = mutable.Map.empty[Int, Long]
      var i = 0
      while (i < keys.length) {
        fileOf(keys(i)).foreach { f =>
          if (fileBatch.get(f).forall(_ > batchOf(i))) fileBatch(f) = batchOf(i)
        }
        i += 1
      }
      val fileRecords = keys.iterator.flatMap(fileOf).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
      Got(fileBatch.toMap, fileRecords, keys.length, messages, maxGroupRecords)
    }
  }

  /** The batch each file landed in (the first to deliver one of its
    * records), the records delivered per file, and the delivered record
    * and message counts.
    */
  final case class Got(fileBatch: Map[Int, Long], fileRecords: Map[Int, Int], records: Int,
      messages: Int, maxGroupRecords: Int)

  def delivered(snapshot: Map[(Long, String), String]): Delivered = {
    val keys = mutable.ArrayBuffer.empty[(String, Long)]
    var messages = 0
    var maxGroup = 0
    snapshot.foreach { case ((batchId, key), value) =>
      if (value.nonEmpty) {
        val recs = splitArray(value)
        messages += 1
        maxGroup = math.max(maxGroup, recs.length)
        recs.foreach(r => keys += ((key + "\u0001" + r, batchId)))
      }
    }
    val sorted = keys.sortBy(_._1)
    Delivered(sorted.map(_._1).toArray, sorted.map(_._2).toArray, messages, maxGroup)
  }

  /** Blank every value in `store`, so it holds no delivered message. */
  def blank(store: Stream.KeyedUpsertStore): Unit =
    store.snapshot.keys.foreach { case (b, key) => store.upsert(b, key, "") }

  /** (missing, unexpected) between two sorted multisets. */
  def diff(expected: Array[Long], actual: Array[Long]): (Long, Long) = {
    var i = 0
    var j = 0
    var missing = 0L
    var unexpected = 0L
    while (i < expected.length || j < actual.length) {
      val c =
        if (i >= expected.length) 1
        else if (j >= actual.length) -1
        else java.lang.Long.compare(expected(i), actual(j))
      if (c == 0) { i += 1; j += 1 }
      else if (c < 0) { missing += 1; i += 1 }
      else { unexpected += 1; j += 1 }
    }
    (missing, unexpected)
  }

  /** The `sendBatch` the benchmark hands `runIngest`: `Stream.upsertSender`
    * into `store`, timed per batch. Jobs it starts carry the send's span id.
    */
  final class TimedSink(spark: SparkSession, store: Stream.KeyedUpsertStore, trace: Trace) {
    val sends = new ConcurrentHashMap[Long, Span]()
    private val upsert = Stream.upsertSender(store)
    val fn: (DataFrame, Long) => Unit = (frame, batchId) => {
      val id = trace.newId()
      val sc = spark.sparkContext
      if (trace.enabled) sc.setLocalProperty(SpanProp.Key, id.toString)
      val t0 = Clock.nowMs()
      try upsert(frame, batchId)
      finally if (trace.enabled) sc.setLocalProperty(SpanProp.Key, null)
      sends.put(batchId, Span(id, 0, "sinks.send", t0, Clock.nowMs(), Map("batch" -> batchId.toString)))
    }
    def doneMs(batchId: Long): Option[Double] = Option(sends.get(batchId)).map(_.endMs)
  }

  /** One streaming query's worth of delivery: when it started, each
    * file's due time and landing time, and the sink's per-batch stamps.
    * Files from `timedFrom` on are timed; earlier ones are the query's
    * untimed lead-in.
    */
  final case class QueryRun(startMs: Double, endMs: Double,
      due: Map[Int, Double], landed: Map[Int, Double], sink: TimedSink, timedFrom: Int) {
    def timedFiles: Seq[Int] = due.keys.filter(_ >= timedFrom).toSeq.sorted
    def timedFromMs: Double = timedFiles.map(due).min
  }

  def start(spark: SparkSession, raw: DataFrame, subs: DataFrame, ck: String,
      sink: TimedSink, trigger: Trigger): StreamingQuery =
    Stream.runIngest(raw, subs, ck, sink.fn, rules, now = Some(now), trigger = trigger)

  /** Drain `corpus` to the end under `Trigger.AvailableNow`, `maxFiles`
    * files per micro-batch. Every file is due when the query is started.
    */
  def drain(spark: SparkSession, corpus: Path, files: Seq[Int],
      subs: DataFrame, ck: Path, store: Stream.KeyedUpsertStore, maxFiles: Int,
      trace: Trace): QueryRun = trace.span("streaming.drain") {
    val sink = new TimedSink(spark, store, trace)
    val raw = spark.readStream.option("maxFilesPerTrigger", maxFiles.toLong).text(corpus.toString)
    val t0 = Clock.nowMs()
    val q = start(spark, raw, subs, ck.toString, sink, Trigger.AvailableNow())
    q.awaitTermination()
    val t1 = Clock.nowMs()
    q.exception.foreach(e => throw e)
    QueryRun(t0, t1, files.map(_ -> t0).toMap, files.map(_ -> t0).toMap, sink, 0)
  }

  /** Open loop: move the staged files into `src` by atomic rename, the
    * `k`-th due at start + k × `intervalMs`, while the query runs with a
    * zero-interval processing-time trigger. The first `leadIn` files are
    * the untimed lead-in. Returns once every file has been delivered.
    */
  def paced(spark: SparkSession, staged: IndexedSeq[Path], src: Path, leadIn: Int,
      subs: DataFrame, ck: Path, store: Stream.KeyedUpsertStore, intervalMs: Double,
      trace: Trace): QueryRun = trace.span("streaming.paced") {
    Files.createDirectories(src)
    val sink = new TimedSink(spark, store, trace)
    val t0 = Clock.nowMs()
    val q = start(spark, spark.readStream.text(src.toString), subs, ck.toString, sink,
      Trigger.ProcessingTime(0L))
    val first = Clock.nowMs() + 200.0
    val nos = staged.map(Gen.fileNo)
    val due = nos.indices.map(k => nos(k) -> (first + k * intervalMs)).toMap
    val landed = new ConcurrentHashMap[Int, Double]()
    val mover = new Thread(() => {
      staged.indices.foreach { k =>
        val wait = due(nos(k)) - Clock.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
        Files.move(staged(k), src.resolve(staged(k).getFileName), StandardCopyOption.ATOMIC_MOVE)
        landed.put(nos(k), Clock.nowMs())
      }
    }, "nefbench-mover")
    mover.start()
    mover.join()
    q.processAllAvailable()
    val t1 = Clock.nowMs()
    q.stop()
    q.exception.foreach(e => throw e)
    QueryRun(t0, t1, due, landed.asScala.toMap, sink, nos(leadIn))
  }
}
