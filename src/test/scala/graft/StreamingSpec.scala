package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.schemas.NefSchemas
import graft.streaming.Stream

/** H2/H4/H5 — the Structured Streaming driver: a file-source micro-batch
  * through the full NEF pipeline into a collected Kafka-shaped batch, with
  * a checkpoint directory; and the streaming dropDuplicates form of the
  * discovered-fields accumulation.
  */
class StreamingSpec extends SparkSpec {

  private val FixedNow = 1700000000L

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("file source → foreachBatch pipeline → one Kafka array per notifId, checkpointed") {
    val srcDir = tempDir("graft-stream-src")
    val ckptDir = tempDir("graft-stream-ckpt")
    Files.write(java.nio.file.Paths.get(srcDir, "batch0.jsonl"),
      (Seq(Fixtures.perfDataPayload, Fixtures.ueCommPayload,
        Fixtures.unknownNotifPayload).mkString("\n") + "\n").getBytes("UTF-8"))

    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = Stream.runIngest(
      raw = Stream.fileSource(spark, srcDir),
      subscriptions = Fixtures.subscriptions(spark),
      checkpointDir = ckptDir,
      sendBatch = (batch: DataFrame, _: Long) => {
        collected ++= batch.collect().map(r =>
          (r.getAs[String]("key"), r.getAs[String]("value")))
      },
      now = Some(lit(FixedNow)))
    q.awaitTermination(60000)

    assert(collected.size === 1, s"expected ONE Kafka message, got $collected")
    val (key, value) = collected.head
    assert(key === Fixtures.NotifId)
    assert(value.contains("\"thrputUl_mbps\":11.74"))
    assert(value.contains("\"event\":\"UE_COMM\""))
    assert(!value.contains("unknown")) // 403 path contributes nothing
    // checkpoint exists and records the committed batch (H5 at-least-once)
    assert(new java.io.File(ckptDir, "commits").list().nonEmpty)
  }

  test("streaming ≡ batch on the fuzz corpus: runIngest over the corpus split " +
      "into files delivers the batch kafkaMessages' key → record multiset; " +
      "sendBatch's frame is never re-analyzed from the raw JSON") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val srcDir = tempDir("graft-fuzz-src")
    FuzzCorpus.payloads().grouped(1000).zipWithIndex.foreach { case (lines, k) =>
      Files.write(java.nio.file.Paths.get(srcDir, s"part-$k.jsonl"),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    val subs = FuzzCorpus.subscriptions(spark)
    val now = lit(FuzzCorpus.NowSec)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val parses = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = Stream.runIngest(
      raw = spark.readStream.option("maxFilesPerTrigger", "1").text(srcDir),
      subscriptions = subs,
      checkpointDir = tempDir("graft-fuzz-ckpt"),
      sendBatch = (batch: DataFrame, batchId: Long) => {
        batches += batchId
        // the data plane is analyzed once, in the streaming query: the
        // frame handed over per batch holds no from_json of its own
        parses += batch.queryExecution.analyzed
          .collect { case n => n.expressions.flatMap(_.collect { case j: JsonToStructs => j }) }
          .flatten.size
        delivered ++= batch.collect().map(r =>
          (r.getAs[String]("key"), r.getAs[String]("value")))
      },
      now = Some(now))
    q.awaitTermination(300000)
    assert(batches.toSeq === (0L until 4L))
    assert(parses.toSeq === Seq(0, 0, 0, 0), "the data plane was re-analyzed inside foreachBatch")
    // a message is a JSON array of record objects; from_json to
    // array<string> yields each record's text, the same way on both sides
    def records(messages: DataFrame): Map[(String, String), Int] =
      messages.select(col("key"),
          explode(from_json(col("value"), ArrayType(StringType))).as("r"))
        .collect().toSeq.groupBy(r => (r.getString(0), r.getString(1)))
        .map { case (k, v) => k -> v.size }
    import spark.implicits._
    val streamed = records(delivered.toSeq.toDF("key", "value"))
    val batch = records(Ingest.kafkaMessages(
      Ingest.parseNotifications(FuzzCorpus.raw(spark)), subs, now = now))
    assert(batch.values.sum === 9384)
    assert(streamed === batch)
  }

  test("websocket fan-out: per-record data_ingested frames route to the " +
      "subscribed connection only (A4, receiver.py:450–452)") {
    import org.apache.spark.sql.Row
    val srcDir = tempDir("graft-ws-src")
    val ckptDir = tempDir("graft-ws-ckpt")
    val otherNotif = "test-notif-002"
    // two registered subscriptions; each gets a client connection, plus a
    // second connection on the first notifId (fan-OUT, not queueing)
    val subs = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(Fixtures.NotifId, Row(1, "000001"), "internet",
          Seq("PERF_DATA", "UE_MOBILITY"), "nef-sub-abc",
          "http://nef:8090/nnef-event-exposure/v1/subscriptions", 1000000L),
        Row(otherNotif, Row(1, "000001"), "internet",
          Seq("PERF_DATA"), "nef-sub-def",
          "http://nef:8090/nnef-event-exposure/v1/subscriptions", 1000000L)),
      NefSchemas.subscription)
    val otherPayload = Fixtures.perfDataPayload.replace(Fixtures.NotifId, otherNotif)
    Files.write(java.nio.file.Paths.get(srcDir, "b0.jsonl"),
      (Seq(Fixtures.perfDataPayload, Fixtures.ueCommPayload, otherPayload)
        .mkString("\n") + "\n").getBytes("UTF-8"))

    val hub = new Stream.WebSocketHub("ws-spec-" + System.nanoTime())
    hub.connect("client-a", Fixtures.NotifId)
    hub.connect("client-a2", Fixtures.NotifId)
    hub.connect("client-b", otherNotif)
    hub.connect("client-idle", "never-notified")
    val q = Stream.websocketFanoutStream(
      raw = Stream.fileSource(spark, srcDir),
      subscriptions = subs,
      checkpointDir = ckptDir,
      hub = hub,
      now = Some(lit(FixedNow)))
    q.awaitTermination(60000)

    // notif-001 produced 2 surviving records (1 PERF_DATA + 1 UE_COMM)
    // → one frame PER RECORD, identical to both of its connections
    val a = hub.frames("client-a")
    assert(a.size === 2, s"expected 2 per-record frames, got $a")
    assert(a.forall(_.contains("\"type\":\"data_ingested\"")))
    assert(a.forall(_.contains("\"data\":{")))
    assert(a.count(_.contains("\"event\":\"PERF_DATA\"")) === 1)
    assert(a.count(_.contains("\"event\":\"UE_COMM\"")) === 1)
    assert(hub.frames("client-a2").sorted === a.sorted)
    // notif-002's connection sees ONLY its own record
    val b = hub.frames("client-b")
    assert(b.size === 1 && b.forall(_.contains("\"event\":\"PERF_DATA\"")))
    // no cross-talk anywhere
    assert(hub.frames("client-idle").isEmpty)
  }

  test("streaming discovered-fields: dropDuplicates state across micro-batches (H4)") {
    val srcDir = tempDir("graft-fields-src")
    val ckptDir = tempDir("graft-fields-ckpt")
    Files.write(java.nio.file.Paths.get(srcDir, "b0.jsonl"),
      (Fixtures.perfDataPayload + "\n").getBytes("UTF-8"))

    // foreachBatch sink: supports checkpoint recovery (the memory sink does
    // not), so the second run resumes the SAME dedup state.
    val collected = scala.collection.mutable.ArrayBuffer.empty[String]
    def run(): Unit = {
      val q = graft.sinks.Sinks.discoveredFields(
        Stream.envelopeStream(Stream.fileSource(spark, srcDir), Fixtures.subscriptions(spark)))
        .writeStream
        .option("checkpointLocation", ckptDir)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          collected ++= batch.collect().map(_.getAs[String]("field"))
          ()
        }
        .start()
      q.awaitTermination(60000)
    }

    run()
    assert(collected.sorted.toSeq ===
      Seq("pdb_ms", "plr_per_thousand", "thrputDl_mbps", "thrputUl_mbps"))

    // second micro-batch: a UE_COMM notification discovers only "comms";
    // previously-seen fields are suppressed by the checkpointed state (H4)
    collected.clear()
    Files.write(java.nio.file.Paths.get(srcDir, "b1.jsonl"),
      (Fixtures.ueCommPayload + "\n").getBytes("UTF-8"))
    run()
    assert(collected.toSeq === Seq("comms"))
  }

  test("watermarked tumbling windows: late rows dropped, windows close exactly once (H2/H3)") {
    val srcDir = tempDir("graft-window-src")
    val ckptDir = tempDir("graft-window-ckpt")
    def perfAt(ts: String): String =
      s"""{"notifId":"${Fixtures.NotifId}","eventNotifs":[{"event":"PERF_DATA",
         |"perfDataInfos":[{"ueIpAddr":{"ipv4Addr":"10.0.0.1"},"timeStamp":"$ts",
         |"perfData":{"pdb":1}}]}]}""".stripMargin.replace("\n", "")

    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    def run(): Unit = {
      val env = Stream.envelopeStream(
        Stream.fileSource(spark, srcDir), Fixtures.subscriptions(spark))
      val q = Stream.windowedEventCounts(env, "1 hour", "10 minutes")
        .writeStream
        .option("checkpointLocation", ckptDir)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          collected ++= batch.collect().map(r => (r.getAs[Long]("window_start"),
            r.getAs[String]("event"), r.getAs[Long]("n")))
          ()
        }
        .start()
      q.awaitTermination(60000)
    }

    // batch 0: 10:15 and 12:30 → watermark 12:20 closes the 10:00 window
    Files.write(java.nio.file.Paths.get(srcDir, "b0.jsonl"),
      (Seq(perfAt("2026-04-20T10:15:00Z"), perfAt("2026-04-20T12:30:00Z"))
        .mkString("\n") + "\n").getBytes("UTF-8"))
    run()
    assert(collected.toSeq === Seq((1776679200L, "PERF_DATA", 1L))) // 10:00 UTC window

    // batch 1: a LATE 10:05 row (watermark already 12:20 → dropped — the
    // closed window is NOT re-emitted) plus 12:45 joining the open window
    collected.clear()
    Files.write(java.nio.file.Paths.get(srcDir, "b1.jsonl"),
      (Seq(perfAt("2026-04-20T10:05:00Z"), perfAt("2026-04-20T12:45:00Z"))
        .mkString("\n") + "\n").getBytes("UTF-8"))
    run()
    assert(collected.isEmpty, s"late row must not reopen a closed window: $collected")

    // batch 2: 14:00 advances the watermark past 13:00 → the 12:00 window
    // closes with BOTH its rows (12:30 + 12:45), exactly once
    collected.clear()
    Files.write(java.nio.file.Paths.get(srcDir, "b2.jsonl"),
      (perfAt("2026-04-20T14:00:00Z") + "\n").getBytes("UTF-8"))
    run()
    assert(collected.toSeq === Seq((1776686400L, "PERF_DATA", 2L))) // 12:00 UTC window
  }

  test("watermarked SESSION windows: bridging events merge sessions in state, " +
      "sessions close exactly once (H3)") {
    val srcDir = tempDir("graft-session-src")
    val ckptDir = tempDir("graft-session-ckpt")
    def perfAt(ts: String): String =
      s"""{"notifId":"${Fixtures.NotifId}","eventNotifs":[{"event":"PERF_DATA",
         |"perfDataInfos":[{"ueIpAddr":{"ipv4Addr":"10.0.0.1"},"timeStamp":"$ts",
         |"perfData":{"pdb":1}}]}]}""".stripMargin.replace("\n", "")

    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
    def run(): Unit = {
      val env = Stream.envelopeStream(
        Stream.fileSource(spark, srcDir), Fixtures.subscriptions(spark))
      val q = Stream.sessionizedEventCounts(env, "30 minutes", "10 minutes")
        .writeStream
        .option("checkpointLocation", ckptDir)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          collected ++= batch.collect().map(r => (r.getAs[Long]("session_start"),
            r.getAs[Long]("session_end"), r.getAs[String]("event"), r.getAs[Long]("n")))
          ()
        }
        .start()
      q.awaitTermination(60000)
    }

    // batch 0: 10:00 and 10:40 are 40 min apart — two separate sessions
    // (10:00–10:30, 10:40–11:10) until 10:20 BRIDGES them (each gap ≤ 30
    // min) in the same batch, so state holds
    // ONE merged session 10:00–11:10; 13:00 advances the watermark past
    // 11:10 and closes it exactly once with all 3 events
    Files.write(java.nio.file.Paths.get(srcDir, "b0.jsonl"),
      (Seq(perfAt("2026-04-20T10:00:00Z"), perfAt("2026-04-20T10:40:00Z"),
        perfAt("2026-04-20T10:20:00Z"), perfAt("2026-04-20T13:00:00Z"))
        .mkString("\n") + "\n").getBytes("UTF-8"))
    run()
    assert(collected.toSeq === Seq((1776679200L, 1776683400L, "PERF_DATA", 3L)),
      s"merged session expected: $collected") // 10:00 → 11:10 UTC
    // batch 1: a LATE 10:50 row (watermark 12:50 → dropped, the closed
    // session is not reopened or re-emitted)
    collected.clear()
    Files.write(java.nio.file.Paths.get(srcDir, "b1.jsonl"),
      (perfAt("2026-04-20T10:50:00Z") + "\n").getBytes("UTF-8"))
    run()
    assert(collected.isEmpty, s"late row must not reopen a closed session: $collected")
    // batch 2: 15:00 closes 13:00's singleton session (13:00–13:30) once
    collected.clear()
    Files.write(java.nio.file.Paths.get(srcDir, "b2.jsonl"),
      (perfAt("2026-04-20T15:00:00Z") + "\n").getBytes("UTF-8"))
    run()
    assert(collected.toSeq === Seq((1776690000L, 1776691800L, "PERF_DATA", 1L)),
      s"singleton session expected: $collected")
  }

  test("flatMapGroupsWithState: per-subscription state accumulates across restarts") {
    val srcDir = tempDir("graft-state-src")
    val ckptDir = tempDir("graft-state-ckpt")
    val collected = scala.collection.mutable.ArrayBuffer.empty[Stream.SubActivity]
    def run(): Unit = {
      val env = Stream.envelopeStream(
        Stream.fileSource(spark, srcDir), Fixtures.subscriptions(spark))
      val q = Stream.subscriptionActivity(env)
        .writeStream
        .option("checkpointLocation", ckptDir)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Stream.SubActivity], _: Long) =>
          collected ++= batch.collect()
          ()
        }
        .start()
      q.awaitTermination(60000)
    }

    // batch 0: one PERF_DATA record
    Files.write(java.nio.file.Paths.get(srcDir, "b0.jsonl"),
      (Fixtures.perfDataPayload + "\n").getBytes("UTF-8"))
    run()
    assert(collected.toSeq === Seq(
      Stream.SubActivity(Fixtures.NotifId, 1L, 1776680100L)))

    // batch 1 (restarted query, same checkpoint): two more records — the
    // running count resumes from the stored state, not from zero
    collected.clear()
    Files.write(java.nio.file.Paths.get(srcDir, "b1.jsonl"),
      (Seq(Fixtures.ueCommPayload, Fixtures.ueMobilityPayload).mkString("\n") + "\n")
        .getBytes("UTF-8"))
    run()
    assert(collected.toSeq === Seq(
      Stream.SubActivity(Fixtures.NotifId, 3L, 1776680100L)))
  }

  test("transformWithState: the same per-subscription state on the Spark-4 API") {
    // identical scenario to the flatMapGroupsWithState test above — the
    // output contract must not depend on which state API carries it
    val srcDir = tempDir("graft-tws-src")
    val ckptDir = tempDir("graft-tws-ckpt")
    val collected = scala.collection.mutable.ArrayBuffer.empty[Stream.SubActivity]
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(): Unit = {
        val env = Stream.envelopeStream(
          Stream.fileSource(spark, srcDir), Fixtures.subscriptions(spark))
        val q = Stream.subscriptionActivityTws(env)
          .writeStream
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Stream.SubActivity], _: Long) =>
            collected ++= batch.collect()
            ()
          }
          .start()
        q.awaitTermination(60000)
      }
      Files.write(java.nio.file.Paths.get(srcDir, "b0.jsonl"),
        (Fixtures.perfDataPayload + "\n").getBytes("UTF-8"))
      run()
      assert(collected.toSeq === Seq(
        Stream.SubActivity(Fixtures.NotifId, 1L, 1776680100L)))
      collected.clear()
      Files.write(java.nio.file.Paths.get(srcDir, "b1.jsonl"),
        (Seq(Fixtures.ueCommPayload, Fixtures.ueMobilityPayload).mkString("\n") + "\n")
          .getBytes("UTF-8"))
      run()
      assert(collected.toSeq === Seq(
        Stream.SubActivity(Fixtures.NotifId, 3L, 1776680100L)))
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState MapState: per-field counts resume and emit deltas only") {
    val srcDir = tempDir("graft-twsmap-src")
    val ckptDir = tempDir("graft-twsmap-ckpt")
    val collected = scala.collection.mutable.ArrayBuffer.empty[Stream.FieldCount]
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(): Unit = {
        val env = Stream.envelopeStream(
          Stream.fileSource(spark, srcDir), Fixtures.subscriptions(spark))
        val q = Stream.fieldCountsTws(env)
          .writeStream
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Stream.FieldCount], _: Long) =>
            collected ++= batch.collect()
            ()
          }
          .start()
        q.awaitTermination(60000)
      }
      // batch 0: one PERF_DATA record — every scalar metric key counts 1
      Files.write(java.nio.file.Paths.get(srcDir, "b0.jsonl"),
        (Fixtures.perfDataPayload + "\n").getBytes("UTF-8"))
      run()
      val first = collected.map(f => f.field -> f.n).toMap
      assert(first === Map("thrputDl_mbps" -> 1L, "thrputUl_mbps" -> 1L,
        "pdb_ms" -> 1L, "plr_per_thousand" -> 1L))
      // batch 1 (restart): the SAME payload again — counts resume from
      // MapState (2, not 1), and ONLY touched fields re-emit
      collected.clear()
      Files.write(java.nio.file.Paths.get(srcDir, "b1.jsonl"),
        (Fixtures.perfDataPayload + "\n").getBytes("UTF-8"))
      run()
      val second = collected.map(f => f.field -> f.n).toMap
      assert(second === first.view.mapValues(_ + 1).toMap,
        s"counts must resume from checkpointed MapState: $second")
      // batch 2: a UE_MOBILITY record touches NO scalar metric keys —
      // the delta contract means zero rows, not a re-dump of the map
      collected.clear()
      Files.write(java.nio.file.Paths.get(srcDir, "b2.jsonl"),
        (Fixtures.ueMobilityPayload + "\n").getBytes("UTF-8"))
      run()
      assert(collected.isEmpty,
        s"untouched fields must not re-emit: $collected")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState timers: watermark closes idle sessions; gaps close inline") {
    val srcDir = tempDir("graft-twstimer-src")
    val ckptDir = tempDir("graft-twstimer-ckpt")
    val collected = scala.collection.mutable.ArrayBuffer.empty[Stream.SessionClose]
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val T = 1000000000L
      def run(): Unit = {
        val src = spark.readStream
          .schema("k string, ts long").json(srcDir)
        val q = Stream.sessionCloseTws(src, gapSec = 1800L)
          .writeStream
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Stream.SessionClose], _: Long) =>
            collected ++= batch.collect()
            ()
          }
          .start()
        q.awaitTermination(60000)
      }
      def write(name: String, rows: (String, Long)*): Unit =
        Files.write(java.nio.file.Paths.get(srcDir, name),
          (rows.map { case (k, ts) => s"""{"k":"$k","ts":$ts}""" }
            .mkString("\n") + "\n").getBytes("UTF-8"))

      // b0: two a-records inside one session — watermark ends the run at
      // T+900, short of a's timer (T+2700): nothing closes
      write("b0.jsonl", ("a", T), ("a", T + 900))
      run()
      assert(collected.isEmpty, s"no session may close yet: $collected")
      // b1: b appears at T+10800. AvailableNow appends a no-data batch
      // after the data batch, so the watermark advances to T+10800
      // WITHIN this run and a's timer fires with no a-traffic at all —
      // the pure timer-close path
      write("b1.jsonl", ("b", T + 10800))
      run()
      assert(collected.toSeq === Seq(Stream.SessionClose("a", 2L, T, T + 900)),
        s"expected the timer close of a: $collected")
      // b2: b again 60s later — same session extends, its timer re-arms
      // to T+12660, watermark only reaches T+10860: nothing closes
      collected.clear()
      write("b2.jsonl", ("b", T + 10860))
      run()
      assert(collected.isEmpty, s"b must extend, not close: $collected")
      // b3: two a-records 3000s apart in ONE batch — the first closes
      // INLINE (gap exceeded within handleInputRows); the same run's
      // watermark (T+23000) then fires b's T+12660 timer
      write("b3.jsonl", ("a", T + 20000), ("a", T + 23000))
      run()
      assert(collected.sortBy(_.key).toSeq === Seq(
        Stream.SessionClose("a", 1L, T + 20000, T + 20000),
        Stream.SessionClose("b", 2L, T + 10800, T + 10860)),
        s"expected a's inline close + b's timer close: $collected")
      // b4: unrelated c at T+23100 — a's re-armed timer (T+24800) stays
      // ahead of the watermark; open sessions (a, c) survive the run
      collected.clear()
      write("b4.jsonl", ("c", T + 23100))
      run()
      assert(collected.isEmpty, s"no close expected: $collected")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState ListState: bounded rolling window resumes across restarts") {
    val srcDir = tempDir("graft-twslist-src")
    val ckptDir = tempDir("graft-twslist-ckpt")
    val collected = scala.collection.mutable.ArrayBuffer.empty[Stream.RollingStat]
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(): Unit = {
        val src = spark.readStream
          .schema("k string, ts long, v long").json(srcDir)
        val q = Stream.recentActivityTws(src, keep = 3)
          .writeStream
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Stream.RollingStat], _: Long) =>
            collected ++= batch.collect()
            ()
          }
          .start()
        q.awaitTermination(60000)
      }
      def write(name: String, rows: (String, Long, Long)*): Unit =
        Files.write(java.nio.file.Paths.get(srcDir, name),
          (rows.map { case (k, ts, v) => s"""{"k":"$k","ts":$ts,"v":$v}""" }
            .mkString("\n") + "\n").getBytes("UTF-8"))

      // b0: two observations for a — window below capacity
      write("b0.jsonl", ("a", 10L, 100L), ("a", 20L, 200L))
      run()
      assert(collected.toSeq === Seq(Stream.RollingStat("a", 2L, 300L, 20L)))
      // b1 (restart): two more — ListState resumed, window trims to the
      // LAST 3 by ts: (20,200),(30,50),(40,10)
      collected.clear()
      write("b1.jsonl", ("a", 30L, 50L), ("a", 40L, 10L))
      run()
      assert(collected.toSeq === Seq(Stream.RollingStat("a", 3L, 260L, 40L)),
        s"window must resume and trim: $collected")
      // b2: a LATE observation (ts 5, before everything) — sorted window
      // keeps (20,200),(30,50),(40,10): stats unchanged but re-emitted
      // (the key was touched); an untouched key b starts its own window
      collected.clear()
      write("b2.jsonl", ("a", 5L, 999L), ("b", 1L, 7L))
      run()
      assert(collected.sortBy(_.key).toSeq === Seq(
        Stream.RollingStat("a", 3L, 260L, 40L),
        Stream.RollingStat("b", 1L, 7L, 1L)),
        s"late row must fall off the sorted window: $collected")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState incremental dedup: the banded signature store " +
      "survives a restart and absorbs at-least-once replays") {
    val srcDir = tempDir("graft-twsdedup-src")
    val ckptDir = tempDir("graft-twsdedup-ckpt")
    val collected = scala.collection.mutable.ArrayBuffer.empty[Stream.DupMatch]
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(): Unit = {
        val src = spark.readStream
          .schema("doc_id long, text string").json(srcDir)
        val q = Stream.incrementalDedupTws(src, n = 3, k = 16, bands = 4,
            threshold = 0.5)
          .writeStream
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Stream.DupMatch], _: Long) =>
            collected ++= batch.collect()
            ()
          }
          .start()
        q.awaitTermination(60000)
      }
      def write(name: String, rows: (Long, String)*): Unit =
        Files.write(java.nio.file.Paths.get(srcDir, name),
          (rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
            .mkString("\n") + "\n").getBytes("UTF-8"))
      def pairs = collected.map(m => (m.docId, m.matchId)).toSet
      val base = "alpha beta gamma delta epsilon zeta eta theta"

      // b0: 2 is a near-dup of 1; 3 shares nothing
      write("b0.jsonl", (1L, base), (2L, base + " iota"),
        (3L, "one two three four five six seven eight"))
      run()
      assert(pairs === Set((2L, 1L)), s"batch-internal match only: $collected")
      assert(collected.forall(_.estJaccard >= 0.5))

      // b1 (restarted query): 11 duplicates 1 exactly — it must match
      // against the RESTORED signature store (both 1 and 2), proving the
      // state survived the restart; 12 is fresh and matches nothing
      collected.clear()
      write("b1.jsonl", (11L, base),
        (12L, "nine ten eleven twelve thirteen fourteen"))
      run()
      assert(pairs === Set((11L, 1L), (11L, 2L)),
        s"restored store must serve the probe: $collected")
      assert(collected.filter(m => m.matchId == 1L).forall(_.estJaccard == 1.0),
        "an exact copy estimates J = 1.0 against its original")

      // b2: an upstream at-least-once REPLAY of doc 11 (same id, same
      // text, new file) — already in every bucket store, absorbed with
      // zero emissions; 13 is fresh and silent
      collected.clear()
      write("b2.jsonl", (11L, base),
        (13L, "fifteen sixteen seventeen eighteen nineteen twenty"))
      run()
      assert(collected.isEmpty, s"replay must be absorbed: $collected")

      // b3: an upstream CORRECTION — doc 13 re-arrives under its id with
      // DIFFERENT text (now an exact copy of base). Absorption keyed on
      // id alone would drop it silently (indistinguishable from a
      // replay); signature-keyed absorption re-probes the store and
      // updates 13's signature, so the correction matches 1, 2 and 11
      collected.clear()
      write("b3.jsonl", (13L, base))
      run()
      assert(pairs === Set((13L, 1L), (13L, 2L), (13L, 11L)),
        s"a corrected document must re-probe the store: $collected")

      // b4: an at-least-once replay of the CORRECTED doc (same id, same
      // NEW text) — stored and incoming signatures now equal, absorbed
      collected.clear()
      write("b4.jsonl", (13L, base))
      run()
      assert(collected.isEmpty,
        s"replay of the corrected doc must be absorbed: $collected")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState incremental novelty: gram store survives restart, " +
      "absorbs replays, and per-doc credits equal batch t33 under " +
      "id-ascending ingest") {
    val srcDir = tempDir("graft-twsnovel-src")
    val ckptDir = tempDir("graft-twsnovel-ckpt")
    val collected = scala.collection.mutable.ArrayBuffer.empty[Stream.NovelGram]
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(): Unit = {
        val src = spark.readStream
          .schema("doc_id long, text string").json(srcDir)
        val q = Stream.incrementalNoveltyTws(src, n = 3)
          .writeStream
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Stream.NovelGram], _: Long) =>
            collected ++= batch.collect()
            ()
          }
          .start()
        q.awaitTermination(60000)
      }
      def write(name: String, rows: (Long, String)*): Unit =
        Files.write(java.nio.file.Paths.get(srcDir, name),
          (rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
            .mkString("\n") + "\n").getBytes("UTF-8"))
      def credits = collected.groupBy(_.docId).view.mapValues(_.size.toLong).toMap

      // b0 (id order): doc 0 introduces both its grams; doc 1 shares
      // "b c d" and introduces "c d e"; doc 2 is a verbatim copy of 0
      val b0 = Seq((0L, "a b c d"), (1L, "b c d e"), (2L, "a b c d"))
      write("b0.jsonl", b0: _*)
      run()
      assert(credits === Map(0L -> 2L, 1L -> 1L),
        s"b0 credits wrong: $collected")

      // b1 (restarted query): doc 3 overlaps the RESTORED store ("c d e"
      // is doc 1's), doc 4 is all-new — restart must not re-credit
      val b1 = Seq((3L, "c d e f"), (4L, "x y z w"))
      write("b1.jsonl", b1: _*)
      run()
      assert(credits === Map(0L -> 2L, 1L -> 1L, 3L -> 1L, 4L -> 2L),
        s"restored gram store must gate b1: $collected")

      // b2: an at-least-once replay of doc 3 — every gram occupied,
      // absorbed with zero emissions
      val before = collected.size
      write("b2.jsonl", (3L, "c d e f"))
      run()
      assert(collected.size === before, s"replay must be absorbed: $collected")

      // PARITY: summed stream credits per doc == batch t33's n_novel on
      // the union corpus (ids arrived ascending, so first-seen ≡ min-id)
      import spark.implicits._
      val union = (b0 ++ b1).toDF("doc_id", "text")
      val batch = graft.analytics.TextAnalysis.noveltyScores(union, n = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(batch === credits ++ Map(2L -> 0L),
        s"stream credits $credits must replay batch n_novel $batch")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState incremental dedup: batch/stream PARITY — the " +
      "streaming store emits exactly the candidate set the batch banded " +
      "index derives from the SAME signatures and bucket keys") {
    // the contract Dedup.bandBucketKeys exists to protect: batch and
    // stream must route every signature to identical buckets. The
    // expected set is derived DRIVER-SIDE from the batch operators'
    // own outputs (signatures + bucket keys), simulating the
    // processor's insert-in-doc_id-order semantics per bucket.
    import spark.implicits._
    val (n, k, bands, thr) = (3, 16, 4, 0.5)
    val base = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu",
      "one two three four five six seven eight nine ten eleven twelve",
      "one two three four five six seven eight nine ten eleven thirteen",
      "completely different tokens here now indeed truly unlike anything else at all")
    val docs = base.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sigs = graft.analytics.Dedup
      .minhashSignaturesPortable(docs, n, k).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val buckets = {
      val bk = graft.analytics.Dedup.bandBucketKeys(col("sig"), bands, k / bands)
      graft.analytics.Dedup.minhashSignaturesPortable(docs, n, k)
        .select(col("id"), explode(bk).as("bucket")).collect()
        .map(r => (r.getLong(1), r.getLong(0)))
    }
    val expected = buckets.groupBy(_._1).toSeq.flatMap { case (bucket, occ) =>
      val ids = occ.map(_._2).distinct.sorted.toSeq
      for {
        (id, i) <- ids.zipWithIndex
        mid <- ids.take(i)
        est = sigs(id).zip(sigs(mid)).count { case (a, b) => a == b }.toDouble / k
        if est >= thr
      } yield (id, mid, bucket, est)
    }.toSet
    assert(expected.map(p => (p._1, p._2)) === Set((1L, 0L), (3L, 2L)),
      s"fixture sanity: the two near-dup pairs collide, the loner doesn't: $expected")

    val srcDir = tempDir("graft-twsparity-src")
    val ckptDir = tempDir("graft-twsparity-ckpt")
    Files.write(java.nio.file.Paths.get(srcDir, "b0.jsonl"),
      (base.zipWithIndex.map { case (t, i) => s"""{"doc_id":$i,"text":"$t"}""" }
        .mkString("\n") + "\n").getBytes("UTF-8"))
    val collected = scala.collection.mutable.ArrayBuffer.empty[Stream.DupMatch]
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = spark.readStream.schema("doc_id long, text string").json(srcDir)
      val q = Stream.incrementalDedupTws(src, n, k, bands, thr)
        .writeStream
        .option("checkpointLocation", ckptDir)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Stream.DupMatch], _: Long) =>
          collected ++= batch.collect()
          ()
        }
        .start()
      q.awaitTermination(60000)
      val got = collected
        .map(m => (m.docId, m.matchId, m.bucket, m.estJaccard)).toSet
      assert(got === expected, s"batch/stream bucket parity: $got vs $expected")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("q38 streaming twin: dedup gate → scoring → quota reproduces the " +
      "batch curation pipeline across a checkpointed restart, absorbing a replay") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val batchOut = SparkEntry.queries("q38_curation_pipeline")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

    val srcDir = tempDir("graft-q38-src")
    val ckptDir = tempDir("graft-q38-ckpt")
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double, Long)]
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // id-ascending batches: ingest order IS the keep priority, so the
      // gate's first-seen keeper equals batch q38's min-id survivor
      def writeBatch(name: String, lo: Long, hi: Long): Unit =
        Files.write(java.nio.file.Paths.get(srcDir, name),
          (docs.where(col("doc_id") >= lo && col("doc_id") < hi)
            .select(col("doc_id"), col("lang"), col("text"))
            .toJSON.collect().mkString("\n") + "\n").getBytes("UTF-8"))
      def run(): Unit = {
        val src = spark.readStream
          .schema("doc_id long, lang string, text string").json(srcDir)
        // the one-pipeline composition: stateful gate → stateless scoring
        // inside foreachBatch → survivors accumulate in the sink
        val q = Stream.curationGateTws(src)
          .writeStream
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.Dataset[Stream.KeptDoc], _: Long) =>
            collected ++= QueryHelpers.qualityScored(
                b.toDF().withColumnRenamed("docId", "doc_id"))
              .as[(Long, String, Double, Long)].collect()
            ()
          }
          .start()
        q.awaitTermination(60000)
      }
      writeBatch("b0.jsonl", 0L, 167L)
      run()
      writeBatch("b1.jsonl", 167L, 334L)
      run() // full restart: the fingerprint store must resume from RocksDB
      val afterB1 = collected.size
      writeBatch("b1-replay.jsonl", 167L, 334L)
      run() // at-least-once replay of a committed batch: absorbed entirely
      assert(collected.size === afterB1,
        "a replayed batch must add no survivors (every fingerprint occupied)")
      writeBatch("b2.jsonl", 334L, Long.MaxValue)
      run()

      // quota over the accumulated survivors — the batch tail of
      // qualityQuota, verbatim ordering
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("quality").desc, col("doc_id"))
      val streamOut = collected.toSeq
        .toDF("doc_id", "lang", "quality", "n_tokens")
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .where(col("rnk") <= 20)
        .select(col("lang"), col("rnk"), col("doc_id"), col("quality"))
        .orderBy(col("lang"), col("rnk"))
        .as[(String, Long, Long, Double)].collect().toSeq
      assert(streamOut === batchOut,
        "streaming survivors + quota must equal the batch curation pipeline")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("typed envelope Dataset round-trips the closed output shape") {
    val notifs = Fixtures.notifications(spark, Seq(Fixtures.perfDataPayload))
    val ds = Ingest.envelopeDataset(notifs, Fixtures.subscriptions(spark),
      now = Some(org.apache.spark.sql.functions.lit(FixedNow)).get)
    val env = ds.collect() match {
      case Array(only) => only
      case other => fail(s"expected 1 envelope, got ${other.length}")
    }
    assert(env.notifId === Fixtures.NotifId)
    assert(env.timestamp === 1776680100L)
    assert(env.event === "PERF_DATA")
    assert(env.tags.snssai_sst === Some(1))
    assert(env.tags.ueIpv4Addr === Some("10.0.1.10"))
    assert(env.tags.supi === None)
    assert(env.metrics("thrputDl_mbps") === 87.57)
    assert(env.trajectory === None)
    assert(env.comms === None)
  }

  test("at-least-once delivery: a failed sink batch is retried from the checkpoint (H5)") {
    // The reference swallows produce failures (at-most-once,
    // receiver.py:446–456); the engine's documented deviation is
    // checkpointed at-least-once: a sink failure fails the query, and a
    // restart re-delivers the SAME batch instead of losing it.
    val srcDir = tempDir("graft-alo-src")
    val ckptDir = tempDir("graft-alo-ckpt")
    Files.write(java.nio.file.Paths.get(srcDir, "b0.jsonl"),
      (Fixtures.perfDataPayload + "\n").getBytes("UTF-8"))
    val delivered = scala.collection.mutable.ArrayBuffer.empty[String]
    def run(failSink: Boolean): Option[Throwable] = {
      val q = Stream.runIngest(
        raw = Stream.fileSource(spark, srcDir),
        subscriptions = Fixtures.subscriptions(spark),
        checkpointDir = ckptDir,
        sendBatch = (batch: DataFrame, _: Long) => {
          if (failSink) throw new RuntimeException("kafka down")
          delivered ++= batch.collect().map(_.getAs[String]("key"))
        },
        now = Some(org.apache.spark.sql.functions.lit(FixedNow)))
      try { q.awaitTermination(60000); None }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
    }
    val failure = run(failSink = true)
    assert(failure.nonEmpty, "a sink failure must fail the query, not be swallowed")
    assert(delivered.isEmpty)
    // restart with a healthy sink: the uncommitted batch is re-delivered
    assert(run(failSink = false).isEmpty)
    assert(delivered.toSeq === Seq(Fixtures.NotifId))
  }

  test("exactly-once observable state: (batchId, key) upsert sink absorbs the replayed batch (H5)") {
    // The complement of the at-least-once test above: the sink WRITES its
    // rows and THEN crashes, so the batch is both partially-applied and
    // re-delivered. A (batchId, key)-keyed UPSERT makes the replay
    // overwrite the first attempt — exactly one row per key survives, where
    // an append sink would hold duplicates.
    val srcDir = tempDir("graft-eos-src")
    val ckptDir = tempDir("graft-eos-ckpt")
    Files.write(java.nio.file.Paths.get(srcDir, "b0.jsonl"),
      (Fixtures.perfDataPayload + "\n").getBytes("UTF-8"))
    val store = new Stream.KeyedUpsertStore("h5-" + java.util.UUID.randomUUID())
    val appended = scala.collection.mutable.ArrayBuffer.empty[String] // non-idempotent contrast
    def run(crashAfterWrite: Boolean): Option[Throwable] = {
      val q = Stream.runIngest(
        raw = Stream.fileSource(spark, srcDir),
        subscriptions = Fixtures.subscriptions(spark),
        checkpointDir = ckptDir,
        sendBatch = (batch: DataFrame, batchId: Long) => {
          Stream.upsertSender(store)(batch, batchId)
          appended ++= batch.collect().map(_.getAs[String]("key"))
          if (crashAfterWrite) throw new RuntimeException("sink crashed AFTER writing")
        },
        now = Some(org.apache.spark.sql.functions.lit(FixedNow)))
      try { q.awaitTermination(60000); None }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
    }
    assert(run(crashAfterWrite = true).nonEmpty)
    assert(store.snapshot.size === 1, "first attempt applied its writes before crashing")
    // restart: the SAME batch (same batchId) is re-delivered and re-written
    assert(run(crashAfterWrite = false).isEmpty)
    assert(appended.size === 2, "delivery alone is at-least-once: the batch ran twice")
    // ...but the idempotent store holds exactly one row per (batchId, key)
    assert(store.snapshot.size === 1)
    assert(store.snapshot.keys.map(_._2).toSeq === Seq(Fixtures.NotifId))
  }

  test("parquet streaming source: windowed counts over real events agree with batch") {
    // the driver's events table itself as a stream (readStream.parquet with
    // a glob filter), through the watermarked windows — closed windows must
    // be a nonempty subset of the batch computation over the same data
    val ckptDir = tempDir("graft-pq-ckpt")
    val eventsSchema = spark.read.parquet("/root/testdata/sf0.001/events.parquet").schema
    // adapt to the envelope-count shape: event_type as the grouping key,
    // seconds-truncated event time (dtype-dispatched via EventTime — the
    // testdata ts dtype has shifted across generations) — ONE shaping
    // definition for both sides, so the stream≡batch assertion can't drift
    def shape(df: DataFrame): DataFrame =
      df.select(col("event_type").as("event"),
        org.apache.spark.sql.functions.unix_timestamp(EventTime.secondsFloor(df))
          .as("timestamp"))
    val shaped = shape(spark.readStream
      .schema(eventsSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet("/root/testdata/sf0.001/"))
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val q = Stream.windowedEventCounts(shaped, "1 hour", "10 minutes")
      .writeStream
      .option("checkpointLocation", ckptDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        collected ++= batch.collect().map(r => (r.getAs[Long]("window_start"),
          r.getAs[String]("event"), r.getAs[Long]("n")))
        ()
      }
      .start()
    q.awaitTermination(120000)
    assert(collected.nonEmpty, "closed windows must be emitted")
    val batch = Stream.windowedEventCounts(
        shape(spark.read.parquet("/root/testdata/sf0.001/events.parquet")),
        "1 hour", "10 minutes")
      .collect().map(r => (r.getAs[Long]("window_start"),
        r.getAs[String]("event"), r.getAs[Long]("n"))).toSet
    val missing = collected.toSet -- batch
    assert(missing.isEmpty, s"streaming windows disagree with batch: $missing")
  }

  test("stream-stream interval join: watermarked state-bounded match within lookback") {
    val errDir = tempDir("graft-ssj-err")
    val purDir = tempDir("graft-ssj-pur")
    val ckptDir = tempDir("graft-ssj-ckpt")
    Files.write(java.nio.file.Paths.get(errDir, "e.jsonl"),
      """{"user_id":1,"ets":100}
        |{"user_id":2,"ets":100}
        |{"user_id":3,"ets":100}
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(purDir, "p.jsonl"),
      """{"user_id":1,"pts":80,"value":5.0}
        |{"user_id":1,"pts":10,"value":9.0}
        |{"user_id":2,"pts":95,"value":7.0}
        |""".stripMargin.getBytes("UTF-8"))
    def src(dir: String, schema: String, ts: String): DataFrame =
      spark.readStream.schema(schema).json(dir)
        .withColumn(ts, timestamp_seconds(col(ts)))
    val errors = src(errDir, "user_id LONG, ets LONG", "ets")
    val purchases = src(purDir, "user_id LONG, pts LONG, value DOUBLE", "pts")
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val q = Stream.intervalJoin(errors, purchases, Seq("user_id"), "ets", "pts",
        lookback = "30 seconds")
      .writeStream
      .option("checkpointLocation", ckptDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        collected ++= batch.collect().map(r =>
          (r.getAs[Long]("user_id"), r.getAs[Double]("value")))
        ()
      }
      .start()
    q.awaitTermination(120000)
    // user 1: only the purchase at t=80 is within [70,100] (t=10 is stale);
    // user 2: t=95 matches; user 3: no purchases at all
    assert(collected.sorted.toSeq === Seq((1L, 5.0), (2L, 7.0)))

    // same operator over batch frames (watermark no-op) gives the same rows
    def bsrc(dir: String, schema: String, ts: String): DataFrame =
      spark.read.schema(schema).json(dir).withColumn(ts, timestamp_seconds(col(ts)))
    val batchRows = Stream.intervalJoin(
        bsrc(errDir, "user_id LONG, ets LONG", "ets"),
        bsrc(purDir, "user_id LONG, pts LONG, value DOUBLE", "pts"),
        Seq("user_id"), "ets", "pts", lookback = "30 seconds")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value"))).sorted.toSeq
    assert(batchRows === Seq((1L, 5.0), (2L, 7.0)))
  }

  test("stream-stream LEFT OUTER interval join: unmatched rows emit after watermark eviction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val errors = MemoryStream[(Long, Long)](spark)
    val purchases = MemoryStream[(Long, Long, Double)](spark)
    val e = errors.toDF.toDF("user_id", "ets")
      .withColumn("ets", timestamp_seconds(col("ets")))
    val p = purchases.toDF.toDF("user_id", "pts", "value")
      .withColumn("pts", timestamp_seconds(col("pts")))
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Double])]
    val q = Stream.intervalJoin(e, p, Seq("user_id"), "ets", "pts",
        lookback = "30 seconds", watermarkDelay = "10 seconds", joinType = "left_outer")
      .writeStream
      .option("checkpointLocation", tempDir("graft-ssoj-ckpt"))
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        collected ++= batch.collect().map(r => (r.getAs[Long]("user_id"),
          Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue())))
        ()
      }
      .start()
    // batch 1: users 1 and 2 have in-window purchases, user 3 has none
    errors.addData((1L, 100L), (2L, 100L), (3L, 100L))
    purchases.addData((1L, 80L, 5.0), (2L, 95L, 7.0))
    q.processAllAvailable()
    assert(collected.toSet === Set((1L, Some(5.0)), (2L, Some(7.0))),
      s"inner matches emit immediately; user 3 must be HELD in state, got $collected")
    // batch 2 advances both watermarks far past user 3's match interval —
    // Spark can now prove no future purchase can match, and emits the null row
    errors.addData((9L, 10000L))
    purchases.addData((9L, 10000L, 1.0))
    q.processAllAvailable()
    // one more micro-batch so the eviction results flush
    errors.addData((9L, 10001L))
    purchases.addData((9L, 10001L, 1.0))
    q.processAllAvailable()
    q.stop()
    assert(collected.contains((3L, None)),
      s"unmatched left row must emit with null after eviction, got $collected")
  }

  test("stream-stream FULL OUTER interval join: unmatched rows on both sides emit with coalesced keys") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val errors = MemoryStream[(Long, Long)](spark)
    val purchases = MemoryStream[(Long, Long, Double)](spark)
    val e = errors.toDF.toDF("user_id", "ets")
      .withColumn("ets", timestamp_seconds(col("ets")))
    val p = purchases.toDF.toDF("user_id", "pts", "value")
      .withColumn("pts", timestamp_seconds(col("pts")))
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Option[Double])]
    val q = Stream.intervalJoin(e, p, Seq("user_id"), "ets", "pts",
        lookback = "30 seconds", watermarkDelay = "10 seconds", joinType = "full_outer")
      .writeStream
      .option("checkpointLocation", tempDir("graft-ssfoj-ckpt"))
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        collected ++= batch.collect().map(r => (r.getAs[Long]("user_id"),
          r.isNullAt(r.fieldIndex("ets")),
          Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue())))
        ()
      }
      .start()
    // batch 1: user 1 matches; user 3 is left-only; user 4 is right-only
    // (purchase at t=95 with no error row at all)
    errors.addData((1L, 100L), (3L, 100L))
    purchases.addData((1L, 80L, 5.0), (4L, 95L, 7.0))
    q.processAllAvailable()
    assert(collected.toSet === Set((1L, false, Some(5.0))),
      s"only the inner match may emit before eviction, got $collected")
    // advance both watermarks far past every pending interval, then flush
    errors.addData((9L, 10000L))
    purchases.addData((9L, 10000L, 1.0))
    q.processAllAvailable()
    errors.addData((9L, 10001L))
    purchases.addData((9L, 10001L, 1.0))
    q.processAllAvailable()
    q.stop()
    assert(collected.contains((3L, false, None)),
      s"unmatched LEFT row must emit with null right columns, got $collected")
    assert(collected.contains((4L, true, Some(7.0))),
      s"unmatched RIGHT row must emit with its key coalesced (non-null " +
        s"user_id, null ets), got $collected")
  }

  test("dropDuplicatesWithinWatermark: source-side duplicates dropped, state bounded by the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val src = MemoryStream[(String, Long)](spark)
    val deduped = Stream.dedupWithinWatermark(
      src.toDF.toDF("notif_id", "ts")
        .withColumn("event_time", timestamp_seconds(col("ts"))),
      Seq("notif_id"), "event_time", watermarkDelay = "10 seconds")
    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val q = deduped.writeStream
      .option("checkpointLocation", tempDir("graft-dedup-ckpt"))
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        collected ++= batch.collect().map(r =>
          (r.getAs[String]("notif_id"), r.getAs[Long]("ts")))
        ()
      }
      .start()
    // batch 1: A re-sent twice by the source and B once
    src.addData(("A", 100L), ("A", 100L), ("B", 101L))
    q.processAllAvailable()
    assert(collected.map(_._1).sorted.toSeq === Seq("A", "B"),
      s"in-batch duplicate must drop, got $collected")
    // batch 2: the source re-delivers A while still within the watermark → dropped
    src.addData(("A", 102L))
    q.processAllAvailable()
    assert(collected.count(_._1 == "A") === 1, s"in-watermark redelivery must drop, got $collected")
    // advance the watermark far past A's state, then A reappears → state
    // was evicted (bounded), so the new A is treated as first-seen
    src.addData(("Z", 10000L))
    q.processAllAvailable()
    src.addData(("A", 10001L))
    q.processAllAvailable()
    q.stop()
    assert(collected.count(_._1 == "A") === 2,
      s"post-eviction key must pass again (bounded state), got $collected")
  }

  test("empty surviving-record set produces no Kafka message (C7 / 204 path)") {
    val srcDir = tempDir("graft-empty-src")
    val ckptDir = tempDir("graft-empty-ckpt")
    Files.write(java.nio.file.Paths.get(srcDir, "b0.jsonl"),
      (Fixtures.unknownNotifPayload + "\n").getBytes("UTF-8"))
    val collected = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = Stream.runIngest(
      raw = Stream.fileSource(spark, srcDir),
      subscriptions = Fixtures.subscriptions(spark),
      checkpointDir = ckptDir,
      sendBatch = (batch: DataFrame, _: Long) => {
        collected ++= batch.collect().map(_.getAs[String]("key"))
      },
      now = Some(org.apache.spark.sql.functions.lit(FixedNow)))
    q.awaitTermination(60000)
    assert(collected.isEmpty) // rejected notification → no message rows
  }

  test("empty micro-batch: a zero-byte source file commits its batch, delivers nothing") {
    // runIngest has no per-batch emptiness guard, so a batch with no input
    // rows runs the whole composition and hands sendBatch an empty frame
    val srcDir = tempDir("graft-zero-src")
    val ckptDir = tempDir("graft-zero-ckpt")
    Files.write(java.nio.file.Paths.get(srcDir, "b0.jsonl"), Array.emptyByteArray)
    val collected = scala.collection.mutable.ArrayBuffer.empty[String]
    val sent = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Stream.runIngest(
      raw = Stream.fileSource(spark, srcDir),
      subscriptions = Fixtures.subscriptions(spark),
      checkpointDir = ckptDir,
      sendBatch = (batch: DataFrame, batchId: Long) => {
        sent += batchId
        collected ++= batch.collect().map(_.getAs[String]("key"))
      },
      now = Some(lit(FixedNow)))
    q.awaitTermination(60000)
    assert(sent.toSeq === Seq(0L), "sendBatch runs once, for batch 0")
    assert(collected.isEmpty, s"an empty batch must deliver no message, got $collected")
    assert(new java.io.File(ckptDir, "commits/0").exists(),
      "the empty batch 0 must still commit")
  }

  test("transformWithState heavy hitters: MG summary survives restart, " +
      "absorbs replays, equals the driver mgMerge replay batch for batch, " +
      "and keeps every true heavy hitter of the union") {
    val srcDir = tempDir("graft-twsmg-src")
    val ckptDir = tempDir("graft-twsmg-ckpt")
    val k = 4
    // last full summary emitted per group (the documented consumer
    // contract: each contributing batch re-emits the whole summary)
    val collected = scala.collection.mutable.ArrayBuffer.empty[Stream.HeavyHitter]
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      var runs = 0
      val perRun = scala.collection.mutable.ArrayBuffer.empty[Seq[Stream.HeavyHitter]]
      def run(): Unit = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Stream.HeavyHitter]
        val src = spark.readStream
          .schema("group string, item_id long, term string").json(srcDir)
        val q = Stream.heavyHittersTws(src, k)
          .writeStream
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Stream.HeavyHitter], _: Long) =>
            buf ++= batch.collect()
            ()
          }
          .start()
        q.awaitTermination(60000)
        runs += 1
        perRun += buf.toSeq
        collected ++= buf
      }
      var nextId = 0L
      def write(name: String, terms: Seq[String]): Seq[(Long, String)] = {
        val rows = terms.map { t => val id = nextId; nextId += 1; (id, t) }
        Files.write(java.nio.file.Paths.get(srcDir, name),
          (rows.map { case (id, t) => s"""{"group":"g","item_id":$id,"term":"$t"}""" }
            .mkString("\n") + "\n").getBytes("UTF-8"))
        rows
      }
      // b0: "A" dominates; tail terms churn the k=4 summary
      val b0 = write("b0.jsonl",
        Seq("A", "A", "A", "B", "C", "D", "E", "A", "B", "F"))
      run()
      // b1 (restarted query, RESTORED summary + high-water mark)
      val b1 = write("b1.jsonl", Seq("A", "G", "G", "G", "B", "H", "A"))
      run()
      val afterB1 = perRun.last
      assert(afterB1.nonEmpty && afterB1.forall(_.group == "g"))
      // b2: an at-least-once REPLAY of b1's exact rows (same ids) — the
      // high-water mark must absorb it with zero emissions
      Files.write(java.nio.file.Paths.get(srcDir, "b2.jsonl"),
        (b1.map { case (id, t) => s"""{"group":"g","item_id":$id,"term":"$t"}""" }
          .mkString("\n") + "\n").getBytes("UTF-8"))
      run()
      assert(perRun.last.isEmpty, s"replay must be absorbed: ${perRun.last}")
      // PARITY: the stream's final summary equals a driver fold of the
      // SAME per-batch exact counts through the SAME Sketches.mgMerge
      def exactCounts(rows: Seq[(Long, String)]): Map[String, Long] =
        rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val replay = Seq(b0, b1).map(exactCounts)
        .foldLeft(Map.empty[String, Long])(graft.analytics.Sketches.mgMerge(k))
      val streamed = afterB1.map(h => h.term -> h.weight).toMap
      assert(streamed === replay,
        s"stream summary $streamed != driver mgMerge replay $replay")
      assert(streamed.size <= k)
      // MG guarantee on the union: any term with true freq > n/(k+1)
      // holds a positive counter in the final summary
      val union = b0 ++ b1
      val heavy = exactCounts(union).collect {
        case (t, c) if c * (k + 1) > union.size => t
      }.toSet
      assert(heavy.nonEmpty && heavy.subsetOf(streamed.keySet),
        s"heavy hitters $heavy escaped the summary ${streamed.keySet}")
      // GROUP ISOLATION: two interleaved key-groups in one batch hold
      // independent summaries and independent high-water marks — g2's
      // dominant term must never leak into g's summary
      val gid = nextId
      Files.write(java.nio.file.Paths.get(srcDir, "b3.jsonl"),
        ((0 until 6).map { i =>
          s"""{"group":"g2","item_id":${gid + 2 * i},"term":"Z"}""" +
            "\n" + s"""{"group":"g","item_id":${gid + 2 * i + 1},"term":"A"}"""
        }.mkString("\n") + "\n").getBytes("UTF-8"))
      nextId += 12
      run()
      val byGroup = perRun.last.groupBy(_.group)
        .view.mapValues(_.map(h => h.term -> h.weight).toMap).toMap
      assert(byGroup("g2") === Map("Z" -> 6L), s"g2 summary: $byGroup")
      assert(!byGroup("g").contains("Z"), s"cross-group leak: $byGroup")
      // g's summary is exactly the restored summary folded with {A: 6}
      // through the shared merge — the per-group replay contract again
      assert(byGroup("g") ===
        graft.analytics.Sketches.mgMerge(k)(streamed, Map("A" -> 6L)),
        s"g summary after b3: $byGroup")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState grouped top-k: ranking survives restart, absorbs " +
      "replays structurally, equals batch GroupedTopK on the union, groups isolated") {
    val srcDir = tempDir("graft-twstopk-src")
    val ckptDir = tempDir("graft-twstopk-ckpt")
    val k = 3
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val perRun = scala.collection.mutable.ArrayBuffer.empty[Seq[Stream.TopKEntry]]
      def run(): Unit = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Stream.TopKEntry]
        val src = spark.readStream
          .schema("group string, score double, id long").json(srcDir)
        val q = Stream.groupedTopKTws(src, k)
          .writeStream
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Stream.TopKEntry], _: Long) =>
            buf ++= batch.collect()
            ()
          }
          .start()
        q.awaitTermination(60000)
        perRun += buf.toSeq
      }
      def write(name: String, rows: Seq[(String, Double, Long)]): Unit =
        Files.write(java.nio.file.Paths.get(srcDir, name),
          (rows.map { case (g, s, id) => s"""{"group":"$g","score":$s,"id":$id}""" }
            .mkString("\n") + "\n").getBytes("UTF-8"))
      // b0: 5 rows for g — ranking is the best 3; ties broken by id
      val b0 = Seq(("g", 5.0, 1L), ("g", 9.0, 2L), ("g", 5.0, 3L),
        ("g", 1.0, 4L), ("g", 7.0, 5L))
      write("b0.jsonl", b0)
      run()
      assert(perRun.last.map(e => (e.rnk, e.id, e.score)) ===
        Seq((1L, 2L, 9.0), (2L, 5L, 7.0), (3L, 1L, 5.0)))
      // b1 (RESTARTED query, restored ranking): one entering row, one
      // below-cut row, one NaN (dropped at the operator boundary)
      val b1 = Seq(("g", 8.0, 6L), ("g", 0.5, 7L), ("g", Double.NaN, 8L))
      write("b1.jsonl", b1)
      run()
      assert(perRun.last.map(e => (e.rnk, e.id, e.score)) ===
        Seq((1L, 2L, 9.0), (2L, 6L, 8.0), (3L, 5L, 7.0)))
      // b2: an at-least-once replay of b1 PLUS a re-send of a ranked row
      // and of a long-evicted row — all absorbed structurally, zero rows
      write("b2.jsonl", b1 ++ Seq(("g", 9.0, 2L), ("g", 1.0, 4L)))
      run()
      assert(perRun.last.isEmpty, s"replay must be absorbed: ${perRun.last}")
      // PARITY with the batch aggregate over the union of all UNIQUE rows
      import spark.implicits._
      val union = (b0 ++ b1).filterNot(_._2.isNaN)
        .toDF("group", "score", "id")
      val batch = graft.operators.GroupedTopK
        .topKPerKey(union, Seq("group"), "score", "id", k)
        .orderBy("rnk").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val lastRanking = perRun.init.last.map(e => (e.rnk, e.id, e.score))
      assert(lastRanking === batch,
        s"stream ranking $lastRanking != batch top-k $batch")
      // GROUP ISOLATION: g2 arrives; g's ranking unchanged → only g2 emits
      write("b3.jsonl", Seq(("g2", 2.0, 100L), ("g2", 3.0, 101L), ("g", 1.0, 102L)))
      run()
      val byGroup = perRun.last.groupBy(_.group)
      assert(byGroup.keySet === Set("g2"), s"only g2 changed: $byGroup")
      assert(byGroup("g2").map(e => (e.rnk, e.id, e.score)) ===
        Seq((1L, 101L, 3.0), (2L, 100L, 2.0)))
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("composed end-to-end exactly-once: dlq parse → enrich → normalize → " +
      "policy → kafka batches + DLQ sinks, crashed BETWEEN sinks at a chosen " +
      "batchId (H5, full-pipeline composition)") {
    // The pieces each carry their own proof (at-least-once redelivery,
    // (batchId,key) upsert absorption, DLQ split, policy gate); this test
    // chains ALL of them in ONE streaming query and kills it mid-batch —
    // after the Kafka-shaped sink wrote batch 1 but BEFORE the DLQ sink did
    // — so the chosen batch is genuinely partially applied ACROSS sinks.
    // The restart must re-deliver batch 1 (same batchId), complete the DLQ
    // half, and overwrite the Kafka half idempotently: observable state
    // equals a never-crashed run's, byte for byte.
    val srcDir = tempDir("graft-e2e-src")
    Files.write(java.nio.file.Paths.get(srcDir, "b0.jsonl"),
      (Seq(Fixtures.perfDataPayload, Fixtures.ueCommPayload,
        """{"notifId": broken""").mkString("\n") + "\n").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(srcDir, "b1.jsonl"),
      (Seq(Fixtures.ueMobilityPayload, Fixtures.unknownNotifPayload,
        "not json at all").mkString("\n") + "\n").getBytes("UTF-8"))
    val rules = graft.policy.Policy.Rules(
      hashTags = Set("supi"), dropMetrics = Set("pdb_ms"))
    val crashAt = 1L
    def pipeline(kafka: Stream.KeyedUpsertStore, dlq: Stream.KeyedUpsertStore,
        ckptDir: String, crashOnce: Boolean,
        deliveries: scala.collection.mutable.ArrayBuffer[Long]): Option[Throwable] = {
      @volatile var armed = crashOnce
      def run(): Option[Throwable] = {
        val q = spark.readStream.option("maxFilesPerTrigger", "1").text(srcDir)
          .writeStream
          .option("checkpointLocation", ckptDir)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val (ok, bad) = Ingest.parseNotificationsWithDlq(batch)
            val msgs = graft.sinks.Sinks.kafkaBatches(
              Ingest.envelopes(ok, Fixtures.subscriptions(spark), rules,
                lit(FixedNow)), deterministicOrder = true)
            Stream.upsertSender(kafka)(msgs, batchId)
            deliveries += batchId
            if (armed && batchId == crashAt)
              throw new RuntimeException("crashed between the two sinks")
            Stream.upsertSender(dlq)(
              bad.select(col("payload").as("key"), col("payload").as("value")),
              batchId)
          }
          .start()
        try { q.awaitTermination(120000); None }
        catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
      }
      val first = run()
      if (crashOnce) {
        assert(first.nonEmpty, "the armed crash must fail the query")
        armed = false
        assert(run().isEmpty, "the restart must complete")
      } else assert(first.isEmpty)
      first
    }
    val uid = java.util.UUID.randomUUID().toString
    // crashed run: batch 0 commits clean, batch 1 crashes between sinks
    val kafka = new Stream.KeyedUpsertStore(s"e2e-kafka-$uid")
    val dlq = new Stream.KeyedUpsertStore(s"e2e-dlq-$uid")
    val deliveries = scala.collection.mutable.ArrayBuffer.empty[Long]
    pipeline(kafka, dlq, tempDir("graft-e2e-ckpt"), crashOnce = true, deliveries)
    assert(deliveries.count(_ == crashAt) === 2,
      s"the crashed batch must be re-delivered under the SAME id: $deliveries")
    assert(deliveries.count(_ == 0L) === 1,
      s"the committed batch must NOT be replayed: $deliveries")
    // reference run: same source, fresh stores/checkpoint, never crashed
    val kafkaRef = new Stream.KeyedUpsertStore(s"e2e-kafka-ref-$uid")
    val dlqRef = new Stream.KeyedUpsertStore(s"e2e-dlq-ref-$uid")
    pipeline(kafkaRef, dlqRef, tempDir("graft-e2e-ckpt-ref"), crashOnce = false,
      scala.collection.mutable.ArrayBuffer.empty[Long])
    assert(kafka.snapshot === kafkaRef.snapshot,
      "crashed-and-restarted Kafka state must equal the never-crashed run's")
    assert(dlq.snapshot === dlqRef.snapshot,
      "crashed-and-restarted DLQ state must equal the never-crashed run's")
    // content sanity: both batches' messages landed once each; the DLQ holds
    // exactly the two malformed lines; the policy actually gated the stream
    // (supi sha2-hashed, pdb_ms dropped) through the crash
    assert(kafka.snapshot.keySet.map(_._1) === Set(0L, 1L))
    assert(dlq.snapshot.keySet ===
      Set((0L, """{"notifId": broken"""), (1L, "not json at all")))
    val b1 = kafka.snapshot((1L, Fixtures.NotifId))
    assert(b1.contains(""""supi":"""") && !b1.contains("imsi-001011234567890"),
      s"supi must be hashed in the surviving record: $b1")
    val b0 = kafka.snapshot((0L, Fixtures.NotifId))
    assert(!b0.contains("pdb_ms") && b0.contains("thrputDl_mbps"),
      s"pdb_ms must be dropped by the policy gate: $b0")
  }

  test("streaming IVF maintenance: batch-partitioned ops log absorbs a " +
      "crashed batch's replay; last op wins across batches (delete → " +
      "re-add with a new vector); live answers equal the batch index on " +
      "the net corpus and survive compaction into the plain s31 path") {
    import graft.analytics.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val vecOf: Map[Long, Array[Float]] = e.where(col("vec_id") <= 110)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
    val base = e.where(col("vec_id") < 100 && col("vec_id") % 2 === 0)
    val tbl = "graft_sivf_stream_idx"
    Similarity.writeIvfLists(base, tbl, nCells = 8)
    val srcDir = tempDir("graft-sivf-src")
    val ckpt = tempDir("graft-sivf-ckpt")
    val stageDir = tempDir("graft-sivf-stage")
    import spark.implicits._
    def writeOps(name: String, ops: Seq[(String, Long, Array[Float])]): Unit = {
      val tmp = s"$stageDir/$name"
      ops.toDF("op", "vec_id", "embedding").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/$name.parquet"))
    }
    val applied = scala.collection.mutable.ArrayBuffer.empty[Long]
    @volatile var armed = false
    def runOnce(): Option[Throwable] = {
      val q = Stream.ivfMaintenanceStream(
        spark.readStream.schema(
          "op string, vec_id bigint, embedding array<float>")
          .parquet(srcDir),
        tbl, ckpt,
        onBatch = id => {
          applied += id
          if (armed && id == 1L) { armed = false
            throw new RuntimeException("crashed AFTER the ops write") }
        })
      try { q.awaitTermination(120000); None }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
    }
    try {
      // batch 0: ten adds (odd ids)
      writeOps("b0", (1L to 19L by 2).map(i => ("add", i, vecOf(i))))
      assert(runOnce().isEmpty)
      // batch 1: two base deletes + one add — crash AFTER the ops write,
      // BEFORE the checkpoint commit; restart must overwrite, not double
      writeOps("b1", Seq(("del", 0L, Array.empty[Float]),
        ("del", 2L, Array.empty[Float]), ("add", 101L, vecOf(101L))))
      armed = true
      assert(runOnce().nonEmpty, "armed crash must fail the query")
      assert(runOnce().isEmpty, "restart must complete")
      assert(applied.count(_ == 1L) === 2,
        s"crashed batch must be re-delivered under the SAME id: $applied")
      assert(applied.count(_ == 0L) === 1,
        s"committed batch must NOT be replayed: $applied")
      val b1Rows = spark.table(s"${tbl}_stream_ops")
        .where(col("batch_id") === 1L).count()
      assert(b1Rows === 3L,
        s"replay must OVERWRITE the batch partition, not append: $b1Rows rows")
      // batch 2: delete a batch-0 add, RE-ADD id 3 with a modified vector
      // (last op wins and the new vector reassigns), delete a never-seen id
      val mod3 = vecOf(3L).map(_ * 2.0f)
      writeOps("b2", Seq(("del", 1L, Array.empty[Float]),
        ("add", 3L, mod3), ("del", 999999L, Array.empty[Float])))
      assert(runOnce().isEmpty)
      // net corpus: base − {0,2} + odd adds − {1}, id 3's vector REPLACED,
      // + 101 — under the ORIGINAL (base) quantizer
      val net = (base.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
        -- Seq(0L, 2L)
        ++ (3L to 19L by 2).map(i => i -> vecOf(i)).toMap
        + (3L -> mod3) + (101L -> vecOf(101L)))
        .toSeq.map { case (id, v) => (id, v) }
        .toDF("vec_id", "embedding")
      val probes = e.where(col("vec_id") < 4)
      val cents = base.orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))
      def canon(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          BigDecimal(r.getDouble(3)).setScale(9,
            BigDecimal.RoundingMode.HALF_UP))).sortBy(t => (t._1, t._2))
      val reference = canon(Similarity.ivfTopKWithCentroids(net, probes,
        k = 5, centroids = cents, nProbe = 4))
      val live = canon(Similarity.ivfListsTopKLive(probes, tbl, k = 5, nProbe = 4))
      assert(live === reference,
        "live (lists + winning ops) answers must equal the batch index on the net corpus")
      // fold the log: the PLAIN s31 path must now answer the live question
      Similarity.compactIvfListsStream(tbl, spark)
      assert(spark.table(s"${tbl}_stream_ops").count() === 0L)
      assert(spark.table(s"${tbl}_tombstones").count() === 0L)
      val plain = canon(Similarity.ivfListsTopK(probes, tbl, k = 5, nProbe = 4))
      assert(plain === reference,
        "compacted lists must answer exactly what the live view answered")
      // the replaced vector physically superseded its batch-0 assignment
      val row3 = spark.table(tbl).where(col("neighbor_id") === 3L).collect()
      assert(row3.length === 1 &&
        row3.head.getSeq[Float](row3.head.fieldIndex("vec")).toArray
          .sameElements(mod3),
        "re-added id must carry the NEW vector after compaction")
    } finally {
      Seq(tbl, s"${tbl}_quantizer", s"${tbl}_tombstones", s"${tbl}_stream_ops")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
