package nefbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Ingest}
import graft.enrich.Enrich
import graft.normalize.Normalize
import graft.policy.Policy
import graft.sinks.Sinks
import graft.streaming.Stream

/** The NEF ingest benchmark.
  *
  * {{{
  * Main --workload ingest_bulk|ingest_paced --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * `ingest_bulk` drains a pre-written corpus under `Trigger.AvailableNow`,
  * a fixed number of files per micro-batch, again and again for S
  * seconds. `ingest_paced` moves small files into the source directory on
  * a fixed schedule for S seconds while the query runs with a
  * zero-interval trigger. Both check every delivered record against the
  * batch pipeline over the same corpus. With `--trace 1` the run measures
  * untraced, traced and untraced again, and reports per-layer metrics.
  *
  * Human-readable lines go to stdout prefixed `[nefbench]`; the last line
  * is the JSON result.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  /** Sizes of one workload. */
  final case class Shape(files: Int, perFile: Int, maxFilesPerTrigger: Int, intervalMs: Double)

  val Bulk = Shape(files = 12, perFile = 1000, maxFilesPerTrigger = 4, intervalMs = 0)
  /** 10 files/s of 40 notifications: 400 notifications/s offered. */
  val Paced = Shape(files = 0, perFile = 40, maxFilesPerTrigger = 0, intervalMs = 100)
  val Warmup = Shape(files = 3, perFile = 100, maxFilesPerTrigger = 1, intervalMs = 0)
  /** Paced files due in the untimed lead-in of the first measured query.
    * The later queries of a traced run start in a warm JVM and need less.
    */
  val LeadInSeconds = 12
  val LaterLeadInSeconds = 4
  /** Bulk drains run untimed before the timed ones of the first pass. */
  val LeadInDrains = 1
  /** Warm set-ups timed after the cold one (untraced runs only). */
  val SetupReps = 3
  val PrefixReps = 2

  final case class Metric(name: String, value: Double, unit: String, n: Int = 1)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val code =
      try { run(args); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Set("ingest_bulk", "ingest_paced")(w), s"unknown workload $w")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", Paths.get(need("work")))
  }

  def log(s: String): Unit = println(s"[nefbench] $s")

  def session(work: Path, cpus: Int): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** What one measured pass produced: its timed query runs with their
    * deliveries, the checks of every run (lead-in included), and the
    * window the timed runs span.
    */
  final case class Pass(runs: Seq[(IngestRun.QueryRun, IngestRun.Got)], failed: Long,
      attempted: Long, gcMs: Long, gcCount: Long, memMb: Double, fromMs: Double, toMs: Double)

  def run(a: Args): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val trace = new Trace(a.trace)
    val (calib0, calibMt0) = (Probes.calib(), Probes.calibMt())
    val paced = a.workload == "ingest_paced"
    val shape = if (paced) Paced else Bulk
    def filesIn(seconds: Int) = if (paced) (seconds * 1000 / shape.intervalMs).toInt else 0
    val leadIn = filesIn(LeadInSeconds)
    val nFiles = if (paced) leadIn + filesIn(a.seconds) else shape.files

    // inputs, untimed: the workload corpus and the warmup corpus
    val gen = new Gen(a.seed)
    val t0 = Clock.nowMs()
    val corpus = a.work.resolve(if (paced) "staged" else "corpus")
    val files = trace.span("gen") { Gen.writeFiles(gen, corpus, 0, nFiles, shape.perFile) }
    val truth = gen.truth
    val warmDir = a.work.resolve("warm")
    Gen.writeFiles(new Gen(a.seed * 31 + 7), warmDir, 0, Warmup.files, Warmup.perFile)
    val genS = (Clock.nowMs() - t0) / 1000
    log(f"generated ${truth.notifications} notifications in $nFiles files ($genS%.2f s): " +
      s"${truth.malformed} malformed, ${truth.unknownNotif} unknown notifId, " +
      s"${truth.unsupportedEvents} unsupported events, ${truth.nullInfos} null infos, " +
      s"${truth.infos} infos")

    // set-up: session start plus an untimed warmup drain, once cold and,
    // in an untraced run, again several times in the same JVM
    var spark: SparkSession = null
    val setups = (0 to (if (a.trace) 0 else SetupReps)).map { rep =>
      if (spark != null) spark.stop()
      trace.span("setup", Map("rep" -> rep.toString)) {
        val s0 = Clock.nowMs()
        spark = session(a.work, cpus)
        val store = new Stream.KeyedUpsertStore(s"warm-$rep")
        IngestRun.drain(spark, warmDir, 0 until Warmup.files, IngestRun.subscriptions(spark, gen),
          a.work.resolve(s"ck-warm-$rep"), store, Warmup.maxFilesPerTrigger, new Trace(false))
        val sec = (Clock.nowMs() - s0) / 1000
        IngestRun.blank(store)
        sec
      }
    }
    val (coldS, warmS) = (setups.head, setups.tail)
    log(f"set-up: cold $coldS%.3f s, warm ${warmS.map(s => f"$s%.3f").mkString(", ")} s")
    val subs = IngestRun.subscriptions(spark, gen)

    val expected: Array[Long] =
      if (paced) Array.empty else IngestRun.expected(spark, corpus.toString, subs)

    var passNo = 0
    def measure(tr: Trace): Pass = {
      passNo += 1
      val store = new Stream.KeyedUpsertStore(s"${a.workload}-$passNo")
      val (gc0, gcn0) = Probes.gc()
      val runs = mutable.ArrayBuffer.empty[(IngestRun.QueryRun, IngestRun.Got)]
      var failed = 0L
      var attempted = 0L
      var forcedGcMs = 0L
      var forcedGcs = 0L
      var memMb = 0.0
      // read once the pass's last query run has ended, before its check
      // builds anything
      def retainedMb(): Double = {
        val (g0, n0) = Probes.gc()
        val mb = Probes.retainedOldGenMb(spark.sparkContext)
        val (g1, n1) = Probes.gc()
        forcedGcMs += g1 - g0
        forcedGcs += n1 - n0
        mb
      }
      def check(exp: Array[Long], got: IngestRun.Delivered): Unit = {
        val (miss, extra) = IngestRun.diff(exp, got.hashes)
        if (miss + extra > 0) log(s"check failed: $miss records missing, $extra unexpected")
        failed += miss + extra
        attempted += exp.length
      }
      if (paced) {
        val src = a.work.resolve(s"src-$passNo")
        // a later pass re-stages the files the first pass moved into its
        // source, less the part of the lead-in a warm JVM does not need
        val (staged, lead) = if (passNo == 1) (files, leadIn) else {
          val dir = Files.createDirectories(a.work.resolve(s"staged-$passNo"))
          val later = filesIn(LaterLeadInSeconds)
          (files.drop(leadIn - later).map(f =>
            Files.copy(a.work.resolve("src-1").resolve(f.getFileName), dir.resolve(f.getFileName))), later)
        }
        val qr = IngestRun.paced(spark, staged, src, lead, subs,
          a.work.resolve(s"ck-$passNo"), store, shape.intervalMs, tr)
        memMb = retainedMb()
        val got = IngestRun.delivered(store.snapshot)
        check(IngestRun.expected(spark, src.toString, subs), got)
        IngestRun.blank(store)
        runs += qr -> got.summary
      } else {
        // the first pass starts with untimed lead-in drains; timed drains
        // follow until they add up to the run length
        val leadDrains = if (passNo == 1) LeadInDrains else 0
        var busyMs = 0.0
        var k = 0
        while (k <= leadDrains || busyMs < a.seconds * 1000.0) {
          val qr = IngestRun.drain(spark, corpus, 0 until nFiles, subs,
            a.work.resolve(s"ck-$passNo-$k"), store, shape.maxFilesPerTrigger, tr)
          if (k >= leadDrains) busyMs += qr.endMs - qr.startMs
          if (k >= leadDrains && busyMs >= a.seconds * 1000.0) memMb = retainedMb()
          // check outside the timed drain, then blank every key so the
          // next drain's writes are the only values left in the store
          val got = IngestRun.delivered(store.snapshot)
          check(expected, got)
          IngestRun.blank(store)
          if (k >= leadDrains) runs += qr -> got.summary
          k += 1
        }
      }
      val (gc1, gcn1) = Probes.gc()
      Pass(runs.toSeq, failed, attempted, gc1 - gc0 - forcedGcMs, gcn1 - gcn0 - forcedGcs, memMb,
        runs.map(_._1.timedFromMs).min, runs.map(_._1.endMs).max)
    }

    val untraced = measure(new Trace(false))
    val e2e = endToEnd(untraced, shape.perFile)

    def calibPost(): (Double, Double) = {
      val (calib1, calibMt1) = (Probes.calib(), Probes.calibMt())
      log(f"host calib pre/post $calib0%.3f/$calib1%.3f s, calibmt $calibMt0%.3f/$calibMt1%.3f s")
      ((calib0 + calib1) / 2, (calibMt0 + calibMt1) / 2)
    }

    if (!a.trace) {
      calibPost()
      val all = Metric("setup_s", Stats.median(warmS), "s", warmS.length) +: e2e
      all.foreach(m => log(f"${m.name} = ${m.value}%.4f ${m.unit} (n=${m.n})"))
      report(untraced.failed, untraced.attempted, all)
    } else {
      val probes = new Probes(spark)
      probes.install()
      val traced = measure(trace)
      probes.drain()
      val tracedE2e = endToEnd(traced, shape.perFile)
      val layer = mutable.ArrayBuffer.empty[Metric]
      layer += Metric("setup.cold_s", coldS, "s")
      layer ++= streamingLayer(traced, probes, trace, paced)
      layer ++= catalystAndExec(probes, traced)
      layer += Metric("jvm.gc_ms", traced.gcMs.toDouble / traced.runs.length, "ms")
      layer += Metric("jvm.gc_count", traced.gcCount.toDouble / traced.runs.length, "count")
      probes.uninstall()
      // an untraced pass on each side of the traced one, so the JVM's
      // continued warming does not read as negative overhead
      val again = measure(new Trace(false))
      val after = endToEnd(again, shape.perFile)

      // per-stage prefixes and counts over the corpus the first pass read
      val corpusDir = (if (paced) a.work.resolve("src-1") else corpus).toString
      val prefixProbes = new Probes(spark)
      prefixProbes.install()
      layer ++= prefixes(spark, corpusDir, subs, trace, prefixProbes)
      prefixProbes.uninstall()
      layer ++= counts(spark, corpusDir, subs, truth, untraced, trace)

      val head = if (paced) "latency_ms_p50" else "notifs_per_s"
      val u = Seq(e2e, after).map(_.find(_.name == head).get.value).sum / 2
      val t = tracedE2e.find(_.name == head).get.value
      tracedE2e.foreach(m => log(f"traced ${m.name} = ${m.value}%.4f ${m.unit} (n=${m.n})"))
      e2e.foreach(m => log(f"untraced ${m.name} = ${m.value}%.4f ${m.unit} (n=${m.n})"))
      after.foreach(m => log(f"untraced again ${m.name} = ${m.value}%.4f ${m.unit} (n=${m.n})"))
      // positive: the traced pass did worse on the workload's headline metric
      layer += Metric("trace.overhead_pct", if (paced) (t / u - 1) * 100 else (u / t - 1) * 100, "%")
      layer += Metric("gen.s", genS, "s")
      val (calib, calibMt) = calibPost()
      layer += Metric("host.calib_s", calib, "s")
      layer += Metric("host.calibmt_s", calibMt, "s")
      val failed = untraced.failed + traced.failed + again.failed
      val attempted = untraced.attempted + traced.attempted + again.attempted
      layer += Metric("error_ratio", failed.toDouble / attempted, "ratio")
      layer.foreach(m => log(f"${m.name} = ${m.value}%.4f ${m.unit} (n=${m.n})"))
      val tracePath = a.work.resolve("trace.jsonl")
      trace.write(tracePath)
      log(s"trace written: ${trace.spans.length} spans")
      report(failed, attempted, layer.toSeq)
    }
    spark.stop()
  }

  /** Per timed file: the batch that delivered it and the ms from its due
    * time to the return of that batch's send.
    */
  def fileLatencies(qr: IngestRun.QueryRun, got: IngestRun.Got): Seq[(Int, Long, Double)] =
    got.fileBatch.toSeq.filter(_._1 >= qr.timedFrom).sortBy(_._1).flatMap { case (f, b) =>
      qr.sink.doneMs(b).map(done => (f, b, done - qr.due(f)))
    }

  /** End-to-end metrics of the fastest timed query run (the only one on
    * `ingest_paced`): this host's CPU is shared, and the best of several
    * drains is the one least disturbed by other tenants.
    */
  def endToEnd(p: Pass, perFile: Int): Seq[Metric] = {
    // each timed query run: first due time to the last send's return
    val walls = p.runs.map { case (qr, got) =>
      val w = qr.sink.sends.values.asScala.map(_.endMs).max - qr.timedFromMs
      val timed = qr.timedFiles
      val records = timed.map(f => got.fileRecords.getOrElse(f, 0)).sum
      log(f"query run: ${timed.length * perFile} notifications, $records records in ${w / 1000}%.3f s")
      (w, timed.length.toDouble * perFile, records.toDouble)
    }
    val best = walls.indices.maxBy(i => walls(i)._2 / walls(i)._1)
    val (w, notifs, records) = walls(best)
    val lat = fileLatencies(p.runs(best)._1, p.runs(best)._2).map(_._3)
    val (tailP, tailV) = Stats.tail(lat)
    log(f"fastest of ${walls.length} timed query runs; latency tail is p$tailP%.1f of ${lat.length} files")
    Seq(
      Metric("notifs_per_s", notifs / w * 1000, "1/s", walls.length),
      Metric("records_per_s", records / w * 1000, "1/s", walls.length),
      Metric("latency_ms_p50", Stats.median(lat), "ms", lat.length),
      Metric("latency_ms_tail", tailV, "ms", lat.length),
      Metric("mem_peak_mb", p.memMb, "MB"))
  }

  /** Micro-batch progress, sink calls and backlog of the traced pass's
    * timed window.
    */
  def streamingLayer(p: Pass, probes: Probes, trace: Trace, paced: Boolean): Seq[Metric] = {
    def timed(ms: Double) = ms >= p.fromMs && ms <= p.toMs
    def runOf(ms: Double) = p.runs.indexWhere { case (qr, _) => ms >= qr.startMs && ms <= qr.endMs }
    val batches = probes.batches.asScala.toSeq.filter(b => timed(b.startMs))
    val jobs = probes.jobs.asScala.toSeq.filter(j => timed(j.startMs))
    // spans: one per micro-batch (from its progress), the send inside it,
    // and each Spark job under whichever of the two started it
    val batchSpans: Map[(Int, Long), (BatchRec, Span)] = batches.map { b =>
      (runOf(b.startMs), b.batchId) -> (b -> Span(trace.newId(), 0, "streaming.batch", b.startMs,
        b.startMs + b.durations.getOrElse("triggerExecution", 0L), Map("batch" -> b.batchId.toString)))
    }.toMap
    // (the batch's progress, its send span)
    val sends = batchSpans.toSeq.flatMap { case ((r, b), (rec, span)) =>
      Option(p.runs(r)._1.sink.sends.get(b)).map(s => rec -> s.copy(parent = span.id))
    }
    val jobSpans = jobs.map { j =>
      val parent = if (j.span != 0) j.span
        else j.batchId.flatMap(b => batchSpans.get((runOf(j.startMs), b))).map(_._2.id).getOrElse(0L)
      Span(trace.newId(), parent, "exec.job", j.startMs, j.endMs, Map("job" -> j.id.toString))
    }
    val all = batchSpans.values.map(_._2).toSeq ++ sends.map(_._2) ++ jobSpans
    all.foreach(trace.add)
    val self = Trace.selfTimes(all)

    def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val trig = batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val (trigP, trigTail) = if (trig.isEmpty) (0.0, 0.0) else Stats.tail(trig)
    log(f"streaming.trigger_ms_tail is p$trigP%.1f of ${trig.length} batches")
    val addMinusSend = sends.map { case (rec, s) => rec.durations.getOrElse("addBatch", 0L) - s.durMs }
    // files landed but not yet delivered when each batch's send returned
    val backlog = p.runs.flatMap { case (qr, got) =>
      val landedIn = fileLatencies(qr, got).map { case (f, b, _) => f -> b }.toMap
      qr.sink.sends.asScala.toSeq.map { case (b, s) =>
        landedIn.count { case (f, fb) => fb > b && qr.landed.get(f).exists(_ <= s.endMs) }.toDouble
      }
    }
    val lat = p.runs.flatMap { case (qr, got) =>
      fileLatencies(qr, got).map { case (f, _, l) => ((qr.due(f) - qr.timedFromMs) / 1000, l) }
    }
    val trend = if (lat.length >= 2) Stats.slope(lat.map(_._1), lat.map(_._2)) else 0.0
    log(f"latency trend within the run: $trend%.3f ms per s of due time")
    val durationKeys = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
    val runs = p.runs.length
    Seq(
      Metric("streaming.batches", batches.length.toDouble / runs, "count", runs),
      Metric("streaming.rows_per_batch_p50", p50(batches.map(_.rows.toDouble)), "count", batches.length),
      Metric("streaming.trigger_ms_p50", p50(trig), "ms", trig.length),
      Metric("streaming.trigger_ms_tail", trigTail, "ms", trig.length)) ++
    durationKeys.map(k =>
      Metric(s"streaming.${k}_ms_p50", p50(batches.map(_.durations.getOrElse(k, 0L).toDouble)), "ms",
        batches.length)) ++
    Seq(
      Metric("streaming.send_ms_p50", p50(sends.map(_._2.durMs)), "ms", sends.length),
      Metric("streaming.add_minus_send_ms_p50", p50(addMinusSend), "ms", addMinusSend.length),
      Metric("streaming.batch_self_ms_p50", p50(batchSpans.values.map(b => self(b._2.id)).toSeq), "ms",
        batchSpans.size),
      Metric("sinks.send_self_ms_p50", p50(sends.map(s => self(s._2.id))), "ms", sends.length),
      Metric("streaming.jobs_per_batch", if (batches.isEmpty) 0.0 else jobs.length.toDouble / batches.length,
        "count", batches.length),
      Metric("streaming.backlog_files_max", if (backlog.isEmpty) 0.0 else backlog.max, "count"),
      Metric("latency.trend_ms_per_s", trend, "ms/s", lat.length),
      Metric("gen.late_ms_max", if (!paced) 0.0 else p.runs.map { case (qr, _) =>
        qr.landed.map { case (f, t) => t - qr.due(f) }.max }.max, "ms"))
  }

  /** Top Catalyst rules by time in the ingest workloads at the seed commit. */
  val TopRules: Seq[String] = Seq(
    "SimplifyConditionals", "BooleanSimplification", "ColumnPruning", "RemoveRedundantAliases",
    "ConstantFolding", "SimplifyBinaryComparison", "ConvertToLocalRelation",
    "NativeKernelSubstitution", "OptimizeCsvJsonExprs", "FinishAnalysis")

  def catalystAndExec(probes: Probes, p: Pass): Seq[Metric] = {
    val runs = p.runs.length
    val c = probes.catalyst(p.fromMs)
    val jobs = probes.jobs.asScala.toSeq.filter(_.startMs >= p.fromMs)
    val stages = probes.stages.asScala.toSeq.filter(_._1 >= p.fromMs)
    val (shuffleBytes, shuffleRecords) = probes.shuffleSince(p.fromMs)
    val topMs = TopRules.map(r => r -> c.ruleMs(r))
    log(s"catalyst: ${c.queries} executed QueryExecutions; costliest rules: " +
      c.rules.toSeq.sortBy(-_._2._1).take(12).map { case (k, (t, _, _)) =>
        f"${Probes.shortRule(k)}=${t / 1e6}%.1fms" }.mkString(", "))
    Seq(
      Metric("catalyst.analysis_s", c.phaseS.getOrElse("analysis", 0.0) / runs, "s", c.queries),
      Metric("catalyst.optimization_s", c.phaseS.getOrElse("optimization", 0.0) / runs, "s", c.queries),
      Metric("catalyst.planning_s", c.phaseS.getOrElse("planning", 0.0) / runs, "s", c.queries),
      Metric("catalyst.rule_invocations", c.invocations.toDouble / runs, "count", c.queries),
      Metric("catalyst.effective_rule_ratio",
        if (c.invocations == 0) 0.0 else c.effective.toDouble / c.invocations, "ratio", c.queries)) ++
    topMs.map { case (r, ms) => Metric(s"catalyst.rule.$r.ms", ms / runs, "ms", c.queries) } ++
    Seq(
      Metric("catalyst.other_rules_ms", (c.totalRuleMs - topMs.map(_._2).sum) / runs, "ms", c.queries),
      Metric("exec.s", Trace.unionMs(jobs.map(j => (j.startMs, j.endMs))) / 1000 / runs, "s", jobs.length),
      Metric("exec.jobs", jobs.length.toDouble / runs, "count"),
      Metric("exec.stages", stages.length.toDouble / runs, "count"),
      Metric("exec.tasks", stages.map(_._2).sum.toDouble / runs, "count"),
      Metric("exec.shuffle_bytes", shuffleBytes.toDouble / runs, "B"),
      Metric("exec.shuffle_records", shuffleRecords.toDouble / runs, "count"))
  }

  /** Cumulative prefixes of the composition to the noop sink: parse, then
    * +enrich, +normalize, +policy, +kafkaBatches. A stage's marginal time
    * is its prefix minus the previous one.
    */
  def prefixes(spark: SparkSession, corpus: String, subs: DataFrame, trace: Trace,
      probes: Probes): Seq[Metric] = {
    val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
      "parse" -> (raw => Ingest.parseNotifications(raw)),
      "enrich" -> (raw => Enrich.enrich(Ingest.parseNotifications(raw), subs)),
      "normalize" -> (raw => Normalize.envelopes(
        Enrich.enrich(Ingest.parseNotifications(raw), subs), IngestRun.now)),
      "policy" -> (raw => Policy(Normalize.envelopes(
        Enrich.enrich(Ingest.parseNotifications(raw), subs), IngestRun.now), IngestRun.rules)),
      "sinks" -> (raw => Sinks.kafkaBatches(Policy(Normalize.envelopes(
        Enrich.enrich(Ingest.parseNotifications(raw), subs), IngestRun.now), IngestRun.rules))))
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val shuffle = mutable.Map.empty[String, Long]
    (1 to PrefixReps).foreach { rep =>
      stages.foreach { case (name, f) =>
        probes.clear()
        val t0 = Clock.nowMs()
        trace.span(s"prefix.$name", Map("rep" -> rep.toString)) {
          f(spark.read.text(corpus)).write.format("noop").mode("overwrite").save()
        }
        times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += Clock.nowMs() - t0
        probes.drain()
        shuffle(name) = probes.shuffleSince(0)._1
      }
    }
    val med = stages.map { case (n, _) => n -> Stats.median(times(n).toSeq) }
    val marginal = med.zip(("", 0.0) +: med).map { case ((n, t), (_, prev)) => n -> (t - prev) }
    med.map { case (n, t) => Metric(s"prefix.$n.ms", t, "ms", PrefixReps) } ++
      marginal.map { case (n, t) => Metric(s"$n.ms", t, "ms", PrefixReps) } :+
      Metric("sinks.shuffle_bytes", (shuffle("sinks") - shuffle("policy")).toDouble, "B")
  }

  /** Row counts at each stage boundary over the same corpus. */
  def counts(spark: SparkSession, corpus: String, subs: DataFrame, truth: Gen.Truth,
      first: Pass, trace: Trace): Seq[Metric] = trace.span("counts") {
    val raw = spark.read.text(corpus)
    val rowsIn = raw.count()
    val (ok, dlq) = Ingest.parseNotificationsWithDlq(raw)
    val malformed = dlq.count()
    val rejected = Enrich.rejected(ok, subs).count()
    val enriched = Enrich.enrich(ok, subs)
    val recordsOut = Normalize.envelopes(enriched, IngestRun.now).count()
    val noUe = Normalize.droppedNoUeId(enriched, IngestRun.now).count()
    val passed = Policy(Normalize.envelopes(enriched, IngestRun.now), IngestRun.rules).count()
    val got = first.runs.last._2
    log(s"generated vs counted: ${truth.notifications} vs $rowsIn lines, " +
      s"${truth.malformed} vs $malformed malformed, ${truth.unknownNotif} unknown notifIds vs $rejected rejected")
    Seq(
      Metric("parse.rows_in", rowsIn.toDouble, "count"),
      Metric("parse.malformed_rows", malformed.toDouble, "count"),
      Metric("enrich.rejected_rows", rejected.toDouble, "count"),
      Metric("normalize.records_out", recordsOut.toDouble, "count"),
      Metric("normalize.no_ue_dropped", noUe.toDouble, "count"),
      Metric("policy.denied_records", (recordsOut - passed).toDouble, "count"),
      Metric("sinks.messages_out", got.messages.toDouble, "count"),
      Metric("sinks.max_group_records", got.maxGroupRecords.toDouble, "count"),
      Metric("ingest.useful_ratio", got.records.toDouble / truth.infos, "ratio"))
  }

  /** The result: the last line of stdout. */
  def report(failed: Long, attempted: Long, metrics: Seq[Metric]): Unit = {
    val ms = metrics.map(m => s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}""")
  }
}
