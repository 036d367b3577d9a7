package nefbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Local property naming the benchmark span a Spark job was started under. */
object SpanProp { val Key = "nefbench.span" }

/** One completed Spark job. */
final case class JobRec(id: Int, startMs: Double, endMs: Double, span: Long, batchId: Option[Long])

/** One micro-batch's `StreamingQueryProgress`, reduced to what is reported. */
final case class BatchRec(batchId: Long, startMs: Double, rows: Long, durations: Map[String, Long])

/** Catalyst numbers of one executed QueryExecution. */
final case class QeRec(funcName: String, phasesMs: Map[String, (Long, Long)],
    rules: Map[String, (Long, Long, Long)])

/** Listener-side probes of a traced run: jobs, stages, tasks and shuffle
  * from a SparkListener, Catalyst phases and rule summaries from a
  * QueryExecutionListener (the QueryExecution each action actually ran),
  * and micro-batch progress from a StreamingQueryListener.
  */
final class Probes(spark: SparkSession) {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  /** (completion ms, tasks) per stage and (end ms, bytes, records) of
    * shuffle written per task.
    */
  val stages = new ConcurrentLinkedQueue[(Double, Int)]()
  val shuffles = new ConcurrentLinkedQueue[(Double, Long, Long)]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Long, Option[Long])]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp.Key))).map(_.toLong).getOrElse(0L)
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
      open.put(e.jobId, (e.time.toDouble, span, batch))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach { case (t0, span, batch) =>
        jobs.add(JobRec(e.jobId, t0, e.time.toDouble, span, batch))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add((e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble,
        e.stageInfo.numTasks))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        shuffles.add((e.taskInfo.finishTime.toDouble, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten))
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val t = qe.tracker
      qes.add(QeRec(funcName,
        t.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) },
        t.rules.map { case (k, r) => k -> (r.totalTimeNs, r.numInvocations, r.numEffectiveInvocations) }))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        batches.add(BatchRec(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.nefbench.Bus.drain(spark.sparkContext)

  def clear(): Unit = {
    drain()
    jobs.clear(); batches.clear(); qes.clear(); open.clear(); stages.clear(); shuffles.clear()
  }

  /** Shuffle (bytes, records) written by tasks that ended at or after `fromMs`. */
  def shuffleSince(fromMs: Double): (Long, Long) = {
    val s = shuffles.asScala.filter(_._1 >= fromMs)
    (s.map(_._2).sum, s.map(_._3).sum)
  }

  /** Catalyst totals over the QueryExecutions planned at or after `fromMs`. */
  def catalyst(fromMs: Double): Probes.Catalyst = {
    val phase = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val rules = mutable.Map.empty[String, (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
    val recent = qes.asScala.filter(_.phasesMs.values.map(_._1).minOption.forall(_ >= fromMs))
    recent.foreach { q =>
      q.phasesMs.foreach { case (k, (s, e)) => phase(k) += (e - s) / 1000.0 }
      q.rules.foreach { case (k, (t, n, eff)) =>
        val (t0, n0, e0) = rules(k)
        rules(k) = (t0 + t, n0 + n, e0 + eff)
      }
    }
    Probes.Catalyst(recent.size, phase.toMap, rules.toMap)
  }
}

object Probes {
  final case class Catalyst(queries: Int, phaseS: Map[String, Double],
      rules: Map[String, (Long, Long, Long)]) {
    def ruleMs(name: String): Double =
      rules.collect { case (k, (t, _, _)) if shortRule(k) == name => t / 1e6 }.sum
    def totalRuleMs: Double = rules.values.map(_._1 / 1e6).sum
    def invocations: Long = rules.values.map(_._2).sum
    def effective: Long = rules.values.map(_._3).sum
  }

  /** A rule's class name without package or enclosing objects. */
  def shortRule(fqcn: String): String = fqcn.stripSuffix("$").split('.').last.split('$').last

  /** Accumulated GC time (ms) and count over all collectors. */
  def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(b.getCollectionTime, 0L)).sum,
      beans.map(b => math.max(b.getCollectionCount, 0L)).sum)
  }

  /** Old-generation occupancy (MB) after forced full GCs: what the
    * process retains, read from the pool's collection usage, which a full
    * GC always refreshes. A GC lets Spark's ContextCleaner release the
    * blocks of broadcasts and shuffles that died, which it does on its own
    * thread, so this collects again, half a second apart, until two
    * readings agree.
    */
  def retainedOldGenMb(sc: SparkContext): Double = {
    def afterGc(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala.filter { p =>
        p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
          (p.getName.contains("Old") || p.getName.contains("Tenured"))
      }.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
    }
    org.apache.spark.nefbench.Bus.drain(sc)
    var prev = afterGc()
    var cur = prev
    var n = 0
    do {
      prev = cur
      Thread.sleep(500)
      cur = afterGc()
      n += 1
    } while (math.abs(cur - prev) > 0.5 && n < 8)
    cur
  }

  /** Fixed single-thread CPU work, timed: passes of a byte-mixing scan over
    * an 8 MiB buffer. It does the same work whatever the engine does, so
    * its time moves only with host contention.
    */
  def calib(): Double = {
    val buf = mixBuffer()
    var h = mixPass(buf, 1125899906842597L) // untimed pass: JIT-warm the loop
    val t0 = System.nanoTime()
    var p = 0
    while (p < 32) { h = mixPass(buf, h); p += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    if (h == 42L) System.err.println("calib sink") // keeps the loop live
    sec
  }

  /** [[calib]]'s work on every core at once (8 passes per thread). */
  def calibMt(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val ready = new java.util.concurrent.CountDownLatch(n)
    val start = new java.util.concurrent.CountDownLatch(1)
    val sink = new AtomicLong
    val threads = (0 until n).map { _ =>
      val t = new Thread(() => {
        val buf = mixBuffer()
        var h = mixPass(buf, 1125899906842597L)
        ready.countDown(); start.await()
        var p = 0
        while (p < 8) { h = mixPass(buf, h); p += 1 }
        sink.addAndGet(h)
      })
      t.setDaemon(true); t.start(); t
    }
    ready.await()
    val t0 = System.nanoTime()
    start.countDown()
    threads.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    if (sink.get == 42L) System.err.println("calibmt sink")
    sec
  }

  private def mixBuffer(): Array[Byte] = {
    val buf = new Array[Byte](8 << 20)
    var i = 0
    while (i < buf.length) { buf(i) = (i * 31 + (i >> 11)).toByte; i += 1 }
    buf
  }

  private def mixPass(buf: Array[Byte], h0: Long): Long = {
    var h = h0
    var j = 0
    while (j < buf.length) { h = h * 6364136223846793005L + buf(j); j += 1 }
    h
  }
}
