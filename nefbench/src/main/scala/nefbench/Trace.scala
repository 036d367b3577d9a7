package nefbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with sub-millisecond resolution: the
  * benchmark's own spans share a time base with the epoch-millisecond
  * stamps of Spark's listener events.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** One traced interval. `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double,
    attrs: Map[String, String] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder. Spans are kept until [[write]]; when disabled
  * every call is a pass-through and nothing is kept.
  */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def newId(): Long = ids.incrementAndGet()

  /** The innermost open span on this thread, or 0. */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Time `body` as a span named `name`, child of this thread's open span. */
  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      stack.set(id :: stack.get)
      val t0 = Clock.nowMs()
      try body
      finally {
        add(Span(id, parent, name, t0, Clock.nowMs(), attrs))
        stack.set(stack.get.tail)
      }
    }

  def add(s: Span): Unit = if (enabled) buf.add(s)

  def spans: Seq[Span] = buf.asScala.toSeq

  /** Write every span as one JSON object per line. */
  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    spans.sortBy(_.startMs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""")
      sb.append(s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},""")
      sb.append(s""""self_ms":${Json.num(selfTimes.getOrElse(s.id, 0.0))}""")
      s.attrs.foreach { case (k, v) => sb.append(s""",${Json.str(k)}:${Json.str(v)}""") }
      sb.append("}\n")
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  private lazy val selfTimes: Map[Long, Double] = Trace.selfTimes(spans)
}

object Trace {

  /** Total length covered by the union of `intervals`. */
  def unionMs(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (children clipped to the parent, overlaps
    * among children counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.filter(_.parent != 0).groupBy(_.parent)
    spans.map { s =>
      val covered = unionMs(children.getOrElse(s.id, Nil).map { c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))
      })
      s.id -> (s.durMs - covered)
    }.toMap
  }
}

/** The few JSON forms the benchmark writes. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** A finite number with all its digits. */
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"non-finite metric value $x")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.math.BigDecimal.valueOf(x).toPlainString
  }
}
