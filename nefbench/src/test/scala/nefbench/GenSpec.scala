package nefbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class GenSpec extends AnyFunSuite {

  private def lines(seed: Long, n: Int): (Gen, IndexedSeq[String]) = {
    val g = new Gen(seed)
    (g, (0 until n).map(i => g.notification(i / 50)))
  }

  test("the same seed gives the same corpus, dimension and counts") {
    val (g1, a) = lines(42, 400)
    val (g2, b) = lines(42, 400)
    assert(a == b)
    assert(g1.subscriptions == g2.subscriptions)
    assert(g1.truth == g2.truth)
    val (g3, c) = lines(43, 400)
    assert(a != c)
    assert(g1.subscriptions != g3.subscriptions)
  }

  test("ground truth matches the lines: malformed ones do not parse, the rest do") {
    val json = new ObjectMapper()
    val (g, ls) = lines(7, 3000)
    val parsed = ls.map(l => scala.util.Try(json.readTree(l)).toOption)
    val t = g.truth
    assert(t.notifications == 3000)
    assert(parsed.count(_.isEmpty) == t.malformed)
    val ok = parsed.flatten
    assert(ok.count(_.get("notifId").asText.startsWith("ghost-")) == t.unknownNotif)
    val events = ok.flatMap(_.get("eventNotifs").elements().asScala)
    assert(events.count(e => Gen.UnsupportedEvents.contains(e.get("event").asText)) ==
      t.unsupportedEvents)
    // every failure class is present at a nonzero share
    Seq(t.malformed, t.unknownNotif, t.unsupportedEvents, t.nullInfos).foreach(c => assert(c > 0))
    assert(t.infos > t.notifications)
  }

  test("infos name the file they were written to") {
    val g = new Gen(5)
    val l = g.notification(17)
    assert(l.contains("~f17\""))
    assert(IngestRun.fileOf("{\"tags\":{\"appId\":\"app-3~f17\"}}").contains(17))
    assert(IngestRun.fileOf("{\"tags\":{}}").isEmpty)
  }

  test("a written file's number comes back from its name") {
    val dir = java.nio.file.Files.createTempDirectory("nefbench-gen")
    val paths = Gen.writeFiles(new Gen(3), dir, 7, 2, 5)
    assert(paths.map(Gen.fileNo) == Seq(7, 8))
    paths.foreach(java.nio.file.Files.delete)
    java.nio.file.Files.delete(dir)
  }

  test("notifIds are Zipf-skewed over the dimension") {
    val json = new ObjectMapper()
    val (_, ls) = lines(9, 5000)
    val ids = ls.flatMap(l => scala.util.Try(json.readTree(l).get("notifId").asText).toOption)
      .filter(_.startsWith("sub-"))
    val counts = ids.groupBy(identity).values.map(_.size).toSeq.sorted.reverse
    assert(counts.head > 20 * counts(counts.length / 2))
  }
}
