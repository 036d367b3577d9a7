package nefbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("union length merges overlaps and skips empty intervals") {
    assert(Trace.unionMs(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0), (30.0, 30.0))) == 20.0)
    assert(Trace.unionMs(Nil) == 0.0)
  }

  test("self time subtracts the children's union, clipped to the parent") {
    val spans = Seq(
      Span(1, 0, "batch", 0, 100),
      Span(2, 1, "send", 10, 30),
      Span(3, 1, "job", 20, 50), // overlaps the send: counted once
      Span(4, 1, "job", 90, 120), // runs past the parent: clipped at 100
      Span(5, 2, "job", 12, 28)) // grandchild: only the send's self time
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - (40 + 10))
    assert(self(2) == 20 - 16)
    assert(self(3) == 30)
    assert(self(4) == 30)
    assert(self(5) == 16)
  }

  test("nested spans record their parent; a disabled trace records nothing") {
    val t = new Trace(true)
    val v = t.span("outer") { t.span("inner") { 7 } }
    assert(v == 7)
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == 0)
    assert(byName("outer").durMs >= byName("inner").durMs)
    val off = new Trace(false)
    assert(off.span("x")(3) == 3)
    assert(off.spans.isEmpty)
  }

  test("json numbers keep their digits") {
    assert(Json.num(3.0) == "3")
    assert(Json.num(0.1234567) == "0.1234567")
    assert(Json.str("a\"b\\c\n") == "\"a\\\"b\\\\c\\u000a\"")
  }
}
