package nefbench

import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {

  test("a message splits into its records, whatever their strings hold") {
    val r1 = """{"timestamp":1,"tags":{"appId":"a,b]}{"},"metrics":{"x":1.5}}"""
    val r2 = """{"timestamp":2,"tags":{"gpsi":"q\"[,"},"trajectory":[{"ts":3},{"ts":4}]}"""
    assert(IngestRun.splitArray(s"[$r1,$r2]") == IndexedSeq(r1, r2))
    assert(IngestRun.splitArray("[]").isEmpty)
    assertThrows[IllegalArgumentException](IngestRun.splitArray("[{\"a\":1"))
  }

  test("the multiset diff counts missing and unexpected records") {
    val exp = Array(1L, 2L, 2L, 3L)
    assert(IngestRun.diff(exp, Array(1L, 2L, 2L, 3L)) == (0, 0))
    assert(IngestRun.diff(exp, Array(1L, 2L, 3L)) == (1, 0))
    assert(IngestRun.diff(exp, Array(1L, 2L, 2L, 2L, 3L, 4L)) == (0, 2))
    assert(IngestRun.diff(exp, Array.empty[Long]) == (4, 0))
  }

  test("record keys that differ in one character hash apart") {
    val k = "sub-00001\u0001{\"timestamp\":1,\"tags\":{\"gpsi\":\"m~f1\"}}"
    assert(IngestRun.keyHash(k) == IngestRun.keyHash(new String(k.toCharArray)))
    assert(IngestRun.keyHash(k) != IngestRun.keyHash(k.replace("~f1", "~f2")))
  }

  test("a record's file is the first batch that delivered it") {
    val keys = Array("k\u0001{\"gpsi\":\"m~f1\"}", "k\u0001{\"gpsi\":\"m~f1\"}", "k\u0001{\"gpsi\":\"m~f2\"}")
    val got = IngestRun.Delivered(keys, Array(4L, 3L, 5L), messages = 2, maxGroupRecords = 2).summary
    assert(got.fileBatch == Map(1 -> 3L, 2 -> 5L))
    assert(got.records == 3)
  }
}
