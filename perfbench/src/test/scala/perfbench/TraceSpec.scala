package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", parent, request = 0L, startNs = start, endNs = end)

  test("a leaf span's self time is its duration") {
    assert(Trace.selfTimes(Seq(span(0, -1, 10, 30))) == Map(0 -> 20L))
  }

  test("self time subtracts the children's covered interval") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 50, 60),
      span(3, 1, 12, 20))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 20 - 10)
    assert(self(1) == 20 - 8)
    assert(self(2) == 10)
    assert(self(3) == 8)
  }

  test("overlapping children count once and are clipped to the parent") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60),
      span(3, 0, 90, 120))
    assert(Trace.selfTimes(spans)(0) == 100 - 50 - 10)
  }

  test("counts add field by field") {
    val a = JobCounts(jobs = 2, jobMs = 1.5, taskCpuNs = 10, shuffleBytes = 7)
    assert(a + a == JobCounts(4, 3.0, 20, 14))
  }
}
