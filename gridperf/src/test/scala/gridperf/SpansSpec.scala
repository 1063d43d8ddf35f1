package gridperf

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, 0, "l", s"s$id", start, end, start, end)

  test("union length merges overlapping and touching intervals") {
    assert(Spans.unionLength(Nil) === 0L)
    assert(Spans.unionLength(Seq((0L, 10L))) === 10L)
    assert(Spans.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) === 20L)
    assert(Spans.unionLength(Seq((0L, 10L), (10L, 12L))) === 12L)
    assert(Spans.unionLength(Seq((3L, 3L), (5L, 4L))) === 0L)
  }

  test("self time is the duration minus what direct children cover") {
    val spans = Seq(
      span(1, 0, 0, 100),
      span(2, 1, 10, 40),
      span(3, 1, 50, 60),
      span(4, 2, 20, 30)) // grandchild: counted in span 2, not span 1
    val self = Spans.selfNs(spans)
    assert(self(1) === 60L)
    assert(self(2) === 20L)
    assert(self(3) === 10L)
    assert(self(4) === 10L)
    // self times of a tree add up to the root's duration
    assert(self.values.sum === 100L)
  }

  test("overlapping children count once, and are clipped to the parent") {
    val spans = Seq(
      span(1, 0, 0, 100),
      span(2, 1, 10, 50),
      span(3, 1, 30, 70),
      span(4, 1, 90, 120))
    assert(Spans.selfNs(spans)(1) === 100L - 60L - 10L)
  }

  test("a span whose children cover it fully has zero self time") {
    assert(Spans.selfNs(Seq(span(1, 0, 0, 10), span(2, 1, 0, 10)))(1) === 0L)
  }
}
