package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanMathSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, start: Long, end: Long): Span = {
    val s = new Span(id, parent, 1L, s"m.S.f$id", start)
    s.endNs = end
    s
  }

  test("union length merges overlapping and touching intervals") {
    assert(SpanMath.unionLength(Seq()) === 0L)
    assert(SpanMath.unionLength(Seq((0L, 10L))) === 10L)
    assert(SpanMath.unionLength(Seq((0L, 10L), (5L, 15L))) === 15L)
    assert(SpanMath.unionLength(Seq((0L, 10L), (10L, 20L))) === 20L)
    assert(SpanMath.unionLength(Seq((20L, 30L), (0L, 10L))) === 20L)
    assert(SpanMath.unionLength(Seq((0L, 30L), (5L, 10L), (12L, 14L))) === 30L)
    assert(SpanMath.unionLength(Seq((5L, 5L), (7L, 3L))) === 0L)
  }

  test("self time subtracts sequential children") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60))
    val self = SpanMath.selfTimes(spans)
    assert(self(1) === 70L)
    assert(self(2) === 20L)
    assert(self(3) === 10L)
  }

  test("overlapping children are subtracted once") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 1, 40, 80))
    assert(SpanMath.selfTimes(spans)(1) === 30L)
  }

  test("only direct children count; grandchildren reduce their own parent") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 90), span(3, 2, 20, 80))
    val self = SpanMath.selfTimes(spans)
    assert(self(1) === 20L)
    assert(self(2) === 20L)
    assert(self(3) === 60L)
  }

  test("a child running past its parent is clipped to the parent's interval") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 80, 150), span(3, 1, -20, 10))
    val self = SpanMath.selfTimes(spans)
    assert(self(1) === 70L)
    assert(self(2) === 70L)
  }

  test("self time never goes negative") {
    val spans = Seq(span(1, 0, 0, 10), span(2, 1, 0, 10), span(3, 1, 0, 10))
    assert(SpanMath.selfTimes(spans)(1) === 0L)
  }
}
