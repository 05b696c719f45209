package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  test("covered counts the union of intervals clipped to the window") {
    assert(Span.covered(Nil, 0, 100) == 0)
    assert(Span.covered(Seq((10L, 20L), (15L, 30L), (50L, 60L)), 0, 100) == 30)
    assert(Span.covered(Seq((-10L, 5L), (95L, 120L)), 0, 100) == 10)
    assert(Span.covered(Seq((20L, 40L), (10L, 30L)), 0, 100) == 30)
    assert(Span.covered(Seq((0L, 100L), (10L, 20L)), 0, 100) == 100)
  }

  test("self time is the span minus the union of its children") {
    val spans = IndexedSeq(
      Span("pipeline", 0, 100, -1),
      Span("validate", 5, 25, 0),
      Span("tiles", 30, 90, 0),
      Span("encode", 40, 70, 2),
      Span("write", 60, 80, 2)) // overlaps encode: the overlap leaves tiles once
    assert(Span.selfNanos(spans) == IndexedSeq(20L, 20L, 20L, 30L, 20L))
  }

  test("self times of a sequential trace sum to the root's duration") {
    val spans = IndexedSeq(
      Span("pipeline", 0, 100, -1),
      Span("ingest", 0, 10, 0),
      Span("temporal.month", 12, 50, 0),
      Span("tiles", 50, 99, 0))
    assert(Span.selfNanos(spans).sum == 100L)
  }
}
