package graft.medbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {

  private def span(id: Int, parent: Option[Int], start: Long, end: Long) =
    Span(id, s"s$id", parent, "r", start, end)

  test("merge joins overlapping and touching intervals and drops empty ones") {
    assert(Intervals.merge(Seq((5L, 7L), (0L, 2L), (1L, 3L), (3L, 4L), (9L, 9L))) ==
      List((0L, 4L), (5L, 7L)))
    assert(Intervals.length(Seq((0L, 10L), (5L, 15L), (20L, 21L))) == 16L)
  }

  test("minus cuts holes out of intervals") {
    assert(Intervals.minus(Seq((0L, 10L)), Seq((2L, 3L), (5L, 7L))) ==
      List((0L, 2L), (3L, 5L), (7L, 10L)))
    assert(Intervals.minus(Seq((0L, 10L)), Seq((-5L, 4L), (8L, 20L))) == List((4L, 8L)))
    assert(Intervals.minus(Seq((0L, 10L)), Seq((0L, 10L))) == Nil)
    assert(Intervals.minus(Seq((0L, 10L)), Nil) == List((0L, 10L)))
  }

  test("self time is span time minus the time its children cover") {
    val spans = Seq(
      span(0, None, 0, 100),
      span(1, Some(0), 10, 30),
      span(2, Some(0), 50, 90),
      span(3, Some(2), 60, 70),
      span(4, None, 100, 130))
    val self = Intervals.selfTimes(spans)
    assert(self == Map(0 -> 40L, 1 -> 20L, 2 -> 30L, 3 -> 10L, 4 -> 30L))
    // self times of a well-nested trace add up to its top-level spans
    assert(self.values.sum == spans.filter(_.parent.isEmpty).map(_.duration).sum)
  }

  test("a span repeated under one name keeps separate self times") {
    val spans = Seq(span(0, None, 0, 10), span(1, None, 20, 25))
    assert(Intervals.selfTimes(spans) == Map(0 -> 10L, 1 -> 5L))
  }
}
