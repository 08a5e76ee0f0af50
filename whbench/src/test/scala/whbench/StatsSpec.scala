package whbench

import org.scalatest.funsuite.AnyFunSuite

import whbench.Stats.Span

class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int) = (1 to n).map(_.toDouble).reverse

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the tail is p90 once at least ten samples lie above it") {
    assert(Stats.tail(ramp(100)) == ((90.0, 0.9)))
    assert(Stats.tail(ramp(200)) == ((180.0, 0.9)))
  }

  test("with fewer samples the tail is the highest percentile with ten samples above") {
    val (v, p) = Stats.tail(ramp(50))
    assert(v == 40.0 && p == 0.8)
    assert(ramp(50).count(_ > v) == Stats.TailMargin)
    assert(Stats.tail(ramp(11)) == ((1.0, 1.0 / 11)))
  }

  test("a tail needs more than ten samples") {
    intercept[IllegalArgumentException](Stats.tail(ramp(10)))
  }

  test("covered length merges overlapping intervals and clips to the window") {
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L)), 8L, 12L) == 4L)
    assert(Stats.covered(Nil, 0L, 10L) == 0L)
  }

  test("self time subtracts the union of a span's children") {
    val spans = Seq(
      Span(1, -1, "call", "c", "etl", 1, 0L, 100L),
      Span(2, 1, "build", "c", "etl", 1, 0L, 40L),
      Span(3, 1, "action", "c", "etl", 1, 40L, 100L),
      Span(4, 3, "job", "j1", "etl", 1, 50L, 80L),
      Span(5, 3, "job", "j2", "etl", 1, 70L, 90L))
    val self = Stats.selfTimes(spans)
    assert(self == Map(1 -> 0L, 2 -> 40L, 3 -> 20L, 4 -> 30L, 5 -> 20L))
  }
}
