package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {
  private def s(id: Int, name: String, a: Long, b: Long, parent: Int = -1) = Span(id, name, a, b, parent, "t")

  test("self time is the span minus its children") {
    val spans = Seq(s(1, "poll", 0, 1000000000L), s(2, "list", 100000000L, 300000000L, 1),
      s(3, "fetch", 400000000L, 900000000L, 1))
    val self = Span.selfTimes(spans)
    assert(math.abs(self(1) - 0.3) < 1e-9)
    assert(math.abs(self(2) - 0.2) < 1e-9)
    assert(math.abs(self(3) - 0.5) < 1e-9)
  }

  test("overlapping children count once, and only inside the parent") {
    val spans = Seq(s(1, "p", 100, 200), s(2, "a", 50, 150, 1), s(3, "b", 120, 180, 1))
    // children cover [100, 180] of the parent's [100, 200]
    assert(math.abs(Span.selfTimes(spans)(1) - 20e-9) < 1e-15)
  }

  test("grandchildren do not reduce the root's self time twice") {
    val spans = Seq(s(1, "root", 0, 100), s(2, "mid", 10, 90, 1), s(3, "leaf", 20, 80, 2))
    val self = Span.selfTimes(spans)
    assert(math.abs(self(1) - 20e-9) < 1e-15)
    assert(math.abs(self(2) - 20e-9) < 1e-15)
    assert(math.abs(self(3) - 60e-9) < 1e-15)
  }

  test("self time sums per name and the union counts overlaps once") {
    val spans = Seq(s(1, "x", 0, 10), s(2, "x", 20, 25), s(3, "y", 30, 40))
    assert(Span.selfByName(spans).map { case (k, v) => k -> math.round(v * 1e9) } == Map("x" -> 15L, "y" -> 10L))
    assert(Span.union(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Span.union(Nil) == 0L)
  }

  test("a disabled tracer records nothing and still runs the body") {
    val t = new Tracer(enabled = false, "r")
    assert(t.span("a")(41 + 1) == 42)
    assert(t.all.isEmpty)
    val on = new Tracer(enabled = true, "r")
    on.span("outer")(on.span("inner")(()))
    val byName = on.all.map(x => x.name -> x).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == -1)
  }
}
