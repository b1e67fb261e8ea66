package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("union of intervals merges overlaps and skips empty ones") {
    assert(Spans.unionNs(Nil) === 0L)
    assert(Spans.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 25L))) === 20L)
    assert(Spans.unionNs(Seq((20L, 25L), (0L, 10L), (3L, 4L))) === 15L)
    assert(Spans.unionNs(Seq((5L, 5L), (9L, 2L))) === 0L)
  }

  test("self time is duration minus the part children cover") {
    val spans = Seq(
      Span(1, 0, 1, "query", 0L, 100L),
      Span(2, 1, 1, "build", 10L, 40L),
      Span(3, 1, 1, "execute", 30L, 90L), // overlaps build by 10
      Span(4, 3, 1, "inner", 50L, 60L),
      Span(5, 0, 1, "release", 100L, 105L))
    val self = Spans.selfTimes(spans)
    assert(self === Map(1 -> 20L, 2 -> 30L, 3 -> 50L, 4 -> 10L, 5 -> 5L))
  }

  test("a child reaching outside its parent counts only inside it") {
    val spans = Seq(Span(1, 0, 1, "a", 10L, 20L), Span(2, 1, 1, "b", 5L, 30L))
    assert(Spans.selfTimes(spans)(1) === 0L)
  }

  test("the tracer nests spans and shares the trace id") {
    val t = new Tracer(enabled = true)
    t.newTrace()
    t.span("outer") { t.span("inner")(()) }
    t.newTrace()
    t.span("next")(())
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent === byName("outer").id)
    assert(byName("outer").parent === 0)
    assert(byName("inner").trace === byName("outer").trace)
    assert(byName("next").trace !== byName("outer").trace)
    val off = new Tracer(enabled = false)
    assert(off.span("x")(42) === 42 && off.spans.isEmpty)
  }
}
