package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Spans.Span

class SpansSpec extends AnyFunSuite {
  test("self time is the duration minus the children's coverage") {
    val parent = Span(0, "p", -1, 0L, 100L)
    val kids = Seq(Span(1, "a", 0, 10L, 30L), Span(2, "b", 0, 50L, 60L))
    assert(Spans.selfNs(parent, kids) == 100L - 20L - 10L)
  }

  test("overlapping children are covered once and clipped to the parent") {
    val parent = Span(0, "p", -1, 100L, 200L)
    val kids = Seq(Span(1, "a", 0, 90L, 130L), Span(2, "b", 0, 120L, 150L),
      Span(3, "c", 0, 190L, 250L))
    // covered: [100,150) and [190,200)
    assert(Spans.selfNs(parent, kids) == 100L - 50L - 10L)
  }

  test("a span without children is all self time") {
    assert(Spans.selfNs(Span(0, "p", -1, 5L, 25L), Nil) == 20L)
  }

  test("recorded spans nest per thread and totals subtract nested time") {
    val spans = new Spans(enabled = true)
    spans("outer") {
      Thread.sleep(20)
      spans("inner")(Thread.sleep(30))
    }
    val t = spans.totals
    val outer = spans.spans.find(_.name == "outer").get
    val inner = spans.spans.find(_.name == "inner").get
    assert(inner.parent == outer.id)
    assert(math.abs(t("outer").selfS - (t("outer").totalS - t("inner").totalS)) < 1e-9)
  }

  test("a disabled recorder runs the body and records nothing") {
    val spans = new Spans(enabled = false)
    assert(spans("x")(41 + 1) == 42)
    assert(spans.spans.isEmpty)
  }
}
