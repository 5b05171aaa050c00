package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def s(id: Int, parent: Int, name: String, a: Long, b: Long) = Span(id, parent, name, a, b, "r")

  test("self time counts only direct children") {
    val spans = Seq(s(0, -1, "pass", 0, 100), s(1, 0, "a", 0, 60), s(2, 1, "a.inner", 0, 50))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 40)
    assert(self(1) == 10)
    assert(self(2) == 50)
    // the three self times partition the root's interval
    assert(self.values.sum == 100)
  }

  test("the tracer nests spans by call order and shares the run id") {
    val t = new Tracer("run-1", enabled = true)
    t.span("outer") { t.span("inner")(()); t.span("inner")(()) }
    val spans = t.spans.sortBy(_.id)
    assert(spans.map(_.name) == Seq("outer", "inner", "inner"))
    assert(spans.map(_.parent) == Seq(-1, 0, 0))
    assert(spans.forall(_.runId == "run-1"))
    assert(Trace.selfSecondsByName(spans)("inner").size == 2)
  }

  test("a disabled tracer runs the body and records nothing") {
    val t = new Tracer("run-2", enabled = false)
    assert(t.span("x")(41 + 1) == 42)
    assert(t.spans.isEmpty)
  }
}
