package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {
  private def s(id: Long, parent: Long, name: String, a: Long, b: Long) = Span(id, parent, 1L, name, a, b)

  test("self time subtracts the union of the children, clipped to the parent") {
    val spans = Seq(
      s(1, -1, "op", 0, 100),
      s(2, 1, "exec", 10, 30),
      s(3, 1, "exec", 20, 50), // overlaps the previous child
      s(4, 1, "write", 90, 120), // runs past the parent's end
      s(5, 2, "exec.job", 12, 18))
    val self = Span.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 20 - 6)
    assert(self(3) == 30)
    assert(self(4) == 30)
    assert(self(5) == 6)
  }

  test("self time sums per layer") {
    val spans = Seq(
      s(1, -1, "op", 0, 10000000),
      s(2, 1, "plan.analyze", 0, 2000000),
      s(3, 1, "plan.optimize", 2000000, 3000000),
      s(4, 1, "exec", 3000000, 10000000),
      s(5, 4, "exec.job", 4000000, 9000000),
      s(6, 5, "exec.stage", 4000000, 8000000))
    val byLayer = Span.selfMsByLayer(spans)
    assert(byLayer("op") == 0.0)
    assert(byLayer("plan") == 3.0)
    assert(byLayer("exec") == 7.0)
  }

  test("a span with no children is all self time") {
    assert(Span.selfTimes(Seq(s(7, -1, "compact", 5, 9)))(7) == 4)
  }
}
