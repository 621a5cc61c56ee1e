package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, start: Long, end: Long, name: String = "child") =
    Span(id, parent, 1L, name, start, end)
  private val parent = span(1, 0, 0, 100, "op")

  test("self time counts time covered by overlapping children once") {
    val kids = Seq(span(2, 1, 10, 30), span(3, 1, 20, 50), span(4, 1, 60, 70))
    assert(Trace.selfNs(parent, kids) == 100 - 40 - 10)
  }

  test("children nested in each other or identical do not double count") {
    val kids = Seq(span(2, 1, 10, 90), span(3, 1, 20, 30), span(4, 1, 10, 90))
    assert(Trace.selfNs(parent, kids) == 20)
  }

  test("only the part of a child inside its parent counts") {
    val kids = Seq(span(2, 1, -50, 10), span(3, 1, 90, 150), span(4, 1, 200, 300))
    assert(Trace.selfNs(parent, kids) == 80)
  }

  test("touching children and no children") {
    assert(Trace.selfNs(parent, Seq(span(2, 1, 0, 50), span(3, 1, 50, 100))) == 0)
    assert(Trace.selfNs(parent, Nil) == 100)
  }

  test("selfMs attributes children by parent id") {
    val spans = Seq(parent, span(5, 0, 0, 2000000, "op"),
      span(2, 1, 0, 40), span(3, 5, 0, 1000000))
    assert(Trace.selfMs(spans, "op").sorted == Seq(0.00006, 1.0))
  }
}
