package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private val S = 1000000000L // ns per second

  private def span(id: Long, startS: Long, endS: Long, parent: Option[Span] = None): Span = {
    val s = new Span(id, 1L, s"s$id", parent, startS * S)
    s.endNs = endS * S
    s
  }

  test("self time is the wall time less the children's") {
    val root = span(1, 0, 10)
    val a = span(2, 1, 3, Some(root))
    val b = span(3, 5, 9, Some(root))
    val a1 = span(4, 1, 2, Some(a))
    val all = Seq(root, a, b, a1)
    assert(Span.selfSeconds(root, all) == 4.0)
    assert(Span.selfSeconds(a, all) == 1.0)
    assert(Span.selfSeconds(a1, all) == 1.0)
  }

  test("overlapping children are counted once") {
    val root = span(1, 0, 10)
    val all = Seq(root, span(2, 2, 6, Some(root)), span(3, 4, 8, Some(root)))
    assert(Span.selfSeconds(root, all) == 4.0)
  }

  test("self times plus driver time add up to the run's wall time") {
    val x = span(1, 1, 4)
    val y = span(2, 5, 9)
    val y1 = span(3, 6, 7, Some(y))
    val all = Seq(x, y, y1)
    val selfSum = all.map(Span.selfSeconds(_, all)).sum
    assert(selfSum == 7.0)
    assert(Span.driverSeconds(12.0, all) == 5.0)
    assert(selfSum + Span.driverSeconds(12.0, all) == 12.0)
  }

  test("construct time ends when the lazy result is returned") {
    val s = span(1, 0, 10)
    assert(s.constructS == 10.0)
    s.constructNs = 3 * S
    assert(s.constructS == 3.0)
  }
}
