package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private def span(id: Int, start: Long, end: Long, parent: Option[Int] = Some(0)) =
    Span(id, s"s$id", parent, start, end)

  test("self time without children is the whole span") {
    assert(Span.selfNs(span(0, 10, 50, None), Nil) == 40)
  }

  test("disjoint children are subtracted") {
    val root = span(0, 0, 100, None)
    assert(Span.selfNs(root, Seq(span(1, 10, 20), span(2, 40, 70))) == 60)
  }

  test("overlapping children count once") {
    val root = span(0, 0, 100, None)
    assert(Span.selfNs(root, Seq(span(1, 10, 50), span(2, 30, 60), span(3, 60, 65))) == 45)
  }

  test("children are clipped to the parent's interval") {
    val root = span(0, 100, 200, None)
    assert(Span.selfNs(root, Seq(span(1, 50, 120), span(2, 190, 300), span(3, 300, 400))) == 70)
  }

  test("a child covering the whole parent leaves no self time") {
    assert(Span.selfNs(span(0, 0, 10, None), Seq(span(1, 0, 10))) == 0)
  }
}
