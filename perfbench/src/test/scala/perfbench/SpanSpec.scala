package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private def span(id: Int, layer: String, parent: Option[Int], s: Long, e: Long) =
    Span(id, s"s$id", layer, 0L, parent, s, e)

  test("self time subtracts the union of the children's intervals") {
    val root = span(0, "pipeline", None, 0, 100)
    val kids = Seq(
      span(1, "extract", Some(0), 10, 30),
      span(2, "resolve", Some(0), 20, 50), // overlaps span 1
      span(3, "link", Some(0), 60, 70))
    val all = root +: kids
    assert(Span.selfNs(root, all) == 100 - 40 - 10)
    assert(Span.selfNs(kids.head, all) == 20)
  }

  test("grandchildren count only against their own parent") {
    val all = Seq(
      span(0, "a", None, 0, 100),
      span(1, "b", Some(0), 0, 50),
      span(2, "c", Some(1), 10, 20))
    assert(Span.selfNs(all(0), all) == 50)
    assert(Span.selfNs(all(1), all) == 40)
  }

  test("children are clipped to the parent's interval") {
    val all = Seq(span(0, "a", None, 10, 20), span(1, "b", Some(0), 0, 15))
    assert(Span.selfNs(all(0), all) == 5)
  }

  test("a layer's outermost spans exclude spans nested in the same layer") {
    val all = Seq(
      span(0, "query", None, 0, 10),
      span(1, "query", Some(0), 1, 5),
      span(2, "datapipe", Some(1), 2, 3),
      span(3, "query", Some(2), 2, 3),
      span(4, "query", None, 20, 30))
    assert(Layers.outermost("query", all).map(_.id) == Seq(0, 4))
    assert(Layers.outermost("datapipe", all).map(_.id) == Seq(2))
  }
}
