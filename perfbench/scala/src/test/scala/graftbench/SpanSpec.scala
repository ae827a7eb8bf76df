package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private def sp(id: Int, parent: Int, layer: String, s: Long, e: Long) =
    Span(id, parent, "op#1", layer, s"s$id", s, e)

  test("self time subtracts the union of the children, clipped to the parent") {
    val root = sp(0, -1, "client", 0, 100)
    val kids = Seq(
      sp(1, 0, "storage", 10, 30),
      sp(2, 0, "spark", 20, 50), // overlaps span 1: 10..50 is covered once
      sp(3, 0, "serde", 60, 70),
      sp(4, 0, "spark", 95, 130)) // runs past the parent: only 95..100 counts
    assert(Span.selfNs(root, kids) == 100 - 40 - 10 - 5)
    assert(Span.selfNs(root, Nil) == 100)
  }

  test("self time per layer sums over nesting levels") {
    val spans = Seq(
      sp(0, -1, "client", 0, 100),
      sp(1, 0, "storage", 10, 60),
      sp(2, 1, "spark", 20, 40), // job inside the storage call
      sp(3, 0, "spark", 70, 90))
    val self = Span.selfByLayer(spans)
    assert(self("client") == 100 - 50 - 20)
    assert(self("storage") == 50 - 20)
    assert(self("spark") == 20 + 20)
    assert(self.values.sum == 100)
  }
}
