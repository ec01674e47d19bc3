package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time subtracts the union of the children's time inside the parent") {
    val spans = Seq(
      Span(1, 0, 1, "swap.roll", 0, 100),
      Span(2, 1, 1, "swap.localize", 10, 30),
      Span(3, 1, 1, "swap.localize", 20, 50), // overlaps its sibling
      Span(4, 1, 1, "swap.refresh", 90, 120), // ends after the parent
      Span(5, 0, 5, "ring.get", 200, 210))
    val self = Tracer.selfNs(spans)
    assert(self(1) === 100 - 40 - 10)
    assert(self(2) === 20 && self(3) === 30 && self(4) === 30 && self(5) === 10)
    val layers = Tracer.layerSelfSeconds(spans)
    assert(layers("swap") === (50 + 20 + 30 + 30) / 1e9)
    assert(layers("ring") === 10 / 1e9)
  }

  test("spans nest per thread and share their operation id; a disabled tracer records nothing") {
    val t = new Tracer(enabled = true)
    val v = t.span("bench.cycle")(t.span("publish.write")(41) + 1)
    assert(v === 42)
    val Seq(inner, outer) = t.recorded.sortBy(-_.parent)
    assert(inner.parent === outer.id && inner.op === outer.op)
    assert(inner.layer === "publish" && outer.layer === "bench")
    val off = new Tracer(enabled = false)
    off.span("ring.get")(())
    assert(off.recorded.isEmpty)
  }
}
