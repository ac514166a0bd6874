package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SpanRecorderSpec extends AnyFunSuite {

  private def span(id: Int, s: Long, e: Long, parent: Int = 0) =
    Span(id, s"s$id", parent, 0L, s, e)

  test("self time subtracts nested children once") {
    val p = span(0, 0, 100, -1)
    assert(SpanRecorder.selfNs(p, Seq(span(1, 10, 20), span(2, 30, 60))) == 60)
  }

  test("overlapping children are not subtracted twice") {
    val p = span(0, 0, 100, -1)
    // [10,30] and [20,50] overlap: together they cover 40, not 50
    assert(SpanRecorder.selfNs(p, Seq(span(1, 20, 50), span(2, 10, 30))) == 60)
    // a child inside another child covers nothing new
    assert(SpanRecorder.selfNs(p, Seq(span(1, 10, 90), span(2, 20, 30))) == 20)
    // identical children count once
    assert(SpanRecorder.selfNs(p, Seq(span(1, 0, 50), span(2, 0, 50))) == 50)
  }

  test("children sticking out of the parent are clipped to it") {
    val p = span(0, 100, 200, -1)
    assert(SpanRecorder.selfNs(p, Seq(span(1, 50, 120), span(2, 190, 400))) == 70)
    assert(SpanRecorder.selfNs(p, Seq(span(1, 0, 50))) == 100)
  }

  test("recorded spans nest by call structure and carry the operation id") {
    val tr = new SpanRecorder(true)
    tr.op(7) {
      tr("outer") {
        tr("inner")(Thread.sleep(5))
        tr("inner")(Thread.sleep(5))
      }
    }
    val byName = tr.spans.groupBy(_.name)
    val outer = byName("outer").head
    assert(byName("inner").forall(_.parent == outer.id))
    assert(tr.spans.forall(_.op == 7L))
    assert(outer.parent == -1)
    val (outers, outerS, outerSelf) = tr.summary("outer")
    val (inners, innerS, innerSelf) = tr.summary("inner")
    assert(outers == 1 && inners == 2)
    // the two inner spans are disjoint, so outer's self time is its
    // duration minus theirs; leaf spans are all self time
    assert(math.abs(outerSelf - (outerS - innerS)) < 1e-6)
    assert(innerSelf == innerS && innerS >= 0.01)
  }

  test("a disabled recorder keeps nothing but still times") {
    val tr = new SpanRecorder(false)
    val (v, s) = tr.timed("x") { Thread.sleep(2); 42 }
    assert(v == 42 && s > 0.001)
    assert(tr.spans.isEmpty)
  }
}
