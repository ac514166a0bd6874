package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a query that throws is reported as failed, never as a time") {
    val (timed, failed) = Bench.timeQueries(Seq(
      "a_ok" -> (() => 1L),
      "b_boom" -> (() => throw new IllegalStateException("injected")),
      "c_ok" -> (() => 2L)))
    assert(failed == Seq("b_boom"))
    assert(timed.map(_._1) == Seq("a_ok", "c_ok"))
    assert(timed.forall(_._2 >= 0.0))
  }
}
