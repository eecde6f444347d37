package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("tally: a failed query (-1) is reported, not summed into the total") {
    val (total, failed) = Bench.tally(Seq("a" -> 1.5, "b" -> -1.0, "c" -> 2.0))
    assert(total == 3.5)
    assert(failed == Seq("b"))
    assert(Bench.tally(Seq("a" -> 1.5, "c" -> 2.0)) == (3.5, Seq.empty))
  }
}
