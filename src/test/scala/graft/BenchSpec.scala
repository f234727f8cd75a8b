package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's index-build accounting: a build that throws is a
  * failure, never a timing. */
class BenchSpec extends AnyFunSuite {

  test("a failed index build is named as failed and left out of the timings") {
    var afters = 0
    val (timed, failed) = Bench.timeBuilds(Seq(
      "ok_a" -> (() => ()),
      "broken" -> (() => throw new IllegalStateException("no index")),
      "ok_b" -> (() => ())), () => afters += 1)
    assert(timed.map(_._1) === Seq("ok_a", "ok_b"))
    assert(timed.forall { case (_, dt) => dt >= 0.0 && !dt.isNaN })
    assert(failed === Seq("broken"))
    assert(afters === 3)
  }
}
