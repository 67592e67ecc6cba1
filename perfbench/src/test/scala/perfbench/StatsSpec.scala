package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("tail keeps ten samples beyond it") {
    val xs = (1 to 20).map(_.toDouble)
    // 20 samples: index 9 (value 10) has ten samples above it, p50
    assert(Stats.tail(xs) == ((10.0, 50.0)))
    val ys = (1 to 100).map(_.toDouble)
    assert(Stats.tail(ys) == ((90.0, 90.0)))
    // exactly eleven samples: the minimum is the only one with ten above
    assert(Stats.tail((1 to 11).map(_.toDouble)) == ((1.0, 100.0 / 11)))
  }

  test("tail below eleven samples falls back to the maximum") {
    assert(Stats.tail(Seq(5.0, 2.0, 9.0)) == ((9.0, 100.0)))
    assert(Stats.tail((1 to 10).map(_.toDouble)) == ((10.0, 100.0)))
  }

  test("tail is independent of input order") {
    val xs = scala.util.Random.shuffle((1 to 50).map(_.toDouble))
    assert(Stats.tail(xs)._1 == 40.0)
  }

  test("union of job intervals counts overlap once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(Stats.unionLength(Seq((0L, 10L), (20L, 25L))) == 15)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L), (9L, 12L))) == 12)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0)
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((20L, 25L), (0L, 10L), (10L, 20L))) == 25)
  }

  test("driver gap is op time minus the clipped job union") {
    val jobs = Seq((-5L, 3L), (2L, 6L), (8L, 30L))
    val busy = Stats.unionLength(Stats.clip(jobs, 0L, 20L))
    assert(busy == 18) // [0,6) + [8,20)
    assert(20 - busy == 2)
  }
}
