package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: the percentile reporting rule, self time
  * over overlapping child spans, and generator determinism.
  */
class LogicSpec extends AnyFunSuite {

  private def samples(n: Int) = (1 to n).map(_.toDouble)

  test("a percentile needs at least 10 samples beyond it") {
    assert(Stats.percentile(samples(19), 50).isEmpty)
    assert(Stats.percentile(samples(20), 50).contains(10.0))
    assert(Stats.percentile(samples(99), 90).isEmpty)
    assert(Stats.percentile(samples(100), 90).contains(90.0))
    assert(Stats.percentile(samples(199), 95).isEmpty)
    assert(Stats.percentile(samples(200), 95).contains(190.0))
    // lower tail: samples below the rank count
    assert(Stats.percentile(samples(100), 10).isEmpty)
    assert(Stats.percentile(samples(110), 10).contains(11.0))
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("nearest rank ignores input order") {
    val xs = samples(40)
    assert(Stats.percentile(scala.util.Random.shuffle(xs), 50) ==
      Stats.percentile(xs, 50))
  }

  test("self time subtracts the union of children, clipped to the parent") {
    val parent = Interval(0, 100)
    assert(Interval.selfTime(parent, Nil) == 100)
    val children = Seq(
      Interval(10, 30), Interval(20, 50), // overlapping: 10..50
      Interval(12, 15), // nested inside the first
      Interval(90, 120), // clipped to 90..100
      Interval(-20, 5), // clipped to 0..5
      Interval(200, 300)) // outside
    assert(Interval.covered(children.map(_.clip(parent))) == 55)
    assert(Interval.selfTime(parent, children) == 45)
    // a child covering the whole parent leaves no self time
    assert(Interval.selfTime(parent, Seq(Interval(-1, 101))) == 0)
  }

  test("touching children are not double counted") {
    val kids = Seq(Interval(0, 10), Interval(10, 20), Interval(5, 15))
    assert(Interval.covered(kids) == 20)
  }

  test("the same seed gives byte-identical payloads") {
    def payloads(seed: Long) = {
      val g = new Gen(seed)
      Seq(g.nextRound(300, 0), g.nextRound(150, 150), g.nextRound(150, 150))
        .map(_.payload)
    }
    assert(payloads(42) == payloads(42))
    assert(payloads(42) != payloads(43))
  }

  test("a round offers fresh keys plus distinct earlier keys") {
    val g = new Gen(7)
    val first = g.nextRound(100, 50) // nothing to repeat yet
    assert(first.items.size == 100 && first.expectedNew == 100)
    val r = g.nextRound(40, 60)
    assert(r.expectedNew == 40 && r.items.size == 100)
    val keys = r.items.map(_.key)
    assert(keys.distinct.size == keys.size)
    assert(keys.count(_ >= 100) == 40 && keys.count(_ < 100) == 60)
    assert(r.items.map(_.id).distinct.size == 100)
    // a repeated key is offered with identical content
    val again = r.items.filter(_.key < 100)
    assert(again.forall(it => first.items.find(_.key == it.key).contains(it)))
    assert(g.issuedKeys == 140)
  }

  test("vocabulary words follow a Zipf law") {
    val g = new Gen(1)
    val rng = new scala.util.Random(3)
    val counts = Seq.fill(20000)(g.word(rng)).groupBy(identity)
      .map(_._2.size)
    val top = counts.max.toDouble / 20000
    // rank-1 share of a 4000-word Zipf(1) vocabulary is 1 / H(4000) ~ 0.11
    assert(top > 0.09 && top < 0.14)
  }
}
