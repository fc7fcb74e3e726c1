package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def ramp(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  test("a percentile is reported only with ten samples beyond it") {
    assert(Stats.percentile(ramp(19), 0.5).value.isEmpty)
    assert(Stats.percentile(ramp(20), 0.5).value.contains(10.0))
    assert(Stats.percentile(ramp(999), 0.99).value.isEmpty)
    assert(Stats.percentile(ramp(1000), 0.99).value.contains(990.0))
    assert(Stats.percentile(Nil, 0.5).value.isEmpty)
  }

  test("a percentile states its sample count") {
    val p = Stats.percentile(ramp(57), 0.9)
    assert(p.n == 57 && p.p == 0.9)
    assert(Stats.percentile(ramp(7), 0.9).n == 7)
  }

  test("nearest rank ignores input order") {
    val xs = scala.util.Random.shuffle(ramp(200))
    assert(Stats.percentile(xs, 0.95).value.contains(190.0))
  }

  test("a weighted sample equals the expanded one") {
    val weighted = Seq((3.0, 400L), (1.0, 250L), (2.0, 350L))
    val expanded = weighted.flatMap { case (v, n) => Seq.fill(n.toInt)(v) }
    for (p <- Seq(0.1, 0.25, 0.5, 0.9, 0.99))
      assert(Stats.weightedPercentile(weighted, p) == Stats.percentile(expanded, p), s"p=$p")
    assert(Stats.weightedPercentile(Seq((5.0, 15L)), 0.5).value.isEmpty)
  }

  test("the highest supported percentile falls back as the sample shrinks") {
    assert(Stats.highestSupported(ramp(1000)).map(_.p).contains(0.99))
    assert(Stats.highestSupported(ramp(200)).map(_.p).contains(0.95))
    assert(Stats.highestSupported(ramp(100)).map(_.p).contains(0.9))
    assert(Stats.highestSupported(ramp(30)).map(_.p).contains(0.5))
    assert(Stats.highestSupported(ramp(5)).isEmpty)
  }

  test("a ratio keeps its base") {
    val r = Stats.Ratio(3, 4)
    assert(r.value.contains(0.75) && r.num == 3 && r.den == 4)
    assert(r.toString == "0.750000 (3/4)")
    assert(Stats.Ratio(0, 0).value.isEmpty)
    assert(Stats.Ratio(0, 0).toString == "n/a (0/0)")
  }

  test("median and its p50 fallback") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(5.0)) == 5.0)
    assert(Stats.p50OrMedian(Seq(2.0, 9.0, 4.0)) == 4.0)
    assert(Stats.p50OrMedian(Nil) == 0.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.percentile(ramp(10), 1.0))
  }
}
