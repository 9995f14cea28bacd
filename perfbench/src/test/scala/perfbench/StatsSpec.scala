package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("nearest-rank percentiles of 1..100") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(Seq(7.0), 75) == 7.0)
  }

  test("median averages the middle pair of an even sample") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("geometric mean of per-kind medians weighs kinds equally") {
    val xs = Seq("a" -> 10.0, "a" -> 30.0, "a" -> 20.0, "b" -> 80.0)
    assert(math.abs(Stats.geomeanOfMedians(xs) - 40.0) < 1e-9)
    assert(math.abs(Stats.geomeanOfMedians(xs.map { case (k, v) => k -> v * 2 }) - 80.0) < 1e-9)
  }

  test("a percentile is supported only with ten samples beyond it") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.supports(100, 90))
    assert(!Stats.supports(99, 90))
    assert(Stats.samplesNeeded(90) == 100)
    assert(Stats.samplesNeeded(75) == 40)
    assert(Stats.samplesNeeded(50) == 20)
    assert(!Stats.supports(39, 75))
  }

  test("empty samples and out-of-range percentiles are refused") {
    intercept[IllegalArgumentException](Stats.percentile(Seq(), 50))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
    intercept[IllegalArgumentException](Stats.median(Seq()))
  }
}

class IntervalsSpec extends AnyFunSuite {
  import Intervals._

  test("union merges overlapping and touching intervals") {
    assert(union(Seq((5.0, 7.0), (0.0, 2.0), (1.0, 3.0), (3.0, 4.0))) == Seq((0.0, 4.0), (5.0, 7.0)))
    assert(length(Seq((0.0, 2.0), (1.0, 3.0), (10.0, 11.0))) == 4.0)
  }

  test("self times partition the op wall") {
    val root = Span(1, 0, 7, "op", "q", 0, 100)
    val build = Span(2, 1, 7, "operators", "q", 0, 30)
    val collect = Span(3, 1, 7, "driver", "collect", 30, 95)
    val jobs = Seq((40.0, 60.0), (70.0, 90.0))
    val phases = Seq("analysis" -> (10.0, 20.0), "planning" -> (32.0, 38.0))
    val st = Layers.selfTimes(root, Seq(build, collect), jobs, phases)
    assert(st("exec") == 40.0)
    assert(st("catalyst") == 16.0)
    assert(st("operators") == 20.0)
    assert(st("driver") == 19.0)
    assert(st("harness") == 5.0)
    assert(Layers.SelfLayers.map(l => st.getOrElse(l, 0.0)).sum == 100.0)
  }
}

class FingerprintSpec extends AnyFunSuite {
  import org.apache.spark.sql.Row

  test("numbers of any type render by value") {
    assert(Fingerprint.cell(3) == "3")
    assert(Fingerprint.cell(3.0) == "3")
    assert(Fingerprint.cell(new java.math.BigDecimal("3.000")) == "3")
    assert(Fingerprint.cell(0.1) == "0.1")
    assert(Fingerprint.cell(-0.0) == "0")
    assert(Fingerprint.cell(1e20) == "100000000000000000000")
    assert(Fingerprint.cell(1.0f / 3) == "0.333333343267")
    assert(Fingerprint.cell(null) == "\\N")
  }

  test("row and column order do not matter") {
    val a = Fingerprint.of(Seq("b", "a"), Seq(Row(1, "x"), Row(2, "y")))
    val b = Fingerprint.of(Seq("a", "b"), Seq(Row("y", 2), Row("x", 1)))
    assert(a == b)
    assert(a.startsWith("2:"))
    assert(a != Fingerprint.of(Seq("a", "b"), Seq(Row("y", 2), Row("x", 3))))
  }
}
