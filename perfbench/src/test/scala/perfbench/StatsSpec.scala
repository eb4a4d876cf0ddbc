package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantiles interpolate between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.quantile(xs, 0.25) == 1.75)
    assert(Stats.quantile((1 to 11).map(_.toDouble), 0.9) == 10.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("a percentile is reported only with ten samples beyond it") {
    assert(Stats.supportedPercentile(1).isEmpty)
    assert(Stats.supportedPercentile(99).isEmpty)
    assert(Stats.supportedPercentile(100).contains(0.9))
    assert(Stats.supportedPercentile(999).contains(0.9))
    assert(Stats.supportedPercentile(1000).contains(0.99))
    assert(Stats.supportedPercentile(10000).contains(0.999))
    val t = Stats.timing((1 to 100).map(_.toDouble))
    assert(t("n") == 100 && t("median") == 50.5)
    assert(t.contains("p90") && !t.contains("p99"))
    assert(!Stats.timing(Seq(1.0, 2.0)).keys.exists(_.startsWith("p")))
  }

  test("the end-to-end result line stays under the summary limit") {
    // worst case: every value prints with all seventeen significant digits
    val metrics = Main.EndToEnd.map { case (n, u) => (n, 12345.678901234567, u) }
    val line = Stats.resultLine(Int.MaxValue, Int.MaxValue, metrics)
    assert(line.getBytes("UTF-8").length < Stats.SummaryLimitBytes)
    assert(line.startsWith("""{"correct":false,"attempted":2147483647,"failed":2147483647,"metrics":{"wall_s":"""))
    assert(!line.contains("\n"))
  }

  test("the result line is correct only when runs were attempted and none failed") {
    val m = Seq(("wall_s", 1.5, "s"))
    assert(Stats.resultLine(3, 0, m) ==
      """{"correct":true,"attempted":3,"failed":0,"metrics":{"wall_s":{"value":1.5,"unit":"s"}}}""")
    assert(Stats.resultLine(3, 1, m).startsWith("""{"correct":false"""))
    assert(Stats.resultLine(0, 0, m).startsWith("""{"correct":false"""))
  }

  test("JSON strings are escaped and non-finite numbers refused") {
    val bs = "\\"
    val control = 1.toChar.toString
    assert(Json.encode(Map("a\"b" -> Seq(s"x${bs}y", "\n", control))) ==
      s"""{"a$bs"b":["x$bs${bs}y","${bs}n","${bs}u0001"]}""")
    intercept[IllegalArgumentException](Json.encode(Double.NaN))
  }
}
