package cdcbench

/** Checks of the benchmark's own helpers; exits non-zero on the first
  * failure. Run by `cdcbench/tests/test_cdcbench.py`. */
object SelfTest {
  private def check(what: String, ok: Boolean): Unit =
    if (ok) println(s"ok   $what")
    else { println(s"FAIL $what"); sys.exit(1) }

  def main(argv: Array[String]): Unit = {
    def ramp(n: Int) = (1 to n).map(_.toDouble).reverse
    check("median of an odd count", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("median of an even count", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("1000 samples report p99 with ten beyond",
      Stats.tail(ramp(1000)) == Stats.Tail(99.0, 990.0, 1000))
    check("999 samples fall back to p95", Stats.tail(ramp(999)).percentile == 95.0)
    check("10000 samples report p99.9", Stats.tail(ramp(10000)) == Stats.Tail(99.9, 9990.0, 10000))
    check("100 samples report p90", Stats.tail(ramp(100)) == Stats.Tail(90.0, 90.0, 100))
    check("40 samples report p75", Stats.tail(ramp(40)) == Stats.Tail(75.0, 30.0, 40))
    check("19 samples report the median", Stats.tail(ramp(19)).percentile == 50.0)
  }
}
