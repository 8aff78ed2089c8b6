package cdcbench

import java.security.MessageDigest

/** Summary statistics and input digests shared by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    // the epsilon keeps binary rounding (0.999 * 10000 > 9990) off the rank
    val rank = math.ceil(p / 100.0 * s.size - 1e-9).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  /** Percentiles a tail metric may report, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  final case class Tail(percentile: Double, value: Double, samples: Int)

  /** The highest percentile of [[TailLadder]] that has at least ten samples
    * beyond it, with its value and the sample count. Fewer than twenty
    * samples leave no such percentile, so the median stands in. */
  def tail(xs: Seq[Double]): Tail = {
    val n = xs.size
    val p = TailLadder.find(p => n * (1.0 - p / 100.0) >= 10.0 - 1e-9).getOrElse(50.0)
    Tail(p, percentile(xs, p), n)
  }

  /** Running SHA-256 over the generated inputs of one run. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
    def add(v: Long): Unit = add(v.toString + ";")
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
