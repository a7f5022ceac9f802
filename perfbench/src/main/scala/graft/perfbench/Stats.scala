package graft.perfbench

import java.nio.file.{Files, Path}

/** Order statistics and rates used by every workload. */
object Stats {

  /** The q-quantile (0 <= q <= 1) by linear interpolation between the two
    * nearest order statistics (numpy's default, R type 7).
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** events per second; a zero or negative window is a measurement bug */
  def rate(events: Long, nanos: Long): Double = {
    require(nanos > 0, s"rate over a window of $nanos ns")
    events * 1e9 / nanos
  }

  def ms(nanos: Long): Double = nanos / 1e6
}

/** File-system helpers confined to the benchmark's work directory. */
object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
