package perfbench

import java.nio.file.{Files, Paths}

/** Small numeric and host helpers shared by the workload runners. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN on no data. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def orZero(v: Double): Double = if (v.isNaN) 0.0 else v

  /** Bytes this process has read through read(2)-like calls so far
    * (`rchar` of /proc/self/io); -1 where the file is unavailable.
    */
  def rchar(): Long =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/io")).toArray
        .map(_.toString).find(_.startsWith("rchar:"))
      line.map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Wall clock with microsecond resolution: one epoch anchor plus the
  * monotonic nanosecond counter, so the generator, the sink and the
  * span recorder all read the same clock.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowUs: Long = anchorMs * 1000L + (System.nanoTime() - anchorNs) / 1000L
  def nowMs: Double = nowUs / 1000.0
}
