package graftbench

import scala.collection.mutable

/** Order statistics for the benchmark's timing samples. */
object Stats {

  /** Linear-interpolated percentile (`p` in 0..100) of `xs`. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The tail percentile: the highest of the usual reporting
    * percentiles that still has at least ten samples beyond it. A
    * sample too small for any of them reports its median as its tail
    * (and says so through the recorded percentile).
    */
  def tailPct(n: Int): Int =
    Seq(99, 95, 90, 75).find(p => n * (100 - p) / 100.0 >= 10.0).getOrElse(50)

  def tail(xs: Seq[Double]): Double = pct(xs, tailPct(xs.size))
}

/** One named series of samples per measured quantity. */
final class Samples {
  private val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(name: String, v: Double): Unit =
    synchronized(m.getOrElseUpdate(name, mutable.ArrayBuffer()) += v)
  def get(name: String): Seq[Double] = synchronized(m.get(name).map(_.toSeq).getOrElse(Nil))
  def median(name: String): Double = { val xs = get(name); if (xs.isEmpty) 0.0 else Stats.median(xs) }
  def tail(name: String): Double = { val xs = get(name); if (xs.isEmpty) 0.0 else Stats.tail(xs) }
  def last(name: String): Double = synchronized(m(name).last)
  def count(name: String): Int = get(name).size
}
