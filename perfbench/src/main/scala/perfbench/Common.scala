package perfbench

import scala.collection.mutable

/** Minimal JSON writer (numbers, strings, booleans, nested maps/seqs). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile (the `statistics.quantiles`
    * "inclusive" method), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Mean of the samples at or above the q-quantile: a tail figure that
    * does not jump when a different operation lands on the rank. */
  def tailMean(xs: Seq[Double], q: Double): Double = {
    val cut = quantile(xs, q)
    mean(xs.filter(_ >= cut))
  }

  /** Mean of the samples between the quartiles (inclusive): a centre
    * that does not jump across a gap between neighbouring samples. */
  def interquartileMean(xs: Seq[Double]): Double = {
    val (lo, hi) = (quantile(xs, 0.25), quantile(xs, 0.75))
    mean(xs.filter(x => x >= lo && x <= hi))
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    if (pts.size < 2) return 0.0
    val mx = mean(pts.map(_._1)); val my = mean(pts.map(_._2))
    val num = pts.map { case (x, y) => (x - mx) * (y - my) }.sum
    val den = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (den == 0) 0.0 else num / den
  }
}

/** What one workload run reports back to run.py. */
final class Result {
  var attempted = 0L
  var failed = 0L
  /** epoch ms of the first timed operation (ends set-up). */
  var firstOpMs: Double = Double.NaN
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val problems = mutable.ArrayBuffer.empty[String]

  def fail(n: Long, why: String): Unit = {
    failed += n
    if (problems.size < 20) problems += why
  }

  def markFirstOp(): Unit =
    if (firstOpMs.isNaN) firstOpMs = System.currentTimeMillis().toDouble

  def json: String = Json.obj(Seq(
    "attempted" -> attempted, "failed" -> failed,
    "first_op_ms" -> firstOpMs, "e2e" -> e2e, "layers" -> layers,
    "problems" -> problems))
}

/** Peak resident set of this JVM, from the kernel's high-water mark. */
object Rss {
  def peakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
