package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Thread-safe latency sample set (milliseconds). */
final class Samples {
  private val q = new ConcurrentLinkedQueue[java.lang.Double]()
  def add(ms: Double): Unit = { q.add(ms); () }
  def values: Vector[Double] = q.asScala.map(_.doubleValue).toVector
  def size: Int = q.size
}

object Stats {

  /** Nearest-rank percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length - 1, math.max(0, rank - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.length)

  /** Ladder the tail percentile climbs; it stops at the highest rung
    * that still leaves at least ten samples beyond it. */
  private val Ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** (percentile, value): the highest ladder percentile with at least
    * ten samples above it (p50 when the sample is smaller than 20). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    val p = Ladder.find(p => n * (1 - p / 100.0) >= 10).getOrElse(50.0)
    (p, percentile(xs, p))
  }
}

/** Minimal JSON writer for the harness's result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
