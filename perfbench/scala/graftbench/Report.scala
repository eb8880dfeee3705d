package graftbench

import scala.collection.mutable

/** Order statistics used by every workload. */
object Stats {
  /** Nearest-rank percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest of a few percentiles with at least ten samples beyond it;
    * with fewer than 20 samples no percentile qualifies and the maximum is
    * reported. Returns (value, percentile label). */
  def tail(xs: Seq[Double]): (Double, String) = {
    val n = xs.size
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10) match {
      case Some(p) => (pct(xs, p), s"p$p")
      case None => (if (xs.isEmpty) 0.0 else xs.max, "max")
    }
  }
}

/** What a run reports: end-to-end metrics, per-layer metrics, and the
  * configuration echo. Written as one JSON object at the end of the run. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String] // name -> JSON literal
  var attempted = 0L
  var failed = 0L
  var checksPassed = true

  def str(k: String, v: String): Unit = info(k) = Json.quote(v)
  def num(k: String, v: Double): Unit = info(k) = fmt(v)

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Latency samples of the run's operations, as median and tail. */
  def latencies(ms: Seq[Double]): Unit = {
    val (t, label) = Stats.tail(ms)
    e2e("op_ms_p50") = Stats.median(ms)
    e2e("op_ms_tail") = t
    str("op_ms_tail_percentile", label)
    num("op_samples", ms.size)
  }

  def json: String = {
    def obj(m: collection.Map[String, String]) =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    obj(mutable.LinkedHashMap(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "checks_passed" -> checksPassed.toString,
      "e2e" -> obj(e2e.map { case (k, v) => k -> fmt(v) }),
      "layer" -> obj(layer.map { case (k, v) => k -> fmt(v) }),
      "info" -> obj(info)))
  }
}

object Json {
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
