package bench

import scala.collection.mutable

/** Sample buffer for one timed phase. Medians and percentiles use the
  * nearest-rank rule; `halves` is the steady-state check: the median of
  * the first half of the samples against the median of the second half. */
final class Samples(val name: String) {
  private val buf = mutable.ArrayBuffer.empty[Double]
  def +=(v: Double): Unit = synchronized { buf += v }
  def values: Seq[Double] = synchronized { buf.toSeq }
  def size: Int = values.size
  def isEmpty: Boolean = size == 0
  def pct(p: Double): Double = Samples.pct(values, p)
  def median: Double = pct(0.5)
  def sum: Double = values.sum

  /** (first-half median, second-half median, agree). Phases with fewer than
    * six samples are too short to judge and count as agreeing. */
  def halves(tolerance: Double): (Double, Double, Boolean) = {
    val v = values
    if (v.size < 6) (Double.NaN, Double.NaN, true)
    else {
      val (a, b) = v.splitAt(v.size / 2)
      val (ma, mb) = (Samples.pct(a, 0.5), Samples.pct(b, 0.5))
      (ma, mb, math.abs(ma - mb) <= tolerance * math.max(ma, mb))
    }
  }
}

object Samples {
  def pct(v: Seq[Double], p: Double): Double =
    if (v.isEmpty) Double.NaN
    else {
      val s = v.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
}

/** Result of one benchmark run: the gated end-to-end metrics, the per-layer
  * metrics of a traced run, operation counts, output-check failures and a
  * free-form diagnostic section (weather stamp, steady-state verdicts,
  * traced end-to-end values for the overhead comparison). */
final class Record {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val phases = mutable.LinkedHashMap.empty[String, Double]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  private var attemptedN = 0L
  private var failedN = 0L
  private var failedChecks = 0L

  def attempted(n: Long = 1): Unit = synchronized { attemptedN += n }
  /** An operation that threw or returned a wrong output. */
  def failed(what: String): Unit = synchronized { failedN += 1; note(what) }
  /** An output check outside the timed operations. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) synchronized { failedChecks += 1; note(what) }
  private def note(what: String): Unit = if (checkFailures.size < 20) checkFailures += what

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)

  /** Diagnostics of a timed phase's samples: count, p90 and the
    * steady-state check. */
  def steady(s: Samples): Unit = if (!s.isEmpty) {
    val (a, b, ok) = s.halves(0.15)
    detail(s"steady.${s.name}") = Map("n" -> s.size, "p90" -> s.pct(0.9),
      "first_half_median" -> a, "second_half_median" -> b, "agree" -> ok)
  }

  def correct: Boolean = failedChecks == 0 && failedN == 0

  def json(trace: Boolean): String = {
    val metrics = (if (trace) perLayer else endToEnd).map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": ${math.max(1L, attemptedN)}, """ +
      s""""failed": $failedN, "metrics": $metrics}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def any(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + any(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(any).mkString("[", ", ", "]")
    case x => str(x.toString)
  }
}
