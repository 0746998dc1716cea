package graftbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One completed op of the timed region. */
final case class OpRecord(id: Long, client: Int, verb: String, kind: String,
                          start: Long, end: Long, ok: Boolean, error: String,
                          rows: Long) {
  def ms: Double = (end - start) / 1e6
}

/** A metric as written to the result file: value, unit, sample count,
  * and for a tail percentile the percentile it names.
  */
final case class Metric(value: Double, unit: String, n: Long, note: String = "")

object Stats {
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of these percentiles with at least ten samples beyond it. */
  private val Ladder = Seq(0.999 -> "p99.9", 0.99 -> "p99", 0.95 -> "p95",
    0.9 -> "p90", 0.75 -> "p75")

  /** (value, name) of the tail percentile; the maximum when fewer than
    * forty samples leave no percentile with ten beyond it.
    */
  def tail(xs: Seq[Double]): (Double, String) =
    Ladder.find { case (p, _) => xs.size * (1 - p) >= 10 } match {
      case Some((p, name)) => (quantile(xs, p), name)
      case None => (if (xs.isEmpty) Double.NaN else xs.max, "max")
    }

  def latencyMetrics(prefix: String, ops: Seq[OpRecord]): Seq[(String, Metric)] =
    if (ops.isEmpty) Nil
    else {
      val ms = ops.map(_.ms)
      val (t, name) = tail(ms)
      Seq(s"${prefix}_p50_ms" -> Metric(median(ms), "ms", ms.size),
        s"${prefix}_tail_ms" -> Metric(t, "ms", ms.size, name))
    }
}

/** Writes the result and span files. A `ListMap` keeps its keys in order. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
