package geobench

import scala.collection.mutable
import scala.util.control.NonFatal

/**
 * Bookkeeping of one closed-loop phase. Every call into the program goes
 * through [[op]]: it is timed, wrapped in a span named after the layer
 * call, and its result is checked against the oracle outside the timing. A
 * throw or a failed check counts the op as failed and records why; nothing
 * is swallowed.
 */
final class Phase(val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  /** the first 20 failure messages; `failed` counts all of them */
  val failures = mutable.ArrayBuffer.empty[String]
  /** op kind -> latency of each call (ms) */
  val latencyMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** image-table rows fully processed */
  var images = 0L
  /** per cycle: images processed ÷ seconds in the workload's throughput ops */
  val cycleRates = mutable.ArrayBuffer.empty[Double]
  /** wall time of this phase's cycles */
  var wallSeconds = 0.0
  /** live table bytes per image, one sample per table built */
  val storedBytesPerImage = mutable.ArrayBuffer.empty[Double]
  /** when set, the last result and check of each op kind are kept for the self-test */
  var keep = false
  val kept = mutable.LinkedHashMap.empty[String, (Any, Any => Option[String])]

  def op[T](kind: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Right(tracer.span(kind)(body)) catch { case NonFatal(e) => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    latencyMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    val err = r match {
      case Left(e) => Some(s"threw $e")
      case Right(v) =>
        if (keep) kept(kind) = (v, (x: Any) => check(x.asInstanceOf[T]))
        try check(v) catch { case NonFatal(e) => Some(s"check threw $e") }
    }
    err.foreach(fail(kind, _))
    if (err.isEmpty) r.toOption else None
  }

  def seconds(kinds: Set[String]): Double =
    latencyMs.iterator.collect { case (k, xs) if kinds(k) => xs.sum / 1e3 }.sum

  private def fail(kind: String, why: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$kind: $why"
  }

  def absorb(o: Phase): Unit = {
    attempted += o.attempted; failed += o.failed
    o.failures.foreach(f => if (failures.size < 20) failures += f)
  }
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = (s.length - 1) * q / 100.0
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile, from 50 to 90, with at least ten samples above it. */
  def tailPct(n: Int): Int = math.max(50, math.min(90, math.floor(100.0 * (1 - 10.0 / n)).toInt))
}
