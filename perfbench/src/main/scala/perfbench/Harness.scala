package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the command line and the session. */
final case class Ctx(
    spark: SparkSession,
    tracer: Tracer,
    seed: Long,
    seconds: Double,
    cores: Int,
    work: Path,
    /** System.nanoTime() when the run began building its session. */
    startNs: Long) {
  def trace: Boolean = tracer.enabled
  def sinceStartS: Double = (System.nanoTime() - startNs) / 1e9
  /** Progress line on stderr, stamped with the seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] $sinceStartS%7.2f s  $msg")
}

/** Attempted/failed accounting: a call that throws, an error response,
  * a wrong answer and a broken invariant each count as one failed
  * operation. Failure details go to stderr. */
final class Ledger(label: String = "FAILED") {
  var attempted = 0L
  var failed = 0L

  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] $label $what")
  }

  /** Run one operation; a throw counts as failed and yields None. */
  def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch { case scala.util.control.NonFatal(e) =>
      fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
  }

  /** Check the outcome of the operation being attempted (a served
    * response, a row count, an invariant); a mismatch fails it. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) fail(s"$what $detail")
    ok
  }
}

/** Metrics of one run, in emission order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Sum of file sizes under `dir` and the files matching `keep`. */
  def walk(dir: Path, keep: Path => Boolean = _ => true): (Long, Seq[Path]) =
    if (!Files.exists(dir)) (0L, Nil)
    else {
      val files = ArrayBuffer.empty[Path]
      val it = Files.walk(dir).iterator()
      while (it.hasNext) { val p = it.next(); if (Files.isRegularFile(p) && keep(p)) files += p }
      (files.map(Files.size).sum, files.toSeq)
    }
}

/** Per-layer aggregation of traced spans. */
final class Layers {
  private val byLayer = mutable.LinkedHashMap.empty[String, ArrayBuffer[SpanStats]]
  def add(s: SpanStats): SpanStats = { byLayer.getOrElseUpdate(s.layer, ArrayBuffer.empty) += s; s }
  /** Drop every span except those of the layer `keep`. */
  def reset(keep: String = ""): Unit = byLayer.filterInPlace((k, _) => k == keep)
  def of(layer: String): Seq[SpanStats] = byLayer.getOrElse(layer, ArrayBuffer.empty).toSeq
  def ofPrefix(prefix: String): Seq[SpanStats] =
    byLayer.collect { case (k, v) if k.startsWith(prefix) => v }.flatten.toSeq
}
