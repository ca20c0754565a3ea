package perfbench

import java.io.File
import scala.collection.mutable

/** Driver wall clock in milliseconds with sub-millisecond resolution, on
  * the same epoch as Spark's listener event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def secondsSince(startMs: Double): Double = (ms - startMs) / 1000.0

  def timed[T](body: => T): (T, Double) = {
    val t0 = ms
    val r = body
    (r, secondsSince(t0))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The `pct` percentile when at least ten samples lie beyond it, else
    * the maximum (too few samples to place a tail percentile). */
  def tail(xs: Seq[Double], pct: Double): Double =
    if (xs.size * (1.0 - pct / 100.0) >= 10.0) quantile(xs, pct / 100.0)
    else xs.max
}

object Files {
  def walk(f: File): Seq[File] =
    if (!f.exists()) Nil
    else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else Seq(f)

  /** Data files only: Spark's `_SUCCESS`, `.crc` and hidden files skipped. */
  def dataFiles(dir: File): Seq[File] =
    walk(dir).filter { f =>
      val n = f.getName
      !n.startsWith("_") && !n.startsWith(".")
    }

  def bytes(dir: File): Long = walk(dir).map(_.length()).sum

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete()
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Operation outcomes of one run. [[begin]] starts an operation; a failed
  * [[check]] marks the current operation failed, once however many of its
  * checks fail. */
final class Outcomes {
  private var attempted = 0L
  private var failed = 0L
  private var currentFailed = false

  def begin(): Unit = { attempted += 1; currentFailed = false }

  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    if (!currentFailed) { failed += 1; currentFailed = true }
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** `n` operations at once, `bad` of them failed. */
  def bulk(n: Long, bad: Long, what: => String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) System.err.println(s"[perfbench] FAILED: $what")
  }

  def nAttempted: Long = attempted
  def nFailed: Long = failed
}
