package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** What one pass of a workload's fixed op sequence produced.
  * `latenciesNs` has one entry per request, timed around the call only, not
  * its output check: a convert, an HTTP request, or (catalog) the whole
  * pass. `rows` counts the rows the ops processed; `attempted` counts the
  * ops, and each failed op adds one message to `failures`. */
final case class Pass(latenciesNs: Seq[Long], rows: Long, failures: Seq[String],
                      attempted: Int) {
  def wallNs: Long = latenciesNs.sum
}

object Pass {
  /** A pass whose ops are its requests. */
  def apply(latenciesNs: Seq[Long], rows: Long, failures: Seq[String]): Pass =
    Pass(latenciesNs, rows, failures, latenciesNs.size)

  /** Times `op`, returning its value and the elapsed nanoseconds. */
  def timed[T](op: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val v = op
    (v, System.nanoTime() - t0)
  }
}

object Stats {
  /** Linear interpolation between order statistics (numpy's default). */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
}

object FileUtil {
  def sha256(p: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Number of line terminators (LF) in the file. */
  def countLines(p: Path): Long = {
    val in = Files.newInputStream(p)
    var lines = 0L
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) {
        var i = 0
        while (i < n) { if (buf(i) == '\n') lines += 1; i += 1 }
        n = in.read(buf)
      }
    } finally in.close()
    lines
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }
}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
