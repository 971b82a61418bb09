package graft.engine

import com.fasterxml.jackson.core.io.schubfach.DoubleToDecimal
import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

/** Python-compatible number → string formatting.
  *
  * Two formats appear at the reference's output boundary:
  *  1. `str(float)` — CPython's shortest-repr with fixed notation for
  *     10^-4 ≤ |x| < 10^16 and `e±XX` outside (csv.DictWriter stringifies
  *     dynamic-path values, dynamic.py:340-342).
  *  2. `f"{v:.8f}".rstrip("0").rstrip(".")` — the Ghostfolio money format
  *     (ghostfolio.py:48-51): fixed 8 decimals, trailing zeros then a bare
  *     dot stripped; `0→"0"`, `1.50→"1.5"`, `123.0→"123"`.
  */
object PyFormat {

  /** CPython str(float): the shortest digits that round-trip (of several
    * as short, the closest to the exact value), laid out in fixed notation
    * for 1e-4 ≤ |x| < 1e16 and as `d[.ddd]e±XX` outside.
    *
    * The digits come from jackson-core's Schubfach kernel
    * (`DoubleToDecimal.toString`, to the `Double.toString` spec of JDK 19+),
    * parsed out of its `ddd.ddd[E±n]` string. That spec differs from
    * CPython in one rule: when one digit suffices it may still return two,
    * if a two-digit decimal lies closer (`4.9E-324` where CPython writes
    * `5e-324`). So a two-digit result is replaced by the one-digit
    * HALF_EVEN rounding of the exact value when that rounding round-trips.
    * It only can for subnormals: a normal double's rounding interval is far
    * narrower than the gap between a one-digit and a closer two-digit
    * decimal. */
  def pyFloatStr(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d == Double.PositiveInfinity) return "inf"
    if (d == Double.NegativeInfinity) return "-inf"
    val neg = (d < 0.0) || (d == 0.0 && 1.0 / d < 0)
    val a = math.abs(d)
    if (a == 0.0) return if (neg) "-0.0" else "0.0"
    val shortest = DoubleToDecimal.toString(a)
    val e = shortest.indexOf('E')
    val end = if (e < 0) shortest.length else e
    // significant digits with the exponent of the first one: skip the point
    // and any leading zeros ("0.00123"), then drop trailing zeros ("1.0")
    val sig = new java.lang.StringBuilder(17)
    var point = end
    var lead = 0
    var i = 0
    while (i < end) {
      val c = shortest.charAt(i)
      if (c == '.') point = i
      else if (c == '0' && sig.length == 0) lead += 1
      else sig.append(c)
      i += 1
    }
    var last = sig.length
    while (sig.charAt(last - 1) == '0') last -= 1
    var trimmed = sig.substring(0, last)
    var exp10n = point - 1 - lead +
      (if (e < 0) 0 else Integer.parseInt(shortest, e + 1, shortest.length, 10))
    if (trimmed.length == 2 && a < java.lang.Double.MIN_NORMAL) {
      val one = new JBigDecimal(a).round(new MathContext(1, RoundingMode.HALF_EVEN))
      if (one.doubleValue == a) {
        trimmed = one.unscaledValue.toString
        exp10n = -one.scale
      }
    }
    val s =
      if (exp10n >= -4 && exp10n < 16) {
        // fixed notation
        if (exp10n >= trimmed.length - 1) {
          trimmed + "0" * (exp10n - trimmed.length + 1) + ".0"
        } else if (exp10n >= 0) {
          val (i, f) = trimmed.splitAt(exp10n + 1)
          s"$i.$f"
        } else {
          "0." + "0" * (-exp10n - 1) + trimmed
        }
      } else {
        // e-notation: d[.ddd]e±XX (exponent ≥ 2 digits, sign always;
        // single-digit mantissa has NO ".0" — str(1e-05) == '1e-05')
        val mant =
          if (trimmed.length == 1) trimmed
          else trimmed.charAt(0) + "." + trimmed.substring(1)
        val sign = if (exp10n < 0) "-" else "+"
        f"${mant}e$sign${math.abs(exp10n)}%02d"
      }
    if (neg) "-" + s else s
  }

  /** Ghostfolio money format: %.8f then strip trailing zeros and dot.
    * Uses the exact binary value (new BigDecimal(d)) with HALF_EVEN — the
    * same rounding CPython's format() applies. */
  def money8(d: Double): String = {
    val s = new JBigDecimal(d).setScale(8, RoundingMode.HALF_EVEN).toPlainString
    val noZeros = s.reverse.dropWhile(_ == '0').reverse
    val stripped = if (noZeros.endsWith(".")) noZeros.dropRight(1) else noZeros
    // Python's %.8f keeps the sign of -0.0 ("-0"); BigDecimal drops it
    if ((d == 0.0) && (1.0 / d < 0) && !stripped.startsWith("-")) "-" + stripped
    else stripped
  }
}
