package graft.flatten

/** Python-exact value rendering (SURVEY.md §7.4).
  *
  * The reference stringifies every cell with Python semantics
  * [`ElasticSearch ETL.py:131-151`]: `None -> ''`, `bool -> 'True'/'False'`,
  * `dict/list -> json.dumps(v)` (comma-space separators, lowercase
  * true/false/null inside JSON), everything else `str(v)`.
  *
  * `str(float)` differs from Java's `Double.toString` in its scientific-
  * notation thresholds (Python: plain decimal for 1e-4 <= |x| < 1e16; Java
  * switches at 1e-3/1e7), so doubles go through [[pyRepr]]; the rest of the
  * rendering lives in [[RenderPass]].
  */
object PyFormat {

  /** Python `repr(double)` (shortest round-trip digits, Python's exp
    * thresholds and `e+XX`/`e-XX` exponent shape).
    */
  def pyRepr(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isPosInfinity) return "inf"
    if (d.isNegInfinity) return "-inf"
    val abs = math.abs(d)
    // Java's Double.toString already emits shortest round-trip digits; we
    // re-shape them to Python's fixed/exponential split.
    val jstr = java.lang.Double.toString(d) // e.g. "1.23456789E7"
    val (mantissa: String, exp: Int) = jstr.indexOf('E') match {
      case -1 => (jstr, 0)
      case i  => (jstr.substring(0, i), jstr.substring(i + 1).toInt)
    }
    if (d == 0.0) return if (1 / d < 0) "-0.0" else "0.0"
    if (abs >= 1e16 || abs < 1e-4) {
      // Python exponential form: mantissa 'e' sign two-digit-min exponent,
      // and a bare integer mantissa (1e+16, not 1.0e+16).
      val neg = mantissa.startsWith("-")
      val digits = mantissa.stripPrefix("-").replace(".", "")
        .reverse.dropWhile(_ == '0').reverse match {
        case "" => "0"
        case s  => s
      }
      // normalize: first digit, then optional .rest ; exponent adjusts
      val pointPos = mantissa.stripPrefix("-").indexOf('.') match {
        case -1 => mantissa.stripPrefix("-").length
        case p  => p
      }
      val e10 = exp + pointPos - 1
      val head = digits.substring(0, 1)
      val rest = digits.substring(1)
      val m = if (rest.isEmpty) head else s"$head.$rest"
      val sign = if (e10 < 0) "-" else "+"
      f"${if (neg) "-" else ""}$m%se$sign%s${math.abs(e10)}%02d"
    } else if (exp == 0) {
      jstr // already plain decimal, matches Python in this range
    } else {
      // Java chose scientific but Python wants plain decimal: expand.
      java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString match {
        case s if s.contains('.') => s
        case s                    => s + ".0"
      }
    }
  }
}
