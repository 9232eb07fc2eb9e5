package graft.sinks

import java.util.Locale

/** JSON sinks (S9): the reference's hand-built response bodies for
  * render (`render/reply/json.go:22-79`), find
  * (`find/find.go:200-245`) and autocomplete
  * (`autocomplete/autocomplete.go:489-499`).
  */
object JsonSink {

  /** JSON string escape — the single escaper every route shares. */
  def q(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  /** Go's `%f` (6 fixed decimals) used by the reference for values:
    * byte for byte Java's `"%f".formatLocal(Locale.ROOT, v)`, without
    * a `Formatter` per value. Java rounds the digits of
    * `Double.toString` half up at the 6th decimal, and so does this;
    * where those digits lie within an ulp of a rounding midpoint, or
    * `|v| ≥ 1e9`, it defers to the `Formatter` itself, whose digit
    * generation may differ there.
    */
  private[sinks] def f6(v: Double): String = {
    val a = math.abs(v)
    if (!(a < 1e9)) return "%f".formatLocal(Locale.ROOT, v)
    val s = java.lang.Double.toString(a) // "123.45", "1.0E-5", "1.2345E7"
    val e = s.indexOf('E')
    val dot = s.indexOf('.')
    val end = if (e < 0) s.length else e
    // the digits without the point; `point` of them precede it
    val digits = s.substring(0, dot) + s.substring(dot + 1, end)
    val point = dot + (if (e < 0) 0 else s.substring(e + 1).toInt)
    def d(i: Int): Int = if (i >= 0 && i < digits.length) digits.charAt(i) - '0' else 0
    var n = 0L // the value in millionths, truncated
    var i = 0
    while (i < point + 6) { n = n * 10 + d(i); i += 1 }
    var rest = 0L // the next 9 decimals, in units of 1e-15
    i = point + 6
    while (i < point + 15) { rest = rest * 10 + d(i); i += 1 }
    if (math.abs(rest - 500000000L) <= math.ulp(a) * 1e15 + 2) return "%f".formatLocal(Locale.ROOT, v)
    if (rest > 500000000L) n += 1
    val frac = (n % 1000000).toString
    val sb = new java.lang.StringBuilder(24)
    if (java.lang.Double.compare(v, 0.0) < 0) sb.append('-')
    sb.append(n / 1000000).append('.')
    var pad = 6 - frac.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(frac).toString
  }

  /** Render debug JSON: `{"metrics":[{name, pathExpression,
    * consolidationFunc, startTime, stopTime, stepTime, xFilesFactor,
    * values (null = absent), requestStartTime, requestStopTime}]}` —
    * empty strings omitted, exactly as `json.go:27-70`.
    */
  def render(series: Seq[Series], requestFrom: Long, requestUntil: Long): String = {
    val sb = new StringBuilder("{\"metrics\":[")
    series.iterator.zipWithIndex.foreach { case (s, k) =>
      if (k > 0) sb.append(',')
      sb.append('{')
      if (s.name.nonEmpty) sb.append("\"name\":").append(q(s.name)).append(',')
      if (s.pathExpression.nonEmpty)
        sb.append("\"pathExpression\":").append(q(s.pathExpression)).append(',')
      if (s.function.nonEmpty)
        sb.append("\"consolidationFunc\":").append(q(s.function)).append(',')
      sb.append("\"startTime\":").append(s.start).append(',')
      sb.append("\"stopTime\":").append(s.stop).append(',')
      sb.append("\"stepTime\":").append(s.step).append(',')
      sb.append("\"xFilesFactor\":0.000000,")
      if (s.values.nonEmpty) {
        sb.append("\"values\":[")
        var i = 0
        while (i < s.values.length) {
          val v = s.values(i)
          if (i > 0) sb.append(',')
          sb.append(if (v.isNaN || v.isInfinite) "null" else f6(v))
          i += 1
        }
        sb.append("],")
      }
      sb.append("\"requestStartTime\":").append(requestFrom).append(',')
      sb.append("\"requestStopTime\":").append(requestUntil)
      sb.append('}')
    }
    sb.append("]}").toString
  }

  /** Find response — the reference's (intentionally quirky, non-JSON)
    * `[{path="a.b",leaf=1},{path="a.c."}]` body with trailing CRLF
    * (`find/find.go:200-245`); empty result emits nothing.
    */
  def find(rows: Seq[(String, Boolean)], resultsLimit: Int = 0): String = {
    if (rows.isEmpty) return ""
    val limited = if (resultsLimit > 0) rows.take(resultsLimit) else rows
    limited.map { case (path, isLeaf) =>
      if (isLeaf) s"""{path="$path",leaf=1}""" else s"""{path="$path"}"""
    }.mkString("[", ",", "]\r\n")
  }

  /** Autocomplete response: a plain sorted JSON string array
    * (`autocomplete.go:489-499`).
    */
  def autocomplete(values: Seq[String]): String =
    values.map(q).mkString("[", ",", "]")
}
