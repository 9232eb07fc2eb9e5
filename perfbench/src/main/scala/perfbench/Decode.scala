package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** The benchmark's own wire decoders. They share no code with the
  * engine's encoders, so a response is checked against the public
  * formats, not against the code that wrote it.
  */
object Decode {

  /** A rendered series as a client sees it. NaN marks an absent point. */
  final case class Series(name: String, start: Long, stop: Long, step: Long, values: Array[Double])

  final class Malformed(msg: String) extends RuntimeException(msg)
  private def bad(msg: String): Nothing = throw new Malformed(msg)

  // ------------------------------------------------------------------
  // protobuf
  // ------------------------------------------------------------------

  /** Minimal protobuf reader: varint, fixed64, fixed32 and
    * length-delimited fields.
    */
  final class Proto(buf: Array[Byte], private var pos: Int, end: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    def hasNext: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var out = 0L; var more = true
      while (more) {
        if (pos >= end || shift > 63) bad("truncated varint")
        val b = buf(pos); pos += 1
        out |= (b & 0x7fL) << shift
        shift += 7
        more = (b & 0x80) != 0
      }
      out
    }
    def key(): (Int, Int) = { val k = varint(); ((k >>> 3).toInt, (k & 7).toInt) }
    def bytes(): Proto = {
      val n = varint().toInt
      if (n < 0 || pos + n > end) bad("length past end")
      val r = new Proto(buf, pos, pos + n); pos += n; r
    }
    def string(): String = {
      val n = varint().toInt
      if (n < 0 || pos + n > end) bad("length past end")
      val s = new String(buf, pos, n, UTF_8); pos += n; s
    }
    def fixed64(): Long = {
      if (pos + 8 > end) bad("truncated fixed64")
      val v = ByteBuffer.wrap(buf, pos, 8).order(ByteOrder.LITTLE_ENDIAN).getLong; pos += 8; v
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => fixed64()
      case 2 => bytes()
      case 5 => if (pos + 4 > end) bad("truncated fixed32") else pos += 4
      case w => bad(s"wire type $w")
    }
  }

  /** carbonapi_v3_pb MultiFetchResponse: repeated FetchResponse
    * metrics = 1 {name = 1, startTime = 4, stopTime = 5, stepTime = 6,
    * values = 9 (packed double)}.
    */
  def v3(body: Array[Byte]): Seq[Series] = {
    val r = new Proto(body)
    val out = Seq.newBuilder[Series]
    while (r.hasNext) {
      val (f, w) = r.key()
      if (f != 1 || w != 2) bad(s"unexpected top-level field $f/$w")
      val m = r.bytes()
      var name = ""; var start = 0L; var stop = 0L; var step = 0L
      val vs = mutable.ArrayBuilder.make[Double]
      while (m.hasNext) {
        val (f2, w2) = m.key()
        (f2, w2) match {
          case (1, 2) => name = m.string()
          case (4, 0) => start = m.varint()
          case (5, 0) => stop = m.varint()
          case (6, 0) => step = m.varint()
          case (9, 2) =>
            val p = m.bytes()
            while (p.hasNext) vs += java.lang.Double.longBitsToDouble(p.fixed64())
          case _ => m.skip(w2)
        }
      }
      out += Series(name, start, stop, step, vs.result())
    }
    out.result()
  }

  /** carbonapi_v3_pb MultiFetchRequest with one FetchRequest per target
    * (name = 1, startTime = 2, stopTime = 3, pathExpression = 5,
    * maxDataPoints = 6).
    */
  def v3Request(targets: Seq[String], from: Long, until: Long, maxDataPoints: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def varint(o: java.io.ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      o.write(v.toInt)
    }
    def str(o: java.io.ByteArrayOutputStream, field: Int, s: String): Unit = {
      val b = s.getBytes(UTF_8); varint(o, (field << 3 | 2).toLong); varint(o, b.length.toLong); o.write(b)
    }
    targets.foreach { t =>
      val m = new java.io.ByteArrayOutputStream()
      str(m, 1, t)
      varint(m, 2 << 3); varint(m, from)
      varint(m, 3 << 3); varint(m, until)
      str(m, 5, t)
      varint(m, 6 << 3); varint(m, maxDataPoints)
      varint(out, 1 << 3 | 2); varint(out, m.size.toLong); m.writeTo(out)
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // pickle (protocol 2 subset used by graphite-web)
  // ------------------------------------------------------------------

  private object Mark

  /** Unpickle into Scala values: list → Vector, dict → Map, str →
    * String, int → Long, float → Double, None → null, bool → Boolean.
    */
  def unpickle(b: Array[Byte]): Any = {
    val stack = mutable.ArrayBuffer.empty[Any]
    var i = 0
    def need(n: Int): Unit = if (i + n > b.length) bad("truncated pickle")
    def u8(): Int = { need(1); val v = b(i) & 0xff; i += 1; v }
    def le(n: Int): Long = { need(n); var v = 0L; for (j <- 0 until n) v |= (b(i + j) & 0xffL) << (8 * j); i += n; v }
    def pop(): Any = { if (stack.isEmpty) bad("pickle stack underflow"); stack.remove(stack.length - 1) }
    def popToMark(): Seq[Any] = {
      val m = stack.lastIndexWhere(_ == Mark)
      if (m < 0) bad("pickle mark missing")
      val items = stack.slice(m + 1, stack.length).toSeq
      stack.remove(m, stack.length - m)
      items
    }
    def top: Any = { if (stack.isEmpty) bad("pickle stack underflow"); stack.last }
    var done = false
    while (!done) {
      u8() match {
        case 0x80 => u8() // PROTO
        case ']' => stack += mutable.ArrayBuffer.empty[Any]
        case '}' => stack += mutable.LinkedHashMap.empty[Any, Any]
        case '(' => stack += Mark
        case 'N' => stack += null
        case 0x88 => stack += true
        case 0x89 => stack += false
        case 'K' => stack += u8().toLong
        case 'M' => stack += le(2)
        case 'J' => stack += le(4).toInt.toLong
        case 0x8a =>
          val n = u8(); val raw = le(n)
          stack += (if (n < 8 && (raw & (1L << (8 * n - 1))) != 0) raw - (1L << (8 * n)) else raw)
        case 'G' =>
          need(8)
          stack += ByteBuffer.wrap(b, i, 8).order(ByteOrder.BIG_ENDIAN).getDouble; i += 8
        case 'X' =>
          val n = le(4).toInt; need(n)
          stack += new String(b, i, n, UTF_8); i += n
        case 'a' =>
          val v = pop()
          top match { case l: mutable.ArrayBuffer[Any] @unchecked => l += v; case _ => bad("APPEND to non-list") }
        case 'e' =>
          val vs = popToMark()
          top match { case l: mutable.ArrayBuffer[Any] @unchecked => l ++= vs; case _ => bad("APPENDS to non-list") }
        case 's' =>
          val v = pop(); val k = pop()
          top match { case d: mutable.LinkedHashMap[Any, Any] @unchecked => d(k) = v; case _ => bad("SETITEM on non-dict") }
        case 'u' =>
          val kvs = popToMark()
          top match {
            case d: mutable.LinkedHashMap[Any, Any] @unchecked => kvs.grouped(2).foreach(p => d(p(0)) = p(1))
            case _ => bad("SETITEMS on non-dict")
          }
        case '.' => done = true
        case op => bad(s"pickle opcode 0x${op.toHexString}")
      }
    }
    if (i != b.length) bad("bytes after pickle STOP")
    if (stack.length != 1) bad("pickle stack not a single value")
    freeze(stack.head)
  }

  private def freeze(v: Any): Any = v match {
    case l: mutable.ArrayBuffer[Any] @unchecked => l.map(freeze).toVector
    case d: mutable.LinkedHashMap[Any, Any] @unchecked => d.map { case (k, x) => k -> freeze(x) }.toMap
    case x => x
  }

  private def num(v: Any): Double = v match {
    case null => Double.NaN
    case l: Long => l.toDouble
    case d: Double => d
    case x => bad(s"not a number: $x")
  }

  private def asMap(v: Any): Map[Any, Any] = v match {
    case m: Map[Any, Any] @unchecked => m
    case x => bad(s"not an object: ${String.valueOf(x).take(60)}")
  }
  private def asSeq(v: Any): Vector[Any] = v match {
    case s: Vector[Any] @unchecked => s
    case x => bad(s"not a list: ${String.valueOf(x).take(60)}")
  }
  private def long(v: Any): Long = v match {
    case l: Long => l
    case d: Double if d == math.rint(d) => d.toLong
    case x => bad(s"not an integer: $x")
  }

  /** graphite-web render pickle: list of {name, step, values, start, end}. */
  def renderPickle(body: Array[Byte]): Seq[Series] =
    asSeq(unpickle(body)).map { e =>
      val m = asMap(e)
      Series(m("name").toString, long(m("start")), long(m("end")), long(m("step")),
        asSeq(m("values")).map(num).toArray)
    }

  /** find pickle: list of {metric_path, isLeaf}. */
  def findPickle(body: Array[Byte]): Seq[(String, Boolean)] =
    asSeq(unpickle(body)).map { e =>
      val m = asMap(e)
      (m("metric_path").toString, m("isLeaf") match {
        case b: Boolean => b
        case x => bad(s"isLeaf not a bool: $x")
      })
    }

  // ------------------------------------------------------------------
  // JSON
  // ------------------------------------------------------------------

  /** Parse JSON into Scala values: object → Map[String, Any], array →
    * Vector, number → Double, plus String, Boolean and null.
    */
  def json(s: String): Any = {
    var i = 0
    def ws(): Unit = while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    def expect(c: Char): Unit = { ws(); if (i >= s.length || s.charAt(i) != c) bad(s"expected '$c' at $i"); i += 1 }
    def value(): Any = {
      ws()
      if (i >= s.length) bad("unexpected end of JSON")
      s.charAt(i) match {
        case '{' =>
          i += 1; ws()
          val m = Map.newBuilder[String, Any]
          if (s.charAt(i) == '}') i += 1
          else {
            var more = true
            while (more) {
              ws(); val k = str(); expect(':'); m += k -> value(); ws()
              if (s.charAt(i) == ',') i += 1 else { expect('}'); more = false }
            }
          }
          m.result()
        case '[' =>
          i += 1; ws()
          val v = Vector.newBuilder[Any]
          if (s.charAt(i) == ']') i += 1
          else {
            var more = true
            while (more) {
              v += value(); ws()
              if (s.charAt(i) == ',') i += 1 else { expect(']'); more = false }
            }
          }
          v.result()
        case '"' => str()
        case 't' if s.startsWith("true", i) => i += 4; true
        case 'f' if s.startsWith("false", i) => i += 5; false
        case 'n' if s.startsWith("null", i) => i += 4; null
        case _ =>
          val st = i
          while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
          if (st == i) bad(s"unexpected '${s.charAt(i)}' at $i")
          s.substring(st, i).toDouble
      }
    }
    def str(): String = {
      if (s.charAt(i) != '"') bad(s"expected string at $i")
      i += 1
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
            case 'b' => sb += '\b'; case 'f' => sb += '\f'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += s.charAt(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    val v = value(); ws()
    if (i != s.length) bad(s"trailing JSON at $i")
    v
  }

  /** Render JSON: {"metrics": [{name, startTime, stopTime, stepTime, values}]}. */
  def renderJson(body: Array[Byte]): Seq[Series] =
    asSeq(asMap(json(new String(body, UTF_8)))("metrics")).map { e =>
      val m = asMap(e)
      Series(m("name").toString, long(m("startTime")), long(m("stopTime")), long(m("stepTime")),
        m.get("values").map(asSeq).getOrElse(Vector.empty).map(num).toArray)
    }

  /** Autocomplete: a JSON array of strings. */
  def stringArray(body: Array[Byte]): Seq[String] =
    asSeq(json(new String(body, UTF_8))).map {
      case s: String => s
      case x => bad(s"not a string: $x")
    }

  /** One Prometheus range-query series: labels and (time, value) points. */
  final case class PromSeries(labels: Map[String, String], points: Vector[(Long, Double)])

  /** Prometheus matrix envelope: {"status":"success","data":{"resultType":"matrix","result":[...]}}. */
  def promMatrix(body: Array[Byte]): Seq[PromSeries] = {
    val top = asMap(json(new String(body, UTF_8)))
    if (top.get("status") != Some("success")) bad(s"status ${top.get("status")}")
    val data = asMap(top("data"))
    if (data.get("resultType") != Some("matrix")) bad(s"resultType ${data.get("resultType")}")
    asSeq(data("result")).map { e =>
      val m = asMap(e)
      val labels = asMap(m("metric")).map { case (k, v) => k.toString -> v.toString }
      val pts = asSeq(m("values")).map { p =>
        val pair = asSeq(p)
        (long(pair(0)), pair(1) match {
          case s: String => s.toDouble
          case x => bad(s"sample value not a string: $x")
        })
      }
      PromSeries(labels, pts)
    }
  }
}
