package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

/** Pickle sink (S8) — the graphite-web exchange format: a
  * protocol-2 pickle of a list of dicts
  * `{name, pathExpression, step, values (None = absent), start, end}`
  * in the reference's key order (`render/reply/pickle.go:55-105`).
  * Hand-rolled opcode writer; loadable by python `pickle.loads`.
  */
object PickleSink {

  /** A pickle opcode writer over one array sized up front to the exact
    * bytes it will hold: it never grows or copies.
    */
  final private[sinks] class Out(size: Int) {
    private val arr = new Array[Byte](size)
    private var n = 0

    def op(c: Int): Unit = { arr(n) = c.toByte; n += 1 }

    def raw(b: Array[Byte]): Unit = { System.arraycopy(b, 0, arr, n, b.length); n += b.length }

    def str(b: Array[Byte]): Unit = { op('X'); intLE(b.length); raw(b) } // BINUNICODE

    def uint(v: Long): Unit =
      if (v < 256) { op('K'); op(v.toInt) } // BININT1
      else if (v < 65536) { op('M'); op(v.toInt); op(v.toInt >> 8) } // BININT2
      else if (v <= Int.MaxValue) { op('J'); intLE(v.toInt) } // BININT
      else { // LONG1, little-endian two's complement
        op(0x8a)
        op(5)
        var x = v
        var i = 0
        while (i < 5) { op(x.toInt); x >>= 8; i += 1 }
      }

    def float(v: Double): Unit = { // BINFLOAT (big-endian)
      op('G')
      val bits = java.lang.Double.doubleToLongBits(v)
      var i = 7
      while (i >= 0) { op((bits >>> (8 * i)).toInt); i -= 1 }
    }

    private def intLE(v: Int): Unit = { op(v); op(v >> 8); op(v >> 16); op(v >> 24) }

    def bytes: Array[Byte] = { assert(n == arr.length, s"wrote $n of ${arr.length} bytes"); arr }
  }

  /** Bytes of an [[Out.str]] of `b`. */
  private[sinks] def strSize(b: Array[Byte]): Int = 5 + b.length

  /** Bytes of an [[Out.uint]] of `v`. */
  private def uintSize(v: Long): Int =
    if (v < 256) 2 else if (v < 65536) 3 else if (v <= Int.MaxValue) 5 else 7

  /** A constant dict key, encoded once. */
  private[sinks] def key(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8)
    val out = new Out(strSize(b))
    out.str(b)
    out.bytes
  }

  private val PROTO: Array[Byte] = Array(0x80.toByte, 2.toByte)
  private val Name = key("name")
  private val PathExpression = key("pathExpression")
  private val Step = key("step")
  private val Values = key("values")
  private val Start = key("start")
  private val End = key("end")

  def encode(series: Seq[Series]): Array[Byte] = {
    val utf8 = series.map(s => (s.name.getBytes(UTF_8), s.pathExpression.getBytes(UTF_8)))
    def valuesSize(vs: Array[Double]): Int = {
      var k = if (vs.isEmpty) 0 else 2 // MARK ... APPENDS
      var i = 0
      while (i < vs.length) { k += (if (vs(i).isNaN) 1 else 9); i += 1 }
      k
    }
    val total = PROTO.length + 2 + series.lazyZip(utf8).map { case (s, (n, p)) =>
      2 + // EMPTY_DICT, APPEND
        Name.length + strSize(n) + 1 +
        PathExpression.length + strSize(p) + 1 +
        Step.length + uintSize(s.step) + 1 +
        Values.length + 1 + valuesSize(s.values) + 1 +
        Start.length + uintSize(s.start) + 1 +
        End.length + uintSize(s.stop) + 1
    }.sum
    val w = new Out(total)
    w.raw(PROTO)
    w.op(']') // EMPTY_LIST
    series.lazyZip(utf8).foreach { case (s, (n, p)) =>
      w.op('}') // EMPTY_DICT
      w.raw(Name); w.str(n); w.op('s')
      w.raw(PathExpression); w.str(p); w.op('s')
      w.raw(Step); w.uint(s.step); w.op('s')
      w.raw(Values); w.op(']')
      val vs = s.values
      if (vs.nonEmpty) {
        w.op('(') // MARK
        var i = 0
        while (i < vs.length) { if (vs(i).isNaN) w.op('N') else w.float(vs(i)); i += 1 }
        w.op('e') // APPENDS
      }
      w.op('s')
      w.raw(Start); w.uint(s.start); w.op('s')
      w.raw(End); w.uint(s.stop); w.op('s')
      w.op('a') // APPEND dict to list
    }
    w.op('.') // STOP
    w.bytes
  }

  /** The empty response (`graphitePickle.EmptyList`). */
  val emptyList: Array[Byte] = Array(0x80.toByte, 2.toByte, ']'.toByte, '.'.toByte)
}
