package graft.sinks

/** Low-level wire-format helpers shared by the protobuf and pickle
  * sinks (`render/reply/protobuf.go:19-24` constants; varint/fixed64
  * are the standard protobuf encodings).
  */
object Wire {

  /** protobuf wire types */
  val LengthDelimited = 2
  val Fixed32 = 5

  /** A protobuf writer over one growable array. Sized up front to what
    * it will hold (`initial`), it never grows or copies.
    */
  final class Buf(initial: Int = 4096) {
    private var arr = new Array[Byte](initial)
    private var n = 0

    private def room(k: Int): Unit =
      if (n + k > arr.length) arr = java.util.Arrays.copyOf(arr, math.max(2 * arr.length, n + k))

    def varint(v: Long): this.type = {
      room(10)
      var x = v
      while ((x & ~0x7fL) != 0) {
        arr(n) = ((x & 0x7f) | 0x80).toByte; n += 1
        x >>>= 7
      }
      arr(n) = x.toByte; n += 1
      this
    }

    /** field header: (number << 3) | wireType */
    def tag(field: Int, wireType: Int): this.type = varint((field << 3) | wireType)

    def doubleLE(v: Double): this.type = {
      room(8)
      var bits = java.lang.Double.doubleToLongBits(v)
      var i = 0
      while (i < 8) { arr(n) = bits.toByte; n += 1; bits >>>= 8; i += 1 }
      this
    }

    def floatLE(v: Float): this.type = {
      room(4)
      var bits = java.lang.Float.floatToIntBits(v)
      var i = 0
      while (i < 4) { arr(n) = bits.toByte; n += 1; bits >>>= 8; i += 1 }
      this
    }

    def string(field: Int, s: String): this.type = string(field, s.getBytes("UTF-8"))

    /** A length-delimited field of already-encoded UTF-8 bytes. */
    def string(field: Int, b: Array[Byte]): this.type = {
      tag(field, LengthDelimited).varint(b.length.toLong)
      raw(b)
    }

    def raw(b: Array[Byte]): this.type = {
      room(b.length)
      System.arraycopy(b, 0, arr, n, b.length); n += b.length
      this
    }

    def byte(b: Int): this.type = { room(1); arr(n) = b.toByte; n += 1; this }

    /** The bytes written; the array itself when the initial size was exact. */
    def bytes: Array[Byte] = if (n == arr.length) arr else java.util.Arrays.copyOf(arr, n)
    def size: Int = n
  }

  /** Bytes a [[Buf.varint]] of `v` takes. */
  def varintSize(v: Long): Int = {
    var x = v
    var k = 1
    while ((x & ~0x7fL) != 0) { x >>>= 7; k += 1 }
    k
  }

  /** Minimal protobuf reader — enough to decode the flat carbonapi
    * request messages the HTTP surface accepts (v3 MultiFetchRequest /
    * CapabilityRequest). Iterate with `nextField`; value accessors
    * must match the wire type the tag declared.
    */
  final class Reader(buf: Array[Byte], start: Int, end: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    private var pos = start

    def hasNext: Boolean = pos < end

    def varint(): Long = {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        if (pos >= end) throw new IllegalArgumentException("truncated varint")
        b = buf(pos) & 0xff
        pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      v
    }

    /** Returns the field number and leaves the value to be consumed
      * by exactly one accessor (or `skip`).
      */
    def nextField(): (Int, Int) = {
      val key = varint()
      ((key >>> 3).toInt, (key & 7).toInt)
    }

    /** Validate an encoded length: negative (varint overflow) or
      * past-the-end lengths would otherwise move `pos` backwards (an
      * infinite parse loop on a malformed request — a DoS on the
      * same-thread HTTP server) or read outside the declared message.
      */
    private def boundedLen(): Int = {
      val len = varint()
      if (len < 0 || len > end - pos)
        throw new IllegalArgumentException(s"bad length $len at $pos")
      len.toInt
    }

    def lengthDelimited(): Reader = {
      val len = boundedLen()
      val r = new Reader(buf, pos, pos + len)
      pos += len
      r
    }

    def stringValue(): String = {
      val len = boundedLen()
      val s = new String(buf, pos, len, "UTF-8")
      pos += len
      s
    }

    def rawByte(): Int = {
      if (pos >= end) throw new IllegalArgumentException("truncated message")
      val b = buf(pos) & 0xff
      pos += 1
      b
    }

    def doubleLE(): Double = {
      var bits = 0L
      var i = 0
      while (i < 8) { bits |= (rawByte().toLong & 0xffL) << (8 * i); i += 1 }
      java.lang.Double.longBitsToDouble(bits)
    }

    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint(); ()
      case 1 => pos += 8
      case LengthDelimited =>
        // NOT `pos += boundedLen()`: Scala reads the left operand of
        // `+=` BEFORE evaluating the right side, which would discard
        // the length-varint bytes boundedLen itself consumed
        val len = boundedLen()
        pos += len
      case Fixed32 => pos += 4
      case other => throw new IllegalArgumentException(s"unsupported wire type $other")
    }
  }
}
