package graft.sinks

import java.io.ByteArrayOutputStream

import java.nio.charset.StandardCharsets.UTF_8

import Wire.{Buf, Fixed32, LengthDelimited, varintSize}

/** carbonapi protobuf sinks (S6/S7) — byte-for-byte the reference's
  * hand-rolled encoders (`render/reply/v2_pb.go:55-120`,
  * `render/reply/v3_pb.go:90-173`); no protobuf library needed, the
  * messages are flat.
  */
object ProtobufSink {

  /** carbonapi_v2_pb FetchResponse: name=1, startTime=2, stopTime=3,
    * stepTime=4, values=5 (packed double), isAbsent=6 (packed bool);
    * wrapped as repeated metrics=1 of MultiFetchResponse.
    */
  def encodeV2(series: Seq[Series]): Array[Byte] = {
    val out = new ByteArrayOutputStream(65536)
    series.foreach { s =>
      val b1 = new Buf
      b1.string(1, s.name)
      b1.tag(2, 0).varint(s.start)
      b1.tag(3, 0).varint(s.stop)
      b1.tag(4, 0).varint(s.step)
      b1.tag(5, LengthDelimited).varint(8L * s.values.length)
      val b2 = new Buf
      b2.tag(6, LengthDelimited).varint(s.values.length.toLong)
      s.values.foreach { v =>
        if (v.isNaN) { b1.doubleLE(0.0); b2.byte(1) }
        else { b1.doubleLE(v); b2.byte(0) }
      }
      val hdr = new Buf
      hdr.tag(1, LengthDelimited).varint((b1.size + b2.size).toLong)
      out.write(hdr.bytes); out.write(b1.bytes); out.write(b2.bytes)
    }
    out.toByteArray
  }

  /** carbonapi_v3_pb FetchResponse: name=1, pathExpression=2,
    * consolidationFunc=3, startTime=4, stopTime=5, stepTime=6,
    * xFilesFactor=7 (float), highPrecisionTimestamps=8 (bool),
    * values=9 (packed double, NaN carried as-is), requestStartTime=11,
    * requestStopTime=12; wrapped as repeated metrics=1.
    */
  def encodeV3(series: Seq[Series], requestFrom: Long, requestUntil: Long): Array[Byte] =
    encodeV3Rows(series.map(s => (s, requestFrom, requestUntil)))

  /** [[encodeV3]] of rows that each carry their own request window
    * (a render of several windows), into one array sized up front.
    */
  def encodeV3Rows(rows: Seq[(Series, Long, Long)]): Array[Byte] = {
    val utf8 = rows.map { case (s, _, _) =>
      (s.name.getBytes(UTF_8), s.pathExpression.getBytes(UTF_8), s.function.getBytes(UTF_8))
    }
    def str(b: Array[Byte]): Int = 1 + varintSize(b.length.toLong) + b.length
    val sizes = rows.zip(utf8).map { case ((s, from, until), (n, p, f)) =>
      str(n) + str(p) + str(f) +
        3 + varintSize(s.start) + varintSize(s.stop) + varintSize(s.step) +
        5 + 2 +
        1 + varintSize(8L * s.values.length) + 8 * s.values.length +
        2 + varintSize(from) + varintSize(until)
    }
    val total = sizes.map(n => 1 + varintSize(n.toLong) + n).sum
    val out = new Buf(total)
    rows.lazyZip(utf8).lazyZip(sizes).foreach { case ((s, from, until), (n, p, f), size) =>
      out.tag(1, LengthDelimited).varint(size.toLong)
      out.string(1, n).string(2, p).string(3, f)
      out.tag(4, 0).varint(s.start)
      out.tag(5, 0).varint(s.stop)
      out.tag(6, 0).varint(s.step)
      out.tag(7, Fixed32).floatLE(0.0f)
      out.tag(8, 0).byte(0)
      out.tag(9, LengthDelimited).varint(8L * s.values.length)
      var i = 0
      while (i < s.values.length) { out.doubleLE(s.values(i)); i += 1 }
      out.tag(11, 0).varint(from)
      out.tag(12, 0).varint(until)
    }
    assert(out.size == total)
    out.bytes
  }
}
