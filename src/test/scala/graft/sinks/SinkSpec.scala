package graft.sinks

import org.scalatest.funsuite.AnyFunSuite

/** Wire-format sinks: carbonapi v2/v3 protobuf, pickle, JSON
  * (reference render/reply encoders, `find/find.go:200-245`).
  */
class SinkSpec extends AnyFunSuite {

  private val s1 = Series("m1", "m*", "avg", 60, 180, 60, Array(1.5, Double.NaN))
  private val s2 = Series("m2", "m*", "max", 60, 180, 60, Array(2.0, 3.0))

  // -- generic protobuf reader (independent of the encoder's writer) --
  private def parseFields(b: Array[Byte]): List[(Int, Int, Either[Long, Array[Byte]])] = {
    var i = 0
    def varint(): Long = {
      var shift = 0; var v = 0L
      while ({ val x = b(i) & 0xff; i += 1; v |= (x & 0x7fL) << shift; shift += 7; (x & 0x80) != 0 }) ()
      v
    }
    val fields = List.newBuilder[(Int, Int, Either[Long, Array[Byte]])]
    while (i < b.length) {
      val key = varint()
      val field = (key >> 3).toInt
      val wt = (key & 7).toInt
      wt match {
        case 0 => fields += ((field, wt, Left(varint())))
        case 2 =>
          val len = varint().toInt
          fields += ((field, wt, Right(b.slice(i, i + len)))); i += len
        case 5 =>
          fields += ((field, wt, Right(b.slice(i, i + 4)))); i += 4
        case 1 =>
          fields += ((field, wt, Right(b.slice(i, i + 8)))); i += 8
      }
    }
    fields.result()
  }

  private def doublesLE(b: Array[Byte]): Seq[Double] =
    b.grouped(8).map { g =>
      var bits = 0L
      var i = 7
      while (i >= 0) { bits = (bits << 8) | (g(i) & 0xffL); i -= 1 }
      java.lang.Double.longBitsToDouble(bits)
    }.toSeq

  test("v3 rows encode into one array with the bytes of the per-series Buf encoding") {
    // the encoding /render sent before, one growable Buf per field group
    def perSeries(s: Series, from: Long, until: Long): Array[Byte] = {
      val b = new Wire.Buf
      b.string(1, s.name).string(2, s.pathExpression).string(3, s.function)
      b.tag(4, 0).varint(s.start).tag(5, 0).varint(s.stop).tag(6, 0).varint(s.step)
      b.tag(7, Wire.Fixed32).floatLE(0.0f).tag(8, 0).byte(0)
      b.tag(9, Wire.LengthDelimited).varint(8L * s.values.length)
      s.values.foreach(b.doubleLE)
      b.tag(11, 0).varint(from).tag(12, 0).varint(until)
      val hdr = new Wire.Buf
      hdr.tag(1, Wire.LengthDelimited).varint(b.size.toLong)
      hdr.bytes ++ b.bytes
    }
    val long = Series("ünïcode.✓", "", "", -60, 1L << 40, 1, Array.tabulate(300)(i => if (i % 7 == 0) Double.NaN else i * -1.25))
    val rows = Seq((s1, 55L, 185L), (s2, 0L, -1L), (long, 1700000000L, 1700086400L), (Series("", "", "", 0, 0, 0, Array()), 1L, 2L))
    assert(ProtobufSink.encodeV3Rows(rows).sameElements(rows.flatMap { case (s, f, u) => perSeries(s, f, u) }))
    assert(ProtobufSink.encodeV3(Seq(s1, s2), 55, 185).sameElements(perSeries(s1, 55, 185) ++ perSeries(s2, 55, 185)))
    assert(ProtobufSink.encodeV3Rows(Nil).isEmpty)
  }

  test("v3 protobuf layout") {
    val top = parseFields(ProtobufSink.encodeV3(Seq(s1, s2), 55, 185))
    assert(top.map(_._1) == List(1, 1)) // repeated metrics
    val m1 = parseFields(top.head._3.toOption.get)
    val byField = m1.groupBy(_._1)
    assert(new String(byField(1).head._3.toOption.get, "UTF-8") == "m1")
    assert(new String(byField(2).head._3.toOption.get, "UTF-8") == "m*")
    assert(new String(byField(3).head._3.toOption.get, "UTF-8") == "avg")
    assert(byField(4).head._3.left.toOption.contains(60L))
    assert(byField(5).head._3.left.toOption.contains(180L))
    assert(byField(6).head._3.left.toOption.contains(60L))
    val vals = doublesLE(byField(9).head._3.toOption.get)
    assert(vals.head == 1.5 && vals(1).isNaN) // NaN carried as-is in v3
    assert(byField(11).head._3.left.toOption.contains(55L))
    assert(byField(12).head._3.left.toOption.contains(185L))
  }

  test("v2 protobuf layout: zeros + isAbsent parallel array") {
    val top = parseFields(ProtobufSink.encodeV2(Seq(s1)))
    val m1 = parseFields(top.head._3.toOption.get)
    val byField = m1.groupBy(_._1)
    assert(new String(byField(1).head._3.toOption.get, "UTF-8") == "m1")
    val vals = doublesLE(byField(5).head._3.toOption.get)
    assert(vals == Seq(1.5, 0.0)) // NaN → 0 + isAbsent flag
    assert(byField(6).head._3.toOption.get.toSeq == Seq[Byte](0, 1))
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  // Pinned bytes. Each literal was loaded once with python3's
  // `pickle.loads(bytes.fromhex(...))` and gave the list of dicts its
  // fixture describes, keys in the reference's order.
  test("pickle: deterministic protocol-2 bytes") {
    val pins = Seq(
      "one series, an absent point" -> (Seq(s1),
        "80025d7d58040000006e616d6558020000006d3173580e000000706174684578" +
        "7072657373696f6e58020000006d2a735804000000737465704b3c7358060000" +
        "0076616c7565735d28473ff80000000000004e6573580500000073746172744b" +
        "3c735803000000656e644bb473612e"),
      // step/start/end across each integer opcode's edge: 255 | 256
      // (BININT1 | BININT2), 65535 | 65536 (BININT2 | BININT) and
      // Int.MaxValue | +1 (BININT | LONG1)
      "integer opcode edges" -> (Seq(
        Series("b", "b*", "avg", 255, 256, 65535, Array(1.0)),
        Series("c", "c*", "sum", 65536, Int.MaxValue.toLong, Int.MaxValue.toLong + 1, Array(-0.5))),
        "80025d7d58040000006e616d6558010000006273580e00000070617468457870" +
        "72657373696f6e5802000000622a735804000000737465704dffff7358060000" +
        "0076616c7565735d28473ff00000000000006573580500000073746172744bff" +
        "735803000000656e644d000173617d58040000006e616d655801000000637358" +
        "0e0000007061746845787072657373696f6e5802000000632a73580400000073" +
        "7465708a05000000800073580600000076616c7565735d2847bfe00000000000" +
        "006573580500000073746172744a00000100735803000000656e644affffff7f" +
        "73612e"),
      "only absent points" -> (Seq(Series("n", "n", "avg", 60, 0, 120, Array(Double.NaN, Double.NaN))),
        "80025d7d58040000006e616d6558010000006e73580e00000070617468457870" +
        "72657373696f6e58010000006e735804000000737465704b7873580600000076" +
        "616c7565735d284e4e6573580500000073746172744b3c735803000000656e64" +
        "4b0073612e"),
      "no values" -> (Seq(Series("e", "e*", "", 60, 0, 0, Array())),
        "80025d7d58040000006e616d6558010000006573580e00000070617468457870" +
        "72657373696f6e5802000000652a735804000000737465704b00735806000000" +
        "76616c7565735d73580500000073746172744b3c735803000000656e644b0073" +
        "612e"),
      "non-ASCII name" -> (Seq(Series("ünïcode.✓", "ü*", "avg", 60, 0, 60, Array(2.5))),
        "80025d7d58040000006e616d65580d000000c3bc6ec3af636f64652ee29c9373" +
        "580e0000007061746845787072657373696f6e5803000000c3bc2a7358040000" +
        "00737465704b3c73580600000076616c7565735d284740040000000000006573" +
        "580500000073746172744b3c735803000000656e644b0073612e"),
      "no series" -> (Nil, "80025d2e"))
    for ((name, (series, bytes)) <- pins) assert(hex(PickleSink.encode(series)) == bytes, name)
    assert(hex(PickleSink.emptyList) == "80025d2e")
  }

  test("render JSON matches the reference's hand-built shape") {
    val json = JsonSink.render(Seq(s1), 55, 185)
    assert(json ==
      """{"metrics":[{"name":"m1","pathExpression":"m*","consolidationFunc":"avg",""" +
      """"startTime":60,"stopTime":180,"stepTime":60,"xFilesFactor":0.000000,""" +
      """"values":[1.500000,null],"requestStartTime":55,"requestStopTime":185}]}""")
    assert(JsonSink.render(Nil, 0, 0) == """{"metrics":[]}""")
    // empty strings omitted, an empty value list omitted, series comma-joined
    assert(JsonSink.render(Seq(Series("", "", "", 0, 0, 60, Array()), s2), 55, 185) ==
      """{"metrics":[{"startTime":0,"stopTime":0,"stepTime":60,"xFilesFactor":0.000000,""" +
      """"requestStartTime":55,"requestStopTime":185},""" +
      """{"name":"m2","pathExpression":"m*","consolidationFunc":"max",""" +
      """"startTime":60,"stopTime":180,"stepTime":60,"xFilesFactor":0.000000,""" +
      """"values":[2.000000,3.000000],"requestStartTime":55,"requestStopTime":185}]}""")
  }

  test("find body: quirky reference format") {
    assert(JsonSink.find(Seq(("a.b", true), ("a.c", false))) ==
      "[{path=\"a.b\",leaf=1},{path=\"a.c\"}]\r\n")
    assert(JsonSink.find(Nil) == "")
    assert(JsonSink.find(Seq(("a", true), ("b", true)), resultsLimit = 1) ==
      "[{path=\"a\",leaf=1}]\r\n")
  }

  test("find pickle: loadable protocol-2 list of dicts") {
    assert(hex(FindSink.pickle(Seq(("a.b", true), ("a.c", false)))) ==
      "80025d7d580b0000006d65747269635f706174685803000000612e6273580600" +
      "000069734c6561668873617d580b0000006d65747269635f7061746858030000" +
      "00612e6373580600000069734c6561668973612e")
    assert(hex(FindSink.pickle(Seq(("ü.✓", true)))) ==
      "80025d7d580b0000006d65747269635f706174685806000000c3bc2ee29c9373" +
      "580600000069734c6561668873612e")
    assert(FindSink.pickle(Nil).toSeq == PickleSink.emptyList.toSeq)
  }

  test("find protobuf: GlobResponse layout") {
    val fields = parseFields(FindSink.protobuf("a.*", Seq(("a.b", true), ("a.c", false))))
    assert(new String(fields.head._3.toOption.get, "UTF-8") == "a.*")
    val matches = fields.filter(_._1 == 2).map(f => parseFields(f._3.toOption.get))
    assert(matches.length == 2)
    assert(new String(matches.head.head._3.toOption.get, "UTF-8") == "a.b")
    assert(matches.head(1)._3.left.toOption.contains(1L))
    assert(matches(1)(1)._3.left.toOption.contains(0L))
  }

  test("autocomplete JSON array") {
    assert(JsonSink.autocomplete(Seq("env", "host")) == """["env","host"]""")
    assert(JsonSink.autocomplete(Nil) == "[]")
  }
}
