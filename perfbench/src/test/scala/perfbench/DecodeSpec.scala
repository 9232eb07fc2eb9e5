package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{FindSink, JsonSink, PickleSink, ProtobufSink, Series}

/** The benchmark's decoders read what the engine's encoders write, and
  * the response checker rejects a corrupted response.
  */
class DecodeSpec extends AnyFunSuite {

  private val series = Seq(
    Series("a.b.c", "a.*.c", "avg", 600, 900, 60, Array(1.5, Double.NaN, -2.25, 1e6, 0.0)),
    Series("metric1;dc=dc1;host=h 2", "seriesByTag('name=metric1')", "avg", 0, 120, 60, Array(3.0, 4.0)),
    Series("empty", "empty", "avg", 60, 60, 60, Array.empty[Double]))

  private def same(got: Seq[Decode.Series], tol: Double): Unit = {
    assert(got.map(_.name) == series.map(_.name))
    got.zip(series).foreach { case (g, s) =>
      assert((g.start, g.stop, g.step) == (s.start, s.stop, s.step))
      assert(g.values.length == s.values.length)
      g.values.zip(s.values).foreach { case (x, y) =>
        assert((x.isNaN && y.isNaN) || math.abs(x - y) <= tol, s"$x vs $y")
      }
    }
  }

  test("pickle render round-trip") { same(Decode.renderPickle(PickleSink.encode(series)), 0.0) }
  test("carbonapi_v3_pb round-trip") { same(Decode.v3(ProtobufSink.encodeV3(series, 600, 900)), 0.0) }
  test("json render round-trip") { same(Decode.renderJson(JsonSink.render(series, 600, 900).getBytes("UTF-8")), 1e-6) }

  test("find pickle round-trip") {
    val rows = Seq("a.b" -> false, "a.b.c" -> true, "ü.x" -> true)
    assert(Decode.findPickle(FindSink.pickle(rows)) == rows)
    assert(Decode.findPickle(FindSink.pickle(Nil)) == Nil)
  }

  test("prometheus matrix and string arrays") {
    val body = """{"status":"success","data":{"resultType":"matrix","result":[""" +
      """{"metric":{"__name__":"m","dc":"dc1"},"values":[[60,"1.5"],[120,"2"]]}]}}"""
    assert(Decode.promMatrix(body.getBytes) == Seq(Decode.PromSeries(Map("__name__" -> "m", "dc" -> "dc1"),
      Vector(60L -> 1.5, 120L -> 2.0))))
    assert(Decode.stringArray(JsonSink.autocomplete(Seq("a", "b\"c")).getBytes) == Seq("a", "b\"c"))
  }

  test("the render check accepts the expected response and rejects corrupted ones") {
    val st = Gen.headline(1, 1, 2, 2, 120)
    val (from, until, mdp) = (st.t0, Gen.Now, 10L)
    val exp = st.series.map(s => s.path -> Gen.expect(s, st, from, until, mdp)).toMap
    val good = st.series.map { s =>
      val e = exp(s.path)
      Series(s.path, "hl.*", "avg", e.start, e.start + e.step * e.values.length, e.step, e.values.clone())
    }
    def resp(b: Array[Byte]) = Http.Resp(200, cachedFind = false, b, 0L, 0L)
    val v3 = ProtobufSink.encodeV3(good, from, until)
    assert(Check.render("carbonapi_v3_pb", exp)(resp(v3)).isEmpty)
    assert(Check.render("json", exp)(resp(JsonSink.render(good, from, until).getBytes)).isEmpty)
    assert(Check.render("pickle", exp)(resp(PickleSink.encode(good))).isEmpty)

    val wrongValue = good.map(s => s.copy(values = s.values.clone()))
    wrongValue(1).values(3) += 0.5
    assert(Check.render("pickle", exp)(resp(PickleSink.encode(wrongValue))).isDefined)
    assert(Check.render("pickle", exp)(resp(PickleSink.encode(good.tail))).isDefined)
    val flipped = v3.clone(); flipped(flipped.length / 2) = (flipped(flipped.length / 2) ^ 0x40).toByte
    assert(Check.render("carbonapi_v3_pb", exp)(resp(flipped)).isDefined)
    assert(Check.render("carbonapi_v3_pb", exp)(resp(v3.take(v3.length - 3))).isDefined)
    assert(Check.render("json", exp)(Http.Resp(500, cachedFind = false, Array.emptyByteArray, 0L, 0L)).isDefined)
  }

  test("find, autocomplete and prom checks reject wrong answers") {
    def resp(b: Array[Byte]) = Http.Resp(200, cachedFind = false, b, 0L, 0L)
    val rows = Set("a.b" -> false, "a.c" -> true)
    assert(Check.find(rows)(resp(FindSink.pickle(rows.toSeq))).isEmpty)
    assert(Check.find(rows)(resp(FindSink.pickle(Seq("a.b" -> true, "a.c" -> true)))).isDefined)
    assert(Check.strings(Seq("x", "y"))(resp(JsonSink.autocomplete(Seq("x", "y")).getBytes)).isEmpty)
    assert(Check.strings(Seq("x", "y"))(resp(JsonSink.autocomplete(Seq("y", "x")).getBytes)).isDefined)
    val m = """{"status":"success","data":{"resultType":"matrix","result":[{"metric":{"dc":"dc1"},"values":[[60,"1"]]}]}}"""
    assert(Check.prom(Set(Map("dc" -> "dc1")), 1)(resp(m.getBytes)).isEmpty)
    assert(Check.prom(Set(Map("dc" -> "dc1")), 2)(resp(m.getBytes)).isDefined)
    assert(Check.prom(Set(Map("dc" -> "dc2")), 1)(resp(m.getBytes)).isDefined)
  }
}
