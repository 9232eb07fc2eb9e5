package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.engine.FindCache
import graft.model.FeatureFlags
import graft.rollup.{AggFunc, Rules}
import graft.sinks.{FindSink, JsonSink, PickleSink, ProtobufSink, Series, Wire}
import graft.streaming.Ingest

/** Socket round-trips for every HTTP route over the `one_table`
  * fixture data: each format is requested over a real TCP connection
  * and decoded (or byte-compared against the tested sink encoders) —
  * the e2e layer the reference exercises with
  * `cmd/e2e-test/checks.go`.
  */
class HttpApiSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val rnow = 1704067200L
  private val now = Instant.ofEpochSecond(rnow + 5)

  private lazy val tablesDir: String = {
    val dir = Files.createTempDirectory("graft-http").toFile.getAbsolutePath
    import spark.implicits._
    def pts(name: String, vs: Seq[Double]): Seq[String] =
      vs.zipWithIndex.map { case (v, i) => s"$name $v ${rnow - 30 + i * 10}" }
    val lines =
      pts("test.plain1", Seq(3.0, 0.0, 1.0, 2.0)) ++
      pts("test.plain2", Seq(2.0, 1.0, 1.5, 2.5)) ++
      pts("test2.plain", Seq(1.0, 2.0, 2.5, 3.5)) ++
      pts("metric1;tag1=value1;tag2=value21;tag3=value3", Seq(2.0, 2.5, 2.0, 3.0))
    Ingest.processBatch(Ingest.parseLines(lines.toDF("value")), s"$dir/t")
    s"$dir/t"
  }

  private val rules = Rules(Nil, defaultPrecision = 10L, defaultFunction = Some(AggFunc.Avg))

  private lazy val api: HttpApi = new HttpApi(
    spark, tablesDir,
    HttpApi.Config(
      rules = rules,
      flags = FeatureFlags(),
      findCache = Some(FindCache.Config(
        defaultTimeoutSec = 300, shortTimeoutSec = 60,
        shortDurationSec = 240, findTimeoutSec = 120))),
    clock = () => now).start()

  private val client = HttpClient.newHttpClient()

  private def get(path: String): HttpResponse[Array[Byte]] =
    client.send(
      HttpRequest.newBuilder(URI.create(api.address + path)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def post(path: String, body: Array[Byte]): HttpResponse[Array[Byte]] =
    client.send(
      HttpRequest.newBuilder(URI.create(api.address + path))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray())

  test("/alive") {
    val r = get("/alive")
    assert(r.statusCode() == 200)
    assert(new String(r.body()) == "Graphite-clickhouse is alive.\n")
  }

  test("keep-alive /alive round trips: median of 20 under 10 ms (no delayed-ACK stall)") {
    // one persistent HTTP/1.1 connection; the server writes headers and
    // body separately, and with Nagle on its sockets the body waits
    // for the client's delayed ACK (~40 ms on Linux)
    val uri = URI.create(api.address)
    val sock = new java.net.Socket(uri.getHost, uri.getPort)
    try {
      sock.setTcpNoDelay(true)
      val out = sock.getOutputStream
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
      val request = "GET /alive HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes("US-ASCII")
      def roundTripMs(): Double = {
        val t = System.nanoTime()
        out.write(request); out.flush()
        val head = new StringBuilder
        while (!head.endsWith("\r\n\r\n")) head.append(in.readUnsignedByte().toChar)
        val length = head.toString.split("\r\n").collectFirst {
          case h if h.toLowerCase.startsWith("content-length:") => h.drop(15).trim.toInt
        }.get
        in.readFully(new Array[Byte](length))
        assert(head.startsWith("HTTP/1.1 200"), head)
        (System.nanoTime() - t) / 1e6
      }
      roundTripMs() // warm-up
      val ms = Seq.fill(20)(roundTripMs()).sorted
      assert((ms(9) + ms(10)) / 2 < 10.0, s"round trips (ms): ${ms.map(m => f"$m%.1f").mkString(" ")}")
    } finally sock.close()
  }

  test("/metrics/find json, pickle, protobuf agree with the sinks") {
    val rows = Seq(("test.plain1", true), ("test.plain2", true))
    val j = get("/metrics/find/?query=test.pl*&format=json")
    assert(j.statusCode() == 200)
    // the reference's (quirky, non-JSON) find body, `find/find.go:200-245`
    assert(new String(j.body()) == graft.sinks.JsonSink.find(rows))
    val p = get("/metrics/find/?query=test.pl*&format=pickle")
    assert(p.body().sameElements(FindSink.pickle(rows)))
    val pb = get("/metrics/find/?query=test.pl*&format=protobuf")
    assert(pb.body().sameElements(FindSink.protobuf("test.pl*", rows)))
  }

  test("/metrics/find repeat is served from cache with X-Cached-Find") {
    get("/metrics/find/?query=test2.*&format=pickle")
    val second = get("/metrics/find/?query=test2.*&format=pickle")
    assert(second.headers().firstValue("X-Cached-Find").orElse("") == "120")
  }

  test("/render carbonapi_v3_pb round-trip") {
    // MultiFetchRequest{metrics=[FetchRequest{name/path, start, stop}]}
    val fr = new Wire.Buf
    fr.string(1, "test.plain*")
    fr.tag(2, 0).varint(rnow - 10)
    fr.tag(3, 0).varint(rnow)
    fr.string(5, "test.plain*")
    val req = new Wire.Buf
    req.tag(1, Wire.LengthDelimited).varint(fr.size.toLong).raw(fr.bytes)

    val r = post("/render/?format=carbonapi_v3_pb", req.bytes)
    assert(r.statusCode() == 200)

    // decode: repeated FetchResponse{name=1, path=2, func=3, start=4,
    // stop=5, step=6, values=9 packed}
    var series = Map.empty[String, (String, Long, Long, Long, Seq[Double])]
    val rd = new Wire.Reader(r.body())
    while (rd.hasNext) {
      val (f, w) = rd.nextField()
      assert(f == 1 && w == Wire.LengthDelimited)
      val m = rd.lengthDelimited()
      var name = ""; var fn = ""; var start = 0L; var stop = 0L; var step = 0L
      val values = Seq.newBuilder[Double]
      while (m.hasNext) {
        val (f2, w2) = m.nextField()
        f2 match {
          case 1 => name = m.stringValue()
          case 3 => fn = m.stringValue()
          case 4 => start = m.varint()
          case 5 => stop = m.varint()
          case 6 => step = m.varint()
          case 9 =>
            val vals = m.lengthDelimited()
            while (vals.hasNext) values += vals.doubleLE()
          case _ => m.skip(w2)
        }
      }
      series += name -> ((fn, start, stop, step, values.result()))
    }
    assert(series.keySet == Set("test.plain1", "test.plain2"))
    val (fn, start, stop, step, vs) = series("test.plain1")
    assert(fn == "avg" && start == rnow - 10 && stop == rnow + 10 && step == 10)
    assert(vs == Seq(1.0, 2.0))
    assert(series("test.plain2")._5 == Seq(1.5, 2.5))
  }

  test("/render pickle and v2 protobuf succeed; tagged target renders") {
    val p = get(s"/render/?format=pickle&target=test.plain*&from=${rnow - 10}&until=$rnow")
    assert(p.statusCode() == 200 && p.body().nonEmpty)
    val v2 = get(s"/render/?format=protobuf&target=test.plain*&from=${rnow - 10}&until=$rnow")
    assert(v2.statusCode() == 200 && v2.body().nonEmpty)
    val tagged = get("/render/?format=json&target=" +
      java.net.URLEncoder.encode("seriesByTag('name=metric1', 'tag2=value21')", "UTF-8") +
      s"&from=${rnow - 10}&until=$rnow")
    assert(tagged.statusCode() == 200)
    assert(new String(tagged.body()).contains("metric1;tag1=value1;tag2=value21;tag3=value3"))
  }

  test("/render MergedCells and Raw: hand-computed series, 4 formats, plain+tagged") {
    // dedicated fixture so the shared one's expectations stay intact
    val dir = Files.createTempDirectory("graft-http-modes").toFile.getAbsolutePath
    import spark.implicits._
    def pts(name: String, vs: Seq[Double]): Seq[String] =
      vs.zipWithIndex.map { case (v, i) => s"$name $v ${rnow - 30 + i * 10}" }
    val lines =
      pts("scal.a1", Seq(3.0, 0.0, 1.0, 2.0)) ++
      pts("scal.a2", Seq(2.0, 1.0, 1.5, 2.5)) ++
      pts("scal.a3", Seq(1.0, 2.0, 2.5, 3.5)) ++
      pts("m1;dc=east;host=a", Seq(2.0, 2.5, 2.0, 3.0)) ++
      pts("m1;dc=west;host=b", Seq(1.0, 0.5, 4.0, 2.0))
    Ingest.processBatch(Ingest.parseLines(lines.toDF("value")), s"$dir/t")

    // Window [rnow-60, rnow+60] at the 10 s rule step: the grid is
    // rnow-60 … rnow+60 (13 buckets, stop = rnow+70); the four stored
    // points land on rnow-30 … rnow and every other bucket is absent.
    // Each (path, time) holds one write, so MergedCells and Raw must
    // both serve the stored values unchanged under `avg`.
    val (from, until) = (rnow - 60, rnow + 60)
    def series(name: String, target: String, vs: Double*): Series =
      Series(name, target, "avg", from, until + 10, 10,
        (Seq.fill(3)(Double.NaN) ++ vs ++ Seq.fill(6)(Double.NaN)).toArray)
    val plain = Seq(
      series("scal.a1", "scal.*", 3.0, 0.0, 1.0, 2.0),
      series("scal.a2", "scal.*", 2.0, 1.0, 1.5, 2.5),
      series("scal.a3", "scal.*", 1.0, 2.0, 2.5, 3.5))
    val taggedTarget = "seriesByTag('name=m1')"
    val tagged = Seq(
      series("m1;dc=east;host=a", taggedTarget, 2.0, 2.5, 2.0, 3.0),
      series("m1;dc=west;host=b", taggedTarget, 1.0, 0.5, 4.0, 2.0))
    val encoders: Seq[(String, Seq[Series] => Array[Byte])] = Seq(
      "json" -> (s => JsonSink.render(s, from, until).getBytes),
      "pickle" -> (s => PickleSink.encode(s)),
      "protobuf" -> (s => graft.sinks.ProtobufSink.encodeV2(s)))

    // carbonapi_v3_pb carries its request in a POST body
    val fr = new Wire.Buf
    fr.string(1, "scal.*")
    fr.tag(2, 0).varint(from)
    fr.tag(3, 0).varint(until)
    fr.string(5, "scal.*")
    val v3req = new Wire.Buf
    v3req.tag(1, Wire.LengthDelimited).varint(fr.size.toLong).raw(fr.bytes)

    for (internalAgg <- Seq(false, true)) {
      val mode = if (internalAgg) "Raw" else "MergedCells"
      val a = new HttpApi(
        spark, s"$dir/t",
        HttpApi.Config(rules = rules, flags = FeatureFlags(), internalAggregation = internalAgg),
        clock = () => now).start()
      try {
        val v3 = client.send(
          HttpRequest.newBuilder(URI.create(a.address + "/render/?format=carbonapi_v3_pb"))
            .POST(HttpRequest.BodyPublishers.ofByteArray(v3req.bytes)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
        assert(v3.statusCode() == 200, s"$mode v3")
        val got = V3Codec.decodeResponse(v3.body())
        assert(got.map(f => (f.name, f.pathExpression, f.consolidationFunc, f.start, f.stop, f.step)) ==
          plain.map(s => (s.name, s.pathExpression, s.function, s.start, s.stop, s.step)), s"$mode v3")
        assert(got.map(_.values.map(_.toString)) == plain.map(_.values.toSeq.map(_.toString)),
          s"$mode v3 values")
        assert(v3.body().sameElements(ProtobufSink.encodeV3(plain, from, until)), s"$mode v3 bytes")

        for ((fmt, encode) <- encoders; (target, want) <- Seq("scal.*" -> plain, taggedTarget -> tagged)) {
          val r = client.send(
            HttpRequest.newBuilder(URI.create(a.address +
              s"/render/?target=${java.net.URLEncoder.encode(target, "UTF-8")}" +
              s"&from=$from&until=$until&format=$fmt")).GET().build(),
            HttpResponse.BodyHandlers.ofByteArray())
          assert(r.statusCode() == 200, s"$mode $fmt $target")
          assert(r.body().sameElements(encode(want)),
            s"$mode $fmt $target:\n got=${new String(r.body()).take(400)}\n" +
              s" want=${new String(encode(want)).take(400)}")
        }
      } finally a.stop()
    }
  }

  test("/render bad format and bad window are request errors") {
    assert(get(s"/render/?format=bogus&target=a&from=1&until=2").statusCode() == 400)
    assert(get(s"/render/?format=json&target=a&from=10&until=10").statusCode() == 400)
  }

  test("/render window with no step-aligned bucket: 200 and no series, with or without append") {
    // (rnow+1, rnow+9) holds no 10 s bucket: every grid is empty
    val path = s"/render/?format=json&target=test.plain*&from=${rnow + 1}&until=${rnow + 9}"
    val appending = new HttpApi(spark, tablesDir,
      HttpApi.Config(rules = rules, appendEmptySeries = true), clock = () => now).start()
    try {
      for (base <- Seq(api.address, appending.address)) {
        val r = client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200, r.body())
        assert(r.body() == JsonSink.render(Nil, rnow + 1, rnow + 9))
      }
    } finally appending.stop()
  }

  test("/tags/autoComplete/values and /tags") {
    val vals = get("/tags/autoComplete/values?tag=tag2&expr=" +
      java.net.URLEncoder.encode("tag1=value1", "UTF-8"))
    assert(new String(vals.body()) == """["value21"]""")
    val names = get("/tags/autoComplete/tags")
    val parsed = new String(names.body())
    assert(parsed.contains("\"tag1\"") && parsed.contains("\"name\"") &&
      !parsed.contains("__name__"))
  }

  test("/metrics/index.json lists plain and tagged series") {
    val r = get("/metrics/index.json")
    val body = new String(r.body())
    assert(body.startsWith("[") && body.endsWith("]"))
    assert(body.contains("\"test.plain1\"") && body.contains("\"test2.plain\""))
    assert(body.contains("metric1?tag1=value1"))
    assert(!body.contains("\"test.\"")) // no ancestor rows
  }

  test("/_internal/capabilities protobuf") {
    val r = post("/_internal/capabilities/?format=carbonapi_v3_pb", Array.emptyByteArray)
    assert(r.statusCode() == 200)
    val rd = new Wire.Reader(r.body())
    val protos = Seq.newBuilder[String]
    while (rd.hasNext) {
      val (f, w) = rd.nextField()
      if (f == 1 && w == Wire.LengthDelimited) protos += rd.stringValue()
      else rd.skip(w)
    }
    assert(protos.result().contains("carbonapi_v3_pb"))
  }

  test("prometheus label API: names, values, series") {
    val names = new String(get("/api/v1/labels").body())
    assert(names == """{"status":"success","data":["__name__","tag1","tag2","tag3"]}""")
    val values = new String(get("/api/v1/label/tag2/values").body())
    assert(values == """{"status":"success","data":["value21"]}""")
    val sel = java.net.URLEncoder.encode("""metric1{tag1="value1"}""", "UTF-8")
    val series = new String(get(s"/api/v1/series?match[]=$sel").body())
    assert(series ==
      """{"status":"success","data":[{"__name__":"metric1","tag1":"value1","tag2":"value21","tag3":"value3"}]}""")
    // missing match[] is a prometheus API error
    assert(get("/api/v1/series").statusCode() == 400)
    // bad selector is a request error
    assert(get("/api/v1/series?match[]=%7Bunclosed").statusCode() == 400)
  }

  test("Grafana bootstrap: buildinfo and metadata are parseable success envelopes") {
    // Grafana's Prometheus datasource probes these two before any
    // query; both must be status=success JSON it can destructure
    val bi = get("/api/v1/status/buildinfo")
    assert(bi.statusCode() == 200)
    assert(bi.headers().firstValue("Content-Type").orElse("") == "application/json")
    val biBody = new String(bi.body())
    // a version string Grafana's semver feature-detection can parse
    assert(biBody.startsWith("""{"status":"success","data":{"""))
    assert("""\"version\":\"\d+\.\d+\.\d+\"""".r.findFirstIn(biBody).isDefined, biBody)

    val md = get("/api/v1/metadata")
    assert(md.statusCode() == 200)
    // scrape-less engine: the metadata map is empty, like the
    // reference's embedded Prometheus web with no scrape manager data
    assert(new String(md.body()) == """{"status":"success","data":{}}""")

    // the rule/alert/exemplar routes Grafana's alerting UI probes:
    // empty success envelopes, like the reference's managers-without-
    // content embedded web
    assert(new String(get("/api/v1/rules").body()) ==
      """{"status":"success","data":{"groups":[]}}""")
    assert(new String(get("/api/v1/alerts").body()) ==
      """{"status":"success","data":{"alerts":[]}}""")
    assert(new String(get("/api/v1/query_exemplars").body()) ==
      """{"status":"success","data":[]}""")
  }

  test("Grafana datasource init sequence: buildinfo -> labels -> query_range") {
    // the exact call order the datasource makes on dashboard load
    assert(get("/api/v1/status/buildinfo").statusCode() == 200)
    val labels = new String(get("/api/v1/labels").body())
    assert(labels.contains("\"tag1\""), labels)
    val enc = java.net.URLEncoder.encode("""metric1{tag1="value1"}""", "UTF-8")
    val qr = get(s"/api/v1/query_range?query=$enc&start=${rnow - 30}&end=$rnow&step=10")
    assert(qr.statusCode() == 200)
    assert(new String(qr.body()).contains(""""resultType":"matrix""""))
  }

  test("/api/v1/query_range: selector, avg_over_time, rate") {
    // metric1 samples: 2.0, 2.5, 2.0, 3.0 at rnow-30 … rnow step 10
    def qr(query: String, start: Long, end: Long, step: Long): String = {
      val enc = java.net.URLEncoder.encode(query, "UTF-8")
      val r = get(s"/api/v1/query_range?query=$enc&start=$start&end=$end&step=$step")
      assert(r.statusCode() == 200, new String(r.body()))
      new String(r.body())
    }
    // instant selector: latest sample at each grid point
    assert(qr("""metric1{tag1="value1"}""", rnow - 30, rnow, 10) ==
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
      """{"metric":{"__name__":"metric1","tag1":"value1","tag2":"value21","tag3":"value3"},""" +
      s""""values":[[${rnow - 30},"2"],[${rnow - 20},"2.5"],[${rnow - 10},"2"],[$rnow,"3"]]}]}}""")
    // staleness: a grid point past the last sample (within 5m lookback)
    // repeats the last value
    assert(qr("metric1", rnow + 60, rnow + 60, 60).contains(s"""[[${rnow + 60},"3"]]"""))
    // avg_over_time over a 20s window
    assert(qr("avg_over_time(metric1[20s])", rnow - 30, rnow, 10).contains(
      s""""values":[[${rnow - 30},"2"],[${rnow - 20},"2.25"],[${rnow - 10},"2.25"],[$rnow,"2.5"]]"""))
    // rate with one counter reset: (3.0 - 2.5 + 2.5) / 20s = 0.15
    assert(qr("rate(metric1[30s])", rnow, rnow, 30).contains(
      s""""values":[[$rnow,"0.15"]]"""))
    // aggregation: __name__ is dropped, only the by-labels survive
    assert(qr("sum by (tag2) (metric1)", rnow, rnow, 30) ==
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
      s"""{"metric":{"tag2":"value21"},"values":[[$rnow,"3"]]}]}}""")
    // empty by → everything collapses onto the empty label set
    assert(qr("sum(metric1)", rnow, rnow, 30).contains(""""metric":{},"""))
    // group: presence marker, value pinned to 1
    assert(qr("group by (tag2) (metric1)", rnow, rnow, 30) ==
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
      s"""{"metric":{"tag2":"value21"},"values":[[$rnow,"1"]]}]}}""")
    // bad query → Prometheus error envelope
    val bad = get("/api/v1/query_range?query=rate(m)&start=0&end=1&step=1")
    assert(bad.statusCode() == 400)
    assert(new String(bad.body()).startsWith("""{"status":"error""""))
  }

  test("/graph: built-in query browser page serves against the API surface") {
    val r = get("/graph")
    assert(r.statusCode() == 200)
    val headers = r.headers().firstValue("Content-Type").orElse("")
    assert(headers.startsWith("text/html"), headers)
    val body = new String(r.body(), "UTF-8")
    assert(body.contains("PromQL browser") && body.contains("/api/v1/query_range"))
    // stored-XSS pin: API-derived strings (label names/values, last
    // values) must reach the DOM through textContent only — the sole
    // innerHTML use is the constant-string clear of the output div
    assert(!body.replace("out.innerHTML=''", "").contains("innerHTML"), body)
    assert(body.contains("textContent"))
  }

  test("/api/v1/query_range: plain-from-tagged escape hatch routes to the plain index") {
    def qr(query: String): String = {
      val enc = java.net.URLEncoder.encode(query, "UTF-8")
      val r = get(s"/api/v1/query_range?query=$enc&start=$rnow&end=$rnow&step=30")
      assert(r.statusCode() == 200, new String(r.body()))
      new String(r.body())
    }
    // graphite{target="test.*"}: the glob resolves through the PLAIN
    // index (test.plain1/test.plain2 — dotted legacy metrics no tagged
    // matcher could reach), node1 names segment 1, and each series
    // carries the full path as the `metric` label
    val body = qr("""graphite{target="test.*", node1="leaf"}""")
    assert(body.contains(
      s"""{"metric":{"__name__":"graphite","leaf":"plain1","metric":"test.plain1"},"values":[[$rnow,"2"]]}"""),
      body)
    assert(body.contains(
      s"""{"metric":{"__name__":"graphite","leaf":"plain2","metric":"test.plain2"},"values":[[$rnow,"2.5"]]}"""),
      body)
    // rename swaps the synthetic metric name
    val renamed = qr("""graphite{target="test2.plain", rename="legacy"}""")
    assert(renamed.contains(
      s"""{"metric":{"__name__":"legacy","metric":"test2.plain"},"values":[[$rnow,"3.5"]]}"""),
      renamed)
    // no target → NOT the escape hatch: plain paths stay unreachable
    // through the tagged matcher machinery
    assert(qr("""graphite{node1="leaf"}""").contains(""""result":[]"""))
  }

  test("/api/v1/query_range: round-7 operators over HTTP") {
    def qr(query: String): String = {
      val enc = java.net.URLEncoder.encode(query, "UTF-8")
      val r = get(s"/api/v1/query_range?query=$enc&start=$rnow&end=$rnow&step=30")
      assert(r.statusCode() == 200, new String(r.body()))
      new String(r.body())
    }
    // metric1 latest = 3.0; filter-mode comparison keeps it
    assert(qr("metric1 > 2.5").contains(s"""[[$rnow,"3"]]"""))
    // bool mode emits 1 with the name dropped
    assert(qr("metric1 > bool 2.5").contains(""""metric":{"tag1":"value1""""))
    // set op: self unless self > 10 keeps the series (3 ≤ 10)
    assert(qr("metric1 unless (metric1 > 10)").contains(s"""[[$rnow,"3"]]"""))
    // scalar math drops the name, keeps labels
    val clamped = qr("clamp(metric1, 0, 2)")
    assert(clamped.contains(""""metric":{"tag1":"value1"""") &&
      clamped.contains(s"""[[$rnow,"2"]]"""))
    // group_left self-division = 1
    assert(qr("metric1 / on(tag2) group_left sum by (tag2) (metric1)")
      .contains(s"""[[$rnow,"1"]]"""))
    // subquery: min of the last-30s instant evals at 10s resolution
    assert(qr("min_over_time(metric1[30s:10s])").contains(s"""[[$rnow,"2"]]"""))
    // label_replace adds a derived label through the endpoint
    assert(qr("""label_replace(metric1, "t", "$1", "tag2", "value(.*)")""")
      .contains(""""t":"21""""))
    // changes over the sample window: 2.0, 2.5, 2.0, 3.0 → 3 changes
    assert(qr("changes(metric1[40s])").contains(s"""[[$rnow,"3"]]"""))
    // absent of a missing metric returns the matcher labels
    assert(qr("""absent(nosuch{job="x"})""").contains(""""job":"x""""))
    // histogram_quantile over constructed le series is exercised in
    // PromQLEvalSpec; an unknown function is still a clean 400
    assert(get(s"/api/v1/query_range?query=nope(metric1)&start=$rnow&end=$rnow&step=30")
      .statusCode() == 400)
  }

  test("/api/v1/query: instant vector at an explicit and the default time") {
    def qi(params: String): String = {
      val r = get(s"/api/v1/query?$params")
      assert(r.statusCode() == 200, new String(r.body()))
      new String(r.body())
    }
    val enc = java.net.URLEncoder.encode("""metric1{tag1="value1"}""", "UTF-8")
    // explicit time: latest sample within lookback, vector envelope
    assert(qi(s"query=$enc&time=$rnow") ==
      """{"status":"success","data":{"resultType":"vector","result":[""" +
      """{"metric":{"__name__":"metric1","tag1":"value1","tag2":"value21","tag3":"value3"},""" +
      s""""value":[$rnow,"3"]}]}}""")
    // default time = server clock (the spec's fixed clock is rnow+5)
    assert(qi(s"query=$enc").contains(s""""value":[${rnow + 5},"3"]"""))
    // aggregation drops __name__, same as query_range
    val aggEnc = java.net.URLEncoder.encode("sum by (tag2) (metric1)", "UTF-8")
    assert(qi(s"query=$aggEnc&time=$rnow") ==
      """{"status":"success","data":{"resultType":"vector","result":[""" +
      s"""{"metric":{"tag2":"value21"},"value":[$rnow,"3"]}]}}""")
    // vector-scalar arithmetic: name dropped, labels kept
    val mulEnc = java.net.URLEncoder.encode("""metric1{tag1="value1"} * 2""", "UTF-8")
    assert(qi(s"query=$mulEnc&time=$rnow") ==
      """{"status":"success","data":{"resultType":"vector","result":[""" +
      """{"metric":{"tag1":"value1","tag2":"value21","tag3":"value3"},""" +
      s""""value":[$rnow,"6"]}]}}""")
    // bad query → Prometheus error envelope
    val bad = get(s"/api/v1/query?query=rate(m)&time=$rnow")
    assert(bad.statusCode() == 400)
    assert(new String(bad.body()).startsWith("""{"status":"error""""))
    // sort_desc orders the instant vector by value: the summed series
    // (3) before the vector(0) fallback
    val sortEnc = java.net.URLEncoder.encode(
      "sort_desc(sum by (tag2) (metric1) or vector(0))", "UTF-8")
    val sorted = qi(s"query=$sortEnc&time=$rnow")
    val at3 = sorted.indexOf(s""""value":[$rnow,"3"]""")
    val at0 = sorted.indexOf(s""""value":[$rnow,"0"]""")
    assert(at3 >= 0 && at0 > at3, sorted)
    // sort_by_label: missing label sorts FIRST ascending (the vector()
    // fallback has no tag2), so desc puts the labeled series first
    val sblEnc = java.net.URLEncoder.encode(
      """sort_by_label_desc(sum by (tag2) (metric1) or vector(0), "tag2")""",
      "UTF-8")
    val byLabel = qi(s"query=$sblEnc&time=$rnow")
    val lat3 = byLabel.indexOf(s""""value":[$rnow,"3"]""")
    val lat0 = byLabel.indexOf(s""""value":[$rnow,"0"]""")
    assert(lat3 >= 0 && lat0 > lat3, byLabel)
    val sblAsc = java.net.URLEncoder.encode(
      """sort_by_label(sum by (tag2) (metric1) or vector(0), "tag2")""",
      "UTF-8")
    val byLabelAsc = qi(s"query=$sblAsc&time=$rnow")
    assert(byLabelAsc.indexOf(s""""value":[$rnow,"0"]""") <
      byLabelAsc.indexOf(s""""value":[$rnow,"3"]"""), byLabelAsc)
  }

  test("limiter saturation surfaces as 503; per-user override applies") {
    import graft.engine.Limiter
    // queue cap 1 + concurrency 1: while the slot is held, further
    // requests overflow IMMEDIATELY (no queueing) → 503 with the
    // reference's wording (`limiter/interface.go:11`, clickhouse.go:105)
    val renderLim = Limiter(maxQueries = 1, concurrent = 1)
    val aliceLim = Limiter(maxQueries = 1, concurrent = 1)
    val limited = new HttpApi(
      spark, tablesDir,
      HttpApi.Config(rules = rules,
        limits = HttpApi.Limits(
          render = renderLim,
          user = Map("alice" -> aliceLim),
          waitMs = 100L)),
      clock = () => now).start()
    try {
      def render(user: Option[String]): HttpResponse[Array[Byte]] = {
        val b = HttpRequest.newBuilder(URI.create(
          limited.address + s"/render/?target=test.plain1&from=${rnow - 60}&until=$rnow&format=json"))
        user.foreach(u => b.header("X-Forwarded-User", u))
        client.send(b.GET().build(), HttpResponse.BodyHandlers.ofByteArray())
      }
      assert(render(None).statusCode() == 200)
      renderLim.enter(100) // saturate the global render limiter
      try {
        val refused = render(None)
        assert(refused.statusCode() == 503)
        assert(new String(refused.body()).trim == Limiter.OverflowMessage)
        // alice has her own limiter: unaffected by the global one
        assert(render(Some("alice")).statusCode() == 200)
        aliceLim.enter(100)
        try {
          val auser = render(Some("alice"))
          assert(auser.statusCode() == 503)
          assert(new String(auser.body()).trim == Limiter.OverflowMessage)
        } finally aliceLim.leave()
      } finally renderLim.leave()
      // released: admitted again
      assert(render(None).statusCode() == 200)
    } finally limited.stop()
  }

  test("/health probes storage: 200 on a live table set, 503 on a dead one") {
    val ok = get("/health")
    assert(ok.statusCode() == 200)
    assert(new String(ok.body()) == "Graphite-clickhouse is alive.\n")
    // an api bound to a nonexistent tables dir must FAIL the probe —
    // the reference's healthcheck runs a real index query
    // (`healthcheck/healthcheck.go:36-50`), not a static Ok
    val deadApi = new HttpApi(
      spark, "/nonexistent/graft-tables",
      HttpApi.Config(rules = rules, flags = FeatureFlags()),
      clock = () => now).start()
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(deadApi.address + "/health")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 503)
      assert(new String(r.body()).contains("healthcheck failed"))
    } finally deadApi.stop()
  }

  test("/debug/config dumps the active config as JSON") {
    val r = get("/debug/config")
    assert(r.statusCode() == 200)
    val body = new String(r.body())
    assert(body.contains("\"tablesDir\""))
    assert(body.contains("\"wildcardMinDistance\""))
    assert(body.contains("\"limits\""))
    // it's the ACTIVE config, not a template: the spec's find cache
    assert(body.contains("\"findCache\""))
  }

  test("/api/v1/read: snappy protobuf remote-read round-trip") {
    // ReadRequest{queries=1}; Query{start_ms=1, end_ms=2, matchers=3};
    // LabelMatcher{type=1 (0=EQ), name=2, value=3}
    def matcher(typ: Long, name: String, value: String): Wire.Buf = {
      val b = new Wire.Buf
      b.tag(1, 0).varint(typ)
      b.string(2, name).string(3, value)
      b
    }
    val q = new Wire.Buf
    q.tag(1, 0).varint((rnow - 30) * 1000L)
    q.tag(2, 0).varint(rnow * 1000L)
    Seq(matcher(0, "__name__", "metric1"), matcher(0, "tag1", "value1")).foreach { m =>
      q.tag(3, Wire.LengthDelimited).varint(m.size.toLong).raw(m.bytes)
    }
    val req = new Wire.Buf
    req.tag(1, Wire.LengthDelimited).varint(q.size.toLong).raw(q.bytes)

    val r = post("/api/v1/read", org.xerial.snappy.Snappy.compress(req.bytes))
    assert(r.statusCode() == 200, new String(r.body()))
    assert(r.headers().firstValue("Content-Encoding").orElse("") == "snappy")
    val body = org.xerial.snappy.Snappy.uncompress(r.body())

    // ReadResponse{results=1}; QueryResult{timeseries=1};
    // TimeSeries{labels=1, samples=2}; Label{name=1, value=2};
    // Sample{value=1 fixed64, timestamp_ms=2}
    val rd = new Wire.Reader(body)
    var labels = Seq.empty[(String, String)]
    var samples = Seq.empty[(Long, Double)]
    var nSeries = 0
    while (rd.hasNext) {
      val (f, w) = rd.nextField()
      assert(f == 1 && w == Wire.LengthDelimited)
      val qr = rd.lengthDelimited()
      while (qr.hasNext) {
        val (f2, w2) = qr.nextField()
        if (f2 == 1 && w2 == Wire.LengthDelimited) {
          nSeries += 1
          val ts = qr.lengthDelimited()
          while (ts.hasNext) {
            val (f3, w3) = ts.nextField()
            f3 match {
              case 1 =>
                val lb = ts.lengthDelimited()
                var n = ""; var v = ""
                while (lb.hasNext) {
                  val (f4, w4) = lb.nextField()
                  f4 match {
                    case 1 => n = lb.stringValue()
                    case 2 => v = lb.stringValue()
                    case _ => lb.skip(w4)
                  }
                }
                labels :+= ((n, v))
              case 2 =>
                val sb = ts.lengthDelimited()
                var value = 0.0; var tms = 0L
                while (sb.hasNext) {
                  val (f4, w4) = sb.nextField()
                  f4 match {
                    case 1 => value = sb.doubleLE()
                    case 2 => tms = sb.varint()
                    case _ => sb.skip(w4)
                  }
                }
                samples :+= ((tms, value))
              case _ => ts.skip(w3)
            }
          }
        } else qr.skip(w2)
      }
    }
    assert(nSeries == 1)
    assert(labels == Seq(
      "__name__" -> "metric1", "tag1" -> "value1",
      "tag2" -> "value21", "tag3" -> "value3"))
    // raw source samples at ms resolution, version-deduped, time-windowed
    assert(samples == Seq(
      (rnow - 30) * 1000L -> 2.0, (rnow - 20) * 1000L -> 2.5,
      (rnow - 10) * 1000L -> 2.0, rnow * 1000L -> 3.0))
  }

  test("unknown route is 404") {
    assert(get("/nope").statusCode() == 404)
  }

  test("serving session re-derives the shuffle ceiling as the store grows") {
    import spark.implicits._
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val before = spark.conf.getOption(key)
    val dir = Files.createTempDirectory("graft-retune-http").toFile.getAbsolutePath
    val store = s"$dir/t"
    val srv = new HttpApi(spark, store, HttpApi.Config(rules = rules)).start()
    def g(path: String) = client.send(
      HttpRequest.newBuilder(URI.create(srv.address + path)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    def commit(lines: Seq[String]): Unit =
      Ingest.processBatch(Ingest.parseLines(lines.toDF("value")), store)
    try {
      commit(Seq(s"test.retune 1.0 $rnow"))
      val cpus = spark.sparkContext.defaultParallelism
      // boot: tiny store floors at the session parallelism
      assert(g("/alive").statusCode() == 200)
      assert(spark.conf.get(key).toInt == cpus)

      // ingest grows the store well past the floor (the rule is one
      // partition per MB of the store's bytes): long random names, so
      // each point carries ~10 KB that parquet cannot compress away
      val rnd = new scala.util.Random(7)
      commit((1 to 600).map(i =>
        s"pad$i${rnd.alphanumeric.take(10000).mkString} 1.0 $rnow"))
      val padMb = (graft.engine.StoreSnapshot.open(spark, store).bytes >> 20).toInt
      assert(padMb > cpus + 8, s"$padMb MB")
      // the first request after the commit sees the new snapshot
      // version and raises the ceiling without a server restart
      assert(g("/alive").statusCode() == 200)
      assert(spark.conf.get(key).toInt == padMb)

      // re-applied only on a changed count — a manual session override
      // survives a request with no new commit ...
      spark.conf.set(key, "777")
      assert(g("/alive").statusCode() == 200)
      assert(spark.conf.get(key) == "777")
      // ... and a commit whose derived count is unchanged, seen by the
      // next request (it renders the commit's point)
      commit(Seq(s"test.retune 2.0 ${rnow + 10}"))
      val bytes = graft.engine.StoreSnapshot.open(spark, store).bytes
      assert(graft.Tuning.initialShufflePartitions(bytes, cpus) == padMb)
      val r = g(s"/render/?format=json&target=test.retune&from=$rnow&until=${rnow + 10}")
      assert(r.statusCode() == 200)
      assert(new String(r.body()) == JsonSink.render(Seq(Series("test.retune", "test.retune",
        "avg", rnow, rnow + 20, 10, Array(1.0, 2.0))), rnow, rnow + 10))
      assert(spark.conf.get(key) == "777")
    } finally {
      srv.stop()
      before.foreach(v => spark.conf.set(key, v))
    }
  }
}
