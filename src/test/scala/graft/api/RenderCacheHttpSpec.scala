package graft.api

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.engine.FindCache
import graft.metrics.Telemetry
import graft.rollup.{AggFunc, Rules}
import graft.sinks.{JsonSink, PickleSink, ProtobufSink, Series, Wire}
import graft.streaming.Ingest

/** The server's rolled-row cache over real sockets, with hand-written
  * series: a hit is byte-identical to the same render with
  * `noCache=1` in every format, a committed micro-batch is visible to
  * the next render, and concurrent identical renders all get the right
  * bytes. Hits and misses are read off the `render_cache_*` counters.
  */
class RenderCacheHttpSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val rnow = 1704067200L
  private val (from, until) = (rnow - 30, rnow)
  private val rules = Rules(Nil, defaultPrecision = 10L, defaultFunction = Some(AggFunc.Avg))
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** A fresh store: rc.a has values, rc.nan only stored NaNs, rc.gone
    * is found but has no point in the window; two tagged series, one
    * of them stored NaN.
    */
  private def store(): String = {
    val dir = Files.createTempDirectory("graft-render-cache-http").toFile.getAbsolutePath + "/t"
    import spark.implicits._
    val lines = Seq(
      s"rc.a 1 ${rnow - 30}", s"rc.a 2 ${rnow - 20}", s"rc.a 3 ${rnow - 10}",
      s"rc.nan NaN ${rnow - 20}", s"rc.nan NaN ${rnow - 10}",
      s"rc.gone 9 ${rnow - 600}",
      s"rcm;host=a 2 ${rnow - 30}", s"rcm;host=a 5 $rnow",
      s"rcm;host=b NaN ${rnow - 30}")
    Ingest.processBatch(Ingest.parseLines(lines.toDF("value")), dir)
    dir
  }

  private def serve(dir: String): HttpApi = new HttpApi(
    spark, dir,
    HttpApi.Config(
      rules = rules,
      appendEmptySeries = true,
      findCache = Some(FindCache.Config(defaultTimeoutSec = 300)),
      metrics = Some(Telemetry.MetricsConfig(
        metricEndpoint = "127.0.0.1:1", // the flusher never fires in-test
        metricIntervalSec = 3600))),
    clock = () => Instant.ofEpochSecond(rnow + 5)).start()

  private def counter(api: HttpApi, name: String): Long =
    api.telemetry.get.registry.get(name).get.asInstanceOf[Telemetry.Counter].count

  // the grid rnow-30 … rnow at the 10 s rule step: 4 buckets
  private def series(name: String, target: String, fn: String, vs: Double*): Series =
    Series(name, target, fn, from, until + 10, 10, vs.toArray)
  private val nan = Double.NaN
  private val plainTarget = "rc.*"
  private val plain = Seq(
    series("rc.a", plainTarget, "avg", 1, 2, 3, nan),
    // appended-empty: the only series named `any`
    series("rc.gone", plainTarget, "any", nan, nan, nan, nan),
    // stored NaNs are points: the rule function stays
    series("rc.nan", plainTarget, "avg", nan, nan, nan, nan))
  private val taggedTarget = "seriesByTag('name=rcm')"
  private val tagged = Seq(
    series("rcm;host=a", taggedTarget, "avg", 2, nan, nan, 5),
    series("rcm;host=b", taggedTarget, "avg", nan, nan, nan, nan))

  private def get(api: HttpApi, query: String): HttpResponse[Array[Byte]] =
    client.send(HttpRequest.newBuilder(URI.create(api.address + "/render/?" + query)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def renderQuery(target: String, fmt: String, noCache: Boolean = false): String =
    s"target=${URLEncoder.encode(target, "UTF-8")}&from=$from&until=$until&format=$fmt" +
      (if (noCache) "&noCache=1" else "")

  private def v3(api: HttpApi, target: String, noCache: Boolean): HttpResponse[Array[Byte]] = {
    val fr = new Wire.Buf
    fr.string(1, target)
    fr.tag(2, 0).varint(from)
    fr.tag(3, 0).varint(until)
    fr.string(5, target)
    val req = new Wire.Buf
    req.tag(1, Wire.LengthDelimited).varint(fr.size.toLong).raw(fr.bytes)
    client.send(
      HttpRequest.newBuilder(URI.create(api.address + "/render/?format=carbonapi_v3_pb" +
        (if (noCache) "&noCache=1" else "")))
        .POST(HttpRequest.BodyPublishers.ofByteArray(req.bytes)).build(),
      HttpResponse.BodyHandlers.ofByteArray())
  }

  private val encoders: Seq[(String, Seq[Series] => Array[Byte])] = Seq(
    "json" -> (s => JsonSink.render(s, from, until).getBytes),
    "pickle" -> (s => PickleSink.encode(s)),
    "protobuf" -> (s => ProtobufSink.encodeV2(s)),
    "carbonapi_v3_pb" -> (s => ProtobufSink.encodeV3(s, from, until)))

  private def fetch(api: HttpApi, target: String, fmt: String, noCache: Boolean): Array[Byte] = {
    val r =
      if (fmt == "carbonapi_v3_pb") v3(api, target, noCache)
      else get(api, renderQuery(target, fmt, noCache))
    assert(r.statusCode() == 200, s"$fmt $target: ${new String(r.body()).take(300)}")
    r.body()
  }

  private def show(b: Array[Byte]): String = new String(b).take(400)

  test("a cache hit is byte-identical to noCache=1 and to the hand-written series, every format") {
    val api = serve(store())
    try {
      for ((fmt, encode) <- encoders; (target, want) <- Seq(plainTarget -> plain, taggedTarget -> tagged)) {
        val expected = encode(want)
        val (hits0, misses0) = (counter(api, "render_cache_hits"), counter(api, "render_cache_misses"))
        val first = fetch(api, target, fmt, noCache = false)
        val hit = fetch(api, target, fmt, noCache = false)
        // one planned group per render; the first render of a target
        // misses, every later one (any format) hits
        val firstOfTarget = fmt == "json"
        assert(counter(api, "render_cache_misses") == misses0 + (if (firstOfTarget) 1 else 0), s"$fmt $target")
        assert(counter(api, "render_cache_hits") == hits0 + (if (firstOfTarget) 1 else 2), s"$fmt $target")
        val uncached = fetch(api, target, fmt, noCache = true)
        assert(counter(api, "render_cache_hits") == hits0 + (if (firstOfTarget) 1 else 2),
          s"$fmt $target: noCache must not look up")
        for ((label, got) <- Seq("first" -> first, "hit" -> hit, "noCache" -> uncached))
          assert(got.sameElements(expected), s"$fmt $target $label:\n got=${show(got)}\n want=${show(expected)}")
      }
    } finally api.stop()
  }

  test("a committed point in the window is served by the next render") {
    val dir = store()
    val api = serve(dir)
    try {
      val q = renderQuery(plainTarget, "json")
      val before = JsonSink.render(plain, from, until)
      assert(new String(get(api, q).body()) == before)
      assert(new String(get(api, q).body()) == before)
      assert(counter(api, "render_cache_hits") == 1 && counter(api, "render_cache_misses") == 1)

      import spark.implicits._
      Ingest.processBatch(Ingest.parseLines(Seq(s"rc.a 4 $rnow").toDF("value")), dir)
      val after = JsonSink.render(plain.updated(0, series("rc.a", plainTarget, "avg", 1, 2, 3, 4)), from, until)
      assert(new String(get(api, q).body()) == after)
      assert(counter(api, "render_cache_misses") == 2, "a commit must make the next render miss")
      assert(new String(get(api, q).body()) == after)
      assert(counter(api, "render_cache_hits") == 2)
    } finally api.stop()
  }

  test("eight concurrent identical renders all return the right bytes") {
    val api = serve(store())
    val pool = Executors.newFixedThreadPool(8)
    try {
      val expected = PickleSink.encode(plain)
      for (round <- Seq("cold", "warm")) {
        val go = new CountDownLatch(1)
        val futures = (1 to 8).map(_ => pool.submit(() => {
          go.await()
          get(api, renderQuery(plainTarget, "pickle"))
        }))
        go.countDown()
        for (f <- futures) {
          val r = f.get(60, TimeUnit.SECONDS)
          assert(r.statusCode() == 200, round)
          assert(r.body().sameElements(expected), s"$round: ${show(r.body())}")
        }
      }
      assert(counter(api, "render_cache_hits") + counter(api, "render_cache_misses") == 16)
      assert(counter(api, "render_cache_hits") >= 8, "the warm round must hit")
    } finally {
      pool.shutdown()
      api.stop()
    }
  }
}
