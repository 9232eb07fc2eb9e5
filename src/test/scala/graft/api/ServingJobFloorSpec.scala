package graft.api

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.ListenerBusSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.engine.FindCache
import graft.rollup.{AggFunc, Rules}
import graft.streaming.Ingest

/** The serving path's per-request Spark job floor, read off a
  * `SparkListener` while [[HttpApi]] serves an ingest-built store:
  *   - no route starts a Parquet schema-inference job (its stage is
  *     named after the `parquet` reader call site) — the tables open
  *     with fixed schemas;
  *   - a narrow plain render with an uncached find runs an exact job
  *     count: 2 find jobs, then the render's 2 query stages (one
  *     shuffle by `path` that both the merged-cell and the rollup
  *     aggregate run behind, and the result collect of the rolled
  *     rows). Gap-fill, the empty-series rule and alias fan-out run
  *     on the driver and start no job;
  *   - the same render with its find served from the find cache runs
  *     only the render's 2 stages, and a `seriesByTag` render runs the
  *     tagged find's 2 jobs plus the same 2;
  *   - those are first renders: a repeat of a render on an unchanged
  *     store, its find cached, is served from the server's rolled-row
  *     cache and runs no job at all.
  * AQE's stage split is deterministic for a fixed store, so the count
  * is pinned exactly: a change that adds a stage fails here.
  */
class ServingJobFloorSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestBase.spark
  private val rnow = 1704067200L
  private val client = HttpClient.newHttpClient()

  private lazy val tablesDir: String = {
    val dir = Files.createTempDirectory("graft-floor").toFile.getAbsolutePath + "/t"
    import spark.implicits._
    val names = (1 to 6).map(i => s"floor.a.m$i") ++ (1 to 4).map(i => s"floor.b.m$i") ++
      Seq("floor_tagged;host=h1;dc=x", "floor_tagged;host=h2;dc=y")
    val lines = for (n <- names; k <- 0 until 60) yield s"$n ${k % 7}.0 ${rnow - 600 + k * 10}"
    Ingest.processBatch(Ingest.parseLines(lines.toDF("value")), dir)
    dir
  }

  private val started = mutable.ArrayBuffer.empty[HttpApi]
  private def serve(findCache: Option[FindCache.Config]): HttpApi = {
    val a = new HttpApi(
      spark, tablesDir,
      HttpApi.Config(
        rules = Rules(Nil, defaultPrecision = 10L, defaultFunction = Some(AggFunc.Avg)),
        findCache = findCache),
      clock = () => Instant.ofEpochSecond(rnow + 5)).start()
    started += a
    a
  }
  // builds the store and starts the server unobserved
  private lazy val api: HttpApi = serve(None)
  private lazy val cachingApi: HttpApi = serve(Some(FindCache.Config(
    defaultTimeoutSec = 300, shortTimeoutSec = 60, shortDurationSec = 240)))

  override def afterAll(): Unit = started.foreach(_.stop())

  /** Stage names of every job started while `a` served `path`. */
  private def jobsOf(path: String, a: HttpApi = api): Seq[String] = {
    val names = mutable.ArrayBuffer.empty[String]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = names.synchronized {
        names += j.stageInfos.map(_.name).mkString(" | ")
      }
    }
    val base = a.address
    val sc = spark.sparkContext
    ListenerBusSync.await(sc)
    sc.addSparkListener(l)
    try {
      val r = client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, s"$path -> ${r.body().take(300)}")
      ListenerBusSync.await(sc)
    } finally sc.removeSparkListener(l)
    names.synchronized(names.toList)
  }

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")

  private val window = s"from=${rnow - 300}&until=$rnow"
  private val routes = Seq(
    "find" -> "/metrics/find/?query=floor.*&format=json",
    "render" -> s"/render/?target=floor.a.*&$window&format=json",
    "render seriesByTag" -> s"/render/?target=${enc("seriesByTag('name=floor_tagged')")}&$window&format=json",
    "autocomplete tags" -> s"/tags/autoComplete/tags?expr=${enc("host=h1")}",
    "autocomplete values" -> s"/tags/autoComplete/values?tag=host&expr=${enc("dc=x")}",
    "query_range" -> (s"/api/v1/query_range?query=${enc("avg_over_time(floor_tagged[1m])")}" +
      s"&start=${rnow - 120}&end=$rnow&step=60"))

  for ((name, path) <- routes)
    test(s"$name: no Parquet schema-inference job") {
      val jobs = jobsOf(path)
      assert(jobs.nonEmpty, s"$name ran no job — the listener saw nothing")
      val inference = jobs.filter(_.startsWith("parquet at "))
      assert(inference.isEmpty, s"$name:\n${jobs.mkString("\n")}")
    }

  test("narrow plain render, uncached find: exactly 4 jobs") {
    val jobs = jobsOf(s"/render/?target=floor.b.*&$window&format=json")
    assert(jobs.length == 4, s"${jobs.length} jobs:\n${jobs.mkString("\n")}")
  }

  test("narrow plain render, cached find: exactly 2 jobs") {
    // fills the find cache (its key is day-granular) with a shifted
    // window, so the counted render is a first render
    jobsOf(s"/render/?target=floor.b.*&from=${rnow - 290}&until=$rnow&format=json", cachingApi)
    val jobs = jobsOf(s"/render/?target=floor.b.*&$window&format=json", cachingApi)
    assert(jobs.length == 2, s"${jobs.length} jobs:\n${jobs.mkString("\n")}")
  }

  test("seriesByTag render: exactly 4 jobs") {
    // a fresh server: the route test above already rendered this
    // request on `api`, so its rolled rows are cached there
    val jobs = jobsOf(s"/render/?target=${enc("seriesByTag('name=floor_tagged')")}&$window&format=json",
      serve(None))
    assert(jobs.length == 4, s"${jobs.length} jobs:\n${jobs.mkString("\n")}")
  }

  test("repeated identical render on an unchanged store: 0 jobs") {
    val path = s"/render/?target=floor.a.m1&$window&format=json"
    assert(jobsOf(path, cachingApi).nonEmpty)
    val jobs = jobsOf(path, cachingApi)
    assert(jobs.isEmpty, s"${jobs.length} jobs:\n${jobs.mkString("\n")}")
  }
}
