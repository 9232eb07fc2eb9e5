package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.TimeFrame
import graft.rollup.{AggFunc, Rules}
import graft.streaming.Ingest

/** End-to-end reproduction of the reference's own e2e fixture
  * (`tests/one_table/test.toml`): the fixture inputs are ingested
  * through the streaming line parser, and the find / autocomplete /
  * render checks are asserted with the exact expected values —
  * behavioral parity with the dockerized suite, 10 s precision.
  */
class E2ESpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  // rnow: aligned to the 10 s precision like the e2e runner's rnow
  private val rnow = 1704067200L

  private lazy val tables: String = {
    val dir = Files.createTempDirectory("graft-e2e").toFile.getAbsolutePath
    import spark.implicits._
    def pts(name: String, vs: Seq[Double]): Seq[String] =
      vs.zipWithIndex.map { case (v, i) => s"$name $v ${rnow - 30 + i * 10}" }
    val lines =
      pts("test.plain1", Seq(3.0, 0.0, 1.0, 2.0)) ++
      pts("test.plain2", Seq(2.0, 1.0, 1.5, 2.5)) ++
      pts("test2.plain", Seq(1.0, 2.0, 2.5, 3.5)) ++
      pts("metric1;tag1=value1;tag2=value21;tag3=value3", Seq(2.0, 2.5, 2.0, 3.0)) ++
      pts("metric1;tag2=value22;tag4=value4", Seq(1.0, 2.0, 0.0, 1.0)) ++
      pts("metric1;tag1=value1;tag2=value23;tag3=value3", Seq(0.5, 1.5, 4.0, 3.0)) ++
      pts("metric2;tag2=value21;tag4=value4", Seq(2.0, 1.0, 0.0, 1.0)) ++
      pts("test_metric;minus=-;plus=+;percent=%;underscore=_;colon=:;hash=#;forward=/;host=127.0.0.1",
        Seq(2.1, 0.1, 0.2, 1.5))
    Ingest.processBatch(Ingest.parseLines(lines.toDF("value")), s"$dir/t")
    s"$dir/t"
  }

  private def points = spark.read.parquet(s"$tables/points")
  private def index = spark.read.parquet(s"$tables/index")
  private def tagsTable = spark.read.parquet(s"$tables/tags")

  private val rules = Rules(Nil, defaultPrecision = 10L, defaultFunction = Some(AggFunc.Avg))

  private def findSet(q: String): Set[(String, Boolean)] =
    Finder.find(index, q).collect().map(r => (r.getString(0), r.getBoolean(1))).toSet

  test("find_checks: non-leaf node and glob") {
    assert(findSet("test") == Set(("test", false)))
    assert(findSet("test.pl*") ==
      Set(("test.plain1", true), ("test.plain2", true)))
  }

  test("tags_checks: autocomplete values") {
    import spark.implicits._
    def values(tag: String, exprs: List[String]): List[String] =
      Autocomplete.tagValues(tagsTable, tag, exprs = exprs)
        .as[String].collect().toList
    assert(values("tag1", List("tag2=value21")) == List("value1"))
    assert(values("name", List("tag2=value21", "tag1=~value")) == List("metric1"))
    assert(values("colon", List("percent=%")) == List(":"))
  }

  test("tags_checks: tag-name autocomplete with name alias and used-tag drop") {
    assert(Autocomplete.tagNamesComplete(tagsTable, List("tag2=value21")) ==
      Seq("name", "tag1", "tag3", "tag4"))
    // no exprs: every tag name over all tagged series, `name` aliased
    val all = Autocomplete.tagNamesComplete(tagsTable)
    assert(all.contains("name") && !all.contains("__name__"))
    assert(Autocomplete.tagNamesComplete(tagsTable, Nil, tagPrefix = "tag") ==
      Seq("tag1", "tag2", "tag3", "tag4"))
  }

  test("zero-bucket window renders empty, not a sequence error") {
    // (rnow+1, rnow+9) contains no 10 s-aligned bucket
    val tf = TimeFrame(rnow + 1, rnow + 9)
    val out = SeriesAssembly.assemble(points, Seq("test.plain1" -> Seq(("test.plain1", "test.plain1"))),
      tf, rules, now = rnow + 9, appendEmpty = true)
    assert(out.isEmpty)
  }

  test("empty find result renders as the empty response") {
    val rolled = Render.render(points, Nil, TimeFrame(rnow - 10, rnow), rules, now = rnow)
    assert(rolled.groups.isEmpty)
    val multi = SeriesAssembly.assemble(points,
      Seq("nothing.matches.*" -> Nil), TimeFrame(rnow - 10, rnow), rules, now = rnow,
      appendEmpty = true)
    assert(multi.isEmpty)
  }

  test("render_checks: plain multi-target grid values") {
    val targets = Seq("test.plain*", "test{1,2}.plain").map { t =>
      val found = Finder.find(index, t)
        .where(col("is_leaf")) // render fetches leaves
        .select("path").collect().map(_.getString(0)).toSeq
      t -> found.map(p => (p, p))
    }
    val tf = TimeFrame(rnow - 10, rnow)
    val series = SeriesAssembly.assemble(points, targets, tf, rules, now = rnow)
      .map(_.series).map(s => (s.name, s.pathExpression) -> s).toMap

    val s1 = series(("test.plain1", "test.plain*"))
    assert(s1.start == rnow - 10 && s1.stop == rnow + 10 && s1.step == 10)
    assert(s1.values.toSeq == Seq(1.0, 2.0))
    assert(series(("test.plain2", "test.plain*")).values.toSeq == Seq(1.5, 2.5))
    assert(series(("test2.plain", "test{1,2}.plain")).values.toSeq == Seq(2.5, 3.5))
    // test.plain1/2 matched only the first target; test2.plain only the second
    assert(series.size == 3)
  }

  test("render_checks: tagged seriesByTag targets with display names") {
    val exprs = Seq(
      "seriesByTag('name=metric1', 'tag2=~value', 'tag3=value*')",
      "seriesByTag('name=metric2', 'tag2=~value', 'tag4=value4')")
    val targets = exprs.map { t =>
      val found = Finder.findTagged(tagsTable, t)
        .collect().map(_.getString(0)).toSeq
      t -> found.map(p =>
        (p, p.replace("?", ";").replace("&", ";"))) // display decode
    }
    val tf = TimeFrame(rnow - 10, rnow)
    val series = SeriesAssembly.assemble(points, targets, tf, rules, now = rnow)
      .map(_.series).map(s => (s.name, s.pathExpression) -> s).toMap

    assert(series(("metric1;tag1=value1;tag2=value21;tag3=value3", exprs(0)))
      .values.toSeq == Seq(2.0, 3.0))
    assert(series(("metric1;tag1=value1;tag2=value23;tag3=value3", exprs(0)))
      .values.toSeq == Seq(4.0, 3.0))
    assert(series(("metric2;tag2=value21;tag4=value4", exprs(1)))
      .values.toSeq == Seq(0.0, 1.0))
    assert(series.size == 3)
  }
}
