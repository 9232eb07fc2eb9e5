package graft.engine

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.TimeFrame
import graft.rollup.{AggFunc, Rules}
import graft.sinks.Series
import graft.streaming.Ingest

/** e2e reproduction of `tests/consolidateBy/test.toml`: the
  * `consolidateBy(fn)` filtering function overrides the rollup
  * aggregation per target, with `maxDataPoints`-driven step inflation
  * (from 1000 to 1030, mdp=2 → step 20, grid [1000, 1040)).
  */
class ConsolidateByE2ESpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val tables: String = {
    val dir = Files.createTempDirectory("graft-cb").toFile.getAbsolutePath
    import spark.implicits._
    val names = Seq(
      "request_success_total.counter;app=test;project=Test;environment=TEST",
      "request_success_total.counter;app=test;project=Test;environment=TEST;t=q",
      "test;env=prod",
      "test;env=dr")
    val lines = names.flatMap { n =>
      Seq(s"$n 3.0 1000", s"$n 0.0 1010", s"$n 1.0 1020", s"$n 2.0 1030")
    }.toDF("value")
    Ingest.processBatch(Ingest.parseLines(lines), s"$dir/t")
    s"$dir/t"
  }

  private val rules = Rules(Nil, defaultPrecision = 10L, defaultFunction = Some(AggFunc.Avg))
  private val target =
    "seriesByTag('name=request_success_total.counter', 'app=test', 'project=Test', 'environment=TEST')"

  private def series(found: Seq[String], tf: TimeFrame, fn: String): Seq[Series] =
    SeriesAssembly.assemble(spark.read.parquet(s"$tables/points"),
      Seq(target -> found.map(p => (p, p))), tf, rules, now = 1030, consolidateBy = Some(fn))
      .map(_.series)

  private def run(fn: String): Map[String, Seq[Double]] = {
    val tagsTable = spark.read.parquet(s"$tables/tags")
    val found = Finder.findTagged(tagsTable, target).collect().map(_.getString(0)).toSeq
    series(found, TimeFrame(1000, 1030, maxDataPoints = 2), fn)
      .map(s => s.name.replace("?", ";").replace("&", ";") -> s.values.toSeq).toMap
  }

  private val base = "request_success_total.counter;app=test;environment=TEST;project=Test"

  test("consolidateBy overrides: max/min/sum/avg/average/last/first") {
    val expect = Map(
      "max" -> Seq(3.0, 2.0), "min" -> Seq(0.0, 1.0), "sum" -> Seq(3.0, 3.0),
      "avg" -> Seq(1.5, 1.5), "average" -> Seq(1.5, 1.5),
      "last" -> Seq(0.0, 2.0), "first" -> Seq(3.0, 1.0))
    expect.foreach { case (fn, vals) =>
      val res = run(fn)
      assert(res(base) == vals, s"fn=$fn")
      assert(res(s"$base;t=q") == vals, s"fn=$fn")
      assert(res.size == 2, s"fn=$fn")
    }
  }

  test("invalid consolidateBy is a request error") {
    intercept[IllegalArgumentException](run("invalid"))
  }

  test("grid bounds under maxDataPoints inflation") {
    val tagsTable = spark.read.parquet(s"$tables/tags")
    val found = Finder.findTagged(tagsTable, target).collect().map(_.getString(0)).toSeq
    val s = series(found, TimeFrame(1000, 1030, 2), "max").head
    assert(s.start == 1000 && s.stop == 1040 && s.step == 20)
  }
}
