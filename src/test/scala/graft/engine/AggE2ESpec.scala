package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.TimeFrame
import graft.rollup.{AggFunc, Pattern, Retention, RuleType, Rules}
import graft.streaming.Ingest

/** e2e reproduction of `tests/agg_latest` and
  * `tests/emptyseries_{append,noappend}`: version-dedup-before-rollup
  * (a later write at the same (path, time) replaces the value for
  * EVERY aggregation function) and empty-series synthesis.
  */
class AggE2ESpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val rnow = 1704067200L

  // rollup rules of tests/clickhouse/rollup/rollup.xml: per-suffix
  // function, default avg @ 10 s
  private val rules = Rules(
    List(
      Pattern(RuleType.All, "\\.sum$", Some(AggFunc.Sum), Nil),
      Pattern(RuleType.All, "\\.min$", Some(AggFunc.Min), Nil),
      Pattern(RuleType.All, "\\.max$", Some(AggFunc.Max), Nil)),
    defaultPrecision = 10L,
    defaultFunction = Some(AggFunc.Avg))

  private def ingest(dir: String, version: Long, lines: Seq[String]): Unit = {
    import spark.implicits._
    Ingest.processBatch(
      Ingest.parseLines(lines.toDF("value")).withColumn("version", lit(version)),
      dir)
  }

  private def renderSeries(tables: String, appendEmpty: Boolean): Map[String, Seq[Double]] = {
    val points = spark.read.parquet(s"$tables/points")
    val index = spark.read.parquet(s"$tables/index")
    val found = Finder.find(index, "test.{avg,min,max,sum}")
      .collect().map(_.getString(0)).toSeq
    SeriesAssembly.assemble(points, Seq("test.*" -> found.map(p => (p, p))),
      TimeFrame(rnow - 10, rnow + 10), rules, now = rnow + 10, appendEmpty = appendEmpty)
      .map(a => a.display -> a.series.values.toSeq).toMap
  }

  test("agg_latest: later write version replaces the bucket for every function") {
    val dir = Files.createTempDirectory("graft-al").toFile.getAbsolutePath + "/t"
    val names = Seq("test.avg", "test.sum", "test.min", "test.max")
    // [test] precision = "10s": the harness truncates input times, so
    // batch 2's rnow-1/rnow+1 land on rnow-10/rnow — same (path, time)
    // as batch 1, later version
    ingest(dir, 1, names.flatMap(n => Seq(
      s"$n 3.0 ${rnow - 30}", s"$n 0.0 ${rnow - 20}",
      s"$n 1.0 ${rnow - 10}", s"$n 2.0 $rnow")))
    ingest(dir, 2, names.flatMap(n => Seq(
      s"$n 0.0 ${rnow - 10}", s"$n 4.0 $rnow")))

    val series = renderSeries(dir, appendEmpty = false)
    names.foreach { n =>
      val vs = series(n)
      assert(vs.length == 3, n)
      assert(vs(0) == 0.0 && vs(1) == 4.0 && vs(2).isNaN, s"$n -> $vs")
    }
  }

  test("agg_internal: internal-aggregation mode aggregates duplicate writes (no Uniq)") {
    // `tests/agg_internal`: with internal-aggregation=true the -Resample
    // SQL has no version dedup — duplicate (path, time) writes all
    // aggregate. Reproduced by running the bucket rollup WITHOUT the
    // dedup stage (the A4 pushdown path).
    val dir = Files.createTempDirectory("graft-ai").toFile.getAbsolutePath + "/t"
    val names = Seq("test.avg", "test.sum", "test.min", "test.max")
    ingest(dir, 1, names.flatMap(n => Seq(
      s"$n 3.0 ${rnow - 30}", s"$n 0.0 ${rnow - 20}",
      s"$n 1.0 ${rnow - 10}", s"$n 2.0 $rnow")))
    ingest(dir, 2, names.flatMap(n => Seq(
      s"$n 0.0 ${rnow - 10}", s"$n 4.0 $rnow")))

    val points = spark.read.parquet(s"$dir/points")
      .where(col("time").between(rnow - 10, rnow + 9))
    def rolled(name: String, fn: graft.rollup.AggFunc): Map[Long, Double] =
      Render.rollup(points.where(col("path") === name), 10, fn)
        .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(rolled("test.avg", AggFunc.Avg) == Map(rnow - 10 -> 0.5, rnow -> 3.0))
    assert(rolled("test.sum", AggFunc.Sum) == Map(rnow - 10 -> 1.0, rnow -> 6.0))
    assert(rolled("test.min", AggFunc.Min) == Map(rnow - 10 -> 0.0, rnow -> 2.0))
    assert(rolled("test.max", AggFunc.Max) == Map(rnow - 10 -> 1.0, rnow -> 4.0))
  }

  private def emptySeriesTables: String = {
    val dir = Files.createTempDirectory("graft-es").toFile.getAbsolutePath + "/t"
    // no precision truncation here: batch 2's rnow-1/rnow+1 are
    // distinct times inside the rnow-10 / rnow buckets
    ingest(dir, 1,
      Seq(s"test.avg 3.0 ${rnow - 30}", s"test.avg 0.0 ${rnow - 20}",
        s"test.avg 1.0 ${rnow + 21}", s"test.avg 2.0 ${rnow + 30}") ++
      Seq("test.sum", "test.min", "test.max").flatMap(n => Seq(
        s"$n 3.0 ${rnow - 30}", s"$n 0.0 ${rnow - 20}",
        s"$n 1.0 ${rnow - 10}", s"$n 2.0 $rnow")))
    ingest(dir, 2,
      Seq(s"test.avg 0.0 ${rnow - 30}", s"test.avg 4.0 ${rnow + 30}") ++
      Seq("test.sum", "test.min", "test.max").flatMap(n => Seq(
        s"$n 0.0 ${rnow - 1}", s"$n 4.0 ${rnow + 1}")))
    dir
  }

  test("emptyseries_append: in-window-empty series emits the all-NaN grid") {
    val series = renderSeries(emptySeriesTables, appendEmpty = true)
    assert(series("test.avg").length == 3 && series("test.avg").forall(_.isNaN))
    assert(series("test.sum") == Seq(1.0, 6.0) :+ Double.NaN ||
      (series("test.sum")(0) == 1.0 && series("test.sum")(1) == 6.0 &&
        series("test.sum")(2).isNaN))
    assert(series("test.min")(0) == 0.0 && series("test.min")(1) == 2.0)
    assert(series("test.max")(0) == 1.0 && series("test.max")(1) == 4.0)
  }

  test("emptyseries_noappend: in-window-empty series dropped") {
    val series = renderSeries(emptySeriesTables, appendEmpty = false)
    assert(!series.contains("test.avg"))
    assert(series.contains("test.sum") && series.contains("test.min") &&
      series.contains("test.max"))
  }
}
