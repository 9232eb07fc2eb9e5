package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.engine.{Render, SeriesAssembly}
import graft.rollup.{AggFunc, Pattern, Retention, Rules, RuleType}

/** Retention compaction: band resolution per row age, and the
  * invariance that matters — querying compacted storage returns the
  * same grids as raw storage when the query step is a multiple of the
  * compaction precision and the function composes (sum/min/max/last).
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val now = 1704067200L
  private val rules = Rules(
    List(Pattern(RuleType.All, "\\.sum$", Some(AggFunc.Sum),
      List(Retention(0, 10), Retention(3600, 60)))),
    defaultPrecision = 10L, defaultFunction = Some(AggFunc.Avg))

  private def pts(rows: (String, Long, Double, Long)*) = {
    import spark.implicits._
    rows.toSeq.toDF("path", "time", "value", "version")
  }

  test("age bands: old rows land on the coarse grid, young on the fine one") {
    val points = pts(
      ("a.sum", now - 7200, 1.0, 1), ("a.sum", now - 7195, 2.0, 2), // old: 60 s bucket
      ("a.sum", now - 30, 3.0, 3), ("a.sum", now - 15, 4.0, 4))     // young: 10 s buckets
    val out = Compaction.compact(points, rules, now)
      .select("path", "time", "value").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toMap
    val oldBucket = (now - 7200) - (now - 7200) % 60
    assert(out(oldBucket) == 3.0) // sum of both old rows
    assert(out(now - 30) == 3.0 && out(now - 20) == 4.0) // 10 s grid keeps them apart
  }

  test("duplicate writes dedup by version before aggregating") {
    val points = pts(
      ("a.sum", now - 7200, 1.0, 1), ("a.sum", now - 7200, 9.0, 2))
    val out = Compaction.compact(points, rules, now).collect()
    assert(out.length == 1 && out.head.getAs[Double]("value") == 9.0)
  }

  test("query invariance: rendering compacted storage equals rendering raw") {
    val raw = pts(
      ("a.sum", now - 7200, 1.0, 1), ("a.sum", now - 7195, 2.0, 2),
      ("a.sum", now - 7130, 5.0, 3), ("a.sum", now - 3620, 7.0, 4))
    val compacted = Compaction.compact(raw, rules, now)
    val tf = graft.model.TimeFrame(now - 7200, now - 3600)
    def grid(points: org.apache.spark.sql.DataFrame) =
      SeriesAssembly.fill(Render.render(points, Seq("a.sum"), tf, rules, now = now), tf,
        appendEmpty = false)
        .flatMap(g => g.values.indices.map(i => (g.start + g.step * i, g.values(i)))).toMap
    assert(grid(compacted) == grid(raw))
  }
}
