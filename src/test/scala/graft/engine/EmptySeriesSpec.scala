package graft.engine

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.TimeFrame
import graft.rollup.{AggFunc, Rules}
import graft.sinks.Series

/** Empty-series rule (W4, `render/data/ch_response.go:98-107,203`) on
  * hand-computed rows, through the render and its response assembly:
  *   - a found path with no point in the window is dropped unless
  *     `append-empty-series` is set, and then emits the all-NaN grid
  *     under the literal function `any`;
  *   - a stored NaN is a point: a path whose values are all NaN is
  *     kept either way (only all-null, i.e. absent, series drop), and
  *     keeps its rule function — only the appended-empty synthesis is
  *     named `any`.
  */
class EmptySeriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val t0 = 1704067200L // 10 s aligned
  private val rules = Rules(Nil, defaultPrecision = 10L, defaultFunction = Some(AggFunc.Avg))
  // [t0, t0+20] at step 10: grid t0, t0+10, t0+20
  private val tf = TimeFrame(t0, t0 + 20)
  private val found = Seq("es.gone", "es.live", "es.nan")

  private lazy val points: DataFrame = {
    import spark.implicits._
    Seq(
      ("es.live", 1.0, t0, 1L),
      ("es.live", 2.0, t0 + 10, 1L),
      ("es.nan", Double.NaN, t0, 1L),
      ("es.nan", Double.NaN, t0 + 10, 1L),
      // outside the window: found by the index, absent from the render
      ("es.gone", 5.0, t0 - 100, 1L)
    ).toDF("path", "value", "time", "version")
  }

  private def classic(appendEmpty: Boolean): Seq[Series] =
    SeriesAssembly.assemble(points, Seq("es.*" -> found.map(p => (p, p))), tf, rules,
      now = t0 + 20, appendEmpty = appendEmpty).map(_.series)

  private def shape(s: Seq[Series]): Seq[(String, String, Long, Long, Seq[String])] =
    s.map(x => (x.name, x.function, x.start, x.step, x.values.toSeq.map(_.toString)))

  private val nan3 = Seq("NaN", "NaN", "NaN")
  private val live = ("es.live", "avg", t0, 10L, Seq("1.0", "2.0", "NaN"))
  // stored NaNs are points: the series keeps its rule function
  private val allNan = ("es.nan", "avg", t0, 10L, nan3)

  test("renderMulti: a found path with no point in the window is dropped without append") {
    assert(shape(classic(false)) == Seq(live, allNan))
  }

  test("renderMulti: append-empty-series emits it as the all-NaN grid under `any`") {
    assert(shape(classic(true)) == Seq(("es.gone", "any", t0, 10L, nan3), live, allNan))
  }

  test("empty-series rule keeps NaN-valued paths and drops only all-null ones") {
    // rolled rows as the Spark render returns them: path a has none,
    // b a stored NaN, c one value
    val rolled = Render.Rolled(Render.GroupRows.of(
      Seq(Render.FuncGroup(10L, AggFunc.Avg, Seq("a", "b", "c"))), TimeFrame(t0, t0 + 10),
      Array(Row("b", t0, Double.NaN), Row("c", t0 + 10, 3.0))))
    def rows(appendEmpty: Boolean): Seq[String] =
      SeriesAssembly.fill(rolled, TimeFrame(t0, t0 + 10), appendEmpty)
        .flatMap(g => g.values.indices.map(i =>
          s"${g.path}@${g.start + g.step * i - t0}=${g.values(i).fold("null")(_.toString)}"))
    assert(rows(appendEmpty = false) ==
      Seq("b@0=NaN", "b@10=null", "c@0=null", "c@10=3.0"))
    assert(rows(appendEmpty = true) ==
      Seq("a@0=null", "a@10=null", "b@0=NaN", "b@10=null", "c@0=null", "c@10=3.0"))
  }
}
