package graft.engine

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.TimeFrame
import graft.rollup.{AggFunc, Pattern, Retention, RuleType, Rules}
import graft.sinks.Series

/** The render's plan-explosion cap (SURVEY §7.4 risk 1): past 32
  * distinct (step, function) groups, `Render.render` coalesces the
  * groups of each function onto the LCM of their steps, and the
  * assembled series report the step and stop of that coarser grid.
  *
  * Fixture: 6 functions × 6 rule precisions (10/20/30/60/120/180 s)
  * = 36 groups, one path each. LCM(10, 20, 30, 60, 120, 180) = 360,
  * so every series comes back on a 360 s grid. Each path stores one
  * point per 10 s over [t0, t0 + 1440) with value k = (t − t0) / 10;
  * bucket b (k = 36b … 36b + 35) then rolls up to hand-computable
  * values per function.
  */
class RenderCoarseningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val t0 = 1704067200L // 360 s aligned
  private val tf = TimeFrame(t0, t0 + 1439)
  private val precisions = Seq(10L, 20L, 30L, 60L, 120L, 180L)

  private def path(f: AggFunc, prec: Long) = s"co.${f.name}.p$prec"

  // function from the first pattern, precision from the second
  private def rulesFor(funcs: Seq[AggFunc]): Rules = Rules(
    funcs.toList.map(f => Pattern(RuleType.All, s"^co\\.${f.name}\\.", Some(f), Nil)) ++
      precisions.toList.map(p =>
        Pattern(RuleType.All, s"\\.p$p$$", None, List(Retention(0, p)))))

  private lazy val points: DataFrame = {
    import spark.implicits._
    (for (f <- AggFunc.all; p <- precisions; k <- 0 until 144)
      yield (path(f, p), k.toDouble, t0 + 10L * k, 1L))
      .toDF("path", "value", "time", "version")
  }

  /** path → its assembled series. */
  private def rendered(funcs: Seq[AggFunc]): Map[String, Series] = {
    val paths = for (f <- funcs; p <- precisions) yield path(f, p)
    SeriesAssembly.assemble(points, Seq("co.*" -> paths.map(p => (p, p))), tf,
      rulesFor(funcs), now = t0 + 1439)
      .map(a => a.display -> a.series).toMap
  }

  private def times(s: Series): Seq[Long] = s.values.indices.map(i => s.start + s.step * i)

  private def expected(f: AggFunc, b: Int): Double = f match {
    case AggFunc.Avg     => 36.0 * b + 17.5
    case AggFunc.Sum     => 1296.0 * b + 630.0
    case AggFunc.Min     => 36.0 * b
    case AggFunc.Max     => 36.0 * b + 35.0
    case AggFunc.Any     => 36.0 * b
    case AggFunc.AnyLast => 36.0 * b + 35.0
  }

  test("36 (step, function) groups coarsen per function onto the 360 s LCM step") {
    val out = rendered(AggFunc.all)
    assert(out.size == 36)
    for (f <- AggFunc.all; p <- precisions) {
      val s = out(path(f, p))
      assert(times(s) == (0 until 4).map(b => t0 + 360L * b), s"${path(f, p)} grid")
      assert(s.values.toSeq == (0 until 4).map(b => expected(f, b)), s"${path(f, p)} values")
      assert(s.step == 360 && s.stop == t0 + 1440, s"${path(f, p)} step ${s.step} stop ${s.stop}")
    }
  }

  test("30 groups stay under the cap: every path keeps its own rule step") {
    val funcs = AggFunc.all.take(5)
    val out = rendered(funcs)
    assert(out.size == 30)
    for (f <- funcs; p <- precisions) {
      val s = out(path(f, p))
      assert(times(s) == (t0 until t0 + 1440 by p), s"${path(f, p)} grid")
      assert(s.step == p && s.stop == t0 + 1440, s"${path(f, p)} step ${s.step} stop ${s.stop}")
    }
  }
}
