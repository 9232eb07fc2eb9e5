package graft.engine

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.TimeFrame
import graft.rollup.{AggFunc, Pattern, Retention, RuleType, Rules}

/** The driver-side half of a render on hand-computed rows: alias
  * fan-out and per-group grids. `sa.fast` rolls avg at 10 s and
  * misses its t0 + 20 point; `sa.slow` rolls sum at 20 s. Both store
  * value k + 1 at t0 + 10k.
  */
class SeriesAssemblySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val t0 = 1704067200L // 20 s aligned
  private val rules = Rules(
    List(Pattern(RuleType.All, "^sa\\.slow$", Some(AggFunc.Sum), List(Retention(0, 20)))),
    defaultPrecision = 10L,
    defaultFunction = Some(AggFunc.Avg))

  private lazy val points: DataFrame = {
    import spark.implicits._
    (for (p <- Seq("sa.fast", "sa.slow"); k <- 0 until 4 if !(p == "sa.fast" && k == 2))
      yield (p, k + 1.0, t0 + 10L * k, 1L)).toDF("path", "value", "time", "version")
  }

  private def shape(a: SeriesAssembly.Aliased) = {
    val s = a.series
    (s.pathExpression, s.name, s.function, s.start, s.stop, s.step, s.values.toSeq.map(_.toString))
  }

  test("a path found by two targets and under two display names: once per (target, display)") {
    val targets = Seq(
      "sa.*" -> Seq(("sa.fast", "sa.fast"), ("sa.fast", "alias.fast"), ("sa.fast", "sa.fast")),
      "sa.f*" -> Seq(("sa.fast", "sa.fast")))
    val out = SeriesAssembly.assemble(points, targets, TimeFrame(t0, t0 + 39), rules, now = t0 + 39)
    val fast = Seq("1.0", "2.0", "NaN", "4.0")
    assert(out.map(shape) == Seq(
      ("sa.*", "alias.fast", "avg", t0, t0 + 40, 10L, fast),
      ("sa.*", "sa.fast", "avg", t0, t0 + 40, 10L, fast),
      ("sa.f*", "sa.fast", "avg", t0, t0 + 40, 10L, fast)))
  }

  test("two rules with different steps: each series on its own group's grid") {
    val targets = Seq("sa.*" -> Seq(("sa.fast", "sa.fast"), ("sa.slow", "sa.slow")))
    val out = SeriesAssembly.assemble(points, targets, TimeFrame(t0, t0 + 39), rules, now = t0 + 39)
    assert(out.map(shape) == Seq(
      ("sa.*", "sa.fast", "avg", t0, t0 + 40, 10L, Seq("1.0", "2.0", "NaN", "4.0")),
      ("sa.*", "sa.slow", "sum", t0, t0 + 40, 20L, Seq("3.0", "7.0"))))
  }
}
