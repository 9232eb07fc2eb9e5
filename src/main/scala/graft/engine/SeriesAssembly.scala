package graft.engine

import org.apache.spark.sql.DataFrame

import graft.model.TimeFrame
import graft.rollup.Rules
import graft.sinks.Series
import graft.time.StepMath

/** Long-form render rows → wire [[Series]] — the single response
  * assembly shared by the HTTP surface and the e2e fixture runner
  * (the `ch_response.go:125-170` step): per-(display, target) value
  * arrays on the grid, the per-path step/function resolved with the
  * SAME rule lookup the render ran, whisper-compatible consolidation
  * names, and the literal "any" for appended-empty series
  * (`render/data/ch_response.go:203`).
  */
object SeriesAssembly {

  /** Whisper-compatible consolidation name
    * (`render/data/data.go:53-67`: any→first, anyLast→last).
    */
  def whisperName(aggName: String): String = aggName match {
    case "any"     => "first"
    case "anyLast" => "last"
    case other     => other
  }

  /** The per-path (function, effective step) the render resolved —
    * callers MUST pass the same `now` the render used, or a clock
    * tick across a retention-age boundary reports a step the data
    * wasn't rolled to.
    */
  def perPathMeta(
      paths: Seq[String],
      rules: Rules,
      now: Long,
      tf: TimeFrame,
      consolidateBy: Option[String]): (Map[String, String], Map[String, Long]) = {
    val groups = Render.functionGroups(paths, rules, now, tf, consolidateBy)
    val funcByPath = groups.flatMap(g => g.paths.map(_ -> g.func.name)).toMap
    val stepByPath = groups.flatMap { g =>
      val step = StepMath.aggregatedStep(g.step, tf.from, tf.until, tf.maxDataPoints)
      g.paths.map(_ -> step)
    }.toMap
    (funcByPath, stepByPath)
  }

  /** Collect a renderMulti output (path, target, display_name, time,
    * value) into Series, one per (display, target, path) group.
    */
  def assemble(
      out: DataFrame,
      funcByPath: Map[String, String],
      stepByPath: Map[String, Long]): Seq[Series] = {
    out.select("path", "target", "display_name", "time", "value")
      .collect()
      .groupBy(r => (r.getString(2), r.getString(1), r.getString(0))).toSeq
      .sortBy(_._1)
      .map { case ((display, target, path), rs) =>
        val step = stepByPath(path)
        val byTime = rs.map(r => r.getLong(3) ->
          (if (r.isNullAt(4)) Double.NaN else r.getDouble(4))).sortBy(_._1)
        val values = byTime.map(_._2)
        // a series with no point in the window is the appended-empty
        // synthesis → the literal function "any"
        val fn =
          if (values.forall(_.isNaN)) "any" else whisperName(funcByPath(path))
        Series(
          name = display,
          pathExpression = target,
          function = fn,
          start = byTime.head._1,
          stop = byTime.last._1 + step,
          step = step,
          values = values)
      }
  }

  /** Convenience: meta + assemble in one call with a single `now`. */
  def collect(
      out: DataFrame,
      targets: Seq[(String, Seq[(String, String)])],
      tf: TimeFrame,
      rules: Rules,
      now: Long,
      consolidateBy: Option[String]): Seq[Series] = {
    val (funcByPath, stepByPath) =
      perPathMeta(targets.flatMap(_._2.map(_._1)).distinct, rules, now, tf, consolidateBy)
    assemble(out, funcByPath, stepByPath)
  }
}
