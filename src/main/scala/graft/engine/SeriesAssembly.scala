package graft.engine

import org.apache.spark.sql.DataFrame

import graft.model.TimeFrame
import graft.rollup.{AggFunc, Rules}
import graft.sinks.Series
import graft.time.StepMath

/** The coordinator half of /render — what the reference's Go side does
  * with the rows ClickHouse returns: gap-fill onto the grid
  * (`helper/point/func.go:53-118`), empty series
  * (`render/data/ch_response.go:98-107`), alias fan-out
  * (`pkg/alias/map.go:36-70`) and the wire series
  * (`ch_response.go:125-170`). Its input is a [[Render.Rolled]]: per
  * planned group, the group (function, rolled step, paths) and its
  * rolled rows, so every series' function, step and grid come from the
  * plan that produced its values. The rows keep an absent bucket apart
  * from a stored NaN, whether they were just collected or come from
  * the server's [[RenderCache]], so a cached render assembles the same
  * series, named the same way, as an uncached one. One assembly serves
  * the HTTP surface, the e2e fixture runner and the `g_render_*`
  * registry entries.
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

  /** One found path on its group's regular grid `[start, stop)`:
    * `values(i)` is the bucket at `start + i * step`, `None` where no
    * point was rolled. An absent point stays apart from a stored NaN
    * until [[Aliased.series]] encodes both as NaN.
    */
  final case class Grid(
      path: String,
      func: AggFunc,
      start: Long,
      step: Long,
      values: Array[Option[Double]]) {
    def stop: Long = start + step * values.length
  }

  /** A grid displayed under one (target, display name) of the request. */
  final case class Aliased(target: String, display: String, grid: Grid) {

    /** The wire series: absent points become NaN, the reference's
      * sentinel. A series with no point at all is the appended-empty
      * synthesis and carries the literal function "any"
      * (`render/data/ch_response.go:203`); a stored series keeps its
      * rule function, even when every stored value is NaN.
      */
    def series: Series = {
      val fn = if (grid.values.forall(_.isEmpty)) "any" else whisperName(grid.func.name)
      Series(display, target, fn, grid.start, grid.stop, grid.step,
        grid.values.map(_.getOrElse(Double.NaN)))
    }
  }

  /** Gap-fill (W1) and the empty-series rule (W4): every path of every
    * planned group on that group's `[start, stop)` grid
    * (`StepMath.gridBounds`), in path order. A stored NaN is a point;
    * a path with no point in the window drops unless `appendEmpty`,
    * and a window holding no step-aligned bucket yields no grid at
    * all.
    */
  def fill(rolled: Render.Rolled, tf: TimeFrame, appendEmpty: Boolean): Seq[Grid] = {
    val grids = rolled.groups.flatMap { rows =>
      val g = rows.group
      val (start, stop) = StepMath.gridBounds(tf.from, tf.until, g.step)
      val n = math.max(0L, (stop - start) / g.step).toInt
      g.paths.zipWithIndex.map { case (p, i) =>
        Grid(p, g.func, start, g.step, Array.tabulate(n)(k => rows.at(i, start + k * g.step)))
      }
    }
    grids
      .filter(g => g.values.nonEmpty && (appendEmpty || g.values.exists(_.isDefined)))
      .sortBy(_.path)
  }

  /** Alias fan-out (J2): each grid once per distinct (target, display
    * name) that found its path, ordered by (display, target, path).
    */
  def fanOut(grids: Seq[Grid], targets: Seq[(String, Seq[(String, String)])]): Seq[Aliased] = {
    val byPath = grids.map(g => g.path -> g).toMap
    targets
      .flatMap { case (target, pairs) => pairs.map { case (path, display) => (display, target, path) } }
      .distinct.sorted
      .flatMap { case (display, target, path) => byPath.get(path).map(Aliased(target, display, _)) }
  }

  /** One render request's targets, both halves: `targets` maps a raw
    * target expression to its found (path, display name) pairs. All
    * targets share one Spark render — one scan family for every
    * target, as the reference's common-step design intends
    * (`render/data/common_step.go`) — then assemble on the driver.
    * The entry point of `/render` and the e2e fixture runner; with a
    * `cache` (the server's, pinned to the snapshot `points` opens),
    * groups already rolled over the same snapshot are not read again,
    * and `points` is opened only if one is missing.
    */
  def assemble(
      points: => DataFrame,
      targets: Seq[(String, Seq[(String, String)])],
      tf: TimeFrame,
      rules: Rules,
      now: Long,
      consolidateBy: Option[String] = None,
      appendEmpty: Boolean = false,
      versionMode: Render.VersionMode = Render.VersionMode.DedupExact,
      cache: Option[RenderCache.At] = None): Seq[Aliased] = {
    val paths = targets.flatMap(_._2.map(_._1))
    val rolled = Render.render(points, paths, tf, rules, now, consolidateBy,
      versionMode = versionMode, cache = cache)
    fanOut(fill(rolled, tf, appendEmpty), targets)
  }
}
