package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.TimeFrame
import graft.rollup.{AggFunc, Rules}
import graft.time.StepMath

/** The Spark half of /render: one declarative plan per (step,
  * function) group — the analog of the ClickHouse query the reference
  * sends (`render/data/query.go:141-282`,
  * `helper/rollup/rules.go:370-502`, `helper/point/func.go:29-51`).
  *
  * Pipeline: points filtered to the found paths (`path IN (…)`)  →
  * version resolution (per [[VersionMode]])  →  time-bucket rollup
  * (`t' = t - t % step`, per-metric aggregation). The groups' union is
  * collected once, and the plan ends there, at the rolled rows. Gap
  * fill, the empty-series rule and alias fan-out work on the found
  * list × the grid, which is already on the driver, so they run there
  * ([[SeriesAssembly]]) — as the reference's Go coordinator does
  * them after ClickHouse returns its rows.
  *
  * Scale notes: like the reference (`render/handler.go` collects the
  * found metrics on the coordinator), the found-path set is a
  * driver-side list, so the path filter is a literal IN list and no
  * join touches the data. Nothing bounds that list today: the
  * `max-metrics-per-target` guard (`Routing.checkMetricsPerTarget`)
  * has no caller. The data-sized work is the version resolution and
  * the (path, bucket) aggregation behind one shuffle by `path`,
  * distributed like the reference's `-Resample` ClickHouse pushdown
  * (`doc/aggregation.md:96-140`). The collect is bounded by found
  * paths × grid points, and the grid by `maxDataPoints`, never by the
  * stored row count.
  *
  * Repeat reads: the HTTP server passes its [[RenderCache]], pinned to
  * the [[StoreSnapshot]] version it opens `points` from. A group's
  * rolled rows depend only on its plan and on the `points` files
  * Spark reads, and a version names one fixed file list, so each
  * planned group is looked up by its plan under that version before
  * anything is planned. A render whose
  * groups all hit opens no table and starts no Spark job — the part
  * of the reference's millisecond reads that a per-query Spark floor
  * (about 100 ms of planning and 2 jobs) cannot otherwise reach.
  */
object Render {

  /** Plan-explosion cap (SURVEY §7.4 risk 1): past this many distinct
    * (step, function) groups, [[render]] coalesces each function's
    * groups onto the LCM of their steps.
    */
  private val MaxGroups = 32

  /** One (step, function) execution group (`render/data/query.go:318-378`):
    * metrics sharing rollup step and aggregation run in one plan.
    */
  final case class FuncGroup(step: Long, func: AggFunc, paths: Seq[String])

  /** How duplicate writes are resolved before bucket rollup — the
    * three observable states of the reference's storage pipeline:
    *
    *   - [[VersionMode.DedupExact]]: max version wins per EXACT
    *     (path, time) — ReplacingMergeTree read semantics before any
    *     GraphiteMergeTree rollup merge ran (`helper/point/func.go:29-51`).
    *     The engine default.
    *   - [[VersionMode.MergedCells]]: GraphiteMergeTree *merged*
    *     semantics (ClickHouse `GraphiteRollupSortedAlgorithm`, pinned
    *     by `tests/agg_latest` vs `tests/agg_oneblock`): within each
    *     retention precision cell, rows from the newest write batch
    *     (max version) win outright; rows sharing that max version
    *     aggregate with the rule function. A later write REPLACES the
    *     cell for every function.
    *   - [[VersionMode.Raw]]: no version resolution — every stored row
    *     aggregates (`internal-aggregation = true`'s `-Resample` SQL,
    *     which reads raw rows with no FINAL/version handling;
    *     `tests/agg_internal` "Deduplication not work").
    */
  sealed trait VersionMode
  object VersionMode {
    case object DedupExact extends VersionMode
    case object MergedCells extends VersionMode
    case object Raw extends VersionMode
  }

  /** Partition the found metrics by (step, function) via rollup-rule
    * lookup (A3/A6), with the `consolidateBy` override (A8,
    * `render/data/targets.go:134-174`).
    */
  def functionGroups(
      paths: Seq[String],
      rules: Rules,
      now: Long,
      tf: TimeFrame,
      consolidateBy: Option[String] = None): Seq[FuncGroup] = {
    val age = math.max(0L, now - tf.from)
    // unknown consolidateBy is a request error, not a silent fallback
    // (`render/data/targets.go:160-170` → HTTP 400)
    val overrideFunc = consolidateBy.map(n =>
      AggFunc.fromName(n).getOrElse(throw new IllegalArgumentException(
        s"failed to choose appropriate aggregation function: $n")))
    paths
      .map { p =>
        val (prec, fn) = rules.lookup(p, age)
        (prec, overrideFunc.getOrElse(fn), p)
      }
      .groupBy { case (prec, fn, _) => (prec, fn) }
      .map { case ((prec, fn), rows) => FuncGroup(prec, fn, rows.map(_._3)) }
      .toSeq
      .sortBy(g => (g.step, g.func.name))
  }

  /** Version dedup — ReplacingMergeTree read semantics
    * (`helper/point/func.go:29-51`): the max-`version` write wins per
    * (path, time). `max_by` keeps it a single two-phase aggregate (no
    * window/sort), with (version, value) struct ordering pinning ties
    * deterministically.
    */
  def dedup(points: DataFrame): DataFrame =
    points
      .groupBy(col("path"), col("time"))
      .agg(max_by(col("value"), struct(col("version"), col("value"))).as("value"))

  /** Spark aggregation column for a storage function (A1). `any` /
    * `anyLast` are the *time-ordered* first/last, pinned with
    * `min_by`/`max_by` over (time, version) — deterministic under
    * shuffle, unlike collect-order kernels (SURVEY §7.4 risk 4).
    */
  def aggColumn(func: AggFunc, value: Column, time: Column, version: Column): Column =
    func match {
      case AggFunc.Avg     => avg(value)
      case AggFunc.Sum     => sum(value)
      case AggFunc.Min     => min(value)
      case AggFunc.Max     => max(value)
      case AggFunc.Any     => min_by(value, struct(time, version))
      case AggFunc.AnyLast => max_by(value, struct(time, version))
    }

  /** Time-bucket rollup of deduped points (A2,
    * `helper/rollup/rules.go:370-407`): `t' = t - t % step`, aggregate
    * per (path, t').
    */
  def rollup(deduped: DataFrame, step: Long, func: AggFunc): DataFrame = {
    val bucket = (col("time") - pmod(col("time"), lit(step))).as("time")
    deduped
      .groupBy(col("path"), bucket)
      .agg(aggColumn(func, col("value"), col("time"), lit(0L)).as("value"))
  }

  /** Dedup then bucket-rollup — the reference's Sort→Uniq→Rollup
    * sequence (`render/data/query.go:244-269`) as two hash aggregates.
    */
  def dedupAndRollup(points: DataFrame, step: Long, func: AggFunc): DataFrame =
    rollup(dedup(points), step, func)

  /** GraphiteMergeTree merged-cell read semantics
    * ([[VersionMode.MergedCells]]): one row per (path, precision
    * cell), value = rule function over the max-version rows of the
    * cell (a newer write batch replaces older ones; ties within the
    * winning batch aggregate). One hash aggregate; the per-cell
    * `collect_list` holds only that cell's duplicate writes (bounded
    * by writes-per-cell, not data size), mirroring the bounded
    * per-metric slice the reference's client rollup holds in memory
    * (`helper/rollup/rules.go:407-444`).
    */
  def mergeCells(points: DataFrame, precision: Long, func: AggFunc): DataFrame = {
    val cell = (col("time") - pmod(col("time"), lit(precision))).as("cell")
    val collected = points
      .groupBy(col("path"), cell)
      .agg(
        max(col("version")).as("vmax"),
        collect_list(struct(col("version"), col("time"), col("value"))).as("arr"))
    // winners: max-version rows, exact-time-deduped to ONE row per
    // time (max value pins the tie like dedup's (version, value)
    // struct order; array_distinct first, so byte-identical duplicate
    // writes can't double-count under sum), time-sorted
    val maxed = array_distinct(filter(col("arr"), x =>
      x.getField("version") === col("vmax")))
    val winners = array_sort(filter(maxed, x =>
      !exists(maxed, y =>
        y.getField("time") === x.getField("time") &&
          y.getField("value") > x.getField("value"))))
    val values = transform(winners, _.getField("value"))
    val n = size(values)
    val agged = func match {
      case AggFunc.Avg =>
        aggregate(values, lit(0.0), _ + _) / n
      case AggFunc.Sum     => aggregate(values, lit(0.0), _ + _)
      case AggFunc.Min     => array_min(values)
      case AggFunc.Max     => array_max(values)
      case AggFunc.Any     => element_at(values, 1)
      case AggFunc.AnyLast => element_at(values, -1)
    }
    collected.select(col("path"), col("cell").as("time"), agged.as("value"))
  }

  /** Fetch one function group: found-path filter (J1,
    * `render/data/query.go:428-433`) + window filter + version
    * resolution (per `versionMode`) + rollup, with from/until
    * alignment (W2, `query.go:417-420`). `cellPrecision` is the
    * storage rule precision (pre-maxDataPoints inflation) that
    * [[VersionMode.MergedCells]] merges on.
    *
    * The group's paths are already a driver-side list, so the filter
    * is a `path IN (…)` predicate (an InSet past ten paths) — the
    * reference's `Path IN (…)` WHERE clause. Parquet gets it pushed
    * down, and it costs no query stage, where a semi-join against the
    * same list as a relation costs a broadcast stage per request.
    */
  def fetchGroup(
      points: DataFrame,
      group: FuncGroup,
      tf: TimeFrame,
      versionMode: VersionMode = VersionMode.DedupExact,
      cellPrecision: Long = 0L): DataFrame = {
    val (from, until) = StepMath.alignFromUntil(tf.from, tf.until, group.step)
    val filtered = points
      .where(col("time").between(from, until) && col("path").isin(group.paths: _*))
    // Both aggregates of a two-aggregate mode key on `path`, so one
    // exchange by `path` serves both: it ships the filtered rows
    // instead of partial aggregates, and saves a query stage. Measured
    // against the same code without it (perfbench, 20 s runs,
    // interleaved pairs, 4 cores, medians): `live` req_p50 362 → 298 ms
    // (5/5 pairs), `dashboard` 219 → 219 ms (3/5), `headline` 713 →
    // 683 ms (3/3); graft.Bench `g_render_headline` at sf0.1, medians
    // of 3 interleaved runs, 2.09 → 1.86 s (2/3).
    lazy val byPath = filtered.repartition(col("path"))
    versionMode match {
      case VersionMode.DedupExact => dedupAndRollup(byPath, group.step, group.func)
      case VersionMode.Raw        => rollup(filtered, group.step, group.func)
      case VersionMode.MergedCells =>
        val prec = if (cellPrecision > 0) cellPrecision else group.step
        rollup(mergeCells(byPath, prec, group.func), group.step, group.func)
    }
  }

  /** Hot ∪ cold union (S5/J3, `render/data/data.go:94-130`): recent
    * not-yet-compacted points (the carbonlink replacement — in Spark,
    * the streaming hot table / latest micro-batches) unioned with the
    * cold store. Version precedence is NOT resolved here — the shared
    * read-side `dedup` (max version wins) downstream handles it, so
    * late duplicates across the hot/cold boundary are correct by
    * construction.
    */
  def hotColdUnion(cold: DataFrame, hot: DataFrame): DataFrame = {
    val cols = Seq("path", "time", "value", "version").map(col)
    cold.select(cols: _*).unionByName(hot.select(cols: _*))
  }

  /** One planned group's rolled rows, dense over its aligned window
    * `[from', until']` (`StepMath.alignFromUntil`): cell
    * `i * buckets + j` holds path `group.paths(i)` at
    * `start + j * group.step`, and `present` marks the cells a rolled
    * row filled, so an absent bucket stays apart from a stored NaN.
    * 8 bytes a cell plus a bit — the form a render returns and
    * [[RenderCache]] keeps. Not mutated once built.
    */
  final class GroupRows private (val group: FuncGroup, start: Long, buckets: Int) {
    private val values = new Array[Double](group.paths.length * buckets)
    private val present = new java.util.BitSet

    /** Path `path`'s rolled value at `time`; `None` where no row. */
    def at(path: Int, time: Long): Option[Double] = {
      val c = cell(path, time)
      if (c >= 0 && present.get(c)) Some(values(c)) else None
    }

    /** The cell of path `path` at `time`, -1 off the window's grid. */
    private def cell(path: Int, time: Long): Int = {
      val offset = time - start
      if (offset < 0 || offset % group.step != 0 || offset / group.step >= buckets) -1
      else path * buckets + (offset / group.step).toInt
    }
  }

  object GroupRows {

    /** Lay collected (path, time, value) rows out per group; a null
      * value is no row.
      */
    def of(groups: Seq[FuncGroup], tf: TimeFrame, rows: Array[Row]): Seq[GroupRows] = {
      val laid = groups.map { g =>
        val (from, until) = StepMath.alignFromUntil(tf.from, tf.until, g.step)
        new GroupRows(g, from, math.max(0L, (until + 1 - from) / g.step).toInt)
      }
      val slot = (for (b <- laid; (p, i) <- b.group.paths.zipWithIndex) yield p -> (b, i)).toMap
      rows.foreach { r =>
        val (b, i) = slot(r.getString(0))
        val c = b.cell(i, r.getLong(1))
        if (c >= 0 && !r.isNullAt(2)) {
          b.values(c) = r.getDouble(2)
          b.present.set(c)
        }
      }
      laid
    }
  }

  /** A render's Spark output: each planned group — its `step` the one
    * its rows were rolled to, after the >32-group coarsening and
    * `maxDataPoints` inflation — with its rolled rows.
    * [[SeriesAssembly]] builds the response from it.
    */
  final case class Rolled(groups: Seq[GroupRows])

  /** Render one timeframe over an already-found path set:
    * per-(step, func) fan-out (A6), `maxDataPoints` step inflation
    * (A7, `StepMath.aggregatedStep`), the union of the group plans
    * (U1), collected.
    *
    * With a `cache`, each planned group is looked up first and only
    * the missing ones are planned and collected; `points` (by name, so
    * pass the opener, not an opened table) must open the snapshot the
    * cache is pinned to, and is opened only if a group is missing, so
    * a render served whole from the cache opens no table and starts no
    * Spark job. The cache is exact ([[RenderCache]]): a hit holds the
    * rows this plan would collect.
    */
  def render(
      points: => DataFrame,
      foundPaths: Seq[String],
      tf: TimeFrame,
      rules: Rules,
      now: Long,
      consolidateBy: Option[String] = None,
      commonStep: Boolean = false,
      versionMode: VersionMode = VersionMode.DedupExact,
      cache: Option[RenderCache.At] = None): Rolled = {
    val groups0 = functionGroups(foundPaths.distinct, rules, now, tf, consolidateBy)
    // A7 common step: the reference unifies the step across ALL
    // targets of a timeframe (LCM, `render/data/common_step.go:10-63`)
    // and fans out per *function* only; per-(step,func) groups are the
    // finer-grained generalization. Both supported.
    val groups1 =
      if (commonStep) {
        val lcm = groups0.map(_.step).reduceOption(StepMath.combineSteps).getOrElse(60L)
        groups0.groupBy(_.func).map { case (fn, gs) =>
          FuncGroup(lcm, fn, gs.flatMap(_.paths))
        }.toSeq.sortBy(_.func.name)
      } else groups0
    // plan-explosion cap: beyond `MaxGroups` distinct (step, func)
    // plans, coalesce per function onto the LCM step — same results
    // on a coarser-but-valid grid.
    val groups =
      if (groups1.length <= MaxGroups) groups1
      else groups1.groupBy(_.func).map { case (fn, gs) =>
        FuncGroup(gs.map(_.step).reduce(StepMath.combineSteps), fn, gs.flatMap(_.paths))
      }.toSeq.sortBy(_.func.name)
    // each group at its rolled step, paths sorted (the cache key's
    // order); `cellPrecision` keeps the storage step MergedCells uses
    val keys = groups.map { g =>
      val rolled = FuncGroup(
        StepMath.aggregatedStep(g.step, tf.from, tf.until, tf.maxDataPoints), g.func, g.paths.sorted)
      val (from, until) = StepMath.alignFromUntil(tf.from, tf.until, rolled.step)
      RenderCache.Key(versionMode, g.step, rolled, from, until)
    }
    lazy val pts = points
    def load(missing: Seq[RenderCache.Key]): Seq[GroupRows] = {
      val frames = missing.map(k => fetchGroup(pts, k.group, tf, versionMode, cellPrecision = k.cellPrecision))
      // an empty find result runs no job (`render/handler.go` returns
      // the empty body)
      val rows = frames.reduceOption(_.unionByName(_)).fold(Array.empty[Row])(_.collect())
      GroupRows.of(missing.map(_.group), tf, rows)
    }
    Rolled(cache match {
      case Some(c) if keys.nonEmpty => c.cache.through(c.version, keys)(load)
      case _ => load(keys)
    })
  }
}
