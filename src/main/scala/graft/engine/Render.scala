package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.TimeFrame
import graft.rollup.{AggFunc, Rules}
import graft.time.StepMath

/** The /render data path re-expressed as one declarative Spark plan
  * per (step, function) group — the Spark-native analog of
  * `render/data/query.go:141-282` + `helper/rollup/rules.go:370-502` +
  * `helper/point/func.go:29-118`.
  *
  * Pipeline: points filtered to the found paths (`path IN (…)`)  →
  * version dedup (max version wins per (path, time))  →  time-bucket
  * rollup (`t' = t - t % step`, per-metric aggregation)  →  gap-fill
  * onto the regular `[start, stop)` grid  →  alias fan-out.
  *
  * Scale notes (100 TB): the found-path set is bounded by admission
  * control (`max-metrics-per-target`), so the path filter is a literal
  * IN list and the alias join broadcasts; the only data-sized shuffle
  * is the (path, bucket) aggregation, which Catalyst executes as
  * partial+final HashAggregate — the distributed property the
  * reference bought with its `-Resample` ClickHouse pushdown
  * (`doc/aggregation.md:96-140`). The gap-fill grid is bounded by
  * `maxDataPoints` per series, never a global cross product.
  */
object Render {

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
    versionMode match {
      case VersionMode.DedupExact => dedupAndRollup(filtered, group.step, group.func)
      case VersionMode.Raw        => rollup(filtered, group.step, group.func)
      case VersionMode.MergedCells =>
        val prec = if (cellPrecision > 0) cellPrecision else group.step
        rollup(mergeCells(filtered, prec, group.func), group.step, group.func)
    }
  }

  /** Gap-fill (W1, `helper/point/func.go:53-118`): project each series
    * onto the regular grid `[start, stop)` (`start = ceil(from/step)*step`,
    * `stop = floor(until/step)*step + step`); missing buckets are null
    * (the engine's absent-point sentinel; NaN at the wire layer).
    *
    * `seriesPaths` bounds the output: grid length ≤ maxDataPoints and
    * |paths| ≤ max-metrics-per-target, so the paths × grid frame is a
    * small broadcast-side relation, never a data-sized cross join.
    */
  def gapFill(
      rolled: DataFrame,
      seriesPaths: DataFrame,
      tf: TimeFrame,
      step: Long): DataFrame = {
    val (start, stop) = StepMath.gridBounds(tf.from, tf.until, step)
    // a window containing no step-aligned bucket yields the empty grid
    // (Spark's sequence with positive step THROWS on start > stop)
    if (start > stop - step)
      return seriesPaths.limit(0)
        .select(col("path"), lit(0L).as("time"), lit(null).cast("double").as("value"))
    val grid = seriesPaths
      .select(col("path"),
        explode(sequence(lit(start), lit(stop - step), lit(step))).as("time"))
    grid.join(rolled, Seq("path", "time"), "left_outer")
      .select(col("path"), col("time"), col("value"))
  }

  /** Alias fan-out (J2, `pkg/alias/map.go:36-70`): one found series is
    * displayed under every (target, displayName) that matched it. The
    * alias relation is find-result-sized → broadcast inner join.
    */
  def aliasJoin(result: DataFrame, aliases: DataFrame): DataFrame =
    result.join(broadcast(aliases), Seq("path"), "inner")

  /** Empty-series synthesis (W4, `render/data/ch_response.go:98-107`):
    * found metrics without any point in the window still emit a row
    * per grid bucket (all-null values) when `append-empty-series` is
    * set. Implemented as the gap-fill grid left-join itself — paths
    * with no data fall out with null values — so the anti-join is
    * implicit; this helper filters either behavior.
    *
    * Without append, a series whose grid is all null is dropped; a
    * stored NaN is a point (`count` skips only nulls), so an all-NaN
    * series stays. The per-path count is a window over the input, not
    * an aggregate joined back to it, so the render subtree appears in
    * the plan once and costs one shuffle.
    */
  def withEmptySeries(
      gapFilled: DataFrame,
      appendEmpty: Boolean): DataFrame =
    if (appendEmpty) gapFilled
    else
      gapFilled
        .withColumn("n_present", count(col("value")).over(Window.partitionBy("path")))
        .where(col("n_present") > 0)
        .drop("n_present")

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

  /** Multi-target render (U1 + J2): one timeframe, many targets. All
    * targets' found paths run through the shared per-(step,func)
    * fan-out — one scan family serves every target, as the reference's
    * common-step design intends (`render/data/common_step.go`) — and
    * the alias map then fans each series out to every (target,
    * display name) that matched it (`pkg/alias/map.go:36-70`).
    *
    * `targets` maps a raw target expression to its found
    * (path, displayName) pairs.
    */
  def renderMulti(
      points: DataFrame,
      targets: Seq[(String, Seq[(String, String)])],
      tf: TimeFrame,
      rules: Rules,
      now: Long,
      consolidateBy: Option[String] = None,
      appendEmpty: Boolean = false,
      versionMode: VersionMode = VersionMode.DedupExact): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val aliasRows = targets.flatMap { case (target, pairs) =>
      pairs.map { case (path, display) => (path, target, display) }
    }
    val aliases = spark.createDataset(aliasRows)
      .toDF("path", "target", "display_name")
    val allPaths = targets.flatMap(_._2.map(_._1)).distinct
    val rendered = render(
      points, allPaths, tf, rules, now, consolidateBy, appendEmpty,
      versionMode = versionMode)
    aliasJoin(rendered, aliases)
  }

  /** Fully-distributed render — the 100 TB shape (SURVEY §7.4 risk 6):
    * the found-path set stays a DataFrame end to end. Rule lookup is a
    * broadcast-sized CASE chain (`Rules.lookupColumns`), the
    * heterogeneous per-path (step, function) run in ONE plan (all six
    * aggregates computed per bucket, the per-path function selected
    * with a CASE), and the gap-fill grid is generated per path from
    * its own step column. No driver-side path list, no per-group plan
    * fan-out; Catalyst/AQE pick broadcast vs shuffle for the metadata
    * join by size.
    *
    * Semantically identical to `render` (oracle-checked against the
    * same SQL); use it when the found set may exceed
    * `max-metrics-per-target`-scale driver materialization.
    */
  def renderScalable(
      points: DataFrame,
      foundPaths: DataFrame,
      tf: TimeFrame,
      rules: Rules,
      now: Long,
      consolidateBy: Option[String] = None,
      appendEmpty: Boolean = false,
      versionMode: VersionMode = VersionMode.DedupExact): DataFrame = {
    val meta = scalableMeta(foundPaths, tf, rules, now, consolidateBy)
    renderScalableWithMeta(points, meta, tf, rules, now, appendEmpty, versionMode)
  }

  /** Per-path (rule precision, effective step, function) as a PLAN —
    * the distributed twin of [[functionGroups]] +
    * [[SeriesAssembly.perPathMeta]]: rule lookup is a broadcast-sized
    * CASE chain over the path column, the A7 maxDataPoints inflation
    * is column arithmetic. Callers that need the meta alongside the
    * rendered rows (response assembly) compute it once and pass it to
    * [[renderScalableWithMeta]].
    */
  def scalableMeta(
      foundPaths: DataFrame,
      tf: TimeFrame,
      rules: Rules,
      now: Long,
      consolidateBy: Option[String] = None): DataFrame = {
    val age = math.max(0L, now - tf.from)
    val overrideFunc = consolidateBy.map(n =>
      AggFunc.fromName(n).getOrElse(throw new IllegalArgumentException(
        s"failed to choose appropriate aggregation function: $n")))
    val (precCol, fnCol) = rules.lookupColumns(col("path"), age)

    // per-path step: A7 maxDataPoints inflation as column arithmetic
    val mdpFloor = StepMath.ceilDiv(tf.until - tf.from, tf.maxDataPoints)
    val base = greatest(precCol, lit(mdpFloor))
    val stepCol = (floor((base + precCol - lit(1)) / precCol) * precCol).cast("long")
    foundPaths.select(
      col("path"),
      precCol.cast("long").as("prec"),
      stepCol.as("step"),
      overrideFunc.map(f => lit(f.name)).getOrElse(fnCol).as("func"))
  }

  /** [[renderScalable]] body over a precomputed [[scalableMeta]]
    * frame. Version resolution follows `versionMode` like
    * [[fetchGroup]], but with the per-path precision/step/function as
    * COLUMNS, so heterogeneous rule groups still run in one plan.
    *
    * One deliberate divergence from [[render]]: there is no
    * `maxGroups` coarsening here. The collected path coalesces
    * per-(step, func) groups onto LCM steps past 32 groups because
    * each group is a separate plan subtree (SURVEY §7.4 risk 1); this
    * path has exactly ONE subtree regardless of group count, so every
    * path keeps its own exact step. Responses are byte-identical to
    * the collected path whenever it did not coarsen (fixture-pinned);
    * past 32 distinct rule groups the scalable grid is the FINER,
    * semantically-valid one.
    */
  def renderScalableWithMeta(
      points: DataFrame,
      meta: DataFrame,
      tf: TimeFrame,
      rules: Rules,
      now: Long,
      appendEmpty: Boolean = false,
      versionMode: VersionMode = VersionMode.DedupExact): DataFrame = {
    val age = math.max(0L, now - tf.from)

    // per-path aligned fetch window (W2)
    val fromC = lit(tf.from); val untilC = lit(tf.until)
    val alignedFrom = (floor((fromC + col("step") - 1) / col("step")) * col("step")).cast("long")
    val alignedUntil = (floor(untilC / col("step")) * col("step") + col("step") - 1).cast("long")

    // coarse global time filter (steps vary per path; exact per-path
    // filter applied after the metadata join). The slack bound is the
    // largest step any rule can yield at this age.
    val maxStep = (rules.patterns.flatMap(_.precisionFor(age)) :+ 60L)
      .map(p => StepMath.aggregatedStep(p, tf.from, tf.until, tf.maxDataPoints))
      .max
    val maxSlack = tf.until + maxStep
    val joined = points
      .where(col("time").between(tf.from, maxSlack))
      .join(meta, Seq("path"))
      .where(col("time").between(alignedFrom, alignedUntil))

    // version resolution per `versionMode` (the column-wise twin of
    // fetchGroup's dispatch), then bucket rollup (A2) in one aggregate
    // chain; the function varies per path, so compute every aggregate
    // and select
    val deduped = versionMode match {
      case VersionMode.DedupExact =>
        joined
          .groupBy(col("path"), col("step"), col("func"), col("time"))
          .agg(max_by(col("value"), struct(col("version"), col("value"))).as("value"))
      case VersionMode.Raw =>
        joined.select(col("path"), col("step"), col("func"), col("time"), col("value"))
      case VersionMode.MergedCells =>
        // mergeCells with the precision as a COLUMN: one row per
        // (path, rule-precision cell), max-version write batch wins,
        // cell rows aggregated by the path's own rule function
        val cell = (col("time") - pmod(col("time"), col("prec"))).as("cell")
        val collected = joined
          .groupBy(col("path"), col("prec"), col("step"), col("func"), cell)
          .agg(
            max(col("version")).as("vmax"),
            collect_list(struct(col("version"), col("time"), col("value"))).as("arr"))
        val maxed = array_distinct(filter(col("arr"), x =>
          x.getField("version") === col("vmax")))
        val winners = array_sort(filter(maxed, x =>
          !exists(maxed, y =>
            y.getField("time") === x.getField("time") &&
              y.getField("value") > x.getField("value"))))
        val values = transform(winners, _.getField("value"))
        val n = size(values)
        val agged = when(col("func") === "avg", aggregate(values, lit(0.0), _ + _) / n)
          .when(col("func") === "sum", aggregate(values, lit(0.0), _ + _))
          .when(col("func") === "min", array_min(values))
          .when(col("func") === "max", array_max(values))
          .when(col("func") === "any", element_at(values, 1))
          .when(col("func") === "anyLast", element_at(values, -1))
        collected.select(col("path"), col("step"), col("func"),
          col("cell").as("time"), agged.as("value"))
    }
    val bucket = (col("time") - pmod(col("time"), col("step"))).as("time")
    val rolled = deduped
      .groupBy(col("path"), col("step"), col("func"), bucket)
      .agg(
        avg(col("value")).as("v_avg"),
        sum(col("value")).as("v_sum"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"),
        min_by(col("value"), struct(col("time"), lit(0L))).as("v_any"),
        max_by(col("value"), struct(col("time"), lit(0L))).as("v_anylast"))
      .select(col("path"), col("time"),
        when(col("func") === "avg", col("v_avg"))
          .when(col("func") === "sum", col("v_sum"))
          .when(col("func") === "min", col("v_min"))
          .when(col("func") === "max", col("v_max"))
          .when(col("func") === "any", col("v_any"))
          .when(col("func") === "anyLast", col("v_anylast"))
          .as("value"))

    // per-path gap-fill grid from the step column (W1)
    val gridStart0 = (fromC - pmod(fromC, col("step"))).cast("long")
    val gridStart = when(gridStart0 < fromC, gridStart0 + col("step")).otherwise(gridStart0)
    val gridStop = (untilC - pmod(untilC, col("step")) + col("step")).cast("long")
    // per-path guard: zero-bucket windows explode an empty array (a
    // positive-step sequence with start > stop throws)
    val gridSeq = when(gridStart <= gridStop - col("step"),
      sequence(gridStart, gridStop - col("step"), col("step")))
      .otherwise(array().cast("array<long>"))
    val grid = meta.select(col("path"), explode(gridSeq).as("time"))
    val filled = grid.join(rolled, Seq("path", "time"), "left_outer")
      .select(col("path"), col("time"), col("value"))
    withEmptySeries(filled, appendEmpty)
  }

  /** Multi-timeframe render — the full `MultiTarget` request shape
    * (`render/data/multi_target.go:21-28,153-248`): independent
    * timeframes (e.g. carbonapi v3 batches with different windows)
    * render separately and union, each row carrying its request
    * window. The reference fans these out as goroutines; here each
    * timeframe contributes an independent subtree of one union plan
    * and Spark schedules them together.
    */
  def renderMultiTimeframe(
      points: DataFrame,
      requests: Seq[(TimeFrame, Seq[(String, Seq[(String, String)])])],
      rules: Rules,
      now: Long,
      consolidateBy: Option[String] = None,
      appendEmpty: Boolean = false): DataFrame = {
    val frames = requests.map { case (tf, targets) =>
      renderMulti(points, targets, tf, rules, now, consolidateBy, appendEmpty)
        .withColumn("req_from", lit(tf.from))
        .withColumn("req_until", lit(tf.until))
    }
    if (frames.isEmpty) {
      val spark = points.sparkSession
      import spark.implicits._
      spark.createDataset(Seq.empty[(String, String, String, Long, Option[Double], Long, Long)])
        .toDF("path", "target", "display_name", "time", "value", "req_from", "req_until")
    } else frames.reduceLeft(_.unionByName(_))
  }

  /** Full render of one timeframe over an already-found path set:
    * per-(step,func) fan-out (A6), union of group results (U1), then
    * gap-fill per group step. `maxDataPoints` inflates the step per
    * A7 (`StepMath.aggregatedStep`).
    */
  def render(
      points: DataFrame,
      foundPaths: Seq[String],
      tf: TimeFrame,
      rules: Rules,
      now: Long,
      consolidateBy: Option[String] = None,
      appendEmpty: Boolean = false,
      commonStep: Boolean = false,
      maxGroups: Int = 32,
      versionMode: VersionMode = VersionMode.DedupExact): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val groups0 = functionGroups(foundPaths, rules, now, tf, consolidateBy)
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
    // plan-explosion cap (SURVEY §7.4 risk 1): beyond `maxGroups`
    // distinct (step, func) plans, coalesce per function onto the LCM
    // step — same results on a coarser-but-valid grid.
    val groups =
      if (groups1.length <= maxGroups) groups1
      else groups1.groupBy(_.func).map { case (fn, gs) =>
        FuncGroup(gs.map(_.step).reduce(StepMath.combineSteps), fn, gs.flatMap(_.paths))
      }.toSeq.sortBy(_.func.name)
    val frames = groups.map { g =>
      val step = StepMath.aggregatedStep(g.step, tf.from, tf.until, tf.maxDataPoints)
      val effective = g.copy(step = step)
      val rolled = fetchGroup(points, effective, tf, versionMode, cellPrecision = g.step)
      val pathsDf = spark.createDataset(g.paths).toDF("path")
      withEmptySeries(gapFill(rolled, pathsDf, tf, step), appendEmpty)
    }
    // empty find result → empty response (`render/handler.go` returns
    // the empty body), not a planner error
    if (frames.isEmpty)
      spark.createDataset(Seq.empty[(String, Long, Option[Double])])
        .toDF("path", "time", "value")
    else frames.reduceLeft(_.unionByName(_))
  }
}
