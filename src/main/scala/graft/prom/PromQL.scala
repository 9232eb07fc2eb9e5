package graft.prom

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PromQL subset for `/api/v1/query_range` and `/api/v1/query` —
  * what a Grafana dashboard / alert-rule workload hits over the
  * Graphite-tagged storage: instant vector selectors,
  * `rate`/`increase`/`*_over_time` over a range selector,
  * `sum`/`avg`/`min`/`max`/`count`/`stddev`/`stdvar`/`group`/
  * `quantile(φ, …)` aggregation with `by`/`without` grouping,
  * `topk`/`bottomk`, `histogram_quantile` with `le`-bucket
  * interpolation, the range-function family (`delta`/`idelta`/
  * `irate`/`resets`/`changes`/`deriv`/`predict_linear`/
  * `quantile_over_time` and the rest of `*_over_time`), scalar math
  * (`abs`…`clamp*`), `absent`, `label_replace`/`label_join`,
  * parenthesized nesting, and space-separated binary
  * operators: arithmetic (`+ - * / % ^`), comparisons (filter mode,
  * or 0/1 with `bool`), and the set operators `and`/`or`/`unless` —
  * all with `on(…)`/`ignoring(…)` match keys and
  * `group_left(…)`/`group_right(…)` many-to-one matching; `atan2`
  * rides the multiplicative tier like upstream. The
  * reference serves full PromQL by importing the stock upstream
  * engine (`prometheus/run.go:28-83`); this evaluator covers the
  * subset natively — and distributed — instead, on the same
  * matcher→tagged-term seam (`prometheus/querier_select.go:95-147`).
  *
  * `rate`/`increase`/`delta` follow upstream's extrapolatedRate
  * semantics exactly (`promql/functions.go`): window-edge
  * extrapolation capped at half the average sample spacing, counter
  * zero-crossing clamp for the counter forms, no reset correction for
  * the gauge `delta`. The extension names `xrate`/`xincrease` are
  * kept as aliases from rounds where the classic non-extrapolated
  * form was the default.
  *
  * Declared divergence: durations resolve at ONE-SECOND granularity
  * because the storage step and eval grid are whole-second
  * (Graphite-style) rather than millisecond-based like Prometheus.
  * Whole-second `ms` durations (`[2000ms]`) convert exactly;
  * sub-second ones (`[500ms]`, `[1500ms]`) are rejected with a parse
  * error instead of being silently widened.
  *
  * Function-table parity (swept against the pinned upstream,
  * v2024-08-27): every function and aggregation in upstream's table
  * is implemented EXCEPT (a) the native-histogram family
  * (`histogram_count`/`histogram_sum`/`histogram_avg`/
  * `histogram_fraction`/`histogram_stddev`/`histogram_stdvar` and
  * `histogram_quantile`'s native-sample path) — the Graphite-tagged
  * storage model has no native-histogram sample type, so only the
  * classic `le`-bucket `histogram_quantile` applies; and (b) the
  * 3.x experimental `info()` and `ts_of_*_over_time`. `limitk`/
  * `limit_ratio`/`sort_by_label{,_desc}`/`mad_over_time`/
  * `double_exponential_smoothing` (upstream's experimental set) and
  * `@ start()`/`@ end()` ARE implemented; `first_over_time` is a
  * superset extension.
  *
  * Evaluation is one distributed pass, scale-shaped for wide fleets:
  * each sample is exploded onto the [t₀+n·step] eval slots it can
  * serve (bounded by window/step slots per sample), then ONE hash
  * aggregate per (series, slot) computes the vector — no range join,
  * no per-series driver loop, no full-window sort except inside
  * `rate`'s bounded per-slot sample list.
  */
object PromQL {

  /** Prometheus's default instant-vector staleness lookback (5 m). */
  val LookbackSec: Long = 300L

  sealed trait Expr { def matchers: Seq[(String, String, String)] }

  /** `metric{k="v"}` — instant vector, evaluated per grid point as
    * the most recent sample within the lookback window.
    */
  final case class Selector(matchers: Seq[(String, String, String)]) extends Expr

  /** `fn(metric{…}[range])` for fn ∈ rate | increase | delta | idelta |
    * irate | resets | changes | deriv | `*_over_time` — plus the
    * parameterized forms `quantile_over_time(φ, m[d])`,
    * `predict_linear(m[d], t)` and `holt_winters(m[d], sf, tf)`
    * whose scalars ride in `arg`/`arg2`.
    */
  final case class RangeFn(
      fn: String,
      sel: Selector,
      rangeSec: Long,
      arg: Option[Double] = None,
      arg2: Option[Double] = None) extends Expr {
    def matchers: Seq[(String, String, String)] = sel.matchers
  }

  /** `minute()` / `hour()` / `day_of_week()` / `day_of_month()` /
    * `day_of_year()` / `month()` / `year()` / `days_in_month()` — UTC
    * calendar components. The no-argument form is a label-less grid
    * series over the evaluation timestamps (the maintenance-window
    * idiom `alerts and on() (hour() >= 6)`); `fn(v)` maps each sample
    * VALUE through the component, labels kept and the metric name
    * dropped (Prometheus's rule for every value-transforming
    * function). Sub-day components are pure epoch arithmetic; the
    * calendar ones go through the timezone-free DATE type (epoch-day
    * offset from 1970-01-01), never the session zone.
    */
  final case class DateFn(fn: String, inner: Option[Expr] = None) extends Expr {
    def matchers: Seq[(String, String, String)] =
      inner.map(_.matchers).getOrElse(Seq.empty)
  }

  /** `fn(v)` scalar math over an instant vector — abs | ceil | floor |
    * round(v[, to_nearest]) | sqrt | exp | ln | log2 | log10 | sgn |
    * clamp(v, lo, hi) | clamp_min(v, lo) | clamp_max(v, hi). Applied
    * per sample; the metric name is dropped (as Prometheus does for
    * every math function), labels kept.
    */
  final case class MathFn(fn: String, args: Seq[Double], inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `absent(expr)` — 1 at every grid slot where `expr` evaluates to
    * no series, nothing elsewhere. The result labels derive from the
    * inner selector's equality matchers sans `__name__`, like
    * Prometheus (`absent(m{job="x"})` → `{job="x"}`).
    */
  final case class Absent(inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `label_replace(v, dst, replacement, src, regex)` — if `regex`
    * (anchored) matches the `src` label's value, set `dst` to the
    * replacement with `$1`-style group refs expanded; otherwise the
    * series passes through unchanged. Unlike the math functions the
    * name survives (and IS addressable as `__name__`).
    */
  final case class LabelReplace(
      dst: String, replacement: String, src: String, regex: String,
      inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `label_join(v, dst, sep, src1, src2, …)` — set `dst` to the
    * `sep`-joined values of the source labels (missing sources join as
    * empty), unconditionally.
    */
  final case class LabelJoin(
      dst: String, sep: String, srcs: Seq[String], inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `op by (l1, l2) (inner)` / `op without (l1, l2) (inner)` for
    * op ∈ sum | avg | min | max | count | stddev | stdvar | group —
    * Prometheus aggregation over the instant vector: one extra hash
    * aggregate per grid slot on the label subset (empty `by` collapses
    * to a single series; `without` keeps every label BUT the listed
    * ones and `__name__`). Output series keep only the group labels,
    * encoded back into the storage path form (`?k=v&…`, no name) so
    * the response assembly stays uniform. `by (__name__)` is not
    * supported (the name is not a query-string label in storage form).
    */
  final case class Agg(
      op: String, by: Seq[String], inner: Expr,
      without: Boolean = false) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `topk(k, inner)` / `bottomk(k, inner)` — per grid point, the k
    * series with the largest (smallest) value. Unlike [[Agg]] the
    * output series keep their full label sets; ties break on the
    * storage path for deterministic output (Prometheus leaves tie
    * order unspecified).
    */
  final case class RankK(
      op: String, k: Int, inner: Expr,
      by: Seq[String] = Nil, without: Boolean = false) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `quantile(φ, inner)` / `quantile by|without (labels) (φ, inner)`
    * — the φ-quantile (linear interpolation across series values, like
    * Prometheus) per grid point and group.
    */
  final case class Quantile(
      phi: Double, by: Seq[String], inner: Expr,
      without: Boolean = false) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** Vector-matching modifiers on a binary/set operator:
    * `on(labels)` (`on = true`) keys the match on exactly `labels`;
    * `ignoring(labels)` (`on = false`, labels non-empty) on everything
    * but them; the default (`on = false`, empty labels) on the full
    * label set sans `__name__`. `side` 1/2 = `group_left`/`group_right`
    * many-to-one matching, with `include` the labels copied over from
    * the "one" side onto the result (`group_left(instance)`).
    */
  final case class Matching(
      on: Boolean,
      labels: Seq[String],
      side: Int,
      include: Seq[String])
  object Matching {
    val OneToOne = 0; val GroupLeft = 1; val GroupRight = 2
    val default: Matching = Matching(on = false, Nil, OneToOne, Nil)
  }

  /** `lhs op rhs` for op ∈ + - * / % ^ and comparisons — vector
    * arithmetic with Prometheus's one-to-one matching on the match key
    * from [[Matching]] (default: full label set ignoring `__name__`;
    * the name is dropped from the result, as Prometheus does), or
    * many-to-one with `group_left`/`group_right`. Comparisons filter
    * (keeping the left row untouched) unless `boolMode` turns them
    * into 0/1-valued vectors. Declared divergence: if several series
    * on the "one" side of a match share a key, Prometheus hard-errors;
    * this evaluator deterministically keeps the max-(value, path)
    * entry (and for default one-to-one arithmetic degenerates to
    * many-to-many).
    */
  final case class BinOp(
      op: String,
      lhs: Expr,
      rhs: Expr,
      boolMode: Boolean = false,
      matching: Matching = Matching.default) extends Expr {
    def matchers: Seq[(String, String, String)] = lhs.matchers
  }

  /** `lhs and|or|unless rhs` — Prometheus set operators over instant
    * vectors, keyed per grid slot on the [[Matching]] key: `and` keeps
    * left rows whose key exists on the right (semi-join), `unless`
    * those whose key doesn't (anti-join), `or` all left rows plus the
    * right rows whose key has no left entry in that slot. Series keep
    * their full label sets and names, like Prometheus.
    */
  final case class SetOp(
      op: String,
      lhs: Expr,
      rhs: Expr,
      matching: Matching = Matching.default) extends Expr {
    def matchers: Seq[(String, String, String)] = lhs.matchers
  }

  /** `histogram_quantile(φ, inner)` — the classic-histogram quantile:
    * group the inner matrix by (labels minus `le`, slot), sort the
    * cumulative buckets by their upper bound, and linearly interpolate
    * within the bucket the φ-rank falls into, exactly Prometheus's
    * `bucketQuantile` (`promql/quantile.go`) including its edge cases
    * (±Inf for φ outside [0,1], NaN without a +Inf bucket or with < 2
    * buckets, highest finite bound when the rank lands in +Inf, lower
    * bound clamp for a first bucket with `le ≤ 0`), and its
    * monotonicity repair: each cumulative count is clamped to the
    * running max before interpolation, so float jitter after `rate`
    * (a bucket dipping below its predecessor) cannot produce an
    * out-of-range quantile.
    */
  final case class HistQuantile(phi: Double, inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `fn(inner[range:step])` — a range function over a SUBQUERY: the
    * inner expression is evaluated on its own absolutely-aligned grid
    * at `stepSec` resolution (empty step = the outer query step, like
    * Prometheus's default-to-evaluation-interval), and `fn` aggregates
    * the inner points falling in each outer slot's `(T-range, T]`
    * window. One extra evaluation pass at the inner resolution — the
    * window math itself reuses the same explode-onto-slots aggregate
    * as a plain range selector.
    */
  final case class SubQuery(
      fn: String,
      inner: Expr,
      rangeSec: Long,
      stepSec: Option[Long],
      arg: Option[Double] = None,
      arg2: Option[Double] = None) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `count_values("label", inner)` — per slot, the number of series
    * sharing each distinct value, keyed by a fresh label carrying the
    * value formatted Prometheus-style. One hash aggregate on the
    * formatted value.
    */
  final case class CountValues(label: String, inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** A numeric literal operand (`m * 60`, `m / 100`). */
  final case class Scalar(v: Double) extends Expr {
    def matchers: Seq[(String, String, String)] = Seq.empty
  }

  /** `time()` — the evaluation timestamp, a per-slot scalar. As a
    * binary operand it applies element-wise like a scalar (the
    * `time() - max_over_time(m[1h])` freshness-alert shape);
    * standalone it yields one label-less series whose value is the
    * slot time (Prometheus renders a scalar result type — declared
    * divergence in the envelope, same numbers).
    */
  case object TimeFn extends Expr {
    def matchers: Seq[(String, String, String)] = Seq.empty
  }

  /** `vector(v)` — one label-less series with constant value `v` at
    * every grid slot (the `expr or vector(0)` no-data fallback).
    */
  final case class VectorLit(v: Double) extends Expr {
    def matchers: Seq[(String, String, String)] = Seq.empty
  }

  /** `timestamp(v)` — per series, the timestamp of the sample each
    * instant-vector entry is based on: the raw latest-sample time for
    * a plain (possibly offset) selector, the evaluation slot time for
    * any derived vector (derived samples are minted at eval time,
    * exactly like Prometheus). Metric name dropped, like every
    * function.
    */
  final case class TimestampFn(inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `scalar(v)` — the single series' value at each slot when `v` has
    * exactly one series there, NaN otherwise. Scalar-TYPED: as a
    * binary operand it applies element-wise per slot (a broadcast
    * join on t, grid-sized); standalone it renders as one label-less
    * grid series (same declared envelope divergence as `time()`).
    */
  final case class ScalarFn(inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `sort(expr)` / `sort_desc(expr)` — value ordering of the instant
    * vector. A matrix relation has no row order, so evaluation is the
    * identity here; the instant-query response assembly orders by
    * value when the top-level expression is a Sort (range responses
    * are keyed by series, where Prometheus ignores sort too).
    */
  final case class Sort(desc: Boolean, inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `sort_by_label(v, "l1", ...)` / `sort_by_label_desc(...)` — label
    * ordering of the instant vector. Like [[Sort]]: a matrix relation
    * has no row order, so evaluation is the identity and the
    * instant-response assembly orders by the named labels' values
    * (lexicographic, missing label sorts first), ties broken by path.
    */
  final case class SortByLabel(desc: Boolean, labels: Seq[String], inner: Expr)
      extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `sel offset 1h` / `rate(m[5m] offset 1h)` — evaluate the inner
    * selector shifted `offsetSec` into the past (the week-over-week
    * dashboard modifier). Evaluation is the same plan on a shifted
    * window with the grid stamps shifted back — no extra pass.
    */
  final case class Offset(offsetSec: Long, inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `sel @ 1704067200` / `rate(m[5m] @ ts)` — pin the evaluation to
    * a fixed timestamp (Grafana's compare-to-fixed-time): the inner
    * expression evaluates ONCE at `ts` and the (result-sized) vector
    * replicates across the grid by explode — no join, no re-scan per
    * slot. `ts = None` means `@ end()`; `ts = Some(Left(()))` is not
    * modeled — `@ start()`/`@ end()` arrive as [[AtStart]]/[[AtEnd]].
    */
  final case class At(ts: Long, inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `@ start()` / `@ end()` — resolved against the query window at
    * evaluation time.
    */
  final case class AtEdge(atStart: Boolean, inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  /** `limitk(k, expr)` — at most k series per slot. Prometheus leaves
    * the pick unspecified; this evaluator picks deterministically by
    * storage-path order (one window rank per slot, like topk).
    */
  /** `limit_ratio(r, v)` — a deterministic ≈`r` fraction of the inner
    * vector's series; `limit_ratio(r, v)` and `limit_ratio(r - 1, v)`
    * partition the vector exactly, like upstream (a negative ratio
    * keeps the complement: draw ≥ 1 + r). Declared divergence: the
    * per-series draw is the engine-portable md5-of-path uniform
    * ([[graft.llm.Sampling.hash01]]), not upstream's labels-hash —
    * same determinism and partition contract, different membership.
    */
  final case class LimitRatio(r: Double, inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  final case class LimitK(k: Int, inner: Expr) extends Expr {
    def matchers: Seq[(String, String, String)] = inner.matchers
  }

  val rangeFns: Set[String] = Set(
    "rate", "increase", "xrate", "xincrease",
    "delta", "idelta", "irate", "resets", "changes",
    "deriv", "avg_over_time", "sum_over_time", "min_over_time",
    "max_over_time", "count_over_time", "last_over_time",
    "first_over_time", "stddev_over_time", "stdvar_over_time",
    "present_over_time", "absent_over_time", "mad_over_time")

  val aggOps: Set[String] = Set(
    "sum", "avg", "min", "max", "count", "stddev", "stdvar", "group")

  val setOps: Set[String] = Set("and", "or", "unless")

  /** Scalar math functions and their (min, max) extra-arg counts. */
  val mathFns: Map[String, (Int, Int)] = Map(
    "abs" -> (0, 0), "ceil" -> (0, 0), "floor" -> (0, 0),
    "round" -> (0, 1), "sqrt" -> (0, 0), "exp" -> (0, 0),
    "ln" -> (0, 0), "log2" -> (0, 0), "log10" -> (0, 0),
    "sgn" -> (0, 0), "clamp" -> (2, 2), "clamp_min" -> (1, 1),
    "clamp_max" -> (1, 1),
    // trigonometry + angle conversion (Prometheus's experimental trig
    // set): plain IEEE doubles, NaN outside the domain like Go's math
    "sin" -> (0, 0), "cos" -> (0, 0), "tan" -> (0, 0),
    "asin" -> (0, 0), "acos" -> (0, 0), "atan" -> (0, 0),
    "sinh" -> (0, 0), "cosh" -> (0, 0), "tanh" -> (0, 0),
    "asinh" -> (0, 0), "acosh" -> (0, 0), "atanh" -> (0, 0),
    "deg" -> (0, 0), "rad" -> (0, 0))

  /** Scalar-TYPED expressions (Prometheus's scalar result type):
    * number literals, `time()`, `pi()` (a literal after parse),
    * `scalar(v)`, and math/arithmetic compositions of those. These
    * apply element-wise per slot as binary operands and render as one
    * label-less grid series standalone.
    */
  def isScalarExpr(e: Expr): Boolean = e match {
    case Scalar(_) | TimeFn  => true
    case ScalarFn(_)         => true
    case MathFn(_, _, inner) => isScalarExpr(inner)
    case BinOp(_, l, r, _, _) => isScalarExpr(l) && isScalarExpr(r)
    case _ => false
  }

  /** `"5m"`/`"90s"`/`"1h"` (single unit, like the common UI forms) →
    * seconds.
    */
  def durationSec(s: String): Either[String, Long] = {
    val m = "^([0-9]+)(ms|s|m|h|d|w|y)$".r
    s.trim match {
      case m(n, unit) =>
        val mult = unit match {
          // second-granularity engine: whole-second ms durations
          // convert exactly; sub-second ones are REJECTED rather than
          // silently widened (declared divergence in the header —
          // a copy-pasted upstream query gets a parse error it can
          // see, never a quietly different window)
          case "ms" =>
            return if (n.toLong > 0 && n.toLong % 1000 == 0) Right(n.toLong / 1000)
            else Left(s"sub-second duration '${s.trim}' is not supported " +
              "by the second-resolution store (whole-second ms values are)")
          case "s" => 1L; case "m" => 60L; case "h" => 3600L
          case "d" => 86400L; case "w" => 604800L; case "y" => 31536000L
        }
        Right(n.toLong * mult)
      case other => Left(s"bad duration: '$other'")
    }
  }

  /** Parse the subset: `op by (labels) (expr)` / `op(expr) by (labels)`
    * aggregations over `fn(selector[dur])` or a bare selector.
    */
  def parse(q0: String): Either[String, Expr] = {
    val q = q0.trim
    val ops = "sum|avg|min|max|count|stddev|stdvar|group"
    val aggPre = ("^(" + ops + ")\\s*(by|without)\\s*\\(([^()]*)\\)\\s*\\((.*)\\)$").r
    val aggSuf = ("^(" + ops + ")\\s*\\((.*)\\)\\s*(by|without)\\s*\\(([^()]*)\\)$").r
    val aggBare = ("^(" + ops + ")\\s*\\((.*)\\)$").r
    val quantPre = "^quantile\\s*(by|without)\\s*\\(([^()]*)\\)\\s*\\(\\s*([0-9.]+)\\s*,(.*)\\)$".r
    val quantBare = "^quantile\\s*\\(\\s*([0-9.]+)\\s*,(.*)\\)$".r
    def agg(op: String, mode: String, by: String, inner: String): Either[String, Expr] = {
      val labels = by.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (mode == "by" && labels.contains("__name__"))
        Left("by (__name__) is not supported")
      else parse(inner).map(Agg(op, labels, _, without = mode == "without"))
    }
    val rankK = "^(topk|bottomk)\\s*\\(\\s*(\\d+)\\s*,(.*)\\)$".r
    // grouped ranking: `topk by (l) (k, v)` / `topk(k, v) by (l)` —
    // k best per group per slot, full label sets kept
    val rankKPre =
      "^(topk|bottomk)\\s*(by|without)\\s*\\(([^()]*)\\)\\s*\\(\\s*(\\d+)\\s*,(.*)\\)$".r
    val rankKSuf =
      "^(topk|bottomk)\\s*\\(\\s*(\\d+)\\s*,(.*)\\)\\s*(by|without)\\s*\\(([^()]*)\\)$".r
    def rankWithGroup(
        op: String, mode: String, by: String, ks: String,
        inner: String): Either[String, Expr] = {
      val labels = by.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (mode == "by" && labels.contains("__name__"))
        Left("by (__name__) is not supported")
      else ks.toIntOption.filter(_ >= 1) match {
        case Some(k) =>
          parse(inner).map(RankK(op, k, _, labels, without = mode == "without"))
        case None => Left(s"$op: bad k '$ks'")
      }
    }
    val limitK = "^limitk\\s*\\(\\s*(\\d+)\\s*,(.*)\\)$".r
    val limitRatio = "^limit_ratio\\s*\\(\\s*(-?[0-9.]+)\\s*,(.*)\\)$".r
    val histQ = "^histogram_quantile\\s*\\(\\s*(-?[0-9.]+)\\s*,(.*)\\)$".r
    val fnMatch = "^([a-z_]+)\\((.*)\\)$".r
    // binary operators split at paren/brace/bracket/quote depth 0 —
    // loosest Prometheus tier first: or, then and/unless, then
    // comparisons, then +/-, then */%/^ (last occurrence each for
    // left-associativity). The right side may lead with `bool` /
    // `on` / `ignoring` / `group_left` / `group_right` modifiers.
    splitBinOp(q) match {
      case Some((op, l, r0)) =>
        return for {
          mods <- stripModifiers(op, r0)
          (bool, m, r) = mods
          le <- parse(l)
          re <- parse(r)
          _ <-
            if ((isScalarExpr(le) || isScalarExpr(re)) &&
                (setOps(op) || m != Matching.default))
              Left(s"vector matching modifiers and set operators need vector operands: '$q0'")
            else if (cmpOps(op) && !bool && isScalarExpr(le) && isScalarExpr(re))
              Left(s"comparisons between scalars must use BOOL modifier: '$q0'")
            else Right(())
        } yield
          if (setOps(op)) SetOp(op, le, re, m) else BinOp(op, le, re, bool, m)
      case None =>
    }
    // a fully parenthesized group: `(a + b)` after `/ c` was split off
    parenWrapped(q) match {
      case Some(inner) => return parse(inner)
      case None =>
    }
    q match {
      case histQ(phis, inner) =>
        phis.toDoubleOption match {
          // φ outside [0,1] is legal and yields ±Inf, like Prometheus
          case Some(p) => parse(inner).map(HistQuantile(p, _))
          case None    => Left(s"histogram_quantile: bad phi '$phis'")
        }
      case rankKPre(op, mode, by, ks, inner) =>
        rankWithGroup(op, mode, by, ks, inner)
      case rankKSuf(op, ks, inner, mode, by) =>
        rankWithGroup(op, mode, by, ks, inner)
      case rankK(op, ks, inner) =>
        ks.toIntOption.filter(_ >= 1) match {
          case Some(k) => parse(inner).map(RankK(op, k, _))
          case None    => Left(s"$op: bad k '$ks'")
        }
      case limitK(ks, inner) =>
        ks.toIntOption.filter(_ >= 1) match {
          case Some(k) => parse(inner).map(LimitK(k, _))
          case None    => Left(s"limitk: bad k '$ks'")
        }
      case limitRatio(rs, inner) =>
        rs.toDoubleOption.filter(r => r >= -1.0 && r <= 1.0) match {
          case Some(r) => parse(inner).map(LimitRatio(r, _))
          case None    => Left(s"limit_ratio: ratio must be in [-1, 1], got '$rs'")
        }
      case aggPre(op, mode, by, inner)  => agg(op, mode, by, inner)
      case aggSuf(op, inner, mode, by)  => agg(op, mode, by, inner)
      case aggBare(op, inner) => agg(op, "by", "", inner)
      case quantPre(mode, by, phi, inner) =>
        val labels = by.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        phi.toDoubleOption.filter(p => p >= 0.0 && p <= 1.0) match {
          case _ if mode == "by" && labels.contains("__name__") =>
            Left("by (__name__) is not supported")
          case Some(p) =>
            parse(inner).map(Quantile(p, labels, _, without = mode == "without"))
          case None    => Left(s"quantile: bad phi '$phi'")
        }
      case quantBare(phi, inner) =>
        phi.toDoubleOption.filter(p => p >= 0.0 && p <= 1.0) match {
          case Some(p) => parse(inner).map(Quantile(p, Nil, _))
          case None    => Left(s"quantile: bad phi '$phi'")
        }
      case fnMatch(fn, inner1) => parseFn(fn, inner1)
      case _ =>
        applyModifiers(q, { base =>
          base.toDoubleOption match {
            case Some(v) => Right(Scalar(v))
            // parens/whitespace in the metric-name part mean an
            // expression failed to match above, not a selector —
            // `(m) (n)` must not become a metric literally named that
            case None if base.takeWhile(_ != '{').exists(c =>
                c == '(' || c == ')' || c.isWhitespace) =>
              Left(s"not a valid expression: '$q0'")
            case None => Prom.parseSelector(base).map(Selector(_))
          }
        }).flatMap {
          case Offset(_, _: Scalar) | At(_, _: Scalar) | AtEdge(_, _: Scalar) |
               At(_, Offset(_, _: Scalar)) | AtEdge(_, Offset(_, _: Scalar)) =>
            Left("offset/@ only apply to selectors")
          case e => Right(e)
        }
    }
  }

  /** True iff every char of `s[from, from+len)` sits at
    * bracket/brace/paren/quote depth 0 — the same scan `splitBinOp`
    * uses, so a keyword inside a label value or a nested group is
    * never mistaken for a trailing modifier.
    */
  private def atDepth0(s: String, from: Int, len: Int): Boolean = {
    var depth = 0
    var inQuote = false
    var i = 0
    val until = math.min(s.length, from + len)
    while (i < from) {
      val c = s.charAt(i)
      if (inQuote) {
        if (c == '\\' && i + 1 < s.length) i += 1
        else if (c == '"') inQuote = false
      } else c match {
        case '"' => inQuote = true
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case _ =>
      }
      i += 1
    }
    // the keyword span itself must contain no quote/bracket state
    depth == 0 && !inQuote && from >= 0 && until == from + len
  }

  /** Split a trailing ` offset <dur>` modifier off an expression
    * string. Returns (rest, None) when absent, or (rest,
    * Some(parsed duration)). Only a keyword at bracket/quote depth 0
    * counts — `m{msg="retry offset 5m"}` is a plain selector.
    */
  private def stripOffset(s: String): (String, Option[Either[String, Long]]) = {
    val offRe = "^(.*\\S)\\s+offset\\s+(\\S+)$".r
    s match {
      case offRe(rest, dur) if atDepth0(s, s.indexOf("offset", rest.length), 6) =>
        // negative offsets look AHEAD of the eval time, like upstream
        val (sign, d) =
          if (dur.startsWith("-")) (-1L, dur.substring(1)) else (1L, dur)
        (rest.trim, Some(durationSec(d).map(_ * sign)))
      case _ => (s, None)
    }
  }

  /** Split a trailing ` @ <ts|start()|end()>` modifier. Returns the
    * rest plus a wrapper constructor for the pinned evaluation. Only
    * a depth-0 `@` counts — `m{msg="a @ b"}` is a plain selector.
    */
  private def stripAt(s: String): (String, Option[Either[String, Expr => Expr]]) = {
    val atRe = "^(.*\\S)\\s+@\\s+(\\S+)$".r
    s match {
      case atRe(rest, spec) if atDepth0(s, s.indexOf("@", rest.length), 1) =>
        val w: Either[String, Expr => Expr] = spec match {
          case "start()" => Right(AtEdge(atStart = true, _))
          case "end()"   => Right(AtEdge(atStart = false, _))
          case n => n.toDoubleOption match {
            case Some(ts) => Right(At(ts.toLong, _))
            case None => Left(s"bad @ timestamp '$n'")
          }
        }
        (rest.trim, Some(w))
      case _ => (s, None)
    }
  }

  /** Strip trailing `offset` and `@` modifiers (either order, each at
    * most once, like Prometheus) and wrap `inner` accordingly —
    * offset innermost, so `m @ ts offset 1h` reads relative to the
    * pinned time.
    */
  private def applyModifiers(
      s0: String, build: String => Either[String, Expr]): Either[String, Expr] = {
    var rest = s0.trim
    var off: Option[Long] = None
    var at: Option[Expr => Expr] = None
    var changed = true
    while (changed) {
      changed = false
      if (off.isEmpty) stripOffset(rest) match {
        case (r, Some(e)) =>
          e match {
            case Right(o) => off = Some(o); rest = r; changed = true
            case Left(err) => return Left(err)
          }
        case _ =>
      }
      if (at.isEmpty) stripAt(rest) match {
        case (r, Some(e)) =>
          e match {
            case Right(w) => at = Some(w); rest = r; changed = true
            case Left(err) => return Left(err)
          }
        case _ =>
      }
    }
    build(rest).map { e =>
      val withOff = off.fold(e)(Offset(_, e))
      at.fold(withOff)(w => w(withOff))
    }
  }

  /** Split a function's argument list at depth-0 commas (quotes and
    * every bracket kind respected).
    */
  private def splitArgs(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var inQuote = false
    var last = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) {
        if (c == '\\' && i + 1 < s.length) i += 1
        else if (c == '"') inQuote = false
      } else c match {
        case '"' => inQuote = true
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => out += s.substring(last, i).trim; last = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(last).trim
    out.result()
  }

  /** A double-quoted string literal argument → its unescaped value. */
  private def strArg(s: String): Either[String, String] = {
    val t = s.trim
    if (t.length < 2 || t.charAt(0) != '"' || t.charAt(t.length - 1) != '"')
      Left(s"expected a string literal, got '$s'")
    else Right(t.substring(1, t.length - 1)
      .replace("\\\"", "\"").replace("\\\\", "\\"))
  }

  /** `m{…}[5m]` or `expr[1h:5m]` (with optional trailing `offset` on
    * the selector form) → either a plain (selector, range, offset) or
    * a subquery (inner expr, range, inner step) for a range-function
    * argument.
    */
  private def parseRangeArg(
      fn: String, s0: String, arg: Option[Double]): Either[String, Expr] =
    applyModifiers(s0, { inner =>
      val brk = inner.lastIndexOf('[')
      if (!inner.endsWith("]") || brk < 0)
        Left(s"$fn expects a range selector, got '$inner'")
      else {
        val rng = inner.substring(brk + 1, inner.length - 1)
        val colonAt = rng.indexOf(':')
        if (colonAt >= 0) {
          // subquery `expr[range:step]`; empty step = outer query step
          val stepStr = rng.substring(colonAt + 1).trim
          for {
            d <- durationSec(rng.substring(0, colonAt))
            st <- if (stepStr.isEmpty) Right(None) else durationSec(stepStr).map(Some(_))
            e <- parse(inner.substring(0, brk))
          } yield SubQuery(fn, e, d, st, arg)
        } else
          for {
            d <- durationSec(rng)
            sel <- Prom.parseSelector(inner.substring(0, brk))
          } yield RangeFn(fn, Selector(sel), d, arg)
      }
    })

  /** Function-call dispatch: range functions (plus the parameterized
    * `quantile_over_time`/`predict_linear`), scalar math, `absent`,
    * `count_values`, and the label manipulators.
    */
  private def parseFn(fn: String, body: String): Either[String, Expr] = fn match {
    case f if rangeFns(f) => parseRangeArg(f, body, None)
    case "quantile_over_time" =>
      splitArgs(body) match {
        case Seq(phis, rng) =>
          phis.toDoubleOption match {
            case Some(p) => parseRangeArg(fn, rng, Some(p))
            case None => Left(s"quantile_over_time: bad phi '$phis'")
          }
        case _ => Left("quantile_over_time expects (phi, m[d])")
      }
    case "predict_linear" =>
      splitArgs(body) match {
        case Seq(rng, ts) =>
          ts.toDoubleOption match {
            case Some(t) => parseRangeArg(fn, rng, Some(t))
            case None => Left(s"predict_linear: bad horizon '$ts'")
          }
        case _ => Left("predict_linear expects (m[d], seconds)")
      }
    case "count_values" =>
      splitArgs(body) match {
        case Seq(lbl, v) =>
          for {
            l <- strArg(lbl)
            _ <- if (l == "__name__" || l.isEmpty)
                   Left("count_values: bad label name") else Right(())
            inner <- parse(v)
          } yield CountValues(l, inner)
        case _ => Left("count_values expects (\"label\", v)")
      }
    case "holt_winters" | "double_exponential_smoothing" =>
      splitArgs(body) match {
        case Seq(rng, sfs, tfs) =>
          (sfs.toDoubleOption, tfs.toDoubleOption) match {
            case (Some(sf), Some(tf))
                if sf > 0 && sf < 1 && tf > 0 && tf < 1 =>
              parseRangeArg("holt_winters", rng, Some(sf)) map {
                case rf: RangeFn => rf.copy(arg2 = Some(tf))
                case sq: SubQuery => sq.copy(arg2 = Some(tf))
                case Offset(o, rf: RangeFn) => Offset(o, rf.copy(arg2 = Some(tf)))
                case other => other
              }
            case _ =>
              Left(s"$fn: smoothing factors must be in (0, 1)")
          }
        case _ => Left(s"$fn expects (m[d], sf, tf)")
      }
    case "minute" | "hour" | "day_of_week" | "day_of_month" |
         "day_of_year" | "month" | "year" | "days_in_month" =>
      if (body.trim.isEmpty) Right(DateFn(fn))
      else parse(body).flatMap(e =>
        if (isScalarExpr(e)) Left(s"$fn expects an instant vector")
        else Right(DateFn(fn, Some(e))))
    case f if mathFns.contains(f) =>
      val (lo, hi) = mathFns(f)
      val args = splitArgs(body)
      if (args.size < 1 + lo || args.size > 1 + hi)
        return Left(s"$f expects ${1 + lo}..${1 + hi} arguments")
      val nums = args.drop(1).map(a =>
        a.toDoubleOption.toRight(s"$f: bad numeric argument '$a'"))
      nums.collectFirst { case Left(e) => e } match {
        case Some(e) => Left(e)
        case None =>
          parse(args.head).map(MathFn(f, nums.map(_.toOption.get), _))
      }
    case "absent" => parse(body).map(Absent(_))
    case "vector" =>
      body.trim.toDoubleOption match {
        case Some(v) => Right(VectorLit(v))
        case None => Left(s"vector() expects a number, got '$body'")
      }
    case "time" =>
      if (body.trim.isEmpty) Right(TimeFn)
      else Left("time() takes no arguments")
    case "pi" =>
      // a literal after parse: π composes through the scalar-column
      // machinery for free
      if (body.trim.isEmpty) Right(Scalar(math.Pi))
      else Left("pi() takes no arguments")
    case "timestamp" =>
      parse(body).flatMap(e =>
        if (isScalarExpr(e)) Left("timestamp() expects an instant vector")
        else Right(TimestampFn(e)))
    case "scalar" =>
      parse(body).flatMap(e =>
        if (isScalarExpr(e)) Left("scalar() expects an instant vector")
        else Right(ScalarFn(e)))
    case "sort"      => parse(body).map(Sort(desc = false, _))
    case "sort_desc" => parse(body).map(Sort(desc = true, _))
    case "sort_by_label" | "sort_by_label_desc" =>
      splitArgs(body) match {
        case v +: ls if ls.nonEmpty =>
          for {
            labels <- ls.foldLeft[Either[String, Seq[String]]](Right(Seq.empty)) {
              (acc, l) => acc.flatMap(a => strArg(l).map(a :+ _))
            }
            inner <- parse(v)
          } yield SortByLabel(fn.endsWith("_desc"), labels, inner)
        case _ => Left(s"$fn expects (v, label, ...)")
      }
    case "label_replace" =>
      splitArgs(body) match {
        case Seq(v, dst, rep, src, re) =>
          for {
            d <- strArg(dst); r <- strArg(rep); s <- strArg(src); rx <- strArg(re)
            _ <- try { java.util.regex.Pattern.compile(rx); Right(()) }
                 catch { case e: Exception => Left(s"label_replace: bad regex: ${e.getMessage}") }
            inner <- parse(v)
          } yield LabelReplace(d, r, s, rx, inner)
        case _ => Left("label_replace expects (v, dst, replacement, src, regex)")
      }
    case "label_join" =>
      splitArgs(body) match {
        case v +: dst +: sep +: srcs if srcs.nonEmpty =>
          for {
            d <- strArg(dst); sp <- strArg(sep)
            ss <- srcs.foldLeft[Either[String, Seq[String]]](Right(Seq.empty)) {
              (acc, s) => acc.flatMap(a => strArg(s).map(a :+ _))
            }
            inner <- parse(v)
          } yield LabelJoin(d, sp, ss, inner)
        case _ => Left("label_join expects (v, dst, sep, src...)")
      }
    case other => Left(s"unsupported function: $other")
  }

  /** `(expr)` spanning the whole string (the closing paren of the
    * leading `(` is the LAST character) → the inner expression.
    */
  private def parenWrapped(q: String): Option[String] = {
    if (q.length < 2 || q.charAt(0) != '(' || q.charAt(q.length - 1) != ')')
      return None
    var depth = 0
    var inQuote = false
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (inQuote) {
        if (c == '\\' && i + 1 < q.length) i += 1
        else if (c == '"') inQuote = false
      } else c match {
        case '"' => inQuote = true
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' =>
          depth -= 1
          // the opening paren closes before the end → not a wrapper
          if (depth == 0 && i < q.length - 1) return None
        case _ =>
      }
      i += 1
    }
    if (depth == 0) Some(q.substring(1, q.length - 1).trim) else None
  }

  private val boolRe = "^bool(?![a-zA-Z0-9_])\\s*(.*)$".r
  private val onRe = "^(on|ignoring)\\s*\\(([^()]*)\\)\\s*(.*)$".r
  private val grpRe = "^(group_left|group_right)(?:\\s*\\(([^()]*)\\))?(?![a-zA-Z0-9_])\\s*(.*)$".r

  /** Strip the optional `bool` / `on(…)`|`ignoring(…)` /
    * `group_left(…)`|`group_right(…)` modifier prefix (that grammar
    * order, like Prometheus) off the right-hand side of a split binary
    * operator. Returns (boolMode, matching, remaining rhs).
    */
  private def stripModifiers(
      op: String, rhs0: String): Either[String, (Boolean, Matching, String)] = {
    var rest = rhs0.trim
    var bool = false
    rest match {
      case boolRe(r) =>
        if (!cmpOps(op)) return Left(s"bool modifier only applies to comparisons, not '$op'")
        bool = true; rest = r
      case _ =>
    }
    var on = false
    var labels: Seq[String] = Nil
    var onSeen = false
    rest match {
      case onRe(kind, ls, r) =>
        on = kind == "on"
        labels = ls.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        onSeen = true; rest = r
      case _ =>
    }
    var side = Matching.OneToOne
    var include: Seq[String] = Nil
    rest match {
      case grpRe(kind, ls, r) =>
        if (setOps(op)) return Left(s"no grouping allowed for set operator '$op'")
        if (!onSeen) return Left(s"$kind requires an on/ignoring clause")
        side = if (kind == "group_left") Matching.GroupLeft else Matching.GroupRight
        include = Option(ls).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        rest = r
      case _ =>
    }
    if (rest.isEmpty) Left(s"missing right operand after modifiers in '$rhs0'")
    else Right((bool, Matching(on, labels, side, include), rest))
  }

  /** Find the top-level binary operator to split at, loosest
    * precedence first (Prometheus order): the LAST depth-0 spaced
    * `or`, else `and`/`unless`, else a comparison (`== != > < >= <=`),
    * else `+`/`-`, else `*`/`/`/`%` — last occurrence each for
    * left-associativity — else the FIRST `^` (right-assoc). The
    * operator must be space-separated — graphite metric names may
    * legally contain `-`/`.`, so `my-metric` stays a selector while
    * `a - b` is arithmetic. Returns (op, lhs, rhs).
    */
  private def splitBinOp(q: String): Option[(String, String, String)] = {
    val n = q.length
    val depth0 = new Array[Boolean](n)
    var depth = 0
    var inQuote = false
    var i = 0
    while (i < n) {
      val c = q.charAt(i)
      if (inQuote) {
        depth0(i) = false
        if (c == '\\' && i + 1 < n) { i += 1; depth0(i) = false }
        else if (c == '"') inQuote = false
      } else {
        c match {
          case '"' => inQuote = true
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case _ =>
        }
        depth0(i) = depth == 0 && !inQuote
      }
      i += 1
    }
    // last depth-0 occurrence of any ` op ` from the tier
    def lastSpaced(ops: Seq[String]): Option[(Int, String)] =
      ops.flatMap { op =>
        val needle = " " + op + " "
        Iterator.iterate(q.lastIndexOf(needle))(at => q.lastIndexOf(needle, at - 1))
          .takeWhile(_ >= 0)
          .find(at => (at + 1 until at + 1 + op.length).forall(depth0))
          .map(at => (at + 1, op))
      }.sortBy(-_._1).headOption
    // first depth-0 occurrence, for the right-associative tier
    def firstSpaced(ops: Seq[String]): Option[(Int, String)] =
      ops.flatMap { op =>
        val needle = " " + op + " "
        Iterator.iterate(q.indexOf(needle))(at => q.indexOf(needle, at + 1))
          .takeWhile(_ >= 0)
          .find(at => (at + 1 until at + 1 + op.length).forall(depth0))
          .map(at => (at + 1, op))
      }.sortBy(_._1).headOption
    lastSpaced(Seq("or"))
      .orElse(lastSpaced(Seq("and", "unless")))
      .orElse(lastSpaced(Seq("==", "!=", ">=", "<=", ">", "<")))
      .orElse(lastSpaced(Seq("+", "-")))
      .orElse(lastSpaced(Seq("*", "/", "%", "atan2")))
      .orElse(firstSpaced(Seq("^")))
      .map { case (at, op) =>
        (op, q.substring(0, at).trim, q.substring(at + op.length).trim)
      }
      .filter { case (_, l, r) => l.nonEmpty && r.nonEmpty }
  }

  /** Evaluate `expr` on the grid `start, start+step, …, ≤ end`.
    * Returns (path, t, value) matrix rows; `tags` is the tagged-series
    * relation the matchers select paths from, `points` the raw
    * (path, time, value) samples.
    */
  def evalMatrix(
      points: DataFrame,
      tags: DataFrame,
      expr: Expr,
      start: Long,
      end: Long,
      step0: Long,
      lookbackSec: Long = LookbackSec): DataFrame =
    evalMemo(points, tags, expr, start, end, step0, lookbackSec,
      new scala.collection.mutable.HashMap[(Expr, Long, Long, Long, Long), DataFrame])

  /** Structural map over every [[Selector]] leaf of an expression
    * tree (including the one embedded in [[RangeFn]]). Pure-data
    * rewrite — evaluation-free.
    */
  def mapSelectors(e: Expr)(f: Selector => Selector): Expr = e match {
    case s: Selector      => f(s)
    case e: RangeFn       => e.copy(sel = f(e.sel))
    case e: DateFn        => e.copy(inner = e.inner.map(mapSelectors(_)(f)))
    case e: MathFn        => e.copy(inner = mapSelectors(e.inner)(f))
    case e: Absent        => e.copy(inner = mapSelectors(e.inner)(f))
    case e: LabelReplace  => e.copy(inner = mapSelectors(e.inner)(f))
    case e: LabelJoin     => e.copy(inner = mapSelectors(e.inner)(f))
    case e: Agg           => e.copy(inner = mapSelectors(e.inner)(f))
    case e: RankK         => e.copy(inner = mapSelectors(e.inner)(f))
    case e: Quantile      => e.copy(inner = mapSelectors(e.inner)(f))
    case e: BinOp         =>
      e.copy(lhs = mapSelectors(e.lhs)(f), rhs = mapSelectors(e.rhs)(f))
    case e: SetOp         =>
      e.copy(lhs = mapSelectors(e.lhs)(f), rhs = mapSelectors(e.rhs)(f))
    case e: HistQuantile  => e.copy(inner = mapSelectors(e.inner)(f))
    case e: SubQuery      => e.copy(inner = mapSelectors(e.inner)(f))
    case e: CountValues   => e.copy(inner = mapSelectors(e.inner)(f))
    case e: TimestampFn   => e.copy(inner = mapSelectors(e.inner)(f))
    case e: ScalarFn      => e.copy(inner = mapSelectors(e.inner)(f))
    case e: Sort          => e.copy(inner = mapSelectors(e.inner)(f))
    case e: SortByLabel   => e.copy(inner = mapSelectors(e.inner)(f))
    case e: Offset        => e.copy(inner = mapSelectors(e.inner)(f))
    case e: At            => e.copy(inner = mapSelectors(e.inner)(f))
    case e: AtEdge        => e.copy(inner = mapSelectors(e.inner)(f))
    case e: LimitRatio    => e.copy(inner = mapSelectors(e.inner)(f))
    case e: LimitK        => e.copy(inner = mapSelectors(e.inner)(f))
    case e @ (_: Scalar | TimeFn | _: VectorLit) => e
  }

  /** Every [[Selector]] leaf of the tree, in-order. */
  def collectSelectors(e: Expr): Seq[Selector] = {
    val buf = scala.collection.mutable.ListBuffer[Selector]()
    mapSelectors(e) { s => buf += s; s }
    buf.toList
  }

  /** [[evalMatrix]] with the reference's plain-from-tagged routing
    * ([[PlainFromTagged]], `finder/finder.go:123-145`): every selector
    * whose matcher set detects the `graphite{target="…"}` shape is
    * served from the PLAIN index + points instead of the tagged
    * tables. Spark-first composition, zero changes to the evaluator
    * core: per detected route the plain finder resolves the target
    * glob ONCE (find-result-sized), the found paths' samples are
    * unioned into the points relation under their synthetic tagged
    * storage form ([[PlainFromTagged.abs]]), a one-row-per-series
    * marker tag (`__pft_<i>`, not expressible in real storage paths)
    * is unioned into the tags relation, and the selector is rewritten
    * to match exactly that marker — then the ordinary [[evalMatrix]]
    * runs. Mixed expressions (a plain-from-tagged operand joined
    * against a native tagged selector) work unchanged; expressions
    * with no detected route take the exact [[evalMatrix]] path — and
    * never evaluate `plainIndex`, so a caller that opens it per
    * request pays for the open only when a route is detected.
    */
  def evalMatrixGraphite(
      plainPoints: DataFrame,
      plainIndex: => DataFrame,
      points: DataFrame,
      tags: DataFrame,
      expr: Expr,
      start: Long,
      end: Long,
      step0: Long,
      lookbackSec: Long = LookbackSec): DataFrame = {
    val routed = collectSelectors(expr).distinct
      .flatMap(s => PlainFromTagged.detect(s.matchers).map(s -> _))
    if (routed.isEmpty)
      return evalMatrix(points, tags, expr, start, end, step0, lookbackSec)
    val index = plainIndex
    var pts = points.select("path", "value", "time", "date", "version")
    var tg = tags
    val rewrite = routed.zipWithIndex.map { case ((sel, route), i) =>
      val marker = s"__pft_$i=1"
      val found = graft.engine.Finder.find(index, route.target)
        .where(col("is_leaf")).select("path")
      val synth = found.select(
        col("path").as("__plain"),
        PlainFromTagged.abs(col("path"), route).as("path"))
      pts = pts.unionByName(
        plainPoints.withColumnRenamed("path", "__plain")
          .join(synth, Seq("__plain"))
          .select("path", "value", "time", "date", "version"))
      tg = tg.unionByName(synth.select(
        to_date(lit("1970-01-01")).as("date"),
        lit(marker).as("tag1"),
        col("path"),
        array(lit(marker)).as("tags"),
        lit(0L).as("version")))
      sel -> Selector(Seq((s"__pft_$i", "=", "1")))
    }.toMap
    evalMatrix(pts, tg, mapSelectors(expr)(s => rewrite.getOrElse(s, s)),
      start, end, step0, lookbackSec)
  }

  /** Per-query common-subexpression elimination: structurally equal
    * (sub-expression, window) pairs evaluate ONCE and every other
    * occurrence references the same DataFrame instance, so Spark's
    * exchange/stage reuse turns the duplicate subtree into a
    * ReusedQueryStage instead of a second scan + aggregate pipeline.
    * The dominant PromQL dashboard shapes hit this constantly —
    * `m / on(g) group_left sum by (g)(m)`, `m unless (m > k)`,
    * same-metric ratios — where both operands contain the identical
    * selector matrix (measured 1.9 s → 0.4 s for group_left at sf0.1).
    * The memo is created fresh per top-level evaluation; keys carry
    * the full evaluation window so offset-shifted windows never
    * collide. Expr is a pure-data case-class tree, so equality is
    * structural.
    */
  private def evalMemo(
      points: DataFrame,
      tags: DataFrame,
      expr: Expr,
      start: Long,
      end: Long,
      step0: Long,
      lookbackSec: Long,
      memo: scala.collection.mutable.HashMap[(Expr, Long, Long, Long, Long), DataFrame]): DataFrame =
    memo.getOrElseUpdate((expr, start, end, step0, lookbackSec),
      evalCore(points, tags, expr, start, end, step0, lookbackSec, memo))

  private def evalCore(
      points: DataFrame,
      tags: DataFrame,
      expr: Expr,
      start: Long,
      end: Long,
      step0: Long,
      lookbackSec: Long,
      memo: scala.collection.mutable.HashMap[(Expr, Long, Long, Long, Long), DataFrame]): DataFrame = {
    require(end >= start, "end < start")
    expr match {
      // scalar-typed expressions (`1 + 2`, `2 * pi()`, `scalar(v)`
      // arithmetic) render as one label-less grid series (declared
      // envelope divergence, same numbers as Prometheus's scalar type)
      case e if isScalarExpr(e) =>
        return scalarSlots(points, tags, e, start, end, step0, lookbackSec, memo)
          .select(lit("").as("path"), col("t"), col("sval").as("value"))
      // timestamp over a plain (possibly offset) selector falls to the
      // raw-sample scan below and stamps the latest sample's OWN time;
      // offset shifts the window, stamps stay raw (like Prometheus)
      case TimestampFn(Offset(o, sel: Selector)) =>
        return evalMemo(points, tags, TimestampFn(sel),
            start - o, end - o, step0, lookbackSec, memo)
          .select(col("path"), (col("t") + lit(o)).as("t"), col("value"))
      case TimestampFn(inner) if !inner.isInstanceOf[Selector] =>
        // derived vectors: their samples are minted at eval time, so
        // the stamp IS the slot time — one projection, no extra scan
        return evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo)
          .select(regexp_replace(col("path"), "^[^?]*", "").as("path"),
            col("t"), col("t").cast("double").as("value"))
      case Agg(op, by, inner, without) =>
        return aggMatrix(
          evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo),
          op, by, without = without)
      case RankK(op, k, inner, by, without) =>
        return rankMatrix(
          evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo),
          op, k, by, without)
      case Quantile(phi, by, inner, without) =>
        return aggMatrix(
          evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo),
          "quantile", by, phi, without = without)
      case MathFn(fn, args, inner) =>
        return mathFnMatrix(
          evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo), fn, args)
      case Absent(inner) =>
        return absentGrid(points,
          evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo),
          inner, start, end, step0)
      case RangeFn("absent_over_time", sel, rangeSec, _, _) =>
        // 1 where the RANGE window holds no sample: the presence
        // matrix is the cheap one-pass present_over_time aggregate,
        // absence is the grid anti-join against its slots
        return absentGrid(points,
          evalMemo(points, tags, RangeFn("present_over_time", sel, rangeSec),
            start, end, step0, lookbackSec, memo),
          sel, start, end, step0)
      case SubQuery("absent_over_time", inner, rangeSec, stepSec, _, _) =>
        return absentGrid(points,
          evalMemo(points, tags,
            SubQuery("present_over_time", inner, rangeSec, stepSec, None, None),
            start, end, step0, lookbackSec, memo),
          inner, start, end, step0)
      case LabelReplace(dst, rep, src, regex, inner) =>
        return labelReplaceMatrix(
          evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo),
          dst, rep, src, regex)
      case LabelJoin(dst, sep, srcs, inner) =>
        return labelJoinMatrix(
          evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo),
          dst, sep, srcs)
      case CountValues(label, inner) =>
        return countValuesMatrix(
          evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo), label)
      case SubQuery(fn, inner, rangeSec, stepSec, arg, arg2) =>
        // inner pass on the absolutely-aligned subquery grid (the
        // smallest step-multiple > start - range, like Prometheus),
        // then the SAME slot aggregate as a plain range selector,
        // reading inner grid points instead of raw samples
        val outerStep = math.max(1L, step0)
        val subStep = math.max(1L, stepSec.getOrElse(outerStep))
        val innerStart = (Math.floorDiv(start - rangeSec, subStep) + 1) * subStep
        val innerM =
          evalMemo(points, tags, inner, innerStart, math.max(innerStart, end),
            subStep, lookbackSec, memo)
            .withColumnRenamed("t", "time")
        val bounded =
          if (innerStart > end) innerM.where(lit(false)) else innerM
        return windowAggregate(bounded, fn, arg, arg2, start, end, outerStep, rangeSec)
      case BinOp(op, l, r, bool, m) =>
        // scalar-typed operands (literals, time(), pi-arithmetic,
        // scalar(v)) apply element-wise over the other side's matrix —
        // column-expressible scalars need no join at all; scalar(v)
        // joins its per-slot value on t (broadcast, grid-sized). The
        // both-scalar case was caught by the guard above.
        return (l, r) match {
          case (se, e) if isScalarExpr(se) =>
            vecScalarOp(points, tags, e, se, op, scalarLeft = true, bool,
              start, end, step0, lookbackSec, memo)
          case (e, se) if isScalarExpr(se) =>
            vecScalarOp(points, tags, e, se, op, scalarLeft = false, bool,
              start, end, step0, lookbackSec, memo)
          case _ =>
            (l, r) match {
              // fully-fused form for the dashboard-ratio pattern
              // `agg by (g) (m{f1}) op agg by (g) (m2{f2})`: both
              // sides are aggregates over plain instant selectors
              // with the SAME grouping, so ONE union-path scan with
              // per-series match flags evaluates both sides as
              // conditional aggregates in a single pass — the scan,
              // slot explode, instant aggregate, group aggregate, and
              // the (k, t) equi-join all collapse from ×2 to ×1
              case (Agg(a1, by1, s1: Selector, w1),
                    Agg(a2, by2, s2: Selector, w2))
                  if !bool && !cmpOps(op) && by1 == by2 && w1 == w2 &&
                    m == Matching.default &&
                    fusableAggOps(a1) && fusableAggOps(a2) =>
                fusedAggBinOp(points, tags, op, a1, a2, by1, w1, s1, s2,
                  start, end, step0, lookbackSec)
              // NOT fused: group_left/group_right, set ops, and
              // cmp-filter binops stay on the generic two-pipeline +
              // (k, t) equi-join. Measured dead ends (sf0.1): a
              // windowed conditional aggregate over one shared
              // flagged matrix is a single subtree but sorts millions
              // of (match key, slot) micro-partitions (`or` 1.65 →
              // 3.48 s); deriving both sides from one shared
              // DataFrame re-executes the scan because per-side
              // filter pushdown breaks exchange-reuse subtree
              // identity. The join form is the right plan: both
              // inputs are fleet-sized matrices and the join is one
              // shuffle each on (k, t).
              case _ =>
                // a group_left/group_right "one" side that is an
                // aggregation keyed exactly on the on() labels is
                // unique per (key, slot) BY CONSTRUCTION — binOpMatrix
                // can skip its defensive dedup aggregate stage
                def aggKeyedOnMatch(e: Expr): Boolean = e match {
                  case Agg(_, by, _, without) if !without && m.on =>
                    by.distinct.sorted == m.labels.distinct.sorted
                  case Quantile(_, by, _, without) if !without && m.on =>
                    by.distinct.sorted == m.labels.distinct.sorted
                  case _ => false
                }
                val oneUnique = m.side match {
                  case Matching.GroupLeft  => aggKeyedOnMatch(r)
                  case Matching.GroupRight => aggKeyedOnMatch(l)
                  case _                   => false
                }
                binOpMatrix(
                  evalMemo(points, tags, l, start, end, step0, lookbackSec, memo),
                  evalMemo(points, tags, r, start, end, step0, lookbackSec, memo),
                  op, bool, m, oneUnique)
            }
        }
      case SetOp(op, l, r, m) =>
        return setOpMatrix(
          evalMemo(points, tags, l, start, end, step0, lookbackSec, memo),
          evalMemo(points, tags, r, start, end, step0, lookbackSec, memo), op, m)
      case HistQuantile(phi, inner) =>
        return histogramQuantileMatrix(
          evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo), phi)
      case Sort(_, inner) =>
        // a matrix has no row order — ordering applies at the
        // instant-response assembly (see [[Sort]])
        return evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo)
      case SortByLabel(_, _, inner) =>
        return evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo)
      case VectorLit(v) =>
        return gridMatrix(points, start, end, step0, lit(v))
      case DateFn(fn, None) =>
        return gridMatrix(points, start, end, step0, dateComponent(fn, col("t")))
      case DateFn(fn, Some(inner)) =>
        // value form: each sample value is an epoch-seconds timestamp;
        // narrow map, metric name dropped like every math function
        val m = evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo)
        return m.select(
          regexp_replace(col("path"), "^[^?]*", "").as("path"), col("t"),
          dateComponent(fn, floor(col("value")).cast("long")).cast("double")
            .as("value"))
      case Offset(o, inner) =>
        // same plan over the shifted window, stamps shifted back
        return evalMemo(points, tags, inner, start - o, end - o, step0, lookbackSec, memo)
          .select(col("path"), (col("t") + lit(o)).as("t"), col("value"))
      case At(ts, inner) =>
        // pinned evaluation: inner runs ONCE at ts, the result-sized
        // vector replicates across the grid by explode — no join, no
        // per-slot re-scan
        val one = evalMemo(points, tags, inner, ts, ts, 1L, lookbackSec, memo)
        val step = math.max(1L, step0)
        val lastSlot = (end - start) / step
        return one.select(col("path"), col("value"),
            explode(sequence(lit(0L), lit(lastSlot))).as("n"))
          .select(col("path"), (lit(start) + col("n") * lit(step)).as("t"),
            col("value"))
      case AtEdge(atStart, inner) =>
        return evalMemo(points, tags,
          At(if (atStart) start else end, inner), start, end, step0, lookbackSec, memo)
      case LimitRatio(r, inner) =>
        // series-consistent across slots: the draw hashes the path
        // only — one narrow filter, no shuffle, no window
        val draw = graft.llm.Sampling.hash01(col("path"))
        val keep = if (r >= 0) draw < lit(r) else draw >= lit(1.0 + r)
        return evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo)
          .where(keep)
      case LimitK(k, inner) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("t")).orderBy(col("path").asc)
        return evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo)
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= k)
          .select("path", "t", "value")
      case _ =>
    }
    val step = math.max(1L, step0)

    val win = expr match {
      case _: Selector    => lookbackSec
      case _: TimestampFn => lookbackSec
      case rf: RangeFn    => rf.rangeSec
      case _ => throw new IllegalStateException("handled above")
    }

    // the matched series set is find-result-sized — collected once
    // per session through the find memo and broadcast as a local
    // relation, so the sample scan needs no shuffle (and no extra
    // stages) for the semi-join
    val paths = Prom.findPathsCached(tags, expr.matchers)
    val scanned = points
      .join(broadcast(paths), Seq("path"), "left_semi")
      .where(col("time") > lit(start - win) && col("time") <= lit(end))
    // duplicate write versions resolve max-version-wins
    // (`helper/point/func.go:29-51`) — windowAggregate either fuses
    // the dedup into its slot aggregate (instant/timestamp) or
    // pre-dedups before its window math (every other fn)
    expr match {
      case _: Selector =>
        windowAggregate(scanned, "__instant__", None, None, start, end, step, win)
      case _: TimestampFn =>
        windowAggregate(scanned, "__timestamp__", None, None, start, end, step, win)
      case rf: RangeFn =>
        windowAggregate(scanned, rf.fn, rf.arg, rf.arg2, start, end, step, win)
      case _ =>
        throw new IllegalStateException("handled above")
    }
  }

  /** The shared slot-window aggregate: explode each (path, time,
    * value) row onto the `start + n·step` grid slots whose
    * `(t-win, t]` window contains it (both raw samples and subquery
    * inner grid points take this path), then ONE hash aggregate per
    * (series, slot) computes `fn` — `"__instant__"` meaning the
    * most-recent-sample selector semantics.
    */
  private def windowAggregate(
      pts0: DataFrame,
      fnName: String,
      argOpt: Option[Double],
      arg2Opt: Option[Double],
      start: Long,
      end: Long,
      step: Long,
      win: Long): DataFrame = {
    // max-version-wins dedup of duplicate (path, time) writes: the
    // instant/timestamp selectors fuse it INTO the slot aggregate
    // (their per-slot reduction is version-order-compatible), saving
    // the hot path a full extra shuffle; every other window fn
    // pre-dedups so its math never sees a duplicated sample
    val versioned = pts0.columns.contains("version")
    val fused = fnName == "__instant__" || fnName == "__timestamp__"
    val pts =
      if (versioned && !fused)
        pts0.groupBy("path", "time")
          .agg(max_by(col("value"), col("version")).as("value"))
      else pts0
    val lastSlot = (end - start) / step
    // slot range a sample at time s can serve: t = start + n·step with
    // s ≤ t  and  t < s + win  (Prometheus takes samples from
    // (t-win, t]). Integer bounds, clamped to the grid; `sequence`
    // would count DOWN for empty ranges, so filter first.
    val offs = col("time") - lit(start)
    val nMin = greatest(lit(0L), floor((offs + lit(step - 1)) / lit(step)).cast("long"))
    val nMax = least(lit(lastSlot), floor((offs + lit(win - 1)) / lit(step)).cast("long"))
    val keep: Seq[Column] =
      if (versioned && fused)
        Seq(col("path"), col("time"), col("value"), col("version"))
      else Seq(col("path"), col("time"), col("value"))
    val slotted = pts
      .withColumn("n_min", nMin).withColumn("n_max", nMax)
      .where(col("n_min") <= col("n_max"))
      .select(keep :+ explode(sequence(col("n_min"), col("n_max"))).as("n"): _*)

    val t = (lit(start) + col("n") * lit(step)).as("t")
    fnName match {
      case "__instant__" =>
        // most recent sample in the window, highest version among
        // same-time duplicates — ONE hash aggregate, dedup fused.
        // The (time, version) lexicographic order is encoded as
        // time·10¹⁹ + version in DECIMAL(38,0): a struct ordering
        // would force the whole aggregate to a SortAggregate (struct
        // is not a mutable-buffer type), while fixed-precision
        // decimals keep hash aggregation. Versions are non-negative
        // (the reference's Timestamp column is a uint32 write stamp),
        // so the encoding is order-preserving.
        val ord =
          if (versioned)
            col("time").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
              lit(BigDecimal("10000000000000000000")) + col("version")
          else col("time")
        slotted.groupBy(col("path"), col("n"))
          .agg(max_by(col("value"), ord).as("value"))
          .select(col("path"), t, col("value"))

      case "__timestamp__" =>
        // timestamp(sel): the latest sample's OWN time (= max time,
        // version-independent), metric name dropped like every
        // Prometheus function
        slotted.groupBy(col("path"), col("n"))
          .agg(max(col("time")).cast("double").as("value"))
          .select(regexp_replace(col("path"), "^[^?]*", "").as("path"),
            t, col("value"))

      case fn =>
        val g = slotted.groupBy(col("path"), col("n"))
        // per-slot sample list is bounded by window/scrape-interval
        // — sorting it is cheap and stays inside the aggregate
        lazy val sorted = array_sort(collect_list(struct(col("time"), col("value"))))
        // The consecutive-pair functions (changes/resets/idelta/irate
        // and the delta/rate/increase family) read each sample's
        // predecessor from a lag window: one sort within the (series,
        // slot) partition, then plain codegen'd hash aggregates, and
        // the window's hash exchange is reused by the follow-up
        // aggregate (same keys — no extra shuffle). (path, time) is
        // unique per slot after the max-version dedup above, so the
        // window visits each consecutive pair of the time-sorted
        // samples once. The genuinely whole-list functions
        // (holt_winters, mad, quantile) keep the list aggregate.
        lazy val lagged = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("path"), col("n")).orderBy(col("time"))
          slotted
            .withColumn("pv", lag(col("value"), 1).over(w))
            .withColumn("pt", lag(col("time"), 1).over(w))
        }
        lazy val gl = lagged.groupBy(col("path"), col("n"))
        val out = fn match {
          case "avg_over_time"    => g.agg(avg("value").as("value"))
          case "sum_over_time"    => g.agg(sum("value").as("value"))
          case "min_over_time"    => g.agg(min("value").as("value"))
          case "max_over_time"    => g.agg(max("value").as("value"))
          case "count_over_time"  => g.agg(count(lit(1)).cast("double").as("value"))
          case "last_over_time"   => g.agg(max_by(col("value"), col("time")).as("value"))
          case "first_over_time"  => g.agg(min_by(col("value"), col("time")).as("value"))
          case "present_over_time" => g.agg(max(lit(1.0)).as("value"))
          // population forms, like Prometheus
          case "stddev_over_time" => g.agg(stddev_pop(col("value")).as("value"))
          case "stdvar_over_time" => g.agg(var_pop(col("value")).as("value"))
          // exact linear-interpolation quantile — per-slot sample
          // lists are window-bounded, the sort stays in the aggregate
          case "quantile_over_time" =>
            g.agg(percentile(col("value"), lit(argOpt.get)).as("value"))
          case "mad_over_time" =>
            // median absolute deviation (Prometheus's experimental fn):
            // two in-row φ=0.5 interpolated quantiles over the
            // window-bounded value list — `vs` and `med` are attribute
            // references inside the lambdas, so each evaluates once
            def arrMedian(a: Column): Column =
              (element_at(a, ((size(a) - 1) / lit(2)).cast("int") + 1) +
                element_at(a, (size(a) / lit(2)).cast("int") + 1)) / lit(2.0)
            g.agg(array_sort(collect_list(col("value"))).as("vs"))
              .withColumn("med", arrMedian(col("vs")))
              .withColumn("value",
                arrMedian(array_sort(transform(col("vs"), v => abs(v - col("med"))))))
          case "idelta" | "irate" =>
            // the slot's max-time row already carries (pv, pt) = the
            // second-to-last sample via the lag window; cnt >= 2
            // guarantees that row's pv/pt are non-null
            gl.agg(count(lit(1)).as("cnt"),
                max_by(struct(col("time"), col("value"), col("pt"), col("pv")),
                  col("time")).as("lastr"))
              .where(col("cnt") >= 2)
              .withColumn("value",
                if (fn == "idelta")
                  col("lastr.value") - col("lastr.pv")
                else {
                  // counter reset between the last two samples: the
                  // last value IS the increase (Prometheus instantRate)
                  val diff = when(col("lastr.value") >= col("lastr.pv"),
                    col("lastr.value") - col("lastr.pv"))
                    .otherwise(col("lastr.value"))
                  diff / (col("lastr.time") - col("lastr.pt"))
                })
          case "resets" =>
            // first row of a slot has pv null → comparison null →
            // otherwise(0.0): a single-sample slot reads 0
            gl.agg(sum(when(col("value") < col("pv"), lit(1.0))
              .otherwise(lit(0.0))).as("value"))
          case "changes" =>
            gl.agg(sum(when(col("value") =!= col("pv"), lit(1.0))
              .otherwise(lit(0.0))).as("value"))
          case "deriv" | "predict_linear" =>
            // least-squares slope over (t, v), time centered on the
            // eval slot for float stability (epoch² overflows double
            // mantissa); plain sums — no sample list needed
            val tc = (col("time") - (lit(start) + col("n") * lit(step))).cast("double")
            val g2 = slotted.withColumn("tc", tc).groupBy(col("path"), col("n"))
            val den = col("cnt") * col("st2") - col("st") * col("st")
            val slope0 = col("cnt") * col("stv") - col("st") * col("sv")
            val slope = when(den =!= 0.0, slope0 / den).otherwise(lit(Double.NaN))
            g2.agg(
                count(lit(1)).cast("double").as("cnt"),
                sum("tc").as("st"), sum("value").as("sv"),
                sum(col("tc") * col("value")).as("stv"),
                sum(col("tc") * col("tc")).as("st2"))
              .where(col("cnt") >= 2)
              .withColumn("slope", slope)
              .withColumn("value",
                if (fn == "deriv") col("slope")
                else {
                  // regression value `arg` seconds past the eval slot
                  // (tc = 0 is the slot itself)
                  val intercept = (col("sv") - col("slope") * col("st")) / col("cnt")
                  intercept + col("slope") * lit(argOpt.get)
                })
          case "holt_winters" =>
            // Prometheus double exponential smoothing
            // (`promql/functions.go funcHoltWinters`): sequential fold
            // over the window's sorted samples — state (s0, s1, b, i)
            // inside ONE higher-order aggregate, no UDF, list bounded
            // by window/scrape-interval
            val sf = argOpt.get; val tf = arg2Opt.get
            val xs = transform(col("s"), e => e("value"))
            val x0 = element_at(xs, 1); val x1 = element_at(xs, 2)
            val init = struct(
              lit(0.0).as("s0"), x0.as("s1"), (x1 - x0).as("b"), lit(1L).as("i"))
            val fold = aggregate(
              slice(xs, lit(2), size(xs) - 1), init,
              (acc, x) => {
                val bNew = when(acc("i") === 1L, acc("b"))
                  .otherwise(lit(tf) * (acc("s1") - acc("s0")) +
                    lit(1.0 - tf) * acc("b"))
                struct(
                  acc("s1").as("s0"),
                  (lit(sf) * x + lit(1.0 - sf) * (acc("s1") + bNew)).as("s1"),
                  bNew.as("b"),
                  (acc("i") + 1L).as("i"))
              },
              acc => acc("s1"))
            g.agg(sorted.as("s"), count(lit(1)).as("cnt"))
              .where(col("cnt") >= 2)
              .withColumn("value", fold)
          case "delta" | "rate" | "increase" | "xrate" | "xincrease" =>
            // upstream's extrapolatedRate (promql/functions.go):
            // counter delta (with reset correction) or gauge delta
            // (`delta`, no reset logic), extrapolated to the window
            // edges but no further than half the average sample
            // spacing past the first/last sample; counters clamp the
            // start at the estimated zero crossing. `rate`/`increase`
            // follow upstream exactly; `xrate`/`xincrease` are kept as
            // aliases from when the classic non-extrapolated form was
            // the default.
            val isCounter = fn != "delta"
            // first/last via min_by/max_by on the unique time key;
            // counter resets: every time a sample drops below its
            // predecessor, the predecessor's value is added back
            val aggs = Seq(
              min_by(struct(col("time"), col("value")), col("time"))
                .as("first"),
              max_by(struct(col("time"), col("value")), col("time"))
                .as("last")) ++
              (if (isCounter)
                Seq(sum(when(col("value") < col("pv"), col("pv"))
                  .otherwise(lit(0.0))).as("resets"))
              else Nil)
            val delta = col("last")("value") - col("first")("value")
            val base = gl.agg(count(lit(1)).as("cnt"), aggs: _*)
              .where(col("cnt") >= 2)
              .withColumn("increase", if (isCounter) delta + col("resets") else delta)
            val tEnd = (lit(start) + col("n") * lit(step)).cast("double")
            val firstT = col("first")("time").cast("double")
            val lastT = col("last")("time").cast("double")
            val firstV = col("first")("value")
            val sampled = lastT - firstT
            val avgDur = sampled / (col("cnt") - 1).cast("double")
            val dStart0 = firstT - (tEnd - lit(win.toDouble))
            val dEnd0 = tEnd - lastT
            val durToZero = sampled * (firstV / col("increase"))
            // pinned upstream order (post-2.52 reorder): cap
            // durationToStart at the 1.1×avgDur extrapolation
            // threshold FIRST, then clamp the counter zero crossing
            // against the CAPPED value — the reverse order returns
            // durToZero where upstream returns avgDur/2 whenever
            // dStart0 >= threshold and durToZero ∈ (avgDur/2, thresh)
            val thresh = avgDur * lit(1.1)
            val dStartCapped = when(dStart0 >= thresh, avgDur / 2).otherwise(dStart0)
            val dStart =
              if (isCounter)
                when(col("increase") > 0.0 && firstV >= 0.0 && durToZero < dStartCapped,
                  durToZero).otherwise(dStartCapped)
              else dStartCapped
            val dEnd = when(dEnd0 >= thresh, avgDur / 2).otherwise(dEnd0)
            val factor = (sampled + dStart + dEnd) / sampled
            base.withColumn("value",
              if (fn == "rate" || fn == "xrate")
                col("increase") * factor / lit(win.toDouble)
              else col("increase") * factor)
          case other => throw new IllegalArgumentException(s"unsupported function $other")
        }
        out.select(col("path"), t, col("value"))
    }
  }

  /** Comparison operators evaluate in Prometheus's filter mode. */
  private val cmpOps = Set(">", "<", ">=", "<=", "==", "!=")

  private def cmpPred(op: String, l: Column, r: Column): Column = op match {
    case ">"  => l > r
    case "<"  => l < r
    case ">=" => l >= r
    case "<=" => l <= r
    case "==" => l === r
    case "!=" => l =!= r
    case other => throw new IllegalArgumentException(s"unsupported operator $other")
  }

  /** The match-group key from a storage path under `m`: the sorted
    * `k=v&…` label string (no leading `?`, no `__name__`) restricted
    * to `on(labels)`, or with `ignoring(labels)` removed, or the full
    * label set by default. Pure column math on the path — paths carry
    * their tags pre-sorted, so the default and ignoring forms preserve
    * canonical order, and the on form re-extracts in sorted key order.
    */
  private[prom] def matchKeyCol(m: Matching): Column = {
    if (m.on) {
      val parts = m.labels.distinct.sorted.map { k =>
        val v = regexp_extract(col("path"),
          "[?&]" + java.util.regex.Pattern.quote(k) + "=([^&]*)", 1)
        when(v =!= "", concat(lit(k + "="), v))
      }
      if (parts.isEmpty) lit("") else concat_ws("&", parts: _*)
    } else {
      val qs = regexp_replace(col("path"), "^[^?]*\\??", "")
      if (m.labels.isEmpty) qs
      else {
        val dropped = array(m.labels.distinct.map(lit): _*)
        array_join(
          filter(split(qs, "&"), x =>
            x =!= "" && !array_contains(dropped, substring_index(x, "=", 1))),
          "&")
      }
    }
  }

  /** `k=v&…` key string → result path (`?k=v&…`, or `""` for the
    * empty label set) — the nameless series Prometheus's arithmetic
    * emits.
    */
  private def namelessPath(key: Column): Column =
    when(key === "", lit("")).otherwise(concat(lit("?"), key))

  /** The arithmetic value column; IEEE division/mod semantics like
    * Prometheus (x/0 = ±Inf, 0/0 = NaN, x%0 = NaN) — spelled out
    * because Spark 4's ANSI mode throws on zero divisors instead.
    */
  private def arithValue(op: String, lv: Column, rv: Column): Column = op match {
    case "+" => lv + rv
    case "-" => lv - rv
    case "*" => lv * rv
    case "/" =>
      when(rv =!= 0.0, lv / rv)
        .when(lv > 0.0, lit(Double.PositiveInfinity))
        .when(lv < 0.0, lit(Double.NegativeInfinity))
        .otherwise(lit(Double.NaN))
    case "%" =>
      // Go math.Mod: sign follows the dividend; x % 0 is NaN
      when(rv =!= 0.0, lv % rv).otherwise(lit(Double.NaN))
    case "^" => pow(lv, rv)
    // infix trig operator, multiplicative precedence like Prometheus
    case "atan2" => atan2(lv, rv)
    case other => throw new IllegalArgumentException(s"unsupported operator $other")
  }

  /** The "many" side's path minus its name, with the `group_left(…)`/
    * `group_right(…)` include labels overridden from the "one" side's
    * path, re-sorted into canonical `?k=v&…` form.
    */
  private def mergeIncludePath(
      manyPath: Column, onePath: Column, include: Seq[String]): Column = {
    val qs = regexp_replace(manyPath, "^[^?]*\\??", "")
    if (include.isEmpty) namelessPath(qs)
    else {
      val inc = include.distinct
      val incArr = array(inc.map(lit): _*)
      val kept = filter(split(qs, "&"), x =>
        x =!= "" && !array_contains(incArr, substring_index(x, "=", 1)))
      val added = inc.map { k =>
        val v = regexp_extract(onePath,
          "[?&]" + java.util.regex.Pattern.quote(k) + "=([^&]*)", 1)
        when(v =!= "", concat(lit(k + "="), v))
      }
      val merged = array_sort(
        filter(concat(kept, array(added: _*)), x => x.isNotNull))
      namelessPath(array_join(merged, "&"))
    }
  }

  /** Vector arithmetic/comparison over two matrices: equi-join on
    * (match key, slot). Both sides are already (series × slots) result
    * matrices — fleet-sized, one shuffle each on the join key; never a
    * cartesian product, whatever the matching modifiers.
    *
    *  - one-to-one: the result path IS the match key (Prometheus's
    *    resultMetric drops the name, then keeps only `on` labels /
    *    drops `ignoring` labels — which leaves exactly the key).
    *  - `group_left`/`group_right`: the "one" side is deduplicated
    *    per (key, slot) to its max-(value, path) entry (Prometheus
    *    hard-errors on duplicates — declared divergence); the result
    *    keeps the "many" side's labels sans name plus any `include`
    *    labels copied from the "one" side.
    *  - comparisons FILTER (left rows pass through untouched, name
    *    kept) unless `boolMode`, which emits 0/1 with arithmetic's
    *    label handling. Filter-mode's right side is deduplicated to
    *    its max value per (key, slot) — Prometheus errors on that
    *    duplicate too (declared divergence, ADVICE r6).
    */
  /** Aggregation ops a fused binop can evaluate as a conditional
    * (`when(flag, value)`-gated, null-skipping) aggregate.
    */
  private val fusableAggOps =
    Set("sum", "avg", "min", "max", "count", "group", "stddev", "stdvar")

  /** Fused evaluation of `agg1 by (g) (sel1) op agg2 by (g) (sel2)`
    * (one-to-one default matching, non-comparison op): instead of two
    * full selector pipelines joined on (key, slot), scan the UNION of
    * the two matched path sets ONCE with per-series boolean match
    * flags, and compute both sides as conditional aggregates of the
    * same group-by — Prometheus's inner-join-on-slots semantics falls
    * out of the presence gates (a side "has" a (group, slot) iff ≥ 1
    * flagged series contributed a sample in the lookback window).
    *
    * Scale shape: the dominant costs of the generic path — the sample
    * scan, the slot explode, the per-(series, slot) instant
    * aggregate, and the per-(group, slot) aggregate — each run ONCE
    * instead of twice, and the (k, t) shuffle join disappears
    * entirely. Flags are per-series constants (label predicates), so
    * they ride every aggregate without changing its cardinality.
    */
  /** The shared flagged instant matrix two selector-rooted binop/setop
    * sides evaluate from: ONE sample scan over the UNION of the two
    * matched path sets, with per-series boolean match flags riding
    * the version dedup, slot explode, and instant aggregate (they
    * are label predicates — constant per series — so no aggregate
    * changes cardinality). Returns (path, t, value, __m1, __m2).
    */
  private def sharedInstantMatrix(
      points: DataFrame,
      tags: DataFrame,
      s1: Selector,
      s2: Selector,
      start: Long,
      end: Long,
      step0: Long,
      lookbackSec: Long): DataFrame = {
    val step = math.max(1L, step0)
    val p1 = Prom.findPathsCached(tags, s1.matchers)
      .select(col("path"), lit(true).as("__m1"))
    val p2 = Prom.findPathsCached(tags, s2.matchers)
      .select(col("path"), lit(true).as("__m2"))
    val paths = p1.join(p2, Seq("path"), "full_outer")
      .select(col("path"),
        coalesce(col("__m1"), lit(false)).as("__m1"),
        coalesce(col("__m2"), lit(false)).as("__m2"))
    val scanned = points
      .join(broadcast(paths), Seq("path"))
      .where(col("time") > lit(start - lookbackSec) && col("time") <= lit(end))
    // max-version-wins dedup, flags ride (constant per path — the
    // grouping cardinality is unchanged)
    val pts =
      if (scanned.columns.contains("version"))
        scanned.groupBy("path", "time", "__m1", "__m2")
          .agg(max_by(col("value"), col("version")).as("value"))
      else
        scanned.select(col("path"), col("time"), col("value"),
          col("__m1"), col("__m2"))
    // the windowAggregate grid math, inlined so the flags ride along
    val lastSlot = (end - start) / step
    val offs = col("time") - lit(start)
    val nMin = greatest(lit(0L), floor((offs + lit(step - 1)) / lit(step)).cast("long"))
    val nMax = least(lit(lastSlot),
      floor((offs + lit(lookbackSec - 1)) / lit(step)).cast("long"))
    val slotted = pts
      .withColumn("n_min", nMin).withColumn("n_max", nMax)
      .where(col("n_min") <= col("n_max"))
      .select(col("path"), col("time"), col("value"), col("__m1"), col("__m2"),
        explode(sequence(col("n_min"), col("n_max"))).as("n"))
    slotted
      .groupBy(col("path"), col("__m1"), col("__m2"), col("n"))
      .agg(max_by(col("value"), col("time")).as("value"))
      .select(col("path"), (lit(start) + col("n") * lit(step)).as("t"),
        col("value"), col("__m1"), col("__m2"))
  }

  /** The `when(flag, …)`-gated (null-skipping) form of a fusable
    * aggregation op, usable both as a group aggregate and a window
    * aggregate.
    */
  private def condAgg(aop: String, flag: Column): Column = aop match {
    case "sum"    => sum(when(flag, col("value")))
    case "avg"    => avg(when(flag, col("value")))
    case "min"    => min(when(flag, col("value")))
    case "max"    => max(when(flag, col("value")))
    case "count"  => count(when(flag, lit(1))).cast("double")
    case "group"  => max(when(flag, lit(1.0)))
    case "stddev" => stddev_pop(when(flag, col("value")))
    case "stdvar" => var_pop(when(flag, col("value")))
    case other => throw new IllegalStateException(s"unfusable agg $other")
  }

  private def fusedAggBinOp(
      points: DataFrame,
      tags: DataFrame,
      op: String,
      aop1: String,
      aop2: String,
      by: Seq[String],
      without: Boolean,
      s1: Selector,
      s2: Selector,
      start: Long,
      end: Long,
      step0: Long,
      lookbackSec: Long): DataFrame = {
    val inst = sharedInstantMatrix(points, tags, s1, s2,
      start, end, step0, lookbackSec)
    inst.groupBy(groupKeyPath(by, without).as("path"), col("t"))
      .agg(condAgg(aop1, col("__m1")).as("lv"),
        condAgg(aop2, col("__m2")).as("rv"),
        count(when(col("__m1"), lit(1))).as("__n1"),
        count(when(col("__m2"), lit(1))).as("__n2"))
      .where(col("__n1") > 0 && col("__n2") > 0)
      .select(col("path"), col("t"),
        arithValue(op, col("lv"), col("rv")).as("value"))
  }

  private[prom] def binOpMatrix(
      lm: DataFrame,
      rm: DataFrame,
      op: String,
      boolMode: Boolean = false,
      m: Matching = Matching.default,
      oneUnique: Boolean = false): DataFrame = {
    val key = matchKeyCol(m)
    if (cmpOps(op) && !boolMode) {
      val l2 = lm.select(col("path"), key.as("k"), col("t"), col("value"))
      val r2 = rm.select(key.as("k"), col("t"), col("value").as("rv"))
        .groupBy("k", "t").agg(max("rv").as("rv"))
      return l2.join(r2, Seq("k", "t"))
        .where(cmpPred(op, col("value"), col("rv")))
        .select("path", "t", "value")
    }
    def value(lv: Column, rv: Column): Column =
      if (cmpOps(op)) when(cmpPred(op, lv, rv), lit(1.0)).otherwise(lit(0.0))
      else arithValue(op, lv, rv)
    if (m.side == Matching.OneToOne) {
      val l2 = lm.select(key.as("k"), col("t"), col("value").as("lv"))
      val r2 = rm.select(key.as("k"), col("t"), col("value").as("rv"))
      l2.join(r2, Seq("k", "t"))
        .select(namelessPath(col("k")).as("path"), col("t"),
          value(col("lv"), col("rv")).as("value"))
    } else {
      val (many, one) =
        if (m.side == Matching.GroupLeft) (lm, rm) else (rm, lm)
      val m2 = many.select(col("path"), key.as("k"), col("t"), col("value").as("mv"))
      // the declared-divergence dedup of a non-unique "one" side; when
      // the caller proves uniqueness (an aggregation keyed exactly on
      // the match labels — the dominant share-of-total dashboard
      // shape), the whole aggregate stage is skipped
      val o2raw = one.select(key.as("k"), col("t"),
        struct(col("value").as("ov"), col("path").as("opath")).as("o"))
      val o2 = (if (oneUnique) o2raw
        else o2raw.groupBy("k", "t").agg(max("o").as("o")))
        .select(col("k"), col("t"), col("o.ov").as("ov"), col("o.opath").as("opath"))
      val (lv, rv) =
        if (m.side == Matching.GroupLeft) (col("mv"), col("ov"))
        else (col("ov"), col("mv"))
      m2.join(o2, Seq("k", "t"))
        .select(
          mergeIncludePath(col("path"), col("opath"), m.include).as("path"),
          col("t"), value(lv, rv).as("value"))
    }
  }

  /** Set operators over two matrices, keyed per slot on the match
    * key: `and` = semi-join, `unless` = anti-join, `or` = left ∪
    * (right anti-join left). Full paths (names included) pass through
    * untouched, like Prometheus.
    */
  private[prom] def setOpMatrix(
      lm: DataFrame,
      rm: DataFrame,
      op: String,
      m: Matching = Matching.default): DataFrame = {
    val key = matchKeyCol(m)
    val l2 = lm.select(col("path"), key.as("k"), col("t"), col("value"))
    op match {
      case "and" =>
        l2.join(rm.select(key.as("k"), col("t")), Seq("k", "t"), "left_semi")
          .select("path", "t", "value")
      case "unless" =>
        l2.join(rm.select(key.as("k"), col("t")), Seq("k", "t"), "left_anti")
          .select("path", "t", "value")
      case "or" =>
        val rOnly = rm.select(col("path"), key.as("k"), col("t"), col("value"))
          .join(lm.select(key.as("k"), col("t")), Seq("k", "t"), "left_anti")
        lm.select("path", "t", "value")
          .unionByName(rOnly.select("path", "t", "value"))
      case other => throw new IllegalArgumentException(s"unsupported set operator $other")
    }
  }

  /** Vector–scalar arithmetic: map over the matrix, keeping labels
    * but dropping the name (as Prometheus does for any arithmetic);
    * IEEE division semantics spelled out like [[binOpMatrix]].
    * Comparisons filter (rows survive unchanged, name kept) unless
    * `boolMode`, which emits 0/1 nameless rows.
    */
  private[prom] def scalarOpMatrix(
      m: DataFrame, op: String, s: Column, scalarLeft: Boolean,
      boolMode: Boolean = false): DataFrame = {
    val v = col("value")
    if (cmpOps(op)) {
      val pred = if (scalarLeft) cmpPred(op, s, v) else cmpPred(op, v, s)
      return if (boolMode)
        m.select(regexp_replace(col("path"), "^[^?]*", "").as("path"),
          col("t"), when(pred, lit(1.0)).otherwise(lit(0.0)).as("value"))
      else m.where(pred).select("path", "t", "value")
    }
    val out =
      if (scalarLeft) arithValue(op, s, v) else arithValue(op, v, s)
    m.select(regexp_replace(col("path"), "^[^?]*", "").as("path"),
      col("t"), out.as("value"))
  }

  /** One UTC calendar component of an epoch-seconds column. Sub-day
    * components are modular epoch arithmetic (epoch day zero was a
    * Thursday = weekday 4); the calendar ones add the epoch-day count
    * to the DATE literal 1970-01-01 — DATE functions carry no
    * timezone, so the result is UTC regardless of the session zone.
    */
  private def dateComponent(fn: String, tSec: Column): Column = {
    lazy val d = date_add(lit("1970-01-01").cast("date"),
      floor(tSec.cast("double") / 86400d).cast("int"))
    fn match {
      // pmod, not %: pre-1970 timestamps floor-divide negative and
      // Prometheus's time.Unix wraps them into the positive range
      case "minute"        => pmod(floor(tSec / 60L), lit(60L))
      case "hour"          => pmod(floor(tSec / 3600L), lit(24L))
      case "day_of_week"   => pmod(floor(tSec / 86400L) + 4L, lit(7L))
      case "day_of_month"  => dayofmonth(d)
      case "day_of_year"   => dayofyear(d)
      case "month"         => month(d)
      case "year"          => year(d)
      case "days_in_month" => dayofmonth(last_day(d))
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }
  }

  /** One label-less series over the full eval grid (`vector(v)`,
    * standalone `time()`): `range(slots)` projected to (path="", t,
    * value) — result-sized, no scan of the points relation.
    */
  private def gridMatrix(
      points: DataFrame, start: Long, end: Long, step0: Long,
      value: Column): DataFrame =
    gridT(points, start, end, step0)
      .select(lit("").as("path"), col("t"), value.cast("double").as("value"))

  /** The bare (t) grid relation — result-sized, no points scan. */
  private def gridT(
      points: DataFrame, start: Long, end: Long, step0: Long): DataFrame = {
    val step = math.max(1L, step0)
    points.sparkSession.range(0, (end - start) / step + 1)
      .select((lit(start) + col("id") * lit(step)).as("t"))
  }

  /** The `absent()` / `absent_over_time()` assembly: 1 at every grid
    * slot where `base` has no row; result labels from the inner
    * selector's equality matchers sans `__name__` (Prometheus's
    * absent-label rule), sorted into path form.
    */
  private def absentGrid(
      points: DataFrame, base: DataFrame, inner: Expr,
      start: Long, end: Long, step0: Long): DataFrame = {
    val labels = (inner match {
      case s: Selector => s.matchers
      case _ => Seq.empty
    }).collect { case (k, "=", v) if k != "__name__" => s"$k=$v" }.sorted
    val path = if (labels.isEmpty) "" else labels.mkString("?", "&", "")
    gridT(points, start, end, step0)
      .join(base.select("t").distinct(), Seq("t"), "left_anti")
      .select(lit(path).as("path"), col("t"), lit(1.0).as("value"))
  }

  /** A scalar-typed expression as a Column over `t` — defined when no
    * evaluation pass is needed (literals, `time()`, math/arith over
    * those). `scalar(v)` needs its inner vector evaluated, so it is
    * NOT column-expressible and takes the [[scalarSlots]] path.
    * Scalar comparisons are 0/1-valued (the parser enforced `bool`).
    */
  private def scalarColumn(e: Expr): Option[Column] = e match {
    case Scalar(v) => Some(lit(v))
    case TimeFn    => Some(col("t").cast("double"))
    case MathFn(fn, args, inner) => scalarColumn(inner).map(mathValue(fn, args, _))
    case BinOp(op, l, r, _, _) =>
      for { lc <- scalarColumn(l); rc <- scalarColumn(r) } yield
        if (cmpOps(op)) when(cmpPred(op, lc, rc), lit(1.0)).otherwise(lit(0.0))
        else arithValue(op, lc, rc)
    case _ => None
  }

  /** Evaluate a scalar-typed expression to its per-slot value: one
    * (t, sval) row per grid slot. Column-expressible scalars are a
    * bare grid projection; `scalar(v)` evaluates its inner vector once
    * and reduces per slot (exactly-one-series → the value, else NaN,
    * like Prometheus); compositions combine grid-sized frames on t.
    */
  private def scalarSlots(
      points: DataFrame, tags: DataFrame, e: Expr,
      start: Long, end: Long, step0: Long, lookbackSec: Long,
      memo: scala.collection.mutable.HashMap[(Expr, Long, Long, Long, Long), DataFrame]): DataFrame =
    scalarColumn(e) match {
      case Some(c) =>
        gridT(points, start, end, step0)
          .select(col("t"), c.cast("double").as("sval"))
      case None => e match {
        case ScalarFn(inner) =>
          val m = evalMemo(points, tags, inner, start, end, step0, lookbackSec, memo)
          val per = m.groupBy("t").agg(
            when(count(lit(1)) === 1, min(col("value")))
              .otherwise(lit(Double.NaN)).as("sval"))
          gridT(points, start, end, step0)
            .join(per, Seq("t"), "left_outer")
            .select(col("t"), coalesce(col("sval"), lit(Double.NaN)).as("sval"))
        case MathFn(fn, args, inner) =>
          scalarSlots(points, tags, inner, start, end, step0, lookbackSec, memo)
            .select(col("t"),
              mathValue(fn, args, col("sval")).cast("double").as("sval"))
        case BinOp(op, l, r, _, _) =>
          val ls = scalarSlots(points, tags, l, start, end, step0, lookbackSec, memo)
            .withColumnRenamed("sval", "ls")
          val rs = scalarSlots(points, tags, r, start, end, step0, lookbackSec, memo)
            .withColumnRenamed("sval", "rs")
          val out =
            if (cmpOps(op))
              when(cmpPred(op, col("ls"), col("rs")), lit(1.0)).otherwise(lit(0.0))
            else arithValue(op, col("ls"), col("rs"))
          ls.join(rs, Seq("t")).select(col("t"), out.cast("double").as("sval"))
        case other =>
          throw new IllegalArgumentException(s"not a scalar expression: $other")
      }
    }

  /** Vector–scalar binary operation where the scalar side may need
    * evaluation: the no-join column fast path when possible, otherwise
    * a broadcast join of the grid-sized per-slot scalar on t.
    */
  private def vecScalarOp(
      points: DataFrame, tags: DataFrame, vec: Expr, sca: Expr,
      op: String, scalarLeft: Boolean, boolMode: Boolean,
      start: Long, end: Long, step0: Long, lookbackSec: Long,
      memo: scala.collection.mutable.HashMap[(Expr, Long, Long, Long, Long), DataFrame]): DataFrame = {
    val m = evalMemo(points, tags, vec, start, end, step0, lookbackSec, memo)
    scalarColumn(sca) match {
      case Some(c) => scalarOpMatrix(m, op, c, scalarLeft, boolMode)
      case None =>
        val slots = scalarSlots(points, tags, sca, start, end, step0, lookbackSec, memo)
        scalarOpMatrix(m.join(broadcast(slots), Seq("t")), op, col("sval"),
          scalarLeft, boolMode)
    }
  }

  /** Double-precision floor/ceil that stay double: Spark's
    * `floor`/`ceil` cast to LONG (overflowing under ANSI for huge
    * doubles and ±Inf); `v - pmod(v, 1)` is exact for finite doubles
    * and the non-finite cases pass through.
    */
  private def floorD(v: Column): Column =
    when(isnan(v) || v === lit(Double.PositiveInfinity) ||
        v === lit(Double.NegativeInfinity), v)
      .otherwise(v - pmod(v, lit(1.0)))
  private def ceilD(v: Column): Column = negate(floorD(negate(v)))

  /** Scalar math over a matrix: value transform per row, metric name
    * dropped (as Prometheus does for every math function), labels
    * kept. Non-positive log inputs follow Prometheus (ln(0) = -Inf,
    * ln(<0) = NaN) rather than SQL NULL; `round`'s half always rounds
    * up (`floor(v/to + 0.5)·to`, Go semantics) rather than SQL
    * HALF_UP-on-magnitude; clamp bounds NaN-safe.
    */
  private[prom] def mathFnMatrix(
      m: DataFrame, fn: String, args: Seq[Double]): DataFrame =
    m.select(regexp_replace(col("path"), "^[^?]*", "").as("path"),
      col("t"), mathValue(fn, args, col("value")).as("value"))

  /** The value transform of one math function — shared between the
    * matrix form and scalar-typed expressions (`sin(pi() / 2)`).
    */
  private def mathValue(fn: String, args: Seq[Double], v: Column): Column = {
    def logBase(log: Column => Column): Column =
      when(isnan(v), v)
        .when(v > 0.0, log(v))
        .when(v === 0.0, lit(Double.NegativeInfinity))
        .otherwise(lit(Double.NaN))
    fn match {
      case "abs"   => abs(v)
      case "ceil"  => ceilD(v)
      case "floor" => floorD(v)
      case "round" =>
        val to = args.headOption.getOrElse(1.0)
        floorD(v / lit(to) + lit(0.5)) * lit(to)
      case "sqrt" =>
        when(v >= 0.0, sqrt(v)).otherwise(lit(Double.NaN))
      case "exp"   => exp(v)
      case "ln"    => logBase(log(_))
      case "log2"  => logBase(log2(_))
      case "log10" => logBase(log10(_))
      case "sgn"   => signum(v)
      case "clamp" =>
        val (lo, hi) = (args(0), args(1))
        if (lo > hi) lit(Double.NaN)
        else when(isnan(v), v).otherwise(least(greatest(v, lit(lo)), lit(hi)))
      case "clamp_min" =>
        when(isnan(v), v).otherwise(greatest(v, lit(args(0))))
      case "clamp_max" =>
        when(isnan(v), v).otherwise(least(v, lit(args(0))))
      // trig: the JVM functions follow IEEE/Go (NaN outside the
      // domain), so no extra guards needed
      case "sin"   => sin(v)
      case "cos"   => cos(v)
      case "tan"   => tan(v)
      case "asin"  => asin(v)
      case "acos"  => acos(v)
      case "atan"  => atan(v)
      case "sinh"  => sinh(v)
      case "cosh"  => cosh(v)
      case "tanh"  => tanh(v)
      case "asinh" => asinh(v)
      case "acosh" => acosh(v)
      case "atanh" => atanh(v)
      case "deg"   => degrees(v)
      case "rad"   => radians(v)
      case other => throw new IllegalArgumentException(s"unsupported function $other")
    }
  }

  /** The name and query-string halves of a storage path. */
  private def pathName(p: Column): Column =
    when(p.contains("?"), substring_index(p, "?", 1)).otherwise(p)
  private def pathQs(p: Column): Column =
    regexp_replace(p, "^[^?]*\\??", "")

  /** A label's value out of a path (`""` = absent), `__name__` being
    * the name segment.
    */
  private def labelVal(p: Column, k: String): Column =
    if (k == "__name__") pathName(p)
    else regexp_extract(p,
      "[?&]" + java.util.regex.Pattern.quote(k) + "=([^&]*)", 1)

  /** Rebuild a path with label `dst` set to `newVal` (empty = remove):
    * name segment handled directly, query-string labels re-sorted into
    * canonical `k=v&…` order.
    */
  private def setLabelPath(p: Column, dst: String, newVal: Column): Column = {
    if (dst == "__name__")
      when(pathQs(p) === "", newVal)
        .otherwise(concat(newVal, lit("?"), pathQs(p)))
    else {
      val kept = filter(split(pathQs(p), "&"), x =>
        x =!= "" && substring_index(x, "=", 1) =!= dst)
      val added = when(newVal =!= "", array(concat(lit(dst + "="), newVal)))
        .otherwise(array().cast("array<string>"))
      val qs = array_join(array_sort(concat(kept, added)), "&")
      when(qs === "", pathName(p)).otherwise(concat(pathName(p), lit("?"), qs))
    }
  }

  /** `label_replace` over a matrix: anchored regex on the src label's
    * value; matching rows get dst rewritten (with `$n` group refs),
    * others pass through. Pure column math — one projection, no
    * shuffle.
    */
  private[prom] def labelReplaceMatrix(
      m: DataFrame, dst: String, rep: String, src: String, regex: String): DataFrame = {
    val anchored = "^(?:" + regex + ")$"
    val srcVal = labelVal(col("path"), src)
    val matched = srcVal.rlike(anchored)
    val newVal = regexp_replace(srcVal, anchored, rep)
    val path = when(matched, setLabelPath(col("path"), dst, newVal))
      .otherwise(col("path"))
    m.select(path.as("path"), col("t"), col("value"))
  }

  /** `label_join` over a matrix: dst = sep-joined source label values,
    * unconditionally.
    */
  private[prom] def labelJoinMatrix(
      m: DataFrame, dst: String, sep: String, srcs: Seq[String]): DataFrame = {
    val joined = concat_ws(sep, srcs.map(labelVal(col("path"), _)): _*)
    m.select(setLabelPath(col("path"), dst, joined).as("path"),
      col("t"), col("value"))
  }

  /** `count_values` over a matrix: one hash aggregate on (formatted
    * value, slot); the value string uses [[fmtValue]]'s shortest form
    * (integral doubles print without the `.0`), matching Prometheus's
    * label rendering.
    */
  private[prom] def countValuesMatrix(m: DataFrame, label: String): DataFrame = {
    val v = col("value")
    val vstr = when(
      !isnan(v) && v === floorD(v) && abs(v) < 1e15,
      v.cast("long").cast("string")).otherwise(v.cast("string"))
    m.groupBy(concat(lit("?" + label + "="), vstr).as("path"), col("t"))
      .agg(count(lit(1)).cast("double").as("value"))
  }

  /** `histogram_quantile(φ, …)` over an inner matrix of cumulative
    * `le` buckets: ONE hash aggregate re-keys each series to its
    * labels-minus-`le` group per slot and collects the (upper bound,
    * count) pairs — bucket lists are scrape-config-sized (tens), so
    * the sort and interpolation stay inside the aggregate row, and the
    * plan shape is identical to [[aggMatrix]] (no window, no join).
    * Algorithm per Prometheus `promql/quantile.go bucketQuantile`:
    * rank = φ·count(+Inf); the first bucket whose cumulative count
    * reaches the rank is linearly interpolated from its lower bound;
    * the +Inf bucket resolves to the highest finite bound; a first
    * bucket with `le ≤ 0` resolves to its own bound; series lacking a
    * +Inf bucket, or with < 2 buckets, yield NaN; φ outside [0,1]
    * yields ±Inf. Before interpolation, upstream's monotonicity
    * repair runs in-row: each cumulative count is clamped to the
    * running max (`ensureMonotonic`), so post-`rate` float jitter
    * cannot push the rank search out of order.
    */
  def histogramQuantileMatrix(base: DataFrame, phi: Double): DataFrame = {
    val leStr = regexp_extract(col("path"), "[?&]le=([^&]*)", 1)
    val leVal = when(leStr === "+Inf", lit(Double.PositiveInfinity))
      .when(leStr === "-Inf", lit(Double.NegativeInfinity))
      .otherwise(leStr.cast("double"))
    // group path: every label but le, nameless (Prometheus drops the
    // name along with le)
    val qs = regexp_replace(col("path"), "^[^?]*\\??", "")
    val gq = array_join(
      filter(split(qs, "&"), x =>
        x =!= "" && substring_index(x, "=", 1) =!= "le"), "&")
    val gpath = namelessPath(gq)
    val b = col("b")
    val grouped = base
      .where(leStr =!= "" && leVal.isNotNull)
      .groupBy(gpath.as("path"), col("t"))
      .agg(array_sort(
        collect_list(struct(leVal.as("le"), col("value").as("cnt")))).as("b"))
      // monotonicity repair: cumulative count i becomes the max over
      // counts 0..i. Bucket lists are scrape-config-sized (tens), so
      // the quadratic in-row scan is cheap; `b` is an attribute
      // reference, not a recomputed subtree, so the lambda stays
      // eval-once per element
      .withColumn("b", transform(b, (x, i) =>
        struct(x("le").as("le"),
          array_max(transform(slice(b, lit(1), i + lit(1)), y => y("cnt")))
            .as("cnt"))))
      .withColumn("n", size(b))
      .withColumn("obs", element_at(b, -1)("cnt"))
      .withColumn("rank", lit(phi) * col("obs"))
      // 0-based index of the first bucket whose count reaches the
      // rank (bucket lists are tiny — the lambda scan is in-row)
      .withColumn("bidx",
        least(size(filter(b, x => x("cnt") < col("rank"))), col("n") - 1))
    def at(i: Column) = element_at(b, i + lit(1)) // 0-based helper
    val cur = at(col("bidx"))
    val prevCnt = when(col("bidx") > 0, at(col("bidx") - 1)("cnt")).otherwise(lit(0.0))
    val bucketStart = when(col("bidx") > 0, at(col("bidx") - 1)("le")).otherwise(lit(0.0))
    val interp = bucketStart +
      (cur("le") - bucketStart) * (col("rank") - prevCnt) / (cur("cnt") - prevCnt)
    val value =
      if (phi < 0.0) lit(Double.NegativeInfinity)
      else if (phi > 1.0) lit(Double.PositiveInfinity)
      else when(col("n") < 2 ||
          element_at(b, -1)("le") =!= lit(Double.PositiveInfinity) ||
          col("obs") === 0.0, lit(Double.NaN))
        .when(col("bidx") === col("n") - 1, at(col("n") - 2)("le"))
        .when(col("bidx") === 0 && cur("le") <= 0.0, cur("le"))
        .otherwise(interp)
    grouped.select(col("path"), col("t"), value.as("value"))
  }

  /** Prometheus aggregation over matrix rows: re-key each series to
    * its `by`-label subset (labels decoded straight out of the storage
    * path, re-encoded sorted into the nameless `?k=v&…` form) and run
    * ONE more hash aggregate on (group, slot). A label the series
    * lacks — or carries empty, which Prometheus treats as absent — is
    * dropped from the group key; empty `by` collapses everything onto
    * the empty path (= the empty label set).
    */
  /** The `by`/`without` grouping key of a series path: the nameless,
    * sorted `?k=v&…` form (empty for the empty label set). A label the
    * series lacks — or carries empty, which Prometheus treats as
    * absent — is dropped from the key.
    */
  private def groupKeyPath(by: Seq[String], without: Boolean): Column = {
    val qs = if (without) {
      // keep every label BUT the listed ones (and the name) — the
      // pre-sorted query string filtered in place
      val dropped = array(by.distinct.map(lit): _*)
      array_join(
        filter(split(pathQs(col("path")), "&"), x =>
          x =!= "" && !array_contains(dropped, substring_index(x, "=", 1))),
        "&")
    } else {
      val parts = by.distinct.sorted.map { k =>
        val v = regexp_extract(col("path"),
          "[?&]" + java.util.regex.Pattern.quote(k) + "=([^&]*)", 1)
        when(v =!= "", concat(lit(k + "="), v))
      }
      if (parts.isEmpty) lit("") else concat_ws("&", parts: _*)
    }
    when(qs === "", lit("")).otherwise(concat(lit("?"), qs))
  }

  private[prom] def aggMatrix(
      base: DataFrame,
      op: String,
      by: Seq[String],
      phi: Double = Double.NaN,
      without: Boolean = false): DataFrame = {
    val g = base.groupBy(groupKeyPath(by, without).as("path"), col("t"))
    val out = op match {
      case "sum"   => g.agg(sum("value").as("value"))
      case "avg"   => g.agg(avg("value").as("value"))
      case "min"   => g.agg(min("value").as("value"))
      case "max"   => g.agg(max("value").as("value"))
      case "count" => g.agg(count(lit(1)).cast("double").as("value"))
      case "group" => g.agg(max(lit(1.0)).as("value"))
      // population forms, like Prometheus's stddev/stdvar
      case "stddev" => g.agg(stddev_pop(col("value")).as("value"))
      case "stdvar" => g.agg(var_pop(col("value")).as("value"))
      // exact linear-interpolation quantile: per-(group, slot) value
      // counts are fleet-sized, so the exact sort stays inside the
      // aggregate — no approx sketch needed at this cardinality
      case "quantile" => g.agg(percentile(col("value"), lit(phi)).as("value"))
      case other   => throw new IllegalArgumentException(s"unsupported aggregation $other")
    }
    out.select("path", "t", "value")
  }

  /** `topk`/`bottomk` over matrix rows: one window rank per grid slot
    * (shuffle on `t`; per-slot row count = matched series count, so
    * the window state is fleet-sized, not sample-sized). Ties break on
    * path for deterministic output.
    */
  private[prom] def rankMatrix(
      base: DataFrame, op: String, k: Int,
      by: Seq[String] = Nil, without: Boolean = false): DataFrame = {
    val ord =
      if (op == "topk") Seq(col("value").desc, col("path").asc)
      else Seq(col("value").asc, col("path").asc)
    // grouped form: k best per (group, slot); the plain form is the
    // empty group (a constant key — same partitioning as t alone)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("t"), groupKeyPath(by, without)).orderBy(ord: _*)
    base.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select("path", "t", "value")
  }

  /** Driver-side label decode of a storage path (`name?k=v&…`) for
    * response assembly — the scalar twin of [[Prom.labels]]. Aggregated
    * series come back nameless (`?k=v&…` or fully empty for the empty
    * label set) and decode without a `__name__` entry, matching
    * Prometheus's name-dropping aggregation output.
    */
  def labelsOf(path: String): Seq[(String, String)] = {
    val q = path.indexOf('?')
    if (path.isEmpty) Seq.empty
    else if (q < 0) Seq("__name__" -> path)
    else {
      val kvs = path.substring(q + 1).split("&").toSeq.map { kv =>
        val eq = kv.indexOf('=')
        if (eq < 0) kv -> "" else kv.substring(0, eq) -> kv.substring(eq + 1)
      }
      val name = path.substring(0, q)
      val named = if (name.isEmpty) kvs else ("__name__" -> name) +: kvs
      named.sortBy(_._1)
    }
  }

  /** Prometheus's shortest-form sample value formatting. */
  def fmtValue(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isPosInfinity) "+Inf"
    else if (v.isNegInfinity) "-Inf"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** `(path, t, value)` matrix rows → the `/api/v1/query_range` JSON
    * envelope (`{"status":"success","data":{"resultType":"matrix",…}}`).
    */
  def matrixJson(rows: Seq[(String, Long, Double)], jstr: String => String): String = {
    val series = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (path, rs) =>
      val metric = labelsOf(path)
        .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
      val values = rs.sortBy(_._2)
        .map { case (_, t, v) => s"[$t,${jstr(fmtValue(v))}]" }.mkString("[", ",", "]")
      s"""{"metric":$metric,"values":$values}"""
    }
    s"""{"status":"success","data":{"resultType":"matrix","result":${series.mkString("[", ",", "]")}}}"""
  }

  /** `(path, t, value)` rows at one instant → the `/api/v1/query`
    * JSON envelope (`resultType: "vector"`, one `value` per series).
    */
  /** Instant-vector response ordering for a top-level sort() /
    * sort_desc() / sort_by_label() / sort_by_label_desc() — the only
    * place Prometheus honors them. None = not a sort expression
    * (assembly falls back to its stable path order). Label sorts are
    * lexicographic on the named labels' values (a missing label sorts
    * first), ties broken by path; value sorts break ties on path.
    */
  def orderInstant(
      expr: Expr,
      rows: Seq[(String, Long, Double)]): Option[Seq[(String, Long, Double)]] =
    expr match {
      case Sort(desc, _) =>
        Some(if (desc) rows.sortBy { case (p, _, v) => (-v, p) }
             else rows.sortBy { case (p, _, v) => (v, p) })
      case SortByLabel(desc, labels, _) =>
        val seqOrd: Ordering[Seq[String]] =
          scala.math.Ordering.Implicits.seqOrdering
        def key(p: String): Seq[String] = {
          val ls = labelsOf(p).toMap
          labels.map(l => ls.getOrElse(l, ""))
        }
        // desc reverses the LABEL comparison only; the path tiebreak
        // stays ascending in both directions (a blanket reverse would
        // flip ties too)
        Some(rows.sortWith { case ((px, _, _), (py, _, _)) =>
          val c = seqOrd.compare(key(px), key(py))
          if (c != 0) { if (desc) c > 0 else c < 0 } else px < py
        })
      case _ => None
    }

  def vectorJson(
      rows: Seq[(String, Long, Double)],
      jstr: String => String,
      presorted: Boolean = false): String = {
    val series = (if (presorted) rows else rows.sortBy(_._1)).map { case (path, t, v) =>
      val metric = labelsOf(path)
        .map { case (k, lv) => s"${jstr(k)}:${jstr(lv)}" }.mkString("{", ",", "}")
      s"""{"metric":$metric,"value":[$t,${jstr(fmtValue(v))}]}"""
    }
    s"""{"status":"success","data":{"resultType":"vector","result":${series.mkString("[", ",", "]")}}}"""
  }
}
