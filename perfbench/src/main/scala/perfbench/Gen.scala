package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded store generator and the closed-form expectations the
  * response checker compares against.
  *
  * Every generated series is linear in its minute index: the point at
  * `t0 + 60·k` has the value `a + b·k` (integers, so the plaintext
  * line and the double it parses to agree exactly). The average of any
  * run of consecutive minutes is then `a + b·(klo + khi)/2`, which
  * gives every rendered bucket in closed form without touching the
  * engine.
  */
object Gen {

  /** One generated series: graphite path (plain or `name;k=v` tagged
    * line form) and its line coefficients.
    */
  final case class Ser(path: String, a: Long, b: Long) {
    def valueAt(k: Long): Long = a + b * k
  }

  /** Points of every series at `t0 + 60·k`, `k` in `[0, minutes)`. */
  final case class Store(series: Vector[Ser], t0: Long, minutes: Int) {
    def points: Long = series.length.toLong * minutes
    def lastTime: Long = t0 + 60L * (minutes - 1)
  }

  val Precision = 60L

  /** The fixed server clock of the read-only workloads: 2026-01-01
    * 00:00 UTC. The store ends one minute before it.
    */
  val Now = 1767225600L

  private def coeffs(rnd: Random): (Long, Long) =
    (1000L + rnd.nextInt(99000), rnd.nextInt(41).toLong - 20L)

  /** `headline`: `hl.gGG.hHH.mMM`, groups × hosts × metrics series. */
  def headline(seed: Long, groups: Int, hosts: Int, metrics: Int, minutes: Int): Store = {
    val rnd = new Random(seed)
    val names = for {
      g <- 0 until groups; h <- 0 until hosts; m <- 0 until metrics
    } yield f"hl.g$g%02d.h$h%02d.m$m%02d"
    Store(names.map { n => val (a, b) = coeffs(rnd); Ser(n, a, b) }.toVector,
      Now - 60L * minutes, minutes)
  }

  /** `dashboard` series identity: (dc, host, svc, metric). */
  final case class Dims(dc: Int, host: Int, svc: Int, metric: Int) {
    def plain: String = f"dc$dc.host$host%02d.svc$svc.metric$metric"
    def tagged: String = f"metric$metric;dc=dc$dc;host=host$host%02d;svc=svc$svc"
    def labels: Map[String, String] = Map(
      "__name__" -> s"metric$metric", "dc" -> s"dc$dc",
      "host" -> f"host$host%02d", "svc" -> s"svc$svc")
  }

  final case class DashShape(dcs: Int, hosts: Int, svcs: Int, metrics: Int, minutes: Int) {
    def dims: Vector[Dims] = (for {
      d <- 1 to dcs; h <- 1 to hosts; s <- 1 to svcs; m <- 1 to metrics
    } yield Dims(d, h, s, m)).toVector
  }

  /** `dashboard`: every series twice, plain (depth 4) and tagged, with
    * the same coefficients.
    */
  def dashboard(seed: Long, shape: DashShape): (Store, Map[Dims, Ser]) = {
    val rnd = new Random(seed)
    val byDims = shape.dims.map { d => val (a, b) = coeffs(rnd); d -> (a, b) }
    val series = byDims.flatMap { case (d, (a, b)) => Seq(Ser(d.plain, a, b), Ser(d.tagged, a, b)) }
    (Store(series, Now - 60L * shape.minutes, shape.minutes),
      byDims.map { case (d, (a, b)) => d -> Ser(d.plain, a, b) }.toMap)
  }

  /** Plaintext lines `path value time`, driver-side. */
  def lines(st: Store): Iterator[String] =
    st.series.iterator.flatMap(s =>
      (0 until st.minutes).iterator.map(k => s"${s.path} ${s.valueAt(k)} ${st.t0 + 60L * k}"))

  /** The same lines as a Spark `value` column, generated on the
    * executors: the coefficient table crossed with the minute range.
    */
  def linesFrame(spark: SparkSession, st: Store): DataFrame = {
    import spark.implicits._
    val coef = st.series.map(s => (s.path, s.a, s.b)).toDF("path", "a", "b")
    spark.range(st.minutes.toLong).toDF("k")
      .crossJoin(broadcast(coef))
      .select(concat_ws(" ", col("path"),
        (col("a") + col("b") * col("k")).cast("string"),
        (lit(st.t0) + col("k") * 60L).cast("string")).as("value"))
  }

  // ------------------------------------------------------------------
  // closed-form render expectations
  // ------------------------------------------------------------------

  def ceilDiv(x: Long, d: Long): Long = Math.floorDiv(x + d - 1, d)

  /** Bucket width for a window: the storage precision inflated so the
    * result has at most `maxDataPoints` buckets, as a multiple of the
    * precision.
    */
  def renderStep(from: Long, until: Long, maxDataPoints: Long): Long = {
    val s = math.max(Precision, ceilDiv(until - from, maxDataPoints))
    ceilDiv(s, Precision) * Precision
  }

  /** The expected rendered series: grid start, step and one value per
    * bucket (NaN where the bucket holds no point). The bucket starting
    * at `B` averages the points with time in `[B, B + step)` that also
    * fall in the step-aligned query window.
    */
  final case class Expect(start: Long, step: Long, values: Array[Double])

  def expect(s: Ser, st: Store, from: Long, until: Long, maxDataPoints: Long): Expect = {
    val step = renderStep(from, until, maxDataPoints)
    val alignedFrom = ceilDiv(from, step) * step
    val alignedUntil = Math.floorDiv(until, step) * step + step - 1
    val gridStart = ceilDiv(from, step) * step
    val gridStop = Math.floorDiv(until, step) * step + step
    val n = math.max(0L, (gridStop - gridStart) / step).toInt
    val values = Array.tabulate(n) { j =>
      val b0 = gridStart + j * step
      val lo = math.max(math.max(b0, alignedFrom), st.t0)
      val hi = math.min(math.min(b0 + step - 1, alignedUntil), st.lastTime)
      val klo = ceilDiv(lo - st.t0, 60L)
      val khi = Math.floorDiv(hi - st.t0, 60L)
      if (klo > khi) Double.NaN else s.a + s.b * (klo + khi) / 2.0
    }
    Expect(gridStart, step, values)
  }

  /** The same expectation by averaging every point: the self-test
    * reference for [[expect]].
    */
  def bruteForce(s: Ser, st: Store, from: Long, until: Long, maxDataPoints: Long): Expect = {
    val step = renderStep(from, until, maxDataPoints)
    val alignedFrom = ceilDiv(from, step) * step
    val alignedUntil = Math.floorDiv(until, step) * step + step - 1
    val gridStart = ceilDiv(from, step) * step
    val gridStop = Math.floorDiv(until, step) * step + step
    val sums = scala.collection.mutable.Map.empty[Long, (Double, Int)]
    for (k <- 0 until st.minutes) {
      val t = st.t0 + 60L * k
      if (t >= alignedFrom && t <= alignedUntil) {
        val b0 = t - Math.floorMod(t, step)
        val (sum, c) = sums.getOrElse(b0, (0.0, 0))
        sums(b0) = (sum + s.valueAt(k), c + 1)
      }
    }
    val n = math.max(0L, (gridStop - gridStart) / step).toInt
    Expect(gridStart, step, Array.tabulate(n) { j =>
      sums.get(gridStart + j * step).map { case (sum, c) => sum / c }.getOrElse(Double.NaN)
    })
  }

  /** Anchored regex for a graphite glob (`*`, `?`, `[...]`, `{a,b}`),
    * a node never spanning a dot.
    */
  def globRegex(glob: String): scala.util.matching.Regex = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < glob.length) {
      glob(i) match {
        case '*' => sb.append("[^.]*")
        case '?' => sb.append("[^.]")
        case '{' => sb.append("(?:")
        case '}' => sb.append(")")
        case ',' => sb.append("|")
        case '[' =>
          val j = glob.indexOf(']', i)
          sb.append(glob.substring(i, j + 1)); i = j
        case c => sb.append(java.util.regex.Pattern.quote(c.toString))
      }
      i += 1
    }
    sb.append("$").toString.r
  }

  /** Expected `/metrics/find` rows for a glob over a set of leaf paths:
    * matching leaves, plus matching inner nodes (no leaf flag).
    */
  def findRows(glob: String, leaves: Iterable[String]): Set[(String, Boolean)] = {
    val re = globRegex(glob)
    val depth = glob.count(_ == '.') + 1
    leaves.flatMap { p =>
      val parts = p.split('.')
      if (parts.length < depth) None
      else {
        val node = parts.take(depth).mkString(".")
        if (re.matches(node)) Some(node -> (parts.length == depth)) else None
      }
    }.toSet
  }
}
