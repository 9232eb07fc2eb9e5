package graft.metrics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable
import scala.util.control.NonFatal

/** Self-telemetry — the service's own operational metrics, emitted in
  * graphite line protocol to a configurable relay endpoint exactly like
  * the reference does (`metrics/metrics.go:15-31` Config with
  * `metric-endpoint` / `extended-stat` / `metric-interval` /
  * `metric-prefix` / `request-buckets` / `request-labels` / `ranges` /
  * `find-ranges`; `metrics/query_metrics.go` per-table query stats;
  * `metrics/statsd.go` the optional statsd side channel).
  *
  * Metric NAMES and the bucket/range resolution rules are reference
  * vectors, pinned by `TelemetrySpec` against `metrics/metrics_test.go`:
  *
  *   - `find.all.requests` / `tags.all.requests` / `render.all.requests`
  *     duration histograms (+ `render.all.requests_finder` for the
  *     finder phase of a render, `metrics.go:279`), `<scope>.all.errors`
  *     counters, per-range twins `<scope>.<range>.…`;
  *   - extended-stat status-code counters
  *     `<scope>.<range>.requests_status_code.{200,400,403,404,4xx,500,503,504,5xx}`
  *     (`metrics.go:189-198`);
  *   - cache counters `find_cache_hits/misses`,
  *     `short_cache_hits/misses`, `default_cache_hits/misses`
  *     (`metrics.go:143-148`), and graft's `render_cache_hits/misses`
  *     (per planned render group, no reference twin);
  *   - limiter wait metrics `<scope>_wait.<sub>.{requests,errors}`
  *     (`metrics.go:68-89`);
  *   - per-table query stats `query.<table>.<range>.{requests,errors}`
  *     plus the statsd-only sample names
  *     `query.<table>.<range>.{read_rows,read_bytes,ch_read_rows,ch_read_bytes}`
  *     (`query_metrics.go:34-81`) and the request-size samples
  *     `<scope>.<range>.metrics` / `render.<range>.points`
  *     (`metrics.go:156-157,247-248`).
  *
  * Default histogram buckets and the `_to_<N>ms`/`_to_inf` label fill
  * follow `metrics.go:604-620`; range maps resolve by sorting the
  * configured durations ascending, mapping non-positive durations to
  * "unbounded" while keeping their configured name, and appending a
  * `history` catch-all when no unbounded range was configured
  * (`metrics.go:624-651`).
  *
  * Implementation is deliberately not a translation of the reference's
  * metrics library: plain JVM atomics behind an ordered registry, one
  * daemon flusher thread writing `prefix.name value ts\n` lines over
  * TCP (the engine's own line-protocol ingest can eat the stream — the
  * dogfood path `TelemetrySpec` exercises end-to-end), and a pluggable
  * statsd sink (`name:value|ms` over UDP) for the per-request size
  * samples the reference routes through `Gstatsd.Timing`.
  */
object Telemetry {

  /** `metrics.Config` (`metrics/metrics.go:15-31`). Durations are
    * seconds (interval) / milliseconds (send timeout); range values are
    * until−from widths in seconds, non-positive = unbounded.
    */
  final case class MetricsConfig(
      metricEndpoint: String = "", // "metric-endpoint" — host:port, empty = disabled
      statsdEndpoint: String = "", // "statsd-endpoint" — host:port UDP, empty = disabled
      extendedStat: Boolean = false, // "extended-stat"
      metricIntervalSec: Long = 60, // "metric-interval"
      metricTimeoutMs: Long = 1000, // "metric-timeout"
      metricPrefix: String = "graphite", // "metric-prefix"
      bucketsWidth: Seq[Long] = Nil, // "request-buckets"
      bucketsLabels: Seq[String] = Nil, // "request-labels"
      ranges: Map[String, Long] = Map.empty, // "ranges"
      findRanges: Map[String, Long] = Map.empty) // "find-ranges"

  /** `metrics.go:605` — the stock request-duration bucket bounds (ms). */
  val DefaultBuckets: Seq[Long] =
    Seq(200, 500, 1000, 2000, 3000, 5000, 7000, 10000, 15000, 20000, 25000,
      30000, 40000, 50000, 60000)

  /** Label fill (`metrics.go:608-620`): one label per bucket plus the
    * overflow label; configured labels win positionally, empty/missing
    * slots fall back to `_to_<bound>ms`, the last to `_to_inf`.
    */
  def resolveLabels(width: Seq[Long], labels: Seq[String]): Seq[String] =
    (0 to width.size).map { i =>
      val conf = if (i < labels.size) labels(i) else ""
      if (conf.nonEmpty) conf
      else if (i < width.size) s"_to_${width(i)}ms"
      else "_to_inf"
    }

  /** Range resolution (`metrics.go:624-651`): non-positive duration →
    * unbounded (Long.MaxValue) keeping its name; sort ascending; append
    * `history` if nothing unbounded was configured. Returns
    * (names, upper bounds in seconds).
    */
  def resolveRanges(ranges: Map[String, Long]): (Seq[String], Seq[Long]) = {
    if (ranges.isEmpty) return (Nil, Nil)
    val entries = ranges.toSeq
      .map { case (n, v) => (n, if (v <= 0) Long.MaxValue else v) }
      .sortBy(_._2)
    val withTail =
      if (entries.last._2 != Long.MaxValue) entries :+ ("history" -> Long.MaxValue)
      else entries
    (withTail.map(_._1), withTail.map(_._2))
  }

  /** `metrics.SearchInt64Le` as used at `metrics.go:342`: the first
    * range whose upper bound admits `v` (v ≤ bound); −1 when no ranges.
    */
  def searchLe(bounds: Seq[Long], v: Long): Int = {
    var i = 0
    while (i < bounds.size) {
      if (v <= bounds(i)) return i
      i += 1
    }
    if (bounds.isEmpty) -1 else bounds.size - 1
  }

  // -------------------------------------------------------------
  // metric kinds
  // -------------------------------------------------------------

  sealed trait Metric {
    /** (name suffix to append to the registered name, value) rows. */
    def rows: Seq[(String, Long)]
  }

  final class Counter extends Metric {
    private val v = new AtomicLong()
    def add(n: Long): Unit = v.addAndGet(n)
    def inc(): Unit = v.incrementAndGet()
    def count: Long = v.get()
    def rows: Seq[(String, Long)] = Seq(("", v.get()))
  }

  /** Fixed-bound duration histogram emitting cumulative bucket counts
    * under the label suffixes (the go library's VSumHistogram shape:
    * bucket `_to_B` counts every observation ≤ B, `_to_inf` the total —
    * registered at `metrics.go:184` with the labels appended to the
    * registry name).
    */
  final class DurationHistogram(val widths: Seq[Long], val labels: Seq[String])
      extends Metric {
    require(labels.size == widths.size + 1, "one label per bucket + overflow")
    private val counts = new AtomicLongArray(widths.size + 1)

    def add(v: Long): Unit = {
      var i = 0
      while (i < widths.size && v > widths(i)) i += 1
      counts.incrementAndGet(i)
    }

    /** Per-bucket (non-cumulative) counts, for tests. */
    def bucketCounts: Seq[Long] = (0 until counts.length()).map(counts.get)

    def totalCount: Long = bucketCounts.sum

    def rows: Seq[(String, Long)] = {
      var cum = 0L
      labels.indices.map { i =>
        cum += counts.get(i)
        (labels(i), cum)
      }
    }
  }

  /** Ordered name → metric registry; snapshot renders the graphite
    * rows (histogram labels appended to the registered name — labels
    * begin with `_` so `find.all.requests` + `_to_200ms` concatenate
    * like the reference's emission).
    */
  final class Registry {
    private val order = mutable.LinkedHashMap.empty[String, Metric]

    def register[M <: Metric](name: String, m: M): M = synchronized {
      require(!order.contains(name), s"duplicate metric $name")
      order(name) = m
      m
    }

    def names: Seq[String] = synchronized(order.keys.toSeq)
    def get(name: String): Option[Metric] = synchronized(order.get(name))

    def counter(name: String): Counter = register(name, new Counter)

    def snapshot(): Seq[(String, Long)] = synchronized {
      order.toSeq.flatMap { case (name, m) =>
        m.rows.map { case (suffix, v) => (name + suffix, v) }
      }
    }
  }

  // -------------------------------------------------------------
  // statsd side channel (per-request size samples)
  // -------------------------------------------------------------

  /** Destination for the reference's `Gstatsd.Timing(name, v)` calls
    * (`metrics.go:355`, `query_metrics.go:87-95`).
    */
  trait StatSink {
    def timing(name: String, v: Long): Unit
    def close(): Unit = ()
  }

  object NullStat extends StatSink {
    def timing(name: String, v: Long): Unit = ()
  }

  /** In-memory sink for tests: name → observed values. */
  final class CollectingStat extends StatSink {
    private val m = new ConcurrentHashMap[String, java.util.Queue[Long]]()
    def timing(name: String, v: Long): Unit =
      m.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
        .add(v)
    def values(name: String): Seq[Long] = {
      val q = m.get(name)
      if (q == null) Nil
      else { val b = Seq.newBuilder[Long]; q.forEach(v => b += v); b.result() }
    }
    def names: Set[String] = {
      val b = Set.newBuilder[String]
      m.keys().asIterator().forEachRemaining(b += _)
      b.result()
    }
  }

  /** `name:value|ms` datagrams (statsd timing form) with the metric
    * prefix applied, fire-and-forget like the go client.
    */
  final class UdpStatsd(endpoint: String, prefix: String) extends StatSink {
    private val (host, port) = splitHostPort(endpoint)
    private val addr = new java.net.InetSocketAddress(host, port)
    private val sock = new java.net.DatagramSocket()
    def timing(name: String, v: Long): Unit =
      try {
        val payload =
          (if (prefix.isEmpty) name else s"$prefix.$name") + s":$v|ms"
        val bytes = payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        sock.send(new java.net.DatagramPacket(bytes, bytes.length, addr))
      } catch { case NonFatal(_) => () }
    override def close(): Unit = sock.close()
  }

  private def splitHostPort(endpoint: String): (String, Int) = {
    val i = endpoint.lastIndexOf(':')
    require(i > 0, s"endpoint must be host:port, got '$endpoint'")
    (endpoint.substring(0, i), endpoint.substring(i + 1).toInt)
  }

  // -------------------------------------------------------------
  // request-metric families
  // -------------------------------------------------------------

  /** One scope×range cell (`metrics.ReqMetric`, `metrics.go:44-58`):
    * duration histogram, error counter, extended status-code counters,
    * and the statsd-only sample names.
    */
  final class ReqStats(
      reg: Registry,
      base: String, // e.g. "find.all"
      widths: Seq[Long],
      labels: Seq[String],
      extended: Boolean,
      withFinder: Boolean) {
    val requests: DurationHistogram =
      reg.register(s"$base.requests", new DurationHistogram(widths, labels))
    val finder: Option[DurationHistogram] =
      if (withFinder)
        Some(reg.register(s"$base.requests_finder", new DurationHistogram(widths, labels)))
      else None
    val errors: Counter = reg.counter(s"$base.errors")
    val statusCodes: Map[String, Counter] =
      if (extended)
        Seq("200", "400", "403", "404", "4xx", "500", "503", "504", "5xx")
          .map(c => c -> reg.counter(s"$base.requests_status_code.$c")).toMap
      else Map.empty
    val metricsCountName: String = s"$base.metrics"
    val pointsCountName: String = s"$base.points"

    private def codeKey(status: Int): String = status match {
      case 200 | 400 | 403 | 404 | 500 | 503 | 504 => status.toString
      case s if s > 500 => "5xx"
      case _ => "4xx"
    }

    /** The reference's per-status accounting (`SendFindMetrics`,
      * `metrics.go:351-447`): 200/404 are successes (sample the result
      * sizes), everything else bumps the error counter.
      */
    def send(
        status: Int,
        durationMs: Long,
        stats: StatSink,
        metricsCount: Long,
        points: Long = -1L,
        finderMs: Long = -1L): Unit = {
      requests.add(durationMs)
      finder.foreach(h => if (finderMs >= 0) h.add(finderMs))
      val success = status == 200 || status == 404
      if (!success) errors.inc()
      statusCodes.get(codeKey(status)).foreach(_.inc())
      if (success && extended) {
        stats.timing(metricsCountName, metricsCount)
        if (points >= 0) stats.timing(pointsCountName, points)
      }
    }
  }

  /** A request family: the `all` cell plus per-until−from-range cells
    * (`metrics.FindMetrics`/`RenderMetrics`, `metrics.go:104-121`).
    */
  final class ScopeStats(
      reg: Registry,
      scope: String,
      rangeNames: Seq[String],
      rangeBounds: Seq[Long],
      widths: Seq[Long],
      labels: Seq[String],
      extended: Boolean,
      withFinder: Boolean) {
    val all = new ReqStats(reg, s"$scope.all", widths, labels, extended, withFinder)
    val ranges: Seq[ReqStats] =
      rangeNames.map(n => new ReqStats(reg, s"$scope.$n", widths, labels, extended, withFinder))

    def send(
        status: Int,
        durationMs: Long,
        untilFromS: Long,
        stats: StatSink,
        metricsCount: Long,
        points: Long = -1L,
        finderMs: Long = -1L): Unit = {
      all.send(status, durationMs, stats, metricsCount, points, finderMs)
      val pos = searchLe(rangeBounds, untilFromS)
      if (pos >= 0 && pos < ranges.size)
        ranges(pos).send(status, durationMs, stats, metricsCount, points, finderMs)
    }
  }

  /** Per-table engine-read stats (`metrics.QueryMetrics`,
    * `query_metrics.go:34-81`): request histogram + errors per range,
    * with read sizes as statsd samples — `read_rows`/`read_bytes` are
    * what the query RETURNED, `ch_read_rows`/`ch_read_bytes` what the
    * storage engine READ to answer it (Spark task input metrics here,
    * ClickHouse X-Header stats there).
    */
  final class QueryStats(
      reg: Registry,
      table: String,
      rangeNames: Seq[String],
      rangeBounds: Seq[Long],
      widths: Seq[Long],
      labels: Seq[String]) {
    private def cell(range: String) =
      (reg.register(s"query.$table.$range.requests", new DurationHistogram(widths, labels)),
        reg.counter(s"query.$table.$range.errors"),
        s"query.$table.$range")
    private val all = cell("all")
    private val ranges = rangeNames.map(cell)

    private def sendCell(
        c: (DurationHistogram, Counter, String),
        durationMs: Long, readRows: Long, readBytes: Long,
        chReadRows: Long, chReadBytes: Long, err: Boolean, stats: StatSink): Unit = {
      c._1.add(durationMs)
      if (chReadRows > 0) {
        stats.timing(s"${c._3}.ch_read_rows", chReadRows)
        stats.timing(s"${c._3}.ch_read_bytes", chReadBytes)
      }
      if (err) c._2.inc()
      else {
        stats.timing(s"${c._3}.read_rows", readRows)
        stats.timing(s"${c._3}.read_bytes", readBytes)
      }
    }

    /** `SendQueryRead` (`query_metrics.go:83-114`). */
    def send(
        untilFromS: Long, durationMs: Long, readRows: Long, readBytes: Long,
        chReadRows: Long, chReadBytes: Long, err: Boolean, stats: StatSink): Unit = {
      sendCell(all, durationMs, readRows, readBytes, chReadRows, chReadBytes, err, stats)
      val pos = searchLe(rangeBounds, untilFromS)
      if (pos >= 0 && pos < ranges.size)
        sendCell(ranges(pos), durationMs, readRows, readBytes, chReadRows, chReadBytes, err, stats)
    }
  }

  /** Limiter wait-queue telemetry (`metrics.WaitMetric`,
    * `metrics.go:60-89`): `<scope>_wait.<sub>.requests` admissions and
    * `.errors` refusals.
    */
  final class WaitStats(reg: Registry, scope: String, sub: String) {
    val requests: Counter = reg.counter(s"${scope}_wait.$sub.requests")
    val errors: Counter = reg.counter(s"${scope}_wait.$sub.errors")
  }

  // -------------------------------------------------------------
  // the service
  // -------------------------------------------------------------

  /** Everything `InitMetrics` wires (`metrics.go:599-687`): the three
    * request families, the cache counters, wait metrics for the two
    * admission scopes, and per-table query stats. Instance-scoped
    * (no global registry) so servers and tests compose.
    */
  final class Service(val cfg: MetricsConfig) {
    val registry = new Registry

    val widths: Seq[Long] =
      if (cfg.bucketsWidth.nonEmpty) cfg.bucketsWidth else DefaultBuckets
    val labels: Seq[String] = resolveLabels(widths, cfg.bucketsLabels)
    val (rangeNames, rangeBounds) = resolveRanges(cfg.ranges)
    val (findRangeNames, findRangeBounds) = resolveRanges(cfg.findRanges)

    // cache counters first — the reference registers them before the
    // request families (`InitMetrics` → initFindCacheMetrics)
    val findCacheHits: Counter = registry.counter("find_cache_hits")
    val findCacheMisses: Counter = registry.counter("find_cache_misses")
    val shortCacheHits: Counter = registry.counter("short_cache_hits")
    val shortCacheMisses: Counter = registry.counter("short_cache_misses")
    val defaultCacheHits: Counter = registry.counter("default_cache_hits")
    val defaultCacheMisses: Counter = registry.counter("default_cache_misses")
    // graft's own pair, no reference twin: planned render groups served
    // from (or missing) the rolled-row cache (engine.RenderCache), so a
    // slow render can be told apart as a miss
    val renderCacheHits: Counter = registry.counter("render_cache_hits")
    val renderCacheMisses: Counter = registry.counter("render_cache_misses")

    val find = new ScopeStats(registry, "find", findRangeNames, findRangeBounds,
      widths, labels, cfg.extendedStat, withFinder = false)
    val tags = new ScopeStats(registry, "tags", findRangeNames, findRangeBounds,
      widths, labels, cfg.extendedStat, withFinder = false)
    val render = new ScopeStats(registry, "render", rangeNames, rangeBounds,
      widths, labels, cfg.extendedStat, withFinder = true)

    val findWait = new WaitStats(registry, "find", "all")
    val tagsWait = new WaitStats(registry, "tags", "all")
    val renderWait = new WaitStats(registry, "render", "all")

    private val queryStats = new ConcurrentHashMap[String, QueryStats]()

    /** `InitQueryMetrics` (`query_metrics.go:34`): lazily registered
      * per table, "default" for the empty name.
      */
    def query(table: String): QueryStats = {
      val t = if (table.isEmpty) "default" else table
      queryStats.computeIfAbsent(t,
        k => new QueryStats(registry, k, rangeNames, rangeBounds, widths, labels))
    }

    val stats: StatSink =
      if (cfg.statsdEndpoint.nonEmpty) new UdpStatsd(cfg.statsdEndpoint, cfg.metricPrefix)
      else NullStat

    /** Render the flush payload: `prefix.name value ts` lines — plain
      * graphite line protocol, the same grammar the engine's own
      * `Ingest.parseLines` consumes (dogfood-tested).
      */
    def renderLines(ts: Long): String = {
      val p = if (cfg.metricPrefix.isEmpty) "" else cfg.metricPrefix + "."
      val sb = new java.lang.StringBuilder
      registry.snapshot().foreach { case (name, v) =>
        sb.append(p).append(name).append(' ').append(v).append(' ').append(ts).append('\n')
      }
      sb.toString
    }

    /** One TCP flush to the relay; broken relays are skipped (the
      * reference's sender likewise drops on error), never thrown into
      * the serving path.
      */
    def flush(ts: Long = System.currentTimeMillis() / 1000): Boolean =
      try {
        val (host, port) = splitHostPort(cfg.metricEndpoint)
        val sock = new java.net.Socket()
        try {
          sock.connect(new java.net.InetSocketAddress(host, port), cfg.metricTimeoutMs.toInt)
          sock.setSoTimeout(cfg.metricTimeoutMs.toInt)
          val out = sock.getOutputStream
          out.write(renderLines(ts).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          out.flush()
          true
        } finally sock.close()
      } catch { case NonFatal(_) => false }

    @volatile private var flusher: Option[Thread] = None

    /** Start the interval flusher (daemon, like the reference's send
      * goroutine); no-op when no endpoint is configured.
      */
    def start(): this.type = synchronized {
      if (cfg.metricEndpoint.nonEmpty && flusher.isEmpty) {
        val t = new Thread(() => {
          try {
            while (!Thread.currentThread().isInterrupted) {
              Thread.sleep(math.max(1L, cfg.metricIntervalSec) * 1000L)
              flush()
            }
          } catch { case _: InterruptedException => () }
        }, "graft-metrics-flush")
        t.setDaemon(true)
        t.start()
        flusher = Some(t)
      }
      this
    }

    def stop(): Unit = synchronized {
      flusher.foreach(_.interrupt())
      flusher = None
      // final flush so short-lived processes still report
      if (cfg.metricEndpoint.nonEmpty) flush()
      stats.close()
    }
  }
}
