package graft.e2e

import java.nio.file.Files
import java.time.{Instant, ZoneId}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compiler.Tagged
import graft.engine.{Autocomplete, Finder, Guards, Limiter, Render, Store}
import graft.model.TimeFrame
import graft.rollup.Rules
import graft.streaming.Ingest

import Fixture._

/** Executes one reference e2e scenario against the Spark engine and
  * returns the list of mismatches (empty = pass) — the Spark-side
  * analog of `cmd/e2e-test/checks.go`'s
  * `verifyMetricsFind`/`verifyTags`/`verifyRender`.
  *
  * Storage model per config variant:
  *   - `internal-aggregation = false` (client mode): renders with
  *     [[Render.VersionMode.MergedCells]] — the state the reference
  *     queries after ClickHouse's GraphiteMergeTree merges parts
  *     (`tests/agg_latest`: a later write batch replaces a precision
  *     cell; `tests/agg_oneblock`/`agg_merge`: same-batch duplicates
  *     aggregate).
  *   - `internal-aggregation = true`: [[Render.VersionMode.Raw]] —
  *     the `-Resample` SQL aggregates every stored row with no
  *     version resolution (`tests/agg_internal`).
  */
object FixtureRunner {

  /** The per-route limiter set of one config variant. */
  final case class Limiters(
      find: Limiter.ServerLimiter,
      tags: Limiter.ServerLimiter,
      render: Limiter.ServerLimiter)

  /** Rollup rules of the shared fixture storage schema
    * (`tests/clickhouse/rollup/rollup.xml`): default avg @ 10 s,
    * `.sum$`/`.min$`/`.max$` overrides with `\?`-anchored tagged
    * twins.
    */
  val fixtureRulesXml: String =
    """<yandex><graphite_rollup>
      |  <default><function>avg</function>
      |    <retention><age>0</age><precision>10</precision></retention>
      |  </default>
      |  <pattern><regexp>\.sum$</regexp><function>sum</function></pattern>
      |  <pattern><regexp>\.sum\?</regexp><function>sum</function></pattern>
      |  <pattern><regexp>\.min$</regexp><function>min</function></pattern>
      |  <pattern><regexp>\.min\?</regexp><function>min</function></pattern>
      |  <pattern><regexp>\.max$</regexp><function>max</function></pattern>
      |  <pattern><regexp>\.max\?</regexp><function>max</function></pattern>
      |</graphite_rollup></yandex>""".stripMargin

  /** `consolidateBy('x')` filtering-function parse
    * (`cmd/e2e-test/checks.go:314-335` + `render/data/targets.go:134-174`).
    */
  def consolidateByArg(filteringFunctions: Seq[String]): Option[String] =
    filteringFunctions.iterator
      .map(_.split("\\(", 2))
      .collectFirst { case Array("consolidateBy", rest) =>
        rest.split(",")(0).trim.stripSuffix(")").stripPrefix("'").stripSuffix("'")
      }

  /** `timeScale` multiplies every configured timeout AND every
    * `proxy_delay` by the same factor. The reference e2e runs against
    * a dedicated ClickHouse where a 1 s data-timeout dwarfs real
    * compute; replayed inside a parallel test JVM the same 1 s can be
    * eaten by scheduler noise. Scaling both sides preserves every
    * deterministic delay-vs-timeout relation (a check 504s after
    * scaling iff it 504s in the reference) while giving real compute
    * proportional headroom.
    */
  final class ScenarioRun(
      val spark: SparkSession,
      scenario: Scenario,
      val now: Instant,
      tz: ZoneId = ZoneId.of("UTC"),
      timeScale: Long = 1L) {

    val precision: Long = scenario.precision
    private val rules: Rules = Rules.fromXml(fixtureRulesXml)

    def at(s: String): Long = resolveTime(s, now, precision, tz)

    /** Ingest every input block through the streaming line parser;
      * block index is the write version (the reference's carbon
      * upload timestamp — later blocks are newer batches).
      */
    val tablesDir: String = {
      val dir = Files.createTempDirectory(s"graft-e2e-${scenario.dir}").toFile.getAbsolutePath
      import spark.implicits._
      scenario.inputs.zipWithIndex.foreach { case (in, i) =>
        val lines = in.points.map(p => s"${in.name} ${p.value} ${at(p.time)}")
        Ingest.processBatch(
          Ingest.parseLines(lines.toDF("value"))
            .withColumn("version", lit(i.toLong + 1L)),
          s"$dir/t")
      }
      s"$dir/t"
    }

    def points: DataFrame = Store.points(spark, tablesDir)
    def index: DataFrame = Store.index(spark, tablesDir)
    def tagsTable: DataFrame = Store.tags(spark, tablesDir)

    /** Run every check under one config variant; returns mismatches.
      * When the variant configures `[common.find-cache]`, one cache
      * lives for the whole run so the fixture's `in_cache` /
      * `cache_ttl` expectations see earlier checks' entries — the
      * reference runner's behavior against a single live process.
      */
    def run(conf: GchConfig): Seq[String] = {
      val cache = new graft.engine.FindCache.TtlCache[Any]()
      // one limiter set per config variant, shared across its checks —
      // the reference builds them once at config load
      // (`config.go:749-768`). Load average pinned to 0 so the
      // adaptive variants reserve nothing: the replay asserts RESULTS,
      // not the host's current load (LimiterSpec covers reservation).
      val lims = Limiters(
        find = conf.findLimiter(() => 0.0),
        tags = conf.tagsLimiter(() => 0.0),
        render = conf.renderLimiter(() => 0.0))
      val errors = Seq.newBuilder[String]
      scenario.findChecks.zipWithIndex.foreach { case (c, i) =>
        errors ++= runFind(conf, c, cache, lims).map(e => s"[${scenario.dir}/${conf.label} find#$i ${c.query}] $e")
      }
      scenario.tagsChecks.zipWithIndex.foreach { case (c, i) =>
        errors ++= runTags(conf, c, cache, lims).map(e => s"[${scenario.dir}/${conf.label} tags#$i ${c.query}] $e")
      }
      scenario.renderChecks.zipWithIndex.foreach { case (c, i) =>
        errors ++= runRender(conf, c, cache, lims).map(e => s"[${scenario.dir}/${conf.label} render#$i] $e")
      }
      errors.result()
    }

    /** Queue/concurrency admission waits up to the reference's Enter
      * context deadline — the index timeout for all three routes
      * (`find/handler.go:169-172`, `render/handler.go:156,181`).
      */
    private def limiterWaitMs(conf: GchConfig): Long =
      // timeScale applies here like every other configured timeout, so
      // a scaled replay preserves each check's wait-vs-delay outcome
      (if (conf.indexTimeoutSec > 0) conf.indexTimeoutSec * 1000L else 60000L) * timeScale

    private def nowSec: Long = now.getEpochSecond

    /** One storage round-trip under the engine's guard rails: the
      * check's `proxy_delay` (the e2e harness's delaying proxy,
      * `e2etesting.go:77,102,128`) runs INSIDE the deadline, so a
      * delay longer than the configured timeout produces the
      * reference's 504 — and the underlying Spark job group is
      * actually cancelled, not abandoned.
      */
    private def staged[T](delayMs: Long, timeoutSec: Long)(body: => T): T =
      Guards.withDeadline(spark, timeoutSec * timeScale) {
        if (delayMs > 0) Thread.sleep(delayMs * timeScale)
        body
      }

    private def cacheConfig(conf: GchConfig) = graft.engine.FindCache.Config(
      defaultTimeoutSec = conf.findCacheDefaultTimeout,
      shortTimeoutSec = conf.findCacheShortTimeout,
      shortDurationSec = conf.findCacheShortDuration,
      findTimeoutSec = conf.findCacheFindTimeout)

    /** Cache-state assertions shared by the three check kinds: the
      * first request's hit state must equal `in_cache`, the chosen TTL
      * must equal `cache_ttl`, and (like the e2e runner's second
      * query, `checks.go:109-118`) a repeat must hit.
      */
    private def cacheErrors(
        useCache: Boolean,
        hit: Boolean,
        ttl: Int,
        expTtl: Int,
        expInCache: Boolean,
        secondHit: => Boolean): Seq[String] =
      if (!useCache) Nil
      else {
        val errors = Seq.newBuilder[String]
        if (hit != expInCache)
          errors += s"X-Cached-Find: got hit=$hit, want in_cache=$expInCache"
        if (expTtl > 0 && ttl != expTtl)
          errors += s"cache ttl: got $ttl, want $expTtl"
        if (expTtl > 0 && !secondHit)
          errors += "second request was not served from cache"
        errors.result()
      }

    def runFind(
        conf: GchConfig,
        c: FindCheck,
        cache: graft.engine.FindCache.TtlCache[Any],
        lims: Limiters = Limiters(Limiter.Noop, Limiter.Noop, Limiter.Noop)): Seq[String] = {
      val useCache = conf.findCache && conf.findCacheFindTimeout > 0
      val ttl = conf.findCacheFindTimeout
      val key = graft.engine.FindCache.findKey(c.query, nowSec, ttl)
      var cacheAsserts: Seq[String] = Nil
      val outcome: Either[String, Seq[FindExp]] =
        try {
          // limiter INSIDE compute: cache hits bypass admission, like
          // the reference's cached-find path skipping Enter
          def compute: Seq[FindExp] = lims.find.withSlot(limiterWaitMs(conf)) {
            staged(c.proxyDelayMs, conf.indexTimeoutSec) {
              Finder.find(index, c.query, at(c.from), at(c.until),
                wildcardMinDistance = conf.wildcardMinDistance)
                .orderBy("path").collect().toSeq
                .map(r => FindExp(r.getString(0), r.getBoolean(1)))
            }
          }
          val (result, hit) =
            if (useCache)
              graft.engine.FindCache.through(cache, key, ttl, nowSec)(compute: Any)
            else (compute: Any, false)
          cacheAsserts = cacheErrors(useCache, hit, ttl, c.cacheTtl, c.inCache,
            cache.get(key, nowSec).isDefined)
          Right(result.asInstanceOf[Seq[FindExp]])
        } catch {
          case e: Guards.StorageError     => Left(s"${e.code}: ${e.message}")
          case e: IllegalArgumentException => Left(s"400: ${e.getMessage}")
        }
      checkOutcome(outcome, c.errorRegexp) { actual =>
        (if (actual == c.result) Nil
         else Seq(s"find mismatch: got $actual, want ${c.result}")) ++ cacheAsserts
      }
    }

    def runTags(
        conf: GchConfig,
        c: TagsCheck,
        cache: graft.engine.FindCache.TtlCache[Any],
        lims: Limiters = Limiters(Limiter.Noop, Limiter.Noop, Limiter.Noop)): Seq[String] = {
      val limit = if (c.limits > 0) c.limits.toInt else 10000
      val useCache = conf.findCache && conf.findCacheFindTimeout > 0
      val ttl = conf.findCacheFindTimeout
      val kind = if (c.names) "tags" else "values"
      val key = graft.engine.FindCache.autocompleteKey(kind, c.query, nowSec, ttl)
      var cacheAsserts: Seq[String] = Nil
      val outcome: Either[String, Seq[String]] =
        try {
          def compute: Seq[String] = lims.tags.withSlot(limiterWaitMs(conf)) {
            staged(c.proxyDelayMs, conf.indexTimeoutSec) {
              if (c.names) {
                val exprs = c.query.split(";").toList.filter(_.nonEmpty)
                Autocomplete.tagNamesComplete(tagsTable, exprs, limit = limit,
                  flags = conf.flags)
              } else {
                // query = "<tag>;expr;expr…" (`helper/client/tags.go`)
                val parts = c.query.split(";").toList
                val exprs = parts.tail.filter(_.nonEmpty)
                import spark.implicits._
                Autocomplete.tagValues(tagsTable, parts.head, exprs,
                  limit = limit, flags = conf.flags).as[String].collect().toSeq
              }
            }
          }
          val (result, hit) =
            if (useCache)
              graft.engine.FindCache.through(cache, key, ttl, nowSec)(compute: Any)
            else (compute: Any, false)
          cacheAsserts = cacheErrors(useCache, hit, ttl, c.cacheTtl, c.inCache,
            cache.get(key, nowSec).isDefined)
          Right(result.asInstanceOf[Seq[String]])
        } catch {
          case e: Guards.StorageError     => Left(s"${e.code}: ${e.message}")
          case e: IllegalArgumentException => Left(s"400: ${e.getMessage}")
        }
      checkOutcome(outcome, c.errorRegexp) { actual =>
        (if (actual == c.result) Nil
         else Seq(s"tags mismatch: got $actual, want ${c.result}")) ++ cacheAsserts
      }
    }

    def runRender(
        conf: GchConfig,
        c: RenderCheck,
        cache: graft.engine.FindCache.TtlCache[Any],
        lims: Limiters = Limiters(Limiter.Noop, Limiter.Noop, Limiter.Noop)): Seq[String] = {
      val from = graft.time.TimeGrammar.timestampTruncate(at(c.from), precision)
      val until = graft.time.TimeGrammar.timestampTruncate(at(c.until), precision)
      val mdp = if (c.maxDataPoints > 0) c.maxDataPoints else 1048576L
      val tf = TimeFrame(from, until, mdp)
      val consolidate = consolidateByArg(c.filteringFunctions)
      val versionMode =
        if (conf.internalAggregation) Render.VersionMode.Raw
        else Render.VersionMode.MergedCells
      val ttl = graft.engine.FindCache.renderTimeout(cacheConfig(conf), nowSec, from, until)
      val useCache = conf.findCache && ttl > 0
      var cacheAsserts: Seq[String] = Nil

      val outcome: Either[String, Seq[graft.sinks.Series]] =
        try lims.render.withSlot(limiterWaitMs(conf)) {
          // find per target: plain globs hit the index; seriesByTag the
          // tags table; display names decode the storage form. Only the
          // FIND result is cacheable — points always render fresh
          // (`tests/find_cache`: a hit with a longer window returns the
          // longer fresh grid).
          var allHit = true
          var allSecondHit = true
          val targets: Seq[(String, Seq[(String, String)])] = c.targets.map { t =>
            def compute: Seq[(String, String)] = staged(c.proxyDelayMs, conf.indexTimeoutSec) {
              if (t.startsWith("seriesByTag(")) {
                Finder.findTagged(tagsTable, t, conf.flags,
                  tagsMinInQuery = conf.tagsMinInQuery)
                  .collect().map(_.getString(0)).toSeq
                  .map(p => (p, Tagged.decodePath(p)))
              } else {
                Finder.find(index, t, from, until,
                  wildcardMinDistance = conf.wildcardMinDistance)
                  .where(col("is_leaf"))
                  .collect().map(_.getString(0)).toSeq
                  .map(p => (p, p))
              }
            }
            val key = graft.engine.FindCache.targetKey(from, until, t, ttl)
            val (pairs, hit) =
              if (useCache)
                graft.engine.FindCache.through(cache, key, ttl, nowSec)(compute: Any)
              else (compute: Any, false)
            allHit &&= hit
            allSecondHit &&= cache.get(key, nowSec).isDefined
            t -> pairs.asInstanceOf[Seq[(String, String)]]
          }
          cacheAsserts = cacheErrors(useCache, allHit, ttl, c.cacheTtl, c.inCache,
            allSecondHit)
          // per-window query-param band (`render/data/query.go:131-138`):
          // read limits are a metadata pre-flight over the scan this
          // render would do; the data fetch runs under the band's
          // data-timeout.
          val band = Guards.select(conf.bands, until - from)
          val foundPaths = targets.flatMap(_._2.map(_._1)).distinct
          lazy val pruned = points.where(
            col("path").isInCollection(foundPaths) && col("time").between(from, until))
          Guards.checkReadLimits(band.limits,
            rows = pruned.count(),
            bytes = pruned.queryExecution.optimizedPlan.stats.sizeInBytes)
          staged(c.proxyDelayMs, band.dataTimeoutSec) {
            // the same render + response assembly as /render
            Right(graft.engine.SeriesAssembly.assemble(points, targets, tf, rules,
              now = until,
              consolidateBy = consolidate,
              appendEmpty = conf.appendEmptySeries,
              versionMode = versionMode).map(_.series))
          }
        } catch {
          case e: Guards.StorageError => Left(s"${e.code}: ${e.message}")
          case e: IllegalArgumentException =>
            val code =
              if (e.getMessage != null && e.getMessage.contains("wildcard and regex terms")) "403"
              else "400"
            Left(s"$code: ${e.getMessage}")
        }

      checkOutcome(outcome, c.errorRegexp) { actual =>
        compareRender(actual.sortBy(s => (s.name, s.pathExpression)), c, from) ++
          cacheAsserts
      }
    }

    private def compareRender(
        actual: Seq[graft.sinks.Series], c: RenderCheck, requestFrom: Long): Seq[String] = {
      val errors = Seq.newBuilder[String]
      val expected = c.result.sortBy(e => (e.name, e.path.getOrElse("")))
      val actualSorted =
        if (c.result.forall(_.path.isEmpty))
          // v2/pickle expectations have no path → one entry per name
          actual.groupBy(_.name).map(_._2.head).toSeq.sortBy(_.name)
        else actual
      if (actualSorted.length != expected.length)
        errors += s"series count: got ${actualSorted.map(s => (s.name, s.pathExpression))}, " +
          s"want ${expected.map(e => (e.name, e.path))}"
      else actualSorted.zip(expected).foreach { case (a, e) =>
        if (a.name != e.name)
          errors += s"name: got ${a.name}, want ${e.name}"
        else {
          val tag = s"'${a.name}'"
          e.path.foreach(p => if (a.pathExpression != p)
            errors += s"$tag pathExpression: got ${a.pathExpression}, want $p")
          e.consolidation.foreach(f => if (a.function != f)
            errors += s"$tag consolidation: got ${a.function}, want $f")
          if (a.start != at(e.start))
            errors += s"$tag start: got ${a.start}, want ${at(e.start)} (${e.start})"
          if (a.stop != at(e.stop))
            errors += s"$tag stop: got ${a.stop}, want ${at(e.stop)} (${e.stop})"
          if (a.step != e.step)
            errors += s"$tag step: got ${a.step}, want ${e.step}"
          // the engine reports the request window verbatim, so
          // RequestStartTime == the (truncated) request from; the e2e
          // client maps RequestStopTime := grid StopTime
          // (`helper/client/render.go:171-181`)
          e.reqStart.foreach(rs => if (requestFrom != at(rs))
            errors += s"$tag req_start: got $requestFrom, want ${at(rs)} ($rs)")
          e.reqStop.foreach(rs => if (a.stop != at(rs))
            errors += s"$tag req_stop: got ${a.stop}, want ${at(rs)} ($rs)")
          val want = e.values
          val vs = a.values
          if (vs.length != want.length)
            errors += s"$tag values length: got ${vs.toList}, want ${want.toList}"
          else vs.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
            val ok = (g.isNaN && w.isNaN) || math.abs(g - w) <= 1e-8 * math.max(math.abs(g), math.abs(w))
            if (!ok) errors += s"$tag values[$i]: got $g, want $w (got ${vs.toList}, want ${want.toList})"
          }
        }
      }
      errors.result()
    }

    private def checkOutcome[A](
        outcome: Either[String, A],
        errorRegexp: String)(verify: A => Seq[String]): Seq[String] =
      (outcome, errorRegexp) match {
        case (Right(a), "") => verify(a)
        case (Right(_), re) => Seq(s"want error matching '$re', got success")
        case (Left(err), "") => Seq(s"unexpected error: $err")
        case (Left(err), re) =>
          if (re.r.findFirstIn(err).isDefined) Nil
          else Seq(s"error mismatch: got '$err', want match of '$re'")
      }
  }
}
