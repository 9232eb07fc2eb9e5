package graft.engine

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.TimeFrame
import graft.rollup.{AggFunc, Rules}
import graft.streaming.Ingest

/** [[RenderCache]] keys on everything a group's rolled rows depend
  * on, with hand-computed series: renders that differ in window,
  * `maxDataPoints`, `consolidateBy` or version mode each miss and get
  * their own rows, an identical render hits with the same rows, and
  * the row budget evicts least recently used entries.
  */
class RenderCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val rnow = 1704067200L // a multiple of 20 s
  private val rules = Rules(Nil, defaultPrecision = 10L, defaultFunction = Some(AggFunc.Avg))

  // rc.a holds two writes at rnow-30 (same version, values 1 and 5)
  // and a newer write at rnow-25 in the same 10 s cell, so the three
  // version modes roll its first bucket differently:
  //   DedupExact: max value per exact time (5), then avg(5, 4) = 4.5
  //   MergedCells: the newest write of the cell wins outright: 4
  //   Raw: avg(1, 5, 4) = 3.333…
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-render-cache").toFile.getAbsolutePath + "/t"
    import spark.implicits._
    val lines = Seq(
      s"rc.a 1 ${rnow - 30}", s"rc.a 5 ${rnow - 30}", s"rc.a 4 ${rnow - 25}",
      s"rc.a 2 ${rnow - 20}", s"rc.a 3 ${rnow - 10}",
      s"rc.b 10 ${rnow - 30}", s"rc.b 20 ${rnow - 20}", s"rc.b 40 $rnow")
    Ingest.processBatch(Ingest.parseLines(lines.toDF("value")), d)
    d
  }

  private lazy val snap = StoreSnapshot.open(spark, dir)

  private val targets = Seq("rc.*" -> Seq("rc.a", "rc.b").map(p => (p, p)))
  private val base = TimeFrame(rnow - 30, rnow)

  private final class Counted(budget: Long = RenderCache.RowBudget) {
    val hits = new AtomicLong
    val misses = new AtomicLong
    val cache = new RenderCache(
      hit => (if (hit) hits else misses).incrementAndGet(), rowBudget = budget)
  }

  /** (name, function, start, step, values) per series. */
  private type Shape = Seq[(String, String, Long, Long, Seq[String])]

  private def render(
      c: Option[Counted],
      tf: TimeFrame = base,
      mode: Render.VersionMode = Render.VersionMode.DedupExact,
      consolidateBy: Option[String] = None): Shape =
    SeriesAssembly.assemble(Store.points(spark, snap), targets, tf, rules, now = rnow,
      consolidateBy = consolidateBy, versionMode = mode,
      cache = c.map(x => RenderCache.At(x.cache, snap.version)))
      .map(_.series)
      .map(s => (s.name, s.function, s.start, s.step, s.values.toSeq.map(_.toString)))

  private def two(fn: String, start: Long, step: Long, a: Seq[String], b: Seq[String]): Shape =
    Seq(("rc.a", fn, start, step, a), ("rc.b", fn, start, step, b))

  private val variants: Seq[(String, Option[Counted] => Shape, Shape)] = Seq(
    ("base", c => render(c),
      two("avg", rnow - 30, 10, Seq("4.5", "2.0", "3.0", "NaN"), Seq("10.0", "20.0", "NaN", "40.0"))),
    ("shorter window", c => render(c, tf = TimeFrame(rnow - 20, rnow)),
      two("avg", rnow - 20, 10, Seq("2.0", "3.0", "NaN"), Seq("20.0", "NaN", "40.0"))),
    // maxDataPoints 2 inflates the step to 20: buckets rnow-20, rnow
    ("maxDataPoints", c => render(c, tf = TimeFrame(rnow - 30, rnow, maxDataPoints = 2)),
      two("avg", rnow - 20, 20, Seq("2.5", "NaN"), Seq("20.0", "40.0"))),
    ("consolidateBy", c => render(c, consolidateBy = Some("sum")),
      two("sum", rnow - 30, 10, Seq("9.0", "2.0", "3.0", "NaN"), Seq("10.0", "20.0", "NaN", "40.0"))),
    ("MergedCells", c => render(c, mode = Render.VersionMode.MergedCells),
      two("avg", rnow - 30, 10, Seq("4.0", "2.0", "3.0", "NaN"), Seq("10.0", "20.0", "NaN", "40.0"))),
    ("Raw", c => render(c, mode = Render.VersionMode.Raw),
      two("avg", rnow - 30, 10, Seq((10.0 / 3).toString, "2.0", "3.0", "NaN"),
        Seq("10.0", "20.0", "NaN", "40.0"))))

  test("windows, maxDataPoints, consolidateBy and version modes never share an entry") {
    val c = new Counted
    for ((name, run, want) <- variants) {
      val missed = c.misses.get
      assert(run(Some(c)) == want, name)
      assert(c.misses.get == missed + 1 && c.hits.get == 0, s"$name: first render must miss")
    }
    for ((name, run, want) <- variants) {
      val hit = c.hits.get
      assert(run(Some(c)) == want, s"$name (cached)")
      assert(c.hits.get == hit + 1, s"$name: repeat must hit")
    }
    assert(c.misses.get == variants.length)
  }

  test("without a cache every variant renders the same series") {
    for ((name, run, want) <- variants) assert(run(None) == want, name)
  }

  test("the row budget evicts the least recently used entry") {
    // each window's one group weighs 2 paths × (1 + buckets):
    // base 2 × 5 = 10, the shorter window 2 × 4 = 8
    val c = new Counted(budget = 18)
    val some = Some(c)
    render(some)
    render(some, tf = TimeFrame(rnow - 20, rnow))
    assert(c.cache.rows == 18 && c.misses.get == 2)
    render(some) // hit: base is now the most recently used
    assert(c.hits.get == 1)
    render(some, tf = TimeFrame(rnow - 10, rnow)) // 2 × 3 = 6: evicts the shorter window
    assert(c.cache.rows == 16)
    render(some)
    assert(c.hits.get == 2)
    render(some, tf = TimeFrame(rnow - 20, rnow))
    assert(c.misses.get == 4, "the evicted entry must miss")

    // an entry above the budget is never kept
    val small = new Counted(budget = 9)
    render(Some(small)); render(Some(small))
    assert(small.cache.rows == 0 && small.hits.get == 0 && small.misses.get == 2)
  }

  test("concurrent identical misses run one load, and every caller gets its rows") {
    val c = new Counted
    val pool = Executors.newFixedThreadPool(8)
    try {
      val go = new CountDownLatch(1)
      val renders = (1 to 8).map(_ => pool.submit(() => { go.await(); render(Some(c)) }))
      go.countDown()
      for (r <- renders) assert(r.get(120, TimeUnit.SECONDS) == variants.head._3)
      assert(c.misses.get == 1, "one load for eight identical misses")
      assert(c.hits.get == 7)
    } finally pool.shutdown()
  }
}
