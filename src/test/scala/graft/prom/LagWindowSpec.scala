package graft.prom

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The consecutive-pair range functions (changes / resets / idelta /
  * irate / delta / rate / increase and the x-aliases), which run on a
  * lag window over each (series, slot), pinned to hand-computed rows.
  *
  * Fixture: one series `m{host="a"}`, grid start 1000, step 100,
  * range `[100s]`, so the three slots' windows do not overlap:
  *
  *   slot t=1000, (900, 1000]:  910:5  940:5  970:8  1000:2
  *       a plateau (5 → 5) and a counter reset (8 → 2)
  *   slot t=1100, (1000, 1100]: 1050:4
  *       a single sample
  *   slot t=1200, (1100, 1200]: 1120:7  1150:3  1180:4
  *       1150 is written twice: 9 at version 0 and 3 at version 2;
  *       the higher version wins, so the slot reads 7, 3, 4 (a reset
  *       7 → 3), where the version-0 row would read 7, 9, 4
  */
class LagWindowSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val (t0, t1, t2) = (1000L, 1100L, 1200L)

  // The extrapolation below is upstream's extrapolatedRate, with the
  // window (tEnd − 100, tEnd] and avgDur = sampled / (cnt − 1):
  //   t=1000: sampled = 1000 − 910 = 90, avgDur = 90/3 = 30,
  //           threshold 1.1·30 = 33; dStart = 910 − 900 = 10,
  //           dEnd = 1000 − 1000 = 0 (both under 33)
  //           → factor = (90 + 10 + 0) / 90 = 10/9
  //   t=1200: sampled = 1180 − 1120 = 60, avgDur = 60/2 = 30;
  //           dStart = 1120 − 1100 = 20, dEnd = 1200 − 1180 = 20
  //           → factor = (60 + 20 + 20) / 60 = 5/3
  // Counter increase = last − first + the predecessor of each drop:
  //   t=1000: 2 − 5 + 8 = 5; zero crossing 90·(5/5) = 90 ≥ dStart 10,
  //           so dStart stays 10
  //   t=1200: 4 − 7 + 7 = 4; zero crossing 60·(7/4) = 105 ≥ 20
  // The single-sample slot t=1100 has no pair: changes and resets
  // read 0 there, every other function emits no row.
  private val increase = Map(t0 -> 5.0 * 10 / 9, t2 -> 4.0 * 5 / 3)
  private val expected: Seq[(String, Map[Long, Double])] = Seq(
    // value changes between neighbours: 5→5 no, 5→8, 8→2 | — | 7→3, 3→4
    "changes(m[100s])" -> Map(t0 -> 2.0, t1 -> 0.0, t2 -> 2.0),
    // drops: 8→2 | — | 7→3
    "resets(m[100s])" -> Map(t0 -> 1.0, t1 -> 0.0, t2 -> 1.0),
    // last − previous: 2 − 8 | 4 − 3
    "idelta(m[100s])" -> Map(t0 -> -6.0, t2 -> 1.0),
    // t=1000 resets between the last two, so the increase is the last
    // value: 2 / (1000 − 970); t=1200: (4 − 3) / (1180 − 1150)
    "irate(m[100s])" -> Map(t0 -> 2.0 / 30, t2 -> 1.0 / 30),
    // gauge: (last − first)·factor = (2 − 5)·10/9 | (4 − 7)·5/3
    "delta(m[100s])" -> Map(t0 -> -3.0 * 10 / 9, t2 -> -5.0),
    "increase(m[100s])" -> increase,
    "xincrease(m[100s])" -> increase,
    // increase / 100 s
    "rate(m[100s])" -> increase.map { case (t, v) => t -> v / 100 },
    "xrate(m[100s])" -> increase.map { case (t, v) => t -> v / 100 })

  test("consecutive-pair range fns match hand-computed rows") {
    val s = spark
    import s.implicits._
    val path = "m?host=a"
    val pts = Seq(
      (910L, 5.0, 0L), (940L, 5.0, 0L), (970L, 8.0, 0L), (1000L, 2.0, 0L),
      (1050L, 4.0, 0L),
      (1120L, 7.0, 0L), (1150L, 9.0, 0L), (1150L, 3.0, 2L), (1180L, 4.0, 0L))
      .map { case (t, v, ver) => (path, t, v, ver) }
      .toDF("path", "time", "value", "version")
    val tagRows = graft.engine.GraphiteTables.expandTagRows(
      pts.select(col("path")).distinct()
        .withColumn("date", lit("1970-01-01").cast("date"))
        .withColumn("version", lit(0L)))

    for ((q, want) <- expected) {
      val expr = PromQL.parse(q)
        .fold(e => throw new IllegalArgumentException(e), identity)
      val got = PromQL.evalMatrix(pts, tagRows, expr,
          start = t0, end = t2, step0 = 100L, lookbackSec = 100L)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.keySet == want.keySet.map(path -> _), s"$q: rows $got")
      for ((t, v) <- want) {
        val w = got((path, t))
        assert(math.abs(v - w) <= 1e-9 * math.max(1.0, math.abs(v)),
          s"$q at $t: expected $v, got $w")
      }
    }
  }
}
