package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the generator is deterministic per seed") {
    val a = Gen.headline(7, 3, 2, 2, 30)
    assert(a == Gen.headline(7, 3, 2, 2, 30))
    assert(Gen.lines(a).toVector == Gen.lines(Gen.headline(7, 3, 2, 2, 30)).toVector)
    assert(a.series.map(s => (s.a, s.b)) != Gen.headline(8, 3, 2, 2, 30).series.map(s => (s.a, s.b)))
    val shape = Gen.DashShape(2, 3, 2, 2, 60)
    assert(Gen.dashboard(5, shape) == Gen.dashboard(5, shape))
    assert(Gen.dashboard(5, shape)._1 != Gen.dashboard(6, shape)._1)
  }

  test("dashboard stores every series plain and tagged with one line") {
    val (st, byDims) = Gen.dashboard(3, Gen.DashShape(2, 2, 2, 2, 10))
    assert(st.series.length == 2 * byDims.size)
    byDims.foreach { case (d, s) =>
      val t = st.series.find(_.path == d.tagged).get
      assert((t.a, t.b) == (s.a, s.b))
    }
  }

  test("closed-form buckets equal brute-force averaging") {
    val st = Gen.headline(11, 2, 2, 2, 600)
    val windows = Seq(
      (st.t0, Gen.Now, 100L), (st.t0 - 3600, Gen.Now + 120, 100L), (st.t0 + 17, Gen.Now - 95, 7L),
      (st.t0 + 3000, st.t0 + 3001, 100L), (st.t0 + 123, st.t0 + 7777, 1000L), (st.t0 - 50000, st.t0 - 100, 10L))
    for (s <- st.series; (from, until, mdp) <- windows) {
      val e = Gen.expect(s, st, from, until, mdp)
      val b = Gen.bruteForce(s, st, from, until, mdp)
      assert((e.start, e.step, e.values.length) == (b.start, b.step, b.values.length))
      e.values.zip(b.values).foreach { case (x, y) => assert(Check.close(x, y), s"$x vs $y in $from..$until/$mdp") }
    }
  }

  test("glob expectations: leaves and inner nodes") {
    val leaves = Seq("a.b.c", "a.b.d", "a.x.c", "b.b.c")
    assert(Gen.findRows("a.*", leaves) == Set("a.b" -> false, "a.x" -> false))
    assert(Gen.findRows("a.b.*", leaves) == Set("a.b.c" -> true, "a.b.d" -> true))
    assert(Gen.findRows("*.b.{c,d}", leaves) == Set("a.b.c" -> true, "a.b.d" -> true, "b.b.c" -> true))
  }
}

class GenSparkSpec extends AnyFunSuite {

  test("the executor-side line generator writes exactly the driver-side lines") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").appName("perfbench-test")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new java.io.File("target/test-warehouse").getAbsolutePath)
      .getOrCreate()
    try {
      val st = Gen.dashboard(9, Gen.DashShape(2, 2, 1, 2, 7))._1
      val got = Gen.linesFrame(spark, st).collect().map(_.getString(0)).sorted.toVector
      assert(got == Gen.lines(st).toVector.sorted)
    } finally spark.stop()
  }
}
