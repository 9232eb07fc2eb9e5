package graft.sinks

import java.util.Locale

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** [[JsonSink]]'s value formatter against Java's `%f` — the expression
  * the render body was built with before, kept here as the oracle —
  * on every kind of double: random bit patterns, signed zeros,
  * subnormals, values that round at the 7th decimal (and their
  * neighbours one ulp away), values of 1e9 and beyond up to 1e300,
  * and negatives that round to `-0.000000`. NaN and ±Inf render as
  * `null`.
  */
class JsonValueSpec extends AnyFunSuite {

  private def oracle(v: Double): String = "%f".formatLocal(Locale.ROOT, v)

  private val finite: Gen[Double] = Gen.oneOf(
    // any bit pattern (NaN/Inf excluded: the body writes null for them)
    Gen.long.map(java.lang.Double.longBitsToDouble).filter(v => !v.isNaN && !v.isInfinite),
    Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, Double.MaxValue, -Double.MaxValue),
    // subnormals
    Gen.choose(1L, (1L << 52) - 1).map(java.lang.Double.longBitsToDouble),
    // k.dddddd5 — a midpoint at the 7th decimal — and one ulp either side
    for {
      n <- Gen.choose(-2000000000000L, 2000000000000L)
      step <- Gen.oneOf(-1, 0, 1)
    } yield {
      val m = (n + 0.5) / 1e6
      if (step < 0) math.nextDown(m) else if (step > 0) math.nextUp(m) else m
    },
    // short decimals, as metrics carry them
    Gen.choose(-100000000L, 100000000L).flatMap(n => Gen.choose(0, 9).map(k => n / math.pow(10, k))),
    // around and past the fast path's 1e9 limit, and ≥ 1e17
    Gen.choose(8.0, 300.0).map(e => math.pow(10, e)).flatMap(v => Gen.oneOf(v, -v)),
    // negatives below 5e-7: rounded to -0.000000
    Gen.choose(0.0, 5e-7).map(v => -v))

  test("values format exactly like %f: random bits, zeros, subnormals, 7th-decimal midpoints, huge") {
    val prop = Prop.forAll(finite) { v => JsonSink.f6(v) == oracle(v) }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(200000), prop)
    assert(result.passed, result.status.toString)
  }

  test("fixed cases") {
    for (v <- Seq(0.0, -0.0, 1.0, -1.0, 0.5, 1e-7, -1e-7, 4.9e-7, -4.9e-7, 5e-7, -5e-7, 1.0000005,
        2.0000005, 123.4567895, 0.1 + 0.2, 99999999.9999995, 999999999.9999999, 1e9, 1e17, -1e17,
        1e23, 5e-324, -5e-324, 2.2250738585072014e-308))
      assert(JsonSink.f6(v) == oracle(v), v.toString)
    assert(JsonSink.f6(-0.0) == "-0.000000")
    assert(JsonSink.f6(-1e-9) == "-0.000000")
  }

  test("NaN and infinities render as null") {
    val body = JsonSink.render(
      Seq(Series("a", "a", "avg", 0, 40, 10, Array(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1.5))),
      0, 30)
    assert(body.contains("\"values\":[null,null,null,1.500000]"), body)
  }
}
