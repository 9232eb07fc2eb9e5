package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8

/** The request kinds the workloads send, how each becomes an HTTP
  * request, and the checks that compare a response with what the
  * generator says it must hold.
  */
sealed trait Call { def kind: String }

object Call {
  final case class Render(targets: Seq[String], from: Long, until: Long, maxDataPoints: Long,
      format: String, noCache: Boolean = false) extends Call { def kind = "render" }
  final case class Find(query: String) extends Call { def kind = "find" }
  final case class Tags(names: Boolean, exprs: List[String], tag: String = "", prefix: String = "")
      extends Call { def kind = "tags" }
  final case class Prom(query: String, start: Long, end: Long, step: Long) extends Call { def kind = "promql" }

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def qs(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")

  def request(c: Call): Http.Req = c match {
    case r: Render if r.format == "carbonapi_v3_pb" =>
      val nc = if (r.noCache) "&noCache=1" else ""
      Http.Req(s"/render/?format=carbonapi_v3_pb$nc",
        Some(Decode.v3Request(r.targets, r.from, r.until, r.maxDataPoints)), r.format)
    case r: Render =>
      val kvs = r.targets.map("target" -> _) ++ Seq("from" -> r.from.toString, "until" -> r.until.toString,
        "maxDataPoints" -> r.maxDataPoints.toString, "format" -> r.format) ++
        (if (r.noCache) Seq("noCache" -> "1") else Nil)
      Http.Req("/render/?" + qs(kvs), None, r.format)
    case f: Find => Http.Req("/metrics/find/?" + qs(Seq("query" -> f.query, "format" -> "pickle")))
    case t: Tags if t.names =>
      Http.Req("/tags/autoComplete/tags?" +
        qs(t.exprs.map("expr" -> _) ++ (if (t.prefix.nonEmpty) Seq("tagPrefix" -> t.prefix) else Nil)))
    case t: Tags =>
      Http.Req("/tags/autoComplete/values?" + qs(Seq("tag" -> t.tag) ++ t.exprs.map("expr" -> _) ++
        (if (t.prefix.nonEmpty) Seq("valuePrefix" -> t.prefix) else Nil)))
    case p: Prom =>
      Http.Req("/api/v1/query_range?" + qs(Seq("query" -> p.query, "start" -> p.start.toString,
        "end" -> p.end.toString, "step" -> p.step.toString)))
  }
}

/** A request with its check: `check` returns None when the response
  * holds what the generator expects, else the first mismatch.
  */
final case class Item(call: Call, check: Http.Resp => Option[String]) {
  lazy val req: Http.Req = Call.request(call)
  def kind: String = call.kind
}

object Check {

  /** Absolute tolerance for a checked value: the json sink prints six
    * decimals.
    */
  val Tol = 1e-6

  def close(got: Double, want: Double): Boolean =
    (got.isNaN && want.isNaN) ||
      (!got.isNaN && !want.isNaN && math.abs(got - want) <= Tol + 1e-9 * math.abs(want))

  /** Decode a render body in its wire format. */
  def series(format: String, body: Array[Byte]): Seq[Decode.Series] = format match {
    case "carbonapi_v3_pb" => Decode.v3(body)
    case "pickle" => Decode.renderPickle(body)
    case "json" => Decode.renderJson(body)
    case f => throw new IllegalArgumentException(s"no decoder for $f")
  }

  private def guarded(resp: Http.Resp)(body: => Option[String]): Option[String] =
    if (resp.status != 200) Some(s"status ${resp.status}: ${new String(resp.body, UTF_8).take(160)}")
    else try body catch { case e: Exception => Some(s"undecodable response: $e") }

  /** Render check: exactly the expected series names, and every
    * bucket equal to its closed-form value.
    */
  def render(format: String, expected: Map[String, Gen.Expect])(resp: Http.Resp): Option[String] =
    guarded(resp) {
      val got = series(format, resp.body)
      val names = got.map(_.name)
      if (names.distinct.length != names.length) Some("duplicate series in response")
      else if (names.toSet != expected.keySet) {
        val missing = expected.keySet -- names; val extra = names.toSet -- expected.keySet
        Some(s"series set differs: ${got.length} vs ${expected.size}; missing ${missing.take(3)}, extra ${extra.take(3)}")
      } else got.iterator.flatMap(s => seriesMismatch(s, expected(s.name))).nextOption()
    }

  def seriesMismatch(s: Decode.Series, e: Gen.Expect): Option[String] =
    if (s.step != e.step) Some(s"${s.name}: step ${s.step}, expected ${e.step}")
    else if (s.start != e.start) Some(s"${s.name}: start ${s.start}, expected ${e.start}")
    else if (s.values.length != e.values.length)
      Some(s"${s.name}: ${s.values.length} buckets, expected ${e.values.length}")
    else if (s.stop != s.start + s.step * s.values.length) Some(s"${s.name}: stop ${s.stop} off the grid")
    else s.values.indices.find(i => !close(s.values(i), e.values(i)))
      .map(i => s"${s.name}: bucket ${s.start + i * s.step} is ${s.values(i)}, expected ${e.values(i)}")

  def find(expected: Set[(String, Boolean)])(resp: Http.Resp): Option[String] =
    guarded(resp) {
      val got = Decode.findPickle(resp.body)
      if (got.distinct.length != got.length) Some("duplicate find rows")
      else if (got.toSet != expected)
        Some(s"find rows differ: ${got.length} vs ${expected.size}; e.g. ${(got.toSet diff expected).take(2)} / ${(expected diff got.toSet).take(2)}")
      else None
    }

  def strings(expected: Seq[String])(resp: Http.Resp): Option[String] =
    guarded(resp) {
      val got = Decode.stringArray(resp.body)
      if (got != expected) Some(s"autocomplete ${got.take(6)} expected ${expected.take(6)}") else None
    }

  /** PromQL check: the label sets of the result series (compared
    * without `__name__`, which this check leaves to a later one), and
    * the number of points each series has; `perStep` instead bounds
    * the series present at each step, for ranking queries.
    */
  def prom(labels: Set[Map[String, String]], points: Int, perStep: Option[Int] = None)(resp: Http.Resp): Option[String] =
    guarded(resp) {
      val got = Decode.promMatrix(resp.body)
      val want = labels.map(_ - "__name__")
      val ls = got.map(_.labels - "__name__")
      if (got.exists(_.points.exists { case (_, v) => v.isNaN || v.isInfinite })) Some("non-finite sample")
      else perStep match {
        case Some(k) =>
          val byStep = got.flatMap(_.points.map(_._1)).groupBy(identity).map { case (t, ts) => t -> ts.length }
          if (!ls.forall(want)) Some(s"unexpected series ${ls.find(l => !want(l))}")
          else if (byStep.size != points || byStep.values.exists(_ != k))
            Some(s"ranking: ${byStep.size} steps (expected $points), sizes ${byStep.values.toSet}")
          else None
        case None =>
          if (ls.toSet != want || ls.length != want.size)
            Some(s"prom series differ: ${ls.length} vs ${want.size}; e.g. ${ls.find(l => !want(l))}")
          else got.find(_.points.length != points).map(s => s"${s.labels}: ${s.points.length} points, expected $points")
      }
    }
}
