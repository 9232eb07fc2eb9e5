package graft.prom

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.compiler.Tagged
import graft.compiler.Tagged.{Op, Term}

/** Prometheus façade seams (F4, W5, `prometheus/` package): label
  * decoding of storage paths, PromQL matcher → tagged-term mapping,
  * and the millisecond series projection the Prom engine consumes.
  * The PromQL evaluation engine itself is out of scope for parity
  * (the reference imports it too).
  */
object Prom {

  /** Storage path `name?k=v&k2=v2` → sorted label structs with
    * `__name__` (`prometheus/labels.go:28-51`). A path with no query
    * string becomes a single `__name__` label.
    */
  def labels(path: Column): Column = {
    val name = substring_index(path, "?", 1)
    val hasTags = path.contains("?")
    val kvs = split(substring_index(path, "?", -1), "&")
    val tagStructs = transform(kvs, kv =>
      struct(
        substring_index(kv, "=", 1).as("name"),
        substring_index(kv, "=", -1).as("value")))
    val nameStruct = struct(lit("__name__").as("name"), name.as("value"))
    array_sort(
      when(hasTags, concat(array(nameStruct), tagStructs))
        .otherwise(array(struct(lit("__name__").as("name"), path.as("value")))))
  }

  /** Explode a path relation into (path, name, value) label rows. */
  def labelRows(paths: DataFrame, pathCol: String = "path"): DataFrame =
    paths
      .select(col(pathCol).as("path"), explode(labels(col(pathCol))).as("l"))
      .select(col("path"), col("l.name").as("name"), col("l.value").as("value"))

  /** PromQL matcher types → tagged-term ops
    * (`prometheus/matcher.go:20-38`): `=`→Eq, `!=`→Ne, `=~`→Match,
    * `!~`→NotMatch; terms are then base-sorted exactly like
    * seriesByTag terms.
    */
  def matchersToTerms(matchers: Seq[(String, String, String)]): Either[String, List[Term]] = {
    val terms = matchers.map { case (name, matchType, value) =>
      val op = matchType match {
        case "="  => Op.Eq
        case "!=" => Op.Ne
        case "=~" => Op.Match
        case "!~" => Op.NotMatch
        case t    => return Left(s"unknown matcher type $t")
      }
      Term(name, op, value, hasWildcard = false)
    }.toList
    Right(Tagged.sortTerms(terms))
  }

  /** PromQL-matcher find (`prometheus/querier_select.go:95-147`):
    * matchers → sorted tagged terms → same predicate compiler and
    * tagged finder as seriesByTag. Returns distinct storage paths.
    */
  def findByMatchers(
      tags: DataFrame,
      matchers: Seq[(String, String, String)]): DataFrame = {
    val terms = matchersToTerms(matchers) match {
      case Right(t) => t
      case Left(e)  => throw new IllegalArgumentException(e)
    }
    val flags = graft.model.FeatureFlags()
    tags
      .where(Tagged.wherePredicate(col("tag1"), col("tags"), terms, flags))
      .select("path").distinct()
  }

  /** Outer key: the tags DataFrame INSTANCE (DataFrame has identity
    * equals, so a hit is guaranteed to be the same table — no hash
    * collision can alias two tables), held weakly so per-request
    * frames (the HTTP layer rebuilds its tags view every call) are
    * collected instead of accumulating; the session-memoized
    * `GraphiteTables` tables are strongly held by their memo and
    * persist. The inner per-table map is bounded.
    */
  private val findMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame,
        java.util.LinkedHashMap[List[(String, String, String)], Array[String]]]())

  /** Find memo feeding [[PromQL.evalMatrix]]'s sample scans: the
    * matched path set is collected ONCE per (tags DataFrame instance,
    * matcher set) and replayed as a LocalRelation. This is the
    * reference's own architecture made explicit: find runs first
    * (through `common.find-cache`, `render/handler.go:41-56`), and the
    * found metrics ship INTO the data query as the external-data
    * table (`render/data/query.go`). The result is find-result-sized
    * (driver-safe by the same P14 max-metrics guards).
    *
    * A hit needs the SAME DataFrame instance. Callers holding the
    * session-memoized `GraphiteTables.tags` (the registry entries) hit
    * across evaluations. The HTTP server opens a new `Store.tags`
    * frame per call (`HttpApi.tagsTable`), so a PromQL request hits
    * only within its own evaluation (a selector repeated in one
    * expression, the two finds of a binop over one frame), never an
    * earlier request's entry: across requests each selector costs its
    * find job again. The server's TTL'd [[graft.engine.FindCache]]
    * serves `/metrics/find` only, not PromQL.
    */
  def findPathsCached(
      tags: DataFrame,
      matchers: Seq[(String, String, String)]): DataFrame = {
    val spark = tags.sparkSession
    // key on the matcher list itself (structural equality) — a joined
    // string is ambiguous: {a="b)|(c,=,d"} would serialize identically
    // to the two-matcher set {a="b", c="d"} and alias their cache rows
    val key = matchers.toList
    val paths = findMemo.synchronized {
      val inner = {
        val m = findMemo.get(tags)
        if (m != null) m
        else {
          val m2 = new java.util.LinkedHashMap[
              List[(String, String, String)], Array[String]](64, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[List[(String, String, String)], Array[String]]): Boolean =
              size() > 1024
          }
          findMemo.put(tags, m2)
          m2
        }
      }
      inner.get(key)
    } match {
      case null =>
        val computed = findByMatchers(tags, matchers).collect().map(_.getString(0))
        findMemo.synchronized {
          val inner = findMemo.get(tags)
          if (inner != null) inner.put(key, computed)
        }
        computed
      case hit => hit
    }
    import spark.implicits._
    spark.createDataset(paths.toIndexedSeq).toDF("path")
  }

  /** Minimal PromQL series-selector parser for the HTTP label/series
    * endpoints: `name{k="v", k2!~"re"}`, `{k="v"}`, or a bare metric
    * name. Only the selector grammar the label APIs need — full PromQL
    * evaluation stays out of scope (the reference imports the upstream
    * engine for that, `prometheus/querier_select.go`).
    */
  def parseSelector(s0: String): Either[String, Seq[(String, String, String)]] = {
    val s = s0.trim
    if (s.isEmpty) return Left("empty selector")
    val braceAt = s.indexOf('{')
    val (name, body) =
      if (braceAt < 0) (s, "")
      else {
        if (!s.endsWith("}")) return Left(s"unclosed selector: $s0")
        (s.substring(0, braceAt).trim, s.substring(braceAt + 1, s.length - 1))
      }
    val out = Seq.newBuilder[(String, String, String)]
    if (name.nonEmpty) out += (("__name__", "=", name))
    var rest = body.trim
    while (rest.nonEmpty) {
      val opAt = rest.indexWhere(c => c == '=' || c == '!')
      if (opAt <= 0) return Left(s"bad matcher near '$rest'")
      val key = rest.substring(0, opAt).trim
      val afterKey = rest.substring(opAt)
      val op =
        if (afterKey.startsWith("=~")) "=~"
        else if (afterKey.startsWith("!~")) "!~"
        else if (afterKey.startsWith("!=")) "!="
        else if (afterKey.startsWith("=")) "="
        else return Left(s"bad matcher op near '$afterKey'")
      val afterOp = afterKey.substring(op.length).trim
      if (!afterOp.startsWith("\"")) return Left(s"expected quoted value near '$afterOp'")
      val sb = new StringBuilder
      var i = 1
      var closed = false
      while (i < afterOp.length && !closed) {
        afterOp.charAt(i) match {
          case '\\' if i + 1 < afterOp.length =>
            // Go strconv.Unquote escape set (the subset PromQL strings
            // use); unknown escapes are an error, not a silent strip
            afterOp.charAt(i + 1) match {
              case 'n'   => sb.append('\n')
              case 't'   => sb.append('\t')
              case 'r'   => sb.append('\r')
              case '"'   => sb.append('"')
              case '\\'  => sb.append('\\')
              case other => return Left(s"unsupported escape \\$other in '$s0'")
            }
            i += 2
          case '"' => closed = true; i += 1
          case c   => sb.append(c); i += 1
        }
      }
      if (!closed) return Left(s"unterminated value in '$s0'")
      out += ((key, op, sb.toString))
      rest = afterOp.substring(i).trim
      if (rest.startsWith(",")) rest = rest.substring(1).trim
      else if (rest.nonEmpty) return Left(s"expected ',' near '$rest'")
    }
    val result = out.result()
    if (result.isEmpty) Left("selector matches nothing") else Right(result)
  }

  /** Prometheus series projection (W5, `prometheus/series_set.go:81-155`):
    * epoch-second points → millisecond timestamps, stepping the grid so
    * each Prom `Seek` lands on a bucket (t × 1000).
    */
  def msSeries(points: DataFrame): DataFrame =
    points.select(
      col("path"),
      (col("time") * 1000).as("t_ms"),
      col("value"))

  /** Remote-read sample selection (`/api/v1/read`): matcher find over
    * the date-windowed tagged index, semi-join the points scan on the
    * (broadcast-sized) found paths, window on time, version-dedup —
    * raw source samples, no grid/rollup, because remote read hands the
    * math to the caller's own PromQL engine
    * (`prometheus/querier_select.go:95-147`). One shuffle (the dedup
    * hash-agg); the path join is broadcast.
    */
  def remoteReadSelect(
      points: DataFrame,
      tags: DataFrame,
      matchers: Seq[(String, String, String)],
      startS: Long,
      endS: Long): DataFrame = {
    val dated = tags.where(
      col("date").between(
        to_date(timestamp_seconds(lit(startS))),
        to_date(timestamp_seconds(lit(endS)))))
    val paths = findByMatchers(dated, matchers)
    val scanned = points
      .join(broadcast(paths), Seq("path"), "left_semi")
      .where(col("time") >= lit(startS) && col("time") <= lit(endS))
    if (scanned.columns.contains("version"))
      scanned.groupBy("path", "time")
        .agg(max_by(col("value"), col("version")).as("value"))
    else scanned.select("path", "time", "value")
  }
}
