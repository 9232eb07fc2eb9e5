package graft.rollup

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import javax.xml.parsers.DocumentBuilderFactory
import scala.util.matching.Regex

/** Storage-schema aggregation functions. Semantics follow the
  * reference (`helper/rollup/aggr.go:7-105`): `any` is the first
  * value in time order, `anyLast` the last.
  */
sealed abstract class AggFunc(val name: String) {
  def apply(values: Seq[Double]): Double
}

object AggFunc {
  case object Avg extends AggFunc("avg") {
    def apply(v: Seq[Double]): Double = if (v.isEmpty) 0.0 else v.sum / v.size
  }
  case object Sum extends AggFunc("sum") {
    def apply(v: Seq[Double]): Double = v.sum
  }
  case object Min extends AggFunc("min") {
    def apply(v: Seq[Double]): Double = if (v.isEmpty) 0.0 else v.min
  }
  case object Max extends AggFunc("max") {
    def apply(v: Seq[Double]): Double = if (v.isEmpty) 0.0 else v.max
  }
  case object Any extends AggFunc("any") {
    def apply(v: Seq[Double]): Double = v.headOption.getOrElse(0.0)
  }
  case object AnyLast extends AggFunc("anyLast") {
    def apply(v: Seq[Double]): Double = v.lastOption.getOrElse(0.0)
  }

  val all: List[AggFunc] = List(Avg, Sum, Min, Max, Any, AnyLast)
  private val byName: Map[String, AggFunc] = all.map(f => f.name -> f).toMap

  /** Lookup incl. the graphite/whisper consolidation aliases used by
    * `consolidateBy` (`render/data/targets.go:134-174`).
    */
  def fromName(name: String): Option[AggFunc] = name match {
    case "average" | "avg" => Some(Avg)
    case "last"            => Some(AnyLast)
    case "first"           => Some(Any)
    case other             => byName.get(other)
  }
}

sealed trait RuleType
object RuleType {
  case object All extends RuleType
  case object Plain extends RuleType
  case object Tagged extends RuleType
  case object TagList extends RuleType

  def fromString(s: String): Either[String, RuleType] = s.toLowerCase match {
    case "" | "all" => Right(All)
    case "plain"    => Right(Plain)
    case "tagged"   => Right(Tagged)
    case "tag_list" => Right(TagList)
    case other      => Left(s"invalid rule type $other")
  }
}

/** `(age, precision)` — from `age` seconds old onward, store/roll up
  * at `precision` seconds.
  */
final case class Retention(age: Long, precision: Long)

/** One rollup rule: metrics matching `regexp` aggregate with
  * `function` and/or follow `retention`. Patterns are evaluated in
  * order; the first match providing a function wins the function, the
  * first providing an applicable retention wins the precision
  * (`helper/rollup/rules.go:299-363`).
  */
final case class Pattern(
    ruleType: RuleType,
    regexp: String,
    function: Option[AggFunc],
    retention: List[Retention]) {

  /** compiled form; `.*`/empty means match-all (no regex test) */
  private[rollup] val (normalizedRegexp, re): (String, Option[Regex]) = {
    val (rt, rx) = ruleType match {
      case RuleType.TagList => (RuleType.Tagged, Rules.buildTaggedRegex(regexp))
      case t                => (t, regexp)
    }
    val _ = rt
    if (rx == "" || rx == ".*") (".*", None) else (rx, Some(rx.r))
  }

  private[rollup] val effectiveType: RuleType = ruleType match {
    case RuleType.TagList => RuleType.Tagged
    case t                => t
  }

  private[rollup] val sortedRetention: List[Retention] = retention.sortBy(_.age)

  def matches(metric: String): Boolean =
    re.forall(_.findFirstIn(metric).isDefined)

  /** Precision this pattern yields at a fixed age, or None when the
    * age precedes the first retention window (the lookup then falls
    * through to later patterns) — mirrors the retention scan in
    * `rules.go:330-350`.
    */
  def precisionFor(age: Long): Option[Long] = {
    val rets = sortedRetention
    var i = 0
    while (i < rets.length) {
      val r = rets(i)
      if (age < r.age)
        return if (i > 0) Some(rets(i - 1).precision) else None
      else if (i == rets.length - 1)
        return Some(r.precision)
      i += 1
    }
    None
  }
}

/** Compiled rollup rule set with plain/tagged separation.
  * `lookup(metric, age)` mirrors `helper/rollup/rules.go:285-363`.
  */
final class Rules private (
    val patterns: List[Pattern],
    val separated: Boolean,
    plain: List[Pattern],
    tagged: List[Pattern]) {

  import Rules.{superDefaultFunction, superDefaultPrecision}

  /** (precision, aggregation function) for a metric at a given age. */
  def lookup(metric: String, age: Long): (Long, AggFunc) = {
    val pats =
      if (separated) { if (metric.contains("?")) tagged else plain }
      else patterns
    var ag: Option[AggFunc] = None
    var precision = 0L
    var precisionFound = false
    val it = pats.iterator
    while (it.hasNext && !(ag.isDefined && precisionFound)) {
      val p = it.next()
      val interesting =
        (ag.isEmpty && p.function.isDefined) || (!precisionFound && p.sortedRetention.nonEmpty)
      if (interesting && p.matches(metric)) {
        if (ag.isEmpty && p.function.isDefined) ag = p.function
        if (!precisionFound && p.sortedRetention.nonEmpty)
          p.precisionFor(age).foreach { v =>
            precision = v
            precisionFound = true
          }
      }
    }
    (if (precisionFound) precision else superDefaultPrecision,
      ag.getOrElse(superDefaultFunction))
  }

  /** Step (precision) only. */
  def step(metric: String, age: Long): Long = lookup(metric, age)._1

  /** Aggregation function only. */
  def function(metric: String, age: Long): AggFunc = lookup(metric, age)._2

  /** `lookup` as Catalyst Column expressions for the compaction job:
    * (precision, function-name) per row, with rule assignment inside
    * the plan (a CASE WHEN chain of regexes) instead of per-path
    * driver calls. Age is a Column (now − point time), so each row
    * resolves its own retention band. A pattern whose first retention
    * window starts after the row's age contributes nothing for
    * precision (falls through to later patterns), exactly like
    * `lookup`.
    */
  def lookupColumnsByAge(path: org.apache.spark.sql.Column, age: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    def matchCol(p: Pattern) = p.normalizedRegexp match {
      case ".*" => lit(true)
      case rx   => regexp_like(path, lit(rx))
    }
    // per pattern: precision by descending retention age (last band
    // whose age <= row age wins); null when age precedes every band
    def precOf(p: Pattern): Option[org.apache.spark.sql.Column] = {
      val bands = p.sortedRetention.reverse
      if (bands.isEmpty) None
      else Some(bands.tail.foldLeft(
        when(age >= bands.head.age, lit(bands.head.precision))) {
        case (acc, r) => acc.when(age >= r.age, lit(r.precision))
      })
    }
    def chain(pats: List[Pattern]) = {
      val prec = pats.flatMap(p => precOf(p).map(c => when(matchCol(p), c)))
      val fn = pats.collect {
        case p if p.function.isDefined => when(matchCol(p), lit(p.function.get.name))
      }
      (coalesce((prec :+ lit(superDefaultPrecision)): _*),
        coalesce((fn :+ lit(superDefaultFunction.name)): _*))
    }
    if (separated) {
      val (pp, pf) = chain(plain)
      val (tp, tf) = chain(tagged)
      val isTagged = path.contains("?")
      (when(isTagged, tp).otherwise(pp), when(isTagged, tf).otherwise(pf))
    } else chain(patterns)
  }
}

object Rules {
  private[rollup] val superDefaultFunction: AggFunc = AggFunc.Avg
  private[rollup] val superDefaultPrecision: Long = 60L

  /** Compile a pattern list (+ trailing explicit default) into a rule
    * set (`rules.go:209-268`).
    */
  def apply(
      patterns: List[Pattern],
      defaultPrecision: Long = 0L,
      defaultFunction: Option[AggFunc] = None): Rules = {
    val withDefault = patterns :+ Pattern(
      RuleType.All,
      ".*",
      defaultFunction,
      if (defaultPrecision != 0) List(Retention(0, defaultPrecision)) else Nil)
    val separated = withDefault.exists(p => p.ruleType != RuleType.All)
    val plain = withDefault.filter(p => p.effectiveType != RuleType.Tagged)
    val tagged = withDefault.filter(p =>
      p.effectiveType == RuleType.Tagged || p.ruleType == RuleType.All)
    new Rules(withDefault, separated, plain, tagged)
  }

  /** `tag_list` rule → anchored tagged-path regex; grammar documented
    * in `rules.go:86-135` (public ClickHouse Graphite.cpp semantics).
    */
  def buildTaggedRegex(tagsStr: String): String = {
    // NOTE: no trimming — the reference's splitTags (mirroring
    // ClickHouse Graphite.cpp) preserves spaces as part of tag/value,
    // so `name; tag=v` keeps the leading space in the second element.
    val tags = tagsStr.split(";").filter(_.nonEmpty).toList
    if (tags.isEmpty) return ".*"
    if (tags.head.contains("=")) {
      "[\\?&]" + tags.sorted.mkString("&(.*&)?") + "(&.*)?$"
    } else if (tags.length == 1) {
      "^" + tags.head + "\\?"
    } else {
      "^" + tags.head + "\\?(.*&)?" + tags.tail.sorted.mkString("&(.*&)?") + "(&.*)?$"
    }
  }

  /** Parse the ClickHouse `graphite_rollup` XML dialect
    * (`helper/rollup/xml.go:7-60`): `<pattern>` list + one
    * `<default>`.
    */
  def fromXml(xml: String): Rules = {
    val dbf = DocumentBuilderFactory.newInstance()
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = dbf.newDocumentBuilder()
      .parse(new ByteArrayInputStream(xml.getBytes(StandardCharsets.UTF_8)))
    val root = doc.getDocumentElement

    def children(node: org.w3c.dom.Element, name: String): List[org.w3c.dom.Element] = {
      val nl = node.getChildNodes
      (0 until nl.getLength).iterator
        .map(nl.item)
        .collect { case e: org.w3c.dom.Element if e.getTagName == name => e }
        .toList
    }
    def text(node: org.w3c.dom.Element, name: String): String =
      children(node, name).headOption.map(_.getTextContent.trim).getOrElse("")

    def parsePattern(e: org.w3c.dom.Element): Pattern = {
      // unknown rule_type is a config error (the reference fails to
      // load it) — do not silently coerce to All
      val ruleType = RuleType.fromString(text(e, "rule_type")).fold(
        err => throw new IllegalArgumentException(err), identity)
      val fn = text(e, "function") match {
        case "" => None
        case f  => Some(AggFunc.fromName(f).getOrElse(
          throw new IllegalArgumentException(s"unknown function $f")))
      }
      val rets = children(e, "retention").map { r =>
        // omitted <age>/<precision> default to 0, as Go's
        // xml.Unmarshal leaves the zero value
        def num(k: String): Long = text(r, k) match {
          case ""    => 0L
          case other => other.toLong
        }
        Retention(num("age"), num("precision"))
      }
      Pattern(ruleType, text(e, "regexp"), fn, rets)
    }

    // accept both <graphite_rollup> root and <yandex><graphite_rollup>
    val rollupEl =
      if (root.getTagName == "graphite_rollup") root
      else children(root, "graphite_rollup").headOption.getOrElse(root)

    val pats = children(rollupEl, "pattern").map(parsePattern)
    val default = children(rollupEl, "default").headOption.map(parsePattern)
    default match {
      case Some(d) =>
        // keep the full default retention list as a trailing catch-all
        // pattern so age-dependent default precisions still apply; only
        // synthesize the extra age-0 default when the XML default
        // already covers age 0 — otherwise small-age lookups must fall
        // through to the super-default 60 as in the reference
        val defPrec = d.sortedRetention.headOption
          .filter(_.age == 0).map(_.precision).getOrElse(0L)
        val all = pats :+ d.copy(ruleType = RuleType.All, regexp = ".*")
        Rules(all, defPrec, d.function)
      case None => Rules(pats)
    }
  }

  /** Compact rule grammar `regexp;function;age:precision,...` — one
    * rule per line (`helper/rollup/compact.go:15-76`).
    */
  def parseCompact(body: String): Rules = {
    val patterns = body.split("\n").toList.map(_.trim).filter(_.nonEmpty).map { line =>
      val p2 = line.lastIndexOf(';')
      require(p2 >= 0, s"can't parse line: $line")
      val p1 = line.lastIndexOf(';', p2 - 1)
      require(p1 >= 0, s"can't parse line: $line")
      val regexp = line.substring(0, p1).trim
      val function = line.substring(p1 + 1, p2).trim
      val retStr = line.substring(p2 + 1).trim
      val rets =
        if (retStr.isEmpty) Nil
        else retStr.split(",").toList.map { r =>
          val fields = r.split(":").map(_.trim)
          require(fields.length == 2 && fields.forall(_.forall(_.isDigit)),
            s"can't parse line: $line")
          Retention(fields(0).toLong, fields(1).toLong)
        }
      val fn =
        if (function.isEmpty) None
        else Some(AggFunc.fromName(function).getOrElse(
          throw new IllegalArgumentException(s"unknown function $function")))
      Pattern(RuleType.All, regexp, fn, rets)
    }
    Rules(patterns)
  }

  /** The reference test-fixture default: avg @ 10 s plus min/max/sum
    * suffix rules (plain + tagged variants), mirroring
    * `tests/clickhouse/rollup/rollup.xml`.
    */
  def graphiteTestDefault: Rules = Rules(
    List(
      Pattern(RuleType.All, "\\.min$", Some(AggFunc.Min), Nil),
      Pattern(RuleType.All, "\\.min\\?", Some(AggFunc.Min), Nil),
      Pattern(RuleType.All, "\\.max$", Some(AggFunc.Max), Nil),
      Pattern(RuleType.All, "\\.max\\?", Some(AggFunc.Max), Nil),
      Pattern(RuleType.All, "\\.sum$", Some(AggFunc.Sum), Nil),
      Pattern(RuleType.All, "\\.sum\\?", Some(AggFunc.Sum), Nil)),
    defaultPrecision = 10L,
    defaultFunction = Some(AggFunc.Avg))
}
