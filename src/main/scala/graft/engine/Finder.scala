package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.compiler.{GlobCompiler, Tagged}
import graft.glob.{Glob, Paths}
import graft.model.{FeatureFlags, Schemas}

/** Metric-name finder over the index table — the Spark-native analog
  * of `finder/index.go` + `finder/finder.go`.
  *
  * Builds one declarative filter (level + date + glob predicate) per
  * query; Catalyst pushes the level equality and the literal-prefix
  * `startsWith` down to the parquet scan, which plays the role the
  * ClickHouse `(Level, Path, Date)` primary index played.
  */
object Finder {

  /** Direct vs reversed representation choice (`finder/index.go:100-130`):
    * use the reversed rows when the first wildcard sits deeper from the
    * right than from the left (e.g. `*.cpu.load` — reversed prefix
    * `load.cpu.` is selective, direct prefix is empty).
    */
  def useReverse(query: String): Boolean = {
    val w = Glob.indexWildcard(query)
    if (w < 0) return false // no wildcard: direct
    // dot COUNTS on each flank, as the reference computes them
    // (`finder/index.go:111-123`) — not character positions
    val firstWildcardNode = query.substring(0, w).count(_ == '.')
    val lastWildcardNode = query.substring(Glob.indexLastWildcard(query)).count(_ == '.')
    firstWildcardNode < lastWildcardNode
  }

  /** Config-aware chooser (`finder/index.go:100-130` with the
    * `index-reverse`/`index-reverses` overrides): a forced global
    * mode wins outright (even for wildcard-free queries — matching
    * the reference's `Test_useReverseWithSetConfig`), then the first
    * matching per-target rule, then the dot-count heuristic.
    */
  def useReverse(query: String, policy: Routing.ReversePolicy): Boolean = {
    import Routing.ReverseMode
    policy.mode match {
      case ReverseMode.Direct   => false
      case ReverseMode.Reversed => true
      case ReverseMode.Auto =>
        Routing.checkReverses(query, policy.rules) match {
          case ReverseMode.Direct   => false
          case ReverseMode.Reversed => true
          case ReverseMode.Auto     => useReverse(query)
        }
    }
  }

  /** Admission control (`wildcard-min-distance`, `finder/index.go:180-197`):
    * reject queries whose wildcards hug both ends of the path.
    * Single-node queries are exempt — "allows to check which root
    * nodes exist" (`index.go:187-191`).
    */
  def checkWildcardDistance(query: String, minDistance: Int): Either[String, Unit] = {
    if (minDistance <= 0) return Right(())
    val d = Glob.maxWildcardDistance(query)
    val moreThanOneNode = query.count(_ == '.') >= 1
    if (d >= 0 && d < minDistance && moreThanOneNode)
      Left(s"query has wildcards way too early at the start and at the end of it")
    else Right(())
  }

  /** The `date` filter for a time range: the daily rows between the
    * two dates when both bounds are set, `orElse` otherwise.
    */
  private def dailyDate(from: Long, until: Long, orElse: Column): Column =
    if (from > 0 && until > 0)
      col("date").between(
        to_date(timestamp_seconds(lit(from))),
        to_date(timestamp_seconds(lit(until))))
    else orElse

  /** The tree predicate of one find over orientation `rev`: the date
    * filter, and for each oriented glob its level (depth plus the
    * daily/tree offset of `finder/index.go:19-23`) and tree glob,
    * OR'd. Daily rows (both bounds set) filter a date range; all-time
    * rows read the constant tree date.
    */
  private def treePredicate(oriented: Seq[String], rev: Boolean, from: Long, until: Long): Column = {
    val useDaily = from > 0 && until > 0
    val levelOffset =
      if (useDaily) { if (rev) Schemas.ReverseLevelOffset else 0 }
      else { if (rev) Schemas.ReverseTreeLevelOffset else Schemas.TreeLevelOffset }
    val datePred = dailyDate(from, until, col("date") === lit(Schemas.DefaultTreeDate).cast("date"))
    def level(q: String) = col("level") === (Paths.level(q) + levelOffset)
    oriented match {
      case Seq(q) => level(q) && datePred && GlobCompiler.treeGlob(col("path"), q)
      case qs     => datePred && qs.map(q => level(q) && GlobCompiler.treeGlob(col("path"), q))
          .reduceLeft(_ || _)
    }
  }

  /** Distinct matching paths in display (direct) orientation, with the
    * non-leaf marker decoded from the trailing dot
    * (`finder/finder.go:116-122`): (path, is_leaf).
    */
  private def matchedPaths(index: DataFrame, pred: Column, rev: Boolean): DataFrame = {
    val raw = index.where(pred).select("path").distinct()
    val display =
      if (rev) raw.select(GraphiteTables.reversePath(col("path")).as("path"))
      else raw
    display.select(
      when(col("path").endsWith("."), expr("substring(path, 1, length(path)-1)"))
        .otherwise(col("path")).as("path"),
      (!col("path").endsWith(".")).as("is_leaf"))
  }

  /** Compile a find query into (filterColumn, usedReverse). Daily rows
    * (`useDaily`) add a date-range filter; all-time rows use the
    * constant tree date with the level offsets of `finder/index.go:19-23`.
    */
  def compile(
      query0: String,
      from: Long = 0,
      until: Long = 0,
      reverse: Option[Boolean] = None,
      reversePolicy: Routing.ReversePolicy = Routing.ReversePolicy()): (Column, Boolean) = {
    val query = Glob.clearGlob(query0)
    val rev = reverse.getOrElse(useReverse(query, reversePolicy))
    val q = if (rev) Paths.reverse(query) else query
    (treePredicate(Seq(q), rev, from, until), rev)
  }

  /** Run a find: distinct matching paths with the non-leaf marker
    * decoded from the trailing dot (`finder/finder.go:116-122`).
    * Returns (path, is_leaf) in display (direct) orientation.
    */
  def find(
      index: DataFrame,
      query: String,
      from: Long = 0,
      until: Long = 0,
      wildcardMinDistance: Int = 0,
      reversePolicy: Routing.ReversePolicy = Routing.ReversePolicy()): DataFrame = {
    checkWildcardDistance(Glob.clearGlob(query), wildcardMinDistance) match {
      case Left(e)  => throw new IllegalArgumentException(e)
      case Right(_) =>
    }
    val (pred, rev) = compile(query, from, until, reversePolicy = reversePolicy)
    matchedPaths(index, pred, rev)
  }

  /** Split find (U2, `finder/split.go:72-128`): brace-split the query
    * into selective disjuncts and run ONE scan with the OR of their
    * predicates (per-disjunct level: brace choices can alter depth);
    * orientation chosen from the first wildcarded disjunct
    * (`whereFilter`, `split.go:241-259`). Falls back to the plain find
    * when the query doesn't split.
    */
  def findSplit(
      index: DataFrame,
      query: String,
      maxNodeToSplitIndex: Int = 2,
      from: Long = 0,
      until: Long = 0): DataFrame = {
    val queries = graft.glob.Split.splitQuery(query, maxNodeToSplitIndex) match {
      case Right(qs) => qs
      case Left(e)   => throw new IllegalArgumentException(e)
    }
    if (queries.length <= 1) return find(index, query, from, until)
    val rev = queries.find(Glob.hasWildcard).map(useReverse)
      .getOrElse(useReverse(queries.head))
    val oriented = queries.map(q => if (rev) Paths.reverse(q) else q)
    matchedPaths(index, treePredicate(oriented, rev, from, until), rev)
  }

  /** Distinct storage paths of the tags rows matching parsed terms,
    * over the daily rows of the range when both bounds are set.
    */
  private def taggedPaths(
      tags: DataFrame,
      terms: List[Tagged.Term],
      flags: FeatureFlags,
      from: Long,
      until: Long): DataFrame =
    tags.where(dailyDate(from, until, lit(true)) &&
        Tagged.wherePredicate(col("tag1"), col("tags"), terms, flags))
      .select("path").distinct()

  private def parseTagged(expr: String, flags: FeatureFlags): List[Tagged.Term] =
    Tagged.parseSeriesByTag(expr, flags) match {
      case Right(t) => t
      case Left(e)  => throw new IllegalArgumentException(e)
    }

  /** Tagged find with cost-based term ordering from live cardinality
    * stats (J5, `PrepareTaggedTerms`, `finder/tagged.go:614-637`): the
    * lowest-count exact term becomes the `tag1` primary filter. Result
    * set is identical to the uncosted find — the stats only steer
    * which predicate hits the inverted-index column.
    */
  def findTaggedCosted(
      tags: DataFrame,
      countTable: DataFrame,
      expr: String,
      flags: FeatureFlags = FeatureFlags(),
      configuredCosts: Map[String, Tagged.Costs] = Map.empty,
      from: Long = 0,
      until: Long = 0): DataFrame = {
    val terms = TagStats.prepareTerms(
      parseTagged(expr, flags), Some(countTable), configuredCosts, from, until)
    taggedPaths(tags, terms, flags, from, until)
  }

  /** Tagged find: seriesByTag expression → distinct storage paths
    * (`finder/tagged.go:440-502`). The first (most selective) term
    * lands on the `tag1` inverted-index column; the rest filter the
    * `tags` array.
    */
  def findTagged(
      tags: DataFrame,
      expr: String,
      flags: FeatureFlags = FeatureFlags(),
      from: Long = 0,
      until: Long = 0,
      tagsMinInQuery: Int = 0): DataFrame = {
    val terms = parseTagged(expr, flags)
    // admission gate (`finder/tagged.go:357-363` → HTTP 403)
    if (tagsMinInQuery > 0 && Tagged.nonWildcardEqCount(terms) < tagsMinInQuery)
      throw new IllegalArgumentException(
        "seriesByTag argument has too much wildcard and regex terms")
    taggedPaths(tags, terms, flags, from, until)
  }
}
