package graft.compiler

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.glob.Glob

/** Compiles graphite globs into Catalyst `Column` predicates.
  *
  * This is the Spark-native analog of the reference's SQL-string
  * builder (`pkg/where/match.go:136-227`): the same literal-prefix
  * decomposition (equality / prefix / prefix+regex) is kept because
  * `startsWith` prunes parquet row groups via min/max column stats —
  * the role the ClickHouse primary index played — while the residual
  * anchored regex preserves exact glob semantics.
  */
object GlobCompiler {

  /** Predicate for a glob over `field`. `optionalDotAtEnd` admits the
    * trailing-dot form used by index tree rows for non-leaf nodes
    * (`TreeGlob` vs `Glob`).
    */
  def glob(field: Column, query0: String, optionalDotAtEnd: Boolean = false): Column = {
    if (query0 == "*") return lit(true)
    val query = Glob.clearGlob(query0)
    if (!Glob.hasWildcard(query)) {
      return if (optionalDotAtEnd) field.isin(query, query + ".") else field === query
    }
    val firstWildcard = Glob.indexWildcard(query)
    val simplePrefix = query.substring(0, firstWildcard)

    // pure prefix glob: "metric.name.xx*"
    if (simplePrefix.length == query.length - 1 && query.endsWith("*")) {
      return field.startsWith(simplePrefix)
    }

    val postfix = if (optionalDotAtEnd) "[.]?$" else "$"
    val re = "^" + Glob.globToRegexp(query) + postfix
    if (simplePrefix.isEmpty) field.rlike(re)
    else field.startsWith(simplePrefix) && field.rlike(re)
  }

  /** Tree-glob (find) form: non-leaf index rows carry a trailing dot.
    * Routed through the native codegen'd matcher — brace/alternation
    * finds were ~3× slower on the regex path (BENCH r2:
    * `g_find_brace` 3.7 s vs `g_find_native` 1.2 s at sf0.1); globs
    * the token matcher can't express still fall back to `rlike`
    * inside [[globNative]].
    */
  def treeGlob(field: Column, query: String): Column =
    globNative(field, query, optionalDotAtEnd = true)

  /** Native-matcher variant: same semantics, but the residual wildcard
    * test is the codegen'd `GlobMatch` expression instead of `rlike`
    * (no per-row regex engine). The literal-prefix `startsWith` is
    * kept — it is what prunes parquet row groups. Falls back to the
    * regex path for globs the token matcher can't express (top-level
    * commas).
    */
  def globNative(field: Column, query0: String, optionalDotAtEnd: Boolean = false): Column = {
    if (query0 == "*") return lit(true)
    val query = Glob.clearGlob(query0)
    if (!Glob.hasWildcard(query)) {
      return if (optionalDotAtEnd) field.isin(query, query + ".") else field === query
    }
    val firstWildcard = Glob.indexWildcard(query)
    val simplePrefix = query.substring(0, firstWildcard)
    if (simplePrefix.length == query.length - 1 && query.endsWith("*")) {
      return field.startsWith(simplePrefix)
    }
    if (!GlobMatch.expressible(query)) return glob(field, query0, optionalDotAtEnd)
    val native = GlobMatch.column(field, query, optionalDotAtEnd)
    if (simplePrefix.isEmpty) native
    else field.startsWith(simplePrefix) && native
  }
}
