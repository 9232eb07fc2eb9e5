package graft.glob

/** Brace-split query rewrite (U2, `finder/split.go:130-244`): when a
  * glob carries `{…}` alternation near one end, expand that group into
  * selective disjuncts — each disjunct exposes a longer literal
  * prefix, which is what the storage index (here: parquet min/max
  * stats on the sorted path column) can actually prune on. The
  * disjuncts are OR'd into ONE scan (`engine.Finder.findSplit`), never N
  * scans.
  */
object Split {

  /** Port of `splitQuery`: returns the disjunct list, or the original
    * query alone when splitting would not help (wildcards on both
    * flanks, or the clean flank deeper than `maxNodeToSplitIndex`).
    */
  def splitQuery(query0: String, maxNodeToSplitIndex: Int): Either[String, List[String]] = {
    if (Glob.hasUnmatchedBrackets(query0)) return Left("query has unmatched brackets")
    val query = Glob.clearGlob(query0)
    if (!query.exists(c => c == '{' || c == '}')) return Right(List(query))

    val firstClosing = query.indexOf('}')
    val lastOpen = query.lastIndexOf('{')
    val firstOpen = query.indexOf('{')
    val lastClosing = query.lastIndexOf('}')

    val directNodeCount = query.substring(0, firstOpen).count(_ == '.')
    val directWildcardIndex = Glob.indexWildcard(query.substring(0, firstOpen))
    val reverseNodeCount = query.substring(lastClosing).count(_ == '.')
    val reverseWildcardIndex =
      if (lastClosing == query.length - 1) -1
      else Glob.indexLastWildcard(query.substring(lastClosing + 1))

    var useDirect = true
    if (directWildcardIndex >= 0 && reverseWildcardIndex >= 0) {
      return Right(List(query))
    } else if (directWildcardIndex < 0 && reverseWildcardIndex >= 0) {
      if (directNodeCount > maxNodeToSplitIndex) return Right(List(query))
      useDirect = true
    } else if (directWildcardIndex >= 0 && reverseWildcardIndex < 0) {
      if (reverseNodeCount > maxNodeToSplitIndex) return Right(List(query))
      useDirect = false
    } else {
      if (directNodeCount > maxNodeToSplitIndex && reverseNodeCount > maxNodeToSplitIndex)
        return Right(List(query))
    }

    if (lastOpen < firstClosing) // single brace group: expand the whole query
      return Glob.globExpandSimple(query)

    val choicesInLeftMost = query.substring(firstOpen, firstClosing).count(_ == ',')
    val choicesInRightMost = query.substring(lastOpen, lastClosing).count(_ == ',')

    if (directWildcardIndex < 0 && reverseWildcardIndex < 0) {
      if (directNodeCount > reverseNodeCount) {
        if (directNodeCount > maxNodeToSplitIndex) return Right(List(query))
        useDirect = true
      } else if (reverseNodeCount > directNodeCount) {
        if (reverseNodeCount > maxNodeToSplitIndex) return Right(List(query))
        useDirect = false
      } else {
        useDirect = choicesInLeftMost >= choicesInRightMost
      }
    }

    val (prefix, queryPart, suffix) =
      if (useDirect) ("", query.substring(0, firstClosing + 1), query.substring(firstClosing + 1))
      else (query.substring(0, lastOpen), query.substring(lastOpen), "")

    Glob.globExpandSimple(queryPart).map(_.map(q => prefix + q + suffix))
  }
}
