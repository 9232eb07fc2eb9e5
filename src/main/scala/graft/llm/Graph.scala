package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph kernels over edge lists (the shapes CC/pointer
  * jumping in [[Dedup]] doesn't cover): PageRank-style fixed-point
  * iteration, and TextRank keyword importance as its corpus
  * application.
  *
  * Scale shape per iteration: one equi-join of the rank vector with
  * the edge list on the source key (AQE skew-splits a hub's edges)
  * and one hash aggregate over the destination key (map-side partials
  * absorb hot destinations). Nothing is ever windowed or collected;
  * the graph-sized relations stay distributed end to end.
  */
object Graph {

  /** PageRank over an UNDIRECTED edge list (each edge contributes
    * both directions), `iters` fixed iterations at `damping`, rank
    * seeded uniform over the nodes incident to ≥ 1 edge. Returns
    * (node, pagerank 6-dp, deg). Isolated vertices never enter the
    * edge list and are excluded — callers wanting them keep
    * `(1-damping)/n` rows themselves. 6-dp rounding only at the END:
    * intermediate sums stay full-precision, and the cross-engine
    * float-association wobble (~1e-15 after a handful of iterations)
    * sits far below the rounding boundary.
    */
  def pagerank(
      edges: DataFrame,
      aCol: Column,
      bCol: Column,
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    // `sym` and `deg` are referenced inside every iteration; without a
    // lineage cut each loop pass re-derives the edge list from its
    // upstream corpus scan (textrank's doc-scan → pair explode →
    // distinct ran ~8× for 4 iterations). Truncate both ONCE before
    // the loop — same discipline as Dedup.clusters / Similarity.kmeansTrain.
    val sym = graft.Lineage.truncateDeferred(
      edges.select(aCol.as("src"), bCol.as("dst"))
        .union(edges.select(bCol.as("src"), aCol.as("dst")))
        .distinct())
    val deg = graft.Lineage.truncateDeferred(
      sym.groupBy(col("src").as("node"))
        .agg(count(lit(1)).cast("double").as("deg")))
    // pre-join the out-degree INTO the edge list once: each iteration
    // then needs ONE rank⋈edges equi-join instead of rank⋈deg⋈edges —
    // one join (and its shuffle) saved per iteration at any scale
    val symDeg = graft.Lineage.truncateDeferred(
      sym.join(deg.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("src").as("node"), col("dst"), col("deg")))
    val n = deg.groupBy().agg(count(lit(1)).cast("double").as("__n"))
    var ranks = deg.crossJoin(broadcast(n))
      .select(col("node"), (lit(1.0) / col("__n")).as("rank"))
    for (_ <- 0 until iters) {
      val contribs = ranks
        .join(symDeg, Seq("node"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("__c"))
      // every node of a symmetric graph has an in-edge, so the
      // aggregate covers the full node set — no fill-in join needed
      ranks = contribs.groupBy("node").agg(sum("__c").as("__in"))
        .crossJoin(broadcast(n))
        .select(col("node"),
          ((lit(1.0 - damping) / col("__n")) + lit(damping) * col("__in"))
            .as("rank"))
    }
    ranks.join(deg, Seq("node"))
      .select(col("node"), round(col("rank"), 6).as("pagerank"),
        col("deg").cast("long").as("deg"))
  }

  /** TextRank keyword importance: PageRank over the corpus token
    * co-occurrence graph (tokens sharing a document are adjacent).
    * Pair generation is IN-ROW over each doc's sorted distinct token
    * array — the same Σsᵢ²-bounded explode discipline as shingling,
    * no self-join of the token relation — then one distinct to the
    * edge set.
    */
  def textrank(
      docs: DataFrame,
      textCol: Column,
      idCol: Column,
      iters: Int): DataFrame = {
    // materialize the array once — lambdas below reference the
    // ATTRIBUTE, not the split expression (the round-6 HOF
    // discipline: inlining would recompute the split per element)
    val edges = docs
      .select(array_sort(array_distinct(TextStats.words(lower(textCol))))
        .as("__arr"))
      .select(explode(flatten(transform(col("__arr"), (x, i) =>
        transform(slice(col("__arr"), i + 2, size(col("__arr"))),
          y => struct(x.as("ta"), y.as("tb")))))).as("e"))
      .select(col("e.ta").as("ta"), col("e.tb").as("tb"))
      .distinct()
    pagerank(edges, col("ta"), col("tb"), iters)
  }
}
