package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ingest-owned ANN index state.
  *
  * The IVF coarse-quantizer assignment — every stored vector keyed by
  * its nearest of the [[Similarity.ivfPlan]]-sized centroid set — is
  * INDEX state, not query work: building it costs one corpus pass ×
  * nlist broadcast-centroid cosines (FAISS's `add()` cost, O(n·√n·d)
  * under the sqrt cell rule), and a serving deployment maintains it
  * incrementally at ingest exactly like the graphite index/tags
  * tables ([[graft.engine.GraphiteTables]] states the same contract
  * for its derived tables). Queries read the assignment relation;
  * only probe + shortlist work scales with the request. The ×100
  * scale probe made the cost split concrete: paying assignment
  * per-query read 132 s at ×100 (n^1.5 — worse than the exhaustive
  * scan it was built to beat), while the served path against the
  * built index reads the corpus once per batch.
  *
  * Memoized per (application, dir, kind) in `GraphiteTables.memo`,
  * the derived tables' memo: a LogicalRDD, so repeated references
  * canonicalize equal and reuse exchanges, derived once per
  * application, with the same durability contract (multi-executor
  * deployments set `graft.checkpoint.dir` to make the cut reliable).
  * The kinds here (`ivf-cells-…`, `maxsim-cells-…`) never collide
  * with its `index` and `tags`. The raw builders
  * ([[Similarity.ivfAssign]], [[Similarity.maxSimCellGroups]])
  * give the same rows without the memo.
  */
object AnnIndex {
  import graft.engine.GraphiteTables.memo

  /** Canonical-plan fingerprint of an input relation, folded into the
    * memo key so two DIFFERENT derivations (a different centroid set,
    * a different doc-group column formula) can never silently share a
    * cached assignment. `semanticHash` is a pure plan-side hash over
    * the canonicalized logical plan — zero jobs, zero data reads — so
    * the hit path stays free; two separate `spark.read.parquet(dir)`
    * calls canonicalize equal (FileIndex equality is rootPath-based),
    * so re-built identical derivations still HIT (`AnnIndexSpec` pins
    * both directions). Derivations whose plan embeds fresh
    * non-deterministic state (e.g. re-running `kmeansTrain` per call
    * materializes a new LogicalRDD each time) hash fresh and MISS —
    * the correct failure direction: a redundant rebuild for a caller
    * already paying per-call training, never a wrong-index read.
    */
  private def planTag(df: DataFrame): String =
    java.lang.Integer.toHexString(df.queryExecution.analyzed.semanticHash())

  /** The vector-granular IVF assignment (idCol, centroid_id, sim) —
    * [[Similarity.ivfAssign]] as memoized index state, fed to
    * [[Similarity.ivfSearch]]'s `assignment` by serve-path queries.
    *
    * KEY CONTRACT: the memo key is (dir, nlist, quantizerTag, columns,
    * [[planTag]] of both relations). The plan fingerprints are the
    * machine check — distinct vector or centroid derivations get
    * distinct entries with no caller discipline; `quantizerTag`
    * remains as the human-readable label (and the disambiguator if a
    * 32-bit plan-hash collision ever pairs two distinct derivations).
    */
  def ivfCells(
      spark: SparkSession,
      dir: String,
      vectors: DataFrame,
      centroids: DataFrame,
      nlist: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      quantizerTag: String = "first-ids"): DataFrame =
    memo(spark, dir, s"ivf-cells-$nlist-$quantizerTag-$idCol-$embCol" +
        s"-v${planTag(vectors)}-c${planTag(centroids)}") {
      Similarity.ivfAssign(vectors, centroids, idCol, embCol)
    }

  /** The distinct (d_group, centroid_id) inverted membership a
    * late-interaction (MaxSim) shortlist probes — IVF index state at
    * document-group granularity, fed to
    * [[Similarity.maxSimShortlist]]'s `cellGroups`. Same key contract
    * as [[ivfCells]]; the docVecs [[planTag]] covers the GROUP
    * derivation too (a `floor(vec_id/4)` grouping and a `vec_id % 7`
    * grouping over the same dir are different plans, so they can never
    * share a cached membership even under one `groupCol` name).
    */
  def maxSimCellGroups(
      spark: SparkSession,
      dir: String,
      docVecs: DataFrame,
      centroids: DataFrame,
      nlist: Int,
      groupCol: String = "group_id",
      idCol: String = "vec_id",
      embCol: String = "embedding",
      quantizerTag: String = "first-ids"): DataFrame =
    memo(spark, dir, s"maxsim-cells-$nlist-$quantizerTag-$groupCol-$idCol-$embCol" +
        s"-d${planTag(docVecs)}-c${planTag(centroids)}") {
      Similarity.maxSimCellGroups(docVecs, centroids, groupCol, idCol, embCol)
    }
}
