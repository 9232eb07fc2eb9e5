package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audit: pins the scale-critical plan shapes so a
  * refactor can't silently regress them. These are the properties
  * PLAN_NOTES argues make the operators safe at 100 TB — small sides
  * broadcast, pair generation bucket-keyed, and never a cartesian /
  * broadcast-nested-loop fallback anywhere in a registered query.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  // pair-producing and join-heavy queries: the ones where a planner
  // fallback to an all-pairs shape would be a scale-killer
  private val audited = Seq(
    "d_decontaminate", "d_minhash_pairs", "d_jaccard_pairs",
    "d_simhash_pairs", "e_lsh_knn", "e_lsh_knn_multi",
    "e_neardup", "g_render_headline", "p_query_range", "p_query_topk",
    "q_semijoin", "g_hotcold",
    // PromQL binary/set/matching evaluator: every vector-vector
    // combinator must stay an equi-join on (match key, slot) —
    // whatever the on/ignoring/group_left modifiers — never a
    // cartesian (`PromQL.binOpMatrix`/`setOpMatrix`)
    "p_query_binop", "p_query_paren", "p_query_setop", "p_query_or",
    "p_query_bool", "p_query_groupleft", "p_query_histq",
    "p_remote_read",
    // range-fn/math/label batch: all single-pass aggregates or
    // projections — a join appearing here would be a regression
    "p_query_without", "p_query_delta", "p_query_irate", "p_query_xrate",
    "p_query_deriv", "p_query_predict", "p_query_quantile_ot",
    "p_query_changes", "p_query_label_replace",
    "p_query_subquery", "p_query_count_values",
    "p_query_time", "p_query_vector", "p_query_hour", "p_query_holt",
    "p_query_at", "p_query_limitk",
    // round-8 additions: grouped ranking, scalar()-join, timestamp,
    // scalar-only grids, absent_over_time, mad, atan2, mixture report
    "p_query_topk_by", "p_query_scalar", "p_query_scalar_arith",
    "p_query_timestamp", "p_query_absent_ot", "p_query_mad",
    "p_query_atan2", "p_query_trig", "d_mixture", "d_mixture_apply",
    "ev_funnel", "ev_retention",
    // round-8 batch 2: ratio filter, calendar fns, chunking,
    // normalization (vocab / LM / recall / ivfpq carry a
    // legitimate 1-row-or-tiny broadcast nested loop and audit in the
    // relaxed broadcast-bounded group below)
    "p_query_limit_ratio", "p_query_datefns", "p_query_date_vec",
    "d_chunks", "d_normalize", "d_gopher",
    // duplicate-span stats: one explode + two-level hash agg + join-back
    "d_dup_spans",
    // hourly z-scores: two hash aggs + one type-key equi-join
    "ev_anomaly",
    // correlation matrix: hour-keyed equi-join, never a cartesian
    "ev_corr",
    // DAU/WAU: bounded 7x fan-out + distincts, day-keyed equi-join
    "ev_dau_wau",
    // BPE pair counts: two hash aggs + heap top-K, no join at all
    "d_bpe_pairs",
    // lang-ID confusion: in-row prediction + one hash agg, no join
    "d_lang_confusion",
    // PQ/ADC: codebooks + query LUTs broadcast, one (sub, code) join
    "e_pq_search",
    // cross-source overlap: pair labeling must stay equi-joins over
    // the Σsᵢ²-bounded candidate machinery
    "d_source_overlap",
    // round-14: the cluster-key media split (collapsed-fp pairs → CC
    // contraction → grouped split) — every stage bucket- or
    // result-keyed, no broadcast-crossing anywhere
    "d_split_media",
    // round-15: the LINEAR anchor-edge split key (bucket stars → CC,
    // no pair cross at all) and the plain-from-tagged route (plain
    // find + synth-path equi-joins + the query_range grid) — both
    // pure equi-join shapes
    "d_split_media_linear", "p_plain_from_tagged",
    // round-15: cell balance moved here from the broadcast-bounded
    // group — it now serves from AnnIndex.ivfCells (the argmax
    // KERNEL: centroids ride a guarded model-sized literal, so the
    // plan has no join at all, let alone a nested loop)
    "e_cell_balance",
    // the IVF assignment is that same kernel everywhere, so the
    // assignment and Lloyd-step queries and semantic dedup (whose
    // only nested loop was the assignment's centroid cross) have none
    "e_ivf_assign", "e_kmeans_step", "e_kmeans_kcenter", "e_kmeans_trained",
    "d_semdedup")

  for (name <- audited) {
    test(s"$name: no cartesian or nested-loop join in the physical plan") {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"CartesianProduct in $name")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"BroadcastNestedLoopJoin in $name")
    }
  }

  // brute-force KNN and IVF cell-probing deliberately cross a
  // BROADCAST-bounded side (query batch / centroid table) with the
  // corpus — a broadcast nested-loop is their correct shape; the
  // shape that must never appear is a distributed CartesianProduct
  // (both sides shuffled, no broadcast bound).
  // d_vocab / d_unigram_ppl / e_ivf_recall additionally cross a 1-row
  // broadcast scalar (corpus total) or ride bruteKnn's broadcast
  // query batch — a broadcast nested-loop over a 1-row/K-row side is
  // their correct shape, so they audit here rather than in the strict
  // no-BNLJ list above.
  for (name <- Seq("e_knn_brute", "e_ivf_search", "d_vocab",
      "d_unigram_ppl", "d_bigram_ppl", "e_ivf_recall",
      "e_ivfpq_search", "e_knn_classify", "d_curate_decon",
      // TF-IDF's corpus N rides a 1-row broadcast scalar; the df join
      // itself is a shuffled equi-join (asserted below)
      "d_tfidf",
      // TextRank's per-iteration (1-d)/n term rides the same 1-row
      // broadcast; rank⋈edges is a shuffled equi-join (asserted below)
      "d_textrank",
      // round-12: MaxSim crosses the corpus with a broadcast-bounded
      // query-vector batch (two-stage ColBERT prunes it in prod);
      // bitext margin rides bruteKnn's broadcast query batches
      "e_maxsim", "e_bitext_margin",
      // round-14: the nprobe curve rides 4 ivfSearch instances (each
      // a broadcast centroid/probe cross)
      "e_nprobe_curve")) {
    test(s"$name: all-pairs stage is broadcast-bounded, never a distributed cartesian") {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"CartesianProduct in $name")
      assert(p.contains("Broadcast"), s"no broadcast bound in $name")
    }
  }

  // The g_render_* entries assemble their rows on the driver, so the
  // plans audited above show only the wrapped result; the render's
  // Spark half is audited on one group plan here: no join at all, and
  // one exchange (by path) that both aggregates run behind.
  for (mode <- Seq(graft.engine.Render.VersionMode.DedupExact,
      graft.engine.Render.VersionMode.MergedCells))
    test(s"render group plan ($mode): one exchange by path, no join") {
      import graft.engine.{Finder, GraphiteTables, Render}
      val found = Finder.find(GraphiteTables.index(spark, sfDir), "events.*.*")
        .select("path").collect().map(_.getString(0)).toSeq
      val group = Render.FuncGroup(60L, graft.rollup.AggFunc.Avg, found)
      val p = Render.fetchGroup(GraphiteTables.points(spark, sfDir), group,
        graft.model.TimeFrame(1704067200L, 1704070799L), mode)
        .queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(p).length == 1, p)
      assert(p.contains("hashpartitioning(path"), p)
      assert(!p.contains("Join"), p)
    }

  test("d_decontaminate: eval shingles reach the corpus via broadcast") {
    assert(plan("d_decontaminate").contains("BroadcastHashJoin"))
  }

  test("e_knn_brute: the query side is broadcast, corpus side streams") {
    assert(plan("e_knn_brute").contains("Broadcast"))
  }

  test("p_query_range: matched series reach the sample scan via broadcast") {
    assert(plan("p_query_range").contains("BroadcastHashJoin"))
  }

  test("p_query_groupleft: many-to-one matching is a hash equi-join") {
    // group_left joins the fleet-sized "many" side to the per-group
    // "one" side on (key, slot) — a hash join, never a nested loop
    val p = plan("p_query_groupleft")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "no equi-join in p_query_groupleft")
  }

  test("p_remote_read: found paths reach the points scan via broadcast semi-join") {
    val p = plan("p_remote_read")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "remote read must broadcast the found-path set")
  }

  test("d_dup_spans: no window over the content-hash key") {
    // a Window.partitionBy(h) gets no partial aggregation and no AQE
    // skew relief — a hot boilerplate shingle would serialize into one
    // task at corpus scale. Frequency must come from hash aggregates
    // (map-side partials) + join-back, never a window.
    val p = plan("d_dup_spans")
    assert(!p.contains("Window"), "Window over content-hash key in d_dup_spans")
    assert(p.contains("HashAggregate"), "expected hash aggregates in d_dup_spans")
  }

  test("p_query_binop: same-grouping agg ratio fuses into ONE sample scan") {
    // `sum by (u)(m{f}) / sum by (u)(m)` must evaluate both sides as
    // conditional aggregates over one union-path scan — the generic
    // two-pipeline + (k, t) join shape scans the points table twice
    val p = plan("p_query_binop")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 3, s"expected ≤3 parquet scans (2 finds + 1 points), got $scans")
  }

  test("batch-24+ map-only operators: winnow/toxicity/quality_clf never shuffle") {
    for (name <- Seq("d_winnow", "d_toxicity", "d_quality_clf")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"shuffle in map-only $name:\n$p")
    }
  }

  test("d_manifest: one aggregate, no join — the release checksum is a single pass") {
    val p = plan("d_manifest")
    assert(!p.contains("Join"), s"unexpected join in d_manifest:\n$p")
    assert(p.contains("HashAggregate"), "expected hash aggregate in d_manifest")
  }

  test("e_cohesion: the centroid table joins back as a broadcast equi-join") {
    val p = plan("e_cohesion")
    assert(p.contains("BroadcastHashJoin"),
      "e_cohesion must broadcast the |labels|-sized centroid table")
    assert(!p.contains("CartesianProduct"))
  }

  test("d_boilerplate: no window over the line-content key") {
    // same rule as d_dup_spans: a footer line on 10⁹ pages must fold
    // through hash aggregates (two-phase distinct-doc count), never a
    // window keyed on the line text.
    val p = plan("d_boilerplate")
    assert(!p.contains("Window"), "Window over line key in d_boilerplate")
    assert(p.contains("HashAggregate"), "expected hash aggregates in d_boilerplate")
  }

  test("d_dsir: scoring is map-only — the corpus never shuffles or joins for it") {
    // pass 1 (distribution estimate) collects a buckets-sized λ table
    // to the driver; the returned scoring plan must then be a pure
    // scan-side fold against the literal λ array — no Exchange, no
    // join, no window at any corpus scale
    val p = plan("d_dsir")
    assert(!p.contains("Exchange"), s"shuffle in d_dsir scoring pass:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      "unexpected join/window in d_dsir scoring pass")
  }

  test("d_ppl_buckets: cuts fold into a map-only pass; no lang-partitioned window over docs") {
    // the |langs|-sized cuts are collected driver-side and folded
    // into a CASE chain over the ONCE-materialized NLL relation —
    // the bucket projection is a pure map (no join, no window, no
    // shuffle); the naive shape would window PARTITION BY lang over
    // the corpus-sized relation
    val p = plan("d_ppl_buckets")
    assert(!p.contains("Window"), s"lang window in d_ppl_buckets:\n$p")
    assert(!p.contains("Exchange"), s"shuffle in d_ppl_buckets bucket pass:\n$p")
  }

  test("d_chunks: chunking is map-only — no shuffle at any corpus scale") {
    val p = plan("d_chunks")
    assert(!p.contains("Exchange"), s"shuffle in d_chunks:\n$p")
  }

  test("d_gopher: rule evaluation is map-only") {
    val p = plan("d_gopher")
    assert(!p.contains("Exchange"), s"shuffle in d_gopher:\n$p")
  }

  test("d_normalize: normalization fuses into the scan, map-only") {
    val p = plan("d_normalize")
    assert(!p.contains("Exchange"), s"shuffle in d_normalize:\n$p")
    assert(p.contains("normalize_text"), "native expression not in plan")
  }

  test("d_vocab: top-K is a heap merge, never a global sort of the vocab") {
    // the vocabulary can be billions of types at corpus scale — the
    // top-K must be TakeOrdered (per-partition heaps + driver merge
    // of K rows), not a range-partitioned global Sort
    val p = plan("d_vocab")
    assert(p.contains("TakeOrderedAndProject"), s"no heap top-K in d_vocab:\n$p")
  }

  test("d_unigram_ppl: vocab joins by hash equi-join, no broadcast assumption") {
    // the vocab table is corpus-sized (billions of types at 100 TB);
    // the token join must be a shuffled equi-join AQE can skew-split,
    // and the only broadcast is the 1-row corpus total
    val p = plan("d_unigram_ppl")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join in d_unigram_ppl:\n$p")
    assert(!p.contains("CartesianProduct"), "cartesian in d_unigram_ppl")
  }

  test("ev_rfm: exact ntile is the two-phase rank, never a global-ORDER window over the relation") {
    // ntileExact's contract: range-partition the relation, row_number
    // WITHIN each range (window partitioned on the range id), and
    // broadcast the per-range offsets back. The partitionless windows
    // in the plan run only over the `buckets`-row offsets relation;
    // the relation-sized windows must all be keyed on __pid.
    // (the range-partition exchange itself sits behind ntileExact's
    // lineage cut, so it is not visible in this query's plan string)
    val p = plan("ev_rfm")
    assert(!p.contains("CartesianProduct"), "cartesian in ev_rfm")
    assert(p.contains("windowspecdefinition(__pid"),
      s"per-range row_number not partitioned on __pid in ev_rfm:\n$p")
    // the naive shape would window the relation ordered directly on a
    // metric with no partition key — spec would print the metric first
    assert(!"windowspecdefinition\\((recency|frequency|monetary)".r
      .findFirstIn(p).isDefined,
      s"partitionless metric-ordered window in ev_rfm:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "offsets must join back via broadcast in ev_rfm")
  }

  test("d_tfidf: top-k window partitions on the doc id, never the term key") {
    // a term-partitioned window would serialize a hot stop-word's
    // postings into one task; the doc-partitioned window is bounded
    // by document length
    val p = plan("d_tfidf")
    assert(p.contains("windowspecdefinition(doc_id"),
      s"top-k window not partitioned on doc_id in d_tfidf:\n$p")
    assert(!p.contains("windowspecdefinition(token"),
      s"term-partitioned window in d_tfidf:\n$p")
    // df must reach the grain via a shuffled equi-join (AQE can
    // skew-split it), never by assuming the vocab broadcasts
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join for df in d_tfidf:\n$p")
  }

  test("d_inverted: no window over the term key — postings via salted two-stage aggregate") {
    val p = plan("d_inverted")
    assert(!p.contains("Window"), s"window in d_inverted:\n$p")
    assert(!p.contains("CartesianProduct"), "cartesian in d_inverted")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "expected collect_list aggregates in d_inverted")
  }

  test("d_textrank: iteration is equi-join + hash aggregate, never a window") {
    // each PageRank step must be rank⋈edges on the source key plus a
    // destination hash aggregate — a window over a graph key would
    // serialize a hub's edges into one task
    val p = plan("d_textrank")
    assert(!p.contains("Window"), s"window in d_textrank:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join in d_textrank:\n$p")
  }

  test("d_quantiles: exact rank via the two-phase shape, wanted ranks broadcast back") {
    val p = plan("d_quantiles")
    assert(!p.contains("CartesianProduct"), "cartesian in d_quantiles")
    assert(p.contains("windowspecdefinition(__pid"),
      s"per-range row_number not partitioned on __pid in d_quantiles:\n$p")
    assert(!"windowspecdefinition\\(v#".r.findFirstIn(p).isDefined,
      s"partitionless value-ordered window in d_quantiles:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "wanted ranks must reach the ranked relation via broadcast")
  }

  test("d_quantiles_by_lang: hot group never serializes — rank windows keyed on (range, group)") {
    // the naive per-group shape is a window PARTITION BY lang ORDER BY
    // value over the corpus relation — the hot language lands in one
    // task. The grouped two-phase rank keys every corpus-sized window
    // on (__pid, lang); lang-only windows run over the tiny per-range
    // counts relation, whose spec orders by __pid, never the value.
    val p = plan("d_quantiles_by_lang")
    assert(!p.contains("CartesianProduct"), "cartesian in d_quantiles_by_lang")
    assert(p.contains("windowspecdefinition(__pid"),
      s"per-range row_number not keyed on __pid in d_quantiles_by_lang:\n$p")
    assert(!"windowspecdefinition\\(lang#\\d+, v#".r.findFirstIn(p).isDefined,
      s"value-ordered lang window over the corpus in d_quantiles_by_lang:\n$p")
  }

  test("p_query_histq: bucket regroup is one hash aggregate, no join after the matrix") {
    // histogram_quantile's interpolation lives inside the aggregate
    // row (collect_list of scrape-config-sized buckets) — adding a
    // join or window here would shuffle the matrix twice
    val p = plan("p_query_histq")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "no collect_list aggregate in p_query_histq")
  }
}
