package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Autocomplete, Finder, GraphiteTables, Render, SeriesAssembly, TagStats}
import graft.llm.{Decontaminate, Dedup, Multimodal, Sampling, Similarity, TextStats}
import graft.model.TimeFrame
import graft.rollup.{AggFunc, Pattern, Retention, RuleType, Rules}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 (and the LLM-pipeline
  * track) is registered here as a `queries` entry with a DuckDB
  * oracle. Conventions keeping the oracle compare stable:
  * numeric outputs are BIGINT/DOUBLE on both sides, float aggregates
  * are `round(x, 4)` on both sides, orderings that feed `limit`
  * are tie-broken by a unique key, and rounded columns that can go
  * negative get `round(...) + 0` in the DuckDB SQL: DuckDB's round
  * keeps IEEE `-0.0` while Spark's goes through BigDecimal (which has
  * no signed zero) and yields `+0.0` — the `+ 0` collapses both to
  * `+0.0` so the value hash can't split on a signed zero.
  */
object SparkEntry {

  // Shared query window over the events table (2024-01-01, 1 hour /
  // 10 minutes). The testdata spans 2024-01-01..2024-01-31 at every sf.
  private val WFrom = 1704067200L
  private val WUntil = 1704070799L // 1 h - 1 s
  private val NFrom = 1704067200L
  private val NUntil = 1704067799L // 10 min - 1 s
  // full-month window for the headline render (baseline benchmark shape)
  private val MFrom = 1704067200L
  private val MUntil = 1706745599L // 31 days - 1 s

  /** The points-table projection of `events` as DuckDB SQL (mirrors
    * `GraphiteTables.points`).
    */
  private val PtsSql =
    "SELECT 'events.' || event_type || '.user' || user_id AS path, " +
      "epoch_us(ts)//1000000 AS t, value, event_id AS version FROM events"

  /** Dedup-at-read (max version wins per (path, time)) as DuckDB SQL. */
  private def ddSql(from: Long, until: Long): String =
    s"SELECT path, t, arg_max(value, version) AS value FROM ($PtsSql) pts " +
      s"WHERE t BETWEEN $from AND $until GROUP BY path, t"

  /** Regular-grid SQL: one row per (path, bucket) over `[start, stop)`.
    * `pathFilter` is a bare-`path` WHERE clause (or empty).
    */
  private def gridSql(pathFilter: String, start: Long, stopExcl: Long, step: Long): String =
    s"SELECT path, unnest(generate_series($start, ${stopExcl - step}, $step)) AS time " +
      s"FROM (SELECT DISTINCT path FROM ($PtsSql) p) paths $pathFilter"

  /** One rollup group (dedup → bucket agg → gap-fill grid) as SQL. */
  private def renderGroupSql(
      aggExpr: String, step: Long, from: Long, until: Long, pathFilter: String): String = {
    val (alignedFrom, alignedUntil) = graft.time.StepMath.alignFromUntil(from, until, step)
    val (start, stop) = graft.time.StepMath.gridBounds(from, until, step)
    s"SELECT g.path, g.time, round(a.value, 4) AS value FROM (" +
      gridSql(pathFilter, start, stop, step) + ") g LEFT JOIN (" +
      s"SELECT path, t - t % $step AS time, $aggExpr AS value FROM (" +
      ddSql(alignedFrom, alignedUntil) + s") dd $pathFilter GROUP BY path, time) a " +
      "ON g.path = a.path AND g.time = a.time"
  }

  /** Word-shingle SQL fragments mirroring `Dedup.shingles` (w-word
    * shingles, distinct).
    */
  private def shinglesSql(w: Int): String =
    s"list_distinct(list_transform(generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - ${w - 1}, 0)), " +
      s"i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+${w - 1}], ' ')))"

  /** Default rule set used by the render queries: purchase → sum@120,
    * error → max@60, everything else avg@60.
    */
  private def testRules: Rules = Rules(
    List(
      Pattern(RuleType.All, "\\.purchase\\.", Some(AggFunc.Sum), List(Retention(0, 120))),
      Pattern(RuleType.All, "\\.error\\.", Some(AggFunc.Max), Nil)),
    defaultPrecision = 60L,
    defaultFunction = Some(AggFunc.Avg))

  private def uniformRules: Rules =
    Rules(Nil, defaultPrecision = 60L, defaultFunction = Some(AggFunc.Avg))

  /** Found paths of a plain glob, collected like the render's find. */
  private def foundPaths(s: SparkSession, dir: String, glob: String): Seq[String] =
    Finder.find(GraphiteTables.index(s, dir), glob)
      .select("path").collect().map(_.getString(0)).toSeq

  /** Assembled grids as the long form the oracle compares: (target,
    * display_name, path, time, value) rows, absent buckets null,
    * values rounded to 4 places. The driver ships one array row per
    * grid and Spark explodes it, so the relation built on the driver
    * is found-list sized, not grid-cell sized.
    */
  private def longForm(s: SparkSession, grids: Seq[SeriesAssembly.Aliased]): DataFrame = {
    import s.implicits._
    grids.map(a => (a.target, a.display, a.grid.path, a.grid.start, a.grid.step, a.grid.values.toSeq))
      .toDF("target", "display_name", "path", "start", "step", "values")
      .select(col("target"), col("display_name"), col("path"), col("start"), col("step"),
        posexplode(col("values")))
      .select(col("target"), col("display_name"), col("path"),
        (col("start") + col("pos") * col("step")).as("time"), round(col("col"), 4).as("value"))
  }

  /** Render every `events.*.*` series: the Spark render, then the
    * driver-side gap-fill and empty-series rule, in long form.
    */
  private def renderEvents(
      s: SparkSession,
      dir: String,
      tf: TimeFrame,
      rules: Rules,
      consolidateBy: Option[String] = None,
      appendEmpty: Boolean = true,
      commonStep: Boolean = false): DataFrame = {
    val rolled = Render.render(GraphiteTables.points(s, dir), foundPaths(s, dir, "events.*.*"),
      tf, rules, now = tf.until, consolidateBy, commonStep)
    longForm(s, SeriesAssembly.fill(rolled, tf, appendEmpty).map(SeriesAssembly.Aliased("", "", _)))
      .select("path", "time", "value")
  }

  /** Multi-target render: each series once per (target, display
    * name), in long form.
    */
  private def renderTargets(
      s: SparkSession,
      dir: String,
      tf: TimeFrame,
      globs: Seq[String]): DataFrame = {
    val targets = globs.map(t => t -> foundPaths(s, dir, t).map(p => (p, p)))
    longForm(s, SeriesAssembly.assemble(GraphiteTables.points(s, dir), targets, tf, uniformRules,
      now = tf.until, appendEmpty = true))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * find `events.*.*` over the derived index, then the full render
    * pipeline (path filter → dedup → rollup → gap-fill).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    renderEvents(spark, dir, TimeFrame(WFrom, WUntil), uniformRules, appendEmpty = false)
  }

  /** Build `body` with [[graft.Tuning.spreadTinyInput]] disabled for
    * the construction scope. The iterative cluster-key queries
    * (split-media, anchor dedup) REGRESS ~1.2–1.5× under the spread
    * (round-16 SpreadProbe, 3 interleaved sessions): their CC /
    * anchor loops run many short stages over the spread relation, so
    * per-stage barrier cost multiplies while the decode win is paid
    * once — these entries keep the compact input their loops want.
    */
  private def noSpread[T](s: SparkSession)(body: => T): T =
    // thread-local scope (Tuning.withSpreadDisabled): the previous
    // set/restore on the shared session conf raced with any
    // concurrent construction on the same session (round-16 ADVICE) —
    // and made SpreadProbe's base/spread arms a no-op comparison for
    // the noSpread-wrapped entries (both arms forced off)
    Tuning.withSpreadDisabled(body)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----------------------------------------------------------------
    // Graphite: tables, finder, index (S1/S11, P2-P6, F1, F9, A10)
    // ----------------------------------------------------------------
    "g_points" -> ((s, dir) =>
      GraphiteTables.points(s, dir)
        .select(col("path"), col("time"), col("value"), col("version"),
          col("path_reversed"))),

    "g_index" -> ((s, dir) =>
      GraphiteTables.index(s, dir)
        .select(date_format(col("date"), "yyyy-MM-dd").as("date"),
          col("level").cast("long").as("level"), col("path"))),

    "g_index_dump" -> ((s, dir) =>
      GraphiteTables.index(s, dir)
        .where(col("level").between(20000, 29999))
        .select(col("path")).distinct()),

    "g_find_glob" -> ((s, dir) =>
      Finder.find(GraphiteTables.index(s, dir), "events.*.user1*")),

    // Native codegen'd GlobMatch expression (no regex engine) on the
    // same find shape as g_find_glob.
    "g_find_native" -> ((s, dir) =>
      GraphiteTables.index(s, dir)
        .where(col("level") === 20003 &&
          col("date") === lit(graft.model.Schemas.DefaultTreeDate).cast("date") &&
          graft.compiler.GlobCompiler.globNative(col("path"), "events.*.user1*",
            optionalDotAtEnd = true))
        .select("path").distinct()),

    "g_find_nonleaf" -> ((s, dir) =>
      Finder.find(GraphiteTables.index(s, dir), "events.*")),

    "g_find_reversed" -> ((s, dir) =>
      Finder.find(GraphiteTables.index(s, dir), "*.*.user3")),

    // Daily-index find (P6): only metrics ACTIVE in the window match;
    // the date filter partition-prunes the daily index levels.
    "g_find_daily" -> ((s, dir) =>
      Finder.find(GraphiteTables.index(s, dir), "events.*.*",
        from = WFrom, until = WFrom + 86399)),

    "g_find_brace" -> ((s, dir) =>
      Finder.find(GraphiteTables.index(s, dir), "events.{click,error}.*")),

    // U2 split rewrite: brace disjuncts OR'd into one scan; result must
    // equal the unsplit find.
    "g_find_split" -> ((s, dir) =>
      Finder.findSplit(GraphiteTables.index(s, dir), "events.{click,error}.*",
        maxNodeToSplitIndex = 2)),

    // A5 unaggregated fetch: groupArray-per-path equivalent.
    "g_unagg_fetch" -> ((s, dir) => {
      val pts = GraphiteTables.points(s, dir)
        .where(col("time").between(NFrom, NUntil))
      pts.groupBy("path")
        .agg(
          array_join(
            transform(
              sort_array(collect_list(struct(col("time"), col("version")))),
              e => e.getField("time").cast("string")),
            ",").as("times"),
          count(lit(1)).as("n"),
          round(sum("value"), 4).as("sum_value"))
    }),

    // ----------------------------------------------------------------
    // Render pipeline (J1-J3, A1-A9, W1-W4, U1, O1)
    // ----------------------------------------------------------------
    "g_render_avg" -> ((s, dir) =>
      renderEvents(s, dir, TimeFrame(WFrom, WUntil), uniformRules)),

    // Headline query mirroring the baseline's published benchmark
    // shape (doc/aggregation.md: N metrics, long range, maxDataPoints
    // =100): every series, full month, mdp-inflated step.
    "g_render_headline" -> ((s, dir) =>
      renderEvents(s, dir, TimeFrame(MFrom, MUntil, maxDataPoints = 100), uniformRules)),

    "g_render_rules" -> ((s, dir) =>
      renderEvents(s, dir, TimeFrame(WFrom, WUntil), testRules)),

    "g_render_consolidate" -> ((s, dir) =>
      renderEvents(s, dir, TimeFrame(WFrom, WUntil), testRules, consolidateBy = Some("max"))),

    "g_render_commonstep" -> ((s, dir) =>
      renderEvents(s, dir, TimeFrame(WFrom, WUntil), testRules, commonStep = true)),

    "g_render_nonempty" -> ((s, dir) =>
      renderEvents(s, dir, TimeFrame(NFrom, NUntil), uniformRules, appendEmpty = false)),

    // Retention compaction (GraphiteMergeTree merge analog): per-row
    // age picks the retention band; ≥2-week-old purchase points land
    // on the 600 s grid, younger on 120 s, everything else 60 s.
    "g_compaction" -> ((s, dir) => {
      val rules = Rules(
        List(
          Pattern(RuleType.All, "\\.purchase\\.", Some(AggFunc.Sum),
            List(Retention(0, 120), Retention(1209600, 600))),
          Pattern(RuleType.All, "\\.error\\.", Some(AggFunc.Max), Nil)),
        defaultPrecision = 60L,
        defaultFunction = Some(AggFunc.Avg))
      graft.streaming.Compaction.compact(GraphiteTables.points(s, dir), rules, now = MUntil)
        .select(col("path"), col("time"), round(col("value"), 4).as("value"))
    }),

    "g_dedup_uniq" -> ((s, dir) =>
      Render.dedup(GraphiteTables.points(s, dir))
        .select(col("path"), col("time"), col("value"))),

    // Hot ∪ cold union (S5/J3): overlapping halves of the points table
    // union + read-side dedup ≡ dedup of the whole table.
    "g_hotcold" -> ((s, dir) => {
      val pts = GraphiteTables.points(s, dir)
      val mid = 1705276800L // 2024-01-15
      val cold = pts.where(col("time") < mid)
      val hot = pts.where(col("time") >= mid - 86400) // 1-day overlap
      Render.dedup(Render.hotColdUnion(cold, hot))
        .select(col("path"), col("time"), col("value"))
    }),

    // Multi-target render with alias fan-out (U1/J2): overlapping
    // targets display the same series under each matching target.
    "g_render_multi" -> ((s, dir) =>
      renderTargets(s, dir, TimeFrame(NFrom, NUntil), Seq("events.click.*", "events.*.user1*"))),

    // Multi-timeframe MultiTarget request: two windows, each with its
    // own targets, unioned with the request-window echo columns.
    "g_render_timeframes" -> ((s, dir) =>
      Seq(TimeFrame(NFrom, NUntil) -> "events.click.*", TimeFrame(WFrom, WUntil) -> "events.error.*")
        .map { case (tf, glob) =>
          renderTargets(s, dir, tf, Seq(glob))
            .withColumn("req_from", lit(tf.from))
            .withColumn("req_until", lit(tf.until))
        }
        .reduceLeft(_.unionByName(_))
        .select("req_from", "req_until", "target", "path", "time", "value")),

    // Tag cardinality stats (A11/J5): distinct-series counts for the
    // exact terms of a query, from the derived tag1 count table.
    "g_tag1_counts" -> ((s, dir) => {
      val terms = graft.compiler.Tagged
        .parseConditions(List("type=click", "user=3")).toOption.get
      TagStats.countsForTerms(TagStats.tag1CountPerDay(GraphiteTables.tags(s, dir)), terms)
    }),

    "g_any_anylast" -> ((s, dir) => {
      val pts = GraphiteTables.points(s, dir)
        .where(col("time").between(WFrom, WUntil))
      // unique (time, version) sort key; versions < 1e7, times < 2^31
      val key = col("time") * 10000000L + col("version")
      pts.groupBy(col("path"), (col("time") - pmod(col("time"), lit(600))).as("time"))
        .agg(
          min_by(col("value"), key).as("first_value"),
          max_by(col("value"), key).as("last_value"))
    }),

    // Series assembly for the wire sinks (S6-S9): long-form render
    // grid → per-series value arrays, summarized scalar-wise so the
    // oracle can check array order/content.
    "s_series_assembly" -> ((s, dir) => {
      import s.implicits._
      val tf = TimeFrame(NFrom, NUntil)
      val rolled = Render.render(GraphiteTables.points(s, dir), foundPaths(s, dir, "events.*.*"),
        tf, uniformRules, now = NUntil)
      SeriesAssembly.fill(rolled, tf, appendEmpty = true)
        .map(g => (g.path, g.start, g.stop, g.step, g.values.length.toLong,
          g.values.count(_.isDefined).toLong, g.values.flatten.sum))
        .toDF("path", "start", "stop", "step", "n_buckets", "n_present", "sum_value")
        .withColumn("sum_value", round(col("sum_value"), 4))
    }),

    // ----------------------------------------------------------------
    // Tagged: tags table, seriesByTag, autocomplete (P7-P10, A10-A12, O2-O3, F3)
    // ----------------------------------------------------------------
    "g_tags" -> ((s, dir) =>
      GraphiteTables.tags(s, dir).select(col("tag1"), col("path")).distinct()),

    "g_seriesbytag" -> ((s, dir) =>
      Finder.findTagged(GraphiteTables.tags(s, dir),
        "seriesByTag('name=events', 'type=click', 'user=~1.*')")
        .select(col("path"),
          regexp_replace(regexp_replace(col("path"), "\\?", ";"), "&", ";").as("display"))),

    // Rollup rules parsed from the reference's XML dialect drive the
    // same render (same oracle as g_render_rules).
    "g_render_xmlrules" -> ((s, dir) => {
      val xml =
        """<graphite_rollup>
          |  <pattern><regexp>\.purchase\.</regexp><function>sum</function>
          |    <retention><age>0</age><precision>120</precision></retention></pattern>
          |  <pattern><regexp>\.error\.</regexp><function>max</function></pattern>
          |  <default><function>avg</function>
          |    <retention><age>0</age><precision>60</precision></retention></default>
          |</graphite_rollup>""".stripMargin
      renderEvents(s, dir, TimeFrame(WFrom, WUntil), graft.rollup.Rules.fromXml(xml))
    }),

    // PromQL matcher → tagged-term find (Prometheus façade seam).
    "p_matchers" -> ((s, dir) =>
      graft.prom.Prom.findByMatchers(GraphiteTables.tags(s, dir),
        Seq(("__name__", "=", "events"), ("type", "=", "click")))),

    // Date-bounded tag-value autocomplete (tagged-autocomplete-days).
    "g_autocomplete_dated" -> ((s, dir) =>
      Autocomplete.tagValuesDated(GraphiteTables.tags(s, dir), "type",
        from = WFrom, until = WFrom + 86399, exprs = List("user=3"))),

    // Cost-ordered tagged find: same results as g_seriesbytag; the
    // count-table stats pick the tag1 primary term.
    "g_seriesbytag_costed" -> ((s, dir) => {
      val tags = GraphiteTables.tags(s, dir)
      Finder.findTaggedCosted(tags, TagStats.tag1CountPerDay(tags),
        "seriesByTag('name=events', 'type=click', 'user=~1.*')")
    }),

    "g_autocomplete_tags" -> ((s, dir) =>
      Autocomplete.tagNames(GraphiteTables.tags(s, dir))),

    "g_autocomplete_values" -> ((s, dir) =>
      Autocomplete.tagValues(GraphiteTables.tags(s, dir), "type",
        exprs = List("user=3"))),

    // ----------------------------------------------------------------
    // Tagger batch job (S10) + streaming ingest kernels (§2.9)
    // ----------------------------------------------------------------
    "g_tagger" -> ((s, dir) => {
      val tree = GraphiteTables.index(s, dir)
        .where(col("level").between(20001, 29999) &&
          col("date") === lit(graft.model.Schemas.DefaultTreeDate).cast("date"))
        .select("path", "date", "version")
      val rules = graft.tagger.Tagger.parseRules(
        """
        |[[rule]]
        |has-prefix = "events.click"
        |tag = "clicky"
        |[[rule]]
        |has-suffix = "5"
        |tag = "five"
        |[[rule]]
        |contains = "error"
        |tag = "err"
        |[[rule]]
        |equal = "events."
        |tag = "root"
        |[[rule]]
        |regexp = "user1[0-9]$"
        |tag = "u1x"
        """.stripMargin)
      graft.tagger.Tagger.tag(tree, rules)
        .select(col("path"), col("tag1"), col("is_leaf"))
    }),

    "st_parse_lines" -> ((s, dir) => {
      val lines = GraphiteTables.points(s, dir)
        .select(concat_ws(" ", col("path"), col("value"), col("time")).as("value"))
      graft.streaming.Ingest.parseLines(lines)
        .select(col("path"), col("time"), col("value"))
    }),

    "st_parse_tagged" -> ((s, dir) => {
      val lines = GraphiteTables.events(s, dir)
        .select(concat(
          lit("events;user="), col("user_id"), lit(";type="), col("event_type"),
          lit(" "), col("value"), lit(" "),
          (col("ts") / 1000000000L).cast("long")).as("value"))
      graft.streaming.Ingest.parseLines(graft.Tuning.spreadTinyInput(lines))
        .select(col("path"), col("time"), col("value"), col("is_tagged"))
    }),

    // ----------------------------------------------------------------
    // Events stream ops (sessionization, tumbling windows)
    // ----------------------------------------------------------------
    "ev_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = GraphiteTables.events(s, dir)
        .select(col("user_id"), (col("ts") / 1000000000L).cast("long").as("t"),
          col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      ev.withColumn("new_session",
          when(col("t") - lag(col("t"), 1).over(w) > 1800 ||
            lag(col("t"), 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("session_id", sum("new_session").over(
          Window.partitionBy("user_id").orderBy("t", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), min("t").as("session_start"),
          max("t").as("session_end"))
    }),

    // Windowed top-k: busiest event type per hour (rank + tie-break).
    "ev_topk_hourly" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = GraphiteTables.events(s, dir)
        .select(col("event_type"), (col("ts") / 1000000000L).cast("long").as("t"))
        .groupBy((col("t") - pmod(col("t"), lit(3600))).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("hour").orderBy(col("n").desc, col("event_type").asc)
      hourly.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 2)
        .select(col("hour"), col("rank").cast("long").as("rank"),
          col("event_type"), col("n"))
    }),

    // Bounded-memory heavy hitters (weighted Misra–Gries, mergeable
    // summaries): O(capacity) per partition, NO shuffle of raw keys —
    // the key-cardinality-proof twin of the exact salted top-k. At
    // this capacity the summary never decrements, so the result is
    // exact and sits under the full hash oracle; bound tightness
    // under real pressure is pinned by HeavyHittersSpec.
    "ev_heavy_hitters" -> ((s, dir) =>
      graft.events.HeavyHitters.heavyHitters(
        GraphiteTables.events(s, dir),
        key = col("user_id"), weight = lit(1L), k = 20, capacity = 8192)),

    // sketch-guided EXACT top-k: MG candidates (no raw-key shuffle)
    // + exact recount restricted to candidates + a certification that
    // no unseen key can crack the ranking — the key-cardinality-proof
    // way to get exact top-k at corpus scale.
    // capacity 65536 ≫ user cardinality at every shipped SF (150 at
    // sf0.01, 1500 at sf0.1), so no summary ever decrements and the
    // oracle's `certified = true` literal holds at any test scale;
    // the decrementing/uncertified regimes are pinned in the spec.
    "ev_topk_exact" -> ((s, dir) =>
      graft.events.HeavyHitters.exactTopK(
        GraphiteTables.events(s, dir),
        key = col("user_id"), weight = lit(1L), k = 10, capacity = 65536)),

    // Count-Min sketch grid over user_id occurrences: the group-key
    // cardinality is depth·width NO MATTER the key cardinality, so
    // partial aggregation reduces map-side and the shuffle carries
    // ≤ d·w rows per partition at any corpus size. Deterministic md5
    // hashing → the grid itself sits under the full hash oracle.
    "ev_cms_sketch" -> ((s, dir) =>
      graft.events.Sketches.cmsSketch(
          GraphiteTables.events(s, dir), col("user_id"),
          depth = 4, width = 32)
        .select(col("row").as("row_idx"), col("bucket"), col("n"))),

    // CM point-query evaluation: per distinct key, the sketch
    // estimate (min over rows, via a broadcast of the ≤ d·w grid)
    // next to the exact count — `overcount >= 0` is the CMS one-sided
    // guarantee, hash-gated value for value.
    "ev_cms_estimate" -> ((s, dir) =>
      graft.events.Sketches.cmsEstimates(
        GraphiteTables.events(s, dir), col("user_id"),
        depth = 4, width = 32)),

    // Bloom filter over the heavy-purchaser user set, shipped as the
    // 32-bit-word wire format: the filter relation is bounded by
    // `bits` rows at ANY corpus size (map-side-combined distinct),
    // which is what makes it the broadcastable runtime semi-join
    // pruning tool at 100 TB. Deterministic md5-affine positions →
    // the packed words hash-gate exactly.
    "ev_bloom_words" -> ((s, dir) => {
      val build = GraphiteTables.events(s, dir)
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id").cast("string").as("key"))
        .agg(count(lit(1)).as("n")).where(col("n") >= 12)
      graft.events.Sketches.bloomWords(
        graft.events.Sketches.bloomBits(build, col("key"),
          numHashes = 5, bits = 512))
    }),

    // Bloom membership probe of every user against that filter, next
    // to exact membership: `present => maybe` is the no-false-negative
    // guarantee, and the (deterministic) false-positive remainder is
    // the price of the constant-size filter — all under the hash
    // oracle, value for value.
    "ev_bloom_probe" -> ((s, dir) => {
      val ev = GraphiteTables.events(s, dir)
      val build = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id").cast("string").as("key"))
        .agg(count(lit(1)).as("n")).where(col("n") >= 12)
        .select(col("key"))
      val bloom = graft.events.Sketches.bloomBits(
        build, col("key"), numHashes = 5, bits = 512)
      graft.events.Sketches.bloomProbe(bloom, ev, col("user_id"),
          numHashes = 5, bits = 512)
        .join(build.withColumn("present", lit(true)), Seq("key"), "left")
        .select(col("key"),
          coalesce(col("present"), lit(false)).as("present"), col("maybe"))
    }),

    // HyperLogLog daily active users: register table is a
    // (day, bucket)-keyed max — ≤ m rows per day, mergeable by max —
    // next to the exact COUNT(DISTINCT) baseline. The estimator's
    // harmonic sum is accumulated as an exact integer (Σ 2^(26−reg)),
    // so the whole estimate is engine-portable arithmetic; both the
    // raw and the linear-counting branch fire across the 30 days.
    "ev_hll_daily_users" -> ((s, dir) => {
      val ev = GraphiteTables.events(s, dir)
      val day = expr("ts div 86400000000000")
      val est = graft.events.Sketches.hllDistinct(
        graft.events.Sketches.hllRegisters(ev, day, col("user_id")))
      val exact = ev.where(col("user_id").isNotNull)
        .groupBy(day.as("g"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      est.join(exact, "g")
        .select(col("g").as("day"), col("est_distinct"), col("exact_distinct"))
    }),

    // ordered conversion funnel view -> click -> purchase: one hash
    // aggregate per user + a bounded in-row fold — never the
    // tA<tB<tC triple self-join that squares the event table.
    "ev_funnel" -> ((s, dir) =>
      graft.events.Funnel.funnel3(
        GraphiteTables.events(s, dir),
        steps = Seq("view", "click", "purchase"),
        userCol = col("user_id"), typeCol = col("event_type"),
        timeCol = (col("ts") / 1000000000L).cast("long"),
        windowSec = 86400L)),

    // cohort retention triangle: cohort by first-signup week, count
    // members active in each later week — one user-keyed equi-join,
    // no per-period scan.
    "ev_retention" -> ((s, dir) =>
      graft.events.Funnel.retention(
        GraphiteTables.events(s, dir),
        anchorType = "signup",
        userCol = col("user_id"), typeCol = col("event_type"),
        timeCol = (col("ts") / 1000000000L).cast("long"))),

    // Markov transition matrix of user journeys: one high-cardinality
    // per-user window, then result-sized aggregates — the per-src
    // share is a join-back, never a window on the hot type key.
    "ev_paths" -> ((s, dir) =>
      graft.events.Funnel.transitions(
        GraphiteTables.events(s, dir),
        userCol = col("user_id"), typeCol = col("event_type"),
        timeCol = (col("ts") / 1000000000L).cast("long"),
        idCol = col("event_id"))),

    "ev_tumbling" -> ((s, dir) =>
      GraphiteTables.events(s, dir)
        .select(col("event_type"), (col("ts") / 1000000000L).cast("long").as("t"),
          col("value"))
        .groupBy(col("event_type"), (col("t") - pmod(col("t"), lit(3600))).as("window_start"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))),

    // sliding windows (1h length, 15m slide): Spark's native window()
    // — each event fans out to length/slide windows; identical code
    // works on readStream with a watermark for the streaming path.
    "ev_sliding" -> ((s, dir) =>
      GraphiteTables.events(s, dir)
        .select(col("event_type"),
          timestamp_seconds((col("ts") / 1000000000L).cast("long")).as("tt"),
          col("value"))
        .groupBy(col("event_type"), window(col("tt"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(col("event_type"),
          col("window.start").cast("long").as("window_start"),
          col("n"), col("sum_value"))),

    // hourly volume anomalies: z-score per (type, hour) against the
    // type's hourly distribution — two hash aggregates + one type-key
    // equi-join, no windows.
    "ev_anomaly" -> ((s, dir) =>
      graft.events.Anomaly.hourlyZscores(
        GraphiteTables.events(s, dir),
        typeCol = col("event_type"),
        timeCol = (col("ts") / 1000000000L).cast("long"))),

    // DAU / trailing-7-day WAU / stickiness: the rolling distinct is
    // a bounded 7× in-row fan-out + second distinct, never a sliding
    // window over user sets.
    "ev_dau_wau" -> ((s, dir) =>
      graft.events.Funnel.dauWau(
        GraphiteTables.events(s, dir),
        userCol = col("user_id"),
        timeCol = (col("ts") / 1000000000L).cast("long"))),

    // pairwise hourly-volume correlation across event types; reached
    // through an hour-keyed equi-join, never a relation cartesian.
    "ev_corr" -> ((s, dir) =>
      graft.events.Anomaly.typeCorrelation(
        GraphiteTables.events(s, dir),
        typeCol = col("event_type"),
        timeCol = (col("ts") / 1000000000L).cast("long"))),

    // session duration percentiles: sessionize (user-bounded windows)
    // → exact global quantiles via the two-phase rank.
    "ev_session_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = GraphiteTables.events(s, dir)
        .select(col("user_id"), (col("ts") / 1000000000L).cast("long").as("t"),
          col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val sessions = ev
        .withColumn("new_session",
          when(col("t") - lag(col("t"), 1).over(w) > 1800 ||
            lag(col("t"), 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("session_id", sum("new_session").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(min("t").as("ss"), max("t").as("se"))
      graft.llm.Quantiles.exactQuantiles(
        sessions.select((col("se") - col("ss")).as("dur")), col("dur"),
        qs = Seq(0.5, 0.9, 0.99))
    }),

    // anomalous-hour bursts: gaps-and-islands over the FLAGGED hours
    // only — the island window partitions a timeline-bounded relation,
    // never the raw event stream.
    "ev_bursts" -> ((s, dir) =>
      graft.events.Anomaly.bursts(
        GraphiteTables.events(s, dir),
        typeCol = col("event_type"),
        timeCol = (col("ts") / 1000000000L).cast("long"),
        threshold = 1.5)),

    // per-type exact value percentiles via the grouped two-phase rank
    // (a hot event type spans consecutive ranges, never one window
    // task).
    "ev_latency_pct" -> ((s, dir) =>
      graft.llm.Quantiles.exactQuantilesBy(
        GraphiteTables.events(s, dir)
          .select(col("event_type"), col("value")),
        "event_type", col("value"), qs = Seq(0.5, 0.95, 0.99))),

    // per-type top-10 users by total value: salted two-stage top-k —
    // a type carrying 90% of events never serializes into one
    // row_number window task.
    "ev_top_users" -> ((s, dir) => {
      val totals = GraphiteTables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(round(sum("value"), 4).as("total_value"))
      graft.events.TopK.topKBy(totals, Seq("event_type"),
        col("user_id"), col("total_value"), k = 10,
        idName = "user_id", valueName = "total_value")
    }),

    // time-to-convert percentiles: completed funnels' view→purchase
    // durations through the exact two-phase-ranked quantiles.
    "ev_funnel_time" -> ((s, dir) => {
      val f = graft.events.Funnel.funnel3(
        GraphiteTables.events(s, dir),
        steps = Seq("view", "click", "purchase"),
        userCol = col("user_id"), typeCol = col("event_type"),
        timeCol = (col("ts") / 1000000000L).cast("long"),
        windowSec = 86400L)
      graft.llm.Quantiles.exactQuantiles(
        f.where(col("stage") === 3)
          .select((col("t_purchase") - col("t_view")).as("dur")),
        col("dur"), qs = Seq(0.25, 0.5, 0.9))
    }),

    // AS-OF join (ClickHouse ASOF semantics): each event enriched
    // with the user's most recent COMPLETED-day value snapshot —
    // union + one key-bounded ride-forward pass, single shuffle,
    // never an inequality theta join.
    // last-touch attribution: each purchase rides back to the user's
    // most recent click/view within 24h (AS-OF reuse; touches
    // collapsed per (user, second) first so the pick is
    // deterministic); outside the window → unattributed NULLs.
    "ev_attribution" -> ((s, dir) => {
      val ev = GraphiteTables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          (col("ts") / 1000000000L).cast("long").as("t"), col("value"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t"), col("value"))
      val touches = ev.where(col("event_type").isin("click", "view"))
        .groupBy(col("user_id"), col("t").as("touch_t"))
        .agg(max(col("event_type")).as("touch_type"))
      val inWin = col("asof_t").isNotNull && col("asof_t") >= col("t") - 86400L
      graft.events.AsOf.asofJoin(purchases, touches,
          keyCols = Seq("user_id"), leftTime = "t", rightTime = "touch_t",
          valueCols = Seq("touch_type"))
        .select(col("event_id"), col("user_id"), col("t"),
          round(col("value"), 4).as("value"),
          when(inWin, col("touch_type")).as("touch_type"),
          when(inWin, col("asof_t")).as("touch_t"))
    }),

    // cohort LTV: revenue by (signup-cohort week, age week) with
    // distinct buyers via the two-phase aggregate (no Expand).
    "ev_cohort_ltv" -> ((s, dir) => {
      val ev = GraphiteTables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          (col("ts") / 1000000000L).cast("long").as("t"), col("value"))
      val cohort = ev.where(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(floor(min(col("t")) / 604800L).cast("long").as("cohort_week"))
      ev.where(col("event_type") === "purchase")
        .select(col("user_id"), floor(col("t") / 604800L).cast("long").as("week"),
          col("value"))
        .join(cohort, Seq("user_id"))
        .groupBy(col("user_id"), col("cohort_week"),
          (col("week") - col("cohort_week")).as("age_week"))
        .agg(sum(col("value")).as("__v"))
        .groupBy("cohort_week", "age_week")
        .agg(count(lit(1)).as("n_buyers"),
          round(sum(col("__v")), 4).as("revenue"))
    }),

    "ev_asof" -> ((s, dir) => {
      val ev = GraphiteTables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          (col("ts") / 1000000000L).cast("long").as("t"), col("value"))
      val dim = ev
        .groupBy(col("user_id"), (col("t") / 86400L).cast("long").as("__day"))
        .agg(round(sum("value"), 4).as("prev_day_value"))
        .select(col("user_id"), ((col("__day") + 1) * 86400L).as("snap_t"),
          col("prev_day_value"))
      graft.events.AsOf.asofJoin(
        ev.select("event_id", "user_id", "t"), dim,
        keyCols = Seq("user_id"), leftTime = "t", rightTime = "snap_t",
        valueCols = Seq("prev_day_value"))
    }),

    // interval (range) join done scale-correctly: events × burst
    // periods becomes an equi-join on (type, hour bucket) with the
    // BETWEEN as residual filter — never a nested-loop theta join.
    "ev_in_burst" -> ((s, dir) => {
      val ev = GraphiteTables.events(s, dir)
        .select(col("event_type"), (col("ts") / 1000000000L).cast("long").as("t"),
          col("value"))
      val b = graft.events.Anomaly.bursts(
          GraphiteTables.events(s, dir),
          typeCol = col("event_type"),
          timeCol = (col("ts") / 1000000000L).cast("long"),
          threshold = 1.5)
        .withColumn("end_incl", col("end_ts") + 3599L)
        .select("event_type", "start_ts", "end_ts", "end_incl")
      graft.events.Intervals.intervalJoin(ev, b, Seq("event_type"),
          timeCol = "t", startCol = "start_ts", endCol = "end_incl")
        .groupBy("event_type", "start_ts", "end_ts")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
    }),

    // RFM quintile scoring: user-grain aggregate, then three exact
    // global n-tiles via the two-phase rank (range partition + per-
    // range row_number + broadcast offsets) — never a partitionless
    // `ntile() OVER (ORDER BY …)` that serializes the relation.
    "ev_rfm" -> ((s, dir) =>
      graft.events.Rfm.rfm(
        GraphiteTables.events(s, dir),
        userCol = col("user_id"),
        timeCol = (col("ts") / 1000000000L).cast("long"),
        valueCol = col("value"))),

    // ----------------------------------------------------------------
    // TPC-H track: scans, joins, aggregation shapes (S1, J1, A4)
    // ----------------------------------------------------------------
    "q1_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    "q_semijoin" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val part = s.read.parquet(s"$dir/part.parquet").where(col("p_size") === 50)
      li.join(broadcast(part.select(col("p_partkey").as("l_partkey"))),
          Seq("l_partkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
    }),

    "q_join3" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      val r = s.read.parquet(s"$dir/region.parquet")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 4).as("sum_acctbal"))
    }),

    "q_topk" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // ----------------------------------------------------------------
    // LLM track: dedup (exact, minhash LSH, simhash, jaccard)
    // ----------------------------------------------------------------
    "d_exact_dedup" -> ((s, dir) =>
      Dedup.exact(s.read.parquet(s"$dir/documents.parquet"), md5(col("text")))),

    "d_exact_norm" -> ((s, dir) =>
      Dedup.exact(s.read.parquet(s"$dir/documents.parquet"),
        md5(Dedup.normalizedText(col("text"))))),

    // incremental ingest dedup: arrivals (doc_id >= 250) anti-joined
    // against the already-ingested store's distinct normalized keys.
    "d_incremental_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val key = md5(Dedup.normalizedText(col("text")))
      Dedup.dedupAgainst(
          docs.where(col("doc_id") >= 250), docs.where(col("doc_id") < 250),
          key, key)
        .select(col("doc_id"), col("lang"))
    }),

    // incremental NEAR-dup admission: arrivals (doc_id >= 250) probe
    // the store's LSH band index (store never self-joins), verified
    // rejects drop, then the store-clean batch near-dedupes itself
    // (CC keep-first) — the ingest-time shape of minhash dedup.
    "d_incremental_neardup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.incrementalNearDups(
          docs.where(col("doc_id") < 250), docs.where(col("doc_id") >= 250),
          col("text"), col("doc_id"), threshold = 0.5)
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    "d_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashCandidates(s.read.parquet(s"$dir/documents.parquet"),
        col("text"), col("doc_id"))),

    "d_simhash" -> ((s, dir) =>
      Dedup.simhashDF(s.read.parquet(s"$dir/documents.parquet"),
          col("text"), col("doc_id"))
        .select(col("id").as("doc_id"), col("fp"))),

    "d_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashNearDups(s.read.parquet(s"$dir/documents.parquet"),
        col("text"), col("doc_id"), prefixBits = 8, maxDistance = 14)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))),

    // the minhash-recall harness for the simhash family: blocked
    // exact-Hamming truth vs the single-prefix-bucket candidates —
    // precision 1.0 by construction (identical verify bound), recall
    // quantifies what the prefix bucket loses past the pigeonhole
    // guarantee radius.
    "d_simhash_recall" -> ((s, dir) =>
      Dedup.simhashRecall(s.read.parquet(s"$dir/documents.parquet"),
        col("text"), col("doc_id"),
        bucketCols = Seq(col("lang"), col("source")),
        prefixBits = 8, maxDistance = 14)),

    // the banded fix the harness motivates: ALL 4 disjoint 8-bit
    // bands as join keys (any-band collision; pigeonhole recall 1.0
    // for d < 4), raising measured recall at radius 14 from 0.013 to
    // 0.196 (radius 14 is far past the d < 4 pigeonhole guarantee;
    // blocked 32-bit truth at that radius is noise-dominated) — the dhash-family treatment applied to simhash.
    "d_simhash_recall_banded" -> ((s, dir) =>
      Dedup.simhashRecall(s.read.parquet(s"$dir/documents.parquet"),
        col("text"), col("doc_id"),
        bucketCols = Seq(col("lang"), col("source")),
        maxDistance = 14, bands = Some(4))),

    "d_jaccard_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(s.read.parquet(s"$dir/documents.parquet"),
        col("text"), col("doc_id"), Seq(col("lang"), col("source")), 0.5)),

    "d_fingerprint" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp"))),

    // PMI bigram collocations (phrase mining): unigram/bigram counts
    // from one corpus scan, vocab joins back on the word key, top-K
    // on the 4-dp-rounded score.
    "d_pmi_bigrams" -> ((s, dir) =>
      graft.llm.TextStats.pmiBigrams(
        s.read.parquet(s"$dir/documents.parquet"), col("text"),
        topK = 50, minCount = 5L)),

    // per-source duplication audit: distinct vs total 5-gram shingle
    // mass — two-phase exact distinct (hot shingles collapse in
    // map-side partials), never count(DISTINCT) or a content window.
    "d_shingle_card" -> ((s, dir) =>
      Dedup.duplicationStats(s.read.parquet(s"$dir/documents.parquet"),
        col("text"), "source")),

    // near-dup cluster size histogram: how big do duplicate families
    // get — two result-sized hash aggregates over the CC labels.
    "d_cluster_sizes" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.minhashNearDups(docs, col("text"), col("doc_id"),
        threshold = 0.5).select("id_a", "id_b")
      Dedup.clusters(pairs)
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    }),

    // per-source NEAR-dup rate: which sources lose the most docs to
    // minhash cluster dedup — clusters' keep-first verdict joined
    // back onto the docs, one hash aggregate per source.
    // dedup-funnel data card: doc/token survival counts per curation
    // stage — 1-row aggregates over the staged relations.
    "d_funnel_report" -> ((s, dir) =>
      graft.llm.Pipeline.funnelReport(
        s.read.parquet(s"$dir/documents.parquet"))),

    // snapshot diff (incremental-release audit): v2 drops every 10th
    // doc, mutates every 7th, adds shifted copies of every 5th —
    // status decided by a full-outer id join over content hashes.
    "d_snapshot_diff" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val v2 = docs.where(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.llm.Pipeline.snapshotDiff(docs, v2)
    }),

    // minhash recall harness: banded-pipeline pairs vs exact blocked
    // shingle-Jaccard truth (precision 1 by construction — the verify
    // step is exact; recall is the band-miss rate lshPlan sizes).
    "d_minhash_recall" -> ((s, dir) =>
      Dedup.minhashRecall(
        s.read.parquet(s"$dir/documents.parquet"),
        col("text"), col("doc_id"),
        bucketCols = Seq(col("lang"), col("source")), threshold = 0.5)),

    // cross-source duplication overlap: which sources near-duplicate
    // into which (the "is crawl N swallowing wiki?" audit) — verified
    // near-dup pairs labeled by source on both ends, unordered.
    "d_source_overlap" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.minhashNearDups(docs, col("text"), col("doc_id"),
        threshold = 0.5).select("id_a", "id_b")
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("source_a")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("source_b")),
          Seq("id_b"))
        .select(least(col("source_a"), col("source_b")).as("src_lo"),
          greatest(col("source_a"), col("source_b")).as("src_hi"))
        .groupBy("src_lo", "src_hi").agg(count(lit(1)).as("n_pairs"))
    }),

    "d_source_dup_rate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.minhashNearDups(docs, col("text"), col("doc_id"),
        threshold = 0.5).select("id_a", "id_b")
      val cl = Dedup.clusters(pairs).select(col("id").as("doc_id"), col("cluster_id"))
      docs.join(cl, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cluster_id").isNotNull &&
            col("cluster_id") =!= col("doc_id"), 1L).otherwise(0L)).as("n_dropped"))
        .withColumn("dup_rate", round(col("n_dropped") / col("n_docs"), 4))
    }),

    // ----------------------------------------------------------------
    // LLM track: text analysis
    // ----------------------------------------------------------------
    // Composite curation pipeline: quality gate → exact dedup →
    // near-dup cluster dedup (every stage bucketed, no all-pairs).
    "d_curate" -> ((s, dir) =>
      graft.llm.Pipeline.curate(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("lang"), col("source"))),

    // the full pipeline with the decontamination tail: quality gate →
    // exact dedup → near-dup keep → drop docs sharing >= 2 shingles
    // with the (broadcast) eval subset.
    "d_curate_decon" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.llm.Pipeline.curateDecontaminated(
          docs, docs.where(col("doc_id") % 97 === 0))
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    "d_langid" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextStats.langId(col("text")).as("pred_lang"))),

    // language-ID evaluation: confusion matrix of the n-gram
    // heuristic against the labeled lang column — in-row prediction +
    // ONE hash aggregate, map-side partials on a |langs|² key space.
    "d_lang_confusion" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy(col("lang").as("actual"),
          TextStats.langId(col("text")).as("predicted"))
        .agg(count(lit(1)).as("n"))),

    "d_quality" -> ((s, dir) =>
      graft.Tuning.spreadTinyInput(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id") +: TextStats.qualityFeatures(col("text")) :+
          TextStats.qualityScore(col("text")).as("quality"): _*)),

    "d_tokens" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          TextStats.tokensWhitespace(col("text")).cast("long").as("n_ws_tokens"),
          TextStats.tokensBpeish(col("text")).cast("long").as("n_bpe_tokens"))),

    // Data-mixture planning table: per-source docs/tokens/share and
    // the temperature-weighted target share — one corpus pass into a
    // per-source hash aggregate; the total/normalize windows run on
    // the source-cardinality-sized result.
    "d_mixture" -> ((s, dir) =>
      Sampling.mixtureReport(
        s.read.parquet(s"$dir/documents.parquet"),
        key = col("source"),
        tokens = TextStats.tokensWhitespace(col("text")),
        tau = 0.7)),

    // mixture materialization: the report's target shares as epoch
    // replication (downsampled sources thin, upsampled tails repeat
    // with a copy index) — broadcast epochs table, narrow filter +
    // bounded explode, corpus read once.
    "d_mixture_apply" -> ((s, dir) =>
      Sampling.mixtureApply(
        s.read.parquet(s"$dir/documents.parquet"),
        key = col("source"),
        tokens = TextStats.tokensWhitespace(col("text")),
        tau = 0.3)),

    // Benchmark decontamination: docs sharing >= 2 distinct 5-word
    // shingles with the (broadcast-sized) eval subset. One corpus
    // shingle pass + broadcast join + partial-agg count — no pairwise
    // stage, no corpus shuffle.
    "d_decontaminate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Decontaminate.contaminated(
        docs, docs.where(col("doc_id") % 97 === 0),
        col("text"), col("doc_id"), col("text"), w = 5, minShared = 2)
    }),

    // PII scrub: the corpus carries no PII-shaped strings, so the
    // query salts deterministic synthetic PII from doc_id into the
    // text (both engines identically) and verifies the redaction +
    // counts — real regex signal on every row.
    "d_scrub" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val salted = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com from 10.0."),
        col("doc_id") % 256, lit(".7 or call +1 555 867-53"), col("doc_id") % 100)
      docs.select(
        col("doc_id") +:
          TextStats.scrubPii(salted).as("scrubbed") +:
          TextStats.piiCounts(salted): _*)
    }),

    // Okapi BM25 of every document against a fixed query term set —
    // the target-domain retrieval-quality signal; corpus stats from
    // ONE aggregate, broadcast back, score fused into the scan.
    "d_bm25" -> ((s, dir) =>
      TextStats.bm25(
        s.read.parquet(s"$dir/documents.parquet"),
        Seq("data", "query", "spark", "join"),
        col("text"), col("doc_id"))),

    // batched BM25 retrieval: 5 query DOCS (rows, not literal terms)
    // each pull their top-10 through one token equi-join — grid-
    // quantized term contributions make the per-pair sum order-free.
    "d_keyword_topk" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextStats.keywordTopK(docs, docs.where(col("doc_id") < 5), k = 10)
    }),

    // hybrid retrieval: BM25 keyword top-20 ⊕ embedding cosine top-20
    // fused by reciprocal-rank fusion (RRF, c=60) — documents and
    // embeddings share the id space, so each query contributes a
    // text ranking and a vector ranking of the same corpus.
    "d_hybrid_rrf" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val kw = TextStats.keywordTopK(docs, docs.where(col("doc_id") < 5), k = 20)
        .select(col("query_id"), col("rank"), col("doc_id").as("id"))
      val vec = Similarity.bruteKnn(vecs, vecs.where(col("vec_id") < 5), k = 20)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id").as("id"))
      Similarity.rrfFuse(Seq(kw, vec), k = 10)
    }),

    // signed feature hashing (the hashing trick): model-free sparse
    // text vectors — one explode + one hash aggregate, integer
    // values, engine-portable md5 bucket/sign hashes.
    "d_hash_embed" -> ((s, dir) =>
      TextStats.hashedVectors(
        graft.Tuning.spreadTinyInput(s.read.parquet(s"$dir/documents.parquet")), dim = 64)),

    // text-only cosine kNN over the hashed vectors: bucket equi-join
    // (inverted-index shape), exact integer dots/norms, dot > 0
    // cutoff (what makes the bucket pruning sound under signed
    // hashing) — the full ranking hash-matches with no grid at all.
    "d_hash_knn" -> ((s, dir) => {
      val docs = graft.Tuning.spreadTinyInput(s.read.parquet(s"$dir/documents.parquet"))
      TextStats.hashedKnn(docs, docs.where(col("doc_id") < 5), dim = 64, k = 5)
    }),

    // ExactSubstr-lite: per-doc duplicated 5-gram span stats — one
    // hash aggregate on the shingle hash, dup-key semi-join back,
    // totals straight off the scan; no doc×doc stage.
    "d_dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(
        graft.Tuning.spreadTinyInput(s.read.parquet(s"$dir/documents.parquet")),
        col("text"), col("doc_id"), w = 5)),

    // ExactSubstr removal: cut every word covered by a corpus-repeated
    // 5-gram and reassemble — slim positional-shingle explodes (two
    // deliberate passes: count, then locate), hash aggregate on the
    // shingle hash (no window), per-doc start-set fold-back, map-only
    // reassembly over the original scan.
    "d_scrub_spans" -> ((s, dir) =>
      Dedup.scrubSpans(
        graft.Tuning.spreadTinyInput(s.read.parquet(s"$dir/documents.parquet")),
        col("text"), col("doc_id"), w = 5)),

    // proper Schleimer winnowing: positional 5-gram hashes, window-4
    // minima, per-doc sorted distinct fingerprint set — in-row fold,
    // map-only at any corpus scale.
    "d_winnow" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          Dedup.winnow(col("text"), k = 5, w = 4).as("fps"))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fps"),
          // stringified for the oracle comparator (array-typed top-level
          // columns are not sortable driver-side); long elements format
          // identically in Spark and DuckDB.
          array_join(col("fps").cast("array<string>"), ",").as("fps_str"))),

    // boilerplate-line removal over deterministically multi-lined docs
    // (the synthetic corpus is single-line, so — like d_c4 — header/
    // footer lines are salted in identically in the DuckDB twin): a
    // trimmed line in ≥2 distinct docs drops everywhere; two-phase
    // hot-key aggregate, never a content-keyed window.
    "d_boilerplate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val salted = concat(
        when(col("doc_id") % 3 === 0,
          lit("subscribe to our newsletter\n")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 4 === 0,
          lit("\nall rights reserved")).otherwise(lit("")))
      Dedup.dropBoilerplateLines(
        docs.select(col("doc_id"), salted.as("text")),
        col("text"), col("doc_id"), minDocs = 2)
    }),

    // C4-style heuristic filter battery over deterministically salted
    // docs (the raw synthetic corpus is single-line with no code/
    // lorem markers, so — like d_scrub — the salt is reproduced
    // identically in the DuckDB twin): line signals + document drops
    // + the composite keep decision, all fused into one scan pass.
    "d_c4" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val salted = concat(
        replace(col("text"), lit(" scan "), lit(".\n")),
        when(col("doc_id") % 7 === 0, lit("\nlorem ipsum filler")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("\nif (x) { return }")).otherwise(lit("")))
      docs.select(
        (col("doc_id") +: TextStats.c4Signals(salted)) :+
          TextStats.c4Keep(salted).cast("long").as("keep"): _*)
    }),

    // Gopher-style within-document repetition signals: duplicate-line
    // ratio + chars, top-bigram char coverage, duplicate-trigram
    // ratio. Pure higher-order array expressions fused into the scan
    // (map-only at any scale); the line metrics are degenerate on the
    // single-line synthetic corpus (spec-covered with multi-line docs)
    // while the n-gram metrics carry real signal here.
    "d_repetition" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextStats.repetitionMetrics(col("text")).as("__m"))
        .select(col("doc_id"),
          col("__m.dup_line_ratio").as("dup_line_ratio"),
          col("__m.dup_line_char_ratio").as("dup_line_char_ratio"),
          col("__m.top_bigram_char_ratio").as("top_bigram_char_ratio"),
          col("__m.dup_trigram_ratio").as("dup_trigram_ratio"))),

    // ----------------------------------------------------------------
    // LLM track: deterministic sampling / sharding / sequence packing
    // ----------------------------------------------------------------
    // stratified quota sample: pure id-hash filter on the scan — no
    // shuffle, reproducible across runs/engines/retries
    // per-stratum bottom-k uniform sample — mergeable reservoir
    // sampling (bottom-k hash sketch): salted two-stage aggregate, so
    // a hot stratum never serializes and the corpus never shuffles.
    // The streaming twin (StreamSample) maintains the identical
    // sample on an unbounded stream.
    "d_sample_bottomk" -> ((s, dir) =>
      Sampling.sampleBottomK(
        s.read.parquet(s"$dir/documents.parquet"),
        col("lang"), col("doc_id"), k = 20)),

    // A-ES weighted sampling without replacement: u^(1/w) keys from
    // the portable md5 uniform, heap top-k — one narrow pass.
    "d_sample_weighted" -> ((s, dir) =>
      Sampling.sampleWeighted(
        s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("n_chars"), k = 100)),

    "d_sample_strat" -> ((s, dir) =>
      Sampling.sampleStratified(
        s.read.parquet(s"$dir/documents.parquet"),
        col("lang"), Map("en" -> 0.5, "fr" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "lang")),

    // token-budget curation: best-quality-first selection under a
    // 10k-token budget via the two-phase distributed cumulative sum
    // (range partition → per-range offsets → within-range window) —
    // never a global single-task running-sum window.
    "d_budget" -> ((s, dir) =>
      Sampling.tokenBudget(
        s.read.parquet(s"$dir/documents.parquet"),
        col("text"), budget = 10000L)),

    // temperature mixing (tau=0.5 upsamples tail languages, 30% of
    // the corpus kept in expectation): rates from one tiny per-key
    // aggregate, selection a salted-hash scan filter
    "d_sample_temp" -> ((s, dir) =>
      Sampling.temperatureSample(
        s.read.parquet(s"$dir/documents.parquet"),
        col("lang"), tau = 0.5, targetFraction = 0.3)
        .select("doc_id", "lang")),

    "d_split" -> ((s, dir) =>
      Sampling.split(
        s.read.parquet(s"$dir/documents.parquet"),
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .select("doc_id", "split")),

    // deterministic corpus permutation: shard by id-hash, rank by hash
    // within shard (one bounded per-shard sort, no global sort)
    "d_shard" -> ((s, dir) =>
      Sampling.shardAssign(s.read.parquet(s"$dir/documents.parquet"), shards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))),

    // concat-and-chop sequence packing: whitespace-token stream per
    // shard chopped into 512-token bins (offset = stream position)
    "d_pack" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Sampling.packSequences(docs, TextStats.tokensWhitespace(col("text")),
          budget = 512L, shards = 8)
        .select(col("doc_id"), col("shard"), col("pos"), col("tokens"),
          col("offset"), col("bin"))
    }),

    // Unicode dedup-key normalization via the native codegen'd
    // NormalizeText expression (NFC + strip accents + lower +
    // collapse ws). The corpus is ASCII, so deterministic accented
    // suffixes (incl. a decomposed combining sequence) are salted in
    // from doc_id — both engines identically — to exercise the
    // Unicode path on every row; map-only, fused with the scan.
    "d_normalize" -> ((s, dir) => {
      val suffixes = array(
        lit("Élan e\u0301lan CAFÉ"), // decomposed combining acute
        lit("Ünïted Ñandú"),
        lit("Åse çédille  spaced\tout"),
        lit("plain ASCII ø"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.functions.NormalizeText.column(
            concat(col("text"), lit(" "),
              element_at(suffixes, (col("doc_id") % 4).cast("int") + 1)))
            .as("norm"))
    }),

    // Gopher hard-threshold quality rules (word window, symbol ratio,
    // bullet/ellipsis lines, alpha words, stopword presence) — the
    // rule-based companion to d_quality's blended score; map-only.
    "d_gopher" -> ((s, dir) => {
      // the synthetic corpus has no English stopwords, so a third of
      // the docs get the required set salted in (both engines
      // identically) — the keep decision then varies on real signals
      val t = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" the be to of and that have with")))
        .otherwise(col("text"))
      val sig = TextStats.gopherSignals(t)
      val Seq(n, meanLen, symbol, bullet, ellipsis, alpha, stops) = sig
      s.read.parquet(s"$dir/documents.parquet").select(
        col("doc_id"), n,
        round(meanLen, 4).as("mean_word_len"),
        round(symbol, 4).as("symbol_ratio"),
        round(bullet, 4).as("bullet_line_ratio"),
        round(ellipsis, 4).as("ellipsis_line_ratio"),
        round(alpha, 4).as("alpha_word_ratio"),
        stops,
        TextStats.gopherKeep(sig).as("keep"))
    }),

    // unigram-LM perplexity proxy (KenLM-free quality signal): corpus
    // as LM, per-doc mean token NLL + perplexity; two partial-agg
    // counts + one token equi-join, ordered fold for float identity.
    "d_unigram_ppl" -> ((s, dir) =>
      TextStats.unigramLogLoss(
        s.read.parquet(s"$dir/documents.parquet"), col("text"), col("doc_id"))),

    // held-out bigram LM with Stupid Backoff: train on the even-id
    // half, score everything — unseen bigrams take the real backoff
    // path; three shuffled equi-joins, no LM broadcast.
    "d_bigram_ppl" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextStats.bigramLogLoss(
        docs.where(col("doc_id") % 2 === 0), docs, col("text"), col("doc_id"))
    }),

    // held-out bigram LM with interpolated Kneser–Ney (the smoothing
    // CCNet-grade perplexity filters actually use): discounted seen
    // mass + continuation-probability backoff, all exact integer
    // model counts — same scale shape as the Stupid Backoff scorer.
    "d_bigram_kn" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextStats.bigramKnLogLoss(
        docs.where(col("doc_id") % 2 === 0), docs, col("text"), col("doc_id"))
    }),

    // vocabulary/coverage report: top-200 token types with corpus
    // share and cumulative coverage — partial-agg count per type,
    // top-K heap merge (no global sort), windows on the K-row result.
    "d_vocab" -> ((s, dir) =>
      TextStats.vocabReport(
        s.read.parquet(s"$dir/documents.parquet"), col("text"), topK = 200)),

    // Distinct-n diversity (the standard generated/synthetic-data
    // diversity metric): per n in 1..3, distinct vs total n-grams —
    // one explode into a (n, gram) aggregate, map-side partials
    // absorb hot grams, result is 3 rows at any corpus size.
    "d_distinct_ngrams" -> ((s, dir) => {
      val ws = org.apache.spark.sql.functions.split(trim(col("text")), "\\s+")
      val grams = explode(flatten(array((1 to 3).map(n =>
        transform(graft.functions.TextKernels.positionalShingles(ws, n),
          g => struct(lit(n).as("n"), g.as("g")))): _*)))
      s.read.parquet(s"$dir/documents.parquet")
        .select(grams.as("x"))
        .select(col("x.n").as("n"), col("x.g").as("g"))
        .where(col("g") =!= "")
        .groupBy("n", "g").agg(count(lit(1)).as("c"))
        .groupBy("n")
        .agg(sum(col("c")).as("total_ngrams"),
          count(lit(1)).as("distinct_ngrams"))
        .select(col("n").cast("long").as("n"),
          col("total_ngrams"), col("distinct_ngrams"),
          round(col("distinct_ngrams").cast("double") /
            col("total_ngrams").cast("double"), 4).as("distinct_ratio"))
    }),

    // Late-interaction MaxSim (ColBERT scoring): vectors grouped 4 per
    // "document" by id arithmetic, first 3 groups as queries; per-term
    // max then per-doc sum, top-3 docs per query. The exhaustive join
    // is the oracle shape; production pre-filters doc groups with an
    // ANN shortlist (two-stage ColBERT).
    "e_maxsim" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("group_id", floor(col("vec_id") / 4).cast("long"))
      Similarity.maxSim(vecs, vecs.where(col("group_id") < 3), k = 3)
    }),

    // Two-stage (shortlist-fed) MaxSim — the ColBERT serve path: an
    // IVF probe per query vector (cells sized by the corpus-adaptive
    // sqrt rule, first-nlist-ids centroids) nominates candidate doc
    // groups; exact grid-floored MaxSim scores only the shortlist.
    // The (d_group, cell) membership is ingest-owned index state
    // (AnnIndex memo, like GraphiteTables' derived tables): its
    // O(n·nlist·d) assignment is the FAISS add() cost, paid once per
    // corpus — served batches pay probe + shortlist + one gather scan.
    "e_maxsim_ivf" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("group_id", floor(col("vec_id") / 4).cast("long"))
      val nlist = Similarity.ivfPlan(vecs.count())
      val centroids = vecs.where(col("vec_id") < nlist)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      val cells = graft.llm.AnnIndex.maxSimCellGroups(
        s, dir, vecs, centroids, nlist)
      // nprobe from the recall-targeted rule (worst-case √(p) model,
      // ServeRecallTarget anchor) — twin emits the identical arithmetic
      Similarity.maxSimShortlist(vecs, vecs.where(col("group_id") < 3),
        centroids, k = 3,
        nprobe = Similarity.nprobePlan(nlist, Similarity.ServeRecallTarget),
        cellGroups = Some(cells))
    }),

    // the full late-interaction lifecycle under ONE oracle (the
    // e_ivf_trained_search pattern for MaxSim): train the coarse
    // quantizer (3 Lloyd iterations), build the group-cell
    // membership on the trained cells, serve shortlisted MaxSim —
    // train → index → serve end-to-end hash-matched.
    "e_maxsim_ivf_trained" -> ((s, dir) => {
      val raw = s.read.parquet(s"$dir/embeddings.parquet")
      val vecs = raw.withColumn("group_id", floor(col("vec_id") / 4).cast("long"))
      val cents = Similarity.kmeansTrain(raw, k = 4, iters = 3)._2
      Similarity.maxSimShortlist(vecs, vecs.where(col("group_id") < 3),
        cents, k = 3,
        nprobe = Similarity.nprobePlan(4, Similarity.ServeRecallTarget))
    }),

    // Margin-criterion pair mining (LASER/CCMatrix bitext scorer):
    // best ratio-margin candidate per query between the two id-parity
    // halves of the embedding set, kept at margin > 1. Edge-agnostic
    // marginMine over brute kNN here (the oracle shape); production
    // passes lshKnn/rpSearch shortlists, so the corpus-sized stage is
    // the neighbor build, never the mining.
    "e_bitext_margin" -> ((s, dir) => {
      val vecs = graft.Tuning.spreadTinyInput(s.read.parquet(s"$dir/embeddings.parquet"))
      val a = vecs.where(pmod(col("vec_id"), lit(2)) === 0)
      val b = vecs.where(pmod(col("vec_id"), lit(2)) === 1)
      Similarity.marginMine(
        Similarity.bruteKnn(b, a, k = 4),
        Similarity.bruteKnn(a, b, k = 4))
        .where(col("margin") > 1.0)
    }),

    // the index-accelerated production shape of e_bitext_margin (the
    // pattern every retrieval-family member ships: brute oracle form
    // + indexed serve form): both k-NN directions run through IVF
    // cell probes against the ingest-owned AnnIndex assignment, so
    // corpus×corpus mining costs n·nprobe·cellsize ≈ n^1.5 under the
    // sqrt cell rule instead of brute's n². marginMine itself is
    // edge-agnostic — identical scorer over either neighbor relation.
    "e_bitext_margin_ivf" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val nlist = Similarity.ivfPlan(vecs.count())
      val centroids = vecs.where(col("vec_id") < nlist)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      val cells = graft.llm.AnnIndex.ivfCells(s, dir, vecs, centroids, nlist)
      val a = vecs.where(pmod(col("vec_id"), lit(2)) === 0)
      val b = vecs.where(pmod(col("vec_id"), lit(2)) === 1)
      // nprobe = recall rule CAPPED by the mining budget (every vector
      // is a query, so nprobe multiplies the n^1.5 candidate volume);
      // implied worst-case floor = impliedRecallFloor(cap, nlist)
      val nprobe = math.min(
        Similarity.nprobePlan(nlist, Similarity.ServeRecallTarget),
        Similarity.MiningNprobeCap)
      def side(stored: DataFrame, queries: DataFrame, storedParity: Int) =
        Similarity.ivfSearch(stored, centroids, queries, k = 4, nprobe = nprobe,
          broadcastProbes = false,
          assignment = Some(
            cells.where(pmod(col("vec_id"), lit(2)) === storedParity)))
      Similarity.marginMine(side(b, a, 1), side(a, b, 0))
        .where(col("margin") > 1.0)
    }),

    // Mining-path recall harness (round-16): margin-PAIR recall of the
    // nprobe-capped IVF miner against the brute anchor — the serve
    // path's recall is measured (e_nprobe_curve, recall 1.00 at every
    // planned operating point through x1000) but the mining path runs
    // at min(rule, MiningNprobeCap); this makes its floor MEASURED
    // instead of implied. Result-sized (one row); the brute side is
    // the quadratic anchor, so this is eval tooling like the
    // *_recall family, probed at x10 by ScaleProbe. The lambdas
    // resolve against `queries` at call time, so both sides stay in
    // lockstep with the gated entries they measure.
    "e_bitext_margin_recall" -> ((s, dir) => {
      val b = queries("e_bitext_margin")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val i = queries("e_bitext_margin_ivf")(s, dir)
        .select(col("query_id").as("qi"), col("neighbor_id").as("ni"))
      b.join(i, col("query_id") === col("qi") && col("neighbor_id") === col("ni"),
          "left")
        .agg(
          count(lit(1)).as("n_brute"),
          sum(when(col("qi").isNotNull, 1L).otherwise(0L)).as("n_found"),
          (round(avg(when(col("qi").isNotNull, 1.0).otherwise(0.0)), 4) + lit(0.0))
            .as("recall"))
    }),

    // Tokenizer fertility per language — THE per-language tokenizer
    // eval (tokens/word; chars/token): one hash aggregate over the
    // labeled lang key, token counts from the same two kernels
    // d_tokens gates.
    "d_tok_fertility" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextStats.tokensWhitespace(col("text")).cast("long")).as("n_words"),
          sum(TextStats.tokensBpeish(col("text")).cast("long")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
          col("n_chars"),
          round(col("n_tokens").cast("double") /
            greatest(col("n_words"), lit(1L)).cast("double"), 4).as("fertility"),
          round(col("n_chars").cast("double") /
            greatest(col("n_tokens"), lit(1L)).cast("double"), 4).as("chars_per_token"))),

    // per-doc unigram Shannon entropy (nats) — the repetitiveness /
    // gibberish quality signal: explode → per-(doc, word) counts →
    // sorted -p·ln p fold; two partial-agg aggregates, no window.
    "d_entropy" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(TextStats.words(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("__n"),
          aggregate(
            array_sort(collect_list(struct(col("w"), col("c")))),
            lit(0.0), (a, e) => a - e.getField("c") * log(e.getField("c")))
            .as("__s"))
        .select(col("doc_id"), col("__n").as("n_words"),
          round(col("__s") / col("__n") + log(col("__n")), 4).as("entropy"))),

    // corpus Zipf slope: log-log OLS over the top-200 vocab ranks —
    // the corpus-health check (natural text ≈ −1); a 200-row
    // aggregate past the vocab heap top-K.
    "d_zipf" -> ((s, dir) => {
      val v = TextStats.vocabReport(
          s.read.parquet(s"$dir/documents.parquet"), col("text"), topK = 200)
        .select(col("rank"), log(col("rank").cast("double")).as("x"),
          log(col("n").cast("double")).as("y"))
      // sums fold in rank order (sorted folds) so the 200-term float
      // arithmetic is engine-identical
      def fold(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = aggregate(
        array_sort(collect_list(struct(col("rank"), c.as("t")))),
        lit(0.0), (a, e) => a + e.getField("t"))
      v.groupBy()
        .agg(count(lit(1)).as("__n"), fold(col("x")).as("__sx"),
          fold(col("y")).as("__sy"), fold(col("x") * col("y")).as("__sxy"),
          fold(col("x") * col("x")).as("__sxx"))
        .select(col("__n").as("n_terms"),
          round((col("__sxy") - col("__sx") * col("__sy") / col("__n")) /
            (col("__sxx") - col("__sx") * col("__sx") / col("__n")), 4)
            .as("zipf_slope"))
    }),

    // per-doc top-5 TF-IDF terms: df joins back on the term (shuffled
    // equi-join, AQE skew-splittable); the top-k window partitions on
    // the doc id, bounded by doc length — never on the term key.
    "d_tfidf" -> ((s, dir) =>
      TextStats.tfidfTopK(s.read.parquet(s"$dir/documents.parquet"),
        col("text"), col("doc_id"), k = 5)),

    // deterministic k-per-group sample (balanced eval-set draws):
    // top-20 per lang by the uniform id hash via the salted two-stage
    // top-k — a 44%-hot language never serializes into one rank task.
    "d_sample_group" -> ((s, dir) =>
      graft.events.TopK.topKBy(
        s.read.parquet(s"$dir/documents.parquet"),
        groupCols = Seq("lang"), idCol = col("doc_id"),
        valueCol = Sampling.hash01(col("doc_id")), k = 20,
        idName = "doc_id", valueName = "draw")
        .select(col("lang"), col("rank"), col("doc_id"),
          round(col("draw"), 6).as("draw"))),

    // DSIR hashed-ngram importance weights (target = src0/src1 docs):
    // native in-row bucket-count kernel, distributions collected as a
    // 256-row λ table, map-only scoring fold — zero corpus shuffle.
    "d_dsir" -> ((s, dir) =>
      Sampling.dsirWeights(
        s.read.parquet(s"$dir/documents.parquet"), col("text"),
        col("source").isin("src0", "src1"), col("doc_id"), buckets = 256)),

    // DSIR end-to-end: importance weights → A-ES resample of the top
    // 100 by exp(log w) — the paper's selection step; narrow scoring
    // pass + TakeOrdered heaps, never a corpus sort.
    "d_dsir_sample" -> ((s, dir) => {
      val w = Sampling.dsirWeights(
        s.read.parquet(s"$dir/documents.parquet"), col("text"),
        col("source").isin("src0", "src1"), col("doc_id"), buckets = 256)
      Sampling.resampleByWeight(w, col("doc_id"), exp(col("log_weight")), k = 100)
    }),

    // fixed-weight logistic quality classifier (the GPT-3-style
    // model-based filter's serving path): σ over three fused quality
    // signals, keep at p ≥ 0.5 — map-only, fully in the scan.
    "d_quality_clf" -> ((s, dir) =>
      TextStats.qualityClassifier(
        s.read.parquet(s"$dir/documents.parquet"), col("text"), col("doc_id"))),

    // logistic-regression TRAINING for the quality classifier: full-
    // batch GD on log-loss over the serving path's three signals
    // (label: is-English). One corpus pass builds the 4-double
    // feature relation; each of the 3 iterations is one aggregate
    // job over it. The full weight trace sits under the hash oracle
    // — the DuckDB twin unrolls the identical GD in chained CTEs.
    "d_quality_clf_train" -> ((s, dir) =>
      TextStats.trainQualityClassifier(
        s.read.parquet(s"$dir/documents.parquet"), col("text"),
        label = (col("lang") === "en").cast("int"), iters = 3, lr = 0.5)),

    // the full train → serve loop: GD-learned weights (rounded trace
    // row 3) swapped into the serving expression, scoring the corpus
    // as an is-English classifier — map-only once training collects.
    "d_quality_clf_trained" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val w = TextStats.trainQualityClassifier(docs, col("text"),
          label = (col("lang") === "en").cast("int"), iters = 3, lr = 0.5)
        .orderBy("iter").collect().last
      val p = TextStats.qualityProbability(col("text"),
        bias = w.getDouble(1), wLen = w.getDouble(2),
        wAlpha = w.getDouble(3), wStop = w.getDouble(4))
      docs.select(col("doc_id"), round(p, 4).as("p_en"),
        (p >= 0.5).as("keep"))
    }),

    // Calibration curve (reliability diagram) of the trained quality
    // classifier: percent-resolution probability bins × (count, mean
    // predicted,
    // empirical rate, |gap|) — the standard check before using a
    // classifier score as a sampling weight. One map-only scoring
    // pass into a <=100-key hash aggregate.
    "d_clf_calibration" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val w = TextStats.trainQualityClassifier(docs, col("text"),
          label = (col("lang") === "en").cast("int"), iters = 3, lr = 0.5)
        .orderBy("iter").collect().last
      val p = round(TextStats.qualityProbability(col("text"),
        bias = w.getDouble(1), wLen = w.getDouble(2),
        wAlpha = w.getDouble(3), wStop = w.getDouble(4)), 4)
      docs.select(least(floor(p * 100).cast("long"), lit(99L)).as("bin"),
          p.as("p"), (col("lang") === "en").cast("int").as("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("p")), 4).as("mean_pred"),
          round(avg(col("y").cast("double")), 4).as("frac_pos"))
        .select(col("bin"), col("n_docs"), col("mean_pred"), col("frac_pos"),
          round(abs(col("mean_pred") - col("frac_pos")), 4).as("gap"))
    }),

    // two-tier blocklist content gate (Dolma-style): frequency terms
    // ratio-capped, instant-drop terms hard-block; map-only.
    "d_toxicity" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id") +: TextStats.blocklistSignals(col("text"),
          blocked = Seq("slow", "merge"), hardBlock = Seq("dup"),
          maxRatio = 0.07): _*)),

    // shard manifest with order-insensitive content checksums — the
    // release-integrity record; one hash aggregate per shard.
    "d_manifest" -> ((s, dir) =>
      Sampling.shardManifest(
        s.read.parquet(s"$dir/documents.parquet"), col("text"), shards = 8)),

    // packing-efficiency report: per shard, bins the 512-token
    // concat-and-chop stream fills and its utilization — exact from
    // the shard token totals (documents straddle bins, so the stream
    // is contiguous by construction); one aggregate.
    "d_pack_stats" -> ((s, dir) => {
      val budget = 512L
      Sampling.shardAssign(
          s.read.parquet(s"$dir/documents.parquet"), shards = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextStats.tokensWhitespace(col("text")).cast("long")).as("n_tokens"))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          ceil(col("n_tokens").cast("double") / budget).cast("long").as("n_bins"),
          round(col("n_tokens").cast("double") /
            (ceil(col("n_tokens").cast("double") / budget) * budget), 4)
            .as("utilization"))
    }),

    // CCNet-style per-language perplexity terciles: exact grouped
    // quantile cuts (two-phase rank, no lang-partitioned window)
    // broadcast back onto the doc-sized NLL relation.
    "d_ppl_buckets" -> ((s, dir) =>
      TextStats.pplBuckets(
        s.read.parquet(s"$dir/documents.parquet"),
        col("text"), col("lang"), col("doc_id"))),

    // CCNet end to end: language ID (the native kernel — CCNet
    // computes its own langid, not a trusted label) → per-PREDICTED-
    // lang perplexity terciles → keep head+middle.
    "d_ccnet" -> ((s, dir) => {
      val pred = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"),
          TextStats.langId(col("text")).as("lang"))
      TextStats.pplBuckets(pred, col("text"), col("lang"), col("doc_id"))
        .where(col("bucket") =!= "tail")
    }),

    // capped inverted index: salted two-stage top-k aggregation keeps
    // the 8 lowest doc ids per term without ever materializing a hot
    // stop-word's full posting list in one task.
    "d_inverted" -> ((s, dir) =>
      TextStats.invertedIndex(s.read.parquet(s"$dir/documents.parquet"),
        col("text"), col("doc_id"), cap = 8, salts = 16)
        // posting list stringified for the oracle comparator (top-level
        // array columns are not sortable driver-side).
        .withColumn("postings",
          array_join(col("postings").cast("array<string>"), ","))),

    // TextRank keyword importance: PageRank (4 iterations) over the
    // token co-occurrence graph; in-row pair explode, then per
    // iteration one rank⋈edges equi-join + one dst hash aggregate.
    "d_textrank" -> ((s, dir) =>
      graft.llm.Graph.textrank(graft.Tuning.spreadTinyInput(s.read.parquet(s"$dir/documents.parquet")),
        col("text"), col("doc_id"), iters = 4)),

    // BPE merge-candidate counting: word-frequency aggregate, in-row
    // adjacent-char pair explode, pair-count aggregate, heap top-50.
    "d_bpe_pairs" -> ((s, dir) =>
      TextStats.bpePairs(s.read.parquet(s"$dir/documents.parquet"),
        col("text"), topK = 50)),

    // distributed BPE merge LEARNING: one corpus pass builds the
    // word-frequency table; each of the 4 merge steps is a pair
    // aggregate + top-1 + map-only merge application over the
    // vocab-sized relation only (lineage-cut per step).
    "d_bpe_train" -> ((s, dir) =>
      graft.llm.Bpe.train(
        s.read.parquet(s"$dir/documents.parquet"), col("text"), merges = 4)),

    // training with the corpus-scale frequency floor engaged (the
    // parameter that makes a 100 TB vocab driver-loop-sized); the
    // DuckDB twin implements the same floor independently, so the
    // pruning semantics sit under the hard oracle gate, not just the
    // unit spec.
    "d_bpe_train_pruned" -> ((s, dir) =>
      graft.llm.Bpe.train(
        s.read.parquet(s"$dir/documents.parquet"), col("text"), merges = 4,
        minFreq = 2)),

    // BPE encoding with the rules just learned: map-only over the
    // corpus, per-word replace-scan application in rule order.
    "d_bpe_encode" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val rules = graft.llm.Bpe.train(docs, col("text"), merges = 4)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.llm.Bpe.encode(docs, col("text"), col("doc_id"), rules)
    }),

    // WordPiece merge LEARNING (the third tokenizer family): same
    // one-corpus-pass vocab relation as BPE, but candidates score by
    // the likelihood ratio n/(count(l)·count(r)) with ##-prefixed
    // continuation symbols. Fully hash-gated: the DuckDB twin unrolls
    // the 4 rounds with the identical double-score spelling.
    "d_wordpiece_train" -> ((s, dir) =>
      graft.llm.WordPiece.train(
        s.read.parquet(s"$dir/documents.parquet"), col("text"), merges = 4)),

    // WordPiece greedy longest-match-first encoding (BERT-style)
    // with the vocab just trained (corpus alphabet ∪ merged tokens):
    // map-only kernel, per-partition word memo; the twin precomputes
    // best(word, pos) and follows the greedy chain in a bounded
    // recursive CTE.
    "d_wordpiece_encode" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val merged = graft.llm.WordPiece.train(docs, col("text"), merges = 4)
        .orderBy("step").collect().map(_.getString(3)).toSeq
      val alpha = graft.llm.WordPiece.alphabet(docs, col("text"))
        .collect().map(_.getString(0)).toSeq
      graft.llm.WordPiece.encode(docs, col("text"), col("doc_id"),
        (alpha ++ merged).distinct)
    }),

    // unigram-LM seed statistic: freq-weighted counts of every word
    // substring ≤ 6 chars — in-row (start,len) expansion, one piece
    // aggregate, heap top-50. Hash-gated against the DuckDB twin.
    "d_unigram_seed" -> ((s, dir) =>
      graft.llm.Unigram.seedPieces(s.read.parquet(s"$dir/documents.parquet"),
        col("text"), maxPieceLen = 6, topK = 50)),

    // unigram-LM (SentencePiece-style) tokenizer TRAINING: Viterbi-EM
    // over the word-frequency relation. Unlike BPE's per-merge rounds,
    // each EM iteration is ONE distributed job at any vocabulary size
    // (broadcast piece table → map-pass Viterbi counts → vocab-sized
    // aggregate), which is what makes this the corpus-scale-shaped
    // tokenizer trainer. Fully hash-gated: the DuckDB twin replays
    // the whole Viterbi-EM as bounded recursive CTEs, and the 2^-20
    // log-prob grid (Unigram.quantizeLogp) makes every DP decision
    // engine-exact; UnigramSpec adds the independent full-enumeration
    // check.
    "d_unigram_train" -> ((s, dir) =>
      graft.llm.Unigram.train(s.read.parquet(s"$dir/documents.parquet"),
        col("text"), vocabSize = 200, seedSize = 1000, emIters = 2,
        maxPieceLen = 6)),

    // serving-side pair: Viterbi encoding with the table just trained
    // — map-only over the corpus, per-partition distinct-word memo.
    "d_unigram_encode" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pieces = graft.llm.Unigram.train(docs, col("text"),
          vocabSize = 200, seedSize = 1000, emIters = 2, maxPieceLen = 6)
        .collect().map(r => (r.getString(1), r.getDouble(3))).toSeq
      graft.llm.Unigram.encode(docs, col("text"), col("doc_id"), pieces,
        maxPieceLen = 6)
    }),

    // exact global doc-length quantiles via the two-phase rank — no
    // global sort, no sketch; percentile_cont interpolation.
    "d_quantiles" -> ((s, dir) =>
      graft.llm.Quantiles.exactQuantiles(
        s.read.parquet(s"$dir/documents.parquet"), col("n_chars"),
        qs = Seq(0.25, 0.5, 0.9, 0.99))),

    // per-language exact quantiles: the grouped two-phase rank — a
    // hot language (en ≈ 44% of docs) never serializes into one task
    // the way a PARTITION BY lang window would.
    "d_quantiles_by_lang" -> ((s, dir) =>
      graft.llm.Quantiles.exactQuantilesBy(
        s.read.parquet(s"$dir/documents.parquet"), "lang", col("n_chars"),
        qs = Seq(0.25, 0.5, 0.9))),

    // overlapping token-window chunking (context-window prep): chunk i
    // covers tokens [48i, 48i+64) so neighbors share 16 tokens; pure
    // narrow split+explode, no shuffle at any corpus scale.
    "d_chunks" -> ((s, dir) =>
      Sampling.chunkTokens(s.read.parquet(s"$dir/documents.parquet"),
        col("text"), window = 64, stride = 48)),

    // ----------------------------------------------------------------
    // LLM track: similarity search over embeddings
    // ----------------------------------------------------------------
    "e_knn_brute" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.bruteKnn(vecs, vecs.where(col("vec_id") < 5), k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("sim"))
    }),

    "e_lsh_knn" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      // floor preserves the 8-bit fixture recall; bits rise with n
      Similarity.lshKnn(vecs, k = 3,
          bits = Similarity.lshBitsPlan(vecs.count(), floor = 8))
        .where(col("query_id") < 50)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("sim"))
    }),

    // OR-amplified multi-table LSH ANN (recall path; RecallSpec holds
    // recall@10 >= 0.9 vs bruteKnn at 24 tables)
    "e_lsh_knn_multi" -> ((s, dir) => {
      val vecs = graft.Tuning.spreadTinyInput(s.read.parquet(s"$dir/embeddings.parquet"))
      Similarity.lshKnnMulti(vecs, k = 3, dim = 64, bits = 4, tables = 8)
        .where(col("query_id") < 50)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("sim"))
    }),

    // One distributed Lloyd's iteration (IVF training): per-centroid
    // dimension means after nearest-centroid assignment.
    "e_kmeans_step" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val centroids = vecs.where(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      Similarity.kmeansStep(vecs, centroids)
        .select(col("centroid_id"), col("pos").cast("long").as("pos"),
          round(col("m"), 4).as("m"))
    }),

    "e_ivf_assign" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val centroids = vecs.where(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      Similarity.ivfAssign(vecs, centroids)
    }),

    // Greedy k-center (farthest-point) seeding: 4 rounds of broadcast
    // centers → one corpus scan → TakeOrdered(1); deterministic argmax
    // (lowest id on ties), no seeded RNG.
    "e_kcenter" -> ((s, dir) =>
      Similarity.kcenterInit(
        s.read.parquet(s"$dir/embeddings.parquet"), k = 4)),

    // k-means|| (Scalable K-Means++): 2 oversampling rounds at l=4
    // (one corpus pass each, md5-uniform draws), assignment weights,
    // weighted farthest-point reduction to k=4 — candidates, weights
    // and final centers all under the hash oracle.
    "e_kmeanspp_init" -> ((s, dir) =>
      Similarity.kmeansParallelInit(
        s.read.parquet(s"$dir/embeddings.parquet"), k = 4, rounds = 2, l = 4.0)),

    // full Lloyd's-loop TRAINING (k=4, 3 iterations): model on the
    // driver, ONE job per iteration (map-only argmax assignment
    // against centroid literals + a (centroid, dim) hash aggregate),
    // means floored to the 2^-20 grid before they feed forward — the
    // entire quantized centroid trace hash-matches the CTE-unrolled
    // DuckDB twin.
    "e_kmeans_train" -> ((s, dir) =>
      Similarity.kmeansTrain(
        s.read.parquet(s"$dir/embeddings.parquet"), k = 4, iters = 3)._1),

    // train → serve: every vector assigned against the trained
    // centroids; the whole loop PLUS the serving cosine sits under
    // the hash oracle (the d_quality_clf_trained pattern).
    "e_kmeans_trained" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = Similarity.kmeansTrain(vecs, k = 4, iters = 3)._2
      Similarity.ivfAssign(vecs, cents)
    }),

    // train → assign → LABEL: c-TF-IDF topic terms (BERTopic) for the
    // trained k-means clusters — embedding clusters turned back into
    // readable topics, the whole pipeline under one hash oracle.
    "d_cluster_terms" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = Similarity.kmeansTrain(vecs, k = 4, iters = 3)._2
      val asg = Similarity.ivfAssign(vecs, cents)
        .select(col("vec_id").as("doc_id"), col("centroid_id"))
      TextStats.clusterTerms(docs, asg, topK = 5)
    }),

    // the full ANN lifecycle under ONE oracle: train the coarse
    // quantizer (3 Lloyd iterations), build the IVF index on the
    // trained cells, serve top-5 at the rule's nprobe — train →
    // index → serve end-to-end hash-matched.
    "e_ivf_trained_search" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = Similarity.kmeansTrain(vecs, k = 4, iters = 3)._2
      Similarity.ivfSearch(vecs, cents, vecs.where(col("vec_id") < 5),
          k = 5, nprobe = Similarity.nprobePlan(4, Similarity.ServeRecallTarget))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("sim"))
    }),

    // chunk → document mean-pooling (the retrieval-serving reduction
    // for chunked long docs): 8 consecutive chunk vectors pool into
    // one document embedding; sorted folds keep the float sums
    // engine-identical.
    "e_doc_pool" -> ((s, dir) =>
      // one row per (doc_key, dimension) so the result is scalar-only
      // for the oracle comparator; pos is 1-based to match DuckDB's
      // generate_subscripts.
      s.read.parquet(s"$dir/embeddings.parquet")
        .select(floor(col("vec_id") / 8).cast("long").as("doc_key"),
          col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("doc_key", "pos")
        .agg((aggregate(
          array_sort(collect_list(struct(col("vec_id"),
            col("v").cast("double").as("v")))),
          lit(0.0), (a, e) => a + e.getField("v")) / count(lit(1))).as("m"))
        .select(col("doc_key"), (col("pos") + 1).cast("long").as("pos"),
          round(col("m"), 4).as("pooled"))),

    // nearest-centroid classification confusion: assign each vector
    // to its max-cosine label centroid (broadcast |labels|-sized
    // table), confusion vs the true label — the centroid-quality
    // companion to e_knn_classify.
    "e_ncc" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = vecs
        .select(col("label"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg((aggregate(
          array_sort(collect_list(struct(col("vec_id"),
            col("v").cast("double").as("v")))),
          lit(0.0), (a, e) => a + e.getField("v")) / count(lit(1))).as("m"))
        .groupBy("label")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("centroid"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id")
        .orderBy(col("sim").desc, col("c_label").asc)
      vecs.crossJoin(broadcast(cents
          .select(col("label").as("c_label"), col("centroid"))))
        .withColumn("sim", Similarity.cosine(col("embedding"), col("centroid")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .groupBy(col("label").as("actual"), col("c_label").as("predicted"))
        .agg(count(lit(1)).as("n"))
    }),

    // intra-label cohesion: cosine of every vector to its label
    // centroid (clustering-quality / outlier audit). Centroid means
    // fold in vec_id order (sorted fold — engine-identical floats);
    // the |labels|-sized centroid table broadcasts back.
    "e_cohesion" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = vecs
        .select(col("label"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg((aggregate(
          array_sort(collect_list(struct(col("vec_id"),
            col("v").cast("double").as("v")))),
          lit(0.0), (a, e) => a + e.getField("v")) / count(lit(1))).as("m"))
        .groupBy("label")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("centroid"))
      vecs.join(broadcast(cents), Seq("label"))
        .select(col("label"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("centroid")), 4)
            .as("cos_centroid"))
    }),

    // one Lloyd iteration from the k-center seeds — the two
    // primitives composed (spread seeding feeding IVF training).
    "e_kmeans_kcenter" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val seeds = Similarity.kcenterInit(vecs, k = 4)
        .select(col("rank"), col("vec_id"))
      val centroids = seeds
        .join(vecs, Seq("vec_id"))
        .select((col("rank") - 1).as("centroid_id"), col("embedding").as("centroid"))
      Similarity.kmeansStep(vecs, centroids)
        .select(col("centroid_id"), col("pos").cast("long").as("pos"),
          round(col("m"), 4).as("m"))
    }),

    // FAISS-style SQ8: per-dim (min, scale) trained in one elementwise
    // aggregate, 1-byte codes, asymmetric L2 against raw queries —
    // the 4×-memory-compression serve path.
    "e_sq8_search" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.sq8Search(vecs, vecs.where(col("vec_id") < 5), k = 5, dim = 64)
    }),

    // Matryoshka truncate-then-rerank: coarse cosine on the first 16
    // dims (top-20 shortlist), exact full-dim rerank to top-5.
    "e_mrl_search" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.mrlSearch(vecs, vecs.where(col("vec_id") < 5),
        k = 5, coarseDim = 16, rerank = 20)
    }),

    // Binary quantization: 1 sign bit per dimension (64 bits in two
    // 32-bit words — a 32× memory compression), symmetric Hamming
    // shortlist of 20, exact cosine rerank to top-5. The memory-floor
    // member of the compression family next to SQ8 (8 bits/dim) and
    // MRL (prefix dims).
    "e_bq_search" -> ((s, dir) => {
      val vecs = graft.Tuning.spreadTinyInput(s.read.parquet(s"$dir/embeddings.parquet"))
      Similarity.bqSearch(vecs, vecs.where(col("vec_id") < 5),
        k = 5, rerank = 20, dim = 64)
    }),

    // recall@5 of the 1-bit path vs brute ground truth on the same
    // probes — the rerank-size tuning harness, like e_ivf_recall for
    // nprobe.
    "e_bq_recall" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = vecs.where(col("vec_id") < 5)
      Similarity.recallAtK(
        Similarity.bqSearch(vecs, queries, k = 5, rerank = 20, dim = 64),
        Similarity.bruteKnn(vecs, queries, k = 5), k = 5)
    }),

    // Johnson–Lindenstrauss random-projection search: ±1 sign matrix
    // from md5 parity (engine-portable, regenerated not broadcast),
    // 64 → 32 dims map-only, normalized so projected L2 is angular,
    // shortlist of 40, exact cosine rerank to top-5 — the
    // dimensionality-reduction member of
    // the compression family next to BQ (1 bit/dim) and SQ8.
    "e_rp_search" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.rpSearch(vecs, vecs.where(col("vec_id") < 5),
        k = 5, rerank = 40, dim = 64, m = 32)
    }),

    // recall@5 of the 32-dim projected path vs brute ground truth on
    // the same probes — the m-vs-recall tuning harness. Measured on
    // this (isotropic, tiny-margin) fixture: 0.48 at m=32/rerank=40,
    // on par with the 1-bit bq path; m alone barely moves it because
    // the true top-5 cosine margins sit inside the JL distortion.
    "e_rp_recall" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = vecs.where(col("vec_id") < 5)
      Similarity.recallAtK(
        Similarity.rpSearch(vecs, queries, k = 5, rerank = 40, dim = 64, m = 32),
        Similarity.bruteKnn(vecs, queries, k = 5), k = 5)
    }),

    // distributed PCA, top component by power iteration: ONE Gram
    // job (d²-bounded shuffle), 4 driver-side matvec/normalize
    // rounds on the 2^-20 grid — the full (iter, pos, v) trace under
    // the hash oracle.
    "e_pca_power" -> ((s, dir) =>
      Similarity.pcaPowerTrain(
        s.read.parquet(s"$dir/embeddings.parquet"), dim = 64, iters = 4)._1),

    // train → serve: every vector's score along the learned top
    // component — map-only dot against the final iterate.
    "e_pca_project" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val v = Similarity.pcaPowerTrain(vecs, dim = 64, iters = 4)._2
      vecs.select(col("vec_id"),
        (round(Similarity.dot(col("embedding"), typedLit(v.toSeq)), 4) + 0.0).as("score"))
    }),

    // top-2 components by Hotelling deflation: still ONE corpus job
    // (the shared Gram); λ₁-deflation + second power loop are pure
    // driver arithmetic — both final components hash-gated.
    "e_pca_top2" -> ((s, dir) =>
      Similarity.pcaTop2(
        s.read.parquet(s"$dir/embeddings.parquet"), dim = 64, iters = 4)._1),

    // the 2-D projector: both scores per vector, map-only.
    "e_pca_project2" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val (_, v1, v2) = Similarity.pcaTop2(vecs, dim = 64, iters = 4)
      vecs.select(col("vec_id"),
        (round(Similarity.dot(col("embedding"), typedLit(v1.toSeq)), 4) + 0.0).as("score1"),
        (round(Similarity.dot(col("embedding"), typedLit(v2.toSeq)), 4) + 0.0).as("score2"))
    }),

    // IVF-Flat search: probe the 2 nearest of 8 cells per query, score
    // cosine inside the probed cells only (one equi-join on the cell
    // key — the FAISS-style serve path over the ivfAssign index).
    "e_ivf_search" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val centroids = vecs.where(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      Similarity.ivfSearch(vecs, centroids, vecs.where(col("vec_id") < 5),
          k = 5,
          nprobe = Similarity.nprobePlan(8, Similarity.ServeRecallTarget))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("sim"))
    }),

    // kNN label propagation: majority label among the 5 nearest
    // neighbors vs the probe's own label — auto-labeling eval; one
    // result-sized vote aggregate over any neighbor relation.
    "e_knn_classify" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.knnClassify(
        Similarity.bruteKnn(vecs, vecs.where(col("vec_id") < 20), k = 5), vecs)
    }),

    // semi-supervised label propagation (Zhu & Ghahramani): 50 seed
    // labels spread over the kNN graph for 2 rounds — weak-
    // supervision auto-labeling. Edges come from the bucketed LSH
    // path (the operator is edge-agnostic): the edge build joins on
    // the sign bucket, never corpus² — a brute edge set measured 11 s
    // at sf0.1 where this shape reads ~1.5 s.
    "e_label_prop" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      // bits corpus-adaptive (footer rowcount): fixed 4-bit buckets
      // probed 36x/decade at x10 (quadratic in-bucket candidates);
      // lshBitsPlan holds expected bucket size at <= 32 vectors
      val edges = Similarity.lshKnn(vecs, k = 5,
          bits = Similarity.lshBitsPlan(vecs.count(), floor = 4))
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      val seeds = vecs.where(col("vec_id") < 50)
        .select(col("vec_id").as("id"), col("label"))
      Similarity.labelPropagate(edges, seeds, rounds = 2)
    }),

    // hard-negative triplet mining (contrastive-training batch prep):
    // per anchor the top same-label positive + the 3 most-similar
    // wrong-label vectors with the pos−neg margin; one corpus scan
    // against the broadcast anchor batch, both roles from the same
    // scored relation via rank windows.
    "e_hard_negatives" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.hardNegatives(vecs, vecs.where(col("vec_id") < 8), negK = 3)
    }),

    // SemDeDup: cluster-scoped embedding near-dup pruning — pair
    // generation bounded to the cluster key equi-join, keep-lowest-id.
    "d_semdedup" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val centroids = vecs.where(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      Similarity.semanticDedup(vecs, centroids, threshold = 0.3)
    }),

    // ANN self-evaluation: recall@5 of the IVF path against the brute
    // ground truth on the same probes — the nprobe-tuning harness as
    // a first-class query (both sides result-sized).
    "e_ivf_recall" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val centroids = vecs.where(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      val queries = vecs.where(col("vec_id") < 5)
      Similarity.recallAtK(
        Similarity.ivfSearch(vecs, centroids, queries, k = 5,
          nprobe = Similarity.nprobePlan(8, Similarity.ServeRecallTarget)),
        Similarity.bruteKnn(vecs, queries, k = 5), k = 5)
    }),

    // the nprobePlan rule productized as its own eval: one row per
    // recall target — the rule's chosen nprobe and the MEASURED mean
    // recall@5 at that operating point vs the brute ground truth.
    // target 1.0 degenerates to the exhaustive scan (recall exactly
    // 1.0 — the self-check row). Both the rule and the measurement
    // run under the hash oracle (twin consumes nprobePlanSql).
    "e_nprobe_curve" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      // round-15: the curve measures the rule where it OPERATES —
      // corpus-sized nlist (ivfPlan's √n rule, like every serve
      // query) instead of the old fixed-8 fixture, with the
      // assignment served from the ingest-owned AnnIndex memo. The
      // ScaleProbe leg re-measures this query at x10/x100 (nlist
      // 64/512+), validating the √(nprobe/nlist) floor as nlist grows.
      val nlist = Similarity.ivfPlan(vecs.count())
      val centroids = vecs.where(col("vec_id") < nlist)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      val assign = graft.llm.AnnIndex.ivfCells(s, dir, vecs, centroids, nlist)
      val queries = vecs.where(col("vec_id") < 5)
      val brute = Similarity.bruteKnn(vecs, queries, k = 5)
      Seq(0.25, 0.5, 0.7, 1.0).map { t =>
        val np = Similarity.nprobePlan(nlist, t)
        Similarity.recallAtK(
          Similarity.ivfSearch(vecs, centroids, queries, k = 5, nprobe = np,
            assignment = Some(assign)),
          brute, k = 5)
          .agg((round(avg(col("recall")), 4) + 0.0).as("mean_recall"))
          .select(lit(t).as("recall_target"), lit(np.toLong).as("nprobe"),
            col("mean_recall"))
      }.reduce(_ union _)
    }),

    // IVF index health: per-cell population and share of the corpus —
    // the drift gauge StreamAnnIndex.maxCellShare serves on, as a
    // first-class query (a cell share drifting toward 1 is the signal
    // that triggers an epoch'd re-index). The assignment comes from
    // AnnIndex.ivfCells — the argmax kernel (emits n rows, never
    // n·nlist, with the corpus-scaled nlist this query uses; its
    // DuckDB twin ranks a join to the same argmax) — memoized as ingest-
    // owned state, so the gauge rides the same index the serve
    // queries read instead of re-deriving per call. The share window
    // runs over the ALREADY-AGGREGATED nlist-row relation —
    // model-sized, never corpus-sized.
    "e_cell_balance" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val nlist = Similarity.ivfPlan(vecs.count())
      val centroids = vecs.where(col("vec_id") < nlist)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      graft.llm.AnnIndex.ivfCells(s, dir, vecs, centroids, nlist)
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_vecs"))
        .withColumn("share",
          round(col("n_vecs").cast("double") /
            sum(col("n_vecs")).over(
              org.apache.spark.sql.expressions.Window.partitionBy()), 4) + 0.0)
    }),

    "e_neardup" -> ((s, dir) =>
      Similarity.embeddingNearDups(
        s.read.parquet(s"$dir/embeddings.parquet"), threshold = 0.3, bits = 8)),

    // semantic decontamination: drop corpus vectors cosine-near ANY
    // eval vector (broadcast eval, one corpus scan, zero corpus
    // shuffle) — catches paraphrased leakage exact n-grams miss.
    "e_decon_sem" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.semanticDecon(vecs, vecs.where(col("vec_id") % 97 === 0),
          threshold = 0.95)
        .select(col("vec_id"), col("label").cast("long").as("label"))
    }),

    // PQ/ADC search: 64-d vectors as 8 codes against 8-entry
    // deterministic-init codebooks; corpus side joins the broadcast
    // query lookup tables on (sub, code) and never touches raw
    // vectors. (Training loop exercised in PQSpec; the oracle pins
    // encode + ADC with init codebooks.)
    "e_pq_search" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val books = Similarity.pqTrain(vecs, m = 8, k = 8, iters = 0, dim = 64)
      val codes = Similarity.pqEncode(vecs, books, m = 8, dim = 64)
      Similarity.pqSearch(codes, books, vecs.where(col("vec_id") < 5),
          k = 5, m = 8, dim = 64)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("d2"))
    }),

    // IVF-PQ composed search: cell-bounded candidates × ADC scoring —
    // the FAISS serving shape; candidates never touch raw vectors.
    "e_ivfpq_search" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val centroids = vecs.where(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      val books = Similarity.pqTrain(vecs, m = 8, k = 8, iters = 0, dim = 64)
      Similarity.ivfPqSearch(vecs, centroids, books,
          vecs.where(col("vec_id") < 5), k = 5, m = 8, dim = 64, nprobe = 3)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("d2"))
    }),

    "d_cluster_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.minhashNearDups(docs, col("text"), col("doc_id"), threshold = 0.5)
        .select("id_a", "id_b")
      Dedup.clusters(pairs).select(col("id").as("doc_id"), col("cluster_id"))
    }),

    // quality-aware near-dup survivor selection: production curation
    // keeps the BEST member of each near-dup cluster (highest quality
    // score, lowest doc_id tiebreak), not first-by-id — e.g. the
    // highest-quality mirror of a syndicated article. Same bucketed
    // MinHash CC cluster pass as d_cluster_dedup; the survivor pick
    // is one rank window over cluster-sized groups (singletons are
    // their own group), so the added cost is result-sized.
    "d_cluster_keep_best" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.minhashNearDups(docs, col("text"), col("doc_id"), threshold = 0.5)
        .select("id_a", "id_b")
      val cl = Dedup.clusters(pairs).select(col("id").as("doc_id"), col("cluster_id"))
      val scored = docs
        .select(col("doc_id"), TextStats.qualityScore(col("text")).as("quality"))
        .join(cl, Seq("doc_id"), "left_outer")
        .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
      val w = Window.partitionBy("grp")
        .orderBy(col("quality").desc, col("doc_id").asc)
      scored.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select(col("doc_id"), col("grp").cast("long").as("cluster_id"),
          col("quality"))
    }),

    // split-leakage audit: how many verified near-dup pairs straddle
    // splits under the naive id-keyed draw vs the cluster-keyed one
    // (which is leak-free BY CONSTRUCTION — the audit pins the 0).
    // One pair-relation pass + a doc-sized label join, two result rows.
    "d_split_audit" -> ((s, dir) => {
      val fr = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.minhashNearDups(docs, col("text"), col("doc_id"), threshold = 0.5)
        .select("id_a", "id_b")
      val pairsM = graft.Lineage.truncateDeferred(pairs)
      val cl = Dedup.clusters(pairsM).withColumnRenamed("id", "doc_id")
      val keyed = docs.select("doc_id").join(cl, Seq("doc_id"), "left_outer")
        .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
      val lab = graft.llm.Sampling.splitGrouped(
          graft.llm.Sampling.split(keyed, fr).withColumnRenamed("split", "sp_id"),
          fr, col("grp"))
        .select(col("doc_id"), col("sp_id"), col("split").as("sp_grp"))
      val j = pairsM
        .join(lab.select(col("doc_id").as("id_a"), col("sp_id").as("a_id"),
          col("sp_grp").as("a_grp")), Seq("id_a"))
        .join(lab.select(col("doc_id").as("id_b"), col("sp_id").as("b_id"),
          col("sp_grp").as("b_grp")), Seq("id_b"))
      j.groupBy().agg(
          count(lit(1)).as("np"),
          sum(when(col("a_id") =!= col("b_id"), 1L).otherwise(0L)).as("s_id"),
          sum(when(col("a_grp") =!= col("b_grp"), 1L).otherwise(0L)).as("s_grp"))
        .select(explode(array(
          struct(lit("id_keyed").as("policy"), col("np").as("n_pairs"),
            col("s_id").as("n_straddle")),
          struct(lit("group_keyed").as("policy"), col("np").as("n_pairs"),
            col("s_grp").as("n_straddle")))).as("r"))
        .select("r.policy", "r.n_pairs", "r.n_straddle")
    }),

    // leakage-safe split: the hash draw keys on the near-dup CLUSTER
    // (singletons on their own id), so near-duplicate documents never
    // straddle train/val/test — the split-contamination guard every
    // eval pipeline needs. One narrow hash filter on top of the
    // cluster relation; docs in no pair join nothing.
    "d_split_leakage" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.minhashNearDups(docs, col("text"), col("doc_id"), threshold = 0.5)
        .select("id_a", "id_b")
      val cl = Dedup.clusters(pairs).withColumnRenamed("id", "doc_id")
      graft.llm.Sampling.splitGrouped(
          docs.join(cl, Seq("doc_id"), "left_outer"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
          coalesce(col("cluster_id"), col("doc_id")))
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("grp"), col("split"))
    }),

    // fill-in-the-middle training examples (PSM order): two id-hashed
    // cut points per doc, map-only reassembly — zero shuffle at any
    // scale; the cut fractions reuse the engine-portable salted-hash
    // primitive so the twin reproduces every span byte for byte.
    "d_fim" -> ((s, dir) =>
      graft.llm.Sampling.fimTransform(
        s.read.parquet(s"$dir/documents.parquet"), col("text"), col("doc_id"))),

    // SimCSE/Contriever positive crop pairs: two md5-placed half-
    // length token spans per doc + their overlap — the contrastive-
    // pretraining positives, map-only and retry-reproducible.
    "d_crop_pairs" -> ((s, dir) =>
      graft.llm.Sampling.cropPairs(
        s.read.parquet(s"$dir/documents.parquet"), col("text"), col("doc_id"))),

    // T5 span corruption: deterministic per-position coins, runs of
    // masked words become sentinel spans, (corrupted, targets) pair
    // out — one word explode + per-DOC windows + in-row ordered fold.
    "d_span_corrupt" -> ((s, dir) =>
      graft.llm.Sampling.spanCorrupt(
        graft.Tuning.spreadTinyInput(s.read.parquet(s"$dir/documents.parquet")), col("text"), col("doc_id"))),

    // leakage-safe split for IMAGES: the media twin of d_split_leakage
    // — perceptual near-dup clusters (dHash banded pairs → CC) become
    // the split key, so pixel-near-duplicate images can never straddle
    // train/val/test. Pure composition of shipped operators.
    "d_split_media" -> ((s, dir) => noSpread(s) {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // cluster-key shape, not pair-list shape: identical fingerprints
      // collapse to one CC node (Multimodal.dhashClusters) — the x10
      // probe measured the full pair graph at 102x pairs/decade (CC
      // 1.6 -> 54 s); the collapsed form is result-identical (the
      // twin still CCs the full pair graph) and rides the decode cost
      val cl = Multimodal.dhashClusters(
        Multimodal.dhash(Multimodal.withPngPayload(docs)), maxDist = 10)
      graft.llm.Sampling.splitGrouped(
          docs.join(cl, Seq("doc_id"), "left_outer"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
          coalesce(col("cluster_id"), col("doc_id")))
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("grp"), col("split"))
    }),

    // the LINEAR leakage-safe media split key: anchor-edge clusters
    // (band-collision CC — 4n star edges, no pairwise verify) instead
    // of verified-pair CC. Coarser-or-equal than d_split_media's key
    // by construction (verified pairs are a subgraph of band
    // collisions), which is the SAFE direction for a split key — and
    // the only shape that survives corpora whose verified pair mass
    // is quadratic (SCALE_NOTES finding 13 blocked d_split_media's
    // x100 leg at >60 min / 330M pairs).
    "d_split_media_linear" -> ((s, dir) => noSpread(s) {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val cl = Multimodal.dhashAnchorClusters(
        Multimodal.dhash(Multimodal.withPngPayload(docs)))
      graft.llm.Sampling.splitGrouped(
          docs.join(cl, Seq("doc_id"), "left_outer"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
          coalesce(col("cluster_id"), col("doc_id")))
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("grp"), col("split"))
    }),

    "p_labels" -> ((s, dir) =>
      graft.prom.Prom.labelRows(
        GraphiteTables.tags(s, dir).select("path").distinct())),

    // /api/v1/query_range PromQL subset: instant selector (most recent
    // sample per grid point within the lookback) and a range function,
    // over the tagged points. Slot-explode + one hash agg — no range
    // join (PLAN_NOTES round 6). The testdata event stream is sparse
    // (~3 clicks/series/week), so the grid is month-long with 6 h
    // steps and a 1 d lookback/window for meaningful row coverage.
    "p_query_range" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.Selector(Seq(("__name__", "=", "events"), ("type", "=", "click"))),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // plain-from-tagged escape hatch (finder/plain_from_tagged.go:
    // 16-124): graphite{target="<glob>"} routes to the PLAIN index —
    // the glob resolves through the ordinary plain finder, samples
    // come from the plain points table, and each found dotted path is
    // re-labeled into its synthetic tagged storage form (rename +
    // node<N> labels + the metric label, sorted, query-escaped).
    // node5 names a segment past the paths' depth — dropped, like the
    // reference. The whole route then grids through the same
    // query_range evaluator as native tagged selectors.
    "p_plain_from_tagged" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrixGraphite(
        GraphiteTables.points(s, dir),
        GraphiteTables.index(s, dir),
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse(
          """graphite{target="events.click.*", rename="clicks",""" +
            """ node0="root", node1="etype", node5="missing"}""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    "p_query_range_avg" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.RangeFn("avg_over_time",
          graft.prom.PromQL.Selector(Seq(("__name__", "=", "events"), ("type", "=", "click"))),
          rangeSec = 86400L),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L)
        // fp-order-proof the oracle hash compare, like the other
        // floating aggregates
        .withColumn("value", round(col("value"), 6))),

    // `sum by (type) (events)` — the PromQL aggregation operator: the
    // per-series instant vector re-keyed to its `type` label and
    // summed per grid slot (one extra hash aggregate, name dropped
    // from the output series like Prometheus).
    "p_query_range_sum_by" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("sum by (type) (events)")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // `topk(3, events{type="click"})` — per grid slot, the 3 matched
    // series with the largest instant value (full label sets kept;
    // path tie-break pins the order). One window rank on t over the
    // fleet-sized slot rows — no per-slot driver loop.
    "p_query_topk" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("""topk(3, events{type="click"})""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // comparison filter (alert shape): instant-vector rows surviving
    // `> 50`, full label set and name kept (Prometheus filter mode).
    "p_query_cmp" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("""events{type="click"} > 50""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // offset modifier: yesterday's instant vector on today's grid —
    // identical plan over the shifted window, stamps shifted back.
    "p_query_offset" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("""events{type="click"} offset 1d""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // vector arithmetic: per-user click fraction = two aggregated
    // matrices equi-joined on (label set, slot) — the canonical
    // error-rate/CTR ratio query.
    "p_query_binop" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse(
          """sum by (user) (events{type="click"}) / sum by (user) (events)""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // `quantile by (type) (0.5, events)` — the per-slot cross-series
    // median within each type group (exact linear interpolation, like
    // Prometheus; DuckDB's quantile_cont is the same estimator).
    "p_query_quantile" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("quantile by (type) (0.5, events)")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // parenthesized nesting: parens force + before * (without them
    // the * would bind tighter); one-to-one matching keys the right
    // side's five types down to the left's click series.
    "p_query_paren" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("""(events{type="click"} + events) * 2""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // `unless` alert-suppression shape: click series minus the slots
    // where the same series trips `> 50` — one anti-join per slot on
    // the full label set.
    "p_query_setop" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse(
          """events{type="click"} unless (events{type="click"} > 50)""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // `or` over two disjoint filtered alert vectors: left rows plus
    // the right rows whose label set has no left entry that slot.
    "p_query_or" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse(
          """(events{type="click"} > 50) or (events{type="view"} > 20)""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // `> bool` — 0/1-valued comparison with arithmetic's label
    // handling (name dropped), the alert-expression building block.
    "p_query_bool" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("""events{type="click"} > bool 50""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // many-to-one: each series divided by its type-group sum
    // (`group_left` share-of-total) — the "one" side broadcast-sized,
    // both sides equi-joined on (type, slot), never a cartesian.
    "p_query_groupleft" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse(
          "events / on(type) group_left sum by (type) (events)")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // histogram_quantile over cumulative `le` buckets: the bucket
    // matrix is built from events (each sample serves its ≤4 grid
    // slots, then fans out to the buckets ≥ its value — both explodes
    // bounded), one hash-agg per (type, le, slot), then the kernel's
    // labels-minus-le regroup + in-row interpolation. NaN rows (a
    // group with a lone +Inf bucket) are dropped on both sides.
    "p_query_histq" -> ((s, dir) => {
      val step = 21600L; val win = 86400L; val lastSlot = 120L
      val ev = GraphiteTables.events(s, dir)
      val time = (col("ts") / 1000000000L).cast("long")
      val offs = time - lit(WFrom)
      val nMin = greatest(lit(0L), floor((offs + lit(step - 1)) / lit(step)).cast("long"))
      val nMax = least(lit(lastSlot), floor((offs + lit(win - 1)) / lit(step)).cast("long"))
      val buckets = Seq("25" -> 25.0, "50" -> 50.0, "100" -> 100.0,
        "+Inf" -> Double.PositiveInfinity)
      val leArr = array(buckets.map { case (s0, v) =>
        struct(lit(s0).as("le"), lit(v).as("ub"))
      }: _*)
      val hist = ev
        .select(col("event_type"), col("value"),
          col("ts"), explode(leArr).as("b"))
        .where(col("value") <= col("b.ub"))
        .withColumn("n_min", nMin).withColumn("n_max", nMax)
        .where(col("n_min") <= col("n_max"))
        .select(col("event_type"), col("b.le").as("le"),
          explode(sequence(col("n_min"), col("n_max"))).as("n"))
        .groupBy("event_type", "le", "n")
        .agg(count(lit(1)).cast("double").as("value"))
        .select(
          concat(lit("h?le="), col("le"), lit("&type="), col("event_type")).as("path"),
          (lit(WFrom) + col("n") * lit(step)).as("t"),
          col("value"))
      graft.prom.PromQL.histogramQuantileMatrix(hist, 0.5)
        .where(!isnan(col("value")))
        .withColumn("value", round(col("value"), 6))
    }),

    // remote-read sample selection (`/api/v1/read` core): matcher
    // find → broadcast semi-join → window → version dedup; raw
    // samples, no grid — the caller's engine does the math.
    "p_remote_read" -> ((s, dir) =>
      graft.prom.Prom.remoteReadSelect(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        Seq(("__name__", "=", "events"), ("type", "=", "click")),
        startS = WFrom, endS = WFrom + 30L * 86400L)),

    // `without` grouping: keep every label but `user` (and the name)
    // — same single extra hash aggregate as `by`, inverted key.
    "p_query_without" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("sum without (user) (events)")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // scalar math: clamp into [40, 60] — name dropped, labels kept,
    // one projection over the matrix.
    "p_query_math" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("""clamp(events{type="click"}, 40, 60)""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // gauge delta over the range window (classic last-minus-first,
    // same declared divergence as rate).
    "p_query_delta" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("delta(events[1d])")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // instant rate from the last two samples, counter-reset aware.
    // upstream-parity extrapolated rate (the xrate extension name):
    // window-edge extrapolation capped at half the mean sample
    // spacing, counter zero-crossing clamp — same one-pass slot
    // aggregate as rate, extra column math only.
    "p_query_xrate" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("""xrate(events{type="view"}[1d])""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // plain rate() now defaults to upstream's extrapolatedRate — this
    // query pins the default against the same extrapolation twin the
    // xrate alias is checked with (different selector so both rows
    // stay independently meaningful).
    "p_query_rate_extrap" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("""rate(events{type="click"}[1d])""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    "p_query_irate" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("irate(events[1d])")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // least-squares slope per (series, slot) — plain sum aggregates
    // over slot-centered time, no sample list.
    "p_query_deriv" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("deriv(events[1d])")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // linear prediction one hour past each slot (the disk-full alert
    // shape): intercept-at-slot + slope · 3600.
    "p_query_predict" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("predict_linear(events[1d], 3600)")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // exact interpolated in-window quantile.
    "p_query_quantile_ot" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("quantile_over_time(0.9, events[1d])")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // value-change count per window (sorted in-aggregate pair fold).
    "p_query_changes" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("changes(events[1d])")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // absent() on a selector matching nothing: 1 at every grid slot,
    // labels from the equality matchers (grid anti-join, result-sized).
    "p_query_absent" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("""absent(events{type="nosuch"})""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // label_replace: derive app=x-click from the type label via an
    // anchored capture-group regex — pure path rewrite, no shuffle.
    "p_query_label_replace" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse(
          """label_replace(events{type="click"}, "app", "x-$1", "type", "(cl.*)")""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // subquery: inner sum(events) on its own aligned 6h grid, outer
    // max_over_time over each slot's trailing day of inner points —
    // one extra evaluation pass, same slot-aggregate plan.
    "p_query_subquery" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("max_over_time(sum(events)[1d:6h])")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // count_values: series-count histogram keyed by the (rounded,
    // Prometheus-formatted) sample value.
    "p_query_count_values" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse(
          """count_values("v", round(events{type="click"}))""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // time() as an element-wise scalar: seconds-since-last-sample
    // freshness (the staleness-alert shape) — no join, one projection.
    "p_query_time" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("time() - max_over_time(events[1d])")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // maintenance-window idiom: alert condition silenced outside
    // working hours via `and on()` against the hour() grid series.
    "p_query_hour" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse(
          """events{type="click"} > 50 and on() (hour() >= 6)""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // calendar grid series: month-length gating via days_in_month()
    // (the "31-day months only" alert-silencing idiom); the calendar
    // components route through the timezone-free DATE type.
    "p_query_datefns" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse(
          """events{type="click"} > 50 and on() (days_in_month() == 31)""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // vector-value form: each sample VALUE (here the sample stamp via
    // timestamp()) mapped through the calendar component — narrow
    // projection, metric name dropped.
    "p_query_date_vec" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse(
          """day_of_year(timestamp(events{type="click"}))""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // double exponential smoothing: sequential fold inside one
    // higher-order aggregate per (series, slot).
    "p_query_holt" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("holt_winters(events[1d], 0.5, 0.3)")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // upstream renamed holt_winters → double_exponential_smoothing
    // (experimental table): pin that the new name parses and evaluates
    // identically — same oracle SQL as p_query_holt
    "p_query_dexp" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse(
          "double_exponential_smoothing(events[1d], 0.5, 0.3)")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // sort_by_label_desc: the instant-RESPONSE ordering (the only
    // place Prometheus honors it). The vector is result-sized by
    // definition, so the orderInstant driver sort is the production
    // shape; the rank column exposes the order to the hash gate —
    // including the subtle rule that desc reverses the LABEL compare
    // only while the path tiebreak stays ascending.
    "p_query_sort_by_label" -> ((s, dir) => {
      import s.implicits._
      val expr = graft.prom.PromQL.parse("""sort_by_label_desc(events, "type")""")
        .fold(e => throw new IllegalArgumentException(e), identity)
      val at = WFrom + 7L * 86400L
      val inst = graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir), GraphiteTables.tags(s, dir),
        expr, start = at, end = at, step0 = 21600L, lookbackSec = 86400L)
      val rows = inst.select("path", "t", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      val ordered = graft.prom.PromQL.orderInstant(expr, rows)
        .getOrElse(rows.sortBy(_._1))
      ordered.zipWithIndex
        .map { case ((p, t, v), i) => (i + 1L, p, t, v) }
        .toSeq.toDF("rank", "path", "t", "value")
    }),

    // @ modifier: evaluation pinned to day 7 — one inner pass, the
    // result-sized vector replicated across the grid by explode.
    "p_query_at" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse(
          s"""events{type="click"} @ ${WFrom + 7L * 86400L}""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // limitk: at most 3 series per slot, deterministic path order.
    "p_query_limitk" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("limitk(3, events)")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // limit_ratio: deterministic ≈40% of series by the md5-of-path
    // draw — one narrow filter on the vector, no shuffle.
    "p_query_limit_ratio" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("limit_ratio(0.4, events)")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // grouped ranking: the per-group-best idiom (`topk by (type)`) —
    // one window rank per (group, slot), full label sets kept.
    "p_query_topk_by" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("topk by (type) (1, events)")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // absent_over_time: 1 where the range window holds no sample —
    // present_over_time's one-pass aggregate anti-joined to the grid.
    "p_query_absent_ot" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("""absent_over_time(events{type="nosuch"}[1d])""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // mad_over_time: two in-row interpolated medians per window.
    "p_query_mad" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("mad_over_time(events[1d])")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // first_over_time: the window's earliest sample (min_by on time),
    // same explode-onto-slots + one hash aggregate plan as the rest
    // of the *_over_time family.
    "p_query_first" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("first_over_time(events[1d])")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // atan2 as an infix vector-scalar operator (multiplicative tier).
    "p_query_atan2" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("""events{type="click"} atan2 100""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 4))),

    // timestamp(): the latest raw sample's OWN time per series — the
    // same one-pass slot aggregate as a selector, max(time) instead of
    // max_by(value, time).
    "p_query_timestamp" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("""timestamp(events{type="click"})""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // scalar(): per-slot exactly-one-series reduction of sum(events),
    // applied element-wise to the click vector via a broadcast join
    // on the slot — the fleet-relative-share idiom.
    "p_query_scalar" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse(
          """events{type="click"} / scalar(sum(events))""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // scalar-only arithmetic (`1+2`-style): no points scan at all —
    // one grid-range projection.
    "p_query_scalar_arith" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("2 * pi() + time() / 1000")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)),

    // trig + angle conversion over a vector (rounded: transcendental
    // libm results are not bit-pinned across engines).
    "p_query_trig" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("""deg(atan(events{type="click"} / 100))""")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 4))),

    // `or vector(0)`: the Grafana no-data fallback — the label-less
    // constant series fills slots where the left side is empty.
    "p_query_vector" -> ((s, dir) =>
      graft.prom.PromQL.evalMatrix(
        GraphiteTables.pointsTagged(s, dir),
        GraphiteTables.tags(s, dir),
        graft.prom.PromQL.parse("sum(events) or vector(0)")
          .fold(e => throw new IllegalArgumentException(e), identity),
        start = WFrom, end = WFrom + 30L * 86400L, step0 = 21600L,
        lookbackSec = 86400L)
        .withColumn("value", round(col("value"), 6))),

    // ----------------------------------------------------------------
    // LLM track: multimodal plumbing (binary payload, batch decode stub)
    // ----------------------------------------------------------------
    "m_features" -> ((s, dir) => {
      val docs = Multimodal.withPayload(s.read.parquet(s"$dir/documents.parquet"))
      Multimodal.extractFeatures(docs, dims = 8)
        .select(col("doc_id"), col("n_bytes"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          round(element_at(col("feature"), 1), 4).as("f0"))
    }),

    "m_resize" -> ((s, dir) =>
      Multimodal.resize(
        Multimodal.withPayload(s.read.parquet(s"$dir/documents.parquet")), 16, 16)
        .select(col("doc_id"), length(col("payload")).cast("long").as("n_bytes"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"))),

    "m_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.withPayload(s.read.parquet(s"$dir/documents.parquet")), stride = 64)
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
          col("frame_bytes").cast("long").as("frame_bytes"))),

    // REAL image codec (JDK ImageIO, no external libs): encode each
    // document as a genuine PNG, decode it back per partition, emit
    // decoded dims + pixel features. PNG is lossless → features are
    // deterministic; the compressed byte stream is writer-dependent,
    // so no SQL oracle — rows-only gate + pixel-exact ImageCodecSpec.
    "m_png_features" -> ((s, dir) =>
      Multimodal.extractImageFeatures(
        Multimodal.withPngPayload(s.read.parquet(s"$dir/documents.parquet")), bins = 8)
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(element_at(col("feature"), 1), 4).as("mean_r"),
          round(element_at(col("feature"), 4), 4).as("lum_bin0"))),

    // REAL resize: decode → nearest-neighbor rescale → PNG re-encode;
    // output meta comes from the decoded-and-scaled image.
    "m_png_resize" -> ((s, dir) =>
      Multimodal.extractImageFeatures(
        Multimodal.resizeImages(
          Multimodal.withPngPayload(s.read.parquet(s"$dir/documents.parquet")), 4, 3),
        bins = 4)
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(element_at(col("feature"), 2), 4).as("mean_g"))),

    // Perceptual image fingerprints over the REAL decode path: dHash
    // = horizontal luminance gradients of an 8×8 own-kernel
    // downsample — the media twin of simhash. PNG losslessness + the
    // pinned resize grid make the 56-bit fingerprint
    // SQL-reproducible from the text bytes.
    "m_dhash" -> ((s, dir) =>
      Multimodal.dhash(
        Multimodal.withPngPayload(s.read.parquet(s"$dir/documents.parquet")))),

    // banded-LSH near-duplicate IMAGE pairs verified by exact Hamming
    // distance — media dedup for a multimodal curation pipeline. The
    // join key is (band, value), never an all-pairs cross.
    "m_dhash_pairs" -> ((s, dir) =>
      Multimodal.dhashPairs(
        Multimodal.dhash(
          Multimodal.withPngPayload(s.read.parquet(s"$dir/documents.parquet"))),
        maxDist = 10)),

    // The corpus-scale fingerprint: 120 bits in two longs → four
    // 30-BIT bands, shrinking fixed-band-width LSH's n²/2^b birthday
    // term 2¹⁶ below the 56-bit form (SCALE_NOTES round-11 finding 4's
    // shipped fix) while keeping the d < 4 recall guarantee.
    // blank/degenerate-image filter: 16-bin luminance entropy over
    // the real decode path (exact integer histogram; c·ln c terms
    // floored to the 2^-20 grid in bin order, so the quantized terms
    // sum EXACTLY and the twin is bit-reproducible)
    "m_img_entropy" -> ((s, dir) =>
      Multimodal.imageEntropy(
        Multimodal.withPngPayload(s.read.parquet(s"$dir/documents.parquet")))),

    "m_dhash_wide" -> ((s, dir) =>
      Multimodal.dhashWide(
        Multimodal.withPngPayload(s.read.parquet(s"$dir/documents.parquet")))),

    "m_dhash_wide_pairs" -> ((s, dir) =>
      Multimodal.dhashPairsWide(
        Multimodal.dhashWide(
          Multimodal.withPngPayload(s.read.parquet(s"$dir/documents.parquet"))),
        maxDist = 20)),

    // The dedup SHAPE for quadratic-density corpora: measured at
    // ×1/×10/×100, the pair LIST above is ~0.4% of n²/2 at radius 20
    // (a corpus property — candidates:answer stays ~1.2×, so the
    // banding is near-optimal and the answer itself is quadratic).
    // Keep-first against per-bucket eldest anchors keeps candidates
    // at 4n and output ≤ n at ANY corpus size.
    // Band width is CORPUS-ADAPTIVE (Multimodal.dhashPlan): the rule
    // w >= ceil(log2 n) + 8 picks the most bands (best recall) whose
    // birthday candidate term stays <= n/64 — n from the parquet
    // footer rowcount (a metadata read, never a second decode pass).
    "m_dhash_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val bands = Multimodal.dhashPlan(docs.count(), nBits = 120)
      Multimodal.dhashDedupWide(
        Multimodal.dhashWide(Multimodal.withPngPayload(docs)),
        maxDist = 20, bands = bands)
    }),

    // Perceptual AUDIO fingerprints over the real WAV decode path:
    // frame-energy gradients (exact integer Σv² per frame) → 31 bits.
    // Media dedup's audio leg; same banded-pairs machinery as dHash.
    "m_afp" -> ((s, dir) =>
      Multimodal.audioFingerprint(s.read.parquet(s"$dir/documents.parquet"))),

    "m_afp_pairs" -> ((s, dir) =>
      Multimodal.dhashPairs(
        Multimodal.audioFingerprint(s.read.parquet(s"$dir/documents.parquet")),
        nBits = 32, bands = 4, maxDist = 5)),

    // VAD-style silence segmentation: voiced iff 4·energy > max
    // frame energy (exact integer threshold), runs merge to numbered
    // segments — the trim-silence primitive of audio curation
    "m_vad_segments" -> ((s, dir) =>
      Multimodal.audioSegments(s.read.parquet(s"$dir/documents.parquet"))),

    // the linear dedup shape for the AUDIO modality (modality-generic
    // fpAnchorDedup over the 31-bit frame-energy codes); bands sized
    // to the corpus by the same dhashPlan rule as the image leg, with
    // minBands=4 pinning the audio leg's recall floor — for a 32-bit
    // fingerprint the noise rule alone is vacuous (always the widest
    // 16-bit band, i.e. guaranteed radius Hamming<2 vs maxDist 5)
    "m_afp_dedup" -> ((s, dir) => noSpread(s) {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val bands = Multimodal.dhashPlan(docs.count(), nBits = 32, minBands = 4)
      Multimodal.fpAnchorDedup(
        Multimodal.audioFingerprint(docs),
        nBits = 32, bands = bands, maxDist = 5)
    }),

    // REAL audio codec (JDK WAV/PCM): seed-keyed sine payloads
    // round-tripped through the JDK encoder/decoder, RMS +
    // zero-crossing features out.
    "m_wav_features" -> ((s, dir) =>
      Multimodal.extractWavFeatures(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("n_samples"),
          round(col("rms"), 4).as("rms"), col("zero_crossings"))),

    // REAL video codec (MJPEG-in-AVI, pure JDK): genuine AVI payloads
    // written per partition, container-walked back, every 2nd frame
    // JPEG-decoded. The (frame_no, width, height) grid is arithmetic
    // in doc_id, so DuckDB pins the FULL write→parse→decode round
    // trip under the hard hash gate — dims come from the decoded
    // JPEGs, not the container metadata.
    "m_avi_frames" -> ((s, dir) =>
      Multimodal.sampleVideoFrames(
        Multimodal.withAviPayload(s.read.parquet(s"$dir/documents.parquet")),
        everyK = 2)
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))),

    // Decoded-pixel temporal features (mean luminance + inter-frame
    // motion). JPEG is lossy, so mean_lum/motion values are
    // codec-stream-dependent and stay pinned in VideoCodecSpec (with
    // error bounds vs the pre-encode gradients); the query projects
    // the DETERMINISTIC column — n_frames counts frames that actually
    // survived write→RIFF-walk→JPEG-decode, so the full-decode round
    // trip (ALL frames, vs m_avi_frames' every-2nd) sits under the
    // hash gate.
    "m_avi_motion" -> ((s, dir) =>
      Multimodal.videoMotion(
        Multimodal.withAviPayload(s.read.parquet(s"$dir/documents.parquet")))
        .select(col("doc_id"), col("n_frames"))),

    // the banded gate over the LOSSY leg m_avi_motion can't hash:
    // per-frame analytic luminance bands (pure (doc_id, text)
    // arithmetic, recomputed by the twin) + error bands of the REAL
    // decoded luminance/motion against the analytic values —
    // floor(|decoded − analytic|/0.01), 0 row-by-row iff the
    // write→RIFF-walk→JPEG-decode chain reproduces every frame
    // within tolerance (measured max err 0.00095 across sf0.01).
    "m_avi_motion_banded" -> ((s, dir) =>
      Multimodal.videoMotionBanded(s.read.parquet(s"$dir/documents.parquet"))))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = {
    // BPE merge learning (4 unrolled merge rounds) — shared between
    // the unpruned run and the minFreq-floored run ("/*PRUNE*/" hole)
    val bpeTrainSqlTpl =
      """WITH wf0 AS (
        |  SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS sym,
        |         CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents) t
        |  WHERE w <> '' GROUP BY 1/*PRUNE*/),
        |p1 AS (SELECT list_transform(generate_series(1, len(ss) - 1),
        |    i -> ss[i] || ' ' || ss[i + 1]) AS prs, freq
        |  FROM (SELECT string_split(sym, ' ') AS ss, freq FROM wf0)),
        |c1 AS (SELECT unnest(prs) AS pair, freq FROM p1),
        |n1 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM c1 GROUP BY 1),
        |t1 AS (SELECT pair, n, ' ' || pair || ' ' AS pat,
        |    ' ' || replace(pair, ' ', '') || ' ' AS rep
        |  FROM n1 ORDER BY n DESC, pair LIMIT 1),
        |wf1 AS (SELECT trim(replace(replace(replace(replace(replace(replace(' ' || w.sym || ' ', t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep)) AS sym, w.freq
        |  FROM wf0 w, t1 t),
        |p2 AS (SELECT list_transform(generate_series(1, len(ss) - 1),
        |    i -> ss[i] || ' ' || ss[i + 1]) AS prs, freq
        |  FROM (SELECT string_split(sym, ' ') AS ss, freq FROM wf1)),
        |c2 AS (SELECT unnest(prs) AS pair, freq FROM p2),
        |n2 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM c2 GROUP BY 1),
        |t2 AS (SELECT pair, n, ' ' || pair || ' ' AS pat,
        |    ' ' || replace(pair, ' ', '') || ' ' AS rep
        |  FROM n2 ORDER BY n DESC, pair LIMIT 1),
        |wf2 AS (SELECT trim(replace(replace(replace(replace(replace(replace(' ' || w.sym || ' ', t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep)) AS sym, w.freq
        |  FROM wf1 w, t2 t),
        |p3 AS (SELECT list_transform(generate_series(1, len(ss) - 1),
        |    i -> ss[i] || ' ' || ss[i + 1]) AS prs, freq
        |  FROM (SELECT string_split(sym, ' ') AS ss, freq FROM wf2)),
        |c3 AS (SELECT unnest(prs) AS pair, freq FROM p3),
        |n3 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM c3 GROUP BY 1),
        |t3 AS (SELECT pair, n, ' ' || pair || ' ' AS pat,
        |    ' ' || replace(pair, ' ', '') || ' ' AS rep
        |  FROM n3 ORDER BY n DESC, pair LIMIT 1),
        |wf3 AS (SELECT trim(replace(replace(replace(replace(replace(replace(' ' || w.sym || ' ', t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep)) AS sym, w.freq
        |  FROM wf2 w, t3 t),
        |p4 AS (SELECT list_transform(generate_series(1, len(ss) - 1),
        |    i -> ss[i] || ' ' || ss[i + 1]) AS prs, freq
        |  FROM (SELECT string_split(sym, ' ') AS ss, freq FROM wf3)),
        |c4 AS (SELECT unnest(prs) AS pair, freq FROM p4),
        |n4 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM c4 GROUP BY 1),
        |t4 AS (SELECT pair, n, ' ' || pair || ' ' AS pat,
        |    ' ' || replace(pair, ' ', '') || ' ' AS rep
        |  FROM n4 ORDER BY n DESC, pair LIMIT 1),
        |wf4 AS (SELECT trim(replace(replace(replace(replace(replace(replace(' ' || w.sym || ' ', t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep)) AS sym, w.freq
        |  FROM wf3 w, t4 t)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, string_split(pair, ' ')[1] AS lhs,
        |         string_split(pair, ' ')[2] AS rhs, replace(pair, ' ', '') AS merged, n FROM t1
        |  UNION ALL SELECT CAST(2 AS BIGINT), string_split(pair, ' ')[1],
        |         string_split(pair, ' ')[2], replace(pair, ' ', ''), n FROM t2
        |  UNION ALL SELECT CAST(3 AS BIGINT), string_split(pair, ' ')[1],
        |         string_split(pair, ' ')[2], replace(pair, ' ', ''), n FROM t3
        |  UNION ALL SELECT CAST(4 AS BIGINT), string_split(pair, ' ')[1],
        |         string_split(pair, ' ')[2], replace(pair, ' ', ''), n FROM t4)""".stripMargin
    // ---- WordPiece twin (d_wordpiece_train / d_wordpiece_encode) ----
    // Same unrolled-round shape as the BPE twin, with the likelihood-
    // ratio score: each round also aggregates unigram symbol counts
    // and the top-1 orders by n/(cu_l·cu_r) — the double division/
    // multiplication spelled identically to WordPiece.train, so the
    // choice is engine-exact. Merged symbols strip the right
    // operand's ## continuation prefix.
    def wpRound(k: Int): String = {
      val p = k - 1
      s"""u$k AS (SELECT u, CAST(sum(freq) AS BIGINT) AS cu
         |  FROM (SELECT unnest(string_split(sym, ' ')) AS u, freq FROM wf$p) GROUP BY 1),
         |n$k AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(ss) - 1),
         |      i -> ss[i] || ' ' || ss[i + 1])) AS pair, freq
         |    FROM (SELECT string_split(sym, ' ') AS ss, freq FROM wf$p)) GROUP BY 1),
         |t$k AS (SELECT np.pair, np.n, ' ' || np.pair || ' ' AS pat,
         |    ' ' || string_split(np.pair, ' ')[1] ||
         |      regexp_replace(string_split(np.pair, ' ')[2], '^##', '') || ' ' AS rep
         |  FROM n$k np
         |  JOIN u$k ul ON ul.u = string_split(np.pair, ' ')[1]
         |  JOIN u$k ur ON ur.u = string_split(np.pair, ' ')[2]
         |  ORDER BY np.n::DOUBLE / (ul.cu::DOUBLE * ur.cu::DOUBLE) DESC, np.pair LIMIT 1),
         |wf$k AS (SELECT trim(replace(replace(replace(replace(replace(replace(' ' || w.sym || ' ', t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep)) AS sym, w.freq
         |  FROM wf$p w, t$k t)""".stripMargin
    }
    val wpChainSql =
      """wf0 AS (
        |  SELECT replace(trim(regexp_replace(w, '(.)', '\1 ', 'g')), ' ', ' ##') AS sym,
        |         CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents) t
        |  WHERE w <> '' GROUP BY 1)""".stripMargin +
        (1 to 4).map(wpRound).mkString(",\n", ",\n", "")
    val wpMergedExpr =
      "string_split(pair, ' ')[1] || regexp_replace(string_split(pair, ' ')[2], '^##', '')"

    // DSIR importance weights — shared by d_dsir and d_dsir_sample
    val dsirSql =
      """WITH ws AS (
        |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, source,
        |    unnest(ws || list_transform(generate_series(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i + 1])) AS f
        |  FROM ws),
        |hashed AS (
        |  SELECT doc_id, (source IN ('src0', 'src1')) AS tgt,
        |    ('0x' || substr(md5(f), 1, 15))::bigint % 256 AS bucket
        |  FROM feats),
        |perdoc AS (SELECT doc_id, bucket, count(*)::bigint AS n
        |  FROM hashed GROUP BY 1, 2),
        |dist AS (SELECT bucket,
        |    sum(CASE WHEN tgt THEN 1 ELSE 0 END)::bigint AS ct,
        |    count(*)::bigint AS cr
        |  FROM hashed GROUP BY 1),
        |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM dist),
        |ratio AS (SELECT bucket,
        |    ln((ct + 1)::double / (tt + 256)) - ln((cr + 1)::double / (tr + 256)) AS lam
        |  FROM dist, tot),
        |agg AS (SELECT doc_id, list(n * lam ORDER BY bucket) AS cs,
        |    CAST(sum(n) AS BIGINT) AS n_feats
        |  FROM perdoc JOIN ratio USING (bucket) GROUP BY 1)
        |SELECT doc_id, n_feats,
        |  round(list_reduce(cs, (a, b) -> a + b), 4) + 0 AS log_weight
        |FROM agg""".stripMargin

    val pathsAllTime =
      "SELECT DISTINCT 'events.' AS path FROM events " +
        "UNION SELECT DISTINCT 'events.' || event_type || '.' FROM events " +
        "UNION SELECT DISTINCT 'events.' || event_type || '.user' || user_id FROM events"

    // simhash oracle mirroring Dedup.simhash (32 md5-derived bit votes)
    val words = "string_split_regex(trim(text), '\\s+')"
    val hashes = s"list_transform($words, w -> ('0x' || substr(md5(w), 1, 8))::bigint)"
    val simhashExpr = (0 until 32).map { b =>
      s"(CASE WHEN list_sum(list_transform($hashes, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")

    val sh3 = shinglesSql(3)
    // universal-hashing minhash mirroring Dedup.minhashSignatures:
    // 60-bit md5 base hash mod P, affine permutations (aᵢ·h + bᵢ) mod P
    val hsExpr =
      "list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::bigint % 2147483647)"
    val sigExprs = (0 until 8).map(i =>
      s"list_min(list_transform(hs, h -> (h * ${2 * i + 1} + ${1000003L * i}) % 2147483647)) AS sig_$i")
    val bandKeys = (0 until 4)
      .map(b => s"'$b' || '|' || sig_${2 * b} || '|' || sig_${2 * b + 1}")
    def minhashBandsOver(src: String): String =
      s"SELECT doc_id, unnest([${bandKeys.mkString(", ")}]) AS band FROM " +
        s"(SELECT doc_id, ${sigExprs.mkString(", ")} FROM " +
        s"(SELECT doc_id, $hsExpr AS hs FROM (SELECT doc_id, $sh3 AS sh FROM $src) s1) s2)"
    val minhashBands = minhashBandsOver("documents")

    // dHash 8×8 downsampled-luminance cells, recomputed from the
    // text bytes exactly like the m_png_* twins: src pixel index
    // i = sy·w + sx with sy = (gy·h)//8, sx = (gx·w)//8; channels
    // r = byte(i mod L), g = byte((31i+7) mod L), b = (131i) mod 256
    def dhashCellsSqlFor(gw: Int, gh: Int): String =
      s"""SELECT doc_id, gx, gy,
        |    299 * (CASE WHEN L > 0
        |      THEN ('0x' || substr(hx, 2 * (((gy * h // $gh) * w + (gx * w) // $gw) % L) + 1, 2))::int ELSE 0 END)
        |  + 587 * (CASE WHEN L > 0
        |      THEN ('0x' || substr(hx, 2 * ((((gy * h // $gh) * w + (gx * w) // $gw) * 31 + 7) % L) + 1, 2))::int ELSE 0 END)
        |  + 114 * ((((gy * h // $gh) * w + (gx * w) // $gw) * 131) % 256) AS lum
        |  FROM (SELECT doc_id, hex(encode(text)) AS hx,
        |               octet_length(encode(text)) AS L,
        |               CAST(4 + doc_id % 13 AS INT) AS w,
        |               CAST(4 + doc_id % 11 AS INT) AS h
        |        FROM documents) d,
        |       LATERAL (SELECT unnest(generate_series(0, ${gw - 1})) AS gx) tx,
        |       LATERAL (SELECT unnest(generate_series(0, ${gh - 1})) AS gy) ty""".stripMargin
    val dhashCellsSql = dhashCellsSqlFor(8, 8)
    // wide (16×8) grid → 120 fingerprint bits split lo/hi, 60 each
    val dhashWideFpSql =
      s"""SELECT a.doc_id,
        |  CAST(sum(CASE WHEN b.lum > a.lum AND a.gy < 4
        |    THEN (1::bigint << CAST(a.gy * 15 + a.gx AS INT)) ELSE 0 END) AS BIGINT) AS fp_lo,
        |  CAST(sum(CASE WHEN b.lum > a.lum AND a.gy >= 4
        |    THEN (1::bigint << CAST((a.gy - 4) * 15 + a.gx AS INT)) ELSE 0 END) AS BIGINT) AS fp_hi
        |FROM (${dhashCellsSqlFor(16, 8)}) a JOIN (${dhashCellsSqlFor(16, 8)}) b
        |  ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
        |WHERE a.gx < 15
        |GROUP BY 1""".stripMargin

    // per-frame integer PCM energy (32 frames × 25 samples), sample
    // values from the same trunc(sin) formula the m_wav_features
    // twin pins against the real decoder
    val afpEnergySql =
      """SELECT doc_id, i // 25 AS f, sum(v * v) AS e FROM (
        |  SELECT doc_id, i,
        |    CAST(trunc(sin(2*pi()*(200 + abs(doc_id) % 200)*i/8000) * 0.5 * 32767) AS BIGINT) AS v
        |  FROM (SELECT doc_id, unnest(generate_series(0, 799)) AS i FROM documents) t) s
        |GROUP BY 1, 2""".stripMargin

    // engine-portable sketch hashing mirroring events.Sketches: the
    // same 60-bit md5 base hash mod P, CM buckets via the minhash
    // affine family reduced mod width (32)
    val cmsHashSql =
      "('0x' || substr(md5(user_id::varchar), 1, 15))::bigint % 2147483647"
    val cmsBucketSql = "((h * (2 * i + 1) + 1000003 * i) % 2147483647) % 32"

    val qualityExpr =
      "0.5 * least(len(string_split_regex(trim(text), '\\s+'))::double / 64.0, 1.0) + " +
        "0.5 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::double / greatest(length(text)::double, 1.0))"

    // bq shortlist chain — ONE spelling shared by the e_bq_search and
    // e_bq_recall twins (sign-code words, Hamming shortlist of 20,
    // exact cosine), so the recall harness always measures exactly
    // the search that ships
    // exact-rerank cosine between embedding rows aliased `a`
    // (neighbor) and `q` (query) — ONE spelling for the bq and rp
    // shortlist chains
    val qaCosSql = {
      def n(t: String) =
        s"sqrt(list_sum(list_transform(generate_series(1, len($t.embedding)), i -> $t.embedding[i]::double * $t.embedding[i]::double)))"
      "list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * q.embedding[i]::double))" +
        s" / (${n("q")} * ${n("a")})"
    }
    val bqShortSql = {
      def word(from: Int, until: Int, shift: Int) =
        s"list_sum(list_transform(generate_series($from, $until), i -> CASE WHEN embedding[i] >= 0 THEN CAST(1 AS BIGINT) << (i - $shift) ELSE CAST(0 AS BIGINT) END))"
      s"""coded AS (SELECT vec_id, embedding,
         |   ${word(1, 32, 1)} AS lo, ${word(33, 64, 33)} AS hi
         | FROM embeddings),
         | q AS (SELECT vec_id AS query_id, embedding, lo AS q_lo, hi AS q_hi FROM coded WHERE vec_id < 5),
         | cand AS (SELECT q.query_id, a.vec_id AS neighbor_id,
         |   bit_count(xor(a.lo, q.q_lo)) + bit_count(xor(a.hi, q.q_hi)) AS hd,
         |   $qaCosSql AS sim
         |   FROM coded a, q WHERE q.query_id <> a.vec_id),
         | short AS (SELECT query_id, neighbor_id, sim FROM (
         |   SELECT query_id, neighbor_id, sim,
         |     row_number() OVER (PARTITION BY query_id ORDER BY hd ASC, neighbor_id ASC) AS hrank
         |   FROM cand) c WHERE hrank <= 20)""".stripMargin
    }

    // the JL projected-L2 shortlist shared by e_rp_search and
    // e_rp_recall: the same md5-parity ±1 matrix, ordered-fold
    // norm-scaled projection, squared-L2 prank ≤ 40 (Similarity.rpSearch)
    val rpShortSql = {
      val sgn = "CASE WHEN ('0x' || substr(md5('rp|' || j || '|' || i), 1, 15))::bigint % 2 = 0 THEN 1.0 ELSE -1.0 END"
      s"""rpm AS (SELECT j, list($sgn ORDER BY i) AS svec
         |   FROM generate_series(0, 31) t1(j), generate_series(1, 64) t2(i) GROUP BY j),
         | rproj AS (SELECT e.vec_id, r.j,
         |   list_sum(list_transform(generate_series(1, len(e.embedding)), x -> e.embedding[x]::double * r.svec[x]))
         |     / (CASE WHEN sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)), x -> e.embedding[x]::double * e.embedding[x]::double))) = 0 THEN 1
         |        ELSE sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)), x -> e.embedding[x]::double * e.embedding[x]::double))) END) AS p
         |   FROM embeddings e, rpm r),
         | rpv AS (SELECT vec_id, list(p ORDER BY j) AS pvec FROM rproj GROUP BY 1),
         | rpq AS (SELECT vec_id AS query_id, pvec FROM rpv WHERE vec_id < 5),
         | rcand AS (SELECT q.query_id, a.vec_id AS neighbor_id,
         |   list_sum(list_transform(generate_series(1, 32), i -> (a.pvec[i] - q.pvec[i]) * (a.pvec[i] - q.pvec[i]))) AS pd
         |   FROM rpv a, rpq q WHERE q.query_id <> a.vec_id),
         | rshort AS (SELECT c.query_id, c.neighbor_id, c.sim FROM (
         |   SELECT rc.query_id, rc.neighbor_id,
         |     $qaCosSql AS sim,
         |     row_number() OVER (PARTITION BY rc.query_id ORDER BY rc.pd ASC, rc.neighbor_id ASC) AS prank
         |   FROM rcand rc
         |   JOIN embeddings a ON a.vec_id = rc.neighbor_id
         |   JOIN embeddings q ON q.vec_id = rc.query_id) c WHERE prank <= 40)""".stripMargin
    }

    val dot = "list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * b.embedding[i]::double))"
    def norm(t: String) =
      s"sqrt(list_sum(list_transform(generate_series(1, len($t.embedding)), i -> $t.embedding[i]::double * $t.embedding[i]::double)))"
    val cosine = s"$dot / (${norm("a")} * ${norm("b")})"

    val stopwordTable = Map(
      "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "was", "for"),
      "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
      "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un", "una", "es"),
      "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"))
    def hitsExpr(lang: String): String = {
      val lits = stopwordTable(lang).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w IN ($lits)))"
    }
    val langScores = stopwordTable.keys.toSeq.sorted
      .map(l => s"SELECT doc_id, '$l' AS lang, ${hitsExpr(l)} AS hits FROM documents")
      .mkString(" UNION ALL ")
    val allStops = stopwordTable.values.flatten.toSeq.distinct.map(w => s"'$w'").mkString(", ")

    // the Lloyd's-loop unroll shared by e_kmeans_train (trace) and
    // e_kmeans_trained (train → serve): chained CTEs ending at
    // kc<iters> (centroid_id, pos, m), identical arithmetic to
    // Similarity.kmeansTrain — init = k lowest-id vectors, assign on
    // (cosine desc, centroid_id asc), new means floored to the 2^-20
    // grid before they feed forward, empty clusters coalesce to the
    // previous centroid. The cosine spelling is the ordered
    // list_sum(list_transform(…)) fold, bit-identical to the
    // VecMath codegen kernel.
    // ordered-fold cosine between an embedding row `a` and a centroid
    // list row `c` — one spelling for the train chain AND the serve
    // twin, bit-identical to the VecMath codegen kernel
    def kmeansCos(a: String, c: String): String =
      s"list_sum(list_transform(generate_series(1, len($a.emb)), i -> $a.emb[i]::double * $c.cent[i])) /" +
        s" (sqrt(list_sum(list_transform(generate_series(1, len($a.emb)), i -> $a.emb[i]::double * $a.emb[i]::double))) *" +
        s" sqrt(list_sum(list_transform(generate_series(1, len($c.cent)), i -> $c.cent[i] * $c.cent[i]))))"
    def kmeansTrainChain(iters: Int, k: Int): String = {
      def sim(a: String, c: String): String = kmeansCos(a, c)
      def it(t: Int) =
        s"""kcl${t - 1} AS (SELECT centroid_id, list(m ORDER BY pos) AS cent
           |  FROM kc${t - 1} GROUP BY 1),
           |ksc$t AS (SELECT a.id, c.centroid_id, ${sim("a", "c")} AS sim
           |  FROM kebase a, kcl${t - 1} c),
           |kas$t AS (SELECT id, centroid_id FROM (
           |  SELECT id, centroid_id,
           |    row_number() OVER (PARTITION BY id ORDER BY sim DESC, centroid_id ASC) AS rn
           |  FROM ksc$t) r WHERE rn = 1),
           |knm$t AS (SELECT s.centroid_id, x.pos,
           |  floor(avg(x.v) * 1048576.0) / 1048576.0 AS m
           |  FROM (SELECT id, unnest(emb)::double AS v,
           |    generate_subscripts(emb, 1) - 1 AS pos FROM kebase) x
           |  JOIN kas$t s ON s.id = x.id GROUP BY 1, 2),
           |kc$t AS (SELECT p.centroid_id, p.pos, coalesce(n.m, p.m) AS m
           |  FROM kc${t - 1} p LEFT JOIN knm$t n
           |    ON n.centroid_id = p.centroid_id AND n.pos = p.pos)""".stripMargin
      s"""kebase AS (SELECT vec_id AS id, embedding AS emb FROM embeddings),
         |kinit AS (SELECT row_number() OVER (ORDER BY id) - 1 AS centroid_id, emb
         |  FROM (SELECT id, emb FROM kebase ORDER BY id LIMIT $k) s),
         |kc0 AS (SELECT centroid_id, generate_subscripts(emb, 1) - 1 AS pos,
         |  unnest(emb)::double AS m FROM kinit),
         |${(1 to iters).map(it).mkString(",\n")}""".stripMargin
    }
    // the one-scan BM25 retrieval chain shared by d_keyword_topk and
    // d_hybrid_rrf: exploded corpus tokens (null texts out of the
    // corpus on both engines), exact-integer avgdl, grid-quantized
    // per-term contributions (exact sums in any order), rank on
    // (score desc, doc_id asc) — TextStats.keywordTopK verbatim
    val kwTopSql: String =
      """hts AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL),
        |htok AS (SELECT doc_id, token, count(*)::double AS tf FROM hts WHERE token <> '' GROUP BY 1, 2),
        |hdl AS (SELECT doc_id, len(string_split_regex(trim(lower(text)), '\s+'))::double AS dl
        |  FROM documents WHERE text IS NOT NULL),
        |hg AS (SELECT count(*)::double AS n, sum(dl) / count(*)::double AS avgdl FROM hdl),
        |hdf AS (SELECT token, count(*)::double AS df FROM htok GROUP BY 1),
        |hqt AS (SELECT DISTINCT doc_id AS query_id, token FROM hts WHERE doc_id < 5 AND token <> ''),
        |hjoin AS (SELECT q.query_id, t.doc_id,
        |  floor(ln(1 + (g.n - f.df + 0.5) / (f.df + 0.5)) * t.tf * 2.2
        |    / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / g.avgdl)) * 1048576.0) / 1048576.0 AS c
        |  FROM hqt q JOIN htok t USING (token) JOIN hdf f USING (token)
        |  JOIN hdl d ON d.doc_id = t.doc_id, hg g
        |  WHERE q.query_id <> t.doc_id),
        |hsc AS (SELECT query_id, doc_id, sum(c) AS score FROM hjoin GROUP BY 1, 2),
        |hkw AS (SELECT query_id, doc_id, score,
        |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank FROM hsc)""".stripMargin

    // the signed-feature-hashing chain shared by d_hash_embed and
    // d_hash_knn: md5 bucket/sign hashes, integer signed counts,
    // cancelled buckets dropped — TextStats.hashedVectors verbatim
    val hashVecSql: String =
      """hv AS (SELECT doc_id,
        |  ('0x' || substr(md5(token || '|hepos'), 1, 15))::bigint % 64 AS pos,
        |  CASE WHEN ('0x' || substr(md5(token || '|hesign'), 1, 15))::bigint % 2 = 0
        |    THEN 1 ELSE -1 END AS s
        |  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |        FROM documents WHERE text IS NOT NULL) t
        |  WHERE token <> ''),
        |hvec AS (SELECT doc_id, pos, sum(s)::bigint AS v FROM hv
        |  GROUP BY 1, 2 HAVING sum(s) <> 0)""".stripMargin

    // the power-iteration unroll shared by e_pca_power (trace) and
    // e_pca_project (train → serve): quantized Gram, v₀ = 1/√d, per
    // round an ordered matvec fold, ordered norm fold, and a 2^-20
    // re-quantize — identical arithmetic to Similarity.pcaPowerTrain
    // one matvec+normalize round of the power twin, prefixable so the
    // deflated second loop (pcaTop2Chain) reuses the exact spelling
    def pcaIter(u: String, v: String, grows: String)(t: Int): String =
      s"""$u$t AS (SELECT list(list_sum(list_transform(generate_series(1, 64), j -> g.gl[j] * v.vl[j])) ORDER BY g.i) AS ul
         |  FROM $grows g, $v${t - 1} v),
         |$v$t AS (SELECT list_transform(ul, x ->
         |  floor(x / sqrt(list_sum(list_transform(ul, y -> y*y))) * 1048576.0) / 1048576.0) AS vl FROM $u$t)""".stripMargin
    def pcaChain(iters: Int): String = {
      s"""pgram AS (SELECT i, j,
         |  floor(sum(e.embedding[i]::double * e.embedding[j]::double) * 1048576.0) / 1048576.0 AS g
         |  FROM embeddings e, generate_series(1, 64) t1(i), generate_series(1, 64) t2(j)
         |  GROUP BY i, j),
         |pgrows AS (SELECT i, list(g ORDER BY j) AS gl FROM pgram GROUP BY i),
         |pv0 AS (SELECT list_transform(generate_series(1, 64), x -> 1.0/sqrt(64.0)) AS vl),
         |${(1 to iters).map(pcaIter("pu", "pv", "pgrows")).mkString(",\n")}""".stripMargin
    }
    // Hotelling deflation + second loop: λ₁ = v₁ᵀGv₁ over ordered
    // folds, G' = G − λ₁·v₁v₁ᵀ, then the same iteration q-prefixed —
    // Similarity.pcaTop2 verbatim
    def pcaTop2Chain(iters: Int): String =
      s"""${pcaChain(iters)},
         |pgv AS (SELECT list(list_sum(list_transform(generate_series(1, 64), j -> g.gl[j] * v.vl[j])) ORDER BY g.i) AS ul
         |  FROM pgrows g, pv$iters v),
         |plam AS (SELECT list_sum(list_transform(generate_series(1, 64), i -> v.vl[i] * u.ul[i])) AS lam
         |  FROM pv$iters v, pgv u),
         |pg2 AS (SELECT p.i, p.j, p.g - l.lam * v.vl[p.i] * v.vl[p.j] AS g
         |  FROM pgram p, pv$iters v, plam l),
         |qgrows AS (SELECT i, list(g ORDER BY j) AS gl FROM pg2 GROUP BY i),
         |qv0 AS (SELECT list_transform(generate_series(1, 64), x -> 1.0/sqrt(64.0)) AS vl),
         |${(1 to iters).map(pcaIter("qu", "qv", "qgrows")).mkString(",\n")}""".stripMargin

    // the logistic-GD unroll shared by d_quality_clf_train (trace)
    // and d_quality_clf_trained (train → serve): chained CTEs ending
    // at w<iters>, identical arithmetic to
    // TextStats.trainQualityClassifier, independently spelled
    def clfGdChain(iters: Int, lr: String): String = {
      def pg(i: Int) =
        s"""p$i AS (SELECT y, x1, x2, x3,
           |  1/(1+exp(-(w.b + w.a1*x1 + w.a2*x2 + w.a3*x3))) AS p
           |  FROM f, w${i - 1} w),
           |g$i AS (SELECT floor(avg(p - y)*1073741824.0)/1073741824.0 AS gb,
           |  floor(avg((p - y)*x1)*1073741824.0)/1073741824.0 AS ga1,
           |  floor(avg((p - y)*x2)*1073741824.0)/1073741824.0 AS ga2,
           |  floor(avg((p - y)*x3)*1073741824.0)/1073741824.0 AS ga3 FROM p$i),
           |w$i AS (SELECT w.b - $lr*g.gb AS b, w.a1 - $lr*g.ga1 AS a1,
           |  w.a2 - $lr*g.ga2 AS a2, w.a3 - $lr*g.ga3 AS a3
           |  FROM w${i - 1} w, g$i g)""".stripMargin
      s"""f AS (
         |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         |    least(len(string_split_regex(trim(text), '\\s+'))::double / 64.0, 1.0) AS x1,
         |    length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::double
         |      / greatest(length(text)::double, 1.0) AS x2,
         |    ${hitsExpr("en")}::double
         |      / greatest(len(string_split_regex(trim(text), '\\s+'))::double, 1.0) AS x3
         |  FROM documents),
         |w0(b, a1, a2, a3) AS (VALUES (0.0, 0.0, 0.0, 0.0)),
         |${(1 to iters).map(pg).mkString(",\n")}""".stripMargin
    }

    // ---- unigram-LM Viterbi-EM twin (d_unigram_train / d_unigram_encode)
    // The full training loop of graft.llm.Unigram.train(vocabSize=200,
    // seedSize=1000, emIters=2, maxPieceLen=6) replayed independently:
    // seed → (E-step → M-step) ×2 → prune → final E+M. Each E-step is
    // ONE bounded recursive CTE: the DP advances one code point per
    // iteration carrying (best, cnt, segs) prefix arrays, and picks
    // among the ≤6 candidate back-edges by (score desc, pieces asc,
    // j asc) — exactly Unigram.viterbi's scan order. Engine
    // portability is exact, not approximate: log-probs are floored
    // onto the 2^-20 grid on BOTH sides (Unigram.quantizeLogp), so
    // every DP sum is exact double arithmetic and the tie compare
    // cannot drift. UNK never fires here (minFreq=1 ⇒ every corpus
    // character is a kept piece), so the CTE omits it. MATERIALIZED
    // hints stop DuckDB re-inlining each round's chain into the next
    // (un-hinted, the plan grows ~4× per round).
    def unigramEStep(r: Int, lp: String): String =
      s"""e$r AS MATERIALIZED (
         |  SELECT s.w, s.j, s.i, s.piece, l.lp FROM subs s JOIN $lp l USING (piece)),
         |el$r AS MATERIALIZED (
         |  SELECT w, i, list(struct_pack(j := j, piece := piece, lp := lp) ORDER BY j) AS es
         |  FROM e$r GROUP BY w, i),
         |dp$r AS (
         |  SELECT w, 0 AS i, [0.0]::DOUBLE[] AS best, [0]::INT[] AS cnt, ['']::VARCHAR[] AS segs
         |  FROM dw
         |  UNION ALL
         |  SELECT d.w, d.i + 1,
         |    list_append(d.best, -pk.negsc), list_append(d.cnt, pk.c),
         |    list_append(d.segs, CASE WHEN d.segs[pk.j + 1] = '' THEN pk.piece
         |                             ELSE d.segs[pk.j + 1] || ' ' || pk.piece END)
         |  FROM dp$r d
         |  JOIN el$r e ON e.w = d.w AND e.i = d.i + 1,
         |  LATERAL (SELECT list_sort(list_transform(e.es, x -> struct_pack(
         |      negsc := -(d.best[x.j + 1] + x.lp),
         |      c := d.cnt[x.j + 1] + 1,
         |      j := x.j, piece := x.piece)))[1] AS pk) q
         |  WHERE d.i < length(d.w)),
         |seg$r AS MATERIALIZED (
         |  SELECT w, segs[length(w) + 1] AS seg FROM dp$r WHERE i = length(w)),
         |c$r AS MATERIALIZED (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT unnest(string_split(s.seg, ' ')) AS piece, f.freq
         |        FROM seg$r s JOIN wf f ON f.w = s.w) u GROUP BY 1)""".stripMargin

    // M-step: chars always kept (add-one smoothed), multis kept at
    // n>0, pruned to vocab - #chars by (n desc, piece asc) when
    // vocab > 0; log-probs floored to the 2^-20 grid
    def unigramMStep(v: String, counts: String, vocab: Int): String = {
      val prune =
        if (vocab == 0) ""
        else s"""
           |  QUALIFY row_number() OVER (ORDER BY c.n DESC, c.piece)
           |    <= $vocab - (SELECT count(*) FROM ch)""".stripMargin
      s"""$v AS MATERIALIZED (
         |  SELECT ch.piece, coalesce(c.n, 0) AS n, TRUE AS is_char
         |  FROM ch LEFT JOIN $counts c USING (piece)
         |  UNION ALL
         |  SELECT c.piece, c.n, FALSE FROM $counts c
         |  WHERE c.n > 0 AND c.piece NOT IN (SELECT piece FROM ch)$prune),
         |l$v AS MATERIALIZED (
         |  SELECT piece,
         |    floor((ln((CASE WHEN is_char THEN n + 1 ELSE n END)::double)
         |         - ln(t.total::double)) * 1048576.0) / 1048576.0 AS lp
         |  FROM $v, (SELECT sum(CASE WHEN is_char THEN n + 1 ELSE n END) AS total FROM $v) t)""".stripMargin
    }

    val unigramChain =
      s"""WITH RECURSIVE
         |wf AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents) t
         |  WHERE w <> '' GROUP BY 1),
         |dw AS MATERIALIZED (SELECT DISTINCT w FROM wf),
         |seedc AS MATERIALIZED (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS n FROM (
         |    SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece, freq
         |    FROM (SELECT w, freq, i, unnest(range(1, least(length(w) - i + 1, 6) + 1)) AS l
         |          FROM (SELECT w, freq, unnest(range(1, length(w) + 1)) AS i FROM wf) s) ss) p
         |  GROUP BY 1),
         |ch AS MATERIALIZED (SELECT piece FROM seedc WHERE length(piece) = 1),
         |v0 AS MATERIALIZED (
         |  SELECT piece, n, TRUE AS is_char FROM seedc WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, n, FALSE FROM (
         |    SELECT piece, n FROM seedc WHERE length(piece) > 1
         |    ORDER BY n DESC, piece LIMIT 1000) m),
         |lv0 AS MATERIALIZED (
         |  SELECT piece,
         |    floor((ln((CASE WHEN is_char THEN n + 1 ELSE n END)::double)
         |         - ln(t.total::double)) * 1048576.0) / 1048576.0 AS lp
         |  FROM v0, (SELECT sum(CASE WHEN is_char THEN n + 1 ELSE n END) AS total FROM v0) t),
         |subs AS MATERIALIZED (
         |  SELECT w, i - l AS j, i, substr(w, CAST(i - l + 1 AS INT), CAST(l AS INT)) AS piece
         |  FROM (SELECT w, unnest(range(1, length(w) + 1)) AS i FROM dw) s,
         |       LATERAL (SELECT unnest(range(1, least(i, 6) + 1)) AS l) ll),
         |${unigramEStep(1, "lv0")},
         |${unigramMStep("v1", "c1", 0)},
         |${unigramEStep(2, "lv1")},
         |${unigramMStep("v2p", "c2", 200)},
         |${unigramEStep(3, "lv2p")},
         |${unigramMStep("vf", "c3", 200)}""".stripMargin

    // double-exponential-smoothing unrolled as a list_reduce fold —
    // shared by p_query_holt and p_query_dexp (upstream's rename;
    // both names must evaluate identically)
    val promHoltSql =
      s"""WITH dedup AS (
         |  SELECT 'events?type=' || event_type || '&user=' || user_id AS path,
         |         epoch_us(ts)//1000000 AS time,
         |         arg_max(value, event_id) AS value
         |  FROM events
         |  GROUP BY 1, 2),
         |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
         |win AS (
         |  SELECT d.path, g.t, d.value, d.time FROM dedup d
         |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
         |lst AS (
         |  SELECT path, t, list(value ORDER BY time) AS xs
         |  FROM win GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT path, t,
         |  round(list_reduce(
         |    list_prepend([0.0::double, xs[1], xs[2] - xs[1], 1.0::double],
         |      list_transform(xs[2:], x -> [x, 0.0::double, 0.0::double, 0.0::double])),
         |    (acc, e) -> [
         |      acc[2],
         |      0.5::double * e[1] + (1.0::double - 0.5::double) * (acc[2] +
         |            (CASE WHEN acc[4] = 1.0 THEN acc[3]
         |                  ELSE 0.3::double * (acc[2] - acc[1]) + (1.0::double - 0.3::double) * acc[3] END)),
         |      CASE WHEN acc[4] = 1.0 THEN acc[3]
         |           ELSE 0.3::double * (acc[2] - acc[1]) + (1.0::double - 0.3::double) * acc[3] END,
         |      acc[4] + 1.0
         |    ])[2], 6) + 0 AS value
         |FROM lst""".stripMargin

    val base = Map(
      "g_points" ->
        ("SELECT 'events.' || event_type || '.user' || user_id AS path, " +
          "epoch_us(ts)//1000000 AS time, value, event_id AS version, " +
          "'user' || user_id || '.' || event_type || '.events' AS path_reversed FROM events"),

      "g_index" ->
        (s"""WITH pts AS ($PtsSql),
           | daily AS (SELECT DISTINCT path, CAST(make_timestamp(t*1000000) AS DATE) AS d FROM pts),
           | metrics AS (SELECT DISTINCT path FROM pts)
           |SELECT CAST(d AS VARCHAR) AS date, CAST(3 AS BIGINT) AS level, path FROM daily
           |UNION ALL SELECT CAST(d AS VARCHAR), 10003, string_split(path, '.')[3] || '.' || string_split(path, '.')[2] || '.' || string_split(path, '.')[1] FROM daily
           |UNION ALL SELECT DISTINCT '1970-02-12', 20001, 'events.' FROM pts
           |UNION ALL SELECT DISTINCT '1970-02-12', 20002, string_split(path, '.')[1] || '.' || string_split(path, '.')[2] || '.' FROM pts
           |UNION ALL SELECT '1970-02-12', 20003, path FROM metrics
           |UNION ALL SELECT '1970-02-12', 30003, string_split(path, '.')[3] || '.' || string_split(path, '.')[2] || '.' || string_split(path, '.')[1] FROM metrics""".stripMargin),

      "g_index_dump" ->
        (s"SELECT path FROM ($pathsAllTime) t"),

      "g_find_glob" ->
        (s"SELECT DISTINCT path, true AS is_leaf FROM ($PtsSql) p " +
          "WHERE regexp_matches(path, '^events\\.[^.]*\\.user1[^.]*$')"),

      "g_find_native" ->
        (s"SELECT DISTINCT path FROM ($PtsSql) p " +
          "WHERE regexp_matches(path, '^events\\.[^.]*\\.user1[^.]*$')"),

      "g_find_nonleaf" ->
        ("SELECT DISTINCT 'events.' || event_type AS path, false AS is_leaf FROM events"),

      "g_find_reversed" ->
        (s"SELECT DISTINCT path, true AS is_leaf FROM ($PtsSql) p " +
          "WHERE regexp_matches(path, '^[^.]*\\.[^.]*\\.user3$')"),

      "g_find_daily" ->
        (s"SELECT DISTINCT path, true AS is_leaf FROM ($PtsSql) p " +
          s"WHERE regexp_matches(path, '^events\\.[^.]*\\.[^.]*$$') " +
          s"AND CAST(make_timestamp(t*1000000) AS DATE) = DATE '2024-01-01'"),

      "g_find_brace" ->
        (s"SELECT DISTINCT path, true AS is_leaf FROM ($PtsSql) p " +
          "WHERE regexp_matches(path, '^events\\.(click|error)\\.[^.]*$')"),

      "g_find_split" ->
        (s"SELECT DISTINCT path, true AS is_leaf FROM ($PtsSql) p " +
          "WHERE regexp_matches(path, '^events\\.(click|error)\\.[^.]*$')"),

      "g_unagg_fetch" ->
        (s"""SELECT path, array_to_string(list(t ORDER BY t, version), ',') AS times,
           | count(*) AS n, round(sum(value), 4) AS sum_value
           |FROM ($PtsSql) pts WHERE t BETWEEN $NFrom AND $NUntil GROUP BY path""".stripMargin),

      "g_render_avg" ->
        renderGroupSql("avg(value)", 60, WFrom, WUntil, ""),

      "g_render_headline" -> {
        val step = graft.time.StepMath.aggregatedStep(60, MFrom, MUntil, 100)
        renderGroupSql("avg(value)", step, MFrom, MUntil, "")
      },

      "g_render_rules" ->
        (renderGroupSql("sum(value)", 120, WFrom, WUntil,
          "WHERE path LIKE 'events.purchase.%'") +
          " UNION ALL " +
          renderGroupSql("max(value)", 60, WFrom, WUntil,
            "WHERE path LIKE 'events.error.%'") +
          " UNION ALL " +
          renderGroupSql("avg(value)", 60, WFrom, WUntil,
            "WHERE path NOT LIKE 'events.purchase.%' AND path NOT LIKE 'events.error.%'")),

      "g_render_consolidate" ->
        (renderGroupSql("max(value)", 120, WFrom, WUntil,
          "WHERE path LIKE 'events.purchase.%'") +
          " UNION ALL " +
          renderGroupSql("max(value)", 60, WFrom, WUntil,
            "WHERE path NOT LIKE 'events.purchase.%'")),

      "g_render_commonstep" ->
        (renderGroupSql("sum(value)", 120, WFrom, WUntil,
          "WHERE path LIKE 'events.purchase.%'") +
          " UNION ALL " +
          renderGroupSql("max(value)", 120, WFrom, WUntil,
            "WHERE path LIKE 'events.error.%'") +
          " UNION ALL " +
          renderGroupSql("avg(value)", 120, WFrom, WUntil,
            "WHERE path NOT LIKE 'events.purchase.%' AND path NOT LIKE 'events.error.%'")),

      "g_render_nonempty" ->
        (s"SELECT * FROM (${renderGroupSql("avg(value)", 60, NFrom, NUntil, "")}) r " +
          "WHERE path IN (SELECT path FROM (" + ddSql(NFrom, NUntil) + ") dd2)"),

      "g_compaction" ->
        (s"""WITH dd AS (SELECT path, t, arg_max(value, version) AS value FROM ($PtsSql) pts GROUP BY path, t),
           |r AS (SELECT path, t, value,
           |  CASE WHEN path LIKE 'events.purchase.%' THEN (CASE WHEN $MUntil - t >= 1209600 THEN 600 ELSE 120 END) ELSE 60 END AS prec,
           |  CASE WHEN path LIKE 'events.purchase.%' THEN 'sum' WHEN path LIKE 'events.error.%' THEN 'max' ELSE 'avg' END AS fn
           | FROM dd)
           |SELECT path, t - t % prec AS time,
           |  round(CASE fn WHEN 'sum' THEN sum(value) WHEN 'max' THEN max(value) ELSE avg(value) END, 4) AS value
           |FROM r GROUP BY path, prec, fn, t - t % prec""".stripMargin),

      "g_dedup_uniq" ->
        (s"SELECT path, t AS time, arg_max(value, version) AS value FROM ($PtsSql) pts GROUP BY path, t"),

      "g_hotcold" ->
        (s"SELECT path, t AS time, arg_max(value, version) AS value FROM ($PtsSql) pts GROUP BY path, t"),

      "g_render_multi" ->
        (s"SELECT 'events.click.*' AS target, path AS display_name, path, time, value FROM (" +
          renderGroupSql("avg(value)", 60, NFrom, NUntil,
            "WHERE path LIKE 'events.click.%'") + ") r1 " +
          "UNION ALL SELECT 'events.*.user1*' AS target, path AS display_name, path, time, value FROM (" +
          renderGroupSql("avg(value)", 60, NFrom, NUntil,
            "WHERE regexp_matches(path, '^events\\.[^.]*\\.user1[^.]*$')") + ") r2"),

      "g_render_timeframes" ->
        (s"SELECT $NFrom AS req_from, $NUntil AS req_until, 'events.click.*' AS target, path, time, value FROM (" +
          renderGroupSql("avg(value)", 60, NFrom, NUntil,
            "WHERE path LIKE 'events.click.%'") + ") r1 " +
          s"UNION ALL SELECT $WFrom, $WUntil, 'events.error.*', path, time, value FROM (" +
          renderGroupSql("avg(value)", 60, WFrom, WUntil,
            "WHERE path LIKE 'events.error.%'") + ") r2"),

      "g_tag1_counts" ->
        // count table sums per-day rows (SummingMergeTree MV semantics):
        // one row per (series, active day) → series-days per tag
        ("SELECT 'type=click' AS tag1, count(DISTINCT (user_id, CAST(make_timestamp((epoch_us(ts)//1000000)*1000000) AS DATE))) AS cnt FROM events WHERE event_type = 'click' " +
          "UNION ALL SELECT 'user=3' AS tag1, count(DISTINCT (event_type, CAST(make_timestamp((epoch_us(ts)//1000000)*1000000) AS DATE))) AS cnt FROM events WHERE user_id = 3"),

      "g_any_anylast" ->
        (s"""SELECT path, t - t % 600 AS time,
           | arg_min(value, t * 10000000 + version) AS first_value,
           | arg_max(value, t * 10000000 + version) AS last_value
           |FROM ($PtsSql) pts WHERE t BETWEEN $WFrom AND $WUntil GROUP BY path, time""".stripMargin),

      "s_series_assembly" -> {
        val (alignedFrom, alignedUntil) = graft.time.StepMath.alignFromUntil(NFrom, NUntil, 60)
        val (start, stop) = graft.time.StepMath.gridBounds(NFrom, NUntil, 60)
        s"WITH g AS (${gridSql("", start, stop, 60)}), " +
          s"a AS (SELECT path, t - t % 60 AS time, avg(value) AS value FROM (" +
          ddSql(alignedFrom, alignedUntil) + ") dd GROUP BY path, time) " +
          "SELECT g.path, min(g.time) AS start, max(g.time) + 60 AS stop, 60 AS step, " +
          "count(*) AS n_buckets, count(a.value) AS n_present, " +
          "round(coalesce(sum(a.value), 0), 4) AS sum_value " +
          "FROM g LEFT JOIN a ON g.path = a.path AND g.time = a.time GROUP BY g.path"
      },

      "g_tags" ->
        ("""WITH series AS (SELECT DISTINCT 'events?type=' || event_type || '&user=' || user_id AS path, event_type, user_id FROM events)
          |SELECT unnest(['__name__=events', 'type=' || event_type, 'user=' || user_id]) AS tag1, path FROM series""".stripMargin),

      "g_seriesbytag_costed" ->
        ("SELECT DISTINCT 'events?type=click&user=' || user_id AS path " +
          "FROM events WHERE event_type = 'click' AND regexp_matches(CAST(user_id AS VARCHAR), '1')"),

      "g_seriesbytag" ->
        ("""SELECT DISTINCT 'events?type=click&user=' || user_id AS path,
          | 'events;type=click;user=' || user_id AS display
          |FROM events WHERE event_type = 'click' AND regexp_matches(CAST(user_id AS VARCHAR), '1')""".stripMargin),

      "g_render_xmlrules" ->
        (renderGroupSql("sum(value)", 120, WFrom, WUntil,
          "WHERE path LIKE 'events.purchase.%'") +
          " UNION ALL " +
          renderGroupSql("max(value)", 60, WFrom, WUntil,
            "WHERE path LIKE 'events.error.%'") +
          " UNION ALL " +
          renderGroupSql("avg(value)", 60, WFrom, WUntil,
            "WHERE path NOT LIKE 'events.purchase.%' AND path NOT LIKE 'events.error.%'")),

      "p_matchers" ->
        ("SELECT DISTINCT 'events?type=click&user=' || user_id AS path FROM events WHERE event_type = 'click'"),

      "g_autocomplete_dated" ->
        ("SELECT DISTINCT event_type AS value FROM events WHERE user_id = 3 " +
          "AND CAST(make_timestamp((epoch_us(ts)//1000000)*1000000) AS DATE) = DATE '2024-01-01' ORDER BY value"),

      "m_resize" ->
        ("SELECT doc_id, CAST(least(length(text), 256) AS BIGINT) AS n_bytes, " +
          "CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height FROM documents"),

      "g_autocomplete_tags" ->
        ("SELECT DISTINCT value FROM (VALUES ('__name__'), ('type'), ('user')) t(value) ORDER BY value"),

      "g_autocomplete_values" ->
        ("SELECT DISTINCT event_type AS value FROM events WHERE user_id = 3 ORDER BY value"),

      "g_tagger" ->
        (s"""WITH tree AS (SELECT DISTINCT path FROM ($pathsAllTime) t),
           |matched AS (SELECT path, list_distinct(list_concat(list_concat(list_concat(list_concat(
           |  CASE WHEN starts_with(path, 'events.click') THEN ['clicky'] ELSE [] END,
           |  CASE WHEN path LIKE '%5' THEN ['five'] ELSE [] END),
           |  CASE WHEN contains(path, 'error') THEN ['err'] ELSE [] END),
           |  CASE WHEN path = 'events.' THEN ['root'] ELSE [] END),
           |  CASE WHEN regexp_matches(path, 'user1[0-9]$$') THEN ['u1x'] ELSE [] END)) AS m FROM tree),
           |anc AS (SELECT t.path AS x, a.path AS y FROM tree t JOIN tree a
           |  ON t.path = a.path OR (a.path LIKE '%.' AND starts_with(t.path, a.path))),
           |down AS (SELECT x AS path, list_distinct(flatten(list(m.m))) AS down
           |  FROM anc JOIN matched m ON m.path = anc.y GROUP BY x),
           |parents AS (SELECT path AS child,
           |  array_to_string(string_split(rtrim(path, '.'), '.')[1:len(string_split(rtrim(path, '.'), '.')) - 1], '.') || '.' AS parent
           |  FROM tree WHERE len(string_split(rtrim(path, '.'), '.')) > 1),
           |childmerge AS (SELECT p.parent AS path, list_distinct(flatten(list(d.down))) AS fromchild
           |  FROM parents p JOIN down d ON d.path = p.child GROUP BY p.parent),
           |final AS (SELECT d.path, list_distinct(list_concat(d.down, coalesce(c.fromchild, []))) AS tags
           |  FROM down d LEFT JOIN childmerge c ON c.path = d.path)
           |SELECT path, unnest(tags) AS tag1, NOT (path LIKE '%.') AS is_leaf
           |FROM final WHERE len(tags) > 0""".stripMargin),

      "st_parse_lines" ->
        (s"SELECT path, t AS time, value FROM ($PtsSql) pts"),

      "st_parse_tagged" ->
        ("SELECT 'events?type=' || event_type || '&user=' || user_id AS path, " +
          "epoch_us(ts)//1000000 AS time, value, true AS is_tagged FROM events"),

      "ev_sessionize" ->
        ("""WITH ev AS (SELECT user_id, epoch_us(ts)//1000000 AS t, event_id FROM events),
          | flagged AS (SELECT user_id, t, event_id,
          |   CASE WHEN t - lag(t) OVER w > 1800 OR lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
          |   FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
          | sessions AS (SELECT user_id, t,
          |   CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          |   FROM flagged)
          |SELECT user_id, session_id, count(*) AS n_events, min(t) AS session_start, max(t) AS session_end
          |FROM sessions GROUP BY user_id, session_id""".stripMargin),

      "ev_topk_hourly" ->
        ("""WITH hourly AS (SELECT t - t % 3600 AS hour, event_type, count(*) AS n
          |  FROM (SELECT event_type, epoch_us(ts)//1000000 AS t FROM events) e
          |  GROUP BY hour, event_type)
          |SELECT hour, CAST(rank AS BIGINT) AS rank, event_type, n FROM (
          |  SELECT hour, event_type, n,
          |    row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type ASC) AS rank
          |  FROM hourly) r WHERE rank <= 2""".stripMargin),

      "ev_heavy_hitters" ->
        ("""WITH c AS (
          |  SELECT CAST(user_id AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS count_lo
          |  FROM events GROUP BY 1)
          |SELECT k, count_lo, count_lo AS count_hi,
          |       CAST(row_number() OVER (ORDER BY count_lo DESC, k) AS BIGINT) AS rank
          |FROM c ORDER BY count_lo DESC, k LIMIT 20""".stripMargin),

      "ev_topk_exact" ->
        ("""WITH c AS (
          |  SELECT CAST(user_id AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS weight
          |  FROM events GROUP BY 1)
          |SELECT k, weight,
          |       CAST(row_number() OVER (ORDER BY weight DESC, k) AS BIGINT) AS rank,
          |       true AS certified
          |FROM c ORDER BY weight DESC, k LIMIT 10""".stripMargin),

      "ev_cms_sketch" ->
        (s"""WITH h AS (SELECT $cmsHashSql AS h FROM events WHERE user_id IS NOT NULL),
           |cells AS (SELECT i, $cmsBucketSql AS bucket
           |  FROM h, (SELECT unnest([0, 1, 2, 3]) AS i) u)
           |SELECT CAST(i AS BIGINT) AS row_idx, CAST(bucket AS BIGINT) AS bucket,
           |       CAST(count(*) AS BIGINT) AS n
           |FROM cells GROUP BY 1, 2""".stripMargin),

      "ev_cms_estimate" ->
        (s"""WITH keys AS (SELECT user_id::varchar AS key, count(*) AS exact
           |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
           |kh AS (SELECT key, exact,
           |  ('0x' || substr(md5(key), 1, 15))::bigint % 2147483647 AS h FROM keys),
           |kcells AS (SELECT key, exact, i, $cmsBucketSql AS bucket
           |  FROM kh, (SELECT unnest([0, 1, 2, 3]) AS i) u),
           |grid AS (SELECT i AS row_idx, $cmsBucketSql AS bucket, count(*) AS n
           |  FROM (SELECT $cmsHashSql AS h FROM events WHERE user_id IS NOT NULL) hh,
           |       (SELECT unnest([0, 1, 2, 3]) AS i) u
           |  GROUP BY 1, 2)
           |SELECT k.key, CAST(k.exact AS BIGINT) AS exact,
           |       CAST(min(g.n) AS BIGINT) AS est,
           |       CAST(min(g.n) - k.exact AS BIGINT) AS overcount
           |FROM kcells k JOIN grid g ON g.row_idx = k.i AND g.bucket = k.bucket
           |GROUP BY k.key, k.exact""".stripMargin),

      "ev_bloom_words" ->
        (s"""WITH build AS (SELECT user_id::varchar AS key FROM events
           |  WHERE event_type = 'purchase' AND user_id IS NOT NULL
           |  GROUP BY 1 HAVING count(*) >= 12),
           |bh AS (SELECT ('0x' || substr(md5(key), 1, 15))::bigint % 2147483647 AS h
           |  FROM build),
           |bloom AS (SELECT DISTINCT
           |    ((h * (2 * i + 1) + 1000003 * i) % 2147483647) % 512 AS pos
           |  FROM bh, (SELECT unnest([0, 1, 2, 3, 4]) AS i) u)
           |SELECT CAST(pos // 32 AS BIGINT) AS word_idx,
           |       CAST(sum(1::bigint << CAST(pos % 32 AS INT)) AS BIGINT) AS bits
           |FROM bloom GROUP BY 1""".stripMargin),

      "ev_bloom_probe" ->
        (s"""WITH build AS (SELECT user_id::varchar AS key FROM events
           |  WHERE event_type = 'purchase' AND user_id IS NOT NULL
           |  GROUP BY 1 HAVING count(*) >= 12),
           |bh AS (SELECT ('0x' || substr(md5(key), 1, 15))::bigint % 2147483647 AS h
           |  FROM build),
           |bloom AS (SELECT DISTINCT
           |    ((h * (2 * i + 1) + 1000003 * i) % 2147483647) % 512 AS pos
           |  FROM bh, (SELECT unnest([0, 1, 2, 3, 4]) AS i) u),
           |probes AS (SELECT DISTINCT user_id::varchar AS key FROM events
           |  WHERE user_id IS NOT NULL),
           |ph AS (SELECT key,
           |  ('0x' || substr(md5(key), 1, 15))::bigint % 2147483647 AS h FROM probes),
           |pcells AS (SELECT key,
           |    ((h * (2 * i + 1) + 1000003 * i) % 2147483647) % 512 AS pos
           |  FROM ph, (SELECT unnest([0, 1, 2, 3, 4]) AS i) u)
           |SELECT p.key, (p.key IN (SELECT key FROM build)) AS present,
           |       (count(b.pos) = 5) AS maybe
           |FROM pcells p LEFT JOIN bloom b ON b.pos = p.pos
           |GROUP BY p.key""".stripMargin),

      "ev_hll_daily_users" ->
        (s"""WITH h AS (SELECT epoch_us(ts) // 86400000000 AS g, $cmsHashSql AS h
           |  FROM events WHERE user_id IS NOT NULL),
           |obs AS (SELECT g, h & 63 AS bucket,
           |  CASE WHEN (h >> 6) = 0 THEN 26
           |       ELSE bit_count(((h >> 6) & -(h >> 6)) - 1) + 1 END AS rho FROM h),
           |regs AS (SELECT g, bucket, max(rho) AS reg FROM obs GROUP BY 1, 2),
           |agg AS (SELECT g, sum((1::bigint << CAST(26 - reg AS INT))) AS sp,
           |  count(*) AS np FROM regs GROUP BY 1),
           |sv AS (SELECT g, (sp + (64 - np) * 67108864)::double AS s,
           |  (64 - np)::double AS v FROM agg),
           |ex AS (SELECT epoch_us(ts) // 86400000000 AS g,
           |  count(DISTINCT user_id) AS exact_distinct
           |  FROM events WHERE user_id IS NOT NULL GROUP BY 1)
           |SELECT CAST(sv.g AS BIGINT) AS day,
           |  round(CASE WHEN (0.709 * 64.0 * 64.0 * 67108864.0) / s <= 160.0 AND v > 0
           |             THEN 64.0 * ln(64.0 / v)
           |             ELSE (0.709 * 64.0 * 64.0 * 67108864.0) / s END, 4) + 0
           |    AS est_distinct,
           |  CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
           |FROM sv JOIN ex ON ex.g = sv.g""".stripMargin),

      "ev_funnel" ->
        ("""WITH ev AS (
          |  SELECT user_id, epoch_us(ts)//1000000 AS t,
          |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
          |      WHEN 'purchase' THEN 3 ELSE 0 END AS step
          |  FROM events),
          |lists AS (
          |  SELECT user_id, list([t, step] ORDER BY t, step) AS evs
          |  FROM ev WHERE step > 0 GROUP BY 1),
          |folded AS (
          |  SELECT user_id,
          |    list_reduce(list_prepend([-1, -1, -1]::BIGINT[], evs), (acc, e) -> [
          |      CASE WHEN acc[1] = -1 AND e[2] = 1 THEN e[1] ELSE acc[1] END,
          |      CASE WHEN acc[1] <> -1 AND acc[2] = -1 AND e[2] = 2
          |        AND e[1] > acc[1] AND e[1] - acc[1] <= 86400 THEN e[1] ELSE acc[2] END,
          |      CASE WHEN acc[2] <> -1 AND acc[3] = -1 AND e[2] = 3
          |        AND e[1] > acc[2] AND e[1] - acc[2] <= 86400 THEN e[1] ELSE acc[3] END]) AS f
          |  FROM lists)
          |SELECT user_id,
          |  nullif(f[1], -1) AS t_view,
          |  nullif(f[2], -1) AS t_click,
          |  nullif(f[3], -1) AS t_purchase,
          |  ((f[1] <> -1)::int + (f[2] <> -1)::int + (f[3] <> -1)::int)::bigint AS stage
          |FROM folded""".stripMargin),

      "ev_retention" ->
        ("""WITH ev AS (
          |  SELECT user_id, event_type,
          |    CAST(floor((epoch_us(ts)//1000000) / 604800) AS BIGINT) AS p
          |  FROM events),
          |cohorts AS (
          |  SELECT user_id, min(p) AS cohort FROM ev
          |  WHERE event_type = 'signup' GROUP BY 1),
          |active AS (SELECT DISTINCT user_id, p FROM ev)
          |SELECT c.cohort, a.p - c.cohort AS "offset",
          |       count(*)::bigint AS n_users
          |FROM cohorts c JOIN active a USING (user_id)
          |WHERE a.p >= c.cohort
          |GROUP BY 1, 2""".stripMargin),

      "ev_paths" ->
        ("""WITH seq AS (
          |  SELECT user_id, event_type,
          |    lead(event_type) OVER (PARTITION BY user_id
          |      ORDER BY epoch_us(ts)//1000000, event_id) AS nxt
          |  FROM events),
          |c AS (SELECT event_type AS src, nxt AS dst, count(*) AS n
          |      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
          |t AS (SELECT src, sum(n) AS tot FROM c GROUP BY 1)
          |SELECT c.src, c.dst, CAST(c.n AS BIGINT) AS n,
          |       round(c.n::double / t.tot::double, 4) + 0 AS p
          |FROM c JOIN t USING (src)""".stripMargin),

      "ev_tumbling" ->
        ("""SELECT event_type, t - t % 3600 AS window_start, count(*) AS n, round(sum(value), 4) AS sum_value
          |FROM (SELECT event_type, epoch_us(ts)//1000000 AS t, value FROM events) e
          |GROUP BY event_type, window_start""".stripMargin),

      "ev_sliding" ->
        ("""SELECT event_type, (t - t % 900) - 900*j AS window_start,
          |       count(*) AS n, round(sum(value), 4) AS sum_value
          |FROM (SELECT event_type, epoch_us(ts)//1000000 AS t, value FROM events) e,
          |     generate_series(0, 3) g(j)
          |GROUP BY 1, 2""".stripMargin),

      "ev_anomaly" ->
        ("""WITH counts AS (
          |  SELECT event_type, t - t % 3600 AS window_start, count(*) AS n
          |  FROM (SELECT event_type, epoch_us(ts)//1000000 AS t FROM events) e
          |  GROUP BY 1, 2),
          |stats AS (
          |  SELECT event_type, avg(n) AS mean, stddev_samp(n) AS sd
          |  FROM counts GROUP BY 1),
          |z AS (
          |  SELECT c.event_type, c.window_start, c.n,
          |         round((c.n - s.mean) / s.sd, 4) + 0 AS z
          |  FROM counts c JOIN stats s USING (event_type))
          |SELECT event_type, window_start, n, z FROM z WHERE abs(z) >= 2.0""".stripMargin),

      "ev_dau_wau" ->
        ("""WITH ud AS (
          |  SELECT DISTINCT user_id, (epoch_us(ts)//1000000)//86400 AS day FROM events),
          |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
          |expanded AS (
          |  SELECT DISTINCT user_id, day + j AS wday
          |  FROM ud, generate_series(0, 6) g(j)),
          |wau AS (SELECT wday, count(*) AS wau FROM expanded GROUP BY 1)
          |SELECT d.day, d.dau, w.wau,
          |       round(d.dau::double / w.wau::double, 4) AS stickiness
          |FROM dau d JOIN wau w ON w.wday = d.day""".stripMargin),

      "ev_corr" ->
        ("""WITH c AS (
          |  SELECT event_type AS t, ts2 - ts2 % 3600 AS h, count(*) AS n
          |  FROM (SELECT event_type, epoch_us(ts)//1000000 AS ts2 FROM events) e
          |  GROUP BY 1, 2)
          |SELECT a.t AS ta, b.t AS tb, count(*) AS n_hours,
          |       round(corr(a.n, b.n), 4) + 0 AS r
          |FROM c a JOIN c b ON a.h = b.h AND a.t < b.t
          |GROUP BY 1, 2""".stripMargin),

      "ev_session_stats" ->
        ("""WITH ev AS (SELECT user_id, epoch_us(ts)//1000000 AS t, event_id FROM events),
          | flagged AS (SELECT user_id, t, event_id,
          |   CASE WHEN t - lag(t) OVER w > 1800 OR lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
          |   FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
          | sessions AS (SELECT user_id, t,
          |   CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          |   FROM flagged),
          | sess AS (SELECT user_id, session_id, min(t) AS ss, max(t) AS se FROM sessions GROUP BY 1, 2),
          | durs AS (SELECT (se - ss)::double AS v FROM sess)
          |SELECT 0.5::double AS q, round(percentile_cont(0.5) WITHIN GROUP (ORDER BY v), 4) AS value FROM durs
          |UNION ALL SELECT 0.9::double, round(percentile_cont(0.9) WITHIN GROUP (ORDER BY v), 4) FROM durs
          |UNION ALL SELECT 0.99::double, round(percentile_cont(0.99) WITHIN GROUP (ORDER BY v), 4) FROM durs""".stripMargin),

      "ev_bursts" ->
        ("""WITH counts AS (
          |  SELECT event_type, t - t % 3600 AS window_start, count(*) AS n
          |  FROM (SELECT event_type, epoch_us(ts)//1000000 AS t FROM events) e
          |  GROUP BY 1, 2),
          |stats AS (
          |  SELECT event_type, avg(n) AS mean, stddev_samp(n) AS sd
          |  FROM counts GROUP BY 1),
          |z AS (
          |  SELECT c.event_type, c.window_start, c.n,
          |         round((c.n - s.mean) / s.sd, 4) + 0 AS z
          |  FROM counts c JOIN stats s USING (event_type)
          |  WHERE s.sd > 0),
          |f AS (SELECT * FROM z WHERE abs(z) >= 1.5),
          |isl AS (
          |  SELECT event_type, window_start, z,
          |         window_start//3600 -
          |           row_number() OVER (PARTITION BY event_type ORDER BY window_start) AS i
          |  FROM f)
          |SELECT event_type, min(window_start) AS start_ts, max(window_start) AS end_ts,
          |       count(*) AS n_windows, max(abs(z)) AS peak_absz
          |FROM isl GROUP BY event_type, i""".stripMargin),

      "ev_latency_pct" ->
        ("""WITH vals AS (SELECT event_type, value::double AS v FROM events)
          |SELECT event_type, 0.5::double AS q, round(percentile_cont(0.5) WITHIN GROUP (ORDER BY v), 4) AS value FROM vals GROUP BY event_type
          |UNION ALL SELECT event_type, 0.95::double, round(percentile_cont(0.95) WITHIN GROUP (ORDER BY v), 4) FROM vals GROUP BY event_type
          |UNION ALL SELECT event_type, 0.99::double, round(percentile_cont(0.99) WITHIN GROUP (ORDER BY v), 4) FROM vals GROUP BY event_type""".stripMargin),

      "ev_top_users" ->
        ("""WITH totals AS (
          |  SELECT event_type, user_id, round(sum(value), 4) AS total_value
          |  FROM events GROUP BY 1, 2),
          |ranked AS (
          |  SELECT event_type, user_id, total_value,
          |         CAST(row_number() OVER (PARTITION BY event_type
          |           ORDER BY total_value DESC, user_id) AS BIGINT) AS rank
          |  FROM totals)
          |SELECT event_type, rank, user_id, total_value
          |FROM ranked WHERE rank <= 10""".stripMargin),

      "ev_funnel_time" ->
        ("""WITH ev AS (
          |  SELECT user_id, epoch_us(ts)//1000000 AS t,
          |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
          |      WHEN 'purchase' THEN 3 ELSE 0 END AS step
          |  FROM events),
          |lists AS (
          |  SELECT user_id, list([t, step] ORDER BY t, step) AS evs
          |  FROM ev WHERE step > 0 GROUP BY 1),
          |folded AS (
          |  SELECT user_id,
          |    list_reduce(list_prepend([-1, -1, -1]::BIGINT[], evs), (acc, e) -> [
          |      CASE WHEN acc[1] = -1 AND e[2] = 1 THEN e[1] ELSE acc[1] END,
          |      CASE WHEN acc[1] <> -1 AND acc[2] = -1 AND e[2] = 2
          |        AND e[1] > acc[1] AND e[1] - acc[1] <= 86400 THEN e[1] ELSE acc[2] END,
          |      CASE WHEN acc[2] <> -1 AND acc[3] = -1 AND e[2] = 3
          |        AND e[1] > acc[2] AND e[1] - acc[2] <= 86400 THEN e[1] ELSE acc[3] END]) AS f
          |  FROM lists),
          |durs AS (SELECT (f[3] - f[1])::double AS v FROM folded
          |         WHERE f[1] <> -1 AND f[2] <> -1 AND f[3] <> -1)
          |SELECT 0.25::double AS q, round(percentile_cont(0.25) WITHIN GROUP (ORDER BY v), 4) AS value FROM durs
          |UNION ALL SELECT 0.5::double, round(percentile_cont(0.5) WITHIN GROUP (ORDER BY v), 4) FROM durs
          |UNION ALL SELECT 0.9::double, round(percentile_cont(0.9) WITHIN GROUP (ORDER BY v), 4) FROM durs""".stripMargin),

      "ev_attribution" ->
        ("""WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts)//1000000 AS t, value FROM events),
          |p AS (SELECT event_id, user_id, t, value FROM ev WHERE event_type = 'purchase'),
          |tch AS (SELECT user_id, t AS touch_t, max(event_type) AS touch_type
          |        FROM ev WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
          |SELECT p.event_id, p.user_id, p.t, round(p.value, 4) + 0 AS value,
          |  CASE WHEN d.touch_t IS NOT NULL AND d.touch_t >= p.t - 86400 THEN d.touch_type END AS touch_type,
          |  CASE WHEN d.touch_t IS NOT NULL AND d.touch_t >= p.t - 86400 THEN d.touch_t END AS touch_t
          |FROM p ASOF LEFT JOIN tch d
          |  ON p.user_id = d.user_id AND p.t >= d.touch_t""".stripMargin),

      "ev_cohort_ltv" ->
        ("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts)//1000000 AS t, value FROM events),
          |cohort AS (SELECT user_id, CAST(floor(min(t) / 604800.0) AS BIGINT) AS cohort_week
          |           FROM ev WHERE event_type = 'signup' GROUP BY 1),
          |per_user AS (
          |  SELECT e.user_id, c.cohort_week,
          |         CAST(floor(e.t / 604800.0) AS BIGINT) - c.cohort_week AS age_week,
          |         sum(e.value) AS v
          |  FROM ev e JOIN cohort c USING (user_id)
          |  WHERE e.event_type = 'purchase'
          |  GROUP BY 1, 2, 3)
          |SELECT cohort_week, age_week, count(*)::bigint AS n_buyers,
          |       round(sum(v), 4) + 0 AS revenue
          |FROM per_user GROUP BY 1, 2""".stripMargin),

      "ev_asof" ->
        ("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts)//1000000 AS t, value FROM events),
          |dim AS (SELECT user_id, (t//86400 + 1) * 86400 AS snap_t,
          |               round(sum(value), 4) AS prev_day_value
          |        FROM ev GROUP BY user_id, t//86400)
          |SELECT e.user_id, e.event_id, e.t, d.snap_t AS asof_t, d.prev_day_value
          |FROM ev e ASOF LEFT JOIN dim d
          |  ON e.user_id = d.user_id AND e.t >= d.snap_t""".stripMargin),

      "ev_in_burst" ->
        ("""WITH counts AS (
          |  SELECT event_type, t - t % 3600 AS window_start, count(*) AS n
          |  FROM (SELECT event_type, epoch_us(ts)//1000000 AS t FROM events) e
          |  GROUP BY 1, 2),
          |stats AS (
          |  SELECT event_type, avg(n) AS mean, stddev_samp(n) AS sd
          |  FROM counts GROUP BY 1),
          |z AS (
          |  SELECT c.event_type, c.window_start, c.n,
          |         round((c.n - s.mean) / s.sd, 4) + 0 AS z
          |  FROM counts c JOIN stats s USING (event_type)
          |  WHERE s.sd > 0),
          |f AS (SELECT * FROM z WHERE abs(z) >= 1.5),
          |isl AS (
          |  SELECT event_type, window_start,
          |         window_start//3600 -
          |           row_number() OVER (PARTITION BY event_type ORDER BY window_start) AS i
          |  FROM f),
          |bursts AS (SELECT event_type, min(window_start) AS start_ts, max(window_start) AS end_ts
          |           FROM isl GROUP BY event_type, i),
          |ev AS (SELECT event_type, epoch_us(ts)//1000000 AS t, value FROM events)
          |SELECT b.event_type, b.start_ts, b.end_ts,
          |       count(*) AS n_events, round(sum(e.value), 4) AS sum_value
          |FROM bursts b JOIN ev e ON e.event_type = b.event_type
          |  AND e.t BETWEEN b.start_ts AND b.end_ts + 3599
          |GROUP BY 1, 2, 3""".stripMargin),

      "ev_rfm" ->
        ("""WITH grain AS (
          |  SELECT user_id, max(epoch_us(ts)//1000000) AS recency,
          |         count(*) AS frequency, round(sum(value), 4) AS monetary
          |  FROM events GROUP BY 1)
          |SELECT user_id, recency, frequency, monetary,
          |  CAST(ntile(5) OVER (ORDER BY recency, user_id) AS BIGINT) AS r,
          |  CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS BIGINT) AS f,
          |  CAST(ntile(5) OVER (ORDER BY monetary, user_id) AS BIGINT) AS m
          |FROM grain""".stripMargin),

      "q1_agg" ->
        ("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty,
          | round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
          | round(avg(l_discount), 4) AS avg_disc, count(*) AS count_order
          |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

      "q_semijoin" ->
        ("""SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
          |FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 50)
          |GROUP BY l_returnflag""".stripMargin),

      "q_join3" ->
        ("""SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 4) AS sum_acctbal
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey GROUP BY r_name""".stripMargin),

      "q_topk" ->
        ("""SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin),

      "d_exact_dedup" ->
        ("SELECT md5(text) AS dedup_key, min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY 1"),

      "d_exact_norm" ->
        ("SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS dedup_key, " +
          "min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY 1"),

      "d_incremental_dedup" ->
        ("""SELECT a.doc_id, a.lang FROM documents a
          |WHERE a.doc_id >= 250 AND NOT EXISTS (
          |  SELECT 1 FROM documents b WHERE b.doc_id < 250
          |    AND md5(trim(regexp_replace(lower(b.text), '\s+', ' ', 'g'))) =
          |        md5(trim(regexp_replace(lower(a.text), '\s+', ' ', 'g'))))""".stripMargin),

      "d_incremental_neardup" ->
        (s"""WITH RECURSIVE
           |sets AS (SELECT doc_id, $sh3 AS sh FROM documents),
           |bnd AS (SELECT * FROM ($minhashBands)),
           |dirty AS (
           |  SELECT DISTINCT a.doc_id AS id
           |  FROM bnd a JOIN bnd s ON a.band = s.band
           |  JOIN sets sa ON sa.doc_id = a.doc_id
           |  JOIN sets ss ON ss.doc_id = s.doc_id
           |  WHERE a.doc_id >= 250 AND s.doc_id < 250
           |    AND len(list_intersect(sa.sh, ss.sh))::double / len(list_distinct(list_concat(sa.sh, ss.sh))) >= 0.5),
           |cands AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.doc_id < b.doc_id
           |  WHERE a.doc_id >= 250 AND b.doc_id >= 250
           |    AND a.doc_id NOT IN (SELECT id FROM dirty)
           |    AND b.doc_id NOT IN (SELECT id FROM dirty)
           |  GROUP BY 1, 2),
           |verified AS (SELECT p.id_a, p.id_b FROM cands p
           |  JOIN sets sa ON sa.doc_id = p.id_a JOIN sets sb ON sb.doc_id = p.id_b
           |  WHERE len(list_intersect(sa.sh, sb.sh))::double / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM verified UNION SELECT id_b, id_a FROM verified),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, label) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
           |losers AS (SELECT id FROM (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id) WHERE id <> cluster_id)
           |SELECT d.doc_id, d.lang, d.source FROM documents d
           |WHERE d.doc_id >= 250
           |  AND d.doc_id NOT IN (SELECT id FROM dirty)
           |  AND d.doc_id NOT IN (SELECT id FROM losers)""".stripMargin),

      "d_minhash_pairs" ->
        (s"SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM ($minhashBands) a " +
          s"JOIN ($minhashBands) b ON a.band = b.band AND a.doc_id < b.doc_id"),

      "d_simhash" ->
        (s"SELECT doc_id, CAST($simhashExpr AS BIGINT) AS fp FROM documents"),

      "d_simhash_pairs" ->
        (s"""WITH fps AS (SELECT doc_id, CAST($simhashExpr AS BIGINT) AS fp FROM documents),
           |keyed AS (SELECT doc_id, fp, fp >> 24 AS bucket FROM fps)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.fp, b.fp)) AS dist
           |FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.fp, b.fp)) <= 14""".stripMargin),

      "d_simhash_recall" ->
        (s"""WITH fps AS (SELECT doc_id, lang, source,
           |    CAST($simhashExpr AS BIGINT) AS fp FROM documents),
           |truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM fps a JOIN fps b
           |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.fp, b.fp)) <= 14),
           |keyed AS (SELECT doc_id, lang, source, fp, fp >> 24 AS bucket FROM fps),
           |approx AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM keyed a JOIN keyed b
           |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id
           |    AND a.lang = b.lang AND a.source = b.source
           |  WHERE bit_count(xor(a.fp, b.fp)) <= 14),
           |hit AS (SELECT a.id_a, a.id_b FROM approx a
           |  JOIN truth t ON t.id_a = a.id_a AND t.id_b = a.id_b)
           |SELECT (SELECT count(*) FROM truth)::bigint AS n_truth,
           |  (SELECT count(*) FROM approx)::bigint AS n_approx,
           |  (SELECT count(*) FROM hit)::bigint AS n_hit,
           |  round((SELECT count(*) FROM hit)::double / greatest((SELECT count(*) FROM approx)::double, 1.0), 4) + 0 AS precision,
           |  round((SELECT count(*) FROM hit)::double / greatest((SELECT count(*) FROM truth)::double, 1.0), 4) + 0 AS recall""".stripMargin),

      // banded twin: any of the 4 disjoint 8-bit bands may collide
      "d_simhash_recall_banded" ->
        (s"""WITH fps AS (SELECT doc_id, lang, source,
           |    CAST($simhashExpr AS BIGINT) AS fp FROM documents),
           |truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM fps a JOIN fps b
           |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.fp, b.fp)) <= 14),
           |banded AS (SELECT doc_id, lang, source, fp, t.b AS band,
           |    (fp >> (t.b * 8)) & 255 AS v
           |  FROM fps, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) t),
           |approx AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM banded a JOIN banded b
           |    ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id
           |    AND a.lang = b.lang AND a.source = b.source
           |  WHERE bit_count(xor(a.fp, b.fp)) <= 14),
           |hit AS (SELECT a.id_a, a.id_b FROM approx a
           |  JOIN truth t ON t.id_a = a.id_a AND t.id_b = a.id_b)
           |SELECT (SELECT count(*) FROM truth)::bigint AS n_truth,
           |  (SELECT count(*) FROM approx)::bigint AS n_approx,
           |  (SELECT count(*) FROM hit)::bigint AS n_hit,
           |  round((SELECT count(*) FROM hit)::double / greatest((SELECT count(*) FROM approx)::double, 1.0), 4) + 0 AS precision,
           |  round((SELECT count(*) FROM hit)::double / greatest((SELECT count(*) FROM truth)::double, 1.0), 4) + 0 AS recall""".stripMargin),

      "d_jaccard_pairs" ->
        ("""WITH docs AS (SELECT lang, source, doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS words FROM documents)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          | round(len(list_intersect(a.words, b.words))::double / len(list_distinct(list_concat(a.words, b.words))), 4) AS jaccard
          |FROM docs a JOIN docs b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
          |WHERE len(list_intersect(a.words, b.words))::double / len(list_distinct(list_concat(a.words, b.words))) >= 0.5""".stripMargin),

      "d_fingerprint" ->
        (s"SELECT doc_id, list_min(list_transform(${shinglesSql(5)}, s -> md5(s))) AS fp FROM documents"),

      "d_pmi_bigrams" ->
        ("""WITH toks AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
          |uni AS (SELECT unnest(ws) AS w FROM toks),
          |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
          |tot AS (SELECT (SELECT count(*)::double FROM uni) AS n_uni,
          |               (SELECT sum(greatest(len(ws) - 1, 0))::double FROM toks) AS n_bi),
          |bi AS (SELECT p[1] AS a, p[2] AS b FROM (
          |  SELECT unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
          |                i -> [ws[i], ws[i+1]])) AS p FROM toks)),
          |bc AS (SELECT a, b, count(*) AS c_ab FROM bi GROUP BY 1, 2 HAVING count(*) >= 5),
          |scored AS (
          |  SELECT bc.a, bc.b, bc.c_ab,
          |         round(ln((bc.c_ab::double * tot.n_uni * tot.n_uni) /
          |                  (tot.n_bi * ca.c::double * cb.c::double)), 4) + 0 AS pmi
          |  FROM bc JOIN uc ca ON ca.w = bc.a JOIN uc cb ON cb.w = bc.b, tot)
          |SELECT CAST(row_number() OVER (ORDER BY pmi DESC, a, b) AS BIGINT) AS rank,
          |       a, b, c_ab, pmi
          |FROM scored ORDER BY pmi DESC, a, b LIMIT 50""".stripMargin),

      "d_shingle_card" ->
        (s"""WITH sh AS (SELECT source, unnest(${shinglesSql(5)}) AS s FROM documents),
           |perkey AS (SELECT source, s, count(*) AS n FROM sh GROUP BY 1, 2),
           |agg AS (SELECT source, count(*) AS distinct_shingles,
           |               sum(n)::bigint AS total_shingles FROM perkey GROUP BY 1),
           |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
           |SELECT nd.source, nd.n_docs,
           |       coalesce(agg.total_shingles, 0) AS total_shingles,
           |       coalesce(agg.distinct_shingles, 0) AS distinct_shingles,
           |       CASE WHEN agg.total_shingles > 0
           |            THEN round(1.0 - distinct_shingles::double / total_shingles, 4) END AS dup_ratio
           |FROM nd LEFT JOIN agg USING (source)""".stripMargin),

      "d_cluster_sizes" ->
        (s"""WITH RECURSIVE
           |cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM ($minhashBands) a
           |  JOIN ($minhashBands) b ON a.band = b.band AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |sets AS (SELECT doc_id, $sh3 AS sh FROM documents),
           |verified AS (SELECT p.id_a, p.id_b FROM cands p
           |  JOIN sets sa ON sa.doc_id = p.id_a JOIN sets sb ON sb.doc_id = p.id_b
           |  WHERE len(list_intersect(sa.sh, sb.sh))::double / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM verified UNION SELECT id_b, id_a FROM verified),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, label) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
           |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
           |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)
           |SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY 1""".stripMargin),

      "d_minhash_recall" ->
        (s"""WITH lab AS (SELECT doc_id, lang, source FROM documents),
           |sets AS (SELECT doc_id, $sh3 AS sh FROM documents),
           |truth AS (SELECT sa.doc_id AS id_a, sb.doc_id AS id_b
           |  FROM sets sa JOIN lab la ON la.doc_id = sa.doc_id
           |  JOIN sets sb ON sa.doc_id < sb.doc_id
           |  JOIN lab lb ON lb.doc_id = sb.doc_id
           |  WHERE la.lang = lb.lang AND la.source = lb.source
           |    AND len(list_intersect(sa.sh, sb.sh))::double / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
           |cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM ($minhashBands) a
           |  JOIN ($minhashBands) b ON a.band = b.band AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |verified AS (SELECT p.id_a, p.id_b FROM cands p
           |  JOIN sets sa ON sa.doc_id = p.id_a JOIN sets sb ON sb.doc_id = p.id_b
           |  WHERE len(list_intersect(sa.sh, sb.sh))::double / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
           |approx AS (SELECT v.id_a, v.id_b FROM verified v
           |  JOIN lab la ON la.doc_id = v.id_a JOIN lab lb ON lb.doc_id = v.id_b
           |  WHERE la.lang = lb.lang AND la.source = lb.source),
           |hit AS (SELECT a.id_a, a.id_b FROM approx a
           |  JOIN truth t ON t.id_a = a.id_a AND t.id_b = a.id_b)
           |SELECT (SELECT count(*) FROM truth)::bigint AS n_truth,
           |  (SELECT count(*) FROM approx)::bigint AS n_approx,
           |  (SELECT count(*) FROM hit)::bigint AS n_hit,
           |  round((SELECT count(*) FROM hit)::double / greatest((SELECT count(*) FROM approx)::double, 1.0), 4) + 0 AS precision,
           |  round((SELECT count(*) FROM hit)::double / greatest((SELECT count(*) FROM truth)::double, 1.0), 4) + 0 AS recall""".stripMargin),

      "d_source_overlap" ->
        (s"""WITH cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM ($minhashBands) a
           |  JOIN ($minhashBands) b ON a.band = b.band AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |sets AS (SELECT doc_id, $sh3 AS sh FROM documents),
           |verified AS (SELECT p.id_a, p.id_b FROM cands p
           |  JOIN sets sa ON sa.doc_id = p.id_a JOIN sets sb ON sb.doc_id = p.id_b
           |  WHERE len(list_intersect(sa.sh, sb.sh))::double / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
           |lab AS (SELECT doc_id, source FROM documents)
           |SELECT least(sa.source, sb.source) AS src_lo,
           |       greatest(sa.source, sb.source) AS src_hi,
           |       count(*)::bigint AS n_pairs
           |FROM verified v JOIN lab sa ON sa.doc_id = v.id_a
           |JOIN lab sb ON sb.doc_id = v.id_b
           |GROUP BY 1, 2""".stripMargin),

      "d_source_dup_rate" ->
        (s"""WITH RECURSIVE
           |cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM ($minhashBands) a
           |  JOIN ($minhashBands) b ON a.band = b.band AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |sets AS (SELECT doc_id, $sh3 AS sh FROM documents),
           |verified AS (SELECT p.id_a, p.id_b FROM cands p
           |  JOIN sets sa ON sa.doc_id = p.id_a JOIN sets sb ON sb.doc_id = p.id_b
           |  WHERE len(list_intersect(sa.sh, sb.sh))::double / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM verified UNION SELECT id_b, id_a FROM verified),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, label) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
           |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id)
           |SELECT d.source, count(*) AS n_docs,
           |       sum(CASE WHEN cl.cluster_id IS NOT NULL AND cl.cluster_id <> d.doc_id
           |                THEN 1 ELSE 0 END)::bigint AS n_dropped,
           |       round(sum(CASE WHEN cl.cluster_id IS NOT NULL AND cl.cluster_id <> d.doc_id
           |                 THEN 1 ELSE 0 END)::double / count(*), 4) AS dup_rate
           |FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id GROUP BY 1""".stripMargin),

      "d_snapshot_diff" ->
        ("""WITH v2 AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
          |  FROM documents WHERE doc_id % 10 <> 0
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
          |o AS (SELECT doc_id, md5(text) AS h_old FROM documents),
          |n AS (SELECT doc_id, md5(text) AS h_new FROM v2),
          |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, h_old, h_new
          |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
          |SELECT CASE WHEN h_old IS NULL THEN 'added'
          |            WHEN h_new IS NULL THEN 'removed'
          |            WHEN h_old <> h_new THEN 'changed'
          |            ELSE 'unchanged' END AS status,
          |       count(*)::bigint AS n_docs
          |FROM j GROUP BY 1""".stripMargin),

      "d_funnel_report" ->
        (s"""WITH RECURSIVE
           |q AS (SELECT * FROM documents WHERE $qualityExpr >= 0.75),
           |e AS (SELECT min(doc_id) AS keep FROM q GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
           |qe AS (SELECT * FROM q WHERE doc_id IN (SELECT keep FROM e)),
           |cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM (${minhashBandsOver("qe")}) a
           |  JOIN (${minhashBandsOver("qe")}) b ON a.band = b.band AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |sets AS (SELECT doc_id, $sh3 AS sh FROM qe),
           |verified AS (SELECT p.id_a, p.id_b FROM cands p
           |  JOIN sets sa ON sa.doc_id = p.id_a JOIN sets sb ON sb.doc_id = p.id_b
           |  WHERE len(list_intersect(sa.sh, sb.sh))::double / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM verified UNION SELECT id_b, id_a FROM verified),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, label) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e2.dst, r.label FROM reach r JOIN edges e2 ON e2.src = r.id),
           |losers AS (SELECT id FROM (SELECT id, min(label) AS lbl FROM reach GROUP BY id) t WHERE id <> lbl),
           |nd AS (SELECT * FROM qe WHERE doc_id NOT IN (SELECT id FROM losers))
           |SELECT CAST(1 AS BIGINT) AS stage_no, 'raw' AS stage, count(*)::bigint AS n_docs,
           |  CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens FROM documents
           |UNION ALL SELECT CAST(2 AS BIGINT), 'quality', count(*)::bigint,
           |  CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) FROM q
           |UNION ALL SELECT CAST(3 AS BIGINT), 'exact', count(*)::bigint,
           |  CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) FROM qe
           |UNION ALL SELECT CAST(4 AS BIGINT), 'neardup', count(*)::bigint,
           |  CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) FROM nd""".stripMargin),

      "d_curate" ->
        (s"""WITH RECURSIVE
           |q AS (SELECT * FROM documents WHERE $qualityExpr >= 0.75),
           |e AS (SELECT min(doc_id) AS keep FROM q GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
           |qe AS (SELECT * FROM q WHERE doc_id IN (SELECT keep FROM e)),
           |cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM (${minhashBandsOver("qe")}) a
           |  JOIN (${minhashBandsOver("qe")}) b ON a.band = b.band AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |sets AS (SELECT doc_id, $sh3 AS sh FROM qe),
           |verified AS (SELECT p.id_a, p.id_b FROM cands p
           |  JOIN sets sa ON sa.doc_id = p.id_a JOIN sets sb ON sb.doc_id = p.id_b
           |  WHERE len(list_intersect(sa.sh, sb.sh))::double / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM verified UNION SELECT id_b, id_a FROM verified),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, label) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e2.dst, r.label FROM reach r JOIN edges e2 ON e2.src = r.id),
           |losers AS (SELECT id FROM (SELECT id, min(label) AS lbl FROM reach GROUP BY id) t WHERE id <> lbl)
           |SELECT doc_id, lang, source FROM qe WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin),

      "d_curate_decon" ->
        (s"""WITH RECURSIVE
           |q AS (SELECT * FROM documents WHERE $qualityExpr >= 0.75),
           |e AS (SELECT min(doc_id) AS keep FROM q GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
           |qe AS (SELECT * FROM q WHERE doc_id IN (SELECT keep FROM e)),
           |cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM (${minhashBandsOver("qe")}) a
           |  JOIN (${minhashBandsOver("qe")}) b ON a.band = b.band AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |sets AS (SELECT doc_id, $sh3 AS sh FROM qe),
           |verified AS (SELECT p.id_a, p.id_b FROM cands p
           |  JOIN sets sa ON sa.doc_id = p.id_a JOIN sets sb ON sb.doc_id = p.id_b
           |  WHERE len(list_intersect(sa.sh, sb.sh))::double / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM verified UNION SELECT id_b, id_a FROM verified),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, label) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e2.dst, r.label FROM reach r JOIN edges e2 ON e2.src = r.id),
           |losers AS (SELECT id FROM (SELECT id, min(label) AS lbl FROM reach GROUP BY id) t WHERE id <> lbl),
           |kept AS (SELECT * FROM qe WHERE doc_id NOT IN (SELECT id FROM losers)),
           |ev AS (SELECT DISTINCT unnest(${shinglesSql(5)}) AS sh FROM documents WHERE doc_id % 97 = 0),
           |ks AS (SELECT doc_id, unnest(${shinglesSql(5)}) AS sh FROM kept),
           |cont AS (SELECT ks.doc_id FROM ks JOIN ev USING (sh) GROUP BY 1 HAVING count(*) >= 2)
           |SELECT doc_id, lang, source FROM kept
           |WHERE doc_id NOT IN (SELECT doc_id FROM cont)""".stripMargin),

      "d_langid" ->
        (s"""WITH scores AS ($langScores),
           | ranked AS (SELECT doc_id, lang, hits, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn FROM scores)
           |SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS pred_lang FROM ranked WHERE rn = 1""".stripMargin),

      "d_lang_confusion" ->
        (s"""WITH scores AS ($langScores),
           | ranked AS (SELECT doc_id, lang, hits, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn FROM scores),
           | pred AS (SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS predicted FROM ranked WHERE rn = 1)
           |SELECT d.lang AS actual, p.predicted, count(*) AS n
           |FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2""".stripMargin),

      "d_quality" ->
        (s"""SELECT doc_id,
           | CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
           | round(length(text)::double / greatest(len(string_split_regex(trim(text), '\\s+'))::double, 1.0), 4) AS mean_word_len,
           | round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::double / greatest(length(text)::double, 1.0), 4) AS alpha_ratio,
           | round(length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g'))::double / greatest(length(text)::double, 1.0), 4) AS punct_ratio,
           | round(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w IN ($allStops)))::double / greatest(len(string_split_regex(trim(text), '\\s+'))::double, 1.0), 4) AS stopword_ratio,
           | round(0.5 * least(len(string_split_regex(trim(text), '\\s+'))::double / 64.0, 1.0) + 0.5 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::double / greatest(length(text)::double, 1.0)), 4) AS quality
           |FROM documents""".stripMargin),

      "d_tokens" ->
        ("""SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
          | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
          |FROM documents""".stripMargin),

      "d_mixture" ->
        ("""WITH per AS (
          |  SELECT source, count(*) AS n_docs,
          |         CAST(sum(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY 1),
          |fr AS (
          |  SELECT source, n_docs, n_tokens,
          |         n_tokens::double / (sum(n_tokens) OVER ())::double AS tf
          |  FROM per),
          |pw AS (SELECT *, pow(tf, 0.7::double) AS p FROM fr)
          |SELECT source, n_docs, n_tokens,
          |       round(tf, 6) + 0 AS token_frac,
          |       round(p / sum(p) OVER (), 6) + 0 AS weight
          |FROM pw""".stripMargin),

      "d_mixture_apply" ->
        ("""WITH per AS (
          |  SELECT source,
          |         sum(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS nt
          |  FROM documents GROUP BY 1),
          |eps AS (
          |  SELECT source, nt, sum(nt) OVER () AS total,
          |         pow(nt::double / (sum(nt) OVER ())::double, 0.3::double) AS pw
          |  FROM per),
          |ep2 AS (
          |  SELECT source, nt, total, round(pw / sum(pw) OVER (), 6) AS w
          |  FROM eps),
          |ep3 AS (SELECT source, round(w * total / nt, 6) + 0 AS epochs FROM ep2),
          |reps AS (
          |  SELECT d.doc_id, d.source, e.epochs,
          |    CAST(floor(e.epochs) + CASE WHEN
          |      ('0x' || substr(md5(d.doc_id::varchar || '|epoch'), 1, 15))::bigint
          |        / 1152921504606846976.0 < e.epochs - floor(e.epochs)
          |      THEN 1 ELSE 0 END AS BIGINT) AS copies
          |  FROM documents d JOIN ep3 e USING (source))
          |SELECT doc_id, source, epochs, unnest(range(0, copies)) AS copy
          |FROM reps WHERE copies > 0""".stripMargin),

      "d_decontaminate" ->
        (s"""WITH ev AS (SELECT DISTINCT unnest(${shinglesSql(5)}) AS sh FROM documents WHERE doc_id % 97 = 0),
           |ds AS (SELECT doc_id, unnest(${shinglesSql(5)}) AS sh FROM documents)
           |SELECT ds.doc_id, count(*) AS n_shared FROM ds JOIN ev USING (sh)
           |GROUP BY 1 HAVING count(*) >= 2""".stripMargin),

      "d_scrub" ->
        ("""WITH salted AS (
          |  SELECT doc_id,
          |    text || ' contact user' || doc_id || '@example.com from 10.0.' || (doc_id % 256) || '.7 or call +1 555 867-53' || (doc_id % 100) AS t
          |  FROM documents),
          |m1 AS (SELECT doc_id, t, regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM salted),
          |m2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS t2 FROM m1)
          |SELECT doc_id,
          |  regexp_replace(t2, '\+[0-9][0-9 ().-]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed,
          |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          |  CAST(len(regexp_extract_all(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
          |  CAST(len(regexp_extract_all(t2, '\+[0-9][0-9 ().-]{6,}[0-9]')) AS BIGINT) AS n_phones
          |FROM m2""".stripMargin),

      "d_bm25" ->
        ("""WITH ws AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
          |d AS (SELECT doc_id, w, len(w)::double AS dl FROM ws),
          |g AS (SELECT count(*)::double AS n, sum(dl) / count(*)::double AS avgdl FROM d),
          |dfs AS (
          |  SELECT t.term, count(*)::double AS df
          |  FROM d, unnest(['data','join','query','spark']) AS t(term)
          |  WHERE list_contains(w, t.term) GROUP BY 1),
          |per AS (
          |  SELECT d.doc_id, d.dl, t.term,
          |         len(list_filter(d.w, x -> x = t.term))::double AS tf,
          |         coalesce(f.df, 0.0) AS df
          |  FROM d CROSS JOIN unnest(['data','join','query','spark']) AS t(term)
          |  LEFT JOIN dfs f ON f.term = t.term),
          |scored AS (
          |  SELECT doc_id, dl, term,
          |    CASE WHEN tf > 0 THEN
          |      ln(1.0::double + ((SELECT n FROM g) - df + 0.5::double) / (df + 0.5::double))
          |      * tf * (1.2::double + 1.0::double)
          |      / (tf + 1.2::double * ((1.0::double - 0.75::double) + 0.75::double * dl / (SELECT avgdl FROM g)))
          |    ELSE 0.0::double END AS contrib
          |  FROM per)
          |SELECT doc_id, CAST(dl AS BIGINT) AS dl,
          |       round(list_sum(list(contrib ORDER BY term)), 4) + 0 AS bm25
          |FROM scored GROUP BY 1, 2""".stripMargin),

      // hashing-trick twins: the shared hashVecSql chain
      "d_hash_embed" ->
        (s"""WITH $hashVecSql
           |SELECT doc_id, pos, v FROM hvec""".stripMargin),

      "d_hash_knn" ->
        (s"""WITH $hashVecSql,
           |hq AS (SELECT doc_id AS query_id, pos, v AS qv FROM hvec WHERE doc_id < 5),
           |hn AS (SELECT doc_id, sum(v * v)::double AS n2 FROM hvec GROUP BY 1),
           |hqn AS (SELECT query_id, sum(qv * qv)::double AS qn2 FROM hq GROUP BY 1),
           |hd AS (SELECT q.query_id, d.doc_id, sum(d.v * q.qv)::double AS dot
           |  FROM hvec d JOIN hq q USING (pos) WHERE q.query_id <> d.doc_id GROUP BY 1, 2
           |  HAVING sum(d.v * q.qv) > 0),
           |hs AS (SELECT query_id, doc_id, dot / (sqrt(n2) * sqrt(qn2)) AS sim,
           |  row_number() OVER (PARTITION BY query_id ORDER BY dot / (sqrt(n2) * sqrt(qn2)) DESC, doc_id ASC) AS rank
           |  FROM hd JOIN hn USING (doc_id) JOIN hqn USING (query_id))
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, round(sim, 4) + 0 AS sim
           |FROM hs WHERE rank <= 5""".stripMargin),

      // batched BM25 retrieval twin: the shared kwTopSql chain
      "d_keyword_topk" ->
        (s"""WITH $kwTopSql
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, round(score, 4) + 0 AS score
           |FROM hkw WHERE rank <= 10""".stripMargin),

      // hybrid RRF twin: keyword top-20 ∪ cosine top-20, 2^-30-grid
      // reciprocal contributions (exact sums), rank on (rrf desc, id)
      "d_hybrid_rrf" ->
        (s"""WITH $kwTopSql,
           |hvsc AS (SELECT a.vec_id AS query_id, b.vec_id AS id, $cosine AS sim
           |  FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
           |hvec AS (SELECT query_id, id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id ASC) AS rank FROM hvsc),
           |hun AS (
           |  SELECT query_id, doc_id AS id,
           |    floor(1.0 / (60 + rank) * 1073741824.0) / 1073741824.0 AS rc
           |  FROM hkw WHERE rank <= 20
           |  UNION ALL
           |  SELECT query_id, id,
           |    floor(1.0 / (60 + rank) * 1073741824.0) / 1073741824.0 AS rc
           |  FROM hvec WHERE rank <= 20),
           |hfu AS (SELECT query_id, id, sum(rc) AS rrf, count(*)::bigint AS n_lists
           |  FROM hun GROUP BY 1, 2),
           |hrk AS (SELECT query_id, id, rrf, n_lists,
           |  row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, id ASC) AS rank FROM hfu)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, id, round(rrf, 6) + 0 AS rrf, n_lists
           |FROM hrk WHERE rank <= 10""".stripMargin),

      "d_dup_spans" ->
        (s"""WITH sh AS (
           |  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::bigint % 2147483647 AS h
           |  FROM (SELECT doc_id, unnest(${shinglesSql(5)}) AS s FROM documents) t),
           |dupk AS (SELECT h FROM sh GROUP BY h HAVING count(*) > 1),
           |dup AS (SELECT doc_id, count(*) AS n_dup FROM sh
           |        WHERE h IN (SELECT h FROM dupk) GROUP BY doc_id),
           |tot AS (SELECT doc_id, CAST(len(${shinglesSql(5)}) AS BIGINT) AS n_shingles
           |        FROM documents)
           |SELECT t.doc_id, t.n_shingles,
           |       CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup,
           |       round(coalesce(d.n_dup, 0)::double / greatest(t.n_shingles::double, 1.0), 4) + 0 AS dup_ratio
           |FROM tot t LEFT JOIN dup d USING (doc_id)""".stripMargin),

      "d_scrub_spans" ->
        ("""WITH wrds AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
          |pos AS (
          |  SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS i
          |  FROM wrds),
          |sh AS (SELECT doc_id, i, md5(array_to_string(ws[i:i+4], ' ')) AS h FROM pos),
          |dupk AS (SELECT h FROM sh GROUP BY h HAVING count(*) > 1),
          |starts AS (
          |  SELECT doc_id, flatten(list_transform(list(i), s -> generate_series(s, s+4))) AS cov
          |  FROM sh WHERE h IN (SELECT h FROM dupk) GROUP BY doc_id)
          |SELECT w.doc_id,
          |  coalesce(array_to_string(
          |    list_filter(w.ws, (x, i) -> NOT list_contains(coalesce(s.cov, []), i)), ' '), '') AS clean_text,
          |  CAST(len(w.ws) AS BIGINT) AS n_words,
          |  CAST(len(w.ws) -
          |    len(list_filter(w.ws, (x, i) -> NOT list_contains(coalesce(s.cov, []), i))) AS BIGINT) AS n_removed
          |FROM wrds w LEFT JOIN starts s USING (doc_id)""".stripMargin),

      "d_toxicity" ->
        ("""WITH ws AS (
          |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
          |  FROM documents),
          |sig AS (SELECT doc_id,
          |    len(list_filter(ws, w -> w IN ('slow', 'merge')))::bigint AS n_blocked,
          |    len(ws)::double AS n,
          |    list_contains(ws, 'dup') AS hard_hit
          |  FROM ws)
          |SELECT doc_id, n_blocked,
          |  round(n_blocked::double / greatest(n, 1.0), 4) + 0 AS blocked_ratio,
          |  hard_hit,
          |  (NOT hard_hit AND n_blocked::double / greatest(n, 1.0) <= 0.07) AS keep
          |FROM sig""".stripMargin),

      "d_manifest" ->
        ("""WITH sharded AS (
          |  SELECT doc_id, text,
          |    CAST(('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 8 AS INTEGER) AS shard
          |  FROM documents)
          |SELECT shard, count(*)::bigint AS n_docs,
          |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
          |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
          |  CAST(sum(('0x' || substr(md5(text), 1, 15))::bigint % 2147483647) % 2147483647 AS BIGINT) AS checksum
          |FROM sharded GROUP BY shard""".stripMargin),

      "d_pack_stats" ->
        ("""WITH sharded AS (
          |  SELECT doc_id, text,
          |    CAST(('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 8 AS INTEGER) AS shard
          |  FROM documents),
          |agg AS (
          |  SELECT shard, count(*)::bigint AS n_docs,
          |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
          |  FROM sharded GROUP BY 1)
          |SELECT shard, n_docs, n_tokens,
          |  CAST(ceil(n_tokens::double / 512) AS BIGINT) AS n_bins,
          |  round(n_tokens::double / (ceil(n_tokens::double / 512) * 512), 4) + 0 AS utilization
          |FROM agg""".stripMargin),

      "d_winnow" ->
        ("""WITH wrds AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
          |hs AS (
          |  SELECT doc_id, list_transform(generate_series(1, greatest(len(ws) - 4, 0)),
          |    i -> ('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15))::bigint % 2147483647) AS hs
          |  FROM wrds),
          |fps AS (
          |  SELECT doc_id,
          |    CASE WHEN len(hs) = 0 THEN []::bigint[]
          |         WHEN len(hs) < 4 THEN [list_min(hs)]
          |         ELSE list_sort(list_distinct(list_transform(
          |           generate_series(1, len(hs) - 3), i -> list_min(hs[i:i+3]))))
          |    END AS fps
          |  FROM hs)
          |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
          |       array_to_string(fps, ',') AS fps_str FROM fps""".stripMargin),

      "d_boilerplate" ->
        ("""WITH docs2 AS (
          |  SELECT doc_id,
          |    (CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter' || chr(10) ELSE '' END)
          |    || text ||
          |    (CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'all rights reserved' ELSE '' END) AS text
          |  FROM documents),
          |ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs2),
          |pos AS (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM ls),
          |lines AS (SELECT doc_id, i, ls[i] AS line, trim(ls[i]) AS key FROM pos),
          |hot AS (SELECT key FROM (
          |    SELECT key, doc_id FROM lines WHERE key <> '' GROUP BY 1, 2)
          |  GROUP BY key HAVING count(*) >= 2),
          |marked AS (SELECT doc_id, i, line,
          |    (key <> '' AND key IN (SELECT key FROM hot)) AS dropit FROM lines)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
          |  CAST(coalesce(sum(CASE WHEN dropit THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed,
          |  coalesce(string_agg(CASE WHEN NOT dropit THEN line END, chr(10) ORDER BY i), '') AS clean_text
          |FROM marked GROUP BY doc_id""".stripMargin),

      "d_c4" ->
        ("""WITH salted AS (
          |  SELECT doc_id,
          |    replace(text, ' scan ', '.' || chr(10))
          |    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum filler' ELSE '' END
          |    || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'if (x) { return }' ELSE '' END AS t
          |  FROM documents),
          |lined AS (
          |  SELECT doc_id, t,
          |    list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)), x -> x <> '') AS ls
          |  FROM salted),
          |sig AS (
          |  SELECT doc_id,
          |    CAST(len(ls) AS BIGINT) AS n_lines,
          |    len(list_filter(ls, x -> regexp_matches(x, '[.!?"]$')))::double / greatest(len(ls), 1) AS term,
          |    len(list_filter(ls, x -> regexp_matches(x, '^[-*•]')))::double / greatest(len(ls), 1) AS bullet,
          |    len(list_filter(ls, x -> x LIKE '%...'))::double / greatest(len(ls), 1) AS ellipsis,
          |    len(list_filter(ls, x -> len(regexp_split_to_array(x, '\s+')) >= 5))::double / greatest(len(ls), 1) AS longl,
          |    CAST(CASE WHEN contains(lower(t), 'lorem ipsum') THEN 1 ELSE 0 END AS BIGINT) AS has_lorem,
          |    CAST(CASE WHEN contains(t, '{') THEN 1 ELSE 0 END AS BIGINT) AS has_brace,
          |    len(regexp_split_to_array(trim(t), '\s+')) AS n_words
          |  FROM lined)
          |SELECT doc_id, n_lines,
          |  round(term, 4) + 0 AS term_punct_ratio,
          |  round(bullet, 4) + 0 AS bullet_ratio,
          |  round(ellipsis, 4) + 0 AS ellipsis_ratio,
          |  round(longl, 4) + 0 AS long_line_ratio,
          |  has_lorem, has_brace,
          |  CAST(CASE WHEN has_lorem = 0 AND has_brace = 0
          |            AND term >= 0.25 AND n_words >= 10
          |       THEN 1 ELSE 0 END AS BIGINT) AS keep
          |FROM sig""".stripMargin),

      "d_repetition" ->
        ("""WITH base AS (
          |  SELECT doc_id,
          |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS ls,
          |    regexp_split_to_array(trim(text), '\s+') AS ws
          |  FROM documents),
          |g AS (
          |  SELECT doc_id, ls, ws,
          |    list_transform(
          |      list_zip(list_slice(ws, 1, greatest(len(ws)-1, 0)), list_slice(ws, 2, greatest(len(ws)-1, 0)+1)),
          |      p -> p[1] || ' ' || p[2]) AS bg,
          |    list_transform(
          |      list_zip(list_slice(ws, 1, greatest(len(ws)-2, 0)), list_slice(ws, 2, greatest(len(ws)-2, 0)+1),
          |               list_slice(ws, 3, greatest(len(ws)-2, 0)+2)),
          |      p -> p[1] || ' ' || p[2] || ' ' || p[3]) AS tg
          |  FROM base),
          |r AS (
          |  SELECT doc_id, ls, ws, bg, tg,
          |    list_max(list_transform(list_distinct(bg), q -> len(list_filter(bg, x -> x = q)))) AS maxc,
          |    list_sum(list_transform(ws, w -> length(w))) AS wchars
          |  FROM g)
          |SELECT doc_id,
          |  CASE WHEN len(ls) > 0
          |    THEN round(1.0 - len(list_distinct(ls))::DOUBLE / len(ls), 6) + 0 ELSE 0.0 END AS dup_line_ratio,
          |  CASE WHEN coalesce(list_sum(list_transform(ls, l -> length(l))), 0) > 0
          |    THEN round(list_sum(list_transform(ls, l -> CASE WHEN len(list_filter(ls, x -> x = l)) > 1 THEN length(l) ELSE 0 END))::DOUBLE
          |      / list_sum(list_transform(ls, l -> length(l))), 6) + 0 ELSE 0.0 END AS dup_line_char_ratio,
          |  CASE WHEN len(bg) > 0 AND coalesce(wchars, 0) > 0
          |    THEN round(maxc::DOUBLE * length(replace(
          |        list_min(list_filter(list_distinct(bg), q -> len(list_filter(bg, x -> x = q)) = maxc)), ' ', ''))
          |      / wchars, 6) + 0 ELSE 0.0 END AS top_bigram_char_ratio,
          |  CASE WHEN len(tg) > 0
          |    THEN round(1.0 - len(list_distinct(tg))::DOUBLE / len(tg), 6) + 0 ELSE 0.0 END AS dup_trigram_ratio
          |FROM r""".stripMargin),

      "d_sample_weighted" ->
        ("""SELECT doc_id AS id, n_chars::bigint AS weight,
          |       CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT) AS rank
          |FROM (
          |  SELECT doc_id, n_chars,
          |    pow(('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint / 1152921504606846976.0,
          |        1.0 / n_chars) AS key
          |  FROM documents)
          |ORDER BY key DESC, doc_id LIMIT 100""".stripMargin),

      "d_sample_strat" ->
        ("""SELECT doc_id, lang FROM documents
          |WHERE ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint / 1152921504606846976.0 <
          |  CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'fr' THEN 0.25 ELSE 0.1 END""".stripMargin),

      "d_budget" ->
        ("""WITH t AS (
          |  SELECT doc_id,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tokens,
          |    0.5 * least(len(string_split_regex(trim(text), '\s+'))::double / 64.0, 1.0)
          |      + 0.5 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::double
          |               / greatest(length(text)::double, 1.0)) AS q
          |  FROM documents),
          |c AS (SELECT doc_id, tokens, q,
          |        sum(tokens) OVER (ORDER BY q DESC, doc_id) AS cum FROM t)
          |SELECT doc_id, tokens, round(q, 4) + 0 AS quality,
          |       CAST(cum AS BIGINT) AS cum_tokens
          |FROM c WHERE cum <= 10000""".stripMargin),

      "d_sample_temp" ->
        ("""WITH counts AS (SELECT lang, count(*)::double AS c FROM documents GROUP BY 1),
          |tot AS (SELECT lang, c, sum(c) OVER () AS n, pow(c / sum(c) OVER (), 0.5) AS pw FROM counts),
          |rates AS (SELECT lang, round(least(1.0, 0.3 * n * pw / sum(pw) OVER () / c), 6) AS rate FROM tot)
          |SELECT d.doc_id, d.lang FROM documents d JOIN rates r ON d.lang = r.lang
          |WHERE ('0x' || substr(md5(d.doc_id::varchar || '|temp'), 1, 15))::bigint / 1152921504606846976.0 < r.rate""".stripMargin),

      "d_split" ->
        ("""SELECT doc_id,
          |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
          |FROM (SELECT doc_id,
          |  ('0x' || substr(md5(doc_id::varchar || '|split'), 1, 15))::bigint / 1152921504606846976.0 AS u
          |  FROM documents) t""".stripMargin),

      "d_sample_bottomk" ->
        ("""WITH h AS (SELECT lang AS stratum, doc_id,
          |    ('0x' || substr(md5(doc_id::varchar || '|resv'), 1, 15))::bigint
          |      / 1152921504606846976.0 AS u
          |  FROM documents),
          |r AS (SELECT stratum, doc_id, u,
          |    row_number() OVER (PARTITION BY stratum ORDER BY u, doc_id) AS rn
          |  FROM h)
          |SELECT stratum, CAST(rn AS BIGINT) AS rank, doc_id AS id, u
          |FROM r WHERE rn <= 20""".stripMargin),

      "d_shard" ->
        ("""WITH h AS (SELECT doc_id, ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint AS hv FROM documents)
          |SELECT doc_id, CAST(hv % 8 AS INT) AS shard,
          |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) - 1 AS BIGINT) AS pos
          |FROM h""".stripMargin),

      "d_pack" ->
        ("""WITH h AS (SELECT doc_id, text, ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint AS hv FROM documents),
          |sh AS (SELECT doc_id, CAST(hv % 8 AS INT) AS shard,
          |  row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) - 1 AS pos,
          |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tokens FROM h),
          |c AS (SELECT doc_id, shard, pos, tokens,
          |  CAST(sum(tokens) OVER (PARTITION BY shard ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS BIGINT) AS "offset" FROM sh)
          |SELECT doc_id, shard, CAST(pos AS BIGINT) AS pos, tokens, "offset",
          |  CAST(floor("offset" / 512) AS BIGINT) AS bin FROM c""".stripMargin),

      "d_gopher" ->
        ("""WITH salted AS (
          |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
          |    THEN text || ' the be to of and that have with'
          |    ELSE text END AS text
          |  FROM documents),
          |sig AS (
          |  SELECT doc_id,
          |    string_split_regex(trim(text), '\s+') AS ws,
          |    string_split_regex(trim(lower(text)), '\s+') AS lws,
          |    list_filter(list_transform(string_split(text, chr(10)),
          |      l -> trim(l)), l -> l <> '') AS lines,
          |    len(regexp_replace(text, '\s', '', 'g'))::double AS nospace,
          |    (len(text) - len(regexp_replace(text, '#|\.\.\.|…', '', 'g')))::double AS symbols
          |  FROM salted),
          |r AS (
          |  SELECT doc_id,
          |    len(ws)::bigint AS n_words,
          |    nospace / greatest(len(ws), 1) AS mean_word_len,
          |    symbols / greatest(len(ws), 1) AS symbol_ratio,
          |    len(list_filter(lines, l -> regexp_matches(l, '^[•\-\*]')))::double
          |      / greatest(len(lines), 1) AS bullet_line_ratio,
          |    len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)$')))::double
          |      / greatest(len(lines), 1) AS ellipsis_line_ratio,
          |    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::double
          |      / greatest(len(ws), 1) AS alpha_word_ratio,
          |    len(list_filter(['the','be','to','of','and','that','have','with'],
          |      s -> list_contains(lws, s)))::bigint AS stop_hits
          |  FROM sig)
          |SELECT doc_id, n_words,
          |  round(mean_word_len, 4) + 0 AS mean_word_len,
          |  round(symbol_ratio, 4) + 0 AS symbol_ratio,
          |  round(bullet_line_ratio, 4) + 0 AS bullet_line_ratio,
          |  round(ellipsis_line_ratio, 4) + 0 AS ellipsis_line_ratio,
          |  round(alpha_word_ratio, 4) + 0 AS alpha_word_ratio,
          |  stop_hits,
          |  (n_words >= 50 AND n_words <= 100000
          |   AND mean_word_len >= 3 AND mean_word_len <= 10
          |   AND symbol_ratio <= 0.1::double AND bullet_line_ratio <= 0.9::double
          |   AND ellipsis_line_ratio <= 0.3::double
          |   AND alpha_word_ratio >= 0.8::double AND stop_hits >= 2) AS keep
          |FROM r""".stripMargin),

      "d_normalize" ->
        ("""SELECT doc_id,
          |  trim(regexp_replace(lower(strip_accents(nfc_normalize(
          |    text || ' ' ||
          |    CASE doc_id % 4
          |      WHEN 0 THEN 'Élan e' || chr(769) || 'lan CAFÉ'
          |      WHEN 1 THEN 'Ünïted Ñandú'
          |      WHEN 2 THEN 'Åse çédille  spaced' || chr(9) || 'out'
          |      ELSE 'plain ASCII ø' END))), '\s+', ' ', 'g')) AS norm
          |FROM documents""".stripMargin),

      "d_unigram_ppl" ->
        ("""WITH toks AS (
          |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
          |  FROM documents),
          |tf AS (SELECT doc_id, token, count(*)::bigint AS tf
          |  FROM toks GROUP BY 1, 2),
          |vocab AS (SELECT token, count(*)::bigint AS n FROM toks GROUP BY 1),
          |tot AS (SELECT sum(n) AS total FROM vocab),
          |contrib AS (
          |  SELECT t.doc_id, t.token, t.tf, t.tf * -ln(v.n::double / total) AS c
          |  FROM tf t JOIN vocab v USING (token), tot),
          |agg AS (
          |  SELECT doc_id, list(c ORDER BY token) AS cs,
          |         CAST(sum(tf) AS BIGINT) AS dl
          |  FROM contrib GROUP BY 1)
          |SELECT doc_id, dl,
          |  round(list_reduce(cs, (a, b) -> a + b) / dl, 4) + 0 AS nll,
          |  round(exp(list_reduce(cs, (a, b) -> a + b) / dl), 4) + 0 AS ppl
          |FROM agg""".stripMargin),

      "d_sample_group" ->
        ("""WITH drawn AS (
          |  SELECT lang, doc_id,
          |    ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint / 1152921504606846976.0 AS draw
          |  FROM documents),
          |ranked AS (SELECT lang, doc_id, draw,
          |    row_number() OVER (PARTITION BY lang ORDER BY draw DESC, doc_id ASC) AS rank
          |  FROM drawn)
          |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, round(draw, 6) + 0 AS draw
          |FROM ranked WHERE rank <= 20""".stripMargin),

      "d_dsir" -> dsirSql,

      "d_dsir_sample" ->
        (s"""WITH dsir AS ($dsirSql),
           |w AS (SELECT doc_id, exp(log_weight) AS wt,
           |    pow(('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint / 1152921504606846976.0,
           |        1.0 / exp(log_weight)) AS key
           |  FROM dsir)
           |SELECT doc_id AS id, round(wt, 6) + 0 AS weight,
           |  CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT) AS rank
           |FROM w ORDER BY key DESC, doc_id LIMIT 100""".stripMargin),

      "d_quality_clf" ->
        (s"""WITH sig AS (
           |  SELECT doc_id,
           |    -2.0
           |    + 2.0 * least(len(string_split_regex(trim(text), '\\s+'))::double / 64.0, 1.0)
           |    + 2.5 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::double
           |             / greatest(length(text)::double, 1.0))
           |    + 3.0 * (${hitsExpr("en")}::double
           |             / greatest(len(string_split_regex(trim(text), '\\s+'))::double, 1.0)) AS z
           |  FROM documents)
           |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) + 0 AS p_quality,
           |  (1.0 / (1.0 + exp(-z)) >= 0.5) AS keep
           |FROM sig""".stripMargin),

      "d_quality_clf_train" -> {
        def out(i: Int) =
          s"""SELECT CAST($i AS BIGINT) AS iter, round(b, 6) + 0 AS bias,
             |  round(a1, 6) + 0 AS w_len, round(a2, 6) + 0 AS w_alpha,
             |  round(a3, 6) + 0 AS w_stop FROM w$i""".stripMargin
        s"""WITH ${clfGdChain(3, "0.5")}
           |${out(1)} UNION ALL ${out(2)} UNION ALL ${out(3)}""".stripMargin
      },

      // train → serve: score every doc with the learned (6-dp
      // rounded, matching the Spark-side collected trace) weights
      "d_quality_clf_trained" ->
        (s"""WITH ${clfGdChain(3, "0.5")},
           |w AS (SELECT round(b, 6) + 0 AS b, round(a1, 6) + 0 AS a1,
           |  round(a2, 6) + 0 AS a2, round(a3, 6) + 0 AS a3 FROM w3),
           |s AS (
           |  SELECT doc_id,
           |    least(len(string_split_regex(trim(text), '\\s+'))::double / 64.0, 1.0) AS x1,
           |    length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::double
           |      / greatest(length(text)::double, 1.0) AS x2,
           |    ${hitsExpr("en")}::double
           |      / greatest(len(string_split_regex(trim(text), '\\s+'))::double, 1.0) AS x3
           |  FROM documents)
           |SELECT doc_id,
           |  round(1/(1+exp(-(w.b + w.a1*x1 + w.a2*x2 + w.a3*x3))), 4) + 0 AS p_en,
           |  (1/(1+exp(-(w.b + w.a1*x1 + w.a2*x2 + w.a3*x3))) >= 0.5) AS keep
           |FROM s, w""".stripMargin),

      "d_clf_calibration" ->
        (s"""WITH ${clfGdChain(3, "0.5")},
           |w AS (SELECT round(b, 6) + 0 AS b, round(a1, 6) + 0 AS a1,
           |  round(a2, 6) + 0 AS a2, round(a3, 6) + 0 AS a3 FROM w3),
           |s AS (
           |  SELECT doc_id,
           |    least(len(string_split_regex(trim(text), '\\s+'))::double / 64.0, 1.0) AS x1,
           |    length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::double
           |      / greatest(length(text)::double, 1.0) AS x2,
           |    ${hitsExpr("en")}::double
           |      / greatest(len(string_split_regex(trim(text), '\\s+'))::double, 1.0) AS x3
           |  FROM documents),
           |p AS (SELECT doc_id,
           |    round(1/(1+exp(-(w.b + w.a1*x1 + w.a2*x2 + w.a3*x3))), 4) + 0 AS p
           |  FROM s, w),
           |j AS (SELECT CAST(least(floor(p.p * 100), 99) AS BIGINT) AS bin, p.p,
           |    CAST(d.lang = 'en' AS INT) AS y
           |  FROM p JOIN documents d USING (doc_id)),
           |b AS (SELECT bin, count(*)::bigint AS n_docs,
           |    round(avg(p), 4) + 0 AS mean_pred,
           |    round(avg(y::double), 4) + 0 AS frac_pos
           |  FROM j GROUP BY 1)
           |SELECT bin, n_docs, mean_pred, frac_pos,
           |  round(abs(mean_pred - frac_pos), 4) + 0 AS gap
           |FROM b""".stripMargin),

      "d_ppl_buckets" ->
        ("""WITH toks AS (
          |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
          |  FROM documents),
          |tf AS (SELECT doc_id, token, count(*)::bigint AS tf
          |  FROM toks GROUP BY 1, 2),
          |vocab AS (SELECT token, count(*)::bigint AS n FROM toks GROUP BY 1),
          |tot AS (SELECT sum(n) AS total FROM vocab),
          |contrib AS (
          |  SELECT t.doc_id, t.token, t.tf, t.tf * -ln(v.n::double / total) AS c
          |  FROM tf t JOIN vocab v USING (token), tot),
          |agg AS (
          |  SELECT doc_id, list(c ORDER BY token) AS cs,
          |         CAST(sum(tf) AS BIGINT) AS dl
          |  FROM contrib GROUP BY 1),
          |nll AS (
          |  SELECT a.doc_id, d.lang,
          |    round(list_reduce(cs, (x, y) -> x + y) / dl, 4) + 0 AS nll
          |  FROM agg a JOIN documents d USING (doc_id)),
          |cuts AS (SELECT lang,
          |    round(percentile_cont(0.3333333333333333) WITHIN GROUP (ORDER BY nll), 4) AS q33,
          |    round(percentile_cont(0.6666666666666666) WITHIN GROUP (ORDER BY nll), 4) AS q67
          |  FROM nll GROUP BY lang)
          |SELECT n.doc_id, n.lang, n.nll,
          |  CASE WHEN n.nll <= c.q33 THEN 'head'
          |       WHEN n.nll <= c.q67 THEN 'middle'
          |       ELSE 'tail' END AS bucket
          |FROM nll n JOIN cuts c USING (lang)""".stripMargin),

      "d_ccnet" ->
        (s"""WITH scores AS ($langScores),
           |lranked AS (SELECT doc_id, lang, hits,
           |  row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn FROM scores),
           |pred AS (SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang
           |  FROM lranked WHERE rn = 1),
           |toks AS (
           |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
           |  FROM documents),
           |tf AS (SELECT doc_id, token, count(*)::bigint AS tf
           |  FROM toks GROUP BY 1, 2),
           |vocab AS (SELECT token, count(*)::bigint AS n FROM toks GROUP BY 1),
           |tot AS (SELECT sum(n) AS total FROM vocab),
           |contrib AS (
           |  SELECT t.doc_id, t.token, t.tf, t.tf * -ln(v.n::double / total) AS c
           |  FROM tf t JOIN vocab v USING (token), tot),
           |agg AS (
           |  SELECT doc_id, list(c ORDER BY token) AS cs,
           |         CAST(sum(tf) AS BIGINT) AS dl
           |  FROM contrib GROUP BY 1),
           |nll AS (
           |  SELECT a.doc_id, p.lang,
           |    round(list_reduce(cs, (x, y) -> x + y) / dl, 4) + 0 AS nll
           |  FROM agg a JOIN pred p USING (doc_id)),
           |cuts AS (SELECT lang,
           |    round(percentile_cont(0.3333333333333333) WITHIN GROUP (ORDER BY nll), 4) AS q33,
           |    round(percentile_cont(0.6666666666666666) WITHIN GROUP (ORDER BY nll), 4) AS q67
           |  FROM nll GROUP BY lang),
           |bucketed AS (
           |  SELECT n.doc_id, n.lang, n.nll,
           |    CASE WHEN n.nll <= c.q33 THEN 'head'
           |         WHEN n.nll <= c.q67 THEN 'middle'
           |         ELSE 'tail' END AS bucket
           |  FROM nll n JOIN cuts c USING (lang))
           |SELECT doc_id, lang, nll, bucket FROM bucketed WHERE bucket <> 'tail'""".stripMargin),

      "d_bigram_ppl" ->
        ("""WITH toks AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
          |  FROM documents),
          |tr AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
          |uni AS (
          |  SELECT w, count(*)::bigint AS n_w
          |  FROM (SELECT unnest(ws) AS w FROM tr) GROUP BY 1),
          |tot AS (SELECT sum(n_w) AS total, count(*)::bigint AS vsize FROM uni),
          |bigtr AS (
          |  SELECT ws[i] AS w1, ws[i+1] AS w2, count(*)::bigint AS n_b FROM (
          |    SELECT ws, unnest(range(1, len(ws))) AS i FROM tr
          |    WHERE len(ws) >= 2)
          |  GROUP BY 1, 2),
          |big AS (
          |  SELECT doc_id, i AS pos, ws[i] AS w1, ws[i+1] AS w2 FROM (
          |    SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM toks
          |    WHERE len(ws) >= 2)),
          |contrib AS (
          |  SELECT b.doc_id, b.pos,
          |    -ln(CASE WHEN bt.n_b IS NOT NULL
          |          THEN bt.n_b::double / u1.n_w
          |          ELSE 0.4::double * (coalesce(u2.n_w, 0) + 1) / (total + vsize)
          |        END) AS c
          |  FROM big b
          |  LEFT JOIN bigtr bt ON bt.w1 = b.w1 AND bt.w2 = b.w2
          |  LEFT JOIN uni u1 ON u1.w = b.w1
          |  LEFT JOIN uni u2 ON u2.w = b.w2, tot),
          |agg AS (
          |  SELECT doc_id, list(c ORDER BY pos) AS cs,
          |         count(*)::bigint AS dl
          |  FROM contrib GROUP BY 1)
          |SELECT doc_id, dl,
          |  round(list_reduce(cs, (a, b) -> a + b) / dl, 4) + 0 AS nll,
          |  round(exp(list_reduce(cs, (a, b) -> a + b) / dl), 4) + 0 AS ppl
          |FROM agg""".stripMargin),

      "d_entropy" ->
        ("""WITH toks AS (
          |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
          |  FROM documents),
          |cnt AS (SELECT doc_id, w, count(*)::bigint AS c FROM toks GROUP BY 1, 2),
          |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
          |    list_reduce(list(-(c * ln(c)) ORDER BY w), (a, b) -> a + b) AS s
          |  FROM cnt GROUP BY 1)
          |SELECT doc_id, n_words,
          |  round(s / n_words + ln(n_words), 4) + 0 AS entropy
          |FROM agg""".stripMargin),

      "d_zipf" ->
        ("""WITH toks AS (
          |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
          |  FROM documents),
          |counts AS (SELECT token, count(*)::bigint AS n FROM toks GROUP BY 1),
          |top AS (SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 200),
          |r AS (SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM top),
          |t AS (SELECT rank, ln(rank::double) AS x, ln(n::double) AS y FROM r),
          |f AS (SELECT count(*)::bigint AS n_terms,
          |    list_reduce(list(x ORDER BY rank), (a, b) -> a + b) AS sx,
          |    list_reduce(list(y ORDER BY rank), (a, b) -> a + b) AS sy,
          |    list_reduce(list(x * y ORDER BY rank), (a, b) -> a + b) AS sxy,
          |    list_reduce(list(x * x ORDER BY rank), (a, b) -> a + b) AS sxx
          |  FROM t)
          |SELECT n_terms,
          |  round((sxy - sx * sy / n_terms) / (sxx - sx * sx / n_terms), 4) + 0 AS zipf_slope
          |FROM f""".stripMargin),

      // Kneser–Ney twin: every model quantity is an exact integer
      // count; D, the continuation probability and the interpolation
      // are spelled with the same parenthesization as the Scala side
      // so the doubles agree bit for bit before the 4dp round
      "d_bigram_kn" ->
        ("""WITH toks AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
          |  FROM documents),
          |tr AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
          |bigtr AS (
          |  SELECT ws[i] AS w1, ws[i+1] AS w2, count(*)::bigint AS n_b FROM (
          |    SELECT ws, unnest(range(1, len(ws))) AS i FROM tr
          |    WHERE len(ws) >= 2)
          |  GROUP BY 1, 2),
          |ctx AS (SELECT w1, sum(n_b)::bigint AS n_ctx,
          |               count(*)::bigint AS types_after FROM bigtr GROUP BY 1),
          |cont AS (SELECT w2, count(*)::bigint AS n_cont FROM bigtr GROUP BY 1),
          |voc AS (SELECT count(DISTINCT w)::bigint AS vsize
          |        FROM (SELECT unnest(ws) AS w FROM tr)),
          |sca AS (SELECT sum(CASE WHEN n_b = 1 THEN 1 ELSE 0 END)::bigint AS n1,
          |               sum(CASE WHEN n_b = 2 THEN 1 ELSE 0 END)::bigint AS n2,
          |               count(*)::bigint AS btypes FROM bigtr),
          |big AS (
          |  SELECT doc_id, i AS pos, ws[i] AS w1, ws[i+1] AS w2 FROM (
          |    SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM toks
          |    WHERE len(ws) >= 2)),
          |contrib AS (
          |  SELECT b.doc_id, b.pos,
          |    -ln(CASE WHEN c1.n_ctx IS NOT NULL
          |          THEN greatest(coalesce(bt.n_b, 0)::double
          |                 - (n1::double / greatest(n1 + 2 * n2, 1)), 0) / c1.n_ctx
          |             + (((n1::double / greatest(n1 + 2 * n2, 1)) * c1.types_after)
          |                 / c1.n_ctx)
          |               * ((coalesce(c2.n_cont, 0) + 1)::double / (btypes + vsize + 1))
          |          ELSE (coalesce(c2.n_cont, 0) + 1)::double / (btypes + vsize + 1)
          |        END) AS c
          |  FROM big b
          |  LEFT JOIN bigtr bt ON bt.w1 = b.w1 AND bt.w2 = b.w2
          |  LEFT JOIN ctx c1 ON c1.w1 = b.w1
          |  LEFT JOIN cont c2 ON c2.w2 = b.w2, sca, voc),
          |agg AS (
          |  SELECT doc_id, list(c ORDER BY pos) AS cs,
          |         count(*)::bigint AS dl
          |  FROM contrib GROUP BY 1)
          |SELECT doc_id, dl,
          |  round(list_reduce(cs, (a, b) -> a + b) / dl, 4) + 0 AS nll,
          |  round(exp(list_reduce(cs, (a, b) -> a + b) / dl), 4) + 0 AS ppl
          |FROM agg""".stripMargin),

      "d_vocab" ->
        ("""WITH toks AS (
          |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
          |  FROM documents),
          |counts AS (SELECT token, count(*)::bigint AS n FROM toks GROUP BY 1),
          |tot AS (SELECT sum(n) AS total FROM counts),
          |top AS (SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 200),
          |r AS (SELECT token, n,
          |    row_number() OVER (ORDER BY n DESC, token) AS rank,
          |    sum(n) OVER (ORDER BY n DESC, token
          |                 ROWS UNBOUNDED PRECEDING) AS cum_n
          |  FROM top)
          |SELECT token, n, CAST(rank AS BIGINT) AS rank,
          |  n::double / total AS share, cum_n::double / total AS cum_share
          |FROM r, tot""".stripMargin),

      "d_distinct_ngrams" ->
        ("""WITH toks AS (SELECT string_split_regex(trim(text), '\s+') AS ws FROM documents),
          |grams AS (
          |  SELECT 1 AS n, unnest(ws) AS g FROM toks
          |  UNION ALL
          |  SELECT 2 AS n, ws[i] || ' ' || ws[i+1] AS g
          |  FROM toks, unnest(generate_series(1, len(ws) - 1)) t(i)
          |  UNION ALL
          |  SELECT 3 AS n, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
          |  FROM toks, unnest(generate_series(1, len(ws) - 2)) t(i)),
          |kept AS (SELECT n, g FROM grams WHERE g <> '')
          |SELECT CAST(n AS BIGINT) AS n,
          |  count(*)::bigint AS total_ngrams,
          |  count(DISTINCT g)::bigint AS distinct_ngrams,
          |  round(count(DISTINCT g)::double / count(*)::double, 4) + 0 AS distinct_ratio
          |FROM kept GROUP BY 1""".stripMargin),

      "e_maxsim" ->
        (s"""WITH g AS (SELECT vec_id, embedding,
           |    CAST(floor(vec_id / 4) AS BIGINT) AS group_id FROM embeddings),
           |sc AS (
           |  SELECT a.group_id AS q_group, a.vec_id AS q_vec,
           |    b.group_id AS d_group, round($cosine, 4) + 0 AS sim
           |  FROM g a JOIN g b
           |    ON a.group_id < 3 AND a.group_id <> b.group_id),
           |term AS (SELECT q_group, q_vec, d_group, max(sim) AS term_max
           |  FROM sc GROUP BY 1, 2, 3),
           |doc AS (SELECT q_group, d_group,
           |    round(sum(term_max), 4) + 0 AS maxsim,
           |    count(*)::bigint AS n_terms
           |  FROM term GROUP BY 1, 2)
           |SELECT q_group, CAST(rank AS BIGINT) AS rank, d_group, maxsim, n_terms
           |FROM (SELECT *, row_number() OVER (
           |    PARTITION BY q_group ORDER BY maxsim DESC, d_group ASC) AS rank
           |  FROM doc) t
           |WHERE rank <= 3""".stripMargin),

      // two-stage twin: identical IVF assign/probe CTEs as e_ivf_search
      // (nlist from the same sqrt-rule CASE emitter), DISTINCT group
      // membership + shortlist, then the exact e_maxsim scoring chain
      // restricted to shortlisted (q_group, d_group) pairs
      "e_maxsim_ivf" ->
        (s"""WITH g AS (SELECT vec_id, embedding,
           |    CAST(floor(vec_id / 4) AS BIGINT) AS group_id FROM embeddings),
           |msplan AS (SELECT ${Similarity.ivfPlanSqlCase(
                "(SELECT count(*) FROM embeddings)")} AS nlist),
           |cents AS (SELECT vec_id AS centroid_id, embedding AS cent
           |  FROM embeddings WHERE vec_id < (SELECT nlist FROM msplan)),
           |cscored AS (SELECT a.vec_id, a.group_id, c.centroid_id,
           |  list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * c.cent[i]::double)) /
           |  (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * a.embedding[i]::double))) *
           |   sqrt(list_sum(list_transform(generate_series(1, len(c.cent)), i -> c.cent[i]::double * c.cent[i]::double)))) AS sim
           |  FROM g a, cents c),
           |cellg AS (SELECT DISTINCT group_id AS d_group, centroid_id FROM (
           |  SELECT vec_id, group_id, centroid_id, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rk
           |  FROM cscored) r WHERE rk = 1),
           |probeg AS (SELECT DISTINCT group_id AS q_group, centroid_id FROM (
           |  SELECT vec_id, group_id, centroid_id, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rk
           |  FROM cscored WHERE group_id < 3) r WHERE rk <= ${
             Similarity.nprobePlanSql("(SELECT nlist FROM msplan)",
               Similarity.ServeRecallTarget)}),
           |short AS (SELECT DISTINCT p.q_group, cg.d_group
           |  FROM probeg p JOIN cellg cg USING (centroid_id)
           |  WHERE p.q_group <> cg.d_group),
           |sc AS (SELECT a.group_id AS q_group, a.vec_id AS q_vec,
           |    b.group_id AS d_group, round($cosine, 4) + 0 AS sim
           |  FROM g a JOIN short s ON a.group_id = s.q_group
           |  JOIN g b ON b.group_id = s.d_group),
           |term AS (SELECT q_group, q_vec, d_group, max(sim) AS term_max
           |  FROM sc GROUP BY 1, 2, 3),
           |doc AS (SELECT q_group, d_group,
           |    round(sum(term_max), 4) + 0 AS maxsim,
           |    count(*)::bigint AS n_terms
           |  FROM term GROUP BY 1, 2)
           |SELECT q_group, CAST(rank AS BIGINT) AS rank, d_group, maxsim, n_terms
           |FROM (SELECT *, row_number() OVER (
           |    PARTITION BY q_group ORDER BY maxsim DESC, d_group ASC) AS rank
           |  FROM doc) t
           |WHERE rank <= 3""".stripMargin),

      // train → index → serve for late interaction: the
      // kmeansTrainChain Lloyd CTEs (identical to e_kmeans_trained's
      // twin) produce the quantizer; then the e_maxsim_ivf shortlist
      // and exact-scoring chain runs against the TRAINED cells
      "e_maxsim_ivf_trained" ->
        (s"""WITH ${kmeansTrainChain(3, 4)},
           |tcents AS (SELECT centroid_id, list(m ORDER BY pos) AS cent FROM kc3 GROUP BY 1),
           |g AS (SELECT vec_id, embedding,
           |    CAST(floor(vec_id / 4) AS BIGINT) AS group_id FROM embeddings),
           |tcsc AS (SELECT a.id, c.centroid_id, ${kmeansCos("a", "c")} AS sim
           |  FROM kebase a, tcents c),
           |cellg AS (SELECT DISTINCT CAST(floor(id / 4) AS BIGINT) AS d_group, centroid_id FROM (
           |  SELECT id, centroid_id, row_number() OVER (
           |    PARTITION BY id ORDER BY sim DESC, centroid_id ASC) AS rk
           |  FROM tcsc) t WHERE rk = 1),
           |probeg AS (SELECT DISTINCT CAST(floor(id / 4) AS BIGINT) AS q_group, centroid_id FROM (
           |  SELECT id, centroid_id, row_number() OVER (
           |    PARTITION BY id ORDER BY sim DESC, centroid_id ASC) AS rk
           |  FROM tcsc WHERE CAST(floor(id / 4) AS BIGINT) < 3) t WHERE rk <= ${
             Similarity.nprobePlanSql("4", Similarity.ServeRecallTarget)}),
           |short AS (SELECT DISTINCT p.q_group, cg.d_group
           |  FROM probeg p JOIN cellg cg USING (centroid_id)
           |  WHERE p.q_group <> cg.d_group),
           |sc AS (SELECT a.group_id AS q_group, a.vec_id AS q_vec,
           |    b.group_id AS d_group, round($cosine, 4) + 0 AS sim
           |  FROM g a JOIN short s ON a.group_id = s.q_group
           |  JOIN g b ON b.group_id = s.d_group),
           |term AS (SELECT q_group, q_vec, d_group, max(sim) AS term_max
           |  FROM sc GROUP BY 1, 2, 3),
           |doc AS (SELECT q_group, d_group,
           |    round(sum(term_max), 4) + 0 AS maxsim,
           |    count(*)::bigint AS n_terms
           |  FROM term GROUP BY 1, 2)
           |SELECT q_group, CAST(rank AS BIGINT) AS rank, d_group, maxsim, n_terms
           |FROM (SELECT *, row_number() OVER (
           |    PARTITION BY q_group ORDER BY maxsim DESC, d_group ASC) AS rank
           |  FROM doc) t
           |WHERE rank <= 3""".stripMargin),

      "e_bitext_margin" ->
        (s"""WITH fr AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosine AS sim
           |  FROM embeddings a JOIN embeddings b
           |    ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
           |fwd AS (SELECT query_id, neighbor_id, round(sim, 4) + 0 AS sim FROM (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
           |  FROM fr) t WHERE rk <= 4),
           |bwd AS (SELECT neighbor_id AS query_id, query_id AS neighbor_id,
           |    round(sim, 4) + 0 AS sim FROM (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY neighbor_id ORDER BY sim DESC, query_id ASC) AS rk
           |  FROM fr) t WHERE rk <= 4),
           |favg AS (SELECT query_id, avg(sim) AS f_avg FROM fwd GROUP BY 1),
           |bavg AS (SELECT query_id AS neighbor_id, avg(sim) AS b_avg FROM bwd GROUP BY 1),
           |sc AS (SELECT f.query_id, f.neighbor_id, f.sim,
           |    round(2.0 * f.sim / (fa.f_avg + ba.b_avg), 4) + 0 AS margin
           |  FROM fwd f JOIN favg fa USING (query_id) JOIN bavg ba USING (neighbor_id))
           |SELECT query_id, neighbor_id, sim, margin FROM (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY query_id ORDER BY margin DESC, neighbor_id ASC) AS rk
           |  FROM sc) t
           |WHERE rk = 1 AND margin > 1.0""".stripMargin),

      // the IVF twin: identical sqrt-rule cell plan (CASE emitter),
      // assignment/probe rank CTEs as e_maxsim_ivf, one candidate
      // relation for both directions (probe parity <> stored parity),
      // then the exact e_bitext_margin margin/keep chain over the
      // shortlisted neighbor lists
      "e_bitext_margin_ivf" ->
        (s"""WITH msplan AS (SELECT ${Similarity.ivfPlanSqlCase(
               "(SELECT count(*) FROM embeddings)")} AS nlist),
           |cents AS (SELECT vec_id AS centroid_id, embedding AS cent
           |  FROM embeddings WHERE vec_id < (SELECT nlist FROM msplan)),
           |cscored AS (SELECT e.vec_id, c.centroid_id,
           |  list_sum(list_transform(generate_series(1, len(e.embedding)), i -> e.embedding[i]::double * c.cent[i]::double)) /
           |  (sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)), i -> e.embedding[i]::double * e.embedding[i]::double))) *
           |   sqrt(list_sum(list_transform(generate_series(1, len(c.cent)), i -> c.cent[i]::double * c.cent[i]::double)))) AS csim
           |  FROM embeddings e, cents c),
           |asg AS (SELECT vec_id, centroid_id FROM (
           |  SELECT vec_id, centroid_id, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY csim DESC, centroid_id ASC) AS rk
           |  FROM cscored) t WHERE rk = 1),
           |probes AS (SELECT vec_id, centroid_id FROM (
           |  SELECT vec_id, centroid_id, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY csim DESC, centroid_id ASC) AS rk
           |  FROM cscored) t WHERE rk <= LEAST(${
             Similarity.nprobePlanSql("(SELECT nlist FROM msplan)",
               Similarity.ServeRecallTarget)}, ${Similarity.MiningNprobeCap})),
           |cand AS (SELECT p.vec_id AS query_id, sa.vec_id AS neighbor_id, $cosine AS sim
           |  FROM probes p JOIN asg sa USING (centroid_id)
           |  JOIN embeddings a ON a.vec_id = p.vec_id
           |  JOIN embeddings b ON b.vec_id = sa.vec_id
           |  WHERE (p.vec_id % 2) <> (sa.vec_id % 2)),
           |fwd AS (SELECT query_id, neighbor_id, round(sim, 4) + 0 AS sim FROM (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
           |  FROM cand WHERE query_id % 2 = 0) t WHERE rk <= 4),
           |bwd AS (SELECT query_id, neighbor_id, round(sim, 4) + 0 AS sim FROM (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
           |  FROM cand WHERE query_id % 2 = 1) t WHERE rk <= 4),
           |favg AS (SELECT query_id, avg(sim) AS f_avg FROM fwd GROUP BY 1),
           |bavg AS (SELECT query_id AS neighbor_id, avg(sim) AS b_avg FROM bwd GROUP BY 1),
           |sc AS (SELECT f.query_id, f.neighbor_id, f.sim,
           |    round(2.0 * f.sim / (fa.f_avg + ba.b_avg), 4) + 0 AS margin
           |  FROM fwd f JOIN favg fa USING (query_id) JOIN bavg ba USING (neighbor_id))
           |SELECT query_id, neighbor_id, sim, margin FROM (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY query_id ORDER BY margin DESC, neighbor_id ASC) AS rk
           |  FROM sc) t
           |WHERE rk = 1 AND margin > 1.0""".stripMargin),

      "d_tok_fertility" ->
        ("""SELECT lang, count(*)::bigint AS n_docs,
          |  sum(len(string_split_regex(trim(text), '\s+')))::bigint AS n_words,
          |  sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')))::bigint AS n_tokens,
          |  sum(length(text))::bigint AS n_chars,
          |  round(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')))::double /
          |    greatest(sum(len(string_split_regex(trim(text), '\s+'))), 1)::double, 4) + 0 AS fertility,
          |  round(sum(length(text))::double /
          |    greatest(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))), 1)::double, 4) + 0 AS chars_per_token
          |FROM documents GROUP BY 1""".stripMargin),

      "d_tfidf" ->
        ("""WITH toks AS (
          |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
          |  FROM documents),
          |grain AS (SELECT doc_id, token, count(*)::bigint AS tf FROM toks GROUP BY 1, 2),
          |dfs AS (SELECT token, count(*)::bigint AS df FROM grain GROUP BY 1),
          |n AS (SELECT count(*)::double AS nn FROM documents),
          |scored AS (
          |  SELECT g.doc_id, g.token, g.tf, d.df,
          |         round(g.tf * ln(nn / d.df), 4) AS score
          |  FROM grain g JOIN dfs d USING (token), n),
          |r AS (SELECT *, row_number() OVER (
          |    PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
          |  FROM scored)
          |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tf, df, score
          |FROM r WHERE rank <= 5""".stripMargin),

      "d_inverted" ->
        ("""WITH tok0 AS (
          |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
          |  FROM documents),
          |toks AS (SELECT DISTINCT doc_id, token FROM tok0)
          |SELECT token, count(*)::bigint AS df,
          |       array_to_string((list(doc_id ORDER BY doc_id))[1:8], ',') AS postings
          |FROM toks GROUP BY 1""".stripMargin),

      "d_bpe_pairs" ->
        ("""WITH wf AS (
          |  SELECT word, count(*)::bigint AS wf FROM (
          |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
          |    FROM documents) t
          |  WHERE length(word) >= 2 GROUP BY 1),
          |pairs AS (
          |  SELECT substr(word, i, 1) || ' ' || substr(word, i + 1, 1) AS pair, wf
          |  FROM (SELECT word, wf, unnest(range(1, length(word))) AS i FROM wf)),
          |c AS (SELECT pair, sum(wf)::bigint AS n FROM pairs GROUP BY 1)
          |SELECT pair, n, CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank
          |FROM c ORDER BY n DESC, pair LIMIT 50""".stripMargin),

      "d_unigram_seed" ->
        ("""WITH wf AS (
          |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
          |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
          |    FROM documents) t
          |  WHERE w <> '' GROUP BY 1),
          |starts AS (
          |  SELECT w, freq, unnest(range(1, length(w) + 1)) AS i FROM wf),
          |subs AS (
          |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece, freq
          |  FROM (SELECT w, freq, i,
          |          unnest(range(1, least(length(w) - i + 1, 6) + 1)) AS l
          |        FROM starts)),
          |c AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS n FROM subs GROUP BY 1)
          |SELECT piece, n,
          |       CAST(row_number() OVER (ORDER BY n DESC, piece) AS BIGINT) AS rank
          |FROM c ORDER BY n DESC, piece LIMIT 50""".stripMargin),

      // the full Viterbi-EM replay (see unigramChain above): rank,
      // piece, final-round count and quantized log-prob must all
      // match the Spark trainer bit-for-bit
      "d_unigram_train" ->
        (s"""$unigramChain
           |SELECT CAST(row_number() OVER (ORDER BY v.n DESC, v.piece) AS BIGINT) AS rank,
           |       v.piece, v.n, l.lp AS logprob
           |FROM vf v JOIN lvf l USING (piece)""".stripMargin),

      // train → serve: a 4th Viterbi pass under the shipped table
      // segments every distinct word once (the memoized-encode twin),
      // then docs reassemble word segmentations in position order
      "d_unigram_encode" ->
        (s"""$unigramChain,
           |${unigramEStep(4, "lvf")},
           |docw AS MATERIALIZED (
           |  SELECT doc_id, i, l[i] AS w
           |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents) d,
           |       LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) t
           |  WHERE l[i] <> ''),
           |enc AS (
           |  SELECT d.doc_id,
           |         CAST(sum(len(string_split(s.seg, ' '))) AS BIGINT) AS n_pieces,
           |         string_agg(s.seg, ' ' ORDER BY d.i) AS pieces_str
           |  FROM docw d JOIN seg4 s ON s.w = d.w
           |  GROUP BY d.doc_id)
           |SELECT doc.doc_id,
           |       CASE WHEN doc.text IS NULL THEN NULL ELSE coalesce(e.n_pieces, 0) END AS n_pieces,
           |       CASE WHEN doc.text IS NULL THEN NULL ELSE coalesce(e.pieces_str, '') END AS pieces_str
           |FROM documents doc LEFT JOIN enc e USING (doc_id)""".stripMargin),

      "d_wordpiece_train" ->
        (s"""WITH $wpChainSql
           |SELECT * FROM (
           |  SELECT CAST(1 AS BIGINT) AS step, string_split(pair, ' ')[1] AS lhs,
           |         string_split(pair, ' ')[2] AS rhs, $wpMergedExpr AS merged, n FROM t1
           |  UNION ALL SELECT CAST(2 AS BIGINT), string_split(pair, ' ')[1],
           |         string_split(pair, ' ')[2], $wpMergedExpr, n FROM t2
           |  UNION ALL SELECT CAST(3 AS BIGINT), string_split(pair, ' ')[1],
           |         string_split(pair, ' ')[2], $wpMergedExpr, n FROM t3
           |  UNION ALL SELECT CAST(4 AS BIGINT), string_split(pair, ' ')[1],
           |         string_split(pair, ' ')[2], $wpMergedExpr, n FROM t4)""".stripMargin),

      // greedy longest-match-first inference: vocab = corpus alphabet
      // ∪ the 4 merged tokens; best(word, pos) is precomputed (the
      // greedy choice depends only on the remainder, not the path),
      // then a bounded recursive CTE follows the chain. Alphabet
      // coverage of every corpus character guarantees [UNK] never
      // fires here, mirroring the unigram twin's argument.
      "d_wordpiece_encode" ->
        (s"""WITH RECURSIVE $wpChainSql,
           |alpha AS (SELECT DISTINCT unnest(string_split(sym, ' ')) AS token FROM wf0),
           |vocab AS (
           |  SELECT token FROM alpha
           |  UNION SELECT $wpMergedExpr FROM t1
           |  UNION SELECT $wpMergedExpr FROM t2
           |  UNION SELECT $wpMergedExpr FROM t3
           |  UNION SELECT $wpMergedExpr FROM t4),
           |vl AS (SELECT token,
           |    CASE WHEN token LIKE '##%' THEN len(token) - 2 ELSE len(token) END AS l,
           |    (token LIKE '##%') AS cont,
           |    CASE WHEN token LIKE '##%' THEN substr(token, 3) ELSE token END AS body
           |  FROM vocab),
           |dw AS (SELECT DISTINCT w FROM (
           |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents) t
           |  WHERE w <> ''),
           |best AS (
           |  SELECT w, pos, token, l FROM (
           |    SELECT d.w, p.pos, v.token, v.l
           |    FROM dw d,
           |         LATERAL (SELECT unnest(range(0, length(d.w))) AS pos) p,
           |         vl v
           |    WHERE v.l <= length(d.w) - p.pos
           |      AND v.cont = (p.pos > 0)
           |      AND substr(d.w, CAST(p.pos + 1 AS INT), CAST(v.l AS INT)) = v.body)
           |  QUALIFY row_number() OVER (PARTITION BY w, pos ORDER BY l DESC) = 1),
           |dp AS (
           |  SELECT w, 0 AS pos, '' AS toks, CAST(0 AS BIGINT) AS nt FROM dw
           |  UNION ALL
           |  SELECT d.w, CAST(d.pos + b.l AS INT),
           |    CASE WHEN d.toks = '' THEN b.token ELSE d.toks || ' ' || b.token END,
           |    d.nt + 1
           |  FROM dp d JOIN best b ON b.w = d.w AND b.pos = d.pos
           |  WHERE d.pos < length(d.w)),
           |seg AS (SELECT w, toks, nt FROM dp WHERE pos = length(w)),
           |wsd AS (
           |  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS idx
           |  FROM (SELECT doc_id,
           |          list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
           |        FROM documents)),
           |encw AS (
           |  SELECT wsd.doc_id, wsd.idx, s.toks, s.nt
           |  FROM wsd JOIN seg s ON s.w = wsd.w)
           |SELECT d.doc_id,
           |  CASE WHEN d.text IS NULL THEN NULL
           |       ELSE CAST(coalesce(sum(e.nt), 0) AS BIGINT) END AS n_tokens,
           |  CASE WHEN d.text IS NULL THEN NULL
           |       ELSE coalesce(string_agg(e.toks, ' ' ORDER BY e.idx), '') END AS tokens_str
           |FROM documents d LEFT JOIN encw e USING (doc_id)
           |GROUP BY d.doc_id, d.text""".stripMargin),

      "d_bpe_train" -> bpeTrainSqlTpl.replace("/*PRUNE*/", ""),

      // same template with the corpus-scale frequency floor engaged —
      // pins Bpe.train(minFreq = 2) against an independent DuckDB
      // implementation of the identical pruning
      "d_bpe_train_pruned" ->
        bpeTrainSqlTpl.replace("/*PRUNE*/", " HAVING count(*) >= 2"),

      "d_bpe_encode" ->
        ("""WITH wf0 AS (
          |  SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS sym,
          |         CAST(count(*) AS BIGINT) AS freq
          |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents) t
          |  WHERE w <> '' GROUP BY 1),
          |p1 AS (SELECT list_transform(generate_series(1, len(ss) - 1),
          |    i -> ss[i] || ' ' || ss[i + 1]) AS prs, freq
          |  FROM (SELECT string_split(sym, ' ') AS ss, freq FROM wf0)),
          |c1 AS (SELECT unnest(prs) AS pair, freq FROM p1),
          |n1 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM c1 GROUP BY 1),
          |t1 AS (SELECT pair, n, ' ' || pair || ' ' AS pat,
          |    ' ' || replace(pair, ' ', '') || ' ' AS rep
          |  FROM n1 ORDER BY n DESC, pair LIMIT 1),
          |wf1 AS (SELECT trim(replace(replace(replace(replace(replace(replace(' ' || w.sym || ' ', t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep)) AS sym, w.freq
          |  FROM wf0 w, t1 t),
          |p2 AS (SELECT list_transform(generate_series(1, len(ss) - 1),
          |    i -> ss[i] || ' ' || ss[i + 1]) AS prs, freq
          |  FROM (SELECT string_split(sym, ' ') AS ss, freq FROM wf1)),
          |c2 AS (SELECT unnest(prs) AS pair, freq FROM p2),
          |n2 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM c2 GROUP BY 1),
          |t2 AS (SELECT pair, n, ' ' || pair || ' ' AS pat,
          |    ' ' || replace(pair, ' ', '') || ' ' AS rep
          |  FROM n2 ORDER BY n DESC, pair LIMIT 1),
          |wf2 AS (SELECT trim(replace(replace(replace(replace(replace(replace(' ' || w.sym || ' ', t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep)) AS sym, w.freq
          |  FROM wf1 w, t2 t),
          |p3 AS (SELECT list_transform(generate_series(1, len(ss) - 1),
          |    i -> ss[i] || ' ' || ss[i + 1]) AS prs, freq
          |  FROM (SELECT string_split(sym, ' ') AS ss, freq FROM wf2)),
          |c3 AS (SELECT unnest(prs) AS pair, freq FROM p3),
          |n3 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM c3 GROUP BY 1),
          |t3 AS (SELECT pair, n, ' ' || pair || ' ' AS pat,
          |    ' ' || replace(pair, ' ', '') || ' ' AS rep
          |  FROM n3 ORDER BY n DESC, pair LIMIT 1),
          |wf3 AS (SELECT trim(replace(replace(replace(replace(replace(replace(' ' || w.sym || ' ', t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep)) AS sym, w.freq
          |  FROM wf2 w, t3 t),
          |p4 AS (SELECT list_transform(generate_series(1, len(ss) - 1),
          |    i -> ss[i] || ' ' || ss[i + 1]) AS prs, freq
          |  FROM (SELECT string_split(sym, ' ') AS ss, freq FROM wf3)),
          |c4 AS (SELECT unnest(prs) AS pair, freq FROM p4),
          |n4 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM c4 GROUP BY 1),
          |t4 AS (SELECT pair, n, ' ' || pair || ' ' AS pat,
          |    ' ' || replace(pair, ' ', '') || ' ' AS rep
          |  FROM n4 ORDER BY n DESC, pair LIMIT 1),
          |wf4 AS (SELECT trim(replace(replace(replace(replace(replace(replace(' ' || w.sym || ' ', t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep), t.pat, t.rep)) AS sym, w.freq
          |  FROM wf3 w, t4 t),
          |m AS (SELECT
          |        coalesce((SELECT pat FROM t1), ' ') AS p1, coalesce((SELECT rep FROM t1), ' ') AS r1,
          |        coalesce((SELECT pat FROM t2), ' ') AS p2, coalesce((SELECT rep FROM t2), ' ') AS r2,
          |        coalesce((SELECT pat FROM t3), ' ') AS p3, coalesce((SELECT rep FROM t3), ' ') AS r3,
          |        coalesce((SELECT pat FROM t4), ' ') AS p4, coalesce((SELECT rep FROM t4), ' ') AS r4),
          |enc AS (
          |  SELECT doc_id,
          |    list_transform(
          |      list_filter(string_split_regex(trim(text), '\s+'), w -> w <> ''),
          |      w -> trim(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ', m.p1, m.r1), m.p1, m.r1), m.p1, m.r1), m.p1, m.r1), m.p1, m.r1), m.p1, m.r1), m.p2, m.r2), m.p2, m.r2), m.p2, m.r2), m.p2, m.r2), m.p2, m.r2), m.p2, m.r2), m.p3, m.r3), m.p3, m.r3), m.p3, m.r3), m.p3, m.r3), m.p3, m.r3), m.p3, m.r3), m.p4, m.r4), m.p4, m.r4), m.p4, m.r4), m.p4, m.r4), m.p4, m.r4), m.p4, m.r4))) AS ws
          |  FROM documents, m)
          |SELECT doc_id,
          |  CAST(coalesce(list_sum(list_transform(ws, s -> len(string_split(s, ' ')))), 0) AS BIGINT) AS n_tokens,
          |  array_to_string(ws, ' ') AS tokens_str
          |FROM enc""".stripMargin),

      "d_quantiles" ->
        ("""WITH lens AS (SELECT n_chars::double AS v FROM documents)
          |SELECT 0.25::double AS q, round(percentile_cont(0.25) WITHIN GROUP (ORDER BY v), 4) AS value FROM lens
          |UNION ALL SELECT 0.5::double, round(percentile_cont(0.5) WITHIN GROUP (ORDER BY v), 4) FROM lens
          |UNION ALL SELECT 0.9::double, round(percentile_cont(0.9) WITHIN GROUP (ORDER BY v), 4) FROM lens
          |UNION ALL SELECT 0.99::double, round(percentile_cont(0.99) WITHIN GROUP (ORDER BY v), 4) FROM lens""".stripMargin),

      "d_quantiles_by_lang" ->
        ("""WITH lens AS (SELECT lang, n_chars::double AS v FROM documents)
          |SELECT lang, 0.25::double AS q, round(percentile_cont(0.25) WITHIN GROUP (ORDER BY v), 4) AS value FROM lens GROUP BY lang
          |UNION ALL SELECT lang, 0.5::double, round(percentile_cont(0.5) WITHIN GROUP (ORDER BY v), 4) FROM lens GROUP BY lang
          |UNION ALL SELECT lang, 0.9::double, round(percentile_cont(0.9) WITHIN GROUP (ORDER BY v), 4) FROM lens GROUP BY lang""".stripMargin),

      "d_textrank" ->
        ("""WITH tok0 AS (
          |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
          |  FROM documents),
          |tok AS (SELECT DISTINCT doc_id, token FROM tok0),
          |edges AS (
          |  SELECT DISTINCT a.token AS ta, b.token AS tb
          |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.token < b.token),
          |sym AS (SELECT ta AS src, tb AS dst FROM edges
          |        UNION ALL SELECT tb, ta FROM edges),
          |deg AS (SELECT src AS node, count(*)::double AS deg FROM sym GROUP BY 1),
          |n AS (SELECT count(*)::double AS nn FROM deg),
          |r0 AS (SELECT node, 1.0 / nn AS rank FROM deg, n),
          |r1 AS (SELECT s.dst AS node, (1.0 - 0.85) / nn + 0.85 * sum(r.rank / d.deg) AS rank
          |       FROM r0 r JOIN deg d ON d.node = r.node JOIN sym s ON s.src = r.node, n
          |       GROUP BY s.dst, nn),
          |r2 AS (SELECT s.dst AS node, (1.0 - 0.85) / nn + 0.85 * sum(r.rank / d.deg) AS rank
          |       FROM r1 r JOIN deg d ON d.node = r.node JOIN sym s ON s.src = r.node, n
          |       GROUP BY s.dst, nn),
          |r3 AS (SELECT s.dst AS node, (1.0 - 0.85) / nn + 0.85 * sum(r.rank / d.deg) AS rank
          |       FROM r2 r JOIN deg d ON d.node = r.node JOIN sym s ON s.src = r.node, n
          |       GROUP BY s.dst, nn),
          |r4 AS (SELECT s.dst AS node, (1.0 - 0.85) / nn + 0.85 * sum(r.rank / d.deg) AS rank
          |       FROM r3 r JOIN deg d ON d.node = r.node JOIN sym s ON s.src = r.node, n
          |       GROUP BY s.dst, nn)
          |SELECT r4.node, round(r4.rank, 6) AS pagerank, CAST(d.deg AS BIGINT) AS deg
          |FROM r4 JOIN deg d ON d.node = r4.node""".stripMargin),

      "d_chunks" ->
        ("""WITH toks AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
          |  FROM documents),
          |starts AS (
          |  SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS start
          |  FROM toks WHERE len(toks) > 0)
          |SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_id,
          |  CAST(start AS BIGINT) AS start,
          |  CAST(least(len(toks) - start, 64) AS BIGINT) AS n_tokens,
          |  array_to_string(
          |    list_slice(toks, start + 1, least(start + 64, len(toks))), ' ')
          |    AS chunk
          |FROM starts""".stripMargin),

      "e_knn_brute" ->
        (s"""WITH scored AS (
           | SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosine AS sim
           | FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
           | ranked AS (SELECT query_id, neighbor_id, sim,
           |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(sim, 4) + 0 AS sim FROM ranked WHERE rank <= 5""".stripMargin),

      // bucket bits corpus-adaptive (Similarity.lshBitsPlan, CASE
      // emitted from the same rule; floor 8 = the fixture recall)
      "e_lsh_knn" ->
        (s"""WITH plan AS (SELECT ${Similarity.lshBitsPlanSqlCase(
                "(SELECT count(*) FROM embeddings)", floor = 8)} AS bits),
           | keyed AS (SELECT vec_id, embedding,
           |   list_sum(list_transform(generate_series(1, (SELECT bits FROM plan)), i -> CASE WHEN embedding[i] >= 0 THEN CAST(1 AS BIGINT) << (i-1) ELSE 0 END)) AS bucket
           | FROM embeddings),
           | scored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosine AS sim
           |   FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
           | ranked AS (SELECT query_id, neighbor_id, sim,
           |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(sim, 4) + 0 AS sim
           |FROM ranked WHERE rank <= 3 AND query_id < 50""".stripMargin),

      "e_lsh_knn_multi" -> {
        // identical plane constants as Similarity.multiTableBucket
        // (difference-of-two-components hyperplanes per (table, bit))
        val tables = 8; val bits = 4; val dim = 64
        def bucketSql(t: Int): String =
          (0 until bits).map { b =>
            val (i, j) = graft.llm.Similarity.planeCoords(t, b, dim)
            s"(CASE WHEN embedding[${i + 1}]::double - embedding[${j + 1}]::double >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
          }.mkString(" + ")
        val bucketCols = (0 until tables).map(t => s"${bucketSql(t)} AS t$t").mkString(",\n   ")
        val orJoin = (0 until tables).map(t => s"a.t$t = b.t$t").mkString(" OR ")
        s"""WITH keyed AS (SELECT vec_id, embedding,
           |   $bucketCols
           | FROM embeddings),
           | cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
           |   FROM keyed a JOIN keyed b ON a.vec_id <> b.vec_id AND ($orJoin)),
           | scored AS (SELECT c.query_id, c.neighbor_id, $cosine AS sim
           |   FROM cand c JOIN embeddings a ON a.vec_id = c.query_id
           |   JOIN embeddings b ON b.vec_id = c.neighbor_id),
           | ranked AS (SELECT query_id, neighbor_id, sim,
           |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(sim, 4) + 0 AS sim
           |FROM ranked WHERE rank <= 3 AND query_id < 50""".stripMargin
      },

      "e_kmeans_step" ->
        (s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cent FROM embeddings WHERE vec_id < 8),
           | scored AS (SELECT a.vec_id, c.centroid_id,
           |   list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * c.cent[i]::double)) /
           |   (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * a.embedding[i]::double))) *
           |    sqrt(list_sum(list_transform(generate_series(1, len(c.cent)), i -> c.cent[i]::double * c.cent[i]::double)))) AS sim
           |   FROM embeddings a, cents c),
           | assign AS (SELECT vec_id, centroid_id FROM (
           |   SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rank FROM scored) r
           |   WHERE rank = 1)
           |SELECT a.centroid_id, pos - 1 AS pos,
           |  round(list_sum(list(v::double ORDER BY x.vec_id)) / count(*), 4) + 0 AS m
           |FROM (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos FROM embeddings) x
           |JOIN assign a ON a.vec_id = x.vec_id
           |GROUP BY 1, 2""".stripMargin),

      // power-iteration twin: the identical quantized Gram + ordered
      // matvec/normalize rounds (pcaChain)
      "e_pca_power" -> {
        def out(t: Int) =
          s"SELECT CAST($t AS BIGINT) AS iter, i - 1 AS pos, round(vl[i], 6) + 0 AS v FROM pv$t, generate_series(1, 64) s(i)"
        s"""WITH ${pcaChain(4)}
           |${(1 to 4).map(out).mkString(" UNION ALL ")}""".stripMargin
      },

      // train → serve: ordered-fold projection against the final
      // iterate
      "e_pca_project" ->
        (s"""WITH ${pcaChain(4)}
           |SELECT e.vec_id,
           |  round(list_sum(list_transform(generate_series(1, 64), i -> e.embedding[i]::double * v.vl[i])), 4) + 0 AS score
           |FROM embeddings e, pv4 v""".stripMargin),

      // deflation twin: both final components off pcaTop2Chain
      "e_pca_top2" -> {
        def out(c: Int, v: String) =
          s"SELECT CAST($c AS BIGINT) AS component, i - 1 AS pos, round(vl[i], 6) + 0 AS v FROM $v, generate_series(1, 64) s(i)"
        s"""WITH ${pcaTop2Chain(4)}
           |${out(1, "pv4")} UNION ALL ${out(2, "qv4")}""".stripMargin
      },

      // 2-D projector twin: ordered folds against both components
      "e_pca_project2" ->
        (s"""WITH ${pcaTop2Chain(4)}
           |SELECT e.vec_id,
           |  round(list_sum(list_transform(generate_series(1, 64), i -> e.embedding[i]::double * a.vl[i])), 4) + 0 AS score1,
           |  round(list_sum(list_transform(generate_series(1, 64), i -> e.embedding[i]::double * b.vl[i])), 4) + 0 AS score2
           |FROM embeddings e, pv4 a, qv4 b""".stripMargin),

      // Lloyd's-loop training twin: the identical init/assign/
      // quantized-mean loop unrolled in chained CTEs (kmeansTrainChain)
      "e_kmeans_train" -> {
        def out(t: Int) =
          s"SELECT CAST($t AS BIGINT) AS iter, centroid_id, pos, round(m, 6) + 0 AS m FROM kc$t"
        s"""WITH ${kmeansTrainChain(3, 4)}
           |${(1 to 3).map(out).mkString(" UNION ALL ")}""".stripMargin
      },

      // train → serve: rank every vector against the kc3 centroids
      // with the same ordered-fold cosine
      "e_kmeans_trained" ->
        (s"""WITH ${kmeansTrainChain(3, 4)},
           |kclf AS (SELECT centroid_id, list(m ORDER BY pos) AS cent FROM kc3 GROUP BY 1),
           |kscf AS (SELECT a.id, c.centroid_id, ${kmeansCos("a", "c")} AS sim
           |  FROM kebase a, kclf c)
           |SELECT id AS vec_id, centroid_id, round(sim, 4) + 0 AS sim FROM (
           |  SELECT id, centroid_id, sim,
           |    row_number() OVER (PARTITION BY id ORDER BY sim DESC, centroid_id ASC) AS rn
           |  FROM kscf) r WHERE rn = 1""".stripMargin),

      // train → assign → label twin: the Lloyd chain's assignment
      // feeds the c-TF-IDF aggregates (all-integer counts, 2^-20-grid
      // scores)
      "d_cluster_terms" ->
        (s"""WITH ${kmeansTrainChain(3, 4)},
           |ctc AS (SELECT centroid_id, list(m ORDER BY pos) AS cent FROM kc3 GROUP BY 1),
           |ctsc AS (SELECT a.id, c.centroid_id, ${kmeansCos("a", "c")} AS sim
           |  FROM kebase a, ctc c),
           |ctas AS (SELECT id AS doc_id, centroid_id FROM (
           |  SELECT id, centroid_id, row_number() OVER (PARTITION BY id ORDER BY sim DESC, centroid_id ASC) AS rn FROM ctsc) r
           |  WHERE rn = 1),
           |cttok AS (SELECT doc_id, token FROM (
           |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
           |  FROM documents WHERE text IS NOT NULL) t WHERE token <> ''),
           |ctj AS (SELECT a.centroid_id, t.token FROM cttok t JOIN ctas a USING (doc_id)),
           |ctf AS (SELECT centroid_id, token, count(*)::double AS ctf FROM ctj GROUP BY 1, 2),
           |ctft AS (SELECT token, count(*)::double AS ft FROM ctj GROUP BY 1),
           |ctg AS (SELECT count(*)::double / count(DISTINCT centroid_id)::double AS a FROM ctj),
           |ctsd AS (SELECT f.centroid_id, f.token,
           |  floor(f.ctf * ln(1 + g.a / t.ft) * 1048576.0) / 1048576.0 AS score
           |  FROM ctf f JOIN ctft t USING (token), ctg g),
           |ctr AS (SELECT centroid_id, token, score,
           |  row_number() OVER (PARTITION BY centroid_id ORDER BY score DESC, token ASC) AS rank FROM ctsd)
           |SELECT centroid_id, CAST(rank AS BIGINT) AS rank, token, round(score, 4) + 0 AS score
           |FROM ctr WHERE rank <= 5""".stripMargin),

      // train → index → serve twin: the Lloyd chain feeds the
      // e_ivf_search shape (assign cells + probe cells from ONE
      // query-vs-trained-centroid relation, exact rerank in probed
      // cells)
      "e_ivf_trained_search" ->
        (s"""WITH ${kmeansTrainChain(3, 4)},
           | tcents AS (SELECT centroid_id, list(m ORDER BY pos) AS cent FROM kc3 GROUP BY 1),
           | tcsc AS (SELECT a.id, c.centroid_id, ${kmeansCos("a", "c")} AS sim
           |   FROM kebase a, tcents c),
           | tassign AS (SELECT id AS neighbor_id, centroid_id FROM (
           |   SELECT id, centroid_id, row_number() OVER (PARTITION BY id ORDER BY sim DESC, centroid_id ASC) AS rank FROM tcsc) r
           |   WHERE rank = 1),
           | tprobes AS (SELECT id AS query_id, centroid_id FROM (
           |   SELECT id, centroid_id, row_number() OVER (PARTITION BY id ORDER BY sim DESC, centroid_id ASC) AS rank FROM tcsc WHERE id < 5) r
           |   WHERE rank <= ${
             Similarity.nprobePlanSql("4", Similarity.ServeRecallTarget)}),
           | tcand AS (SELECT p.query_id, s.neighbor_id FROM tprobes p
           |   JOIN tassign s ON s.centroid_id = p.centroid_id AND p.query_id <> s.neighbor_id),
           | tscored AS (SELECT c.query_id, c.neighbor_id, $cosine AS sim
           |   FROM tcand c JOIN embeddings a ON a.vec_id = c.query_id
           |   JOIN embeddings b ON b.vec_id = c.neighbor_id),
           | tranked AS (SELECT query_id, neighbor_id, sim,
           |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM tscored)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(sim, 4) + 0 AS sim
           |FROM tranked WHERE rank <= 5""".stripMargin),

      // k-means|| twin: the same md5-uniform draws, cost aggregates,
      // argmin weights and weighted farthest-point — unrolled in CTEs
      "e_kmeanspp_init" -> {
        def l2(a: String, b: String): String =
          s"list_sum(list_transform(generate_series(1, len($a.emb)), " +
            s"i -> ($a.emb[i]::double - $b.cemb[i]::double) * " +
            s"($a.emb[i]::double - $b.cemb[i]::double)))"
        def u(salt: String): String =
          s"('0x' || substr(md5(id::varchar || '|$salt'), 1, 15))::bigint / 1152921504606846976.0"
        s"""WITH base AS (SELECT vec_id AS id, embedding AS emb FROM embeddings),
           |c0 AS (SELECT id AS cid, emb AS cemb FROM base ORDER BY id LIMIT 1),
           |m1 AS (SELECT b.id, min(${l2("b", "c")}) AS mind
           |  FROM base b, c0 c GROUP BY b.id),
           |phi1 AS (SELECT CASE WHEN sum(mind) <= 0 THEN 0
           |  ELSE pow(2, ceil(log2(sum(mind)))) END AS phi FROM m1),
           |s1 AS (SELECT id FROM m1, phi1 WHERE ${u("kmpp1")} * phi < 4.0 * mind),
           |cset1 AS (SELECT cid AS id FROM c0 UNION SELECT id FROM s1),
           |cent1 AS (SELECT b.id AS cid, b.emb AS cemb
           |  FROM base b JOIN cset1 ON cset1.id = b.id),
           |m2 AS (SELECT b.id, min(${l2("b", "c")}) AS mind
           |  FROM base b, cent1 c GROUP BY b.id),
           |phi2 AS (SELECT CASE WHEN sum(mind) <= 0 THEN 0
           |  ELSE pow(2, ceil(log2(sum(mind)))) END AS phi FROM m2),
           |s2 AS (SELECT id FROM m2, phi2 WHERE ${u("kmpp2")} * phi < 4.0 * mind),
           |cset AS (SELECT id FROM cset1 UNION SELECT id FROM s2),
           |cents AS (SELECT b.id AS cid, b.emb AS cemb
           |  FROM base b JOIN cset ON cset.id = b.id),
           |assign AS (SELECT id, cid FROM (
           |  SELECT b.id, c.cid,
           |    row_number() OVER (PARTITION BY b.id ORDER BY ${l2("b", "c")}, c.cid) AS rn
           |  FROM base b, cents c) r WHERE rn = 1),
           |wts AS (SELECT cid, count(*)::bigint AS w FROM assign GROUP BY cid),
           |cand AS (SELECT c.cid AS id, b.emb AS cemb, coalesce(w.w, 0) AS w
           |  FROM cents c JOIN base b ON b.id = c.cid
           |  LEFT JOIN wts w ON w.cid = c.cid),
           |f1 AS (SELECT id, cemb, w FROM cand ORDER BY w DESC, id LIMIT 1),
           |e1 AS (SELECT c.id, c.cemb, c.w,
           |  list_sum(list_transform(generate_series(1, len(c.cemb)),
           |    i -> (c.cemb[i]::double - f.cemb[i]::double) * (c.cemb[i]::double - f.cemb[i]::double))) AS mind
           |  FROM cand c, f1 f WHERE c.id <> f.id),
           |f2 AS (SELECT id, cemb, w FROM e1 ORDER BY w * mind DESC, id LIMIT 1),
           |e2 AS (SELECT e.id, e.cemb, e.w,
           |  least(e.mind, list_sum(list_transform(generate_series(1, len(e.cemb)),
           |    i -> (e.cemb[i]::double - f.cemb[i]::double) * (e.cemb[i]::double - f.cemb[i]::double)))) AS mind
           |  FROM e1 e, f2 f WHERE e.id <> f.id),
           |f3 AS (SELECT id, cemb, w FROM e2 ORDER BY w * mind DESC, id LIMIT 1),
           |e3 AS (SELECT e.id, e.cemb, e.w,
           |  least(e.mind, list_sum(list_transform(generate_series(1, len(e.cemb)),
           |    i -> (e.cemb[i]::double - f.cemb[i]::double) * (e.cemb[i]::double - f.cemb[i]::double)))) AS mind
           |  FROM e2 e, f3 f WHERE e.id <> f.id),
           |f4 AS (SELECT id, cemb, w FROM e3 ORDER BY w * mind DESC, id LIMIT 1)
           |SELECT CAST(1 AS BIGINT) AS rank, id AS vec_id, w AS weight FROM f1
           |UNION ALL SELECT 2, id, w FROM f2
           |UNION ALL SELECT 3, id, w FROM f3
           |UNION ALL SELECT 4, id, w FROM f4""".stripMargin
      },

      "e_kmeans_kcenter" -> {
        def l2(a: String, b: String): String =
          s"list_sum(list_transform(generate_series(1, len($a.embedding)), " +
            s"i -> ($a.embedding[i]::double - $b.embedding[i]::double) * " +
            s"($a.embedding[i]::double - $b.embedding[i]::double)))"
        s"""WITH c1 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1),
           | d1 AS (SELECT e.vec_id, e.embedding, ${l2("e", "c")} AS mind
           |   FROM embeddings e, c1 c),
           | c2 AS (SELECT vec_id, embedding, mind FROM d1 ORDER BY mind DESC, vec_id ASC LIMIT 1),
           | d2 AS (SELECT d.vec_id, d.embedding, least(d.mind, ${l2("d", "c")}) AS mind
           |   FROM d1 d, c2 c),
           | c3 AS (SELECT vec_id, embedding, mind FROM d2 ORDER BY mind DESC, vec_id ASC LIMIT 1),
           | d3 AS (SELECT d.vec_id, d.embedding, least(d.mind, ${l2("d", "c")}) AS mind
           |   FROM d2 d, c3 c),
           | c4 AS (SELECT vec_id, embedding FROM d3 ORDER BY mind DESC, vec_id ASC LIMIT 1),
           | cents AS (
           |   SELECT CAST(0 AS BIGINT) AS centroid_id, embedding AS cent FROM c1
           |   UNION ALL SELECT CAST(1 AS BIGINT), embedding FROM c2
           |   UNION ALL SELECT CAST(2 AS BIGINT), embedding FROM c3
           |   UNION ALL SELECT CAST(3 AS BIGINT), embedding FROM c4),
           | scored AS (SELECT a.vec_id, c.centroid_id,
           |   list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * c.cent[i]::double)) /
           |   (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * a.embedding[i]::double))) *
           |    sqrt(list_sum(list_transform(generate_series(1, len(c.cent)), i -> c.cent[i]::double * c.cent[i]::double)))) AS sim
           |   FROM embeddings a, cents c),
           | assign AS (SELECT vec_id, centroid_id FROM (
           |   SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rank FROM scored) r
           |   WHERE rank = 1)
           |SELECT a.centroid_id, pos - 1 AS pos,
           |  round(list_sum(list(v::double ORDER BY x.vec_id)) / count(*), 4) + 0 AS m
           |FROM (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos FROM embeddings) x
           |JOIN assign a ON a.vec_id = x.vec_id
           |GROUP BY 1, 2""".stripMargin
      },

      "e_kcenter" -> {
        def l2(a: String, b: String): String =
          s"list_sum(list_transform(generate_series(1, len($a.embedding)), " +
            s"i -> ($a.embedding[i]::double - $b.embedding[i]::double) * " +
            s"($a.embedding[i]::double - $b.embedding[i]::double)))"
        s"""WITH c1 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1),
           | d1 AS (SELECT e.vec_id, e.embedding, ${l2("e", "c")} AS mind
           |   FROM embeddings e, c1 c),
           | c2 AS (SELECT vec_id, embedding, mind FROM d1 ORDER BY mind DESC, vec_id ASC LIMIT 1),
           | d2 AS (SELECT d.vec_id, d.embedding, least(d.mind, ${l2("d", "c")}) AS mind
           |   FROM d1 d, c2 c),
           | c3 AS (SELECT vec_id, embedding, mind FROM d2 ORDER BY mind DESC, vec_id ASC LIMIT 1),
           | d3 AS (SELECT d.vec_id, d.embedding, least(d.mind, ${l2("d", "c")}) AS mind
           |   FROM d2 d, c3 c),
           | c4 AS (SELECT vec_id, mind FROM d3 ORDER BY mind DESC, vec_id ASC LIMIT 1)
           |SELECT CAST(1 AS BIGINT) AS rank, vec_id, 0.0 AS dist FROM c1
           |UNION ALL SELECT CAST(2 AS BIGINT), vec_id, round(mind, 4) + 0 FROM c2
           |UNION ALL SELECT CAST(3 AS BIGINT), vec_id, round(mind, 4) + 0 FROM c3
           |UNION ALL SELECT CAST(4 AS BIGINT), vec_id, round(mind, 4) + 0 FROM c4""".stripMargin
      },

      "e_doc_pool" ->
        ("""WITH pts AS (
           |  SELECT vec_id // 8 AS doc_key, vec_id, unnest(embedding) AS v,
           |         generate_subscripts(embedding, 1) AS pos
           |  FROM embeddings),
           |m AS (
           |  SELECT doc_key, pos,
           |    list_reduce(list(v::double ORDER BY vec_id), (a, b) -> a + b) / count(*) AS m
           |  FROM pts GROUP BY 1, 2)
           |SELECT CAST(doc_key AS BIGINT) AS doc_key, CAST(pos AS BIGINT) AS pos,
           |       round(m, 4) + 0 AS pooled
           |FROM m""".stripMargin),

      "e_ncc" ->
        ("""WITH pts AS (
           |  SELECT label, vec_id, unnest(embedding) AS v,
           |         generate_subscripts(embedding, 1) AS pos
           |  FROM embeddings),
           |cent AS (
           |  SELECT label, pos,
           |    list_reduce(list(v::double ORDER BY vec_id), (a, b) -> a + b) / count(*) AS m
           |  FROM pts GROUP BY 1, 2),
           |cents AS (SELECT label AS c_label, list(m ORDER BY pos) AS centroid FROM cent GROUP BY 1),
           |scored AS (
           |  SELECT e.vec_id, e.label, c.c_label,
           |    list_sum(list_transform(generate_series(1, len(e.embedding)),
           |      i -> e.embedding[i]::double * c.centroid[i])) /
           |    (sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
           |      i -> e.embedding[i]::double * e.embedding[i]::double))) *
           |     sqrt(list_sum(list_transform(generate_series(1, len(c.centroid)),
           |      i -> c.centroid[i] * c.centroid[i])))) AS sim
           |  FROM embeddings e, cents c),
           |assigned AS (SELECT vec_id, label, c_label FROM (
           |  SELECT vec_id, label, c_label,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label ASC) AS rn
           |  FROM scored) r WHERE rn = 1)
           |SELECT label AS actual, c_label AS predicted, count(*)::bigint AS n
           |FROM assigned GROUP BY 1, 2""".stripMargin),

      "e_cohesion" ->
        ("""WITH pts AS (
           |  SELECT label, vec_id, unnest(embedding) AS v,
           |         generate_subscripts(embedding, 1) AS pos
           |  FROM embeddings),
           |cent AS (
           |  SELECT label, pos,
           |    list_reduce(list(v::double ORDER BY vec_id), (a, b) -> a + b) / count(*) AS m
           |  FROM pts GROUP BY 1, 2),
           |cents AS (SELECT label, list(m ORDER BY pos) AS centroid FROM cent GROUP BY 1)
           |SELECT e.label, e.vec_id,
           |  round(
           |    list_sum(list_transform(generate_series(1, len(e.embedding)),
           |      i -> e.embedding[i]::double * c.centroid[i])) /
           |    (sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
           |      i -> e.embedding[i]::double * e.embedding[i]::double))) *
           |     sqrt(list_sum(list_transform(generate_series(1, len(c.centroid)),
           |      i -> c.centroid[i] * c.centroid[i])))), 4) + 0 AS cos_centroid
           |FROM embeddings e JOIN cents c USING (label)""".stripMargin),

      "e_sq8_search" -> {
        val deq = "mns[i] + least(greatest(floor((a.embedding[i]::double - mns[i]) / scs[i] * 255.0 + 0.5), 0), 255) / 255.0 * scs[i]"
        s"""WITH stats AS (
           |  SELECT pos, min(v::double) AS mn,
           |    greatest(max(v::double) - min(v::double), 1e-12) AS sc
           |  FROM (SELECT unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos
           |        FROM embeddings) t GROUP BY pos),
           | arrs AS (SELECT list(mn ORDER BY pos) AS mns, list(sc ORDER BY pos) AS scs FROM stats),
           | q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
           | scored AS (SELECT q.query_id, a.vec_id AS neighbor_id,
           |   list_sum(list_transform(generate_series(1, len(a.embedding)),
           |     i -> ($deq - q.embedding[i]::double) * ($deq - q.embedding[i]::double))) AS dist
           |   FROM embeddings a, q, arrs WHERE q.query_id <> a.vec_id),
           | ranked AS (SELECT query_id, neighbor_id, dist,
           |   row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rank FROM scored)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(dist, 4) + 0 AS dist
           |FROM ranked WHERE rank <= 5""".stripMargin
      },

      "e_mrl_search" -> {
        def dotN(n: String) =
          s"list_sum(list_transform(generate_series(1, $n), i -> a.embedding[i]::double * q.embedding[i]::double))"
        def normN(t: String, n: String) =
          s"sqrt(list_sum(list_transform(generate_series(1, $n), i -> $t.embedding[i]::double * $t.embedding[i]::double)))"
        s"""WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
           | coarse AS (SELECT q.query_id, a.vec_id AS neighbor_id,
           |   ${dotN("16")} / (${normN("q", "16")} * ${normN("a", "16")}) AS csim,
           |   ${dotN("len(a.embedding)")} / (${normN("q", "len(q.embedding)")} * ${normN("a", "len(a.embedding)")}) AS sim
           |   FROM embeddings a, q WHERE q.query_id <> a.vec_id),
           | short AS (SELECT query_id, neighbor_id, sim FROM (
           |   SELECT query_id, neighbor_id, sim,
           |     row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, neighbor_id ASC) AS crank
           |   FROM coarse) c WHERE crank <= 20),
           | ranked AS (SELECT query_id, neighbor_id, sim,
           |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM short)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(sim, 4) + 0 AS sim
           |FROM ranked WHERE rank <= 5""".stripMargin
      },

      // binary quantization twin: the identical sign-bit words (the
      // e_lsh_knn bucket spelling split lo/hi), Hamming shortlist of
      // 20 (hd asc, id asc), exact cosine rerank to top-5
      "e_bq_search" ->
        (s"""WITH $bqShortSql,
           | ranked AS (SELECT query_id, neighbor_id, sim,
           |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM short)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(sim, 4) + 0 AS sim
           |FROM ranked WHERE rank <= 5""".stripMargin),

      // bq-vs-brute recall twin: the e_bq_search chain reduced to the
      // kept (query, neighbor) set, intersected with the brute top-5
      "e_bq_recall" ->
        (s"""WITH $bqShortSql,
           | bq AS (SELECT query_id, neighbor_id FROM (
           |   SELECT query_id, neighbor_id,
           |     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM short) r
           |   WHERE rank <= 5),
           | bscored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosine AS sim
           |   FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
           | brute AS (SELECT query_id, neighbor_id FROM (
           |   SELECT query_id, neighbor_id,
           |     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM bscored) r
           |   WHERE rank <= 5),
           | hits AS (SELECT b.query_id, count(*)::bigint AS hits
           |   FROM bq b JOIN brute t USING (query_id, neighbor_id) GROUP BY 1)
           |SELECT q2.query_id, coalesce(h.hits, 0)::bigint AS hits,
           |  coalesce(h.hits, 0)::double / 5 AS recall
           |FROM (SELECT DISTINCT query_id FROM brute) q2
           |LEFT JOIN hits h USING (query_id)""".stripMargin),

      // JL random-projection twin: the identical md5-parity ±1
      // matrix, ordered projection folds, projected-L2 shortlist of
      // 40 (pd asc, id asc), exact cosine rerank to top-5
      "e_rp_search" ->
        (s"""WITH $rpShortSql,
           | ranked AS (SELECT query_id, neighbor_id, sim,
           |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM rshort)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(sim, 4) + 0 AS sim
           |FROM ranked WHERE rank <= 5""".stripMargin),

      // rp-vs-brute recall twin: the e_rp_search chain reduced to the
      // kept (query, neighbor) set, intersected with the brute top-5
      "e_rp_recall" ->
        (s"""WITH $rpShortSql,
           | rp AS (SELECT query_id, neighbor_id FROM (
           |   SELECT query_id, neighbor_id,
           |     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM rshort) r
           |   WHERE rank <= 5),
           | bscored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosine AS sim
           |   FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
           | brute AS (SELECT query_id, neighbor_id FROM (
           |   SELECT query_id, neighbor_id,
           |     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM bscored) r
           |   WHERE rank <= 5),
           | hits AS (SELECT b.query_id, count(*)::bigint AS hits
           |   FROM rp b JOIN brute t USING (query_id, neighbor_id) GROUP BY 1)
           |SELECT q2.query_id, coalesce(h.hits, 0)::bigint AS hits,
           |  coalesce(h.hits, 0)::double / 5 AS recall
           |FROM (SELECT DISTINCT query_id FROM brute) q2
           |LEFT JOIN hits h USING (query_id)""".stripMargin),

      "e_ivf_assign" ->
        (s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cent FROM embeddings WHERE vec_id < 8),
           | scored AS (SELECT a.vec_id, c.centroid_id,
           |   list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * c.cent[i]::double)) /
           |   (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * a.embedding[i]::double))) *
           |    sqrt(list_sum(list_transform(generate_series(1, len(c.cent)), i -> c.cent[i]::double * c.cent[i]::double)))) AS sim
           |   FROM embeddings a, cents c),
           | ranked AS (SELECT vec_id, centroid_id, sim,
           |   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rank FROM scored)
           |SELECT vec_id, centroid_id, round(sim, 4) + 0 AS sim FROM ranked WHERE rank = 1""".stripMargin),

      "e_ivf_search" ->
        (s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cent FROM embeddings WHERE vec_id < 8),
           | cscored AS (SELECT a.vec_id, c.centroid_id,
           |   list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * c.cent[i]::double)) /
           |   (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * a.embedding[i]::double))) *
           |    sqrt(list_sum(list_transform(generate_series(1, len(c.cent)), i -> c.cent[i]::double * c.cent[i]::double)))) AS sim
           |   FROM embeddings a, cents c),
           | assign AS (SELECT vec_id AS neighbor_id, centroid_id FROM (
           |   SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rank FROM cscored) r
           |   WHERE rank = 1),
           | probes AS (SELECT vec_id AS query_id, centroid_id FROM (
           |   SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rank FROM cscored WHERE vec_id < 5) r
           |   WHERE rank <= ${
             Similarity.nprobePlanSql("8", Similarity.ServeRecallTarget)}),
           | cand AS (SELECT p.query_id, s.neighbor_id FROM probes p
           |   JOIN assign s ON s.centroid_id = p.centroid_id AND p.query_id <> s.neighbor_id),
           | scored AS (SELECT c.query_id, c.neighbor_id, $cosine AS sim
           |   FROM cand c JOIN embeddings a ON a.vec_id = c.query_id
           |   JOIN embeddings b ON b.vec_id = c.neighbor_id),
           | ranked AS (SELECT query_id, neighbor_id, sim,
           |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(sim, 4) + 0 AS sim
           |FROM ranked WHERE rank <= 5""".stripMargin),

      // label-propagation twin: sign-bucket LSH edges once
      // (MATERIALIZED), then two unrolled majority-vote rounds over
      // the growing label set
      "e_label_prop" -> {
        def round(r: Int) =
          s"""v$r AS (SELECT e.src AS id, l.label, count(*)::bigint AS votes
             |  FROM lpe e JOIN l${r - 1} l ON l.id = e.dst
             |  WHERE e.src NOT IN (SELECT id FROM l${r - 1}) GROUP BY 1, 2),
             |n$r AS (SELECT id, label, CAST($r AS BIGINT) AS round FROM (
             |  SELECT id, label, row_number() OVER (PARTITION BY id ORDER BY votes DESC, label ASC) AS rk FROM v$r) t
             |  WHERE rk = 1),
             |l$r AS (SELECT * FROM l${r - 1} UNION ALL SELECT * FROM n$r)""".stripMargin
        s"""WITH lpplan AS (SELECT ${Similarity.lshBitsPlanSqlCase(
                "(SELECT count(*) FROM embeddings)", floor = 4)} AS bits),
           |lpk AS (SELECT vec_id, embedding,
           |  list_sum(list_transform(generate_series(1, (SELECT bits FROM lpplan)), i -> CASE WHEN embedding[i] >= 0 THEN CAST(1 AS BIGINT) << (i-1) ELSE 0 END)) AS bucket
           |  FROM embeddings),
           |lpsc AS (SELECT a.vec_id AS src, b.vec_id AS dst, $cosine AS sim
           |  FROM lpk a JOIN lpk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
           |lpe AS MATERIALIZED (SELECT src, dst FROM (
           |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk FROM lpsc) r
           |  WHERE rk <= 5),
           |l0 AS (SELECT vec_id AS id, label::bigint AS label, CAST(0 AS BIGINT) AS round
           |  FROM embeddings WHERE vec_id < 50),
           |${round(1)},
           |${round(2)}
           |SELECT id, label, round FROM l2""".stripMargin
      },

      // hard-negative mining twin: one scored relation, two rank
      // windows keyed on (anchor, same-label), pos ⋈ neg with the
      // cosine margin
      "e_hard_negatives" ->
        (s"""WITH sc AS (
           | SELECT a.vec_id AS anchor_id, a.label AS a_label,
           |   b.vec_id AS neighbor_id, b.label AS v_label, $cosine AS sim
           | FROM embeddings a JOIN embeddings b ON a.vec_id < 8 AND a.vec_id <> b.vec_id),
           | rk AS (SELECT anchor_id, a_label, neighbor_id, sim,
           |   (a_label IS NOT DISTINCT FROM v_label) AS same,
           |   row_number() OVER (
           |     PARTITION BY anchor_id, (a_label IS NOT DISTINCT FROM v_label)
           |     ORDER BY sim DESC, neighbor_id ASC) AS rk
           |   FROM sc),
           | pos AS (SELECT anchor_id, a_label AS label, neighbor_id AS pos_id, sim AS pos_sim
           |   FROM rk WHERE same AND rk = 1),
           | neg AS (SELECT anchor_id, rk AS neg_rank, neighbor_id AS neg_id, sim AS neg_sim
           |   FROM rk WHERE NOT same AND rk <= 3)
           |SELECT p.anchor_id, p.label, p.pos_id, round(p.pos_sim, 4) + 0 AS pos_sim,
           |  CAST(n.neg_rank AS BIGINT) AS neg_rank, n.neg_id,
           |  round(n.neg_sim, 4) + 0 AS neg_sim,
           |  round(p.pos_sim - n.neg_sim, 4) + 0 AS margin
           |FROM pos p JOIN neg n USING (anchor_id)""".stripMargin),

      "e_knn_classify" ->
        (s"""WITH scored AS (
           | SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosine AS sim
           | FROM embeddings a JOIN embeddings b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
           | nn AS (SELECT query_id, neighbor_id FROM (
           |   SELECT query_id, neighbor_id,
           |     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
           |   FROM scored) r WHERE rank <= 5),
           | votes AS (
           |   SELECT n.query_id, e.label AS n_label, count(*)::bigint AS votes
           |   FROM nn n JOIN embeddings e ON e.vec_id = n.neighbor_id
           |   GROUP BY 1, 2),
           | top AS (SELECT query_id, n_label AS pred_label, votes FROM (
           |   SELECT query_id, n_label, votes,
           |     row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, n_label ASC) AS rk
           |   FROM votes) v WHERE rk = 1)
           |SELECT t.query_id, t.pred_label, t.votes, e.label AS true_label,
           |       t.pred_label = e.label AS correct
           |FROM top t JOIN embeddings e ON e.vec_id = t.query_id""".stripMargin),

      "d_semdedup" ->
        (s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cent FROM embeddings WHERE vec_id < 8),
           | cscored AS (SELECT a.vec_id, c.centroid_id,
           |   list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * c.cent[i]::double)) /
           |   (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * a.embedding[i]::double))) *
           |    sqrt(list_sum(list_transform(generate_series(1, len(c.cent)), i -> c.cent[i]::double * c.cent[i]::double)))) AS sim
           |   FROM embeddings a, cents c),
           | assign AS (SELECT vec_id, centroid_id FROM (
           |   SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rank FROM cscored) r
           |   WHERE rank = 1),
           | dropped AS (SELECT DISTINCT y.vec_id FROM assign x
           |   JOIN assign y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
           |   JOIN embeddings a ON a.vec_id = x.vec_id
           |   JOIN embeddings b ON b.vec_id = y.vec_id
           |   WHERE $cosine >= 0.3)
           |SELECT s.vec_id, s.centroid_id FROM assign s
           |LEFT JOIN dropped d ON s.vec_id = d.vec_id
           |WHERE d.vec_id IS NULL""".stripMargin),

      "e_ivf_recall" ->
        (s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cent FROM embeddings WHERE vec_id < 8),
           | cscored AS (SELECT a.vec_id, c.centroid_id,
           |   list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * c.cent[i]::double)) /
           |   (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * a.embedding[i]::double))) *
           |    sqrt(list_sum(list_transform(generate_series(1, len(c.cent)), i -> c.cent[i]::double * c.cent[i]::double)))) AS sim
           |   FROM embeddings a, cents c),
           | assign AS (SELECT vec_id AS neighbor_id, centroid_id FROM (
           |   SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rank FROM cscored) r
           |   WHERE rank = 1),
           | probes AS (SELECT vec_id AS query_id, centroid_id FROM (
           |   SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rank FROM cscored WHERE vec_id < 5) r
           |   WHERE rank <= ${
             Similarity.nprobePlanSql("8", Similarity.ServeRecallTarget)}),
           | cand AS (SELECT p.query_id, s.neighbor_id FROM probes p
           |   JOIN assign s ON s.centroid_id = p.centroid_id AND p.query_id <> s.neighbor_id),
           | iscored AS (SELECT c.query_id, c.neighbor_id, $cosine AS sim
           |   FROM cand c JOIN embeddings a ON a.vec_id = c.query_id
           |   JOIN embeddings b ON b.vec_id = c.neighbor_id),
           | ivf AS (SELECT query_id, neighbor_id FROM (
           |   SELECT query_id, neighbor_id,
           |     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM iscored) r
           |   WHERE rank <= 5),
           | bscored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosine AS sim
           |   FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
           | brute AS (SELECT query_id, neighbor_id FROM (
           |   SELECT query_id, neighbor_id,
           |     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM bscored) r
           |   WHERE rank <= 5),
           | hits AS (SELECT i.query_id, count(*)::bigint AS hits
           |   FROM ivf i JOIN brute b USING (query_id, neighbor_id) GROUP BY 1)
           |SELECT q.query_id, coalesce(h.hits, 0)::bigint AS hits,
           |  coalesce(h.hits, 0)::double / 5 AS recall
           |FROM (SELECT DISTINCT query_id FROM brute) q
           |LEFT JOIN hits h USING (query_id)""".stripMargin),

      // the nprobe rule's curve: planned nprobe per target via the
      // SAME nprobePlanSql emitter the Scala side's nprobePlan mirrors
      "e_nprobe_curve" -> {
        def npSql(t: Double) =
          Similarity.nprobePlanSql("(SELECT nlist FROM ncplan)", t)
        s"""WITH ncplan AS (SELECT ${Similarity.ivfPlanSqlCase(
               "(SELECT count(*) FROM embeddings)")} AS nlist),
           | cents AS (SELECT vec_id AS centroid_id, embedding AS cent FROM embeddings WHERE vec_id < (SELECT nlist FROM ncplan)),
           | cscored AS (SELECT a.vec_id, c.centroid_id,
           |   list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * c.cent[i]::double)) /
           |   (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * a.embedding[i]::double))) *
           |    sqrt(list_sum(list_transform(generate_series(1, len(c.cent)), i -> c.cent[i]::double * c.cent[i]::double)))) AS sim
           |   FROM embeddings a, cents c),
           | assign AS (SELECT vec_id AS neighbor_id, centroid_id FROM (
           |   SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rank FROM cscored) r
           |   WHERE rank = 1),
           | pr AS (SELECT vec_id AS query_id, centroid_id, rank FROM (
           |   SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rank FROM cscored WHERE vec_id < 5) r),
           | bscored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosine AS sim
           |   FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
           | brute AS (SELECT query_id, neighbor_id FROM (
           |   SELECT query_id, neighbor_id,
           |     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM bscored) r
           |   WHERE rank <= 5),
           | nps AS (SELECT * FROM (VALUES
           |   (CAST(0.25 AS DOUBLE), ${npSql(0.25)}), (CAST(0.5 AS DOUBLE), ${npSql(0.5)}),
           |   (CAST(0.7 AS DOUBLE), ${npSql(0.7)}), (CAST(1.0 AS DOUBLE), ${npSql(1.0)})) AS t(recall_target, np)),
           | cand AS (SELECT n.recall_target, n.np, p.query_id, s.neighbor_id
           |   FROM nps n JOIN pr p ON p.rank <= n.np
           |   JOIN assign s ON s.centroid_id = p.centroid_id AND p.query_id <> s.neighbor_id),
           | iscored AS (SELECT c.recall_target, c.np, c.query_id, c.neighbor_id, $cosine AS sim
           |   FROM cand c JOIN embeddings a ON a.vec_id = c.query_id
           |   JOIN embeddings b ON b.vec_id = c.neighbor_id),
           | ivf AS (SELECT recall_target, np, query_id, neighbor_id FROM (
           |   SELECT recall_target, np, query_id, neighbor_id,
           |     row_number() OVER (PARTITION BY recall_target, query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM iscored) r
           |   WHERE rank <= 5),
           | hits AS (SELECT i.recall_target, i.query_id, count(*)::bigint AS hits
           |   FROM ivf i JOIN brute b USING (query_id, neighbor_id) GROUP BY 1, 2),
           | per AS (SELECT n.recall_target, n.np, q.query_id,
           |     coalesce(h.hits, 0)::double / 5 AS recall
           |   FROM (SELECT DISTINCT query_id FROM brute) q CROSS JOIN nps n
           |   LEFT JOIN hits h ON h.query_id = q.query_id AND h.recall_target = n.recall_target)
           |SELECT recall_target, CAST(np AS BIGINT) AS nprobe,
           |  round(avg(recall), 4) + 0 AS mean_recall
           |FROM per GROUP BY 1, 2""".stripMargin
      },

      // index-health twin: the standard assignment CTEs + one count
      // aggregate and a global-total share
      "e_cell_balance" ->
        (s"""WITH cbplan AS (SELECT ${Similarity.ivfPlanSqlCase(
               "(SELECT count(*) FROM embeddings)")} AS nlist),
           | cents AS (SELECT vec_id AS centroid_id, embedding AS cent
           |   FROM embeddings WHERE vec_id < (SELECT nlist FROM cbplan)),
           | cscored AS (SELECT a.vec_id, c.centroid_id,
           |   list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * c.cent[i]::double)) /
           |   (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * a.embedding[i]::double))) *
           |    sqrt(list_sum(list_transform(generate_series(1, len(c.cent)), i -> c.cent[i]::double * c.cent[i]::double)))) AS sim
           |   FROM embeddings a, cents c),
           | assign AS (SELECT vec_id, centroid_id FROM (
           |   SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rank FROM cscored) r
           |   WHERE rank = 1),
           | counts AS (SELECT centroid_id, count(*)::bigint AS n_vecs
           |   FROM assign GROUP BY 1)
           |SELECT centroid_id, n_vecs,
           |  round(n_vecs::double / (SELECT sum(n_vecs) FROM counts), 4) + 0 AS share
           |FROM counts""".stripMargin),

      "e_pq_search" ->
        ("""WITH subs AS (
          |  SELECT vec_id, s.sub, embedding[s.sub*8+1 : s.sub*8+8] AS semb
          |  FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS sub) s),
          |cb AS (SELECT sub, vec_id AS cid, semb AS cent FROM subs WHERE vec_id < 8),
          |enc AS (
          |  SELECT vec_id AS neighbor_id, sub, cid AS code FROM (
          |    SELECT v.vec_id, v.sub, c.cid,
          |      row_number() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
          |        list_sum(list_transform(generate_series(1, 8), i -> (v.semb[i]::double - c.cent[i]::double) * (v.semb[i]::double - c.cent[i]::double))) ASC,
          |        c.cid ASC) AS rk
          |    FROM subs v JOIN cb c ON c.sub = v.sub) r
          |  WHERE rk = 1),
          |lut AS (
          |  SELECT v.vec_id AS query_id, v.sub, c.cid AS code,
          |    list_sum(list_transform(generate_series(1, 8), i -> (v.semb[i]::double - c.cent[i]::double) * (v.semb[i]::double - c.cent[i]::double))) AS pd2
          |  FROM subs v JOIN cb c ON c.sub = v.sub WHERE v.vec_id < 5),
          |scored AS (
          |  SELECT l.query_id, e.neighbor_id, list_sum(list(l.pd2 ORDER BY l.sub)) AS d2
          |  FROM enc e JOIN lut l ON l.sub = e.sub AND l.code = e.code
          |  WHERE l.query_id <> e.neighbor_id
          |  GROUP BY 1, 2),
          |ranked AS (SELECT query_id, neighbor_id, d2,
          |  row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rank FROM scored)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(d2, 4) + 0 AS d2
          |FROM ranked WHERE rank <= 5""".stripMargin),

      "e_ivfpq_search" ->
        (s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cent FROM embeddings WHERE vec_id < 8),
           | cscored AS (SELECT a.vec_id, c.centroid_id,
           |   list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * c.cent[i]::double)) /
           |   (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)), i -> a.embedding[i]::double * a.embedding[i]::double))) *
           |    sqrt(list_sum(list_transform(generate_series(1, len(c.cent)), i -> c.cent[i]::double * c.cent[i]::double)))) AS sim
           |   FROM embeddings a, cents c),
           | assign AS (SELECT vec_id AS neighbor_id, centroid_id FROM (
           |   SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rank FROM cscored) r
           |   WHERE rank = 1),
           | probes AS (SELECT vec_id AS query_id, centroid_id FROM (
           |   SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rank FROM cscored WHERE vec_id < 5) r
           |   WHERE rank <= 3),
           | cand AS (SELECT p.query_id, s.neighbor_id FROM probes p
           |   JOIN assign s ON s.centroid_id = p.centroid_id AND p.query_id <> s.neighbor_id),
           | subs AS (
           |  SELECT vec_id, s.sub, embedding[s.sub*8+1 : s.sub*8+8] AS semb
           |  FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS sub) s),
           | cb AS (SELECT sub, vec_id AS cid, semb AS cent FROM subs WHERE vec_id < 8),
           | enc AS (
           |  SELECT vec_id AS neighbor_id, sub, cid AS code FROM (
           |    SELECT v.vec_id, v.sub, c.cid,
           |      row_number() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
           |        list_sum(list_transform(generate_series(1, 8), i -> (v.semb[i]::double - c.cent[i]::double) * (v.semb[i]::double - c.cent[i]::double))) ASC,
           |        c.cid ASC) AS rk
           |    FROM subs v JOIN cb c ON c.sub = v.sub) r
           |  WHERE rk = 1),
           | lut AS (
           |  SELECT v.vec_id AS query_id, v.sub, c.cid AS code,
           |    list_sum(list_transform(generate_series(1, 8), i -> (v.semb[i]::double - c.cent[i]::double) * (v.semb[i]::double - c.cent[i]::double))) AS pd2
           |  FROM subs v JOIN cb c ON c.sub = v.sub WHERE v.vec_id < 5),
           | scored AS (
           |  SELECT l.query_id, e.neighbor_id, list_sum(list(l.pd2 ORDER BY l.sub)) AS d2
           |  FROM cand x
           |  JOIN enc e ON e.neighbor_id = x.neighbor_id
           |  JOIN lut l ON l.query_id = x.query_id AND l.sub = e.sub AND l.code = e.code
           |  GROUP BY 1, 2),
           | ranked AS (SELECT query_id, neighbor_id, d2,
           |  row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rank FROM scored)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(d2, 4) + 0 AS d2
           |FROM ranked WHERE rank <= 5""".stripMargin),

      "e_decon_sem" ->
        (s"""WITH ev AS (SELECT embedding FROM embeddings WHERE vec_id % 97 = 0),
           |cont AS (SELECT DISTINCT a.vec_id FROM embeddings a
           |  JOIN ev b ON $cosine >= 0.95)
           |SELECT a.vec_id, a.label::bigint AS label FROM embeddings a
           |WHERE a.vec_id NOT IN (SELECT vec_id FROM cont)""".stripMargin),

      "e_neardup" ->
        (s"""WITH keyed AS (SELECT vec_id, embedding,
           |   list_sum(list_transform(generate_series(1, 8), i -> CASE WHEN embedding[i] >= 0 THEN CAST(1 AS BIGINT) << (i-1) ELSE 0 END)) AS bucket
           | FROM embeddings)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cosine, 4) + 0 AS sim
           |FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
           |WHERE $cosine >= 0.3""".stripMargin),

      "d_cluster_dedup" ->
        (s"""WITH RECURSIVE
           |cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM ($minhashBands) a
           |  JOIN ($minhashBands) b ON a.band = b.band AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |sets AS (SELECT doc_id, $sh3 AS sh FROM documents),
           |verified AS (SELECT p.id_a, p.id_b FROM cands p
           |  JOIN sets sa ON sa.doc_id = p.id_a JOIN sets sb ON sb.doc_id = p.id_b
           |  WHERE len(list_intersect(sa.sh, sb.sh))::double / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM verified UNION SELECT id_b, id_a FROM verified),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, label) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
           |SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id""".stripMargin),

      // the d_cluster_dedup CC CTE + the d_quality quality formula,
      // survivor = best quality (rounded grid, doc_id tiebreak) per
      // cluster; unclustered docs survive as their own group
      "d_cluster_keep_best" ->
        (s"""WITH RECURSIVE
           |cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM ($minhashBands) a
           |  JOIN ($minhashBands) b ON a.band = b.band AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |sets AS (SELECT doc_id, $sh3 AS sh FROM documents),
           |verified AS (SELECT p.id_a, p.id_b FROM cands p
           |  JOIN sets sa ON sa.doc_id = p.id_a JOIN sets sb ON sb.doc_id = p.id_b
           |  WHERE len(list_intersect(sa.sh, sb.sh))::double / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM verified UNION SELECT id_b, id_a FROM verified),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, label) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
           |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
           |scored AS (SELECT d.doc_id,
           |    round(0.5 * least(len(string_split_regex(trim(text), '\\s+'))::double / 64.0, 1.0) + 0.5 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::double / greatest(length(text)::double, 1.0)), 4) AS quality,
           |    coalesce(cl.cluster_id, d.doc_id) AS grp
           |  FROM documents d LEFT JOIN cl USING (doc_id))
           |SELECT doc_id, CAST(grp AS BIGINT) AS cluster_id, quality FROM (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY grp ORDER BY quality DESC, doc_id ASC) AS rk
           |  FROM scored) t
           |WHERE rk = 1""".stripMargin),

      "d_split_leakage" ->
        (s"""WITH RECURSIVE
           |cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM ($minhashBands) a
           |  JOIN ($minhashBands) b ON a.band = b.band AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |sets AS (SELECT doc_id, $sh3 AS sh FROM documents),
           |verified AS (SELECT p.id_a, p.id_b FROM cands p
           |  JOIN sets sa ON sa.doc_id = p.id_a JOIN sets sb ON sb.doc_id = p.id_b
           |  WHERE len(list_intersect(sa.sh, sb.sh))::double / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM verified UNION SELECT id_b, id_a FROM verified),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, label) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
           |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
           |keyed AS (
           |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS grp
           |  FROM documents d LEFT JOIN cl c ON c.doc_id = d.doc_id),
           |u AS (SELECT doc_id, grp,
           |  ('0x' || substr(md5(grp::varchar || '|split'), 1, 15))::bigint / 1152921504606846976.0 AS u
           |  FROM keyed)
           |SELECT doc_id, grp,
           |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
           |FROM u""".stripMargin),

      "d_split_audit" ->
        (s"""WITH RECURSIVE
           |cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM ($minhashBands) a
           |  JOIN ($minhashBands) b ON a.band = b.band AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |sets AS (SELECT doc_id, $sh3 AS sh FROM documents),
           |verified AS (SELECT p.id_a, p.id_b FROM cands p
           |  JOIN sets sa ON sa.doc_id = p.id_a JOIN sets sb ON sb.doc_id = p.id_b
           |  WHERE len(list_intersect(sa.sh, sb.sh))::double / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM verified UNION SELECT id_b, id_a FROM verified),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, label) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
           |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
           |lab AS (
           |  SELECT d.doc_id,
           |    CASE WHEN ui < 0.8 THEN 'train' WHEN ui < 0.9 THEN 'val' ELSE 'test' END AS sp_id,
           |    CASE WHEN ug < 0.8 THEN 'train' WHEN ug < 0.9 THEN 'val' ELSE 'test' END AS sp_grp
           |  FROM (
           |    SELECT d.doc_id,
           |      ('0x' || substr(md5(d.doc_id::varchar || '|split'), 1, 15))::bigint / 1152921504606846976.0 AS ui,
           |      ('0x' || substr(md5(coalesce(c.cluster_id, d.doc_id)::varchar || '|split'), 1, 15))::bigint / 1152921504606846976.0 AS ug
           |    FROM documents d LEFT JOIN cl c ON c.doc_id = d.doc_id) d),
           |agg AS (
           |  SELECT count(*)::bigint AS np,
           |    CAST(sum(CASE WHEN la.sp_id <> lb.sp_id THEN 1 ELSE 0 END) AS BIGINT) AS s_id,
           |    CAST(sum(CASE WHEN la.sp_grp <> lb.sp_grp THEN 1 ELSE 0 END) AS BIGINT) AS s_grp
           |  FROM verified v
           |  JOIN lab la ON la.doc_id = v.id_a JOIN lab lb ON lb.doc_id = v.id_b)
           |SELECT 'id_keyed' AS policy, np AS n_pairs, s_id AS n_straddle FROM agg
           |UNION ALL
           |SELECT 'group_keyed', np, s_grp FROM agg""".stripMargin),

      "p_labels" ->
        ("""WITH series AS (SELECT DISTINCT 'events?type=' || event_type || '&user=' || user_id AS path, event_type, user_id FROM events)
          |SELECT path, unnest(['__name__', 'type', 'user']) AS name,
          |  unnest(['events', event_type::varchar, user_id::varchar]) AS value FROM series""".stripMargin),

      "p_query_range" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=click&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400)
           |SELECT path, t, arg_max(value, time) AS value FROM win GROUP BY 1, 2""".stripMargin),

      // plain-from-tagged twin: the plain points table (dotted paths,
      // event_id versions) re-labeled into the synthetic tagged form
      // — name 'clicks' (rename), labels etype/metric/root sorted by
      // name, node5 beyond the 3-segment depth dropped — then the
      // same instant-selector grid as p_query_range
      "p_plain_from_tagged" ->
        (s"""WITH dedup AS (
           |  SELECT 'clicks?etype=click&metric=events.click.user' || user_id
           |           || '&root=events' AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400)
           |SELECT path, t, arg_max(value, time) AS value FROM win GROUP BY 1, 2""".stripMargin),

      "p_query_range_avg" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=click&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, d.value FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400)
           |SELECT path, t, round(avg(value), 6) AS value FROM win GROUP BY 1, 2""".stripMargin),

      "p_query_range_sum_by" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=' || event_type || '&user=' || user_id AS path,
           |         event_type,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, d.event_type, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT path, event_type, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2, 3)
           |SELECT '?type=' || event_type AS path, t, round(sum(value), 6) AS value
           |FROM inst GROUP BY 1, 2""".stripMargin),

      "p_query_topk" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=click&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT path, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2)
           |SELECT path, t, value FROM (
           |  SELECT path, t, value,
           |         row_number() OVER (PARTITION BY t ORDER BY value DESC, path) AS rk
           |  FROM inst) WHERE rk <= 3""".stripMargin),

      "p_query_cmp" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=click&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT path, t, arg_max(value, time) AS value FROM win GROUP BY 1, 2)
           |SELECT path, t, value FROM inst WHERE value > 50""".stripMargin),

      "p_query_offset" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=click&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t - 86400 AND d.time > g.t - 86400 - 86400)
           |SELECT path, t, arg_max(value, time) AS value FROM win GROUP BY 1, 2""".stripMargin),

      "p_query_binop" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=' || event_type || '&user=' || user_id AS path,
           |         event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3, 4),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, d.event_type, d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT path, event_type, user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2, 3, 4),
           |clicks AS (SELECT '?user=' || user_id AS path, t, sum(value) AS v
           |  FROM inst WHERE event_type = 'click' GROUP BY 1, 2),
           |total AS (SELECT '?user=' || user_id AS path, t, sum(value) AS v
           |  FROM inst GROUP BY 1, 2)
           |SELECT c.path, c.t,
           |  CASE WHEN tt.v <> 0 THEN round(c.v / tt.v, 6) + 0
           |       WHEN c.v > 0 THEN 'infinity'::double
           |       WHEN c.v < 0 THEN '-infinity'::double
           |       ELSE 'nan'::double END AS value
           |FROM clicks c JOIN total tt ON c.path = tt.path AND c.t = tt.t""".stripMargin),

      "p_query_quantile" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=' || event_type || '&user=' || user_id AS path,
           |         event_type,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, d.event_type, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT path, event_type, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2, 3)
           |SELECT '?type=' || event_type AS path, t,
           |       round(quantile_cont(value, 0.5), 6) + 0 AS value
           |FROM inst GROUP BY 1, 2""".stripMargin),

      "p_query_paren" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.event_type, d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT event_type, user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2, 3)
           |SELECT '?type=click&user=' || user_id AS path, t,
           |       (value + value) * 2 AS value
           |FROM inst WHERE event_type = 'click'""".stripMargin),

      "p_query_setop" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=click&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT path, t, arg_max(value, time) AS value FROM win GROUP BY 1, 2)
           |SELECT path, t, value FROM inst WHERE NOT value > 50""".stripMargin),

      "p_query_or" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type IN ('click', 'view')
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.event_type, d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT event_type, user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2, 3)
           |SELECT 'events?type=' || event_type || '&user=' || user_id AS path, t, value
           |FROM inst
           |WHERE (event_type = 'click' AND value > 50)
           |   OR (event_type = 'view' AND value > 20)""".stripMargin),

      "p_query_bool" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=click&user=' || user_id AS path, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT path, user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2, 3)
           |SELECT '?type=click&user=' || user_id AS path, t,
           |       CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END AS value
           |FROM inst""".stripMargin),

      "p_query_groupleft" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.event_type, d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT event_type, user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2, 3),
           |sums AS (SELECT event_type, t, sum(value) AS s FROM inst GROUP BY 1, 2)
           |SELECT '?type=' || i.event_type || '&user=' || i.user_id AS path, i.t,
           |       round(i.value / s.s, 6) + 0 AS value
           |FROM inst i JOIN sums s ON i.event_type = s.event_type AND i.t = s.t""".stripMargin),

      "p_query_histq" ->
        (s"""WITH grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |ev AS (SELECT event_type, epoch_us(ts)//1000000 AS time, value FROM events),
           |win AS (
           |  SELECT e.event_type, g.t, e.value FROM ev e
           |  JOIN grid g ON e.time <= g.t AND e.time > g.t - 86400),
           |hist AS (
           |  SELECT event_type, t, u.le, count(*)::double AS cnt
           |  FROM win, unnest([25.0, 50.0, 100.0, 'infinity'::double]) AS u(le)
           |  WHERE value <= u.le
           |  GROUP BY 1, 2, 3),
           |sel AS (
           |  SELECT event_type, t, max(cnt) AS obs, count(*) AS nb,
           |         max(CASE WHEN NOT isinf(le) THEN le END) AS hi_fin,
           |         min(le) AS lo_le
           |  FROM hist GROUP BY 1, 2),
           |pick AS (
           |  SELECT h.event_type, h.t,
           |         any_value(s.obs) AS obs, any_value(s.nb) AS nb,
           |         any_value(s.hi_fin) AS hi_fin, any_value(s.lo_le) AS lo_le,
           |         0.5 * any_value(s.obs) AS rank,
           |         min(h.le) FILTER (WHERE h.cnt >= 0.5 * s.obs) AS b_end,
           |         min(h.cnt) FILTER (WHERE h.cnt >= 0.5 * s.obs) AS b_cnt,
           |         coalesce(max(h.le) FILTER (WHERE h.cnt < 0.5 * s.obs), 0) AS b_start,
           |         coalesce(max(h.cnt) FILTER (WHERE h.cnt < 0.5 * s.obs), 0) AS prev_cnt
           |  FROM hist h JOIN sel s USING (event_type, t)
           |  GROUP BY 1, 2)
           |SELECT '?type=' || event_type AS path, t,
           |  round(CASE
           |    WHEN isinf(b_end) THEN hi_fin
           |    WHEN b_end = lo_le AND b_end <= 0 THEN b_end
           |    ELSE b_start + (b_end - b_start) * (rank - prev_cnt) / (b_cnt - prev_cnt)
           |  END, 6) + 0 AS value
           |FROM pick WHERE nb >= 2 AND obs > 0""".stripMargin),

      "p_remote_read" ->
        (s"""SELECT 'events?type=click&user=' || user_id AS path,
           |       epoch_us(ts)//1000000 AS time,
           |       arg_max(value, event_id) AS value
           |FROM events
           |WHERE event_type = 'click'
           |  AND epoch_us(ts)//1000000 BETWEEN $WFrom AND $WFrom + 30*86400
           |GROUP BY 1, 2""".stripMargin),

      "p_query_without" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.event_type, d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT event_type, user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2, 3)
           |SELECT '?type=' || event_type AS path, t,
           |       round(sum(value), 6) + 0 AS value
           |FROM inst GROUP BY 1, 2""".stripMargin),

      "p_query_math" ->
        (s"""WITH dedup AS (
           |  SELECT user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2)
           |SELECT '?type=click&user=' || user_id AS path, t,
           |       least(greatest(value, 40), 60) AS value
           |FROM inst""".stripMargin),

      "p_query_delta" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=' || event_type || '&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |lst AS (
           |  SELECT path, t,
           |    min(time) AS ft, max(time) AS lt,
           |    arg_min(value, time) AS fv, arg_max(value, time) AS lv,
           |    count(*)::bigint AS cnt
           |  FROM win GROUP BY 1, 2 HAVING count(*) >= 2),
           |calc AS (SELECT path, t, lv - fv AS inc,
           |    (lt::double - ft::double) AS sampled,
           |    (lt::double - ft::double) / (cnt - 1)::double AS avgdur,
           |    ft::double - (t::double - 86400) AS dstart0,
           |    t::double - lt::double AS dend0
           |  FROM lst),
           |fin AS (SELECT path, t, inc, sampled,
           |    CASE WHEN dstart0 >= avgdur * 1.1::double
           |         THEN avgdur / 2 ELSE dstart0 END AS dstart,
           |    CASE WHEN dend0 >= avgdur * 1.1::double
           |         THEN avgdur / 2 ELSE dend0 END AS dend
           |  FROM calc)
           |SELECT path, t,
           |  round(inc * ((sampled + dstart + dend) / sampled), 6) + 0 AS value
           |FROM fin""".stripMargin),

      "p_query_xrate" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=view&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'view'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |lst AS (
           |  SELECT path, t, list(value ORDER BY time) AS vs,
           |    min(time) AS ft, max(time) AS lt,
           |    arg_min(value, time) AS fv, arg_max(value, time) AS lv,
           |    count(*)::bigint AS cnt
           |  FROM win GROUP BY 1, 2 HAVING count(*) >= 2),
           |res AS (SELECT *, coalesce(list_sum(list_transform(range(1, len(vs)),
           |    i -> CASE WHEN vs[i+1] < vs[i] THEN vs[i] ELSE 0.0::double END)),
           |    0.0::double) AS resets FROM lst),
           |calc AS (SELECT path, t, lv - fv + resets AS inc,
           |    (lt::double - ft::double) AS sampled,
           |    (lt::double - ft::double) / (cnt - 1)::double AS avgdur,
           |    ft::double - (t::double - 86400) AS dstart0,
           |    t::double - lt::double AS dend0, fv
           |  FROM res),
           |st AS (SELECT path, t, inc, sampled, avgdur, dend0, fv,
           |    CASE WHEN dstart0 >= avgdur * 1.1::double
           |         THEN avgdur / 2 ELSE dstart0 END AS dstartc
           |  FROM calc),
           |fin AS (SELECT path, t, inc, sampled,
           |    CASE WHEN inc > 0 AND fv >= 0 AND sampled * (fv / inc) < dstartc
           |         THEN sampled * (fv / inc) ELSE dstartc END AS dstart,
           |    CASE WHEN dend0 >= avgdur * 1.1::double
           |         THEN avgdur / 2 ELSE dend0 END AS dend
           |  FROM st)
           |SELECT path, t,
           |  round(inc * ((sampled + dstart + dend) / sampled) / 86400::double, 6) + 0 AS value
           |FROM fin""".stripMargin),

      "p_query_rate_extrap" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=click&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |lst AS (
           |  SELECT path, t, list(value ORDER BY time) AS vs,
           |    min(time) AS ft, max(time) AS lt,
           |    arg_min(value, time) AS fv, arg_max(value, time) AS lv,
           |    count(*)::bigint AS cnt
           |  FROM win GROUP BY 1, 2 HAVING count(*) >= 2),
           |res AS (SELECT *, coalesce(list_sum(list_transform(range(1, len(vs)),
           |    i -> CASE WHEN vs[i+1] < vs[i] THEN vs[i] ELSE 0.0::double END)),
           |    0.0::double) AS resets FROM lst),
           |calc AS (SELECT path, t, lv - fv + resets AS inc,
           |    (lt::double - ft::double) AS sampled,
           |    (lt::double - ft::double) / (cnt - 1)::double AS avgdur,
           |    ft::double - (t::double - 86400) AS dstart0,
           |    t::double - lt::double AS dend0, fv
           |  FROM res),
           |st AS (SELECT path, t, inc, sampled, avgdur, dend0, fv,
           |    CASE WHEN dstart0 >= avgdur * 1.1::double
           |         THEN avgdur / 2 ELSE dstart0 END AS dstartc
           |  FROM calc),
           |fin AS (SELECT path, t, inc, sampled,
           |    CASE WHEN inc > 0 AND fv >= 0 AND sampled * (fv / inc) < dstartc
           |         THEN sampled * (fv / inc) ELSE dstartc END AS dstart,
           |    CASE WHEN dend0 >= avgdur * 1.1::double
           |         THEN avgdur / 2 ELSE dend0 END AS dend
           |  FROM st)
           |SELECT path, t,
           |  round(inc * ((sampled + dstart + dend) / sampled) / 86400::double, 6) + 0 AS value
           |FROM fin""".stripMargin),

      "p_query_irate" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=' || event_type || '&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |ranked AS (
           |  SELECT path, t, time, value,
           |         row_number() OVER (PARTITION BY path, t ORDER BY time DESC) AS rn
           |  FROM win)
           |SELECT l.path, l.t,
           |       round(CASE WHEN l.value >= p.value THEN l.value - p.value
           |                  ELSE l.value END / (l.time - p.time), 6) + 0 AS value
           |FROM (SELECT * FROM ranked WHERE rn = 1) l
           |JOIN (SELECT * FROM ranked WHERE rn = 2) p USING (path, t)""".stripMargin),

      "p_query_deriv" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=' || event_type || '&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, (d.time - g.t)::double AS tc, d.value FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |sums AS (
           |  SELECT path, t, count(*)::double AS cnt, sum(tc) AS st, sum(value) AS sv,
           |         sum(tc * value) AS stv, sum(tc * tc) AS st2
           |  FROM win GROUP BY 1, 2 HAVING count(*) >= 2)
           |SELECT path, t,
           |       round((cnt*stv - st*sv) / (cnt*st2 - st*st), 6) + 0 AS value
           |FROM sums WHERE cnt*st2 - st*st != 0""".stripMargin),

      "p_query_predict" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=' || event_type || '&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, (d.time - g.t)::double AS tc, d.value FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |sums AS (
           |  SELECT path, t, count(*)::double AS cnt, sum(tc) AS st, sum(value) AS sv,
           |         sum(tc * value) AS stv, sum(tc * tc) AS st2
           |  FROM win GROUP BY 1, 2 HAVING count(*) >= 2),
           |fit AS (
           |  SELECT path, t, sv, st, cnt,
           |         CASE WHEN cnt*st2 - st*st != 0
           |              THEN (cnt*stv - st*sv) / (cnt*st2 - st*st) END AS slope
           |  FROM sums)
           |SELECT path, t,
           |       round((sv - slope*st)/cnt + slope*3600, 6) + 0 AS value
           |FROM fit WHERE slope IS NOT NULL""".stripMargin),

      "p_query_quantile_ot" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=' || event_type || '&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, d.value FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400)
           |SELECT path, t,
           |       round(quantile_cont(value, 0.9), 6) + 0 AS value
           |FROM win GROUP BY 1, 2""".stripMargin),

      "p_query_changes" ->
        (s"""WITH dedup AS (
           |  SELECT 'events?type=' || event_type || '&user=' || user_id AS path,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.path, g.t, d.value, d.time,
           |         lag(d.value) OVER (PARTITION BY d.path, g.t ORDER BY d.time) AS pv
           |  FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400)
           |SELECT path, t,
           |       sum(CASE WHEN pv IS NOT NULL AND value != pv
           |                THEN 1.0 ELSE 0.0 END) AS value
           |FROM win GROUP BY 1, 2""".stripMargin),

      "p_query_absent" ->
        (s"""SELECT '?type=nosuch' AS path, $WFrom + 21600*n AS t, 1.0 AS value
           |FROM generate_series(0, 120) g(n)""".stripMargin),

      "p_query_label_replace" ->
        (s"""WITH dedup AS (
           |  SELECT user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2)
           |SELECT 'events?app=x-click&type=click&user=' || user_id AS path, t, value
           |FROM inst""".stripMargin),

      "p_query_hour" ->
        (s"""WITH dedup AS (
           |  SELECT user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2)
           |SELECT 'events?type=click&user=' || user_id AS path, t, value
           |FROM inst WHERE value > 50 AND ((t // 3600) % 24) >= 6""".stripMargin),

      "p_query_datefns" ->
        (s"""WITH dedup AS (
           |  SELECT user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2)
           |SELECT 'events?type=click&user=' || user_id AS path, t, value
           |FROM inst WHERE value > 50
           |  AND day(last_day(make_timestamp(t * 1000000))) = 31""".stripMargin),

      "p_query_date_vec" ->
        (s"""WITH dedup AS (
           |  SELECT user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.user_id, g.t, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT user_id, t, max(time) AS stamp
           |  FROM win GROUP BY 1, 2)
           |SELECT '?type=click&user=' || user_id AS path, t,
           |       dayofyear(make_timestamp(stamp * 1000000))::double AS value
           |FROM inst""".stripMargin),

      // shared by p_query_holt and p_query_dexp — upstream renamed
      // holt_winters to double_exponential_smoothing; both names must
      // produce the identical smoothing
      "p_query_holt" -> promHoltSql,

      "p_query_dexp" -> promHoltSql,

      "p_query_sort_by_label" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |inst AS (
           |  SELECT event_type,
           |         'events?type=' || event_type || '&user=' || user_id AS path,
           |         arg_max(value, time) AS value
           |  FROM dedup
           |  WHERE time <= ${WFrom + 7L * 86400L}
           |    AND time > ${WFrom + 7L * 86400L} - 86400
           |  GROUP BY 1, 2)
           |SELECT CAST(row_number() OVER (ORDER BY event_type DESC, path ASC) AS BIGINT) AS rank,
           |       path, CAST(${WFrom + 7L * 86400L} AS BIGINT) AS t, value
           |FROM inst""".stripMargin),

      "p_query_time" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.event_type, d.user_id, g.t, d.value FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400)
           |SELECT '?type=' || event_type || '&user=' || user_id AS path, t,
           |       (t - max(value))::double AS value
           |FROM win GROUP BY 1, 2""".stripMargin),

      "p_query_at" ->
        (s"""WITH dedup AS (
           |  SELECT user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |pinned AS (
           |  SELECT 'events?type=click&user=' || user_id AS path,
           |         arg_max(value, time) AS value
           |  FROM dedup
           |  WHERE time <= ${WFrom + 7L * 86400L}
           |    AND time > ${WFrom + 7L * 86400L} - 86400
           |  GROUP BY 1)
           |SELECT path, $WFrom + 21600*n AS t, value
           |FROM pinned, generate_series(0, 120) g(n)""".stripMargin),

      "p_query_limitk" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.event_type, d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (
           |  SELECT 'events?type=' || event_type || '&user=' || user_id AS path,
           |         t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2)
           |SELECT path, t, value FROM (
           |  SELECT path, t, value,
           |         row_number() OVER (PARTITION BY t ORDER BY path ASC) AS rk
           |  FROM inst) r
           |WHERE rk <= 3""".stripMargin),

      "p_query_limit_ratio" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.event_type, d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (
           |  SELECT 'events?type=' || event_type || '&user=' || user_id AS path,
           |         t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2)
           |SELECT path, t, value FROM inst
           |WHERE ('0x' || substr(md5(path), 1, 15))::bigint
           |        / 1152921504606846976.0 < 0.4""".stripMargin),

      "p_query_topk_by" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.event_type, d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (
           |  SELECT event_type,
           |         'events?type=' || event_type || '&user=' || user_id AS path,
           |         t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2, 3)
           |SELECT path, t, value FROM (
           |  SELECT path, t, value,
           |         row_number() OVER (PARTITION BY t, event_type
           |                            ORDER BY value DESC, path ASC) AS rk
           |  FROM inst) r
           |WHERE rk <= 1""".stripMargin),

      "p_query_absent_ot" ->
        (s"""SELECT '?type=nosuch' AS path, $WFrom + 21600*n AS t,
           |       1.0::double AS value
           |FROM generate_series(0, 120) g(n)""".stripMargin),

      "p_query_mad" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.event_type, d.user_id, g.t, d.value FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400)
           |SELECT 'events?type=' || event_type || '&user=' || user_id AS path, t,
           |       round(mad(value), 6) + 0 AS value
           |FROM win GROUP BY 1, 2""".stripMargin),

      "p_query_first" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.event_type, d.user_id, g.t, d.time, d.value FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400)
           |SELECT 'events?type=' || event_type || '&user=' || user_id AS path, t,
           |       round(arg_min(value, time), 6) + 0 AS value
           |FROM win GROUP BY 1, 2""".stripMargin),

      "p_query_atan2" ->
        (s"""WITH dedup AS (
           |  SELECT user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2)
           |SELECT '?type=click&user=' || user_id AS path, t,
           |       round(atan2(value, 100), 4) + 0 AS value
           |FROM inst""".stripMargin),

      "p_query_timestamp" ->
        (s"""WITH dedup AS (
           |  SELECT user_id,
           |         epoch_us(ts)//1000000 AS time
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.user_id, g.t, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400)
           |SELECT '?type=click&user=' || user_id AS path, t,
           |       max(time)::double AS value
           |FROM win GROUP BY 1, 2""".stripMargin),

      "p_query_scalar" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.event_type, d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT event_type, user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2, 3),
           |tot AS (SELECT t, sum(value) AS sv FROM inst GROUP BY t)
           |SELECT '?type=click&user=' || i.user_id AS path, i.t,
           |       round(i.value / s.sv, 6) + 0 AS value
           |FROM inst i JOIN tot s ON i.t = s.t
           |WHERE i.event_type = 'click'""".stripMargin),

      "p_query_scalar_arith" ->
        (s"""SELECT '' AS path, $WFrom + 21600*n AS t,
           |       (2*pi() + ($WFrom + 21600*n)/1000.0)::double AS value
           |FROM generate_series(0, 120) g(n)""".stripMargin),

      "p_query_trig" ->
        (s"""WITH dedup AS (
           |  SELECT user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2)
           |SELECT '?type=click&user=' || user_id AS path, t,
           |       round(degrees(atan(value / 100)), 4) + 0 AS value
           |FROM inst""".stripMargin),

      "p_query_vector" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.event_type, d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT event_type, user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2, 3),
           |s AS (SELECT t, sum(value) AS value FROM inst GROUP BY 1)
           |SELECT '' AS path, g.t, round(coalesce(s.value, 0), 6) + 0 AS value
           |FROM grid g LEFT JOIN s ON s.t = g.t""".stripMargin),

      "p_query_subquery" ->
        (s"""WITH dedup AS (
           |  SELECT event_type, user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events
           |  GROUP BY 1, 2, 3),
           |igrid AS (SELECT ($WFrom - 64800) + 21600*j AS it
           |          FROM generate_series(0, 123) g(j)),
           |iwin AS (
           |  SELECT d.event_type, d.user_id, i.it, d.value, d.time FROM dedup d
           |  JOIN igrid i ON d.time <= i.it AND d.time > i.it - 86400),
           |iinst AS (SELECT event_type, user_id, it, arg_max(value, time) AS value
           |  FROM iwin GROUP BY 1, 2, 3),
           |isum AS (SELECT it, sum(value) AS value FROM iinst GROUP BY 1),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n))
           |SELECT '' AS path, g.t, round(max(s.value), 6) + 0 AS value
           |FROM grid g JOIN isum s ON s.it <= g.t AND s.it > g.t - 86400
           |GROUP BY 2""".stripMargin),

      "p_query_count_values" ->
        (s"""WITH dedup AS (
           |  SELECT user_id,
           |         epoch_us(ts)//1000000 AS time,
           |         arg_max(value, event_id) AS value
           |  FROM events WHERE event_type = 'click'
           |  GROUP BY 1, 2),
           |grid AS (SELECT $WFrom + 21600*n AS t FROM generate_series(0, 120) g(n)),
           |win AS (
           |  SELECT d.user_id, g.t, d.value, d.time FROM dedup d
           |  JOIN grid g ON d.time <= g.t AND d.time > g.t - 86400),
           |inst AS (SELECT user_id, t, arg_max(value, time) AS value
           |  FROM win GROUP BY 1, 2)
           |SELECT '?v=' || CAST(CAST(floor(value + 0.5) AS BIGINT) AS VARCHAR) AS path,
           |       t, count(*)::double AS value
           |FROM inst GROUP BY 1, 2""".stripMargin),

      "m_features" ->
        ("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
          | CAST(doc_id % 640 + 1 AS BIGINT) AS width, CAST(doc_id % 480 + 1 AS BIGINT) AS height,
          | round(list_sum(list_transform(generate_series(1, length(text), 8), i -> ascii(substr(text, i, 1)) / 255.0)), 4) AS f0
          |FROM documents""".stripMargin),

      "m_frames" ->
        ("""SELECT doc_id, CAST(f AS BIGINT) AS frame_no,
          | CAST(least(64, length(text) - f * 64) AS BIGINT) AS frame_bytes
          |FROM (SELECT doc_id, unnest(generate_series(0, (length(text) - 1) // 64)) AS f, text FROM documents) t""".stripMargin),

      // the independent arithmetic twin of the AVI write→parse→decode
      // round trip: nFrames = 2 + id%4 (every 2nd sampled), dims
      // 8 + id%5 × 6 + id%4 — if the container writer, RIFF walker or
      // JPEG decode drops/garbles a frame, the hash gate fails
      "m_avi_frames" ->
        ("""SELECT doc_id, CAST(f AS BIGINT) AS frame_no,
          | CAST(8 + doc_id % 5 AS BIGINT) AS width,
          | CAST(6 + doc_id % 4 AS BIGINT) AS height
          |FROM (SELECT doc_id, unnest(generate_series(0, CAST(1 + doc_id % 4 AS INT))) AS f
          |      FROM documents) t
          |WHERE f % 2 = 0""".stripMargin),

      // the full-decode twin of m_avi_frames: videoMotion decodes
      // EVERY frame, so n_frames = 2 + id%4 only if the container
      // writer, RIFF walker and JPEG decoder lost nothing. The lossy
      // luminance/motion VALUES are pinned in VideoCodecSpec (error
      // bounds vs the pre-encode gradients) — a lossy codec stream
      // has no arithmetic twin.
      "m_avi_motion" ->
        ("""SELECT doc_id, CAST(2 + doc_id % 4 AS BIGINT) AS n_frames
          |FROM documents""".stripMargin),

      // the analytic twin of videoMotionBanded: per-frame mean
      // luminance of the generator gradient from (doc_id, text)
      // alone — integer ramp sums, the frame's seed byte via the
      // m_png_features hex(encode(text)) pattern, one double chain in
      // the identical operation order — banded on the 1/64 grid. The
      // error bands are 0 BY CONTRACT: Spark derives them from the
      // real JPEG round trip, so any frame the codec chain drops,
      // reorders or garbles beyond 0.01 mean-luminance breaks the
      // hash (and a dropped frame also breaks rows_match).
      "m_avi_motion_banded" ->
        ("""WITH d AS (
          |  SELECT doc_id, hex(encode(text)) AS hx,
          |         octet_length(encode(text)) AS L,
          |         CAST(8 + doc_id % 5 AS INT) AS w,
          |         CAST(6 + doc_id % 4 AS INT) AS h,
          |         CAST(2 + doc_id % 4 AS INT) AS nf
          |  FROM documents),
          |f AS (
          |  SELECT doc_id, w, h, f,
          |    CASE WHEN L > 0
          |      THEN (('0x' || substr(hx, 2*(f % L) + 1, 2))::int >> 1)
          |      ELSE 0 END AS base,
          |    list_sum(list_transform(generate_series(0, w - 1),
          |      x -> (x*127) // (w - 1))) AS sx,
          |    list_sum(list_transform(generate_series(0, h - 1),
          |      y -> (y*127) // (h - 1))) AS sy
          |  FROM d, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) t)
          |SELECT doc_id, CAST(f AS BIGINT) AS frame_no,
          |  CAST(floor(((0.299 * (base + sx / (w*1.0)) +
          |               0.587 * (base + sy / (h*1.0)) +
          |               0.114 * LEAST(base + 16*f, 255)) / 255.0) * 64)
          |    AS BIGINT) AS lum_band,
          |  CAST(0 AS BIGINT) AS lum_err_band,
          |  CAST(0 AS BIGINT) AS motion_err_band
          |FROM f""".stripMargin),

      // PNG is lossless, so the decoded pixels ARE the generator
      // formula and DuckDB can recompute the decoded-pixel features
      // (channel mean + luminance-bin share) from the text bytes
      // alone — pinning encode→decode→featurize under the hash gate.
      // seed indexing is UTF-8 BYTES (the generator does
      // text.getBytes("UTF-8")), so the oracle reads bytes from
      // hex(encode(text)) with an octet_length modulus — ascii(substr)
      // would index CODE POINTS and diverge on any non-ASCII text
      "m_png_features" ->
        ("""WITH px AS (
          |  SELECT doc_id, w, h,
          |    CASE WHEN L > 0
          |      THEN ('0x' || substr(hx, 2*(i % L) + 1, 2))::int ELSE 0 END AS r,
          |    CASE WHEN L > 0
          |      THEN ('0x' || substr(hx, 2*((i*31 + 7) % L) + 1, 2))::int ELSE 0 END AS g,
          |    (i*131) % 256 AS b
          |  FROM (SELECT doc_id, hex(encode(text)) AS hx,
          |               octet_length(encode(text)) AS L,
          |               CAST(4 + doc_id % 13 AS INT) AS w,
          |               CAST(4 + doc_id % 11 AS INT) AS h
          |        FROM documents) d,
          |       LATERAL (SELECT unnest(generate_series(0, w*h - 1)) AS i) t)
          |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
          |       round(avg(r/255.0), 4) AS mean_r,
          |       round(sum(CASE WHEN (0.299*r + 0.587*g + 0.114*b)/255.0 < 0.125 THEN 1 ELSE 0 END) / (w*h*1.0), 4) AS lum_bin0
          |FROM px GROUP BY doc_id, w, h""".stripMargin),

      // decode → own-kernel NN resize → re-encode → decode →
      // featurize, fully under the hash gate: the resize kernel's
      // pinned index formula (dst (x,y) samples src
      // (x·srcW/dstW, y·srcH/dstH), floor division) lets DuckDB
      // recompute the resized green channel from the text bytes —
      // byte-indexed like m_png_features (g byte of src pixel i is
      // text byte (i*31+7) mod L)
      "m_png_resize" ->
        ("""WITH px AS (
          |  SELECT doc_id,
          |    CASE WHEN L > 0
          |      THEN ('0x' || substr(hx, 2*((((y*h//3)*w + x*w//4)*31 + 7) % L) + 1, 2))::int
          |      ELSE 0 END AS g
          |  FROM (SELECT doc_id, hex(encode(text)) AS hx,
          |               octet_length(encode(text)) AS L,
          |               CAST(4 + doc_id % 13 AS INT) AS w,
          |               CAST(4 + doc_id % 11 AS INT) AS h
          |        FROM documents) d,
          |       LATERAL (SELECT unnest(generate_series(0, 3)) AS x) tx,
          |       LATERAL (SELECT unnest(generate_series(0, 2)) AS y) ty)
          |SELECT doc_id, CAST(4 AS BIGINT) AS width, CAST(3 AS BIGINT) AS height,
          |       round(avg(g/255.0), 4) AS mean_g
          |FROM px GROUP BY doc_id""".stripMargin),

      // WAV is lossless PCM, so the JDK encode→decode round trip is
      // SQL-reproducible end to end: DuckDB regenerates the truncated
      // sine samples (identical left-assoc double arithmetic; a 1-ulp
      // libm sin difference cannot flip a sign or a truncation here —
      // |sin| at the zero crossings is ≥ ~1e-9 in these arguments)
      // and recomputes RMS + sign-change count independently.
      // dHash twin: the 8×8 downsample grid is the pinned NN index
      // formula (cell (gx,gy) samples src ((gx·w)//8, (gy·h)//8));
      // luminance is the INTEGER 299r+587g+114b, so every gradient
      // compare is exact; bits sum as disjoint powers of two
      "m_dhash" ->
        (s"""WITH cell AS ($dhashCellsSql)
           |SELECT a.doc_id,
           |  CAST(sum(CASE WHEN b.lum > a.lum
           |    THEN (1::bigint << CAST(a.gy * 7 + a.gx AS INT)) ELSE 0 END) AS BIGINT) AS fp
           |FROM cell a JOIN cell b
           |  ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
           |WHERE a.gx < 7
           |GROUP BY 1""".stripMargin),

      "m_dhash_pairs" ->
        (s"""WITH cell AS ($dhashCellsSql),
           |fp AS (
           |  SELECT a.doc_id,
           |    CAST(sum(CASE WHEN b.lum > a.lum
           |      THEN (1::bigint << CAST(a.gy * 7 + a.gx AS INT)) ELSE 0 END) AS BIGINT) AS fp
           |  FROM cell a JOIN cell b
           |    ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
           |  WHERE a.gx < 7
           |  GROUP BY 1),
           |banded AS (SELECT doc_id, fp, i AS b, (fp >> CAST(14 * i AS INT)) & 16383 AS v
           |  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS i) u)
           |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
           |  CAST(bit_count(xor(a.fp, b2.fp)) AS BIGINT) AS dist
           |FROM banded a JOIN banded b2
           |  ON a.b = b2.b AND a.v = b2.v AND a.doc_id < b2.doc_id
           |WHERE bit_count(xor(a.fp, b2.fp)) <= 10""".stripMargin),

      // crop-pair twin: the same md5 starts over the same valid range
      "d_crop_pairs" ->
        ("""WITH cw AS (SELECT doc_id,
           |  list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
           |  FROM documents WHERE text IS NOT NULL),
           |cp AS (SELECT doc_id, w, len(w)::bigint AS n FROM cw WHERE len(w) >= 4),
           |cx AS (SELECT doc_id, w, n, CAST(floor((n + 1) / 2.0) AS BIGINT) AS l FROM cp),
           |cs AS (SELECT doc_id, w, l,
           |  ('0x' || substr(md5(doc_id::varchar || '|cropa'), 1, 15))::bigint % (n - l + 1) AS sa,
           |  ('0x' || substr(md5(doc_id::varchar || '|cropb'), 1, 15))::bigint % (n - l + 1) AS sb
           |  FROM cx)
           |SELECT doc_id, l AS crop_len,
           |  array_to_string(list_slice(w, (sa + 1)::int, (sa + l)::int), ' ') AS crop_a,
           |  array_to_string(list_slice(w, (sb + 1)::int, (sb + l)::int), ' ') AS crop_b,
           |  greatest(0, l - abs(sa - sb))::bigint AS overlap
           |FROM cs""".stripMargin),

      "d_fim" ->
        ("""SELECT doc_id,
          |  CAST(a AS BIGINT) AS prefix_len,
          |  CAST(b - a AS BIGINT) AS middle_len,
          |  '<PRE>' || substr(text, 1, CAST(a AS INT))
          |    || '<SUF>' || substr(text, CAST(b + 1 AS INT), CAST(n - b AS INT))
          |    || '<MID>' || substr(text, CAST(a + 1 AS INT), CAST(b - a AS INT)) AS fim_text
          |FROM (
          |  SELECT doc_id, text, n,
          |    floor(least(u1, u2) * n) AS a, floor(greatest(u1, u2) * n) AS b
          |  FROM (
          |    SELECT doc_id, text, length(text) AS n,
          |      ('0x' || substr(md5(doc_id::varchar || '|fim1'), 1, 15))::bigint / 1152921504606846976.0 AS u1,
          |      ('0x' || substr(md5(doc_id::varchar || '|fim2'), 1, 15))::bigint / 1152921504606846976.0 AS u2
          |    FROM documents) h) c""".stripMargin),

      "d_span_corrupt" ->
        ("""WITH wsd AS (
          |  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
          |  FROM (SELECT doc_id,
          |          list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
          |        FROM documents)),
          |mk AS (SELECT doc_id, pos, w,
          |  (('0x' || substr(md5(doc_id::varchar || '|' || pos::varchar || '|corrupt'), 1, 15))::bigint
          |     / 1152921504606846976.0) < 0.15 AS m
          |  FROM wsd),
          |sp AS (SELECT *,
          |  m AND NOT coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS st
          |  FROM mk),
          |sd AS (SELECT *,
          |  CAST(sum(CASE WHEN st THEN 1 ELSE 0 END)
          |    OVER (PARTITION BY doc_id ORDER BY pos) AS INT) AS sid
          |  FROM sp),
          |toks AS (SELECT doc_id, pos, sid,
          |  CASE WHEN NOT m THEN w WHEN st THEN '<X_' || sid::varchar || '>' END AS ct,
          |  CASE WHEN m THEN
          |    CASE WHEN st THEN '<X_' || sid::varchar || '> ' || w ELSE w END END AS tt
          |  FROM sd),
          |agg AS (SELECT doc_id,
          |  CAST(max(sid) AS BIGINT) AS n_spans,
          |  string_agg(ct, ' ' ORDER BY pos) AS corrupted,
          |  string_agg(tt, ' ' ORDER BY pos) AS targets
          |  FROM toks GROUP BY 1)
          |SELECT d.doc_id,
          |  CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(a.n_spans, 0) END AS n_spans,
          |  CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(a.corrupted, '') END AS corrupted,
          |  CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(a.targets, '') END AS targets
          |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin),

      // media split twin: the m_dhash_pairs chain as the edge set,
      // then the same recursive-CTE CC + grouped-hash split as
      // d_split_leakage (grp = min reachable id, md5 '|split' salt)
      "d_split_media" ->
        (s"""WITH RECURSIVE cell AS ($dhashCellsSql),
           |fp AS (
           |  SELECT a.doc_id,
           |    CAST(sum(CASE WHEN b.lum > a.lum
           |      THEN (1::bigint << CAST(a.gy * 7 + a.gx AS INT)) ELSE 0 END) AS BIGINT) AS fp
           |  FROM cell a JOIN cell b
           |    ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
           |  WHERE a.gx < 7
           |  GROUP BY 1),
           |banded AS (SELECT doc_id, fp, i AS b, (fp >> CAST(14 * i AS INT)) & 16383 AS v
           |  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS i) u),
           |verified AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
           |  FROM banded a JOIN banded b2
           |    ON a.b = b2.b AND a.v = b2.v AND a.doc_id < b2.doc_id
           |  WHERE bit_count(xor(a.fp, b2.fp)) <= 10),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM verified UNION SELECT id_b, id_a FROM verified),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, label) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
           |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
           |keyed AS (
           |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS grp
           |  FROM documents d LEFT JOIN cl c ON c.doc_id = d.doc_id),
           |uu AS (SELECT doc_id, grp,
           |  ('0x' || substr(md5(grp::varchar || '|split'), 1, 15))::bigint / 1152921504606846976.0 AS u
           |  FROM keyed)
           |SELECT doc_id, grp,
           |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
           |FROM uu""".stripMargin),

      // linear media split twin: identical-fp collapse, band slices,
      // per-bucket min-doc anchor STAR edges (no Hamming verify), CC
      // over the stars, docs mapped back through their fp's
      // representative — then the same grouped-hash split
      "d_split_media_linear" ->
        (s"""WITH RECURSIVE cell AS ($dhashCellsSql),
           |fp AS (
           |  SELECT a.doc_id,
           |    CAST(sum(CASE WHEN b.lum > a.lum
           |      THEN (1::bigint << CAST(a.gy * 7 + a.gx AS INT)) ELSE 0 END) AS BIGINT) AS fp
           |  FROM cell a JOIN cell b
           |    ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
           |  WHERE a.gx < 7
           |  GROUP BY 1),
           |reps AS (SELECT fp, min(doc_id) AS rep_id FROM fp GROUP BY fp),
           |banded AS (SELECT rep_id, i AS b, (fp >> CAST(14 * i AS INT)) & 16383 AS v
           |  FROM reps, (SELECT unnest([0, 1, 2, 3]) AS i) u),
           |anch AS (SELECT b, v, min(rep_id) AS anchor_id FROM banded GROUP BY 1, 2),
           |e0 AS (SELECT DISTINCT a.anchor_id AS id_a, d.rep_id AS id_b
           |  FROM banded d JOIN anch a ON d.b = a.b AND d.v = a.v
           |  WHERE d.rep_id > a.anchor_id),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM e0 UNION SELECT id_b, id_a FROM e0),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, label) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
           |cl AS (SELECT id AS rep_id, min(label) AS cluster_id FROM reach GROUP BY id),
           |keyed AS (
           |  SELECT d.doc_id, coalesce(c.cluster_id, r.rep_id, d.doc_id) AS grp
           |  FROM documents d
           |  LEFT JOIN fp f ON f.doc_id = d.doc_id
           |  LEFT JOIN reps r ON r.fp = f.fp
           |  LEFT JOIN cl c ON c.rep_id = r.rep_id),
           |uu AS (SELECT doc_id, grp,
           |  ('0x' || substr(md5(grp::varchar || '|split'), 1, 15))::bigint / 1152921504606846976.0 AS u
           |  FROM keyed)
           |SELECT doc_id, grp,
           |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
           |FROM uu""".stripMargin),

      // entropy twin: the pngBytes channel formulas over ALL pixels
      // (not the downsample grid), exact integer histogram, the same
      // 2^-20-grid term quantization as the Spark kernel — quantized
      // terms are multiples of 2^-20 below 2^11, so their double sum
      // is EXACT and summation order cannot matter
      "m_img_entropy" ->
        ("""WITH px AS (
          |  SELECT doc_id, L, hx, w, h, unnest(generate_series(0, w * h - 1)) AS i
          |  FROM (SELECT doc_id, hex(encode(text)) AS hx,
          |               octet_length(encode(text)) AS L,
          |               CAST(4 + doc_id % 13 AS INT) AS w,
          |               CAST(4 + doc_id % 11 AS INT) AS h
          |        FROM documents) d),
          |lm AS (SELECT doc_id, w, h,
          |    299 * (CASE WHEN L > 0 THEN ('0x' || substr(hx, 2 * (i % L) + 1, 2))::int ELSE 0 END)
          |  + 587 * (CASE WHEN L > 0 THEN ('0x' || substr(hx, 2 * ((31 * i + 7) % L) + 1, 2))::int ELSE 0 END)
          |  + 114 * ((131 * i) % 256) AS lum
          |  FROM px),
          |bins AS (SELECT doc_id, w, h, lum * 16 // 255001 AS b, count(*)::bigint AS c
          |  FROM lm GROUP BY 1, 2, 3, 4),
          |s AS (SELECT doc_id, w, h,
          |    sum(CASE WHEN c > 1 THEN floor(c * ln(c::double) * 1048576.0) / 1048576.0 ELSE 0 END) AS s
          |  FROM bins GROUP BY 1, 2, 3)
          |SELECT doc_id, CAST(w * h AS BIGINT) AS n_pixels,
          |  floor((ln((w * h)::double) - s / (w * h)) * 1048576.0) / 1048576.0 AS entropy
          |FROM s""".stripMargin),

      "m_dhash_wide" ->
        (s"""$dhashWideFpSql"""),

      "m_dhash_wide_pairs" ->
        (s"""WITH fp AS ($dhashWideFpSql),
           |banded AS (
           |  SELECT doc_id, fp_lo, fp_hi, b,
           |    CASE b WHEN 0 THEN fp_lo & 1073741823
           |           WHEN 1 THEN fp_lo >> 30
           |           WHEN 2 THEN fp_hi & 1073741823
           |           ELSE fp_hi >> 30 END AS v
           |  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS b) u)
           |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
           |  CAST(bit_count(xor(a.fp_lo, b2.fp_lo))
           |     + bit_count(xor(a.fp_hi, b2.fp_hi)) AS BIGINT) AS dist
           |FROM banded a JOIN banded b2
           |  ON a.b = b2.b AND a.v = b2.v AND a.doc_id < b2.doc_id
           |WHERE bit_count(xor(a.fp_lo, b2.fp_lo))
           |    + bit_count(xor(a.fp_hi, b2.fp_hi)) <= 20""".stripMargin),

      // banding is corpus-adaptive: the bi CTE derives (bands, width)
      // from count(documents) via the SAME rule as Multimodal.dhashPlan
      // (the CASE text is emitted from it), and band i is bits
      // [i*w, (i+1)*w) of the 120-bit fingerprint — straddling bands
      // composed from both 60-bit longs exactly like wideBands
      "m_dhash_dedup" ->
        (s"""WITH fp AS ($dhashWideFpSql),
           |reps AS (
           |  SELECT min(doc_id) AS doc_id, fp_lo, fp_hi
           |  FROM fp GROUP BY fp_lo, fp_hi),
           |bi AS (
           |  SELECT unnest(generate_series(0, b - 1)) AS i, 120 // b AS w
           |  FROM (SELECT ${Multimodal.dhashPlanSqlCase(120, 8,
                    "(SELECT count(*) FROM documents)")} AS b) p),
           |banded AS (
           |  SELECT doc_id, fp_lo, fp_hi, i AS b,
           |    CASE WHEN i*w + w <= 60
           |           THEN (fp_lo >> (i*w)) & ((1::BIGINT << w) - 1)
           |         WHEN i*w >= 60
           |           THEN (fp_hi >> (i*w - 60)) & ((1::BIGINT << w) - 1)
           |         ELSE (fp_lo >> (i*w)) |
           |           ((fp_hi & ((1::BIGINT << (i*w + w - 60)) - 1)) << (60 - i*w))
           |    END AS v
           |  FROM reps, bi),
           |anch AS (
           |  SELECT b, v, min(doc_id) AS anchor_id FROM banded GROUP BY 1, 2),
           |dropped AS (
           |  SELECT DISTINCT d.doc_id
           |  FROM banded d
           |  JOIN anch a ON d.b = a.b AND d.v = a.v AND d.doc_id > a.anchor_id
           |  JOIN reps af ON af.doc_id = a.anchor_id
           |  WHERE bit_count(xor(d.fp_lo, af.fp_lo))
           |      + bit_count(xor(d.fp_hi, af.fp_hi)) <= 20)
           |SELECT r.doc_id, r.fp_lo, r.fp_hi FROM reps r
           |WHERE r.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin),

      // audio-fingerprint twin: decoded PCM == the generator formula
      // (pinned by m_wav_features), per-frame energy is an exact
      // integer sum, gradient bits sum as disjoint powers of two
      "m_afp" ->
        (s"""WITH e AS ($afpEnergySql)
           |SELECT a.doc_id,
           |  CAST(sum(CASE WHEN b.e > a.e
           |    THEN (1::bigint << CAST(a.f AS INT)) ELSE 0 END) AS BIGINT) AS fp
           |FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.f = a.f + 1
           |GROUP BY 1""".stripMargin),

      "m_afp_pairs" ->
        (s"""WITH e AS ($afpEnergySql),
           |fp AS (
           |  SELECT a.doc_id,
           |    CAST(sum(CASE WHEN b.e > a.e
           |      THEN (1::bigint << CAST(a.f AS INT)) ELSE 0 END) AS BIGINT) AS fp
           |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.f = a.f + 1
           |  GROUP BY 1),
           |banded AS (SELECT doc_id, fp, i AS b, (fp >> CAST(8 * i AS INT)) & 255 AS v
           |  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS i) u)
           |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
           |  CAST(bit_count(xor(a.fp, b2.fp)) AS BIGINT) AS dist
           |FROM banded a JOIN banded b2
           |  ON a.b = b2.b AND a.v = b2.v AND a.doc_id < b2.doc_id
           |WHERE bit_count(xor(a.fp, b2.fp)) <= 5""".stripMargin),

      "m_vad_segments" ->
        (s"""WITH e AS ($afpEnergySql),
           |mx AS (SELECT doc_id, max(e) AS emax FROM e GROUP BY 1),
           |v AS (SELECT e.doc_id, e.f, (4 * e.e > mx.emax) AS voiced
           |  FROM e JOIN mx USING (doc_id)),
           |st AS (SELECT *, CASE WHEN lag(voiced)
           |    OVER (PARTITION BY doc_id ORDER BY f) IS DISTINCT FROM voiced
           |  THEN 1 ELSE 0 END AS brk FROM v),
           |seg AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY f) AS seg_no
           |  FROM st)
           |SELECT doc_id, CAST(seg_no AS BIGINT) AS seg_no, voiced,
           |  CAST(min(f) AS BIGINT) AS start_frame,
           |  CAST(max(f) AS BIGINT) AS end_frame
           |FROM seg GROUP BY doc_id, seg_no, voiced""".stripMargin),

      // bands corpus-adaptive via the same dhashPlan rule (32-bit fp,
      // minBands=4 recall floor in lockstep with the Spark side)
      "m_afp_dedup" ->
        (s"""WITH e AS ($afpEnergySql),
           |fp AS (
           |  SELECT a.doc_id,
           |    CAST(sum(CASE WHEN b.e > a.e
           |      THEN (1::bigint << CAST(a.f AS INT)) ELSE 0 END) AS BIGINT) AS fp
           |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.f = a.f + 1
           |  GROUP BY 1),
           |reps AS (SELECT min(doc_id) AS doc_id, fp FROM fp GROUP BY fp),
           |bi AS (
           |  SELECT unnest(generate_series(0, b - 1)) AS i, 32 // b AS w
           |  FROM (SELECT ${Multimodal.dhashPlanSqlCase(32, 8,
                    "(SELECT count(*) FROM documents)", minBands = 4)} AS b) p),
           |banded AS (SELECT doc_id, fp, i AS b,
           |    (fp >> (i*w)) & ((1::BIGINT << w) - 1) AS v
           |  FROM reps, bi),
           |anch AS (SELECT b, v, min(doc_id) AS anchor_id FROM banded GROUP BY 1, 2),
           |dropped AS (
           |  SELECT DISTINCT d.doc_id
           |  FROM banded d
           |  JOIN anch a ON d.b = a.b AND d.v = a.v AND d.doc_id > a.anchor_id
           |  JOIN reps af ON af.doc_id = a.anchor_id
           |  WHERE bit_count(xor(d.fp, af.fp)) <= 5)
           |SELECT r.doc_id, r.fp FROM reps r
           |WHERE r.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin),

      "m_wav_features" ->
        ("""WITH s AS (
          |  SELECT doc_id, i,
          |         trunc(sin(2*pi()*(200 + abs(doc_id) % 200)*i/8000) * 0.5 * 32767) AS v
          |  FROM (SELECT doc_id, unnest(generate_series(0, 799)) AS i FROM documents) t),
          |z AS (
          |  SELECT doc_id, v, lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
          |SELECT doc_id, CAST(800 AS BIGINT) AS n_samples,
          |       round(sqrt(sum((v/32768.0)*(v/32768.0))/800), 4) AS rms,
          |       CAST(sum(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0)) THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
          |FROM z GROUP BY doc_id""".stripMargin))

    // mining-recall twin composed from the two margin twins above
    // (nested WITH in a CTE body is standard SQL, DuckDB-supported):
    // the exact same brute-vs-IVF comparison the Spark entry makes
    base + ("e_bitext_margin_recall" ->
      s"""WITH bm AS (${base("e_bitext_margin")}),
         |im AS (${base("e_bitext_margin_ivf")})
         |SELECT count(*)::bigint AS n_brute,
         |  sum(CASE WHEN i.query_id IS NOT NULL THEN 1 ELSE 0 END)::bigint AS n_found,
         |  round(avg(CASE WHEN i.query_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) + 0 AS recall
         |FROM bm b LEFT JOIN im i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id""".stripMargin)
  }
}
