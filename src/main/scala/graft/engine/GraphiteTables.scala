package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** Derives the engine's three graphite-shaped logical tables from the
  * driver-provided `events.parquet` stream table.
  *
  * The reference's tables (`tests/clickhouse/rollup/init.sql`) are fed
  * by carbon-clickhouse at ingest; here the same shapes are derived
  * declaratively so every downstream operator (finder, render,
  * autocomplete) runs against realistic data at any scale factor.
  * Each derivation is a pure projection / aggregation of one scan —
  * no driver-side loops — so it holds at 100 TB: points is a
  * map-only projection; index/tags are a distinct (one shuffle on the
  * small path dimension) plus an ancestor explode.
  *
  * Mapping: an event `(ts, user_id, event_type, value, event_id)`
  * becomes the datapoint `events.<event_type>.user<user_id>` (plain)
  * or `events?type=<event_type>&user=<user_id>` (tagged form), at
  * `time = ts/1e9` seconds with `version = event_id` as the write
  * version (max version wins on duplicate (path, time), mirroring
  * GraphiteMergeTree's `Timestamp` column, `helper/point/func.go:29-51`).
  */
object GraphiteTables {

  /** The derived tables are what ingest would have materialized once;
    * memoize them per (application, dir, kind) so repeated queries
    * read the "stored" table instead of re-deriving it — mirroring the
    * production layout where points/index/tags are real tables. The
    * ANN index state ([[graft.llm.AnnIndex]]) shares this memo under
    * its own kinds. An entry is derived once and kept for the
    * application's life: the HTTP server reads its store through
    * [[StoreSnapshot]], never through this memo, so only batch callers
    * (Verify, Bench, SparkEntry's queries) reach it, over inputs that
    * do not change while they run.
    */
  private val derived =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), DataFrame]()

  /** `build`, materialized once per (application, dir, kind) via
    * [[graft.Lineage.truncate]] (LogicalRDD), NOT
    * `.cache()`: an InMemoryRelation whose cached plan is an
    * AdaptiveSparkPlan never compares `sameResult` to a second scan
    * of itself, which silently disables exchange/stage reuse for
    * EVERY query subtree that touches the table — a PromQL binop
    * whose two operands share one selector then re-scans and
    * re-aggregates the whole matrix twice. A LogicalRDD keys
    * canonicalization on the materialized RDD id, so repeated
    * references dedup into ReusedQueryStages as intended.
    *
    * Durability tradeoff vs `.cache()`: a localCheckpoint does not
    * recompute lost blocks from lineage, so a multi-executor
    * deployment MUST set `graft.checkpoint.dir` (the [[graft.Lineage]]
    * contract) to make every truncation a reliable checkpoint;
    * without it an executor loss poisons the memo entry for the rest
    * of the application. Single-JVM (local mode) deployments are
    * unaffected.
    *
    * `build` runs on a miss only.
    */
  private[graft] def memo(spark: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame =
    derived.computeIfAbsent((spark.sparkContext.applicationId, dir, kind),
      _ => graft.Lineage.truncate(build, eager = false))

  /** `df` coalesced to one partition per advisory chunk of the SOURCE
    * dir, clamped to [1, parallelism]. The memoized RDD's partitioning
    * is its PERMANENT layout for the whole session, so size it to the
    * DATA, not to whatever coalescing floor the session runs queries
    * under: round 17's 64 KB AQE floor (Tuning.MinPartitionBytes —
    * right for CPU-heavy query aggregates) left these
    * path-dimension-sized tables in ~parallelism partitions, taxing
    * every later tiny find/render with a full task wave per stage
    * (g_find_* walls 4–7× — caught by the untouched-median control).
    * coalesce never widens, so a genuinely large store keeps its
    * parallel layout. Called inside a memo `build`, so the dir walk (a
    * recursive FS listing) runs on a miss only; a raw builder
    * ([[indexRows]], [[tagRows]]) pays it per call.
    */
  private def sizedToStore(spark: SparkSession, dir: String, df: DataFrame): DataFrame =
    df.coalesce(math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      graft.Tuning.dirBytes(dir, spark) / graft.Tuning.AdvisoryPartitionBytes)).toInt)

  /** events.parquet has shipped `ts` both as nanosecond timestamps
    * (which Spark's parquet reader rejects by default — read as raw
    * Long nanos) and as microsecond timestamps (read as
    * TIMESTAMP_NTZ). Normalize to the Long-nanos contract every
    * downstream query assumes, whichever the file carries.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case org.apache.spark.sql.types.TimestampNTZType =>
        // session tz is UTC, so NTZ wall-clock == the instant; the
        // native reinterpretation keeps the (filter-duplicated) time
        // arithmetic pure long math instead of per-row zone conversion
        df.withColumn("ts",
          graft.functions.EpochMath.ntzEpochMicros(col("ts")) * 1000L)
      case org.apache.spark.sql.types.TimestampType =>
        // TIMESTAMP_LTZ: unix_micros reads the instant directly
        df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case _ => // anything else (string/date/…): coerce via timestamp
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }

  /** Points table (plain hierarchical paths), schema per
    * `Schemas.points`: one row per datapoint write. `date` duplicates
    * the day of `time` — the partition-pruning key replacing the
    * reference's `PREWHERE Date BETWEEN` (`render/data/query.go:422-433`).
    */
  /** Nanos → whole seconds as exact long division (`div`): the
    * double-division form `(ts / 1e9).cast(long)` loses precision at
    * 61-bit nano magnitudes (a sample within ~100 ns of a second
    * boundary can land in the wrong second) and costs two casts per
    * occurrence after filter-pushdown duplication.
    */
  private def tsSeconds: org.apache.spark.sql.Column = expr("ts div 1000000000")

  def points(spark: SparkSession, dir: String): DataFrame = {
    val path = concat(lit("events."), col("event_type"), lit(".user"), col("user_id"))
    events(spark, dir).select(
      path.as("path"),
      col("value"),
      tsSeconds.as("time"),
      to_date(timestamp_seconds(tsSeconds)).as("date"),
      col("event_id").as("version"),
      reversePath(path).as("path_reversed"))
  }

  /** Points table in tagged form (`name?k=v&…` storage paths,
    * `finder/tagged.go:551-596`). Tagged paths are never reversed
    * (`pkg/reverse/reverse.go:24-28`).
    */
  def pointsTagged(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      concat(lit("events?type="), col("event_type"), lit("&user="), col("user_id")).as("path"),
      col("value"),
      tsSeconds.as("time"),
      to_date(timestamp_seconds(tsSeconds)).as("date"),
      col("event_id").as("version"))

  /** Dot-segment reversal `a.b.c → c.b.a` (`pkg/reverse/reverse.go:8-22`)
    * as a codegen'd column expression (no UDF).
    */
  def reversePath(path: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws(".", reverse(split(path, "\\.")))

  /** Metric-name index with ancestor expansion (`doc/index-table.md:20-38`):
    * each distinct metric contributes, per the reference's level
    * encoding (`finder/index.go:19-23`):
    *   - one all-time direct row per ancestor prefix with trailing dot
    *     and one for the metric itself (level = 20000 + depth);
    *   - one all-time reversed row for the metric (level = 30000 + depth);
    *   - daily direct/reversed rows (level = depth / 10000 + depth) are
    *     carried with the first-seen date.
    * Built from one distinct over paths, then a bounded explode
    * (depth ≤ path depth) — scales linearly with metric count, not
    * point count.
    */
  def index(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "index")(indexRows(spark, dir))

  /** The raw derivation behind [[index]], scanning `events.parquet`
    * on every call: what the plan census reads to show the cost the
    * memo pays once. */
  private[graft] def indexRows(spark: SparkSession, dir: String): DataFrame =
    sizedToStore(spark, dir, expandIndexRows(
      points(spark, dir)
        .groupBy("path", "date")
        .agg(max("version").as("version"))))

  /** Ancestor expansion of a (path, date, version) metric batch into
    * index rows — shared by the batch derivation above and the
    * streaming ingest's `foreachBatch` index maintenance
    * (`doc/index-table.md:20-38`).
    */
  def expandIndexRows(paths: DataFrame): DataFrame = {
    val parts = split(col("path"), "\\.")
    val depth = size(parts)

    // ancestors: prefix of k segments + trailing dot, k = 1..depth-1
    val withAncestors = paths
      .withColumn("depth", depth)
      .withColumn(
        "entries",
        // (level, path) pairs: all-time tree rows for every ancestor + self.
        // depth-1 metrics have no ancestors — guarded, because Spark's
        // step-less sequence(1, 0) counts DOWN to [1, 0]
        concat(
          when(col("depth") > 1,
            transform(
              sequence(lit(1), greatest(col("depth") - 1, lit(1))),
              k => struct(
                (k + Schemas.TreeLevelOffset).as("level"),
                concat(concat_ws(".", slice(parts, lit(1), k)), lit(".")).as("entry"))))
            .otherwise(array().cast("array<struct<level:int,entry:string>>")),
          array(
            struct(
              (col("depth") + Schemas.TreeLevelOffset).as("level"),
              col("path").as("entry")),
            struct(
              (col("depth") + Schemas.ReverseTreeLevelOffset).as("level"),
              reversePath(col("path")).as("entry")),
            struct(col("depth").cast("int").as("level"), col("path").as("entry")),
            struct(
              (col("depth") + Schemas.ReverseLevelOffset).as("level"),
              reversePath(col("path")).as("entry")))))

    withAncestors
      .select(col("date"), col("version"), explode(col("entries")).as("e"))
      .select(
        // all-time rows carry the constant tree date (`finder/index.go:24`)
        when(col("e.level") >= Schemas.TreeLevelOffset, lit(Schemas.DefaultTreeDate).cast("date"))
          .otherwise(col("date")).as("date"),
        col("e.level").as("level"),
        col("e.entry").as("path"),
        col("version"))
      .groupBy("date", "level", "path")
      .agg(max("version").as("version"))
  }

  /** Tag-row expansion of a (path, date, version) tagged-metric batch
    * (storage form `name?k=v&…`) into inverted-index rows — shared by
    * the batch derivation below and streaming ingest.
    */
  def expandTagRows(series: DataFrame): DataFrame = {
    val name = substring_index(col("path"), "?", 1)
    val kvs = split(substring_index(col("path"), "?", -1), "&")
    series
      .withColumn("tags", concat(array(concat(lit("__name__="), name)), kvs))
      .select(col("date"), explode(col("tags")).as("tag1"), col("path"),
        col("tags"), col("version"))
  }

  /** Tagged-series inverted index (`graphite_tags` shape,
    * `init.sql:30-38`): one row per (tag, series) with that tag in
    * `tag1`, including the `__name__` pseudo-tag.
    */
  def tags(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "tags")(tagRows(spark, dir))

  /** The raw derivation behind [[tags]], as [[indexRows]] is behind
    * [[index]]. */
  private[graft] def tagRows(spark: SparkSession, dir: String): DataFrame =
    sizedToStore(spark, dir, expandTagRows(
      pointsTagged(spark, dir)
        .groupBy("path", "date")
        .agg(max("version").as("version"))))
}
