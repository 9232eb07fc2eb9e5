package graft.streaming

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.engine.{GraphiteTables, StoreSnapshot}

/** Streaming ingest (SURVEY §2.9) — the engine-owned replacement for
  * carbon-clickhouse + carbonlink: Structured Streaming over the
  * graphite plaintext protocol, maintaining the points table and the
  * index/tags side tables (with ancestor expansion per
  * `doc/index-table.md:20-38`) in `foreachBatch`.
  *
  * Late/duplicate handling mirrors the reference end to end: every
  * write carries a `version`; storage is append-only (ReplacingMergeTree
  * analog) and the read path's `max_by(value, version)` dedup
  * (`Render.dedup`) resolves duplicates — so ingest needs no
  * exactly-once coordination, only at-least-once appends.
  */
object Ingest {

  /** Parse graphite plaintext lines `path value timestamp` — tagged
    * form `name;k=v;k2=v2` is normalized to the sorted storage form
    * `name?k=v&k2=v2` (`finder/tagged.go:551-596`; tag order pinned by
    * sort). Malformed lines are dropped (null-safe casts).
    * Columns in: `value: String`; out: full points-table schema plus
    * `is_tagged`.
    *
    * Known simplification: tag values are stored raw (carbon-clickhouse
    * percent-escapes structural chars at ingest; `Tagged.escape` /
    * `encodePath` provide the round-trip-safe encoding when values may
    * contain `%`/`&`/`?`/`;` — the line protocol itself already
    * excludes whitespace and `;` from values).
    */
  def parseLines(lines: DataFrame): DataFrame = {
    val f = split(trim(col("value")), "\\s+")
    // `get` (not getItem) tolerates short arrays → nulls → dropped
    val rawPath = get(f, lit(0))
    val isTagged = rawPath.contains(";")
    val name = substring_index(rawPath, ";", 1)
    val kvs = array_sort(slice(split(rawPath, ";"), 2, 1000))
    val storagePath =
      when(isTagged, concat(name, lit("?"), array_join(kvs, "&")))
        .otherwise(rawPath)
    val time = get(f, lit(2)).try_cast("long")
    lines.select(
      storagePath.as("path"),
      get(f, lit(1)).try_cast("double").as("value"),
      time.as("time"),
      to_date(timestamp_seconds(time)).as("date"),
      // write version: the metric timestamp (carbon-clickhouse uses
      // the receive time; any monotone source works for max-wins)
      time.as("version"),
      // tagged paths are never reversed (`pkg/reverse/reverse.go:24-28`)
      when(isTagged, lit(null).cast("string"))
        .otherwise(GraphiteTables.reversePath(rawPath)).as("path_reversed"),
      isTagged.as("is_tagged"))
      .where(col("path").isNotNull && col("value").isNotNull && col("time").isNotNull)
  }

  /** Per-batch maintenance: append new points, and upsert-by-append
    * the index rows (plain metrics, ancestor-expanded) and tag rows
    * (tagged metrics) derived from the batch's distinct paths. The
    * distinct is per-batch-sized; read-side version dedup gives
    * ReplacingMergeTree semantics across batches.
    *
    * The commit is one entry of the store's log ([[StoreSnapshot]]):
    * each table's rows are written to a hidden staging dir inside the
    * table, its data files moved into place (`points/date=…/`, as a
    * plain `spark.read.parquet` of the table dir expects) and then
    * published together. Readers open the files the log names and
    * never list a table, so the batch's three tables become visible
    * at once, and files moved in by a batch that died before its
    * publish stay invisible. No Spark job beyond the three writes.
    */
  def processBatch(parsed: DataFrame, outDir: String): Unit =
    StoreSnapshot.publish(parsed.sparkSession, outDir)(writeTables(parsed, outDir))

  /** The three writes and the moves of a commit, without its publish:
    * the files now in place, per table.
    *
    * It caches two relations: the batch (`parsed`, read by the points
    * write and the aggregate) and its per-(path, day) aggregate
    * (`newMetrics`, read by the index and the tags write). Both are
    * released before it returns, on success and on failure, so no
    * Spark cache entry, and so no batch lineage, outlives a commit: a
    * long-lived ingest session would otherwise keep every commit's
    * input on the heap, and every later query of the session would
    * match its plan against one more cache entry. `newMetrics` goes
    * first: its plan reads the cached batch, and released in the
    * other order it would be the batch's dependent that Spark
    * re-plans onto the uncached input.
    */
  private[graft] def writeTables(parsed: DataFrame, outDir: String): Map[String, Seq[FileStatus]] = {
    parsed.cache()
    try {
      // per (path, day): the reference's carbon writer emits daily
      // index/tag rows for every active day (`doc/index-table.md`)
      val newMetrics = parsed
        .groupBy("path", "is_tagged", "date")
        .agg(max("version").as("version"))
        .cache()
      try {
        val staging = s"_graft_staging_${UUID.randomUUID()}"
        def stage(table: String, write: String => Unit): (String, Path) = {
          val dir = s"$outDir/$table/$staging"
          write(dir)
          table -> new Path(dir)
        }
        val points = stage("points", parsed.write.partitionBy("date").parquet(_))
        val index = stage("index", GraphiteTables.expandIndexRows(
          newMetrics.where(!col("is_tagged")).select("path", "date", "version")).write.parquet(_))
        val tags = stage("tags", GraphiteTables.expandTagRows(
          newMetrics.where(col("is_tagged")).select("path", "date", "version")).write.parquet(_))

        val fs = new Path(outDir).getFileSystem(parsed.sparkSession.sessionState.newHadoopConf())
        Seq(points, index, tags).map { case (table, dir) => table -> moveIn(fs, fs.makeQualified(dir)) }.toMap
      } finally newMetrics.unpersist()
    } finally parsed.unpersist()
  }

  /** Moves the data files of a staged write up into its table dir, at
    * the same relative paths, and drops the staging dir with Spark's
    * `_SUCCESS` marker; returns the moved files. A hidden `.…crc`
    * checksum is not a data file: the local FS's rename moves it along
    * with its part file.
    */
  private def moveIn(fs: FileSystem, staging: Path): Seq[FileStatus] = {
    def walk(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq.flatMap { s =>
      val name = s.getPath.getName
      if (s.isDirectory) walk(s.getPath)
      else if (name.startsWith("_") || name.startsWith(".")) Nil
      else Seq(s)
    }
    val prefix = staging.toString + "/"
    val moved = walk(staging).map { s =>
      val to = new Path(staging.getParent, s.getPath.toString.stripPrefix(prefix))
      fs.mkdirs(to.getParent)
      if (!fs.rename(s.getPath, to)) throw new IOException(s"could not move ${s.getPath} to $to")
      new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime, to)
    }
    fs.delete(staging, true)
    moved
  }

  /** Wire a line stream into the three tables. Caller starts/awaits
    * the returned query.
    */
  def stream(lines: DataFrame, outDir: String, checkpoint: String): DataStreamWriter[Row] =
    parseLines(lines)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: DataFrame, _: Long) => processBatch(batch, outDir))

  /** In-stream exact-duplicate suppression within the lateness bound
    * (SURVEY §2.9): watermark + `dropDuplicatesWithinWatermark` on the
    * full write identity. Read-side `max_by(version)` dedup remains
    * the correctness backstop for duplicates arriving later than the
    * watermark — matching the reference's ReplacingMergeTree +
    * read-dedup split exactly.
    */
  def withStreamDedup(parsed: DataFrame, lateness: String = "1 hour"): DataFrame =
    parsed
      .withColumn("event_time", timestamp_seconds(col("time")))
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark("path", "time", "version")
      .drop("event_time")

  /** Streaming tumbling rollup (§2.9 "Windows"): watermarked
    * event-time windows, partial aggregates maintained by the state
    * store, append-mode emission once the watermark passes the window
    * end. The step must match the retention the hot tier serves.
    */
  def streamingRollup(lines: DataFrame, stepSeconds: Int, lateness: String = "30 seconds"): DataFrame =
    parseLines(lines)
      .withColumn("event_time", timestamp_seconds(col("time")))
      .withWatermark("event_time", lateness)
      .groupBy(col("path"), window(col("event_time"), s"$stepSeconds seconds"))
      .agg(avg(col("value")).as("value"), count(lit(1)).as("n"))
      .select(col("path"),
        col("window.start").cast("long").as("time"),
        col("value"), col("n"))
}
