package graft.engine

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Exact rolled-row cache for [[Render.render]]: a planned group whose
  * key was already rolled over the same `points` file set is answered
  * from memory, without opening a table or starting a Spark job.
  *
  * Why it is exact. A group's rolled rows ([[Render.fetchGroup]]) are a
  * function of the group plan and of the `points` files Spark reads —
  * nothing else. The [[RenderCache.Key]] holds every input of the plan,
  * and the points *epoch* names the file set: a digest of every data
  * file visible under `points/` (path, length, modification time),
  * listed with the Hadoop `FileSystem` API under the visibility rule of
  * Spark's file index (names starting with `_` or `.` are skipped, so a
  * write in progress under `_temporary` is not part of it). Ingest only
  * appends, each micro-batch commits new, uniquely named part files
  * (Structured Streaming commits whole micro-batches), so a commit
  * always makes a new epoch and is visible to the very next request.
  *
  * A miss is loaded by one Spark collect and kept only if a second
  * listing after the collect gives the epoch of the first: the file set
  * only grows, so Spark's own listing, taken between the two, saw
  * exactly that set. Only the current epoch's entries are kept — a new
  * epoch drops the old ones — and the entries are bounded by
  * [[RenderCache.RowBudget]] rows, least recently used first out.
  * Every map access holds the cache's lock; the loads run outside it,
  * so concurrent handlers only contend for lookups.
  *
  * `onLookup` sees each group lookup (true = hit) — the server's
  * `render_cache_hits`/`render_cache_misses` counters.
  */
final class RenderCache(
    spark: SparkSession,
    storeDir: String,
    onLookup: Boolean => Unit = _ => (),
    rowBudget: Long = RenderCache.RowBudget) {
  import RenderCache._

  private val root = new Path(Store.pointsDir(storeDir))
  private val fs = root.getFileSystem(spark.sessionState.newHadoopConf())

  // access-ordered: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[Key, Render.GroupRows](16, 0.75f, true)
  private var current: String = ""
  private var held = 0L

  /** The points epoch: a digest of the visible data files. A missing
    * `points/` dir has its own epoch; opening it fails as before.
    */
  def epoch(): String = {
    def walk(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq
        .filterNot(s => hidden(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
    val files =
      try walk(root)
      catch { case _: FileNotFoundException => return "absent" }
    val md = MessageDigest.getInstance("SHA-256")
    files.map(s => s"${s.getPath}\t${s.getLen}\t${s.getModificationTime}\n").sorted
      .foreach(l => md.update(l.getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The rolled rows of every key, in key order: hits from memory, the
    * rest from one `load` call (which returns them in the order given).
    * `load` must open `points` itself: a table opened before the first
    * listing could hold an older file set than the epoch it is kept
    * under.
    */
  def through(keys: Seq[Key])(load: Seq[Key] => Seq[Render.GroupRows]): Seq[Render.GroupRows] = {
    val before = epoch()
    val hits = lookup(before, keys)
    hits.foreach(h => onLookup(h.isDefined))
    val missing = keys.zip(hits).collect { case (k, None) => k }
    if (missing.isEmpty) hits.flatten
    else {
      val loaded = load(missing)
      if (epoch() == before) store(before, missing.zip(loaded))
      val next = loaded.iterator
      hits.map(_.getOrElse(next.next()))
    }
  }

  /** Rows held now, counted as [[Key.weight]]. */
  def rows: Long = synchronized(held)

  private def lookup(epoch: String, keys: Seq[Key]): Seq[Option[Render.GroupRows]] = synchronized {
    if (epoch != current) {
      entries.clear(); held = 0L; current = epoch
    }
    keys.map(k => Option(entries.get(k)))
  }

  private def store(epoch: String, loaded: Seq[(Key, Render.GroupRows)]): Unit = synchronized {
    if (epoch == current) {
      loaded.foreach { case (k, v) =>
        if (k.weight <= rowBudget && entries.put(k, v) == null) held += k.weight
      }
      val it = entries.keySet().iterator()
      while (held > rowBudget && it.hasNext) { held -= it.next().weight; it.remove() }
    }
  }
}

object RenderCache {

  /** Rows the cache holds at most, counted as [[Key.weight]]: a
    * group's grid cells (8 bytes and a presence bit each, an absent
    * bucket included) plus one per path — about 8 MB of values.
    */
  val RowBudget: Long = 1L << 20

  /** Everything [[Render.fetchGroup]] reads, but the file set: the
    * version mode, the storage precision MergedCells merges on, the
    * group at its rolled step (after coarsening and `maxDataPoints`
    * inflation) with its function and its sorted, distinct paths, and
    * the aligned window (`StepMath.alignFromUntil`).
    */
  final case class Key(
      mode: Render.VersionMode,
      cellPrecision: Long,
      group: Render.FuncGroup,
      from: Long,
      until: Long) {
    /** The entry's grid cells plus one per path. */
    lazy val weight: Long =
      group.paths.length * (1L + math.max(0L, (until + 1 - from) / group.step))
  }

  /** Spark's file-index visibility rule (`HadoopFSUtils.shouldFilterOutPathName`):
    * `_`/`.`-prefixed names are not data, save partition dirs and the
    * Parquet summary files. Spark also skips `._COPYING_` files; the
    * epoch keeps them, which can only cost a miss.
    */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".")) &&
      !name.startsWith("_metadata") && !name.startsWith("_common_metadata")
}
