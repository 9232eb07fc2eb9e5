package graft.engine

import java.util.concurrent.ConcurrentHashMap

/** Exact rolled-row cache for [[Render.render]]: a planned group whose
  * key was already rolled over the same store snapshot is answered
  * from memory, without opening a table or starting a Spark job.
  *
  * Why it is exact. A group's rolled rows ([[Render.fetchGroup]]) are a
  * function of the group plan and of the `points` files Spark reads —
  * nothing else. The [[RenderCache.Key]] holds every input of the plan,
  * and the caller names the file set by the version of the
  * [[StoreSnapshot]] it opens `points` from: a version is one fixed
  * file list from the store's log, and every commit publishes a new
  * one, so a commit is visible to the very next request and the rows
  * loaded for a version are exactly that version's rows.
  *
  * Only the current version's entries are kept — a new version drops
  * the old ones — and the entries are bounded by
  * [[RenderCache.RowBudget]] rows, least recently used first out.
  * Every map access holds the cache's lock; loads run outside it.
  * Concurrent misses of the same keys under one version wait for one
  * load (as [[FindCache.through]] does) and are then served as hits;
  * distinct keys load concurrently.
  *
  * `onLookup` sees each group lookup (true = hit) — the server's
  * `render_cache_hits`/`render_cache_misses` counters.
  */
final class RenderCache(
    onLookup: Boolean => Unit = _ => (),
    rowBudget: Long = RenderCache.RowBudget) {
  import RenderCache._

  // access-ordered: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[Key, Render.GroupRows](16, 0.75f, true)
  private var current = -1L
  private var held = 0L
  private val inflight = new ConcurrentHashMap[(Long, Seq[Key]), Object]()

  /** The rolled rows of every key, in key order, for the snapshot
    * `version`: hits from memory, the rest from one `load` call (which
    * returns them in the order given). `load` must read the `points`
    * of exactly that snapshot.
    */
  def through(version: Long, keys: Seq[Key])(load: Seq[Key] => Seq[Render.GroupRows]): Seq[Render.GroupRows] = {
    val hits = lookup(version, keys)
    hits.foreach(h => if (h.isDefined) onLookup(true))
    val missing = keys.zip(hits).collect { case (k, None) => k }
    val filled = if (missing.isEmpty) Map.empty[Key, Render.GroupRows] else fill(version, missing)(load)
    keys.zip(hits).map { case (k, h) => h.getOrElse(filled(k)) }
  }

  /** Rows held now, counted as [[Key.weight]]. */
  def rows: Long = synchronized(held)

  /** Loads `missing` once per version: a concurrent request for the
    * same keys waits, then finds them stored (a hit).
    */
  private def fill(version: Long, missing: Seq[Key])(
      load: Seq[Key] => Seq[Render.GroupRows]): Map[Key, Render.GroupRows] = {
    val flight = (version, missing)
    val lock = inflight.computeIfAbsent(flight, _ => new Object)
    try lock.synchronized {
      val found = missing.zip(lookup(version, missing))
      val still = found.collect { case (k, None) => k }
      val loaded = if (still.isEmpty) Nil else still.zip(load(still))
      store(version, loaded)
      found.foreach { case (_, h) => onLookup(h.isDefined) }
      found.collect { case (k, Some(v)) => k -> v }.toMap ++ loaded
    } finally inflight.remove(flight, lock)
  }

  // versions only move forward: a newer one drops the entries, an
  // older one (a request that read the store just before a commit)
  // neither reads nor keeps any
  private def lookup(version: Long, keys: Seq[Key]): Seq[Option[Render.GroupRows]] = synchronized {
    if (version > current) {
      entries.clear(); held = 0L; current = version
    }
    if (version < current) keys.map(_ => None) else keys.map(k => Option(entries.get(k)))
  }

  private def store(version: Long, loaded: Seq[(Key, Render.GroupRows)]): Unit = synchronized {
    if (version == current) {
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

  /** A cache pinned to one snapshot version: a render given it must
    * open `points` from that snapshot.
    */
  final case class At(cache: RenderCache, version: Long)

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
}
