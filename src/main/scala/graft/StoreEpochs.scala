package graft

/** Store-epoch registry: the bridge between the HTTP server's
  * store-change signal (a new [[graft.engine.StoreSnapshot]] version)
  * and the session-lifetime memos ([[graft.engine.GraphiteTables]],
  * [[graft.llm.AnnIndex]]).
  *
  * The problem this closes: the derived-table and ANN-index memos are
  * keyed per (application, dir, kind) and — before epochs — never
  * invalidated, so a long-lived serving session over a store that
  * streaming ingest or compaction grows had exactly two choices:
  * serve stale memoized state forever, or set the process-wide
  * `graft.memo.disable` hatch and pay full re-derivation on EVERY
  * query. Neither is the production behavior: ingest-owned state
  * should be re-derived ONCE when the store actually changes.
  *
  * Mechanism: the server's snapshot version moves when ingest
  * publishes a commit to the store log. The first request that sees a
  * new version reports the snapshot's per-dir (bytes, fileCount)
  * totals here via [[observe]] (the log already names every file and
  * its size, so no FS call feeds it); the server's construction
  * reports the boot state. When a POSITIVE observation differs from
  * the recorded one, the dir's epoch is bumped and every registered
  * invalidator runs. The memo folds the current epoch into its cache
  * key and registers an invalidator that drops entries from older
  * epochs — so:
  *
  *  - a grown/compacted store ⇒ the first request after the commit
  *    misses the memo, re-derives ONCE, and is memoized again under
  *    the new epoch (no disable flag, no per-query re-derivation);
  *  - a static store ⇒ the version never moves, the epoch never
  *    moves, and every request keeps hitting the same materialized
  *    relation (zero new work);
  *  - an in-flight query that began before a bump inserts its result
  *    under the OLD epoch key — post-bump requests compute the new
  *    key and can never read it, so the race window closes at key
  *    level. The stale entry itself is dropped by the invalidator
  *    when the insert completed before the bump, and by the memo's
  *    post-insert epoch recheck when it completed after (the insert
  *    racing PAST the invalidator would otherwise pin the entry's
  *    checkpoint blocks until the next bump — forever on a store
  *    that then goes static).
  *
  * Epoch-in-key plus eviction (rather than eviction alone) is what
  * makes the bump race-safe without locking the memo hot path.
  *
  * Zero-observation conservatism: a (0, 0) reading after a positive
  * one never bumps. An add-only log never shrinks, but a caller that
  * stats a dir with `Tuning.dirStat` cannot tell a transient FS
  * failure (swallowed into 0) from an emptied store, so a store that
  * genuinely emptied re-derives on the next positive observation
  * instead.
  *
  * Evicted entries drop their last strong reference to the
  * localCheckpoint/checkpoint RDD; the ContextCleaner's reference
  * tracking unpersists the orphaned blocks asynchronously (reliable
  * checkpoint files under `graft.checkpoint.dir` are cleaned with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, the
  * standard Spark contract).
  *
  * Batch entrypoints (Verify / Bench / ScaleProbe) run no server, so
  * nothing observes, epochs stay 0, and their behavior is
  * byte-identical to the pre-epoch engine.
  */
object StoreEpochs {
  private final case class Stat(bytes: Long, files: Long)

  private val stats =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Stat]()
  private val epochs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  private val invalidators =
    new java.util.concurrent.CopyOnWriteArrayList[(String, String, Long) => Unit]()

  /** The dir's current epoch for this application (0 = never bumped —
    * the only epoch batch sessions ever see). */
  def current(appId: String, dir: String): Long =
    Option(epochs.get((appId, dir))).map(_.longValue).getOrElse(0L)

  /** Key suffix a memo holder folds into its cache key. */
  def keySuffix(appId: String, dir: String): String =
    s"@e${current(appId, dir)}"

  /** Register an invalidation callback fired as (appId, dir, newEpoch)
    * after each bump. Memo holders register ONE callback at class
    * init — before any entry can exist — and drop their entries for
    * (appId, dir) whose key carries an older epoch. */
  def onBump(f: (String, String, Long) => Unit): Unit = invalidators.add(f)

  /** Record one store-stat observation (from the server, at each new
    * snapshot version). Bumps the epoch — and fires invalidators —
    * only when a positive observation differs from the recorded one.
    * Returns the current epoch. */
  def observe(appId: String, dir: String, bytes: Long, files: Long): Long =
    synchronized {
      val k = (appId, dir)
      val s = Stat(bytes, files)
      val prev = stats.get(k)
      if (prev == null) {
        // boot observation: record the baseline, never invalidate —
        // the session's first derivations belong to this state
        stats.put(k, s)
        current(appId, dir)
      } else if (prev != s && bytes > 0) {
        stats.put(k, s)
        val e = current(appId, dir) + 1
        epochs.put(k, java.lang.Long.valueOf(e))
        invalidators.forEach(f => f(appId, dir, e))
        e
      } else current(appId, dir)
    }

  /** Test-only: forget everything about a dir (fresh-session shape). */
  private[graft] def reset(appId: String, dir: String): Unit = synchronized {
    stats.remove((appId, dir))
    epochs.remove((appId, dir))
  }
}
