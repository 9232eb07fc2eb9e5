package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import graft.llm.Similarity

/** Streaming IVF index maintenance — the INGEST side of
  * [[graft.llm.AnnIndex]]'s contract. The serve-path operators
  * (`maxSimShortlist`, `ivfSearch(assignment = …)`) read the cell
  * assignment as ingest-owned state; this maintainer is what owns it:
  * per micro-batch, arriving vectors are assigned to their home cell
  * against the centroid table (one `ivfAssign` argmax over the
  * batch — O(|batch|·nlist·d), never the corpus) and appended to the
  * persisted assignment store.
  *
  * Exactly-once via the [[StreamAdmit.admitterIndexedIdempotent]]
  * pattern: each batch writes (mode overwrite) into its OWN
  * `batch_id=N` partition directory, so a replay after any crash
  * overwrites its previous partial attempt and the store never holds
  * duplicate or torn batches. Readers take the store as-is (the
  * assignment of a vector is deterministic in (vector, centroids), so
  * unlike the dedup admitter there is no pre-batch-view read needed —
  * a replayed batch writes byte-identical rows).
  *
  * Centroids are fixed for the life of the stream (the coarse
  * quantizer is trained offline and versioned, the FAISS deployment
  * model); retraining means a new store directory and a backfill.
  */
object StreamAnnIndex {
  /** foreachBatch hook maintaining `storeDir` as the (idCol,
    * centroid_id, sim, batch_id) assignment relation.
    */
  def maintainer(
      centroids: DataFrame,
      storeDir: String,
      idCol: String = "vec_id",
      embCol: String = "embedding"): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      Similarity.ivfAssign(batch, centroids, idCol, embCol)
        .write.mode("overwrite")
        .parquet(s"$storeDir/batch_id=$batchId")
    }

  /** The assignment relation as the serve path wants it (idCol,
    * centroid_id, sim) — empty-store-safe with the schema derived
    * from a template of the vector relation, and resolved through the
    * store's own filesystem (hdfs://, s3a://, …).
    */
  def assignment(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      template: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    def empty = Similarity.ivfAssign(template.limit(0), centroids, idCol, embCol)
    // Degrade to the typed empty relation ONLY for the state a replay
    // will overwrite into existence: a store with no COMMITTED parquet
    // yet (first batch crashed mid-write, leaving _temporary/_SPARK
    // staging debris). Decided by LISTING the store for committed data
    // files, not by catching every read failure — a corrupted or
    // unreadable store must fail loudly, never silently serve zero
    // results.
    if (!fs.exists(path) || !hasCommittedParquet(fs, path)) empty
    else spark.read.parquet(storeDir).drop("batch_id")
  }

  /** True iff the store holds at least one committed parquet data file
    * (ignoring `_temporary` staging trees and `_`/`.`-prefixed
    * metadata like _SUCCESS).
    */
  private[streaming] def hasCommittedParquet(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Boolean = {
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      val inStaging = {
        var p = f.getPath.getParent
        var staged = false
        while (p != null && !staged) {
          if (p.getName == "_temporary") staged = true
          p = p.getParent
        }
        staged
      }
      if (!inStaging && !name.startsWith("_") && !name.startsWith(".") &&
        name.endsWith(".parquet") && f.getLen > 0) return true
    }
    false
  }

  // ------------------------------------------------------------------
  // Centroid-drift re-indexing: the epoch'd store
  // ------------------------------------------------------------------
  // The flat [[maintainer]] assigns against FIXED boot centroids for
  // the life of the stream (the FAISS deployment model: quantizer
  // trained offline, versioned). A drifting corpus degrades cell
  // balance — and therefore probe recall — with no remedy short of a
  // new store. The epoch'd layout composes the pieces that already
  // exist (Lloyd training, the argmax assignment kernel, the
  // exactly-once batch overwrite) into a versioned rebuild:
  //
  //   base/_CURRENT              ← epoch pointer (temp + atomic rename)
  //   base/epoch=N/centroids/    ← the epoch's trained quantizer
  //   base/epoch=N/assignment/batch_id=B/   ← per-batch partitions
  //                                (B = -1 is the reindex backfill)
  //
  // [[reindex]] trains fresh centroids on the grown corpus, backfills
  // the full assignment under epoch N+1, then flips the pointer — an
  // atomic rename, so every reader resolves a COMPLETE epoch: before
  // the flip the old one, after it the new one, never a torn mix.
  // The per-batch [[epochMaintainer]] re-resolves the pointer each
  // micro-batch (one small FS read + a k-row centroid parquet — model
  // cost, not data cost), so post-swap arrivals index under the new
  // quantizer with no stream restart. Batches that commit between the
  // reindex SNAPSHOT and the pointer flip land in the old epoch only
  // — quiesce the stream across reindex, or include late arrivals in
  // the next reindex (the standard versioned-rebuild contract).

  private def fsOf(spark: org.apache.spark.sql.SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sessionState.newHadoopConf()), path)
  }

  def epochDir(base: String, epoch: Long): String = s"$base/epoch=$epoch"

  /** Epoch numbers of all `epoch=N` dirs under `base` (complete or
    * not — a crashed [[reindex]] leaves an incomplete one behind).
    */
  private def epochDirs(
      spark: org.apache.spark.sql.SparkSession, base: String): Seq[Long] = {
    val (fs, p) = fsOf(spark, base)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("epoch="))
      .flatMap(st =>
        scala.util.Try(st.getPath.getName.stripPrefix("epoch=").toLong).toOption)
  }

  /** The current serving epoch, None before the first [[reindex]].
    *
    * Resolution order: the `_CURRENT` pointer when present (the
    * normal path — [[writePointer]] only ever publishes a COMPLETE
    * epoch); otherwise the newest epoch dir carrying a `_COMPLETE`
    * marker. The fallback exists for a pointer lost to a legacy
    * (pre-atomic, delete-then-rename) flip window or an out-of-band
    * deletion: serving must degrade to the newest complete epoch,
    * never to an `IllegalStateException` mid-serve — and never to an
    * INCOMPLETE dir, which is why the marker (written after the
    * backfill, before the flip) gates the fallback rather than bare
    * dir existence.
    */
  def currentEpoch(
      spark: org.apache.spark.sql.SparkSession, base: String): Option[Long] = {
    val (fs, p) = fsOf(spark, s"$base/_CURRENT")
    if (fs.exists(p)) {
      val in = fs.open(p)
      val e = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        new String(buf.toByteArray, "UTF-8").trim.toLong
      } finally in.close()
      // upgrade path: epochs published before the _COMPLETE marker
      // existed carry none — a pointer that resolves is itself the
      // completeness proof ([[writePointer]] only publishes complete
      // epochs), so backfill the marker now; otherwise a LATER pointer
      // loss would degrade to None instead of this epoch. Best-effort:
      // a read-only filesystem must not fail the read path.
      val marker = new org.apache.hadoop.fs.Path(
        s"${epochDir(base, e)}/_COMPLETE")
      scala.util.Try {
        if (fs.exists(new org.apache.hadoop.fs.Path(epochDir(base, e))) &&
            !fs.exists(marker))
          fs.create(marker, true).close()
      }
      Some(e)
    } else
      epochDirs(spark, base)
        .filter(e => fs.exists(
          new org.apache.hadoop.fs.Path(s"${epochDir(base, e)}/_COMPLETE")))
        .sorted.lastOption
  }

  private def writePointer(
      spark: org.apache.spark.sql.SparkSession, base: String, epoch: Long): Unit = {
    val (fs, tmp) = fsOf(spark, s"$base/_CURRENT.tmp")
    val out = fs.create(tmp, true)
    try out.write(epoch.toString.getBytes("UTF-8")) finally out.close()
    val cur = fs.makeQualified(new org.apache.hadoop.fs.Path(s"$base/_CURRENT"))
    // atomic replace via FileContext: unlike FileSystem.rename, the
    // Rename.OVERWRITE contract replaces an existing destination in
    // ONE namespace operation on HDFS — no delete-then-rename window
    // in which a reader sees no pointer at all, no crash state that
    // loses it. Filesystems whose AbstractFileSystem shim degrades
    // the overwrite to non-atomic still never lose the pointer
    // durably: [[currentEpoch]] falls back to the newest _COMPLETE
    // epoch dir and [[reindex]] numbers past ALL existing dirs.
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      cur.toUri, spark.sessionState.newHadoopConf())
    fc.rename(fs.makeQualified(tmp), cur,
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Train → backfill → complete-marker → atomic swap. `vectors` is
    * the corpus snapshot to index (the caller owns the vector store);
    * returns the new epoch. Bootstrap is the same call on an empty
    * base (epoch 0).
    *
    * The next epoch numbers past the pointer AND every existing
    * `epoch=N` dir: a reindex that crashed after writing its dir but
    * before flipping the pointer leaves an orphan that must never be
    * overwritten-in-place by the retry (a reader resolving mid-retry
    * would see a torn mix); the retry builds N+1 and the orphan stays
    * inert until [[dropSuperseded]]-style housekeeping (or manual
    * cleanup) removes it.
    */
  def reindex(
      spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame,
      base: String,
      nlist: Int,
      iters: Int = 3,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Long = {
    val next = (currentEpoch(spark, base).toSeq ++ epochDirs(spark, base))
      .sorted.lastOption.map(_ + 1L).getOrElse(0L)
    val (_, cents) = Similarity.kmeansTrain(vectors, nlist, iters, idCol, embCol)
    cents.write.mode("overwrite").parquet(s"${epochDir(base, next)}/centroids")
    Similarity.ivfAssign(vectors, cents, idCol, embCol)
      .write.mode("overwrite")
      .parquet(s"${epochDir(base, next)}/assignment/batch_id=-1")
    val (fs, marker) = fsOf(spark, s"${epochDir(base, next)}/_COMPLETE")
    fs.create(marker, true).close()
    writePointer(spark, base, next)
    next
  }

  /** The current epoch's trained quantizer. */
  def epochCentroids(
      spark: org.apache.spark.sql.SparkSession, base: String): DataFrame = {
    val e = currentEpoch(spark, base).getOrElse(
      throw new IllegalStateException(s"no epoch at $base: reindex first"))
    spark.read.parquet(s"${epochDir(base, e)}/centroids")
  }

  /** [[maintainer]] for the epoch'd store: resolves the pointer per
    * micro-batch so arrivals always index under the SERVING quantizer.
    * Same exactly-once contract (replays overwrite their own
    * `batch_id=B` partition — within whichever epoch is current at
    * replay time, which is the epoch that needs the rows).
    */
  def epochMaintainer(
      spark: org.apache.spark.sql.SparkSession,
      base: String,
      idCol: String = "vec_id",
      embCol: String = "embedding"): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val e = currentEpoch(spark, base).getOrElse(
        throw new IllegalStateException(s"no epoch at $base: reindex first"))
      val cents = spark.read.parquet(s"${epochDir(base, e)}/centroids")
      Similarity.ivfAssign(batch, cents, idCol, embCol)
        .write.mode("overwrite")
        .parquet(s"${epochDir(base, e)}/assignment/batch_id=$batchId")
    }

  /** [[epochMaintainer]] with the automated drift trigger the epoch'd
    * store was built for: when [[maxCellShare]] exceeds `shareBar`
    * for `consecutive` micro-batches, the maintainer re-indexes
    * unprompted — train on a fresh corpus snapshot, backfill, atomic
    * pointer flip — so the quantizer lifecycle closes without an
    * operator watching the gauge. A static (balanced) stream never
    * crosses the bar and never re-indexes.
    *
    * The gauge is driver-held per-cell counts (≤ nlist entries —
    * model-sized, like the centroid table itself): (re)seeded from
    * the store ONCE per epoch (one aggregate job), then maintained
    * incrementally from each batch's own ≤ nlist-row cell histogram —
    * never a per-batch store re-read. Gauge state is approximate
    * under crash-replay (a replayed batch counts twice) and resets on
    * restart — safe for a trigger heuristic: the worst case is a
    * re-index a few batches early or late, and the store itself keeps
    * the exactly-once overwrite contract of [[epochMaintainer]].
    *
    * `corpus` supplies the training snapshot at trigger time (the
    * caller owns the vector store — same contract as [[reindex]]);
    * `nlistOf` sizes the new quantizer to the snapshot
    * ([[Similarity.ivfPlan]]'s √n rule by default), so a corpus that
    * grew since boot re-indexes into proportionally more cells.
    */
  def autoEpochMaintainer(
      spark: org.apache.spark.sql.SparkSession,
      base: String,
      corpus: () => DataFrame,
      shareBar: Double = 0.5,
      consecutive: Int = 2,
      iters: Int = 3,
      nlistOf: Long => Int = n => Similarity.ivfPlan(n),
      idCol: String = "vec_id",
      embCol: String = "embedding"): (DataFrame, Long) => Unit = {
    val counts = scala.collection.mutable.Map[Long, Long]()
    var countedEpoch = -1L
    var streak = 0
    (batch: DataFrame, batchId: Long) => {
      val e = currentEpoch(spark, base).getOrElse(
        throw new IllegalStateException(s"no epoch at $base: reindex first"))
      val cents = spark.read.parquet(s"${epochDir(base, e)}/centroids")
      // ONE kernel pass per micro-batch: the cached assignment feeds
      // both the store write and the gauge histogram (recomputing the
      // kernel for the histogram paid the batch codec twice)
      val assigned = Similarity.ivfAssign(batch, cents, idCol, embCol)
        .persist()
      try {
        assigned.write.mode("overwrite")
          .parquet(s"${epochDir(base, e)}/assignment/batch_id=$batchId")
        if (countedEpoch != e) {
          // first batch under this epoch: seed the gauge from the store
          // (includes the batch just written and any reindex backfill)
          counts.clear()
          assignment(spark, s"${epochDir(base, e)}/assignment",
              batch, cents, idCol, embCol)
            .groupBy("centroid_id").count().collect()
            .foreach(r => counts(r.getLong(0)) = r.getLong(1))
          countedEpoch = e
          streak = 0
        } else
          assigned
            .groupBy("centroid_id").count().collect()
            .foreach(r =>
              counts(r.getLong(0)) = counts.getOrElse(r.getLong(0), 0L) + r.getLong(1))
      } finally assigned.unpersist()
      val total = counts.values.sum
      val share = if (total == 0L) 0.0 else counts.values.max.toDouble / total
      if (share > shareBar) streak += 1 else streak = 0
      if (streak >= consecutive) {
        val snap = corpus()
        reindex(spark, snap, base, nlistOf(snap.count()), iters, idCol, embCol)
        streak = 0
        // the gauge re-seeds from the NEW epoch's backfill on the
        // next batch (countedEpoch no longer matches)
      }
    }
  }

  /** The serving assignment of the current epoch. */
  def epochAssignment(
      spark: org.apache.spark.sql.SparkSession,
      base: String,
      template: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val e = currentEpoch(spark, base).getOrElse(
      throw new IllegalStateException(s"no epoch at $base: reindex first"))
    assignment(spark, s"${epochDir(base, e)}/assignment", template,
      epochCentroids(spark, base), idCol, embCol)
  }

  /** Cell-balance gauge: the heaviest cell's share of the stored
    * vectors (1/nlist = perfectly balanced; →1 = index degenerating
    * to one giant cell, the drift symptom [[reindex]] exists to fix).
    */
  def maxCellShare(assignment: DataFrame): Double = {
    val counts = assignment.groupBy("centroid_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(_.getLong(1))
    if (counts.isEmpty) 0.0 else counts.max.toDouble / counts.sum
  }

  /** Group-granular membership for [[Similarity.maxSimShortlist]]:
    * the stored assignment joined back to the group column and
    * collapsed to DISTINCT (d_group, centroid_id).
    */
  def cellGroups(
      assignment: DataFrame,
      docVecs: DataFrame,
      groupCol: String = "group_id",
      idCol: String = "vec_id"): DataFrame =
    assignment
      .select(col(idCol).as("__id"), col("centroid_id"))
      .join(docVecs.select(col(idCol).as("__id"), col(groupCol).as("d_group")),
        Seq("__id"))
      .select(col("d_group"), col("centroid_id")).distinct()
}
