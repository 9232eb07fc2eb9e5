package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.llm.Similarity

/** Streaming IVF index maintenance: the persisted assignment grows in
  * lockstep with arrivals, replays overwrite their own partition
  * (exactly-once), and the served two-stage MaxSim over the streamed
  * index equals the inline-computed form — the ingest side of the
  * AnnIndex contract, proven end-to-end.
  */
class StreamAnnIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("streamed assignment == batch ivfAssign; serve path reads the store") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-annidx").toFile.getAbsolutePath
    val storeDir = s"$dir/ivf"
    // two well-separated cells on the axes
    val centroids = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("centroid_id", "centroid")

    val b1 = Seq((100L, Seq(0.9f, 0.1f)), (101L, Seq(0.1f, 0.9f)))
    val b2 = Seq((200L, Seq(0.95f, 0.05f)), (201L, Seq(0.05f, 0.95f)))

    val stream = MemoryStream[(Long, Seq[Float])]
    val q = stream.toDF().toDF("vec_id", "embedding")
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(StreamAnnIndex.maintainer(centroids, storeDir))
      .start()
    try {
      stream.addData(b1: _*)
      q.processAllAvailable()
      val all1 = b1.toDF("vec_id", "embedding")
      def stored() = StreamAnnIndex.assignment(
        spark, storeDir, all1, centroids)
        .select("vec_id", "centroid_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

      stream.addData(b2: _*)
      q.processAllAvailable()

      val arrived = (b1 ++ b2).toDF("vec_id", "embedding")
      val expect = Similarity.ivfAssign(arrived, centroids)
        .select("vec_id", "centroid_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(stored() == expect)
      // assignments landed in the geometric home cells
      assert(expect == Set(100L -> 0L, 200L -> 0L, 101L -> 1L, 201L -> 1L))
    } finally q.stop()
  }

  test("replay overwrites its own partition; served MaxSim equals inline") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-annidx2").toFile.getAbsolutePath
    val storeDir = s"$dir/ivf"
    val centroids = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("centroid_id", "centroid")
    val docs = Seq(
      (10L, 100L, Seq(0.9f, 0.1f)), (10L, 101L, Seq(0.95f, 0.05f)),
      (20L, 200L, Seq(0.1f, 0.9f)), (20L, 201L, Seq(0.05f, 0.95f))
    ).toDF("group_id", "vec_id", "embedding")
    val maintain = StreamAnnIndex.maintainer(centroids, storeDir)

    // batch 0 arrives, then is REPLAYED (crash-recovery path): the
    // partition is overwritten, not duplicated
    maintain(docs.select("vec_id", "embedding"), 0L)
    maintain(docs.select("vec_id", "embedding"), 0L)
    val stored = StreamAnnIndex.assignment(spark, storeDir, docs, centroids)
    assert(stored.count() == 4L)

    // the serve path over the STREAMED index == the inline form
    val queries = Seq((0L, 1L, Seq(1f, 0f)), (0L, 2L, Seq(0.8f, 0.2f)))
      .toDF("group_id", "vec_id", "embedding")
    val cg = StreamAnnIndex.cellGroups(stored, docs)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))
    val served = Similarity.maxSimShortlist(docs, queries, centroids,
      k = 3, nprobe = 2, cellGroups = Some(cg)).collect().map(key).toSet
    val inline = Similarity.maxSimShortlist(docs, queries, centroids,
      k = 3, nprobe = 2).collect().map(key).toSet
    assert(served == inline && served.nonEmpty)

    // empty store: assignment degrades to a typed empty relation
    val empty = StreamAnnIndex.assignment(
      spark, s"$dir/nowhere", docs, centroids)
    assert(empty.isEmpty)
    assert(empty.columns.toSeq == Seq("vec_id", "centroid_id", "sim"))
  }

  test("centroid drift: re-index restores cell balance, atomic epoch swap, " +
      "served == inline on the new quantizer") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-annepoch").toFile
      .getAbsolutePath + "/store"

    // boot corpus: two clean clusters on axes e1/e2 (ids interleaved so
    // the lowest-id Lloyd init spreads across both)
    def v(a: Double, b: Double, c: Double) = Seq(a.toFloat, b.toFloat, c.toFloat, 0f)
    val boot = Seq(
      0L -> v(1, 0.10, 0), 1L -> v(0.15, 1, 0), 2L -> v(1, 0.30, 0),
      3L -> v(0.25, 1, 0), 4L -> v(1, 0.12, 0), 5L -> v(0.05, 1, 0))
      .map { case (id, e) => (id, e) }.toDF("vec_id", "embedding")

    // bootstrap = the same reindex call on an empty base → epoch 0
    assert(StreamAnnIndex.currentEpoch(spark, base).isEmpty)
    assert(StreamAnnIndex.reindex(spark, boot, base, nlist = 2, iters = 2) == 0L)
    assert(StreamAnnIndex.currentEpoch(spark, base).contains(0L))
    assert(StreamAnnIndex.maxCellShare(
      StreamAnnIndex.epochAssignment(spark, base, boot)) == 0.5)

    // the stream drifts into a direction the boot quantizer never saw:
    // every arrival piles into ONE fixed cell (the drift symptom)
    val drift = (100L until 108L).map(id => (id, v(0.05, 0, 0.998)))
    val maintain = StreamAnnIndex.epochMaintainer(spark, base)
    maintain(drift.take(4).toDF("vec_id", "embedding"), 0L)
    maintain(drift.drop(4).toDF("vec_id", "embedding"), 1L)

    val all = boot.union(drift.toDF("vec_id", "embedding"))
    val degraded = StreamAnnIndex.epochAssignment(spark, base, all)
    assert(degraded.count() == 14L)
    val shareBefore = StreamAnnIndex.maxCellShare(degraded)
    assert(shareBefore >= 0.75, s"drift should degrade balance, got $shareBefore")
    // served == inline on the OLD quantizer (the epoch'd read is still
    // the exactly-once store contract)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "centroid_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(pairs(degraded) == pairs(Similarity.ivfAssign(
      all, StreamAnnIndex.epochCentroids(spark, base))))

    // re-index on the grown corpus: retrain, backfill, atomic flip
    assert(StreamAnnIndex.reindex(spark, all, base, nlist = 3, iters = 3) == 1L)
    assert(StreamAnnIndex.currentEpoch(spark, base).contains(1L))
    val restored = StreamAnnIndex.epochAssignment(spark, base, all)
    assert(restored.count() == 14L)
    val shareAfter = StreamAnnIndex.maxCellShare(restored)
    assert(shareAfter <= 0.65,
      s"re-index should restore balance: $shareBefore -> $shareAfter")
    // served == inline on the NEW quantizer
    assert(pairs(restored) == pairs(Similarity.ivfAssign(
      all, StreamAnnIndex.epochCentroids(spark, base))))

    // post-swap arrivals index under the new quantizer, no restart:
    // the maintainer re-resolves the pointer per batch
    maintain(Seq((200L, v(0.05, 0, 0.998))).toDF("vec_id", "embedding"), 2L)
    val after = StreamAnnIndex.epochAssignment(spark, base, all)
    assert(after.count() == 15L)
    val driftCell = pairs(restored).collect {
      case (id, c) if id >= 100L => c
    }.head
    assert(pairs(after).contains(200L -> driftCell),
      "post-swap arrival must land in the drift cluster's trained cell")
  }

  test("autoEpochMaintainer: drift over the bar re-indexes unprompted; " +
      "a balanced stream never does; serve == inline across the swap") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-annauto").toFile
      .getAbsolutePath + "/store"
    def v(a: Double, b: Double, c: Double) = Seq(a.toFloat, b.toFloat, c.toFloat, 0f)
    val boot = Seq(
      0L -> v(1, 0.10, 0), 1L -> v(0.15, 1, 0), 2L -> v(1, 0.30, 0),
      3L -> v(0.25, 1, 0), 4L -> v(1, 0.12, 0), 5L -> v(0.05, 1, 0))
      .toDF("vec_id", "embedding")
    assert(StreamAnnIndex.reindex(spark, boot, base, nlist = 2, iters = 2) == 0L)

    var arrived = Seq.empty[(Long, Seq[Float])]
    def corpus() = boot.union(arrived.toDF("vec_id", "embedding"))
    val maintain = StreamAnnIndex.autoEpochMaintainer(
      spark, base, () => corpus(), shareBar = 0.6, consecutive = 2,
      iters = 2, nlistOf = _ => 3)

    // balanced arrivals: share stays at 0.5 — the bar is never
    // crossed and the static stream NEVER re-indexes
    val bal1 = Seq(10L -> v(0.9, 0.1, 0), 11L -> v(0.1, 0.9, 0))
    val bal2 = Seq(12L -> v(0.95, 0.2, 0), 13L -> v(0.2, 0.95, 0))
    arrived ++= bal1; maintain(bal1.toDF("vec_id", "embedding"), 0L)
    arrived ++= bal2; maintain(bal2.toDF("vec_id", "embedding"), 1L)
    assert(StreamAnnIndex.currentEpoch(spark, base).contains(0L),
      "balanced stream must not re-index")

    // drift: arrivals pile into one boot cell. One batch over the bar
    // is not enough (streak 1 < consecutive 2)…
    val d1 = (100L until 106L).map(id => id -> v(0.05, 0, 0.998))
    arrived ++= d1; maintain(d1.toDF("vec_id", "embedding"), 2L)
    assert(StreamAnnIndex.currentEpoch(spark, base).contains(0L),
      "one over-bar batch must not trigger (consecutive = 2)")
    // …the second consecutive over-bar batch triggers the re-index
    val d2 = (106L until 112L).map(id => id -> v(0.04, 0, 0.990))
    arrived ++= d2; maintain(d2.toDF("vec_id", "embedding"), 3L)
    assert(StreamAnnIndex.currentEpoch(spark, base).contains(1L),
      "maintainer must re-index unprompted after 2 over-bar batches")

    // the new epoch serves the FULL corpus, row-identical to the
    // inline assignment under the new quantizer
    val all = corpus()
    val served = StreamAnnIndex.epochAssignment(spark, base, all)
    assert(served.count() == 22L)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "centroid_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(pairs(served) == pairs(Similarity.ivfAssign(
      all, StreamAnnIndex.epochCentroids(spark, base))))
    // the re-trained quantizer restores balance below the bar
    assert(StreamAnnIndex.maxCellShare(served) <= 0.6)

    // post-swap arrivals: gauge re-seeds under epoch 1, balance holds,
    // no further re-index
    val post = Seq(200L -> v(0.9, 0.05, 0))
    arrived ++= post; maintain(post.toDF("vec_id", "embedding"), 4L)
    assert(StreamAnnIndex.currentEpoch(spark, base).contains(1L))
    assert(StreamAnnIndex.epochAssignment(spark, base, all).count() == 23L)
  }

  test("pointer loss + orphaned epoch dir: serve falls back to the newest " +
      "COMPLETE epoch, reindex numbers past the orphan") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-annptr").toFile
      .getAbsolutePath + "/store"
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    assert(StreamAnnIndex.reindex(spark, vecs, base, nlist = 2, iters = 1) == 0L)
    assert(StreamAnnIndex.reindex(spark, vecs, base, nlist = 2, iters = 1) == 1L)

    // a crashed reindex attempt: dir present, no _COMPLETE, no flip
    assert(new java.io.File(s"$base/epoch=5/centroids").mkdirs())
    // pointer lost out-of-band (legacy non-atomic flip window)
    assert(new java.io.File(s"$base/_CURRENT").delete())

    // serve degrades to the newest COMPLETE epoch — never the torn orphan
    assert(StreamAnnIndex.currentEpoch(spark, base).contains(1L))
    assert(StreamAnnIndex.epochAssignment(spark, base, vecs).count() == 4L)

    // the retry numbers PAST the orphan (it is never overwritten in
    // place — a reader resolving mid-retry must not see a torn mix)
    assert(StreamAnnIndex.reindex(spark, vecs, base, nlist = 2, iters = 1) == 6L)
    assert(StreamAnnIndex.currentEpoch(spark, base).contains(6L))
    assert(StreamAnnIndex.epochAssignment(spark, base, vecs).count() == 4L)
  }

  test("degrade path is narrow: staging debris → empty, corruption → throws") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-annidx3").toFile.getAbsolutePath
    val centroids = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("centroid_id", "centroid")
    val template = Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding")

    // a store holding only a crashed first batch's _temporary debris is
    // the not-yet-committed state: typed empty, no throw
    val staging = new java.io.File(s"$dir/ivf/batch_id=0/_temporary/0")
    assert(staging.mkdirs())
    java.nio.file.Files.write(
      staging.toPath.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    val empty = StreamAnnIndex.assignment(spark, s"$dir/ivf", template, centroids)
    assert(empty.isEmpty)

    // a COMMITTED but unreadable file is corruption, not first-batch
    // state — it must fail loudly, never silently serve zero results
    val bad = new java.io.File(s"$dir/ivf2/batch_id=0")
    assert(bad.mkdirs())
    java.nio.file.Files.write(
      bad.toPath.resolve("part-00000-garbage.parquet"),
      "not a parquet file".getBytes)
    intercept[Exception] {
      StreamAnnIndex.assignment(spark, s"$dir/ivf2", template, centroids)
        .collect()
    }
  }
}
