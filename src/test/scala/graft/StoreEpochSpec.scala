package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Store-epoch memo invalidation — the last piece of the live-serving
  * story: ingest grows the store, the next observation of its
  * (bytes, files) bumps the dir's epoch, and the NEXT request
  * re-derives the
  * memoized tables ONCE (no `graft.memo.disable` hatch, no per-query
  * re-derivation); a static store never re-derives anything; the
  * served relation stays the memoized LogicalRDD the plan census
  * pins.
  */
class StoreEpochSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def writeEvents(
      dir: String, mode: String, ids: Range, eventType: String): Unit = {
    import spark.implicits._
    ids.map(i => (i.toLong, i.toLong * 1000000000L, i.toLong % 7,
        eventType, i.toDouble, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode(mode).parquet(s"$dir/events.parquet")
  }

  test("ingest growth + tick re-derives once; static store re-derives nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-epoch")
      .toFile.getAbsolutePath

    writeEvents(dir, "overwrite", 0 until 100, "click")
    val app = spark.sparkContext.applicationId
    def observe(): Unit = {
      val (bytes, files) = Tuning.dirStat(dir, spark)
      StoreEpochs.observe(app, dir, bytes, files)
    }
    observe() // boot stat = the epoch baseline

    def viewPaths(df: org.apache.spark.sql.DataFrame): Long =
      df.where(col("path").startsWith("events.view")).count()

    val i1 = graft.engine.GraphiteTables.index(spark, dir)
    assert(viewPaths(i1) == 0L)
    assert(graft.engine.GraphiteTables.index(spark, dir) eq i1,
      "same epoch must return the same memoized relation")
    // the memoized relation is a LogicalRDD — what the census pins
    assert(i1.queryExecution.analyzed.toString.contains("LogicalRDD"))

    // ingest grows the store with a NEW metric family; BEFORE the
    // next observation the memo still serves the boot-epoch state
    writeEvents(dir, "append", 100 until 150, "view")
    assert(graft.engine.GraphiteTables.index(spark, dir) eq i1)

    // the observation sees the changed (bytes, files) stat and bumps
    observe()
    val i2 = graft.engine.GraphiteTables.index(spark, dir)
    assert(!(i2 eq i1), "post-bump request must re-derive")
    assert(viewPaths(i2) > 0L,
      "re-derived relation must see the ingested rows through the memoized path")
    assert(i2.queryExecution.analyzed.toString.contains("LogicalRDD"),
      "post-bump relation is memoized again, not the raw plan")

    // static store: further observations see the same stat — no bump,
    // no re-derivation, the same materialized relation keeps serving
    observe()
    observe()
    assert(graft.engine.GraphiteTables.index(spark, dir) eq i2)

    // the ANN-index memo rides the same epoch signal
    import spark.implicits._
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("centroid_id", "centroid")
    val a1 = graft.llm.AnnIndex.ivfCells(spark, dir, vecs, cents, nlist = 2)
    assert(graft.llm.AnnIndex.ivfCells(spark, dir, vecs, cents, nlist = 2) eq a1)
    writeEvents(dir, "append", 150 until 160, "click")
    observe()
    val a2 = graft.llm.AnnIndex.ivfCells(spark, dir, vecs, cents, nlist = 2)
    assert(!(a2 eq a1), "AnnIndex memo must re-key on the epoch bump")
    assert(a2.count() == 2L)
  }

  test("drift re-index reaches the memoized serve path at the next tick") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-epochserve")
      .toFile.getAbsolutePath + "/annstore"
    def v(a: Double, b: Double) = Seq(a.toFloat, b.toFloat)
    val boot = Seq((0L, v(1, 0.1)), (1L, v(0.1, 1)), (2L, v(1, 0.2)),
      (3L, v(0.2, 1))).toDF("vec_id", "embedding")

    graft.streaming.StreamAnnIndex.reindex(spark, boot, base,
      nlist = 2, iters = 2)
    def observe(): Unit = {
      val (bytes, files) = Tuning.dirStat(base, spark)
      StoreEpochs.observe(spark.sparkContext.applicationId, base, bytes, files)
    }
    observe()

    val a0 = graft.llm.AnnIndex.epochCells(spark, base, boot)
    assert(a0.count() == 4L)
    assert(graft.llm.AnnIndex.epochCells(spark, base, boot) eq a0)

    // drift + re-index swaps the store to epoch 1 — the memo still
    // serves epoch 0 until the store's next observation
    val all = boot.union(
      Seq((100L, v(0.7, 0.7)), (101L, v(0.7, 0.71))).toDF("vec_id", "embedding"))
    graft.streaming.StreamAnnIndex.reindex(spark, all, base,
      nlist = 2, iters = 2)
    assert(graft.llm.AnnIndex.epochCells(spark, base, boot) eq a0,
      "requests before the observation keep the memoized epoch-0 relation")

    observe()
    val a1 = graft.llm.AnnIndex.epochCells(spark, base, boot)
    assert(!(a1 eq a0), "the observation must re-key the epoch'd serve memo")
    assert(a1.count() == 6L,
      "the serve path after it must read the re-indexed epoch")
  }

  test("zero observations never bump (transient stat failure ≠ store change)") {
    val app = "test-app"
    val dir = "/no/such/dir"
    StoreEpochs.reset(app, dir)
    StoreEpochs.observe(app, dir, 100L, 2L) // boot
    assert(StoreEpochs.current(app, dir) == 0L)
    StoreEpochs.observe(app, dir, 0L, 0L) // stat failure reads as zero
    assert(StoreEpochs.current(app, dir) == 0L,
      "a zero reading must not collapse the memo state")
    StoreEpochs.observe(app, dir, 120L, 3L)
    assert(StoreEpochs.current(app, dir) == 1L)
    StoreEpochs.observe(app, dir, 120L, 3L) // unchanged positive stat
    assert(StoreEpochs.current(app, dir) == 1L)
  }

  test("a commit bumps the store's epoch at the server's next request, not at its next tick") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-epochcommit")
      .toFile.getAbsolutePath + "/t"
    def commit(line: String): Unit =
      graft.streaming.Ingest.processBatch(graft.streaming.Ingest.parseLines(Seq(line).toDF("value")), dir)
    commit("ep.a 1 1704067200")
    val api = new graft.api.HttpApi(spark, dir,
      graft.api.HttpApi.Config(
        rules = graft.rollup.Rules(Nil, defaultPrecision = 10L))).start()
    val client = java.net.http.HttpClient.newHttpClient()
    def request(): Unit = {
      val r = client.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(api.address + "/alive")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.discarding())
      assert(r.statusCode() == 200)
    }
    val app = spark.sparkContext.applicationId
    try {
      request()
      val e0 = StoreEpochs.current(app, dir)
      commit("ep.a 2 1704067210")
      assert(StoreEpochs.current(app, dir) == e0, "nothing observes between requests")
      request()
      assert(StoreEpochs.current(app, dir) == e0 + 1, "the next request sees the commit")
      request()
      assert(StoreEpochs.current(app, dir) == e0 + 1, "no commit, no bump")
    } finally api.stop()
  }
}
