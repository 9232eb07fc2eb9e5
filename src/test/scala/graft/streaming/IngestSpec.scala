package graft.streaming

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.engine.{Finder, StoreSnapshot}

/** Streaming ingest: line parse, points append, index ancestor
  * expansion, tags maintenance (SURVEY §2.9, `doc/index-table.md:20-38`).
  */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** One commit, checked to leave no entry in Spark's cache. The
    * session is shared with every other suite, so the cache is emptied
    * first: what is there afterwards is what the commit left.
    */
  private def commit(parsed: DataFrame, store: String): Unit = {
    spark.catalog.clearCache()
    Ingest.processBatch(parsed, store)
    assert(spark.sharedState.cacheManager.isEmpty, "a commit left an entry in Spark's cache")
  }

  test("parseLines: plain, tagged (sorted tags), malformed dropped") {
    import spark.implicits._
    val lines = Seq(
      "lorem.ipsum.dolor 1.5 1704067200",
      "metric1;zz=2;aa=1 2.0 1704067260",
      "garbage",
      "bad.value abc 1704067200").toDF("value")
    val parsed = Ingest.parseLines(lines).collect()
    assert(parsed.length == 2)
    val plain = parsed.find(_.getAs[String]("path") == "lorem.ipsum.dolor").get
    assert(plain.getAs[Double]("value") == 1.5)
    assert(plain.getAs[Long]("time") == 1704067200L)
    assert(plain.getAs[String]("path_reversed") == "dolor.ipsum.lorem")
    assert(!plain.getAs[Boolean]("is_tagged"))
    val tagged = parsed.find(_.getAs[Boolean]("is_tagged")).get
    assert(tagged.getAs[String]("path") == "metric1?aa=1&zz=2") // sorted
    assert(tagged.getAs[String]("path_reversed") == null)
  }

  test("end-to-end: memory stream → points + index + tags; finder reads the ingested index") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ingest").toFile.getAbsolutePath
    val stream = MemoryStream[String]
    stream.addData(
      "lorem.ipsum.dolor.sit.amet 1.0 1557827619",
      "lorem.ipsum.other 2.0 1557827620",
      "m;env=prod;dc=ams 3.0 1557827621")
    spark.catalog.clearCache()
    val q = Ingest.stream(stream.toDF(), s"$dir/tables", s"$dir/ckpt").start()
    q.awaitTermination(60000)
    assert(spark.sharedState.cacheManager.isEmpty, "the stream's commit left an entry in Spark's cache")

    val points = spark.read.parquet(s"$dir/tables/points")
    assert(points.count() == 3)

    val index = spark.read.parquet(s"$dir/tables/index")
    // doc/index-table.md example: 5-level metric → 8 rows
    val amet = index.where(col("path").contains("amet") || col("path").startsWith("lorem"))
    assert(amet.where(col("level") === 20002 && col("path") === "lorem.ipsum.").count() == 1)
    assert(amet.where(col("level") === 10005 &&
      col("path") === "amet.sit.dolor.ipsum.lorem").count() == 1)
    assert(amet.where(col("level") === 5).count() == 1)

    val found = Finder.find(index, "lorem.ipsum.*").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSet
    assert(found == Set(("lorem.ipsum.dolor", false), ("lorem.ipsum.other", true)))

    val tags = spark.read.parquet(s"$dir/tables/tags")
    val tag1s = tags.select("tag1").as[String].collect().toSet
    assert(tag1s == Set("__name__=m", "env=prod", "dc=ams"))
    assert(tags.select("path").distinct().as[String].collect().toSet ==
      Set("m?dc=ams&env=prod")) // tags sorted in storage form
  }

  test("streaming tumbling rollup with watermark emits closed windows") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[String]
    // two windows for a.b; duplicates within a window average together
    stream.addData(
      "a.b 1.0 100", "a.b 3.0 105", // window [100, 110)
      "a.b 5.0 110",                // window [110, 120)
      "a.b 9.0 500")                // far future: advances watermark past both
    val q = Ingest.streamingRollup(stream.toDF(), stepSeconds = 10)
      .writeStream.format("memory").queryName("roll").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("roll").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.contains(("a.b", 100L, 2.0, 2L)))
    assert(rows.contains(("a.b", 110L, 5.0, 1L)))
  }

  test("in-stream dedup drops exact duplicates within the watermark") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[String]
    stream.addData("a.b 1.0 100", "a.b 1.0 100", "a.c 2.0 100")
    val q = Ingest.withStreamDedup(Ingest.parseLines(stream.toDF()))
      .writeStream.format("memory").queryName("dedup").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("dedup").count() == 2)
  }

  test("ingested points table partition-prunes on date") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toFile.getAbsolutePath
    val lines = Seq(
      "a.b 1.0 1704067200",  // 2024-01-01
      "a.b 2.0 1704153600",  // 2024-01-02
      "a.b 3.0 1704240000"). // 2024-01-03
      toDF("value")
    commit(Ingest.parseLines(lines), s"$dir/t")
    val pts = spark.read.parquet(s"$dir/t/points")
      .where(col("date") === "2024-01-02")
    // date is a physical partition column of the ingested layout: the
    // filter must prune directories, not scan+filter rows
    val plan = pts.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("(date#") || plan.contains("date = 2024-01-02"),
      s"no partition filter in plan:\n$plan")
    assert(pts.count() == 1)
  }

  test("single-segment metric: no junk ancestor rows, clean find") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-seg1").toFile.getAbsolutePath
    commit(Ingest.parseLines(Seq("cpu 1.0 1700000000").toDF("value")), s"$dir/t")
    val index = spark.read.parquet(s"$dir/t/index")
    // no bogus '.'/'cpu.' rows from Spark's descending sequence(1, 0)
    assert(index.where(col("path") === "." || col("path") === "cpu.").count() == 0)
    val found = Finder.find(index, "cpu").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSet
    assert(found == Set(("cpu", true)))
  }

  test("late duplicate across batches resolved by read-side dedup") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ingest2").toFile.getAbsolutePath
    // same (path, time) written twice with different values: the parse
    // derives version from time, so simulate a rewrite via processBatch
    val b1 = Ingest.parseLines(Seq("a.b 1.0 100").toDF("value"))
      .withColumn("version", lit(1L))
    val b2 = Ingest.parseLines(Seq("a.b 9.0 100").toDF("value"))
      .withColumn("version", lit(2L))
    commit(b1, s"$dir/tables")
    commit(b2, s"$dir/tables")
    val deduped = graft.engine.Render.dedup(spark.read.parquet(s"$dir/tables/points"))
    val rows = deduped.collect()
    assert(rows.length == 1 && rows.head.getAs[Double]("value") == 9.0)
  }

  /** One commit's batch as a file source reads it: 20 plain series
    * and one tagged one, at time `t`.
    */
  private def textBatch(dir: String, t: Long) = {
    val file = Paths.get(dir, s"lines-$t.txt")
    val lines = (0 until 20).map(i => s"ingest.host$i.cpu $i.0 $t") :+ s"marker;env=test 20.0 $t"
    Files.write(file, lines.asJava)
    Ingest.parseLines(spark.read.text(file.toString))
  }

  /** The store's log entries, without their hidden `.crc` files. */
  private def logEntries(store: String): Seq[String] =
    Option(Paths.get(store, StoreSnapshot.LogDir).toFile.list())
      .fold(Seq.empty[String])(_.toSeq.filterNot(_.startsWith(".")))

  test("a commit leaves no entry in Spark's cache") {
    val dir = Files.createTempDirectory("graft-uncache").toFile.getAbsolutePath
    for (t <- Seq(1704067200L, 1704067260L)) commit(textBatch(dir, t), s"$dir/t")
    assert(logEntries(s"$dir/t").sorted == Seq("0", "1"))
    assert(spark.read.parquet(s"$dir/t/points").count() == 42)
  }

  test("a failed commit publishes no log entry and leaves no entry in Spark's cache") {
    val dir = Files.createTempDirectory("graft-failed-commit").toFile.getAbsolutePath
    val store = s"$dir/t"
    // the index table's path is a regular file, so the index write
    // throws after the points write and the aggregate's cache
    Files.createDirectories(Paths.get(store))
    Files.write(Paths.get(store, "index"), Array[Byte](1))
    spark.catalog.clearCache()
    intercept[Exception](Ingest.processBatch(textBatch(dir, 1704067200L), store))
    assert(logEntries(store).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  /** Stage names of every job started while `body` ran. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val jobs = mutable.ArrayBuffer.empty[String]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += j.stageInfos.map(_.name).mkString(" | ")
      }
    }
    val sc = spark.sparkContext
    ListenerBusSync.await(sc)
    sc.addSparkListener(l)
    try {
      body
      ListenerBusSync.await(sc)
    } finally sc.removeSparkListener(l)
    jobs.synchronized(jobs.toList)
  }

  // the points write, the aggregate's shuffle, then the index and tags
  // writes with the query stages AQE splits them into; pinned exactly,
  // as ServingJobFloorSpec pins the render's, so that a change that
  // adds a job to every commit fails here. A commit of the same rows
  // as an earlier one runs them all again: an aggregate left cached by
  // the first would serve the second with 4.
  test("a commit runs exactly 6 Spark jobs, a repeat of its rows too") {
    import spark.implicits._
    val lines = (0 until 100).map(i => s"jobs.host$i.cpu $i.0 1704067200") :+ "jobs;env=test 100.0 1704067200"
    for (k <- 1 to 2) {
      val dir = Files.createTempDirectory("graft-commit-jobs").toFile.getAbsolutePath
      val jobs = jobsOf(Ingest.processBatch(Ingest.parseLines(lines.toDF("value")), s"$dir/t"))
      assert(jobs.length == 6, s"commit $k, ${jobs.length} jobs:\n${jobs.mkString("\n")}")
    }
  }
}
