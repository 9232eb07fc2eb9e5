package graft.engine

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.api.HttpApi
import graft.rollup.{AggFunc, Rules}
import graft.streaming.Ingest

/** A local file system that records the directory listings, stats and
  * opens made through it. Registered per session (`fs.file.impl` with
  * the FS cache off), so only [[StoreSnapshotSpec.session]] uses it.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  override def listStatus(f: Path): Array[FileStatus] = { lists.add(f.toString); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.add(f.toString); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    lists.add(f.toString); super.listStatusIterator(f)
  }
  override def getFileStatus(f: Path): FileStatus = { stats.incrementAndGet(); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { opens.add(f.toString); super.open(f, bufferSize) }
}

object CountingFs {
  val lists = new ConcurrentLinkedQueue[String]()
  val stats = new AtomicLong
  val opens = new ConcurrentLinkedQueue[String]()

  /** (listed dirs, stats, opened files) made by `body`. */
  def during[T](body: => T): (Seq[String], Long, Seq[String], T) = synchronized {
    lists.clear(); stats.set(0); opens.clear()
    val out = body
    (lists.asScala.toSeq, stats.get, opens.asScala.toSeq, out)
  }
}

/** The store snapshot a server reads through: a cache hit makes no
  * directory listing and at most one stat, a miss lists nothing under
  * `points/`, and both stay so at 4 and at 400 part files; a store
  * without a log is adopted with one listing pass; a compacted log
  * reopens to the same file set reading fewer than `CompactEvery`
  * entries; files moved in by a commit that never published stay
  * invisible; and an entry number is never published twice.
  */
class StoreSnapshotSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val session: SparkSession = {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[CountingFs].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s
  }

  private val rnow = 1704067200L
  private val rules = Rules(Nil, defaultPrecision = 10L, defaultFunction = Some(AggFunc.Avg))
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def lines(paths: Int, from: Long, n: Int): Seq[String] =
    for (p <- 0 until paths; k <- 0 until n) yield s"snap.p$p ${p + k} ${from + 10L * k}"

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft-snapshot-$tag").toFile.getAbsolutePath + "/t"

  /** A store whose one commit leaves about `parts` part files in `points`. */
  private def store(parts: Int): String = {
    val dir = newDir(s"p$parts")
    import spark.implicits._
    Ingest.processBatch(Ingest.parseLines(lines(40, rnow - 600, 60).toDF("value")).repartition(parts), dir)
    dir
  }

  private def pointFiles(dir: String): Int =
    Files.walk(new java.io.File(s"$dir/points").toPath).iterator.asScala
      .count(p => p.getFileName.toString.endsWith(".parquet"))

  private def body(api: HttpApi, from: Long): String = {
    val r = client.send(HttpRequest.newBuilder(URI.create(
        s"${api.address}/render/?target=snap.*&format=json&from=$from&until=$rnow")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
    r.body()
  }

  private def rows(df: DataFrame): Set[String] =
    df.select("path", "time", "value").collect().map(_.toString).toSet

  test("a hit lists nothing and stats once, a miss lists nothing under points/, at 4 and 400 part files") {
    val counts = for (parts <- Seq(4, 400)) yield {
      val dir = store(parts)
      // round-robin rows: nearly every task writes a file
      assert(pointFiles(dir) >= parts * 9 / 10, pointFiles(dir))
      val api = new HttpApi(session, dir,
        HttpApi.Config(rules = rules, findCache = Some(FindCache.Config(defaultTimeoutSec = 300))),
        clock = () => Instant.ofEpochSecond(rnow + 5)).start()
      try {
        val (_, _, _, first) = CountingFs.during(body(api, rnow - 300))
        val (hitLists, hitStats, _, hit) = CountingFs.during(body(api, rnow - 300))
        assert(hit == first)
        // another window: a rolled-row miss over the cached find
        val (missLists, _, _, _) = CountingFs.during(body(api, rnow - 200))
        assert(hitLists.isEmpty, s"$parts part files: a hit listed $hitLists")
        assert(hitStats <= 1, s"$parts part files: a hit made $hitStats stats")
        assert(!missLists.exists(_.contains("/points")), s"$parts part files: a miss listed $missLists")
        (hitLists.size, hitStats, missLists.count(_.contains("/points")))
      } finally api.stop()
    }
    assert(counts.distinct.size == 1, counts)
  }

  test("a store without a log is adopted with one listing pass, then probed with one stat") {
    val dir = store(3)
    val logged = StoreSnapshot.open(session, dir)
    // the same files, as a store written before the log holds them
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/${StoreSnapshot.LogDir}"))

    val (lists, _, _, reader) = CountingFs.during(new StoreSnapshot(session, dir))
    assert(lists.nonEmpty && lists.distinct == lists, s"each dir listed once: $lists")
    assert(reader.last.version == 0L)
    for (t <- StoreSnapshot.Tables)
      assert(reader.last.files(t).map(_.getPath).toSet == logged.files(t).map(_.getPath).toSet, t)
    assert(rows(Store.points(session, reader.last)) == rows(Store.points(session, logged)))

    val (again, stats, _, same) = CountingFs.during(reader.current())
    assert(again.isEmpty && stats == 1 && same.version == 0L)

    // the first logged commit keeps what was there before the log
    import spark.implicits._
    Ingest.processBatch(Ingest.parseLines(Seq(s"snap.new 1 $rnow").toDF("value")), dir)
    val next = reader.current()
    assert(next.version == 1L)
    assert(next.files("points").size == logged.files("points").size + 1)
    assert(rows(Store.points(session, next)) ==
      rows(Store.points(session, logged)) + s"[snap.new,$rnow,1.0]")
  }

  test("a compacted log reopens to the same file set, reading fewer than CompactEvery entries") {
    val dir = newDir("compact")
    val root = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(new Path(dir))
    def fake(t: String, i: Int): FileStatus =
      new FileStatus(100L + i, false, 1, 1L << 25, 1700000000000L + i,
        new Path(root, if (t == "points") s"points/date=2024-01-0${1 + i % 3}/part-$i.parquet" else s"$t/part-$i.parquet"))
    val n = 2 * StoreSnapshot.CompactEvery + 5
    def publish(i: Int): Unit =
      StoreSnapshot.publish(spark, dir)(StoreSnapshot.Tables.map(t => t -> Seq(fake(t, i))).toMap)
    (0 until n - 7).foreach(publish)
    // a reader at an older version catches up across a full entry
    val reader = new StoreSnapshot(session, dir)
    (n - 7 until n).foreach(publish)
    val (_, _, opened, snap) = CountingFs.during(StoreSnapshot.open(session, dir))
    assert(snap.version == n.toLong)
    def described(files: Seq[FileStatus]) = files.map(f => (f.getPath, f.getLen, f.getModificationTime))
    for (t <- StoreSnapshot.Tables) {
      assert(described(snap.files(t)) == described((0 until n).map(fake(t, _))), t)
      assert(described(reader.current().files(t)) == described(snap.files(t)), t)
    }
    // the last full entry, n - n % CompactEvery, and the deltas after it
    assert(opened.size == (n - 1) % StoreSnapshot.CompactEvery + 1, opened)
  }

  test("files moved in by a commit that never published stay invisible") {
    val dir = newDir("crash")
    import spark.implicits._
    Ingest.processBatch(Ingest.parseLines(Seq(s"snap.a 1 $rnow").toDF("value")), dir)
    val reader = new StoreSnapshot(session, dir)
    val before = reader.current()
    // the writes and moves of a commit, then a crash before its publish
    val moved = Ingest.writeTables(Ingest.parseLines(Seq(s"snap.b 2 $rnow").toDF("value")), dir)
    assert(moved("points").nonEmpty && moved("points").forall(f => Files.exists(java.nio.file.Paths.get(f.getPath.toUri))))
    assert(spark.read.parquet(s"$dir/points").where("path = 'snap.b'").count() == 1,
      "a plain listing read sees the orphan")
    assert(reader.current() == before)
    assert(rows(Store.points(session, dir)) == Set(s"[snap.a,$rnow,1.0]"))
    // the next commit publishes only its own files
    Ingest.processBatch(Ingest.parseLines(Seq(s"snap.c 3 $rnow").toDF("value")), dir)
    assert(rows(Store.points(session, reader.current())) == Set(s"[snap.a,$rnow,1.0]", s"[snap.c,$rnow,3.0]"))
  }

  test("publishing an entry number that exists fails and leaves the entry as it was") {
    val dir = newDir("twice")
    import spark.implicits._
    Ingest.processBatch(Ingest.parseLines(Seq(s"snap.a 1 $rnow").toDF("value")), dir)
    Ingest.processBatch(Ingest.parseLines(Seq(s"snap.a 2 ${rnow + 10}").toDF("value")), dir)
    val log = java.nio.file.Paths.get(s"$dir/${StoreSnapshot.LogDir}")
    // a second writer got entry 2 in first
    Files.copy(log.resolve("1"), log.resolve("2"))
    val entry = Files.readAllBytes(log.resolve("2"))
    intercept[FileAlreadyExistsException] {
      Ingest.processBatch(Ingest.parseLines(Seq(s"snap.a 3 ${rnow + 20}").toDF("value")), dir)
    }
    assert(Files.readAllBytes(log.resolve("2")).sameElements(entry))
  }
}
