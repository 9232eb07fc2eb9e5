package graft.engine

import java.io.{BufferedReader, FileNotFoundException, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex

/** One server's view of a store: the `points`/`index`/`tags` file
  * lists as of the last commit it has read from the store's log.
  *
  * The log. [[graft.streaming.Ingest.processBatch]] publishes one entry
  * per commit under `<store>/_graft_log/<n>`, numbered from 0 without
  * gaps, after the files it names are in place. An entry is written
  * to a hidden temporary name and renamed, so a reader sees a whole
  * entry or none; an existing number is never overwritten (the publish
  * fails instead). Entry `n` is *full* when `n % CompactEvery == 0`
  * — every file of every table — and otherwise a *delta* of the files
  * that commit added, so opening a store reads one full entry and
  * fewer than `CompactEvery` deltas however old it is (the pattern of
  * Spark's `CompactibleFileStreamLog`). Entries are never deleted, so a
  * reader never finds a hole in the numbering.
  *
  * The reader. [[current]] probes for the next entry number with one
  * `getFileStatus`; only when it exists are the new entries read. So
  * an unchanged store costs one stat per request whatever its file
  * count, and a snapshot's `version` (entries applied) names its file
  * set exactly: what a reader caches under a version stays exact
  * until the version moves. A commit's three tables become visible
  * together. Files on disk that no entry names — the part files of a
  * commit that died between its renames and its publish — are never
  * read.
  *
  * A store without a log (written before it, or not yet written) is
  * adopted at construction with one listing under Spark's own file
  * index rule, as version 0; the writer's first entry is then full.
  *
  * Contract: every writer of a serving store goes through
  * `processBatch`, and a store has one writer at a time (as its
  * stream checkpoint already implies).
  */
final class StoreSnapshot(spark: SparkSession, dir: String) {
  import StoreSnapshot._

  private val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
  private val root = fs.makeQualified(new Path(dir))
  @volatile private var snap: Snap = open(spark, fs, root)

  /** The last snapshot read, without probing the log. */
  def last: Snap = snap

  /** The store as of its latest published entry. */
  def current(): Snap = synchronized {
    var s = snap
    var next = readEntry(fs, root, s.version)
    while (next.isDefined) {
      s = s.applied(next.get)
      next = readEntry(fs, root, s.version)
    }
    snap = s
    s
  }
}

object StoreSnapshot {

  val LogDir = "_graft_log"
  val Tables: Seq[String] = Seq("points", "index", "tags")

  /** Every `CompactEvery`-th entry is full. */
  val CompactEvery = 10

  private val Header = "graft-store-log v1"

  /** One state of the store at `root` (qualified): `version` entries
    * applied, and per table the files it holds. A table missing from
    * `tables` did not exist when a log-less store was adopted; opening
    * it fails.
    */
  final case class Snap(root: Path, version: Long, tables: Map[String, Vector[FileStatus]]) {
    def files(table: String): Vector[FileStatus] =
      tables.getOrElse(table, throw new FileNotFoundException(s"store table $table does not exist"))

    /** Bytes over every table: what sizes the server's shuffle
      * ceiling, read from the log with no FS call. */
    lazy val bytes: Long = tables.values.iterator.flatten.map(_.getLen).sum

    private[StoreSnapshot] def applied(e: Entry): Snap =
      if (e.full) copy(version = version + 1, tables = e.files)
      else copy(version = version + 1, tables = Tables.map(t => t -> (tables.getOrElse(t, Vector.empty) ++ e.files(t))).toMap)
  }

  /** A read entry: full (every file) or a delta (the files added). */
  private final case class Entry(full: Boolean, files: Map[String, Vector[FileStatus]])

  /** The store as its log leaves it — or, without a log, as one
    * listing finds it (version 0).
    */
  def open(spark: SparkSession, dir: String): Snap = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    open(spark, fs, fs.makeQualified(new Path(dir)))
  }

  private def open(spark: SparkSession, fs: FileSystem, root: Path): Snap =
    latestEntry(fs, root) match {
      case None => Snap(root, 0L, listing(spark, fs, root))
      case Some(latest) => replay(fs, root, latest)
    }

  /** Runs `commit`, which puts a commit's files in place and returns
    * them per table (qualified paths), then publishes them as the next
    * entry. The first entry of a store is full: on a store that exists
    * without a log it also lists what is there, so files written
    * before the log stay visible. Returns the entry number.
    */
  def publish(spark: SparkSession, dir: String)(commit: => Map[String, Seq[FileStatus]]): Long = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(new Path(dir))
    val key = root.toString
    // one writer per store: the next number is kept in memory and
    // found once by a listing of the log; a missing predecessor means
    // the store was replaced, so look again
    val n = Option(nextEntry.get(key)).map(_.longValue)
      .filter(n => n > 0 && fs.exists(entryPath(root, n - 1)))
      .getOrElse(latestEntry(fs, root).fold(0L)(_ + 1))
    val adopt = n == 0 && fs.exists(root)
    val added = commit
    val withAdded = (base: Map[String, Vector[FileStatus]]) =>
      Tables.map(t => t -> (base.getOrElse(t, Vector.empty) ++ added.getOrElse(t, Nil)).distinctBy(_.getPath)).toMap
    val files =
      if (adopt) withAdded(listing(spark, fs, root))
      else if (n > 0 && n % CompactEvery == 0) withAdded(replay(fs, root, n - 1).tables)
      else withAdded(Map.empty)
    write(fs, root, n, full = n % CompactEvery == 0, files)
    nextEntry.put(key, java.lang.Long.valueOf(n + 1))
    n
  }

  private val nextEntry = new ConcurrentHashMap[String, java.lang.Long]()

  private def logDir(root: Path): Path = new Path(root, LogDir)
  private def entryPath(root: Path, n: Long): Path = new Path(logDir(root), n.toString)

  /** The highest entry number, by one listing of the log. */
  private def latestEntry(fs: FileSystem, root: Path): Option[Long] =
    try fs.listStatus(logDir(root)).iterator.flatMap(s => s.getPath.getName.toLongOption).maxOption
    catch { case _: FileNotFoundException => None }

  /** Entries `latest - latest % CompactEvery` … `latest`: a full one,
    * then deltas.
    */
  private def replay(fs: FileSystem, root: Path, latest: Long): Snap = {
    val full = latest - latest % CompactEvery
    (full to latest).foldLeft(Snap(root, full, Map.empty)) { (s, n) =>
      s.applied(readEntry(fs, root, n).getOrElse(
        throw new FileNotFoundException(s"store log entry $n is missing under ${logDir(root)}")))
    }
  }

  /** Spark's own listing of each table dir that exists. */
  private def listing(spark: SparkSession, fs: FileSystem, root: Path): Map[String, Vector[FileStatus]] =
    Tables.flatMap { t =>
      val dir = new Path(root, t)
      if (!fs.exists(dir)) None
      else Some(t -> new InMemoryFileIndex(spark, Seq(dir), Map.empty, None).allFiles().toVector)
    }.toMap

  /** Entry `n`, or None if it is not published: one `getFileStatus`
    * when it is not.
    */
  private def readEntry(fs: FileSystem, root: Path, n: Long): Option[Entry] = {
    val p = entryPath(root, n)
    try fs.getFileStatus(p)
    catch { case _: FileNotFoundException => return None }
    val in = new BufferedReader(new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try {
      val head = in.readLine()
      require(head != null && head.startsWith(Header + " "), s"$p is not a store log entry")
      val full = head == s"$Header full"
      val tableDirs = Tables.map(t => t -> new Path(root, t)).toMap
      val files = Iterator.continually(in.readLine()).takeWhile(_ != null).filter(_.nonEmpty).map { l =>
        val Array(t, rel, len, mtime) = l.split('\t')
        t -> new FileStatus(len.toLong, false, 1, BlockSize, mtime.toLong, new Path(tableDirs(t), rel))
      }.toVector.groupMap(_._1)(_._2)
      Some(Entry(full, Tables.map(t => t -> files.getOrElse(t, Vector.empty)).toMap))
    } finally in.close()
  }

  // what Spark's listing reports for a local file; it only sizes splits
  private val BlockSize = 32L << 20

  /** Writes entry `n` under a hidden name and renames it into place;
    * an existing entry `n` fails the publish.
    */
  private def write(fs: FileSystem, root: Path, n: Long, full: Boolean,
      files: Map[String, Vector[FileStatus]]): Unit = {
    val target = entryPath(root, n)
    val tmp = new Path(logDir(root), s".$n.${UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try {
      val sb = new StringBuilder(Header).append(if (full) " full\n" else " delta\n")
      for (t <- Tables; f <- files.getOrElse(t, Vector.empty)) {
        val tableDir = new Path(root, t).toString + "/"
        val path = f.getPath.toString
        require(path.startsWith(tableDir), s"$path is not under $tableDir")
        sb.append(t).append('\t').append(path.substring(tableDir.length))
          .append('\t').append(f.getLen).append('\t').append(f.getModificationTime).append('\n')
      }
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    } finally out.close()
    if (fs.exists(target) || !fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new FileAlreadyExistsException(s"store log entry $target already exists")
    }
  }
}
