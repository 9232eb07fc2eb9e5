package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark-side ledger for the traced run: a listener registered through
  * the public `SparkListener` API that keeps every job, stage and task
  * it sees. A request replayed on its own owns the jobs that start in
  * its time window; jobs of a running streaming query are told apart by
  * their `sql.streaming.queryId` property and never charged to a
  * request.
  */
final class Ledger extends SparkListener {

  private final class Job(val id: Int, val startMs: Long, val stageIds: Seq[Int], val streaming: Boolean) {
    @volatile var endMs: Long = 0L
  }

  /** Task totals of one stage. */
  private final class StageAcc {
    var tasks = 0L
    var schedDelayMs = 0L
    var deserMs = 0L
    var runMs = 0L
    var resultSerMs = 0L
    var shuffleWriteBytes = 0L
    var fetchWaitMs = 0L
    var inputRows = 0L
    var inputBytes = 0L
    var completed = false
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val streaming = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
    jobs.put(e.jobId, new Job(e.jobId, e.time, e.stageIds, streaming))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val acc = stages.computeIfAbsent(e.stageInfo.stageId, _ => new StageAcc)
    acc.synchronized(acc.completed = true)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
      acc.synchronized {
        acc.tasks += 1
        // the Spark UI's scheduler delay: task duration not spent in
        // deserialization, the run itself, result serialization or
        // result fetching
        acc.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        acc.deserMs += m.executorDeserializeTime
        acc.runMs += m.executorRunTime
        acc.resultSerMs += m.resultSerializationTime
        acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        acc.inputRows += m.inputMetrics.recordsRead
        acc.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** What the non-streaming jobs that started in `[t0, t1]` (epoch ms)
    * cost. Waits (up to `settleMs`) for the listener bus to deliver
    * their end events first, so task totals are complete.
    */
  def window(t0: Long, t1: Long, settleMs: Long = 3000L): Ledger.Cost = {
    def mine = jobs.values().asScala.filter(j => !j.streaming && j.startMs >= t0 && j.startMs <= t1).toSeq
    val deadline = System.currentTimeMillis() + settleMs
    while (mine.exists(_.endMs == 0L) && System.currentTimeMillis() < deadline) Thread.sleep(2)
    val js = mine.sortBy(_.id)
    val accs = js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))
    var busy = 0L; var cursor = Long.MinValue
    js.map(j => (j.startMs, if (j.endMs == 0L) t1 else math.min(j.endMs, t1))).sortBy(_._1).foreach {
      case (s, e) =>
        val from = math.max(s, cursor)
        if (e > from) busy += e - from
        cursor = math.max(cursor, e)
    }
    def sum(f: StageAcc => Long): Long = accs.map(a => a.synchronized(f(a))).sum
    Ledger.Cost(
      jobs = js.length,
      stages = accs.count(a => a.synchronized(a.completed)),
      tasks = sum(_.tasks),
      schedDelayMs = sum(_.schedDelayMs),
      deserMs = sum(_.deserMs),
      execRunMs = sum(_.runMs),
      resultSerMs = sum(_.resultSerMs),
      shuffleWriteBytes = sum(_.shuffleWriteBytes),
      fetchWaitMs = sum(_.fetchWaitMs),
      inputRows = sum(_.inputRows),
      inputBytes = sum(_.inputBytes),
      jobBusyMs = busy)
  }
}

object Ledger {

  /** Spark work charged to one request or direct call. `jobBusyMs` is
    * the wall time during which at least one of its jobs ran.
    */
  final case class Cost(
      jobs: Int, stages: Int, tasks: Long,
      schedDelayMs: Long, deserMs: Long, execRunMs: Long, resultSerMs: Long,
      shuffleWriteBytes: Long, fetchWaitMs: Long,
      inputRows: Long, inputBytes: Long, jobBusyMs: Long)
}

/** In-memory span log of the traced run: a `request` span per replayed
  * request and direct-call children (`find`, `encode`, `promql.parse`,
  * `tags`, `ingest.batch`), each naming its parent. Written out once,
  * when the run ends.
  */
final class Spans {
  import Spans.Span
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger()

  def add(parent: Int, name: String, startMs: Long, durMs: Double, attrs: Map[String, String] = Map.empty): Int = {
    val id = ids.incrementAndGet()
    buf.add(Span(id, parent, name, startMs, durMs, attrs))
    id
  }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)

  def write(file: java.io.File): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = all.map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},"start_ms":${s.startMs},""" +
        f""""dur_ms":${s.durMs}%.3f,"attrs":$attrs}"""
    }
    file.getParentFile.mkdirs()
    java.nio.file.Files.write(file.toPath, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, startMs: Long, durMs: Double, attrs: Map[String, String])
}
