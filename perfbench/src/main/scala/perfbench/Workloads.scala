package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.api.HttpApi
import graft.engine.FindCache
import graft.rollup.{AggFunc, Rules}
import graft.streaming.Ingest

/** Workload shapes. The numbers here are the benchmark's definition:
  * changing one changes what every metric means.
  */
object Shapes {
  /** `headline`: groups × hosts × metrics plain series at 60 s. */
  val HeadlineGroups = 10
  val HeadlineHosts = 10
  val HeadlineMetrics = 10
  val HeadlineMinutes = 360
  val HeadlineTarget = "hl.*.*.*"
  val HeadlineMaxDataPoints = 100L
  val HeadlineFormats = Vector("carbonapi_v3_pb", "pickle", "json")

  /** `dashboard`: dc × host × svc × metric series, plain and tagged. */
  val Dash = Gen.DashShape(dcs = 4, hosts = 10, svcs = 4, metrics = 5, minutes = 240)
  /** The untimed warm-up set-up's store: the same request paths over
    * far fewer series.
    */
  val DashWarm = Gen.DashShape(dcs = 2, hosts = 2, svcs = 2, metrics = 2, minutes = 240)
  val DashZipf = 1.1
  /** Request mix: share of each panel kind. */
  val DashMix = Vector("find" -> 0.30, "render" -> 0.35, "tagrender" -> 0.10, "tags" -> 0.10, "promql" -> 0.15)
  val DashPanels = Map("find" -> 10, "render" -> 14, "tagrender" -> 5, "tags" -> 5, "promql" -> 6)

  /** `live`: written series, marker slots, writer cadence, trigger. */
  val LiveHosts = 10
  val LiveMetrics = 10
  val LiveMarkerSlots = 64
  val LiveFileIntervalMs = 1000L
  /** A micro-batch takes about 1 s, so about one read in five overlaps
    * one and the read median is an undisturbed read. At 2 s about half
    * overlapped and the median flipped between the two from run to run.
    */
  val LiveTriggerMs = 5000L
  val LiveWindowSec = 300L
  val LiveHistoryMin = 30
  val LiveDrainSec = 20

  /** Timed set-ups per run, after the untimed warm-up one; `setup_s`
    * is their median.
    */
  val SetupReps = 3
}

/** Server configuration every workload uses: `HttpApi.Config` defaults
  * except a 60 s `avg` retention rule, the find cache at the TTLs the
  * HTTP spec uses, and telemetry off.
  */
object Server {
  val rules: Rules = Rules(Nil, defaultPrecision = Gen.Precision, defaultFunction = Some(AggFunc.Avg))
  val findCache = FindCache.Config(defaultTimeoutSec = 300, shortTimeoutSec = 60,
    shortDurationSec = 240, findTimeoutSec = 120)
  val config: HttpApi.Config = HttpApi.Config(rules = rules, findCache = Some(findCache), metrics = None)

  def start(spark: SparkSession, dir: String, clock: Option[() => Instant]): HttpApi =
    clock match {
      case Some(c) => new HttpApi(spark, dir, config, clock = c).start()
      case None => new HttpApi(spark, dir, config).start()
    }
}

final case class Ctx(spark: SparkSession, seed: Long, work: File, log: String => Unit)

/** A built store behind a started server. */
class Env(val dir: String, val api: HttpApi, val points: Long, val ingestMs: Double) {
  def base: String = api.address
  /** Points held by the store now. */
  def storePoints: Long = points
}

/** Timed-phase result. `extraFailures` are checks that belong to no
  * single response (a marker that never became visible).
  */
final case class Phase(outcomes: Seq[Load.Outcome], freshnessMs: Seq[Double], extraFailures: Seq[String],
    heapMb: Double, layer: Map[String, Double])

abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Generate and ingest a fresh store under a directory named by
    * `tag`, start a server on it and send one warm-up request.
    */
  def setup(tag: String): Env
  def timed(env: Env, seconds: Double): Phase
  /** The traced run's request sample, built lazily (live requests are
    * relative to the wall clock).
    */
  def sample(env: Env): Seq[() => Item]
  /** A second server over the same store, with an empty find cache. */
  def freshServer(env: Env): HttpApi
  /** Untimed requests of every kind the workload sends. */
  def settle(env: Env): Unit
  /** An untimed set-up before the timed ones, with [[settle]]. It pays
    * the JVM's and Spark's cold start (the first ingest of a process
    * takes several times as long as the next), so `setup_s` and the
    * timed phase start with the ingest and request paths compiled.
    */
  final def warmUp(): Unit = {
    val w = warmUpOn
    val env = w.setup("warm")
    try w.settle(env) finally w.close(env)
  }
  /** The workload the warm-up set-up runs: the same request paths, on
    * a store that may be smaller.
    */
  protected def warmUpOn: Workload = this
  def beforeTrace(env: Env): Unit = ()
  def afterTrace(env: Env): Seq[(Long, Double)] = Nil
  def close(env: Env): Unit = { env.api.stop(); Workload.rm(new File(env.dir)) }

  protected def spark: SparkSession = ctx.spark

  protected def ingest(st: Gen.Store, dir: String): Double = {
    // lines are materialized first, so the timed span is processBatch alone
    val lines = Gen.linesFrame(spark, st).localCheckpoint()
    try {
      val t = System.nanoTime()
      Ingest.processBatch(Ingest.parseLines(lines), dir)
      (System.nanoTime() - t) / 1e6
    } finally lines.unpersist(blocking = true)
  }

  /** Run warm-up requests; a failed warm-up check fails the run. */
  protected def warm(base: String, items: Seq[Item]): Unit =
    items.foreach { it =>
      Load.exec(base, it, System.nanoTime()).failure.foreach(f =>
        throw new IllegalStateException(s"warm-up ${it.req.path.take(80)}: $f"))
    }
}

object Workload {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** (files, bytes) of every regular file under a directory. */
  def du(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else {
      val s = Files.walk(dir.toPath)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }

  /** Used heap after full GCs. The pauses let Spark's ContextCleaner
    * release the blocks of objects the first GC found dead.
    */
  def heapMbAfterGc(): Double = {
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(500); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "headline" => new Headline(ctx)
    case "dashboard" => new Dashboard(ctx)
    case "live" => new Live(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

// ---------------------------------------------------------------------
// headline
// ---------------------------------------------------------------------

/** The reference's own benchmark request: one glob over every series,
  * `maxDataPoints=100`, no find cache, formats in rotation, one client
  * in a closed loop.
  */
final class Headline(ctx0: Ctx) extends Workload(ctx0) {
  import Shapes._
  val name = "headline"
  val store: Gen.Store = Gen.headline(ctx.seed, HeadlineGroups, HeadlineHosts, HeadlineMetrics, HeadlineMinutes)
  private val from = Gen.Now - HeadlineMinutes * 60L
  private val until = Gen.Now
  private val expected: Map[String, Gen.Expect] =
    store.series.map(s => s.path -> Gen.expect(s, store, from, until, HeadlineMaxDataPoints)).toMap

  def item(i: Int): Item = {
    val fmt = HeadlineFormats(i % HeadlineFormats.length)
    Item(Call.Render(Seq(HeadlineTarget), from, until, HeadlineMaxDataPoints, fmt, noCache = true),
      Check.render(fmt, expected))
  }

  private def clock: Option[() => Instant] = Some(() => Instant.ofEpochSecond(Gen.Now))

  def setup(tag: String): Env = {
    val dir = new File(ctx.work, s"headline-$tag").getAbsolutePath
    val ms = ingest(store, dir)
    val env = new Env(dir, Server.start(spark, dir, clock), store.points, ms)
    warm(env.base, Seq(item(0)))
    env
  }

  def timed(env: Env, seconds: Double): Phase = {
    val i = new AtomicLong()
    val outs = Load.closed(env.base, () => item(i.getAndIncrement().toInt), 1, seconds)
    Phase(outs, Nil, Nil, Workload.heapMbAfterGc(), Map.empty)
  }

  def settle(env: Env): Unit = warm(env.base, Seq(item(1), item(2)))

  def sample(env: Env): Seq[() => Item] = (0 until 2 * HeadlineFormats.length).map(i => () => item(i))
  def freshServer(env: Env): HttpApi = Server.start(spark, env.dir, clock)
}

// ---------------------------------------------------------------------
// dashboard
// ---------------------------------------------------------------------

/** Grafana dashboards: a Zipf-skewed panel catalogue over a
  * plain + tagged store, sent by one client in a closed loop. Not an
  * open loop of concurrent users: their requests queue behind each
  * other when the hypervisor takes CPU, and their latency moved 1.5–2.5
  * times with it, past the benchmark's run-to-run bound.
  */
final class Dashboard(ctx0: Ctx, shape: Gen.DashShape = Shapes.Dash) extends Workload(ctx0) {
  import Shapes._
  val name = "dashboard"
  val (store, byDims) = Gen.dashboard(ctx.seed, shape)
  private val dims = shape.dims
  private val plainLeaves = dims.map(_.plain)
  private val tagged: Map[String, Gen.Ser] = store.series.filter(_.path.contains(";")).map(s => s.path -> s).toMap
  private def clock: Option[() => Instant] = Some(() => Instant.ofEpochSecond(Gen.Now))

  private def renderItem(targets: Seq[String], series: Seq[Gen.Ser], form: Int): Item = {
    val fmt = Seq("json", "pickle", "carbonapi_v3_pb")(form % 3)
    val range = Seq(7200L, 14400L, 3600L)((form / 3) % 3)
    val mdp = Seq(300L, 1000L)((form / 2) % 2)
    val (from, until) = (Gen.Now - range, Gen.Now)
    val exp = series.map(s => s.path -> Gen.expect(s, store, from, until, mdp)).toMap
    Item(Call.Render(targets, from, until, mdp, fmt), Check.render(fmt, exp))
  }

  /** Panel number `form` of a kind. The form fixes the panel's shape
    * (query pattern, range, format), so the cost of a catalogue does not
    * depend on the seed; `rnd` picks which dc, host, svc and metric it
    * shows.
    */
  def panel(kind: String, form: Int, rnd: Random): Item = {
    val d = 1 + rnd.nextInt(shape.dcs); val h = 1 + rnd.nextInt(shape.hosts)
    val s = 1 + rnd.nextInt(shape.svcs); val m = 1 + rnd.nextInt(shape.metrics)
    val hh = f"$h%02d"
    kind match {
      case "find" =>
        val q = form % 4 match {
          case 0 => s"dc$d.*"
          case 1 => s"dc$d.host$hh.*"
          case 2 => s"dc$d.host$hh.svc$s.*"
          case _ => s"dc*.host$hh.svc$s.metric$m"
        }
        Item(Call.Find(q), Check.find(Gen.findRows(q, plainLeaves)))
      case "render" =>
        val t = form % 5 match {
          case 0 => s"dc$d.host$hh.svc$s.*"
          case 1 => s"dc$d.host$hh.*.metric$m"
          case 2 => s"dc*.host$hh.svc$s.metric$m"
          case 3 => s"dc$d.*.svc$s.metric$m"
          case _ => s"dc$d.host$hh.svc{1,2}.*"
        }
        val re = Gen.globRegex(t)
        renderItem(Seq(t), dims.filter(x => re.matches(x.plain)).map(byDims), form)
      case "tagrender" =>
        val (t, sel) = form % 2 match {
          case 0 => (s"seriesByTag('name=metric$m','host=host$hh')",
            dims.filter(x => x.metric == m && x.host == h))
          case _ => (s"seriesByTag('name=metric$m','dc=dc$d','svc=svc$s')",
            dims.filter(x => x.metric == m && x.dc == d && x.svc == s))
        }
        renderItem(Seq(t), sel.map(x => tagged(x.tagged)), form)
      case "tags" =>
        form % 4 match {
          case 0 => Item(Call.Tags(names = true, List(s"name=metric$m")), Check.strings(Seq("dc", "host", "svc")))
          case 1 => Item(Call.Tags(names = true, List(s"dc=dc$d"), prefix = "s"), Check.strings(Seq("svc")))
          case 2 => Item(Call.Tags(names = false, List(s"dc=dc$d"), tag = "host"),
            Check.strings((1 to shape.hosts).map(x => f"host$x%02d")))
          case _ => Item(Call.Tags(names = false, List(s"name=metric$m", s"host=host$hh"), tag = "svc"),
            Check.strings((1 to shape.svcs).map(x => s"svc$x")))
        }
      case "promql" =>
        val (range, step) = Seq((3600L, 60L), (10800L, 300L))(form % 2)
        require(range <= 60L * shape.minutes)
        val (start, end) = (Gen.Now - range, Gen.Now)
        val pts = (range / step + 1).toInt
        def labels(xs: Seq[Gen.Dims]) = xs.map(_.labels).toSet
        form % 4 match {
          case 0 => Item(Call.Prom(s"""rate(metric$m{dc="dc$d",svc="svc$s"}[5m])""", start, end, step),
            Check.prom(labels(dims.filter(x => x.metric == m && x.dc == d && x.svc == s)), pts))
          case 1 => Item(Call.Prom(s"sum by (dc) (metric$m)", start, end, step),
            Check.prom((1 to shape.dcs).map(x => Map("dc" -> s"dc$x")).toSet, pts))
          case 2 => Item(Call.Prom(s"""topk(3, metric$m{svc="svc$s"})""", start, end, step),
            Check.prom(labels(dims.filter(x => x.metric == m && x.svc == s)), pts, perStep = Some(3)))
          case _ => Item(Call.Prom(s"""avg_over_time(metric$m{host="host$hh"}[10m])""", start, end, step),
            Check.prom(labels(dims.filter(x => x.metric == m && x.host == h)), pts))
        }
    }
  }

  /** The panel catalogue: per kind, panels of every form in turn. */
  private val TimedStream = 3L
  private val TracedStream = 4L

  private val cat: Map[String, Vector[Item]] = {
    val rnd = new Random(ctx.seed * 31 + 1)
    DashPanels.map { case (k, n) => k -> Vector.tabulate(n)(panel(k, _, rnd)) }
  }

  /** The request stream. Kinds follow the mix exactly in every block of
    * 20 requests (shuffled within the block); within a kind the panel is
    * drawn by Zipf rank, so popular panels repeat and hit the find cache.
    * The stream's own seed is fixed (`TimedStream`, `TracedStream`): every
    * run sends the same sequence of panel numbers and so the same cache
    * hit pattern, while `--seed` decides what each panel shows.
    */
  private def stream(seed: Long): () => Item = {
    val rnd = new Random(seed)
    val zipf = cat.map { case (k, v) => k -> new Load.Zipf(v.length, DashZipf, rnd) }
    val block = DashMix.flatMap { case (k, share) => Vector.fill(math.round(share * 20).toInt)(k) }
    var queue = List.empty[String]
    () => {
      if (queue.isEmpty) queue = rnd.shuffle(block).toList
      val kind = queue.head
      queue = queue.tail
      cat(kind)(zipf(kind).next())
    }
  }

  /** Warm-up requests: panels from a second catalogue, so the timed
    * catalogue starts with a cold find cache.
    */
  private def warmItems: Seq[Item] = {
    val rnd = new Random(ctx.seed * 31 + 2)
    Seq(panel("render", 0, rnd))
  }

  def settle(env: Env): Unit = {
    val rnd = new Random(ctx.seed * 31 + 5)
    warm(env.base, Seq("find" -> 0, "tagrender" -> 0, "tags" -> 2, "promql" -> 0)
      .map { case (k, f) => panel(k, f, rnd) })
  }

  override protected def warmUpOn: Workload = new Dashboard(ctx, DashWarm)

  def setup(tag: String): Env = {
    val dir = new File(ctx.work, s"dashboard-$tag").getAbsolutePath
    val t = System.nanoTime()
    val ms = ingest(store, dir)
    val t1 = System.nanoTime()
    val env = new Env(dir, Server.start(spark, dir, clock), store.points, ms)
    warm(env.base, warmItems)
    ctx.log(f"dashboard set-up: generate ${(t1 - t) / 1e6 - ms}%.0f ms, ingest $ms%.0f ms, " +
      f"server and warm-up read ${(System.nanoTime() - t1) / 1e6}%.0f ms")
    env
  }

  def timed(env: Env, seconds: Double): Phase = {
    val outs = Load.closed(env.base, stream(TimedStream), 1, seconds)
    Phase(outs, Nil, Nil, Workload.heapMbAfterGc(), Map.empty)
  }

  def sample(env: Env): Seq[() => Item] = {
    val next = stream(TracedStream)
    Vector.fill(12)(next()).map(it => () => it)
  }

  def freshServer(env: Env): HttpApi = Server.start(spark, env.dir, clock)
}

// ---------------------------------------------------------------------
// live
// ---------------------------------------------------------------------

/** Writes beside reads: an open-loop writer drops line files into a
  * Structured Streaming file source whose `foreachBatch` runs
  * `Ingest.processBatch`; one closed-loop reader renders the last few
  * minutes and notes when each file's marker first shows.
  *
  * Marker `n` is the point `live.marker.s<n mod K>  n  <write second>`.
  * With K slots and a file every `LiveFileIntervalMs`, a slot is reused
  * only after more than one 60 s bucket, so a visible marker bucket
  * holds exactly one marker and its value names it.
  */
final class Live(ctx0: Ctx) extends Workload(ctx0) {
  import Shapes._
  val name = "live"

  private val rnd = new Random(ctx.seed)
  private val app: Vector[(String, Long)] = (for {
    h <- 0 until LiveHosts; m <- 0 until LiveMetrics
  } yield f"live.app.h$h%02d.m$m" -> (100L + rnd.nextInt(100000))).toVector
  private val appValue = app.toMap
  private def slot(n: Long): String = f"live.marker.s${n % LiveMarkerSlots}%03d"
  private val slots = (0 until LiveMarkerSlots).map(i => slot(i.toLong)).toSet
  private val AppTarget = "live.app.*.*"
  private val MarkerTarget = "live.marker.*"

  final class LiveEnv(dir: String, api: HttpApi, points: Long, ms: Double,
      val root: File, val stream: StreamingQuery, val listener: StreamingQueryListener) extends Env(dir, api, points, ms) {
    /** seq → (write second, visible-in-dir ms) */
    val written = new ConcurrentHashMap[Long, (Long, Long)]()
    /** seq → freshness ms */
    val seen = new ConcurrentHashMap[Long, Double]()
    val seq = new AtomicLong()
    val batches = new ConcurrentLinkedQueue[(Long, Double)]() // (start ms, processBatch ms)
    val inputRows = new ConcurrentLinkedQueue[java.lang.Long]()
    @volatile var writer: java.util.concurrent.ScheduledExecutorService = null

    override def storePoints: Long = points + seq.get * (app.length + 1)

    def startWriter(): Unit = {
      val stage = new File(root, "stage"); stage.mkdirs()
      val in = new File(root, "in")
      writer = Executors.newSingleThreadScheduledExecutor()
      writer.scheduleAtFixedRate(() => {
        val n = seq.getAndIncrement()
        val sec = System.currentTimeMillis() / 1000L
        val sb = new StringBuilder
        app.foreach { case (p, v) => sb.append(p).append(' ').append(v).append(' ').append(sec).append('\n') }
        sb.append(slot(n)).append(' ').append(n).append(' ').append(sec).append('\n')
        val f = new File(stage, s"f$n.txt")
        Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
        written.put(n, (sec, 0L))
        Files.move(f.toPath, new File(in, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
        written.put(n, (sec, System.currentTimeMillis()))
      }, 0L, LiveFileIntervalMs, TimeUnit.MILLISECONDS)
    }

    def stopWriter(): Unit = if (writer != null) {
      writer.shutdown(); writer.awaitTermination(10, TimeUnit.SECONDS); writer = null
    }
  }

  /** The reader's request: written series and marker slots over the
    * last `LiveWindowSec`, format in rotation.
    */
  private def readItem(env: LiveEnv, i: Long): Item = {
    val now = System.currentTimeMillis() / 1000L
    val fmt = Shapes.HeadlineFormats((i % 3).toInt)
    Item(Call.Render(Seq(AppTarget, MarkerTarget), now - LiveWindowSec, now, 1000L, fmt),
      resp => checkRead(env, fmt, resp))
  }

  private def checkRead(env: LiveEnv, fmt: String, resp: Http.Resp): Option[String] = {
    if (resp.status != 200) return Some(s"status ${resp.status}")
    val at = System.currentTimeMillis()
    val got = try Check.series(fmt, resp.body) catch { case e: Exception => return Some(s"undecodable: $e") }
    val names = got.map(_.name).toSet
    if (!appValue.keySet.subsetOf(names)) return Some(s"written series missing: ${(appValue.keySet -- names).take(3)}")
    if (!names.subsetOf(appValue.keySet ++ slots)) return Some(s"unexpected series ${(names -- appValue.keySet -- slots).take(3)}")
    got.iterator.flatMap { s =>
      appValue.get(s.name) match {
        case Some(v) =>
          s.values.find(x => !x.isNaN && !Check.close(x, v.toDouble)).map(x => s"${s.name}: $x, expected $v")
        case None =>
          s.values.indices.iterator.filter(i => !s.values(i).isNaN).flatMap { i =>
            val v = s.values(i); val n = math.rint(v).toLong
            val bucket = s.start + i * s.step
            Option(env.written.get(n)) match {
              case _ if v != n.toDouble || n < 0 => Some(s"${s.name}: marker value $v")
              case None => Some(s"${s.name}: marker $n was never written")
              case Some((sec, _)) if slot(n) != s.name || sec - Math.floorMod(sec, s.step) != bucket =>
                Some(s"${s.name}: marker $n in bucket $bucket, written at $sec")
              case Some((_, ms)) =>
                if (ms > 0) env.seen.putIfAbsent(n, (at - ms).toDouble)
                None
            }
          }
      }
    }.nextOption()
  }

  def setup(tag: String): Env = {
    val session = spark
    import session.implicits._
    val root = new File(ctx.work, s"live-$tag"); root.mkdirs()
    val dir = new File(root, "t").getAbsolutePath
    new File(root, "in").mkdirs()
    val now = System.currentTimeMillis() / 1000L
    val t0 = now - Math.floorMod(now, 60L) - 60L * LiveHistoryMin
    // history: every written series each minute, every marker slot once
    val hist = app.flatMap { case (p, v) => (0 until LiveHistoryMin).map(k => s"$p $v ${t0 + 60L * k}") } ++
      slots.toSeq.map(s => s"$s -1 ${t0 - 60L}")
    val t = System.nanoTime()
    Ingest.processBatch(Ingest.parseLines(hist.toDF("value")), dir)
    val ms = (System.nanoTime() - t) / 1e6
    ctx.log(f"live set-up: history ingest $ms%.0f ms")

    val holder = new java.util.concurrent.atomic.AtomicReference[LiveEnv]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Option(holder.get()).foreach(env =>
          if (e.progress.numInputRows > 0) env.inputRows.add(e.progress.numInputRows))
    }
    spark.streams.addListener(listener)
    val stream = Ingest.parseLines(spark.readStream.format("text").load(new File(root, "in").getAbsolutePath).toDF("value"))
      .writeStream
      .option("checkpointLocation", new File(root, "ck").getAbsolutePath)
      .trigger(Trigger.ProcessingTime(s"$LiveTriggerMs milliseconds"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = System.currentTimeMillis(); val t1 = System.nanoTime()
        Ingest.processBatch(batch, dir)
        Option(holder.get()).foreach(_.batches.add((s, (System.nanoTime() - t1) / 1e6)))
        ()
      }
      .start()
    val t1 = System.nanoTime()
    val env = new LiveEnv(dir, Server.start(spark, dir, None), hist.length.toLong, ms, root, stream, listener)
    holder.set(env)
    warm(env.base, Seq(readItem(env, 0)))
    ctx.log(f"live set-up: stream start ${(t1 - t) / 1e6 - ms}%.0f ms, server and warm-up read ${(System.nanoTime() - t1) / 1e6}%.0f ms")
    env
  }

  def timed(env0: Env, seconds: Double): Phase = {
    val env = env0.asInstanceOf[LiveEnv]
    val (files0, bytes0) = Workload.du(new File(env.dir))
    env.batches.clear(); env.inputRows.clear()
    env.startWriter()
    val i = new AtomicLong()
    val outs = Load.closed(env.base, () => readItem(env, i.getAndIncrement()), 1, seconds)
    env.stopWriter()
    // drain: every written marker must become visible
    val deadline = System.nanoTime() + LiveDrainSec * 1000000000L
    var drainFail = Option.empty[String]
    while (env.seen.size < env.written.size && System.nanoTime() < deadline && drainFail.isEmpty) {
      drainFail = Load.exec(env.base, readItem(env, i.getAndIncrement()), System.nanoTime()).failure
      Thread.sleep(100)
    }
    // heap once the stream is idle again, so a micro-batch in flight does not count
    val heap = Workload.heapMbAfterGc()
    val lost = env.written.keySet().asScala.toSet -- env.seen.keySet().asScala
    val extra = drainFail.toSeq ++ lost.toSeq.sorted.take(5).map(n => s"marker $n never became visible")
    val (files1, bytes1) = Workload.du(new File(env.dir))
    val batches = env.batches.asScala.toVector
    val starts = batches.map(_._1).sorted
    val trigWait = env.written.asScala.values.flatMap { case (_, ms) =>
      starts.find(_ >= ms).map(s => (s - ms).toDouble) }.toSeq
    val layer = Map(
      "ingest.batch_ms" -> (if (batches.isEmpty) 0.0 else Stats.median(batches.map(_._2))),
      "ingest.trigger_wait_ms" -> (if (trigWait.isEmpty) 0.0 else Stats.median(trigWait)),
      "ingest.points_per_batch" -> Stats.mean(env.inputRows.asScala.toSeq.map(_.toDouble)),
      "ingest.bytes_written" -> (bytes1 - bytes0).toDouble,
      "ingest.files_written" -> (files1 - files0).toDouble)
    Phase(outs, env.seen.asScala.values.toSeq, extra, heap, layer)
  }

  def settle(env0: Env): Unit = {
    val env = env0.asInstanceOf[LiveEnv]
    warm(env.base, (1 to 3).map(i => readItem(env, i.toLong)))
  }

  def sample(env0: Env): Seq[() => Item] = {
    val env = env0.asInstanceOf[LiveEnv]
    (0 until 8).map(i => () => readItem(env, i.toLong))
  }

  def freshServer(env: Env): HttpApi = Server.start(spark, env.dir, None)

  override def beforeTrace(env0: Env): Unit = {
    val env = env0.asInstanceOf[LiveEnv]
    env.batches.clear(); env.startWriter()
  }

  override def afterTrace(env0: Env): Seq[(Long, Double)] = {
    val env = env0.asInstanceOf[LiveEnv]
    env.stopWriter()
    env.batches.asScala.toVector
  }

  override def close(env0: Env): Unit = {
    val env = env0.asInstanceOf[LiveEnv]
    env.stopWriter()
    env.stream.stop()
    spark.streams.removeListener(env.listener)
    env.api.stop()
    Workload.rm(env.root)
  }
}
