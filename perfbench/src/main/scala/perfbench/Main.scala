package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Request-level benchmark entry point.
  *
  * {{{
  * Main --workload headline|dashboard|live --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Builds the workload's store through `Ingest` (untimed to warm up,
  * then several times; the median is `setup_s`), serves it with
  * `HttpApi` on an ephemeral loopback port, drives it for `--seconds`,
  * checks every response, and prints one line per metric followed by
  * the result object as the last stdout line. `--trace 1` runs the same set-ups and timed phase, then
  * the traced replay, and reports the per-layer metrics instead.
  * Exits non-zero when any response fails its check.
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10.0, trace: Boolean = false,
      work: File = new File("target/perfbench-work"))

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = new File(v)))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // as graft.Bench and graft.Verify: an ingest before the first
      // server's Retuner sizes AQE then shuffles like every later one
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def unit(name: String): String =
    if (name.endsWith("_ms") || name.startsWith("encode.ms") || name.startsWith("render_p50_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb") || name == "store.mb") "MB"
    else if (name == "store.bytes_per_point") "B/point"
    else if (name.contains("bytes")) "B"
    else if (name.endsWith("ratio")) "ratio"
    else "count"

  /** (steal, total) CPU ticks of the whole machine from /proc/stat, where
    * there is one. Time a hypervisor gives to other guests slows every
    * request, so each run prints the steal share of its timed phase.
    */
  private def cpuTicks(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val v = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    Some((if (v.length > 7) v(7) else 0L, v.sum))
  } catch { case _: Exception => None }

  private val started = System.nanoTime()
  private def mark(ctx: Ctx, what: String): Unit = ctx.log(f"${(System.nanoTime() - started) / 1e9}%.1f s: $what")

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    o.work.mkdirs()
    val spark = session(o.work)
    val ctx = Ctx(spark, o.seed, o.work, s => System.err.println(s"[perfbench] $s"))
    mark(ctx, "session up")
    // exit explicitly: a server's dispatcher thread would keep the JVM alive
    val code = try run(ctx, o) catch {
      case e: Throwable => System.err.println(s"[perfbench] run failed: $e"); e.printStackTrace(); 1
    }
    mark(ctx, "run done")
    try spark.stop() finally { mark(ctx, "session stopped"); System.exit(code) }
  }

  def run(ctx: Ctx, o: Opts): Int = {
    val w = Workload(o.workload, ctx)
    w.warmUp()
    mark(ctx, "warm-up set-up done")
    val setups = Vector.newBuilder[Double]
    var env: Env = null
    for (r <- 0 until Shapes.SetupReps) {
      if (env != null) w.close(env)
      val t = System.nanoTime()
      env = w.setup(r.toString)
      setups += (System.nanoTime() - t) / 1e9
      mark(ctx, s"set-up $r done")
    }
    val (setupFiles, setupBytes) = Workload.du(new File(env.dir))

    val cpu0 = cpuTicks()
    val phase = w.timed(env, o.seconds)
    val cpu1 = cpuTicks()
    mark(ctx, "timed phase done")
    val outs = phase.outcomes
    def lat(xs: Seq[Load.Outcome]) = xs.map(x => if (x.failure.isDefined) Double.PositiveInfinity else x.latMs)
    val all = lat(outs)
    val renders = lat(outs.filter(_.kind == "render"))
    val failures = outs.flatMap(_.failure) ++ phase.extraFailures
    val attempted = outs.length + phase.extraFailures.length
    failures.take(5).foreach(f => ctx.log(s"FAILED: $f"))
    outs.groupBy(x => (x.kind, x.format)).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      ctx.log(s"latencies $k: " + xs.map(x => f"${x.latMs}%.0f${if (x.cachedFind) "c" else ""}").mkString(" "))
    }

    val p50s = Vector.newBuilder[(String, Stats.Pct)]
    p50s += "req_p50_ms" -> Stats.p50(all)
    p50s += "req_p95_ms" -> Stats.tail(all)
    if (renders.nonEmpty) { p50s += "render_p50_ms" -> Stats.p50(renders); p50s += "render_p95_ms" -> Stats.tail(renders) }
    Seq("find", "tags", "promql").foreach { k =>
      val xs = lat(outs.filter(_.kind == k)); if (xs.nonEmpty) p50s += s"${k}_p50_ms" -> Stats.p50(xs)
    }
    if (phase.freshnessMs.nonEmpty) {
      p50s += "freshness_p50_ms" -> Stats.p50(phase.freshnessMs)
      p50s += "freshness_p95_ms" -> Stats.tail(phase.freshnessMs)
    }
    Seq("json" -> "json", "pickle" -> "pickle", "carbonapi_v3_pb" -> "v3").foreach { case (f, short) =>
      val xs = lat(outs.filter(x => x.kind == "render" && x.format == f))
      if (xs.nonEmpty) p50s += s"render_p50_ms.$short" -> Stats.p50(xs)
    }
    val pcts = p50s.result()
    val setupS = Stats.median(setups.result())
    val failRatio = failures.length.toDouble / math.max(1, attempted)
    val cacheable = outs.filter(o => o.kind != "promql")
    val hitShare = if (cacheable.isEmpty) 0.0 else cacheable.count(_.cachedFind).toDouble / cacheable.length

    val e2e: Seq[(String, Double)] = Seq("setup_s" -> setupS) ++
      pcts.filter(_._1 == "req_p50_ms").map(p => p._1 -> p._2.value) ++
      Seq("heap_mb" -> phase.heapMb)

    println(s"workload ${w.name} seed ${o.seed} seconds ${o.seconds} trace ${if (o.trace) 1 else 0}")
    println(f"setup_s = $setupS%.3f s (median of ${setups.result().map(x => f"$x%.3f").mkString(", ")})")
    pcts.foreach { case (n, p) => println(f"$n = ${p.value}%.3f ms (p${p.p} of n=${p.n})") }
    println(f"heap_mb = ${phase.heapMb}%.1f MB (used heap after GC at the end of the timed phase)")
    println(f"fail_ratio = $failRatio%.4f (${failures.length} of $attempted)")
    println(f"find cache hit share = $hitShare%.3f (X-Cached-Find on ${cacheable.count(_.cachedFind)} of ${cacheable.length})")
    for ((s0, t0) <- cpu0; (s1, t1) <- cpu1 if t1 > t0)
      println(f"cpu steal = ${100.0 * (s1 - s0) / (t1 - t0)}%.1f%% of machine CPU time during the timed phase")

    val metrics: Seq[(String, Double)] =
      if (!o.trace) e2e
      else {
        val spans = new Spans
        val layers = try Trace.run(ctx, w, env, spans)
          finally spans.write(new File(o.work.getParentFile, s"trace-${w.name}.json"))
        val (files, bytes) = Workload.du(new File(env.dir))
        val ingest = if (phase.layer.nonEmpty) phase.layer else Map(
          "ingest.batch_ms" -> env.ingestMs, "ingest.trigger_wait_ms" -> 0.0,
          "ingest.points_per_batch" -> env.points.toDouble,
          "ingest.bytes_written" -> setupBytes.toDouble, "ingest.files_written" -> setupFiles.toDouble)
        val route = Seq("req_p95_ms", "render_p50_ms", "render_p95_ms", "find_p50_ms", "tags_p50_ms", "promql_p50_ms",
          "freshness_p50_ms", "freshness_p95_ms", "render_p50_ms.json", "render_p50_ms.pickle", "render_p50_ms.v3")
          .map(n => n -> pcts.find(_._1 == n).map(_._2.value).getOrElse(0.0))
        (layers ++ ingest ++ Map(
          "store.files" -> files.toDouble, "store.mb" -> bytes / 1048576.0,
          "store.bytes_per_point" -> bytes.toDouble / env.storePoints,
          "fail_ratio" -> failRatio)).toSeq.sortBy(_._1) ++ route
      }
    if (o.trace) metrics.foreach { case (n, v) => println(f"$n = $v%.4f ${unit(n)}") }

    val json = metrics.map { case (n, v) => s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "${unit(n)}"}""" }
    println(s"""{"correct": ${failures.isEmpty}, "attempted": ${math.max(1, attempted)}, "failed": ${failures.length}, "metrics": {${json.mkString(", ")}}}""")
    w.close(env)
    if (failures.isEmpty) 0 else 1
  }
}
