package perfbench

import org.apache.spark.sql.functions.col

import graft.engine.{Autocomplete, Finder}
import graft.model.FeatureFlags
import graft.prom.PromQL
import graft.sinks.{JsonSink, PickleSink, ProtobufSink}

/** The traced run: the workload's request sample replayed one request
  * at a time, each request once untraced and once with the [[Ledger]]
  * listening. A traced request gets the Spark jobs that started while
  * it was in flight; direct calls into the layers' public entry points
  * (find, the sink encoders, PromQL parse, autocomplete) run after it as
  * child spans.
  */
object Trace {

  final case class Req(item: Item, out: Load.Outcome, cost: Ledger.Cost, encodeMs: Double, parseMs: Double,
      series: Int, points: Long)

  private def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime(); val v = f; (v, (System.nanoTime() - t) / 1e6)
  }

  def run(ctx: Ctx, w: Workload, env: Env, spans: Spans): Map[String, Double] = {
    val spark = ctx.spark
    val sample = w.sample(env)
    w.beforeTrace(env)

    val ledger = new Ledger
    val index = spark.read.parquet(s"${env.dir}/index")
    val tags = spark.read.parquet(s"${env.dir}/tags")
    val findCalls = Vector.newBuilder[(Double, Int, Int)] // (ms, paths, jobs)
    val tagCalls = Vector.newBuilder[(Double, Int)]
    val encodes = Vector.newBuilder[(String, Double, Int)]
    val t0 = System.currentTimeMillis()

    def direct[T](parent: Int, name: String, attrs: Map[String, String])(f: => T): (T, Double, Ledger.Cost) = {
      val s = System.currentTimeMillis()
      val (v, ms) = timed(f)
      val cost = ledger.window(s, System.currentTimeMillis())
      spans.add(parent, name, s, ms, attrs ++ Map("jobs" -> cost.jobs.toString))
      (v, ms, cost)
    }

    // Every sampled request goes once to an untraced server and once to
    // a traced one (each with its own empty find cache), in alternating
    // order, so the tracing overhead is a paired difference. The ledger
    // listens only while a traced request and its direct calls run.
    val plain = w.freshServer(env)
    val tracedApi = w.freshServer(env)
    val pairs = try sample.zipWithIndex.map { case (f, i) =>
      val it = f()
      def untraced() = Load.exec(plain.address, it, System.nanoTime())
      def traced(): Req = {
        spark.sparkContext.addSparkListener(ledger)
        try {
          val s = System.currentTimeMillis()
          val (out, resp) = Load.execResp(tracedApi.address, it, System.nanoTime())
          val cost = ledger.window(s, System.currentTimeMillis())
          val id = spans.add(0, "request", s, out.latMs, Map("kind" -> it.kind, "format" -> out.format,
            "path" -> it.req.path.take(200), "jobs" -> cost.jobs.toString, "stages" -> cost.stages.toString,
            "tasks" -> cost.tasks.toString, "ok" -> out.failure.isEmpty.toString))
          var encodeMs = 0.0; var parseMs = 0.0; var nSeries = 0; var nPoints = 0L
          it.call match {
            case r: Call.Render if resp.isDefined =>
              val got = Check.series(r.format, resp.get.body).map(s =>
                graft.sinks.Series(s.name, r.targets.head, "avg", s.start, s.stop, s.step, s.values))
              nSeries = got.length; nPoints = got.map(_.values.length.toLong).sum
              Seq("json" -> (() => JsonSink.render(got, r.from, r.until).getBytes("UTF-8")),
                "pickle" -> (() => PickleSink.encode(got)),
                "v3" -> (() => ProtobufSink.encodeV3(got, r.from, r.until))).foreach { case (fmt, enc) =>
                val (bytes, ms, _) = direct(id, "encode", Map("format" -> fmt))(enc())
                encodes += ((fmt, ms, bytes.length))
                if (r.format.replace("carbonapi_v3_pb", "v3") == fmt) encodeMs = ms
              }
              r.targets.foreach { t =>
                val (paths, ms, c) = direct(id, "find", Map("target" -> t)) {
                  if (t.startsWith("seriesByTag(")) Finder.findTagged(tags, t, FeatureFlags()).collect().length
                  else Finder.find(index, t, r.from, r.until).where(col("is_leaf")).select("path").collect().length
                }
                findCalls += ((ms, paths, c.jobs))
              }
            case f: Call.Find =>
              val (paths, ms, c) = direct(id, "find", Map("query" -> f.query))(
                Finder.find(index, f.query).orderBy("path").collect().length)
              findCalls += ((ms, paths, c.jobs))
            case t: Call.Tags =>
              val (_, ms, c) = direct(id, "tags", Map("names" -> t.names.toString)) {
                if (t.names) Autocomplete.tagNamesComplete(tags, t.exprs, tagPrefix = t.prefix).length
                else Autocomplete.tagValues(tags, t.tag, t.exprs, valuePrefix = t.prefix).collect().length
              }
              tagCalls += ((ms, c.jobs))
            case p: Call.Prom =>
              val (_, ms, _) = direct(id, "promql.parse", Map.empty)(PromQL.parse(p.query))
              parseMs = ms
            case _ => ()
          }
          Req(it, out, cost, encodeMs, parseMs, nSeries, nPoints)
        } finally spark.sparkContext.removeSparkListener(ledger)
      }
      if (i % 2 == 0) { val u = untraced(); (u, traced()) }
      else { val t = traced(); (untraced(), t) }
    } finally { plain.stop(); tracedApi.stop() }
    val untraced = pairs.map(_._1)
    val traced = pairs.map(_._2)

    w.afterTrace(env).filter(_._1 >= t0).foreach { case (s, ms) => spans.add(0, "ingest.batch", s, ms) }

    val failures = (untraced ++ traced.map(_.out)).flatMap(_.failure)
    if (failures.nonEmpty) throw new IllegalStateException(s"traced replay: ${failures.head}")

    // aggregate: per-request means for additive Spark totals, medians for times
    def mean(xs: Seq[Double]) = Stats.mean(xs)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val costs = traced.map(_.cost)
    def perReq(f: Ledger.Cost => Double) = mean(costs.map(f))
    val renders = traced.filter(_.item.kind == "render")
    val proms = traced.filter(_.item.kind == "promql")
    val findBearing = traced.filter(r => r.item.kind != "promql")
    val fc = findCalls.result(); val tc = tagCalls.result(); val enc = encodes.result()
    val MB = 1048576.0
    def encMs(f: String) = med(enc.filter(_._1 == f).map(_._2))
    def encBytes(f: String) = mean(enc.filter(_._1 == f).map(_._3.toDouble))
    val unattributed = traced.map(r => r.out.latMs - r.cost.jobBusyMs - r.encodeMs - r.parseMs -
      (r.out.latMs - r.out.ttfbMs))
    Map(
      "api.ttfb_ms" -> med(traced.map(_.out.ttfbMs)),
      "api.body_ms" -> med(traced.map(r => r.out.latMs - r.out.ttfbMs)),
      "api.resp_bytes" -> mean(traced.map(_.out.bytes.toDouble)),
      "api.unattributed_ms" -> med(unattributed),
      "spark.jobs" -> perReq(_.jobs), "spark.stages" -> perReq(_.stages), "spark.tasks" -> perReq(_.tasks.toDouble),
      "spark.sched_delay_ms" -> perReq(_.schedDelayMs.toDouble), "spark.deser_ms" -> perReq(_.deserMs.toDouble),
      "spark.exec_run_ms" -> perReq(_.execRunMs.toDouble), "spark.result_ser_ms" -> perReq(_.resultSerMs.toDouble),
      "spark.shuffle_write_mb" -> perReq(_.shuffleWriteBytes / MB), "spark.fetch_wait_ms" -> perReq(_.fetchWaitMs.toDouble),
      "spark.input_rows" -> perReq(_.inputRows.toDouble), "spark.input_mb" -> perReq(_.inputBytes / MB),
      "spark.driver_only_ms" -> med(traced.map(r => r.out.latMs - r.cost.jobBusyMs)),
      "find.call_ms" -> med(fc.map(_._1)), "find.paths" -> mean(fc.map(_._2.toDouble)),
      "find.jobs" -> mean(fc.map(_._3.toDouble)),
      "find.cache_hit_ratio" -> mean(findBearing.map(r => if (r.out.cachedFind) 1.0 else 0.0)),
      "render.job_ms" -> mean(renders.map(_.cost.jobBusyMs.toDouble)),
      "render.series" -> mean(renders.map(_.series.toDouble)), "render.points" -> mean(renders.map(_.points.toDouble)),
      "render.input_rows" -> mean(renders.map(_.cost.inputRows.toDouble)),
      "render.shuffle_mb" -> mean(renders.map(_.cost.shuffleWriteBytes / MB)),
      "encode.ms.json" -> encMs("json"), "encode.ms.pickle" -> encMs("pickle"), "encode.ms.v3" -> encMs("v3"),
      "encode.bytes.json" -> encBytes("json"), "encode.bytes.pickle" -> encBytes("pickle"),
      "encode.bytes.v3" -> encBytes("v3"),
      "promql.parse_ms" -> med(proms.map(_.parseMs)), "promql.jobs" -> mean(proms.map(_.cost.jobs.toDouble)),
      "promql.stages" -> mean(proms.map(_.cost.stages.toDouble)),
      "tags.call_ms" -> med(tc.map(_._1)), "tags.jobs" -> mean(tc.map(_._2.toDouble)),
      "trace.overhead_ms" -> Stats.median(pairs.map { case (u, t) => t.out.latMs - u.latMs }))
  }
}
