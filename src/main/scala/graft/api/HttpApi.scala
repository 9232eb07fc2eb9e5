package graft.api

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.time.Instant

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compiler.Tagged
import graft.engine.{Autocomplete, FindCache, Finder, Guards, Limiter, Render, RenderCache, SeriesAssembly, Store, StoreSnapshot}
import graft.metrics.{SparkReadStats, Telemetry}
import graft.model.{FeatureFlags, TimeFrame}
import graft.rollup.Rules
import graft.sinks.{FindSink, JsonSink, PickleSink, ProtobufSink, Wire}
import graft.time.TimeGrammar

/** The HTTP service surface — every route of the reference server
  * (`graphite-clickhouse.go:561-599`) over the Spark engine:
  * `/render/`, `/metrics/find/`, `/metrics/index.json`,
  * `/tags/autoComplete/{tags,values}`, `/_internal/capabilities/`,
  * `/alive` and `/health`.
  *
  * Format dispatch mirrors `render/reply/formatter.go:25-50`
  * (carbonapi_v3_pb | pickle | protobuf aka carbonapi_v2_pb; json for
  * debugging), and the find cache sets `X-Cached-Find` exactly like
  * `find/handler.go:133-159` / `render/handler.go:59-118`.
  *
  * The server is deliberately driver-side glue: every byte it returns
  * is produced by the already-tested engine (Finder/Render) and wire
  * sinks — request parsing and route plumbing is all that lives here.
  * JDK `com.sun.net.httpserver` keeps the dependency set empty.
  */
object HttpApi {

  /** The `/graph` page: a self-contained PromQL query browser over
    * the served `/api/v1` routes (range + instant, step control,
    * tabular matrix rendering and an inline SVG line chart — zero
    * external assets, works over both HTTP and TLS listeners).
    */
  private[api] val GraphPage: Array[Byte] =
    """<!doctype html><html><head><meta charset="utf-8">
      |<title>graft — PromQL browser</title>
      |<style>
      |body{font:14px system-ui,sans-serif;margin:2em;max-width:72em}
      |input,select,button{font:inherit;padding:.3em .5em;margin:.2em}
      |#q{width:40em}table{border-collapse:collapse;margin-top:1em}
      |td,th{border:1px solid #ccc;padding:.2em .6em;text-align:left}
      |#err{color:#b00020;white-space:pre-wrap}svg{margin-top:1em}
      |.legend{font-size:12px;color:#444}
      |</style></head><body>
      |<h2>graft — PromQL browser</h2>
      |<div>
      |<input id="q" placeholder='e.g. rate(metric1[5m]) or graphite{target="a.*.b"}'>
      |<select id="win"><option value="3600">1h</option><option value="21600">6h</option>
      |<option value="86400" selected>1d</option><option value="604800">7d</option></select>
      |<input id="step" value="60" size="5" title="step (s)">
      |<button onclick="run()">Execute</button>
      |</div>
      |<div id="err"></div><div id="out"></div>
      |<script>
      |async function run(){
      | const q=document.getElementById('q').value;
      | const win=+document.getElementById('win').value;
      | const step=+document.getElementById('step').value;
      | const end=Math.floor(Date.now()/1000), start=end-win;
      | const u='/api/v1/query_range?query='+encodeURIComponent(q)+
      |   '&start='+start+'&end='+end+'&step='+step;
      | const err=document.getElementById('err'), out=document.getElementById('out');
      | err.textContent='';out.innerHTML='';
      | let j; try{j=await (await fetch(u)).json()}catch(e){err.textContent=''+e;return}
      | if(j.status!=='success'){err.textContent=j.error||'query failed';return}
      | const res=j.data.result;
      | if(!res.length){out.textContent='empty result';return}
      | out.appendChild(chart(res,start,end));
      | const t=document.createElement('table');
      | const hr=t.insertRow();
      | for(const h of ['series','points','last']){
      |  const c=document.createElement('th');c.textContent=h;hr.appendChild(c)}
      | for(const s of res){const r=t.insertRow();
      |  for(const v of [lbl(s.metric),s.values.length,
      |    s.values[s.values.length-1][1]])
      |   r.insertCell().textContent=v}
      | out.appendChild(t);
      |}
      |function lbl(m){const n=m.__name__||'';
      | const r=Object.entries(m).filter(([k])=>k!=='__name__')
      |  .map(([k,v])=>k+'="'+v+'"').join(', ');
      | return n+(r?'{'+r+'}':'')||'{}';}
      |function chart(res,start,end){
      | const W=900,H=260,P=40,ns='http://www.w3.org/2000/svg';
      | const svg=document.createElementNS(ns,'svg');
      | svg.setAttribute('width',W);svg.setAttribute('height',H);
      | let lo=Infinity,hi=-Infinity;
      | for(const s of res)for(const [,v] of s.values){const x=+v;
      |  if(isFinite(x)){lo=Math.min(lo,x);hi=Math.max(hi,x)}}
      | if(!(isFinite(lo)&&isFinite(hi))){lo=0;hi=1}
      | if(lo===hi){lo-=1;hi+=1}
      | const sx=t=>P+(W-2*P)*(t-start)/Math.max(1,end-start);
      | const sy=v=>H-P-(H-2*P)*(v-lo)/(hi-lo);
      | const ax=document.createElementNS(ns,'text');
      | ax.setAttribute('x',4);ax.setAttribute('y',14);ax.setAttribute('class','legend');
      | ax.textContent=hi.toPrecision(6)+' … '+lo.toPrecision(6);
      | svg.appendChild(ax);
      | res.slice(0,20).forEach((s,i)=>{
      |  const p=document.createElementNS(ns,'polyline');
      |  p.setAttribute('fill','none');p.setAttribute('stroke-width','1.5');
      |  p.setAttribute('stroke','hsl('+(i*137)%360+',70%,45%)');
      |  p.setAttribute('points',s.values.map(([t,v])=>sx(+t)+','+sy(+v)).join(' '));
      |  svg.appendChild(p);});
      | return svg;}
      |</script></body></html>
      |""".stripMargin.getBytes("UTF-8")

  final case class Config(
      rules: Rules,
      flags: FeatureFlags = FeatureFlags(),
      internalAggregation: Boolean = false,
      appendEmptySeries: Boolean = false,
      wildcardMinDistance: Int = 0,
      tagsMinInQuery: Int = 0,
      findCache: Option[FindCache.Config] = None,
      taggedAutocompleteDays: Int = 0,
      httpWorkers: Int = 8,
      limits: Limits = Limits(),
      tls: Option[Tls] = None,
      // self-telemetry (the reference's `[metrics]` block: request
      // histograms, limiter/cache counters, per-table read stats,
      // flushed in graphite line protocol to `metric-endpoint`) —
      // None = disabled, like an unset metric-endpoint
      metrics: Option[Telemetry.MetricsConfig] = None)

  /** TLS listener config — the JVM-keystore equivalent of the
    * reference's `[clickhouse.tls]` cert block (`tests/tls/
    * graphite-clickhouse.conf.tpl`): a PKCS12/JKS keystore holding the
    * server key + certificate.
    */
  final case class Tls(
      keystorePath: String,
      password: String,
      storeType: String = "PKCS12")

  private def loadKeystore(t: Tls): java.security.KeyStore = {
    val ks = java.security.KeyStore.getInstance(t.storeType)
    val in = new java.io.FileInputStream(t.keystorePath)
    try ks.load(in, t.password.toCharArray) finally in.close()
    ks
  }

  /** Server-side SSLContext from the keystore's private key. */
  def serverSslContext(t: Tls): javax.net.ssl.SSLContext = {
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(loadKeystore(t), t.password.toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }

  /** Client-side SSLContext trusting the certificates in the same
    * keystore (the self-signed e2e setup: the server cert IS the CA,
    * like the reference's `ca.crt`).
    */
  def clientSslContext(t: Tls): javax.net.ssl.SSLContext = {
    val ks = loadKeystore(t)
    val trust = java.security.KeyStore.getInstance("PKCS12")
    trust.load(null, null)
    val aliases = ks.aliases()
    while (aliases.hasMoreElements) {
      val a = aliases.nextElement()
      val cert = ks.getCertificate(a)
      if (cert != null) trust.setCertificateEntry(s"ca-$a", cert)
    }
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(trust)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(null, tmf.getTrustManagers, null)
    ctx
  }

  /** Admission limiters per route family plus per-user overrides —
    * the reference's `config.go:749-768` limiter set. Note the
    * reference quirk kept for parity: `/metrics/find` admits through
    * the TAGS limiter (`find/handler.go:50-51` calls
    * `GetUserTagsLimiter`), not a find-specific one. Refusals map to
    * 503 (`helper/clickhouse/clickhouse.go:105-111`).
    */
  final case class Limits(
      tags: Limiter.ServerLimiter = Limiter.Noop,
      render: Limiter.ServerLimiter = Limiter.Noop,
      user: Map[String, Limiter.ServerLimiter] = Map.empty,
      waitMs: Long = 60000L)

  /** One render-target's filtering function (v3 FilterFunctions). */
  final case class FilteringFunction(name: String, arguments: Seq[String])

  final case class ParsedQuery(params: Map[String, Seq[String]]) {
    def first(key: String): Option[String] = params.get(key).flatMap(_.headOption)
    def all(key: String): Seq[String] = params.getOrElse(key, Nil)
  }

  def parseQueryString(raw: String): ParsedQuery =
    if (raw == null || raw.isEmpty) ParsedQuery(Map.empty)
    else ParsedQuery(
      raw.split("&").toSeq.filter(_.nonEmpty)
        .map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) =>
              URLDecoder.decode(k, StandardCharsets.UTF_8) ->
                URLDecoder.decode(v, StandardCharsets.UTF_8)
            case Array(k) => URLDecoder.decode(k, StandardCharsets.UTF_8) -> ""
          }
        }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) })

  /** carbonapi_v3_pb MultiFetchRequest decode (public
    * go-graphite/protocol carbonapi_v3_pb.proto: FetchRequest
    * name=1, startTime=2, stopTime=3, highPrecisionTimestamps=4,
    * pathExpression=5, maxDataPoints=6, filterFunctions=7).
    */
  def parseV3Request(body: Array[Byte])
      : Seq[(String, Long, Long, Long, Seq[FilteringFunction])] = {
    val out = Seq.newBuilder[(String, Long, Long, Long, Seq[FilteringFunction])]
    val r = new Wire.Reader(body)
    while (r.hasNext) {
      val (field, wt) = r.nextField()
      if (field == 1 && wt == Wire.LengthDelimited) {
        val m = r.lengthDelimited()
        var name = ""; var path = ""; var from = 0L; var until = 0L; var mdp = 0L
        val ffs = Seq.newBuilder[FilteringFunction]
        while (m.hasNext) {
          val (f, w) = m.nextField()
          f match {
            case 1 => name = m.stringValue()
            case 2 => from = m.varint()
            case 3 => until = m.varint()
            case 5 => path = m.stringValue()
            case 6 => mdp = m.varint()
            case 7 =>
              val ff = m.lengthDelimited()
              var fn = ""; val args = Seq.newBuilder[String]
              while (ff.hasNext) {
                val (f2, w2) = ff.nextField()
                f2 match {
                  case 1 => fn = ff.stringValue()
                  case 2 => args += ff.stringValue()
                  case _ => ff.skip(w2)
                }
              }
              ffs += FilteringFunction(fn, args.result())
            case _ => m.skip(w)
          }
        }
        val target = if (path.nonEmpty) path else name
        out += ((target, from, until, mdp, ffs.result()))
      } else r.skip(wt)
    }
    out.result()
  }

  /** v3 CapabilityResponse (`capabilities/handler.go:71-79`):
    * supportedProtocols=1, name=2; the boolean capabilities default
    * false and are omitted.
    */
  def capabilityResponse(hostname: String): Array[Byte] = {
    val b = new Wire.Buf
    Seq("carbonapi_v3_pb", "carbonapi_v2_pb", "graphite-web-pickle")
      .foreach(p => b.string(1, p))
    b.string(2, hostname)
    b.bytes
  }

  /** Engine-error → HTTP status, matching the reference's mapping:
    * admission 403 for tagged-term gates (`finder/tagged.go:357-363`),
    * 400 for everything else request-shaped.
    */
  def errorStatus(e: Throwable): Int =
    if (e.getMessage != null && e.getMessage.contains("wildcard and regex terms")) 403
    else 400

  /** Turn on TCP_NODELAY for the JDK server's sockets unless the caller
    * already chose. The server writes a response's headers and its body
    * as two writes; with Nagle on, the body waits for the client's
    * delayed ACK of the headers, so every keep-alive response stalled
    * about 40 ms: a cached `/metrics/find` took 44.0 ms (1.4 ms to the
    * first byte) and `/alive` 44.0 ms, against 0.7 ms and 0.5 ms with
    * the option on (loopback, 4-core VM). Go's `net/http`, which the
    * reference serves with, sets TCP_NODELAY by default. The JDK reads
    * the property once, when it creates its first server, so this runs
    * before every `HttpServer.create`.
    */
  private[api] def enableNoDelay(): Unit =
    if (System.getProperty(NoDelayProperty) == null) System.setProperty(NoDelayProperty, "true")

  private val NoDelayProperty = "sun.net.httpserver.nodelay"

  /** carbonapi's TruthyBool: the `noCache` form value is true for any
    * of 1/t/true/y/yes (case-insensitive).
    */
  def truthy(s: Option[String]): Boolean =
    s.exists(v => Set("1", "t", "true", "y", "yes").contains(v.toLowerCase))
}

/** One listening server bound to a table set. `tablesDir` must hold
  * the `points`/`index`/`tags` parquet family the ingest maintains.
  */
final class HttpApi(
    spark: SparkSession,
    tablesDir: String,
    cfg: HttpApi.Config,
    clock: () => Instant = () => Instant.now(),
    port: Int = 0) {

  import HttpApi._

  // the store as of its last commit: each request takes the current
  // snapshot once (one stat when nothing was committed) and opens
  // every table it reads from it (see StoreSnapshot)
  private val snapshots = new StoreSnapshot(spark, tablesDir)
  private val requestSnapshot = new ThreadLocal[StoreSnapshot.Snap]
  @volatile private var observedVersion = -1L

  // data-derived AQE shuffle ceiling for the serving session (same
  // rule as Bench/Verify — see graft.Tuning): the server's input size
  // is the store's bytes, its parallelism the session's. Sized here
  // and re-derived at each new snapshot version (see observe).
  private var shufflePartitions = -1
  observe(snapshots.last)

  private val cache = new FindCache.TtlCache[Any]()

  /** Self-telemetry service (None = disabled). Public so operators
    * (and the dogfood spec) can flush or inspect on demand.
    */
  val telemetry: Option[Telemetry.Service] =
    cfg.metrics.map(new Telemetry.Service(_))

  // always on, exact (see RenderCache); `noCache` bypasses it like the
  // find cache
  private val renderCache = new RenderCache(hit =>
    telemetry.foreach(t => (if (hit) t.renderCacheHits else t.renderCacheMisses).inc()))

  private val readStats: Option[SparkReadStats] = telemetry.map { _ =>
    val l = new SparkReadStats()
    spark.sparkContext.addSparkListener(l)
    l
  }
  private val reqSeq = new java.util.concurrent.atomic.AtomicLong()

  HttpApi.enableNoDelay()
  private val server: HttpServer = cfg.tls match {
    case Some(t) =>
      // HTTPS listener on the same JDK server — the keystore is the
      // JVM analogue of the reference's [clickhouse.tls] cert block
      val s = com.sun.net.httpserver.HttpsServer.create(
        new InetSocketAddress("127.0.0.1", port), 0)
      s.setHttpsConfigurator(
        new com.sun.net.httpserver.HttpsConfigurator(HttpApi.serverSslContext(t)))
      s
    case None => HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }

  // opened per use with the fixed schemas (no inference job) from the
  // snapshot `handle` took for this request, so one request reads one
  // set of commits and sees the latest micro-batch
  private def snapshot: StoreSnapshot.Snap = requestSnapshot.get
  private def points: DataFrame = Store.points(spark, snapshot)
  private def index: DataFrame = Store.index(spark, snapshot)
  private def tagsTable: DataFrame = Store.tags(spark, snapshot)

  def address: String = {
    val scheme = if (cfg.tls.isDefined) "https" else "http"
    s"$scheme://127.0.0.1:${server.getAddress.getPort}"
  }

  def start(): this.type = {
    server.createContext("/", handle _)
    // a small pool, not same-thread dispatch: one slow render (or one
    // malformed request) must not serialize every other route behind
    // it. SparkSession is thread-safe; concurrent handlers just become
    // concurrent Spark jobs, which the driver runs FIFO (no scheduler
    // mode or pool is set), so a long job still delays the stages of
    // jobs submitted after it. Daemon threads so a caller that forgets
    // stop() doesn't pin the JVM.
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, cfg.httpWorkers),
      (r: Runnable) => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t }))
    server.start()
    telemetry.foreach(_.start())
    this
  }

  def stop(): Unit = {
    server.stop(0)
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ =>
    }
    readStats.foreach(spark.sparkContext.removeSparkListener)
    telemetry.foreach(_.stop())
  }

  // -------------------------------------------------------------
  // dispatch
  // -------------------------------------------------------------

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val t0 = System.currentTimeMillis()
    // per-request job group: thread-local, so concurrent handlers each
    // account their own Spark reads (see SparkReadStats). Scoped to
    // the three instrumented route families ONLY — a group that no
    // record() branch drains would leak one listener entry per
    // request for the life of the server.
    val group: Option[String] =
      telemetry.filter(_ => recordedScope(path))
        .map(_ => SparkReadStats.GroupPrefix + reqSeq.incrementAndGet())
    group.foreach(g =>
      spark.sparkContext.setJobGroup(g, path, interruptOnCancel = false))
    try {
      requestSnapshot.set(snapshots.current())
      observe(snapshot)
      path match {
        case p if p.startsWith("/render")        => render(ex)
        case p if p.startsWith("/metrics/find")  => find(ex)
        case "/metrics/index.json"               => indexJson(ex)
        case "/tags/autoComplete/tags"           => autocompleteTags(ex, names = true)
        case "/tags/autoComplete/values"         => autocompleteTags(ex, names = false)
        case p if p.startsWith("/_internal/capabilities") => capabilities(ex)
        case "/api/v1/labels"                    => promLabels(ex)
        case p if p.startsWith("/api/v1/label/") && p.endsWith("/values") =>
          promLabelValues(ex, p.stripPrefix("/api/v1/label/").stripSuffix("/values"))
        case "/api/v1/series"                    => promSeries(ex)
        case "/api/v1/query_range"               => promQueryRange(ex)
        case "/api/v1/query"                     => promQueryInstant(ex)
        case "/api/v1/read"                      => promRemoteRead(ex)
        case "/api/v1/status/buildinfo"          => promBuildInfo(ex)
        case "/api/v1/metadata"                  => promMetadata(ex)
        case "/api/v1/rules" =>
          // no rule manager content — the reference's embedded web
          // serves the same empty group list
          reply(ex, 200, "application/json",
            promJson("""{"groups":[]}"""))
        case "/api/v1/alerts" =>
          reply(ex, 200, "application/json",
            promJson("""{"alerts":[]}"""))
        case "/api/v1/query_exemplars" =>
          // exemplar storage is a stub upstream too
          // (`prometheus/exemplar.go` nopExemplarQueryable)
          reply(ex, 200, "application/json", promJson("[]"))
        case "/graph" | "/graph/" =>
          // minimal built-in PromQL browser: the reference mounts the
          // stock Prometheus web UI (`prometheus/run.go:28-83`); this
          // serves a small self-contained page against the same
          // /api/v1 surface (declared divergence: a query browser,
          // not the full upstream UI — Grafana remains the intended
          // rich client, and every API it needs is implemented)
          reply(ex, 200, "text/html; charset=utf-8", HttpApi.GraphPage)
        case "/alive" =>
          reply(ex, 200, "text/plain", "Graphite-clickhouse is alive.\n".getBytes)
        case "/health" =>
          // real storage probe, not a static Ok — a dead table path
          // must fail the LB check (`healthcheck/healthcheck.go:36-50`)
          if (healthy())
            reply(ex, 200, "text/plain", "Graphite-clickhouse is alive.\n".getBytes)
          else
            reply(ex, 503, "text/plain", "Storage healthcheck failed\n".getBytes)
        case "/debug/config" => debugConfig(ex)
        case _         => reply(ex, 404, "text/plain", "not found\n".getBytes)
      }
    } catch {
      case e: Guards.StorageError =>
        // storage guards (403/504) and limiter refusals (503)
        reply(ex, e.code, "text/plain", (s"${e.message}\n").getBytes)
      case e: IllegalArgumentException =>
        reply(ex, errorStatus(e), "text/plain", (s"${e.getMessage}\n").getBytes)
      case NonFatal(e) =>
        reply(ex, 500, "text/plain", (s"internal error: ${e.getMessage}\n").getBytes)
    } finally {
      requestSnapshot.remove()
      group.foreach(_ => spark.sparkContext.clearJobGroup())
      record(ex, path, t0, group)
      ex.close()
    }
  }

  /** A new snapshot version is the server's one store-change signal:
    * it re-derives the shuffle ceiling from the snapshot's byte total,
    * and sets the confs only when the count changes (a manual session
    * override survives commits that leave the count as it was).
    */
  private def observe(snap: StoreSnapshot.Snap): Unit =
    if (snap.version > observedVersion) synchronized {
      if (snap.version > observedVersion) {
        observedVersion = snap.version
        val n = graft.Tuning.initialShufflePartitions(snap.bytes, spark.sparkContext.defaultParallelism)
        if (n != shufflePartitions) {
          shufflePartitions = n
          graft.Tuning.applyConf(spark, n)
        }
      }
    }

  /** The three instrumented route families — the same trio the
    * reference wires in `InitMetrics` (`metrics/metrics.go:684-686`).
    */
  private def recordedScope(path: String): Boolean =
    path.startsWith("/metrics/find") || path.startsWith("/tags/autoComplete") ||
      path.startsWith("/render")

  /** Post-response telemetry for the three instrumented scopes
    * (find / tags-autocomplete / render — the same trio the reference
    * wires in `InitMetrics`, `metrics/metrics.go:684-686`). Handlers
    * leave result sizes and the find-phase split as exchange
    * attributes; status comes from `reply`. Never throws into the
    * serving path.
    */
  private def record(
      ex: HttpExchange, path: String, t0: Long, group: Option[String]): Unit =
    telemetry.foreach { tm =>
      try {
        val durMs = System.currentTimeMillis() - t0
        val status = ex.getAttribute("g.status") match {
          case i: Integer => i.toInt
          case _ => 500 // no reply was written: the handler died mid-flight
        }
        def attrL(k: String, d: Long = 0L): Long = ex.getAttribute(k) match {
          case l: java.lang.Long => l.longValue()
          case _ => d
        }
        val untilFrom = attrL("g.untilFrom")
        val mc = attrL("g.metrics")
        val err = status != 200 && status != 404
        def reads(table: String, readRows: Long): Unit = {
          val (chRows, chBytes) =
            group.zip(readStats).map { case (g, rs) => rs.drain(g) }
              .getOrElse((0L, 0L))
          tm.query(table).send(untilFrom, durMs, readRows, attrL("g.bytes"),
            chRows, chBytes, err, tm.stats)
        }
        path match {
          case p if p.startsWith("/metrics/find") =>
            tm.find.send(status, durMs, untilFrom, tm.stats, mc)
            reads("index", mc)
          case p if p.startsWith("/tags/autoComplete") =>
            tm.tags.send(status, durMs, untilFrom, tm.stats, mc)
            reads("tags", mc)
          case p if p.startsWith("/render") =>
            tm.render.send(status, durMs, untilFrom, tm.stats, mc,
              points = attrL("g.points"), finderMs = attrL("g.finderMs", -1L))
            reads("points", attrL("g.points"))
          case _ => () // other routes are uninstrumented, like the reference
        }
      } catch { case NonFatal(_) => () }
    }

  /** Admission with wait-queue telemetry (`metrics.WaitMetric`,
    * `metrics/metrics.go:60-89`): count attempts and 503 refusals for
    * enabled limiters.
    */
  private def admitted[T](
      ws: Telemetry.Service => Telemetry.WaitStats,
      lim: Limiter.ServerLimiter)(body: => T): T = {
    val w = telemetry.filter(_ => lim.enabled).map(ws)
    w.foreach(_.requests.inc())
    try lim.withSlot(cfg.limits.waitMs)(body)
    catch {
      case e: Guards.StorageError if e.code == 503 =>
        w.foreach(_.errors.inc()); throw e
    }
  }

  /** The route's limiter, per-user override first
    * (`config.GetUserFindLimiter`/`GetQueryLimiter` keyed by the
    * `X-Forwarded-User` header).
    */
  private def limiterFor(
      ex: HttpExchange, route: Limits => Limiter.ServerLimiter): Limiter.ServerLimiter = {
    val user = Option(ex.getRequestHeaders.getFirst("X-Forwarded-User")).getOrElse("")
    cfg.limits.user.getOrElse(user, route(cfg.limits))
  }

  private def reply(
      ex: HttpExchange, status: Int, contentType: String, body: Array[Byte]): Unit = {
    // telemetry taps: status drives the request/error counters,
    // response size the read_bytes sample (see record())
    ex.setAttribute("g.status", Integer.valueOf(status))
    ex.setAttribute("g.bytes", java.lang.Long.valueOf(body.length.toLong))
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
  }

  private def readBody(ex: HttpExchange): Array[Byte] =
    ex.getRequestBody.readAllBytes()

  /** Merge URI query params with an urlencoded form body. */
  private def formParams(ex: HttpExchange, body: Array[Byte]): ParsedQuery = {
    val fromUri = parseQueryString(ex.getRequestURI.getRawQuery)
    val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    if (ct.startsWith("application/x-www-form-urlencoded") && body.nonEmpty) {
      val fromBody = parseQueryString(new String(body, StandardCharsets.UTF_8))
      ParsedQuery(fromUri.params ++ fromBody.params.map { case (k, v) =>
        k -> (fromUri.all(k) ++ v)
      })
    } else fromUri
  }

  // -------------------------------------------------------------
  // /metrics/find
  // -------------------------------------------------------------

  private def find(ex: HttpExchange): Unit = {
    val q = formParams(ex, readBody(ex))
    val query = q.first("query").getOrElse("")
    if (query.isEmpty) { reply(ex, 400, "text/plain", "Query not set\n".getBytes); return }
    val format = q.first("format").getOrElse("pickle")
    val now = clock()
    val from = q.first("from").map(s => TimeGrammar.parse(s, java.time.ZoneOffset.UTC, now)).getOrElse(0L)
    val until = q.first("until").map(s => TimeGrammar.parse(s, java.time.ZoneOffset.UTC, now)).getOrElse(0L)

    // reference quirk kept: find admits through the tags limiter
    // (`find/handler.go:50-51`) — so its waits count under tags_wait
    // too, the wait-metric handle the limiter was built with; cache
    // hits bypass admission
    val lim = limiterFor(ex, _.tags)
    def compute: Seq[(String, Boolean)] = admitted(_.tagsWait, lim) {
      Finder.find(index, query, from, until,
        wildcardMinDistance = cfg.wildcardMinDistance)
        .orderBy("path").collect().toSeq
        .map(r => (r.getString(0), r.getBoolean(1)))
    }

    val (rows, hit, ttl) = cfg.findCache match {
      case Some(fc) if fc.findTimeoutSec > 0 && !truthy(q.first("noCache")) =>
        val key = FindCache.findKey(query, now.getEpochSecond, fc.findTimeoutSec)
        val (v, h) = FindCache.through(cache, key, fc.findTimeoutSec, now.getEpochSecond)(compute: Any)
        // `find/handler.go:143-144,213-214` — the finder cache pair
        telemetry.foreach(t =>
          if (h) t.findCacheHits.inc() else t.findCacheMisses.inc())
        (v.asInstanceOf[Seq[(String, Boolean)]], h, fc.findTimeoutSec)
      case _ => (compute, false, 0)
    }
    if (hit) ex.getResponseHeaders.set("X-Cached-Find", ttl.toString)
    ex.setAttribute("g.untilFrom", java.lang.Long.valueOf(until - from))
    ex.setAttribute("g.metrics", java.lang.Long.valueOf(rows.size.toLong))

    format match {
      case "json" => reply(ex, 200, "application/json", JsonSink.find(rows).getBytes)
      case "pickle" => reply(ex, 200, "application/pickle", FindSink.pickle(rows))
      case "protobuf" | "carbonapi_v2_pb" | "carbonapi_v3_pb" =>
        reply(ex, 200, "application/x-protobuf", FindSink.protobuf(query, rows))
      case other => reply(ex, 400, "text/plain", s"unsupported format $other\n".getBytes)
    }
  }

  // -------------------------------------------------------------
  // /render
  // -------------------------------------------------------------

  private def render(ex: HttpExchange): Unit = {
    val body = readBody(ex)
    val q = formParams(ex, body)
    val format = q.first("format").getOrElse("")
    val now = clock()

    // (target, from, until, mdp, filteringFunctions) request rows
    val requests: Seq[(String, Long, Long, Long, Seq[FilteringFunction])] =
      if (format == "carbonapi_v3_pb") parseV3Request(body)
      else {
        val from = q.first("from").map(s => TimeGrammar.parse(s, java.time.ZoneOffset.UTC, now)).getOrElse(0L)
        val until = q.first("until").map(s => TimeGrammar.parse(s, java.time.ZoneOffset.UTC, now)).getOrElse(0L)
        val mdp = q.first("maxDataPoints").flatMap(s => s.toLongOption).getOrElse(0L)
        q.all("target").map(t => (t, from, until, mdp, Nil))
      }
    if (requests.isEmpty) { reply(ex, 400, "text/plain", "no targets\n".getBytes); return }
    if (requests.exists { case (_, f, u, _, _) => f >= u }) {
      reply(ex, 400, "text/plain", "invalid time range\n".getBytes); return
    }

    // opened on first use: a plain render never opens tags, a cached
    // find never opens index. `points` is opened by each render call
    // itself, and only for groups the render cache misses; the cache
    // is pinned to the snapshot `points` opens (see RenderCache)
    lazy val idx = index
    lazy val tags = tagsTable
    val snap = snapshot
    val useCache = !truthy(q.first("noCache"))
    var anyCacheHit = false
    var maxTtl = 0
    // accumulated find-phase wall time, the `requests_finder` split
    // (`metrics.go:464-474`: start→fetch is finder, fetch→end is fetch)
    var finderNanos = 0L

    def consolidateOf(ffs: Seq[FilteringFunction]): Option[String] =
      ffs.collectFirst {
        case FilteringFunction("consolidateBy", args) if args.nonEmpty => args.head
      }

    // group per (from, until, mdp) window like MFRToMultiTarget, then
    // per target-set consolidateBy — the reference resolves filtering
    // functions PER TARGET (`render/data/targets.go:134-174`), so two
    // targets in one window with different consolidateBy render in
    // separate function groups.
    // One render-limiter slot held across find+fetch, like the
    // reference's per-target Enter around its fetch goroutine
    // (`render/handler.go:181-199`); refusal → 503 via handle()'s
    // StorageError mapping.
    val renderLim = limiterFor(ex, _.render)
    val frames = requests.groupBy { case (_, f, u, m, _) => (f, u, m) }.toSeq.sortBy(_._1)
    val allSeries = admitted(_.renderWait, renderLim) { frames.flatMap { case ((from, until, mdp0), reqs) =>
      val mdp = if (mdp0 > 0) mdp0 else Request.DefaultMaxDataPoints
      val tf = TimeFrame(from, until, mdp)
      val versionMode =
        if (cfg.internalAggregation) Render.VersionMode.Raw
        else Render.VersionMode.MergedCells

      reqs.groupBy(r => consolidateOf(r._5)).toSeq.sortBy(_._1).flatMap {
        case (consolidate, subReqs) =>
          // Per target: the found (path, display) pairs, collected on
          // the driver like the reference (`render/handler.go`), then
          // one render over every target of the group.
          val findT0 = System.nanoTime()
          // render-find cache attribution: short pair for small recent
          // windows, default otherwise (`render/handler.go:45-56`)
          def cacheCounters(hit: Boolean): Unit = telemetry.foreach { tmm =>
            val short = cfg.findCache.exists(fc =>
              FindCache.renderUsesShort(fc, now.getEpochSecond, from, until))
            (short, hit) match {
              case (true, true) => tmm.shortCacheHits.inc()
              case (true, false) => tmm.shortCacheMisses.inc()
              case (false, true) => tmm.defaultCacheHits.inc()
              case (false, false) => tmm.defaultCacheMisses.inc()
            }
          }
          val targets: Seq[(String, Seq[(String, String)])] =
            subReqs.map(_._1).distinct.map { t =>
              def compute: Seq[(String, String)] =
                if (t.startsWith("seriesByTag("))
                  Finder.findTagged(tags, t, cfg.flags, tagsMinInQuery = cfg.tagsMinInQuery)
                    .select("path").collect().toSeq
                    .map { r => val p = r.getString(0); (p, Tagged.decodePath(p)) }
                else
                  Finder.find(idx, t, from, until,
                    wildcardMinDistance = cfg.wildcardMinDistance)
                    .where(col("is_leaf")).select("path").collect().toSeq
                    .map { r => val p = r.getString(0); (p, p) }
              val ttl = cfg.findCache match {
                case Some(fc) if useCache =>
                  FindCache.renderTimeout(fc, now.getEpochSecond, from, until)
                case _ => 0
              }
              val pairs =
                if (ttl > 0) {
                  val key = FindCache.targetKey(from, until, t, ttl)
                  val (v, h) = FindCache.through(cache, key, ttl, now.getEpochSecond)(compute: Any)
                  if (h) { anyCacheHit = true; maxTtl = math.max(maxTtl, ttl) }
                  cacheCounters(hit = h)
                  v.asInstanceOf[Seq[(String, String)]]
                } else compute
              t -> pairs
            }
          finderNanos += System.nanoTime() - findT0

          SeriesAssembly.assemble(Store.points(spark, snap), targets, tf, cfg.rules,
            now = now.getEpochSecond,
            consolidateBy = consolidate,
            appendEmpty = cfg.appendEmptySeries,
            versionMode = versionMode,
            cache = if (useCache) Some(RenderCache.At(renderCache, snap.version)) else None)
            .map(a => (a.series, from, until))
      }
    } }

    if (anyCacheHit) ex.getResponseHeaders.set("X-Cached-Find", maxTtl.toString)

    ex.setAttribute("g.untilFrom", java.lang.Long.valueOf(
      requests.map { case (_, f, u, _, _) => u - f }.max))
    ex.setAttribute("g.metrics", java.lang.Long.valueOf(allSeries.size.toLong))
    ex.setAttribute("g.points", java.lang.Long.valueOf(
      allSeries.map(_._1.values.length.toLong).sum))
    ex.setAttribute("g.finderMs", java.lang.Long.valueOf(finderNanos / 1000000L))

    format match {
      case "carbonapi_v3_pb" =>
        reply(ex, 200, "application/x-protobuf", ProtobufSink.encodeV3Rows(allSeries))
      case "protobuf" | "carbonapi_v2_pb" =>
        reply(ex, 200, "application/x-protobuf", ProtobufSink.encodeV2(allSeries.map(_._1)))
      case "pickle" =>
        reply(ex, 200, "application/pickle", PickleSink.encode(allSeries.map(_._1)))
      case "json" =>
        val (f, u) = frames.headOption.map(fr => (fr._1._1, fr._1._2)).getOrElse((0L, 0L))
        reply(ex, 200, "application/json", JsonSink.render(allSeries.map(_._1), f, u).getBytes)
      case other =>
        reply(ex, 400, "text/plain",
          (s"format $other is not supported, supported formats: carbonapi_v3_pb, " +
            "pickle, protobuf (aka carbonapi_v2_pb)\n").getBytes)
    }
  }

  // -------------------------------------------------------------
  // /metrics/index.json
  // -------------------------------------------------------------

  private def indexJson(ex: HttpExchange): Unit = {
    // all leaf metric names, both plain and tagged (`index/index.go`)
    val plain = index
      .where(col("level") >= graft.model.Schemas.TreeLevelOffset &&
        col("level") < graft.model.Schemas.ReverseTreeLevelOffset &&
        !col("path").endsWith("."))
      .select("path").distinct()
    val tagged = tagsTable.select("path").distinct()
      .select(col("path"))
    val names = plain.unionByName(tagged)
      .orderBy("path").collect().map(_.getString(0))
    reply(ex, 200, "application/json",
      names.map(JsonSink.q).mkString("[", ",", "]").getBytes)
  }

  // -------------------------------------------------------------
  // /tags/autoComplete/{tags,values}
  // -------------------------------------------------------------

  private def autocompleteTags(ex: HttpExchange, names: Boolean): Unit = {
    val q = formParams(ex, readBody(ex))
    val exprs = q.all("expr").toList
    val limit = q.first("limit").flatMap(_.toIntOption).getOrElse(10000)
    val now = clock()

    val lim = limiterFor(ex, _.tags)
    def compute: Seq[String] = admitted(_.tagsWait, lim) {
      if (names)
        Autocomplete.tagNamesComplete(tagsTable, exprs,
          tagPrefix = q.first("tagPrefix").getOrElse(""), limit = limit, flags = cfg.flags)
      else {
        val tag = q.first("tag").getOrElse(
          throw new IllegalArgumentException("tag is not set"))
        import spark.implicits._
        Autocomplete.tagValues(tagsTable, tag, exprs,
          valuePrefix = q.first("valuePrefix").getOrElse(""), limit = limit,
          flags = cfg.flags).as[String].collect().toSeq
      }
    }

    val (values, hit, ttl) = cfg.findCache match {
      case Some(fc) if fc.findTimeoutSec > 0 && !truthy(q.first("noCache")) =>
        val kind = if (names) "tags" else "values"
        val params = (exprs ++ q.first("tag") ++ q.first("tagPrefix") ++
          q.first("valuePrefix") ++ Seq(limit.toString)).mkString(";")
        val key = FindCache.autocompleteKey(kind, params, now.getEpochSecond, fc.findTimeoutSec)
        val (v, h) = FindCache.through(cache, key, fc.findTimeoutSec, now.getEpochSecond)(compute: Any)
        // autocomplete counts against the finder cache pair too
        // (`autocomplete/autocomplete.go:315-316,434-435`)
        telemetry.foreach(t =>
          if (h) t.findCacheHits.inc() else t.findCacheMisses.inc())
        (v.asInstanceOf[Seq[String]], h, fc.findTimeoutSec)
      case _ => (compute, false, 0)
    }
    if (hit) ex.getResponseHeaders.set("X-Cached-Find", ttl.toString)
    ex.setAttribute("g.metrics", java.lang.Long.valueOf(values.size.toLong))
    reply(ex, 200, "application/json", JsonSink.autocomplete(values).getBytes)
  }

  // -------------------------------------------------------------
  // Prometheus label API (`prometheus/labels.go`, `series.go`):
  // label names/values and series label sets served from the tags
  // table via the same matcher → tagged-term compiler the reference
  // uses. PromQL evaluation stays out of scope (SURVEY §7.4).
  // -------------------------------------------------------------

  private def promJson(data: String): Array[Byte] =
    s"""{"status":"success","data":$data}""".getBytes

  private def jstr(s: String): String = JsonSink.q(s)

  private def promError(ex: HttpExchange, msg: String): Unit =
    reply(ex, 400, "application/json",
      s"""{"status":"error","error":${jstr(msg)}}""".getBytes)

  /** Prom API errors wear the status/error JSON envelope, not the
    * generic text mapping (clients parse the envelope).
    */
  private def promRoute(ex: HttpExchange)(body: => Unit): Unit =
    try body
    catch { case e: IllegalArgumentException => promError(ex, e.getMessage) }

  /** The date window the reference applies to the tagged index
    * (`prometheus/querier.go:40,79`, `querier_select.go:63-95`):
    * the request's start/end when present, else the last
    * `tagged-autocomplete-days` — this is what prunes the date
    * partitions instead of scanning all retention.
    */
  private def promDatePred(q: ParsedQuery): Column = {
    def ts(v: String): Option[Long] = {
      val t = TimeGrammar.parse(v, java.time.ZoneOffset.UTC, clock())
      if (t > 0) Some(t) else None
    }
    val start = q.first("start").flatMap(ts)
    val end = q.first("end").flatMap(ts)
    (start, end) match {
      case (Some(s), Some(e)) =>
        col("date").between(
          to_date(timestamp_seconds(lit(s))), to_date(timestamp_seconds(lit(e))))
      case _ if cfg.taggedAutocompleteDays > 0 =>
        col("date") >= to_date(timestamp_seconds(
          lit(clock().getEpochSecond - cfg.taggedAutocompleteDays.toLong * 86400L)))
      case _ => lit(true)
    }
  }

  /** Series for the request's `match[]` selectors (union), as decoded
    * label rows; empty match list → all tagged series in the window.
    */
  private def matchedPaths(q: ParsedQuery): DataFrame = {
    val windowed = tagsTable.where(promDatePred(q))
    val selectors = q.all("match[]")
    if (selectors.isEmpty) windowed.select("path").distinct()
    else selectors
      .map { sel =>
        val matchers = graft.prom.Prom.parseSelector(sel) match {
          case Right(m) => m
          case Left(e)  => throw new IllegalArgumentException(e)
        }
        graft.prom.Prom.findByMatchers(windowed, matchers)
      }
      .reduceLeft(_ unionByName _).distinct()
  }

  private def promLabels(ex: HttpExchange): Unit = promRoute(ex) {
    val q = formParams(ex, readBody(ex))
    val names = graft.prom.Prom.labelRows(matchedPaths(q))
      .select("name").distinct()
      .collect().map(_.getString(0)).sorted
    reply(ex, 200, "application/json",
      promJson(names.map(jstr).mkString("[", ",", "]")))
  }

  private def promLabelValues(ex: HttpExchange, label: String): Unit = promRoute(ex) {
    val q = formParams(ex, readBody(ex))
    val values = graft.prom.Prom.labelRows(matchedPaths(q))
      .where(col("name") === label)
      .select("value").distinct()
      .collect().map(_.getString(0)).sorted
    reply(ex, 200, "application/json",
      promJson(values.map(jstr).mkString("[", ",", "]")))
  }

  /** `/api/v1/query_range` over the [[graft.prom.PromQL]] subset
    * evaluator: instant selector plus rate, increase, and the
    * `_over_time` family, on the Prometheus matrix JSON envelope.
    * Runs under the tags limiter like the other Prometheus label
    * routes.
    */
  /** Unix-seconds or RFC3339 timestamp param, Prometheus-style. */
  private def promTs(key: String, v: String): Long =
    v.toDoubleOption.map(_.toLong).getOrElse(
      // RFC3339 with any numeric zone offset, like Prometheus
      // (Instant.parse alone only accepts the trailing-Z form)
      try java.time.OffsetDateTime.parse(v).toEpochSecond
      catch { case _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(s"bad $key: '$v'") })

  private def promQueryRange(ex: HttpExchange): Unit = promRoute(ex) {
    val q = formParams(ex, readBody(ex))
    val query = q.first("query").getOrElse(
      throw new IllegalArgumentException("query is not set"))
    def ts(key: String): Long = q.first(key) match {
      case Some(v) => promTs(key, v)
      case None => throw new IllegalArgumentException(s"$key is not set")
    }
    val start = ts("start")
    val end = ts("end")
    if (end < start) throw new IllegalArgumentException("end < start")
    val step = q.first("step") match {
      case None => 60L
      // fractional numeric steps round UP to whole seconds (Prometheus
      // accepts "0.5"; our grid is second-resolution) — ceil, not
      // truncate, so they don't collapse to 0 and trip the
      // positive-step error below
      case Some(s) => s.toDoubleOption.map(v => math.ceil(v).toLong).getOrElse(
        graft.prom.PromQL.durationSec(s).fold(
          e => throw new IllegalArgumentException(e), identity))
    }
    // zero/negative step is a request error like Prometheus — silently
    // clamping would evaluate a multi-million-slot grid nobody asked for
    if (step <= 0) throw new IllegalArgumentException(
      s"step must be positive, got $step")
    val expr = graft.prom.PromQL.parse(query).fold(
      e => throw new IllegalArgumentException(e), identity)
    // PromQL evaluation is a data read: admit through the render/query
    // limiter with NO per-user override, like the reference's
    // prometheus path (`prometheus/querier_select.go:101` takes the
    // query limiter with an empty username) — not the tags limiter.
    val rows = cfg.limits.render.withSlot(cfg.limits.waitMs) {
      // evalMatrixGraphite: the plain-from-tagged escape hatch
      // (graphite{target="…"} matcher sets route to the PLAIN index;
      // the store's one points table holds both path forms)
      val pts = points
      graft.prom.PromQL.evalMatrixGraphite(
          pts, index, pts, tagsTable, expr, start, end, step)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    reply(ex, 200, "application/json",
      graft.prom.PromQL.matrixJson(rows, jstr).getBytes)
  }

  /** `/api/v1/query` — instant evaluation of the same PromQL subset:
    * one grid point at `time` (default: the server clock), vector
    * JSON envelope. The evaluator is the range one with
    * `start = end = time`, so selector lookback, counter-reset rate
    * math, and by-label aggregation behave identically to
    * `/api/v1/query_range`.
    */
  private def promQueryInstant(ex: HttpExchange): Unit = promRoute(ex) {
    val q = formParams(ex, readBody(ex))
    val query = q.first("query").getOrElse(
      throw new IllegalArgumentException("query is not set"))
    val time = q.first("time") match {
      case Some(v) => promTs("time", v)
      case None => clock().getEpochSecond
    }
    val expr = graft.prom.PromQL.parse(query).fold(
      e => throw new IllegalArgumentException(e), identity)
    // render/query limiter, no user override — see promQueryRange
    val rows = cfg.limits.render.withSlot(cfg.limits.waitMs) {
      val pts = points
      graft.prom.PromQL.evalMatrixGraphite(
          pts, index, pts, tagsTable, expr, time, time, 1L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    // sort()/sort_desc()/sort_by_label(_desc) order the instant
    // vector (the only place Prometheus honors them)
    val ordered = graft.prom.PromQL.orderInstant(expr, rows)
    reply(ex, 200, "application/json",
      graft.prom.PromQL.vectorJson(ordered.getOrElse(rows), jstr,
        presorted = ordered.isDefined).getBytes)
  }

  /** Grafana's datasource bootstrap: before the first query it probes
    * `/api/v1/status/buildinfo` (version-based feature detection) and
    * `/api/v1/metadata` (metric help/type autocomplete). The reference
    * serves both by mounting the stock Prometheus web handler
    * (`prometheus/run.go:62-88`); its embedded engine never scrapes, so
    * metadata is the empty map there too — here the two routes are
    * static JSON documents with the same envelopes.
    */
  private def promBuildInfo(ex: HttpExchange): Unit =
    reply(ex, 200, "application/json", promJson(
      """{"version":"2.45.0","revision":"graft","branch":"HEAD",""" +
        """"buildUser":"","buildDate":"","goVersion":""}"""))

  private def promMetadata(ex: HttpExchange): Unit =
    reply(ex, 200, "application/json", promJson("{}"))

  private def promSeries(ex: HttpExchange): Unit = promRoute(ex) {
    val q = formParams(ex, readBody(ex))
    if (q.all("match[]").isEmpty) {
      promError(ex, "no match[] parameter provided")
      return
    }
    // ordering is pinned driver-side on the response-sized result; a
    // distributed sort here would be a wasted range-partition pass
    val series = graft.prom.Prom.labelRows(matchedPaths(q))
      .collect()
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getString(1))
          .map(r => s"${jstr(r.getString(1))}:${jstr(r.getString(2))}")
          .mkString("{", ",", "}")
      }
    reply(ex, 200, "application/json", promJson(series.mkString("[", ",", "]")))
  }

  // -------------------------------------------------------------
  // /health probe, /debug/config, /api/v1/read
  // -------------------------------------------------------------

  /** Last health probe verdict and its epoch-second stamp; null until
    * the first probe (a sentinel stamp like Long.MinValue would
    * overflow the `now - last` age check).
    */
  @volatile private var healthLast: (Long, Boolean) = null

  /** The reference's storage probe (`healthcheck/healthcheck.go:36-50`):
    * a deliberately non-matching index query (wrong level, nonsense
    * path, epoch-era date) — success means the storage path works
    * end-to-end, the result is always empty. At most one probe per
    * 10 s (the reference's rate), the verdict cached in between so a
    * hammering load balancer costs one Spark job per window.
    */
  private def healthy(): Boolean = {
    val now = clock().getEpochSecond
    val cached = healthLast
    if (cached != null && now - cached._1 < 10) cached._2
    else {
      val verdict =
        try {
          index.where(col("level") === 20002 &&
              col("path").isin("NonExistient", "NonExistient.") &&
              col("date") === lit("1970-02-12").cast("date"))
            .select("path").distinct().count()
          true
        } catch { case NonFatal(_) => false }
      healthLast = (now, verdict)
      verdict
    }
  }

  /** `/debug/config` (`graphite-clickhouse.go:573-593`): the active
    * config marshaled as indented JSON — the ops "what is this
    * instance actually running with" endpoint.
    */
  private def debugConfig(ex: HttpExchange): Unit = {
    def js(pairs: (String, String)*): String =
      pairs.map { case (k, v) => s"  ${jstr(k)}: $v" }.mkString("{\n", ",\n", "\n}")
    val limiterJson = (l: Limiter.ServerLimiter) => jstr(l.toString)
    val body = js(
      "tablesDir" -> jstr(tablesDir),
      "internalAggregation" -> cfg.internalAggregation.toString,
      "appendEmptySeries" -> cfg.appendEmptySeries.toString,
      "wildcardMinDistance" -> cfg.wildcardMinDistance.toString,
      "tagsMinInQuery" -> cfg.tagsMinInQuery.toString,
      "taggedAutocompleteDays" -> cfg.taggedAutocompleteDays.toString,
      "httpWorkers" -> cfg.httpWorkers.toString,
      "findCache" -> cfg.findCache.map(c => jstr(c.toString)).getOrElse("null"),
      "metrics" -> cfg.metrics.map(m => js(
        "metricEndpoint" -> jstr(m.metricEndpoint),
        "statsdEndpoint" -> jstr(m.statsdEndpoint),
        "extendedStat" -> m.extendedStat.toString,
        "metricIntervalSec" -> m.metricIntervalSec.toString,
        "metricPrefix" -> jstr(m.metricPrefix),
        "requestBuckets" -> m.bucketsWidth.size.toString,
        "ranges" -> m.ranges.size.toString,
        "findRanges" -> m.findRanges.size.toString)).getOrElse("null"),
      "rollupRules" -> cfg.rules.patterns.length.toString,
      "featureFlags" -> jstr(cfg.flags.toString),
      "limits" -> js(
        "tags" -> limiterJson(cfg.limits.tags),
        "render" -> limiterJson(cfg.limits.render),
        "userOverrides" -> cfg.limits.user.size.toString,
        "waitMs" -> cfg.limits.waitMs.toString))
    reply(ex, 200, "application/json", (body + "\n").getBytes)
  }

  /** Prometheus remote read (`/api/v1/read`): snappy-block-compressed
    * protobuf `ReadRequest` → matcher find → windowed raw samples →
    * `ReadResponse` (public prompb shapes; the reference serves this
    * via the stock web handler, `prometheus/run.go:80`). Sample
    * streams are raw (version-deduped, no grid/rollup) — remote read
    * returns source samples and lets the caller's PromQL engine do
    * the math.
    */
  private def promRemoteRead(ex: HttpExchange): Unit = {
    val raw = readBody(ex)
    val body =
      try org.xerial.snappy.Snappy.uncompress(raw)
      catch { case NonFatal(_) =>
        throw new IllegalArgumentException("snappy decode failed") }
    // ReadRequest{queries=1}; Query{start_ms=1, end_ms=2, matchers=3};
    // LabelMatcher{type=1 (EQ NEQ RE NRE), name=2, value=3}
    final case class ReadQuery(
        startMs: Long, endMs: Long, matchers: Seq[(String, String, String)])
    val queries = Seq.newBuilder[ReadQuery]
    val r = new Wire.Reader(body)
    while (r.hasNext) {
      val (field, wt) = r.nextField()
      if (field == 1 && wt == Wire.LengthDelimited) {
        val qr = r.lengthDelimited()
        var startMs = 0L; var endMs = 0L
        val ms = Seq.newBuilder[(String, String, String)]
        while (qr.hasNext) {
          val (f, w) = qr.nextField()
          f match {
            case 1 => startMs = qr.varint()
            case 2 => endMs = qr.varint()
            case 3 =>
              val mr = qr.lengthDelimited()
              var typ = 0L; var name = ""; var value = ""
              while (mr.hasNext) {
                val (mf, mw) = mr.nextField()
                mf match {
                  case 1 => typ = mr.varint()
                  case 2 => name = mr.stringValue()
                  case 3 => value = mr.stringValue()
                  case _ => mr.skip(mw)
                }
              }
              val op = typ match {
                case 0 => "="
                case 1 => "!="
                case 2 => "=~"
                case 3 => "!~"
                case t => throw new IllegalArgumentException(s"unknown matcher type $t")
              }
              ms += ((name, op, value))
            case _ => qr.skip(w)
          }
        }
        queries += ReadQuery(startMs, endMs, ms.result())
      } else r.skip(wt)
    }
    // remote read is a data read: render/query limiter, like the
    // reference's RemoteReadConcurrencyLimit seam
    val out = new Wire.Buf
    lazy val stored = points
    lazy val tags = tagsTable
    cfg.limits.render.withSlot(cfg.limits.waitMs) {
      queries.result().foreach { q =>
        val startS = Math.floorDiv(q.startMs, 1000L)
        val endS = Math.floorDiv(q.endMs + 999L, 1000L)
        val pts = graft.prom.Prom.remoteReadSelect(
          stored, tags, q.matchers, startS, endS)
        val rows = pts.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        // QueryResult{timeseries=1}; TimeSeries{labels=1, samples=2};
        // Label{name=1, value=2}; Sample{value=1 (fixed64), ts_ms=2}
        val result = new Wire.Buf
        rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (path, rs) =>
          val series = new Wire.Buf
          graft.prom.PromQL.labelsOf(path).foreach { case (k, v) =>
            val lb = new Wire.Buf
            lb.string(1, k).string(2, v)
            series.tag(1, Wire.LengthDelimited).varint(lb.size.toLong).raw(lb.bytes)
          }
          rs.sortBy(_._2).foreach { case (_, t, v) =>
            val sb = new Wire.Buf
            sb.tag(1, 1).doubleLE(v)
            sb.tag(2, 0).varint(t * 1000L)
            series.tag(2, Wire.LengthDelimited).varint(sb.size.toLong).raw(sb.bytes)
          }
          result.tag(1, Wire.LengthDelimited).varint(series.size.toLong).raw(series.bytes)
        }
        out.tag(1, Wire.LengthDelimited).varint(result.size.toLong).raw(result.bytes)
      }
    }
    ex.getResponseHeaders.set("Content-Encoding", "snappy")
    reply(ex, 200, "application/x-protobuf",
      org.xerial.snappy.Snappy.compress(out.bytes))
  }

  // -------------------------------------------------------------
  // /_internal/capabilities
  // -------------------------------------------------------------

  private def capabilities(ex: HttpExchange): Unit = {
    val q = formParams(ex, readBody(ex))
    val format = {
      val accepts = ex.getRequestHeaders.get("Accept")
      val fromAccept = accepts != null &&
        accepts.stream().anyMatch(_ == "application/x-carbonapi-v3-pb")
      if (fromAccept) "carbonapi_v3_pb" else q.first("format").getOrElse("")
    }
    val hostname =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case NonFatal(_) => "(unknown)" }
    format match {
      case "carbonapi_v3_pb" =>
        reply(ex, 200, "application/x-carbonapi-v3-pb", capabilityResponse(hostname))
      case "json" =>
        val body =
          s"""{"supportedProtocols":["carbonapi_v3_pb","carbonapi_v2_pb","graphite-web-pickle"],""" +
            s""""name":"$hostname","highPrecisionTimestamps":false,""" +
            """"supportFilteringFunctions":false,"likeSplittedRequests":false,"supportStreaming":false}"""
        reply(ex, 200, "application/json", body.getBytes)
      case _ => reply(ex, 400, "text/plain", "Bad request (unsupported format)\n".getBytes)
    }
  }
}
