package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import graft.store.SeriesStore

/**
 * The HTTP front-end, on the JDK's built-in server (zero dependencies):
 * graphite-web-compatible routes backed by [[Render]] and [[Catalog]].
 * (ref cmd/carbonapi/http/init.go:15-41 for the route table)
 *
 *   /render?target=EXPR&from=F&until=U&format=json|csv|raw&maxDataPoints=N
 *   /metrics/find?query=GLOB[&format=treejson|completer]
 *   /metrics/expand?query=GLOB
 *   /tags/autoComplete/tags?tagPrefix=P&limit=N
 *   /tags/autoComplete/values?tag=T&valuePrefix=P&limit=N
 *   /functions            /version            /lb_check
 *
 * A render starts a few Spark jobs: each target's collect, plus the
 * small build-time actions of data-dependent operators (name and count
 * collects). Concurrent requests share Spark's default FIFO job scheduler,
 * with the optional `concurency` semaphore bounding how many data
 * requests run at once (the reference's limiter).
 */
class HttpApi(spark: SparkSession, store: SeriesStore, port: Int = 8081,
              maxQueryLength: Int = 0,
              notFoundStatusCode: Int = 200,
              requireSuccessAll: Boolean = false,
              concurency: Int = 0,
              concurencyWaitSec: Long = 30L,
              expireDelaySec: Long = 10L,
              maxDataThreads: Int = 256) {

  @volatile private var server: HttpServer = _

  // the find/expand catalog cache follows THIS server's expireDelaySec
  // (ref carbonapi.example.yaml `expireDelaySec: 10`), passed per call so
  // two servers in one JVM keep their own expiry — a process-global var
  // here let the last-constructed server override every server's TTL

  /** Inflight request cap — the reference's `concurency` limiter
    * (ref limiter/limiter.go:14-51, config `concurency`): ≤0 = unlimited
    * (NoopLimiter), otherwise the N+1-th concurrent request queues FIFO for
    * a free slot and 503s after `concurencyWaitSec` (the Go limiter blocks
    * until ctx.Done → ErrTimeout). Spark's scheduler multiplexes whatever
    * gets through; this knob bounds how many actions pile up at once.
    * Only DATA routes (render/find/expand/tags/info — the ones that run
    * Spark work, the analog of the reference's zipper fetches) take a
    * slot: /lb_check, /version, /functions and the usage page stay
    * limiter-free so a saturated engine still answers health probes
    * instead of being evicted by its load balancer. */
  private[graft] val inflight: Option[java.util.concurrent.Semaphore] =
    if (concurency > 0) Some(new java.util.concurrent.Semaphore(concurency, true)) else None

  private def limited[A](takeSlot: Boolean)(body: => A): A = inflight match {
    case None => body
    case Some(_) if !takeSlot => body
    case Some(sem) =>
      if (!sem.tryAcquire(concurencyWaitSec, java.util.concurrent.TimeUnit.SECONDS))
        throw HttpError(503, "too many requests in flight")
      try body finally sem.release()
  }

  def start(): Int = {
    // pools are created per start() so a stop()-then-start() cycle gets
    // live executors — as instance vals, a restarted server inherited
    // TERMINATED pools and every request hung or 503'd permanently
    dispatchPool = java.util.concurrent.Executors.newFixedThreadPool(4)
    dataPool = new java.util.concurrent.ThreadPoolExecutor(
      0, maxDataThreads, 60L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.SynchronousQueue[Runnable]())
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/render", handleBytes(render))
    server.createContext("/info", handle(info))
    server.createContext("/metrics/find", handleBytes(find))
    server.createContext("/metrics/expand", handle(expand))
    // JDK HttpServer picks the longest matching context, so the bare /tags
    // route coexists with the autoComplete ones (ref init.go:35-36 routes
    // both through tagHandler keyed on the path suffix)
    server.createContext("/tags", tagsDispatch _)
    server.createContext("/tags/autoComplete/tags", handle(tagNames))
    server.createContext("/tags/autoComplete/values", handle(tagValues))
    server.createContext("/functions", handle(functions, takeSlot = false))
    server.createContext("/version", handle(_ => ("1.0.0-graft", "text/plain"), takeSlot = false))
    server.createContext("/lb_check", handle(_ => ("Ok\n", "text/plain"), takeSlot = false))
    server.createContext("/_internal/capabilities", handle(capabilities, takeSlot = false))
    server.createContext("/", handle(_ => (usageMsg, "text/plain"), takeSlot = false))
    // Two-tier threading replacing the r8 unbounded cached pool:
    // the server dispatches on a SMALL dedicated pool that either runs a
    // slot-free route inline (/lb_check, /version — cheap, never queued
    // behind data work) or hands a data request off to the BOUNDED data
    // pool, whose threads park in the limiter (sem.tryAcquire) like the
    // reference's goroutine-per-request waiters — but capped: a platform
    // thread costs a real stack, so a request flood beyond `maxDataThreads`
    // gets an immediate 503 instead of spawning thousands of threads.
    // Engine concurrency is still the `concurency` semaphore.
    server.setExecutor(dispatchPool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) { server.stop(0); server = null }
    if (dispatchPool != null) { dispatchPool.shutdown(); dispatchPool = null }
    if (dataPool != null) { dataPool.shutdown(); dataPool = null }
  }

  // maxDataThreads (ctor param): cap on threads parked-or-running in data
  // routes; beyond it new data requests 503 immediately (the limiter's
  // own wait queue is full)

  @volatile private var dispatchPool: java.util.concurrent.ExecutorService = _

  // SynchronousQueue + bounded max: each accepted task gets its own thread
  // up to the cap, then RejectedExecutionException → 503 at dispatch
  @volatile private var dataPool: java.util.concurrent.ThreadPoolExecutor = _

  // ------------------------------------------------------------- handlers

  private type Params = Map[String, Seq[String]]

  private def handle(f: Params => (String, String), takeSlot: Boolean = true)(ex: HttpExchange): Unit =
    handleBytes(p => { val (s, ct) = f(p); (s.getBytes(StandardCharsets.UTF_8), ct) }, takeSlot)(ex)

  /** Short-circuit carrying an explicit status — rendered like Go's
    * `http.Error`: text/plain, message + "\n" (ref http/helper.go:310-362). */
  private case class HttpError(code: Int, msg: String) extends RuntimeException(msg)

  private def statusText(code: Int): String = code match {
    case 400 => "Bad Request"
    case 403 => "Forbidden"
    case 404 => "Not Found"
    case 500 => "Internal Server Error"
    case 502 => "Bad Gateway"
    case 503 => "Service Unavailable"
    case 504 => "Gateway Timeout"
    case _   => "Error"
  }

  private def handleBytes(f: Params => (Array[Byte], String), takeSlot: Boolean = true)(ex: HttpExchange): Unit =
    if (!takeSlot) respond(f, takeSlot)(ex) // cheap route: run on dispatch
    else {
      // snapshot: server.stop(0) does not wait for in-flight exchanges, so
      // a dispatch thread can land here after stop() nulled the field —
      // a null pool takes the same 503 path as a saturated one
      val pool = dataPool
      try {
        if (pool == null) throw new java.util.concurrent.RejectedExecutionException("stopped")
        pool.execute(() => respond(f, takeSlot)(ex))
      } catch {
        case _: java.util.concurrent.RejectedExecutionException =>
          // data-thread cap reached (or server stopping): answer on the
          // dispatch thread without touching Spark
          val body = "too many requests in flight\n".getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
          ex.sendResponseHeaders(503, body.length)
          val os = ex.getResponseBody
          try os.write(body) finally os.close()
      }
    }

  private def respond(f: Params => (Array[Byte], String), takeSlot: Boolean)(ex: HttpExchange): Unit = {
    def plain(code: Int, msg: String): (Int, Array[Byte]) = {
      ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
      (code, (msg + "\n").getBytes(StandardCharsets.UTF_8))
    }
    extraHeaders.remove()
    // per-request id header on every response, success or error
    // (ref http/helper.go:36 ctxHeaderUUID, set by writeResponse/setError)
    ex.getResponseHeaders.set("X-CTX-CarbonAPI-UUID",
      java.util.UUID.randomUUID().toString)
    val out =
      try {
        val (body, ct) = limited(takeSlot)(f(params(ex, readBody = takeSlot)))
        // success content types are served BARE ("application/json"), the
        // reference's exact strings (ref http/helper.go:139-146); only the
        // error surface carries a charset, matching Go's http.Error
        ex.getResponseHeaders.set("Content-Type", ct)
        extraHeaders.get().foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
        (200, body)
      } catch {
        // error responses are text/plain message+\n, the reference's
        // http.Error surface (ref http/helper.go setError/setErrors)
        case e: HttpError => plain(e.code, e.msg)
        case e: graft.store.StoreFetchException =>
          val code = if (e.httpCode == 502 || e.httpCode == 504) 503 else e.httpCode
          plain(code, e.getMessage)
        case e: IllegalArgumentException => plain(400, String.valueOf(e.getMessage))
        case e: graft.parser.Parser.ParseException => plain(400, e.getMessage)
        case e: Throwable => plain(500, String.valueOf(e.getMessage))
      }
    ex.sendResponseHeaders(out._1, out._2.length)
    val os = ex.getResponseBody
    try os.write(out._2) finally os.close()
  }

  /** Sum-of-lengths query cap shared by every handler
    * (ref http/helper.go:364-376, config `maxQueryLength`). */
  private def checkQueryLength(qs: Seq[String]): Unit =
    if (maxQueryLength > 0 && qs.map(_.length).sum > maxQueryLength)
      throw HttpError(400, "query length limit exceeded")

  private def params(ex: HttpExchange, readBody: Boolean = true): Params = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    // POST bodies are urlencoded forms merged with the query string, like
    // the reference's r.ParseForm() (Grafana POSTs /render). Slot-free
    // routes (/, /functions, /version, /lb_check) run INLINE on the
    // 4-thread dispatch pool and never read the body (readBody=false):
    // those routes are GET-shaped in the reference, and a body read there
    // would let four slow-trickling POSTs pin every dispatch thread and
    // starve the /lb_check health probe this tier exists to protect.
    val form =
      if (readBody && ex.getRequestMethod == "POST" &&
          Option(ex.getRequestHeaders.getFirst("Content-Type"))
            .forall(_.startsWith("application/x-www-form-urlencoded")))
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      else ""
    (q + "&" + form).split("&").filter(_.nonEmpty).toSeq
      .map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) (dec(kv), "") else (dec(kv.take(i)), dec(kv.drop(i + 1)))
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
  }

  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  private def one(p: Params, k: String, default: String = ""): String =
    p.get(k).flatMap(_.headOption).getOrElse(default)

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  // ---- /render with a short-TTL response cache (the reference's single
  // biggest practical throughput lever: identical dashboard queries within
  // the TTL skip re-evaluation entirely — ref render_handler.go:172-247,
  // cache.go:22-60). Keyed by the full query shape; `noCache=true` bypasses.
  private val cacheTtlSec: Long = sys.env.get("GRAFT_RESPONSE_CACHE_SEC").flatMap(_.toLongOption).getOrElse(60L)
  // short-TTL split for "live" queries (small window ending near now) —
  // disabled by default, exactly like the reference's
  // responseCache.shortTimeoutSec (ref config/init.go:154-159,295-310 and
  // render_handler.go:45-65 getCacheTimeout)
  private[api] val cacheShortSec: Long =
    sys.env.get("GRAFT_RESPONSE_CACHE_SHORT_SEC").flatMap(_.toLongOption).getOrElse(0L)
  private[api] val cacheShortDurationSec: Long =
    sys.env.get("GRAFT_RESPONSE_CACHE_SHORT_DURATION_SEC").flatMap(_.toLongOption).getOrElse(10800L)
  private[api] val cacheShortUntilOffsetSec: Long =
    sys.env.get("GRAFT_RESPONSE_CACHE_SHORT_UNTIL_OFFSET_SEC").flatMap(_.toLongOption).getOrElse(120L)
  private val respCache = new java.util.concurrent.ConcurrentHashMap[String, (Long, Array[Byte], String)]()

  private def cacheTimeoutFor(p: Params, now: Long, until: Long, durationSec: Long): Long =
    HttpApi.cacheTimeoutRule(one(p, "cacheTimeout").toLongOption, cacheTtlSec,
      cacheShortSec, cacheShortDurationSec, cacheShortUntilOffsetSec, now, until, durationSec)

  /** Per-request response headers set from inside a handler (the JDK
    * handler signature doesn't thread the exchange through); applied by
    * handleBytes after the handler returns. */
  private val extraHeaders = new ThreadLocal[List[(String, String)]] {
    override def initialValue(): List[(String, String)] = Nil
  }

  /** graphite truthy strings (ref pkg/parser/interval.go:81-89 TruthyBool). */
  private def truthy(s: String): Boolean =
    s == "1" || s == "true" || s == "True" || s == "yes" || s == "Yes"

  private def render(p: Params): (Array[Byte], String) = {
    val targets = p.getOrElse("target", Seq.empty)
    require(targets.nonEmpty, "missing target parameter")
    checkQueryLength(targets)
    // empty format + truthy rawData/rawdata selects raw; the bare default
    // is PNG, like graphite-web (ref http/helper.go:149-157 getFormat,
    // render_handler.go:120 getFormat(r, pngFormat))
    val format = one(p, "format") match {
      case "" if truthy(one(p, "rawData")) || truthy(one(p, "rawdata")) => "raw"
      case "" => "png"
      case f => f
    }
    val from = one(p, "from", "-24h"); val until = one(p, "until", "now")
    val mdp = one(p, "maxDataPoints", "0").toLong
    // graphite-truthy, like the reference's parser.TruthyBool (1/true/yes)
    val noNull = truthy(one(p, "noNullPoints"))
    val tzName = one(p, "tz")
    val tz =
      if (tzName.isEmpty) java.time.ZoneOffset.UTC
      else try java.time.ZoneId.of(tzName)
      catch { case _: Exception => throw new IllegalArgumentException(s"bad tz: $tzName") }
    val nowEpoch = java.time.Instant.now().getEpochSecond
    val f = AtTime.toEpoch(from, nowEpoch - 86400, tz)
    val u = AtTime.toEpoch(until, nowEpoch, tz)
    // (ref render_handler.go:249-252 — an empty window is a request error)
    if (f >= u) throw HttpError(400, "Invalid or empty time range")
    // request-level cache control, reference-exact: noCache is graphite-
    // truthy, cacheTimeout overrides the TTL in seconds (unparsable values
    // fall back to the config rule) — ref render_handler.go:117,46-56
    val ttlSec = cacheTimeoutFor(p, nowEpoch, u, u - f)
    val useCache = ttlSec > 0 && !truthy(one(p, "noCache"))
    // the sorted param map is the key — every render-affecting param
    // (template, picture params, timestampFormat, …) varies the body —
    // minus the cache-busters the reference strips (noCache, _salt, _ts,
    // _t; ref cleanupParams render_handler.go:32-43). jsonp stays in OUR
    // key because we cache the wrapped bytes (the reference caches
    // pre-wrap and re-wraps on hit).
    val busters = Set("noCache", "_salt", "_ts", "_t")
    val key = p.toSeq.filterNot(kv => busters(kv._1)).sortBy(_._1)
      .map { case (k, v) => s"$k=${v.mkString("|")}" }.mkString(" ")
    val nowMs = System.currentTimeMillis()
    if (useCache) {
      val hit = respCache.get(key)
      if (hit != null && hit._1 > nowMs) {
        // hit marker like the reference's cache-hit response header
        // (ref render_handler.go:240-241)
        extraHeaders.set(("X-Carbonapi-Request-Cached" -> ttlSec.toString) :: extraHeaders.get())
        return (hit._2, hit._3)
      }
    }
    // per-target evaluation with the reference's partial-success policy:
    // fetch failures mask to empty lists per target; the request errors
    // only when NOTHING rendered (or requireSuccessAll is set and any
    // target failed) — then the merged code + "target: message" lines go
    // out as text/plain (ref render_handler.go:313-368)
    val (rows0, errors) = Render.evalWithErrors(spark, store, targets, f, u, requireSuccessAll)
    if (rows0.isEmpty || (errors.nonEmpty && requireSuccessAll)) {
      val (mc, msgs) = Render.mergeHttpErrors(errors)
      val code = if (mc == 404) notFoundStatusCode else mc
      if (code == 400 || code == 403 || code == 404 || code >= 500)
        throw HttpError(code, if (msgs.isEmpty) statusText(code) else msgs.mkString("\n"))
    }
    val rows = Render.consolidate(rows0, mdp,
      Render.config.nudgeStartTimeOnAggregation,
      Render.config.useBucketsHighestTimestampOnAggregation)
    val (body, ct) = Render.formatBytes(rows, format, noNull, tz, p)
    if (useCache) {
      if (respCache.size > 4096) // lazy TTL sweep keeps the map bounded
        respCache.entrySet.removeIf(e => e.getValue._1 <= nowMs)
      respCache.put(key, (nowMs + ttlSec * 1000, body, ct))
    }
    (body, ct)
  }

  /** /info: per-target storage metadata (ref info_handlers.go:19-90;
    * shape mirrors ZipperInfoResponse with this engine as the one backend). */
  private def info(p: Params): (String, String) = {
    val targets = p.getOrElse("target", Seq.empty)
    require(targets.nonEmpty, "no target specified")
    val step = store.stepHint.getOrElse(60L)
    val metrics = targets.flatMap(t => Catalog.expand(spark, store, t, expireDelaySec)).distinct.map { m =>
      s"""{"name":${quote(m)},"consolidationFunc":"average","maxRetention":${step * 10080},""" +
        s""""xFilesFactor":0,"retentions":[{"secondsPerPoint":$step,"numberOfPoints":10080}]}"""
    }
    (s"""{"graft":{"metrics":${metrics.mkString("[", ",", "]")}}}""", "application/json")
  }

  /** /metrics/find formats: treejson (default), completer, raw, pickle,
    * protobuf v2/v3 — the reference serves all of them
    * (ref find_handlers.go:243,301-372). */
  private def find(p: Params): (Array[Byte], String) = {
    val fmt = one(p, "format", "treejson")
    // completer PREFIX rewrite: "/" → ".", bare/"."/empty → ".*", else
    // append "*" — the graphite-web completion grammar
    // (ref find_handlers.go:229-239)
    val queries0 = p.getOrElse("query", Seq.empty)
    val queries =
      if (fmt == "completer")
        (if (queries0.isEmpty) Seq("") else queries0).map(_.replace("/", ".")).map {
          case "" | "." => ".*"
          case q => q + "*"
        }
      else queries0.filter(_.nonEmpty)
    require(queries.nonEmpty, "missing query parameter")
    checkQueryLength(queries)
    val query = queries.head
    // multi-query find merges node lists in query order, dropping duplicate
    // ids (ref find_handlers.go multi-glob handling)
    val nodes = queries.flatMap(q => Catalog.find(spark, store, q, expireDelaySec))
      .foldLeft(Vector.empty[FindNode]) { (acc, n) =>
        if (acc.exists(_.id == n.id)) acc else acc :+ n
      }
    val pairs = nodes.map(n => (n.id, n.leaf))
    def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)
    one(p, "format", "treejson") match {
      case "completer" =>
        val items = nodes.map { n =>
          s"""{"path":${quote(if (n.leaf) n.id else n.id + ".")},"name":${quote(n.text)},"is_leaf":"${if (n.leaf) 1 else 0}"}"""
        }.mkString("[", ",", "]")
        // Go's json.NewEncoder().Encode appends a newline
        // (ref find_handlers.go:146)
        (utf8(s"""{"metrics":$items}""" + "\n"), "application/json")
      case "raw" =>
        (WireFormats.findList(pairs), "text/plain")
      case "pickle" =>
        // "we have everything" up to now+60, like the reference
        (WireFormats.findPickle(pairs, System.currentTimeMillis() / 1000 + 60), "application/pickle")
      // "protobuf3" maps to the V2 wire form — only "carbonapi_v3_pb"
      // selects v3 (ref http/helper.go:123-136 knownFormats)
      case "carbonapi_v3_pb" =>
        (WireFormats.findProtobufV3(query, pairs), "application/x-protobuf")
      case "protobuf" | "protobuf3" | "carbonapi_v2_pb" =>
        (WireFormats.findProtobufV2(query, pairs), "application/x-protobuf")
      // Go's json.NewEncoder().Encode appends a newline (find_handlers.go:100)
      case "" | "treejson" | "json" =>
        (utf8(Catalog.treeJson(nodes) + "\n"), "application/json")
      // csv passes ValidFindFormat but has no marshal case in the
      // reference switch — a 200 with an empty csv body
      // (ref find_handlers.go:301-372 has no csvFormat arm)
      case "csv" => (Array.empty[Byte], "text/csv")
      // unknown or render-only formats are a 400, like !ValidFindFormat
      // (ref find_handlers.go:217, helper.go:77-98)
      case other => throw HttpError(400, s"unsupported format: $other")
    }
  }

  /** /metrics/expand: multi-query, `leavesOnly=1` keeps leaf paths only,
    * `groupByExpr=1` keys the results by query (object keys sorted like
    * Go's map marshal), and a path already emitted by an earlier query is
    * deduped out of later groups
    * (ref cmd/carbonapi/http/expand_handler.go:127-168). */
  private def expand(p: Params): (String, String) = {
    val queries = p.getOrElse("query", Seq.empty).filter(_.nonEmpty)
    require(queries.nonEmpty, "missing query parameter")
    checkQueryLength(queries)
    // only treejson/json pass ValidExpandFormat (ref helper.go:66-75)
    one(p, "format") match {
      case "" | "treejson" | "json" =>
      case other => throw HttpError(400, s"unsupported format: $other")
    }
    val leavesOnly = one(p, "leavesOnly") == "1"
    val groupByExpr = one(p, "groupByExpr") == "1"
    val seen = scala.collection.mutable.Set.empty[String]
    val groups = queries.map { q =>
      val paths = Catalog.find(spark, store, q, expireDelaySec)
        .filter(n => !leavesOnly || n.leaf)
        .map(_.id)
        .filter(seen.add)
        .sorted
      q -> paths
    }
    val body =
      if (groupByExpr)
        groups.sortBy(_._1).map { case (q, ps) =>
          quote(q) + ":" + ps.map(quote).mkString("[", ",", "]")
        }.mkString("{\"results\":{", ",", "}}")
      else
        groups.flatMap(_._2).sorted.map(quote)
          .mkString("{\"results\":[", ",", "]}")
    (body, "application/json")
  }

  /** Top-level /tags[/values]: graphite tag listing, keyed by path suffix
    * like the reference's tagHandler (ref tags_handler.go:92-99). */
  /** Shared tag-autocomplete body: `expr=` filters apply, and a store
    * failure is NON-FATAL — masked into an empty result — unless
    * requireSuccessAll, where the mapped code + root message go out as
    * text/plain (ref tags_handler.go:104-109). */
  private def tagsJson(p: Params, values: Boolean): (String, String) = {
    checkQueryLength(p.getOrElse("query", Seq.empty))
    val exprs = p.getOrElse("expr", Seq.empty).filter(_.nonEmpty)
    val res =
      try {
        if (values) Catalog.tagValues(spark, store, one(p, "tag"),
          one(p, "valuePrefix", one(p, "filter")), limitOf(p), exprs)
        else Catalog.tagNames(spark, store,
          one(p, "tagPrefix", one(p, "filter")), limitOf(p), exprs)
      } catch {
        case e: graft.store.StoreFetchException =>
          if (requireSuccessAll) throw e
          Seq.empty[String]
      }
    // pretty=1 → Go's json.MarshalIndent(res, "", "\t") shape
    // (ref tags_handler.go:111-115)
    if (one(p, "pretty") == "1" && res.nonEmpty)
      (res.map(s => "\t" + quote(s)).mkString("[\n", ",\n", "\n]"), "application/json")
    else (res.map(quote).mkString("[", ",", "]"), "application/json")
  }

  private def tagsDispatch(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    if (path.endsWith("values"))
      handle(tagsJson(_, values = true))(ex)
    else if (path.endsWith("tags"))
      handle(tagsJson(_, values = false))(ex)
    else {
      val body = "Not Found".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(404, body.length)
      val os = ex.getResponseBody
      try os.write(body) finally os.close()
    }
  }

  /** reference limit=-1 means unbounded; our catalog wants a positive cap */
  private def limitOf(p: Params): Int =
    one(p, "limit", "-1").toIntOption.filter(_ > 0).getOrElse(Int.MaxValue)

  /** /_internal/capabilities: zipper protocol negotiation surface
    * (ref capability.go:66-74). JSON only — the pb form of this endpoint is
    * zipper-to-zipper and we have no zipper tier. */
  private def capabilities(p: Params): (String, String) = {
    val host = try java.net.InetAddress.getLocalHost.getHostName catch { case _: Exception => "(unknown)" }
    (s"""{"supportedProtocols":["carbonapi_v3_pb","carbonapi_v2_pb","graphite-web-pickle","graphite-web-pickle-1.1","carbonapi_v2_json"],""" +
      s""""name":${quote(host)},"highPrecisionTimestamps":false,"supportFilteringFunctions":false,""" +
      s""""likeSplittedRequests":false,"supportStreaming":false}""", "application/json")
  }

  private val usageMsg: String =
    """supported requests:
      |    /functions/
      |    /info/?target=
      |    /lb_check/
      |    /metrics/find/?query=
      |    /render/?target=
      |    /tags/autoComplete/tags/
      |    /tags/autoComplete/values/
      |    /version/
      |""".stripMargin

  private def tagNames(p: Params): (String, String) = tagsJson(p, values = false)

  private def tagValues(p: Params): (String, String) = tagsJson(p, values = true)

  private def functions(p: Params): (String, String) =
    (Catalog.functions.map(quote).mkString("[", ",", "]"), "application/json")
}

object HttpApi {
  /** The reference's response-cache TTL rule: an explicit cacheTimeout
    * param wins; with the short tier configured, a query whose window is at
    * most shortDuration long AND ends within shortUntilOffset of now gets
    * the short TTL, everything else the default
    * (ref cmd/carbonapi/http/render_handler.go:45-65 getCacheTimeout). */
  def cacheTimeoutRule(explicit: Option[Long], defaultSec: Long, shortSec: Long,
                       shortDurationSec: Long, shortUntilOffsetSec: Long,
                       now: Long, until: Long, durationSec: Long): Long =
    explicit.getOrElse {
      if (now == 0 || shortSec == 0 || shortDurationSec == 0) defaultSec
      else if (durationSec > shortDurationSec || now - until > shortUntilOffsetSec) defaultSec
      else shortSec
    }
}
