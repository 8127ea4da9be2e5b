package graft.api

import org.apache.spark.sql.SparkSession
import graft.store.SeriesStore
import graft.api.Serve.{CacheKey, HttpError, Reply, Request, Route, quote}
import graft.api.Serve.Reply.json

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
 * This class is the route table and its handlers; listener, thread pools,
 * limiter, parameter parsing, the render cache and the error surface are
 * [[Serve]]'s. A render starts a few Spark jobs: each target's collect,
 * plus the small build-time actions of data-dependent operators (name and
 * count collects). Concurrent requests share Spark's default FIFO job
 * scheduler, with the optional `concurency` limiter bounding how many data
 * requests run at once.
 */
class HttpApi(spark: SparkSession, store: SeriesStore, port: Int = 8081,
              maxQueryLength: Int = 0,
              notFoundStatusCode: Int = 200,
              requireSuccessAll: Boolean = false,
              concurency: Int = 0,
              concurencyWaitSec: Long = 30L,
              expireDelaySec: Long = 10L,
              maxDataThreads: Int = 256) {

  // the find/expand catalog cache follows THIS server's expireDelaySec
  // (ref carbonapi.example.yaml `expireDelaySec: 10`), passed per call.
  // Only DATA routes (render/find/expand/tags/info, the ones that run
  // Spark work) take a limiter slot; /lb_check, /version, /functions,
  // /_internal/capabilities and the usage page answer inline on dispatch.
  // `concurency` ≤ 0 is the reference's NoopLimiter; otherwise a request
  // waits `concurencyWaitSec` for a slot (the Go limiter blocks until
  // ctx.Done → ErrTimeout), then gets 503 like a flood past maxDataThreads
  private val serve = new Serve(port, Seq(
    "/render" -> Route(render, cacheKey = renderKey),
    "/info" -> Route(info),
    "/metrics/find" -> Route(find),
    "/metrics/expand" -> Route(expand),
    // one context for /tags, /tags/values and /tags/autoComplete/{tags,
    // values}, keyed on the path suffix like the reference's tagHandler
    // (ref init.go:35-36, tags_handler.go:92-99)
    "/tags" -> Route(tags),
    "/functions" -> Route(functions, slot = false),
    "/version" -> Route(_ => Reply.utf8("1.0.0-graft", "text/plain"), slot = false),
    "/lb_check" -> Route(_ => Reply.utf8("Ok\n", "text/plain"), slot = false),
    "/_internal/capabilities" -> Route(capabilities, slot = false),
    "/" -> Route(_ => Reply.utf8(usageMsg, "text/plain"), slot = false)),
    slots = Some(concurency).filter(_ > 0), waitSec = concurencyWaitSec,
    dataThreads = maxDataThreads, reject = (503, "too many requests in flight"),
    // error responses are text/plain message+\n, the reference's
    // http.Error surface (ref http/helper.go:310-362 setError/setErrors);
    // successes carry the reference's bare content types (helper.go:139-146)
    error = msg => Reply.utf8(msg + "\n", "text/plain; charset=utf-8"),
    cacheEntries = 4096)

  /** The `concurency` limiter (ref limiter/limiter.go:14-51). */
  private[graft] def inflight = serve.limiter

  def start(): Int = serve.start()

  def stop(): Unit = serve.stop()

  // ------------------------------------------------------------- handlers

  private val statusText = Map(400 -> "Bad Request", 403 -> "Forbidden", 404 -> "Not Found",
    500 -> "Internal Server Error", 502 -> "Bad Gateway", 503 -> "Service Unavailable",
    504 -> "Gateway Timeout").withDefaultValue("Error")

  /** Sum-of-lengths query cap shared by every handler
    * (ref http/helper.go:364-376, config `maxQueryLength`). */
  private def checkQueryLength(qs: Seq[String]): Unit =
    if (maxQueryLength > 0 && qs.map(_.length).sum > maxQueryLength)
      throw HttpError(400, "query length limit exceeded")

  // ---- /render's short-TTL response cache: identical dashboard queries
  // within the TTL skip re-evaluation (ref render_handler.go:172-247)
  private def envSec(name: String, default: Long): Long =
    sys.env.get(name).flatMap(_.toLongOption).getOrElse(default)
  private val cacheTtlSec = envSec("GRAFT_RESPONSE_CACHE_SEC", 60L)
  // short-TTL split for "live" queries (small window ending near now) —
  // disabled by default, exactly like the reference's
  // responseCache.shortTimeoutSec (ref config/init.go:154-159,295-310 and
  // render_handler.go:45-65 getCacheTimeout)
  private val cacheShortSec = envSec("GRAFT_RESPONSE_CACHE_SHORT_SEC", 0L)
  private val cacheShortDurationSec = envSec("GRAFT_RESPONSE_CACHE_SHORT_DURATION_SEC", 10800L)
  private val cacheShortUntilOffsetSec = envSec("GRAFT_RESPONSE_CACHE_SHORT_UNTIL_OFFSET_SEC", 120L)

  /** graphite truthy strings (ref pkg/parser/interval.go:81-89 TruthyBool). */
  private def truthy(s: String): Boolean =
    s == "1" || s == "true" || s == "True" || s == "yes" || s == "Yes"

  private def window(r: Request): HttpApi.Window = {
    val tzName = r.one("tz")
    val tz =
      if (tzName.isEmpty) java.time.ZoneOffset.UTC
      else try java.time.ZoneId.of(tzName)
      catch { case _: Exception => throw new IllegalArgumentException(s"bad tz: $tzName") }
    val now = java.time.Instant.now().getEpochSecond
    val f = AtTime.toEpoch(r.one("from", "-24h"), now - 86400, tz)
    val u = AtTime.toEpoch(r.one("until", "now"), now, tz)
    // (ref render_handler.go:249-252 — an empty window is a request error)
    if (f >= u) throw HttpError(400, "Invalid or empty time range")
    HttpApi.Window(f, u, tz, now)
  }

  /** The render cache entry: request-level cache control is reference-
    * exact — noCache is graphite-truthy, cacheTimeout overrides the TTL in
    * seconds (unparsable values fall back to the config rule; ref
    * render_handler.go:117,46-56). The sorted params are the key — every
    * render-affecting param varies the body — minus the cache-busters the
    * reference strips (ref cleanupParams render_handler.go:32-43). jsonp
    * stays in OUR key because we cache the wrapped bytes. A hit carries
    * the reference's hit marker (ref render_handler.go:240-241). */
  private def renderKey(r: Request): Option[CacheKey] = {
    targets(r)
    val w = window(r)
    val ttlSec = HttpApi.cacheTimeoutRule(r.one("cacheTimeout").toLongOption, cacheTtlSec,
      cacheShortSec, cacheShortDurationSec, cacheShortUntilOffsetSec, w.now, w.until, w.until - w.from)
    if (ttlSec <= 0 || truthy(r.one("noCache"))) None
    else Some(CacheKey(r.key(Set("noCache", "_salt", "_ts", "_t")), ttlSec,
      Seq("X-Carbonapi-Request-Cached" -> ttlSec.toString)))
  }

  private def targets(r: Request): Seq[String] = {
    val ts = r.all("target")
    require(ts.nonEmpty, "missing target parameter")
    checkQueryLength(ts)
    ts
  }

  private def render(r: Request): Reply = {
    // empty format + truthy rawData/rawdata selects raw; the bare default
    // is PNG, like graphite-web (ref http/helper.go:149-157 getFormat,
    // render_handler.go:120 getFormat(r, pngFormat))
    val format = r.one("format") match {
      case "" if truthy(r.one("rawData")) || truthy(r.one("rawdata")) => "raw"
      case "" => "png"
      case f => f
    }
    val mdp = r.one("maxDataPoints", "0").toLong
    val w = window(r)
    // per-target evaluation with the reference's partial-success policy:
    // fetch failures mask to empty lists per target; the request errors
    // only when NOTHING rendered (or requireSuccessAll is set and any
    // target failed) — then the merged code + "target: message" lines go
    // out as text/plain (ref render_handler.go:313-368)
    val (rows0, errors) = Render.evalWithErrors(spark, store, targets(r), w.from, w.until, requireSuccessAll)
    if (rows0.isEmpty || (errors.nonEmpty && requireSuccessAll)) {
      val (mc, msgs) = Render.mergeHttpErrors(errors)
      val code = if (mc == 404) notFoundStatusCode else mc
      if (code == 400 || code == 403 || code == 404 || code >= 500)
        throw HttpError(code, if (msgs.isEmpty) statusText(code) else msgs.mkString("\n"))
    }
    val rows = Render.consolidate(rows0, mdp,
      Render.config.nudgeStartTimeOnAggregation,
      Render.config.useBucketsHighestTimestampOnAggregation)
    // graphite-truthy, like the reference's parser.TruthyBool (1/true/yes)
    val (body, ct) = Render.formatBytes(rows, format, truthy(r.one("noNullPoints")), w.tz, r.params)
    Reply(body, ct)
  }

  /** /info: per-target storage metadata (ref info_handlers.go:19-90;
    * shape mirrors ZipperInfoResponse with this engine as the one backend). */
  private def info(r: Request): Reply = {
    val targets = r.all("target")
    require(targets.nonEmpty, "no target specified")
    val step = store.stepHint.getOrElse(60L)
    val metrics = targets.flatMap(t => Catalog.expand(spark, store, t, expireDelaySec)).distinct.map { m =>
      s"""{"name":${quote(m)},"consolidationFunc":"average","maxRetention":${step * 10080},""" +
        s""""xFilesFactor":0,"retentions":[{"secondsPerPoint":$step,"numberOfPoints":10080}]}"""
    }
    json(s"""{"graft":{"metrics":${metrics.mkString("[", ",", "]")}}}""")
  }

  /** /metrics/find formats: treejson (default), completer, raw, pickle,
    * protobuf v2/v3 — the reference serves all of them
    * (ref find_handlers.go:243,301-372). */
  private def find(r: Request): Reply = {
    val fmt = r.one("format", "treejson")
    // completer PREFIX rewrite: "/" → ".", bare/"."/empty → ".*", else
    // append "*" — the graphite-web completion grammar
    // (ref find_handlers.go:229-239)
    val queries0 = r.all("query")
    val queries =
      if (fmt == "completer")
        (if (queries0.isEmpty) Seq("") else queries0).map(_.replace("/", ".")).map {
          case "" | "." => ".*"
          case q => q + "*"
        }
      else queries0.filter(_.nonEmpty)
    require(queries.nonEmpty, "missing query parameter")
    checkQueryLength(queries)
    // multi-query find merges node lists in query order, dropping duplicate
    // ids (ref find_handlers.go multi-glob handling)
    val nodes = queries.flatMap(q => Catalog.find(spark, store, q, expireDelaySec))
      .foldLeft(Vector.empty[FindNode]) { (acc, n) =>
        if (acc.exists(_.id == n.id)) acc else acc :+ n
      }
    val pairs = nodes.map(n => (n.id, n.leaf))
    fmt match {
      case "completer" =>
        val items = nodes.map { n =>
          s"""{"path":${quote(if (n.leaf) n.id else n.id + ".")},"name":${quote(n.text)},"is_leaf":"${if (n.leaf) 1 else 0}"}"""
        }.mkString("[", ",", "]")
        // Go's json.NewEncoder().Encode appends a newline
        // (ref find_handlers.go:146)
        json(s"""{"metrics":$items}""" + "\n")
      case "raw" =>
        Reply(WireFormats.findList(pairs), "text/plain")
      case "pickle" =>
        // "we have everything" up to now+60, like the reference
        Reply(WireFormats.findPickle(pairs, System.currentTimeMillis() / 1000 + 60), "application/pickle")
      // "protobuf3" maps to the V2 wire form — only "carbonapi_v3_pb"
      // selects v3 (ref http/helper.go:123-136 knownFormats)
      case "carbonapi_v3_pb" =>
        Reply(WireFormats.findProtobufV3(queries.head, pairs), "application/x-protobuf")
      case "protobuf" | "protobuf3" | "carbonapi_v2_pb" =>
        Reply(WireFormats.findProtobufV2(queries.head, pairs), "application/x-protobuf")
      // Go's json.NewEncoder().Encode appends a newline (find_handlers.go:100)
      case "" | "treejson" | "json" =>
        json(Catalog.treeJson(nodes) + "\n")
      // csv passes ValidFindFormat but has no marshal case in the
      // reference switch — a 200 with an empty csv body
      // (ref find_handlers.go:301-372 has no csvFormat arm)
      case "csv" => Reply(Array.empty[Byte], "text/csv")
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
  private def expand(r: Request): Reply = {
    val queries = r.all("query").filter(_.nonEmpty)
    require(queries.nonEmpty, "missing query parameter")
    checkQueryLength(queries)
    // only treejson/json pass ValidExpandFormat (ref helper.go:66-75)
    r.one("format") match {
      case "" | "treejson" | "json" =>
      case other => throw HttpError(400, s"unsupported format: $other")
    }
    val leavesOnly = r.one("leavesOnly") == "1"
    val seen = scala.collection.mutable.Set.empty[String]
    val groups = queries.map { q =>
      val paths = Catalog.find(spark, store, q, expireDelaySec)
        .filter(n => !leavesOnly || n.leaf)
        .map(_.id)
        .filter(seen.add)
        .sorted
      q -> paths
    }
    json(
      if (r.one("groupByExpr") == "1")
        groups.sortBy(_._1).map { case (q, ps) =>
          quote(q) + ":" + ps.map(quote).mkString("[", ",", "]")
        }.mkString("{\"results\":{", ",", "}}")
      else
        groups.flatMap(_._2).sorted.map(quote)
          .mkString("{\"results\":[", ",", "]}"))
  }

  /** /tags[/values] and /tags/autoComplete/{tags,values}, keyed by the path
    * suffix like the reference's tagHandler (ref tags_handler.go:92-99):
    * `expr=` filters apply, and a store failure is NON-FATAL — masked into
    * an empty result — unless requireSuccessAll, where the mapped code +
    * root message go out as text/plain (ref tags_handler.go:104-109). */
  private def tags(r: Request): Reply = {
    val path = r.path.stripSuffix("/")
    val values = path.endsWith("values")
    if (!values && !path.endsWith("tags")) throw HttpError(404, "Not Found")
    checkQueryLength(r.all("query"))
    val exprs = r.all("expr").filter(_.nonEmpty)
    // reference limit=-1 means unbounded; our catalog wants a positive cap
    val limit = r.one("limit", "-1").toIntOption.filter(_ > 0).getOrElse(Int.MaxValue)
    val res =
      try {
        if (values) Catalog.tagValues(spark, store, r.one("tag"),
          r.one("valuePrefix", r.one("filter")), limit, exprs)
        else Catalog.tagNames(spark, store,
          r.one("tagPrefix", r.one("filter")), limit, exprs)
      } catch {
        case e: graft.store.StoreFetchException =>
          if (requireSuccessAll) throw e
          Seq.empty[String]
      }
    // pretty=1 → Go's json.MarshalIndent(res, "", "\t") shape
    // (ref tags_handler.go:111-115)
    json(
      if (r.one("pretty") == "1" && res.nonEmpty) res.map(s => "\t" + quote(s)).mkString("[\n", ",\n", "\n]")
      else res.map(quote).mkString("[", ",", "]"))
  }

  /** /_internal/capabilities: zipper protocol negotiation surface
    * (ref capability.go:66-74). JSON only — the pb form of this endpoint is
    * zipper-to-zipper and we have no zipper tier. */
  private def capabilities(r: Request): Reply = {
    val host = try java.net.InetAddress.getLocalHost.getHostName catch { case _: Exception => "(unknown)" }
    json(s"""{"supportedProtocols":["carbonapi_v3_pb","carbonapi_v2_pb","graphite-web-pickle","graphite-web-pickle-1.1","carbonapi_v2_json"],""" +
      s""""name":${quote(host)},"highPrecisionTimestamps":false,"supportFilteringFunctions":false,""" +
      s""""likeSplittedRequests":false,"supportStreaming":false}""")
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

  private def functions(r: Request): Reply = json(Catalog.functions.map(quote).mkString("[", ",", "]"))
}

object HttpApi {
  /** A render's [from, until) in epoch seconds, its timezone and the clock. */
  private final case class Window(from: Long, until: Long, tz: java.time.ZoneId, now: Long)

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
