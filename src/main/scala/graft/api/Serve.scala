package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, RejectedExecutionException,
  Semaphore, SynchronousQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/**
 * The one request pipeline behind [[HttpApi]] and [[SearchApi]], on the
 * JDK's built-in server: a route table over one listener, the limiter, the
 * parameter parser, a TTL response cache, response writing and the error
 * surface (ref cmd/carbonapi/http/init.go:15-41, limiter/limiter.go:14-51,
 * cache/cache.go:22-60). A server passes values; the pipeline is the same.
 *
 * Threading: the listener runs on a small dispatch pool. A route that takes
 * no slot (health, version, status) answers inline there and never reads a
 * body, so a saturated engine still answers its load balancer. A data
 * route is handed to the data pool, at most `dataThreads` threads: a
 * request past that cap is rejected at dispatch, without touching Spark.
 * On its data thread a request is parsed, looked up in the cache (a hit
 * takes no slot), then waits up to `waitSec` for one of `slots` (None =
 * no limiter), past which it is rejected too. Both pools are made per
 * `start()`, so a stopped server starts again with live threads. Both
 * rejections answer `reject`'s status and message; `error` renders an
 * error message as the server's reply.
 */
private[api] final class Serve(port: Int, routes: Seq[(String, Serve.Route)],
                               slots: Option[Int], waitSec: Long, dataThreads: Int,
                               reject: (Int, String), error: String => Serve.Reply,
                               cacheEntries: Int) {
  import Serve._

  /** The limiter's slots, held from outside by specs. */
  val limiter: Option[Semaphore] = slots.map(new Semaphore(_, true))

  @volatile private var server: HttpServer = _
  @volatile private var dispatchPool: ExecutorService = _
  // SynchronousQueue + bounded max: a thread per request up to the cap
  @volatile private var dataPool: ThreadPoolExecutor = _

  def start(): Int = {
    dispatchPool = Executors.newFixedThreadPool(4)
    dataPool = new ThreadPoolExecutor(0, dataThreads, 60L, TimeUnit.SECONDS,
      new SynchronousQueue[Runnable]())
    server = HttpServer.create(new InetSocketAddress(port), 0)
    routes.foreach { case (path, route) => server.createContext(path, ex => dispatch(route)(ex)) }
    server.setExecutor(dispatchPool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) { server.stop(0); server = null }
    if (dispatchPool != null) { dispatchPool.shutdown(); dispatchPool = null }
    if (dataPool != null) { dataPool.shutdown(); dataPool = null }
  }

  private def dispatch(route: Route)(ex: HttpExchange): Unit =
    if (!route.slot) respond(ex)(attempt(route.handler(request(ex, readBody = false))))
    else {
      // snapshot: server.stop(0) does not wait for in-flight exchanges, so
      // a dispatch thread can land here after stop() nulled the field
      val pool = dataPool
      try {
        if (pool == null) throw new RejectedExecutionException("stopped")
        pool.execute(() => respond(ex)(attempt(data(route, request(ex, readBody = true)))))
      } catch {
        case _: RejectedExecutionException => respond(ex)((reject._1, error(reject._2)))
      }
    }

  private def data(route: Route, r: Request): Reply = {
    val key = route.cacheKey(r)
    key.flatMap(cached).getOrElse {
      val reply = limited(route.handler(r))
      key.foreach(store(_, reply))
      reply
    }
  }

  private def limited(body: => Reply): Reply = limiter match {
    case None => body
    case Some(sem) =>
      if (!sem.tryAcquire(waitSec, TimeUnit.SECONDS)) throw HttpError(reject._1, reject._2)
      try body finally sem.release()
  }

  /** A handler's reply as 200, or its error mapped to a status. NonFatal
    * only: a VirtualMachineError propagates rather than answer from an
    * undefined state. */
  private def attempt(reply: => Reply): (Int, Reply) =
    try (200, reply)
    catch {
      case NonFatal(e) =>
        val code = e match {
          case e: HttpError => e.code
          case e: graft.store.StoreFetchException =>
            if (e.httpCode == 502 || e.httpCode == 504) 503 else e.httpCode
          case _: IllegalArgumentException | _: graft.parser.Parser.ParseException => 400
          case _ => 500
        }
        (code, error(String.valueOf(e.getMessage)))
    }

  /** Writes the reply with a per-request id header on every response
    * (ref http/helper.go:36 ctxHeaderUUID), and closes the exchange even
    * when the reply throws. */
  private def respond(ex: HttpExchange)(out: => (Int, Reply)): Unit =
    try {
      val (code, r) = out
      val h = ex.getResponseHeaders
      h.set("X-CTX-CarbonAPI-UUID", java.util.UUID.randomUUID().toString)
      h.set("Content-Type", r.contentType)
      r.headers.foreach { case (k, v) => h.set(k, v) }
      ex.sendResponseHeaders(code, r.body.length)
      ex.getResponseBody.write(r.body)
    } finally ex.close()

  // ---- the TTL response cache: 200 replies only, keyed by the route's
  // CacheKey; the entry cap sweeps expired entries, then clears
  private val cache = new ConcurrentHashMap[Seq[(String, Seq[String])], (Long, Reply)]()
  private val hits = new AtomicLong(0)

  /** Replies served from the cache. */
  def cacheHits: Long = hits.get()

  private def cached(k: CacheKey): Option[Reply] = {
    val e = cache.get(k.key)
    if (e == null || e._1 - System.nanoTime() <= 0) None
    else { hits.incrementAndGet(); Some(e._2.copy(headers = e._2.headers ++ k.hitHeaders)) }
  }

  private def store(k: CacheKey, r: Reply): Unit = {
    val now = System.nanoTime()
    if (cache.size >= cacheEntries) {
      cache.entrySet.removeIf(_.getValue._1 - now <= 0)
      if (cache.size >= cacheEntries) cache.clear()
    }
    cache.put(k.key, (now + k.ttlSec * 1000000000L, r))
  }
}

private[graft] object Serve {
  type Params = Map[String, Seq[String]]

  /** A parsed request: its path and its multi-valued parameters. */
  final case class Request(path: String, params: Params) {
    def all(k: String): Seq[String] = params.getOrElse(k, Nil)
    /** The first value, like Go's `FormValue`. */
    def get(k: String): Option[String] = params.get(k).flatMap(_.headOption)
    def one(k: String, default: String = ""): String = get(k).getOrElse(default)
    /** The parameters, sorted, without `drop`: a cache key. */
    def key(drop: Set[String] = Set.empty): Seq[(String, Seq[String])] =
      params.toSeq.filterNot(kv => drop(kv._1)).sortBy(_._1)
  }

  /** A handler's success: the body, its content type and extra headers. */
  final case class Reply(body: Array[Byte], contentType: String, headers: Seq[(String, String)] = Nil)

  object Reply {
    def utf8(s: String, contentType: String): Reply =
      Reply(s.getBytes(StandardCharsets.UTF_8), contentType)
    def json(s: String): Reply = utf8(s, "application/json")
  }

  /** A cache entry's key, its TTL and the headers a hit adds. */
  final case class CacheKey(key: Seq[(String, Seq[String])], ttlSec: Long,
                            hitHeaders: Seq[(String, String)] = Nil)

  /** `slot = false`: answered inline on dispatch, with no body, no slot and
    * no cache. `cacheKey`: None = not cached. */
  final case class Route(handler: Request => Reply, slot: Boolean = true,
                         cacheKey: Request => Option[CacheKey] = _ => None)

  /** A handler's short-circuit carrying its status. */
  final case class HttpError(code: Int, msg: String) extends RuntimeException(msg)

  /** An inline route reads no body: its method is passed as "". */
  private def request(ex: HttpExchange, readBody: Boolean): Request =
    Request(ex.getRequestURI.getPath, params(Option(ex.getRequestURI.getRawQuery).getOrElse(""),
      if (readBody) ex.getRequestMethod else "", Option(ex.getRequestHeaders.getFirst("Content-Type")),
      new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)))

  /** The query string merged with a urlencoded POST body, like the
    * reference's r.ParseForm() (Grafana POSTs /render): one multi-valued
    * map, values in arrival order, a key without `=` valued "". `body` is
    * read only for a POST whose Content-Type is absent or urlencoded. */
  def params(query: String, method: String, contentType: Option[String], body: => String): Params = {
    val form =
      if (method == "POST" && contentType.forall(_.startsWith("application/x-www-form-urlencoded"))) body
      else ""
    (query + "&" + form).split("&").toSeq.filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) (dec(kv), "") else (dec(kv.take(i)), dec(kv.drop(i + 1)))
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
  }

  private def dec(s: String): String = java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** A JSON string literal, as Go's `encoding/json` accepts it: quote,
    * backslash and every char below 0x20 escaped. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
