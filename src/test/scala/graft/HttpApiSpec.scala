package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.api.HttpApi
import graft.store.EventSeriesStore

/** End-to-end HTTP: real server, real store, graphite-web route shapes. */
class HttpApiSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var api: HttpApi = _
  private var port: Int = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    spark = graft.core.GraftSession.builder("local[2]", 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    api = new HttpApi(spark, new EventSeriesStore("/root/testdata/sf0.001"), port = 0)
    port = api.start()
  }
  override def afterAll(): Unit = {
    if (api != null) api.stop()
    if (spark != null) spark.stop()
  }

  private def get(pathAndQuery: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("/render json returns datapoints for a real target; bare default is png (ref render_handler.go:120)") {
    val (code, body) = get("/render?target=sumSeries(events.*)&from=1704067200&until=1706660000&format=json")
    assert(code == 200)
    assert(body.contains("\"target\":\"sumSeries(events.*)\""))
    assert(body.contains("\"datapoints\":[["))
    val (dc, db, dct) = getBytes("/render?target=sumSeries(events.*)&from=1704067200&until=1706660000")
    assert(dc == 200 && dct.startsWith("image/png"))
    assert(db.length > 8 && (db(0) & 0xFF) == 0x89 && db(1) == 'P'.toByte)
  }

  test("/render csv format") {
    val (code, body) = get("/render?target=events.click&from=1704067200&until=1706660000&format=csv")
    assert(code == 200)
    assert(body.startsWith("\"events.click\",2024-01-0"))
  }

  test("/render without target is a 400") {
    assert(get("/render")._1 == 400)
  }

  test("/render with an empty or inverted time range is a 400 (ref render_handler.go:249)") {
    val (c1, b1) = get("/render?target=events.click&from=1704067200&until=1704067200")
    assert(c1 == 400 && b1 == "Invalid or empty time range\n")
    assert(get("/render?target=events.click&from=1704070000&until=1704060000")._1 == 400)
  }

  test("/metrics/find treejson and completer") {
    val (code, body) = get("/metrics/find?query=events.*")
    assert(code == 200)
    assert(body.contains("\"id\":\"events.click\"") && body.contains("\"leaf\":1"))
    val (_, completer) = get("/metrics/find?query=events.*&format=completer")
    assert(completer.contains("\"is_leaf\":\"1\""))
  }

  test("/metrics/find raw, pickle and protobuf formats (ref find_handlers.go:243,301-372)") {
    val (rc, raw, rct) = getBytes("/metrics/find?query=events.*&format=raw")
    assert(rc == 200 && rct.startsWith("text/plain"))
    val lines = new String(raw, java.nio.charset.StandardCharsets.UTF_8).split("\n")
    assert(lines.contains("events.click") && lines.contains("events.view"))

    val (pc, pkl, pct) = getBytes("/metrics/find?query=events.*&format=pickle")
    assert(pc == 200 && pct.startsWith("application/pickle"))
    assert(pkl.length > 2 && pkl(0) == 0x80.toByte && pkl(1) == 2.toByte && pkl.last == '.'.toByte)
    val pklStr = new String(pkl, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(pklStr.contains("events.click") && pklStr.contains("is_leaf"))
    // graphite-web-1.0 shape: the IntervalSet object rides along
    assert(pklStr.contains("graphite.intervals\nIntervalSet\n"))

    val (c3, pb3, ct3) = getBytes("/metrics/find?query=events.*&format=carbonapi_v3_pb")
    assert(c3 == 200 && ct3.startsWith("application/x-protobuf"))
    // MultiGlobResponse: field 1 (metrics), wire type 2
    assert(pb3.nonEmpty && (pb3(0) & 0xFF) == 0x0A)
    assert(new String(pb3, java.nio.charset.StandardCharsets.ISO_8859_1).contains("events.click"))

    val (c2, pb2, ct2) = getBytes("/metrics/find?query=events.*&format=carbonapi_v2_pb")
    assert(c2 == 200 && ct2.startsWith("application/x-protobuf"))
    // bare GlobResponse: field 1 (name) = the query string itself
    assert(pb2.nonEmpty && (pb2(0) & 0xFF) == 0x0A && (pb2(1) & 0xFF) == "events.*".length)
    assert(new String(pb2, java.nio.charset.StandardCharsets.ISO_8859_1).contains("events.*"))
  }

  test("/metrics/expand lists matching paths") {
    val (code, body) = get("/metrics/expand?query=events.*")
    assert(code == 200)
    assert(body.contains("\"events.view\""))
  }

  test("/tags autocomplete") {
    val (code, body) = get("/tags/autoComplete/tags")
    assert(code == 200 && body.contains("\"name\""))
    val (c2, vals) = get("/tags/autoComplete/values?tag=name&valuePrefix=events.c")
    assert(c2 == 200 && vals.contains("\"events.click\""))
  }

  test("/functions, /version, /lb_check") {
    val (c, body) = get("/functions")
    assert(c == 200 && body.contains("\"sumSeries\""))
    assert(get("/version")._1 == 200)
    assert(get("/lb_check")._2 == "Ok\n")
  }

  private def getBytes(pathAndQuery: String): (Int, Array[Byte], String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode(), resp.body(), resp.headers().firstValue("Content-Type").orElse(""))
  }

  test("/render handles generators unioned with fetches (null pathExpression)") {
    val (code, body) = get("/render?target=group(events.click,constantLine(5))&from=1704067200&until=1706660000&format=json")
    assert(code == 200, body.take(300))
    assert(body.contains("\"events.click\"") && body.contains("\"target\":\"5\""))
  }

  test("/render pickle format is a protocol-2 stream") {
    val (code, body, ct) = getBytes("/render?target=events.click&from=1704067200&until=1706660000&format=pickle")
    assert(code == 200 && ct.startsWith("application/pickle"))
    assert(body.length > 2 && body(0) == 0x80.toByte && body(1) == 2.toByte && body.last == '.'.toByte)
    // the name string must appear as utf-8 bytes in the stream
    assert(new String(body, java.nio.charset.StandardCharsets.ISO_8859_1).contains("events.click"))
  }

  test("/render protobuf v3 framing decodes") {
    val (code, body, ct) = getBytes("/render?target=events.click&from=1704067200&until=1706660000&format=carbonapi_v3_pb")
    assert(code == 200 && ct.startsWith("application/x-protobuf"))
    // top-level: field 1 (metrics), wire type 2
    assert(body.nonEmpty && (body(0) & 0xFF) == 0x0A)
    assert(new String(body, java.nio.charset.StandardCharsets.ISO_8859_1).contains("events.click"))
  }

  test("format quirks: protobuf3 is the V2 wire form; rawData selects raw; protobuf2 is unknown (ref http/helper.go:123-157)") {
    val (c3, b3, _) = getBytes("/render?target=events.click&from=1704067200&until=1706660000&format=protobuf3")
    val (c2, b2, _) = getBytes("/render?target=events.click&from=1704067200&until=1706660000&format=carbonapi_v2_pb")
    assert(c3 == 200 && c2 == 200 && java.util.Arrays.equals(b3, b2),
      "protobuf3 must serve the same bytes as carbonapi_v2_pb")
    val (rc, rb) = get("/render?target=events.click&from=1704067200&until=1706660000&rawData=true")
    assert(rc == 200 && rb.startsWith("events.click,"))
    assert(get("/render?target=events.click&from=1704067200&until=1706660000&format=protobuf2")._1 == 400)
  }

  test("find/expand format validity: render-only and unknown formats are 400, find csv is an empty 200 (ref helper.go:66-98)") {
    assert(get("/metrics/find?query=events.*&format=png")._1 == 400)
    assert(get("/metrics/find?query=events.*&format=nonsense")._1 == 400)
    val (cc, cb, cct) = getBytes("/metrics/find?query=events.*&format=csv")
    assert(cc == 200 && cct.startsWith("text/csv") && cb.isEmpty)
    assert(get("/metrics/expand?query=events.*&format=completer")._1 == 400)
    assert(get("/metrics/expand?query=events.*&format=treejson")._1 == 200)
    assert(get("/render?target=events.click&from=1704067200&until=1706660000&format=treejson")._1 == 400)
  }

  test("every response carries the X-CTX-CarbonAPI-UUID header (ref http/helper.go:36)") {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/version")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.headers().firstValue("X-CTX-CarbonAPI-UUID").isPresent)
  }

  test("tags pretty=1 indents like MarshalIndent (ref tags_handler.go:111-115)") {
    val (c, b) = get("/tags/autoComplete/tags?pretty=1")
    assert(c == 200 && b.startsWith("[\n\t\"") && b.endsWith("\"\n]"))
    val (c2, b2) = get("/tags/autoComplete/tags")
    assert(c2 == 200 && !b2.contains("\n"))
  }

  test("/info returns per-target retention metadata") {
    val (code, body) = get("/info?target=events.click")
    assert(code == 200)
    assert(body.contains("\"events.click\"") && body.contains("secondsPerPoint"))
  }

  test("/render tz parameter parses and bad tz is a 400") {
    assert(get("/render?target=events.click&from=1704067200&until=1706660000&tz=America/New_York")._1 == 200)
    assert(get("/render?target=events.click&from=1704067200&until=1706660000&tz=Not/AZone")._1 == 400)
  }

  test("/render format=png returns a PNG image honoring template and width") {
    val (code, body, ct) = getBytes("/render?target=sumSeries(events.*)&from=1704067200&until=1706660000&format=png&width=400&height=300")
    assert(code == 200 && ct.startsWith("image/png"))
    // PNG magic
    assert((body(0) & 0xFF) == 0x89 && body(1) == 'P'.toByte && body(2) == 'N'.toByte && body(3) == 'G'.toByte)
    // IHDR width=400 at offset 16 (big-endian)
    val w = ((body(16) & 0xFF) << 24) | ((body(17) & 0xFF) << 16) | ((body(18) & 0xFF) << 8) | (body(19) & 0xFF)
    assert(w == 400)
    // template=plain must produce different bytes (white background)
    val (c2, body2, _) = getBytes("/render?target=sumSeries(events.*)&from=1704067200&until=1706660000&format=png&width=400&height=300&template=plain")
    assert(c2 == 200 && !java.util.Arrays.equals(body, body2))
  }

  test("/render format=svg draws series polylines and axis labels") {
    val (code, body, ct) = getBytes("/render?target=events.%7Bclick,view%7D&from=1704067200&until=1706660000&format=svg&title=Events&width=800")
    assert(code == 200 && ct.startsWith("image/svg+xml"))
    val s = new String(body, java.nio.charset.StandardCharsets.UTF_8)
    assert(s.startsWith("<?xml") && s.contains("<svg") && s.endsWith("</svg>\n"))
    assert(s.contains("<polyline"))                  // at least one series line
    assert(s.contains(">Events</text>"))             // title drawn
    assert(s.contains("events.click"))               // legend entries
    // default palette: first series blue #6464ff, second green #00c800
    assert(s.contains("#6464ff") && s.contains("#00c800"))
  }

  test("/render timestampFormat scales json timestamps; jsonp wraps; bad format is 400") {
    val base = "/render?target=events.click&from=1704067200&until=1704070000&format=json"
    val (c1, s) = get(base)
    val (c2, ms) = get(base + "&timestampFormat=ms")
    assert(c1 == 200 && c2 == 200)
    assert(s.contains(",1704067200]") && ms.contains(",1704067200000]"))
    assert(get(base + "&timestampFormat=fortnights")._1 == 400)
    val (c3, js) = get(base + "&jsonp=myCb")
    assert(c3 == 200 && js.startsWith("myCb([") && js.endsWith(")"))
  }

  test("/render pixelRatio scales the png surface (ref pixel_ratio.go)") {
    val (code, body, _) = getBytes("/render?target=events.click&from=1704067200&until=1706660000&format=png&width=200&height=100&pixelRatio=2")
    assert(code == 200)
    val w = ((body(16) & 0xFF) << 24) | ((body(17) & 0xFF) << 16) | ((body(18) & 0xFF) << 8) | (body(19) & 0xFF)
    assert(w == 400)
  }

  test("/render accepts POST form bodies (Grafana posts its render requests)") {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/render"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          "target=events.click&from=1704067200&until=1704070000&format=json"))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200 && resp.body().contains("\"target\":\"events.click\""))
  }

  test("/tags top-level route lists tag names and values (ref tags_handler.go)") {
    val (code, body) = get("/tags")
    assert(code == 200 && body.contains("\"name\""))
    val (c2, vals) = get("/tags/values?tag=name&valuePrefix=events.v&limit=5")
    assert(c2 == 200 && vals.contains("\"events.view\""))
  }

  test("/_internal/capabilities reports protocol support") {
    val (code, body) = get("/_internal/capabilities")
    assert(code == 200 && body.contains("carbonapi_v3_pb") && body.contains("\"supportStreaming\":false"))
  }

  test("/ serves the usage message") {
    val (code, body) = get("/")
    assert(code == 200 && body.contains("supported requests"))
  }

  test("multi-target render over a COLD routed store serves through the batched prefetch and matches per-target renders") {
    // the shared HttpApi uses the scan-cached event store, where prefetch
    // deliberately skips — this spins a server over the ROUTED layout so
    // the full HTTP path (parse → prefetch → eval → marshal) exercises
    // the one-scan batch, and cross-checks it against single-target
    // requests (which also prefetch-skip: one leaf each)
    val dir = java.nio.file.Files.createTempDirectory("httproutedpf").toString
    val frame = new EventSeriesStore("/root/testdata/sf0.001").allSeries(spark)
      .select(col("name"), col("tags"), col("start"), col("step"), col("values"))
    graft.store.RoutedSeriesStore.write(frame, dir, 86400L)
    val routed = new graft.store.RoutedSeriesStore(dir, 86400L, 1, Some(3600L))
    val api2 = new HttpApi(spark, routed, port = 0)
    val p = api2.start()
    try {
      def getAt(path: String): (Int, String) = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      val targets = Seq("sumSeries(events.*)", "events.click", "events.view",
        "divideSeries(events.click,events.view)")
      val range = "from=1704067200&until=1704100000&format=json&noCache=true"
      val (code, multi) = getAt("/render?" +
        targets.map(t => s"target=${java.net.URLEncoder.encode(t, "UTF-8")}").mkString("&") +
        s"&$range")
      assert(code == 200, multi.take(300))
      targets.foreach { t =>
        val (c1, single) = getAt(
          s"/render?target=${java.net.URLEncoder.encode(t, "UTF-8")}&$range")
        assert(c1 == 200, single.take(300))
        // every series of the single-target response appears verbatim in
        // the multi-target (prefetched) response
        // series objects are {"target":…,"datapoints":[…],"tags":{…}} —
        // split on the object opener (lookahead keeps objects intact)
        val objs = single.stripPrefix("[").stripSuffix("]")
          .split("(?=\\{\"target\")").toSeq.filter(_.nonEmpty).map(_.stripSuffix(","))
        assert(objs.nonEmpty, s"$t returned no series: ${single.take(200)}")
        objs.foreach(o => assert(multi.contains(o),
          s"prefetched multi-target render diverges for $t:\n$o\nvs ${multi.take(500)}"))
      }
    } finally api2.stop()
  }

  test("stop() then start() serves requests again (pools are per-start, not per-instance)") {
    val api2 = new HttpApi(spark, new EventSeriesStore("/root/testdata/sf0.001"), port = 0)
    val p1 = api2.start()
    try {
      def getAt(p: Int, path: String): Int = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      assert(getAt(p1, "/lb_check") == 200)
      api2.stop()
      val p2 = api2.start()
      // both a dispatch-inline route and a data-pool route must work on
      // the restarted server — a terminated executor hangs or 503s both
      assert(getAt(p2, "/lb_check") == 200)
      assert(getAt(p2, "/metrics/find?query=events.*&format=json") == 200)
    } finally api2.stop()
  }

  test("response cache serves identical bytes for a repeated request; noCache bypasses") {
    val q = "/render?target=sumSeries(events.*)&from=1704067200&until=1706660000"
    val a = getBytes(q); val b = getBytes(q)
    assert(a._1 == 200 && java.util.Arrays.equals(a._2, b._2))
    val c = getBytes(q + "&noCache=true")
    assert(c._1 == 200 && java.util.Arrays.equals(a._2, c._2)) // same content either way
  }

  private def getCached(pathAndQuery: String): (Int, String, Option[String]) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body(),
      Option(resp.headers().firstValue("X-Carbonapi-Request-Cached").orElse(null)))
  }

  test("response cache hit/miss/TTL contract with maxDataPoints in the key " +
      "(ref render_handler.go:32-56,117,240)") {
    // unique maxDataPoints values double as cache-key isolation per case
    val base = "/render?target=events.click&from=1704067200&until=1706660000"

    // miss then hit: the hit is flagged and byte-identical
    val m1 = getCached(base + "&maxDataPoints=101")
    val m2 = getCached(base + "&maxDataPoints=101")
    assert(m1._1 == 200 && m1._3.isEmpty, "first request must be a miss")
    assert(m2._1 == 200 && m2._3.contains("60") && m2._2 == m1._2,
      s"second request must be a flagged hit: ${m2._3}")

    // a DIFFERENT maxDataPoints is a different key — miss, different body
    val m3 = getCached(base + "&maxDataPoints=7")
    assert(m3._3.isEmpty && m3._2 != m1._2, "maxDataPoints must vary the key")

    // graphite-truthy noCache forms bypass even a warm entry
    assert(getCached(base + "&maxDataPoints=101&noCache=1")._3.isEmpty)
    assert(getCached(base + "&maxDataPoints=101&noCache=yes")._3.isEmpty)
    // non-truthy noCache value still hits
    assert(getCached(base + "&maxDataPoints=101&noCache=0")._3.contains("60"))

    // cache-busters are stripped from the key: _salt/_ts/_t still hit
    assert(getCached(base + "&maxDataPoints=101&_salt=12345")._3.contains("60"))
    assert(getCached(base + "&maxDataPoints=101&_ts=999&_t=1")._3.contains("60"))

    // cacheTimeout=0 disables caching for that request (no store, no hit)
    val t1 = getCached(base + "&maxDataPoints=33&cacheTimeout=0")
    val t2 = getCached(base + "&maxDataPoints=33&cacheTimeout=0")
    assert(t1._3.isEmpty && t2._3.isEmpty, "cacheTimeout=0 must never cache")
    // a custom positive cacheTimeout is echoed in the hit marker
    getCached(base + "&maxDataPoints=34&cacheTimeout=123")
    assert(getCached(base + "&maxDataPoints=34&cacheTimeout=123")._3.contains("123"))
  }

  test("/render serves from the production store composition (partitioned history tier + flat recent tier)") {
    import graft.core.Series
    import graft.store.{ParquetSeriesStore, RoutedSeriesStore, TieredSeriesStore}
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("httpstore").toString
    // history: day-sharded partitioned layout; recent: flat dir
    RoutedSeriesStore.write(
      Seq(Series("events.click", Map("name" -> "events.click"), 0L, 3600L,
        Array.tabulate(24)(h => h + 1.0))).toDF(), s"$base/hist", 86400L, routeDepth = 0)
    Seq(Series("events.click", Map("name" -> "events.click"), 86400L, 3600L,
      Array.fill(24)(100.0))).toDF().write.parquet(s"$base/recent")
    val tiered = new TieredSeriesStore(Seq(
      new ParquetSeriesStore(s"$base/recent", Some(3600L)),
      new RoutedSeriesStore(s"$base/hist", 86400L, 0, Some(3600L))))
    val tApi = new HttpApi(spark, tiered, port = 0)
    val tPort = tApi.start()
    try {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$tPort/render?target=sumSeries(events.*)&from=0&until=172800&format=json&noCache=1")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      val body = resp.body()
      assert(body.contains("\"target\":\"sumSeries(events.*)\""))
      // a point from each tier round-trips: hour 0 history (1.0), day-2 recent (100.0)
      assert(body.contains("[1.0,0]") || body.contains("[1,0]"), body.take(400))
      assert(body.contains(",86400]"), body.take(2000))
    } finally tApi.stop()
  }

  test("life of a metric: write → find (catalog) → render → rollover → find and render still serve across the tier boundary") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("lifecycle").toString
    // 3 days of 60s data; days 0-1 will roll to a 3600s coarse tier
    graft.store.RoutedSeriesStore.write(
      Seq(graft.core.Series("events.life", Map("name" -> "events.life"), 0L, 60L,
        Array.tabulate(3 * 1440)(_.toDouble))).toDF(),
      s"$base/fine", windowSec = 86400L, routeDepth = 0)
    val tiered = new graft.store.TieredSeriesStore(Seq(
      new graft.store.RoutedSeriesStore(s"$base/fine", 86400L, 0, Some(60L)),
      new graft.store.RoutedSeriesStore(s"$base/coarse", 86400L, 0, Some(3600L))))
    val api = new HttpApi(spark, tiered, port = 0)
    val port2 = api.start()
    def hit(pq: String) = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port2$pq")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    try {
      graft.api.Catalog.invalidateCatalogCache()
      // find serves the name from the persisted fine catalog
      val f1 = hit("/metrics/find?query=events.*")
      assert(f1.statusCode() == 200 && f1.body().contains("\"events.life\""), f1.body().take(300))
      // render before rollover: native 60s step
      val r1 = hit("/render?target=events.life&from=0&until=7200&format=json&noCache=1")
      assert(r1.statusCode() == 200 && r1.body().contains("[1,60]"), r1.body().take(300))
      // retention moves days 0-1 into the coarse tier
      assert(graft.store.Retention.rollover(spark, s"$base/fine", s"$base/coarse",
        86400L, beforeWin = 2L, coarseStep = 3600L) == Seq(0L, 1L))
      graft.api.Catalog.invalidateCatalogCache() // out-of-band write: expire now
      // the name still resolves — the coarse catalog answers for it
      val f2 = hit("/metrics/find?query=events.*")
      assert(f2.statusCode() == 200 && f2.body().contains("\"events.life\""), f2.body().take(300))
      // render after rollover: the rolled window serves consolidated at 3600s
      val r2 = hit("/render?target=events.life&from=0&until=7200&format=json&noCache=1")
      assert(r2.statusCode() == 200, r2.body().take(300))
      // first hourly bucket = avg of minutes 0..59 = 29.5
      assert(r2.body().contains("[29.5,0]"), r2.body().take(400))
    } finally { api.stop(); graft.api.Catalog.invalidateCatalogCache() }
  }

  test("/render serves from the name-routed store; the scan routes on the glob's literal prefix") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("httproute").toString
    graft.store.RoutedSeriesStore.write(
      Seq(
        graft.core.Series("events.click", Map("name" -> "events.click"), 0L, 3600L,
          Array.tabulate(24)(h => h + 1.0)),
        graft.core.Series("other.metric", Map("name" -> "other.metric"), 0L, 3600L,
          Array.fill(24)(5.0))).toDF(),
      s"$base/routed", windowSec = 86400L)
    val routed = new graft.store.RoutedSeriesStore(s"$base/routed", 86400L, 1, Some(3600L))
    val rApi = new HttpApi(spark, routed, port = 0)
    val rPort = rApi.start()
    try {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$rPort/render?target=sumSeries(events.*)&from=0&until=86400&format=json&noCache=1")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      val body = resp.body()
      assert(body.contains("\"target\":\"sumSeries(events.*)\""))
      // only the events route contributes: hour 0 is 1.0, not 6.0
      assert(body.contains("[1.0,0]") || body.contains("[1,0]"), body.take(400))
      // and the route filter is structural, not just result-level
      val plan = routed.fetch(spark, "events.*", 0L, 86400L)
        .queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*troute".r.findFirstIn(plan).nonEmpty, plan.take(2000))
    } finally rApi.stop()
  }

  test("a warm /render over a cold routed store starts at most the pinned number of Spark jobs per shape") {
    // a plain glob is one fetch read by one collect: no schema-inference
    // job at read, no cache-building job for a pin nobody re-reads.
    // Measured here: plain glob 2, sumSeries 3 (4 and 5 when every read
    // inferred the schema and every fetch was pinned)
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("httpjobs").toString
    graft.store.RoutedSeriesStore.write(
      (for (dc <- Seq("east", "west"); h <- 1 to 4) yield {
        val n = s"$dc.host$h.cpu"
        graft.core.Series(n, Map("name" -> n), 0L, 3600L, Array.tabulate(24)(i => h * 100.0 + i))
      }).toDF(),
      s"$base/routed", windowSec = 86400L)
    val routed = new graft.store.RoutedSeriesStore(s"$base/routed", 86400L, 1, Some(3600L))
    val api = new HttpApi(spark, routed, port = 0)
    val port = api.start()
    val pinned = Map("east.*.cpu" -> 2, "sumSeries(east.*.cpu)" -> 3)
    try {
      def render(target: String): (Int, String) = {
        val r = client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/render?target=${java.net.URLEncoder.encode(target, "UTF-8")}" +
            "&from=0&until=86400&format=json&noCache=1")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      val counts = pinned.keys.toSeq.sorted.map { t =>
        val (c0, warm) = render(t) // warm: plan shapes and codegen
        assert(c0 == 200 && warm.contains("\"datapoints\":[["), warm.take(300))
        var out = (0, "")
        val n = SparkJobs.during(spark) { out = render(t) }
        assert(out == (c0, warm), s"$t: the counted request must answer like the warm one")
        t -> n
      }.toMap
      info(s"jobs per warm render: ${counts.toSeq.sorted.map { case (t, n) => s"$t $n" }.mkString(", ")}")
      for ((t, n) <- counts) assert(n <= pinned(t), s"$t started $n jobs, pinned at ${pinned(t)}")
    } finally api.stop()
  }

  test("/render applyByNode over a cold routed store: rewritten targets batch into one scan and the result is exact") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("httprewrite").toString
    graft.store.RoutedSeriesStore.write(
      Seq(
        graft.core.Series("app.one.m", Map("name" -> "app.one.m"), 0L, 3600L,
          Array.tabulate(24)(h => h + 1.0)),
        graft.core.Series("app.two.m", Map("name" -> "app.two.m"), 0L, 3600L,
          Array.tabulate(24)(h => (h + 1) * 10.0))).toDF(),
      s"$base/routed", windowSec = 86400L)
    val routed = new graft.store.RoutedSeriesStore(s"$base/routed", 86400L, 1, Some(3600L))
    val api = new HttpApi(spark, routed, port = 0)
    val port = api.start()
    try {
      val target = java.net.URLEncoder.encode(
        "applyByNode(app.*.m, 1, \"sumSeries(%.m)\")", "UTF-8")
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/render?target=$target&from=0&until=86400&format=json&noCache=1")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body().take(300))
      val body = resp.body()
      // both rewritten targets evaluate against the cold store (their
      // leaves ride ONE batched fetchMulti scan — PlanSpec gates the
      // scan count; this pins the HTTP-tier integration + values)
      assert(body.contains("\"target\":\"sumSeries(app.one.m)\""), body.take(600))
      assert(body.contains("\"target\":\"sumSeries(app.two.m)\""), body.take(600))
      assert(body.contains("[1.0,0]") || body.contains("[1,0]"), body.take(600))
      assert(body.contains("[10.0,0]") || body.contains("[10,0]"), body.take(600))
    } finally api.stop()
  }

  test("metric and tag names with a quote, a backslash or a tab keep /metrics/expand and /tags valid JSON (ref encoding/json)") {
    val odd = "q\"b\\t\tx"
    val store = new MemStore(Seq(graft.core.Series("odd." + odd,
      Map("name" -> ("odd." + odd), "k\"ey" -> odd), 0L, 60L, Array(1.0))))
    val oApi = new HttpApi(spark, store, port = 0)
    val oPort = oApi.start()
    try {
      def body(path: String, q: (String, String)*): String = {
        val qs = q.map { case (k, v) => k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }.mkString("&")
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$oPort$path?$qs")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200, resp.body())
        resp.body()
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val expanded = mapper.readTree(body("/metrics/expand", "query" -> "odd.*")).get("results")
      assert(expanded.size == 1 && expanded.get(0).asText == "odd." + odd)
      val grouped = mapper.readTree(body("/metrics/expand", "query" -> "odd.*", "groupByExpr" -> "1"))
      assert(grouped.get("results").get("odd.*").get(0).asText == "odd." + odd)
      val tagKeys = mapper.readTree(body("/tags/autoComplete/tags"))
      assert((0 until tagKeys.size).map(tagKeys.get(_).asText).contains("k\"ey"))
      val tagValues = mapper.readTree(body("/tags/autoComplete/values", "tag" -> "k\"ey"))
      assert(tagValues.size == 1 && tagValues.get(0).asText == odd)
    } finally oApi.stop()
  }

  test("concurency limiter: the N+1-th inflight request waits for a slot and 503s past the wait (ref limiter/limiter.go:14-51)") {
    val limited = new HttpApi(spark, new EventSeriesStore("/root/testdata/sf0.001"),
      port = 0, concurency = 1, concurencyWaitSec = 0L)
    val lport = limited.start()
    try {
      def lget(pq: String): Int = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$lport$pq")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      val q = "/render?target=events.click&from=1704067200&until=1706660000&format=json&noCache=1"
      // free slot: serves normally
      assert(lget(q) == 200)
      // hold the single slot from outside, exactly like a slow inflight
      // render; with a 0s wait the next request must reject, not queue
      val sem = limited.inflight.get
      sem.acquire()
      val (c, b) = {
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$lport$q")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      }
      assert(c == 503 && b == "too many requests in flight\n", s"$c $b")
      // slot freed: the same request serves again (the queue drains)
      sem.release()
      assert(lget(q) == 200)
      // health/metadata routes never take a slot: with the slot held,
      // /lb_check and /version still answer immediately
      sem.acquire()
      assert(lget("/lb_check") == 200 && lget("/version") == 200,
        "health probes must bypass the limiter")
      sem.release()
      // default construction (concurency=0) is the NoopLimiter
      assert(api.inflight.isEmpty)
    } finally limited.stop()
  }

  test("health probes answer while limiter waiters saturate the server (no fixed-pool starvation)") {
    // 12 data requests queue on the held slot (more than any fixed pool
    // size); /lb_check and /version must still answer promptly because
    // waiters only park an idle thread, they don't consume a bounded pool
    val limited = new HttpApi(spark, new EventSeriesStore("/root/testdata/sf0.001"),
      port = 0, concurency = 1, concurencyWaitSec = 20L)
    val lport = limited.start()
    try {
      val q = "/render?target=events.click&from=1704067200&until=1706660000&format=json&noCache=1"
      val sem = limited.inflight.get
      sem.acquire() // saturate: every data request now queues for the slot
      val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val queued = (1 to 12).map(_ => scala.concurrent.Future {
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$lport$q")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()
      })
      // give the waiters time to occupy the server, then probe
      Thread.sleep(500)
      val t0 = System.nanoTime()
      val probe = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$lport/lb_check")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val probeSec = (System.nanoTime() - t0) / 1e9
      assert(probe.statusCode() == 200 && probe.body() == "Ok\n")
      assert(probeSec < 5.0, s"/lb_check took ${probeSec}s behind 12 queued waiters")
      sem.release() // drain: the queued requests serialize through the slot
      val codes = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(queued),
        scala.concurrent.duration.Duration(120, "s"))
      pool.shutdown()
      assert(codes.forall(_ == 200), s"queued requests must drain after release, got $codes")
    } finally limited.stop()
  }

  test("data-thread cap: a flood beyond maxDataThreads 503s at dispatch while health probes keep answering (no unbounded thread growth)") {
    // cap of 2 data threads, both parked on the held limiter slot: the
    // 3rd+ data request must be rejected IMMEDIATELY (not after the
    // limiter wait), and /lb_check stays on the dispatch pool throughout
    val limited = new HttpApi(spark, new EventSeriesStore("/root/testdata/sf0.001"),
      port = 0, concurency = 1, concurencyWaitSec = 20L, maxDataThreads = 2)
    val lport = limited.start()
    try {
      val q = "/render?target=events.click&from=1704067200&until=1706660000&format=json&noCache=1"
      val sem = limited.inflight.get
      sem.acquire() // both data threads will park as limiter waiters
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val parked = (1 to 2).map(_ => scala.concurrent.Future {
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$lport$q")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()
      })
      Thread.sleep(500) // let both occupy the capped pool
      val t0 = System.nanoTime()
      val rejected = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$lport$q")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val rejSec = (System.nanoTime() - t0) / 1e9
      assert(rejected.statusCode() == 503 &&
        rejected.body() == "too many requests in flight\n",
        s"${rejected.statusCode()} ${rejected.body()}")
      assert(rejSec < 5.0, s"over-cap request must 503 at dispatch, took ${rejSec}s")
      assert(client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$lport/lb_check")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      sem.release() // the two parked waiters drain through the slot
      val codes = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(parked),
        scala.concurrent.duration.Duration(120, "s"))
      pool.shutdown()
      assert(codes.forall(_ == 200), s"parked requests must drain, got $codes")
    } finally limited.stop()
  }

  test("concurency limiter queues: more parallel renders than slots all complete within the wait") {
    val limited = new HttpApi(spark, new EventSeriesStore("/root/testdata/sf0.001"),
      port = 0, concurency = 2, concurencyWaitSec = 30L)
    val lport = limited.start()
    try {
      val q = "/render?target=events.click&from=1704067200&until=1706660000&format=json&noCache=1"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val codes = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence((1 to 6).map(_ => scala.concurrent.Future {
          client.send(
            HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$lport$q")).GET().build(),
            HttpResponse.BodyHandlers.ofString()).statusCode()
        })), scala.concurrent.duration.Duration(120, "s"))
      pool.shutdown()
      assert(codes.forall(_ == 200), s"queued requests must drain, got $codes")
    } finally limited.stop()
  }
}
