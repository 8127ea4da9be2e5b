package graft

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.api.HttpApi

/**
 * HTTP-level ports of the reference's mockbackend e2e scenario corpus
 * (ref cmd/mockbackend/testcases/<dir>/<dir>.yaml, runner semantics in
 * cmd/mockbackend/e2etesting.go): each scenario stands up the HTTP tier
 * over a [[MockBackendStore]] twin of the scenario's `listeners:` section
 * and asserts status code, exact content type, and (where the scenario
 * does) the parsed render body / error body / find / tags JSON.
 *
 * Assertion semantics mirror the Go runner: render bodies compare as
 * (target, datapoints) with NaN == null (e2etesting.go:139-174
 * isRenderEqual — tags are NOT compared), error bodies compare exactly
 * with optional line sort (errSort), find/tags JSON compare exactly.
 *
 * Documented divergences from the reference setup (single-store engine,
 * justified per scenario below):
 *  - multi-backend retry/failover scenarios (i545 slow second backend,
 *    pr594-maskerror one-bad-one-good, render_error_all_rr round-robin)
 *    collapse to their single-backend OBSERVABLE: the store answers with
 *    what the healthy backend would have served, and the asserted HTTP
 *    contract is unchanged.
 *  - PNG/SVG scenarios (i503, i506) pin sha256 of the reference's plot
 *    library bytes; our renderer's bytes differ by construction, so they
 *    assert status + content type + a stable no-data SVG instead.
 */
class E2eScenarioSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val client = HttpClient.newHttpClient()
  private val nan = Double.NaN

  override def beforeAll(): Unit = {
    spark = graft.core.GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ------------------------------------------------------------ harness

  private val ctJson = "application/json"
  private val ctPlain = "text/plain; charset=utf-8"
  private val ctSvg = "image/svg+xml"

  private case class Expect(
      code: Int, ct: String,
      metrics: Option[Seq[(String, Seq[(Double, Long)])]] = None,
      errBody: Option[String] = None, errSort: Boolean = false,
      body: Option[String] = None)

  private case class Q(path: String, params: Seq[(String, String)], expect: Expect,
                       pre: MockBackendStore => Unit = _ => ())

  private def dps(pairs: (Double, Long)*): Seq[(Double, Long)] = pairs.toSeq

  private def run(store: MockBackendStore, queries: Seq[Q],
                  maxQueryLength: Int = 0, notFound: Int = 200,
                  requireSuccessAll: Boolean = false): Unit = {
    val api = new HttpApi(spark, store, 0, maxQueryLength, notFound, requireSuccessAll)
    val port = api.start()
    try queries.zipWithIndex.foreach { case (q, qi) =>
      store.failAll = None
      q.pre(store)
      val qs = q.params.map { case (k, v) => k + "=" + URLEncoder.encode(v, "UTF-8") }
        .mkString("&")
      val url = s"http://127.0.0.1:$port${q.path}" + (if (qs.isEmpty) "" else "?" + qs)
      val resp = client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val clue = s"query #$qi ${q.path}?${q.params.map { case (k, v) => s"$k=$v" }.mkString("&")}: "
      assert(resp.statusCode() == q.expect.code,
        clue + s"code=${resp.statusCode()} body=${resp.body().take(400)}")
      val ct = resp.headers().firstValue("Content-Type").orElse("")
      assert(ct == q.expect.ct, clue + s"content-type=$ct want ${q.expect.ct}")
      q.expect.errBody.foreach { want =>
        val got =
          if (q.expect.errSort)
            resp.body().split("\n").filter(_.nonEmpty).sorted.mkString("\n") + "\n"
          else resp.body()
        assert(got == want, clue + s"errBody='${resp.body()}' want '$want'")
      }
      q.expect.body.foreach(want =>
        assert(resp.body() == want, clue + s"body=${resp.body().take(400)} want $want"))
      q.expect.metrics.foreach { want =>
        val got = parseRender(resp.body())
        assert(got.map(_._1) == want.map(_._1),
          clue + s"targets=${got.map(_._1)} want ${want.map(_._1)}")
        got.zip(want).foreach { case ((t, d), (_, w)) =>
          assert(d.length == w.length, clue + s"$t: ${d.length} pts, want ${w.length}: $d")
          d.zip(w).foreach { case ((v, ts), (wv, wts)) =>
            assert(ts == wts && (v == wv || (v.isNaN && wv.isNaN)),
              clue + s"$t: got $d want $w")
          }
        }
      }
    } finally api.stop()
  }

  /** Minimal parser for our own render JSON —
    * [{"target":"…","datapoints":[[v|null,ts],…],"tags":{…}},…]. */
  private def parseRender(body: String): Seq[(String, Seq[(Double, Long)])] = {
    val out = Seq.newBuilder[(String, Seq[(Double, Long)])]
    val marker = "{\"target\":"
    var i = body.indexOf(marker)
    while (i >= 0) {
      var j = i + marker.length + 1 // past the opening quote
      val name = new StringBuilder
      while (body.charAt(j) != '"') {
        if (body.charAt(j) == '\\') { name.append(body.charAt(j + 1)); j += 2 }
        else { name.append(body.charAt(j)); j += 1 }
      }
      val dpm = "\"datapoints\":["
      val ds = body.indexOf(dpm, j) + dpm.length
      var depth = 1; var k = ds
      while (depth > 0) {
        val c = body.charAt(k)
        if (c == '[') depth += 1 else if (c == ']') depth -= 1
        k += 1
      }
      val inner = body.substring(ds, k - 1)
      val pts =
        if (inner.trim.isEmpty) Seq.empty[(Double, Long)]
        else inner.split("\\],\\[").toSeq.map { p =>
          val q = p.replace("[", "").replace("]", "")
          val Array(v, ts) = q.split(",")
          (if (v == "null") nan else v.toDouble, ts.toLong)
        }
      out += name.toString -> pts
      i = body.indexOf(marker, k)
    }
    out.result()
  }

  // ------------------------------------------------------- shared stores

  private def abcdeStore = new MockBackendStore(Map(
    "a.b.c.d.e" -> MockData(MockSeries("a.b.c.d.e", Seq(1, 3, 2)))))

  private def metric123Store = new MockBackendStore(Map(
    "metric[123]" -> MockData(
      MockSeries("metric1", Seq(1, nan, 2, 3, 4, 6, 2, 3, 4, 1, 2, 2), step = 1, start = 3),
      MockSeries("metric2", Seq(2, nan, 3, nan, 5, 6), step = 2, start = 2),
      MockSeries("metric3", Seq(3, nan, 4, 5, 6, nan), step = 1, start = 5))))

  private def metricStarStore = new MockBackendStore(Map(
    "metric*" -> MockData(
      MockSeries("metricNaN", Seq(nan, nan, nan, nan, nan)),
      MockSeries("metricZ1", Seq(4, 6, 2, 2, 3)),
      MockSeries("metricZ2", Seq(8, 1, 1, 7, 4))),
    "rps" -> MockData(MockSeries("rps;env=prod", Seq(1, 2, 3)))))

  private def renderErrorStore = new MockBackendStore(Map(
    "a" -> MockData(MockSeries("a", Seq(0, 1, 2, 2, 3))),
    "c" -> MockFail(504, "timeout while fetching Response"),
    "d" -> MockFail(503, "Service Unavailable")))

  private def aOpenWaitingStore = new MockBackendStore(Map(
    "a.open" -> MockData(MockSeries("a.open", Seq(0, 1, 2, 2, 3))),
    "a.waiting" -> MockData(MockSeries("a.waiting", Seq(100, 110, 110, 110, 150))),
    "a.*" -> MockData(
      MockSeries("a.waiting", Seq(100, 110, 110, 110, 150)),
      MockSeries("a.open", Seq(0, 1, 2, 2, 3))),
    "a.{open,waiting}" -> MockData(
      MockSeries("a.waiting", Seq(100, 110, 110, 110, 150)),
      MockSeries("a.open", Seq(0, 1, 2, 2, 3)))))

  private def abcAbdStore = new MockBackendStore(Map(
    "a.b.c" -> MockData(MockSeries("a.b.c", Seq(0, 1, 2, 2, 3))),
    "a.b.d" -> MockData(MockSeries("a.b.d", Seq(31, 10, 4, 7, 3)))))

  private val dp5 = dps((0, 1), (1, 2), (2, 3), (2, 4), (3, 5))

  // ---------------------------------------------------------- scenarios

  test("e2e bad_requests: malformed function args are 400 text/plain") {
    // ref cmd/mockbackend/testcases/bad_requests/bad_requests.yaml
    run(metric123Store, Seq(
      Q("/render", Seq("format" -> "json", "target" -> "groupByNode(metric[123], 0, '4')"),
        Expect(400, ctPlain)),
      Q("/render", Seq("format" -> "json", "target" -> "applyByNode(metric[123], 2, 'transform')"),
        Expect(400, ctPlain))))
  }

  test("e2e connection_refused: total backend outage maps to 503 with per-target lines") {
    // ref testcases/connection_refused/connection_refused.yaml; every fetch
    // refuses like an unreachable backend (net.OpError → 503)
    val refuse: MockBackendStore => Unit = _.failAll = Some((503, "connection refused"))
    run(renderErrorStore, Seq(
      Q("/render/", Seq("target" -> "a", "format" -> "json"),
        Expect(503, ctPlain, errBody = Some("a: connection refused\n"), errSort = true), pre = refuse),
      Q("/render/", Seq("target" -> "a", "target" -> "b", "format" -> "json"),
        Expect(503, ctPlain, errBody = Some("a: connection refused\nb: connection refused\n"), errSort = true), pre = refuse),
      Q("/metrics/find/", Seq("query" -> "a", "format" -> "json"),
        Expect(503, ctPlain, errBody = Some("connection refused\n")), pre = refuse),
      Q("/metrics/find/", Seq("query" -> "a", "query" -> "b", "format" -> "json"),
        Expect(503, ctPlain, errBody = Some("connection refused\n")), pre = refuse),
      // tag autocomplete failures are non-fatal in the default config
      Q("/tags/autoComplete/values", Seq("expr" -> "tag2=v1", "tag" -> "tag4"),
        Expect(200, ctJson, body = Some("[]")), pre = refuse)))
  }

  test("e2e consolidateBy: every valid function renders, invalid names are 400") {
    // ref testcases/consolidateBy/consolidateBy.yaml
    def cb(f: String, code: Int) =
      Q("/render", Seq("format" -> "json",
        "target" -> s"consolidateBy(metric*, '$f')", "maxDataPoints" -> "2"),
        Expect(code, if (code == 200) ctJson else ctPlain))
    run(metricStarStore, Seq(
      cb("max", 200), cb("min", 200), cb("sum", 200), cb("avg", 200),
      cb("average", 200), cb("last", 200), cb("first", 200),
      cb("maximum", 400), cb("minimum", 400), cb("somefunc", 400),
      Q("/render", Seq("format" -> "json", "target" -> "limit(metric*, 2)",
        "maxDataPoints" -> "2"), Expect(200, ctJson)),
      Q("/render", Seq("format" -> "json",
        "target" -> "consolidateBy(seriesByTag('name=rps', 'env=prod'), 'sum')",
        "maxDataPoints" -> "2"), Expect(200, ctJson))))
  }

  test("e2e find_error: find answers for present metrics; absent ones contribute nothing") {
    // ref testcases/find_error/find_error.yaml (runs over render_error's backend)
    val findA = """[{"allowChildren":0,"expandable":0,"leaf":1,"id":"a","text":"a","context":{}}]""" + "\n"
    run(renderErrorStore, Seq(
      Q("/metrics/find", Seq("query" -> "a", "format" -> "json"),
        Expect(200, ctJson, body = Some(findA))),
      Q("/render/", Seq("target" -> "b", "format" -> "json"), Expect(200, ctJson)),
      Q("/metrics/find", Seq("query" -> "a", "query" -> "b", "format" -> "json"),
        Expect(200, ctJson, body = Some(findA)))))
  }

  test("e2e i484: direct fetch through a globbed backend catalog") {
    // ref testcases/i484/i484.yaml (notFoundStatusCode: 404 in its config)
    run(aOpenWaitingStore, Seq(
      Q("/render/", Seq("target" -> "a.open", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq("a.open" -> dp5))))),
      notFound = 404)
  }

  test("e2e i503: svg render over an all-404 backend is a 200 no-data image") {
    // ref testcases/i503/i503.yaml — the yaml pins sha256 of the reference
    // plot library's no-data SVG; we assert our own renderer's stable
    // no-data output instead (documented divergence)
    val store = new MockBackendStore(Map("a" -> MockFail(404, "Not Found")))
    val api = new HttpApi(spark, store, 0)
    val port = api.start()
    try {
      val resp = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/render?target=" +
          URLEncoder.encode("legendValue(alias(color(a, \"066591\"), \"b\"),\"last\")", "UTF-8") +
          "&format=svg")).GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body().take(300))
      assert(resp.headers().firstValue("Content-Type").orElse("") == ctSvg)
      assert(resp.body().contains("<svg"))
    } finally api.stop()
  }

  test("e2e i506: svg render over an empty-but-healthy backend is a 200 no-data image") {
    // ref testcases/i506/i506.yaml — same divergence note as i503
    val store = new MockBackendStore(Map("a" -> MockData()))
    val api = new HttpApi(spark, store, 0)
    val port = api.start()
    try {
      val resp = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/render?format=svg&target=a")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body().take(300))
      assert(resp.headers().firstValue("Content-Type").orElse("") == ctSvg)
      assert(resp.body().contains("<svg"))
    } finally api.stop()
  }

  test("e2e i516: percentileOfSeries over mostly-NaN series keeps raw-arg naming") {
    // ref testcases/i516/i516.yaml
    val store = new MockBackendStore(Map(
      "carbon.api.*.cache_size" -> MockData(
        MockSeries("carbon.api.host001.cache_size", Seq(nan, nan, nan, nan, nan, nan)),
        MockSeries("carbon.api.host002.cache_size", Seq(nan, nan, nan, nan, nan, nan)),
        MockSeries("carbon.api.host003.cache_size", Seq(0, 0, 0, 100500, 100500, 100500)),
        MockSeries("carbon.api.host004.cache_size", Seq(nan, nan, nan, nan, nan, nan)),
        MockSeries("carbon.api.host005.cache_size", Seq(nan, nan, nan, nan, nan, nan)))))
    run(store, Seq(
      Q("/render", Seq("format" -> "json",
        "target" -> "percentileOfSeries(carbon.api.*.cache_size, 95, false)"),
        Expect(200, ctJson, metrics = Some(Seq(
          "percentileOfSeries(carbon.api.*.cache_size, 95, false)" ->
            dps((0, 1), (0, 2), (0, 3), (100500, 4), (100500, 5), (100500, 6))))))))
  }

  test("e2e i517: aliasSub replacement feeding aliasByNode") {
    // ref testcases/i517/i517.yaml
    run(abcdeStore, Seq(
      Q("/render", Seq("format" -> "json",
        "target" -> "aliasByNode(aliasSub(a.b.c.d.e, '(.*)', '0.1.2.@.4'), 2)"),
        Expect(200, ctJson, metrics = Some(Seq("2" -> dps((1, 1), (3, 2), (2, 3))))))))
  }

  test("e2e i545: glob render with an explicit range") {
    // ref testcases/i545/i545.yaml — the second (10s-slow) backend of the
    // reference setup is a zipper race; single-store equivalent asserts the
    // same winning answer
    val store = new MockBackendStore(Map(
      "a.*" -> MockData(MockSeries("a.open", Seq(0, 1, 2, 2, 3)))))
    run(store, Seq(
      Q("/render/", Seq("target" -> "a.*", "format" -> "json", "from" -> "1", "until" -> "6"),
        Expect(200, ctJson, metrics = Some(Seq("a.open" -> dp5))))))
  }

  test("e2e i565: seriesByTag returns the raw tagged metric name") {
    // ref testcases/i565/i565.yaml
    val store = new MockBackendStore(Map(
      "tagged" -> MockData(MockSeries("metric;tag1=v1;tag2=v2;;tag4=v4", Seq(1, 3, 2)))))
    run(store, Seq(
      Q("/render", Seq("format" -> "json",
        "target" -> "seriesByTag('tag1=v1', 'tag2=v2')"),
        Expect(200, ctJson, metrics = Some(Seq(
          "metric;tag1=v1;tag2=v2;;tag4=v4" -> dps((1, 1), (3, 2), (2, 3))))))))
  }

  test("e2e i580: randomWalk with a metric-path name argument renders") {
    // ref testcases/i580/i580.yaml
    val store = new MockBackendStore(Map(
      "some.metric" -> MockData(MockSeries("some.metric", Seq(3, 3, 3, 3, 3)))))
    run(store, Seq(
      Q("/render", Seq("format" -> "json",
        "target" -> "alias(randomWalk(some.metric), \"alias\")"),
        Expect(200, ctJson))))
  }

  test("e2e i584: generated time() aligns against a coarser metric under maxDataPoints") {
    // ref testcases/i584/i584.yaml
    val store = new MockBackendStore(Map(
      "some.metric" -> MockData(MockSeries("some.metric", Seq(3, 3, 3), step = 120))))
    run(store, Seq(
      Q("/render", Seq("format" -> "json", "maxDataPoints" -> "3",
        "target" -> "diffSeries(time(\"t\"), some.metric)",
        "from" -> "120", "until" -> "361"),
        Expect(200, ctJson, metrics = Some(Seq(
          "diffSeries(time(\"t\"), some.metric)" ->
            dps((147, 120), (267, 240), (357, 360)))))),
      Q("/render", Seq("format" -> "json", "maxDataPoints" -> "3",
        "target" -> "diffSeries(time(\"t\", 1), some.metric)",
        "from" -> "120", "until" -> "361"),
        Expect(200, ctJson, metrics = Some(Seq(
          "diffSeries(time(\"t\", 1), some.metric)" ->
            dps((176.5, 120), (296.5, 240), (357, 360))))))))
  }

  test("e2e i589: group() drops a nonexistent member silently") {
    // ref testcases/i589/i589.yaml
    val store = new MockBackendStore(Map(
      "some.existing.metric" -> MockData(MockSeries("some.existing.metric", Seq(3, 3, 3)))))
    run(store, Seq(
      Q("/render", Seq("format" -> "json",
        "target" -> "group(some.existing.metric, some.nonexisting.metric)"),
        Expect(200, ctJson, metrics = Some(Seq(
          "some.existing.metric" -> dps((3, 1), (3, 2), (3, 3))))))))
  }

  test("e2e i598: sum() alias renders as sumSeries with the glob answered by the backend") {
    // ref testcases/i598/i598.yaml
    run(aOpenWaitingStore, Seq(
      Q("/render/", Seq("target" -> "sum(a.*)", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq(
          "sumSeries(a.*)" -> dps((100, 1), (111, 2), (112, 3), (112, 4), (153, 5))))))))
  }

  test("e2e i661: backslash-escaped metric names parse and echo unescaped") {
    // ref testcases/i661/i661.yaml
    val store = new MockBackendStore(Map(
      "fo(o).bar" -> MockData(MockSeries("fo(o).bar", Seq(0, 1, 2, 2, 3))),
      "metric\\a" -> MockData(MockSeries("metric\\a", Seq(0, 1, 2, 2, 3)))))
    run(store, Seq(
      Q("/render/", Seq("target" -> "fo\\(o\\).bar", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq("fo(o).bar" -> dp5)))),
      Q("/render/", Seq("target" -> "metric\\\\a", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq("metric\\a" -> dp5))))))
  }

  test("e2e pr500: sumSeries over mixed steps/starts consolidates to the common grid") {
    // ref testcases/pr500/pr500.yaml
    run(metric123Store, Seq(
      Q("/render", Seq("format" -> "json", "target" -> "sumSeries(metric[123])"),
        Expect(200, ctJson, metrics = Some(Seq(
          "sumSeries(metric[123])" ->
            dps((3, 2), (5, 4), (10.5, 6), (9.5, 8), (8.5, 10), (7.5, 12), (2, 14))))))))
  }

  test("e2e pr529: maxSeries over asPercent(timeShift) keeps raw naming and NaN tail") {
    // ref testcases/pr529/pr529.yaml
    val store = new MockBackendStore(Map(
      "metric" -> MockData(MockSeries("metric", Seq(1, 1, 1, 1, 1), step = 1, start = 3))))
    run(store, Seq(
      Q("/render", Seq("format" -> "json",
        "target" -> "maxSeries(metric,asPercent(timeShift(metric,'1s', false),metric))"),
        Expect(200, ctJson, metrics = Some(Seq(
          "maxSeries(metric,asPercent(timeShift(metric,'1s', false),metric))" ->
            dps((1, 3), (100, 4), (100, 5), (100, 6), (100, 7), (nan, 8))))))))
  }

  test("e2e pr560: unknown functions and bad argument types are 400") {
    // ref testcases/pr560/pr560.yaml
    def bad(target: String) =
      Q("/render", Seq("target" -> target), Expect(400, ctPlain))
    run(abcdeStore, Seq(
      bad("aliasbyNode()"),
      bad("aliasbyNode(a.b.c.d.e)"),
      bad("aliasByNode(a.b.c.d.e, abc)"),
      bad("polyfit(a.b.c.d.e, 2, '12dd')"),
      bad("devideSeries(a.b.c.d.e)")))
  }

  test("e2e pr594-403-504: an all-403 upstream surfaces as 403") {
    // ref testcases/pr594-403-504/pr594-403-504.yaml
    run(renderErrorStore, Seq(
      Q("/render/", Seq("target" -> "a.b.c.d.e", "format" -> "json"),
        Expect(403, ctPlain, errBody = Some("a.b.c.d.e: Forbidden\n")),
        pre = _.failAll = Some((403, "Forbidden")))))
  }

  test("e2e pr594-maskerror: argument errors stay 400 while healthy fetches render") {
    // ref testcases/pr594-maskerror/pr594-maskerror.yaml — the reference
    // masks ONE failing backend behind a healthy one; single-store
    // equivalent asserts the same two observables
    run(abcdeStore, Seq(
      Q("/render", Seq("target" -> "aliasbyNode()"), Expect(400, ctPlain)),
      Q("/render/", Seq("target" -> "a.b.c.d.e", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq(
          "a.b.c.d.e" -> dps((1, 1), (3, 2), (2, 3))))))))
  }

  test("e2e pr743: two plain targets render in target order") {
    // ref testcases/pr743/pr743.yaml
    run(abcAbdStore, Seq(
      Q("/render/", Seq("target" -> "a.b.c", "target" -> "a.b.d", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq(
          "a.b.c" -> dp5,
          "a.b.d" -> dps((31, 1), (10, 2), (4, 3), (7, 4), (3, 5))))))))
  }

  test("e2e pr817: maxQueryLength gates every endpoint at 400") {
    // ref testcases/pr817/pr817.yaml (maxQueryLength: 20)
    val long21 = "a.a.a.a.a.a.a.a.a.a.a.a.a.a.a.a.a.a.a.a.b"
    val longGlob = "a.a.a.a.a.a.a.a.a.a.a.a.a.a.a.a.a.a.a.a.*"
    run(abcAbdStore, Seq(
      Q("/render", Seq("target" -> long21, "format" -> "json"), Expect(400, ctPlain)),
      Q("/metrics/find", Seq("query" -> longGlob, "format" -> "json"), Expect(400, ctPlain)),
      Q("/metrics/expand", Seq("query" -> long21, "format" -> "json"), Expect(400, ctPlain)),
      Q("/tags/autoComplete/tags", Seq("query" -> long21), Expect(400, ctPlain)),
      Q("/tags/autoComplete/values", Seq("query" -> long21), Expect(400, ctPlain)),
      Q("/render/", Seq("target" -> "a.b.c", "target" -> "a.b.d", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq(
          "a.b.c" -> dp5,
          "a.b.d" -> dps((31, 1), (10, 2), (4, 3), (7, 4), (3, 5)))))),
      Q("/metrics/find", Seq("query" -> "a.b.*", "format" -> "json"), Expect(200, ctJson)),
      Q("/tags/autoComplete/tags", Seq("query" -> "a.b.c"), Expect(200, ctJson)),
      Q("/tags/autoComplete/values", Seq("query" -> "a.b.c"), Expect(200, ctJson))),
      maxQueryLength = 20)
  }

  test("expand encoder: flat/leavesOnly/groupByExpr with cross-query dedup (ref cmd/carbonapi/http/expand_handler_test.go)") {
    // leaf structure of the reference table: foo.bar is a branch (because
    // foo.bar.baz exists), foo.bat and foo.bar.baz are leaves
    val store = new MockBackendStore(Map(
      "all" -> MockData(
        MockSeries("foo.bat", Seq(1.0)),
        MockSeries("foo.bar.baz", Seq(1.0)))))
    run(store, Seq(
      Q("/metrics/expand", Seq("query" -> "foo.ba*"),
        Expect(200, ctJson, body = Some("""{"results":["foo.bar","foo.bat"]}"""))),
      Q("/metrics/expand", Seq("query" -> "foo.ba*", "leavesOnly" -> "1"),
        Expect(200, ctJson, body = Some("""{"results":["foo.bat"]}"""))),
      Q("/metrics/expand", Seq("query" -> "foo.ba*", "groupByExpr" -> "1"),
        Expect(200, ctJson, body = Some("""{"results":{"foo.ba*":["foo.bar","foo.bat"]}}"""))),
      Q("/metrics/expand", Seq("query" -> "foo.ba*", "query" -> "foo.ba*.*", "groupByExpr" -> "1"),
        Expect(200, ctJson,
          body = Some("""{"results":{"foo.ba*":["foo.bar","foo.bat"],"foo.ba*.*":["foo.bar.baz"]}}""")))))
  }

  test("e2e render_error: partial success renders, total failure maps the upstream code") {
    // ref testcases/render_error/render_error.yaml (default success policy)
    run(renderErrorStore, Seq(
      Q("/render/", Seq("target" -> "a", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq("a" -> dp5)))),
      Q("/render/", Seq("target" -> "b", "format" -> "json"), Expect(200, ctJson)),
      Q("/render/", Seq("target" -> "a", "target" -> "b", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq("a" -> dp5)))),
      Q("/render/", Seq("target" -> "c", "format" -> "json"), Expect(503, ctPlain)),
      Q("/render/", Seq("target" -> "d", "format" -> "json"), Expect(503, ctPlain)),
      Q("/render/", Seq("target" -> "a", "target" -> "d", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq("a" -> dp5)))),
      Q("/render/", Seq("target" -> "divideSeries(a,d)", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq(
          "divideSeries(a,MISSING)" ->
            dps((nan, 1), (nan, 2), (nan, 3), (nan, 4), (nan, 5))))))))
  }

  test("e2e render_error_all: requireSuccessAll turns any upstream failure into the merged error") {
    // ref testcases/render_error_all/render_error_all.yaml
    run(renderErrorStore, Seq(
      Q("/render/", Seq("target" -> "a", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq("a" -> dp5)))),
      Q("/render/", Seq("target" -> "b", "format" -> "json"), Expect(200, ctJson)),
      Q("/render/", Seq("target" -> "a", "target" -> "b", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq("a" -> dp5)))),
      Q("/render/", Seq("target" -> "c", "format" -> "json"),
        Expect(503, ctPlain, errBody = Some("c: timeout while fetching Response\n"))),
      Q("/render/", Seq("target" -> "d", "format" -> "json"),
        Expect(503, ctPlain, errBody = Some("d: Service Unavailable\n"))),
      Q("/render/", Seq("target" -> "a", "target" -> "d", "format" -> "json"),
        Expect(503, ctPlain, errBody = Some("d: Service Unavailable\n"))),
      Q("/render/", Seq("target" -> "divideSeries(a,d)", "format" -> "json"),
        Expect(503, ctPlain, errBody = Some("divideSeries(a,d): Service Unavailable\n")))),
      requireSuccessAll = true)
  }

  test("e2e render_error_all_rr: healthy targets render exactly, failed ones error under requireSuccessAll") {
    // ref testcases/render_error_all_rr/render_error_all_rr.yaml — the
    // reference reaches a,c through round-robin retry to a healthy backend;
    // single-store equivalent serves a,c directly and keeps d failing
    val store = new MockBackendStore(Map(
      "a" -> MockData(MockSeries("a", Seq(0, 1, 2, 2, 3))),
      "c" -> MockData(MockSeries("c", Seq(0, 1, 2, 2, 4))),
      "d" -> MockFail(503, "Service Unavailable")))
    run(store, Seq(
      Q("/render/", Seq("target" -> "a", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq("a" -> dp5)))),
      Q("/render/", Seq("target" -> "b", "format" -> "json"), Expect(200, ctJson)),
      Q("/render/", Seq("target" -> "a", "target" -> "b", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq("a" -> dp5)))),
      Q("/render/", Seq("target" -> "c", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq("c" -> dps((0, 1), (1, 2), (2, 3), (2, 4), (4, 5)))))),
      Q("/render/", Seq("target" -> "a", "target" -> "b", "target" -> "c", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq(
          "a" -> dp5, "c" -> dps((0, 1), (1, 2), (2, 3), (2, 4), (4, 5)))))),
      Q("/render/", Seq("target" -> "divideSeries(a,c)", "format" -> "json"),
        Expect(200, ctJson, metrics = Some(Seq(
          "divideSeries(a,c)" -> dps((nan, 1), (1, 2), (1, 3), (1, 4), (0.75, 5)))))),
      Q("/render/", Seq("target" -> "d", "format" -> "json"),
        Expect(503, ctPlain, errBody = Some("d: Service Unavailable\n"))),
      Q("/render/", Seq("target" -> "a", "target" -> "d", "format" -> "json"),
        Expect(503, ctPlain, errBody = Some("d: Service Unavailable\n"))),
      Q("/render/", Seq("target" -> "divideSeries(a,d)", "format" -> "json"),
        Expect(503, ctPlain, errBody = Some("divideSeries(a,d): Service Unavailable\n")))),
      requireSuccessAll = true)
  }

  test("e2e sortBy: sortByMaxima order survives limit and the marshal tier") {
    // ref testcases/sortBy/sortBy.yaml
    val z2 = dps((8, 1), (1, 2), (1, 3), (7, 4), (4, 5))
    val z1 = dps((4, 1), (6, 2), (2, 3), (2, 4), (3, 5))
    val zn = dps((nan, 1), (nan, 2), (nan, 3), (nan, 4), (nan, 5))
    run(metricStarStore, Seq(
      Q("/render", Seq("format" -> "json", "target" -> "limit(sortByMaxima(metric*),2)"),
        Expect(200, ctJson, metrics = Some(Seq("metricZ2" -> z2, "metricZ1" -> z1)))),
      Q("/render", Seq("format" -> "json", "target" -> "limit(sortByMaxima(metric*),3)"),
        Expect(200, ctJson, metrics = Some(Seq(
          "metricZ2" -> z2, "metricZ1" -> z1, "metricNaN" -> zn))))))
  }

  test("e2e tags_error: default policy masks tag-backend failures to empty 200s") {
    // ref testcases/tags_error/tags_error.yaml
    val store = new MockBackendStore(Map(
      "tagged" -> MockData(
        MockSeries("m1;tag1=v1;tag2=value1", Seq(1, 2)),
        MockSeries("m2;tag1=v1;tag2=value2", Seq(3, 4)))))
    run(store, Seq(
      Q("/tags/autoComplete/values", Seq("expr" -> "tag1=v1", "tag" -> "tag2"),
        Expect(200, ctJson, body = Some("""["value1","value2"]"""))),
      Q("/tags/autoComplete/tags", Seq("expr" -> "tag1=v1", "tagPrefix" -> "tag"),
        Expect(200, ctJson, body = Some("""["tag2"]"""))),
      Q("/tags/autoComplete/values", Seq("expr" -> "tag1=v1", "tag" -> "tag3"),
        Expect(200, ctJson, body = Some("[]"))),
      Q("/tags/autoComplete/values", Seq("expr" -> "tag2=v1", "tag" -> "tag3"),
        Expect(200, ctJson, body = Some("[]")),
        pre = _.failAll = Some((504, "timeout while fetching Response"))),
      Q("/tags/autoComplete/values", Seq("expr" -> "tag2=v1", "tag" -> "tag4"),
        Expect(200, ctJson, body = Some("[]")),
        pre = _.failAll = Some((503, "Service Unavailable")))))
  }

  test("e2e tags_error_all: requireSuccessAll propagates tag-backend failures") {
    // ref testcases/tags_error_all/tags_error_all.yaml
    val store = new MockBackendStore(Map(
      "tagged" -> MockData(
        MockSeries("m1;tag1=v1;tag2=value1", Seq(1, 2)),
        MockSeries("m2;tag1=v1;tag2=value2", Seq(3, 4)))))
    run(store, Seq(
      Q("/tags/autoComplete/values", Seq("expr" -> "tag1=v1", "tag" -> "tag2"),
        Expect(200, ctJson, body = Some("""["value1","value2"]"""))),
      Q("/tags/autoComplete/tags", Seq("expr" -> "tag1=v1", "tagPrefix" -> "tag"),
        Expect(200, ctJson, body = Some("""["tag2"]"""))),
      Q("/tags/autoComplete/values", Seq("expr" -> "tag1=v1", "tag" -> "tag3"),
        Expect(200, ctJson, body = Some("[]"))),
      Q("/tags/autoComplete/values", Seq("expr" -> "tag2=v1", "tag" -> "tag3"),
        Expect(503, ctPlain, errBody = Some("timeout while fetching Response\n")),
        pre = _.failAll = Some((504, "timeout while fetching Response"))),
      Q("/tags/autoComplete/values", Seq("expr" -> "tag2=v1", "tag" -> "tag4"),
        Expect(503, ctPlain, errBody = Some("Service Unavailable\n")),
        pre = _.failAll = Some((503, "Service Unavailable")))),
      requireSuccessAll = true)
  }

  test("layout invisibility at the HTTP surface: render/find/tags responses are byte-identical over flat, partitioned and routed layouts") {
    // the unit sweeps prove every gNN row layout-invisible at the catalog
    // level; this closes the integration gap — the FULL HTTP tier (parse →
    // prefetch → eval → marshal) over the same corpus written to all three
    // parquet layouts must answer every byte the same
    val sp = spark
    import sp.implicits._
    val vals: Long => Array[Double] = seed =>
      (0 until 10).map(i =>
        if ((i + seed) % 7 == 0) Double.NaN
        else ((i * 7 + seed * 13) % 10).toDouble).toArray
    val rows = Seq(
      ("web.srv1.cpu", 1L), ("web.srv1.mem", 2L), ("web.srv2.cpu", 3L),
      ("db.srv1.cpu;dc=east;role=db", 4L), ("db.srv2.cpu;dc=west;role=db", 5L))
      .map { case (n, s) =>
        graft.core.Series(n, MockSeries(n, Nil).tags,
          start = 0L, step = 60L, values = vals(s))
      }
    val df = rows.toDF()
    val base = java.nio.file.Files.createTempDirectory("graft_e2e_layout").toString
    graft.store.ParquetSeriesStore.write(df, s"$base/flat")
    graft.store.RoutedSeriesStore.write(df, s"$base/part", windowSec = 300L, routeDepth = 0)
    graft.store.RoutedSeriesStore.write(df, s"$base/routed", windowSec = 300L, routeDepth = 1)
    val stores: Seq[(String, graft.store.SeriesStore)] = Seq(
      "flat" -> new graft.store.ParquetSeriesStore(s"$base/flat"),
      "partitioned" -> new graft.store.RoutedSeriesStore(s"$base/part", 300L, 0),
      "routed" -> new graft.store.RoutedSeriesStore(s"$base/routed", 300L, routeDepth = 1))
    val queries = Seq(
      "/render" -> Seq("format" -> "json", "from" -> "0", "until" -> "600",
        "target" -> "sumSeries(web.*.cpu)", "target" -> "movingAverage(web.srv1.*,3)"),
      "/render" -> Seq("format" -> "json", "from" -> "0", "until" -> "600",
        "target" -> "groupByNode(*.*.cpu, 0, 'avg')"),
      "/render" -> Seq("format" -> "csv", "from" -> "0", "until" -> "600",
        "target" -> "seriesByTag('role=db')"),
      "/metrics/find" -> Seq("format" -> "treejson", "query" -> "web.*"),
      "/tags/autoComplete/tags" -> Seq("expr" -> "role=db"),
      "/tags/autoComplete/values" -> Seq("expr" -> "role=db", "tag" -> "dc"))
    val responses = stores.map { case (label, store) =>
      val api = new HttpApi(spark, store, 0)
      val port = api.start()
      try label -> queries.map { case (path, params) =>
        val qs = params.map { case (k, v) => k + "=" + URLEncoder.encode(v, "UTF-8") }
          .mkString("&")
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path?$qs")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200, s"$label $path: ${resp.statusCode()} ${resp.body().take(300)}")
        resp.body()
      } finally api.stop()
    }
    val (refLabel, refBodies) = responses.head
    // the comparison must not pass vacuously on empty bodies
    assert(refBodies(0).contains("datapoints") && refBodies(0).contains("sumSeries(web.*.cpu)"),
      "render must return data: " + refBodies(0).take(300))
    assert(refBodies(3).contains("srv1"), "find must list children: " + refBodies(3).take(300))
    assert(refBodies(5).contains("east") && refBodies(5).contains("west"),
      "tag values must resolve: " + refBodies(5))
    responses.tail.foreach { case (label, bodies) =>
      bodies.zip(refBodies).zipWithIndex.foreach { case ((b, rb), i) =>
        assert(b == rb,
          s"$label diverges from $refLabel on ${queries(i)._1}?${queries(i)._2}: ${b.take(300)} vs ${rb.take(300)}")
      }
    }
  }

  test("poisoned shared prefetch batch: evalWithErrors retries per-pattern, failing only the failing target") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, udf}
    // the shared fan-out scan "contains" a backend that dies at ACTION
    // time: plan construction succeeds, then the persisted batch throws
    // from inside a task (the typed error arrives wrapped in
    // SparkException layers) — without the dropPrefetch fallback every
    // target of the request would fail. The batch reads Parquet files, so
    // the prefetch pins it and the targets read it through the memo.
    val batchDir = java.nio.file.Files.createTempDirectory("graft_e2e_batch").toString
    var batchCalls = 0
    val fetched = scala.collection.mutable.ArrayBuffer.empty[String]
    val store = new MockBackendStore(Map(
      "ok1" -> MockData(MockSeries("ok1", Seq(1, 2, 3))),
      "ok2" -> MockData(MockSeries("ok2", Seq(4, 5, 6))),
      "bad" -> MockFail(503, "Service Unavailable"))) {
      override def fetch(spark: SparkSession, pathExpr: String, from: Long, until: Long): DataFrame = {
        fetched += pathExpr
        super.fetch(spark, pathExpr, from, until)
      }
      override def fetchMulti(spark: SparkSession, pathExprs: Seq[String],
                              from: Long, until: Long): DataFrame = {
        batchCalls += 1
        val poison = udf((n: String) => {
          if (n != null) {
            E2eScenarioSpec.poisonHits.incrementAndGet()
            throw new graft.store.StoreFetchException(503, "batch backend down")
          }
          true
        }).asNondeterministic()
        spark.read.parquet(batchDir)
          .where(col("pathExpression").isin(pathExprs: _*)).where(poison(col("name")))
      }
    }
    Seq("ok1", "ok2").map(store.fetch(spark, _, 0, 1000)).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(batchDir)
    fetched.clear()
    E2eScenarioSpec.poisonHits.set(0)
    val (rows, errs) = graft.api.Render.evalWithErrors(
      spark, store, Seq("ok1", "bad", "ok2"), 0, 1000)
    assert(batchCalls == 1, s"prefetch must have batched once, got $batchCalls")
    // the pinned batch was read and failed, and only then did the targets
    // go to the per-pattern path: each pattern fetched once, after the
    // dropped prefetch (the memo served them while the batch was in it)
    assert(E2eScenarioSpec.poisonHits.get > 0, "the pinned batch must have been read")
    assert(fetched == Seq("ok1", "bad", "ok2"), fetched.toString)
    // the good targets survive the poisoned batch via the per-pattern retry
    assert(rows.map(_.name).toSet == Set("ok1", "ok2"), rows.map(_.name).toString)
    // only the genuinely failing backend's target records an error
    assert(errs.map(_._1) == Seq("bad"), errs.toString)
    assert(errs.head._2.httpCode == 503)
  }

}

object E2eScenarioSpec {
  /** Rows the poisoned batch's UDF has seen (local mode: tasks share the
    * driver JVM, so the counter is visible to the test). */
  val poisonHits = new java.util.concurrent.atomic.AtomicInteger
}
