package graft

import java.time.{Instant, ZoneOffset}
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{AtTime, Catalog, FindNode, Render, RenderedSeries}

class ApiSpec extends AnyFunSuite {

  private val utc = ZoneOffset.UTC
  // 2024-06-15 12:34:56 UTC
  private val fixedNow = () => Instant.ofEpochSecond(1718454896L)

  test("at-time: now and relative offsets (ref date/date.go:88-93)") {
    assert(AtTime.parse("now", utc, fixedNow).contains(1718454896L))
    assert(AtTime.parse("-1d", utc, fixedNow).contains(1718454896L - 86400))
    assert(AtTime.parse("+2h", utc, fixedNow).contains(1718454896L + 7200))
  }

  test("at-time: named references and ref±offset (ref date/date.go:96-119)") {
    val midnight = 1718409600L // 2024-06-15 00:00 UTC
    assert(AtTime.parse("midnight", utc, fixedNow).contains(midnight))
    assert(AtTime.parse("noon", utc, fixedNow).contains(midnight + 12 * 3600))
    assert(AtTime.parse("teatime", utc, fixedNow).contains(midnight + 16 * 3600))
    assert(AtTime.parse("noon+3h", utc, fixedNow).contains(midnight + 15 * 3600))
    assert(AtTime.parse("today-2d", utc, fixedNow).contains(midnight - 2 * 86400))
  }

  test("at-time: absolute dates, epoch passthrough, fallback (ref date/date.go:122-174)") {
    assert(AtTime.parse("20240101", utc, fixedNow).contains(1704067200L))
    assert(AtTime.parse("00:00_20140101", utc, fixedNow).contains(1388534400L))
    assert(AtTime.parse("1718454896", utc, fixedNow).contains(1718454896L))
    assert(AtTime.parse("garbage", utc, fixedNow).isEmpty)
    assert(AtTime.toEpoch("garbage", 42L, utc, fixedNow) == 42L)
  }

  test("at-time: the reference TestDateParamToEpoch table in a query timezone (ref date/date_test.go)") {
    // clock = 16 Aug 1994 15:30 UTC; query tz America/Los_Angeles (UTC-7 PDT)
    val now94 = () => Instant.ofEpochSecond(777051000L)
    val la = java.time.ZoneId.of("America/Los_Angeles")
    def utcHm(y: Int, mo: Int, d: Int, h: Int, mi: Int): Long =
      java.time.LocalDateTime.of(y, mo, d, h, mi).toEpochSecond(ZoneOffset.UTC)
    val cases = Seq(
      "midnight" -> utcHm(1994, 8, 16, 7, 0),
      "noon" -> utcHm(1994, 8, 16, 19, 0),
      "teatime" -> utcHm(1994, 8, 16, 23, 0),
      "tomorrow" -> utcHm(1994, 8, 17, 7, 0),
      "noon 08/12/94" -> utcHm(1994, 8, 12, 19, 0), // 2-digit year pivots to 19xx
      "midnight 20060812" -> utcHm(2006, 8, 12, 7, 0),
      "noon tomorrow" -> utcHm(1994, 8, 17, 19, 0),
      "17:04 19940812" -> utcHm(1994, 8, 13, 0, 4),
      "-1day" -> utcHm(1994, 8, 15, 15, 30),
      "19940812" -> utcHm(1994, 8, 12, 7, 0),
      "today-2d" -> utcHm(1994, 8, 14, 7, 0),
      "today-1h" -> utcHm(1994, 8, 16, 6, 0),
      "yesterday+12h" -> utcHm(1994, 8, 15, 19, 0),
      "now-1h" -> utcHm(1994, 8, 16, 14, 30),
      "now+30min" -> utcHm(1994, 8, 16, 16, 0),
      "noon+3h" -> utcHm(1994, 8, 16, 22, 0),
      "midnight-30min" -> utcHm(1994, 8, 16, 6, 30),
      "NOW" -> utcHm(1994, 8, 16, 15, 30),
      "Today-1h" -> utcHm(1994, 8, 16, 6, 0),
      "MIDNIGHT" -> utcHm(1994, 8, 16, 7, 0),
      "01/02/2014" -> utcHm(2014, 1, 2, 8, 0), // PST, UTC-8
      "noon 08/12/2006" -> utcHm(2006, 8, 12, 19, 0))
    for ((in, want) <- cases)
      assert(AtTime.parse(in, la, now94).contains(want), s"parse($in)")
  }

  private def rs(name: String, values: Array[Double], start: Long = 100, step: Long = 10,
                 tags: Map[String, String] = Map.empty, pe: String = "") =
    RenderedSeries(name, tags + ("name" -> name), if (pe.isEmpty) name else pe, start, step, values)

  test("glob-order sort: brace appearance order, then non-matchers in input order; tag fetches lexical (ref expr/sort_test.go)") {
    val pe = "a.{first,second,third,fourth}.c.d"
    val in = Seq("a.bronze.c.d", "a.first.c.d", "a.fourth.c.d", "a.gold.c.d",
      "a.second.c.d", "a.silver.c.d", "a.third.c.d")
      .map(n => rs(n, Array.empty[Double], pe = pe))
    assert(Render.sortByGlobOrder(in).map(_.name) == Seq(
      "a.first.c.d", "a.second.c.d", "a.third.c.d", "a.fourth.c.d",
      "a.bronze.c.d", "a.gold.c.d", "a.silver.c.d"))
    val tagged = Seq("a.b.c", "a", "a.d")
      .map(n => rs(n, Array.empty[Double], pe = "seriesByTag(foo=~a.[bcd])"))
    assert(Render.sortByGlobOrder(tagged).map(_.name) == Seq("a", "a.b.c", "a.d"))
  }

  test("error-merge: the reference TestMergeHttpErrors table (ref zipper/helper/errors_test.go)") {
    def merge(errs: (Int, String)*): (Int, Seq[String]) =
      Render.mergeHttpErrors(errs.zipWithIndex.map { case ((c, m), i) =>
        s"t$i" -> new graft.store.StoreFetchException(c, m) })
    assert(merge()._1 == 404)
    assert(merge((503, "unavailable")) == ((503, Seq("t0: unavailable"))))
    assert(merge((504, "timeout"), (503, "unavailable"))._1 == 503)
    assert(merge((503, "unavailable"), (504, "timeout"))._1 == 503)
    assert(merge((403, "limit"), (504, "timeout"))._1 == 403)
    assert(merge((504, "timeout"), (403, "limit"))._1 == 403)
    assert(merge((500, "error"), (403, "limit"))._1 == 403)
    assert(merge((500, "error"), (504, "timeout"))._1 == 500)
    assert(merge((504, "timeout"), (500, "error"))._1 == 500)
    assert(merge((400, "error"), (403, "limit"))._1 == 400)
    assert(merge((403, "limit"), (400, "error"))._1 == 400)
    // both messages survive as "target: message" lines, in target order
    assert(merge((504, "timeout"), (503, "unavailable"))._2 ==
      Seq("t0: timeout", "t1: unavailable"))
  }

  test("response-cache TTL rule: the reference Test_getCacheTimeout table (ref cmd/carbonapi/http/render_handler_test.go)") {
    val now = 1636985018L
    // cacheConfig: short 60, default 300, shortDuration 3h, untilOffset 120
    def ttl(from: Long, until: Long): Long =
      graft.api.HttpApi.cacheTimeoutRule(None, 300, 60, 10800, 120, now, until, until - from)
    assert(ttl(now - 600, now - 120) == 60)
    assert(ttl(now - 10800, now) == 60)
    assert(ttl(now - 10800, now - 120) == 60)
    assert(ttl(now - 10800, now - 121) == 300)
    assert(ttl(now - 10801, now) == 300)
    assert(ttl(now - 122, now - 121) == 300)
    // explicit cacheTimeout always wins; short tier disabled → default
    assert(graft.api.HttpApi.cacheTimeoutRule(Some(7), 300, 60, 10800, 120, now, now, 60) == 7)
    assert(graft.api.HttpApi.cacheTimeoutRule(None, 300, 0, 10800, 120, now, now, 60) == 300)
  }

  test("marshal tables: json, json+noNullPoints, raw, csv (ref expr/types/metricdata_test.go)") {
    def tagged(name: String, values: Array[Double], start: Long = 100, step: Long = 100) = {
      val tags = graft.core.Names.extractTags(name)
      RenderedSeries(name, tags + ("name" -> graft.core.Names.extractName(tags("name"))),
        name, start, step, values)
    }
    val NaN = Double.NaN
    assert(Render.json(Seq(
      tagged("metric1", Array(1, 1.5, 2.25, NaN)),
      tagged("metric2;foo=bar", Array(2, 2.5, 3.25, 4, 5)))) ==
      """[{"target":"metric1","datapoints":[[1,100],[1.5,200],[2.25,300],[null,400]],"tags":{"name":"metric1"}},""" +
      """{"target":"metric2;foo=bar","datapoints":[[2,100],[2.5,200],[3.25,300],[4,400],[5,500]],"tags":{"foo":"bar","name":"metric2"}}]""")
    assert(Render.json(Seq(
      tagged("metric1", Array(1, 1.5, 2.25, NaN)),
      tagged("metric2;foo=bar", Array(NaN, 2.5, 3.25, 4, 5)),
      tagged("metric3;foo=bar", Array(2, NaN, 3.25, 4, 5)),
      tagged("metric4;foo=bar", Array(NaN, NaN, NaN, NaN, NaN))), noNullPoints = true) ==
      """[{"target":"metric1","datapoints":[[1,100],[1.5,200],[2.25,300]],"tags":{"name":"metric1"}},""" +
      """{"target":"metric2;foo=bar","datapoints":[[2.5,200],[3.25,300],[4,400],[5,500]],"tags":{"foo":"bar","name":"metric2"}},""" +
      """{"target":"metric3;foo=bar","datapoints":[[2,100],[3.25,300],[4,400],[5,500]],"tags":{"foo":"bar","name":"metric3"}},""" +
      """{"target":"metric4;foo=bar","datapoints":[],"tags":{"foo":"bar","name":"metric4"}}]""")
    assert(Render.raw(Seq(
      tagged("metric1", Array(1, 1.5, 2.25, NaN)),
      tagged("metric2", Array(2, 2.5, 3.25, 4, 5)))) ==
      "metric1,100,500,100|1,1.5,2.25,None\n" + "metric2,100,600,100|2,2.5,3.25,4,5\n")
    assert(Render.csv(Seq(
      tagged("metric1", Array(1, 1.5, 2.25, NaN)),
      tagged("metric2", Array(2, 2.5, 3.25, 4, 5)))) ==
      "\"metric1\",1970-01-01 00:01:40,1\n" +
      "\"metric1\",1970-01-01 00:03:20,1.5\n" +
      "\"metric1\",1970-01-01 00:05:00,2.25\n" +
      "\"metric1\",1970-01-01 00:06:40,\n" +
      "\"metric2\",1970-01-01 00:01:40,2\n" +
      "\"metric2\",1970-01-01 00:03:20,2.5\n" +
      "\"metric2\",1970-01-01 00:05:00,3.25\n" +
      "\"metric2\",1970-01-01 00:06:40,4\n" +
      "\"metric2\",1970-01-01 00:08:20,5\n")
  }

  test("json marshal: null for NaN, tag ordering (ref MarshalJSON types.go:120-198)") {
    val out = Render.json(Seq(rs("a", Array(1.0, Double.NaN, 2.5))))
    assert(out ==
      """[{"target":"a","datapoints":[[1,100],[null,110],[2.5,120]],"tags":{"name":"a"}}]""")
    val noNull = Render.json(Seq(rs("a", Array(1.0, Double.NaN, 2.5))), noNullPoints = true)
    assert(noNull.contains("""[[1,100],[2.5,120]]"""))
  }

  test("csv and raw marshal (ref MarshalCSV types.go:48-86, MarshalRaw 282-320)") {
    val csv = Render.csv(Seq(rs("m", Array(1.5, Double.NaN), start = 0)))
    assert(csv == "\"m\",1970-01-01 00:00:00,1.5\n\"m\",1970-01-01 00:00:10,\n")
    val raw = Render.raw(Seq(rs("m", Array(1.5, Double.NaN), start = 0)))
    assert(raw == "m,0,20,10|1.5,None\n")
  }

  test("maxDataPoints consolidation honors consolidateBy (ref ConsolidateJSON types.go:87-117)") {
    val vals = Array.tabulate(10)(_.toDouble)
    val avg = Render.consolidate(Seq(rs("a", vals)), 5).head
    assert(avg.step == 20 && avg.values.toSeq == Seq(0.5, 2.5, 4.5, 6.5, 8.5))
    val mx = Render.consolidate(
      Seq(rs("a", vals, tags = Map("consolidateBy" -> "max"))), 5).head
    assert(mx.values.toSeq == Seq(1.0, 3.0, 5.0, 7.0, 9.0))
    // within budget → untouched
    assert(Render.consolidate(Seq(rs("a", vals)), 100).head.values.length == 10)
  }

  test("maxDataPoints nudge flags shift bucket boundaries (ref types.go:344-385)") {
    // start=130, step=10, 10 points, maxDataPoints=5 → vpp=2, aggStep=20;
    // dist = 20 - ((130-10) % 20) = 20 → no nudge when already aligned
    val aligned = Render.consolidate(
      Seq(rs("a", Array.tabulate(10)(_.toDouble), start = 130, step = 10)), 5,
      nudgeStartTime = true).head
    assert(aligned.start == 130 && aligned.values.length == 5)
    // start=140: dist = 20 - ((140-10) % 20) = 10 → drop 1 point, start 150
    val nudged = Render.consolidate(
      Seq(rs("a", Array.tabulate(10)(_.toDouble), start = 140, step = 10)), 5,
      nudgeStartTime = true).head
    assert(nudged.start == 150 && nudged.values.length == 5)
    assert(nudged.values.head == 1.5) // avg of points 1,2 after the drop
    // highest-timestamp stamping adds aggStep - step
    val high = Render.consolidate(
      Seq(rs("a", Array.tabulate(10)(_.toDouble), start = 130, step = 10)), 5,
      useBucketHighestTs = true).head
    assert(high.start == 130 + 20 - 10)
  }

  test("nudge+highestTs golden table (ported ref expr/types/types_test.go:15-135, sum consolidation)") {
    // (name, values, start, step, mdp, wantValues, wantStep, wantStart)
    val cases = Seq(
      ("empty", Array.empty[Double], 0L, 60L, 100L, Seq.empty[Double], 60L, 0L),
      ("one point", Array(1.0, 2, 3, 4), 10L, 10L, 1L, Seq(10.0), 40L, 40L),
      ("no nudge if few points", Array(1.0, 2, 3, 4), 20L, 10L, 1L, Seq(10.0), 40L, 50L),
      ("should nudge the first point", Array(1.0, 2, 3, 4, 5, 6), 20L, 10L, 3L, Seq(5.0, 9, 6), 20L, 40L),
      ("should be stable with previous", Array(2.0, 3, 4, 5, 6, 7), 30L, 10L, 3L, Seq(5.0, 9, 13), 20L, 40L),
      ("more data", Array(2.0, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14), 20L, 10L, 3L, Seq(40.0, 50), 50L, 100L),
      ("even more data", Array(1.0, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14), 10L, 10L, 3L, Seq(15.0, 40, 50), 50L, 50L),
      ("skewed start time", Array(2.0, 3, 4, 5, 6, 7, 8, 9, 10), 21L, 10L, 5L, Seq(5.0, 9, 13, 17, 10), 20L, 31L),
      ("skewed start time 2", Array(2.0, 3, 4, 5, 6, 7, 8, 9, 10), 29L, 10L, 5L, Seq(5.0, 9, 13, 17, 10), 20L, 39L),
      ("skewed start time 3", Array(2.0, 3, 4, 5, 6, 7, 8, 9, 10), 31L, 10L, 5L, Seq(7.0, 11, 15, 19), 20L, 51L),
      ("skewed start no aggregation", Array(1.0, 2, 3, 4), 31L, 10L, 4L, Seq(1.0, 2, 3, 4), 10L, 31L))
    cases.foreach { case (name, values, start, step, mdp, want, wantStep, wantStart) =>
      val got = Render.consolidate(
        Seq(rs("t", values, start = start, step = step, tags = Map("consolidateBy" -> "sum"))),
        mdp, nudgeStartTime = true, useBucketHighestTs = true).head
      assert(got.values.toSeq == want, s"$name: values")
      assert(got.step == wantStep, s"$name: step")
      assert(got.start == wantStart, s"$name: start")
    }
  }

  test("nudge/highestTs flag combinations (ported ref types_test.go:152-222)") {
    val values = Array(2.0, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14)
    // (nudge, highestTs, wantValues, wantStart); step 50 in every case
    val cases = Seq(
      (true, true, Seq(40.0, 50), 100L),
      (true, false, Seq(40.0, 50), 60L),
      (false, true, Seq(20.0, 45, 39), 60L),
      (false, false, Seq(20.0, 45, 39), 20L))
    cases.foreach { case (nudge, high, want, wantStart) =>
      val got = Render.consolidate(
        Seq(rs("t", values, start = 20, step = 10, tags = Map("consolidateBy" -> "sum"))),
        3, nudgeStartTime = nudge, useBucketHighestTs = high).head
      assert(got.values.toSeq == want && got.step == 50 && got.start == wantStart,
        s"nudge=$nudge high=$high: got ${got.values.toSeq} step ${got.step} start ${got.start}")
    }
  }

  test("render config plumbs the nudge flags into /render consolidation") {
    val saved = Render.config
    try {
      Render.config = Render.RenderConfig(nudgeStartTimeOnAggregation = true,
        useBucketsHighestTimestampOnAggregation = true)
      // direct consolidate equivalence: the /render handler reads the global config
      val viaFlags = Render.consolidate(
        Seq(rs("t", Array(1.0, 2, 3, 4, 5, 6), start = 20, step = 10)),
        3, nudgeStartTime = true, useBucketHighestTs = true).head
      val viaConfig = Render.consolidate(
        Seq(rs("t", Array(1.0, 2, 3, 4, 5, 6), start = 20, step = 10)),
        3, Render.config.nudgeStartTimeOnAggregation,
        Render.config.useBucketsHighestTimestampOnAggregation).head
      assert(viaFlags.values.toSeq == viaConfig.values.toSeq && viaFlags.start == viaConfig.start)
    } finally Render.config = saved
  }

  test("glob-order sort: braces keep listed order (ref expr/sort.go:121-180)") {
    val pe = "events.{view,click}"
    val sorted = Render.sortByGlobOrder(Seq(
      rs("events.click", Array(1.0), pe = pe),
      rs("events.view", Array(1.0), pe = pe)))
    assert(sorted.map(_.name) == Seq("events.view", "events.click"))
    // plain glob → alphabetic
    val alpha = Render.sortByGlobOrder(Seq(
      rs("events.view", Array(1.0), pe = "events.*"),
      rs("events.click", Array(1.0), pe = "events.*")))
    assert(alpha.map(_.name) == Seq("events.click", "events.view"))
  }

  test("treejson shape (ref find_handlers.go:41-103)") {
    val out = Catalog.treeJson(Seq(FindNode("events.click", "click", leaf = true, allowChildren = false)))
    assert(out == """[{"allowChildren":0,"expandable":0,"leaf":1,"id":"events.click","text":"click","context":{}}]""")
    // a quote, a backslash and a tab in a name escape as encoding/json's do
    val odd = "q\"b\\t\tx"
    val tree = Catalog.treeJson(Seq(FindNode("a." + odd, odd, leaf = false, allowChildren = true)))
    assert(!tree.exists(_ < ' ') && tree.contains("\\u0009") && tree.contains("q\\\"b\\\\t"), tree)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(tree).get(0)
    assert(node.get("id").asText == "a." + odd && node.get("text").asText == odd)
  }

  test("request parameters: the shared parser as one table (ref net/http Request.ParseForm, FormValue)") {
    import graft.api.Serve.{Request, params}
    val form = Some("application/x-www-form-urlencoded")
    // (query, method, Content-Type, body) → parameters, values in arrival order
    val table = Seq(
      ("t=a+b&u=a%2Bb", "GET", None, "", Map("t" -> Seq("a b"), "u" -> Seq("a+b"))),
      ("flag&x=1", "GET", None, "", Map("flag" -> Seq(""), "x" -> Seq("1"))),
      ("k=1&k=2", "GET", None, "", Map("k" -> Seq("1", "2"))),
      ("k=1", "POST", form, "k=2&f=b+c%21", Map("k" -> Seq("1", "2"), "f" -> Seq("b c!"))),
      ("k=1", "POST", None, "f=x", Map("k" -> Seq("1"), "f" -> Seq("x"))),
      ("k=1", "POST", Some("application/json"), "f=x", Map("k" -> Seq("1"))),
      ("k=1", "GET", form, "f=x", Map("k" -> Seq("1"))),
      // an inline route passes no method: its body is never read
      ("k=1", "", form, "f=x", Map("k" -> Seq("1"))))
    for ((q, m, ct, body, want) <- table)
      assert(params(q, m, ct, body) == want, s"$q $m $ct $body")
    var reads = 0
    params("k=1", "POST", Some("text/plain"), { reads += 1; "f=x" })
    assert(reads == 0, "a non-form body must not be read")
    // a repeated key answers its first value, like Go's FormValue
    assert(Request("/", params("k=1&k=2", "GET", None, "")).one("k") == "1")
    assert(Request("/", params("", "GET", None, "")).one("k", "d") == "d")
  }

  test("functions registry is populated") {
    assert(Catalog.functions.size > 150)
    assert(Catalog.functions.contains("sumSeries"))
    assert(Catalog.functions.contains("holtWintersForecast"))
  }

  test("every AvailableSummarizers name registers bare + Series alias (ref aggregate/function.go:30-35)") {
    val summarizers = Seq("sum", "total", "avg", "average", "avg_zero", "max", "min", "last",
      "current", "first", "range", "rangeOf", "median", "multiply", "diff", "count", "stddev")
    val fns = Catalog.functions.toSet
    for (s <- summarizers) {
      assert(fns.contains(s), s"missing bare summarizer alias: $s")
      assert(fns.contains(s + "Series"), s"missing Series alias: ${s}Series")
    }
  }
}
