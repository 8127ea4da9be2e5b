package servebench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import graft.api.{Catalog, HttpApi, Render}
import graft.engine.Eval
import graft.parser.{Defines, Parser}
import graft.store.RoutedSeriesStore

/**
 * The `dashboard` workload: Grafana-style panels against `HttpApi` over a
 * routed, time-partitioned store. Renders run the whole graphite path
 * (parse, plan build, Catalyst, routed fetch, execution, consolidation,
 * serialization); metadata requests run the catalog.
 */
final class Dashboard(env: Env) {
  import DashGen._
  private val spark = env.spark
  private val gen = new DashGen(env.seed)
  private val ns = gen.ns

  private var store: RoutedSeriesStore = _
  private var api: HttpApi = _
  private var port = 0
  private var writeS = 0.0

  /** Generate the store, write it, start the server and send the store's
    * first render and find (per-store lazy state: layout check, catalog).
    * Returns the set-up seconds. */
  def setup(): Double = {
    val t0 = System.nanoTime()
    val dir = env.work.resolve("dash")
    val g = gen
    val rows = spark.sparkContext.parallelize(0 until ns.size, 1).map { i =>
      Row(g.ns.name(i), g.ns.tags(i), T0, Step, g.values(i).toSeq)
    }
    val df = spark.createDataFrame(rows, graft.core.SeriesFrame.schema)
    val tw = System.nanoTime()
    RoutedSeriesStore.write(df, dir.toString, WindowSec)
    writeS = (System.nanoTime() - tw) / 1e9
    store = new RoutedSeriesStore(dir.toString, WindowSec, 1, Some(Step))
    api = new HttpApi(spark, store, port = 0)
    port = api.start()
    val c = Load.client()
    warmPaths(1).take(2).foreach(p => get(c, p))
    (System.nanoTime() - t0) / 1e9
  }

  private def get(c: java.net.http.HttpClient, path: String): Unit = {
    val (code, _, _) = Load.get(c, port, path)
    require(code == 200, s"warm-up $path answered $code")
  }

  /** A find, then every shape in three-target renders, then one request of
    * every metadata route. Renders use windows the timed stream never uses
    * (unaligned `from`), so no warm-up reply is ever cached for a timed
    * request. */
  private def warmPaths(salt: Int): Vector[String] = {
    val r = new scala.util.Random(env.seed * 31 + salt)
    val renders = Shapes.map(_.expr(ns, r)).grouped(3).map { ts =>
      "/render?" + ts.map(t => "target=" + java.net.URLEncoder.encode(t, UTF_8)).mkString("&") +
        s"&from=${T0 + 86400 + salt}&until=${T0 + 86400 + 6 * 3600}&format=json&maxDataPoints=500"
    }.toVector
    val metas = gen.requests(MetaEvery * MetaOrder.size).filterNot(_.isRender)
    val oneEach = metas.groupBy(_.route).values.map(_.head.path).toVector.sorted
    oneEach.take(1) ++ renders ++ oneEach.drop(1)
  }

  /** The warm-up pass, once per process, from all clients. */
  def warmAll(): Unit = {
    val paths = warmPaths(7)
    val c = Load.client()
    Load.parallel(env.clients, paths.size)(i => get(c, paths(i)))
  }

  private def stream(): Vector[DashReq] = gen.requests(env.seconds * 50 + 200)

  def run(): Outcome = {
    val reqs = stream()
    val c = Load.client()
    val t0 = System.nanoTime()
    val (replies, _) = Load.run(env.clients, reqs.size, t0 + env.seconds * 1000000000L) { i =>
      val s = System.nanoTime()
      val (code, body, cached) = Load.get(c, port, reqs(i).path)
      Reply(i, code, body, cached, s, System.nanoTime())
    }
    Main.log(s"timed phase: ${replies.size} replies")
    val verdicts = Load.parallel(env.clients, replies.size)(k => verify(reqs(replies(k).index), replies(k)))
    val renders = replies.filter(r => reqs(r.index).isRender)
    Load.drain()
    Main.log(s"checked: ${verdicts.count(!_)} failed; median ms by route: " +
      replies.groupBy(r => reqs(r.index).route).map { case (m, rs) => f"$m ${Stats.median(rs.map(_.ms))}%.0f (${rs.size})" }.mkString(", "))
    val heap = Probe.liveHeapMb()
    Outcome(
      attempted = replies.size, failed = verdicts.count(!_),
      wrong = verdicts.zip(replies).count { case (v, r) => !v && r.status == 200 && !r.cached },
      e2e = Seq(
        Metric("req_p50_ms", Stats.median(renders.map(_.ms)), "ms"),
        Metric("req_per_s", renders.size / ((replies.map(_.endNs).max - t0) / 1e9), "req/s"),
        Metric("heap_live_mb", heap, "MB")),
      samples = Map("req_p50_ms" -> renders.size, "req_per_s" -> renders.size),
      floors = Main.Floors, primaryMs = renders.map(_.ms),
      cacheHits = replies.count(_.cached))
  }

  // ------------------------------------------------------------- checks

  private def verify(q: DashReq, r: Reply): Boolean =
    r.status == 200 && !r.cached && (try {
      val got = Check.parse(r.body)
      if (!q.isRender) Check.same(got, Check.parse(expectedMeta(q)))
      else if (q.targets.forall(t => Shapes(t.shape).checkable)) sameSeries(got, expectedRender(q))
      else Check.same(got, Check.parse(inProcess(q)))
    } catch { case e: Exception => System.err.println(s"check ${q.path}: $e"); false })

  private def sameSeries(got: com.fasterxml.jackson.databind.JsonNode,
                         want: Seq[(String, Long, Long, Array[Double])]): Boolean =
    got.size == want.size && want.zipWithIndex.forall { case ((name, start, step, vs), i) =>
      val s = got.get(i)
      val dp = s.get("datapoints")
      s.get("target").asText == name && dp.size == vs.length &&
        vs.indices.forall { j =>
          val p = dp.get(j)
          p.get(1).asLong == start + j * step &&
            (if (vs(j).isNaN) p.get(0).isNull else !p.get(0).isNull && Check.close(p.get(0).asDouble, vs(j)))
        }
    }

  /** Expected series of an all-checkable render, from the generator. */
  private def expectedRender(q: DashReq): Seq[(String, Long, Long, Array[Double])] = {
    val lo = ((q.from - T0) / Step).toInt
    val hi = ((q.until - T0) / Step).toInt
    def vals(n: String) = gen.values(ns.index(n)).slice(lo, hi)
    def matching(g: String) = ns.names.filter(Check.globMatch(g, _)).sorted
    def pointwise(g: String, f: Array[Double] => Double) = {
      val vs = matching(g).map(vals)
      Array.tabulate(hi - lo)(j => f(vs.map(_(j)).toArray))
    }
    val raw = q.targets.flatMap { t =>
      val e = t.expr
      Shapes(t.shape).name match {
        case "sumSeries" => Seq(e -> pointwise(e.stripPrefix("sumSeries(").stripSuffix(")"), nanSum))
        case "averageSeries" => Seq(e -> pointwise(e.stripPrefix("averageSeries(").stripSuffix(")"), nanMean))
        case _ => matching(e).map(n => n -> vals(n))
      }
    }
    val n = hi - lo
    if (n <= q.mdp) raw.map { case (name, v) => (name, q.from, Step, v) }
    else {
      val vpp = math.ceil(n.toDouble / q.mdp).toInt
      raw.map { case (name, v) => (name, q.from, Step * vpp, v.grouped(vpp).map(nanMean).toArray) }
    }
  }

  private def nanSum(v: Array[Double]) = { val x = v.filterNot(_.isNaN); if (x.isEmpty) Double.NaN else x.sum }
  private def nanMean(v: Array[Double]) = { val x = v.filterNot(_.isNaN); if (x.isEmpty) Double.NaN else x.sum / x.length }

  private def quoted(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** A metadata request's decoded query parameters. */
  private def params(q: DashReq): Map[String, String] =
    java.net.URI.create("http://x" + q.path).getRawQuery.split("&").map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> java.net.URLDecoder.decode(v, UTF_8)
    }.toMap

  /** Expected metadata answer, from the namespace. */
  private def expectedMeta(q: DashReq): String = {
    val p = params(q)
    val tagKeys = Seq("dc", "host", "metric", "name", "role", "sub")
    q.route match {
      case "find" =>
        val g = p("query"); val d = g.count(_ == '.') + 1
        ns.names.map(_.split('.').take(d).mkString(".")).distinct.filter(Check.globMatch(g, _)).sorted
          .map { id =>
            val ac = if (d < 5) 1 else 0
            s"""{"allowChildren":$ac,"expandable":$ac,"leaf":${1 - ac},"id":"$id","text":"${id.split('.').last}","context":{}}"""
          }.mkString("[", ",", "]")
      case "expand" =>
        val g = p("query"); val d = g.count(_ == '.') + 1
        """{"results":""" + quoted(ns.names.map(_.split('.').take(d).mkString(".")).distinct
          .filter(Check.globMatch(g, _)).sorted) + "}"
      case "tags" =>
        val excl = p.get("expr").map(_.takeWhile(_ != '=')).toSet
        val keys = tagKeys.filter(k => k.startsWith(p.getOrElse("tagPrefix", "")) && !excl(k))
        quoted(p.get("limit").map(l => keys.take(l.toInt)).getOrElse(keys))
      case _ =>
        val level = Map("dc" -> ns.dcs, "role" -> ns.roles, "sub" -> ns.subs)(p("tag"))
        quoted(level.filter(_.startsWith(p.getOrElse("valuePrefix", ""))).sorted)
    }
  }

  /** The same request evaluated in-process, as `HttpApi.render` does. */
  private def inProcess(q: DashReq): Array[Byte] = {
    val (rows, errors) = Render.evalWithErrors(spark, store, q.targets.map(_.expr), q.from, q.until)
    require(errors.isEmpty, s"in-process evaluation failed: $errors")
    val cons = Render.consolidate(rows, q.mdp, Render.config.nudgeStartTimeOnAggregation,
      Render.config.useBucketsHighestTimestampOnAggregation)
    Render.formatBytes(cons, "json")._1
  }

  // ------------------------------------------------------------- traced

  /**
   * The traced replay: the same stream through each layer's public
   * functions, with spans around every call and a job tag per phase, then
   * the same request over HTTP, for `--seconds`. Before it the stream is
   * served untraced for half that, the tracing-overhead baseline.
   */
  def traced(tr: Tracer, ls: OpListener): Outcome = {
    val reqs = stream()
    val phase = env.seconds * 1000000000L
    val c = Load.client()
    val rddsBase = Probe.persistedRdds(spark)
    val t0 = System.nanoTime()
    val (untraced, offset) = Load.run(env.clients, reqs.size, t0 + phase / 2) { i =>
      val s = System.nanoTime()
      val (code, body, cached) = Load.get(c, port, reqs(i).path)
      Reply(i, code, body, cached, s, System.nanoTime())
    }
    Load.drain()
    val gc0 = Probe.driverGcMs()
    val stats = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Int, Int)]()
    val httpMs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Double]()
    val t1 = System.nanoTime()
    val (traced, _) = Load.run(env.clients, reqs.size - offset, t1 + phase) { j =>
      val i = offset + j
      val q = reqs(i)
      val op = i.toLong
      // HTTP first on even ops, in-process first on odd ones, so neither
      // side gets the other's warm caches in the api.http_ms difference
      def service(): (Array[Byte], Double) = {
        val s = System.nanoTime()
        val out = tr.request(op, "op")(tr.span("service") {
          if (q.isRender) tracedRender(tr, op, q, stats) else tracedMeta(tr, op, q)
        })
        (out, (System.nanoTime() - s) / 1e6)
      }
      def http(): (Int, Array[Byte], Boolean, Long, Long) = {
        val h0 = System.nanoTime()
        val (code, body, cached) = Load.get(c, port, q.path)
        (code, body, cached, h0, System.nanoTime())
      }
      val ((mineBody, svcMs), (code, body, cached, h0, h1)) =
        if (op % 2 == 0) { val h = http(); (service(), h) } else { val m = service(); (m, http()) }
      httpMs.put(op, (h1 - h0) / 1e6 - svcMs)
      val ok = code == 200 && Check.same(Check.parse(body), Check.parse(mineBody))
      Reply(i, if (ok) code else -2, Array.emptyByteArray, cached, h0, h1)
    }
    Load.drain()
    val gcMs = Probe.driverGcMs() - gc0
    val self = tr.selfTimes
    val renderOps = traced.filter(r => reqs(r.index).isRender).map(_.index.toLong)
    val metaOps = traced.filterNot(r => reqs(r.index).isRender).map(_.index.toLong)
    def med(ops: Seq[Long], names: String*): Double =
      if (ops.isEmpty) 0.0 else Stats.median(ops.map(o => names.map(n => self.getOrElse((o, n), 0.0)).sum))
    def cnt(ops: Seq[Long], phases: Seq[String], f: OpListener#Counts => Long): Double =
      if (ops.isEmpty) 0.0
      else ops.map(o => phases.flatMap(p => ls.get(OpListener.tag(o, p))).map(f).sum).sum.toDouble / ops.size
    val all = Seq("build", "exec", "catalog")
    val blocking = Seq("parser.parse", "engine.build", "spark.analyze", "spark.optimize", "spark.plan",
      "spark.exec", "engine.release", "api.consolidate", "api.serialize")
    val accounted = Stats.median(renderOps.map(o =>
      blocking.map(n => self.getOrElse((o, n), 0.0)).sum + httpMs.get(o)))
    val untracedP50 = Stats.median(untraced.filter(r => reqs(r.index).isRender).map(_.ms))
    val tracedP50 = Stats.median(traced.filter(r => reqs(r.index).isRender).map(_.ms))
    val st = renderOps.flatMap(o => Option(stats.get(o)))
    val layer = Seq(
      Metric("parser.parse_ms", med(renderOps, "parser.parse"), "ms"),
      Metric("engine.build_ms", med(renderOps, "engine.build"), "ms"),
      Metric("engine.build_jobs", cnt(renderOps, Seq("build"), _.jobs.get), "count"),
      Metric("engine.release_ms", med(renderOps, "engine.release"), "ms"),
      Metric("spark.analyze_ms", med(renderOps, "spark.analyze"), "ms"),
      Metric("spark.optimize_ms", med(renderOps, "spark.optimize"), "ms"),
      Metric("spark.plan_ms", med(renderOps, "spark.plan"), "ms"),
      Metric("spark.exec_ms", med(renderOps, "spark.exec"), "ms"),
      Metric("spark.jobs", cnt(renderOps, all, _.jobs.get), "count"),
      Metric("spark.stages", cnt(renderOps, all, _.stages.get), "count"),
      Metric("spark.tasks", cnt(renderOps, all, _.tasks.get), "count"),
      Metric("spark.sched_delay_ms", cnt(renderOps, all, _.schedDelayMs.get), "ms"),
      Metric("spark.input_mb", cnt(renderOps, all, _.inputBytes.get) / 1048576.0, "MB"),
      Metric("spark.shuffle_mb", cnt(renderOps, all, _.shuffleBytes.get) / 1048576.0, "MB"),
      Metric("spark.spill_mb", cnt(renderOps, all, _.spillBytes.get) / 1048576.0, "MB"),
      Metric("spark.gc_ms", cnt(renderOps, all, _.gcMs.get) + gcMs.toDouble / math.max(1, traced.size), "ms"),
      Metric("store.write_s", writeS, "s"),
      Metric("store.files_read", if (st.isEmpty) 0.0 else st.map(_._1).sum.toDouble / st.size, "count"),
      Metric("store.scan_rows_per_result",
        if (st.isEmpty) 0.0 else st.map(_._2).sum.toDouble / math.max(1, st.map(_._3).sum), "ratio"),
      Metric("api.http_ms", Stats.median(renderOps.map(o => httpMs.get(o).doubleValue)), "ms"),
      Metric("api.consolidate_ms", med(renderOps, "api.consolidate"), "ms"),
      Metric("api.serialize_ms", med(renderOps, "api.serialize"), "ms"),
      Metric("api.response_kb", if (st.isEmpty) 0.0 else st.map(_._4).sum / 1024.0 / st.size, "KB"),
      Metric("api.catalog_ms", med(metaOps, "api.catalog"), "ms"),
      Metric("api.cache_hits", (untraced ++ traced).count(_.cached).toDouble, "count"),
      Metric("trace.untraced_p50_ms", untracedP50, "ms"),
      Metric("trace.traced_p50_ms", tracedP50, "ms"),
      Metric("trace.overhead_ms", tracedP50 - untracedP50, "ms"),
      Metric("trace.accounted_ms", accounted, "ms"),
      Metric("spark.persisted_rdds_delta", (Probe.persistedRdds(spark) - rddsBase).toDouble, "count"),
      Metric("spark.storage_mb_end", Probe.storageMb(spark), "MB"))
    val failed = (untraced ++ traced).count(r => r.status != 200 || r.cached)
    Outcome(attempted = untraced.size + traced.size, failed = failed,
      wrong = traced.count(_.status == -2), e2e = Nil, layer = layer,
      samples = Map("traced_renders" -> renderOps.size, "traced_metas" -> metaOps.size,
        "untraced_renders" -> untraced.count(r => reqs(r.index).isRender)),
      floors = Map("traced_renders" -> 4), cacheHits = (untraced ++ traced).count(_.cached))
  }

  /** `HttpApi.render`'s call sequence, one span per layer call. Records
    * (files read, scan rows, series returned, response bytes) for the op. */
  private def tracedRender(tr: Tracer, op: Long, q: DashReq,
                           stats: java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Int, Int)]): Array[Byte] = {
    val asts = tr.span("parser.parse")(q.targets.map(t => Defines.expand(Parser.parse(t.expr))))
    val base = Eval.Ctx(spark, store, q.from, q.until)
    var files = 0L; var scanned = 0L
    val rows = base.tracked {
      try {
        tr.span("engine.build")(OpListener.tagged(spark, OpListener.tag(op, "build"))(
          base.prefetch(asts.flatMap(Eval.fetchLeaves))))
        asts.flatMap { a =>
          val ctx = base.copy(fetchErrors = Some(scala.collection.mutable.LinkedHashMap.empty))
          val df = tr.span("engine.build")(OpListener.tagged(spark, OpListener.tag(op, "build"))(Eval.eval(a, ctx)))
          OpListener.tagged(spark, OpListener.tag(op, "exec")) {
            Probe.plan(tr, df)
            val out = tr.span("spark.exec")(Render.collect(df))
            val (f, n) = Probe.scanStats(df)
            files += f; scanned += n
            out
          }
        }
      } finally tr.span("engine.release")(base.release())
    }
    val cons = tr.span("api.consolidate")(Render.consolidate(rows, q.mdp,
      Render.config.nudgeStartTimeOnAggregation, Render.config.useBucketsHighestTimestampOnAggregation))
    val body = tr.span("api.serialize")(Render.formatBytes(cons, "json")._1)
    stats.put(op, (files, scanned, rows.size, body.length))
    body
  }

  private def tracedMeta(tr: Tracer, op: Long, q: DashReq): Array[Byte] = {
    val p = params(q)
    val out = tr.span("api.catalog")(OpListener.tagged(spark, OpListener.tag(op, "catalog")) {
      q.route match {
        case "find" => Catalog.treeJson(Catalog.find(spark, store, p("query"), 10L))
        case "expand" => """{"results":""" + quoted(Catalog.expand(spark, store, p("query"), 10L)) + "}"
        case "tags" => quoted(Catalog.tagNames(spark, store, p.getOrElse("tagPrefix", ""),
          p.get("limit").map(_.toInt).getOrElse(Int.MaxValue), p.get("expr").toSeq))
        case _ => quoted(Catalog.tagValues(spark, store, p("tag"), p.getOrElse("valuePrefix", ""),
          Int.MaxValue, p.get("expr").toSeq))
      }
    })
    out.getBytes(UTF_8)
  }

  def close(): Unit = if (api != null) api.stop()
}
