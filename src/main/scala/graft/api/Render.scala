package graft.api

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.core.{Glob, Kernels, Scope}
import graft.engine.Eval
import graft.store.SeriesStore
import graft.api.Serve.quote

/** One collected series, post-evaluation (driver-side marshalling unit —
  * same place the reference marshals, after its single-goroutine eval). */
case class RenderedSeries(
    name: String,
    tags: Map[String, String],
    pathExpression: String,
    start: Long,
    step: Long,
    values: Array[Double]) {
  def stop: Long = start + values.length * step
}

/**
 * The /render surface: evaluate targets, collect, glob-order sort,
 * maxDataPoints consolidation, and the reference's wire formats
 * (json / csv / raw). [[evalWithErrors]] is the one evaluation entry
 * point — `HttpApi` and the serving benchmark both call it, then
 * [[consolidate]] and [[formatBytes]]. One collect per target, plus
 * whatever build-time actions its operators run (name and count
 * collects); everything after the collects is O(output), exactly like the
 * reference's marshal layer. JSON strings go through [[Serve.quote]],
 * the one escaper every route shares.
 */
object Render {

  /**
   * Per-target evaluation with the reference's error bookkeeping
   * (ref render_handler.go:313-335): store fetch failures are masked into
   * empty series lists inside the eval (so sibling targets and sibling
   * arguments still evaluate — divideSeries(a,failed) yields the MISSING
   * series) and recorded per target. With `requireSuccessAll` the loop
   * stops at the first target whose failure is not a plain not-found.
   * Parse/argument errors are NOT masked — they throw, and the HTTP tier
   * maps them to 400 for the whole request. ONE request-scoped context
   * spans every target, so the batched leaf prefetch (and the fetch memo)
   * is shared across targets — a 10-panel dashboard reads the store once,
   * not 10 times — and one [[graft.core.Scope]] owns the request's pins,
   * releasing them after the last collect.
   */
  def evalWithErrors(spark: SparkSession, store: SeriesStore, targets: Seq[String],
                     from: Long, until: Long, requireSuccessAll: Boolean = false)
      : (Seq[RenderedSeries], Seq[(String, graft.store.StoreFetchException)]) = {
    val errors = Seq.newBuilder[(String, graft.store.StoreFetchException)]
    val rows = Seq.newBuilder[RenderedSeries]
    // one base context spans the request: the batched prefetch and fetch
    // memo are shared, each target gets its own error sink via copy (the
    // memo is a constructor param, so copies share it; one scope owns the
    // request's pins).
    // A target that fails to PARSE contributes no leaves here — the parse
    // error surfaces on its own target below, exactly as before.
    val base = Eval.Ctx(spark, store, from, until)
    Scope { _ =>
      base.prefetch(targets.flatMap(t =>
        try Eval.fetchLeaves(graft.parser.Defines.expand(graft.parser.Parser.parse(t)))
        catch { case scala.util.control.NonFatal(_) => Nil }))
      val it = targets.iterator
      var stop = false
      while (it.hasNext && !stop) {
        val t = it.next()
        val sink = scala.collection.mutable.LinkedHashMap.empty[String, graft.store.StoreFetchException]
        val ctx = base.copy(fetchErrors = Some(sink))
        def evalOnce(): Unit =
          rows ++= collect(Eval.eval(graft.parser.Defines.expand(
            graft.parser.Parser.parse(t)), ctx))
        try evalOnce()
        catch {
          // a fetch failure surfacing outside the masked path (rewrite
          // planning, seriesByTag scans, a poisoned shared batch) fails
          // this target only. An ACTION-time store failure arrives
          // wrapped in SparkException layers — unwrap the cause chain
          case NonFatal(e0) if storeCause(e0).isDefined =>
            // the failure may live inside the ONE shared prefetch scan
            // (action-time errors bypass fetch()-time masking, and the
            // persisted batch materializes whole on its first action, so
            // it would fail EVERY target). Drop the batch memo entries
            // once and retry this target per-pattern: masking then
            // isolates the failure to the patterns (and targets) that
            // actually touch the failing data, restoring the pre-batching
            // blast radius at the cost of per-pattern scans for the
            // remainder of this request
            if (base.dropPrefetch()) {
              try evalOnce()
              catch {
                case NonFatal(r0) if storeCause(r0).isDefined =>
                  sink.getOrElseUpdate(t, storeCause(r0).get)
              }
            } else sink.getOrElseUpdate(t, storeCause(e0).get)
        }
        sink.headOption.foreach { case (_, e) =>
          errors += t -> e
          if (requireSuccessAll && e.httpCode != 200 && e.httpCode != 404) stop = true
        }
      }
    }
    (rows.result(), errors.result())
  }

  /** The [[graft.store.StoreFetchException]] in `e`'s cause chain, if
    * any — a store failure raised inside a Spark task reaches the driver
    * wrapped (SparkException, sometimes several layers); a driver-side
    * one is the exception itself. Bounded walk guards cause cycles. */
  private def storeCause(e: Throwable): Option[graft.store.StoreFetchException] = {
    var c: Throwable = e
    var hops = 0
    while (c != null && hops < 16) {
      c match {
        case s: graft.store.StoreFetchException => return Some(s)
        case _ => ()
      }
      c = c.getCause
      hops += 1
    }
    None
  }

  /**
   * The reference's error-code merge for multi-target failures
   * (ref zipper/helper/errors.go:59-121 MergeHttpErrorMap + recalcCode):
   * plain 404s are skipped, gateway errors collapse to 503, 400 dominates
   * other 4xx, then 403, otherwise the lowest code wins; the default with
   * nothing but 404s is 404. Returns (code, "target: message" lines).
   */
  def mergeHttpErrors(errors: Seq[(String, graft.store.StoreFetchException)]): (Int, Seq[String]) = {
    var code = 404
    val msgs = Seq.newBuilder[String]
    errors.foreach { case (target, e) =>
      var c = e.httpCode
      if (c != 404) {
        if (c == 502 || c == 504) c = 503
        msgs += s"$target: ${e.getMessage}"
        code =
          if (code == 0 || code == 404) c
          else if (c >= 400 && c < 500 && code >= 400 && code < 500 &&
                   (c == 400 || (c == 403 && code != 400))) c
          else math.min(code, c)
      }
    }
    (code, msgs.result())
  }

  def collect(df: DataFrame): Seq[RenderedSeries] = {
    val cols = df.columns
    val hasPath = cols.contains("pathExpression")
    // a sortBy*-style function imposed its own series order — keep the
    // collected order; the implicit glob-order sort applies only to
    // fetch-ordered results (ref expr/sort.go sorts at fetch, function
    // output order flows through untouched)
    val presorted = cols.contains(graft.engine.SeriesOps.PresortedCol)
    val rows = df.collect().toSeq.map { r =>
      RenderedSeries(
        name = r.getAs[String]("name"),
        tags = Option(r.getAs[Map[String, String]]("tags")).getOrElse(Map.empty),
        // generators unioned into a fetch (group(metric, constantLine(5)))
        // carry a NULL pathExpression — fall back to the name
        pathExpression = Option(if (hasPath) r.getAs[String]("pathExpression") else null)
          .getOrElse(r.getAs[String]("name")),
        start = r.getAs[Long]("start"),
        step = r.getAs[Long]("step"),
        values = r.getAs[scala.collection.Seq[Double]]("values").toArray)
    }
    if (presorted) rows else sortByGlobOrder(rows)
  }

  /**
   * Stable glob-order sort: series produced by the same path expression sort
   * by the glob's per-segment match order (alphabetic within a `*`/`[]`
   * segment, LISTED order within `{a,b}` braces), and the overall result
   * keeps target order. (ref expr/sort.go:121-180)
   */
  def sortByGlobOrder(rows: Seq[RenderedSeries]): Seq[RenderedSeries] = {
    rows.groupBy(_.pathExpression).toSeq match {
      case single :: Nil => sortWithinGlob(single._2)
      case _ =>
        // preserve first-appearance order of path expressions
        val order = rows.map(_.pathExpression).distinct.zipWithIndex.toMap
        rows.groupBy(_.pathExpression).toSeq
          .sortBy { case (pe, _) => order(pe) }
          .flatMap { case (_, group) => sortWithinGlob(group) }
    }
  }

  private def sortWithinGlob(group: Seq[RenderedSeries]): Seq[RenderedSeries] = {
    val pe = group.headOption.map(_.pathExpression).getOrElse("")
    if (!pe.contains('{')) return group.sortBy(_.name)
    // brace-order: rank each name by the index of the brace alternative it
    // matched, segment by segment; alphabetic inside non-brace segments
    val peSegs = pe.split('.')
    def key(name: String): Seq[String] = {
      val nSegs = name.split('.')
      nSegs.zipWithIndex.map { case (seg, i) =>
        if (i < peSegs.length && peSegs(i).contains('{')) {
          val body = peSegs(i)
          val alts = body.substring(body.indexOf('{') + 1, body.indexOf('}')).split(',')
          val idx = alts.indexWhere(a => seg == body.replaceAll("\\{.*\\}", a))
          f"${if (idx < 0) alts.length else idx}%04d"
        } else seg
      }.toSeq
    }
    group.sortBy(s => key(s.name).mkString("."))(Ordering.String)
  }

  // ------------------------------------------------- maxDataPoints

  /** Process-level render config mirroring the reference's
    * `config.Config.{NudgeStartTimeOnAggregation,
    * UseBucketsHighestTimestampOnAggregation}` (ref expr/types/config;
    * both default false there too). Set once at startup, read by the
    * /render handler for every request. */
  case class RenderConfig(nudgeStartTimeOnAggregation: Boolean = false,
                          useBucketsHighestTimestampOnAggregation: Boolean = false)
  @volatile var config: RenderConfig = RenderConfig(
    sys.props.get("graft.render.nudgeStartTimeOnAggregation").exists(_.toBoolean),
    sys.props.get("graft.render.useBucketsHighestTimestampOnAggregation").exists(_.toBoolean))

  /**
   * maxDataPoints consolidation: if a series has more than maxDataPoints
   * points over the shared time range, collapse each ceil(n/max) run with
   * the series' consolidation function (tag `consolidateBy`, default
   * average). (ref ConsolidateJSON expr/types/types.go:87-117 +
   * AggregateValues types.go:410-436; nudge flags default-off)
   */
  def consolidate(rows: Seq[RenderedSeries], maxDataPoints: Long,
                  nudgeStartTime: Boolean = false,
                  useBucketHighestTs: Boolean = false): Seq[RenderedSeries] = {
    if (rows.isEmpty || maxDataPoints <= 0) return rows
    val startTime = rows.map(_.start).min
    val endTime = rows.map(_.stop).max
    val timeRange = endTime - startTime
    if (timeRange <= 0) return rows
    rows.map { r =>
      val nPoints = math.floor(timeRange.toDouble / r.step)
      if (nPoints <= maxDataPoints) r
      else {
        val vpp = math.ceil(nPoints / maxDataPoints).toInt
        val fn = Kernels.byName(
          r.tags.get("consolidateBy").map(_.stripPrefix("'").stripSuffix("'")).getOrElse("average"))
        // NudgeStartTimeOnAggregation: discard leading points so aggregated
        // buckets start on a (ts - step) % aggStep == 0 boundary — bucket
        // assignment then stays stable as the request window slides
        // (ref types.go:344-385; both flags default off like the reference)
        val aggStep = r.step * vpp
        val nudge =
          if (!nudgeStartTime || r.values.length <= 2 * vpp) 0L
          else {
            val dist = aggStep - ((r.start - r.step) % aggStep)
            if (dist < aggStep) dist / r.step else 0L
          }
        val out = r.values.drop(nudge.toInt).grouped(vpp).map(fn).toArray
        val start0 = r.start + nudge * r.step
        r.copy(values = out, step = aggStep,
          start = if (useBucketHighestTs) start0 + aggStep - r.step else start0)
      }
    }
  }

  // ------------------------------------------------------- formats

  private def fmtDouble(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** Graphite JSON: [{"target":…,"datapoints":[[v|null,ts],…],"tags":{…}}].
    * `tsMul` scales timestamps for timestampFormat=ms/us/ns
    * (ref MarshalJSON expr/types/types.go:120-198; multiplier
    * render_handler.go:130-149). */
  def json(rows: Seq[RenderedSeries], noNullPoints: Boolean = false,
           tsMul: Long = 1): String = {
    val sb = new StringBuilder("[")
    var first = true
    rows.foreach { r =>
      if (!first) sb += ','
      first = false
      sb ++= "{\"target\":" ++= quote(r.name) ++= ",\"datapoints\":["
      var inner = false
      var t = r.start
      r.values.foreach { v =>
        if (noNullPoints && Kernels.isNaN(v)) t += r.step
        else {
          if (inner) sb += ','
          inner = true
          sb += '['
          if (Kernels.isNaN(v) || v.isInfinite) sb ++= "null" else sb ++= fmtDouble(v)
          sb += ',' ++= (t * tsMul).toString += ']'
          t += r.step
        }
      }
      sb ++= "],\"tags\":{"
      sb ++= r.tags.toSeq.sortBy(_._1).map { case (k, v) => quote(k) + ":" + quote(v) }.mkString(",")
      sb ++= "}}"
    }
    (sb += ']').toString
  }

  /** CSV: "name",YYYY-MM-DD HH:MM:SS,value (empty value for NaN).
    * (ref MarshalCSV types.go:48-86) */
  def csv(rows: Seq[RenderedSeries]): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    val sb = new StringBuilder
    rows.foreach { r =>
      var t = r.start
      r.values.foreach { v =>
        sb += '"' ++= r.name ++= "\","
        sb ++= fmt.format(java.time.Instant.ofEpochSecond(t)) += ','
        if (!Kernels.isNaN(v)) sb ++= fmtDouble(v)
        sb += '\n'
        t += r.step
      }
    }
    sb.toString
  }

  /** raw: name,start,stop,step|v1,v2,… (None for NaN).
    * (ref MarshalRaw types.go:282-320) */
  def raw(rows: Seq[RenderedSeries]): String = {
    val sb = new StringBuilder
    rows.foreach { r =>
      sb ++= r.name += ',' ++= r.start.toString += ',' ++= r.stop.toString += ',' ++= r.step.toString += '|'
      sb ++= r.values.map(v => if (Kernels.isNaN(v)) "None" else fmtDouble(v)).mkString(",")
      sb += '\n'
    }
    sb.toString
  }

  /** Marshal pre-evaluated rows in any supported /render format. */
  def formatBytes(rows: Seq[RenderedSeries], format: String,
                  noNullPoints: Boolean = false,
                  tz: java.time.ZoneId = java.time.ZoneOffset.UTC,
                  graphParams: Map[String, Seq[String]] = Map.empty): (Array[Byte], String) = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def gp(k: String): Option[String] = graphParams.get(k).flatMap(_.headOption).filter(_.nonEmpty)
    // timestampFormat: s | ms | us | ns (ref render_handler.go:130-149)
    val tsMul = gp("timestampFormat").map(_.toLowerCase).getOrElse("s") match {
      case "s" => 1L
      case "ms" | "millisecond" | "milliseconds" => 1000L
      case "us" | "microsecond" | "microseconds" => 1000000L
      case "ns" | "nanosecond" | "nanoseconds" => 1000000000L
      case other => throw new IllegalArgumentException(
        s"unsupported timestamp format $other, supported: 's', 'ms', 'us', 'ns'")
    }
    format match {
      case "json" =>
        // jsonp wraps the body in callback(...) (ref render_handler.go:125-128,398)
        gp("jsonp") match {
          case Some(cb) =>
            ((cb + "(" + json(rows, noNullPoints, tsMul) + ")").getBytes(utf8), "text/javascript")
          case None => (json(rows, noNullPoints, tsMul).getBytes(utf8), "application/json")
        }
      case "csv"  => (csv(rows).getBytes(utf8), "text/csv")
      case "raw"  => (raw(rows).getBytes(utf8), "text/plain")
      case "pickle" => (WireFormats.pickle(rows), "application/pickle")
      // knownFormats quirk: "protobuf3" is the V2 wire form; only
      // "carbonapi_v3_pb" selects v3 (ref http/helper.go:123-136)
      case "carbonapi_v3_pb" =>
        (WireFormats.protobufV3(rows), "application/x-protobuf")
      case "protobuf" | "protobuf3" | "carbonapi_v2_pb" =>
        (WireFormats.protobufV2(rows), "application/x-protobuf")
      case "png" =>
        (Graph.png(rows, Graph.paramsFrom(graphParams, rows.size).copy(tz = tz)), "image/png")
      case "svg" =>
        (Graph.svg(rows, Graph.paramsFrom(graphParams, rows.size).copy(tz = tz)), "image/svg+xml")
      case other  => throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }
}
