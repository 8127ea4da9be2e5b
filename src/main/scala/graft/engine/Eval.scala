package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Kernels
import graft.parser.{Ast, BoolLit, FuncCall, Interval, NameExpr, Num, Parser, Str}
import graft.store.SeriesStore

/**
 * The expression→DataFrame compiler: walks the parsed target bottom-up and
 * emits transformations over the series store scan. This replaces the
 * reference's tree-walking interpreter (ref expr/expr.go:163-214) — here the
 * "evaluation" only BUILDS a logical plan; Catalyst optimizes it and the
 * target's collect executes it. Operators whose plan depends on the data
 * (name and count collects) run their own small actions while building.
 *
 * Fetch-range widening (the reference's `expr.Metrics()` pre-pass,
 * ref pkg/parser/parser.go:155-330) is handled in-line: window functions
 * evaluate their series argument against a widened [from,until) before
 * re-stamping output to the requested range.
 */
object Eval {

  /** `fetchMemo` is per-request fetch dedup, mirroring the reference's
    * MultiFetchRequest coalescing (ref expr/expr.go:72-92): the same
    * glob+range appearing in several argument positions shares ONE
    * DataFrame (one scan subtree). A constructor param so `copy` (incl.
    * widen) shares the map; the range in the key keeps widened fetches
    * distinct. */
  case class Ctx(spark: SparkSession, store: SeriesStore, from: Long, until: Long,
                 fetchMemo: scala.collection.mutable.Map[(String, Long, Long), DataFrame] =
                   scala.collection.mutable.Map.empty,
                 fetchErrors: Option[scala.collection.mutable.Map[String, graft.store.StoreFetchException]] = None,
                 prefetched: scala.collection.mutable.ArrayBuffer[(String, Long, Long)] =
                   scala.collection.mutable.ArrayBuffer.empty) {
    def widen(by: Long): Ctx = copy(from = from - by)

    /** For a caller that drives the evaluator itself and brackets a
      * request with `tracked { … }` then `release()`: `tracked` installs
      * this context's own [[graft.core.Scope]] as the thread's current
      * scope and `release` closes it. [[graft.api.Render]] opens its own
      * scope instead. */
    private lazy val own = graft.core.Scope.open()
    def tracked[T](body: => T): T = graft.core.Scope.within(own)(body)
    def release(): Unit = own.close()

    /** Store fetch with the render tier's error masking: when an error sink
      * is installed, a failed fetch records its error and contributes an
      * EMPTY series list instead of aborting the target — the reference's
      * per-request fetch behavior (failed backends yield no data, the error
      * rides the response-code logic; ref expr.FetchAndEvalExp). Without a
      * sink (direct engine use) the failure propagates.
      *
      * The fetched frame is NOT pinned: most requests read it in exactly
      * one action (the target's collect), and a persist there only adds a
      * cache-building job. The reference fetches into per-request memory
      * once (ref expr/expr.go:30-125); here the frames a SECOND action
      * reads are pinned where that second action arises — the batched
      * [[prefetch]], and operators that run a build-time action on their
      * input and then return a plan over it (name/count collects, tukey's
      * quartiles, asPercent's total count) — through [[Eval.pin]]. */
    def fetch(pathExpr: String): DataFrame =
      fetchMemo.getOrElseUpdate((pathExpr, from, until),
        try store.fetch(spark, pathExpr, from, until)
        catch {
          case e: graft.store.StoreFetchException if fetchErrors.isDefined =>
            fetchErrors.get.getOrElseUpdate(pathExpr, e)
            emptyFrame(spark)
        })

    /**
     * Batch-prefetch a request's plain fetch leaves into ONE store scan —
     * the reference batches all of a request's leaves into one zipper
     * round-trip (ref expr/expr.go:36-96); per-pattern scans cost k
     * parquet scans per request instead (measured 5.9–7.0× slower at 10
     * targets on the routed/flat layouts — BASELINE.md r10 "multi-target
     * scan batching"). The batched frame is pinned request-scoped (each
     * target's collect reads it) and each leaf's memo entry is a
     * pathExpression view of it, so [[fetch]] serves from memory. Cold
     * stores only: a batch that reads no files (the event fixture's cached
     * frame, an in-memory test store) is skipped, its per-pattern fetch is
     * already a memory filter; leaves later fetched at a SHIFTED range
     * (timeShift/moving widen) miss the memo by key and fetch normally.
     * Any prefetch failure falls back silently to per-pattern fetching,
     * keeping error masking on the per-pattern path; an ACTION-time store
     * failure inside the shared batch is handled by evalWithErrors via
     * [[dropPrefetch]] + per-target retry, so the per-pattern isolation
     * contract survives batching. Call inside the request's
     * [[graft.core.Scope]], so the pin registers with it.
     *
     * Concurrency decision (r11): the batch is REQUEST-scoped on
     * purpose — two concurrent renders over the same store+window each
     * materialize their own batch rather than sharing one. Sharing would
     * need cross-request refcounting of the pin (the request's scope
     * drops exactly what this request created) and a (store, patterns,
     * range) cache key whose hit rate is low outside same-window
     * dashboard bursts; the metadata path, where racing requests DO
     * collide constantly, already shares via the Catalog TTL cache. The
     * cost is one extra scan per racing request, bounded by the request
     * count; the gate is StoreSpec's 12-way racing-render spec (correct
     * results, zero leaked pins).
     */
    def prefetch(patterns: Seq[String]): Unit = {
      val todo = patterns.distinct.filterNot(p =>
        p.startsWith("seriesByTag(") || fetchMemo.contains((p, from, until)))
      if (todo.size < 2) return
      try {
        val batch = store.fetchMulti(spark, todo, from, until)
        if (readsFiles(batch)) {
          val batched = Eval.pin(batch)
          todo.foreach { p =>
            val key = (p, from, until)
            fetchMemo(key) = batched.where(col("pathExpression") === lit(p))
            prefetched += key
          }
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }

    /** Drop every batched-prefetch memo entry so later fetches go back to
      * the per-pattern path — the isolation fallback [[graft.api.Render]]
      * evalWithErrors takes when an ACTION-time store failure surfaces
      * inside the one shared batch scan (which would otherwise poison
      * every target of the request, where per-pattern fetches confine the
      * failure to targets referencing the failing pattern). Returns
      * whether there was a prefetch to drop, i.e. whether a retry can
      * behave differently. The poisoned batch pin stays with the request's
      * scope — nothing references it again and the scope drops it. */
    def dropPrefetch(): Boolean = {
      if (prefetched.isEmpty) false
      else {
        prefetched.foreach(fetchMemo.remove)
        prefetched.clear()
        true
      }
    }
  }

  /** Pin `df` for the rest of the active request: for a frame that a
    * second Spark action reads — an operator that collects names or
    * counts from its input at build time and then returns a plan over
    * that same input, or the batched prefetch every target reads. The
    * persist registers with the thread's current [[graft.core.Scope]],
    * which releases it. Returns `df` unchanged when it already serves
    * from memory — the event fixture's fetch, or a view of a frame
    * already pinned — and outside an open scope (nothing would release the
    * pin; the second action recomputes instead). */
  private[graft] def pin(df: DataFrame): DataFrame =
    if (graft.core.Scope.current.isDefined && readsFiles(df)) graft.core.Scope.persist(df)
    else df

  /** Whether a second action over `df` would scan files again: some leaf
    * of its cache-substituted plan is a file relation rather than cached
    * data, a checkpoint or a local relation. */
  private def readsFiles(df: DataFrame): Boolean =
    df.queryExecution.withCachedData.exists {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _ => false
    }

  def evalTarget(spark: SparkSession, store: SeriesStore, target: String,
                 from: Long = Long.MinValue / 4, until: Long = Long.MaxValue / 4): DataFrame = {
    val ast = graft.parser.Defines.expand(Parser.parse(target))
    val ctx = Ctx(spark, store, from, until)
    ctx.prefetch(fetchLeaves(ast))
    eval(ast, ctx)
  }

  /** Plain fetch leaves of an AST — the patterns a request pulls at the
    * request range. Over-collection is safe: a leaf only ever fetched at a
    * shifted range (or a rewrite template never fetched literally) just
    * adds one matcher to the batched scan that tags nothing. */
  def fetchLeaves(ast: Ast): Seq[String] = ast match {
    case NameExpr(t) if !t.startsWith("seriesByTag(") => Seq(t)
    case fc: FuncCall =>
      (fc.args ++ fc.named.values).flatMap(fetchLeaves).distinct
    case _ => Nil
  }

  /** Empty canonical frame (for rewrites that match nothing). */
  def emptyFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      graft.core.SeriesFrame.schema)

  def eval(ast: Ast, ctx: Ctx): DataFrame = ast match {
    case graft.parser.FrameExpr(df, _) => df
    case NameExpr(t) if t.startsWith("seriesByTag(") => RewriteOps.seriesByTag(ctx, t)
    case NameExpr(t) => ctx.fetch(t)
    case fc: FuncCall =>
      registry.getOrElse(fc.name,
        throw new IllegalArgumentException(s"unsupported function: ${fc.name}")).apply(ctx, fc)
    // a bare constant target: one point spanning the request range
    // (ref expr/expr.go:166-177)
    case Num(v) =>
      val sp = ctx.spark
      import sp.implicits._
      val name = Num(v).print
      val (from, until) =
        if (ctx.from > Long.MinValue / 8) (ctx.from, ctx.until) else (0L, 3600L)
      Seq(graft.core.Series(name, Map("name" -> name), from,
        math.max(until - from, 1L), Array(v))).toDF()
    case other => throw new IllegalArgumentException(s"cannot evaluate $other as a series")
  }

  // ------------------------------------------------------ argument helpers

  private def arg(fc: FuncCall, i: Int, name: String = ""): Option[Ast] =
    if (name.nonEmpty && fc.named.contains(name)) fc.named.get(name)
    else if (i < fc.args.length) Some(fc.args(i))
    else None

  private def seriesArg(ctx: Ctx, fc: FuncCall, i: Int = 0): DataFrame =
    eval(arg(fc, i).getOrElse(throw new IllegalArgumentException(s"${fc.name}: missing series arg $i")), ctx)

  private def numArg(fc: FuncCall, i: Int, name: String = "", default: Option[Double] = None): Double =
    arg(fc, i, name) match {
      case Some(Num(v)) => v
      // bare or quoted `inf` (any case) — ref pkg/parser/internal.go
      // doGetIntOrInfArg, used by keepLastValue/interpolate limits
      case Some(NameExpr(s)) if s.equalsIgnoreCase("inf") => Double.PositiveInfinity
      case Some(Str(s)) if s.equalsIgnoreCase("inf") => Double.PositiveInfinity
      case Some(Str(s)) => s.toDouble
      case None => default.getOrElse(throw new IllegalArgumentException(s"${fc.name}: missing numeric arg $i"))
      case Some(other) => throw new IllegalArgumentException(s"${fc.name}: bad numeric arg $other")
    }

  private def intArg(fc: FuncCall, i: Int, name: String = "", default: Option[Int] = None): Int =
    numArg(fc, i, name, default.map(_.toDouble)).toInt

  private def strArg(fc: FuncCall, i: Int, name: String = "", default: Option[String] = None): String =
    arg(fc, i, name) match {
      case Some(Str(s)) => s
      case Some(NameExpr(s)) => s
      case Some(Num(v)) => if (v == math.rint(v)) v.toLong.toString else v.toString
      case None => default.getOrElse(throw new IllegalArgumentException(s"${fc.name}: missing string arg $i"))
      case Some(other) => throw new IllegalArgumentException(s"${fc.name}: bad string arg $other")
    }

  private def boolArg(fc: FuncCall, i: Int, name: String = "", default: Boolean = false): Boolean =
    arg(fc, i, name) match {
      case Some(BoolLit(b)) => b
      case Some(Str(s)) => s.equalsIgnoreCase("true")
      case None => default
      case Some(other) => throw new IllegalArgumentException(s"${fc.name}: bad bool arg $other")
    }

  private def intervalArg(fc: FuncCall, i: Int, name: String = "", defaultSign: Int = 1): Long =
    arg(fc, i, name) match {
      case Some(Str(s)) => Interval.parse(s, defaultSign)
      case Some(Num(v)) => v.toLong
      case x => throw new IllegalArgumentException(s"${fc.name}: bad interval arg $x")
    }

  /** Plan-time stand-in for the reference's `args[0].XFilesFactor` default:
    * the only way a fetched series carries a non-zero xff is a
    * setXFilesFactor/xFilesFactor call in the argument tree, so walk the
    * series-arg chain for its literal instead of running a job to read the
    * tag back (ref aggregate/function.go:70, removeEmptySeries/function.go:43). */
  private def astXff(a: Ast): Option[Double] = a match {
    case FuncCall(n, args, named, _) if n == "setXFilesFactor" || n == "xFilesFactor" =>
      named.get("xFilesFactor").orElse(args.lift(1)).collect { case Num(v) => v }
    case FuncCall(_, args, _, _) if args.nonEmpty => astXff(args.head)
    case _ => None
  }

  private def intsFrom(fc: FuncCall, startIdx: Int): Seq[Int] =
    fc.args.drop(startIdx).map { case Num(v) => v.toInt; case other => throw new IllegalArgumentException(s"bad node $other") }

  /** Node-or-tag args (ref parser.GetNodeOrTagArgs): ints address dot
    * nodes, strings are TAG names. */
  private def nodeOrTagsFrom(fc: FuncCall, startIdx: Int): Seq[Either[String, Int]] =
    fc.args.drop(startIdx).map {
      case Num(v) => Right(v.toInt)
      case Str(s) => Left(s)
      // a BARE word is neither an int node nor a quoted tag — reject like
      // the reference (ref parser GetNodeOrTagArgs → ErrBadType → 400,
      // e2e pr560 `aliasByNode(a.b.c.d.e, abc)`)
      case other => throw new IllegalArgumentException(s"bad node-or-tag $other")
    }

  /** tukey's optional 4th arg: int = a point count, string = an interval
    * whose seconds divide by the series step (ref tukey/function.go:54-67). */
  private def tukeyInterval(fc: FuncCall): Option[Either[Long, Int]] =
    arg(fc, 3, "interval").map {
      case Num(v) => Right(v.toInt)
      case Str(s) => Left(Interval.parse(s))
      case other => throw new IllegalArgumentException(s"tukey: bad interval $other")
    }

  /** Window size arg: Right(points) for ints, Left(seconds) for interval strings. */
  private def windowArg(fc: FuncCall, i: Int): Either[Long, Int] = fc.args(i) match {
    case Num(v) => Right(v.toInt)
    case Str(s) => Left(math.abs(Interval.parse(s)))
    case other => throw new IllegalArgumentException(s"${fc.name}: bad window $other")
  }

  // ----------------------------------------------------------- the registry

  type Impl = (Ctx, FuncCall) => DataFrame

  /** Align (LCM rebucket) only when the store can't promise a uniform step —
    * the pre-pass re-scans the input, which metadata should make unnecessary. */
  private def needAlign(ctx: Ctx): Boolean = ctx.store.stepHint.isEmpty

  /** Union every positional series argument, tagging each frame with its
    * argument position so order-sensitive holistic kernels (diff/first/last)
    * fold in list order — ref helper.GetSeriesArgs concatenates all args;
    * sumSeries(a,b) must not silently drop `b`. */
  private def seriesArgsFrom(ctx: Ctx, fc: FuncCall): DataFrame = {
    require(fc.args.nonEmpty, s"${fc.name}: missing series args")
    val frames = fc.args.map(a => eval(a, ctx))
    if (frames.lengthCompare(1) == 0) frames.head
    else frames.zipWithIndex
      .map { case (f, i) => f.withColumn("_argOrd", lit(i)) }
      .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** The alias family keeps the called token VERBATIM in both the output
    * name and the aggregatedBy tag — `total(a)` → `totalSeries(a)`, never
    * canonicalized to sum (ref aggregate/function.go:57 callback =
    * Target minus one "Series"; Kernels/VectorAggregator accept every raw
    * token). argsLen opts multi-arg forms into the missing-series name
    * rewrite (ref helper.go:68-82). */
  private def aggFamily(func: String): Impl = (ctx, fc) =>
    SeriesOps.aggregateNamed(seriesArgsFrom(ctx, fc), func, fc.rawArgs, align = needAlign(ctx),
      argsLen = fc.args.length)

  /** `scale` and `scaleAfterTimestamp` are one reference function: an
    * optional integer third arg pivots the scaling, ts==0 means plain scale,
    * and the output name is always `scale(...)` with the literal third
    * argument echoed (ref scale/function.go:22,44-56). */
  private def scaleFamily: Impl = (ctx, fc) => {
    val factor = numArg(fc, 1)
    val ts = intArg(fc, 2, default = Some(0))
    if (ts == 0) SeriesOps.scale(seriesArg(ctx, fc), factor)
    else {
      val rawTs = arg(fc, 2).map {
        case Str(s) => s
        case NameExpr(s) => s
        case other => other.print
      }.getOrElse(ts.toString)
      ExtOps.scaleAfterTimestamp(seriesArg(ctx, fc), factor, ts.toLong, rawTs)
    }
  }

  private def movingFamily(func: String, fnName: String): Impl = (ctx, fc) => {
    // movingWindow(series, window, func, xff); the named forms take xff at 2
    // (ref moving/function.go:142-161). With no explicit arg the default is
    // the series' own xFilesFactor (ref GetFloatArgDefault(_, .XFilesFactor))
    val xffIdx = if (fnName == "movingWindow") 3 else 2
    val xffGiven = arg(fc, xffIdx, "xFilesFactor").isDefined
    val xff = numArg(fc, xffIdx, "xFilesFactor", Some(0.0))
    windowArg(fc, 1) match {
      case Right(n) =>
        val step = ctx.store.stepHint.getOrElse(60L)
        val widened = eval(fc.args.head, ctx.widen(n.toLong * step))
        SeriesOps.movingWindow(widened, Right(n), func, xff, fnName, n.toString, xffExplicit = xffGiven)
      case Left(seconds) =>
        // negative string intervals window BACKWARD the same way — the
        // reference takes the absolute value (ref moving/function.go:112-115)
        val absSec = math.abs(seconds)
        val widened = eval(fc.args.head, ctx.widen(absSec))
        SeriesOps.movingWindow(widened, Left(absSec), func, xff, fnName, s"'${strArg(fc, 1)}'", xffExplicit = xffGiven)
    }
  }

  /** The *SeriesLists family shares one arg layout: (list, list,
    * matching=bool at 2, default=float at 3) — ref seriesList/function.go:38,70. */
  private def seriesListsFamily(func: String, fnName: String): Impl = (ctx, fc) =>
    PairOps.seriesLists(seriesArg(ctx, fc), seriesArg(ctx, fc, 1), func, fnName,
      default = arg(fc, 3, "default").map(_ => numArg(fc, 3, "default")).getOrElse(Double.NaN),
      matchingOpt = arg(fc, 2, "matching").map(_ => boolArg(fc, 2, "matching")))

  private def highestFamily(func: String): Impl = (ctx, fc) =>
    SeriesOps.highest(seriesArg(ctx, fc), intArg(fc, 1, default = Some(1)), func)
  private def lowestFamily(func: String): Impl = (ctx, fc) =>
    SeriesOps.lowest(seriesArg(ctx, fc), intArg(fc, 1, default = Some(1)), func)

  private val asPercentImpl: Impl = (ctx, fc) => {
    // nodes are node-or-tag like groupByNode (ref asPercent/function.go:403)
    val nodes = nodeOrTagsFrom(fc, 2)
    arg(fc, 1, "total") match {
      // the parser maps a bare `None` literal to Str("")
      case None | Some(Str("")) | Some(NameExpr("None")) =>
        if (nodes.nonEmpty) SeriesOps.asPercentByNodes(seriesArg(ctx, fc), nodes)
        else SeriesOps.asPercentOfTotal(seriesArg(ctx, fc))
      case Some(Num(v)) => SeriesOps.asPercentConst(seriesArg(ctx, fc), v)
      case Some(_) if nodes.nonEmpty =>
        SeriesOps.asPercentGroupTotal(seriesArg(ctx, fc), seriesArg(ctx, fc, 1), nodes)
      case Some(_) => SeriesOps.asPercentTotal(seriesArg(ctx, fc), seriesArg(ctx, fc, 1),
        align = needAlign(ctx))
    }
  }

  /** Reject unknown aggregate callbacks at plan time like the reference's
    * "unsupported consolidation function" error — aggregate() does NOT take
    * the pNN escape consolidateBy enjoys (ref aggregate/function.go:77 looks
    * up ConsolidationToFunc directly, consolidations.go:19-39). */
  private def validConsolidation(f: String): String = {
    require(graft.core.Kernels.validConsolidations(f),
      s"unsupported consolidation function $f")
    f
  }

  val registry: Map[String, Impl] = Map(
    // ---- combine / aggregate (ref expr/functions/aggregate)
    // name = <func>Series(<first arg>); args.head.print survives nested
    // commas where a naive rawArgs split would truncate
    "aggregate" -> ((ctx, fc) => SeriesOps.aggregateNamed(
      seriesArg(ctx, fc), validConsolidation(strArg(fc, 1)), fc.args.head.print,
      numArg(fc, 2, "xFilesFactor", Some(astXff(fc.args.head).getOrElse(0.0))),
      align = needAlign(ctx))),
    "sumSeries" -> aggFamily("sum"), "sum" -> aggFamily("sum"),
    "averageSeries" -> aggFamily("average"), "avg" -> aggFamily("avg"), "average" -> aggFamily("average"),
    "maxSeries" -> aggFamily("max"), "max" -> aggFamily("max"),
    "minSeries" -> aggFamily("min"), "min" -> aggFamily("min"),
    "stddevSeries" -> aggFamily("stddev"), "stddev" -> aggFamily("stddev"),
    "countSeries" -> aggFamily("count"), "count" -> aggFamily("count"),
    "diffSeries" -> aggFamily("diff"), "diff" -> aggFamily("diff"),
    "multiplySeries" -> aggFamily("multiply"), "multiply" -> aggFamily("multiply"),
    "medianSeries" -> aggFamily("median"), "median" -> aggFamily("median"),
    // the STANDALONE rangeOfSeries (glue.go:215 wins the duplicate
    // registration over aggregate's alias) NaNs slots with <2 points
    // (ref rangeOfSeries/function.go:69-73); bare range keeps the
    // aggregate summarizer's max-min
    "rangeOfSeries" -> ((ctx, fc) =>
      SeriesOps.aggregateNamed(seriesArgsFrom(ctx, fc), "rangeOf2", fc.rawArgs,
        align = needAlign(ctx), argsLen = fc.args.length, nameToken = Some("rangeOf"))),
    "range" -> aggFamily("range"),
    "avg_zero" -> aggFamily("avg_zero"),
    "first" -> aggFamily("first"), "last" -> aggFamily("last"), "current" -> aggFamily("current"),
    "total" -> aggFamily("total"),
    // every AvailableSummarizers name also registers a <name>Series alias
    // (ref aggregate/function.go:30-35, consolidations.go:41)
    "avgSeries" -> aggFamily("avg"), "avg_zeroSeries" -> aggFamily("avg_zero"),
    "firstSeries" -> aggFamily("first"), "lastSeries" -> aggFamily("last"),
    "currentSeries" -> aggFamily("current"), "totalSeries" -> aggFamily("total"),
    "rangeSeries" -> aggFamily("range"), "rangeOf" -> aggFamily("rangeOf"),
    "percentileOfSeries" -> ((ctx, fc) => {
      val n = numArg(fc, 1)
      val interp = boolArg(fc, 2, "interpolate")
      SeriesOps.aggregateSeries(seriesArg(ctx, fc), s"p${SeriesOps.fmtNum(n)}" + (if (interp) "" else "!"),
        nameFor = _ => lit(s"percentileOfSeries(${fc.rawArgs})"), align = needAlign(ctx))
    }),
    "group" -> ((ctx, fc) => seriesArgsFrom(ctx, fc)),
    "unique" -> ((ctx, fc) => SeriesOps.unique(seriesArgsFrom(ctx, fc))),
    // asPercent's modes (ref asPercent/function.go:40-250): vs the per-ts sum
    // of self; vs a constant; vs a total series/list (count-dispatched,
    // positional pairing when several); per node-group vs the group's sum or
    // vs a grouped total list
    "asPercent" -> asPercentImpl, "pct" -> asPercentImpl,
    // two-arg: every numerator over the single denominator; one-arg: the
    // fetch must match exactly two series — first (name order) divided by
    // second, named after the raw glob (ref divideSeries/function.go:74-88)
    "divideSeries" -> ((ctx, fc) =>
      if (fc.args.length >= 2) SeriesOps.divideSeries(seriesArg(ctx, fc), seriesArg(ctx, fc, 1))
      else {
        val both = seriesArg(ctx, fc)
        val ordered = both.orderBy(col("name"))
        SeriesOps.divideSeries(ordered.limit(1), ordered.offset(1),
          staticName = Some(s"divideSeries(${fc.rawArgs})"))
      }),

    // ---- grouping
    // node args are node-OR-TAG (ref GetNodeOrTagArgs); the no-callback
    // default is "avg" (ref groupByNode/function.go:50)
    "groupByNode" -> ((ctx, fc) => groupByNodeImpl(ctx,
      seriesArg(ctx, fc), strArg(fc, 2, "callback", Some("avg")), nodeOrTagsFrom(fc, 1).take(1))),
    "groupByNodes" -> ((ctx, fc) => groupByNodeImpl(ctx,
      seriesArg(ctx, fc), strArg(fc, 1), nodeOrTagsFrom(fc, 2))),
    // groupByTags shares groupByNode's callback surface: consolidations
    // aggregate per tag key; any other registered function rides the same
    // single-plan `_gk` machinery (ref groupByTags/function.go:110-117
    // evaluates `callback(stub)` per group)
    "groupByTags" -> ((ctx, fc) => {
      val callback = strArg(fc, 1)
      val tagKeys = fc.args.drop(2).map { case Str(s) => s; case NameExpr(s) => s; case o => o.print }
      val aggName = if (callback.endsWith("Series")) callback.dropRight(6) else callback
      val isAgg = graft.core.Kernels.validConsolidations.contains(aggName) ||
        aggName.matches("p([0-9]*[.])?[0-9]+")
      val df = seriesArg(ctx, fc)
      if (isAgg) SeriesOps.groupByTags(df, aggName, tagKeys, align = needAlign(ctx))
      else {
        // same `<head>;tag=value` key grammar as the aggregate path
        // (ref groupByTags/function.go:67-85)
        val head =
          if (tagKeys.contains("name")) coalesce(element_at(col("tags"), "name"), lit(""))
          else lit(callback)
        val rest = tagKeys.distinct.sorted.filter(_ != "name").map(t =>
          concat(lit(";" + t + "="), coalesce(element_at(col("tags"), t), lit(""))))
        groupByKeyImpl(ctx, df, callback, concat(head +: rest: _*))
      }
    }),
    "aggregateWithWildcards" -> ((ctx, fc) => SeriesOps.groupByNodes(
      seriesArg(ctx, fc), strArg(fc, 1), Seq.empty, dropNodes = intsFrom(fc, 2), align = needAlign(ctx))),
    "sumSeriesWithWildcards" -> ((ctx, fc) => SeriesOps.groupByNodes(
      seriesArg(ctx, fc), "sum", Seq.empty, dropNodes = intsFrom(fc, 1), align = needAlign(ctx))),
    "averageSeriesWithWildcards" -> ((ctx, fc) => SeriesOps.groupByNodes(
      seriesArg(ctx, fc), "average", Seq.empty, dropNodes = intsFrom(fc, 1), align = needAlign(ctx))),
    "multiplySeriesWithWildcards" -> ((ctx, fc) => SeriesOps.groupByNodes(
      seriesArg(ctx, fc), "multiply", Seq.empty, dropNodes = intsFrom(fc, 1), align = needAlign(ctx))),

    // ---- point-wise transforms
    "absolute" -> ((ctx, fc) => SeriesOps.absolute(seriesArg(ctx, fc))),
    "offset" -> ((ctx, fc) => SeriesOps.offset(seriesArg(ctx, fc), numArg(fc, 1))),
    "add" -> ((ctx, fc) => SeriesOps.offset(seriesArg(ctx, fc), numArg(fc, 1), fn = "add")),
    "offsetToZero" -> ((ctx, fc) => SeriesOps.offsetToZero(seriesArg(ctx, fc))),
    "scale" -> scaleFamily, "scaleAfterTimestamp" -> scaleFamily,
    "scaleToSeconds" -> ((ctx, fc) => SeriesOps.scaleToSeconds(seriesArg(ctx, fc), numArg(fc, 1).toLong)),
    "invert" -> ((ctx, fc) => SeriesOps.invert(seriesArg(ctx, fc))),
    "pow" -> ((ctx, fc) => SeriesOps.powS(seriesArg(ctx, fc), numArg(fc, 1))),
    "squareRoot" -> ((ctx, fc) => SeriesOps.squareRoot(seriesArg(ctx, fc))),
    "exp" -> ((ctx, fc) => SeriesOps.expS(seriesArg(ctx, fc))),
    "log" -> ((ctx, fc) => SeriesOps.logarithm(seriesArg(ctx, fc),
      numArg(fc, 1, "base", Some(10)), explicitBase = arg(fc, 1, "base").isDefined)),
    "logarithm" -> ((ctx, fc) => SeriesOps.logarithm(seriesArg(ctx, fc),
      numArg(fc, 1, "base", Some(10)), explicitBase = arg(fc, 1, "base").isDefined)),
    "logit" -> ((ctx, fc) => SeriesOps.logit(seriesArg(ctx, fc))),
    "sigmoid" -> ((ctx, fc) => SeriesOps.sigmoid(seriesArg(ctx, fc))),
    "round" -> ((ctx, fc) => SeriesOps.roundS(seriesArg(ctx, fc),
      arg(fc, 1, "precision").map(_ => intArg(fc, 1, "precision")))),
    "minMax" -> ((ctx, fc) => SeriesOps.minMax(seriesArg(ctx, fc))),
    "isNonNull" -> ((ctx, fc) => SeriesOps.isNonNull(seriesArg(ctx, fc))),
    "isNotNull" -> ((ctx, fc) => SeriesOps.isNonNull(seriesArg(ctx, fc))),
    "transformNull" -> ((ctx, fc) => {
      val dflt = numArg(fc, 1, "default", Some(0))
      // referenceSeries is usually NAMED — eval the matched ast, not a
      // positional re-lookup (transformNull(m, default=5, referenceSeries=r))
      val filled = arg(fc, 2, "referenceSeries") match {
        case Some(refAst) => ExtOps.transformNullRef(seriesArg(ctx, fc), dflt, eval(refAst, ctx))
        case None         => SeriesOps.transformNull(seriesArg(ctx, fc), dflt)
      }
      // defaultOnAbsent: when the series arg matched NOTHING, emit a
      // constantLine-shaped 2-point default named with the full expression
      // text (ref transformNull/function.go:44,109-125) — the emptiness
      // probe is a tiny job, gated on the flag being passed at all; the
      // probed frame is what the target then reads, so it is pinned
      lazy val probed = pin(filled)
      if (!boolArg(fc, 3, "defaultOnAbsent")) filled
      else if (!probed.isEmpty) probed
      else {
        val sp = ctx.spark
        import sp.implicits._
        val name = s"transformNull(${fc.rawArgs})"
        val (from, until) = genRange(ctx)
        val step = math.max(until - from, 1L)
        Seq(graft.core.Series(name,
          graft.core.Names.extractTags(graft.core.Names.extractName(name)) +
            ("transformNull" -> SeriesOps.fmtNum(dflt)),
          from, step, Array(dflt, dflt))).toDF()
          .withColumn("pathExpression", lit(null).cast("string"))
      }
    }),
    "removeBelowValue" -> ((ctx, fc) => SeriesOps.removeBelowValue(seriesArg(ctx, fc), numArg(fc, 1))),
    "removeAboveValue" -> ((ctx, fc) => SeriesOps.removeAboveValue(seriesArg(ctx, fc), numArg(fc, 1))),
    "removeBelowPercentile" -> ((ctx, fc) =>
      SeriesOps.removePercentile(seriesArg(ctx, fc), numArg(fc, 1), above = false)),
    "removeAbovePercentile" -> ((ctx, fc) =>
      SeriesOps.removePercentile(seriesArg(ctx, fc), numArg(fc, 1), above = true)),
    // time args go through the full at-time grammar first ("00:03 19700101",
    // "today-1h"), falling back to a POSITIVE interval treated as an absolute
    // epoch — the reference's retrocompat path (ref timeSlice/function.go:
    // 32-41 parseTimeArg); end defaults to "now"
    "timeSlice" -> ((ctx, fc) => {
      def timeArg(a: Ast): Long = a match {
        case Num(v) => v.toLong
        case other =>
          val s = other match { case Str(x) => x; case NameExpr(x) => x; case x => x.print }
          graft.api.AtTime.parse(s).getOrElse(Interval.parse(s, 1))
      }
      val startTs = timeArg(arg(fc, 1).getOrElse(
        throw new IllegalArgumentException("timeSlice: missing start")))
      val endTs = arg(fc, 2, "endSliceAt").map(timeArg)
        .getOrElse(java.time.Instant.now().getEpochSecond)
      SeriesOps.timeSlice(seriesArg(ctx, fc), startTs, endTs)
    }),

    // ---- sequential
    "derivative" -> ((ctx, fc) => SeriesOps.derivative(seriesArg(ctx, fc))),
    "nonNegativeDerivative" -> ((ctx, fc) => {
      // name reflects which of maxValue/minValue were passed
      // (ref nonNegativeDerivative/function.go:37-84)
      val maxV = numArg(fc, 1, "maxValue", Some(Double.NaN))
      val minV = numArg(fc, 2, "minValue", Some(Double.NaN))
      require(maxV.isNaN || minV.isNaN || minV < maxV, "minValue must be lower than maxValue")
      val nameArgs =
        if (!maxV.isNaN && !minV.isNaN) Seq(SeriesOps.fmtNum(maxV), SeriesOps.fmtNum(minV))
        else if (!minV.isNaN) Seq("minValue=" + SeriesOps.fmtNum(minV))
        else if (!maxV.isNaN) Seq(SeriesOps.fmtNum(maxV))
        else Nil
      SeriesOps.nonNegativeDerivative(seriesArg(ctx, fc), maxV, minV, nameArgs)
    }),
    // same maxValue wrap / minValue floor surface and name mask as
    // nonNegativeDerivative (ref perSecond/function.go:39-87)
    "perSecond" -> ((ctx, fc) => {
      val maxV = numArg(fc, 1, "maxValue", Some(Double.NaN))
      val minV = numArg(fc, 2, "minValue", Some(Double.NaN))
      require(maxV.isNaN || minV.isNaN || minV < maxV, "minValue must be lower than maxValue")
      val nameArgs =
        if (!maxV.isNaN && !minV.isNaN) Seq(SeriesOps.fmtNum(maxV), SeriesOps.fmtNum(minV))
        else if (!minV.isNaN) Seq("minValue=" + SeriesOps.fmtNum(minV))
        else if (!maxV.isNaN) Seq(SeriesOps.fmtNum(maxV))
        else Nil
      SeriesOps.perSecond(seriesArg(ctx, fc), maxV, minV, nameArgs)
    }),
    "integral" -> ((ctx, fc) => SeriesOps.integral(seriesArg(ctx, fc))),
    "integralByInterval" -> ((ctx, fc) => SeriesOps.integralByInterval(
      seriesArg(ctx, fc), intervalArg(fc, 1), strArg(fc, 1))),
    // 2-arg form includes the normalized limit in the name ("inf" or the
    // int — ref keepLastValue/function.go:56-60); 1-arg form omits it
    "keepLastValue" -> ((ctx, fc) => {
      val lim = numArg(fc, 1, "limit", Some(Double.PositiveInfinity))
      val extra = if (arg(fc, 1, "limit").isEmpty) Nil
        else Seq(if (lim.isPosInfinity) "inf" else SeriesOps.fmtNum(lim))
      SeriesOps.keepLastValue(seriesArg(ctx, fc), lim, extra)
    }),
    "interpolate" -> ((ctx, fc) => SeriesOps.interpolateS(
      seriesArg(ctx, fc), numArg(fc, 1, "limit", Some(Double.PositiveInfinity)))),
    "changed" -> ((ctx, fc) => SeriesOps.changed(seriesArg(ctx, fc))),
    "delay" -> ((ctx, fc) => SeriesOps.delay(seriesArg(ctx, fc), intArg(fc, 1))),
    "integralWithReset" -> ((ctx, fc) => ExtOps.integralWithReset(seriesArg(ctx, fc), seriesArg(ctx, fc, 1))),
    "compressPeriodicGaps" -> ((ctx, fc) => ExtOps.compressPeriodicGaps(seriesArg(ctx, fc))),

    // ---- windowed
    "movingAverage" -> movingFamily("average", "movingAverage"),
    "movingSum" -> movingFamily("sum", "movingSum"),
    "movingMin" -> movingFamily("min", "movingMin"),
    "movingMax" -> movingFamily("max", "movingMax"),
    "movingMedian" -> movingFamily("median", "movingMedian"),
    "movingWindow" -> ((ctx, fc) => {
      val func = strArg(fc, 2, "func", Some("average"))
      movingFamily(func, "movingWindow")(ctx, fc)
    }),
    "exponentialMovingAverage" -> ((ctx, fc) => {
      // widened like movingFamily; string windows quote the interval in the
      // name (ref exponentialMovingAverage/function.go:74-81 strconv.Quote)
      // negative windows count backwards the same way — only the absolute
      // value matters (ref function.go:50-53,81-84), the name keeps the sign
      windowArg(fc, 1) match {
        case Right(n0) =>
          val n = math.abs(n0)
          val step = ctx.store.stepHint.getOrElse(60L)
          SeriesOps.ema(eval(fc.args.head, ctx.widen(n.toLong * step)), Right(n), n0.toString)
        case Left(seconds) =>
          SeriesOps.ema(eval(fc.args.head, ctx.widen(math.abs(seconds))),
            Left(math.abs(seconds)), "\"" + strArg(fc, 1) + "\"")
      }
    }),
    "ewma" -> ((ctx, fc) => SeriesOps.ewma(seriesArg(ctx, fc), numArg(fc, 1))),
    "exponentialWeightedMovingAverage" -> ((ctx, fc) => SeriesOps.ewma(seriesArg(ctx, fc), numArg(fc, 1))),
    "summarize" -> ((ctx, fc) => SeriesOps.summarize(seriesArg(ctx, fc),
      intervalArg(fc, 1), strArg(fc, 2, "func", Some("sum")), boolArg(fc, 3, "alignToFrom"),
      rawInterval = strArg(fc, 1),
      // name includes func/align only when the caller gave them
      // (ref summarize/function.go:81-95)
      funcOk = fc.named.contains("func") || fc.args.length > 2,
      alignOk = fc.named.contains("alignToFrom") || fc.args.length > 3)),
    "hitcount" -> ((ctx, fc) => {
      val interval = intervalArg(fc, 1)
      val align = boolArg(fc, 2, "alignToInterval")
      // alignToInterval moves the FETCH start back to the covering calendar
      // unit (ref hitcount/function.go:45-50, helper/align.go:218-227)
      val srcCtx =
        if (align && ctx.from > Long.MinValue / 8) {
          val unit = Seq(86400L, 3600L, 60L).find(interval >= _)
          ctx.copy(from = unit.map(u => ctx.from - math.floorMod(ctx.from, u)).getOrElse(ctx.from))
        } else ctx
      SeriesOps.hitcount(eval(fc.args.head, srcCtx), interval, strArg(fc, 1), align)
    }),
    // startSourceAt/endSourceAt move the FETCH window the fit runs over —
    // the reference's Metrics() pre-pass does the same range adjustment
    // (ref linearRegression/function.go:32-50)
    "linearRegression" -> ((ctx, fc) => {
      val nameArgs = (1 until fc.args.length).map(i => s"'${strArg(fc, i)}'")
      val srcCtx =
        if (fc.args.length <= 1) ctx
        else {
          val utc = java.time.ZoneOffset.UTC
          val now = () => java.time.Instant.now()
          val f2 = graft.api.AtTime.toEpoch(strArg(fc, 1, "startSourceAt"), ctx.from, utc, now)
          val u2 = if (fc.args.length > 2)
            graft.api.AtTime.toEpoch(strArg(fc, 2, "endSourceAt"), ctx.until, utc, now)
          else ctx.until
          ctx.copy(from = f2, until = u2)
        }
      SeriesOps.linearRegression(eval(fc.args.head, srcCtx), nameArgs)
    }),

    // ---- series filters
    "filterSeries" -> ((ctx, fc) => SeriesOps.filterSeries(
      seriesArg(ctx, fc), strArg(fc, 1), strArg(fc, 2), numArg(fc, 3))),
    "averageAbove" -> ((ctx, fc) => SeriesOps.averageAbove(seriesArg(ctx, fc), numArg(fc, 1))),
    "averageBelow" -> ((ctx, fc) => SeriesOps.averageBelow(seriesArg(ctx, fc), numArg(fc, 1))),
    "maximumAbove" -> ((ctx, fc) => SeriesOps.maximumAbove(seriesArg(ctx, fc), numArg(fc, 1))),
    "maximumBelow" -> ((ctx, fc) => SeriesOps.maximumBelow(seriesArg(ctx, fc), numArg(fc, 1))),
    "minimumAbove" -> ((ctx, fc) => SeriesOps.minimumAbove(seriesArg(ctx, fc), numArg(fc, 1))),
    "minimumBelow" -> ((ctx, fc) => SeriesOps.minimumBelow(seriesArg(ctx, fc), numArg(fc, 1))),
    "currentAbove" -> ((ctx, fc) => SeriesOps.currentAbove(seriesArg(ctx, fc), numArg(fc, 1))),
    "currentBelow" -> ((ctx, fc) => SeriesOps.currentBelow(seriesArg(ctx, fc), numArg(fc, 1))),
    // highest/lowest accept (list), (list,n), (list,func) and (list,n,func):
    // a string where n would be means n=1 + that callback (ref
    // highestLowest/function.go:60-72 GetIntArg fallback)
    "highest" -> ((ctx, fc) => fc.args.lift(1) match {
      case Some(Str(f)) => SeriesOps.highest(seriesArg(ctx, fc), 1, validConsolidation(f))
      case _ => SeriesOps.highest(seriesArg(ctx, fc),
        intArg(fc, 1, default = Some(1)), strArg(fc, 2, "func", Some("average")))
    }),
    "lowest" -> ((ctx, fc) => fc.args.lift(1) match {
      case Some(Str(f)) => SeriesOps.lowest(seriesArg(ctx, fc), 1, validConsolidation(f))
      case _ => SeriesOps.lowest(seriesArg(ctx, fc),
        intArg(fc, 1, default = Some(1)), strArg(fc, 2, "func", Some("average")))
    }),
    "highestAverage" -> highestFamily("average"), "lowestAverage" -> lowestFamily("average"),
    "highestMax" -> highestFamily("max"), "highestMin" -> highestFamily("min"),
    "lowestMax" -> lowestFamily("max"), "lowestMin" -> lowestFamily("min"),
    "highestCurrent" -> highestFamily("last"), "lowestCurrent" -> lowestFamily("last"),
    "nPercentile" -> ((ctx, fc) => SeriesOps.nPercentile(seriesArg(ctx, fc), numArg(fc, 1))),
    // both arg orders: mostDeviant(seriesList, n) -or- mostDeviant(n,
    // seriesList) (ref mostDeviant/function.go:30-42)
    "mostDeviant" -> ((ctx, fc) => fc.args.headOption match {
      case Some(Num(_)) => SeriesOps.mostDeviant(seriesArg(ctx, fc, 1), intArg(fc, 0))
      case _ => SeriesOps.mostDeviant(seriesArg(ctx, fc), intArg(fc, 1, default = Some(1)))
    }),
    "removeEmptySeries" -> ((ctx, fc) => SeriesOps.removeEmptySeries(
      seriesArg(ctx, fc), numArg(fc, 1, "xFilesFactor", Some(astXff(fc.args.head).getOrElse(0.0))))),
    "removeZeroSeries" -> ((ctx, fc) => SeriesOps.removeZeroSeries(seriesArg(ctx, fc),
      numArg(fc, 1, "xFilesFactor", Some(0.0)))),
    "exclude" -> ((ctx, fc) => SeriesOps.excludeS(seriesArg(ctx, fc), strArg(fc, 1))),
    "grep" -> ((ctx, fc) => SeriesOps.grepS(seriesArg(ctx, fc), strArg(fc, 1))),
    "limit" -> ((ctx, fc) => SeriesOps.limitS(seriesArg(ctx, fc), intArg(fc, 1))),

    // ---- sort / naming
    "sortBy" -> ((ctx, fc) => SeriesOps.sortBy(seriesArg(ctx, fc),
      strArg(fc, 1, "func", Some("average")), boolArg(fc, 2, "reverse"))),
    "sortByName" -> ((ctx, fc) => {
      val natural = boolArg(fc, 1, "natural")
      val reverse = boolArg(fc, 2, "reverse")
      if (natural) ExtOps.sortByNameNatural(seriesArg(ctx, fc), reverse)
      else SeriesOps.sortByName(seriesArg(ctx, fc), reverse)
    }),
    "sortByTotal" -> ((ctx, fc) => SeriesOps.sortByTotal(seriesArg(ctx, fc), boolArg(fc, 2, "reverse"))),
    "sortByMaxima" -> ((ctx, fc) => SeriesOps.sortByMaxima(seriesArg(ctx, fc), boolArg(fc, 2, "reverse"))),
    "sortByMinima" -> ((ctx, fc) => SeriesOps.sortByMinima(seriesArg(ctx, fc), boolArg(fc, 2, "reverse"))),
    "alias" -> ((ctx, fc) => SeriesOps.alias(seriesArg(ctx, fc), strArg(fc, 1),
      boolArg(fc, 2, "allowFormatStr"))),
    "aliasByMetric" -> ((ctx, fc) => SeriesOps.aliasByMetric(seriesArg(ctx, fc))),
    "aliasByNode" -> ((ctx, fc) => SeriesOps.aliasByNode(seriesArg(ctx, fc), nodeOrTagsFrom(fc, 1))),
    "aliasSub" -> ((ctx, fc) => SeriesOps.aliasSub(seriesArg(ctx, fc), strArg(fc, 1), strArg(fc, 2))),
    "toLowerCase" -> ((ctx, fc) => SeriesOps.caseName(seriesArg(ctx, fc), intsFrom(fc, 1), toUpper = false)),
    "toUpperCase" -> ((ctx, fc) => SeriesOps.caseName(seriesArg(ctx, fc), intsFrom(fc, 1), toUpper = true)),
    "lower" -> ((ctx, fc) => SeriesOps.caseName(seriesArg(ctx, fc), intsFrom(fc, 1), toUpper = false)),
    "upper" -> ((ctx, fc) => SeriesOps.caseName(seriesArg(ctx, fc), intsFrom(fc, 1), toUpper = true)),

    // ---- pairwise list family (ref aggregateSeriesLists/seriesList)
    // aggregateSeriesLists follows helper.AggregateSeries (NaN-skip + xff);
    // the *SeriesLists family NaN-propagates with matching/default modes
    "aggregateSeriesLists" -> ((ctx, fc) => PairOps.aggregateSeriesLists(
      seriesArg(ctx, fc), seriesArg(ctx, fc, 1), strArg(fc, 2), fc.rawArgs,
      arg(fc, 3, "xFilesFactor").map(_ => numArg(fc, 3, "xFilesFactor")))),
    "sumSeriesLists" -> seriesListsFamily("sum", "sumSeries"),
    "diffSeriesLists" -> seriesListsFamily("diff", "diffSeries"),
    "multiplySeriesLists" -> seriesListsFamily("multiply", "multiplySeries"),
    "powSeriesLists" -> seriesListsFamily("pow", "powSeries"),
    "powSeries" -> ((ctx, fc) => SeriesOps.aggregateSeries(seriesArgsFrom(ctx, fc), "powChain",
      nameFor = _ => lit(s"powSeries(${fc.rawArgs})"), align = needAlign(ctx))),
    "divideSeriesLists" -> seriesListsFamily("divide", "divideSeries"),
    "weightedAverage" -> ((ctx, fc) => PairOps.weightedAverage(
      seriesArg(ctx, fc), seriesArg(ctx, fc, 1), nodeOrTagsFrom(fc, 2), fc.rawArgs)),
    "join" -> ((ctx, fc) => PairOps.joinNames(
      seriesArg(ctx, fc), seriesArg(ctx, fc, 1), strArg(fc, 2, "type", Some("AND")))),
    "countValues" -> ((ctx, fc) => PairOps.countValues(seriesArg(ctx, fc),
      intArg(fc, 1, "valuesLimit", Some(32)))),

    // ---- time manipulation (fetch-time shifts)
    "timeShift" -> ((ctx, fc) => {
      val offset = intervalArg(fc, 1, defaultSign = -1)
      val resetEnd = boolArg(fc, 2, "resetEnd")
      TimeOps.timeShift(eval(fc.args.head, ctx.copy(from = ctx.from + offset, until = ctx.until + offset)),
        offset, resetEnd, ctx.until)
    }),
    "timeStack" -> ((ctx, fc) => {
      val unit = intervalArg(fc, 1, defaultSign = -1)
      val unitStr = strArg(fc, 1)
      val startI = intArg(fc, 2, "timeShiftStart", Some(0))
      val endI = intArg(fc, 3, "timeShiftEnd", Some(7))
      TimeOps.timeStack((startI until endI).map { i =>
        val off = unit * i
        (off, unitStr,
          eval(fc.args.head, ctx.copy(from = ctx.from + off, until = ctx.until + off)))
      })
    }),
    "smartSummarize" -> ((ctx, fc) => {
      // a BOOLEAN alignTo is the legacy alignToFrom form — ignored, and
      // the name drops it (ref smartSummarize getAlignTo:126-135)
      val alignTo = arg(fc, 3, "alignTo") match {
        case Some(BoolLit(_)) => ""
        case _ => strArg(fc, 3, "alignTo", Some(""))
      }
      // the reference moves the request FROM back to the calendar boundary
      // BEFORE fetching (function.go:43-51 via expr.Metrics()) — bucket
      // anchoring then falls out of each series' fetched StartTime
      val fctx =
        if (alignTo.nonEmpty && graft.store.SeriesStore.bounded(ctx.from))
          ctx.copy(from = TimeOps.alignStart(ctx.from, alignTo))
        else ctx
      TimeOps.smartSummarize(seriesArg(fctx, fc),
        intervalArg(fc, 1), strArg(fc, 2, "func", Some("sum")),
        alignTo, rawInterval = strArg(fc, 1))
    }),
    "fallbackSeries" -> ((ctx, fc) => TimeOps.fallbackSeries(seriesArg(ctx, fc), seriesArg(ctx, fc, 1))),

    // ---- presentation / metadata
    "substr" -> ((ctx, fc) => TimeOps.substr(seriesArg(ctx, fc),
      intArg(fc, 1, "start", Some(0)), intArg(fc, 2, "stop", Some(0)))),
    "aliasByTags" -> ((ctx, fc) => TimeOps.aliasByTags(seriesArg(ctx, fc),
      fc.args.drop(1).map { case Str(s) => s; case NameExpr(s) => s; case Num(v) => v.toInt.toString; case o => o.print })),
    "legendValue" -> ((ctx, fc) => TimeOps.legendValue(seriesArg(ctx, fc),
      fc.args.drop(1).map { case Str(s) => s; case NameExpr(s) => s; case o => o.print })),
    "cactiStyle" -> ((ctx, fc) => TimeOps.cactiStyle(seriesArg(ctx, fc),
      strArg(fc, 1, "system", Some("")), strArg(fc, 2, "units", Some("")))),
    "consolidateBy" -> ((ctx, fc) => TimeOps.consolidateBy(seriesArg(ctx, fc), strArg(fc, 1))),
    "cumulative" -> ((ctx, fc) => TimeOps.consolidateBy(seriesArg(ctx, fc), "sum")),
    "setXFilesFactor" -> ((ctx, fc) => TimeOps.setXFilesFactor(seriesArg(ctx, fc), numArg(fc, 1))),
    "xFilesFactor" -> ((ctx, fc) => TimeOps.setXFilesFactor(seriesArg(ctx, fc), numArg(fc, 1))),

    // ---- advanced analytics
    "holtWintersForecast" -> ((ctx, fc) => {
      val bootstrap = arg(fc, 2, "bootstrapInterval").map(_ => intervalArg(fc, 2, "bootstrapInterval")).getOrElse(604800L)
      val season = arg(fc, 3, "seasonality").map(_ => intervalArg(fc, 3, "seasonality")).getOrElse(86400L)
      AnalyticsOps.holtWintersForecast(eval(fc.args.head, ctx.widen(bootstrap)), ctx.from, season)
    }),
    "holtWintersConfidenceBands" -> ((ctx, fc) => {
      val delta = numArg(fc, 1, "delta", Some(3))
      val bootstrap = arg(fc, 2, "bootstrapInterval").map(_ => intervalArg(fc, 2, "bootstrapInterval")).getOrElse(604800L)
      val season = arg(fc, 3, "seasonality").map(_ => intervalArg(fc, 3, "seasonality")).getOrElse(86400L)
      AnalyticsOps.holtWintersConfidenceBands(eval(fc.args.head, ctx.widen(bootstrap)), ctx.from, delta, season)
    }),
    "holtWintersConfidenceArea" -> ((ctx, fc) => {
      val delta = numArg(fc, 1, "delta", Some(3))
      val bootstrap = arg(fc, 2, "bootstrapInterval").map(_ => intervalArg(fc, 2, "bootstrapInterval")).getOrElse(604800L)
      val season = arg(fc, 3, "seasonality").map(_ => intervalArg(fc, 3, "seasonality")).getOrElse(86400L)
      AnalyticsOps.holtWintersConfidenceArea(eval(fc.args.head, ctx.widen(bootstrap)), ctx.from, delta, season)
    }),
    "holtWintersAberration" -> ((ctx, fc) => {
      val delta = numArg(fc, 1, "delta", Some(3))
      val bootstrap = arg(fc, 2, "bootstrapInterval").map(_ => intervalArg(fc, 2, "bootstrapInterval")).getOrElse(604800L)
      val season = arg(fc, 3, "seasonality").map(_ => intervalArg(fc, 3, "seasonality")).getOrElse(86400L)
      AnalyticsOps.holtWintersAberration(eval(fc.args.head, ctx.widen(bootstrap)), ctx.from, delta, season)
    }),
    "polyfit" -> ((ctx, fc) => {
      val degree = intArg(fc, 1, "degree", Some(1))
      val offsStr = arg(fc, 2, "offset").map(_ => strArg(fc, 2, "offset"))
      val nameArgs: Seq[String] = offsStr match {
        case Some(o) => Seq(degree.toString, s"'$o'")
        case None if arg(fc, 1, "degree").isDefined => Seq(degree.toString)
        case None => Nil
      }
      AnalyticsOps.polyfit(seriesArg(ctx, fc), degree, nameArgs,
        offsStr.map(Interval.parse(_)).getOrElse(0L))
    }),
    "stdev" -> ((ctx, fc) => AnalyticsOps.stdev(seriesArg(ctx, fc),
      intArg(fc, 1), numArg(fc, 2, "windowTolerance", Some(0.1)))),
    "pearson" -> ((ctx, fc) => AnalyticsOps.pearsonWindow(
      seriesArg(ctx, fc), seriesArg(ctx, fc, 1), intArg(fc, 2))),
    "pearsonClosest" -> ((ctx, fc) => AnalyticsOps.pearsonClosest(
      seriesArg(ctx, fc, 1), seriesArg(ctx, fc), intArg(fc, 2),
      strArg(fc, 3, "direction", Some("abs")))),
    "tukeyAbove" -> ((ctx, fc) => AnalyticsOps.tukey(seriesArg(ctx, fc),
      numArg(fc, 1), intArg(fc, 2), above = true, tukeyInterval(fc))),
    "tukeyBelow" -> ((ctx, fc) => AnalyticsOps.tukey(seriesArg(ctx, fc),
      numArg(fc, 1), intArg(fc, 2), above = false, tukeyInterval(fc))),
    "averageOutsidePercentile" -> ((ctx, fc) => AnalyticsOps.averageOutsidePercentile(seriesArg(ctx, fc), numArg(fc, 1))),
    "removeBetweenPercentile" -> ((ctx, fc) => AnalyticsOps.removeBetweenPercentile(seriesArg(ctx, fc), numArg(fc, 1))),
    "slo" -> ((ctx, fc) => AnalyticsOps.slo(seriesArg(ctx, fc),
      intervalArg(fc, 1), strArg(fc, 2), numArg(fc, 3), rawInterval = strArg(fc, 1))),
    "sloErrorBudget" -> ((ctx, fc) => AnalyticsOps.sloErrorBudget(seriesArg(ctx, fc),
      intervalArg(fc, 1), strArg(fc, 2), numArg(fc, 3), numArg(fc, 4),
      rawInterval = strArg(fc, 1))),
    "fft" -> ((ctx, fc) => AnalyticsOps.fft(seriesArg(ctx, fc), strArg(fc, 1, "mode", Some("")))),
    "lowPass" -> ((ctx, fc) => AnalyticsOps.lowPass(seriesArg(ctx, fc), numArg(fc, 1))),
    "lpf" -> ((ctx, fc) => AnalyticsOps.lowPass(seriesArg(ctx, fc), numArg(fc, 1))),
    "kolmogorovSmirnovTest2" -> ((ctx, fc) => AnalyticsOps.ksTest2(
      seriesArg(ctx, fc), seriesArg(ctx, fc, 1), intArg(fc, 2, "windowSize", Some(60)))),
    "ksTest2" -> ((ctx, fc) => AnalyticsOps.ksTest2(
      seriesArg(ctx, fc), seriesArg(ctx, fc, 1), intArg(fc, 2, "windowSize", Some(60)))),
    "heatMap" -> ((ctx, fc) => ExtOps.heatMap(seriesArg(ctx, fc))),
    "ifft" -> ((ctx, fc) => AnalyticsOps.ifft(seriesArg(ctx, fc),
      arg(fc, 1).map(_ => seriesArg(ctx, fc, 1)))),
    "aggregateLine" -> ((ctx, fc) => ExtOps.aggregateLine(seriesArg(ctx, fc),
      strArg(fc, 1, "func", Some("average")), boolArg(fc, 2, "keepStep"))),

    // ---- map/reduce + rewrite family (second-fetch semantics)
    "mapSeries" -> ((ctx, fc) => ExtOps.mapSeries(seriesArg(ctx, fc), intsFrom(fc, 1))),
    "map" -> ((ctx, fc) => ExtOps.mapSeries(seriesArg(ctx, fc), intsFrom(fc, 1))),
    "reduceSeries" -> ((ctx, fc) => ExtOps.reduceSeries(seriesArg(ctx, fc),
      strArg(fc, 1), intArg(fc, 2), fc.args.drop(3).map { case Str(s) => s; case NameExpr(s) => s; case o => o.print })),
    "reduce" -> ((ctx, fc) => ExtOps.reduceSeries(seriesArg(ctx, fc),
      strArg(fc, 1), intArg(fc, 2), fc.args.drop(3).map { case Str(s) => s; case NameExpr(s) => s; case o => o.print })),
    "applyByNode" -> ((ctx, fc) => RewriteOps.applyByNode(ctx, fc.args.head,
      intArg(fc, 1), strArg(fc, 2), arg(fc, 3, "newName").map { case Str(s) => s; case o => o.print })),
    "useSeriesAbove" -> ((ctx, fc) => RewriteOps.useSeriesAbove(ctx, fc.args.head,
      numArg(fc, 1), strArg(fc, 2), strArg(fc, 3))),
    "aboveSeries" -> ((ctx, fc) => RewriteOps.useSeriesAbove(ctx, fc.args.head,
      numArg(fc, 1), strArg(fc, 2), strArg(fc, 3))),
    "aliasQuery" -> ((ctx, fc) => RewriteOps.aliasQuery(ctx, fc.args.head,
      strArg(fc, 1), strArg(fc, 2), strArg(fc, 3))),
    "baseline" -> ((ctx, fc) => RewriteOps.baselines(ctx, fc.args.head,
      intervalArg(fc, 1, defaultSign = -1), intArg(fc, 2), intArg(fc, 3), isAberration = false,
      numArg(fc, 4, "maxAbsentPercent", Some(Double.NaN)), numArg(fc, 5, "minAvg", Some(Double.NaN)))),
    "baselineAberration" -> ((ctx, fc) => RewriteOps.baselines(ctx, fc.args.head,
      intervalArg(fc, 1, defaultSign = -1), intArg(fc, 2), intArg(fc, 3), isAberration = true,
      numArg(fc, 4, "maxAbsentPercent", Some(Double.NaN)), numArg(fc, 5, "minAvg", Some(Double.NaN)))),
    "timeShiftByMetric" -> ((ctx, fc) => RewriteOps.timeShiftByMetric(
      seriesArg(ctx, fc), seriesArg(ctx, fc, 1), intArg(fc, 2))),

    // ---- graph-option setters (render metadata; ref cairo/function.go:21-30)
    "drawAsInfinite" -> ((ctx, fc) => ExtOps.setOption(seriesArg(ctx, fc), "drawAsInfinite", "1", renameAs = Some("drawAsInfinite"))),
    "color" -> ((ctx, fc) => ExtOps.setOption(seriesArg(ctx, fc), "color", strArg(fc, 1))),
    "alpha" -> ((ctx, fc) => ExtOps.setOption(seriesArg(ctx, fc), "alpha", SeriesOps.fmtNum(numArg(fc, 1)))),
    "dashed" -> ((ctx, fc) => ExtOps.setOption(seriesArg(ctx, fc), "dashed",
      SeriesOps.fmtNum(numArg(fc, 1, "dashLength", Some(5))), renameAs = Some("dashed"))),
    "lineWidth" -> ((ctx, fc) => ExtOps.setOption(seriesArg(ctx, fc), "lineWidth", SeriesOps.fmtNum(numArg(fc, 1)))),
    "stacked" -> ((ctx, fc) => ExtOps.setOption(seriesArg(ctx, fc), "stacked",
      strArg(fc, 1, "stackname", Some("__DEFAULT__")))),
    "secondYAxis" -> ((ctx, fc) => ExtOps.setOption(seriesArg(ctx, fc), "secondYAxis", "1", renameAs = Some("secondYAxis"))),
    "areaBetween" -> ((ctx, fc) => ExtOps.areaBetween(seriesArg(ctx, fc),
      s"areaBetween(${fc.rawArgs})")),
    "aliasByBase64" -> ((ctx, fc) => ExtOps.aliasByBase64(seriesArg(ctx, fc),
      arg(fc, 1).map { case Num(v) => v.toInt; case o => throw new IllegalArgumentException(s"bad node $o") })),

    // ---- generators
    "constantLine" -> ((ctx, fc) => constantLine(ctx, numArg(fc, 0))),
    // ts = until + offset (offset usually negative), hard error outside the
    // request range (ref verticalLine/function_cairo.go:38-51)
    "verticalLine" -> ((ctx, fc) => {
      val ts = ctx.until + intervalArg(fc, 0, defaultSign = -1)
      require(ts >= ctx.from, s"verticalLine: ts $ts is before start ${ctx.from}")
      require(ts <= ctx.until, s"verticalLine: ts $ts is after end ${ctx.until}")
      ExtOps.verticalLine(ctx.spark, ts, strArg(fc, 1, "label", Some("")),
        strArg(fc, 2, "color", Some("")))
    }),
    "threshold" -> ((ctx, fc) => {
      val base = constantLine(ctx, numArg(fc, 0))
      // label/color are string-or-bare-name, named or positional (ref
      // cairo/cairo.go threshold: GetStringNamedOrPosArgDefault)
      val labeled = arg(fc, 1, "label") match {
        case Some(Str(l)) => SeriesOps.alias(base, l)
        case Some(NameExpr(l)) => SeriesOps.alias(base, l)
        case _ => base
      }
      arg(fc, 2, "color") match {
        case Some(Str(c)) => ExtOps.setOption(labeled, "color", c)
        case Some(NameExpr(c)) => ExtOps.setOption(labeled, "color", c)
        case _ => labeled
      }
    }),
    "timeFunction" -> ((ctx, fc) => timeFunction(ctx, strArg(fc, 0), intArg(fc, 1, "step", Some(60)))),
    "time" -> ((ctx, fc) => timeFunction(ctx, strArg(fc, 0), intArg(fc, 1, "step", Some(60)))),
    "identity" -> ((ctx, fc) => {
      val n = strArg(fc, 0)
      SeriesOps.alias(timeFunction(ctx, n, 60), s"identity($n)")
    }),
    "sin" -> ((ctx, fc) => sinFunction(ctx, strArg(fc, 0),
      numArg(fc, 1, "amplitude", Some(1)), intArg(fc, 2, "step", Some(60)))),
    "sinFunction" -> ((ctx, fc) => sinFunction(ctx, strArg(fc, 0),
      numArg(fc, 1, "amplitude", Some(1)), intArg(fc, 2, "step", Some(60)))),
    "randomWalk" -> ((ctx, fc) => randomWalk(ctx, strArg(fc, 0), intArg(fc, 1, "step", Some(60)))),
    "randomWalkFunction" -> ((ctx, fc) => randomWalk(ctx, strArg(fc, 0), intArg(fc, 1, "step", Some(60))))
  )

  /**
   * groupByNode(s) with ANY registered function as callback: consolidation
   * names (and their xSeries aliases) take the distributed aggregate path;
   * series-function callbacks (keepLastValue, derivative, …) are applied to
   * the WHOLE frame in ONE plan — the group key rides along as a `_gk`
   * column and a per-key window keeps the first result, mirroring the
   * reference's "only the first result is used" rule
   * (ref groupByNode/function.go:115-131). No driver collect, one job for
   * any number of groups.
   */
  private def groupByNodeImpl(ctx: Ctx, df: DataFrame, callback: String,
                              nodes: Seq[Either[String, Int]]): DataFrame = {
    val aggName = if (callback.endsWith("Series")) callback.dropRight(6) else callback
    val isAgg = graft.core.Kernels.validConsolidations.contains(aggName) ||
      aggName.matches("p([0-9]*[.])?[0-9]+")
    if (isAgg) SeriesOps.groupByNodes(df, aggName, nodes, align = needAlign(ctx))
    else groupByKeyImpl(ctx, df, callback,
      SeriesOps.nodeOrTagKey(col("name"), col("tags"), nodes))
  }

  /** Series-function callback applied per group in ONE plan: the group key
    * rides as `_gk` (aggregations group on it implicitly) and a per-key
    * window keeps the first result, mirroring the reference's "only the
    * first result is used" rule. Shared by groupByNode(s) and groupByTags. */
  private def groupByKeyImpl(ctx: Ctx, df: DataFrame, callback: String,
                             keyCol: org.apache.spark.sql.Column): DataFrame = {
    val keyed = df.withColumn("_gk", keyCol)
    val applied = eval(FuncCall(callback, Seq(graft.parser.FrameExpr(keyed, "group")), Map.empty), ctx)
    if (applied.columns.contains("_gk")) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("_gk")).orderBy(col("name"))
      applied.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .withColumn("name", col("_gk"))
        .withColumn("tags", map_concat(
          map_filter(col("tags"), (k, _) => k =!= "name"), map(lit("name"), col("_gk"))))
        .drop("_rn", "_gk")
    } else {
      // callback aggregated the frame away (dropped _gk) — fall back to
      // the reference's literal per-group re-eval; the key collect and
      // every group read the input, so it is pinned
      val input = pin(df)
      val keys = input.select(keyCol.as("_gk")).distinct().collect().map(_.getString(0)).sorted
      require(keys.nonEmpty, "group callback: no series to group")
      keys.map { k =>
        val group = input.where(keyCol === k)
        val res = eval(FuncCall(callback, Seq(graft.parser.FrameExpr(group, k)), Map.empty), ctx)
        SeriesOps.alias(res.orderBy(col("name")).limit(1), k)
      }.reduce(_ unionByName _)
    }
  }

  /** constantLine: exactly TWO points, step = the whole request range, so
    * the line spans [from, until] (ref constantLine/function.go:36-44). */
  private def constantLine(ctx: Ctx, value: Double): DataFrame = {
    val sp = ctx.spark
    import sp.implicits._
    val name = SeriesOps.fmtNum(value)
    val (from, until) =
      if (ctx.from > Long.MinValue / 8) (ctx.from, ctx.until) else (0L, 7200L)
    val step = math.max(until - from, 1L)
    Seq(graft.core.Series(name, Map("name" -> name), from, step, Array(value, value))).toDF()
  }

  private def genRange(ctx: Ctx): (Long, Long) =
    if (ctx.from > Long.MinValue / 8) (ctx.from, ctx.until) else (0L, 3600L)

  /** sin(name, amplitude, step): amplitude * sin(ts). (ref sinFunction/function.go:56-58) */
  private def sinFunction(ctx: Ctx, name: String, amplitude: Double, step: Int): DataFrame = {
    val sp = ctx.spark
    import sp.implicits._
    val (from, until) = genRange(ctx)
    val n = math.max(((until - from - 1 + step) / step).toInt, 1) // ceil: the generator covers [from, until) like the reference's (until-from-1+step)/step (ref timeFunction/function.go:48)
    Seq(graft.core.Series(name, Map("name" -> name), from, step.toLong,
      Array.tabulate(n)(i => math.sin((from + i.toLong * step).toDouble) * amplitude))).toDF()
  }

  /** randomWalk: x(0)=0, x(t)=x(t-1)+U(-0.5,0.5); deterministic seed so runs
    * are reproducible. Unlike the other generators, randomWalk FLOORS the
    * point count — a trailing partial step is dropped and until rounds down
    * (ref randomWalk/function.go:41-42 size = (until-from)/step). */
  private def randomWalk(ctx: Ctx, name: String, step: Int): DataFrame = {
    val sp = ctx.spark
    import sp.implicits._
    val (from, until) = genRange(ctx)
    val n = math.max(((until - from) / step).toInt, 1)
    val rnd = new scala.util.Random(42)
    val vals = new Array[Double](n)
    var i = 1
    while (i < n) { vals(i) = vals(i - 1) + (rnd.nextDouble() - 0.5); i += 1 }
    Seq(graft.core.Series(name, Map("name" -> name), from, step.toLong, vals)).toDF()
  }

  /** time(name, step): value = its own timestamp. (ref timeFunction/function.go) */
  private def timeFunction(ctx: Ctx, name: String, step: Int): DataFrame = {
    val sp = ctx.spark
    import sp.implicits._
    val (from, until) =
      if (ctx.from > Long.MinValue / 8) (ctx.from, ctx.until) else (0L, 3600L)
    val n = math.max(((until - from - 1 + step) / step).toInt, 1) // ceil: the generator covers [from, until) like the reference's (until-from-1+step)/step (ref timeFunction/function.go:48)
    Seq(graft.core.Series(name, Map("name" -> name), from, step.toLong,
      Array.tabulate(n)(i => (from + i.toLong * step).toDouble))).toDF()
  }
}
