package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.core.{Kernels, Names, SeriesFrame, VecOps}

/**
 * The Graphite operator library over the canonical series frame
 * (name, tags, start, step, values ARRAY<DOUBLE>).
 *
 * Design rules (scale-first):
 *  - point-wise ops are `transform` higher-order functions → whole-stage
 *    codegen, zero shuffle;
 *  - sequential recurrences are vector UDFs — one series per row keeps the
 *    state local, zero shuffle;
 *  - cross-series aggregation folds whole vectors via [[VectorAggregator]]
 *    (map-side partial aggregation; shuffle = one array per series-group),
 *    falling back to an exploded point shuffle only for holistic
 *    consolidations (median/percentile/diff ordering);
 *  - series filters/top-k compile to `WHERE`/`ORDER BY+LIMIT` so Catalyst
 *    plans TakeOrderedAndProject instead of a global sort.
 */
object SeriesOps {
  import SeriesFrame.{mapVec, rewrap, vecScalar}

  private implicit val vecAggInEnc: org.apache.spark.sql.Encoder[VecAggInput] = Encoders.product[VecAggInput]

  // ---------------------------------------------------------------- combine

  /**
   * Point-wise aggregation of all series (optionally per group key) into one
   * series per group. (ref expr/functions/aggregate/function.go:25-97,
   * helper.AggregateSeries expr/helper/helper.go:151-188)
   *
   * @param groupKey optional grouping column (e.g. node key); None = all→1
   */
  def aggregateSeries(df0: DataFrame, func: String, xff: Double = 0.0,
                      nameFor: Column => Column = identity,
                      groupKey: Option[Column] = None,
                      align: Boolean = false): DataFrame = {
    // normalize mixed-step inputs onto the LCM grid before folding
    // (ref helper.ScaleSeries). The pre-pass costs a second scan of the
    // input, so the planner requests it ONLY when the store can't guarantee
    // a uniform step (no stepHint) — metadata beats a 100TB re-scan.
    val df = if (align) Align.scaleToCommonStep(df0) else df0
    // a `_gk` column (groupByNode's riding group key) implicitly scopes ANY
    // aggregation to its group and survives into the output — this is what
    // lets frame-collapsing callbacks (percentileOfSeries & co) stay a
    // single distributed plan instead of a per-group driver loop
    val implicitGk = groupKey.isEmpty && df.columns.contains("_gk")
    val key = groupKey.getOrElse(if (implicitGk) col("_gk") else lit(""))
    // powChain folds NaN THROUGH Go's pow (goPow: 1^NaN = 1) instead of
    // skipping it, so a series that simply lacks a grid slot must still
    // contribute a NaN to the fold — pad every series to the group's
    // common [t0, t1) range before the explode (ref powSeries/function.go:
    // 51-61 pads the shorter value arrays with NaN to the longest length;
    // we align by ts, the distributed superset of its index alignment)
    val dfp = if (func == "powChain") {
      val b = df.groupBy(key.as("_bk")).agg(min(col("start")).as("_t0"),
        max(col("start") + size(col("values")).cast("long") * col("step")).as("_t1"))
      df.join(broadcast(b), key === col("_bk"))
        .withColumn("values", concat(
          array_repeat(lit(Double.NaN),
            ((col("start") - col("_t0")) / col("step")).cast("int")),
          col("values"),
          array_repeat(lit(Double.NaN),
            ((col("_t1") - col("start")) / col("step") - size(col("values")).cast("long")).cast("int"))))
        .withColumn("start", col("_t0"))
        .drop("_bk", "_t0", "_t1")
    } else df
    val grouped =
      if (VectorAggregator.decomposable(func)) {
        val agg = udaf(new VectorAggregator(func, xff))
        df.groupBy(key.as("gk"))
          .agg(agg(col("start"), col("step"), col("values")).as("r"))
          .select(col("gk"), col("r.start").as("start"), col("r.step").as("step"), col("r.values").as("values"))
      } else {
        // Holistic funcs need the full per-point distribution, in series-list
        // order (diff/first/last are order-sensitive): explode, shuffle points
        // by (group, ts), aggregate with the exact reference kernel. List
        // order = (argument position, name) — multi-arg forms like
        // diffSeries(total,failed) carry their position in `_argOrd`
        // (ref helper.GetSeriesArgs concatenates args in order; NaN-skipping
        // kernels make dropped absent points equivalent to the reference's
        // NaN padding).
        val ordered = dfp.withColumn("gk", key)
        val ordCol = if (dfp.columns.contains("_argOrd")) col("_argOrd") else lit(0)
        val pts = ordered.select(col("gk"), ordCol.as("_ord"), col("name"), col("start"), col("step"),
            posexplode(col("values")).as(Seq("pos", "value")))
          .withColumn("ts", col("start") + col("pos") * col("step"))
        // cross-series aggregation uses the Agg* kernel family, NOT the
        // summarize-bucket kernels: AggDiff NaN-filters before folding where
        // SummarizeValues("diff") keeps a raw head and NaNs out when every
        // subtrahend is NaN (ref consolidations.go:19-39 ConsolidationToFunc
        // vs :233-240); xff gates the point first (ref helper.go:175-181)
        val kernel = udf((vals: Seq[org.apache.spark.sql.Row]) => {
          val sorted = vals.sortBy(r => (r.getInt(0), r.getString(1))).map(_.getDouble(2)).toArray
          var nn = 0
          var i = 0
          while (i < sorted.length) { if (!java.lang.Double.isNaN(sorted(i))) nn += 1; i += 1 }
          if (sorted.length > 0 && nn.toFloat / sorted.length < xff) Double.NaN
          else Kernels.byName(func)(sorted)
        })
        val perTs = pts.groupBy(col("gk"), col("ts"), col("step"))
          .agg(kernel(collect_list(struct(col("_ord"), col("name"), col("value")))).as("value"))
        val bounds = perTs.groupBy(col("gk"), col("step"))
          .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
        perTs.join(bounds, Seq("gk", "step"))
          .groupBy(col("gk"), col("step"), col("t0"), col("t1"))
          .agg(map_from_entries(collect_list(struct(col("ts"), col("value")))).as("m"))
          .select(col("gk"), col("t0").as("start"), col("step"),
            transform(sequence(col("t0"), col("t1"), col("step")),
              t => coalesce(element_at(col("m"), t), lit(Double.NaN))).as("values"))
      }
    // output tags mirror the reference's CopyNameArg flow: parse the INNER
    // name (wrapper stripped) as a tagged path, then stamp aggregatedBy —
    // `avgSeries(metric[123])` carries name=metric[123], a groupByTags key
    // `a;t=v` parses its tags back out (ref types.go:621-660, helper.go:162)
    val tagsU = udf((n: String) =>
      Names.extractTags(Names.extractName(n)) + ("aggregatedBy" -> func))
    val base = Seq(
      nameFor(col("gk")).as("name"),
      tagsU(nameFor(col("gk"))).as("tags"),
      col("start"), col("step"), col("values"))
    grouped.select((if (implicitGk) base :+ col("gk").as("_gk") else base): _*)
  }

  /** sumSeries / averageSeries / … canonical naming: `<token>Series(rawArgs)`
    * where the token is the callback/alias VERBATIM — `aggregate(m,"avg")`
    * names `avgSeries(m)`, `total(…)` names `totalSeries(…)` (ref
    * aggregate/function.go:57,80 `target = callback + "Series"`).
    *
    * When a multi-arg form fetched fewer series than it has arguments, the
    * reference rewrites the name to list only the surviving series — graphite-
    * web drops non-existing metrics from `sumSeries(a,b,missing)` (ref
    * helper.GetSeriesArgsAndRemoveNonExisting helper.go:68-82). `argsLen` > 1
    * opts into that rewrite: the surviving names ride a one-row broadcast
    * cross-join, so the hot single-glob path pays nothing.
    */
  def aggregateNamed(df: DataFrame, func: String, rawArgs: String, xff: Double = 0.0,
                     align: Boolean = false, argsLen: Int = 1,
                     nameToken: Option[String] = None): DataFrame = {
    val static = s"${nameToken.getOrElse(func)}Series($rawArgs)"
    val out0 = aggregateSeries(df, func, xff, nameFor = _ => lit(static), align = align)
    // aggregating a seriesByTag(...) fetch keeps the tags COMMON to every
    // input (plus a name fallback), not the parsed wrapper — so
    // aliasByTags(sum(seriesByTag(…)),'tag2') still resolves
    // (ref CopyNameArg types.go:628-640, GetCommonTags helper.go:209-222).
    // The intersection is a per-(key,value) count matched against the series
    // count — map-side combinable, no per-group list collection.
    val out =
      if (!Names.extractName(static).startsWith("seriesByTag(")) out0
      else {
        val nRows = df.agg(count(lit(1)).as("_n"))
        val common = df.select(explode(map_entries(col("tags"))).as("e"))
          .groupBy(col("e.key").as("k"), col("e.value").as("v")).agg(count(lit(1)).as("c"))
          .crossJoin(broadcast(nRows)).where(col("c") === col("_n"))
          .agg(map_from_entries(collect_list(struct(col("k"), col("v")))).as("_ct"))
        val withName = when(element_at(col("_ct"), "name").isNull,
            map_concat(col("_ct"), map(lit("name"), col("name"))))
          .otherwise(col("_ct"))
        out0.crossJoin(broadcast(common))
          .withColumn("tags", map_concat(
            map_filter(withName, (k, _) => k =!= "aggregatedBy"),
            map(lit("aggregatedBy"), lit(func))))
          .drop("_ct")
      }
    if (argsLen <= 1) out
    else {
      // survivors in (argument position, name) order; the rewrite fires only
      // when fewer series than AST arguments came back
      val ordCol = if (df.columns.contains("_argOrd")) col("_argOrd") else lit(0)
      val survivors = df.select(ordCol.as("_o"), col("name"))
        .agg(array_sort(collect_set(struct(col("_o"), col("name")))).as("_sv"))
        .select(col("_sv"), size(col("_sv")).as("_svn"))
      val dynName = when(col("_svn") < argsLen && col("_svn") > 0,
          concat(lit(s"${func}Series("),
            array_join(transform(col("_sv"), s => s.getField("name")), ","), lit(")")))
        .otherwise(lit(static))
      val tagsU = udf((n: String) =>
        Names.extractTags(Names.extractName(n)) + ("aggregatedBy" -> func))
      out.crossJoin(broadcast(survivors))
        .withColumn("name", dynName)
        .withColumn("tags", tagsU(dynName))
        .drop("_sv", "_svn")
    }
  }

  /** groupByNode(s): aggregate per dot-node key; `dropNodes` instead keeps
    * all nodes EXCEPT the listed positions (the WithWildcards family, ref
    * aggregateWithWildcards/function.go). (ref groupByNode/function.go:30-140) */
  def groupByNodes(df: DataFrame, func: String, nodes: Seq[Either[String, Int]],
                   dropNodes: Seq[Int] = Nil, align: Boolean = false): DataFrame = {
    val key =
      if (dropNodes.nonEmpty) {
        // keep every node EXCEPT the listed positions (negatives count from
        // the end) — expression-only filter over the split array
        val parts = split(col("name"), "\\.")
        val kept = filter(parts, (_, idx) =>
          !dropNodes.map(d => idx === (if (d >= 0) lit(d) else size(parts) + lit(d)))
            .reduce(_ || _))
        array_join(kept, ".")
      } else if (nodes.isEmpty) col("name") // WithWildcards with no positions:
        // every series is its own group, unchanged name + aggregatedBy tag
        // (ref aggregateWithWildcards/function_test.go:147-177)
      else nodeOrTagKey(col("name"), col("tags"), nodes)
    aggregateSeries(df, func, groupKey = Some(key), nameFor = identity, align = align)
  }

  /** groupByTags: aggregate per tag-values key. The group key IS the output
    * name: the series' name tag when "name" is grouped on, else the callback,
    * followed by `;tag=value` for every OTHER requested tag in ALPHABETICAL
    * order — a missing tag still contributes `;tag=`
    * (ref groupByTags/function.go:52-85). */
  def groupByTags(df: DataFrame, func: String, tagKeys: Seq[String],
                  align: Boolean = false): DataFrame = {
    val sortedTags = tagKeys.distinct.sorted
    val head =
      if (tagKeys.contains("name")) coalesce(element_at(col("tags"), "name"), lit(""))
      else lit(func)
    val rest = sortedTags.filter(_ != "name").map(t =>
      concat(lit(";" + t + "="), coalesce(element_at(col("tags"), t), lit(""))))
    val key = concat(head +: rest: _*)
    aggregateSeries(df, func, groupKey = Some(key), nameFor = identity, align = align)
  }

  /** Dot-node key extraction with negative indices (ref helper.AggKey,
    * expr/helper/helper.go:85-109). Pure-expression (codegen'd, no UDF):
    * element_at's 1-based/negative indexing matches the reference's
    * from-the-end rule and returns NULL out of range, which concat_ws
    * skips — the same "drop invalid nodes" behavior as the reference's
    * flatMap. Keeps the groupBy key inside whole-stage codegen. */
  def nodeKey(name: Column, nodes: Seq[Int]): Column = {
    val parts = split(name, "\\.")
    concat_ws(".", nodes.map(i => element_at(parts, if (i >= 0) i + 1 else i)): _*)
  }

  /** Mixed node-or-tag key (ref helper.AggKey:85-108): ints address dot
    * nodes (out-of-range skipped), strings look up the series' tag value
    * (missing tags contribute an EMPTY segment, exactly like the
    * reference's `metricTags[tagStr]` zero value). */
  def nodeOrTagKey(name: Column, tags: Column, nts: Seq[Either[String, Int]]): Column = {
    // node indexing operates on the INNER metric path — function wrappers
    // stripped, the seriesByTag call kept whole, braces guarded — exactly
    // AggKey's ExtractNameTag + dot split (ref helper.go:85-106,
    // extract.go:69-110): aliasByNode(sumSeries(metric.{a,b}*.b),1,2) keys
    // on metric.{a,b}*.b, not on the rendered wrapper
    val innerU = udf((s: String) => Names.extractNameTag(s))
    val parts = split(innerU(name), "\\.")
    concat_ws(".", nts.map {
      case Right(i) => element_at(parts, if (i >= 0) i + 1 else i)
      case Left(t)  => coalesce(element_at(tags, t), lit(""))
    }: _*)
  }

  /** Exactly-one-series guard (ref types.ErrWildcardNotAllowed,
    * expr/types/types.go:21-22): collapses a series frame to ONE row,
    * raising at runtime when the argument matched 0 or >1 series — the
    * reference errors on `len(arg) != 1` at pearson/function.go:43,
    * kolmogorovSmirnovTest2/function.go:44 and pearsonClosest/function.go:44.
    * `first` (not min) because tags is a MapType, which Spark cannot order;
    * the n==1 guard makes first deterministic. The count folds map-side —
    * one row crosses the wire. */
  private[engine] def requireOneSeries(df: DataFrame, op: String): DataFrame = {
    // the guard rides on EVERY output column: a caller that projects only
    // `values` (pearsonClosest) would otherwise let Catalyst prune the one
    // column carrying the raise_error and skip the check entirely
    def guarded(c: Column) = when(col("n") =!= 1, raise_error(concat(
      lit(s"$op: found wildcard where series expected (matched "),
      col("n"), lit(" series)")))).otherwise(c)
    df.select(struct(col("name"), col("tags"), col("start"), col("step"), col("values")).as("s"))
      .agg(first(col("s")).as("s"), count(lit(1)).as("n"))
      .select(
        guarded(col("s.name")).as("name"), guarded(col("s.tags")).as("tags"),
        guarded(col("s.start")).as("start"), guarded(col("s.step")).as("step"),
        guarded(col("s.values")).as("values"))
  }

  /** asPercent with no total: each point as % of the per-ts sum over all
    * series. The total is ONE aggregated row → broadcast join back, zero
    * extra shuffle of the big side. (ref asPercent/function.go:40-250 mode 1) */
  def asPercentOfTotal(df: DataFrame): DataFrame = {
    // under groupByNode the `_gk` key scopes the total to each group
    // (aggregateSeries groups implicitly and re-emits `_gk`); bare frames
    // keep the single-row global total + broadcast crossJoin
    val hasGk = df.columns.contains("_gk")
    val totalRows = aggregateSeries(df, "sum")
    val total =
      if (hasGk) totalRows.select(col("values").as("totValues"), col("_gk"))
      else totalRows.select(col("values").as("totValues"))
    val joined =
      if (hasGk) df.join(broadcast(total), "_gk")
      else df.crossJoin(broadcast(total))
    joined
      .withColumn("values",
        zip_with(col("values"), col("totValues"), pctOf))
      .drop("totValues")
      .transform(d => rewrap(d, "asPercent"))
  }

  /** NaN-guarded percentage kernel shared by every asPercent mode:
    * NaN when either side is NaN or the total is 0 (ref asPercent/function.go
    * calculatePercentage). */
  private def pctOf(v: Column, t: Column): Column =
    when(isnan(v) || isnan(t) || t === 0.0, lit(Double.NaN)).otherwise(v * lit(100.0) / t)

  /** asPercent group mode: each series as % of its node-group's point-wise
    * sum — the per-group totals are few (one per group) and broadcast back.
    * (ref asPercent/function.go seriesGroupAsPercent — names asPercent(x,None)) */
  def asPercentByNodes(df: DataFrame, nodes: Seq[Either[String, Int]]): DataFrame = {
    val key = nodeOrTagKey(col("name"), col("tags"), nodes)
    val totals = aggregateSeries(df, "sum", groupKey = Some(key))
      .select(col("name").as("gk"), col("values").as("totValues"))
    df.withColumn("gk", key)
      .join(broadcast(totals), "gk")
      .withColumn("values",
        zip_with(col("values"), col("totValues"), pctOf))
      .drop("gk", "totValues")
      .transform(d => rewrap(d, "asPercent", Seq("None")))
  }

  /** asPercent vs a constant. */
  def asPercentConst(df: DataFrame, total: Double): DataFrame =
    rewrap(mapPointwise(df, v => pctOf(v, lit(total))), "asPercent", Seq(fmtNum(total)))

  /** asPercent(seriesList, totalList): the reference branches on the total
    * COUNT — 1 series divides everything, several pair positionally after a
    * name sort (ref asPercent/function.go seriesAsPercent). The count is one
    * tiny job over series rows (not points); both branches then stay
    * plan-only. */
  def asPercentTotal(df: DataFrame, totals: DataFrame, align: Boolean = false): DataFrame = {
    // the percentage zips positionally, so both sides must share one grid —
    // the reference alignSeries()es series+totals together before dividing
    // (ref asPercent/function.go:60); a timeShifted total would otherwise
    // pair values from different timestamps. Metadata-gated like every
    // other align: uniform-step stores with a shared fixture grid skip it.
    // the total count and the returned division both read the totals
    // (with align, the common-grid union of both sides)
    val (d2, t2) =
      if (!align) (df, Eval.pin(totals))
      else {
        val both = Eval.pin(Align.scaleToCommonStep(
          df.withColumn("_ap_side", lit(0))
            .unionByName(totals.withColumn("_ap_side", lit(1)), allowMissingColumns = true)))
        (both.where(col("_ap_side") === 0).drop("_ap_side"),
          both.where(col("_ap_side") === 1).drop("_ap_side"))
      }
    val n = t2.select(col("name")).limit(3).count()
    if (n == 0)
      rewrap(mapPointwise(d2, _ => lit(Double.NaN)), "asPercent", Seq("MISSING"))
    else if (n == 1) {
      val t1 = t2.select(col("name").as("tName"), col("values").as("tValues"))
      d2.crossJoin(broadcast(t1))
        .withColumn("values", zip_with(col("values"), col("tValues"), pctOf))
        .withColumn("name", concat(lit("asPercent("), col("name"), lit(","), col("tName"), lit(")")))
        .drop("tName", "tValues")
    } else asPercentPairwise(d2, t2)
  }

  /** Multi-series total: sort both lists by name, pair positionally; the
    * unmatched tail of either side surfaces as asPercent(x,MISSING) /
    * asPercent(MISSING,x) all-NaN series (ref seriesAsPercent, len>1 branch).
    * Positional index via [[PairOps.indexByName]] — no unpartitioned window. */
  def asPercentPairwise(df: DataFrame, totals: DataFrame): DataFrame = {
    val ai = PairOps.indexByName(
      df.select(col("name").as("aName"), col("tags").as("aTags"),
        col("start").as("aStart"), col("step").as("aStep"), col("values").as("aValues")),
      "aName")
    val ti = PairOps.indexByName(
      totals.select(col("name").as("tName"), col("start").as("tStart"),
        col("step").as("tStep"), col("values").as("tValues")),
      "tName")
    asPercentJoinOut(ai.join(ti, Seq("_i"), "full_outer"))
  }

  /** asPercent(seriesList, totalList, *nodes): group both sides by node key;
    * a single-series total group divides its whole arg group, larger groups
    * pair positionally, unmatched groups/rows become MISSING
    * (ref asPercent/function.go seriesGroup2AsPercent). */
  def asPercentGroupTotal(df: DataFrame, totals: DataFrame, nodes: Seq[Either[String, Int]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ai = df.select(col("name").as("aName"), col("tags").as("aTags"),
        col("start").as("aStart"), col("step").as("aStep"), col("values").as("aValues"))
      .withColumn("_ak", nodeOrTagKey(col("aName"), col("aTags"), nodes))
      .withColumn("_ai", row_number().over(Window.partitionBy(col("_ak")).orderBy(col("aName"))))
    val ti = totals.select(col("name").as("tName"), col("tags").as("tTags"),
        col("start").as("tStart"), col("step").as("tStep"), col("values").as("tValues"))
      .withColumn("_tk", nodeOrTagKey(col("tName"), col("tTags"), nodes))
      .drop("tTags")
      .withColumn("_ti", row_number().over(Window.partitionBy(col("_tk")).orderBy(col("tName"))))
      .withColumn("_tc", count(lit(1)).over(Window.partitionBy(col("_tk"))))
    // non-equi full outer (single-total groups fan out) — a nested-loop join
    // over SERIES rows, bounded by list sizes, same argument as PairOps
    val cond = col("_ak") === col("_tk") && (col("_tc") === 1 || col("_ai") === col("_ti"))
    asPercentJoinOut(ai.join(ti, cond, "full_outer").drop("_ak", "_ai", "_tk", "_ti", "_tc"))
  }

  private def asPercentJoinOut(joined: DataFrame): DataFrame = {
    val outVals = when(col("aValues").isNull, transform(col("tValues"), _ => lit(Double.NaN)))
      .when(col("tValues").isNull, transform(col("aValues"), _ => lit(Double.NaN)))
      .otherwise(zip_with(col("aValues"), col("tValues"), pctOf))
    joined.select(
      concat(lit("asPercent("), coalesce(col("aName"), lit("MISSING")),
        lit(","), coalesce(col("tName"), lit("MISSING")), lit(")")).as("name"),
      coalesce(col("aTags"), map(lit("name"), lit("MISSING"))).as("tags"),
      coalesce(col("aStart"), col("tStart")).as("start"),
      coalesce(col("aStep"), col("tStep")).as("step"),
      outVals.as("values"))
  }

  /** divideSeries: every dividend ÷ the single divisor series; 0/NaN divisor →
    * NaN. A multi-series divisor errors like the reference
    * (ref divideSeries/function.go:70, ErrWildcardNotAllowed) — enforced
    * inside the plan via raise_error, no extra driver action. An EMPTY
    * divisor (failed or matchless fetch) keeps every dividend as an all-NaN
    * `divideSeries(name,MISSING)` series (ref function.go:55-66). */
  /** divideSeries: every numerator over ONE broadcast denominator. Each
    * pair is step-consolidated and length-padded like the reference's
    * ConsolidateSeriesByStep (LCM step, floor-aligned start, NaN tail for
    * ragged lengths — ref divideSeries/function.go:91, align.go:382-395);
    * 0 or NaN denominators produce NaN. A missing denominator divides by
    * MISSING → all-NaN (graphite-web compatibility). */
  def divideSeries(dividends: DataFrame, divisor: DataFrame,
                   staticName: Option[String] = None): DataFrame = {
    val d1 = divisor.select(struct(col("name"), col("values"), col("start"), col("step"),
        element_at(col("tags"), "consolidateBy").as("cons")).as("s"))
      .agg(min(col("s")).as("s"), count(lit(1)).as("n"))
      .select(
        when(col("n") > 1,
          raise_error(concat(lit("divideSeries: divisor must reference exactly one series, got "), col("n"))))
          .when(col("n") === 0, lit("MISSING"))
          .otherwise(col("s.name")).as("divName"),
        col("s.values").as("divValues"), col("s.start").as("divStart"),
        col("s.step").as("divStep"), col("s.cons").as("divCons"))
    val pairU = udf((v1: Seq[Double], s1: Long, p1: Long, c1: String,
                     v2: Seq[Double], s2: Long, p2: Long, c2: String) => {
      val (start, step, nv, dv) = Align.consolidatePair(
        v1, s1, p1, Option(c1).map(_.stripPrefix("'").stripSuffix("'")).getOrElse("average"),
        v2, s2, p2, Option(c2).map(_.stripPrefix("'").stripSuffix("'")).getOrElse("average"))
      val out = new Array[Double](nv.length)
      var i = 0
      while (i < nv.length) {
        val d = if (i < dv.length) dv(i) else Double.NaN
        out(i) = if (d == 0.0 || java.lang.Double.isNaN(d)) Double.NaN else nv(i) / d
        i += 1
      }
      (start, step, out)
    })
    val named = dividends.crossJoin(broadcast(d1))
      .withColumn("_r",
        when(col("divValues").isNull,
          struct(col("start").as("_1"), col("step").as("_2"),
            transform(col("values"), _ => lit(Double.NaN)).as("_3")))
          .otherwise(pairU(col("values"), col("start"), col("step"),
            element_at(col("tags"), "consolidateBy"),
            col("divValues"), col("divStart"), col("divStep"), col("divCons"))))
      .withColumn("start", col("_r._1").cast("long"))
      .withColumn("step", col("_r._2").cast("long"))
      .withColumn("values", col("_r._3"))
    (staticName match {
      case Some(n) => named.withColumn("name", lit(n))
      case None => named.withColumn("name",
        concat(lit("divideSeries("), col("name"), lit(","), col("divName"), lit(")")))
    }).drop("divName", "divValues", "divStart", "divStep", "divCons", "_r")
  }

  // ------------------------------------------------------------- point-wise
  // All are codegen'd `transform` HOFs: no UDF boundary, no shuffle.

  def mapPointwise(df: DataFrame, f: Column => Column): DataFrame =
    df.withColumn("values", transform(col("values"), f))

  def absolute(df: DataFrame): DataFrame = rewrap(mapPointwise(df, abs(_)), "absolute")
  /** offset keeps the CALLED token (`add` or `offset`) in the output name
    * and tags it with the factor (ref offset/function.go:22,48-50). */
  def offset(df: DataFrame, c: Double, fn: String = "offset"): DataFrame =
    rewrap(mapPointwise(df, _ + lit(c)), fn, Seq(fmtNum(c)), tagValue = Some(fmtNum(c)))
  def scale(df: DataFrame, c: Double): DataFrame =
    rewrap(mapPointwise(df, _ * lit(c)), "scale", Seq(fmtNum(c)), tagValue = Some(fmtNum(c)))
  /** invert: 1/x with 0 → NaN (ref invert/function.go:33-38). */
  def invert(df: DataFrame): DataFrame =
    rewrap(mapPointwise(df, v => when(v === 0.0, lit(Double.NaN)).otherwise(lit(1.0) / v)), "invert")
  /** pow: NaN in is NaN out even for exponent 0, where Math.pow would give 1
    * (ref pow/function.go:53-58). */
  def powS(df: DataFrame, c: Double): DataFrame = rewrap(mapPointwise(df,
    v => when(isnan(v), v).otherwise(pow(v, lit(c)))), "pow", Seq(fmtNum(c)),
    tagValue = Some(fmtNum(c)))
  def squareRoot(df: DataFrame): DataFrame = rewrap(mapPointwise(df, sqrt(_)), "squareRoot")
  def expS(df: DataFrame): DataFrame = rewrap(mapPointwise(df, exp(_)), "exp")
  /** logarithm/log: name carries the base only when the caller gave one
    * (ref logarithm/function.go:52-54). */
  def logarithm(df: DataFrame, base: Double = 10, explicitBase: Boolean = false): DataFrame =
    rewrap(mapPointwise(df, v => coalesce(log(base, v), lit(Double.NaN))), "logarithm",
      if (explicitBase) Seq(fmtNum(base)) else Nil)
  /** logit: v==1 is NaN, not +Inf (ref logit/function.go:46-50). Out-of-
    * domain inputs (v ≥ 1 or v ≤ 0) must come out NaN — i.e. an ABSENT
    * point — like the reference's math.Log(negative); Spark's `log`
    * returns NULL there instead, and a NULL value slips past the NaN drop
    * (IsNaN(null) = false), so coalesce NULL back to NaN. Found by the r8
    * sf0.1 oracle sweep (scaled values crossed 1 only at that SF). */
  def logit(df: DataFrame): DataFrame = rewrap(mapPointwise(df,
    v => when(v === 1.0, lit(Double.NaN))
      // Go math.Log(0) is -Inf, not NaN: logit(0) must come out -Inf like
      // the reference (JSON nulls it, but pickle/pb and downstream
      // functions see the difference); Spark's log NULLs zero and
      // negatives alike, so split the two cases explicitly
      .when(v === 0.0, lit(Double.NegativeInfinity))
      .otherwise(coalesce(log(v / (lit(1.0) - v)), lit(Double.NaN)))), "logit",
    // the reference tags logit="logit", not the usual "1" (function.go:44)
    tagValue = Some("logit"))
  def sigmoid(df: DataFrame): DataFrame =
    rewrap(mapPointwise(df, v => lit(1.0) / (lit(1.0) + exp(-v))), "sigmoid",
      tagValue = Some("sigmoid"))

  /** scaleToSeconds: v * seconds/step. (ref scaleToSeconds/function.go) */
  def scaleToSeconds(df: DataFrame, seconds: Long): DataFrame =
    rewrap(df.withColumn("values",
      transform(col("values"), v => v * lit(seconds.toDouble) / col("step"))),
      "scaleToSeconds", Seq(seconds.toString))

  /** offsetToZero: v - min(series). (ref offsetToZero/function.go) */
  def offsetToZero(df: DataFrame): DataFrame = {
    val minC = vecScalar(Kernels.min)(col("values"))
    rewrap(df.withColumn("_m", minC)
      .withColumn("values", transform(col("values"), v => v - col("_m")))
      .drop("_m"), "offsetToZero")
  }

  /** minMax: (v-min)/(max-min) per series; degenerate range → 0. (ref minMax/function.go) */
  def minMax(df: DataFrame): DataFrame = {
    val minC = vecScalar(Kernels.min)(col("values"))
    val maxC = vecScalar(Kernels.max)(col("values"))
    rewrap(df.withColumn("_lo", minC).withColumn("_hi", maxC)
      .withColumn("values", transform(col("values"),
        v => when(col("_hi") === col("_lo"), when(isnan(v), v).otherwise(lit(0.0)))
          .otherwise((v - col("_lo")) / (col("_hi") - col("_lo")))))
      .drop("_lo", "_hi"), "minMax")
  }

  def isNonNull(df: DataFrame): DataFrame =
    rewrap(mapPointwise(df, v => when(isnan(v), lit(0.0)).otherwise(lit(1.0))), "isNonNull")

  def transformNull(df: DataFrame, default: Double): DataFrame =
    rewrap(mapPointwise(df, v => when(isnan(v), lit(default)).otherwise(v)),
      "transformNull", Seq(fmtNum(default)))

  def removeBelowValue(df: DataFrame, n: Double): DataFrame =
    rewrap(mapPointwise(df, v => when(v < lit(n), lit(Double.NaN)).otherwise(v)),
      "removeBelowValue", Seq(" " + fmtNum(n)))
  def removeAboveValue(df: DataFrame, n: Double): DataFrame =
    rewrap(mapPointwise(df, v => when(v > lit(n), lit(Double.NaN)).otherwise(v)),
      "removeAboveValue", Seq(" " + fmtNum(n)))

  /** removeAbovePercentile / removeBelowPercentile: NaN every point above
    * (below) the series' own n-th percentile. One UDF over the whole array
    * computes the percentile ONCE per series and masks in the same pass —
    * a threshold column would be inlined by Catalyst into a per-point
    * `transform` lambda, sorting the series once per point. The compare
    * keeps Spark's double ordering (NaN above every number, a NaN threshold
    * included). */
  def removePercentile(df: DataFrame, n: Double, above: Boolean): DataFrame =
    rewrap(mapVec(df, v => {
      val p = Kernels.percentile(v, n, interpolate = false)
      v.map { x =>
        val c = if (x == p) 0 else java.lang.Double.compare(x, p)
        if (if (above) c > 0 else c < 0) Double.NaN else x
      }
    }), if (above) "removeAbovePercentile" else "removeBelowPercentile",
      Seq(" " + fmtNum(n)))

  /** round to precision with banker's rounding; name carries the precision
    * only when given (ref round/function.go:47-49, helper.SafeRound). */
  def roundS(df: DataFrame, precision: Option[Int]): DataFrame = {
    val p = precision.getOrElse(0)
    val u = udf((v: Seq[Double]) => v.map(Kernels.safeRound(_, p)))
    rewrap(df.withColumn("values", u(col("values"))), "round", precision.map(_.toString).toSeq)
  }

  /** timeSlice: NaN outside [startTs, endTs]; name and tags carry the epoch
    * bounds (ref timeSlice/function.go:67-82). */
  /** timeSlice: NaN outside [start, end] (both inclusive); tags record the
    * resolved epoch bounds (ref timeSlice/function.go:67-82 SetTags). */
  def timeSlice(df: DataFrame, startTs: Long, endTs: Long): DataFrame =
    rewrap(df.withColumn("values",
      transform(col("values"), (v, i) => {
        val ts = col("start") + i.cast("long") * col("step")
        when(ts < lit(startTs) || ts > lit(endTs), lit(Double.NaN)).otherwise(v)
      })), "timeSlice", Seq(startTs.toString, endTs.toString))
      .withColumn("tags", map_concat(
        map_filter(col("tags"), (k, _) => k =!= "timeSliceStart" && k =!= "timeSliceEnd"),
        map(lit("timeSliceStart"), lit(startTs.toString),
            lit("timeSliceEnd"), lit(endTs.toString))))

  // ------------------------------------------------------------- sequential

  def derivative(df: DataFrame): DataFrame = rewrap(mapVec(df, VecOps.derivative), "derivative")
  def nonNegativeDerivative(df: DataFrame, maxValue: Double = Double.NaN,
                            minValue: Double = Double.NaN, nameArgs: Seq[String] = Nil): DataFrame =
    rewrap(mapVec(df, VecOps.nonNegativeDerivative(_, maxValue, minValue)),
      "nonNegativeDerivative", nameArgs)
  def perSecond(df: DataFrame, maxValue: Double = Double.NaN,
                minValue: Double = Double.NaN, nameArgs: Seq[String] = Nil): DataFrame = {
    val u = udf((v: Seq[Double], step: Long) =>
      VecOps.perSecond(v.toArray, step, maxValue, minValue))
    rewrap(df.withColumn("values", u(col("values"), col("step"))), "perSecond", nameArgs)
  }
  def integral(df: DataFrame): DataFrame = rewrap(mapVec(df, VecOps.integral), "integral")
  def integralByInterval(df: DataFrame, interval: Long, argStr: String): DataFrame = {
    val u = udf((v: Seq[Double], start: Long, step: Long) =>
      VecOps.integralByInterval(v.toArray, start, step, interval))
    rewrap(df.withColumn("values", u(col("values"), col("start"), col("step"))),
      "integralByInterval", Seq(s"'$argStr'"), tagValue = Some(argStr))
  }
  def keepLastValue(df: DataFrame, limit: Double = Double.PositiveInfinity,
                    nameArgs: Seq[String] = Nil): DataFrame =
    rewrap(mapVec(df, VecOps.keepLastValue(_, limit)), "keepLastValue", nameArgs)
  def interpolateS(df: DataFrame, limit: Double = Double.PositiveInfinity): DataFrame =
    rewrap(mapVec(df, VecOps.interpolate(_, limit)), "interpolate")
  def changed(df: DataFrame): DataFrame = rewrap(mapVec(df, VecOps.changed), "changed")
  def delay(df: DataFrame, steps: Int): DataFrame =
    rewrap(mapVec(df, VecOps.delay(_, steps)), "delay", Seq(steps.toString))

  // --------------------------------------------------------------- windowed

  /**
   * moving{Average,Sum,Min,Max,Median,Window}: trailing window of
   * Right(points) or Left(seconds). The input is expected to be fetched with
   * `start` widened by the preview (planner concern — ref
   * pkg/parser/parser.go:255-268); output is re-stamped to start+preview with
   * len-windowPoints points (ref moving/function.go:186-250).
   *
   * Interval windows derive windowPoints from each series' OWN step (ref
   * windowPoints = preview / a.StepTime); a step larger than the interval
   * (windowPoints=0) yields the reference's all-NaN series. `argStr` is the
   * user's original window argument, reproduced in the output name
   * (`movingSum(x,'6h')`, not the derived point count).
   */
  def movingWindow(df: DataFrame, window: Either[Long, Int], func: String, xff: Double,
                   fnName: String, argStr: String, xffExplicit: Boolean = true): DataFrame = {
    val u = udf((v: Seq[Double], step: Long, rowXff: Double) => {
      val n = window match {
        case Right(points) => points
        case Left(seconds) => (seconds / math.max(step, 1L)).toInt
      }
      if (n <= 0) Array.fill(v.length)(Double.NaN)
      else VecOps.movingWindow(v.toArray, n, func, rowXff)
    })
    // no explicit xff arg → each series' own xFilesFactor tag (set by
    // setXFilesFactor upstream) is the default, like the reference's
    // GetFloatArgDefault(_, args[0].XFilesFactor) (ref moving/function.go:149-156
    // — the reference reads the FIRST series' value; per-series is identical
    // for the uniform-xff frames setXFilesFactor produces)
    val xffCol =
      if (xffExplicit) lit(xff)
      else coalesce(element_at(col("tags"), "xFilesFactor").cast("double"), lit(xff))
    val preview = window match {
      case Right(points) => lit(points.toLong) * col("step")
      case Left(seconds) => lit(seconds)
    }
    rewrap(df.withColumn("values", u(col("values"), col("step"), xffCol))
      .withColumn("start", col("start") + preview),
      fnName, Seq(argStr), tagValue = Some(argStr))
  }

  /** nPercentile: flat line at each series' n-th percentile (NaN-filtered,
    * interpolated). (ref nPercentile/function.go:30-60,
    * consolidations.Percentile interpolate=true) */
  def nPercentile(df: DataFrame, n: Double): DataFrame = {
    val pc = vecScalar(v => Kernels.percentile(v.filter(x => !Kernels.isNaN(x)), n, interpolate = true))(col("values"))
    rewrap(df.withColumn("_p", pc)
      .withColumn("values", transform(col("values"), _ => col("_p")))
      .drop("_p"), "nPercentile", Seq(fmtNum(n)), tagValue = Some(fmtNum(n)))
  }

  /** summarize: re-bucket into `interval`-second buckets.
    * (ref summarize/function.go:43-150; bucket alignment helper.AlignToBucketSize) */
  /** Core re-bucketing for summarize: interval-second buckets anchored at
    * the epoch multiple (or the series start when alignToFrom). */
  private def rebucket(df: DataFrame, interval: Long, func: String,
                       alignToFrom: Boolean): DataFrame = {
    val u = udf((v: Seq[Double], start: Long, step: Long, xf: Double) => {
      val vals = v.toArray
      val newStart = if (alignToFrom) start else math.floorDiv(start, interval) * interval
      val stop = start + vals.length * step
      // bucket-aligned mode appends one empty trailing bucket, mirroring
      // newStop += bucketSize (ref summarize/function.go:72-75)
      val nOut = math.ceil((stop - newStart).toDouble / interval).toInt +
        (if (alignToFrom) 0 else 1)
      val out = new Array[Double](math.max(nOut, 0))
      var b = 0
      while (b < nOut) {
        val bLo = newStart + b * interval
        val bHi = bLo + interval
        val iLo = math.max(((bLo - start + step - 1) / step).toInt, 0)
        val iHi = math.min(math.ceil((bHi - start).toDouble / step).toInt, vals.length)
        val bucket = if (iHi > iLo) java.util.Arrays.copyOfRange(vals, iLo, iHi) else Array.empty[Double]
        // per-series xff gate, like the reference's SummarizeValues(...,
        // arg.XFilesFactor) (ref summarize/function.go:136)
        out(b) = Kernels.summarizeValues(func, bucket, xf.toFloat)
        b += 1
      }
      (newStart, out)
    })
    df.withColumn("_r", u(col("values"), col("start"), col("step"), SeriesFrame.xffTag))
      .withColumn("start", col("_r._1"))
      .withColumn("values", col("_r._2"))
      .withColumn("step", lit(interval))
      .drop("_r")
  }

  /** summarize naming is reference-exact: the USER'S interval string (not
    * normalized seconds), func only when explicitly given, align flag only
    * when explicitly given (ref summarize/function.go:80-95). */
  def summarize(df: DataFrame, interval: Long, func: String = "sum",
                alignToFrom: Boolean = false, rawInterval: String = "",
                funcOk: Boolean = true, alignOk: Boolean = false): DataFrame = {
    val raw = if (rawInterval.nonEmpty) rawInterval else s"${interval}s"
    val suffix = (if (funcOk || alignOk) s",'$func'" else "") +
      (if (alignOk) s",$alignToFrom" else "")
    rebucket(df, interval, func, alignToFrom)
      .transform(d => d
        .withColumn("name", concat(lit("summarize("), col("name"), lit(s",'$raw'$suffix)")))
        .withColumn("tags", map_concat(
          map_filter(col("tags"), (k, _) => k =!= "summarize" && k =!= "summarizeFunction"),
          map(lit("summarize"), lit(raw), lit("summarizeFunction"), lit(func)))))
  }

  /** hitcount: per-bucket total hits (value × overlap-seconds), stop-anchored
    * buckets, proportional spreading across boundaries; alignToInterval
    * (fetch start pre-aligned by the caller) extends stop to the next bucket
    * edge and appends ",true" to the name. (ref hitcount/function.go:32-153) */
  def hitcount(df: DataFrame, interval: Long, bucketStr: String,
               alignToInterval: Boolean = false): DataFrame = {
    val u = udf((v: Seq[Double], start: Long, step: Long) =>
      VecOps.hitcount(v.toArray, start, step, interval, alignToInterval))
    val suffix = if (alignToInterval) ",true" else ""
    df.withColumn("_r", u(col("values"), col("start"), col("step")))
      .withColumn("start", col("_r._1"))
      .withColumn("values", col("_r._2"))
      .withColumn("step", lit(interval))
      .drop("_r")
      .withColumn("name", concat(lit("hitcount("), col("name"), lit(s",'$bucketStr'$suffix)")))
      .withColumn("tags", map_concat(
        map_filter(col("tags"), (k, _) => k =!= "hitcount"),
        map(lit("hitcount"), lit(interval.toString))))
  }

  /**
   * exponentialMovingAverage over a preview-widened fetch: seed = mean of the
   * first window (0 if all-NaN), SafeRound(6) per point, NaN passthrough with
   * state held; output drops the seed window and re-stamps start+preview.
   * String windows use alpha = 2/(seconds+1) — the reference's (quirky)
   * constant — and derive window points from each series' own step.
   * (ref exponentialMovingAverage/function.go:60-140)
   */
  def ema(df: DataFrame, window: Either[Long, Int], argStr: String): DataFrame = {
    val u = udf((v: Seq[Double], step: Long) => {
      val (points, alpha) = window match {
        case Right(n) => (n, 2.0 / (n + 1))
        case Left(seconds) => ((seconds / math.max(step, 1L)).toInt, 2.0 / (seconds + 1))
      }
      VecOps.emaRef(v.toArray, points, alpha)
    })
    val preview = window match {
      case Right(n) => lit(n.toLong) * col("step")
      case Left(seconds) => lit(seconds)
    }
    rewrap(df.withColumn("values", u(col("values"), col("step")))
      .withColumn("start", col("start") + preview),
      "exponentialMovingAverage", Seq(argStr), tagValue = Some(argStr))
  }

  def ewma(df: DataFrame, alpha: Double): DataFrame =
    rewrap(mapVec(df, VecOps.emaAlpha(_, alpha)), "ewma", Seq(fmtNum(alpha)))

  /** linearRegression: replace each series by its least-squares line; name
    * carries quoted source-range args when given
    * (ref linearRegression/function.go:44-50). */
  def linearRegression(df: DataFrame, nameArgs: Seq[String] = Nil): DataFrame = {
    val u = udf((v: Seq[Double]) => {
      val (slope, icept) = VecOps.linFit(v.toArray)
      v.indices.map(i => icept + slope * i).toArray
    })
    rewrap(df.withColumn("values", u(col("values"))), "linearRegression", nameArgs)
  }

  // ---------------------------------------------------------------- filters

  def scalarOf(func: String): Column = vecScalar(Kernels.byName(func))(col("values"))

  def filterSeries(df: DataFrame, func: String, op: String, threshold: Double): DataFrame = {
    val s = scalarOf(func)
    val cond = op match {
      case "="  => s === lit(threshold)
      case "!=" => s =!= lit(threshold)
      case ">"  => s > lit(threshold)
      case ">=" => s >= lit(threshold)
      case "<"  => s < lit(threshold)
      case "<=" => s <= lit(threshold)
      case other => throw new IllegalArgumentException(s"filterSeries: bad op $other")
    }
    df.where(cond)
  }

  // Above is STRICT (> n), Below is INCLUSIVE (<= n) — a series sitting
  // exactly at the threshold passes Below and fails Above
  // (ref below/function.go:61-66)
  def averageAbove(df: DataFrame, n: Double): DataFrame = filterSeries(df, "average", ">", n)
  def averageBelow(df: DataFrame, n: Double): DataFrame = filterSeries(df, "average", "<=", n)
  def maximumAbove(df: DataFrame, n: Double): DataFrame = filterSeries(df, "max", ">", n)
  def maximumBelow(df: DataFrame, n: Double): DataFrame = filterSeries(df, "max", "<=", n)
  def minimumAbove(df: DataFrame, n: Double): DataFrame = filterSeries(df, "min", ">", n)
  def minimumBelow(df: DataFrame, n: Double): DataFrame = filterSeries(df, "min", "<=", n)
  def currentAbove(df: DataFrame, n: Double): DataFrame = filterSeries(df, "last", ">", n)
  def currentBelow(df: DataFrame, n: Double): DataFrame = filterSeries(df, "last", "<=", n)

  /** top/bottom-k by per-series scalar → Catalyst TakeOrderedAndProject;
    * both emit ASCENDING metric order like the reference's heap pop
    * (ref highestLowest/function.go:126-146 "results should be ordered
    * ascending"), and carry the order marker so the marshal tier keeps it.
    * highest pays one extra sort over the n surviving rows only. */
  def highest(df: DataFrame, n: Int, func: String = "average"): DataFrame = {
    // the reference SKIPS series whose metric computes NaN (function.go:
    // 109-112) — without the filter an all-NaN series could surface when n
    // exceeds the valid count; lowest deliberately keeps them (the
    // reference pushes NaN into its heap there)
    // n <= 0 returns nothing (ref function.go:102-104)
    val s = when(isnan(scalarOf(func)), lit(Double.NegativeInfinity)).otherwise(scalarOf(func))
    // result order is DESCENDING metric value — the heap drain fills
    // results[len(mh)] after each pop, largest first (function.go:126-132;
    // the ordered test table highestCurrent(metric1,4) wants C(15),A(12),B(1))
    markSorted(df.where(!isnan(scalarOf(func)))
      .orderBy(s.desc, col("name")).limit(math.max(n, 0)))
  }
  def lowest(df: DataFrame, n: Int, func: String = "average"): DataFrame = {
    val s = when(isnan(scalarOf(func)), lit(Double.PositiveInfinity)).otherwise(scalarOf(func))
    markSorted(df.orderBy(s.asc, col("name")).limit(math.max(n, 0)))
  }
  def mostDeviant(df: DataFrame, n: Int): DataFrame = highest(df, n, "stddev")

  def removeEmptySeries(df: DataFrame, xff: Double = 0.0): DataFrame = {
    if (xff <= 0) df.where(exists(col("values"), v => !isnan(v)))
    else {
      val frac = vecScalar(v => { val nn = v.count(x => !Kernels.isNaN(x)); if (v.isEmpty) 0.0 else nn.toDouble / v.length })(col("values"))
      df.where(frac >= lit(xff))
    }
  }
  /** removeZeroSeries: zero counts as empty; the optional xFilesFactor is
    * the required fraction of non-NaN NON-ZERO points, like
    * removeEmptySeries' (ref removeEmptySeries/function.go shared safeIsNotEmpty). */
  def removeZeroSeries(df: DataFrame, xff: Double = 0.0): DataFrame =
    if (xff <= 0) df.where(exists(col("values"), v => !isnan(v) && v =!= 0.0))
    else {
      val frac = vecScalar(v => {
        val nz = v.count(x => !Kernels.isNaN(x) && x != 0.0)
        if (v.isEmpty) 0.0 else nz.toDouble / v.length
      })(col("values"))
      df.where(frac >= lit(xff))
    }

  def excludeS(df: DataFrame, pattern: String): DataFrame = df.where(!col("name").rlike(pattern))
  def grepS(df: DataFrame, pattern: String): DataFrame = df.where(col("name").rlike(pattern))
  /** limit: first N of the CURRENT series order — a sorted input keeps its
    * function-imposed order (TakeOrdered over the child sort), an unsorted
    * fetch takes glob/name order like the reference's fetched-list slice. */
  def limitS(df: DataFrame, n: Int): DataFrame =
    if (df.columns.contains(PresortedCol)) df.limit(n)
    else df.orderBy(col("name")).limit(n)

  def unique(df: DataFrame): DataFrame = df.dropDuplicates("name")

  // ------------------------------------------------------------ sort / name

  /** Marks a frame as carrying a FUNCTION-imposed series order: the marshal
    * tier must keep the collected row order instead of re-applying the
    * implicit glob-order sort, and `limit` must take the first N of THIS
    * order (the reference's list order just flows through its slice ops —
    * series order is a first-class result of sortBy*; ref sortBy semantics
    * + expr/sort.go applying glob order only at fetch). */
  val PresortedCol = "_presorted"
  private[engine] def markSorted(df: DataFrame): DataFrame =
    df.withColumn(PresortedCol, lit(true))

  def sortByName(df: DataFrame, reverse: Boolean = false): DataFrame =
    markSorted(df.orderBy(if (reverse) col("name").desc else col("name").asc))

  /** sortBy: order by per-series summarized scalar; NaN sorts lowest. The
    * func validates EAGERLY with the pNN escape — an unknown name is
    * ErrInvalidConsolidationFunc, not a silent NaN sort (ref
    * sortBy/function.go:65 CheckValidConsolidationFunc). */
  def sortBy(df: DataFrame, func: String = "average", reverse: Boolean = false): DataFrame = {
    require(Kernels.validConsolidations(func) || func.matches("p([0-9]*[.])?[0-9]+"),
      s"invalid consolidation $func")
    // per-series xFilesFactor reaches the summarizer like the reference's
    // SummarizeValues(aggFuncName, a.Values, a.XFilesFactor)
    val su = udf((v: Seq[Double], xf: Double) =>
      Kernels.summarizeValues(func, v.toArray, xf.toFloat))
    val raw = su(col("values"), SeriesFrame.xffTag)
    val s = when(isnan(raw), lit(Double.NegativeInfinity)).otherwise(raw)
    markSorted(df.orderBy(if (reverse) s.desc else s.asc, col("name")))
  }
  // each shorthand takes the same optional `reverse` (positional arg 2) and
  // flips its own default direction (ref sortBy/function.go:39-71)
  def sortByTotal(df: DataFrame, reverse: Boolean = false): DataFrame = sortBy(df, "sum", reverse = !reverse)
  def sortByMaxima(df: DataFrame, reverse: Boolean = false): DataFrame = sortBy(df, "max", reverse = !reverse)
  def sortByMinima(df: DataFrame, reverse: Boolean = false): DataFrame = sortBy(df, "min", reverse = reverse)

  /** alias: rename every series; tags (incl. the name tag) are PRESERVED
    * (ref alias/function.go:54 CopyLinkTags). With allowFormatStr, every
    * `${expr}` in the template takes the series' own name. */
  def alias(df: DataFrame, newName: String, allowFormatStr: Boolean = false): DataFrame = {
    val named =
      if (allowFormatStr && newName.contains("${expr}")) {
        val parts = newName.split("\\$\\{expr\\}", -1)
        concat(parts.init.flatMap(p => Seq(lit(p), col("name"))) :+ lit(parts.last): _*)
      } else lit(newName)
    df.withColumn("name", named)
  }

  def aliasByMetric(df: DataFrame): DataFrame =
    df.withColumn("name", element_at(split(col("name"), "\\."), -1))

  def aliasByNode(df: DataFrame, nodes: Seq[Either[String, Int]]): DataFrame =
    df.withColumn("name", nodeOrTagKey(col("name"), col("tags"), nodes))

  /** Graphite backrefs `\1` → Java replacement `$1`.
    * (ref helper.Backref, expr/helper/helper.go:16) */
  def toJavaBackrefs(replace: String): String =
    replace.replaceAll("""\\(\d+)""", "\\$$1")

  /** aliasSub: regex rename with backrefs. (ref aliasSub/function.go) */
  def aliasSub(df: DataFrame, search: String, replace: String): DataFrame =
    df.withColumn("name", regexp_replace(col("name"), search, toJavaBackrefs(replace)))

  /** toLowerCase/toUpperCase: whole name, or only the given (possibly
    * negative, 0-based) character positions; the name tag follows the new
    * name (ref toLowerCase/function.go:29-63 and its toUpperCase twin). */
  def caseName(df: DataFrame, positions: Seq[Int], toUpper: Boolean): DataFrame = {
    val f: Column => Column = if (toUpper) upper else lower
    val renamed =
      if (positions.isEmpty) f(col("name"))
      else positions.foldLeft(col("name")) { (c, p) =>
        val i = if (p >= 0) lit(p) else length(col("name")) + p
        concat(c.substr(lit(1), i), f(c.substr(i + 1, lit(1))), c.substr(i + 2, length(col("name"))))
      }
    df.withColumn("name", renamed)
      .withColumn("tags", map_concat(
        map_filter(col("tags"), (k, _) => k =!= "name"),
        map(lit("name"), col("name"))))
  }

  // ------------------------------------------------------------------ util

  /** Graphite formats float args without trailing .0 for integral values. */
  def fmtNum(d: Double): String =
    if (d == math.rint(d) && !d.isInfinite) d.toLong.toString else d.toString
}
