package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Kernels

/**
 * Pairwise / list-combining operators: the `aggregateSeriesLists` family
 * (element i of list A with element i of list B), divide/asPercent joins,
 * weightedAverage, and name-set joins.
 *
 * Positional pairing is inherently order-dependent (list order = glob-sorted
 * names, ref expr/sort.go:121-137). [[indexByName]] realizes that order as a
 * contiguous index WITHOUT an unpartitioned window, so a 100k-series list
 * never funnels its packed-array payload through one task.
 */
object PairOps {

  /** Contiguous 1-based position of each row in global `orderCol` order —
    * a distributed range sort, then zipWithIndex (per-partition offsets
    * cost one lightweight count job). Same positional semantics as a
    * row_number over an unpartitioned window, but the rows stay range-
    * partitioned, and the `WindowExec: No Partition Defined` warning class
    * stays out of the logs where a REAL unpartitioned window could hide.
    *
    * The sorted RDD is cached: zipWithIndex's eager offset-count job
    * populates the cache, so the upstream plan (possibly an expensive
    * store-read chain) executes ONCE per call instead of once for the
    * count and again per downstream action. The persist registers with
    * the current [[graft.core.Scope]], so a render releases it at request
    * end. */
  private[engine] def indexByName(df: DataFrame, orderCol: String = "name",
                                  knownSize: Option[Long] = None): DataFrame =
    indexByOrder(df, Seq(orderCol), knownSize)

  /** indexByName generalized to a composite sort key (heatMap orders by
    * (weight, name) — the reference's stable weight sort over the
    * name-ordered list).
    *
    * r18 small-list gate: a list at or below `graft.series.maxWindowIndex`
    * rows (default 100k — series COUNT, never points) indexes with a lazy
    * single-task row_number window instead: the zipWithIndex path costs a
    * range-sampling job + an offset-count job + an RDD round-trip out of
    * codegen per call, which dominates sub-second requests, while a one-
    * task sort of ≤100k narrow series rows is microseconds. The gate fires
    * ONLY when the caller already knows the list size (`knownSize`) —
    * counting here would re-execute a possibly expensive upstream chain
    * once for the count and again under the lazy window (measured:
    * heatMap's weight chain doubled, 0.48 → 1.1 s); size-blind callers
    * keep the upstream-executes-once zipWithIndex cache. Lists above the
    * gate keep the distributed sort + zipWithIndex so a 100k+-series list
    * never funnels its packed-array payload through one window task. */
  private[engine] def indexByOrder(df: DataFrame, orderCols: Seq[String],
                                   knownSize: Option[Long] = None): DataFrame = {
    val maxWin = df.sparkSession.conf.getOption("graft.series.maxWindowIndex")
      .map(_.toLong).getOrElse(100000L)
    if (knownSize.exists(_ <= maxWin)) {
      // constant partition key: single-task like an unpartitioned window,
      // but the `WindowExec: No Partition Defined` warning class stays out
      // of the logs where a REAL unpartitioned window could hide
      val w = Window.partitionBy(lit(0)).orderBy(orderCols.map(col): _*)
      df.withColumn("_i", row_number().over(w).cast("long"))
    } else {
      // the range sort's sampling job and the offset-count job both read
      // the input
      val sorted = Eval.pin(df).sort(orderCols.map(col): _*)
      val cached = graft.core.Scope.persistRdd(sorted.rdd)
      val indexed = cached.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L)) }
      sorted.sparkSession.createDataFrame(indexed,
        sorted.schema.add("_i", org.apache.spark.sql.types.LongType, nullable = false))
    }
  }

  private def binOp(func: String): (Column, Column) => Column = func match {
    case "sum" | "add"      => (x, y) => x + y
    case "diff" | "subtract" => (x, y) => x - y
    case "multiply"         => (x, y) => x * y
    case "divide"           => (x, y) => when(y === 0.0, lit(Double.NaN)).otherwise(x / y)
    // Go math.Pow special cases (1^anything = 1, x^0 = 1, (-1)^±Inf = 1)
    // checked before Java's NaN rules — NaN never reaches this op (the
    // caller NaN-gates like ref seriesList/function.go:171-173), but ±Inf
    // values can (logit(0) = -Inf)
    case "pow"              => (x, y) =>
      when(y === 0.0 || x === 1.0, lit(1.0))
        .when(x === -1.0 && abs(y) === lit(Double.PositiveInfinity), lit(1.0))
        .otherwise(pow(x, y))
    case "max"              => (x, y) => when(x >= y, x).otherwise(y)
    case "min"              => (x, y) => when(x <= y, x).otherwise(y)
    case other => throw new IllegalArgumentException(s"seriesLists: bad func $other")
  }

  /** The *SeriesLists family (divide/diff/multiply/pow/sumSeriesLists):
    * NaN-propagating binary zip of the two NAME-SORTED lists
    * (ref seriesList/function.go:30-199). A single right-hand series
    * broadcasts over every left series; a size mismatch flips into
    * name-matching mode (also forced by `matching=true`), where unmatched
    * left series pair with `default` when given and drop otherwise; an
    * empty right list with `default` pairs every left series with the
    * constant. The counts driving the mode choice cost two series-row
    * jobs — same cardinality the reference materializes. */
  def seriesLists(a0: DataFrame, b0: DataFrame, func: String, fnName: String,
                  default: Double = Double.NaN, matchingOpt: Option[Boolean] = None): DataFrame = {
    // the count job and the returned zip both read each side
    val a = Eval.pin(a0)
    val b = Eval.pin(b0)
    val op = binOp(func)
    val hasDefault = !default.isNaN
    val defStr = graft.engine.SeriesOps.fmtNum(default)
    // ONE series-row count job total (series cardinality, not points; r18
    // — was two): it drives emptiness, the single-right broadcast, size
    // matching AND the indexByName small-list gates below
    val cnts = a.select(lit(0).as("_s")).unionByName(b.select(lit(1).as("_s")))
      .groupBy("_s").agg(count(lit(1)).as("_c")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val na = cnts.getOrElse(0, 0L)
    val nb = cnts.getOrElse(1, 0L)
    def constantMode(single: DataFrame, constLeft: Boolean): DataFrame = {
      // ref :95-128 — the name quirk is reference-exact: both sides of the
      // name are the surviving series' own name
      val v = col("values")
      val combined =
        if (constLeft) transform(v, x => when(isnan(x), x)
          .otherwise(if (func == "divide") when(x === 0.0, lit(Double.NaN)).otherwise(lit(default) / x)
                     else op(lit(default), x)))
        else transform(v, x => when(isnan(x) || lit(hasDefault && default == 0.0 && func == "divide"), lit(Double.NaN))
          .otherwise(op(x, lit(default))))
      single.select(
        concat(lit(fnName + "("), col("name"), lit(","), col("name"), lit(")")).as("name"),
        col("tags"), col("start"), col("step"), combined.as("values"))
    }
    if (na == 0) return if (hasDefault) constantMode(b, constLeft = true)
      else a.select(col("name"), col("tags"), col("start"), col("step"), col("values"))
    if (nb == 0) return if (hasDefault) constantMode(a, constLeft = false)
      else b.select(col("name"), col("tags"), col("start"), col("step"), col("values"))
    val sizeMatch = nb == 1 || na == nb
    val useMatching = matchingOpt.getOrElse(!sizeMatch)
    val ai = indexByName(a, knownSize = Some(na)).select(col("_i"),
      col("name").as("nameA"), col("tags"),
      col("start"), col("step"), col("values").as("valuesA"))
    val bi = indexByName(b, knownSize = Some(nb)).select(col("_i"),
      col("name").as("nameB"), col("values").as("valuesB"))
    val paired =
      if (useMatching) {
        val j = ai.drop("_i").join(bi.drop("_i"), col("nameA") === col("nameB"), "left")
        if (hasDefault) j else j.where(col("nameB").isNotNull)
      } else if (nb == 1) {
        ai.drop("_i").crossJoin(broadcast(bi.drop("_i")))
      } else ai.join(bi, "_i")
    val combined = when(col("valuesB").isNull,
        // unmatched + default: denominator is the constant
        transform(col("valuesA"), x => when(isnan(x) || lit(func == "divide" && default == 0.0), lit(Double.NaN))
          .otherwise(op(x, lit(default)))))
      .otherwise(zip_with(col("valuesA"), col("valuesB"),
        (x, y) => when(x.isNull || y.isNull || isnan(x) || isnan(y), lit(Double.NaN)).otherwise(op(x, y))))
    paired.select(
      concat(lit(fnName + "("), col("nameA"), lit(","),
        coalesce(col("nameB"), lit(defStr)), lit(")")).as("name"),
      col("tags"), col("start"), col("step"), combined.as("values"))
  }

  /** aggregateSeriesLists(l1, l2, func, xFilesFactor): pair positionally
    * after a name sort, then consolidate each point PAIR with the NaN-
    * SKIPPING aggregation kernel + xff gate — unlike the *SeriesLists
    * family above this follows helper.AggregateSeries semantics, including
    * its quirk of naming every output row `aggregateSeriesLists(rawArgs)`
    * (ref aggregateSeriesLists/function.go:58-75, helper/helper.go:151-188).
    * xff defaults to each left series' own xFilesFactor tag. */
  def aggregateSeriesLists(a0: DataFrame, b0: DataFrame, func: String, rawArgs: String,
                           xff: Option[Double]): DataFrame = {
    // the count job and the returned pairing both read each side
    val a = Eval.pin(a0)
    val b = Eval.pin(b0)
    // one fused series-row count (r18) feeds both small-list index gates
    val cnts = a.select(lit(0).as("_s")).unionByName(b.select(lit(1).as("_s")))
      .groupBy("_s").agg(count(lit(1)).as("_c")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ai = indexByName(a, knownSize = Some(cnts.getOrElse(0, 0L)))
      .select(col("_i"), col("tags"),
        col("start"), col("step"), col("values").as("valuesA"))
    val bi = indexByName(b, knownSize = Some(cnts.getOrElse(1, 0L)))
      .select(col("_i"), col("values").as("valuesB"))
    val xffCol = xff.map(lit).getOrElse(
      coalesce(element_at(col("tags"), "xFilesFactor").cast("double"), lit(0.0)))
    val u = udf((va: Seq[Double], vb: Seq[Double], xf: Double) =>
      // output spans the longer side (ref ScaleSeries pads to a common grid)
      Array.tabulate(math.max(va.length, vb.length)) { i =>
        val pair = Array(
          if (i < va.length) va(i) else Double.NaN,
          if (i < vb.length) vb(i) else Double.NaN)
        Kernels.summarizeValues(func, pair, xf.toFloat)
      })
    val name = s"aggregateSeriesLists($rawArgs)"
    ai.join(bi, "_i")
      .select(
        lit(name).as("name"),
        map_concat(map_filter(col("tags"), (k, _) => k =!= "name" && k =!= "aggregatedBy"),
          map(lit("name"), lit(name), lit("aggregatedBy"), lit(func))).as("tags"),
        col("start"), col("step"),
        u(col("valuesA"), col("valuesB"), xffCol).as("values"))
  }

  /** weightedAverage(avgList, weightList, *nodes): join by node key, result =
    * sum(avg*weight) / sum(weight) point-wise. (ref weightedAverage/function.go) */
  def weightedAverage(avgs: DataFrame, weights: DataFrame, nodes: Seq[Either[String, Int]],
                      rawArgs: String): DataFrame = {
    val key = SeriesOps.nodeOrTagKey(col("name"), col("tags"), nodes)
    val a = avgs.select(key.as("k"), col("start"), col("step"), col("values").as("av"))
    val w = weights.select(key.as("k"), col("values").as("wv"))
    val joined = a.join(w, "k")
      .select(col("start"), col("step"),
        zip_with(col("av"), col("wv"), (x, y) => x * y).as("prodV"))
    val vecSum = udaf(new VectorAggregator("sum", 0.0))
    // the denominator sums EVERY weight series, paired or not — the
    // reference aggregates `weights` itself, not the paired list
    // (ref weightedAverage/function.go:110-117: sumProducts over
    // productList, sumWeights over weights)
    val num = joined.agg(vecSum(col("start"), col("step"), col("prodV")).as("num"))
    val den = weights.select(col("start"), col("step"), col("values"))
      .agg(vecSum(col("start"), col("step"), col("values")).as("den"))
    val outName = s"weightedAverage($rawArgs)"
    num.crossJoin(broadcast(den))
      .select(
        lit(outName).as("name"),
        map(lit("name"), lit(outName)).as("tags"),
        col("num.start").as("start"), col("num.step").as("step"),
        // the final combine is the RAW IEEE division v[0]/v[1]
        // (ref function.go:118 + helper.go:182): a zero weight sum emits
        // ±Inf (JSON nulls it; pickle/pb and downstream ops see Inf),
        // 0/0 and NaN/0 are NaN. Spark's `/` NULLs EVERY zero divisor in
        // non-ANSI mode (doubles included — and NULL must never reach a
        // values array), so the zero-denominator cases are spelled out
        zip_with(col("num.values"), col("den.values"),
          // NaN guards come first: Spark's comparison semantics order NaN
          // above every number (NaN > 0.0 is TRUE), so a bare `n > 0.0`
          // branch would send NaN/0 to +Inf instead of NaN
          (n, d) => when(isnan(d) || isnan(n), lit(Double.NaN))
            .when(d === 0.0 && n === 0.0, lit(Double.NaN))
            .when(d === 0.0,
              // raw IEEE honors the zero DIVISOR's sign too (n/-0.0 = -Inf
              // for n > 0). Spark `===` folds -0.0 into 0.0 and there is no
              // raw-bits accessor, but Math.pow(±0.0, -1) = ±Inf recovers
              // the sign without `/`'s null-on-zero
              when(signum(n) * signum(pow(d, lit(-1.0))) > 0,
                lit(Double.PositiveInfinity))
                .otherwise(lit(Double.NegativeInfinity)))
            .otherwise(n / d)).as("values"))
  }

  /** join(listA, listB, type): set operation on series NAMES.
    * (ref join/function.go:77-180) */
  def joinNames(a: DataFrame, b: DataFrame, joinType: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // OR/XOR need both sides' name sets; expressing them as two anti-joins
    // would re-execute each input plan (and its store fetch) twice. A tagged
    // union + per-name window scans each side exactly once — the window
    // shuffles series ROWS (bounded by series count), never points.
    lazy val tagged = a.withColumn("_side", lit(0))
      .unionByName(b.withColumn("_side", lit(1)))
    lazy val w = Window.partitionBy(col("name"))
    joinType.toUpperCase match {
      case "AND" => a.join(b.select(col("name")).distinct(), Seq("name"), "left_semi")
      case "OR" =>
        // all of A plus B-series whose names are not in A = rows whose side
        // equals the minimum side seen for that name
        tagged.withColumn("_min", min(col("_side")).over(w))
          .where(col("_side") === col("_min")).drop("_side", "_min")
      case "XOR" =>
        // names present on exactly one side
        tagged.withColumn("_min", min(col("_side")).over(w))
          .withColumn("_max", max(col("_side")).over(w))
          .where(col("_min") === col("_max")).drop("_side", "_min", "_max")
      case "SUB" => a.join(b.select(col("name")).distinct(), Seq("name"), "left_anti")
      case other => throw new IllegalArgumentException(s"join: bad type $other")
    }
  }

  /** countValues: one output series per distinct value observed, counting
    * occurrences across the input list at each ts.
    * (ref countValues/function.go) */
  /** One series per distinct INT-truncated value: per-bucket occurrence
    * counts, ZERO-filled over the full input grid (not NaN — the reference
    * zero-initializes each output vector); above `valuesLimit` distinct
    * values the whole result collapses to one zero series named
    * `valuesLimitReached` (ref countValues/function.go:30-80). */
  def countValues(df0: DataFrame, valuesLimit: Int = 32): DataFrame = {
    // the grid and distinct-key jobs and the returned counts all read it
    val df = Eval.pin(df0)
    val spark = df.sparkSession
    val geo = df.agg(min(col("start")), max(col("start") + size(col("values")) * col("step")),
      min(col("step"))).head()
    if (geo.isNullAt(0)) return graft.engine.Eval.emptyFrame(spark)
    val t0 = geo.getLong(0); val t1 = geo.getLong(1); val step = geo.getLong(2)
    def constSeries(name: String): DataFrame = {
      import spark.implicits._
      Seq(name).toDF("name").select(col("name"),
        map(lit("name"), col("name")).as("tags"),
        lit(t0).as("start"), lit(step).as("step"),
        transform(sequence(lit(t0), lit(t1 - step), lit(step)), _ => lit(0.0)).as("values"))
    }
    val keyed = graft.core.SeriesFrame.toPoints(df)
      .select(col("value").cast("int").as("key"), col("ts"))
    // the distinct-key count is a tiny scalar agg; the reference likewise
    // materializes the key set before deciding the escape hatch
    if (keyed.select("key").distinct().count() > valuesLimit) return constSeries("valuesLimitReached")
    keyed.groupBy(col("key"), col("ts")).agg(count(lit(1)).cast("double").as("cnt"))
      .groupBy(col("key"))
      .agg(map_from_entries(collect_list(struct(col("ts"), col("cnt")))).as("m"))
      .select(
        col("key").cast("string").as("name"),
        map(lit("name"), col("key").cast("string")).as("tags"),
        lit(t0).as("start"), lit(step).as("step"),
        transform(sequence(lit(t0), lit(t1 - step), lit(step)),
          t => coalesce(element_at(col("m"), t), lit(0.0))).as("values"))
  }
}
