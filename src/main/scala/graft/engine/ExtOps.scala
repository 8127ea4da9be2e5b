package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Kernels, SeriesFrame, VecOps}

/**
 * Remaining series operators from SURVEY §2: reset-aware integrals, gap
 * compaction, per-series constant lines, heat maps, inverse FFT, marker
 * series, base64 renames, post-timestamp scaling, graph-option metadata
 * setters, and the map/reduce series family.
 *
 * Same scale rules as [[SeriesOps]]: per-series sequential logic stays a
 * local vector loop (one series per row, zero shuffle); cross-series pairing
 * uses bounded series-level windows, never point-level shuffles.
 */
object ExtOps {
  import SeriesFrame.{mapVec, rewrap, vecScalar}

  // ----------------------------------------------------------- sequential

  /** integralWithReset: running sum that restarts wherever the resetter
    * series is non-zero/non-NaN. Reference-exact edge semantics
    * (ref integralWithReset/function.go:41-70): a glob resetter matching
    * more than one series is an ERROR (ErrWildcardNotAllowed), mismatched
    * step/length is an error, a NaN input point stays NaN WITHOUT applying
    * that index's reset, and a reset index outputs 0 — the point's own
    * value is discarded, not accumulated. */
  def integralWithReset(df: DataFrame, resetter: DataFrame): DataFrame = {
    val r1 = resetter
      .select(struct(col("name"), col("values"), col("step")).as("s"))
      .agg(min(col("s")).as("s"), count(lit(1)).as("n"))
      .select(
        when(col("n") =!= 1, raise_error(concat(
            lit("integralWithReset: resetting series must reference exactly one series, got "),
            col("n")))).otherwise(col("s.name")).as("resetName"),
        col("s.values").as("resetValues"), col("s.step").as("resetStep"))
    val u = udf((name: String, v: Seq[Double], step: Long,
                 rname: String, resets: Seq[Double], rstep: Long) => {
      if (step != rstep || v.length != resets.length)
        throw new IllegalArgumentException(
          s"series $name must have the same length as $rname")
      val out = new Array[Double](v.length)
      var acc = 0.0
      var i = 0
      while (i < v.length) {
        val x = v(i)
        if (Kernels.isNaN(x)) out(i) = Double.NaN
        else {
          val rv = resets(i)
          if (!Kernels.isNaN(rv) && rv != 0.0) acc = 0.0 else acc += x
          out(i) = acc
        }
        i += 1
      }
      out
    })
    df.crossJoin(broadcast(r1))
      .withColumn("values", u(col("name"), col("values"), col("step"),
        col("resetName"), col("resetValues"), col("resetStep")))
      .withColumn("name", concat(lit("integralWithReset("), col("name"), lit(","), col("resetName"), lit(")")))
      .drop("resetName", "resetValues", "resetStep")
  }

  /** compressPeriodicGaps: guess the sample period from the first two
    * non-NaN points, verify it at the third expected slot (both neighbors
    * must be NaN), then re-bucket at the coarser step with a "last"
    * consolidation honoring the series' xFilesFactor — or pass the series
    * through unchanged when the guess fails, exactly like the reference.
    * (ref compressPeriodicGaps/function.go:31-117, SummarizeValues xff gate
    * consolidations.go:265-272) */
  def compressPeriodicGaps(df: DataFrame): DataFrame = {
    val u = udf((v: Seq[Double], start: Long, step: Long, xff: Double) => {
      var firstSeen = -1; var secondSeen = -1
      var i = 0
      while (i < v.length && secondSeen < 0) {
        if (!Kernels.isNaN(v(i))) { if (firstSeen >= 0) secondSeen = i else firstSeen = i }
        i += 1
      }
      val stepGuess = secondSeen - firstSeen
      val thirdSeen = secondSeen + stepGuess
      val periodic = secondSeen > 0 && stepGuess > 1 && thirdSeen <= v.length - 2 &&
        !Kernels.isNaN(v(thirdSeen)) &&
        Kernels.isNaN(v(thirdSeen - 1)) && Kernels.isNaN(v(thirdSeen + 1))
      if (!periodic) (start, step, v.toArray)
      else {
        val interval = stepGuess.toLong * step
        val stop = start + v.length.toLong * step
        val newStart = start + firstSeen.toLong * step
        val buckets = math.ceil((stop - newStart).toDouble / interval).toInt
        val out = new Array[Double](buckets)
        val cur = scala.collection.mutable.ArrayBuffer.empty[Double]
        var ridx = 0
        var intervalItems = 0
        var intervalEnd = newStart + interval
        var t = start
        var j = 0
        var done = false
        while (j < v.length && !done) {
          intervalItems += 1
          if (!Kernels.isNaN(v(j))) cur += v(j)
          t += step
          if (t >= stop) done = true
          else if (t >= intervalEnd) {
            out(ridx) = Kernels.summarizeValues("last", cur.toArray, xff.toFloat)
            ridx += 1
            intervalEnd += interval
            intervalItems = 0
            cur.clear()
          }
          j += 1
        }
        // last partial bucket (ref function.go:106-109)
        if (intervalItems > 0 && ridx < buckets)
          out(ridx) = Kernels.summarizeValues("last", cur.toArray, xff.toFloat)
        (newStart, interval, out)
      }
    })
    val xffCol = coalesce(element_at(col("tags"), "xFilesFactor").cast("double"), lit(0.0))
    df.withColumn("_r", u(col("values"), col("start"), col("step"), xffCol))
      .withColumn("start", col("_r._1"))
      .withColumn("step", col("_r._2"))
      .withColumn("values", col("_r._3"))
      .drop("_r")
      .transform(d => rewrap(d, "compressPeriodicGaps"))
  }

  /** scale with a pivot timestamp: points at ts >= pivot are scaled, earlier
    * ones pass through. `scaleAfterTimestamp` is a pure alias of `scale` in
    * the reference — the OUTPUT name is always `scale(name,factor,rawTs)`
    * and the tag is `scale` (ref scale/function.go:22,52-56,59). `rawTs`
    * preserves the request's literal third argument (e.Arg(2).StringValue()). */
  def scaleAfterTimestamp(df: DataFrame, factor: Double, pivotTs: Long, rawTs: String): DataFrame =
    rewrap(df.withColumn("values",
      transform(col("values"), (v, i) => {
        val ts = col("start") + i.cast("long") * col("step")
        when(ts >= lit(pivotTs), v * lit(factor)).otherwise(v)
      })), "scale", Seq(SeriesOps.fmtNum(factor), rawTs),
      tagValue = Some(SeriesOps.fmtNum(factor)))

  // -------------------------------------------------------------- constant

  /** aggregateLine: replace each series by a flat line at its summarized
    * scalar. The NAME embeds the VALUE (`aggregateLine(m, 4.5)`, `None` when
    * NaN), not the function; keepStep keeps the original grid, else TWO
    * points span the series with step = its whole length
    * (ref aggregateLine/function.go:56-80). */
  def aggregateLine(df: DataFrame, func: String = "average", keepStep: Boolean = false): DataFrame = {
    val s = vecScalar(v => Kernels.summarizeValues(func, v))(col("values"))
    val flat =
      if (keepStep) df.withColumn("_s", s)
        .withColumn("values", transform(col("values"), _ => col("_s")))
      else df.withColumn("_s", s)
        .withColumn("step", greatest(size(col("values")).cast("long") * col("step"), lit(1L)))
        .withColumn("values", array(col("_s"), col("_s")))
    // FormatFloat 'g' of the scalar: integers drop the decimal point
    val fmtS = when(isnan(col("_s")), lit("None"))
      .when(col("_s") === col("_s").cast("long").cast("double") && abs(col("_s")) < lit(1e15),
        col("_s").cast("long").cast("string"))
      .otherwise(col("_s").cast("string"))
    flat.withColumn("name",
        concat(lit("aggregateLine("), col("name"), lit(", "), fmtS, lit(")")))
      .drop("_s")
  }

  /** verticalLine(ts, label): single marker point at the given timestamp.
    * (ref verticalLine/function.go) */
  /** Two-point marker series at ts with DrawAsInfinite set — the renderer
    * turns it into a full-height line (ref verticalLine/function_cairo.go:
    * 62-76: values [1,1], step 1, GraphOptions{DrawAsInfinite, Color}). */
  def verticalLine(spark: org.apache.spark.sql.SparkSession, ts: Long, label: String,
                   color: String = ""): DataFrame = {
    import spark.implicits._
    val tags = Map("name" -> label, "drawAsInfinite" -> "1") ++
      (if (color.nonEmpty) Map("color" -> color) else Map.empty)
    Seq(graft.core.Series(label, tags, ts, 1L, Array(1.0, 1.0))).toDF()
  }

  // --------------------------------------------------------------- heatMap

  /** heatMap: diff of each consecutive pair of series in name order — the
    * lag is a positional self-join on [[PairOps.indexByName]]'s contiguous
    * index (the inner join drops the first series, which has no
    * predecessor), never an unpartitioned lag window. (ref heatMap/function.go) */
  def heatMap(df: DataFrame): DataFrame = {
    // pairing order = ASCENDING WEIGHT, where weight = each series' sum
    // over the first 5 slots at which EVERY series is non-NaN; ties (and
    // the no-common-slot case, pointsFound == 0) keep name order — the
    // reference's stable sort over the fetch-ordered list
    // (ref heatMap/helpers.go:36-88, function.go:37-43)
    val pts = df.select(col("name"), posexplode(col("values")).as(Seq("pos", "v")))
    val nS = df.agg(count(lit(1)).as("_n"))
    val slots = pts.groupBy(col("pos"))
      .agg(sum(when(isnan(col("v")), 1).otherwise(0)).as("_nabs"), count(lit(1)).as("_cnt"))
      .join(broadcast(nS))
      .where(col("_nabs") === 0 && col("_cnt") === col("_n"))
      .orderBy(col("pos")).limit(5).select("pos")
    val weights = pts.join(broadcast(slots), "pos")
      .groupBy(col("name")).agg(sum(col("v")).as("_w"))
    val idx = PairOps.indexByOrder(
      df.join(weights, Seq("name"), "left")
        .withColumn("_w", coalesce(col("_w"), lit(0.0))),
      Seq("_w", "name"))
    val prev = idx.select((col("_i") + 1L).as("_i"),
      col("name").as("prevName"), col("values").as("prevValues"))
    idx.join(prev, "_i")
      .select(
        concat(lit("heatMap("), col("name"), lit(","), col("prevName"), lit(")")).as("name"),
        col("tags"), col("start"), col("step"),
        zip_with(col("values"), col("prevValues"), (a, b) => a - b).as("values"))
  }

  // ------------------------------------------------------------------- fft

  // ------------------------------------------------------------ name games

  /** aliasByBase64: base64-decode the whole name, or — with a 1-BASED node
    * arg (ref does `field--`) — one node of the metric name from the name
    * tag; undecodable input stays unchanged.
    * (ref aliasByBase64/function.go:40-68) */
  def aliasByBase64(df: DataFrame, node: Option[Int]): DataFrame = node match {
    case None =>
      val u = udf((n: String) => decode64(n).getOrElse(n))
      df.withColumn("name", u(col("name")))
    case Some(field1) =>
      val u = udf((n: String) => {
        val parts = n.split('.')
        val j = field1 - 1
        if (j >= 0 && j < parts.length) decode64(parts(j)).foreach(parts(j) = _)
        parts.mkString(".")
      })
      df.withColumn("name", u(coalesce(element_at(col("tags"), "name"), col("name"))))
  }

  private def decode64(s: String): Option[String] =
    // Go's base64.StdEncoding is strict about padding (length % 4 == 0);
    // Java's decoder would happily decode unpadded garbage like "prefix"
    if (s.isEmpty || s.length % 4 != 0) None
    else try Some(new String(java.util.Base64.getDecoder.decode(s), java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: IllegalArgumentException => None }

  // -------------------------------------------------- graph-option setters
  // GraphOptions in the reference live outside query semantics (consumed by
  // the png/svg renderer, ref cairo/function.go:21-30). We record them as
  // tags so the render layer can honor them; names change only where the
  // reference renames (drawAsInfinite).

  def setOption(df: DataFrame, key: String, value: String, renameAs: Option[String] = None): DataFrame = {
    val tagged = df.withColumn("tags", map_concat(
      map_filter(col("tags"), (k, _) => k =!= key),
      map(lit(key), lit(value))))
    renameAs.fold(tagged)(fn => rewrap(tagged, fn))
  }

  /** areaBetween: exactly two series — the first (by name; Spark rows carry
    * no list order) becomes an invisible stack base and the second carries
    * (second − first) stacked on it, both renamed areaBetween(rawArgs), so
    * the renderer fills the region between the two curves.
    * (ref cairo.go:728-757) */
  def areaBetween(df: DataFrame, newName: String): DataFrame = {
    val idx = PairOps.indexByName(df)
    def mark(d: DataFrame, extra: Map[String, String]): DataFrame =
      d.withColumn("tags", map_concat(
        map_filter(col("tags"), (k, _) => !k.isin(extra.keys.toSeq: _*)),
        typedLit(extra)))
    val lower = mark(idx.where(col("_i") === 1).drop("_i"),
      Map("stacked" -> "__DEFAULT__", "invisible" -> "1"))
    val lowerVals = lower.select(col("values").as("_lv"))
    val upper = mark(idx.where(col("_i") === 2).drop("_i"), Map("stacked" -> "__DEFAULT__"))
      .crossJoin(broadcast(lowerVals))
      .withColumn("values", zip_with(col("values"), col("_lv"), (a, b) => a - b))
      .drop("_lv")
    lower.unionByName(upper).withColumn("name", lit(newName))
  }

  // -------------------------------------------------------- map / reduce

  /** mapSeries: tag each series with its node key — the groups that a
    * following reduceSeries consumes. (ref mapSeries/function.go) */
  def mapSeries(df: DataFrame, nodes: Seq[Int]): DataFrame =
    df.withColumn("tags", map_concat(
      map_filter(col("tags"), (k, _) => k =!= "_mapKey"),
      map(lit("_mapKey"), SeriesOps.nodeKey(col("name"), nodes))))

  /**
   * reduceSeries: within each mapSeries group, match series whose node at
   * `reduceNode` equals each matcher, then apply the binary reduce function
   * to (matcher1, matcher2) per group. Supported reducers: diff / divide /
   * asPercent / sum / multiply — the set the reference ships.
   * (ref reduce/function.go)
   */
  /** reduceSeries: group on the WRAPPER-STRIPPED name with the reduce node
    * replaced by `reduce.<fn>` — that replaced string IS the output name —
    * match the node value against the matcher list and fold pairs with the
    * reducer; an out-of-range node (after negative wrap) errors, and a
    * group missing any matcher is silently dropped
    * (ref reduce/function.go:72-115). */
  def reduceSeries(df: DataFrame, reduceFn: String, reduceNode: Int, matchers: Seq[String]): DataFrame = {
    require(matchers.length >= 2, "reduceSeries needs at least two matchers")
    // nondeterministic so Catalyst evaluates it only on the series that
    // reach this operator: pushed below an upstream filter (the batched
    // prefetch's per-pattern view of a shared scan) it would also see the
    // other patterns' rows, and its out-of-range error would fire on them
    val keyU = udf((n: String) => {
      val nodes = graft.core.Names.extractName(n).split("\\.", -1)
      val idx = if (reduceNode < 0) reduceNode + nodes.length else reduceNode
      if (idx < 0 || idx >= nodes.length)
        throw new IllegalArgumentException(
          s"reduceNode $reduceNode out of range for metric $n")
      val key = nodes(idx)
      nodes(idx) = "reduce." + reduceFn
      (key, nodes.mkString("."))
    }).asNondeterministic()
    val tagged = df.withColumn("_rk", keyU(col("name")))
    val a = tagged.where(col("_rk._1") === matchers.head)
      .select(col("_rk._2").as("k"), col("tags"), col("start"), col("step"),
        col("values").as("va"))
    val b = tagged.where(col("_rk._1") === matchers(1))
      .select(col("_rk._2").as("k"), col("values").as("vb"))
    val op: (Column, Column) => Column = reduceFn match {
      case "diffSeries" | "diff"         => (x, y) => x - y
      case "divideSeries" | "divide"     => (x, y) => when(isnan(y) || y === 0.0, lit(Double.NaN)).otherwise(x / y)
      case "asPercent"                   => (x, y) => when(isnan(y) || y === 0.0, lit(Double.NaN)).otherwise(x / y * lit(100.0))
      case "sumSeries" | "sum"           => (x, y) => x + y
      case "multiplySeries" | "multiply" => (x, y) => x * y
      case other => throw new IllegalArgumentException(s"reduceSeries: unsupported reducer $other")
    }
    a.join(b, "k").select(
      col("k").as("name"), col("tags"),
      col("start"), col("step"),
      zip_with(col("va"), col("vb"), op).as("values"))
  }

  // --------------------------------------------------------- transformNull
  // referenceSeries variant: default only where the reference series has a
  // value (ref transformNull/function.go, Metrics() extra fetch).

  def transformNullRef(df: DataFrame, default: Double, ref: DataFrame): DataFrame = {
    // the fill mask is the UNION of the reference list: a position fills
    // when ANY reference series has data there (ref transformNull/
    // function.go referenceSeries loop ORs presence across the list) —
    // the per-position non-NaN count collapses the list to one mask row
    val r1 = SeriesOps.aggregateSeries(ref, "count")
      .select(col("values").as("refCount"))
    df.crossJoin(broadcast(r1))
      .withColumn("values", zip_with(col("values"), col("refCount"),
        (v, c) => when(isnan(v) && !isnan(c) && c > 0, lit(default)).otherwise(v)))
      .drop("refCount")
      .transform(d => rewrap(d, "transformNull", Seq(SeriesOps.fmtNum(default))))
  }

  /** sortByName natural=true: digit runs compare numerically ("a2" < "a10").
    * (ref sortByName/function.go — maruel/natural) */
  def sortByNameNatural(df: DataFrame, reverse: Boolean): DataFrame = {
    // pad every digit run to fixed width → lexicographic == natural
    val u = udf((n: String) => "\\d+".r.replaceAllIn(n, m => f"${BigInt(m.matched)}%020d"))
    val k = u(col("name"))
    SeriesOps.markSorted(
      df.withColumn("_nk", k)
        .orderBy(if (reverse) col("_nk").desc else col("_nk").asc)
        .drop("_nk"))
  }
}
