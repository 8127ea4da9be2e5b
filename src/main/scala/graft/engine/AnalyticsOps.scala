package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Kernels, SeriesFrame, VecOps}

/**
 * Advanced analytics operators (SURVEY §2.7): Holt-Winters, polynomial fit,
 * windowed stddev/pearson, Tukey outliers, SLO buckets, FFT family.
 *
 * Sequential recurrences run as vector UDFs (state local to one series row —
 * zero shuffle); cross-series statistics (tukey fences, outside-percentile)
 * use Spark's exact `percentile` aggregate over the per-series scalar column,
 * which reduces #series rows, not points.
 */
object AnalyticsOps {
  import SeriesFrame.{mapVec, rewrap, vecScalar}

  // ------------------------------------------------------------ holtWinters

  /** Slice off points before `fromTs` (drop the bootstrap prefix) and
    * re-stamp. */
  def sliceFrom(df: DataFrame, fromTs: Long): DataFrame = {
    val u = udf((v: Seq[Double], start: Long, step: Long) => {
      // clamp in Long space BEFORE narrowing: the open-range sentinel
      // (|fromTs| ~ 2^61) would wrap to a positive Int and drop everything
      val drop = math.min(math.max((fromTs - start) / step, 0L), v.length.toLong).toInt
      (start + drop.toLong * step, v.drop(drop).toArray)
    })
    df.withColumn("_r", u(col("values"), col("start"), col("step")))
      .withColumn("start", col("_r._1"))
      .withColumn("values", col("_r._2"))
      .drop("_r")
  }

  /** holtWintersForecast: triple-exponential forecast; input must be fetched
    * with a bootstrapInterval-widened start (planner), output sliced back to
    * the request range. (ref expr/holtwinters/hw.go:36-127) */
  def holtWintersForecast(df: DataFrame, fromTs: Long, seasonality: Long = 86400L): DataFrame = {
    val u = udf((v: Seq[Double], step: Long) => VecOps.holtWinters(v.toArray, step, seasonality)._1)
    sliceFrom(
      df.withColumn("values", u(col("values"), col("step"))), fromTs)
      .transform(d => rewrap(d, "holtWintersForecast"))
  }

  /** Confidence bands = forecast ± delta * deviation; returns upper and lower
    * series per input. (ref hw.go:130-190) */
  def holtWintersConfidenceBands(df: DataFrame, fromTs: Long, delta: Double, seasonality: Long = 86400L): DataFrame = {
    val u = udf((v: Seq[Double], step: Long, sign: Double) => {
      val (f, d) = VecOps.holtWinters(v.toArray, step, seasonality)
      f.indices.map(i => f(i) + sign * delta * d(i)).toArray
    })
    val upper = sliceFrom(df.withColumn("values", u(col("values"), col("step"), lit(1.0))), fromTs)
      .withColumn("name", concat(lit("holtWintersConfidenceUpper("), col("name"), lit(")")))
    val lower = sliceFrom(df.withColumn("values", u(col("values"), col("step"), lit(-1.0))), fromTs)
      .withColumn("name", concat(lit("holtWintersConfidenceLower("), col("name"), lit(")")))
    lower.unionByName(upper)
  }

  /** Confidence area: BOTH raw bands renamed holtWintersConfidenceArea(name)
    * — the data surface is the bands verbatim (what carbonapi marshals and
    * its area test asserts, ref holtWintersConfidenceArea/function_cairo.go:
    * 55-103 and function_test.go); the lower is tagged as an invisible stack
    * base and both as stacked, so the renderer reproduces carbonapi's own
    * area fill. */
  def holtWintersConfidenceArea(df: DataFrame, fromTs: Long, delta: Double, seasonality: Long = 86400L): DataFrame = {
    val u = udf((v: Seq[Double], step: Long, sign: Double) => {
      val (f, d) = VecOps.holtWinters(v.toArray, step, seasonality)
      f.indices.map(i => f(i) + sign * delta * d(i)).toArray
    })
    def mark(d: DataFrame, extra: Map[String, String]): DataFrame =
      d.withColumn("tags", map_concat(
        map_filter(col("tags"), (k, _) => !k.isin(extra.keys.toSeq: _*)),
        typedLit(extra)))
    val lower = mark(sliceFrom(df.withColumn("values", u(col("values"), col("step"), lit(-1.0))), fromTs),
      Map("stacked" -> "__DEFAULT__", "invisible" -> "1"))
    val upper = mark(sliceFrom(df.withColumn("values", u(col("values"), col("step"), lit(1.0))), fromTs),
      Map("stacked" -> "__DEFAULT__"))
    lower.unionByName(upper)
      .withColumn("name", concat(lit("holtWintersConfidenceArea("), col("name"), lit(")")))
  }

  /** Aberration: excess of measured data beyond the confidence bands.
    * (ref holtWintersAberration in holtWintersForecast/function.go) */
  def holtWintersAberration(df: DataFrame, fromTs: Long, delta: Double, seasonality: Long = 86400L): DataFrame = {
    val u = udf((v: Seq[Double], step: Long) => {
      val arr = v.toArray
      val (f, d) = VecOps.holtWinters(arr, step, seasonality)
      arr.indices.map { i =>
        val up = f(i) + delta * d(i)
        val lo = f(i) - delta * d(i)
        val x = arr(i)
        if (Kernels.isNaN(x)) 0.0
        else if (x > up) x - up
        else if (x < lo) x - lo
        else 0.0
      }.toArray
    })
    sliceFrom(df.withColumn("values", u(col("values"), col("step"))), fromTs)
      .transform(d => rewrap(d, "holtWintersAberration"))
  }

  // ---------------------------------------------------------------- fitting

  /** polyfit: least-squares polynomial of `degree` via normal equations +
    * Gaussian elimination (no external linear algebra dep); series replaced
    * by the fitted curve. (ref polyfit/function.go, consolidations.Vandermonde) */
  def polyfit(df: DataFrame, degree: Int, nameArgs: Seq[String] = Nil, offsetSec: Long = 0L): DataFrame = {
    val u = udf((v: Seq[Double], step: Long) => {
      val ys = v.toArray
      val extra = if (offsetSec > 0 && step > 0) (offsetSec / step).toInt else 0
      val n = degree + 1
      // normal equations: A^T A c = A^T y over non-NaN points
      val ata = Array.ofDim[Double](n, n)
      val aty = new Array[Double](n)
      var i = 0
      while (i < ys.length) {
        val y = ys(i)
        if (!Kernels.isNaN(y)) {
          val powers = new Array[Double](2 * n - 1)
          powers(0) = 1.0
          var p = 1
          while (p < powers.length) { powers(p) = powers(p - 1) * i; p += 1 }
          var r = 0
          while (r < n) {
            var c = 0
            while (c < n) { ata(r)(c) += powers(r + c); c += 1 }
            aty(r) += powers(r) * y
            r += 1
          }
        }
        i += 1
      }
      // gaussian elimination with partial pivoting
      val coef = {
        val m = Array.tabulate(n)(r => ata(r) :+ aty(r))
        var cIdx = 0
        var singular = false
        while (cIdx < n && !singular) {
          var piv = cIdx
          var r = cIdx + 1
          while (r < n) { if (math.abs(m(r)(cIdx)) > math.abs(m(piv)(cIdx))) piv = r; r += 1 }
          if (math.abs(m(piv)(cIdx)) < 1e-12) singular = true
          else {
            val t = m(cIdx); m(cIdx) = m(piv); m(piv) = t
            r = 0
            while (r < n) {
              if (r != cIdx) {
                val f = m(r)(cIdx) / m(cIdx)(cIdx)
                var c = cIdx
                while (c <= n) { m(r)(c) -= f * m(cIdx)(c); c += 1 }
              }
              r += 1
            }
          }
          cIdx += 1
        }
        if (singular) null else Array.tabulate(n)(r => m(r)(n) / m(r)(r))
      }
      // reference split (polyfit/function.go:81-99): < 2 usable points →
      // the series stays, all-NaN; ≥ 2 points but a singular normal
      // matrix (fewer distinct points than degree+1) → the series is
      // DROPPED from the result (the gonum Inverse error `continue`).
      // null marks the drop; the filter below removes it.
      val usable = ys.count(y => !Kernels.isNaN(y))
      if (coef == null) {
        if (usable < 2) Array.fill(ys.length + extra)(Double.NaN) else null
      }
      else (0 until ys.length + extra).map { x =>
        var acc = 0.0
        var p = n - 1
        while (p >= 0) { acc = acc * x + coef(p); p -= 1 }
        acc
      }.toArray
    })
    // the offset arg extends the fitted curve past the input range
    // (ref polyfit/function.go:70-72)
    rewrap(df.withColumn("values", u(col("values"), col("step")))
      .where(col("values").isNotNull), "polyfit", nameArgs)
  }

  // ------------------------------------------------------ windowed statistics

  /** stdev(points): sliding stddev over the trailing `points` window
    * (partial windows allowed, gated by windowTolerance = min non-null
    * fraction). (ref stdev/function.go) */
  def stdev(df: DataFrame, points: Int, windowTolerance: Double = 0.1): DataFrame = {
    val u = udf((v: Seq[Double]) => {
      val arr = v.toArray
      arr.indices.map { i =>
        val lo = math.max(i - points + 1, 0)
        val win = java.util.Arrays.copyOfRange(arr, lo, i + 1)
        val nonNull = win.count(x => !Kernels.isNaN(x))
        if (nonNull > 0 && nonNull.toDouble / win.length >= windowTolerance)
          Kernels.stddev(win)
        else Double.NaN
      }.toArray
    })
    rewrap(df.withColumn("values", u(col("values"))), "stdev", Seq(points.toString))
  }

  /** pearson(a, b, windowSize): trailing-window correlation of two series;
    * NaN until the window is full, named pearson(a,b,w). EITHER argument
    * matching 0 or >1 series is ErrWildcardNotAllowed, like the reference
    * (ref pearson/function.go:43-45,54-73). */
  def pearsonWindow(a0: DataFrame, b: DataFrame, windowSize: Int): DataFrame = {
    val a = SeriesOps.requireOneSeries(a0, "pearson")
    val bi = SeriesOps.requireOneSeries(b, "pearson")
      .select(col("values").as("valuesB"), col("name").as("nameB"))
    val u = udf((x: Seq[Double], y: Seq[Double]) => {
      val xa = x.toArray; val ya = y.toArray
      xa.indices.map { i =>
        if (i < windowSize - 1) Double.NaN
        else VecOps.pearson(
          java.util.Arrays.copyOfRange(xa, i - windowSize + 1, i + 1),
          java.util.Arrays.copyOfRange(ya, math.min(i - windowSize + 1, ya.length), math.min(i + 1, ya.length)))
      }.toArray
    })
    a.crossJoin(broadcast(bi))
      .withColumn("values", u(col("values"), col("valuesB")))
      .withColumn("name", concat(lit("pearson("), col("name"), lit(","), col("nameB"),
        lit(s",$windowSize)")))
      .drop("valuesB", "nameB")
  }

  /** pearsonClosest: top-n series by |r| (or signed r) vs a reference
    * series. The reference is ONE series (broadcast); ranking is
    * orderBy+limit → TakeOrderedAndProject. (ref pearsonClosest/function.go) */
  def pearsonClosest(df: DataFrame, ref: DataFrame, n: Int, direction: String = "abs"): DataFrame = {
    // the reference series must match exactly one series — 0 or >1 is
    // ErrWildcardNotAllowed (ref pearsonClosest/function.go:43-45)
    val r1 = SeriesOps.requireOneSeries(ref, "pearsonClosest")
      .select(col("values").as("refValues"))
    val u = udf((a: Seq[Double], b: Seq[Double]) => VecOps.pearson(a.toArray, b.toArray))
    val scored = df.crossJoin(broadcast(r1))
      .withColumn("_r", u(col("values"), col("refValues")))
      .drop("refValues")
    // pos/neg KEEP only matching-signed correlations (the reference's
    // `default: continue` drops the rest — ref pearsonClosest/function.go:
    // 81-93), and the top-n emit strongest-first, surviving the marshal
    // tier via the order marker (heap-pop ascending of the standardized
    // value = strongest correlation first)
    val (keep, key) = direction match {
      case "abs" => (lit(true), abs(col("_r")))
      case "pos" => (col("_r") >= 0, col("_r"))
      case "neg" => (col("_r") <= 0, -col("_r"))
      case other => throw new IllegalArgumentException(s"pearsonClosest: bad direction $other")
    }
    SeriesOps.markSorted(
      scored.where(!isnan(col("_r")) && keep)
        .orderBy(key.desc, col("name")).limit(n).drop("_r"))
  }

  // ------------------------------------------------------------- selections

  /** tukeyAbove/Below: top-n outliers by Tukey fences (basis-summarized
    * scalar vs IQR over all series). The IQR runs as Spark's exact
    * `percentile` aggregate over one scalar per series. (ref tukey/function.go) */
  /**
   * tukeyAbove/Below — reference-exact (ref tukey/function.go:40-160):
   * the fences come from the POOLED sorted points of EVERY series (index
   * quantiles `sorted[int(0.25*N)]`, not interpolated), a series survives
   * iff it has at least one point beyond its fence, and the top-n by
   * outlier count return in ASCENDING count order (heap-pop). `basis <= 0`
   * returns an empty list like the reference's early exit; ties at the
   * cutoff break by name (the reference's heap is unstable there). The
   * optional `interval` windows the counted points per series: positive =
   * the last k points, negative = everything before the last |k| (ints
   * count points, interval seconds divide by the series step).
   *
   * Scale shape: the two pooled quartiles are order statistics, selected
   * from a (value, count) HISTOGRAM — one map-side-partial groupBy over the
   * exploded request window, a distributed range sort of the histogram
   * (value-cardinality-sized, never the point set through one partition),
   * per-partition count offsets (one #partitions-sized collect, which also
   * yields the total — no separate count job), and a 2-row selection scan.
   * Then a map-side outlier count per series and a TakeOrdered top-n. The
   * old shape ranked every pooled point through an unpartitioned window —
   * a single-task funnel at 100× name cardinality.
   */
  def tukey(df0: DataFrame, basis: Double, n: Int, above: Boolean,
            interval: Option[Either[Long, Int]] = None): DataFrame = {
    require(n >= 1, "tukey: n must be larger or equal to 1")
    if (basis <= 0) return df0.limit(0)
    // the quartile jobs and the returned top-n both read the input
    val df = Eval.pin(df0)
    val winVals = interval match {
      case None => col("values")
      case Some(iv) =>
        val k: Column = iv match {
          case Right(pts) => lit(pts.toLong)
          case Left(secs) => (lit(secs) / col("step")).cast("long")
        }
        val len = size(col("values")).cast("long")
        // (ref function.go:70-84): positive k = last k points, negative k
        // = all but the last |k|, zero/overflow = the whole range
        val begin = when(k > 0 && k < len, len - k).otherwise(lit(0L))
        val end = when(k < 0 && -k < len, len + k).otherwise(len)
        slice(col("values"), (begin + 1).cast("int"), (end - begin).cast("int"))
    }
    val withW = df.withColumn("_w", winVals)
    val pts = withW.select(explode(col("_w")).as("_v")).where(!isnan(col("_v")))
    val quartiles = graft.core.Scope { s =>
      val hist = s.persist(pts.groupBy("_v").agg(count(lit(1)).as("_c")).sort("_v"))
      val partSums = hist.rdd
        .mapPartitionsWithIndex((i, it) =>
          Iterator.single((i, it.map(_.getLong(1)).sum)))
        .collect().sortBy(_._1).map(_._2)
      val total = partSums.sum
      if (total == 0) None
      else {
        // positional quartiles, 1-indexed ranks k+1 in the sorted multiset
        // (ref function.go:96-101: sort + values[len/4], values[3*len/4])
        val targets = Array((0.25 * total).toLong + 1, (0.75 * total).toLong + 1)
        val offsets = partSums.scanLeft(0L)(_ + _)
        val quart = hist.rdd.mapPartitionsWithIndex { (i, it) =>
          var cum = offsets(i)
          it.flatMap { r =>
            val lo = cum
            cum += r.getLong(1)
            targets.filter(t => t > lo && t <= cum).map(t => (t, r.getDouble(0)))
          }
        }.collect().toMap
        Some((quart(targets(0)), quart(targets(1))))
      }
    }
    if (quartiles.isEmpty) return df.limit(0)
    val (q1, q3) = quartiles.get
    val fence = if (above) q3 + basis * (q3 - q1) else q1 - basis * (q3 - q1)
    val cnt = size(filter(col("_w"),
      v => !isnan(v) && (if (above) v >= lit(fence) else v <= lit(fence))))
    SeriesOps.markSorted(
      withW.withColumn("_oc", cnt).where(col("_oc") > 0)
        .orderBy(col("_oc").desc, col("name")).limit(n)
        .orderBy(col("_oc").asc, col("name"))
        .drop("_w", "_oc"))
  }

  /** averageOutsidePercentile: keep series whose average falls ON or outside
    * the [100-n, n] percentile band of all averages — NON-interpolated
    * percentiles, and a boundary average survives (`!(avg > lo && avg < hi)`)
    * (ref averageOutsidePercentile/function.go:46-68, Percentile
    * consolidations.go:90-123). The per-series averages are series-count-
    * bounded, so one collect_list agg feeds the exact kernel. */
  def averageOutsidePercentile(df: DataFrame, n0: Double): DataFrame = {
    val number = if (n0 < 50) 100 - n0 else n0
    val avgC = vecScalar(Kernels.mean)(col("values"))
    val withA = df.withColumn("_a", avgC)
    val bandU = udf((av: Seq[Double]) => {
      val arr = av.toArray
      Array(Kernels.percentile(arr, 100 - number, interpolate = false),
        Kernels.percentile(arr, number, interpolate = false))
    })
    val bands = withA.agg(collect_list(col("_a")).as("_avs"))
      .select(bandU(col("_avs")).as("_b"))
      .select(element_at(col("_b"), 1).as("lo"), element_at(col("_b"), 2).as("hi"))
    withA.crossJoin(broadcast(bands))
      .where(!(col("_a") > col("lo") && col("_a") < col("hi")))
      .drop("_a", "lo", "hi")
  }

  /** removeBetweenPercentile: keep series with at least one point ON or
    * outside the cross-series [100-n, n] point-wise percentile band —
    * NON-interpolated percentiles (the `!` summarizer suffix), boundary
    * points survive (`!(v > lo && v < hi)`), per-TIMESTAMP thresholds (the
    * graphite-web intent; the reference's series-index threshold lookup is a
    * documented non-reproduced bug, see COMPATIBILITY.md)
    * (ref removeBetweenPercentile/function.go:50-81). */
  def removeBetweenPercentile(df: DataFrame, n0: Double): DataFrame = {
    val n = if (n0 > 50) 100 - n0 else n0
    val lowAgg = SeriesOps.aggregateSeries(df, s"p$n!")
      .select(col("values").as("loV"))
    val highAgg = SeriesOps.aggregateSeries(df, s"p${100 - n}!")
      .select(col("values").as("hiV"))
    df.crossJoin(broadcast(lowAgg)).crossJoin(broadcast(highAgg))
      .where(exists(
        zip_with(col("values"), zip_with(col("loV"), col("hiV"), (l, h) => struct(l.as("l"), h.as("h"))),
          (v, lh) => !isnan(v) && !(v > lh.getField("l") && v < lh.getField("h"))),
        x => x))
      .drop("loV", "hiV")
      // the reference renames with a space after the comma
      // (ref removeBetweenPercentile/function.go:75)
      .withColumn("name",
        concat(lit("removeBetweenPercentile("), col("name"), lit(s", ${SeriesOps.fmtNum(n0)})")))
  }

  // ------------------------------------------------------------------- slo

  /** slo(list, interval, method, value): per-bucket fraction of points
    * meeting the predicate. Name: `slo(m, 1d, above, 100)` — spaces, raw
    * unquoted values (ref slo/function.go:108-114). */
  /** slo / sloErrorBudget: per-bucket (matched / not-null) ratio over
    * interval-sized buckets anchored at each series' OWN start (never
    * epoch-aligned), ceil((stop-start)/interval) buckets with NO trailing
    * pad, all-NaN when the series step exceeds the bucket — and the error
    * budget is (ratio - objective) * interval, scaled to seconds of budget
    * (ref slo/function.go:118-205, helper.GetBuckets align.go:213). */
  private def sloCore(df: DataFrame, interval: Long, method: String, value: Double,
                      objective: Option[Double]): DataFrame = {
    val pred: Double => Boolean = method match {
      case "above"        => _ > value
      case "aboveOrEqual" => _ >= value
      case "below"        => _ < value
      case "belowOrEqual" => _ <= value
      case other => throw new IllegalArgumentException(s"slo: bad method $other")
    }
    val u = udf((v: Seq[Double], start: Long, step: Long) => {
      val span = v.length.toLong * step
      val buckets = math.max(math.ceil(span.toDouble / interval).toInt, 0)
      if (step > interval) Array.fill(buckets)(Double.NaN)
      else {
        // the reference's time walk: full buckets scale the error budget by
        // the interval, the trailing PARTIAL bucket by its actual span
        // (ref slo/function.go:157-198)
        val out = scala.collection.mutable.ArrayBuffer.empty[Double]
        var qtyMatched = 0
        var qtyNotNull = 0
        var qtyTotal = 0
        var timeCurrent = start
        val timeStop = start + span
        var timeBucketStarts = timeCurrent
        var timeBucketEnds = timeCurrent + interval
        def emit(scale: Long): Unit = {
          val x =
            if (qtyNotNull == 0) Double.NaN
            else {
              val ratio = qtyMatched.toDouble / qtyNotNull
              objective.fold(ratio)(obj => (ratio - obj) * scale)
            }
          out += x
        }
        var i = 0
        var broke = false
        while (i < v.length && !broke) {
          qtyTotal += 1
          val x = v(i)
          if (!Kernels.isNaN(x)) { qtyNotNull += 1; if (pred(x)) qtyMatched += 1 }
          timeCurrent += step
          if (timeCurrent > timeStop) broke = true
          else if (timeCurrent >= timeBucketEnds) {
            emit(interval)
            qtyMatched = 0; qtyNotNull = 0; qtyTotal = 0
            timeBucketStarts = timeCurrent
            timeBucketEnds += interval
          }
          i += 1
        }
        if (qtyTotal > 0) emit(timeCurrent - timeBucketStarts)
        out.toArray
      }
    })
    df.withColumn("values", u(col("values"), col("start"), col("step")))
      .withColumn("step", lit(interval))
  }

  def slo(df: DataFrame, interval: Long, method: String, value: Double,
          rawInterval: String = ""): DataFrame = {
    val raw = if (rawInterval.nonEmpty) rawInterval else s"${interval}s"
    sloCore(df, interval, method, value, None)
      .withColumn("name", concat(lit("slo("), col("name"),
        lit(s", $raw, $method, ${SeriesOps.fmtNum(value)})")))
  }

  def sloErrorBudget(df: DataFrame, interval: Long, method: String, value: Double,
                     objective: Double, rawInterval: String = ""): DataFrame = {
    val raw = if (rawInterval.nonEmpty) rawInterval else s"${interval}s"
    sloCore(df, interval, method, value, Some(objective))
      .withColumn("name", concat(lit("sloErrorBudget("), col("name"),
        lit(s", $raw, $method, ${SeriesOps.fmtNum(value)}, ${SeriesOps.fmtNum(objective)})")))
  }

  // ------------------------------------------------------------------- fft

  /** fft(seriesList, mode): true n-point DFT (no padding) emitting abs
    * and/or phase component series named fft(m,abs)/fft(m,phase); default
    * mode emits both (ref fft/function.go:30-69). NaN inputs are zeroed
    * (deviation: the reference lets NaN poison the whole transform, which
    * renders the output useless on any gappy series). */
  def fft(df: DataFrame, mode: String = ""): DataFrame = {
    def component(kind: String): DataFrame = {
      val u = udf((v: Seq[Double]) => {
        // raw values, NaN included: FFTReal(a.Values) lets one gap poison
        // every output bin to NaN, exactly like the reference — a gapped
        // series transforms to all-NaN, i.e. an empty render
        // (ref fft/function.go:56 passes a.Values unfiltered)
        val re0 = v.toArray
        val (re, im) = VecOps.dft(re0, new Array[Double](re0.length), invert = false)
        if (kind == "abs") Array.tabulate(re.length)(i => math.hypot(re(i), im(i)))
        else Array.tabulate(re.length)(i => math.atan2(im(i), re(i)))
      })
      df.withColumn("values", u(col("values")))
        .withColumn("name", concat(lit("fft("), col("name"), lit(s",$kind)")))
    }
    mode match {
      case "abs" => component("abs")
      case "phase" => component("phase")
      case _ => component("abs").unionByName(component("phase"))
    }
  }

  /** ifft: inverse transform of a magnitude spectrum (optionally paired with
    * a phase list, positionally by sorted name); output = |IDFT|.
    * (ref ifft/function.go:30-70) */
  def ifft(absDf: DataFrame, phaseDf: Option[DataFrame]): DataFrame = phaseDf match {
    case None =>
      val u = udf((v: Seq[Double]) => {
        // raw values: IFFTReal(a.Values) — a gap poisons every output bin
        // (ref ifft/function.go:67, same convention as fft)
        val re0 = v.toArray
        val (re, im) = VecOps.dft(re0, new Array[Double](re0.length), invert = true)
        Array.tabulate(re.length)(i => math.hypot(re(i), im(i)))
      })
      rewrap(absDf.withColumn("values", u(col("values"))), "ifft")
    case Some(p) =>
      val ai = PairOps.indexByName(absDf)
      val pi = PairOps.indexByName(
        p.select(col("name").as("pName"), col("values").as("pValues")), "pName")
      val u = udf((a: Seq[Double], ph: Seq[Double], hasPhase: Boolean) => {
        val n = a.length
        val re0 = new Array[Double](n); val im0 = new Array[Double](n)
        var i = 0
        while (i < n) {
          // NaN magnitudes read as 0 on the WITH-phase path only
          // (ref ifft/function.go:55-60); the phase is used RAW — a NaN
          // phase slot poisons the whole IFFT exactly like
          // cmplx.Rect(v, NaN). A phase array shorter than the abs array
          // would panic in the reference; we read missing slots as 0.
          if (hasPhase) {
            val mag = if (Kernels.isNaN(a(i))) 0.0 else a(i)
            val an = if (i < ph.length) ph(i) else 0.0
            re0(i) = mag * math.cos(an); im0(i) = mag * math.sin(an)
          } else re0(i) = a(i) // no partner: the reference's IFFTReal fallback, raw
          i += 1
        }
        val (re, im) = VecOps.dft(re0, im0, invert = true)
        Array.tabulate(n)(i2 => math.hypot(re(i2), im(i2)))
      })
      // LEFT join: an abs series beyond the phase list's length falls back
      // to the no-phase transform instead of dropping
      // (ref ifft/function.go:52 `if len(phaseSeriesList) > j`)
      ai.join(pi, Seq("_i"), "left")
        .withColumn("values",
          u(col("values"), coalesce(col("pValues"), array()), col("pName").isNotNull))
        .withColumn("name", when(col("pName").isNotNull,
            concat(lit("ifft("), col("name"), lit(","), col("pName"), lit(")")))
          .otherwise(concat(lit("ifft("), col("name"), lit(")"))))
        .drop("_i", "pName", "pValues")
  }

  /** lowPass: the reference operates on an ALREADY-TRANSFORMED spectrum —
    * keep the first and last (cutPercent/200)*n bins, NaN the middle band;
    * no transform of its own (ref lowPass/function.go:44-57). Vector UDF so
    * `values` is evaluated exactly once per row: the input is usually fft's
    * DFT output, and the earlier HOF mask referenced `size(values)` inside
    * the element lambda — Catalyst inlines the un-materialized upstream
    * expression there, re-running the whole DFT per ELEMENT (g118 measured
    * 35 s vs 0.7 s for the bare fft at sf0.1). */
  def lowPass(df: DataFrame, cutPercent: Double): DataFrame = {
    // null-safe: the old HOF propagated a NULL values array; the UDF must too
    val u = udf((v: Seq[Double]) => {
      if (v == null) null
      else {
        val n = v.length
        val lowCut = math.floor(cutPercent / 200.0 * n).toInt
        Array.tabulate(n)(i => if (i < lowCut || i >= n - lowCut) v(i) else Double.NaN)
      }
    })
    df.withColumn("values", u(col("values")))
      .withColumn("name",
        concat(lit("lowPass("), col("name"), lit(s",${SeriesOps.fmtNum(cutPercent)})")))
  }

  // --- two-sample KS p-value, Numerical-Recipes form (the vendored
  // go-onlinestats/kstest.go the reference calls): D = max ECDF distance
  // with tie groups advanced whole, p = Q_KS(sqrt(n1*n2/(n1+n2)) * D).
  private def pks(z: Double): Double = {
    if (z == 0.0) 0.0
    else if (z < 1.18) {
      val y = math.exp(-1.23370055013616983 / (z * z))
      2.25675833419102515 * math.sqrt(-math.log(y)) *
        (y + math.pow(y, 9) + math.pow(y, 25) + math.pow(y, 49))
    } else {
      val x = math.exp(-2.0 * z * z)
      1.0 - 2.0 * (x - math.pow(x, 4) + math.pow(x, 9))
    }
  }
  private def qks(z: Double): Double = {
    if (z == 0.0) 1.0
    else if (z < 1.18) 1.0 - pks(z)
    else {
      val x = math.exp(-2.0 * z * z)
      2.0 * (x - math.pow(x, 4) + math.pow(x, 9))
    }
  }
  private[engine] def ksPValue(s1: Array[Double], s2: Array[Double]): Double = {
    // the vendored KS sorts then strips leading NaNs (Go sorts NaN first)
    // = drop NaNs; an all-NaN window panics in the reference (a 500) —
    // we return NaN so the point just goes missing
    val d1 = s1.filter(d => !Kernels.isNaN(d)).sorted
    val d2 = s2.filter(d => !Kernels.isNaN(d)).sorted
    val n1 = d1.length; val n2 = d2.length
    if (n1 == 0 || n2 == 0) return Double.NaN
    var j1 = 0; var j2 = 0; var fn1 = 0.0; var fn2 = 0.0; var d = 0.0
    while (j1 < n1 && j2 < n2) {
      val v1 = d1(j1); val v2 = d2(j2)
      if (v1 <= v2) while (j1 < n1 && v1 == d1(j1)) { j1 += 1; fn1 = j1.toDouble / n1 }
      if (v2 <= v1) while (j2 < n2 && v2 == d2(j2)) { j2 += 1; fn2 = j2.toDouble / n2 }
      val dt = math.abs(fn2 - fn1)
      if (dt > d) d = dt
    }
    val en = math.sqrt(n1.toDouble * n2 / (n1.toDouble + n2))
    qks(en * d)
  }

  /** kolmogorovSmirnovTest2: rolling 2-sample KS test. Per point i the
    * window is the trailing windowSize GRID points (NaN slots included,
    * stripped inside the test); points before the window fills (i <
    * windowSize, so the first series point is never in any window) are
    * NaN; the emitted value is the NR p-value, not the D statistic.
    * EITHER argument matching 0 or >1 series is ErrWildcardNotAllowed
    * (ref kolmogorovSmirnovTest2/function.go:43-45,66-80 + the vendored
    * go-onlinestats/kstest.go). */
  def ksTest2(a0: DataFrame, b: DataFrame, windowSize: Int): DataFrame = {
    val a = SeriesOps.requireOneSeries(a0, "kolmogorovSmirnovTest2")
    val bi = SeriesOps.requireOneSeries(b, "kolmogorovSmirnovTest2")
      .select(col("values").as("valuesB"), col("name").as("nameB"))
    val u = udf((x: Seq[Double], y: Seq[Double]) => {
      val xa = x.toArray; val ya = y.toArray
      Array.tabulate(xa.length) { i =>
        if (i < windowSize) Double.NaN
        else ksPValue(
          java.util.Arrays.copyOfRange(xa, i - windowSize + 1, i + 1),
          java.util.Arrays.copyOfRange(ya,
            math.min(i - windowSize + 1, ya.length), math.min(i + 1, ya.length)))
      }
    })
    a.crossJoin(broadcast(bi))
      .withColumn("values", u(col("values"), col("valuesB")))
      .withColumn("name", concat(lit("kolmogorovSmirnovTest2("), col("name"),
        lit(","), col("nameB"), lit(s",$windowSize)")))
      .drop("valuesB", "nameB")
  }
}
