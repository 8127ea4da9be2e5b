package graft.core

/**
 * Sequential per-series vector transforms. Each operates on one series'
 * dense `Array[Double]` (NaN = missing) and returns a new array of the same
 * length unless noted. Running these inside a UDF keeps the recurrence local
 * to one row — no shuffle, no window function, scales linearly with series
 * count regardless of cluster size.
 *
 * Semantics ported behaviorally from the reference function packages
 * (file:line cited per function).
 */
object VecOps {
  import Kernels.isNaN

  /** v(i) - prev where prev is the last non-NaN value seen; NaN before any.
    * (ref expr/functions/derivative/function.go:31-44) */
  def derivative(v: Array[Double]): Array[Double] = {
    val out = new Array[Double](v.length)
    var prev = Double.NaN
    var i = 0
    while (i < v.length) {
      val x = v(i)
      out(i) = x - prev
      if (!isNaN(x)) prev = x
      i += 1
    }
    out
  }

  /** Like derivative but vs the RAW previous point (a NaN poisons both
    * neighbors); negative deltas → NaN (counter reset) unless maxValue wrap /
    * minValue floor applies.
    * (ref expr/functions/nonNegativeDerivative/function.go:96-115) */
  def nonNegativeDerivative(v: Array[Double], maxValue: Double = Double.NaN, minValue0: Double = Double.NaN): Array[Double] = {
    val hasMax = !isNaN(maxValue)
    val hasMin = !isNaN(minValue0)
    val minValue = if (hasMax && !hasMin) 0.0 else minValue0
    val out = new Array[Double](v.length)
    var i = 0
    while (i < v.length) {
      val x = v(i)
      if (i == 0 || isNaN(x) || isNaN(v(i - 1))) {
        out(i) = Double.NaN
      } else {
        val diff = x - v(i - 1)
        if (diff >= 0) out(i) = diff
        else if (hasMax && maxValue >= x) out(i) = (maxValue - v(i - 1)) + (x - minValue) + 1
        else if (hasMin && minValue <= x) out(i) = x - minValue
        else out(i) = Double.NaN
      }
      i += 1
    }
    out
  }

  /** nonNegativeDerivative scaled to per-second rate; same counter-wrap
    * maxValue / minValue floor semantics. (ref perSecond/function.go:98-117) */
  def perSecond(v: Array[Double], step: Long, maxValue: Double = Double.NaN,
                minValue: Double = Double.NaN): Array[Double] = {
    val d = nonNegativeDerivative(v, maxValue, minValue)
    var i = 0
    while (i < d.length) { d(i) = d(i) / step; i += 1 }
    d
  }

  /** Running sum; NaN points emit NaN but do not reset the accumulator.
    * (ref expr/functions/integral/function.go:30-45) */
  def integral(v: Array[Double]): Array[Double] = {
    val out = new Array[Double](v.length)
    var acc = 0.0
    var i = 0
    while (i < v.length) {
      val x = v(i)
      if (isNaN(x)) out(i) = Double.NaN else { acc += x; out(i) = acc }
      i += 1
    }
    out
  }

  /** Running sum resetting at each interval boundary (ts-aligned buckets).
    * (ref integralByInterval/function.go) */
  def integralByInterval(v: Array[Double], start: Long, step: Long, interval: Long): Array[Double] = {
    val out = new Array[Double](v.length)
    var acc = 0.0
    var curBucket = Long.MinValue
    var i = 0
    while (i < v.length) {
      val ts = start + i * step
      val bucket = math.floorDiv(ts, interval)
      if (bucket != curBucket) { acc = 0.0; curBucket = bucket }
      val x = v(i)
      if (isNaN(x)) out(i) = Double.NaN else { acc += x; out(i) = acc }
      i += 1
    }
    out
  }

  /** hitcount: per-bucket total hits — each point contributes
    * value × (seconds of overlap with the bucket), buckets anchored at the
    * (align-extended) stop so the last bucket always ends at stop; empty
    * buckets are NaN. Returns (newStart, buckets).
    * (ref hitcount/function.go:64-153, helper/align.go:213-215) */
  def hitcount(v: Array[Double], start: Long, step: Long, interval: Long,
               alignToInterval: Boolean): (Long, Array[Double]) = {
    val stop0 = start + v.length * step
    val stop = if (alignToInterval) start + ((stop0 - start) / interval) * interval + interval else stop0
    val bucketCount = math.ceil((stop - start).toDouble / interval).toInt
    if (bucketCount <= 0) return (start, Array.empty[Double])
    val newStart = stop - bucketCount.toLong * interval
    val out = new Array[Double](bucketCount)
    val has = new Array[Boolean](bucketCount)
    var i = 0
    while (i < v.length) {
      val x = v(i)
      if (!isNaN(x)) {
        val st = start + i.toLong * step
        val startBucket = math.floorDiv(st - newStart, interval).toInt
        val startMod = math.floorMod(st - newStart, interval)
        var endBucket = math.floorDiv(st + step - newStart, interval).toInt
        var endMod = math.floorMod(st + step - newStart, interval)
        if (endBucket >= bucketCount) { endBucket = bucketCount - 1; endMod = interval }
        if (startBucket == endBucket) {
          if (startBucket >= 0) { out(startBucket) += x * (endMod - startMod); has(startBucket) = true }
        } else {
          if (startBucket >= 0) { out(startBucket) += x * (interval - startMod); has(startBucket) = true }
          var j = startBucket + 1
          while (j < endBucket) {
            if (j >= 0) { out(j) += x * interval; has(j) = true }
            j += 1
          }
          if (endMod > 0) { out(endBucket) += x * endMod; has(endBucket) = true }
        }
      }
      i += 1
    }
    i = 0
    while (i < bucketCount) { if (!has(i)) out(i) = Double.NaN; i += 1 }
    (newStart, out)
  }

  /** Forward-fill NaN gaps of length <= limit (Inf = unlimited).
    * (ref expr/functions/keepLastValue/function.go) */
  /** Forward-fill NaN runs with the last seen value, at most `limit`
    * consecutive points per gap — a PARTIAL prefix for longer gaps,
    * trailing gap included; negative limit = unlimited
    * (ref keepLastValue/function.go:66-84, golden: limit 3 over a 4-gap
    * fills exactly 3). graphite-web instead fills all-or-nothing per gap;
    * the reference's own tables assert the partial behavior, so that is
    * the contract here. */
  def keepLastValue(v: Array[Double], limit: Double = Double.PositiveInfinity): Array[Double] = {
    val out = v.clone()
    val unlimited = limit < 0 || limit.isPosInfinity
    var prev = Double.NaN
    var missing = 0
    var i = 0
    while (i < out.length) {
      if (isNaN(out(i))) {
        if ((unlimited || missing < limit) && !isNaN(prev)) { out(i) = prev; missing += 1 }
      } else { missing = 0; prev = out(i) }
      i += 1
    }
    out
  }

  /** Linear interpolation across NaN gaps of length <= limit; leading/trailing
    * gaps left as NaN. (ref expr/functions/interpolate/function.go) */
  def interpolate(v: Array[Double], limit: Double = Double.PositiveInfinity): Array[Double] = {
    val out = v.clone()
    var lastIdx = -1
    var i = 0
    while (i < out.length) {
      if (!isNaN(out(i))) {
        if (lastIdx >= 0 && i - lastIdx > 1 && (i - lastIdx - 1) <= limit) {
          val lo = out(lastIdx); val hi = out(i)
          val span = (i - lastIdx).toDouble
          var j = lastIdx + 1
          // ratio-first association matches SQL `lo + (hi-lo)*((j-l)/(span))`
          while (j < i) { out(j) = lo + (hi - lo) * ((j - lastIdx).toDouble / span); j += 1 }
        }
        lastIdx = i
      }
      i += 1
    }
    out
  }

  /** 1 where value differs from previous non-NaN-tracked value else 0.
    * (ref expr/functions/changed/function.go) */
  def changed(v: Array[Double]): Array[Double] = {
    val out = new Array[Double](v.length)
    var prev = Double.NaN
    var i = 0
    while (i < v.length) {
      val x = v(i)
      if (!isNaN(prev) && !isNaN(x) && x != prev) out(i) = 1.0 else out(i) = 0.0
      if (!isNaN(x)) prev = x
      i += 1
    }
    out
  }

  /** Shift values right (steps>0) or left (steps<0), NaN-padding. (ref delay/function.go) */
  def delay(v: Array[Double], steps: Int): Array[Double] = {
    val out = Array.fill(v.length)(Double.NaN)
    var i = 0
    while (i < v.length) {
      val j = i + steps
      if (j >= 0 && j < v.length) out(j) = v(i)
      i += 1
    }
    out
  }

  /** Trailing moving window of `n` points (current inclusive), aggregated with
    * `func`. Output index i covers input [i-n+1, i]; the first `n` output
    * points (relative to the widened fetch) are dropped by the caller via
    * re-stamping — see SeriesOps.movingWindow.
    * (ref expr/functions/moving/function.go:200-250 — window pushed per point,
    * emitted at ridx=i-windowPoints, first input value skipped.) */
  def movingWindow(v: Array[Double], n: Int, func: String, xff: Double): Array[Double] = {
    val size = math.max(v.length - n, 0)
    val out = new Array[Double](size)
    // the moving family dispatches to types.Windowed, whose `last` is the RAW
    // window tail (NaN stays NaN) and whose `diff` subtracts non-NaN values
    // from a RAW head — both differ from the cross-series Agg* kernels
    // (ref moving/function.go:214-240, types/windowed.go:146-177); any other
    // callback silently leaves the zeroed slot (reference switch has no
    // default), which we mirror for parity
    val agg: Array[Double] => Double = func match {
      case "last" => w => w(w.length - 1)
      case "diff" => w => {
        var r = w(0); var i = 1
        while (i < w.length) { if (!Kernels.isNaN(w(i))) r -= w(i); i += 1 }
        r
      }
      case "average" | "avg" | "avg_zero" | "sum" | "min" | "max" | "multiply" |
           "range" | "stddev" | "count" | "median" => Kernels.byName(func)
      case _ => _ => 0.0
    }
    var i = 1
    val buf = new Array[Double](n)
    java.util.Arrays.fill(buf, Double.NaN)
    var pushed = 0
    while (i < v.length) {
      buf(pushed % n) = v(i)
      pushed += 1
      val ridx = i - n
      if (ridx >= 0) {
        // window currently holds v[i-n+1..i]
        var nonNull = 0
        var k = 0
        while (k < n) { if (!isNaN(buf(k))) nonNull += 1; k += 1 }
        if (nonNull > 0 && Kernels.xffOk(nonNull, n, xff)) {
          // copy in chronological order for order-sensitive aggs (last/median)
          val win = new Array[Double](n)
          var m = 0
          while (m < n) { win(m) = v(i - n + 1 + m); m += 1 }
          out(ridx) = agg(win)
        } else out(ridx) = Double.NaN
      }
      i += 1
    }
    out
  }

  /** Exponential moving average, alpha = 2/(n+1), seeded with the mean of the
    * first window. (ref exponentialMovingAverage/function.go) */
  def ema(v: Array[Double], window: Int): Array[Double] = {
    val alpha = 2.0 / (window + 1)
    emaAlpha(v, alpha, seedWindow = window)
  }

  /** EMA with explicit alpha; seed = first value (seedWindow=1) or mean of the
    * first seedWindow points. A NaN seed (leading NaNs in the input) stays
    * unset until the first non-NaN value, which then seeds the state — the
    * reference only Push()es non-NaN values, so leading NaNs never poison
    * the estimator. (ref ewma/function.go:58-67) */
  def emaAlpha(v: Array[Double], alpha: Double, seedWindow: Int = 1): Array[Double] = {
    val out = Array.fill(v.length)(Double.NaN)
    if (v.isEmpty) return out
    val seedN = math.min(seedWindow, v.length)
    var e = Kernels.mean(v.take(seedN))
    var i = 0
    while (i < v.length) {
      val x = v(i)
      if (!isNaN(x)) {
        e = if (isNaN(e)) x else alpha * x + (1 - alpha) * e
        out(i) = e
      } else out(i) = Double.NaN
      i += 1
    }
    out
  }

  /** Reference-exact exponentialMovingAverage kernel: seed = mean of the
    * first `points` values (0 when all-NaN), every emitted value
    * SafeRound(6); NaN emits NaN and holds state; a window longer than the
    * input collapses to one mean point.
    * (ref exponentialMovingAverage/function.go:112-133) */
  def emaRef(v: Array[Double], points: Int, alpha: Double): Array[Double] = {
    if (points <= 0) return Array.fill(v.length)(Double.NaN)
    if (points > v.length) return Array(Kernels.safeRound(Kernels.mean(v), 6))
    val out = new Array[Double](v.length - points + 1)
    var e = Kernels.mean(java.util.Arrays.copyOfRange(v, 0, points))
    if (isNaN(e)) e = 0.0
    out(0) = Kernels.safeRound(e, 6)
    var i = points
    while (i < v.length) {
      val x = v(i)
      if (isNaN(x)) out(i - points + 1) = Double.NaN
      else { e = alpha * x + (1 - alpha) * e; out(i - points + 1) = Kernels.safeRound(e, 6) }
      i += 1
    }
    out
  }

  /** Re-bucket a series into fixed `bucketPoints`-sized groups aggregated with
    * `func` (summarize core). */
  def rebucket(v: Array[Double], bucketPoints: Int, func: String, xff: Float): Array[Double] = {
    val nOut = (v.length + bucketPoints - 1) / bucketPoints
    val out = new Array[Double](nOut)
    var b = 0
    while (b < nOut) {
      val lo = b * bucketPoints
      val hi = math.min(lo + bucketPoints, v.length)
      out(b) = Kernels.summarizeValues(func, java.util.Arrays.copyOfRange(v, lo, hi), xff)
      b += 1
    }
    out
  }

  /** Least-squares linear fit over (index, value) pairs, NaN-skipped; returns
    * (slope-per-step, intercept-at-index-0) or NaN pair. (ref linearRegression/function.go) */
  def linFit(v: Array[Double]): (Double, Double) = {
    var n = 0; var sx = 0.0; var sy = 0.0; var sxx = 0.0; var sxy = 0.0
    var i = 0
    while (i < v.length) {
      val y = v(i)
      if (!isNaN(y)) { val x = i.toDouble; n += 1; sx += x; sy += y; sxx += x * x; sxy += x * y }
      i += 1
    }
    if (n < 2) return (Double.NaN, Double.NaN)
    val denom = n * sxx - sx * sx
    if (denom == 0) return (Double.NaN, Double.NaN)
    val slope = (n * sxy - sx * sy) / denom
    val intercept = (sy - slope * sx) / n
    (slope, intercept)
  }

  /** Holt-Winters triple exponential smoothing forecast with Graphite's fixed
    * parameters alpha=0.1, beta=0.0035, gamma=0.1 and 1-day seasonality in
    * steps. Returns (forecast, deviation) arrays.
    *
    * NaN-gap semantics follow the reference exactly (ref
    * expr/holtwinters/hw.go:80-90): a missing actual BREAKS the recurrence —
    * the gap row records a NaN intercept, zero slope/seasonal/deviation
    * slots, and carries the previous nextPred as its own prediction; the
    * first dense row after a gap restarts the intercept from its own actual.
    * seasonLength is floored at 2 (ref hw.go:48-50). Row 0 runs the full
    * update formulas (not a shortcut), so slope(0)/seasonal(0) carry the
    * reference's last-ulp residues. (ref expr/holtwinters/hw.go:36-127) */
  def holtWinters(v: Array[Double], step: Long, seasonality: Long = 86400L): (Array[Double], Array[Double]) = {
    val alpha = 0.1; val beta = 0.0035; val gamma = 0.1
    val seasonLen = math.max((seasonality / step).toInt, 2)
    val n = v.length
    val intercepts = new Array[Double](n)
    val slopes = new Array[Double](n)
    val seasonals = new Array[Double](n)
    val predictions = new Array[Double](n)
    val deviations = new Array[Double](n)
    def seasonalIdx(i: Int): Double = { val j = i - seasonLen; if (j >= 0) seasonals(j) else 0.0 }
    def devIdx(i: Int): Double = { val j = i - seasonLen; if (j >= 0) deviations(j) else 0.0 }
    var nextPred = Double.NaN
    var i = 0
    while (i < n) {
      val actual = v(i)
      if (isNaN(actual)) {
        intercepts(i) = Double.NaN
        slopes(i) = 0.0
        seasonals(i) = 0.0
        predictions(i) = nextPred
        deviations(i) = 0.0
        nextPred = Double.NaN
      } else {
        var lastIntercept = actual; var lastSlope = 0.0; var prediction = actual
        if (i > 0) {
          lastIntercept = intercepts(i - 1)
          lastSlope = slopes(i - 1)
          if (isNaN(lastIntercept)) lastIntercept = actual
          prediction = nextPred
        }
        val lastSeasonal = seasonalIdx(i)
        val nextLastSeasonal = seasonalIdx(i + 1)
        val lastSeasonalDev = devIdx(i)
        val intercept = alpha * (actual - lastSeasonal) + (1 - alpha) * (lastIntercept + lastSlope)
        val slope = beta * (intercept - lastIntercept) + (1 - beta) * lastSlope
        val seasonal = gamma * (actual - intercept) + (1 - gamma) * lastSeasonal
        nextPred = intercept + slope + nextLastSeasonal
        val predZ = if (isNaN(prediction)) 0.0 else prediction
        val deviation = gamma * math.abs(actual - predZ) + (1 - gamma) * lastSeasonalDev
        intercepts(i) = intercept; slopes(i) = slope; seasonals(i) = seasonal
        predictions(i) = prediction; deviations(i) = deviation
      }
      i += 1
    }
    (predictions, deviations)
  }

  /** Pearson correlation between two equal-length vectors, pairwise NaN-skip. */
  def pearson(a: Array[Double], b: Array[Double]): Double = {
    var n = 0; var sa = 0.0; var sb = 0.0; var saa = 0.0; var sbb = 0.0; var sab = 0.0
    val len = math.min(a.length, b.length)
    var i = 0
    while (i < len) {
      val x = a(i); val y = b(i)
      if (!isNaN(x) && !isNaN(y)) { n += 1; sa += x; sb += y; saa += x * x; sbb += y * y; sab += x * y }
      i += 1
    }
    if (n < 2) return Double.NaN
    val cov = sab - sa * sb / n
    val va = saa - sa * sa / n
    val vb = sbb - sb * sb / n
    if (va <= 0 || vb <= 0) return Double.NaN
    cov / math.sqrt(va * vb)
  }

  /**
   * Complex DFT at the vector's NATURAL length: radix-2 when n is a power of
   * two, direct O(n²) evaluation otherwise — a true n-point transform with no
   * zero-padding distortion. Series vectors are retention-bounded (~1e3
   * points per row), so the quadratic fallback is ~1e6 mults, executor-local.
   * invert=true computes the inverse transform (scaled by 1/n).
   */
  def dft(re0: Array[Double], im0: Array[Double], invert: Boolean): (Array[Double], Array[Double]) = {
    val n = re0.length
    if (n == 0) return (re0.clone(), im0.clone())
    if ((n & (n - 1)) == 0) {
      // inverse via the conjugate identity: IDFT(x) = conj(DFT(conj(x)))/n
      val re = re0.clone()
      val im = if (invert) im0.map(-_) else im0.clone()
      fftInPlace(re, im)
      if (invert) { var i = 0; while (i < n) { re(i) /= n; im(i) = -im(i) / n; i += 1 } }
      (re, im)
    } else {
      val sign = if (invert) 2 * math.Pi / n else -2 * math.Pi / n
      val re = new Array[Double](n); val im = new Array[Double](n)
      var k = 0
      while (k < n) {
        var sr = 0.0; var si = 0.0
        var t = 0
        while (t < n) {
          val ang = sign * k * t
          val c = math.cos(ang); val s = math.sin(ang)
          sr += re0(t) * c - im0(t) * s
          si += re0(t) * s + im0(t) * c
          t += 1
        }
        if (invert) { re(k) = sr / n; im(k) = si / n } else { re(k) = sr; im(k) = si }
        k += 1
      }
      (re, im)
    }
  }

  /** In-place radix-2 Cooley-Tukey FFT (re, im modified). Length must be a
    * power of two; callers zero-pad. Public-textbook algorithm. */
  def fftInPlace(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    require((n & (n - 1)) == 0, "fft length must be a power of 2")
    // bit reversal
    var j = 0
    var i = 0
    while (i < n) {
      if (i < j) { val tr = re(i); re(i) = re(j); re(j) = tr; val ti = im(i); im(i) = im(j); im(j) = ti }
      var m = n >> 1
      while (m >= 1 && j >= m) { j -= m; m >>= 1 }
      j += m
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2 * math.Pi / len
      val wr = math.cos(ang); val wi = math.sin(ang)
      var s = 0
      while (s < n) {
        var cr = 1.0; var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val er = re(s + k); val ei = im(s + k)
          val or_ = re(s + k + len / 2); val oi = im(s + k + len / 2)
          val tr = or_ * cr - oi * ci
          val ti = or_ * ci + oi * cr
          re(s + k) = er + tr; im(s + k) = ei + ti
          re(s + k + len / 2) = er - tr; im(s + k + len / 2) = ei - ti
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr
          cr = ncr
          k += 1
        }
        s += len
      }
      len <<= 1
    }
  }
}
