package graft.core

/**
 * Graphite-exact aggregation kernels over dense `Array[Double]` vectors where
 * `Double.NaN` encodes a missing point.
 *
 * Semantics follow the reference consolidation module
 * (/root/reference/expr/consolidations/consolidations.go:19-445) — NaN-skipping
 * aggregates, interpolated percentile with the "top two of the smallest
 * ceil(k)+1" selection, and `summarizeValues` with its per-function NaN rules
 * and xFilesFactor gate. These kernels are pure Scala so they can run inside
 * UDFs on executors (one series per row — no shuffle) and be unit-tested
 * without a SparkSession.
 */
object Kernels {

  @inline def isNaN(v: Double): Boolean = java.lang.Double.isNaN(v)

  /** Mean of non-NaN values; NaN if none. (ref consolidations.go:295-306) */
  def mean(v: Array[Double]): Double = {
    var sum = 0.0; var n = 0; var i = 0
    while (i < v.length) { val x = v(i); if (!isNaN(x)) { sum += x; n += 1 }; i += 1 }
    if (n == 0) Double.NaN else sum / n
  }

  /** Mean with NaN treated as 0 (but NaN if ALL are NaN). (ref consolidations.go:309-327) */
  def meanZero(v: Array[Double]): Double = {
    var sum = 0.0; var n2 = 0; var i = 0
    while (i < v.length) { val x = v(i); if (!isNaN(x)) { sum += x; n2 += 1 }; i += 1 }
    if (n2 == 0) Double.NaN else sum / v.length
  }

  def max(v: Array[Double]): Double = {
    var m = Double.NegativeInfinity; var any = false; var i = 0
    while (i < v.length) { val x = v(i); if (!isNaN(x)) { any = true; if (x > m) m = x }; i += 1 }
    if (any) m else Double.NaN
  }

  def min(v: Array[Double]): Double = {
    var m = Double.PositiveInfinity; var any = false; var i = 0
    while (i < v.length) { val x = v(i); if (!isNaN(x)) { any = true; if (x < m) m = x }; i += 1 }
    if (any) m else Double.NaN
  }

  def sum(v: Array[Double]): Double = {
    var s = 0.0; var any = false; var i = 0
    while (i < v.length) { val x = v(i); if (!isNaN(x)) { s += x; any = true }; i += 1 }
    if (any) s else Double.NaN
  }

  /** Count of non-NaN points; NaN if none. (ref consolidations.go:412-426) */
  def count(v: Array[Double]): Double = {
    var n = 0; var i = 0
    while (i < v.length) { if (!isNaN(v(i))) n += 1; i += 1 }
    if (n == 0) Double.NaN else n.toDouble
  }

  /** First non-NaN-filtered value minus all subsequent ones. (ref consolidations.go:428-452) */
  def diff(v: Array[Double]): Double = {
    var res = Double.NaN; var seen = false; var i = 0
    while (i < v.length) {
      val x = v(i)
      if (!isNaN(x)) { if (!seen) { res = x; seen = true } else res -= x }
      i += 1
    }
    res
  }

  /** First raw value (may be NaN); NaN for empty. (ref AggFirst consolidations.go:383-394) */
  def first(v: Array[Double]): Double = if (v.length > 0) v(0) else Double.NaN

  /** Last non-NaN value. (ref AggLast consolidations.go:397-409) */
  def last(v: Array[Double]): Double = {
    var i = v.length - 1
    while (i >= 0) { if (!isNaN(v(i))) return v(i); i -= 1 }
    Double.NaN
  }

  def range(v: Array[Double]): Double = {
    val hi = max(v); val lo = min(v)
    if (isNaN(hi) || isNaN(lo)) Double.NaN else hi - lo
  }

  /** Population variance of non-NaN values. (ref VarianceValue consolidations.go:70-88) */
  def variance(v: Array[Double]): Double = {
    val m = mean(v)
    if (isNaN(m)) return m
    var ss = 0.0; var n = 0; var i = 0
    while (i < v.length) { val x = v(i); if (!isNaN(x)) { val d = m - x; ss += d * d; n += 1 }; i += 1 }
    ss / n
  }

  def stddev(v: Array[Double]): Double = math.sqrt(variance(v))

  /**
   * Graphite percentile. k = (n-1)*p/100 over the sorted non-NaN values;
   * interpolate=true → sorted(floor k)*(1-rem) + sorted(ceil k)*rem;
   * interpolate=false → sorted(ceil k). (ref Percentile consolidations.go:90-123)
   */
  def percentile(data: Array[Double], percent: Double, interpolate: Boolean): Double = {
    val f = data.filter(x => !isNaN(x))
    if (f.length == 0 || percent < 0 || percent > 100) return Double.NaN
    if (f.length == 1) return f(0)
    java.util.Arrays.sort(f)
    val k = (f.length - 1).toDouble * percent / 100.0
    val hi = math.ceil(k).toInt
    val rem = k - k.toLong
    if (rem == 0 || !interpolate) f(hi)
    else f(hi) * rem + f(hi - 1) * (1 - rem)
  }

  def median(v: Array[Double]): Double = percentile(v, 50, interpolate = true)

  /**
   * Summarize a bucket of values with function `f`, honoring the xFilesFactor
   * gate (fraction of non-NaN points must be >= xff). Mirrors the reference's
   * SummarizeValues switch (consolidations.go:132-278) including its per-
   * function "total" counting quirks.
   */
  def summarizeValues(f: String, values: Array[Double], xff: Float = 0f): Double = {
    if (values.length == 0) return Double.NaN
    val notNans = { var n = 0; var i = 0; while (i < values.length) { if (!isNaN(values(i))) n += 1; i += 1 }; n }
    var total = notNans
    val rv: Double = f match {
      case "sum" | "total"              => if (notNans == 0) 0.0 else sum(values)
      case "avg" | "average" | "avg_zero" =>
        // reference divides NaN-skipped sum by non-NaN count for all three
        if (notNans == 0) 0.0 else { var s = 0.0; var i = 0; while (i < values.length) { if (!isNaN(values(i))) s += values(i); i += 1 }; s / notNans }
      case "max"              => if (notNans == 0) Double.NegativeInfinity else max(values)
      case "min"              => if (notNans == 0) Double.PositiveInfinity else min(values)
      case "last" | "current" => last(values)
      case "range" | "rangeOf" => range(values)
      case "median"           => percentile(values, 50, interpolate = true)
      case "multiply"         => total = 0; val r = { var p = 1.0; var bad = false; var i = 0
                                   while (i < values.length && !bad) { val x = values(i); if (isNaN(x)) bad = true else { p *= x; total += 1 }; i += 1 }
                                   if (bad) Double.NaN else p }
                                 r
      case "diff"             => var r = values(0); var i = 1
                                 total = 0
                                 while (i < values.length) { val x = values(i); if (!isNaN(x)) { r -= x; total += 1 }; i += 1 }
                                 r
      case "count"            => notNans.toDouble
      // left-fold exponentiation across the series list in name order;
      // a ±Inf FINAL result folds to NaN (ref powSeries/function.go:73-75)
      case "powChain"         => var r = values(0); var i = 1
                                 while (i < values.length) { r = goPow(r, values(i)); i += 1 }
                                 if (java.lang.Double.isInfinite(r)) Double.NaN else r
      case "stddev"           => stddev(values)
      case "first"            => values(0)
      // "pN" interpolates; "pN!" takes the upper sample (the reference's
      // percentileOfSeries default, interpolate=false)
      case pN if pN.startsWith("p") =>
        val interp = !pN.endsWith("!")
        try percentile(values, pN.drop(1).stripSuffix("!").toDouble, interpolate = interp)
        catch { case _: NumberFormatException => return Double.NaN }
      case _ => return Double.NaN
    }
    if (total == 0) return Double.NaN
    if (notNans.toFloat / values.length < xff) return Double.NaN
    rv
  }

  /** Consolidation function by Graphite name (cross-series / bucket aggregation). */
  def byName(name: String): Array[Double] => Double = name match {
    case "average" | "avg"  => mean _
    case "avg_zero"         => meanZero _
    case "count"            => count _
    case "diff"             => diff _
    case "max" | "maximum"  => max _
    case "median"           => v => summarizeValues("median", v)
    case "min" | "minimum"  => min _
    case "multiply"         => v => summarizeValues("multiply", v)
    case "range" | "rangeOf" => v => summarizeValues("range", v)
    case "sum" | "total"    => sum _
    case "stddev"           => v => summarizeValues("stddev", v)
    case "first"            => first _
    case "last" | "current" => last _
    // left-fold running pow across the series list (powSeries legacy)
    case "powChain"         => v => summarizeValues("powChain", v)
    case pN if pN.matches("p([0-9]*[.])?[0-9]+!?") =>
      v => percentile(v, pN.drop(1).stripSuffix("!").toDouble, interpolate = !pN.endsWith("!"))
    case other => throw new IllegalArgumentException(s"unsupported consolidation function: $other")
  }

  val validConsolidations: Set[String] = Set(
    "average", "avg", "avg_zero", "count", "diff", "max", "maximum", "median",
    "min", "minimum", "multiply", "range", "rangeOf", "sum", "total", "stddev",
    "first", "last", "current")

  /** Go math.Pow's documented special cases diverge from Java's Math.pow
    * on exactly three inputs: Go checks `y == 0 || x == 1` FIRST (so
    * Pow(1, NaN) = 1 where Java gives NaN) and returns 1 for
    * Pow(-1, ±Inf) (Java: NaN). powSeries folds through raw Go Pow, so
    * NaN exponents reach these cases. (ref powSeries/function.go:63-70) */
  def goPow(x: Double, y: Double): Double =
    if (y == 0.0 || x == 1.0) 1.0
    else if (x == -1.0 && java.lang.Double.isInfinite(y)) 1.0
    else math.pow(x, y)

  /** Banker's rounding to `precision` decimal digits (ref helper.SafeRound,
    * expr/helper/helper.go:225-231 uses math.RoundToEven). */
  def safeRound(v: Double, precision: Int): Double = {
    if (isNaN(v)) return v
    val scale = math.pow(10, precision)
    val scaled = v * scale
    val r = math.rint(scaled) // round half to even
    r / scale
  }

  /** xFilesFactor gate: true if fraction of non-NaN >= xff (ref helper.go:233-251). */
  def xffOk(nonNull: Int, total: Int, xff: Double): Boolean = {
    if (total == 0) false
    else nonNull.toDouble / total >= xff
  }
}
