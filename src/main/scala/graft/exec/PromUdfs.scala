package graft.exec

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Scalar implementations of the PromQL computations that have no Spark
  * built-in equivalent. Each replicates the reference formula exactly
  * (citations into `/root/reference/vendor/.../promql/`); they run over
  * per-(series, step) point arrays produced by the windowed selector, so
  * they stay fully distributed (no driver-side loops).
  *
  * Points arrive as `array<struct<t:long, v:double>>` already sorted by t
  * (via `array_sort`, which orders structs by leading field).
  */
object PromUdfs {

  private def pts(rows: Seq[Row]): Array[(Long, Double)] = {
    val a = new Array[(Long, Double)](rows.length)
    var i = 0
    rows.foreach { r => a(i) = (r.getLong(0), r.getDouble(1)); i += 1 }
    a
  }

  /** `rate`/`increase`/`delta` — extrapolated rate with counter-reset
    * correction and boundary extrapolation (threshold 1.1× average sample
    * spacing, half-spacing fallback, counter zero-point clamp).
    * Reference: `promql/functions.go:50-141` (extrapolatedRate). */
  def extrapolatedRate(points: Seq[Row], stepT: Long, offsetMs: Long,
      rangeMs: Long, isCounter: Boolean, isRate: Boolean): Option[Double] = {
    val p = pts(points)
    if (p.length < 2) return None
    var counterCorrection = 0.0
    if (isCounter) {
      var i = 1
      while (i < p.length) {
        if (p(i)._2 < p(i - 1)._2) counterCorrection += p(i - 1)._2
        i += 1
      }
    }
    Some(extrapolate(p.last._2 - p.head._2 + counterCorrection,
      p.head._1, p.head._2, p.last._1, p.length, stepT - offsetMs - rangeMs,
      stepT - offsetMs, rangeMs, isCounter, isRate))
  }

  /** The extrapolation step of `extrapolatedRate`
    * (`promql/functions.go:50-141`), shared by the sequential scan and
    * the partial fold [[ratePartials]]: `delta` = last − first +
    * counter correction over `cnt` points spanning `[ft, lt]`, with
    * first value `fv`, in a range `[rangeStart, rangeEnd]`. */
  private def extrapolate(delta: Double, ft: Long, fv: Double, lt: Long,
      cnt: Long, rangeStart: Long, rangeEnd: Long, rangeMs: Long,
      isCounter: Boolean, isRate: Boolean): Double = {
    var resultValue = delta
    var durationToStart = (ft - rangeStart).toDouble / 1000
    val durationToEnd = (rangeEnd - lt).toDouble / 1000
    val sampledInterval = (lt - ft).toDouble / 1000
    val averageDurationBetweenSamples = sampledInterval / (cnt - 1)
    if (isCounter && resultValue > 0 && fv >= 0) {
      val durationToZero = sampledInterval * (fv / resultValue)
      if (durationToZero < durationToStart) durationToStart = durationToZero
    }
    val extrapolationThreshold = averageDurationBetweenSamples * 1.1
    var extrapolateToInterval = sampledInterval
    extrapolateToInterval +=
      (if (durationToStart < extrapolationThreshold) durationToStart
       else averageDurationBetweenSamples / 2)
    extrapolateToInterval +=
      (if (durationToEnd < extrapolationThreshold) durationToEnd
       else averageDurationBetweenSamples / 2)
    resultValue *= extrapolateToInterval / sampledInterval
    if (isRate) resultValue /= rangeMs.toDouble / 1000
    resultValue
  }

  /** The rate finish: [[mergeRateParts]] over the time-ordered
    * per-bucket partials of one window, then the exact
    * extrapolatedRate formula. The ordered merge accumulates the
    * correction in time order, so the float sum is bit-identical to a
    * sequential scan of the raw points; `delta` ignores it. Times are
    * grid-relative ms; the formula only consumes durations, so the
    * shift cancels. */
  def ratePartials(parts: Seq[Row], rangeStartRel: Long, rangeEndRel: Long,
      rangeMs: Long, isCounter: Boolean, isRate: Boolean): Option[Double] = {
    if (parts.isEmpty) return None
    val (ft, fv, lt, lv, corr, cnt) = mergeRateParts(parts)
    if (cnt < 2 || lt == ft) return None
    Some(extrapolate(lv - fv + (if (isCounter) corr else 0.0), ft, fv, lt,
      cnt, rangeStartRel, rangeEndRel, rangeMs, isCounter, isRate))
  }

  val ratePartialsUdf: UserDefinedFunction =
    udf((parts: Seq[Row], rangeStartRel: Long, rangeEndRel: Long,
         rangeMs: Long, isCounter: Boolean, isRate: Boolean) =>
      ratePartials(parts, rangeStartRel, rangeEndRel, rangeMs, isCounter, isRate))

  /** The rate-partial merge ([[Partials.Rate]]): time-ordered partial
    * rows `(b, ft, fv, lt, lv, corr, cnt)` — b the sort key, first/last
    * (time, value), the IN-bucket counter-correction sum and the point
    * count — fold into one, adding at each seam the boundary reset
    * `lastValue(left) if firstValue(right) < lastValue(left)` (false
    * when either side is NaN, as Go compares). corr accumulates
    * counter-style; consumers ignore it for delta.
    *
    * Float caveat shared by every partial-merge scheme here: the
    * correction SUM associates differently than the sequential scan
    * (per-sub-bucket partial sums first), so for corrections that are
    * not exactly representable the routes can differ in the last ulp.
    * Exact-integer corrections (and the common no-reset case, corr =
    * 0) stay bit-identical, which is what the specs pin. */
  def mergeRateParts(parts: Seq[Row])
      : (Long, Double, Long, Double, Double, Long) = {
    val h = parts.head
    val ft = h.getLong(1); val fv = h.getDouble(2)
    var lt = h.getLong(3); var lv = h.getDouble(4)
    var corr = h.getDouble(5)
    var cnt = h.getLong(6)
    parts.tail.foreach { p =>
      if (p.getDouble(2) < lv) corr += lv // boundary reset (NaN-safe)
      corr += p.getDouble(5)
      lt = p.getLong(3); lv = p.getDouble(4)
      cnt += p.getLong(6)
    }
    (ft, fv, lt, lv, corr, cnt)
  }

  /** `irate`/`idelta` from the newest point `(t1, v1)` and the one
    * before it `(t2, v2)` (`promql/functions.go:145-191`) — the finish
    * of the top-2 partial, and of the raw path's last two points. */
  def instantFinish(t1: Long, v1: Double, t2: Long, v2: Double,
      isRate: Boolean): Option[Double] = {
    if (t1 == t2) return None
    var resultValue =
      if (isRate && v1 < v2) v1 // counter reset
      else v1 - v2
    if (isRate) resultValue /= (t1 - t2).toDouble / 1000
    Some(resultValue)
  }

  val instantFinishUdf: UserDefinedFunction =
    udf((t1: Long, v1: Double, t2: Long, v2: Double, isRate: Boolean) =>
      instantFinish(t1, v1, t2, v2, isRate))

  /** `irate`/`idelta` — last two points (`promql/functions.go:145-191`). */
  def instantValue(points: Seq[Row], isRate: Boolean): Option[Double] = {
    val p = pts(points)
    if (p.length < 2) return None
    val last = p(p.length - 1)
    val prev = p(p.length - 2)
    instantFinish(last._1, last._2, prev._1, prev._2, isRate)
  }

  /** `resets` (`promql/functions.go:731-752`). */
  def resets(points: Seq[Row]): Double = {
    val p = pts(points)
    var n = 0
    var i = 1
    while (i < p.length) { if (p(i)._2 < p(i - 1)._2) n += 1; i += 1 }
    n.toDouble
  }

  /** `changes` — NaN→NaN is not a change (`promql/functions.go:755-776`). */
  def changes(points: Seq[Row]): Double = {
    val p = pts(points)
    var n = 0
    var i = 1
    while (i < p.length) {
      val cur = p(i)._2; val prev = p(i - 1)._2
      if (cur != prev && !(cur.isNaN && prev.isNaN)) n += 1
      i += 1
    }
    n.toDouble
  }

  /** Least-squares slope/intercept with x anchored at `interceptTime` to
    * avoid fp cancellation (`promql/functions.go:620-666`). */
  def linearRegression(p: Array[(Long, Double)], interceptTime: Long): (Double, Double) = {
    var n, sumX, sumY, sumXY, sumX2 = 0.0
    p.foreach { case (t, v) =>
      val x = (t - interceptTime).toDouble / 1000
      n += 1; sumX += x; sumY += v; sumXY += x * v; sumX2 += x * x
    }
    val covXY = sumXY - sumX * sumY / n
    val varX = sumX2 - sumX * sumX / n
    val slope = covXY / varX
    val intercept = sumY / n - slope * sumX / n
    (slope, intercept)
  }

  def deriv(points: Seq[Row]): Option[Double] = {
    val p = pts(points)
    if (p.length < 2) return None
    Some(linearRegression(p, p.head._1)._1)
  }

  def predictLinear(points: Seq[Row], stepT: Long, durationSec: Double): Option[Double] = {
    val p = pts(points)
    if (p.length < 2) return None
    val (slope, intercept) = linearRegression(p, stepT)
    Some(slope * durationSec + intercept)
  }

  /** `holt_winters` — double exponential smoothing, ordered fold
    * (`promql/functions.go:198-285`). */
  def holtWinters(points: Seq[Row], sf: Double, tf: Double): Option[Double] = {
    // vintage-verbatim messages incl. the "goT" typo and the trend
    // branch formatting sf (functions.go:227-232)
    require(sf > 0 && sf < 1,
      "invalid smoothing factor. Expected: 0 < sf < 1 goT: " +
        "%f".formatLocal(java.util.Locale.ROOT, sf))
    require(tf > 0 && tf < 1,
      "invalid trend factor. Expected: 0 < tf < 1 goT: " +
        "%f".formatLocal(java.util.Locale.ROOT, sf))
    val p = pts(points)
    if (p.length < 2) return None
    def calcTrendValue(i: Int, s0: Double, s1: Double, b: Double): Double =
      if (i < 0) b
      else tf * (s1 - s0) + (1 - tf) * b
    var s0 = 0.0
    var s1 = p(0)._2
    var b = p(1)._2 - p(0)._2
    var i = 1
    while (i < p.length) {
      val x = sf * p(i)._2
      b = calcTrendValue(i - 2, s0, s1, b)
      val y = (1 - sf) * (s1 + b)
      s0 = s1; s1 = x + y
      i += 1
    }
    Some(s1)
  }

  /** Exact interpolated quantile (`promql/quantile.go:161-183`).
    * NaN values sort FIRST (`vectorByValueHeap.Less`,
    * functions.go:1257-1262: `IsNaN(s[i]) -> true`), so a NaN in the
    * group occupies the LOW ranks — a low-φ quantile lands on it and
    * returns NaN, a high-φ quantile skips past it. Scala's default
    * double sort puts NaN last, which would silently flip that. */
  def quantile(q: Double, values: Array[Double]): Double = {
    if (values.isEmpty) return Double.NaN
    if (q < 0) return Double.NegativeInfinity
    if (q > 1) return Double.PositiveInfinity
    val (nans, reals) = values.partition(_.isNaN)
    val sorted = Array.concat(nans, reals.sorted)
    val n = sorted.length.toDouble
    val rank = q * (n - 1)
    val lowerIndex = math.max(0, math.floor(rank))
    val upperIndex = math.min(n - 1, lowerIndex + 1)
    val weight = rank - math.floor(rank)
    sorted(lowerIndex.toInt) * (1 - weight) + sorted(upperIndex.toInt) * weight
  }

  def quantileOverTime(q: Double, points: Seq[Row]): Double =
    quantile(q, points.map(_.getDouble(1)).toArray)

  /** `histogram_quantile` bucket interpolation incl. the ensureMonotonic
    * envelope (`promql/quantile.go:27-153`). Input: (le, count) pairs. */
  def bucketQuantile(q: Double, bucketRows: Seq[Row]): Double = {
    if (q < 0) return Double.NegativeInfinity
    if (q > 1) return Double.PositiveInfinity
    val buckets = bucketRows
      .map(r => (r.getDouble(0), r.getDouble(1)))
      .sortBy(_._1)
      .toArray
    if (buckets.length < 2) return Double.NaN
    if (!buckets.last._1.isPosInfinity) return Double.NaN
    // ensureMonotonic (quantile.go:143-153): `for i := range buckets[1:]`
    // indexes buckets[i], so Go's fix-up only ever touches indices
    // 0..len-2 — the final (+Inf) bucket is NEVER raised, and a NaN
    // count fails both comparisons and passes through untouched. Only
    // counts STRICTLY below the running max are raised.
    var maxSeen = buckets(0)._2
    var i = 1
    while (i < buckets.length - 1) {
      if (buckets(i)._2 > maxSeen) maxSeen = buckets(i)._2
      else if (buckets(i)._2 < maxSeen) buckets(i) = (buckets(i)._1, maxSeen)
      i += 1
    }
    var rank = q * buckets.last._2
    // Go sort.Search(len-1, count >= rank): BINARY search for the
    // smallest index in [0, len-1) satisfying the predicate, len-1 if
    // none — NEVER -1. With a NaN bucket count the predicate is
    // non-monotonic and the probe ORDER matters, so we replicate
    // sort.Search's exact i/j loop rather than a linear scan. A NaN
    // rank (NaN φ) satisfies nothing and lands on len-1, so the
    // result is the second-highest bucket bound, like the reference.
    var lo = 0
    var hi = buckets.length - 1
    while (lo < hi) {
      val h = (lo + hi) >>> 1
      if (!(buckets(h)._2 >= rank)) lo = h + 1 else hi = h
    }
    val b = lo
    if (b == buckets.length - 1) return buckets(buckets.length - 2)._1
    if (b == 0 && buckets.head._1 <= 0) return buckets.head._1
    var bucketStart = 0.0
    val bucketEnd = buckets(b)._1
    var count = buckets(b)._2
    if (b > 0) {
      bucketStart = buckets(b - 1)._1
      count -= buckets(b - 1)._2
      rank -= buckets(b - 1)._2
    }
    bucketStart + (bucketEnd - bucketStart) * (rank / count)
  }

  // ---- registered UDFs ----

  val rateUdf: UserDefinedFunction =
    udf((points: Seq[Row], stepT: Long, offsetMs: Long, rangeMs: Long,
         isCounter: Boolean, isRate: Boolean) =>
      extrapolatedRate(points, stepT, offsetMs, rangeMs, isCounter, isRate))

  val instantValueUdf: UserDefinedFunction =
    udf((points: Seq[Row], isRate: Boolean) => instantValue(points, isRate))

  val resetsUdf: UserDefinedFunction = udf((points: Seq[Row]) => resets(points))
  val changesUdf: UserDefinedFunction = udf((points: Seq[Row]) => changes(points))
  val derivUdf: UserDefinedFunction = udf((points: Seq[Row]) => deriv(points))

  val predictLinearUdf: UserDefinedFunction =
    udf((points: Seq[Row], stepT: Long, d: Double) =>
      predictLinear(points, stepT, d))

  val holtWintersUdf: UserDefinedFunction =
    udf((points: Seq[Row], sf: Double, tf: Double) =>
      holtWinters(points, sf, tf))

  val quantileOverTimeUdf: UserDefinedFunction =
    udf((q: Double, points: Seq[Row]) => quantileOverTime(q, points))

  val bucketQuantileUdf: UserDefinedFunction =
    udf((q: Double, buckets: Seq[Row]) => bucketQuantile(q, buckets))

  /** PromQL `round(v, toNearest)` — ties away from floor: the reference
    * computes `floor(v*toNearestInverse + 0.5) / toNearestInverse`
    * (`promql/functions.go:331-350`). */
  val roundUdf: UserDefinedFunction =
    udf((v: Double, toNearest: Double) => {
      val toNearestInverse = 1.0 / toNearest
      math.floor(v * toNearestInverse + 0.5) / toNearestInverse
    })

  /** Go `regexp.Expand` template semantics for `label_replace`
    * (`promql/functions.go:806` calls `regex.ExpandString`): `$name` /
    * `${name}` with name = a unicode letter/digit/underscore run; an
    * all-digits name is a group INDEX; an out-of-range or
    * non-participating group expands to EMPTY (Java's `replaceFirst`
    * throws instead — the divergence this exists to fix); `$$` is a
    * literal `$`; a malformed `$` (no name, unclosed brace) stays raw
    * text and the following characters re-scan as literals. */
  def goExpand(template: String,
      group: String => Option[String]): String = {
    val sb = new StringBuilder
    var t = template
    while (t.nonEmpty) {
      val d = t.indexOf('$')
      if (d < 0) { sb.append(t); t = "" }
      else {
        sb.append(t.substring(0, d))
        t = t.substring(d + 1)
        if (t.nonEmpty && t.charAt(0) == '$') { sb.append('$'); t = t.substring(1) }
        else {
          var rest = t
          val braced = rest.nonEmpty && rest.charAt(0) == '{'
          if (braced) rest = rest.substring(1)
          var j = 0
          while (j < rest.length &&
            (rest.charAt(j).isLetterOrDigit || rest.charAt(j) == '_')) j += 1
          val name = rest.substring(0, j)
          var after = rest.substring(j)
          var ok = name.nonEmpty
          if (braced) {
            if (ok && after.startsWith("}")) after = after.substring(1)
            else ok = false
          }
          if (!ok) sb.append('$') // raw `$`; t unchanged — re-scan rest
          else { group(name).foreach(sb.append(_)); t = after }
        }
      }
    }
    sb.toString
  }

  /** Go `strconv.FormatFloat(v, 'f', -1, 64)` for count_values label
    * values (`promql/engine.go:1269-1274`); the plan-side form is the
    * codegen [[graft.functions.GoFormatFloatExpr]] (r12 — the UDF
    * here was its per-row-encoder predecessor). */
  def goFormatFloat(v: Double): String = {
    if (v.isNaN) "NaN"
    else if (v.isPosInfinity) "+Inf"
    else if (v.isNegInfinity) "-Inf"
    // negative zero keeps its sign in Go ('f' shortest repr) — the
    // toLong round-trip below would erase it (-0.0 == 0.0 is true)
    else if (v == 0.0) { if (1.0 / v < 0) "-0" else "0" }
    else if (v == v.toLong.toDouble) v.toLong.toString
    else {
      // shortest repr that round-trips, 'f' (no exponent) format
      val s = java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString
      if (s.toDouble == v) s else new java.math.BigDecimal(v).toPlainString
    }
  }

  /** IEEE-754 division/modulo — Spark's `/` and `%` return NULL on a zero
    * divisor (non-ANSI) where Go returns ±Inf/NaN (`promql/engine.go:1181`). */
  val divUdf: UserDefinedFunction = udf((a: Double, b: Double) => a / b)
  val modUdf: UserDefinedFunction = udf((a: Double, b: Double) => a % b)
}
