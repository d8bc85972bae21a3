package graft.core

import org.apache.commons.math3.special.Erf

/** Per-distinct-value sufficient statistics of the binary target.
  *
  * Mirrors the reference's per-group summary frame
  * (`/root/reference/woe_monotonic_binning/binning.py:121-129`):
  * `mean` = bad rate, `size` = row count, `std` = sample std (ddof=1,
  * singleton groups filled 0).  Everything is Double because the
  * reference keeps the whole summary in float64.
  */
final case class GroupStat(value: Double, size: Double, mean: Double, std: Double)

/** One row of the 11-column binning table (binning.py:107-108, 226-251). */
final case class WoeBin(
    variable: String,
    intervalStartInclude: Double,
    intervalEndExclude: Double,
    size: Double,
    mean: Double,
    bads: Double,
    goods: Double,
    distGood: Double,
    distBad: Double,
    woe: Double,
    ivComponents: Double)

/** Fit configuration (parameter names follow the reference API,
  * binning.py:103-104).
  */
final case class WoeConfig(
    nThreshold: Double,
    nOccurrences: Double = 1.0,
    pThreshold: Double = 0.1,
    sortOverload: Option[Boolean] = None,
    mergeThreshold: Option[Double] = None)

/** Pure, driver-side kernels of the Monotone Optimal Binning algorithm.
  *
  * These are the irreducibly iterative parts of the reference
  * (binning.py:133-263) re-expressed as pure Scala functions over one
  * variable's collected statistics: primitive arrays of its distinct
  * values with their counts and target sums ([[Kernels.VarStats]]),
  * bounded by the distinct-value count of one feature.  The distributed
  * work — the one narrow stats pass that produces those arrays — lives
  * in [[graft.spark.FitStats]]; by the time these kernels run, all
  * inputs are exact integers (counts and 0/1-target sums), so the
  * float64 arithmetic below is bit-for-bit deterministic and mirrors the
  * reference's operation order.
  *
  * Reference quirks intentionally preserved (SURVEY.md §2.13):
  *  - the +2 double penalty on constraint-violating bins (binning.py:201,203-207)
  *  - tie double-absorb in phase 2 (binning.py:219-224)
  *  - Python `max()` NaN semantics for `max_p` (binning.py:209)
  *  - `sort_overload=False` is falsy and cannot force descending (binning.py:131)
  *  - `np.std` of the two means when a pooled pair has n==2 (binning.py:155-156)
  *  - leaked loop variable in the merge_threshold stop condition (binning.py:262)
  */
object Kernels {

  /** Φ(z), the standard normal CDF, via commons-math3 erf — same
    * identity scipy.stats.norm.cdf computes (binning.py:195).
    */
  def normCdf(z: Double): Double =
    if (z.isNaN) Double.NaN
    else 0.5 * (1.0 + Erf.erf(z / math.sqrt(2.0)))

  /** np.std([a, b]) — population σ of two values (binning.py:156). */
  def popStdOf2(a: Double, b: Double): Double = {
    val m = (a + b) / 2.0
    math.sqrt(((a - m) * (a - m) + (b - m) * (b - m)) / 2.0)
  }

  /** Sample std (ddof=1) of a 0/1 column from exact sufficient stats;
    * singleton groups are 0 per the reference's fillna (binning.py:129).
    * Closed form of pandas' groupby std: Σ(x−m)² = t(1−m)² + (n−t)m².
    */
  def binaryStd(size: Long, tsum: Long): Double =
    if (size <= 1) 0.0
    else {
      val n = size.toDouble
      val m = tsum.toDouble / n
      val ssq = tsum.toDouble * (1.0 - m) * (1.0 - m) + (n - tsum.toDouble) * m * m
      math.sqrt(ssq / (n - 1.0))
    }

  /** Phase 1 — monotone pooling to a strictly-decreasing bad-rate
    * sequence (binning.py:133-178), in place over the groups' `value`,
    * `size`, `mean` and `std` arrays (equal lengths, already in fit sort
    * order, ascending or descending per orientation).  Returns the number
    * of pooled groups, which then fill the arrays' first slots; a pooled
    * group keeps its first group's value.  Faithful re-expression of the
    * nested `while` loops, including the exact pooled-std formulas and the
    * n==2 special case.
    */
  def monotonePool(value: Array[Double], size: Array[Double], mean: Array[Double],
      std: Array[Double]): Int = {
    var len = value.length
    val del = new Array[Boolean](len)
    while (true) {
      var pooled = false
      var i = 0
      var outerBreak = false
      while (!outerBreak) {
        var j = i + 1
        if (j >= len) outerBreak = true
        else if (mean(j) < mean(i)) {
          i += 1 // strictly decreasing → advance (binning.py:146-148)
        } else {
          // pooling loop (binning.py:150-172)
          var pooling = true
          while (pooling) {
            val n = size(j) + size(i)
            val m = (size(j) * mean(j) + size(i) * mean(i)) / n
            val s =
              if (n == 2.0) popStdOf2(mean(j), mean(i))
              else math.sqrt((size(j) * std(j) * std(j) + size(i) * std(i) * std(i)) / n)
            size(i) = n; mean(i) = m; std(i) = s
            del(j) = true
            pooled = true
            j += 1
            if (j >= len) pooling = false
            else if (mean(j) < mean(i)) { i = j; pooling = false }
          }
          if (j >= len) outerBreak = true
        }
      }
      if (!pooled) return len
      // the compaction the reference runs at the top of its next pass
      // (binning.py:136-137)
      var w = 0
      var t = 0
      while (t < len) {
        if (!del(t)) {
          value(w) = value(t); size(w) = size(t); mean(w) = mean(t); std(w) = std(t)
          w += 1
        }
        del(t) = false
        t += 1
      }
      len = w
    }
    len // unreachable
  }

  /** Phase 2 — iterative z-test merging (binning.py:180-224).
    * Each iteration recomputes, for every adjacent pair, the pooled
    * variance (`updated_std` — named std but is a variance, sqrt'd only
    * on absorb, binning.py:189-190,224), the one-sided z and
    * p = 1 − Φ(z), applies the +2 penalty to pairs violating the
    * min-size / min-bads constraints, then merges the max-p pair if
    * p > pThreshold — including the exact-tie double-absorb quirk.
    */
  def significanceMerge(
      groups: Vector[GroupStat],
      nThreshold: Double,
      nOccurrences: Double,
      pThreshold: Double): Vector[GroupStat] = {
    val rows = scala.collection.mutable.ArrayBuffer[GroupStat](groups: _*)
    var done = false
    while (!done && rows.nonEmpty) {
      val k = rows.length
      val updSize = new Array[Double](k)
      val updMean = new Array[Double](k)
      val updVar = new Array[Double](k)
      val p = new Array[Double](k)
      var idx = 0
      while (idx < k) {
        val r = rows(idx)
        val hasNext = idx + 1 < k
        val nm = if (hasNext) rows(idx + 1).mean else Double.NaN
        val ns = if (hasNext) rows(idx + 1).size else Double.NaN
        val nstd = if (hasNext) rows(idx + 1).std else Double.NaN
        val us = ns + r.size
        val um = (nm * ns + r.mean * r.size) / us
        val uv = (ns * nstd * nstd + r.size * r.std * r.std) / (us - 2.0)
        val z = (r.mean - nm) / math.sqrt(uv * (1.0 / r.size + 1.0 / ns))
        var pv = 1.0 - normCdf(z)
        // penalty applied twice — binning.py:201 and again :203-207
        val cond = r.size < nThreshold || ns < nThreshold ||
          r.mean * r.size < nOccurrences || nm * ns < nOccurrences
        if (cond) pv += 2.0
        updSize(idx) = us; updMean(idx) = um; updVar(idx) = uv; p(idx) = pv
        idx += 1
      }
      // Python builtin max over the column (binning.py:209): NaN never
      // replaces the current max, but a leading NaN is never replaced —
      // so a NaN in row 0 short-circuits the whole merge loop.
      var maxP = p(0)
      var t = 1
      while (t < k) { if (p(t) > maxP) maxP = p(t); t += 1 }
      if (maxP > pThreshold) { // false when maxP is NaN
        // pandas idxmax — first occurrence of the max, NaN skipped (:210)
        var im = -1
        var best = Double.NegativeInfinity
        var t2 = 0
        while (t2 < k) {
          if (!p(t2).isNaN && p(t2) > best) { best = p(t2); im = t2 }
          t2 += 1
        }
        val rowDelete = im + 1
        rows.remove(rowDelete)
        // absorb every remaining row whose p ties maxP exactly
        // (binning.py:219-224) — indices ≥ rowDelete shifted down by 1
        var q = 0
        while (q < rows.length) {
          val pre = if (q >= rowDelete) q + 1 else q
          if (p(pre) == maxP)
            rows(q) = rows(q).copy(
              size = updSize(pre),
              mean = updMean(pre),
              std = math.sqrt(updVar(pre)))
          q += 1
        }
      } else done = true
    }
    rows.toVector
  }

  /** Interval assembly (binning.py:226-231): starts are the surviving
    * group keys, ends the next start (outermost = intervalEnd), and the
    * first start is overwritten with −intervalEnd.
    */
  def assembleIntervals(
      variable: String,
      rows: Vector[GroupStat],
      intervalEnd: Double): Vector[WoeBin] =
    rows.zipWithIndex.map { case (g, i) =>
      val end = if (i + 1 < rows.length) rows(i + 1).value else intervalEnd
      val start = if (i == 0) -intervalEnd else g.value
      WoeBin(variable, start, end, g.size, g.mean, 0, 0, 0, 0, 0, 0)
    }

  /** WoE / IV finalization over all bins including the NaN bin
    * (binning.py:240-251).  ±inf WoE from zero-count sides survives.
    */
  def finalizeWoe(bins: Vector[WoeBin]): Vector[WoeBin] = {
    val withCounts = bins.map { b =>
      val bads = b.mean * b.size
      b.copy(bads = bads, goods = b.size - bads)
    }
    val totGoods = withCounts.iterator.map(_.goods).sum
    val totBads = withCounts.iterator.map(_.bads).sum
    withCounts.map { b =>
      val dg = b.goods / totGoods
      val db = b.bads / totBads
      val woe = math.log(db / dg)
      b.copy(distGood = dg, distBad = db, woe = woe, ivComponents = (db - dg) * woe)
    }
  }

  /** pandas `dropna()` row semantics over the 11-column bins table:
    * a row survives iff NO field is NaN (shared by the fit-side
    * merge_threshold loop and the apply-side filters).
    */
  def isCompleteRow(b: WoeBin): Boolean =
    !(b.intervalStartInclude.isNaN || b.intervalEndExclude.isNaN ||
      b.size.isNaN || b.mean.isNaN || b.bads.isNaN || b.goods.isNaN ||
      b.distGood.isNaN || b.distBad.isNaN || b.woe.isNaN || b.ivComponents.isNaN)

  /** merge_bins (binning.py:14-29), general index-list form.
    *
    * Reference semantics preserved exactly: the merged stats sum over
    * the SLICE from min(indices) to max(indices) INCLUSIVE
    * (`df[i0:i1+1]`, :18) while only the LISTED indices are dropped
    * (:27) — for a non-contiguous index list the in-between rows both
    * survive and are double-counted into the merged row (quirk).
    * Dists are computed against the pre-merge whole-table totals
    * (:23-24).
    */
  def mergeBins(bins: Vector[WoeBin], indices: Seq[Int]): Vector[WoeBin] = {
    val sorted = indices.sorted
    val lo = sorted.head
    val hi = sorted.last
    val totGoods = bins.iterator.map(_.goods).sum
    val totBads = bins.iterator.map(_.bads).sum
    val span = bins.slice(lo, hi + 1)
    val size = span.iterator.map(_.size).sum
    val bads = span.iterator.map(_.bads).sum
    val goods = span.iterator.map(_.goods).sum
    val mean = bads / size
    val dg = goods / totGoods
    val db = bads / totBads
    val woe = math.log(db / dg)
    val merged = WoeBin(bins(0).variable, bins(lo).intervalStartInclude,
      bins(hi).intervalEndExclude, size, mean, bads, goods, dg, db, woe,
      (db - dg) * woe)
    val dropSet = sorted.toSet
    // drop listed labels, re-add merged at label lo, sort by label (:27-29)
    bins.zipWithIndex
      .filterNot { case (_, i) => dropSet.contains(i) }
      .map { case (b, i) => (i, b) }
      .:+((lo, merged))
      .sortBy(_._1)
      .map(_._2)
  }

  /** Adjacent-pair form used by the merge_threshold loop. */
  def mergeBinsPair(bins: Vector[WoeBin], i: Int): Vector[WoeBin] =
    mergeBins(bins, Seq(i, i + 1))

  /** merge_threshold post-merge (binning.py:253-263): repeatedly merge
    * the first adjacent non-NaN pair whose relative |woe| gap is within
    * the threshold, restarting the scan after each merge.  The stop
    * condition uses the reference's leaked loop variable `i`.
    */
  def mergeByWoeGap(binsIn: Vector[WoeBin], mergeThreshold: Double): Vector[WoeBin] = {
    var bins = binsIn
    var loop = true
    while (loop) {
      val cnt = bins.count(isCompleteRow)
      if (cnt <= 1) loop = false
      else {
        var i = 0
        var merged = false
        while (i < cnt - 1 && !merged) {
          val gap = math.abs(math.abs(bins(i).woe) - math.abs(bins(i + 1).woe)) /
            math.abs(bins(i).woe)
          if (gap <= mergeThreshold) {
            bins = mergeBinsPair(bins, i)
            merged = true
          } else i += 1
        }
        // python leaves `i` at cnt-2 when the for-loop completes without
        // a merge; the check runs against the post-merge dropna count
        val iLeak = if (merged) i else cnt - 2
        if (iLeak == bins.count(isCompleteRow) - 2) loop = false
      }
    }
    bins
  }

  /** Exact sufficient statistics for one variable, all integers except
    * the values: its ascending distinct non-missing `values` with their
    * row `counts` and target sums `tsums` (the stats pass's run arrays,
    * shared, not copied), and its missing bucket.
    */
  final class VarStats(
      val variable: String,
      val values: Array[Double],
      val counts: Array[Long],
      val tsums: Array[Long],
      val nanCount: Long,
      val nanTsum: Long) {
    require(counts.length == values.length && tsums.length == values.length,
      s"VarStats($variable): values, counts and tsums differ in length")

    /** Rows, missing ones included. */
    val totalRows: Long = nanCount + total(counts)
    val totalTsum: Long = nanTsum + total(tsums)

    /** Distinct non-missing values. */
    def size: Int = values.length

    /** The runs as ascending (value, count, targetSum) tuples, a boxed
      * copy for callers that read tuples; the kernels read the arrays.
      */
    def groups: Vector[(Double, Long, Long)] =
      Vector.tabulate(size)(i => (values(i), counts(i), tsums(i)))
  }

  private def total(a: Array[Long]): Long = {
    var t = 0L
    var i = 0
    while (i < a.length) { t += a(i); i += 1 }
    t
  }

  /** Orientation detection (binning.py:114-119): compare the target sum
    * of the first quarter of the feature-sorted rows (NaN last) with
    * the last quarter.  Walks the runs in value order; when the quarter
    * boundary splits a value group the partial contribution is the
    * group mean × rows taken (fractional).  pandas takes whichever rows
    * its unstable sort put there — empirically this fractional rule
    * agrees on all fixture datasets (see GoldenParitySpec).
    */
  def detectOrder(s: VarStats): Boolean = {
    val n = s.totalRows
    val q1 = n / 4 // int(size/4)
    val q3 = (3L * n) / 4 // int(size*3/4)
    // second slot: how far the fractional estimate can deviate from the
    // sum of ANY specific r rows pandas' unstable sort might have placed
    // in the quartile — nonzero only when the boundary group has
    // heterogeneous targets (0 < tsum < cnt)
    def takeFirst(k: Long): (Double, Double) = {
      var sum = 0.0
      var dev = 0.0
      var taken = 0L
      def partial(cnt: Long, tsum: Long): Unit = {
        val r = (k - taken).toDouble
        val est = tsum.toDouble / cnt.toDouble * r
        sum += est
        val lo = math.max(0.0, tsum.toDouble - (cnt.toDouble - r))
        val hi = math.min(tsum.toDouble, r)
        dev = math.max(est - lo, hi - est)
        taken = k
      }
      var g = 0
      var doneG = false
      while (!doneG && g < s.size) {
        val cnt = s.counts(g); val tsum = s.tsums(g)
        g += 1
        if (taken + cnt <= k) { sum += tsum.toDouble; taken += cnt }
        else { partial(cnt, tsum); doneG = true }
        if (taken == k) doneG = true
      }
      if (taken < k && s.nanCount > 0) // boundary reaches into NaN rows (sorted last)
        partial(s.nanCount, s.nanTsum)
      (sum, dev)
    }
    val (bottom, devBottom) = takeFirst(q1)
    val (topTaken, devTop) = takeFirst(q3)
    val top = s.totalTsum.toDouble - topTaken
    // ADVICE r01: when a straddling group is heterogeneous and the two
    // quartile sums are close enough that a different row selection
    // could flip the comparison, surface it — the reference itself is
    // nondeterministic here (unstable sort), so a mismatch against one
    // given pandas run is possible
    val slack = devBottom + devTop
    if (slack > 0.0 && math.abs(bottom - top) <= slack)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"detectOrder(${s.variable}): quartile boundary splits a mixed-" +
          s"target value group and |bottom-top|=${math.abs(bottom - top)} " +
          s"<= attainable deviation $slack — orientation may differ from " +
          "a specific pandas run (reference is nondeterministic here)")
    bottom > top
  }

  /** Exact interpolated median over the non-null values (pandas
    * `Series.median`, binning.py:297/302), from grouped stats.
    */
  def exactMedian(groups: Vector[(Double, Long, Long)]): Double =
    exactMedian(groups.iterator.map(_._1).toArray, groups.iterator.map(_._2).toArray)

  /** [[exactMedian]] over ascending distinct `values` with their row
    * `counts`, in one walk.
    */
  def exactMedian(values: Array[Double], counts: Array[Long]): Double = {
    var n = 0L
    var i = 0
    while (i < counts.length) { n += counts(i); i += 1 }
    i = 0
    var seen = 0L
    def valueAt(pos: Long): Double = { // 0-based order statistic, pos ascending
      while (seen <= pos) { seen += counts(i); i += 1 }
      values(i - 1)
    }
    if (n == 0) Double.NaN
    else if (n % 2 == 1) valueAt(n / 2)
    else { val lo = valueAt(n / 2 - 1); (lo + valueAt(n / 2)) / 2.0 }
  }

  /** Full single-variable fit from exact sufficient stats — the
    * driver-side equivalent of `woe_binning` (binning.py:103-265) minus
    * the distributed stats collection.
    */
  def fitVariable(s: VarStats, cfg: WoeConfig): Vector[WoeBin] = {
    val order = detectOrder(s)
    val intervalEnd = if (order) Double.PositiveInfinity else Double.NegativeInfinity
    val ascending = cfg.sortOverload match { // falsy-quirk: Some(false) ⇒ order
      case Some(true) => true
      case _ => order
    }
    // the groups in fit order: index p reads run p ascending, or the
    // run p from the top descending
    val k = s.size
    val value = new Array[Double](k)
    val size = new Array[Double](k)
    val mean = new Array[Double](k)
    val std = new Array[Double](k)
    var p = 0
    while (p < k) {
      val i = if (ascending) p else k - 1 - p
      val cnt = s.counts(i); val tsum = s.tsums(i)
      value(p) = s.values(i)
      size(p) = cnt.toDouble
      mean(p) = tsum.toDouble / cnt.toDouble
      std(p) = binaryStd(cnt, tsum)
      p += 1
    }
    val pooled = monotonePool(value, size, mean, std)
    val mergedGroups = significanceMerge(
      Vector.tabulate(pooled)(g => GroupStat(value(g), size(g), mean(g), std(g))),
      cfg.nThreshold, cfg.nOccurrences, cfg.pThreshold)
    var bins = assembleIntervals(s.variable, mergedGroups, intervalEnd)
    if (s.nanCount > 0) {
      val nanMean = s.nanTsum.toDouble / s.nanCount.toDouble
      bins = bins :+ WoeBin(s.variable, Double.NaN, Double.NaN,
        s.nanCount.toDouble, nanMean, 0, 0, 0, 0, 0, 0)
    }
    bins = finalizeWoe(bins)
    cfg.mergeThreshold match {
      case Some(mt) => mergeByWoeGap(bins, mt)
      case None => bins
    }
  }

  /** The degenerate duplicate-column guard (binning.py:106-109):
    * fitting the target against itself yields a single all-zeros row.
    */
  def degenerateBins(variable: String): Vector[WoeBin] =
    Vector(WoeBin(variable, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))

  /** Sentinel stitch (`woe_binning_sep`, binning.py:32-75).
    *
    * @param sepBins  bins fitted on the `col == sepValue` subset (1 row)
    * @param compBins bins fitted on the complement INCLUDING null rows
    *                 (pandas `!=` keeps NaN, binning.py:43)
    * @param totalBads  Σ target over the WHOLE dataset (binning.py:37)
    * @param totalRows  whole-dataset row count (binning.py:38)
    */
  def stitchSentinel(
      sepBins: Vector[WoeBin],
      compBins: Vector[WoeBin],
      sepValue: Double,
      totalBads: Double,
      totalRows: Double): Vector[WoeBin] = {
    // overwrite the sep bin's dists with GLOBAL totals (binning.py:37-42)
    val distBad = sepBins(0).bads / totalBads
    val distGood = sepBins(0).goods / (totalRows - totalBads)
    val woe = math.log(distBad / distGood)
    var a0 = sepBins(0).copy(woe = woe, distGood = distGood, distBad = distBad,
      ivComponents = (distBad - distGood) * woe)
    var b = compBins
    var nanRow: Option[WoeBin] = None
    if (b.nonEmpty && b.last.intervalStartInclude.isNaN) {
      nanRow = Some(b.last)
      b = b.init
    }
    val ascending = b(0).intervalStartInclude < b.last.intervalStartInclude
    val ret: Vector[WoeBin] =
      if (ascending) {
        if (sepValue < b(0).intervalEndExclude) { // sep below all bins (:50-54)
          a0 = a0.copy(intervalStartInclude = Double.NegativeInfinity,
            intervalEndExclude = sepValue + 1e-5)
          b = b.updated(0, b(0).copy(intervalStartInclude = sepValue + 1e-5))
          a0 +: b
        } else { // sep above (:55-60; reference prints a stray debug "1")
          a0 = a0.copy(intervalStartInclude = sepValue,
            intervalEndExclude = Double.PositiveInfinity)
          b = b.updated(b.length - 1, b.last.copy(intervalEndExclude = sepValue))
          b :+ a0
        }
      } else {
        if (sepValue < b(0).intervalEndExclude) { // descending, sep below (:62-66)
          a0 = a0.copy(intervalStartInclude = sepValue,
            intervalEndExclude = Double.NegativeInfinity)
          b = b.updated(b.length - 1, b.last.copy(intervalEndExclude = sepValue))
          b :+ a0
        } else { // descending, sep above (:67-71)
          a0 = a0.copy(intervalStartInclude = Double.PositiveInfinity,
            intervalEndExclude = sepValue - 1e-5)
          b = b.updated(0, b(0).copy(intervalStartInclude = sepValue - 1e-5))
          a0 +: b
        }
      }
    ret ++ nanRow
  }
}
