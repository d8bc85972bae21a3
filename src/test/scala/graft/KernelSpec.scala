package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Unit + property tests for the pure kernels, pinning every reference
  * quirk from SURVEY.md §2.13 so refactors can't silently "fix" them.
  * Property tests use a seeded RNG (the scalatest/scalacheck bridge
  * artifact is not in the offline cache).
  */
class KernelSpec extends AnyFunSuite {
  import KernelSpec._

  private def gs(v: Double, size: Double, mean: Double, std: Double = 0.0) =
    GroupStat(v, size, mean, std)

  test("normCdf matches the erf identity at reference precision") {
    assert(math.abs(Kernels.normCdf(0.0) - 0.5) < 1e-15)
    assert(math.abs(Kernels.normCdf(1.6448536269514722) - 0.95) < 1e-10)
    assert(Kernels.normCdf(Double.NaN).isNaN)
  }

  test("popStdOf2 is the population std of the two means (binning.py:156)") {
    assert(Kernels.popStdOf2(0.0, 1.0) == 0.5)
    assert(Kernels.popStdOf2(0.3, 0.3) == 0.0)
  }

  test("monotonePool yields strictly decreasing means (property)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val k = 1 + rnd.nextInt(40)
      val stats = (0 until k).map { i =>
        val sz = 1L + rnd.nextInt(50)
        val bads = rnd.nextLong(sz + 1)
        GroupStat(i.toDouble, sz.toDouble, bads.toDouble / sz,
          Kernels.binaryStd(sz, bads))
      }.toVector
      val pooled = pool(stats)
      assert(pooled.nonEmpty)
      pooled.sliding(2).foreach {
        case Vector(a, b) => assert(b.mean < a.mean,
          s"not strictly decreasing: ${pooled.map(_.mean)}")
        case _ =>
      }
      // pooling preserves total size and total bads (weighted mean merge)
      assert(pooled.map(_.size).sum == stats.map(_.size).sum)
      assert(math.abs(pooled.map(g => g.mean * g.size).sum -
        stats.map(g => g.mean * g.size).sum) < 1e-6)
    }
  }

  test("significanceMerge: NaN p-value in row 0 short-circuits (python max quirk)") {
    // two singleton groups → pooled variance 0/0 = NaN → p NaN → no merge
    val in = Vector(gs(1, 1, 1.0), gs(2, 1, 0.0))
    val out = Kernels.significanceMerge(in, 1, 0, 0.1)
    assert(out == in)
  }

  test("significanceMerge: penalty forces merge of small bins (p+2 > threshold)") {
    // strictly-decreasing means, big z-gap (p≈0) but tiny sizes trip
    // the n_threshold penalty → merged anyway
    val in = Vector(gs(1, 10, 0.9, 0.3), gs(2, 10, 0.1, 0.3))
    val out = Kernels.significanceMerge(in, nThreshold = 100, nOccurrences = 1, pThreshold = 0.1)
    assert(out.length == 1)
    assert(out(0).size == 20.0)
    assert(math.abs(out(0).mean - 0.5) < 1e-12)
  }

  test("significanceMerge: merge stops when all pairs significant") {
    val in = Vector(gs(1, 1000, 0.9, 0.3), gs(2, 1000, 0.5, 0.5), gs(3, 1000, 0.1, 0.3))
    val out = Kernels.significanceMerge(in, nThreshold = 10, nOccurrences = 1, pThreshold = 0.1)
    assert(out.length == 3, "clearly-separated bins must not merge")
  }

  test("significanceMerge: an exact p-value tie absorbs twice but drops once (binning.py:219-224)") {
    // four groups, equal sizes and stds, means a dyadic 0.25 apart: the
    // three adjacent pairs have bit-identical z, hence tied p ≈ 0.144
    // above pThreshold.  The first max (pair 0-1) drops row 1, but every
    // tied row takes its pair's merged stats, so row 2 absorbs row 3
    // while row 3 stays: 40 rows in, 50 counted after the first pass.
    // The next passes merge the two low rows (p ≈ 0.27), then stop.
    val in = Vector(gs(1, 10, 0.875, 0.5), gs(2, 10, 0.625, 0.5),
      gs(3, 10, 0.375, 0.5), gs(4, 10, 0.125, 0.5))
    val out = Kernels.significanceMerge(in, nThreshold = 0, nOccurrences = 0, pThreshold = 0.1)
    assert(out.map(_.value) == Vector(1.0, 3.0))
    assert(out.map(_.size) == Vector(20.0, 30.0))
    assert(out(0).mean == 0.75)
    assert(math.abs(out(1).mean - 6.25 / 30) < 1e-15)
    assert(out.map(_.size).sum > in.map(_.size).sum)
  }

  test("assembleIntervals: outer edges and lead semantics (binning.py:226-231)") {
    val rows = Vector(gs(10, 5, 0.8), gs(20, 5, 0.5), gs(30, 5, 0.2))
    val asc = Kernels.assembleIntervals("v", rows, Double.PositiveInfinity)
    assert(asc(0).intervalStartInclude == Double.NegativeInfinity)
    assert(asc(0).intervalEndExclude == 20.0)
    assert(asc(2).intervalStartInclude == 30.0)
    assert(asc(2).intervalEndExclude == Double.PositiveInfinity)
    val desc = Kernels.assembleIntervals("v",
      Vector(gs(30, 5, 0.8), gs(20, 5, 0.5), gs(10, 5, 0.2)),
      Double.NegativeInfinity)
    assert(desc(0).intervalStartInclude == Double.PositiveInfinity)
    assert(desc(0).intervalEndExclude == 20.0)
    assert(desc(2).intervalEndExclude == Double.NegativeInfinity)
  }

  test("finalizeWoe: dists sum to 1, zero-good bin gets +inf woe and survives") {
    val bins = Vector(
      WoeBin("v", Double.NegativeInfinity, 5, 10, 1.0, 0, 0, 0, 0, 0, 0), // all bad
      WoeBin("v", 5, Double.PositiveInfinity, 10, 0.2, 0, 0, 0, 0, 0, 0))
    val out = Kernels.finalizeWoe(bins)
    assert(math.abs(out.map(_.distGood).sum - 1.0) < 1e-12)
    assert(math.abs(out.map(_.distBad).sum - 1.0) < 1e-12)
    assert(out(0).woe.isPosInfinity)
    assert(out(0).ivComponents.isPosInfinity)
  }

  test("mergeByWoeGap: merges within-gap pair then converges (leaked-i stop)") {
    // woes 1.0 / 1.05 (gap 4.8% ≤ 0.2) then -2 → one merge expected
    def mk(lo: Double, hi: Double, size: Double, mean: Double) =
      WoeBin("v", lo, hi, size, mean, 0, 0, 0, 0, 0, 0)
    val base = Kernels.finalizeWoe(Vector(
      mk(Double.NegativeInfinity, 10, 100, 0.8),
      mk(10, 20, 100, 0.78),
      mk(20, Double.PositiveInfinity, 100, 0.2)))
    val merged = Kernels.mergeByWoeGap(base, 0.2)
    assert(merged.length == 2)
    assert(merged(0).size == 200.0)
    // totals preserved
    assert(math.abs(merged.map(_.size).sum - 300.0) < 1e-12)
  }

  test("degenerate duplicate-column guard returns the all-zeros row") {
    val d = Kernels.degenerateBins("t")
    assert(d.length == 1 && d(0).size == 0 && d(0).woe == 0)
  }

  test("detectOrder: fractional rule on exact quartile boundaries") {
    // 8 rows: values 1..8, target 1 for low half → bottom quarter (2 rows)
    // holds 2 bads, top quarter 0 → ascending order = true
    val s = varStats((1 to 8).map(i => (i.toDouble, 1L, if (i <= 4) 1L else 0L)).toVector)
    assert(s.totalRows == 8 && s.totalTsum == 4)
    assert(Kernels.detectOrder(s))
    val s2 = varStats((1 to 8).map(i => (i.toDouble, 1L, if (i > 4) 1L else 0L)).toVector)
    assert(s2.totalRows == 8 && s2.totalTsum == 4)
    assert(!Kernels.detectOrder(s2))
  }

  test("exactMedian: interpolated for even counts, weighted by group size") {
    assert(Kernels.exactMedian(Vector((1.0, 1L, 0L), (3.0, 1L, 0L))) == 2.0)
    assert(Kernels.exactMedian(Vector((1.0, 2L, 0L), (3.0, 1L, 0L))) == 1.0)
    assert(Kernels.exactMedian(Vector((1.0, 1L, 0L), (2.0, 1L, 0L), (3.0, 1L, 0L))) == 2.0)
    // the same cases in the array form the fit reads its runs through
    assert(Kernels.exactMedian(Array(1.0, 3.0), Array(1L, 1L)) == 2.0)
    assert(Kernels.exactMedian(Array(1.0, 3.0), Array(2L, 1L)) == 1.0)
    assert(Kernels.exactMedian(Array(1.0, 2.0, 3.0), Array(1L, 1L, 1L)) == 2.0)
    assert(Kernels.exactMedian(Array.emptyDoubleArray, Array.emptyLongArray).isNaN)
    assert(Kernels.exactMedian(Vector.empty).isNaN)
  }

  test("exactMedian: array form == median of the expanded rows, bit for bit (seeded)") {
    val pool = Array(Double.NegativeInfinity, -Double.MaxValue, -2.5, -1.0, 0.0,
      Double.MinPositiveValue, 1.0, 3.0, Double.MaxValue / 2, Math.nextUp(Double.MaxValue / 2),
      Double.MaxValue, Double.PositiveInfinity)
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 2000) {
      val values = pool.filter(_ => rnd.nextInt(3) == 0)
      val counts = values.map(_ => 1L + rnd.nextInt(if (rnd.nextBoolean()) 3 else 40))
      val rows = values.zip(counts).flatMap { case (v, c) => Array.fill(c.toInt)(v) }
      val n = rows.length
      val want = if (n == 0) Double.NaN else if (n % 2 == 1) rows(n / 2)
        else (rows(n / 2 - 1) + rows(n / 2)) / 2.0
      val got = Kernels.exactMedian(values, counts)
      val groups = Kernels.exactMedian(values.zip(counts).map { case (v, c) => (v, c, 0L) }.toVector)
      assert(java.lang.Double.doubleToLongBits(got) == java.lang.Double.doubleToLongBits(want),
        s"trial $trial: ${values.zip(counts).mkString(", ")} -> $got, want $want")
      assert(java.lang.Double.doubleToLongBits(groups) == java.lang.Double.doubleToLongBits(want),
        s"trial $trial (groups): $groups, want $want")
    }
  }

  test("fitVariable property: sizes sum to non-null rows; dists sum to 1 (finite case)") {
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 200) {
      val k = 1 + rnd.nextInt(30)
      val groups = (0 until k).map { i =>
        val sz = 1L + rnd.nextInt(200)
        (i.toDouble, sz, rnd.nextLong(sz + 1))
      }.toVector
      val tot = groups.map(_._2).sum
      val tsum = groups.map(_._3).sum
      val s = varStats(groups)
      val bins = Kernels.fitVariable(s, WoeConfig(nThreshold = tot / 10.0))
      assert(bins.map(_.size).sum == tot.toDouble)
      assert(math.abs(bins.map(_.bads).sum - tsum.toDouble) < 1e-6)
      if (bins.forall(b => !b.woe.isInfinite)) {
        assert(math.abs(bins.map(_.distGood).sum - 1.0) < 1e-9)
        assert(math.abs(bins.map(_.distBad).sum - 1.0) < 1e-9)
      }
      // WoE is monotone along the listed bin order (strictly-decreasing
      // bad-rate ⇒ strictly decreasing woe)
      bins.map(_.woe).sliding(2).foreach {
        case Seq(a, b) => assert(b <= a || a.isNaN || b.isNaN)
        case _ =>
      }
    }
  }

  private def groupBits(g: GroupStat) =
    Seq(g.value, g.size, g.mean, g.std).map(java.lang.Double.doubleToLongBits)

  private def binsBits(bs: Vector[WoeBin]) = bs.map(FitStatsSpec.binBits)

  test("monotonePool: array kernel == GroupStat-vector kernel, bit for bit (seeded)") {
    // the pooling property's generator, plus runs of equal means
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 400) {
      val k = rnd.nextInt(60)
      val stats = (0 until k).map { i =>
        val sz = 1L + rnd.nextInt(if (trial % 2 == 0) 3 else 50)
        val bads = if (rnd.nextInt(4) == 0) 0L else rnd.nextLong(sz + 1)
        GroupStat(i.toDouble, sz.toDouble, bads.toDouble / sz, Kernels.binaryStd(sz, bads))
      }.toVector
      val got = pool(stats)
      val want = Vectors.monotonePool(stats)
      assert(got.map(groupBits) == want.map(groupBits), s"trial $trial: $stats -> $got, want $want")
    }
  }

  /** Seeded stats: `k` ascending values with gaps, counts 1..maxCount, a
    * missing bucket half the time.
    */
  private def genStats(rnd: scala.util.Random, k: Int, maxCount: Int): Kernels.VarStats = {
    var v = rnd.nextInt(5) - 2.0
    val groups = (0 until k).map { _ =>
      v += 0.5 + rnd.nextInt(4)
      val sz = 1L + rnd.nextInt(maxCount)
      (v, sz, if (rnd.nextInt(5) == 0) sz else rnd.nextLong(sz + 1))
    }.toVector
    val nan = if (rnd.nextBoolean()) rnd.nextInt(40).toLong else 0L
    varStats(groups, nan, if (nan > 0) rnd.nextLong(nan + 1) else 0L)
  }

  test("detectOrder and fitVariable: array kernels == GroupStat-vector kernels, bit for bit (seeded)") {
    val rnd = new scala.util.Random(13)
    var orders = Set.empty[Boolean]
    for (trial <- 1 to 300) {
      val s = genStats(rnd, 1 + rnd.nextInt(40), if (trial % 3 == 0) 2 else 200)
      val order = Kernels.detectOrder(s)
      assert(order == Vectors.detectOrder(s), s"trial $trial: ${s.groups}")
      orders += order
      for (cfg <- Seq(WoeConfig(nThreshold = math.ceil(s.totalRows / 10.0)),
          WoeConfig(nThreshold = 1, sortOverload = Some(true)),
          WoeConfig(nThreshold = math.ceil(s.totalRows / 20.0), mergeThreshold = Some(0.2)))) {
        val got = Kernels.fitVariable(s, cfg)
        val want = Vectors.fitVariable(s, cfg)
        assert(binsBits(got) == binsBits(want), s"trial $trial, $cfg: ${s.groups} -> $got, want $want")
      }
    }
    assert(orders == Set(true, false), orders)
  }

  test("sentinel split: fitOne with sepValue == the GroupStat-vector split, bit for bit (seeded)") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 200) {
      val s = genStats(rnd, 2 + rnd.nextInt(30), 100)
      val at = rnd.nextInt(s.size)
      val sep = s.values(at)
      val cfg = WoeConfig(nThreshold = math.ceil(s.totalRows / 20.0))
      // woe_binning_sep's split over the boxed groups
      val (sepGroups, rest) = s.groups.partition(_._1 == sep)
      val want = Kernels.stitchSentinel(
        Vectors.fitVariable(varStats(sepGroups), cfg),
        Vectors.fitVariable(varStats(rest, s.nanCount, s.nanTsum), cfg),
        sep, s.totalTsum.toDouble, s.totalRows.toDouble)
      val got = graft.spark.WoeBinning.fitOne("v", "target", Map("v" -> s), cfg, Some(sep))
      assert(binsBits(got) == binsBits(want), s"trial $trial, sep $sep: ${s.groups}")
    }
  }

  test("a 100k-distinct near-unique variable: array kernels == GroupStat-vector kernels, bit for bit") {
    val rnd = new scala.util.Random(23)
    val k = 100000
    val groups = (0 until k).map { i =>
      val sz = 1L + (if (rnd.nextInt(10) == 0) 1 else 0)
      val p = 0.92 - 0.9 * i / k
      (i * 0.01 - 300.0, sz, (0L until sz).count(_ => rnd.nextDouble() < p).toLong)
    }.toVector
    val s = varStats(groups, 500, 60)
    assert(s.size == k)
    assert(Kernels.detectOrder(s) == Vectors.detectOrder(s))
    for (cfg <- Seq(WoeConfig(nThreshold = math.ceil(s.totalRows / 20.0)),
        WoeConfig(nThreshold = 300, sortOverload = Some(true)))) {
      val got = Kernels.fitVariable(s, cfg)
      val want = Vectors.fitVariable(s, cfg)
      assert(got.length > 2, got)
      assert(binsBits(got) == binsBits(want), s"$cfg: ${got.length} vs ${want.length} bins")
    }
  }
}

object KernelSpec {

  /** One variable's stats from ascending (value, count, targetSum) groups. */
  def varStats(groups: Vector[(Double, Long, Long)], nanCount: Long = 0,
      nanTsum: Long = 0): Kernels.VarStats =
    new Kernels.VarStats("v", groups.map(_._1).toArray, groups.map(_._2).toArray,
      groups.map(_._3).toArray, nanCount, nanTsum)

  /** The in-place array `monotonePool` over a vector of groups. */
  def pool(groups: Vector[GroupStat]): Vector[GroupStat] = {
    val value = groups.map(_.value).toArray
    val size = groups.map(_.size).toArray
    val mean = groups.map(_.mean).toArray
    val std = groups.map(_.std).toArray
    val n = Kernels.monotonePool(value, size, mean, std)
    Vector.tabulate(n)(i => GroupStat(value(i), size(i), mean(i), std(i)))
  }

  /** The kernels over boxed `GroupStat` vectors that the array kernels
    * replaced, kept as their oracle.
    */
  object Vectors {
    def monotonePool(groups: Vector[GroupStat]): Vector[GroupStat] = {
      var cur: Array[GroupStat] = groups.toArray
      var del: Array[Boolean] = new Array[Boolean](cur.length)
      while (true) {
        val arr = {
          val b = Array.newBuilder[GroupStat]
          var t = 0
          while (t < cur.length) { if (!del(t)) b += cur(t); t += 1 }
          b.result()
        }
        val dflags = new Array[Boolean](arr.length)
        val len = arr.length
        var i = 0
        var outerBreak = false
        while (!outerBreak) {
          var j = i + 1
          if (j >= len) outerBreak = true
          else if (arr(j).mean < arr(i).mean) {
            i += 1
          } else {
            var pooling = true
            while (pooling) {
              val gi = arr(i); val gj = arr(j)
              val n = gj.size + gi.size
              val m = (gj.size * gj.mean + gi.size * gi.mean) / n
              val s =
                if (n == 2.0) Kernels.popStdOf2(gj.mean, gi.mean)
                else math.sqrt((gj.size * gj.std * gj.std + gi.size * gi.std * gi.std) / n)
              arr(i) = gi.copy(size = n, mean = m, std = s)
              dflags(j) = true
              j += 1
              if (j >= len) pooling = false
              else if (arr(j).mean < arr(i).mean) { i = j; pooling = false }
            }
            if (j >= len) outerBreak = true
          }
        }
        cur = arr
        del = dflags
        if (!dflags.exists(identity)) return arr.toVector
      }
      Vector.empty // unreachable
    }

    def detectOrder(s: Kernels.VarStats): Boolean = {
      val n = s.totalRows
      val q1 = n / 4
      val q3 = (3L * n) / 4
      def takeFirst(k: Long): Double = {
        var sum = 0.0
        var taken = 0L
        def partial(cnt: Long, tsum: Long): Unit = {
          val r = (k - taken).toDouble
          sum += tsum.toDouble / cnt.toDouble * r
          taken = k
        }
        val it = s.groups.iterator
        var doneG = false
        while (!doneG && it.hasNext) {
          val (_, cnt, tsum) = it.next()
          if (taken + cnt <= k) { sum += tsum.toDouble; taken += cnt }
          else { partial(cnt, tsum); doneG = true }
          if (taken == k) doneG = true
        }
        if (taken < k && s.nanCount > 0) partial(s.nanCount, s.nanTsum)
        sum
      }
      takeFirst(q1) > s.totalTsum.toDouble - takeFirst(q3)
    }

    def fitVariable(s: Kernels.VarStats, cfg: WoeConfig): Vector[WoeBin] = {
      val order = detectOrder(s)
      val intervalEnd = if (order) Double.PositiveInfinity else Double.NegativeInfinity
      val ascending = cfg.sortOverload match {
        case Some(true) => true
        case _ => order
      }
      val statsAsc = s.groups.map { case (v, cnt, tsum) =>
        GroupStat(v, cnt.toDouble, tsum.toDouble / cnt.toDouble, Kernels.binaryStd(cnt, tsum))
      }
      val sorted = if (ascending) statsAsc else statsAsc.reverse
      val pooled = monotonePool(sorted)
      val mergedGroups =
        Kernels.significanceMerge(pooled, cfg.nThreshold, cfg.nOccurrences, cfg.pThreshold)
      var bins = Kernels.assembleIntervals(s.variable, mergedGroups, intervalEnd)
      if (s.nanCount > 0) {
        val nanMean = s.nanTsum.toDouble / s.nanCount.toDouble
        bins = bins :+ WoeBin(s.variable, Double.NaN, Double.NaN,
          s.nanCount.toDouble, nanMean, 0, 0, 0, 0, 0, 0)
      }
      bins = Kernels.finalizeWoe(bins)
      cfg.mergeThreshold match {
        case Some(mt) => Kernels.mergeByWoeGap(bins, mt)
        case None => bins
      }
    }
  }
}
