package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Unit + property tests for the pure kernels, pinning every reference
  * quirk from SURVEY.md §2.13 so refactors can't silently "fix" them.
  * Property tests use a seeded RNG (the scalatest/scalacheck bridge
  * artifact is not in the offline cache).
  */
class KernelSpec extends AnyFunSuite {

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
      val pooled = Kernels.monotonePool(stats)
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
    val s = Kernels.VarStats("v",
      (1 to 8).map(i => (i.toDouble, 1L, if (i <= 4) 1L else 0L)).toVector,
      0, 0, 8, 4)
    assert(Kernels.detectOrder(s))
    val s2 = Kernels.VarStats("v",
      (1 to 8).map(i => (i.toDouble, 1L, if (i > 4) 1L else 0L)).toVector,
      0, 0, 8, 4)
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
      val s = Kernels.VarStats("v", groups, 0, 0, tot, tsum)
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
}
