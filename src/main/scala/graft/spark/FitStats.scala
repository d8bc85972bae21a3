package graft.spark

import graft.core.Kernels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One variable's non-missing values as sorted runs: ascending distinct
  * `values`, each with its row `counts` and its target sum `tsums` (the
  * number of its rows whose target is 1; null for a counts-only pass,
  * which ships no target sums).  Immutable; arrays are exactly sized, so
  * a task result ships no slack.
  */
private[graft] final class StatsRuns(
    val values: Array[Double],
    val counts: Array[Long],
    val tsums: Array[Long]) extends Serializable {

  def size: Int = values.length

  def hasTarget: Boolean = tsums != null

  /** Linear sorted merge; equal values add their counts.  Associative
    * and commutative, so the result does not depend on merge order.
    */
  def merge(o: StatsRuns): StatsRuns = {
    val out = new StatsRuns.Builder(size + o.size, hasTarget)
    def t(r: StatsRuns, i: Int) = if (r.hasTarget) r.tsums(i) else 0L
    var i = 0; var j = 0
    while (i < size && j < o.size) {
      val x = values(i); val y = o.values(j)
      if (x < y) { out.add(x, counts(i), t(this, i)); i += 1 }
      else if (y < x) { out.add(y, o.counts(j), t(o, j)); j += 1 }
      else { out.add(x, counts(i) + o.counts(j), t(this, i) + t(o, j)); i += 1; j += 1 }
    }
    while (i < size) { out.add(values(i), counts(i), t(this, i)); i += 1 }
    while (j < o.size) { out.add(o.values(j), o.counts(j), t(o, j)); j += 1 }
    out.result()
  }

  private def writeReplace(): AnyRef =
    new StatsRuns.Wire(values, StatsRuns.narrow(counts), StatsRuns.narrow(tsums))
}

private[graft] object StatsRuns {
  def empty(hasTarget: Boolean): StatsRuns = new StatsRuns(Array.emptyDoubleArray,
    Array.emptyLongArray, if (hasTarget) Array.emptyLongArray else null)

  /** The serialized form of [[StatsRuns]], in a task result or a
    * `treeReduce` shuffle: counts and target sums as ints when every one
    * fits (as in any partition under 2^31 rows), so a run ships in 12
    * bytes, 16 with a target, instead of 16 and 24.
    */
  private final class Wire(values: Array[Double], counts: AnyRef, tsums: AnyRef)
      extends Serializable {
    private def readResolve(): AnyRef = new StatsRuns(values, widen(counts), widen(tsums))
  }

  private def narrow(a: Array[Long]): AnyRef =
    if (a == null) null
    else {
      val n = new Array[Int](a.length)
      var i = 0
      while (i < a.length && a(i) <= Int.MaxValue) { n(i) = a(i).toInt; i += 1 }
      if (i == a.length) n else a
    }

  private def widen(a: AnyRef): Array[Long] = a match {
    case n: Array[Int] =>
      val w = new Array[Long](n.length)
      var i = 0
      while (i < n.length) { w(i) = n(i); i += 1 }
      w
    case w => w.asInstanceOf[Array[Long]] // null without a target
  }

  /** Appends runs in ascending value order into arrays of `capacity`. */
  final class Builder(capacity: Int, hasTarget: Boolean) {
    private val values = new Array[Double](capacity)
    private val counts = new Array[Long](capacity)
    private val tsums = if (hasTarget) new Array[Long](capacity) else null
    private var n = 0

    def add(v: Double, c: Long, t: Long): Unit = {
      values(n) = v; counts(n) = c
      if (hasTarget) tsums(n) = t
      n += 1
    }

    def result(): StatsRuns =
      if (n == capacity) new StatsRuns(values, counts, tsums)
      else new StatsRuns(java.util.Arrays.copyOf(values, n), java.util.Arrays.copyOf(counts, n),
        if (hasTarget) java.util.Arrays.copyOf(tsums, n) else null)
  }

  /** [[encode]]'s radix-sort arrays, grown to the largest block seen and
    * shared by every segment of a task: O(BlockRows) per task.
    */
  final class Scratch {
    private[StatsRuns] var keys = new Array[Long](0)
    private[StatsRuns] var keys2 = new Array[Long](0)
    private[StatsRuns] var ones = new Array[Byte](0)
    private[StatsRuns] var ones2 = new Array[Byte](0)
    private[StatsRuns] val hist = new Array[Int](8 << 8)

    private[StatsRuns] def ensure(n: Int): Unit = if (keys.length < n) {
      val len = math.max(n, math.min(FitStats.BlockRows, 2 * keys.length))
      keys = new Array[Long](len); keys2 = new Array[Long](len)
      ones = new Array[Byte](len); ones2 = new Array[Byte](len)
    }
  }

  /** Runs of one block: `vals(0 until n)` are its non-missing values
    * (NaN-free, −0.0 already folded to 0.0) and `ones(i)` is 1 when row
    * `i`'s target is 1 (`ones` null for a counts-only pass).
    *
    * Each value maps to an order-preserving 64-bit key (its bits with the
    * sign bit flipped, or every bit flipped for a negative value),
    * compared unsigned.  An LSD radix sort over the key's 8 bytes carries
    * each row's target bit along, and skips a byte whose one bucket holds
    * the whole block.  Equal keys are equal values, so a run-length pass
    * over the sorted keys counts each value's rows and sums their bits.
    * `vals` is not modified.
    */
  def encode(vals: Array[Double], ones: Array[Byte], n: Int, s: Scratch): StatsRuns = {
    s.ensure(n)
    val hasTarget = ones != null
    var src = s.keys; var dst = s.keys2
    var srcOnes = s.ones; var dstOnes = s.ones2
    val hist = s.hist
    java.util.Arrays.fill(hist, 0)
    var i = 0
    while (i < n) {
      val bits = java.lang.Double.doubleToRawLongBits(vals(i))
      val key = bits ^ ((bits >> 63) | Long.MinValue)
      src(i) = key
      var d = 0
      while (d < 8) { hist((d << 8) | ((key >>> (d << 3)).toInt & 0xff)) += 1; d += 1 }
      i += 1
    }
    if (hasTarget) System.arraycopy(ones, 0, srcOnes, 0, n)
    var d = 0
    while (d < 8) {
      val shift = d << 3
      val base = d << 8
      if (n > 0 && hist(base | ((src(0) >>> shift).toInt & 0xff)) != n) {
        var sum = 0; var b = base
        while (b < base + 256) { val c = hist(b); hist(b) = sum; sum += c; b += 1 }
        i = 0
        while (i < n) {
          val key = src(i)
          val p = base | ((key >>> shift).toInt & 0xff)
          val at = hist(p)
          dst(at) = key
          if (hasTarget) dstOnes(at) = srcOnes(i)
          hist(p) = at + 1
          i += 1
        }
        val k = src; src = dst; dst = k
        val o = srcOnes; srcOnes = dstOnes; dstOnes = o
      }
      d += 1
    }
    var runs = if (n > 0) 1 else 0
    i = 1
    while (i < n) { if (src(i) != src(i - 1)) runs += 1; i += 1 }
    val out = new Builder(runs, hasTarget)
    i = 0
    while (i < n) {
      val key = src(i)
      val start = i
      var t = 0L
      while (i < n && src(i) == key) { if (hasTarget) t += srcOnes(i); i += 1 }
      out.add(java.lang.Double.longBitsToDouble(key ^ ((~key >> 63) | Long.MinValue)), i - start, t)
    }
    out.result()
  }
}

/** Exact sufficient statistics of every fit variable, mergeable: per
  * variable the sorted [[StatsRuns]] of its non-missing values plus a
  * missing bucket (rows whose value is null or NaN), the row count, and
  * the first bad and null target seen (as the `(variable, value)` text
  * the error names; the least such text wins a merge, so the message
  * does not depend on task order).
  */
private[graft] final class FitStats(
    val runs: Array[StatsRuns],
    val missing: Array[Long],
    val missingTsum: Array[Long],
    val rows: Long,
    val badTarget: Option[String],
    val nullTarget: Option[String]) extends Serializable {

  def merge(o: FitStats): FitStats = new FitStats(
    Array.tabulate(runs.length)(j => runs(j).merge(o.runs(j))),
    Array.tabulate(missing.length)(j => missing(j) + o.missing(j)),
    Array.tabulate(missingTsum.length)(j => missingTsum(j) + o.missingTsum(j)),
    rows + o.rows,
    Seq(badTarget, o.badTarget).flatten.minOption,
    Seq(nullTarget, o.nullTarget).flatten.minOption)

  /** The per-variable stats the kernels read, keyed by `names` (aligned
    * with `runs`); each shares its variable's run arrays.  A bad target
    * fails before a null one; a frame with no rows has no stats.  Needs a
    * pass with a target.
    */
  def varStats(names: Seq[String]): Map[String, Kernels.VarStats] = {
    badTarget.foreach(w =>
      throw new IllegalArgumentException(s"woe_binning: target must be 0/1 $w"))
    nullTarget.foreach(w =>
      throw new IllegalArgumentException(s"woe_binning: target contains nulls $w"))
    if (rows == 0) Map.empty
    else names.indices.map { j =>
      val r = runs(j)
      names(j) -> new Kernels.VarStats(names(j), r.values, r.counts, r.tsums,
        missing(j), missingTsum(j))
    }.toMap
  }

  /** Each variable's exact median, keyed by `names`; NaN for none. */
  def medians(names: Seq[String]): Map[String, Double] =
    names.indices.map(j => names(j) -> Kernels.exactMedian(runs(j).values, runs(j).counts)).toMap
}

private[graft] object FitStats {

  /** Rows a task buffers, over all its segments, before every segment's
    * block is sorted and folded into its runs: a task holds
    * O(BlockRows + segments × partition distinct) values per variable,
    * as the hash aggregate it replaces.
    */
  val BlockRows: Int = 1 << 15

  /** The stats of `inputCols` against `targetCol` over `df` in one
    * narrow job (the pass the `WoeBinning` scaladoc describes): each
    * variable's block is sorted once, by [[StatsRuns.encode]]'s radix
    * pass, and folded into the task's runs.
    * `treeReduce` rather than a driver fold keeps the driver's fan-in
    * and `spark.driver.maxResultSize` bounded when there are many
    * partitions.  Semantics match the grouped
    * `WoeBinning.statsAggregation`: NaN and null values are missing,
    * −0.0 counts as 0.0 (as Spark's grouping key normalisation does),
    * and a target outside {0, 1} or null is recorded for the driver to
    * reject, so that the error is not wrapped in a task failure.
    */
  def of(df: DataFrame, targetCol: String, inputCols: Seq[String]): FitStats =
    pass(df, Some(targetCol), inputCols, None).getOrElse("", empty(inputCols.length, true))

  /** [[of]] per non-null value of `groupCol` cast to string, in Java
    * `String` order, from the same one job.
    */
  def bySegment(df: DataFrame, targetCol: String, inputCols: Seq[String],
      groupCol: String): Seq[(String, FitStats)] =
    pass(df, Some(targetCol), inputCols, Some(groupCol)).toSeq.sortBy(_._1)

  /** Counts only, with no target: the runs carry no target sums (for
    * [[FitStats.medians]]; not [[FitStats.varStats]]).
    */
  def counts(df: DataFrame, cols: Seq[String]): FitStats =
    pass(df, None, cols, None).getOrElse("", empty(cols.length, false))

  private def empty(k: Int, hasTarget: Boolean) = new FitStats(
    Array.fill(k)(StatsRuns.empty(hasTarget)), new Array[Long](k), new Array[Long](k), 0L, None, None)

  private def mergeInto(acc: Map[String, FitStats], seg: (String, FitStats)) =
    acc.updated(seg._1, acc.get(seg._1).fold(seg._2)(_ merge seg._2))

  /** The one pass over rows of (feature..., target?, segment?): per
    * segment key, the stats of its rows (every row under `""` without a
    * `groupCol`; rows of a null segment are skipped).  A task keeps one
    * [[PartitionBuilder]] per segment, all sharing one radix
    * [[StatsRuns.Scratch]]; `treeReduce` merges key by key.
    */
  private def pass(df: DataFrame, targetCol: Option[String], inputCols: Seq[String],
      groupCol: Option[String]): Map[String, FitStats] = {
    require(inputCols.nonEmpty, "woe_binning: no feature columns to fit")
    val names = inputCols.toArray
    val seg = if (groupCol.isEmpty) -1 else names.length + targetCol.size
    val rows = df.selectExpr(
      (inputCols ++ targetCol).map(c => s"cast(${WoeBinning.sqlId(c)} as double)") ++
        groupCol.map(g => s"cast(${WoeBinning.sqlId(g)} as string)"): _*)
      .queryExecution.toRdd
    val parts = rows.mapPartitions { it =>
      val segments = new java.util.HashMap[UTF8String, PartitionBuilder]
      val scratch = new StatsRuns.Scratch
      var buffered = 0
      while (it.hasNext) {
        val row = it.next()
        if (seg < 0 || !row.isNullAt(seg)) {
          val key = if (seg < 0) UTF8String.EMPTY_UTF8 else row.getUTF8String(seg)
          var b = segments.get(key)
          if (b == null) {
            b = new PartitionBuilder(names, targetCol.isDefined, scratch)
            segments.put(key.copy(), b) // the row's bytes are reused
          }
          b.add(row)
          buffered += 1
          if (buffered == BlockRows) { segments.values.forEach(_.flush()); buffered = 0 }
        }
      }
      // keys that differ in bytes but not as strings merge, as groupBy on the string would
      Iterator.single(segments.asScala.iterator.map { case (g, b) => g.toString -> b.result() }
        .foldLeft(Map.empty[String, FitStats])(mergeInto))
    }
    if (parts.partitions.isEmpty) Map.empty else parts.treeReduce(_.foldLeft(_)(mergeInto))
  }

  /** One variable's block buffer: its non-missing values and, with a
    * target, each one's target bit; at most [[BlockRows]] long.
    */
  private final class BlockBuf(hasTarget: Boolean) {
    var vals = new Array[Double](64)
    var ones: Array[Byte] = if (hasTarget) new Array[Byte](64) else null
    var n = 0
    private def resize(len: Int): Unit = {
      vals = java.util.Arrays.copyOf(vals, len)
      if (hasTarget) ones = java.util.Arrays.copyOf(ones, len)
    }
    def add(x: Double, one: Boolean): Unit = {
      if (n == vals.length) resize(n * 2)
      vals(n) = x
      if (hasTarget) ones(n) = if (one) 1 else 0
      n += 1
    }
    /** Empties it, shrinking one far larger than its last block. */
    def clear(): Unit = {
      if (vals.length > 2 * n + 64) resize(n + 64)
      n = 0
    }
  }

  /** One segment's pass over a task's rows of (feature..., target?),
    * all doubles; `hasTarget` false counts values only.
    */
  private final class PartitionBuilder(names: Array[String], hasTarget: Boolean,
      scratch: StatsRuns.Scratch) {
    private val k = names.length
    private val blocks = Array.fill(k)(new BlockBuf(hasTarget))
    // size-tiered like a binary counter: a block's runs merge into the
    // runs below while those are no larger, so each value is merged
    // O(log(rows / BlockRows)) times however many blocks there are
    private val tiers = Array.fill(k)(ArrayBuffer.empty[StatsRuns])
    private val missing = new Array[Long](k)
    private val missingTsum = new Array[Long](k)
    private var rows = 0L
    private var blockRows = 0
    private var badTarget: Option[String] = None
    private var nullTarget: Option[String] = None

    private def where(row: InternalRow): String = {
      val v = if (row.isNullAt(0) || row.getDouble(0).isNaN) "null"
        else (row.getDouble(0) + 0.0).toString // −0.0 + 0.0 is 0.0
      s"(variable '${names(0)}', value $v)"
    }

    def add(row: InternalRow): Unit = {
      val one = hasTarget && !row.isNullAt(k) && row.getDouble(k) == 1.0
      if (hasTarget && row.isNullAt(k)) {
        if (nullTarget.isEmpty) nullTarget = Some(where(row))
      } else if (hasTarget && !one && row.getDouble(k) != 0.0 && badTarget.isEmpty)
        badTarget = Some(where(row)) // NaN and ±inf included
      var j = 0
      while (j < k) {
        val v = if (row.isNullAt(j)) Double.NaN else row.getDouble(j)
        if (v.isNaN) {
          missing(j) += 1
          if (one) missingTsum(j) += 1
        } else blocks(j).add(v + 0.0, one) // −0.0 + 0.0 is 0.0; every other value is unchanged
        j += 1
      }
      rows += 1
      blockRows += 1
    }

    def flush(): Unit = if (blockRows > 0) {
      var j = 0
      while (j < k) {
        val b = blocks(j)
        var cur = StatsRuns.encode(b.vals, b.ones, b.n, scratch)
        val t = tiers(j)
        while (t.nonEmpty && t.last.size <= cur.size) cur = t.remove(t.length - 1).merge(cur)
        t += cur
        b.clear()
        j += 1
      }
      blockRows = 0
    }

    def result(): FitStats = {
      flush()
      new FitStats(
        tiers.map(_.reduceOption(_ merge _).getOrElse(StatsRuns.empty(hasTarget))),
        missing, missingTsum, rows, badTarget, nullTarget)
    }
  }
}
