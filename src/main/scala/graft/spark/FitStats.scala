package graft.spark

import graft.core.Kernels
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer
import scala.collection.parallel.CollectionConverters._
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

  private def writeReplace(): AnyRef = StatsRuns.Wire.of(this)
}

private[graft] object StatsRuns {
  def empty(hasTarget: Boolean): StatsRuns = new StatsRuns(Array.emptyDoubleArray,
    Array.emptyLongArray, if (hasTarget) Array.emptyLongArray else null)

  /** A value's order-preserving 64-bit key, compared unsigned: its bits
    * with the sign bit flipped, or every bit flipped for a negative value.
    */
  @inline private def key(v: Double): Long = {
    val bits = java.lang.Double.doubleToRawLongBits(v)
    bits ^ ((bits >> 63) | Long.MinValue)
  }

  @inline private def value(key: Long): Double =
    java.lang.Double.longBitsToDouble(key ^ ((~key >> 63) | Long.MinValue))

  /** A balanced pairwise merge of `rs` (at least one): each run is
    * merged O(log rs.length) times, not up to rs.length times as in a
    * left fold.
    */
  def mergeAll(rs: IndexedSeq[StatsRuns]): StatsRuns = {
    var level = rs
    while (level.length > 1)
      level = IndexedSeq.tabulate((level.length + 1) / 2)(i =>
        if (2 * i + 1 < level.length) level(2 * i).merge(level(2 * i + 1)) else level(2 * i))
    level.head
  }

  /** The serialized form of [[StatsRuns]], in a task result or a
    * shuffle: per run, as unsigned LEB128 varints, the difference of its
    * value's [[key]] from the previous run's (mod 2^64, from 0 for the
    * first), its count and, with a target, its target sum.  Ascending
    * runs have small key steps and counts, so a run of a near-unique
    * column ships in about 8 bytes instead of the 24 of its arrays.
    * Every value, count and sum round-trips exactly.
    */
  private final class Wire(n: Int, hasTarget: Boolean, bytes: Array[Byte]) extends Serializable {
    private def readResolve(): AnyRef = {
      val out = new Builder(n, hasTarget)
      var at = 0
      def next(): Long = {
        var x = 0L; var shift = 0; var b = 0x80
        while ((b & 0x80) != 0) {
          b = bytes(at); at += 1
          x |= (b & 0x7fL) << shift; shift += 7
        }
        x
      }
      var k = 0L
      var i = 0
      while (i < n) {
        k += next()
        val c = next()
        out.add(value(k), c, if (hasTarget) next() else 0L)
        i += 1
      }
      out.result()
    }
  }

  private object Wire {
    def of(r: StatsRuns): Wire = {
      val perRun = if (r.hasTarget) 30 else 20 // at most 10 bytes a varint
      val bytes = new Array[Byte](r.size * perRun)
      var at = 0
      def put(v: Long): Unit = {
        var x = v
        while ((x & ~0x7fL) != 0) { bytes(at) = ((x & 0x7f) | 0x80).toByte; at += 1; x >>>= 7 }
        bytes(at) = x.toByte; at += 1
      }
      var prev = 0L
      var i = 0
      while (i < r.size) {
        val k = key(r.values(i))
        put(k - prev); put(r.counts(i))
        if (r.hasTarget) put(r.tsums(i))
        prev = k
        i += 1
      }
      new Wire(r.size, r.hasTarget, java.util.Arrays.copyOf(bytes, at))
    }
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
    * Each value maps to its order-preserving 64-bit [[key]].  An LSD
    * radix sort over the key's 8 bytes carries each row's target bit
    * along, and skips a byte whose one bucket holds the whole block.
    * Equal keys are equal values, so a run-length pass over the sorted
    * keys counts each value's rows and sums their bits.  `vals` is not
    * modified.
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
      val key = StatsRuns.key(vals(i))
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
      out.add(value(key), i - start, t)
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
    * pass, and folded into the task's runs.  The tasks' runs reach the
    * driver in one stage ([[gather]]); a shuffle level above
    * [[DirectFanIn]] partitions keeps the driver's fan-in and
    * `spark.driver.maxResultSize` bounded.  Semantics match the grouped
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

  /** Most per-partition results [[gather]] collects as they are; above
    * it, one executor level first merges them to ⌈√n⌉.
    */
  val DirectFanIn: Int = 32

  /** The one pass: [[partials]], then [[gather]]. */
  private def pass(df: DataFrame, targetCol: Option[String], inputCols: Seq[String],
      groupCol: Option[String]): Map[String, FitStats] =
    gather(partials(df, targetCol, inputCols, groupCol))

  /** The merged stats of `parts` (one element each), in one job: up to
    * [[DirectFanIn]] partitions, the driver collects every task's
    * result; above that, one shuffle level, as `treeReduce` runs, first
    * merges them into ⌈√n⌉ tasks' results.  No result is folded as it
    * arrives, on the scheduler's thread: the driver merges each
    * segment's runs of each variable in parallel ([[mergeSegments]]).
    */
  private[graft] def gather(parts: RDD[Map[String, FitStats]]): Map[String, FitStats] = {
    val n = parts.getNumPartitions
    if (n == 0) Map.empty
    else if (n <= DirectFanIn) mergeSegments(parts.collect())
    else {
      val s = math.ceil(math.sqrt(n.toDouble)).toInt
      mergeSegments(parts.mapPartitionsWithIndex((i, it) => it.map(i % s -> _))
        .reduceByKey(new HashPartitioner(s), _.foldLeft(_)(mergeInto)).values.collect())
    }
  }

  /** Merges per-task stats segment by segment: every (segment,
    * variable) pair's runs in parallel, each by a balanced pairwise
    * [[StatsRuns.mergeAll]]; the counts and target texts alongside.
    */
  private def mergeSegments(parts: Array[Map[String, FitStats]]): Map[String, FitStats] = {
    val segments = parts.iterator.flatMap(_.iterator).toVector.groupMap(_._1)(_._2).toVector
    if (segments.isEmpty) return Map.empty
    val k = segments.head._2.head.runs.length
    val runs = new Array[StatsRuns](segments.length * k)
    (0 until runs.length).par.foreach { t =>
      runs(t) = StatsRuns.mergeAll(segments(t / k)._2.map(_.runs(t % k)))
    }
    segments.indices.map { g =>
      val (key, fs) = segments(g)
      def sum(f: FitStats => Array[Long]) = Array.tabulate(k)(j => fs.iterator.map(f(_)(j)).sum)
      key -> new FitStats(runs.slice(g * k, g * k + k), sum(_.missing), sum(_.missingTsum),
        fs.iterator.map(_.rows).sum, fs.flatMap(_.badTarget).minOption,
        fs.flatMap(_.nullTarget).minOption)
    }.toMap
  }

  /** The pass over rows of (feature..., target?, segment?), one element
    * per partition: per segment key, the stats of the partition's rows
    * (every row under `""` without a `groupCol`; rows of a null segment
    * are skipped).  A task keeps one [[PartitionBuilder]] per segment,
    * all sharing one radix [[StatsRuns.Scratch]].
    */
  private[graft] def partials(df: DataFrame, targetCol: Option[String], inputCols: Seq[String],
      groupCol: Option[String]): RDD[Map[String, FitStats]] = {
    require(inputCols.nonEmpty, "woe_binning: no feature columns to fit")
    val names = inputCols.toArray
    val seg = if (groupCol.isEmpty) -1 else names.length + targetCol.size
    val rows = df.selectExpr(
      (inputCols ++ targetCol).map(c => s"cast(${WoeBinning.sqlId(c)} as double)") ++
        groupCol.map(g => s"cast(${WoeBinning.sqlId(g)} as string)"): _*)
      .queryExecution.toRdd
    rows.mapPartitions { it =>
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
