package graft.spark

import graft.core.Kernels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One variable's non-missing values as sorted runs: ascending distinct
  * `values`, each with its row `counts` and its target sum `tsums` (the
  * number of its rows whose target is 1).  Immutable; arrays are
  * exactly sized, so a task result ships no slack.
  */
private[graft] final class StatsRuns(
    val values: Array[Double],
    val counts: Array[Long],
    val tsums: Array[Long]) extends Serializable {

  def size: Int = values.length

  /** Linear sorted merge; equal values add their counts.  Associative
    * and commutative, so the result does not depend on merge order.
    */
  def merge(o: StatsRuns): StatsRuns = {
    val out = new StatsRuns.Builder(size + o.size)
    var i = 0; var j = 0
    while (i < size && j < o.size) {
      val x = values(i); val y = o.values(j)
      if (x < y) { out.add(x, counts(i), tsums(i)); i += 1 }
      else if (y < x) { out.add(y, o.counts(j), o.tsums(j)); j += 1 }
      else { out.add(x, counts(i) + o.counts(j), tsums(i) + o.tsums(j)); i += 1; j += 1 }
    }
    while (i < size) { out.add(values(i), counts(i), tsums(i)); i += 1 }
    while (j < o.size) { out.add(o.values(j), o.counts(j), o.tsums(j)); j += 1 }
    out.result()
  }
}

private[graft] object StatsRuns {
  val empty = new StatsRuns(Array.emptyDoubleArray, Array.emptyLongArray, Array.emptyLongArray)

  /** Appends runs in ascending value order into arrays of `capacity`. */
  final class Builder(capacity: Int) {
    private val values = new Array[Double](capacity)
    private val counts = new Array[Long](capacity)
    private val tsums = new Array[Long](capacity)
    private var n = 0

    def add(v: Double, c: Long, t: Long): Unit = {
      values(n) = v; counts(n) = c; tsums(n) = t; n += 1
    }

    def result(): StatsRuns =
      if (n == capacity) new StatsRuns(values, counts, tsums)
      else new StatsRuns(java.util.Arrays.copyOf(values, n),
        java.util.Arrays.copyOf(counts, n), java.util.Arrays.copyOf(tsums, n))
  }

  /** Runs of one block: `vals(0 until nv)` are the block's non-missing
    * values and `ones(0 until no)` the subset whose target is 1.  Both
    * are sorted in place, then run-length encoded side by side.
    */
  def encode(vals: Array[Double], nv: Int, ones: Array[Double], no: Int): StatsRuns = {
    java.util.Arrays.sort(vals, 0, nv)
    java.util.Arrays.sort(ones, 0, no)
    val out = new Builder(nv)
    var i = 0; var p = 0
    while (i < nv) {
      val x = vals(i)
      val start = i
      while (i < nv && vals(i) == x) i += 1
      // ones is a sub-multiset of vals, so every smaller one was taken
      val oneStart = p
      while (p < no && ones(p) == x) p += 1
      out.add(x, i - start, p - oneStart)
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
    * with `runs`).  A bad target fails before a null one; a frame with
    * no rows has no stats.
    */
  def varStats(names: Seq[String]): Map[String, Kernels.VarStats] = {
    badTarget.foreach(w =>
      throw new IllegalArgumentException(s"woe_binning: target must be 0/1 $w"))
    nullTarget.foreach(w =>
      throw new IllegalArgumentException(s"woe_binning: target contains nulls $w"))
    if (rows == 0) Map.empty
    else names.indices.map { j =>
      val r = runs(j)
      val groups = Vector.tabulate(r.size)(i => (r.values(i), r.counts(i), r.tsums(i)))
      names(j) -> Kernels.VarStats(names(j), groups, missing(j), missingTsum(j),
        missing(j) + r.counts.sum, missingTsum(j) + r.tsums.sum)
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
    * narrow job (the pass the `WoeBinning` scaladoc describes).
    * `treeReduce` rather than a driver fold keeps the driver's fan-in
    * and `spark.driver.maxResultSize` bounded when there are many
    * partitions.  Semantics match the grouped
    * `WoeBinning.statsAggregation`: NaN and null values are missing,
    * −0.0 counts as 0.0 (as Spark's grouping key normalisation does),
    * and a target outside {0, 1} or null is recorded for the driver to
    * reject, so that the error is not wrapped in a task failure.
    */
  def of(df: DataFrame, targetCol: String, inputCols: Seq[String]): FitStats =
    pass(df, Some(targetCol), inputCols, None).getOrElse("", empty(inputCols.length))

  /** [[of]] per non-null value of `groupCol` cast to string, in Java
    * `String` order, from the same one job.
    */
  def bySegment(df: DataFrame, targetCol: String, inputCols: Seq[String],
      groupCol: String): Seq[(String, FitStats)] =
    pass(df, Some(targetCol), inputCols, Some(groupCol)).toSeq.sortBy(_._1)

  /** Counts only, with no target: every target sum is 0. */
  def counts(df: DataFrame, cols: Seq[String]): FitStats =
    pass(df, None, cols, None).getOrElse("", empty(cols.length))

  private def empty(k: Int) = new FitStats(Array.fill(k)(StatsRuns.empty),
    new Array[Long](k), new Array[Long](k), 0L, None, None)

  private def mergeInto(acc: Map[String, FitStats], seg: (String, FitStats)) =
    acc.updated(seg._1, acc.get(seg._1).fold(seg._2)(_ merge seg._2))

  /** The one pass over rows of (feature..., target?, segment?): per
    * segment key, the stats of its rows (every row under `""` without a
    * `groupCol`; rows of a null segment are skipped).  A task keeps one
    * [[PartitionBuilder]] per segment; `treeReduce` merges key by key.
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
      var buffered = 0
      while (it.hasNext) {
        val row = it.next()
        if (seg < 0 || !row.isNullAt(seg)) {
          val key = if (seg < 0) UTF8String.EMPTY_UTF8 else row.getUTF8String(seg)
          var b = segments.get(key)
          if (b == null) {
            b = new PartitionBuilder(names, targetCol.isDefined)
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

  /** A growable primitive buffer, at most [[BlockRows]] long. */
  private final class DoubleBuf {
    var a = new Array[Double](64)
    var n = 0
    def add(x: Double): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = x; n += 1
    }
    /** Empties it, shrinking one far larger than its last block. */
    def clear(): Unit = {
      if (a.length > 2 * n + 64) a = new Array[Double](n + 64)
      n = 0
    }
  }

  /** One segment's pass over a task's rows of (feature..., target?),
    * all doubles; `hasTarget` false counts values only.
    */
  private final class PartitionBuilder(names: Array[String], hasTarget: Boolean) {
    private val k = names.length
    private val vals = Array.fill(k)(new DoubleBuf)
    private val ones = Array.fill(k)(new DoubleBuf)
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
        } else {
          val x = v + 0.0 // −0.0 + 0.0 is 0.0; every other value is unchanged
          vals(j).add(x)
          if (one) ones(j).add(x)
        }
        j += 1
      }
      rows += 1
      blockRows += 1
    }

    def flush(): Unit = if (blockRows > 0) {
      var j = 0
      while (j < k) {
        var cur = StatsRuns.encode(vals(j).a, vals(j).n, ones(j).a, ones(j).n)
        val t = tiers(j)
        while (t.nonEmpty && t.last.size <= cur.size) cur = t.remove(t.length - 1).merge(cur)
        t += cur
        vals(j).clear(); ones(j).clear()
        j += 1
      }
      blockRows = 0
    }

    def result(): FitStats = {
      flush()
      new FitStats(
        tiers.map(_.reduceOption(_ merge _).getOrElse(StatsRuns.empty)),
        missing, missingTsum, rows, badTarget, nullTarget)
    }
  }
}
