package graft.spark

import graft.core.Kernels
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, InputAdapter,
  ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String
import scala.annotation.switch
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

  /** A block entry's weight: its row `count` and target sum `tsum`
    * packed into one long, so that [[encode]]'s radix sort carries both
    * and a run adds its entries' weights in one sum.  A block holds
    * fewer than 2^32 rows, so neither half of a sum overflows.
    */
  @inline def weight(count: Long, tsum: Long): Long = (count << 32) | tsum

  /** [[encode]]'s radix-sort arrays, grown to the largest block seen and
    * shared by every segment of a task: O(BlockRows) per task.
    */
  final class Scratch {
    private[StatsRuns] var keys = new Array[Long](0)
    private[StatsRuns] var keys2 = new Array[Long](0)
    private[StatsRuns] var wts = new Array[Long](0)
    private[StatsRuns] var wts2 = new Array[Long](0)
    private[StatsRuns] val hist = new Array[Int](8 << 8)

    private[StatsRuns] def ensure(n: Int): Unit = if (keys.length < n) {
      val len = math.max(n, math.min(FitStats.BlockRows, 2 * keys.length))
      keys = new Array[Long](len); keys2 = new Array[Long](len)
      wts = new Array[Long](len); wts2 = new Array[Long](len)
    }
  }

  /** Runs of one block: `vals(0 until n)` are its entries' non-missing
    * values (NaN-free, −0.0 already folded to 0.0) and `wts(i)` is entry
    * `i`'s [[weight]]: one row and its target bit for the row pass, a
    * dictionary id's rows and target sum for the columnar pass.  Equal
    * values may repeat; `hasTarget` false drops the target sums.
    *
    * Each value maps to its order-preserving 64-bit [[key]].  An LSD
    * radix sort over the key's 8 bytes carries each entry's weight
    * along, and skips a byte whose one bucket holds the whole block.
    * Equal keys are equal values, so a run-length pass over the sorted
    * keys sums each value's weights.  `vals` and `wts` are not modified.
    */
  def encode(vals: Array[Double], wts: Array[Long], n: Int, hasTarget: Boolean,
      s: Scratch): StatsRuns = {
    s.ensure(n)
    var src = s.keys; var dst = s.keys2
    var srcW = s.wts; var dstW = s.wts2
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
    System.arraycopy(wts, 0, srcW, 0, n)
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
          dstW(at) = srcW(i)
          hist(p) = at + 1
          i += 1
        }
        val k = src; src = dst; dst = k
        val w = srcW; srcW = dstW; dstW = w
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
      var w = 0L
      while (i < n && src(i) == key) { w += srcW(i); i += 1 }
      out.add(value(key), w >>> 32, w & 0xffffffffL)
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

  /** Variable `j`'s exact median; NaN for none. */
  def median(j: Int): Double = Kernels.exactMedian(runs(j).values, runs(j).counts)

  /** Each variable's exact median, keyed by `names`; NaN for none. */
  def medians(names: Seq[String]): Map[String, Double] =
    names.indices.map(j => names(j) -> median(j)).toMap
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
    * task folds its input, block by block, into sorted runs by
    * [[StatsRuns.encode]]'s radix pass.  It reads the Parquet scan's
    * column vectors when the plan allows ([[columnarInput]]), else the
    * rows of the cast columns.  The tasks' runs reach the driver in one
    * stage ([[gather]]); a shuffle level above [[DirectFanIn]] partitions
    * keeps the driver's fan-in and `spark.driver.maxResultSize` bounded.
    * Semantics match the grouped `WoeBinning.statsAggregation`: NaN and
    * null values are missing, −0.0 counts as 0.0 (as Spark's grouping key
    * normalisation does), and a target outside {0, 1} or null is
    * recorded for the driver to reject, so that the error is not wrapped
    * in a task failure.
    */
  def of(df: DataFrame, targetCol: String, inputCols: Seq[String]): FitStats =
    pass(df, Some(targetCol), inputCols, None).getOrElse("", empty(inputCols.length, true))

  /** [[of]] per non-null value of `groupCol` cast to string, in Java
    * `String` order, from the same one job (always the row pass).
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

  /** A task's elements: the function [[gather]] submits with `runJob`.
    * Declared here, not in `RDD`, so that cleaning it reads this small
    * class rather than parsing `RDD`'s.
    */
  private def elements[T](ctx: TaskContext, it: Iterator[T]): List[T] = it.toList

  /** The merged stats of `parts` (one element each), in one job: up to
    * [[DirectFanIn]] partitions, the driver collects every task's
    * result; above that, one shuffle level, as `treeReduce` runs, first
    * merges them into ⌈√n⌉ tasks' results.  No result is folded as it
    * arrives, on the scheduler's thread: the driver merges each
    * segment's runs of each variable in parallel ([[mergeSegments]]).
    */
  private[graft] def gather(parts: RDD[Map[String, FitStats]]): Map[String, FitStats] = {
    val n = parts.getNumPartitions
    def collect(r: RDD[Map[String, FitStats]]) =
      r.sparkContext.runJob(r, elements[Map[String, FitStats]] _).flatten
    if (n == 0) Map.empty
    else if (n <= DirectFanIn) mergeSegments(collect(parts))
    else {
      val s = math.ceil(math.sqrt(n.toDouble)).toInt
      mergeSegments(collect(parts.mapPartitionsWithIndex((i, it) => it.map(i % s -> _))
        .reduceByKey(new HashPartitioner(s), _.foldLeft(_)(mergeInto)).values))
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

  /** The name of the [[partials]] RDD that reads column vectors. */
  private[graft] val ColumnarPass = "FitStats columnar pass"

  /** The name of the [[partials]] RDD that reads rows. */
  private[graft] val RowPass = "FitStats row pass"

  /** The pass over (feature..., target?, segment?), one element per
    * partition: per segment key, the stats of the partition's rows
    * (every row under `""` without a `groupCol`; rows of a null segment
    * are skipped).  Without a `groupCol`, when [[columnarInput]] finds a
    * bare Parquet scan under the cast projection, the tasks read its
    * column batches ([[PartitionBuilder.addBatch]]); otherwise they read
    * the projection's rows, one [[PartitionBuilder]] per segment, all
    * sharing one radix [[StatsRuns.Scratch]].  The RDD is named
    * [[ColumnarPass]] or [[RowPass]] after the input it reads.
    */
  private[graft] def partials(df: DataFrame, targetCol: Option[String], inputCols: Seq[String],
      groupCol: Option[String]): RDD[Map[String, FitStats]] = {
    require(inputCols.nonEmpty, "woe_binning: no feature columns to fit")
    val names = inputCols.toArray
    val hasTarget = targetCol.isDefined
    val qe = df.selectExpr(
      (inputCols ++ targetCol).map(c => s"cast(${WoeBinning.sqlId(c)} as double)") ++
        groupCol.map(g => s"cast(${WoeBinning.sqlId(g)} as string)"): _*)
      .queryExecution
    def single(b: PartitionBuilder) =
      if (b.rows == 0) Map.empty[String, FitStats] else Map("" -> b.result())
    (if (groupCol.isEmpty) columnarInput(qe.executedPlan) else None) match {
      case Some((scan, layout)) =>
        scan.executeColumnar().mapPartitions { batches =>
          val b = new PartitionBuilder(names, hasTarget, new StatsRuns.Scratch)
          while (batches.hasNext) b.addBatch(batches.next(), layout)
          Iterator.single(single(b))
        }.setName(ColumnarPass)
      case None if groupCol.isEmpty =>
        qe.toRdd.mapPartitions { rows =>
          val b = new PartitionBuilder(names, hasTarget, new StatsRuns.Scratch)
          while (rows.hasNext) {
            b.add(rows.next())
            if (b.blockRows == BlockRows) b.flush()
          }
          Iterator.single(single(b))
        }.setName(RowPass)
      case None =>
        val seg = names.length + targetCol.size
        qe.toRdd.mapPartitions { rows =>
          val segments = new java.util.HashMap[UTF8String, PartitionBuilder]
          val scratch = new StatsRuns.Scratch
          var buffered = 0
          while (rows.hasNext) {
            val row = rows.next()
            if (!row.isNullAt(seg)) {
              val key = row.getUTF8String(seg)
              var b = segments.get(key)
              if (b == null) {
                b = new PartitionBuilder(names, hasTarget, scratch)
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
        }.setName(RowPass)
    }
  }

  /** How a feature or target cell is read from its column vector and
    * widened to double, exactly as `cast(.. as double)` widens it.
    */
  private final val DoubleCell = 0
  private final val FloatCell = 1
  private final val LongCell = 2
  private final val IntCell = 3
  private final val ShortCell = 4
  private final val ByteCell = 5

  private def cellKind(t: DataType): Option[Int] = t match {
    case DoubleType => Some(DoubleCell)
    case FloatType => Some(FloatCell)
    case LongType => Some(LongCell)
    case IntegerType => Some(IntCell)
    case ShortType => Some(ShortCell)
    case ByteType => Some(ByteCell)
    case _ => None
  }

  @inline private def cell(v: ColumnVector, kind: Int, i: Int): Double = (kind: @switch) match {
    case DoubleCell => v.getDouble(i)
    case FloatCell => v.getFloat(i).toDouble
    case LongCell => v.getLong(i).toDouble
    case IntCell => v.getInt(i).toDouble
    case ShortCell => v.getShort(i).toDouble
    case _ => v.getByte(i).toDouble
  }

  /** Where each projected column (feature..., target?) sits in a scan
    * batch, and how its cells widen to double.
    */
  private final class BatchLayout(val ordinals: Array[Int], val kinds: Array[Int])
    extends Serializable

  /** The Parquet scan under `plan` and its [[BatchLayout]], when `plan`
    * is a columnar Parquet `FileSourceScanExec` under
    * `ColumnarToRowExec`, with at most a projection that casts to double
    * (or passes on) a double, float, long, int, short or byte column of
    * the scan.  None for anything else: computed columns, filters,
    * cached frames, other sources, and a scan that is not columnar
    * (`spark.sql.codegen.wholeStage=false` among its causes).
    */
  private def columnarInput(plan: SparkPlan): Option[(FileSourceScanExec, BatchLayout)] = {
    def strip(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => strip(w.child)
      case InputAdapter(c) => strip(c)
      case other => other
    }
    def column(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case Alias(c, _) => column(c)
      case Cast(a: Attribute, DoubleType, _, _) => Some(a)
      case _ => None
    }
    val (list, below) = strip(plan) match {
      case ProjectExec(l, c) => (Some(l), strip(c))
      case other => (None, other)
    }
    below match {
      case ColumnarToRowExec(c) => strip(c) match {
        case s: FileSourceScanExec if s.supportsColumnar &&
            s.relation.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val layout = list.getOrElse(s.output).map(e => for {
            a <- column(e)
            at = s.output.indexWhere(_.exprId == a.exprId) if at >= 0
            kind <- cellKind(a.dataType)
          } yield (at, kind))
          if (layout.forall(_.isDefined))
            Some(s -> new BatchLayout(layout.map(_.get._1).toArray, layout.map(_.get._2).toArray))
          else None
        case _ => None
      }
      case _ => None
    }
  }

  /** One variable's block buffer: its non-missing entries' values and
    * [[StatsRuns.weight]]s; at most [[BlockRows]] rows, plus one batch.
    */
  private final class BlockBuf {
    var vals = new Array[Double](64)
    var wts = new Array[Long](64)
    var n = 0
    private def resize(len: Int): Unit = {
      vals = java.util.Arrays.copyOf(vals, len)
      wts = java.util.Arrays.copyOf(wts, len)
    }
    def add(x: Double, w: Long): Unit = {
      if (n == vals.length) resize(n * 2)
      vals(n) = x
      wts(n) = w
      n += 1
    }
    /** Empties it, shrinking one far larger than its last block. */
    def clear(): Unit = {
      if (vals.length > 2 * n + 64) resize(n + 64)
      n = 0
    }
  }

  /** One segment's pass over a task's input of (feature..., target?),
    * as rows of doubles ([[add]]) or as scan batches ([[addBatch]]);
    * `hasTarget` false counts values only.
    */
  private final class PartitionBuilder(names: Array[String], hasTarget: Boolean,
      scratch: StatsRuns.Scratch) {
    private val k = names.length
    private val blocks = Array.fill(k)(new BlockBuf)
    // size-tiered like a binary counter: a block's runs merge into the
    // runs below while those are no larger, so each value is merged
    // O(log(rows / BlockRows)) times however many blocks there are
    private val tiers = Array.fill(k)(ArrayBuffer.empty[StatsRuns])
    private val missing = new Array[Long](k)
    private val missingTsum = new Array[Long](k)
    var rows = 0L
    var blockRows = 0
    private var badTarget: Option[String] = None
    private var nullTarget: Option[String] = None

    /** The error text of a target, from its row's first variable `v`
      * (NaN for null).
      */
    private def where(v: Double): String = {
      val shown = if (v.isNaN) "null" else (v + 0.0).toString // −0.0 + 0.0 is 0.0
      s"(variable '${names(0)}', value $shown)"
    }

    def add(row: InternalRow): Unit = {
      def first = if (row.isNullAt(0)) Double.NaN else row.getDouble(0)
      val one = hasTarget && !row.isNullAt(k) && row.getDouble(k) == 1.0
      if (hasTarget && row.isNullAt(k)) {
        if (nullTarget.isEmpty) nullTarget = Some(where(first))
      } else if (hasTarget && !one && row.getDouble(k) != 0.0 && badTarget.isEmpty)
        badTarget = Some(where(first)) // NaN and ±inf included
      val bit = if (one) 1 else 0
      var j = 0
      while (j < k) {
        val v = if (row.isNullAt(j)) Double.NaN else row.getDouble(j)
        if (v.isNaN) {
          missing(j) += 1
          missingTsum(j) += bit
        } else blocks(j).add(v + 0.0, StatsRuns.weight(1, bit)) // −0.0 + 0.0 is 0.0; every other value is unchanged
        j += 1
      }
      rows += 1
      blockRows += 1
    }

    // per-batch arrays of the columnar pass, grown to the largest
    // batch and dictionary seen: each row's target bit, and per
    // dictionary id its rows, target sum and first row, with the ids a
    // column's batch used in first-use order
    private var bits = new Array[Int](0)
    private var idRows = new Array[Int](0)
    private var idTsum = new Array[Int](0)
    private var idFirst = new Array[Int](0)
    private var used = new Array[Int](0)

    /** Adds one scan batch, read through `layout`; flushes the blocks
      * once they hold [[BlockRows]] rows.  Row `i`'s cells are the ones
      * `add` would see for the batch's row `i`, so the runs and the
      * reported target texts equal the row pass's.
      */
    def addBatch(batch: ColumnarBatch, layout: BatchLayout): Unit = {
      val n = batch.numRows
      if (bits.length < n) { bits = new Array[Int](n); used = new Array[Int](n) }
      if (hasTarget) {
        val t = batch.column(layout.ordinals(k)); val tk = layout.kinds(k)
        val v0 = batch.column(layout.ordinals(0)); val k0 = layout.kinds(0)
        def first(i: Int) = if (v0.isNullAt(i)) Double.NaN else cell(v0, k0, i)
        val nulls = t.hasNull
        var i = 0
        while (i < n) {
          if (nulls && t.isNullAt(i)) {
            bits(i) = 0
            if (nullTarget.isEmpty) nullTarget = Some(where(first(i)))
          } else {
            val x = cell(t, tk, i)
            bits(i) = if (x == 1.0) 1 else 0
            if (x != 1.0 && x != 0.0 && badTarget.isEmpty) badTarget = Some(where(first(i)))
          }
          i += 1
        }
      } // without a target every bit stays 0
      var j = 0
      while (j < k) {
        batch.column(layout.ordinals(j)) match {
          case v: WritableColumnVector if v.hasDictionary =>
            addDictionary(j, v, layout.kinds(j), n)
          case v => addPlain(j, v, layout.kinds(j), n)
        }
        j += 1
      }
      rows += n
      blockRows += n
      if (blockRows >= BlockRows) flush()
    }

    private def addPlain(j: Int, v: ColumnVector, kind: Int, n: Int): Unit = {
      val b = blocks(j)
      val nulls = v.hasNull
      var i = 0
      while (i < n) {
        val x = if (nulls && v.isNullAt(i)) Double.NaN else cell(v, kind, i)
        if (x.isNaN) {
          missing(j) += 1
          missingTsum(j) += bits(i)
        } else b.add(x + 0.0, StatsRuns.weight(1, bits(i)))
        i += 1
      }
    }

    /** A dictionary-encoded column's batch: counts rows and target sums
      * per id, then adds each used id once, decoded at its first row.
      * The batch is the unit, because the reader wraps each batch's
      * dictionary anew.
      */
    private def addDictionary(j: Int, v: WritableColumnVector, kind: Int, n: Int): Unit = {
      val ids = v.getDictionaryIds
      val nulls = v.hasNull
      var nUsed = 0
      var i = 0
      while (i < n) {
        if (nulls && v.isNullAt(i)) {
          missing(j) += 1
          missingTsum(j) += bits(i)
        } else {
          val id = ids.getInt(i)
          if (id >= idRows.length) {
            val len = math.max(id + 1, 2 * idRows.length)
            idRows = java.util.Arrays.copyOf(idRows, len)
            idTsum = java.util.Arrays.copyOf(idTsum, len)
            idFirst = java.util.Arrays.copyOf(idFirst, len)
          }
          if (idRows(id) == 0) { idFirst(id) = i; used(nUsed) = id; nUsed += 1 }
          idRows(id) += 1
          idTsum(id) += bits(i)
        }
        i += 1
      }
      val b = blocks(j)
      var u = 0
      while (u < nUsed) {
        val id = used(u)
        val x = cell(v, kind, idFirst(id))
        if (x.isNaN) {
          missing(j) += idRows(id)
          missingTsum(j) += idTsum(id)
        } else b.add(x + 0.0, StatsRuns.weight(idRows(id), idTsum(id)))
        idRows(id) = 0; idTsum(id) = 0
        u += 1
      }
    }

    def flush(): Unit = if (blockRows > 0) {
      var j = 0
      while (j < k) {
        val b = blocks(j)
        var cur = StatsRuns.encode(b.vals, b.wts, b.n, hasTarget, scratch)
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
