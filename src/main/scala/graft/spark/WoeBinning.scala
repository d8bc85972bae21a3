package graft.spark

import graft.core._
import graft.functions.{WoeChain, WoeLookup}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.parallel.CollectionConverters._

/** Fit options — names follow the reference API (binning.py:78-104).
  *
  * @param nThreshold    minimum bin size; default ceil(N/20) like
  *                      `batch_woe_binning` (binning.py:84-87)
  * @param maxDistinct   scale knob with NO reference equivalent: when
  *                      set, values are first reduced to at most this
  *                      many quantile buckets (approx_percentile) before
  *                      the stats pass, bounding the collected stats at
  *                      100 TB scale.  OFF (= exact parity) by default.
  */
final case class WoeFitOptions(
    nThreshold: Option[Double] = None,
    nOccurrences: Double = 1.0,
    pThreshold: Double = 0.1,
    sepValue: Option[Double] = None,
    mergeThreshold: Option[Double] = None,
    sortOverload: Option[Boolean] = None,
    maxDistinct: Option[Int] = None)

/** Spark-side fit: ONE narrow pass computes exact integer sufficient
  * statistics `(variable, value) → (count, target_sum)` for all
  * features ([[FitStats]]), then the iterative MOB kernels
  * (graft.core.Kernels) run driver-side over the collected
  * per-variable stats.
  *
  * The pass reads one of two inputs.  When the frame's executed plan is
  * a bare columnar Parquet scan (at most a projection of its double,
  * float, long, int, short or byte columns), each task reads the scan's
  * column batches: a dictionary-encoded vector is counted per id (rows
  * and target sum), and only the ids a batch used are decoded; a plain
  * vector's cells are read as they are.  Any other frame (computed
  * columns, filters, cached frames, other sources, a per-segment fit,
  * or `spark.sql.codegen.wholeStage=false`) is read as rows of the
  * feature columns and the target cast to double over
  * `queryExecution.toRdd`.  Both inputs fill the same fixed blocks of
  * primitive arrays, each entry a value with its rows and target sum.
  * One LSD radix sort per variable and block, over order-preserving
  * 64-bit keys and carrying each entry's weight, orders the block; a
  * run-length pass turns it into sorted (value, count, Σtarget) runs
  * plus a missing bucket.  Each block folds into the task's runs with a
  * sorted merge that adds the counts of equal values.  The tasks' runs
  * ship as varints and reach the driver in one stage (above 32
  * partitions, one shuffle level first merges them to about
  * √partitions results), where each variable's runs are merged in
  * parallel, pairwise, the same way.  There is no melt and no shuffle of
  * the data, and the driver decodes no rows: the kernels read each
  * variable's merged run arrays, and each variable's median comes from
  * the same runs in its kernel task.  A task returns O(partition
  * distinct) values per variable, so the collect is bounded by distinct
  * values, not rows.
  *
  * This replaces the reference's per-column process fan-out that
  * pickles the full column to each worker (binning.py:82,89-99) and its
  * O(rows) pandas group/sort per column (binning.py:111-131).
  */
object WoeBinning {

  private def sqlStr(s: String): String = "'" + s.replace("'", "\\'") + "'"
  private[spark] def sqlId(s: String): String = "`" + s.replace("`", "``") + "`"

  /** Fails fast on a column listed twice: each listing would count
    * its rows again.
    */
  private[graft] def requireDistinctInputs(inputCols: Seq[String]): Unit =
    inputCols.diff(inputCols.distinct).headOption.foreach(c =>
      throw new IllegalArgumentException(
        s"woe_binning: input column '$c' is listed more than once"))

  /** The melt + exact-integer stats aggregation (`stack` → groupBy) of
    * the streaming fit (StreamingWoe) and the cross-check of the batch
    * pass ([[FitStats]]), which `fit` runs instead.
    */
  def statsAggregation(df: DataFrame, targetCol: String, inputCols: Seq[String]): DataFrame = {
    require(inputCols.nonEmpty, "woe_binning: no feature columns to fit")
    val stackExpr = s"stack(${inputCols.length}, " +
      inputCols.map(c => s"${sqlStr(c)}, cast(${sqlId(c)} as double)").mkString(", ") +
      ") as (variable, value)"
    // NaN and NULL are both "missing" (pandas dropna semantics)
    df.selectExpr(stackExpr,
        s"cast(${sqlId(targetCol)} as double) as traw")
      .withColumn("value", when(isnan(col("value")), lit(null)).otherwise(col("value")))
      .groupBy("variable", "value")
      .agg(
        count(lit(1)).as("cnt"),
        // only in-domain values reach the bigint cast: under ANSI mode
        // (Spark 4 default) cast(NaN/±Infinity as bigint) throws a raw
        // ArithmeticException at the executor, pre-empting the friendly
        // 0/1-domain error (tbad below flags everything out-of-domain)
        sum(when(col("traw") === 0.0 || col("traw") === 1.0, col("traw"))
          .otherwise(lit(null)).cast("bigint")).as("tsum"),
        count(col("traw")).as("tcnt"), // non-null targets → null guard
        // 0/1-domain guard: a fractional or NaN target would silently
        // truncate under the integer-stats design
        sum(when(isnan(col("traw")) ||
            (col("traw") =!= 0.0 && col("traw") =!= 1.0), 1L)
          .otherwise(0L)).as("tbad"))
  }

  /** One collected stats row: (variable, value, cnt, tsum, tcnt, tbad)
    * — the tuple form the typed collects below deserialize straight
    * into (codegen'd encoder, no per-field GenericRow boxing/decode).
    */
  private[graft] type StatsTuple =
    (String, Option[Double], Long, Option[Long], Long, Long)

  /** Collected [[statsAggregation]] rows → per-variable exact
    * sufficient statistics — fails fast on null target values: a group
    * whose targets are all null has a NULL sum, and the reference's
    * 0/1-target contract never allows that.
    */
  private[graft] def statsFromTuples(
      rows: Array[StatsTuple]): Map[String, Kernels.VarStats] =
    rows.groupBy(_._1).map { case (variable, vr) =>
      // a null target would silently vanish from sum(), and a
      // fractional/NaN target would truncate under the integer-stats
      // design; the reference's 0/1 contract allows neither — fail fast
      def where(r: StatsTuple) =
        s"(variable '$variable', value ${r._2.map(_.toString).getOrElse("null")})"
      // single driver pass: domain/null guards, NaN split, tuple build
      // and a sortedness check all fused — a presorted input (ad-hoc
      // callers that ordered upstream) skips the O(n log n) driver sort;
      // the engine's own collects arrive unsorted by design (r18: the
      // range-sort exchange cost more than this in-memory sort)
      val groupsB = Array.newBuilder[(Double, Long, Long)]
      groupsB.sizeHint(vr.length)
      var nanCount = 0L; var nanTsum = 0L
      var presorted = true; var prev = Double.NegativeInfinity
      var i = 0
      while (i < vr.length) {
        val r = vr(i)
        // domain check FIRST: an all-NaN group also has a null tsum (the
        // NaN→null cast guard), and "must be 0/1" is the accurate error
        if (r._6 > 0)
          throw new IllegalArgumentException(
            s"woe_binning: target must be 0/1 ${where(r)}")
        if (r._4.isEmpty || r._5 != r._3)
          throw new IllegalArgumentException(
            s"woe_binning: target contains nulls ${where(r)}")
        if (r._2.isEmpty) {
          nanCount += r._3; nanTsum += r._4.get
        } else {
          val v = r._2.get
          if (v < prev) presorted = false
          prev = v
          groupsB += ((v, r._3, r._4.get))
        }
        i += 1
      }
      // fallback sort tuned for the near-unique case (r18): 583k
      // boxed-tuple `sortBy` cost ~0.5 s at sf0.1; Arrays.sort with a
      // direct primitive-field comparator over the one materialized
      // array cuts the constant (values are unique per variable after
      // the groupBy, so the order — hence the fit — is identical)
      val groups = groupsB.result()
      if (!presorted)
        java.util.Arrays.sort(groups,
          new java.util.Comparator[(Double, Long, Long)] {
            def compare(a: (Double, Long, Long), b: (Double, Long, Long)): Int =
              java.lang.Double.compare(a._1, b._1)
          })
      variable -> new Kernels.VarStats(variable, groups.map(_._1), groups.map(_._2),
        groups.map(_._3), nanCount, nanTsum)
    }

  /** One variable's bins from its collected stats — the per-variable
    * kernel dispatch shared by the batch and streaming fits (guards
    * and sentinel handling included).
    */
  def fitOne(
      variable: String,
      targetCol: String,
      stats: Map[String, Kernels.VarStats],
      cfg: WoeConfig,
      sepValue: Option[Double]): Vector[WoeBin] =
    if (variable == targetCol) Kernels.degenerateBins(variable) // binning.py:106-109
    else {
      val s = stats.getOrElse(variable, new Kernels.VarStats(variable,
        Array.emptyDoubleArray, Array.emptyLongArray, Array.emptyLongArray, 0, 0))
      require(s.size > 0 || s.nanCount > 0,
        s"woe_binning: column '$variable' has no rows")
      sepValue match {
        case None => Kernels.fitVariable(s, cfg)
        case Some(sep) => fitSentinel(s, sep, cfg)
      }
    }

  /** Snap each value of `c` to the LOWER edge of its bucket (edges
    * deduped + sorted; null/NaN pass through untouched — they carry
    * their own "missing" semantics through the fit).  Shared by the
    * quantile scale path ([[preBin]]) and the streaming state cap
    * (StreamingWoe.fitStream's `preBucketEdges`), which must bound
    * distinct values with CALLER-FIXED edges because a stream cannot
    * run the quantile pass.
    */
  def snapToEdges(df: DataFrame, c: String, edges: Seq[Double]): DataFrame = {
    val es = edges.distinct.sorted
    require(es.length >= 2, s"snapToEdges('$c'): need >= 2 distinct edges, got ${es.length}")
    // codegen'd O(log edges) binary search per row (SnapToEdge) — the
    // Bucketizer computes the same buckets but through a Scala UDF,
    // which boxes rows and fences whole-stage codegen right in the
    // scale valve's hot path; SnapToEdgeSpec pins bucket-for-bucket
    // equivalence against the Bucketizer
    df.withColumn(c,
      graft.functions.SnapToEdge(col(c).cast("double"), es.toArray))
  }

  /** Quantile pre-binning for the distinct-value-explosion scale path:
    * snap each value to the lower edge of its approx-quantile bucket.
    * Semantics divergence knob — documented, off for parity tests.
    */
  def preBin(df: DataFrame, inputCols: Seq[String], maxDistinct: Int): DataFrame = {
    val probs = (0 to maxDistinct).map(_.toDouble / maxDistinct).toArray
    val quantiles = df.stat.approxQuantile(inputCols.toArray, probs, 1e-4)
    inputCols.zip(quantiles).foldLeft(df) { case (acc, (c, qs)) =>
      val edges = qs.distinct.sorted
      if (edges.length <= 2) acc
      else snapToEdges(acc, c, edges)
    }
  }

  /** Fit all input columns; kernels run in a parallel collection on the
    * collected stats (one task per variable, like the reference's
    * joblib fan-out but without re-scanning data per column).
    */
  def fit(
      df: DataFrame,
      targetCol: String,
      inputCols: Seq[String],
      opts: WoeFitOptions = WoeFitOptions()): WoeBinningModel = {
    requireDistinctInputs(inputCols)
    val base = opts.maxDistinct.map(m => preBin(df, inputCols, m)).getOrElse(df)
    buildModel(FitStats.of(base, targetCol, inputCols), targetCol, inputCols, opts,
      Some(df.queryExecution.analyzed))
  }

  /** Per-segment fit: an independent model per distinct value of
    * `groupCol`, all segments computed in ONE distributed stats pass.
    *
    * Semantics contract (ApiSpec pins it): the model for segment
    * `g` equals `fit(df.filter(col(groupCol) === g), ...)` — including
    * the per-segment default `nThreshold = ceil(segmentRows / 20)`
    * (binning.py:84-87 applied to the segment, exactly what a user
    * filtering manually would get).  Rows whose segment is null are
    * skipped, as no equality filter would select them.
    *
    * Scale: the reference user fits per-segment scorecards by running
    * the whole pipeline once per segment — S full scans.  Here `fit`'s
    * narrow pass keeps one set of runs per segment in each task
    * ([[FitStats.bySegment]]): one job with no shuffle of the data
    * carries every segment, and the collect and driver work stay
    * O(segments × distinct values).  `maxDistinct` prebins globally
    * (same edges for every segment) before the stats pass.
    */
  def fitByGroup(
      df: DataFrame,
      targetCol: String,
      inputCols: Seq[String],
      groupCol: String,
      opts: WoeFitOptions = WoeFitOptions()): Seq[(String, WoeBinningModel)] = {
    requireDistinctInputs(inputCols)
    val base = opts.maxDistinct.map(m => preBin(df, inputCols, m)).getOrElse(df)
    FitStats.bySegment(base, targetCol, inputCols, groupCol).map { case (g, stats) =>
      // fit plan of the EQUIVALENT manual workflow: transform on
      // df.filter(groupCol === g) reuses the precomputed medians
      val gPlan =
        try Some(df.filter(col(groupCol).cast("string") === g)
          .queryExecution.analyzed)
        catch { case scala.util.control.NonFatal(_) => None }
      g -> buildModel(stats, targetCol, inputCols, opts, gPlan)
    }
  }

  /** The model of one frame's (or segment's) stats: the kernels with
    * the default `nThreshold = ceil(rows / 20)` (binning.py:84-87), and
    * the exact medians a `transform` of the fit frame reuses, from the
    * same runs (no extra job).  None under maxDistinct: pre-binned
    * values would yield snapped medians, not the data's true ones.
    */
  private def buildModel(stats: FitStats, targetCol: String, inputCols: Seq[String],
      opts: WoeFitOptions, fitPlan: Option[LogicalPlan]): WoeBinningModel = {
    val vs = stats.varStats(inputCols)
    val cfg = WoeConfig(opts.nThreshold.getOrElse(math.ceil(stats.rows.toDouble / 20.0)),
      opts.nOccurrences, opts.pThreshold, opts.sortOverload, opts.mergeThreshold)
    val exact = opts.maxDistinct.isEmpty
    // each variable's median in its own task, next to its kernels
    val fitted = inputCols.indices.par.map { j =>
      val c = inputCols(j)
      (c, fitOne(c, targetCol, vs, cfg, opts.sepValue), if (exact) stats.median(j) else Double.NaN)
    }.seq.toVector
    new WoeBinningModel(fitted.map(f => f._1 -> f._2),
      if (exact) fitted.map(f => f._1 -> f._3).toMap else Map.empty, fitPlan)
  }

  /** Sentinel fit (`woe_binning_sep`, binning.py:32-75) WITHOUT extra
    * scans: the sep-subset and complement sufficient stats are split
    * out of the already-collected runs, at the one run (values are
    * distinct) whose value equals `sep`.
    */
  private def fitSentinel(
      s: Kernels.VarStats,
      sep: Double,
      cfg: WoeConfig): Vector[WoeBin] = {
    val at = s.values.indexWhere(_ == sep)
    // the reference crashes opaquely on these (binning.py:37, 49); fail
    // fast — the complement needs at least one NON-null value (a
    // complement of only-null rows yields a lone NaN bin, which the
    // stitch strips before indexing b(0))
    require(at >= 0,
      s"woe_binning_sep: no rows of '${s.variable}' equal sep_value=$sep")
    require(s.size > 1,
      s"woe_binning_sep: no non-null rows of '${s.variable}' differ from sep_value=$sep — nothing to bin")
    val sepStats = new Kernels.VarStats(s.variable, Array(s.values(at)), Array(s.counts(at)),
      Array(s.tsums(at)), 0L, 0L)
    // pandas `!=` keeps NaN rows in the complement (binning.py:43)
    val compStats = new Kernels.VarStats(s.variable, s.values.patch(at, Nil, 1),
      s.counts.patch(at, Nil, 1), s.tsums.patch(at, Nil, 1), s.nanCount, s.nanTsum)
    val a = Kernels.fitVariable(sepStats, cfg)
    val b = Kernels.fitVariable(compStats, cfg)
    Kernels.stitchSentinel(a, b, sep, s.totalTsum.toDouble, s.totalRows.toDouble)
  }

  /** Exact interpolated medians (pandas `Series.median`,
    * binning.py:297/302) for several columns from the counts-only form
    * of `fit`'s stats pass ([[FitStats.counts]]): one job, no shuffle
    * of the data.  A column with no non-missing values maps to NaN.
    *
    * The collect is O(distinct values).  `WoeBinningModel.transform`
    * no longer calls this for every new batch: its per-bin imputation
    * pass picks a value with the same label from O(variables × bins)
    * collected extents, and falls back here only for the columns whose
    * middle pair could overflow (see [[WoeBinningModel.imputationValues]]).
    */
  def exactMedians(df: DataFrame, cols: Seq[String]): Map[String, Double] =
    FitStats.counts(df, cols).medians(cols)

  /** Reference 11-column schema (binning.py:107-108). */
  val binsSchema: StructType = StructType(Seq(
    StructField("variable", StringType, nullable = false),
    StructField("interval_start_include", DoubleType, nullable = false),
    StructField("interval_end_exclude", DoubleType, nullable = false),
    StructField("size", DoubleType, nullable = false),
    StructField("mean", DoubleType, nullable = false),
    StructField("bads", DoubleType, nullable = false),
    StructField("goods", DoubleType, nullable = false),
    StructField("dist_good", DoubleType, nullable = false),
    StructField("dist_bad", DoubleType, nullable = false),
    StructField("woe", DoubleType, nullable = false),
    StructField("iv_components", DoubleType, nullable = false)))
}

/** The fitted model: the stacked bins table (variable-keyed, like
  * `apply_bins(is_df=True)` consumes, binning.py:271-277) plus the
  * expression-compiled transform.
  *
  * @param fitMedians per-column exact medians of the FIT dataset,
  *                   precomputed driver-side from the fit's collected
  *                   grouped stats (empty for loaded / hand-built models)
  * @param fitPlan    analyzed plan of the fit DataFrame; when the apply
  *                   DataFrame `sameResult`s it, `transform` reuses
  *                   [[fitMedians]] instead of running its imputation
  *                   pass over the same data.  CONTRACT: plan
  *                   equality stands in for data equality — if the
  *                   underlying files are overwritten between fit and
  *                   transform, the reused medians describe the OLD
  *                   data (the same staleness any Spark cache of that
  *                   plan would exhibit); re-fit, or transform a
  *                   freshly-read DataFrame whose plan differs, when
  *                   the source may have changed.  The retained plan
  *                   also keeps its analyzed tree reachable for the
  *                   model's lifetime — negligible for file scans,
  *                   worth knowing for plans embedding large local
  *                   relations.
  */
final class WoeBinningModel(
    val fitted: Seq[(String, Vector[WoeBin])],
    fitMedians: Map[String, Double] = Map.empty,
    fitPlan: Option[LogicalPlan] = None) {

  def bins(variable: String): Vector[WoeBin] =
    fitted.collectFirst { case (v, b) if v == variable => b }.getOrElse(
      throw new IllegalArgumentException(s"no fitted variable '$variable'; " +
        s"the model fitted ${fitted.map(_._1).mkString("[", ", ", "]")}"))

  /** Stacked bins DataFrame in the reference's 11-column schema. */
  def binsDf(spark: SparkSession): DataFrame = {
    val rows = fitted.flatMap { case (_, bs) =>
      bs.map(b => Row(b.variable, b.intervalStartInclude, b.intervalEndExclude,
        b.size, b.mean, b.bads, b.goods, b.distGood, b.distBad, b.woe,
        b.ivComponents))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), WoeBinning.binsSchema)
  }

  private def isCompleteRow(b: WoeBin): Boolean = Kernels.isCompleteRow(b)

  /** Canonical-plan equality between the apply DataFrame and the fit
    * DataFrame — `sameResult` normalizes expression ids and ordering,
    * so the common `model.transform(sameDf)` is recognized even when
    * the plan object was rebuilt.
    */
  private def sameAsFit(df: DataFrame): Boolean =
    fitPlan.exists { p =>
      try df.queryExecution.analyzed.sameResult(p)
      catch { case scala.util.control.NonFatal(_) => false }
    }

  /** `apply_bins` (binning.py:268-304): per surviving variable one
    * compact lookup expression ([[graft.functions.WoeLookup]]) sends
    * `coalesce(value, median)` through the learned bins' [[WoeChain]]
    * — no join, no shuffle, no UDF; one `select` evaluates every
    * variable in one pass over the data.  Each cell is one static call
    * from generated code, so the generated method stays small: a
    * `when`-chain per variable, one branch per bin, inlined twelve
    * 8–12-bin variables into a 17,439-byte method, over HotSpot's
    * 8000-byte JIT limit, where the lookup's largest method is 928 bytes.
    *
    * Quirks preserved: data-NaN is imputed with the column median of
    * the APPLY dataset, not the learned NaN bin (binning.py:297,302);
    * variables are deduped by exact total-IV equality when
    * remove100Corr (binning.py:294-299); output holds ONLY the
    * `<col>_bin` columns unless passthrough is set.
    *
    * Imputation cost: the median only decides which bin of the chain a
    * missing cell lands in, so a new batch does not need it exactly.
    * One narrow job with no shuffle collects per-bin (count, min, max)
    * extents, O(variables × bins), and the driver picks a value in the
    * median's bin ([[WoeBinningModel.imputationValues]]).  The output
    * is bit-identical to imputing the exact median.  A batch whose plan
    * is the fit plan reuses the fit's medians and runs no job.
    *
    * The surviving-variable set is DATA-DEPENDENT (IV / bin-count /
    * dedup filters) — like the reference, the default output may have
    * fewer columns than fitted variables.  `exactSchema = true` keeps
    * one `<col>_bin` column per fitted variable, emitting NULL for the
    * filtered ones, so the output schema is static.
    */
  def transform(
      df: DataFrame,
      ivThreshold: Double = 0.02,
      binThreshold: Int = 2,
      remove100Corr: Boolean = true,
      passthrough: Boolean = false,
      exactSchema: Boolean = false): DataFrame = {
    val kept = keptVariables(ivThreshold, binThreshold, remove100Corr)
    val selected = kept.collect { case (v, Some(bs)) => (v, bs) }
    // the value a missing cell is imputed with, one per selected
    // variable (binning.py:297,302).  When the apply plan IS the fit
    // plan (the dominant fit-then-apply workflow), the fit already
    // collected per-value counts: reuse its precomputed medians, zero
    // jobs.  Otherwise one narrow per-bin pass over the apply data
    // (imputationValues) picks a value that lands in the same bin as
    // the apply data's exact median.
    val imputed: Seq[Double] =
      if (selected.isEmpty) Nil
      else if (sameAsFit(df) && selected.forall(s => fitMedians.contains(s._1)))
        selected.map { case (v, _) => fitMedians(v) }
      else WoeBinningModel.imputationValues(df, selected)
    renderTransform(df, kept, selected, imputed, passthrough, exactSchema)
  }

  /** `transform`'s variable filters (IV, bin count, IV-equality dedup;
    * binning.py:278-299): every fitted variable with its bins when it
    * survives, None when it is dropped.
    */
  private def keptVariables(
      ivThreshold: Double,
      binThreshold: Int,
      remove100Corr: Boolean): Seq[(String, Option[Vector[WoeBin]])] = {
    // per-variable filters computed once: IV over complete rows,
    // bin-count incl. NaN row, +inf-only exclusion (binning.py:278-280)
    val withIv = fitted.map { case (v, bs) =>
      val ivTotal = bs.filter(isCompleteRow).map(_.ivComponents).sum
      val ok = !(ivTotal < ivThreshold || bs.length < binThreshold ||
        ivTotal == Double.PositiveInfinity)
      (v, bs, ivTotal, ok)
    }
    // IV-equality dedup (binning.py:294-299), first occurrence wins
    var seenIvs = List.empty[Double]
    withIv.map { case (v, bs, ivTotal, ok) =>
      if (!ok) (v, None)
      else if (remove100Corr && seenIvs.contains(ivTotal)) (v, None)
      else {
        seenIvs = ivTotal :: seenIvs
        (v, Some(bs))
      }
    }
  }

  /** The output `select`: one [[graft.functions.WoeLookup]] per
    * selected variable over its value cast to double, `imputed` aligned
    * with `selected`.
    */
  private def renderTransform(
      df: DataFrame,
      kept: Seq[(String, Option[Vector[WoeBin]])],
      selected: Seq[(String, Vector[WoeBin])],
      imputed: Seq[Double],
      passthrough: Boolean,
      exactSchema: Boolean): DataFrame = {
    val exprs = selected.zip(imputed).map { case ((v, bs), med) =>
      WoeLookup(col(v).cast(DoubleType), WoeChain(bs), med).as(v + "_bin")
    }
    val outCols =
      if (exactSchema) {
        val it = exprs.iterator // kept's Some entries are `selected`, in order
        kept.map {
          case (_, Some(_)) => it.next()
          case (v, None) => lit(null).cast(DoubleType).as(v + "_bin")
        }
      }
      else exprs
    if (passthrough) df.select(col("*") +: outCols: _*)
    else df.select(outCols: _*)
  }

  /** `transform` imputing the reference's own value, the exact median
    * of `df` from one [[WoeBinning.exactMedians]] job, through the same
    * chains: the oracle `ImputationSpec` checks the imputation pass
    * against.
    */
  private[graft] def transformExactMedians(
      df: DataFrame,
      ivThreshold: Double = 0.02,
      binThreshold: Int = 2,
      remove100Corr: Boolean = true,
      passthrough: Boolean = false,
      exactSchema: Boolean = false): DataFrame = {
    val kept = keptVariables(ivThreshold, binThreshold, remove100Corr)
    val selected = kept.collect { case (v, Some(bs)) => (v, bs) }
    val medians =
      if (selected.isEmpty) Map.empty[String, Double]
      else WoeBinning.exactMedians(df, selected.map(_._1))
    renderTransform(df, kept, selected, selected.map(s => medians(s._1)),
      passthrough, exactSchema)
  }

  /** Persist as the stacked bins table (the reference user pickles the
    * dict; we round-trip through parquet).
    */
  def save(spark: SparkSession, path: String): Unit = {
    val ordered = fitted.zipWithIndex.flatMap { case ((v, bs), vi) =>
      bs.zipWithIndex.map { case (b, bi) => (vi, bi, b) }
    }
    import spark.implicits._
    ordered.map { case (vi, bi, b) =>
      (vi, bi, b.variable, b.intervalStartInclude, b.intervalEndExclude, b.size,
        b.mean, b.bads, b.goods, b.distGood, b.distBad, b.woe, b.ivComponents)
    }.toDF("var_ordinal", "bin_ordinal", "variable", "interval_start_include",
      "interval_end_exclude", "size", "mean", "bads", "goods", "dist_good",
      "dist_bad", "woe", "iv_components")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
}

object WoeBinningModel {
  def load(spark: SparkSession, path: String): WoeBinningModel = {
    val rows = spark.read.parquet(path)
      .orderBy("var_ordinal", "bin_ordinal").collect()
    val fitted = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      val bins = rs.sortBy(_.getInt(1)).map { r =>
        WoeBin(r.getString(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7), r.getDouble(8), r.getDouble(9),
          r.getDouble(10), r.getDouble(11), r.getDouble(12))
      }.toVector
      bins.head.variable -> bins
    }
    new WoeBinningModel(fitted)
  }

  /** Per-variable per-leaf extents of the non-missing values: the
    * count, min and max of the values each chain leaf holds.  Leaves
    * are laid out variable after variable (`offsets`).  Mutable so a
    * partition's pass and the driver merge allocate once.
    */
  private final class LeafExtents(width: Int) extends Serializable {
    val count = new Array[Long](width)
    val min: Array[Double] = Array.fill(width)(Double.PositiveInfinity)
    val max: Array[Double] = Array.fill(width)(Double.NegativeInfinity)

    def add(i: Int, v: Double): Unit = {
      count(i) += 1
      if (v < min(i)) min(i) = v
      if (v > max(i)) max(i) = v
    }

    def merge(o: LeafExtents): LeafExtents = {
      var i = 0
      while (i < width) {
        count(i) += o.count(i)
        if (o.min(i) < min(i)) min(i) = o.min(i)
        if (o.max(i) > max(i)) max(i) = o.max(i)
        i += 1
      }
      this
    }
  }

  /** The value each selected variable's missing cells are imputed
    * with, aligned with `selected`: one that its chain puts in the same
    * leaf as the exact median of `df`'s non-missing values, so the
    * output equals imputing the exact median (binning.py:297,302) bit
    * for bit.
    *
    * ONE job with no shuffle reads the selected columns cast to double
    * and sends each non-missing value to its leaf by [[WoeChain.leaf]],
    * the comparisons of the chain itself.  Each task returns its
    * per-leaf (count, min, max), merged on the driver: the collect is
    * O(partitions × variables × bins), whatever the number of distinct
    * values.  Every leaf's preimage is an interval (an
    * intersection of half-lines), so the occupied leaves ordered by
    * their min split the sorted values into consecutive runs, and the
    * driver can place ranks n/2−1 and n/2 (n non-missing values):
    *
    *  - n = 0: NaN, as the exact median;
    *  - n odd: the min of the leaf holding rank n/2, a data value in
    *    the median's leaf;
    *  - n even, ranks in leaves i then k: `(max_i + min_k) / 2.0`, the
    *    exact median's formula on its exact operands;
    *  - n even, both ranks in leaf i: min_i, because the exact median
    *    `fl((lo + hi) / 2)` lies in `[lo, hi]` inside the leaf's
    *    interval — unless the sum can overflow (|min_i| or |max_i| above
    *    `Double.MaxValue / 2`).  Only such columns take a second,
    *    exact [[WoeBinning.exactMedians]] job.
    */
  private[spark] def imputationValues(
      df: DataFrame,
      selected: Seq[(String, Vector[WoeBin])]): Seq[Double] = {
    val chains = selected.map { case (_, bs) => WoeChain(bs) }.toArray
    val offsets = chains.scanLeft(0)(_ + _.labels.length)
    val width = offsets.last
    val rows = df.select(selected.map { case (v, _) => col(v).cast(DoubleType) }: _*)
      .queryExecution.toRdd
    // submitted with runJob and a task function declared here: cleaning
    // `RDD.fold`'s closures would parse `RDD`'s class file on every call
    val ext = rows.sparkContext.runJob(rows, (_: TaskContext, it: Iterator[InternalRow]) => {
      val e = new LeafExtents(width)
      while (it.hasNext) {
        val row = it.next()
        var j = 0
        while (j < chains.length) {
          if (!row.isNullAt(j)) {
            val v = row.getDouble(j)
            if (!v.isNaN) e.add(offsets(j) + chains(j).leaf(v), v)
          }
          j += 1
        }
      }
      e
    }).foldLeft(new LeafExtents(width))(_ merge _)
    val picked = chains.indices.map(j => pickImputation(ext, offsets(j), offsets(j + 1)))
    val overflow = selected.indices.filter(picked(_).isEmpty).map(selected(_)._1).distinct
    val exact =
      if (overflow.isEmpty) Map.empty[String, Double]
      else WoeBinning.exactMedians(df, overflow)
    selected.indices.map(j => picked(j).getOrElse(exact(selected(j)._1)))
  }

  /** One variable's imputation value from its leaves `[from, until)` of
    * `ext` (see [[imputationValues]]); None when only the exact median
    * is safe.
    */
  private def pickImputation(ext: LeafExtents, from: Int, until: Int): Option[Double] = {
    val occupied = (from until until).filter(ext.count(_) > 0)
      .sortWith((a, b) => ext.min(a) < ext.min(b))
    val n = occupied.iterator.map(ext.count(_)).sum
    // the leaf holding 0-based rank r
    def leafOf(r: Long): Int = {
      var seen = 0L
      occupied.find { i => seen += ext.count(i); r < seen }.get
    }
    def huge(x: Double) = math.abs(x) > Double.MaxValue / 2
    if (n == 0) Some(Double.NaN)
    else if (n % 2 == 1) Some(ext.min(leafOf(n / 2)))
    else {
      val (i, k) = (leafOf(n / 2 - 1), leafOf(n / 2))
      if (i != k) Some((ext.max(i) + ext.min(k)) / 2.0)
      else if (huge(ext.min(i)) || huge(ext.max(i))) None
      else Some(ext.min(i))
    }
  }
}
