package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.WoeConfig
import graft.spark.{WoeBinning, WoeBinningModel}
import scala.collection.parallel.CollectionConverters._

/** Incremental WoE binning over a stream — a capability the
  * single-shot reference cannot express (SURVEY.md §2.10: no streaming
  * surface) but which falls out of this engine's architecture: the
  * distributed part of the fit is just (count, Σtarget) per
  * (variable, value), which is an incrementally-maintainable
  * aggregation.  Each micro-batch updates the running stats
  * (complete-mode groupBy); the driver-side MOB kernels re-fit from
  * the updated stats on every trigger and hand the refreshed model to
  * the caller.
  *
  * The stream keeps the melt/aggregation (WoeBinning.statsAggregation
  * / statsFromTuples), the only fit still on it; the batch producers
  * (`fit`, `fitByGroup`, `exactMedians`) compute the same stats in one
  * narrow pass (graft.spark.FitStats), and the batch fit shares the
  * kernel dispatch (fitOne), so StreamingWoeSpec's streaming == batch
  * equality cross-checks the two stats producers.
  *
  * Scale note: state is O(distinct (variable, value)) and each trigger
  * collects it, like the batch path.  For unbounded-cardinality
  * features, pass `preBucketEdges` — per-column FIXED bucket edges
  * applied to the stream before the aggregation (the same
  * lower-edge-snap as the batch `maxDistinct` path, WoeBinning
  * .snapToEdges), bounding complete-mode state at |edges| distinct
  * values per column.  The edges must be caller-fixed because the
  * batch knob's quantile pass is a full-data scan a stream cannot do.
  *
  * FAIL-LOUD state gate: a near-unique continuous feature streamed in
  * WITHOUT pre-bucket edges makes complete-mode state grow O(distinct)
  * until the job dies — the silent-degrade class the batch fit
  * (`maxDistinct`) and the eval metrics (`maxGroups`) already refuse.
  * The gate rides the per-trigger collect itself: the collect is
  * LIMIT-bounded at the budget implied by `maxDistinctState` and the
  * pre-bucket edges, so an overflowing batch truncates at the cap
  * (the driver never receives the monster) and the over-cap row count
  * fails the query with the diagnostic — zero extra work per trigger,
  * not a quiet OOM hours later.
  */
object StreamingWoe {

  /** Start an incremental fit on a STREAMING frame carrying the target
    * and feature columns.  `onModel` fires after each micro-batch with
    * the model fitted to all data seen so far.
    *
    * @param checkpointLocation pass for a restart-recoverable fit
    *                           (complete-mode state replays from it)
    * @param trigger            micro-batch cadence (default: as fast
    *                           as data arrives)
    * @param preBucketEdges     per-column fixed bucket edges capping
    *                           streaming state at |edges| distinct
    *                           values per column (unbounded otherwise)
    * @param maxDistinctState   distinct-value budget per column NOT in
    *                           `preBucketEdges`: the per-trigger
    *                           collect is bounded at the total budget
    *                           and the query fails loudly when the
    *                           state frame exceeds it (<= 0 disables —
    *                           the expert valve, same contract as the
    *                           eval metrics' `maxGroups`)
    */
  def fitStream(
      stream: DataFrame,
      targetCol: String,
      inputCols: Seq[String],
      cfg: WoeConfig,
      sepValue: Option[Double] = None,
      checkpointLocation: Option[String] = None,
      trigger: Option[Trigger] = None,
      preBucketEdges: Map[String, Seq[Double]] = Map.empty,
      maxDistinctState: Int = 1 << 20)(
      onModel: (Long, WoeBinningModel) => Unit): StreamingQuery = {
    WoeBinning.requireDistinctInputs(inputCols)
    preBucketEdges.keys.foreach(c => require(inputCols.contains(c),
      s"fitStream: preBucketEdges column '$c' is not an input column"))
    val bucketed = preBucketEdges.foldLeft(stream) {
      case (acc, (c, es)) => WoeBinning.snapToEdges(acc, c, es)
    }
    // snapped columns are bounded at |edges|+1 by construction; only
    // the uncapped ones can grow state without limit
    val uncapped = inputCols.filterNot(preBucketEdges.contains).toSet
    val stats = WoeBinning.statsAggregation(bucketed, targetCol, inputCols)
    var writer = stats.writeStream.outputMode("complete")
    checkpointLocation.foreach(p => writer = writer.option("checkpointLocation", p))
    trigger.foreach(t => writer = writer.trigger(t))
    // the gate rides the existing per-trigger collect as a LIMIT — no
    // second pass over the state frame per micro-batch (a first cut
    // ran a per-batch groupBy(variable).count() and cost q_fit_streaming
    // +30% at sf0.1).  The cap bounds the driver collect itself:
    // snapped columns contribute ≤ |edges|+2 grouped rows each
    // (buckets + the null/NaN row), uncapped ones maxDistinctState+1
    // each (+1 for their null row), so rows.length > cap proves some
    // uncapped column outgrew its budget.
    val cap: Long =
      if (maxDistinctState <= 0 || uncapped.isEmpty) Long.MaxValue
      else preBucketEdges.valuesIterator.map(_.length + 2L).sum +
        uncapped.size.toLong * (maxDistinctState + 1L)
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // typed collect (r19, same as the batch fit): tuple encoder
        // instead of a GenericRow decode per grouped state row
        import batch.sparkSession.implicits._
        val typed = batch.as[WoeBinning.StatsTuple]
        val rows =
          if (cap == Long.MaxValue) typed.collect()
          else typed.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).collect()
        if (rows.length > cap) {
          // name the dominant variable among the truncated rows — an
          // approximate culprit, but the throw itself is exact
          val worst = rows.groupBy(_._1).maxBy(_._2.length)
          throw new IllegalStateException(
            s"fitStream: streaming state reached ${rows.length}+ grouped " +
              s"rows (cap $cap for ${uncapped.size} uncapped column(s) at " +
              s"maxDistinctState=$maxDistinctState; densest so far: " +
              s"'${worst._1}' with ${worst._2.length} rows) — pass " +
              "preBucketEdges for high-cardinality columns (fixed-edge " +
              "snap bounds complete-mode state) or raise maxDistinctState")
        }
        val byVar = WoeBinning.statsFromTuples(rows)
        if (byVar.nonEmpty) { // no data yet → no model to emit
          val fitted = inputCols.par
            .map(c => c -> WoeBinning.fitOne(c, targetCol, byVar, cfg, sepValue))
            .seq.toVector
          onModel(batchId, new WoeBinningModel(fitted))
        }
      }
      .start()
  }
}
