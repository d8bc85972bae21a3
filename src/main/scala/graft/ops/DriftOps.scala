package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scorecard drift monitoring — the operations a WoE-binning user
  * runs AFTER deployment: population stability between the fit-time
  * baseline and the scoring-time population over the model's own bin
  * edges.  PSI is the standard gate (< 0.1 stable, 0.1–0.25 watch,
  * > 0.25 re-fit) — reference users compute it over exactly the
  * binning tables this engine produces.
  */
object DriftOps {

  /** Fixed-edge bin id — a codegen'd when-chain over the edges, no
    * join, with the comparisons of the WoE transform's
    * `graft.functions.WoeChain`.  `rightClosed = true` gives
    * `(-inf, e₀], (e₀, e₁], …`; false gives the left-closed
    * `(-inf, e₀), [e₀, e₁), …` — the transform picks the comparator
    * from the fit orientation, and drift bins must match it or
    * boundary-exact values land in a different bin than scoring puts
    * them ([[psiForModel]] derives the flag from the model's bins).
    */
  def binId(
      value: Column, edges: Seq[Double],
      rightClosed: Boolean = true): Column =
    edges.zipWithIndex.foldRight(lit(edges.length): Column) {
      case ((e, i), acc) =>
        when(if (rightClosed) value <= e else value < e, lit(i))
          .otherwise(acc)
    }

  /** Per-bin PSI report between `baseline` and `current` over fixed
    * `edges`: counts, shares, and the PSI term
    * `(p − q) · ln(p / q)` with both shares floored at `epsilon` so
    * a bin empty on one side contributes a large-but-finite term
    * instead of ±∞.  The caller sums `psi_term` for the headline
    * number (12 exact driver-side additions, not a float shuffle).
    *
    * Every count is an exact integer, each share one division, each
    * term one fixed IEEE chain — partition-order-independent, and the
    * DuckDB replay agrees bit-for-bit except the ln ulp.
    *
    * Scale shape: two scans (baseline, current), each a codegen'd
    * projection + hash agg to ≤ |edges|+1 rows; the join/total
    * arithmetic happens on driver-size frames.
    */
  def psi(
      baseline: DataFrame, current: DataFrame, valueCol: String,
      edges: Seq[Double], epsilon: Double = 1e-6,
      rightClosed: Boolean = true): DataFrame = {
    // empty edges = one bucket (a single-bin variable is trivially
    // stable: p = q = 1, term 0) — legitimate for psiForModel when a
    // fit collapsed a variable to one bin
    require(edges == edges.sorted, s"psi: edges must ascend, got $edges")
    require(epsilon > 0, s"psi: epsilon=$epsilon must be positive")
    // null/NaN rows get their OWN bin (-1, the "missing" bucket):
    // a shifting null rate is a common drift mode and must be
    // reported, not silently folded into the top value bin (which is
    // where the bare when-chain would drop them)
    def counts(df: DataFrame, nCol: String) = {
      val v = col(valueCol).cast("double")
      df.select(
          when(v.isNull || isnan(v), lit(-1))
            .otherwise(binId(v, edges, rightClosed)).as("bin_id"))
        .groupBy("bin_id").agg(count(lit(1)).as(nCol))
    }
    val b = counts(baseline, "n_base")
    val c = counts(current, "n_curr")
    val joined = b.join(c, Seq("bin_id"), "full_outer")
      .select(col("bin_id"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_curr"), lit(0L)).as("n_curr"))
    val tb = joined.agg(sum("n_base").as("tb"), sum("n_curr").as("tc"))
    val p = greatest(col("n_base").cast("double") / col("tb"), lit(epsilon))
    val q = greatest(col("n_curr").cast("double") / col("tc"), lit(epsilon))
    joined.crossJoin(broadcast(tb))
      .select(col("bin_id"), col("n_base"), col("n_curr"),
        p.as("p_base"), q.as("p_curr"),
        ((p - q) * log(p / q)).as("psi_term"))
  }

  /** Interior right-closed edges recovered from a fitted model's bins
    * for `variable`: the finite interval endpoints, deduplicated and
    * ascending — the NaN bin (and ±∞ outer bounds) contribute none.
    */
  def modelEdges(
      model: graft.spark.WoeBinningModel, variable: String): Seq[Double] =
    model.bins(variable)
      .iterator
      .flatMap(b => Iterator(b.intervalStartInclude, b.intervalEndExclude))
      .filter(e => !e.isNaN && !e.isInfinite)
      .toSeq.distinct.sorted

  /** [[psi]] over the edges a FITTED model actually learned — the
    * turn-key "did my scoring population drift off the fit
    * population" call.  Null/NaN rows surface as the `-1` missing bin
    * (the drift mirror of the model's NaN bin), and the interval
    * comparator follows the model's fit orientation exactly as the
    * transform's `graft.functions.WoeChain` does, so boundary-exact
    * values are counted in the same bin scoring puts them.  An unknown
    * `variable` fails with an `IllegalArgumentException` naming the
    * fitted ones.
    */
  def psiForModel(
      model: graft.spark.WoeBinningModel,
      baseline: DataFrame, current: DataFrame, variable: String,
      epsilon: Double = 1e-6): DataFrame = {
    val complete = model.bins(variable)
      .filter(graft.core.Kernels.isCompleteRow)
    // same orientation rule as graft.functions.WoeChain: descending
    // recorded intervals = right-closed cuts
    val rightClosed = complete.length < 2 ||
      complete.head.intervalStartInclude > complete.last.intervalStartInclude
    psi(baseline, current, variable,
      modelEdges(model, variable), epsilon, rightClosed)
  }

  /** The full scorecard drift report: [[psiForModel]] for EVERY fitted
    * variable, stacked with a `variable` column — the one frame a
    * monitoring job materializes per scoring batch.  Costs two scans
    * per variable (each variable's edges differ, so the buckets
    * cannot share a pass without a melt; at typical scorecard widths
    * of 10-50 variables this is the simple/robust trade).
    */
  def psiReport(
      model: graft.spark.WoeBinningModel,
      baseline: DataFrame, current: DataFrame,
      epsilon: Double = 1e-6): DataFrame = {
    require(model.fitted.nonEmpty,
      "psiReport: model has no fitted variables — fit at least one " +
        "variable before asking for a drift report")
    model.fitted.map(_._1).map { v =>
      psiForModel(model, baseline, current, v, epsilon)
        .select(lit(v).as("variable"), col("bin_id"), col("n_base"),
          col("n_curr"), col("p_base"), col("p_curr"), col("psi_term"))
    }.reduce(_ unionByName _)
  }
}
