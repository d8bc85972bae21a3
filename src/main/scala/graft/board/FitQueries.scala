package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.{WoeBinning, WoeFitOptions}
import graft.ops.{EvalOps, StreamingOps}
import SparkEntry._

/** The MOB fit/apply rows: the LCG target, the sufficient statistics
  * and finalization SQL, the fits themselves (golden-backed literal
  * oracles), the apply and the scorecard evaluation.
  */
object FitQueries {

  /** FIXTURES.md §2 deterministic LCG target, shared SQL dialect.
    * Floor-mod is spelled out so Spark and DuckDB agree for any sign.
    * `extraCols` lets a query carry additional lineitem columns (e.g.
    * a segment key) without duplicating the target derivation.
    */
  private def baseCteWith(extraCols: String): String =
    s"""WITH base AS (
       |  SELECT l_orderkey, l_linenumber,$extraCols
       |         CAST(l_extendedprice AS DOUBLE) AS extendedprice,
       |         CAST(l_quantity AS DOUBLE) AS quantity,
       |         CAST(l_discount AS DOUBLE) AS discount,
       |         CASE WHEN CAST(((((l_orderkey * 7919 + l_linenumber) % 2147483648 + 2147483648) % 2147483648
       |                           * 1103515245 + 12345) % 2147483648 + 2147483648) % 2147483648 AS DOUBLE) / 2147483648.0
       |                   < 1.0 / (1.0 + exp(-((CAST(l_extendedprice AS DOUBLE) - 38000.0) / 15000.0)))
       |              THEN 1 ELSE 0 END AS target
       |  FROM lineitem
       |)""".stripMargin

  private val baseCte: String = baseCteWith("")

  /** CASE expression assigning `valueExpr` to its right-closed bin id
    * for arbitrary ascending interior `edges` (value ≤ edge → that
    * bin, else the next; ELSE the last) — shared dialect.
    */
  private def bucketCaseFor(valueExpr: String, edges: Seq[Double]): String = {
    val whens = edges.zipWithIndex
      .map { case (e, i) => s"WHEN $valueExpr <= ${dlit(e)} THEN $i" }
      .mkString(" ")
    s"CASE $whens ELSE ${edges.length} END"
  }

  /** CASE expression assigning each extendedprice to its golden bin id
    * (ascending ids, right-closed intervals like the reference's
    * descending orientation reconstructed by apply).
    */
  private def bucketCase(valueExpr: String): String =
    bucketCaseFor(valueExpr, goldenEdges)

  /** Fixed candidate bins for the IV ranking query: the golden edges
    * for the real signal plus literal equal-ish cuts for the two noise
    * variables (the LCG target is a function of extendedprice alone,
    * so the ranking must put it first with the noise IVs near zero).
    */
  private val ivRankingBins: Seq[(String, Seq[Double])] = Seq(
    "extendedprice" -> goldenEdges,
    "quantity" -> Seq(10.0, 20.0, 30.0, 40.0),
    "discount" -> Seq(0.02, 0.04, 0.06, 0.08))

  /** Shared eval CTE prefix: the scored population reduced to
    * per-distinct-score counts (the same single reduction EvalOps
    * performs before any window runs).
    */
  private lazy val evalGroupedCte: String =
    s"""$baseCte, s AS (
       |  SELECT ${woeCase("extendedprice")} AS score, target FROM base
       |), g AS (
       |  SELECT score, count(*) AS n, sum(target) AS bads FROM s GROUP BY score
       |)""".stripMargin

  /** Literal-table oracle built from reference-executed golden
    * fixtures (tools/gen_golden.py → src/main/resources/golden): the
    * fitted bins must hash-match the reference's own captured output.
    * NaN cells (a NaN bin's open edges) become CAST('NaN' AS DOUBLE);
    * finite doubles go through `dlit` so DuckDB takes the
    * correctly-rounded strtod path.  Only DuckDB executes these — the
    * Spark side runs the actual fit.
    */
  private def fitOracleSql(fixtures: String*): String = {
    val tables = fixtures.map(Golden.load)
    val cols = tables.head.columns
    val valueRows = tables.flatMap(_.rows).map { r =>
      r.zipWithIndex.map {
        case (v, 0) => "'" + v.toString + "'"
        case (null, _) => "CAST('NaN' AS DOUBLE)"
        case (d: Double, _) =>
          if (d.isNaN) "CAST('NaN' AS DOUBLE)"
          else if (d == Double.PositiveInfinity) "CAST('Infinity' AS DOUBLE)"
          else if (d == Double.NegativeInfinity) "CAST('-Infinity' AS DOUBLE)"
          else dlit(d)
        case (v, i) => sys.error(s"unexpected fixture cell $v at column $i")
      }.mkString("(", ", ", ")")
    }.mkString(",\n")
    s"SELECT * FROM (VALUES\n$valueRows\n) AS t(${cols.mkString(", ")})"
  }

  /** [[fitOracleSql]] with a leading `segment` tag per fixture: the
    * fitByGroup oracle is the union of per-segment reference-captured
    * bin tables, each row tagged with its segment value.
    */
  private def fitByGroupOracleSql(fixtures: Seq[(String, String)]): String =
    fixtures.map { case (seg, f) =>
      s"SELECT '$seg' AS segment, t.* FROM (${fitOracleSql(f)}) AS t"
    }.mkString("\nUNION ALL\n")

  /** apply_bins as a DuckDB CASE compiled from the SAME golden fixture
    * the fit oracle uses, mirroring `graft.functions.WoeChain`'s cut/label
    * reconstruction step-for-step (complete rows only, orientation
    * reverse, right-closed `<=` vs left-closed `<`).  The cut values
    * are data values (no arithmetic), so boundary bucketing is exact
    * in both engines; only the woe labels carry last-bit float noise.
    * The median-impute branch is statically dead here — the lineitem
    * columns are non-null/non-NaN at every SF.
    */
  private def applyWoeCase(fixture: String, valueExpr: String): String = {
    val t = Golden.load(fixture)
    val ci = t.columns.zipWithIndex.toMap
    def d(r: Vector[Any], c: String): Double = r(ci(c)) match {
      case x: Double => x
      case null => Double.NaN
      case x => sys.error(s"unexpected fixture cell $x in $c")
    }
    val complete = t.rows.filter { r =>
      t.columns.filterNot(_ == "variable").forall(c => !d(r, c).isNaN)
    }
    var cuts = complete.map(d(_, "interval_start_include")) :+
      d(complete.last, "interval_end_exclude")
    var labels = complete.map(d(_, "woe"))
    val rightClosed = cuts.head > cuts.last
    if (rightClosed) { cuts = cuts.reverse; labels = labels.reverse }
    val op = if (rightClosed) "<=" else "<"
    val whens = labels.indices.dropRight(1)
      .map(k => s"WHEN $valueExpr $op ${dlit(cuts(k + 1))} THEN ${dlit(labels(k))}")
      .mkString("\n         ")
    s"CASE $whens\n         ELSE ${dlit(labels.last)} END"
  }

  /** Golden-literal oracle for the isotonic-calibration blocks: PAV
    * with exact-integer rate comparisons is bit-deterministic across
    * JVMs (verified at capture time) — REGRESSION PIN, same contract
    * as the bpe_train/compress fixtures.  EvalSpec pins
    * runtime == fixture so the fixture is not a second truth.
    */
  private def isotonicOracleSql(fixture: String): String = {
    val t = Golden.load(fixture)
    val valueRows = t.rows.map { r =>
      val block = r(0).toString.toDouble.toLong
      val lo = dlit(r(1).toString.toDouble)
      val hi = dlit(r(2).toString.toDouble)
      val n = r(3).toString.toDouble.toLong
      val bads = r(4).toString.toDouble.toLong
      val p = dlit(r(5).toString.toDouble)
      s"(CAST($block AS BIGINT), CAST($lo AS DOUBLE), CAST($hi AS DOUBLE), " +
        s"CAST($n AS BIGINT), CAST($bads AS BIGINT), CAST($p AS DOUBLE))"
    }.mkString(",\n")
    s"""SELECT * FROM (VALUES
       |$valueRows
       |) AS t(block, score_lo, score_hi, n, bads, p_cal)
       |ORDER BY block""".stripMargin
  }

  /** A record built from one shared-dialect SQL text over `lineitem`:
    * Spark runs it over a temp view of the table (both engines address
    * it by bare name), DuckDB runs it as the oracle.
    */
  private def sqlSpec(name: String, sql: String): QuerySpec =
    QuerySpec(name, (spark, dir) => {
      spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("lineitem")
      spark.sql(sql)
    }, _ => sql)

  val queries: Seq[QuerySpec] = Seq(
    // target derivation: all-integer output
    sqlSpec("q_target_derive",
      s"""$baseCte
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(target) AS BIGINT) AS bads
         |FROM base""".stripMargin),
    // the workhorse: per-distinct-value sufficient stats (binning.py:121-129)
    sqlSpec("q_sufficient_stats",
      s"""$baseCte
         |SELECT extendedprice AS value,
         |       CAST(count(*) AS BIGINT) AS size,
         |       CAST(sum(target) AS BIGINT) AS bads,
         |       CAST(sum(target) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean,
         |       CASE WHEN count(*) > 1
         |            THEN sqrt((CAST(sum(target) AS DOUBLE) * power(1.0 - CAST(sum(target) AS DOUBLE) / count(*), 2)
         |                       + (count(*) - CAST(sum(target) AS DOUBLE)) * power(CAST(sum(target) AS DOUBLE) / count(*), 2))
         |                      / (count(*) - 1.0))
         |            ELSE 0.0 END AS std
         |FROM base GROUP BY extendedprice ORDER BY value""".stripMargin),
    // orientation detection (binning.py:114-119) with a deterministic
    // tiebreak so both engines agree on quartile membership
    sqlSpec("q_orientation",
      s"""$baseCte, m AS (
         |  SELECT 'extendedprice' AS variable, extendedprice AS value, target, l_orderkey, l_linenumber FROM base
         |  UNION ALL
         |  SELECT 'quantity' AS variable, quantity AS value, target, l_orderkey, l_linenumber FROM base
         |  UNION ALL
         |  SELECT 'discount' AS variable, discount AS value, target, l_orderkey, l_linenumber FROM base
         |), r AS (
         |  SELECT variable, target,
         |         row_number() OVER (PARTITION BY variable ORDER BY value, l_orderkey, l_linenumber) - 1 AS rn,
         |         count(*) OVER (PARTITION BY variable) AS n
         |  FROM m)
         |SELECT variable,
         |       CAST(sum(CASE WHEN rn < floor(n / 4.0) THEN target ELSE 0 END) AS BIGINT) AS bottom_bads,
         |       CAST(sum(CASE WHEN rn >= floor(n * 3.0 / 4.0) THEN target ELSE 0 END) AS BIGINT) AS top_bads,
         |       CASE WHEN sum(CASE WHEN rn < floor(n / 4.0) THEN target ELSE 0 END)
         |                 > sum(CASE WHEN rn >= floor(n * 3.0 / 4.0) THEN target ELSE 0 END)
         |            THEN 1 ELSE 0 END AS order_asc
         |FROM r GROUP BY variable ORDER BY variable""".stripMargin),
    // NaN-bin stats (binning.py:233-238) over a derived nullable column
    sqlSpec("q_nan_bin_stats",
      s"""$baseCte
         |SELECT CAST(count(*) AS BIGINT) AS nan_size,
         |       CAST(sum(target) AS BIGINT) AS nan_bads,
         |       CAST(sum(target) AS DOUBLE) / count(*) AS nan_mean
         |FROM base WHERE discount = 0.0""".stripMargin),
    // WoE/IV finalization from fixed golden edges (binning.py:240-251)
    sqlSpec("q_woe_finalize_fixed_edges",
      s"""$baseCte, bucketed AS (
         |  SELECT ${bucketCase("extendedprice")} AS bin_id, target FROM base
         |), agg AS (
         |  SELECT bin_id,
         |         CAST(count(*) AS DOUBLE) AS size,
         |         CAST(sum(target) AS DOUBLE) AS bads,
         |         CAST(count(*) AS DOUBLE) - CAST(sum(target) AS DOUBLE) AS goods
         |  FROM bucketed GROUP BY bin_id
         |), tot AS (
         |  SELECT sum(goods) AS tg, sum(bads) AS tb FROM agg
         |)
         |SELECT a.bin_id, a.size, a.bads, a.goods,
         |       a.bads / a.size AS mean,
         |       a.goods / t.tg AS dist_good,
         |       a.bads / t.tb AS dist_bad,
         |       ln((a.bads / t.tb) / (a.goods / t.tg)) AS woe,
         |       (a.bads / t.tb - a.goods / t.tg) * ln((a.bads / t.tb) / (a.goods / t.tg)) AS iv_components
         |FROM agg a CROSS JOIN tot t ORDER BY bin_id""".stripMargin),
    // apply-as-CASE-WHEN with median imputation (binning.py:296-303)
    sqlSpec("q_apply_fixed_bins",
      s"""$baseCte, med AS (
         |  SELECT median(extendedprice) AS m FROM base
         |)
         |SELECT l_orderkey, l_linenumber,
         |       ${woeCase("coalesce(base.extendedprice, med.m)")} AS extendedprice_bin
         |FROM base CROSS JOIN med
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // exact interpolated median (binning.py:297,302)
    sqlSpec("q_median_impute",
      s"""$baseCte
         |SELECT median(extendedprice) AS med_price,
         |       median(quantity) AS med_qty,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM base""".stripMargin),
    // sentinel split totals (binning.py:35-44): sep subset vs complement
    sqlSpec("q_sep_split_stats",
      s"""$baseCte
         |SELECT CASE WHEN quantity = 1.0 THEN 1 ELSE 0 END AS is_sep,
         |       CAST(count(*) AS BIGINT) AS size,
         |       CAST(sum(target) AS BIGINT) AS bads
         |FROM base GROUP BY CASE WHEN quantity = 1.0 THEN 1 ELSE 0 END
         |ORDER BY is_sep""".stripMargin),
    // the implicit range join of apply (SURVEY §2.4) made explicit:
    // data × bins interval-containment join
    sqlSpec("q_bins_range_join",
      s"""$baseCte, bins AS (
         |  SELECT 0 AS bin_id, CAST('-inf' AS DOUBLE) AS lo, 12334.57 AS hi
         |  UNION ALL SELECT 1, 12334.57, 23566.42
         |  UNION ALL SELECT 2, 23566.42, 28414.81
         |  UNION ALL SELECT 3, 28414.81, 34040.3
         |  UNION ALL SELECT 4, 34040.3, 40169.51
         |  UNION ALL SELECT 5, 40169.51, 50274.58
         |  UNION ALL SELECT 6, 50274.58, 62136.06
         |  UNION ALL SELECT 7, 62136.06, 69337.3
         |  UNION ALL SELECT 8, 69337.3, 76977.81
         |  UNION ALL SELECT 9, 76977.81, 85149.16
         |  UNION ALL SELECT 10, 85149.16, 94254.19
         |  UNION ALL SELECT 11, 94254.19, CAST('inf' AS DOUBLE)
         |)
         |SELECT b.bin_id, CAST(count(*) AS BIGINT) AS size,
         |       CAST(sum(base.target) AS BIGINT) AS bads
         |FROM base JOIN bins b
         |  ON base.extendedprice > b.lo AND base.extendedprice <= b.hi
         |GROUP BY b.bin_id ORDER BY b.bin_id""".stripMargin),
    // iterative fit surface (no SQL equivalent): the oracles are literal
    // tables of reference-captured fits, the fixtures GoldenParitySpec pins
    QuerySpec("q_fit_bins", run = { (s, dir) =>
        val df = lcgFrame(s, dir)
        WoeBinning.fit(df, "target", Seq("extendedprice", "quantity", "discount"),
          WoeFitOptions(nThreshold = Some(300))).binsDf(s)
      },
      oracle = _ => fitOracleSql("sf0.01_extendedprice_n300.json",
        "sf0.01_quantity_n300.json", "sf0.01_discount_n300.json")),
    QuerySpec("q_fit_by_group", run = { (s, dir) =>
        // per-l_returnflag scorecards, one stats pass for all segments
        val df = s.read.parquet(s"$dir/lineitem.parquet")
          .select(lcgColumns :+ col("l_returnflag").as("flag"): _*)
        WoeBinning.fitByGroup(df, "target", Seq("extendedprice", "quantity"),
            "flag", WoeFitOptions(nThreshold = Some(300)))
          .map { case (g, m) => m.binsDf(s).withColumn("segment", lit(g)) }
          .reduce(_.unionByName(_))
      },
      // per-segment fit: reference run per l_returnflag subset (the
      // manual filter-then-fit workflow fitByGroup folds into one pass)
      oracle = _ => fitByGroupOracleSql(
        Seq("A", "N", "R").flatMap(f => Seq(
          f -> s"sf0.01_extendedprice_flag${f}_n300.json",
          f -> s"sf0.01_quantity_flag${f}_n300.json")))),
    QuerySpec("q_fit_default_threshold", run = { (s, dir) =>
        val df = lcgFrame(s, dir)
        WoeBinning.fit(df, "target", Seq("extendedprice")).binsDf(s) // ceil(N/20)
      },
      oracle = _ => fitOracleSql("sf0.01_extendedprice_n3000.json")),
    QuerySpec("q_fit_sentinel", run = { (s, dir) =>
        val df = lcgFrame(s, dir)
        WoeBinning.fit(df, "target", Seq("quantity"),
          WoeFitOptions(nThreshold = Some(60), sepValue = Some(1.0))).binsDf(s)
      },
      oracle = _ => fitOracleSql("sf0.01_quantity_sep1_n60.json")),
    QuerySpec("q_fit_merge_threshold", run = { (s, dir) =>
        val df = lcgFrame(s, dir)
        WoeBinning.fit(df, "target", Seq("extendedprice"),
          WoeFitOptions(nThreshold = Some(300), mergeThreshold = Some(0.2))).binsDf(s)
      },
      oracle = _ => fitOracleSql("sf0.01_extendedprice_n300_mt0.2.json")),
    QuerySpec("q_fit_prebinned", run = { (s, dir) => // the 100 TB scale knob
        val df = lcgFrame(s, dir)
        WoeBinning.fit(df, "target", Seq("extendedprice"),
          WoeFitOptions(nThreshold = Some(300), maxDistinct = Some(1000))).binsDf(s)
      },
      // REGRESSION PIN, not reference parity: maxDistinct pre-binning is
      // a beyond-reference approximation (the reference has no such
      // knob), so this fixture is the engine's own output, captured once
      // after verifying bit-identical results across separate JVM runs
      // (approxQuantile is deterministic for a fixed file layout).  The
      // oracle pins that determinism + any future kernel regression.
      oracle = _ => fitOracleSql("sf0.01_extendedprice_n300_prebin1000.json")),
    QuerySpec("q_fit_exact", run = { (s, dir) =>
        // the EXACT twin of q_fit_prebinned (same column, same
        // nThreshold, no maxDistinct cap) so the scale knob's
        // cost/fidelity trade-off is a tracked pair of bench medians,
        // not a one-off Stress run
        val df = lcgFrame(s, dir)
        WoeBinning.fit(df, "target", Seq("extendedprice"),
          WoeFitOptions(nThreshold = Some(300))).binsDf(s)
      },
      // single-column exact fit == the extendedprice fixture of q_fit_bins
      // (variables fit independently, so the 1-col and 3-col fits agree)
      oracle = _ => fitOracleSql("sf0.01_extendedprice_n300.json")),
    QuerySpec("q_apply_bins", run = { (s, dir) =>
        val df = lcgFrame(s, dir)
        val m = WoeBinning.fit(df, "target",
          Seq("extendedprice", "quantity", "discount"),
          WoeFitOptions(nThreshold = Some(300)))
        // passthrough so the oracle checks the carried base columns
        // too; only extendedprice survives the default IV threshold
        // (the LCG target is a function of extendedprice alone, so
        // quantity/discount fit to near-zero total IV)
        m.transform(df, passthrough = true)
      },
      // full-data apply: every row of the 60k-row verify SF bucketed by
      // the fixture-compiled CASE.  Only extendedprice survives the
      // transform's default IV threshold (quantity/discount IV ≈ 0
      // against the extendedprice-driven LCG target), so one bin column.
      oracle = _ =>
        s"""$baseCte
           |SELECT CAST(target AS BIGINT) AS target,
           |       extendedprice, quantity, discount,
           |       ${applyWoeCase("sf0.01_extendedprice_n300.json", "extendedprice")} AS extendedprice_bin
           |FROM base""".stripMargin),
    // ---- scorecard evaluation (EvalOps) over the golden WoE score
    QuerySpec("q_eval_auc", run = { (s, dir) =>
        EvalOps.aucReport(scoredFrame(s, dir), "score", "target")
      },
      // exact tie-corrected AUC replay: same grouped Mann-Whitney rank
      // sum (EvalOps.aucReport) — 2×ranksum stays integer, one division
      oracle = _ =>
        s"""$evalGroupedCte, r AS (
           |  SELECT score, n, bads,
           |         coalesce(sum(n) OVER (ORDER BY score
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
           |  FROM g
           |), t AS (
           |  SELECT CAST(sum(n) AS BIGINT) AS n,
           |         CAST(sum(bads) AS BIGINT) AS n_pos,
           |         CAST(sum(n) - sum(bads) AS BIGINT) AS n_neg,
           |         sum(CAST(bads AS DECIMAL(38,0)) * (2*below + n + 1)) AS ranksum2
           |  FROM r
           |)
           |SELECT n, n_pos, n_neg, auc, 2.0 * auc - 1.0 AS gini FROM (
           |  SELECT n, n_pos, n_neg,
           |         CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
           |              ELSE CAST(ranksum2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1) AS DOUBLE)
           |                   / CAST(2 * CAST(n_neg AS DECIMAL(38,0)) * n_pos AS DOUBLE) END AS auc
           |  FROM t)""".stripMargin),
    QuerySpec("q_eval_ks", run = { (s, dir) =>
        EvalOps.ksReport(scoredFrame(s, dir), "score", "target")
      },
      // KS replay: same descending cumulative-share scan, same
      // (diff desc, score desc) argmax tie-break
      oracle = _ =>
        s"""$evalGroupedCte, c AS (
           |  SELECT score,
           |         sum(bads) OVER (ORDER BY score DESC
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bads,
           |         sum(n - bads) OVER (ORDER BY score DESC
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_goods,
           |         sum(bads) OVER () AS tot_bads,
           |         sum(n - bads) OVER () AS tot_goods
           |  FROM g
           |)
           |SELECT abs(CAST(cum_bads AS DOUBLE) / CAST(tot_bads AS DOUBLE)
           |           - CAST(cum_goods AS DOUBLE) / CAST(tot_goods AS DOUBLE)) AS ks,
           |       CAST(score AS DOUBLE) AS ks_score,
           |       CAST(tot_bads AS BIGINT) AS n_pos,
           |       CAST(tot_goods AS BIGINT) AS n_neg
           |FROM c ORDER BY ks DESC, score DESC LIMIT 1""".stripMargin),
    QuerySpec("q_gains_table", run = { (s, dir) =>
        EvalOps.gainsTable(scoredFrame(s, dir), "score", "target")
      },
      // gains/lift replay: same riskiest-first banding, every ratio a
      // division of exact integers
      oracle = _ =>
        s"""$evalGroupedCte, t AS (
           |  SELECT score, n, bads,
           |         row_number() OVER (ORDER BY score DESC) AS band,
           |         sum(n) OVER () AS tot_n,
           |         sum(bads) OVER () AS tot_bads,
           |         sum(n) OVER (ORDER BY score DESC
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
           |         sum(bads) OVER (ORDER BY score DESC
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bads
           |  FROM g
           |)
           |SELECT CAST(band AS INT) AS band,
           |       CAST(score AS DOUBLE) AS score,
           |       CAST(n AS BIGINT) AS n,
           |       CAST(bads AS BIGINT) AS bads,
           |       CAST(bads AS DOUBLE) / CAST(n AS DOUBLE) AS bad_rate,
           |       CAST(cum_n AS BIGINT) AS cum_n,
           |       CAST(cum_bads AS BIGINT) AS cum_bads,
           |       CAST(cum_n AS DOUBLE) / CAST(tot_n AS DOUBLE) AS pop_share,
           |       CAST(cum_bads AS DOUBLE) / CAST(tot_bads AS DOUBLE) AS capture_rate,
           |       (CAST(cum_bads AS DOUBLE) / CAST(tot_bads AS DOUBLE))
           |         / (CAST(cum_n AS DOUBLE) / CAST(tot_n AS DOUBLE)) AS lift
           |FROM t ORDER BY band""".stripMargin),
    QuerySpec("q_iv_ranking", run = { (s, dir) =>
        EvalOps.ivRanking(lcgFrame(s, dir), "target", ivRankingBins)
      },
      // IV ranking replay: same fixed bins, same zero-cell guard, and
      // the same BIN-ORDERED float fold (ordered aggregate) as the
      // Spark side's sort_array+aggregate — not an order-free sum()
      oracle = _ => {
        val branches = ivRankingBins.map { case (v, es) =>
          s"SELECT '$v' AS variable, ${bucketCaseFor(v, es)} AS bin, target FROM base"
        }.mkString("\n  UNION ALL ")
        s"""$baseCte, m AS (
           |  $branches
           |), pb AS (
           |  SELECT variable, bin, count(*) AS n, sum(target) AS bads
           |  FROM m GROUP BY variable, bin
           |), sh AS (
           |  SELECT variable, bin, bads, n - bads AS goods,
           |         sum(bads) OVER (PARTITION BY variable) AS tb,
           |         sum(n - bads) OVER (PARTITION BY variable) AS tg
           |  FROM pb
           |), terms AS (
           |  SELECT variable, bin,
           |         CASE WHEN bads = 0 OR goods = 0 THEN 0.0
           |              ELSE (CAST(bads AS DOUBLE) / CAST(tb AS DOUBLE)
           |                    - CAST(goods AS DOUBLE) / CAST(tg AS DOUBLE))
           |                   * ln((CAST(bads AS DOUBLE) / CAST(tb AS DOUBLE))
           |                        / (CAST(goods AS DOUBLE) / CAST(tg AS DOUBLE))) END AS term
           |  FROM sh
           |), iv AS (
           |  SELECT variable, sum(term ORDER BY bin) AS iv FROM terms GROUP BY variable
           |)
           |SELECT variable, iv,
           |       CAST(row_number() OVER (ORDER BY iv DESC, variable) AS BIGINT) AS rank
           |FROM iv ORDER BY rank""".stripMargin
      }),
    QuerySpec("q_eval_auc_by_flag", run = { (s, dir) =>
        val df = s.read.parquet(s"$dir/lineitem.parquet")
          .select(lcgColumns :+ col("l_returnflag").as("flag"): _*)
          .withColumn("score", goldenWoeCol(col("extendedprice")))
        EvalOps.aucBySegment(df, "score", "target", Seq("flag"))
      },
      // per-segment AUC replay: same grouped rank sum with the rank
      // window partitioned by the segment key
      oracle = _ =>
        s"""${baseCteWith(" l_returnflag AS flag,")}, s AS (
           |  SELECT flag, ${woeCase("extendedprice")} AS score, target FROM base
           |), g AS (
           |  SELECT flag, score, count(*) AS n, sum(target) AS bads
           |  FROM s GROUP BY flag, score
           |), r AS (
           |  SELECT flag, score, n, bads,
           |         coalesce(sum(n) OVER (PARTITION BY flag ORDER BY score
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
           |  FROM g
           |), t AS (
           |  SELECT flag,
           |         CAST(sum(n) AS BIGINT) AS n,
           |         CAST(sum(bads) AS BIGINT) AS n_pos,
           |         CAST(sum(n) - sum(bads) AS BIGINT) AS n_neg,
           |         sum(CAST(bads AS DECIMAL(38,0)) * (2*below + n + 1)) AS ranksum2
           |  FROM r GROUP BY flag
           |)
           |SELECT flag, n, n_pos, n_neg, auc, 2.0 * auc - 1.0 AS gini FROM (
           |  SELECT flag, n, n_pos, n_neg,
           |         CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
           |              ELSE CAST(ranksum2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1) AS DOUBLE)
           |                   / CAST(2 * CAST(n_neg AS DECIMAL(38,0)) * n_pos AS DOUBLE) END AS auc
           |  FROM t) ORDER BY flag""".stripMargin),
    QuerySpec("q_isotonic_calibrate", run = { (s, dir) =>
        // oracle is the sf0.01 golden-literal pin (integer-exact PAV)
        EvalOps.isotonicCalibrate(lcgFrame(s, dir), "quantity", "target")
      },
      oracle = _ => isotonicOracleSql("sf0.01_isotonic_quantity.json")),
    QuerySpec("q_isotonic_per_score", run = { (s, dir) =>
        // per-score PAV fit over RAW quantity (whose bad rate is NOT
        // monotone, so pooling genuinely happens — same input as the
        // calibrate fixture): the oracle is a TRUE independent replay,
        // the minimax characterization max_{j<=i} min_{k>=i} mean(j..k)
        // over the same integer sums
        EvalOps.isotonicFitPerScore(lcgFrame(s, dir), "quantity", "target")
          .orderBy("score")
      },
      // per-score isotonic replay: the MINIMAX characterization of the
      // (unique) L2 isotonic regression — p_cal(i) = max_{j<=i} min_{k>=i}
      // mean(j..k) — computed from the same exact integer prefix sums the
      // engine's PAV pools, so every candidate mean is the same IEEE
      // double in both engines and the max/min selections agree bit-wise
      oracle = _ =>
        s"""$baseCte, s AS (
           |  SELECT quantity AS score, target FROM base
           |), g AS (
           |  SELECT score, count(*) AS n, sum(target) AS bads FROM s GROUP BY score
           |),
           |idx AS (SELECT score, CAST(n AS BIGINT) AS n,
           |               CAST(bads AS BIGINT) AS bads,
           |               row_number() OVER (ORDER BY score) AS i FROM g),
           |cum AS (SELECT i, score, n, bads,
           |               sum(n) OVER (ORDER BY i) AS cn,
           |               sum(bads) OVER (ORDER BY i) AS cb FROM idx),
           |spans AS (
           |  SELECT j.i AS j, k.i AS k,
           |         CAST(k.cb - j.cb + j.bads AS DOUBLE)
           |           / CAST(k.cn - j.cn + j.n AS DOUBLE) AS m
           |  FROM cum j JOIN cum k ON k.i >= j.i),
           |inner_min AS (
           |  SELECT s.j, x.i, min(s.m) AS v
           |  FROM spans s JOIN idx x ON s.k >= x.i AND s.j <= x.i
           |  GROUP BY s.j, x.i),
           |fitted AS (SELECT i, max(v) AS p_cal FROM inner_min GROUP BY i)
           |SELECT x.score, x.n, x.bads, f.p_cal
           |FROM idx x JOIN fitted f ON f.i = x.i ORDER BY x.score""".stripMargin),
    QuerySpec("q_isotonic_by_flag", run = { (s, dir) =>
        // calibration-within-segment (the aucBySegment companion):
        // each l_returnflag gets its own monotone quantity → rate map;
        // oracle = the same minimax replay PARTITIONED by the segment
        val df = s.read.parquet(s"$dir/lineitem.parquet")
          .select(lcgColumns :+ col("l_returnflag").as("flag"): _*)
        EvalOps.isotonicFitPerScoreBySegment(
            df, Seq("flag"), "quantity", "target")
          .orderBy("flag", "score")
      },
      // per-segment isotonic replay: the q_isotonic_per_score minimax,
      // every window/join additionally keyed by the segment
      oracle = _ =>
        s"""${baseCteWith(" l_returnflag AS flag,")}, s AS (
           |  SELECT flag, quantity AS score, target FROM base
           |), g AS (
           |  SELECT flag, score, count(*) AS n, sum(target) AS bads
           |  FROM s GROUP BY 1, 2
           |),
           |idx AS (SELECT flag, score, CAST(n AS BIGINT) AS n,
           |               CAST(bads AS BIGINT) AS bads,
           |               row_number() OVER (PARTITION BY flag ORDER BY score) AS i
           |        FROM g),
           |cum AS (SELECT flag, i, score, n, bads,
           |               sum(n) OVER (PARTITION BY flag ORDER BY i) AS cn,
           |               sum(bads) OVER (PARTITION BY flag ORDER BY i) AS cb
           |        FROM idx),
           |spans AS (
           |  SELECT j.flag, j.i AS j, k.i AS k,
           |         CAST(k.cb - j.cb + j.bads AS DOUBLE)
           |           / CAST(k.cn - j.cn + j.n AS DOUBLE) AS m
           |  FROM cum j JOIN cum k ON k.flag = j.flag AND k.i >= j.i),
           |inner_min AS (
           |  SELECT s.flag, s.j, x.i, min(s.m) AS v
           |  FROM spans s JOIN idx x
           |    ON x.flag = s.flag AND s.k >= x.i AND s.j <= x.i
           |  GROUP BY s.flag, s.j, x.i),
           |fitted AS (SELECT flag, i, max(v) AS p_cal
           |           FROM inner_min GROUP BY flag, i)
           |SELECT x.flag, x.score, x.n, x.bads, f.p_cal
           |FROM idx x JOIN fitted f ON f.flag = x.flag AND f.i = x.i
           |ORDER BY x.flag, x.score""".stripMargin),
    QuerySpec("q_psi_drift", run = { (s, dir) =>
        // post-deployment drift gate: PSI between the even-orderkey
        // baseline and odd-orderkey current population over the golden
        // fixed bin edges
        val li = s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey"),
            col("l_extendedprice").cast("double").as("extendedprice"))
        graft.ops.DriftOps.psi(
            li.filter(col("l_orderkey") % 2 === 0),
            li.filter(col("l_orderkey") % 2 =!= 0),
            "extendedprice", goldenEdges)
          .orderBy("bin_id")
      },
      // PSI drift replay: golden-edge bucketing of the even/odd
      // populations, exact-integer counts, epsilon-floored shares, the
      // (p-q)*ln(p/q) chain (ln ulp class)
      oracle = _ =>
        s"""WITH bb AS (
           |  SELECT ${bucketCase("CAST(l_extendedprice AS DOUBLE)")} AS bin_id
           |  FROM lineitem WHERE l_orderkey % 2 = 0
           |), cc AS (
           |  SELECT ${bucketCase("CAST(l_extendedprice AS DOUBLE)")} AS bin_id
           |  FROM lineitem WHERE l_orderkey % 2 <> 0
           |), nb AS (SELECT bin_id, CAST(count(*) AS BIGINT) AS n_base FROM bb GROUP BY bin_id),
           |nc AS (SELECT bin_id, CAST(count(*) AS BIGINT) AS n_curr FROM cc GROUP BY bin_id),
           |j AS (
           |  SELECT coalesce(nb.bin_id, nc.bin_id) AS bin_id,
           |         coalesce(nb.n_base, 0) AS n_base,
           |         coalesce(nc.n_curr, 0) AS n_curr
           |  FROM nb FULL OUTER JOIN nc ON nb.bin_id = nc.bin_id
           |), t AS (SELECT CAST(sum(n_base) AS BIGINT) AS tb,
           |                CAST(sum(n_curr) AS BIGINT) AS tc FROM j)
           |SELECT j.bin_id, j.n_base, j.n_curr,
           |       greatest(CAST(j.n_base AS DOUBLE) / t.tb, 1.0E-6) AS p_base,
           |       greatest(CAST(j.n_curr AS DOUBLE) / t.tc, 1.0E-6) AS p_curr,
           |       (greatest(CAST(j.n_base AS DOUBLE) / t.tb, 1.0E-6)
           |        - greatest(CAST(j.n_curr AS DOUBLE) / t.tc, 1.0E-6))
           |       * ln(greatest(CAST(j.n_base AS DOUBLE) / t.tb, 1.0E-6)
           |            / greatest(CAST(j.n_curr AS DOUBLE) / t.tc, 1.0E-6)) AS psi_term
           |FROM j CROSS JOIN t ORDER BY bin_id""".stripMargin),
    QuerySpec("q_fit_streaming", run = { (s, dir) => // rows-only: incremental fit
        // == batch fit after one pass (StreamingWoeSpec pins equality)
        val staged = StreamingOps.stageAsDir(dir, "lineitem")
        val schema = s.read.parquet(s"$dir/lineitem.parquet").schema
        val stream = s.readStream.schema(schema).parquet(staged)
          .select(lcgColumns: _*)
        @volatile var last: Option[graft.spark.WoeBinningModel] = None
        val q = graft.ops.StreamingWoe.fitStream(stream, "target",
          Seq("extendedprice"), graft.core.WoeConfig(nThreshold = 300)) {
          (_, m) => last = Some(m)
        }
        try q.processAllAvailable()
        finally q.stop()
        last.getOrElse(sys.error(s"q_fit_streaming: no micro-batch fired for $dir"))
          .binsDf(s)
      },
      oracle = _ => fitOracleSql("sf0.01_extendedprice_n300.json")))
}
