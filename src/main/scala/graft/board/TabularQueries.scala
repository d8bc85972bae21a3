package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{AsofOps, QuantileOps, SketchOps}
import SparkEntry._

/** Tabular profiling and analytics rows over the TPC-H tables:
  * moments, correlation, quality checks, quantiles, cubes and top-k.
  */
object TabularQueries {

  val queries: Seq[QuerySpec] = Seq(
    QuerySpec("q_k_anonymize", run = { (s, dir) =>
        graft.ops.ProfileOps.kAnonymize(
            s.read.parquet(s"$dir/customer.parquet"),
            Seq("c_mktsegment", "c_nationkey"), k = 8)
          .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
          .agg(count("*").cast("long").as("n"))
          .orderBy("seg", "nat")
      },
      // k-anonymity replay: QI groups under k=8 collapse into the '*'
      // residual; the released group-size table is the gate (row-level
      // release is the same frame pre-aggregation)
      oracle = _ =>
        """WITH g AS (SELECT c_mktsegment, c_nationkey, count(*) AS n
          |           FROM customer GROUP BY 1, 2),
          |m AS (SELECT CASE WHEN g.n >= 8 THEN c.c_mktsegment ELSE '*' END AS seg,
          |             CASE WHEN g.n >= 8 THEN CAST(c.c_nationkey AS VARCHAR)
          |                  ELSE '*' END AS nat
          |      FROM customer c JOIN g USING (c_mktsegment, c_nationkey))
          |SELECT seg, nat, CAST(count(*) AS BIGINT) AS n
          |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("q_pseudonymize", run = { (s, dir) =>
        // keyed pseudonymization: deterministic salted surrogates keep
        // joins working across tables while severing identity; the
        // self-join on the tokenized nationkey proves referential
        // integrity survives tokenization (row count = exact join)
        val p = graft.ops.ProfileOps.pseudonymize(
          s.read.parquet(s"$dir/customer.parquet")
            .select("c_custkey", "c_name", "c_mktsegment", "c_nationkey"),
          Seq("c_name", "c_mktsegment", "c_nationkey"), salt = "graft-r11")
        val n = graft.ops.ProfileOps.pseudonymize(
          s.read.parquet(s"$dir/nation.parquet")
            .select(col("n_nationkey"), col("n_name")),
          Seq("n_nationkey"), salt = "graft-r11")
        p.join(n, col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
            col("n_name"))
          .orderBy("c_custkey")
      },
      // pseudonymization replay: every surrogate token recomputed —
      // md5('salt:' || value) — and the tokenized-key join reproduced
      oracle = _ =>
        """WITH p AS (
          |  SELECT c.c_custkey,
          |         md5('graft-r11:' || CAST(c.c_name AS VARCHAR)) AS tok_name,
          |         md5('graft-r11:' || CAST(c.c_mktsegment AS VARCHAR)) AS tok_seg,
          |         md5('graft-r11:' || CAST(c.c_nationkey AS VARCHAR)) AS ck
          |  FROM customer c),
          |nn AS (SELECT md5('graft-r11:' || CAST(n_nationkey AS VARCHAR)) AS nk,
          |              n_name
          |       FROM nation)
          |SELECT c_custkey, p.tok_name AS c_name, p.tok_seg AS c_mktsegment,
          |       nn.n_name
          |FROM p JOIN nn ON p.ck = nn.nk ORDER BY c_custkey""".stripMargin),
    QuerySpec("q_hdr_quantiles", run = { (s, dir) =>
        // mergeable quantile telemetry: per-source doc-length p50/p90/
        // p99 from HDR registers; the ALL scope is hdrMerge of the
        // even/odd doc_id shards — count-sum merge law end-to-end
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val perSrc = SketchOps.hdrRegisters(
          docs.select(col("source").as("scope"), col("n_chars")),
          Seq("scope"), "n_chars", b = 6)
        def shard(par: Int) = SketchOps.hdrRegisters(
          docs.where(pmod(col("doc_id"), lit(2)) === par)
            .select(lit("ALL").as("scope"), col("n_chars")),
          Seq("scope"), "n_chars", b = 6)
        val all = SketchOps.hdrMerge(shard(0), shard(1), Seq("scope"))
        SketchOps.hdrQuantiles(perSrc.unionByName(all), Seq("scope"),
            b = 6, qs = Seq(0.5, 0.9, 0.99))
          .orderBy("scope", "q")
      },
      // HDR quantile sketch replay: the same pure-integer bucket index
      // (top b+1 significant bits), register counts, cumulative walk,
      // and bucket lower bound — the 'ALL' scope is the merged shard
      // pair on the Spark side, direct here (count-sum merge law)
      oracle = _ =>
        """WITH v AS (
          |  SELECT source AS scope, CAST(n_chars AS BIGINT) AS v
          |  FROM documents WHERE n_chars IS NOT NULL
          |  UNION ALL
          |  SELECT 'ALL' AS scope, CAST(n_chars AS BIGINT) AS v
          |  FROM documents WHERE n_chars IS NOT NULL
          |), ix AS (
          |  SELECT scope, CASE WHEN v < 64 THEN v
          |    ELSE (length(printf('%b', v)) - 6) * 64
          |         + (v >> (length(printf('%b', v)) - 7)) - 64 END AS idx
          |  FROM v
          |), regs AS (
          |  SELECT scope, idx, count(*) AS cnt FROM ix GROUP BY 1, 2
          |), cum AS (
          |  SELECT scope, idx, cnt,
          |         sum(cnt) OVER (PARTITION BY scope ORDER BY idx) AS cum,
          |         sum(cnt) OVER (PARTITION BY scope) AS n
          |  FROM regs
          |), sel AS (
          |  SELECT c.scope, qq.q, c.idx, c.n
          |  FROM cum c CROSS JOIN (VALUES (CAST(0.5 AS DOUBLE)),
          |    (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))) qq(q)
          |  WHERE c.cum >= ceil(qq.q * c.n) AND c.cum - c.cnt < ceil(qq.q * c.n)
          |)
          |SELECT scope, q,
          |       CAST(CASE WHEN idx < 64 THEN idx
          |            ELSE (64 + idx % 64) << (idx // 64 - 1) END AS BIGINT)
          |         AS est_value,
          |       CAST(n AS BIGINT) AS n
          |FROM sel ORDER BY scope, q""".stripMargin),
    QuerySpec("q_profile_stats", run = { (s, dir) =>
        graft.ops.ProfileOps.profile(
            s.read.parquet(s"$dir/documents.parquet"),
            Seq("doc_id", "lang", "source", "n_chars"))
          .orderBy("col_name")
      },
      // one-pass profile replay (ProfileOps.profile): per-column UNION
      // branches — DuckDB re-scans per branch where Spark uses a single
      // Expand pass, but the rows are identical
      oracle = _ => Seq("doc_id", "lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS col_name,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_val,
           |       CAST(max($c) AS VARCHAR) AS max_val
           |FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),
    QuerySpec("q_topk_per_key", run = { (s, dir) =>
        // the whole-operator tier: custom LogicalPlan -> injected
        // Strategy -> partial/final bounded-heap execs; requires the
        // GraftExtensions session (Verify/Bench/tests all carry it)
        graft.ops.TopKOps.topKPerKey(
            s.read.parquet(s"$dir/orders.parquet")
              .select(col("o_orderkey").cast("long").as("o_orderkey"),
                col("o_orderpriority").as("grp"),
                floor(col("o_totalprice")).cast("long").as("v")),
            keys = Seq("grp"),
            order = Seq("v" -> false, "o_orderkey" -> true), k = 5)
          .select(col("grp"), col("o_orderkey"), col("v"))
          .orderBy(col("grp"), col("v").desc, col("o_orderkey"))
      },
      // as-of join replay: IDENTICAL union-tag + carry-forward window
      // formulation (AsofOps.asofJoin), right-before-left at equal time
      // top-k-per-key replay: the row_number spelling — the custom
      // operator must keep EXACTLY the rows the window form ranks
      oracle = _ =>
        """WITH v AS (SELECT o_orderkey, o_orderpriority AS grp,
          |    CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders),
          |r AS (SELECT *, row_number() OVER (PARTITION BY grp
          |        ORDER BY v DESC, o_orderkey) AS rn FROM v)
          |SELECT grp, o_orderkey, v FROM r WHERE rn <= 5
          |ORDER BY grp, v DESC, o_orderkey""".stripMargin),
    QuerySpec("q_grouped_median", run = { (s, dir) =>
        QuantileOps.groupedMedian(
            s.read.parquet(s"$dir/orders.parquet")
              .select(col("o_orderpriority").as("grp"),
                floor(col("o_totalprice")).cast("long").as("v")),
            "grp", "v")
          .orderBy("grp")
      },
      // grouped-median replay: quantile_disc/_cont per group — the
      // engine computes the same ranks by window, the oracle natively
      oracle = _ =>
        """WITH v AS (SELECT o_orderpriority AS grp,
          |    CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders)
          |SELECT grp, CAST(count(*) AS BIGINT) AS n,
          |       CAST(quantile_disc(v, 0.5) AS BIGINT) AS med_disc,
          |       CAST(quantile_cont(CAST(v AS DOUBLE), 0.5) AS DOUBLE) AS med_cont
          |FROM v GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q_percent_rank", run = { (s, dir) =>
        // ANSI percent_rank/cume_dist — rank-ratio windows whose tie
        // semantics make them deterministic functions of the value
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("grp")).orderBy(col("v"))
        s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_orderpriority").as("grp"),
            floor(col("o_totalprice")).cast("long").as("v"))
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .orderBy("o_orderkey")
      },
      // percent_rank/cume_dist replay: ANSI tie semantics, exact ratios
      oracle = _ =>
        """WITH v AS (SELECT o_orderkey, o_orderpriority AS grp,
          |    CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders)
          |SELECT o_orderkey, grp, v,
          |       percent_rank() OVER (PARTITION BY grp ORDER BY v) AS pr,
          |       cume_dist() OVER (PARTITION BY grp ORDER BY v) AS cd
          |FROM v ORDER BY o_orderkey""".stripMargin),
    QuerySpec("q_histogram", run = { (s, dir) =>
        // equi-width histogram: one clamped integer projection + one
        // hash agg — the profiling primitive at any scale
        s.read.parquet(s"$dir/orders.parquet")
          .select(floor(col("o_totalprice")).cast("long").as("v"))
          .withColumn("bucket",
            least(greatest(expr("v div 50000"), lit(0L)), lit(11L)))
          .groupBy("bucket")
          .agg(count(lit(1)).cast("long").as("n"),
            min("v").cast("long").as("min_v"),
            max("v").cast("long").as("max_v"))
          .orderBy("bucket")
      },
      // histogram replay: the same clamped equi-width bucket arithmetic
      oracle = _ =>
        """WITH v AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders),
          |b AS (SELECT v, least(greatest(v // 50000, 0), 11) AS bucket FROM v)
          |SELECT CAST(bucket AS BIGINT) AS bucket,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(min(v) AS BIGINT) AS min_v, CAST(max(v) AS BIGINT) AS max_v
          |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q_dq_checks", run = { (s, dir) =>
        import graft.ops.ProfileOps._
        val li = s.read.parquet(s"$dir/lineitem.parquet")
        val orders = s.read.parquet(s"$dir/orders.parquet")
        dataQualityReport(li, Seq(
            Complete("l_orderkey"),
            InRange("l_discount", 0.0, 0.08, minRatio = 0.8),
            Unique(Seq("l_orderkey", "l_linenumber")),
            Unique(Seq("l_orderkey"), minRatio = 0.2),
            RefIntegrity("l_orderkey", orders, "o_orderkey")))
          .withColumnRenamed("check", "check_name")
          .orderBy("check_name")
      },
      // data-quality replay: each metric a ratio of exact counts
      oracle = _ =>
        """WITH r AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |             CAST(count(l_orderkey) AS BIGINT) AS c1,
          |             CAST(sum(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.08
          |                           THEN 1 ELSE 0 END) AS BIGINT) AS c2
          |           FROM lineitem),
          |u1 AS (SELECT CAST(count(*) AS BIGINT) AS d
          |       FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)),
          |u2 AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS d
          |       FROM lineitem),
          |fk AS (SELECT CAST(count(*) AS BIGINT) AS miss
          |       FROM lineitem l
          |       LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          |         ON l.l_orderkey = o.o_orderkey
          |       WHERE o.o_orderkey IS NULL),
          |v AS (
          |  SELECT 'complete:l_orderkey' AS check_name,
          |         (SELECT CAST(c1 AS DOUBLE) / n FROM r) AS metric,
          |         CAST(1.0 AS DOUBLE) AS threshold
          |  UNION ALL SELECT 'in_range:l_discount',
          |         (SELECT CAST(c2 AS DOUBLE) / n FROM r), 0.8
          |  UNION ALL SELECT 'unique:l_orderkey+l_linenumber',
          |         (SELECT CAST(u1.d AS DOUBLE) / r.n FROM u1, r), 1.0
          |  UNION ALL SELECT 'unique:l_orderkey',
          |         (SELECT CAST(u2.d AS DOUBLE) / r.n FROM u2, r), 0.2
          |  UNION ALL SELECT 'ref:l_orderkey',
          |         (SELECT CAST(r.n - fk.miss AS DOUBLE) / r.n FROM r, fk), 1.0)
          |SELECT check_name, metric, threshold, metric >= threshold AS passed
          |FROM v ORDER BY check_name""".stripMargin),
    QuerySpec("q_set_ops", run = { (s, dir) =>
        // the native set operators (EXCEPT/INTERSECT/UNION DISTINCT)
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val a = docs.where(col("lang") === "en").select("doc_id")
        val b = docs.where(col("source").isin(
          "src1", "src2", "src3", "src4", "src5")).select("doc_id")
        import s.implicits._
        Seq(
          ("a_except_b", a.except(b).count()),
          ("a_intersect_b", a.intersect(b).count()),
          ("a_union_b", a.union(b).distinct().count()),
          ("b_except_a", b.except(a).count()))
          .toDF("op", "n").orderBy("op")
      },
      // set-operation replay: INTERSECT / EXCEPT / UNION distinct counts
      oracle = _ =>
        """WITH a AS (SELECT doc_id FROM documents WHERE lang = 'en'),
          |b AS (SELECT doc_id FROM documents
          |      WHERE source IN ('src1', 'src2', 'src3', 'src4', 'src5'))
          |SELECT 'a_except_b' AS op,
          |       CAST((SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
          |            AS BIGINT) AS n
          |UNION ALL SELECT 'a_intersect_b',
          |       CAST((SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
          |            AS BIGINT)
          |UNION ALL SELECT 'a_union_b',
          |       CAST((SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
          |            AS BIGINT)
          |UNION ALL SELECT 'b_except_a',
          |       CAST((SELECT count(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM a))
          |            AS BIGINT)
          |ORDER BY op""".stripMargin),
    QuerySpec("q_moments", run = { (s, dir) =>
        graft.ops.ProfileOps.moments(
          s.read.parquet(s"$dir/orders.parquet")
            .select(floor(col("o_totalprice")).cast("long").as("units")),
          "units")
      },
      // moments replay: HUGEINT power sums, the identical float chains
      // (skew uses m2*sqrt(m2), never libm pow)
      oracle = _ =>
        """WITH v AS (SELECT CAST(floor(o_totalprice) AS HUGEINT) AS v FROM orders),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS s1,
          |        sum(v * v) AS s2, sum(v * v * v) AS s3,
          |        sum(v * v * v * v) AS s4 FROM v),
          |x AS (SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
          |        CAST(s2 AS DOUBLE) / n AS r2, CAST(s3 AS DOUBLE) / n AS r3,
          |        CAST(s4 AS DOUBLE) / n AS r4 FROM m),
          |y AS (SELECT n, mean, r2 - mean * mean AS m2,
          |        r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
          |        r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
          |          - 3.0 * mean * mean * mean * mean AS m4 FROM x)
          |SELECT n, mean, m2, m3 / (m2 * sqrt(m2)) AS skewness,
          |       m4 / (m2 * m2) - 3.0 AS kurtosis_excess FROM y""".stripMargin),
    QuerySpec("q_correlation", run = { (s, dir) =>
        graft.ops.ProfileOps.correlation(
          s.read.parquet(s"$dir/lineitem.parquet")
            .select(floor(col("l_quantity")).cast("long").as("x"),
              floor(col("l_extendedprice")).cast("long").as("y")),
          "x", "y")
      },
      // correlation replay: five exact sums, one float chain for r
      oracle = _ =>
        """WITH v AS (SELECT CAST(floor(l_quantity) AS HUGEINT) AS x,
          |             CAST(floor(l_extendedprice) AS HUGEINT) AS y FROM lineitem),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
          |        sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM v)
          |SELECT n,
          |       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          |              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
          |FROM m""".stripMargin),
    QuerySpec("q_chi2_cells", run = { (s, dir) =>
        graft.ops.ProfileOps.chiSquareCells(
            s.read.parquet(s"$dir/customer.parquet")
              .select(col("c_mktsegment"),
                col("c_nationkey").cast("long").as("nat")),
            "c_mktsegment", "nat")
          .select(col("a"), col("b"), col("obs"), col("expected"),
            col("chi2_term"))
          .orderBy("a", "b")
      },
      // chi-square replay: per-cell observed/expected/term — no float
      // sum crosses the engine boundary
      oracle = _ =>
        """WITH c AS (SELECT c_mktsegment AS a, CAST(c_nationkey AS BIGINT) AS b,
          |             CAST(count(*) AS BIGINT) AS obs FROM customer GROUP BY 1, 2),
          |at AS (SELECT a, CAST(sum(obs) AS BIGINT) AS na FROM c GROUP BY 1),
          |bt AS (SELECT b, CAST(sum(obs) AS BIGINT) AS nb FROM c GROUP BY 1),
          |t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM c)
          |SELECT c.a AS a, c.b AS b, obs,
          |       CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / n AS expected,
          |       (CAST(obs AS DOUBLE) - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / n)
          |         * (CAST(obs AS DOUBLE) - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / n)
          |         / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / n) AS chi2_term
          |FROM c JOIN at USING (a) JOIN bt USING (b) CROSS JOIN t
          |ORDER BY a, b""".stripMargin),
    QuerySpec("q_standardize", run = { (s, dir) =>
        graft.ops.ProfileOps.standardize(
            s.read.parquet(s"$dir/orders.parquet")
              .select(col("o_orderkey"),
                // whole units, not cents: sum(v^2) must stay in Long
                floor(col("o_totalprice")).cast("long").as("units")),
            "o_orderkey", "units")
          .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
            col("value"), col("mean"), col("std"), col("z"))
          .orderBy("o_orderkey")
      },
      // standardize replay: exact integer moments, the identical IEEE
      // chain for mean/std/z — bit-equal under any partitioning
      oracle = _ =>
        """WITH v AS (SELECT o_orderkey,
          |    CAST(floor(o_totalprice) AS BIGINT) AS value FROM orders),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |        CAST(sum(value) AS BIGINT) AS s,
          |        CAST(sum(value * value) AS BIGINT) AS s2 FROM v)
          |SELECT o_orderkey, value,
          |       CAST(s AS DOUBLE) / n AS mean,
          |       sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
          |            / (n - 1)) AS std,
          |       (CAST(value AS DOUBLE) - CAST(s AS DOUBLE) / n)
          |         / sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
          |                / (n - 1)) AS z
          |FROM v, m ORDER BY o_orderkey""".stripMargin),
    QuerySpec("q_mad_outliers", run = { (s, dir) =>
        val v = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"),
            floor(col("o_totalprice") * 100).cast("long").as("cents"))
        QuantileOps.madOutliers(v, "o_orderkey", "cents", k = 2)
          .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
            col("value"), col("dev"), col("med"), col("mad"))
          .orderBy("o_orderkey")
      },
      // MAD replay: both medians are quantile_disc (the same
      // ceil(p*n)-1 rank the radix selection computes); all integer
      oracle = _ =>
        """WITH v AS (SELECT o_orderkey,
          |             CAST(floor(o_totalprice * 100) AS BIGINT) AS value
          |           FROM orders),
          |m AS (SELECT quantile_disc(value, 0.5) AS med FROM v),
          |d AS (SELECT o_orderkey, value, abs(value - m.med) AS dev, m.med AS med
          |      FROM v, m),
          |md AS (SELECT quantile_disc(dev, 0.5) AS mad FROM d)
          |SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, value,
          |       CAST(dev AS BIGINT) AS dev, CAST(med AS BIGINT) AS med,
          |       CAST(md.mad AS BIGINT) AS mad
          |FROM d, md WHERE dev > 2 * md.mad ORDER BY o_orderkey""".stripMargin),
    QuerySpec("q_cube_agg", run = { (s, dir) =>
        // the native CUBE operator (all 2^d grouping sets in one
        // Expand + single aggregation — not 4 scans); rollup is the
        // prefix-sets specialization of the same operator
        s.read.parquet(s"$dir/orders.parquet")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(floor(col("o_totalprice") * 100).cast("long"))
              .cast("long").as("cents"))
          .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("n"), col("cents"))
          .orderBy("status", "priority")
      },
      // CUBE replay: all four grouping sets of (status, priority), the
      // subtotal rows' NULLs folded to 'ALL'; cents are exact integers
      oracle = _ =>
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |       coalesce(o_orderpriority, 'ALL') AS priority,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
          |ORDER BY 1, 2""".stripMargin))
}
