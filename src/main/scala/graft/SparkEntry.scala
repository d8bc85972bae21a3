package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.spark.{WoeBinning, WoeFitOptions}
import graft.ops.{AsofOps, ClusterOps, DedupOps, EvalOps, IndexOps, MultimodalOps, QuantileOps, SampleOps, SelectionOps, SimilarityOps, SketchOps, StreamingOps, TextOps, UrlOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every SQL-expressible stage of the engine is exposed as a query
  * whose oracle SQL is the SAME text executed by Spark (over temp
  * views) and by DuckDB — identical expression trees keep float
  * results hash-comparable.  The iterative kernels (fit) are exposed
  * as rows-only queries; their correctness gate is the golden-parity
  * test suite against captured reference outputs.
  */
object SparkEntry {

  /** Register the named tables as temp views (both engines address
    * them by bare name).  `events` goes through the unit-sniffing
    * reader, with the reader's derived event_time column dropped so
    * the view carries only the file's columns; its `ts` is still the
    * engine-canonical ns-long, whereas DuckDB's raw-parquet view reads
    * TIMESTAMP — only DuckDB-dialect oracles may touch `events`, never
    * a shared-dialect query (ADVICE r09).
    */
  private[graft] def registerViews(
      spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { t =>
      val df =
        if (t == "events")
          graft.ops.StreamingOps.readEventsBatch(spark, dir).drop("event_time")
        else spark.read.parquet(s"$dir/$t.parquet")
      df.createOrReplaceTempView(t)
    }

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

  /** Golden 12-bin model for extendedprice (sf0.001, n=300) as literal
    * edges/woes — used by the fixed-edge finalize/apply/range-join
    * oracle queries.  Values from src/test/resources/golden.
    */
  private val goldenEdges = Seq( // ascending interior edges
    12334.57, 23566.42, 28414.81, 34040.30, 40169.51, 50274.58,
    62136.06, 69337.30, 76977.81, 85149.16, 94254.19)
  private val goldenWoes = Seq( // ascending bins: (lo, hi] labels
    -2.6937760890299325, -1.73639352518162, -1.3319545844287677,
    -1.2379256347804912, -0.7093375546746603, -0.008161100972375676,
    0.7526469993815899, 1.1459833960431394, 1.8917014636124228,
    2.434965574688032, 2.8771182434547597, 3.8805195537471264)

  /** Double literal in scientific notation: DuckDB parses plain
    * 17-digit decimals as DECIMAL(17,16) and its decimal→double
    * conversion is not correctly rounded, while an exponent suffix
    * makes both engines take the correctly-rounded strtod path —
    * keeping literals bit-identical across Spark and DuckDB.
    */
  private def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains('E') || s.contains('e')) s else s + "E0"
  }

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

  private def woeCase(valueExpr: String): String = {
    val whens = goldenEdges.zip(goldenWoes.dropRight(1))
      .map { case (e, w) => s"WHEN $valueExpr <= ${dlit(e)} THEN ${dlit(w)}" }
      .mkString(" ")
    s"CASE $whens ELSE ${dlit(goldenWoes.last)} END"
  }

  /** The golden WoE score as a Spark when-chain — the Column twin of
    * [[woeCase]], so the EvalOps queries grade exactly the score the
    * fixed-edge apply path emits.
    */
  private def goldenWoeCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    goldenEdges.zip(goldenWoes.dropRight(1)).foldRight(lit(goldenWoes.last)) {
      case ((e, w), rest) => when(c <= lit(e), lit(w)).otherwise(rest)
    }

  /** lcgFrame + the golden WoE score — the scored population every
    * EvalOps scorecard metric grades.
    */
  private[graft] def scoredFrame(s: SparkSession, dir: String): DataFrame =
    lcgFrame(s, dir).withColumn("score", goldenWoeCol(col("extendedprice")))

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

  /** Shared-dialect oracle SQL, one entry per SQL-expressible query. */
  val sqlQueries: Map[String, String] = Map(
    // target derivation: all-integer output
    "q_target_derive" ->
      s"""$baseCte
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(target) AS BIGINT) AS bads
         |FROM base""".stripMargin,

    // the workhorse: per-distinct-value sufficient stats (binning.py:121-129)
    "q_sufficient_stats" ->
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
         |FROM base GROUP BY extendedprice ORDER BY value""".stripMargin,

    // orientation detection (binning.py:114-119) with a deterministic
    // tiebreak so both engines agree on quartile membership
    "q_orientation" ->
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
         |FROM r GROUP BY variable ORDER BY variable""".stripMargin,

    // NaN-bin stats (binning.py:233-238) over a derived nullable column
    "q_nan_bin_stats" ->
      s"""$baseCte
         |SELECT CAST(count(*) AS BIGINT) AS nan_size,
         |       CAST(sum(target) AS BIGINT) AS nan_bads,
         |       CAST(sum(target) AS DOUBLE) / count(*) AS nan_mean
         |FROM base WHERE discount = 0.0""".stripMargin,

    // WoE/IV finalization from fixed golden edges (binning.py:240-251)
    "q_woe_finalize_fixed_edges" ->
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
         |FROM agg a CROSS JOIN tot t ORDER BY bin_id""".stripMargin,

    // apply-as-CASE-WHEN with median imputation (binning.py:296-303)
    "q_apply_fixed_bins" ->
      s"""$baseCte, med AS (
         |  SELECT median(extendedprice) AS m FROM base
         |)
         |SELECT l_orderkey, l_linenumber,
         |       ${woeCase("coalesce(base.extendedprice, med.m)")} AS extendedprice_bin
         |FROM base CROSS JOIN med
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // exact interpolated median (binning.py:297,302)
    "q_median_impute" ->
      s"""$baseCte
         |SELECT median(extendedprice) AS med_price,
         |       median(quantity) AS med_qty,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM base""".stripMargin,

    // sentinel split totals (binning.py:35-44): sep subset vs complement
    "q_sep_split_stats" ->
      s"""$baseCte
         |SELECT CASE WHEN quantity = 1.0 THEN 1 ELSE 0 END AS is_sep,
         |       CAST(count(*) AS BIGINT) AS size,
         |       CAST(sum(target) AS BIGINT) AS bads
         |FROM base GROUP BY CASE WHEN quantity = 1.0 THEN 1 ELSE 0 END
         |ORDER BY is_sep""".stripMargin,

    // the implicit range join of apply (SURVEY §2.4) made explicit:
    // data × bins interval-containment join
    "q_bins_range_join" ->
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
         |GROUP BY b.bin_id ORDER BY b.bin_id""".stripMargin)

  /** DuckDB-dialect oracles for the training-data ops whose Spark side
    * is DataFrame-API (list_* function names differ from Spark but the
    * semantics — and for integer outputs the hashes — are identical).
    */
  /** Deterministic per-doc URL synthesis shared by the URL-governance
    * queries (documents carry no URL column): mixed-case host, an
    * occasional extra subdomain, a multi-part-suffix TLD for every
    * 4th doc, a default port, tracking params, and a fragment — every
    * case the canonicalizer must handle.  SQL and Column forms must
    * stay in lockstep (the hash oracle catches drift).
    */
  private val urlSynthSql =
    "'HTTPS://WWW.' || CASE WHEN doc_id % 5 = 0 THEN 'Blog.' ELSE '' END" +
      " || source || CASE WHEN doc_id % 4 = 0 THEN '.Co.UK' ELSE '.COM' END" +
      " || ':443/Articles/' || doc_id || '?utm_source=feed&page=' ||" +
      " (doc_id % 10) || '&utm_campaign=x&gclid=abc#section-2'"

  private def urlSynthCol: org.apache.spark.sql.Column =
    concat(
      lit("HTTPS://WWW."),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("Blog.")).otherwise(lit("")),
      col("source"),
      when(pmod(col("doc_id"), lit(4)) === 0, lit(".Co.UK")).otherwise(lit(".COM")),
      lit(":443/Articles/"), col("doc_id").cast("string"),
      lit("?utm_source=feed&page="),
      pmod(col("doc_id"), lit(10)).cast("string"),
      lit("&utm_campaign=x&gclid=abc#section-2"))

  /** Synthesized per-host robots.txt (RFC 9309 shapes): a specific
    * `graftbot` group (prefix disallow, longer allow override, a
    * conditional even-id rule, crawl-delay), then a multi-agent
    * `*`/`legacybot` group with a trailing-$ anchored rule — every
    * field replays from doc_id arithmetic in the oracles.
    */
  private def robotsSynthCol: org.apache.spark.sql.Column = {
    val m = pmod(col("doc_id"), lit(5)).cast("string")
    val b = pmod(col("doc_id"), lit(3)).cast("string")
    val d = (pmod(col("doc_id"), lit(4)) + 1).cast("string")
    concat(
      lit("# graft politeness\nUser-agent: graftbot\nDisallow: /private"),
      m, lit("/\nAllow: /private"), m, lit("/pub\n"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit("Disallow: /docs\n"))
        .otherwise(lit("")),
      lit("Crawl-delay: "), d,
      lit("\n\nUser-agent: *\nUser-agent: legacybot\nDisallow: /blocked"),
      b, lit("/\nDisallow: /tmp$\n"))
  }

  /** Synthesized sitemap.xml: every 4th host is an INDEX file
    * (`<sitemapindex>` of child sitemaps — the 50k-URL protocol limit
    * shape), the rest `<urlset>` page files with optional lastmod
    * (dropped every 3rd entry) and priority; one loc carries an
    * `&amp;` entity so the decode path is exercised.  Every field
    * replays from doc_id arithmetic.
    */
  private def sitemapSynthCol: org.apache.spark.sql.Column = {
    val d = col("doc_id").cast("string")
    val isIndex = pmod(col("doc_id"), lit(4)) === 0
    val n = when(isIndex, pmod(col("doc_id"), lit(3)) + 1)
      .otherwise(pmod(col("doc_id"), lit(5)) + 1).cast("int")
    val items = array_join(transform(sequence(lit(0), n - 1), k => {
      val ks = k.cast("string")
      when(isIndex,
        concat(lit("<sitemap><loc>https://example.com/sm/"), d,
          lit("/"), ks, lit(".xml</loc><lastmod>2026-0"),
          (pmod(k, lit(9)) + 1).cast("string"),
          lit("-01</lastmod></sitemap>")))
        .otherwise(concat(
          lit("<url><loc>https://example.com/"), d, lit("/p"), ks,
          when(k === 1, lit("?a=1&amp;b=2")).otherwise(lit("")),
          lit("</loc>"),
          when(pmod(k, lit(3)) =!= 2,
            concat(lit("<lastmod>2026-0"),
              (pmod(k, lit(9)) + 1).cast("string"),
              lit("-02</lastmod>"))).otherwise(lit("")),
          lit("<priority>0."), pmod(k, lit(10)).cast("string"),
          lit("</priority></url>")))
    }), "")
    concat(lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>"),
      when(isIndex,
        concat(lit("<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
          items, lit("</sitemapindex>")))
        .otherwise(concat(
          lit("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
          items, lit("</urlset>"))))
  }

  /** Synthesized syndication feed: every 3rd host publishes Atom
    * (`<entry>` + link@href + `<updated>`), the rest RSS 2.0
    * (`<item>` + element link + `<pubDate>`); `1 + id % 4` entries,
    * the k=1 title carrying an `&amp;` entity, every (id+k)%6==0
    * entry missing its link (dropped — nothing to crawl).  All
    * closed-form for the oracle.
    */
  private def feedSynthCol: org.apache.spark.sql.Column = {
    val d = col("doc_id").cast("string")
    val isAtom = pmod(col("doc_id"), lit(3)) === 0
    val n = (pmod(col("doc_id"), lit(4)) + 1).cast("int")
    val items = array_join(transform(sequence(lit(0), n - 1), k => {
      val ks = k.cast("string")
      val title = concat(lit("Post "), d, lit("-"), ks,
        when(k === 1, lit(" &amp; more")).otherwise(lit("")))
      val noLink = pmod(col("doc_id") + k, lit(6)) === 0
      when(isAtom,
        concat(lit("<entry><title>"), title, lit("</title>"),
          when(noLink, lit("")).otherwise(
            concat(lit("<link href=\"https://example.com/"), d,
              lit("/post"), ks, lit("\"/>"))),
          lit("<updated>2026-01-0"),
          (pmod(k, lit(9)) + 1).cast("string"),
          lit("T00:00:00Z</updated></entry>")))
        .otherwise(
          concat(lit("<item><title>"), title, lit("</title>"),
            when(noLink, lit("")).otherwise(
              concat(lit("<link>https://example.com/"), d,
                lit("/post"), ks, lit("</link>"))),
            lit("<pubDate>0"), (pmod(k, lit(9)) + 1).cast("string"),
            lit(" Jan 2026 00:00:00 GMT</pubDate></item>")))
    }), "")
    when(isAtom,
      concat(lit("<?xml version=\"1.0\"?><feed xmlns=\"http://www.w3.org/2005/Atom\">"),
        items, lit("</feed>")))
      .otherwise(concat(
        lit("<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>"),
        items, lit("</channel></rss>")))
  }

  /** The registrable-domain CASE both URL oracles share (the SQL twin
    * of [[graft.ops.UrlOps.registrableDomain]]).
    */
  private val urlDomainSql = {
    val suffixes = graft.ops.UrlOps.multiPartSuffixes
      .map(s => s"'$s'").mkString(", ")
    raw"""CASE WHEN len(L) <= 2 THEN host2
         |     WHEN (L[-2] || '.' || L[-1]) IN ($suffixes) AND len(L) >= 3
         |       THEN L[-3] || '.' || L[-2] || '.' || L[-1]
         |     ELSE L[-2] || '.' || L[-1] END""".stripMargin
  }

  /** Exact cosine top-10 replay (q_ann_topk) — a val because the
    * retrieval-metrics oracle embeds the same text as a CTE.
    */
  private val annExactTopkSql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), c AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
      |  FROM e WHERE sqrt(list_dot_product(v, v)) > 0
      |), s AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |         list_dot_product(c.v, q.v) / (c.nrm * q.nrm) AS cosine
      |  FROM c CROSS JOIN (SELECT * FROM c WHERE vec_id < 8) q
      |), r AS (
      |  SELECT query_id, corpus_id, cosine,
      |         CAST(row_number() OVER (PARTITION BY query_id
      |              ORDER BY cosine DESC, corpus_id) AS BIGINT) AS rank
      |  FROM s)
      |SELECT query_id, corpus_id, cosine, rank FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  val duckdbOnlySql: Map[String, String] = Map(
    // Z-order replay: the SAME interleave term sum (zValueSql single-
    // sources it), bucket = top 10 of the 32-bit Morton value; the
    // per-bucket dim rectangles the query reports are the clustering
    // claim (tight min/max per z-region) made hash-checkable
    "q_zorder_layout" -> {
      val zv = graft.ops.StorageOps.zValueSql(Seq("x", "y"), bits = 16)
      s"""WITH d AS (
         |  SELECT o_custkey % 65536 AS x,
         |         CAST(floor(o_totalprice / 16) AS BIGINT) % 65536 AS y
         |  FROM orders),
         |z AS (SELECT x, y, $zv >> 22 AS bucket FROM d)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
         |       CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
         |       CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
         |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
    },
    // HLL sketch replays (OracleHll): same xxhash64 registers, same
    // exact harmonic sum, textually identical estimate doubles
    "q_hll_distinct" -> OracleHll.hllDistinctSql,
    // the aggregate-function flavor must equal the register-table
    // flavor exactly — one oracle text, two physical paths
    "q_hll_agg" -> OracleHll.hllDistinctSql,
    // the incremental (persisted-store) flavor must equal the direct
    // build exactly — one oracle text for both, the phrase-search
    // two-flavor pattern
    "q_incr_hll" -> OracleHll.hllDistinctSql,
    "q_hll_merged" -> OracleHll.hllMergedSql,
    // fixed-point PageRank replay: unrolled iteration CTEs, every
    // division an integer floor (OraclePageRank)
    "q_pagerank" -> OraclePageRank.sql(OraclePageRank.nationEdgesSql, iters = 10),
    // MaxSim replay: same cosine tree, per-(qdoc, qvec, doc) max, and
    // the facet sum folded in explicit qvec order (list ORDER BY +
    // list_reduce == sort_array + aggregate — identical IEEE chain)
    "q_maxsim_topk" ->
      """WITH e AS (
        |  SELECT vec_id, vec_id // 8 AS gid,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), c AS (
        |  SELECT vec_id, gid, v, sqrt(list_dot_product(v, v)) AS nrm
        |  FROM e WHERE sqrt(list_dot_product(v, v)) > 0
        |), q AS (
        |  SELECT * FROM c WHERE gid < 2
        |), best AS (
        |  SELECT q.gid AS qg, q.vec_id AS qv, c.gid AS dg,
        |         max(list_dot_product(c.v, q.v) / (c.nrm * q.nrm)) AS mc
        |  FROM c, q GROUP BY 1, 2, 3
        |), sc AS (
        |  SELECT qg, dg,
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list(mc ORDER BY qv)), (a, x) -> a + x) AS maxsim
        |  FROM best GROUP BY 1, 2
        |), r AS (
        |  SELECT qg AS query_group, dg AS doc_group, maxsim,
        |         CAST(row_number() OVER (PARTITION BY qg
        |              ORDER BY maxsim DESC, dg) AS BIGINT) AS rank
        |  FROM sc)
        |SELECT query_group, doc_group, maxsim, rank FROM r
        |WHERE rank <= 5 ORDER BY query_group, rank""".stripMargin,
    // sorted-neighborhood linkage replay: same deterministic dirty
    // keys, same (s, kind, id) sort rank, window-5 candidates (range
    // form here, offset equi-joins in Spark — identical pair set),
    // same Levenshtein verify
    "q_fuzzy_link" ->
      """WITH cl AS (
        |  SELECT doc_id AS id, substr(text, 1, 48) AS s, 'c' AS kind
        |  FROM documents WHERE length(text) >= 48
        |), dt AS (
        |  SELECT id,
        |         substr(s2, 1, p - 1) || substr(s2, p + 1, 100) AS s,
        |         'd' AS kind
        |  FROM (SELECT doc_id AS id, substr(text, 1, 48) AS s2,
        |               CAST(doc_id % 20 + 1 AS INT) AS p
        |        FROM documents WHERE length(text) >= 48) t
        |), base AS (
        |  SELECT * FROM cl UNION ALL SELECT * FROM dt
        |), uf AS (
        |  SELECT *, row_number() OVER (ORDER BY s, kind, id) AS rn FROM base
        |), ur AS (
        |  SELECT *, row_number() OVER (ORDER BY reverse(s), kind, id) AS rn
        |  FROM base
        |), prs AS (
        |  SELECT a.kind AS ka, a.id AS ia, a.s AS sa,
        |         b.kind AS kb, b.id AS ib, b.s AS sb
        |  FROM uf a JOIN uf b ON b.rn - a.rn BETWEEN 1 AND 12
        |  WHERE a.kind <> b.kind
        |  UNION ALL
        |  SELECT a.kind, a.id, a.s, b.kind, b.id, b.s
        |  FROM ur a JOIN ur b ON b.rn - a.rn BETWEEN 1 AND 12
        |  WHERE a.kind <> b.kind
        |)
        |SELECT DISTINCT
        |       CASE WHEN ka = 'd' THEN ia ELSE ib END AS dirty_id,
        |       CASE WHEN ka = 'd' THEN ib ELSE ia END AS clean_id,
        |       CAST(levenshtein(sa, sb) AS BIGINT) AS lev
        |FROM prs WHERE levenshtein(sa, sb) <= 3
        |ORDER BY dirty_id, clean_id""".stripMargin,
    // KMV replay: same signed-hash k-minimum registers (row_number
    // trim), theta normalization, below-theta intersection walk, and
    // exact set intersection from the same distinct (scope, shingle)s
    "q_kmv_overlap" -> {
      val norm = (h: String) =>
        s"CAST($h AS DOUBLE) / 18446744073709551616.0 + 0.5 + " +
          "1.0 / 18446744073709551616.0"
      s"""WITH t AS (
         |  SELECT source,
         |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         |  FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')
         |), shing AS (
         |  SELECT source,
         |         list_distinct(list_transform(
         |           range(1, greatest(len(toks) - 2, 1) + 1),
         |           i -> array_to_string(toks[i:i+2], ' '))) AS sh
         |  FROM t
         |), docc AS (
         |  SELECT DISTINCT source AS scope, unnest(sh) AS s FROM shing
         |), vocab AS (
         |  SELECT DISTINCT s AS s0 FROM docc
         |), ${OracleXxh64.xxh64Cte("vocab", Nil, sCol = "s0")}, hs AS (
         |  SELECT DISTINCT scope, h FROM docc JOIN xx_out USING (s)
         |), regs AS (
         |  SELECT scope, h,
         |         row_number() OVER (PARTITION BY scope ORDER BY h) AS rank
         |  FROM hs QUALIFY rank <= 256
         |), th AS (
         |  SELECT scope,
         |         CASE WHEN count(*) < 256 THEN CAST(1.0 AS DOUBLE)
         |              ELSE ${norm("max(h)")} END AS theta
         |  FROM regs GROUP BY scope
         |), pairs AS (
         |  SELECT a.scope AS scope_a, b.scope AS scope_b,
         |         least(a.theta, b.theta) AS theta_min
         |  FROM th a JOIN th b ON a.scope < b.scope
         |), common AS (
         |  SELECT ra.scope AS scope_a, rb.scope AS scope_b,
         |         CAST(count(*) AS BIGINT) AS n_common
         |  FROM regs ra JOIN regs rb ON ra.h = rb.h AND ra.scope < rb.scope
         |  JOIN pairs p ON p.scope_a = ra.scope AND p.scope_b = rb.scope
         |  WHERE ${norm("ra.h")} < p.theta_min
         |  GROUP BY 1, 2
         |), ex AS (
         |  SELECT a.scope AS scope_a, b.scope AS scope_b,
         |         CAST(count(*) AS BIGINT) AS exact_inter
         |  FROM docc a JOIN docc b ON a.s = b.s AND a.scope < b.scope
         |  GROUP BY 1, 2
         |)
         |SELECT p.scope_a, p.scope_b,
         |       coalesce(c.n_common, 0) AS n_common,
         |       CAST(coalesce(c.n_common, 0) AS DOUBLE) / p.theta_min AS est_inter,
         |       coalesce(e.exact_inter, 0) AS exact_inter
         |FROM pairs p
         |LEFT JOIN common c USING (scope_a, scope_b)
         |LEFT JOIN ex e USING (scope_a, scope_b)
         |ORDER BY scope_a, scope_b""".stripMargin
    },
    // CMS replay: same Kirsch–Mitzenmacher buckets from the XXH64
    // replay (h1 = hu mod 2^32; h2 = high half forced odd — `|1` on a
    // nonnegative is (x//2)*2+1), same register sums and min-walk
    "q_cms_topk" -> {
      s"""WITH tok AS (
         |  SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
         |           x -> x <> '')) AS token
         |  FROM documents
         |), ex AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS exact
         |  FROM tok GROUP BY token
         |), vocab AS (
         |  SELECT DISTINCT token AS s0 FROM tok
         |), ${OracleXxh64.xxh64Cte("vocab", Nil, sCol = "s0")}, hv AS (
         |  SELECT s, CAST(h AS HUGEINT) + CASE WHEN h < 0
         |         THEN 18446744073709551616 ELSE 0 END AS hu
         |  FROM xx_out
         |), hb AS (
         |  SELECT s, hu % 4294967296 AS h1,
         |         ((hu // 4294967296) // 2) * 2 + 1 AS h2
         |  FROM hv
         |), bk AS (
         |  SELECT s, i.i AS rw,
         |         CAST((h1 + i.i * h2) % 1024 AS BIGINT) AS bucket
         |  FROM hb, (SELECT unnest(range(4)) AS i) i
         |), regs AS (
         |  SELECT b.rw, b.bucket, CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok t JOIN bk b ON t.token = b.s
         |  GROUP BY 1, 2
         |), top AS (
         |  SELECT token, exact FROM ex
         |  ORDER BY exact DESC, token ASC LIMIT 10
         |)
         |SELECT t.token, t.exact,
         |       CAST(min(coalesce(r.cnt, 0)) AS BIGINT) AS est
         |FROM top t JOIN bk b ON b.s = t.token
         |LEFT JOIN regs r ON r.rw = b.rw AND r.bucket = b.bucket
         |GROUP BY 1, 2
         |ORDER BY token""".stripMargin
    },
    // HDR quantile sketch replay: the same pure-integer bucket index
    // (top b+1 significant bits), register counts, cumulative walk,
    // and bucket lower bound — the 'ALL' scope is the merged shard
    // pair on the Spark side, direct here (count-sum merge law)
    "q_hdr_quantiles" ->
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
        |FROM sel ORDER BY scope, q""".stripMargin,
    // weighted systematic sample: one window cumsum + the same
    // closed-form integer pick count (all operands nonnegative, so
    // DuckDB's floor // == Spark's truncating DIV)
    "q_weighted_sample" ->
      """WITH w AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS wt
        |  FROM documents WHERE n_chars > 0
        |), c AS (
        |  SELECT doc_id, wt,
        |         CAST(coalesce(sum(wt) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS before
        |  FROM w
        |), t AS (SELECT CAST(sum(wt) AS BIGINT) AS tw FROM w)
        |SELECT doc_id, wt AS weight, before AS cum_before,
        |       CAST(n_copies AS BIGINT) AS n_copies FROM (
        |  SELECT doc_id, wt, before,
        |         (CASE WHEN before + wt = 0 THEN 0 ELSE
        |            least(CAST(100 AS BIGINT),
        |              ((200 * (before + wt) - 1) // tw + 1) // 2) END)
        |       - (CASE WHEN before = 0 THEN 0 ELSE
        |            least(CAST(100 AS BIGINT),
        |              ((200 * before - 1) // tw + 1) // 2) END) AS n_copies
        |  FROM c, t) x
        |WHERE n_copies > 0 ORDER BY doc_id""".stripMargin,
    // exact tie-corrected AUC replay: same grouped Mann-Whitney rank
    // sum (EvalOps.aucReport) — 2×ranksum stays integer, one division
    "q_eval_auc" ->
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
         |  FROM t)""".stripMargin,
    // per-score isotonic replay: the MINIMAX characterization of the
    // (unique) L2 isotonic regression — p_cal(i) = max_{j<=i} min_{k>=i}
    // mean(j..k) — computed from the same exact integer prefix sums the
    // engine's PAV pools, so every candidate mean is the same IEEE
    // double in both engines and the max/min selections agree bit-wise
    "q_isotonic_per_score" ->
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
         |FROM idx x JOIN fitted f ON f.i = x.i ORDER BY x.score""".stripMargin,
    // per-segment isotonic replay: the q_isotonic_per_score minimax,
    // every window/join additionally keyed by the segment
    "q_isotonic_by_flag" ->
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
         |ORDER BY x.flag, x.score""".stripMargin,
    // per-segment AUC replay: same grouped rank sum with the rank
    // window partitioned by the segment key
    "q_eval_auc_by_flag" ->
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
         |  FROM t) ORDER BY flag""".stripMargin,
    // KS replay: same descending cumulative-share scan, same
    // (diff desc, score desc) argmax tie-break
    "q_eval_ks" ->
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
         |FROM c ORDER BY ks DESC, score DESC LIMIT 1""".stripMargin,
    // gains/lift replay: same riskiest-first banding, every ratio a
    // division of exact integers
    "q_gains_table" ->
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
         |FROM t ORDER BY band""".stripMargin,
    // IV ranking replay: same fixed bins, same zero-cell guard, and
    // the same BIN-ORDERED float fold (ordered aggregate) as the
    // Spark side's sort_array+aggregate — not an order-free sum()
    "q_iv_ranking" -> {
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
    },
    // URL canonicalization replay: same part extraction, same default-
    // port/tracking-param/fragment rules, same registrable-domain cut
    "q_url_normalize" ->
      raw"""WITH u AS (
           |  SELECT doc_id, $urlSynthSql AS url FROM documents),
           |parts AS (
           |  SELECT doc_id,
           |         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           |         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
           |         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
           |         regexp_extract(url, '\?([^#]*)', 1) AS q
           |  FROM u),
           |n AS (
           |  SELECT doc_id, scheme,
           |         CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
           |              WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
           |              ELSE hostport END AS host,
           |         path,
           |         array_to_string(list_filter(string_split(q, '&'),
           |           p -> NOT regexp_matches(p, '^(utm_[a-z]+|gclid|fbclid)=') AND p <> ''), '&') AS cleanq,
           |         string_split(regexp_replace(regexp_replace(hostport, ':[0-9]+$$', ''), '^www\.', ''), '.') AS L,
           |         regexp_replace(regexp_replace(hostport, ':[0-9]+$$', ''), '^www\.', '') AS host2
           |  FROM parts)
           |SELECT doc_id,
           |       scheme || '://' || host || path ||
           |         CASE WHEN cleanq = '' THEN '' ELSE '?' || cleanq END AS url_norm,
           |       $urlDomainSql AS domain
           |FROM n ORDER BY doc_id""".stripMargin,
    // per-domain cap replay: same domain, same deterministic
    // row_number cut
    "q_domain_cap" ->
      raw"""WITH u AS (
           |  SELECT doc_id, $urlSynthSql AS url FROM documents),
           |h AS (
           |  SELECT doc_id,
           |         regexp_replace(regexp_replace(
           |           lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
           |           ':[0-9]+$$', ''), '^www\.', '') AS host2
           |  FROM u),
           |d AS (
           |  SELECT doc_id, host2, string_split(host2, '.') AS L FROM h),
           |dd AS (
           |  SELECT doc_id, $urlDomainSql AS domain FROM d),
           |r AS (
           |  SELECT doc_id, domain,
           |         row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS domain_rank
           |  FROM dd)
           |SELECT doc_id, domain, CAST(domain_rank AS BIGINT) AS domain_rank
           |FROM r WHERE domain_rank <= 5 ORDER BY doc_id""".stripMargin,
    // HTML->text replay: the same synthesized markup wrap, stripped by
    // the same ordered htmlPatterns chain (DuckDB needs the 'g' flag;
    // single quotes in replacements are SQL-escaped)
    "q_html_extract" -> {
      val synth = "'<html><head><title>Doc ' || doc_id || " +
        "'</title><style>p { color: red }</style>" +
        "<script>var x = 1; if (x < 2) { x = 3; }</script>" +
        "</head><body><h1>Doc ' || doc_id || '</h1>\n<p>' || text || " +
        "' &amp; 5 &lt; 7</p><!-- crawl footer -->\n</body></html>'"
      val clean = graft.ops.TextOps.htmlPatterns.foldLeft(synth) {
        case (acc, (pat, repl)) =>
          s"regexp_replace($acc, '${pat.replace("'", "''")}', " +
            s"'${repl.replace("'", "''")}', 'g')"
      }
      s"""SELECT doc_id, $clean AS clean
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // Common Crawl e2e replay: SAME page synthesis and regex chain as
    // q_html_extract (the .warc.gz container round trip on the Spark
    // side must be invisible), plus the response URI and the
    // token-count gate
    "q_cc_e2e" -> {
      val synth = "'<html><head><title>Doc ' || doc_id || " +
        "'</title><style>p { color: red }</style>" +
        "<script>var x = 1; if (x < 2) { x = 3; }</script>" +
        "</head><body><h1>Doc ' || doc_id || '</h1>\n<p>' || text || " +
        "' &amp; 5 &lt; 7</p><!-- crawl footer -->\n</body></html>'"
      val clean = graft.ops.TextOps.htmlPatterns.foldLeft(synth) {
        case (acc, (pat, repl)) =>
          s"regexp_replace($acc, '${pat.replace("'", "''")}', " +
            s"'${repl.replace("'", "''")}', 'g')"
      }
      raw"""WITH c AS (
           |  SELECT doc_id,
           |         'https://example.com/' || CAST(doc_id AS VARCHAR) || '/1' AS target_uri,
           |         $clean AS clean
           |  FROM documents),
           |t AS (
           |  SELECT doc_id, target_uri, clean,
           |         CAST(len(list_filter(string_split_regex(clean, '\s+'),
           |           x -> x <> '')) AS BIGINT) AS n_tokens
           |  FROM c)
           |SELECT doc_id, target_uri, clean, n_tokens,
           |       CAST(n_tokens >= 5 AS BIGINT) AS keep
           |FROM t ORDER BY doc_id""".stripMargin
    },
    // linear-classifier replay: same \s+ tokens, same md5-60-bit
    // bucket (the q_hash_split pattern), same literal weight vector
    // (demoWeights is the single source), integer fold + one logistic
    // of an exact integer
    "q_quality_classifier" -> {
      val w = graft.ops.SelectionOps.demoWeights(64).mkString(", ")
      raw"""WITH w AS (SELECT [$w] AS wt),
           |t AS (
           |  SELECT doc_id,
           |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id,
           |         CAST(len(toks) AS BIGINT) AS n_tokens,
           |         CAST(COALESCE(list_sum(list_transform(toks,
           |           tk -> wt[CAST(CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) % 64 AS INT) + 1])), 0) AS BIGINT)
           |           + 17 AS score
           |  FROM t CROSS JOIN w)
           |SELECT doc_id, n_tokens, CAST(score AS BIGINT) AS score,
           |       1.0 / (1.0 + exp(-(CAST(score AS DOUBLE) / 1000.0))) AS prob,
           |       CAST(score >= 0 AS BIGINT) AS keep
           |FROM sc ORDER BY doc_id""".stripMargin
    },
    // JSON sidecar replay: json_extract_string = get_json_object /
    // from_json field access on the same path; DuckDB sums promote to
    // HUGEINT, so every aggregate is cast back to BIGINT
    "q_json_extract" ->
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k_path
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // corpus unigram LM replay (TextOps.unigramLogProbs): same \s+
    // tokens, vocab + per-doc tf as integer aggregations, one ln of a
    // ratio of exact integers per output row (the q_bm25 determinism
    // convention — no float sums exist)
    "q_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY token),
        |n AS (SELECT CAST(sum(freq) AS BIGINT) AS n_total FROM v),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY doc_id, token)
        |SELECT tf.doc_id, tf.token, tf.tf, v.freq,
        |       -ln(CAST(v.freq AS DOUBLE) / n.n_total) AS logprob
        |FROM tf JOIN v USING (token) CROSS JOIN n
        |ORDER BY doc_id, token""".stripMargin,
    // integer-exact rarity profile (TextOps.tokenRarityStats): all
    // sums are integer, the single division happens once per doc
    "q_token_rarity" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY token),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY doc_id, token)
        |SELECT tf.doc_id,
        |       CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       CAST(min(v.freq) AS BIGINT) AS min_freq,
        |       CAST(sum(tf.tf * v.freq) AS BIGINT) AS sum_freq,
        |       CAST(sum(tf.tf * v.freq) AS DOUBLE) / sum(tf.tf) AS avg_token_freq
        |FROM tf JOIN v USING (token)
        |GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin,
    // TF-IDF keyword replay: tf/df count CTEs, tf * ln(N/df), per-doc
    // (tfidf desc, token) rank window
    "q_tfidf_terms" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY doc_id, token),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        |         CAST(tf.tf AS DOUBLE)
        |           * ln(CAST(nd.n_docs AS DOUBLE) / dfreq.df) AS tfidf
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN nd),
        |r AS (
        |  SELECT doc_id, token, tf, df, tfidf,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |           ORDER BY tfidf DESC, token) AS BIGINT) AS rank
        |  FROM s)
        |SELECT doc_id, rank, token, tf, df, tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // interpolated bigram-LM replay: bigram + unigram count CTEs, the
    // fixed λ·cb/c1 + (1−λ)·c2/N chain — single IEEE ops per row, no
    // float aggregation, so even logprob hash-gates
    "q_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY token),
        |n AS (SELECT CAST(sum(freq) AS BIGINT) AS n_total FROM v),
        |pr AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(toks)),
        |           i -> {'w1': toks[CAST(i AS INT)], 'w2': toks[CAST(i AS INT) + 1]})) AS p
        |  FROM t WHERE len(toks) >= 2),
        |pw AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM pr),
        |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM pw GROUP BY w1, w2),
        |tf AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
        |       FROM pw GROUP BY doc_id, w1, w2)
        |SELECT tf.doc_id, tf.w1, tf.w2, tf.tf,
        |       -ln(7.5E-1 * (CAST(bg.cb AS DOUBLE) / v1.freq)
        |           + 2.5E-1 * (CAST(v2.freq AS DOUBLE) / n.n_total)) AS logprob
        |FROM tf
        |JOIN bg USING (w1, w2)
        |JOIN v v1 ON tf.w1 = v1.token
        |JOIN v v2 ON tf.w2 = v2.token
        |CROSS JOIN n
        |ORDER BY doc_id, w1, w2""".stripMargin,
    // CCNet head/middle/tail replay (SelectionOps.perplexityBuckets):
    // the rarity CTEs + per-language ntile(3) on the integer-exact
    // avg_token_freq ranking, ties on doc_id
    "q_lm_buckets" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY token),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY doc_id, token),
        |r AS (SELECT tf.doc_id,
        |             CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |             CAST(sum(tf.tf * v.freq) AS DOUBLE) / sum(tf.tf) AS avg_token_freq
        |      FROM tf JOIN v USING (token) GROUP BY tf.doc_id),
        |j AS (SELECT r.doc_id, d.lang, r.n_tokens, r.avg_token_freq,
        |             CAST(ntile(3) OVER (PARTITION BY d.lang
        |               ORDER BY r.avg_token_freq DESC, r.doc_id) AS BIGINT) AS bucket
        |      FROM r JOIN documents d USING (doc_id))
        |SELECT doc_id, lang, n_tokens, avg_token_freq, bucket,
        |       CASE WHEN bucket = 1 THEN 'head'
        |            WHEN bucket = 3 THEN 'tail'
        |            ELSE 'middle' END AS band
        |FROM j ORDER BY doc_id""".stripMargin,
    // token-budget selection replay (SelectionOps.budgetSelect): the
    // quality-score CTEs + per-language running token sum over the
    // (score desc, id) ranking; keep rows that START inside the budget
    "q_budget_select" ->
      """WITH t AS (
        |  SELECT doc_id, lang, length(text) AS n_chars,
        |         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_words,
        |         len(list_filter(string_split_regex(text, '\s+'),
        |             x -> x IN ('the','a','of','and','to','is','in','it','that'))) AS stop_hits,
        |         len(regexp_extract_all(text, '[a-zA-Z]')) AS alpha,
        |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS tok
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, lang, tok, n_words,
        |         CASE WHEN n_words > 0
        |              THEN CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words
        |              ELSE 0.0 END AS avg_word_len,
        |         CASE WHEN n_words > 0
        |              THEN CAST(stop_hits AS DOUBLE) / n_words ELSE 0.0 END AS stopword_ratio,
        |         CASE WHEN n_chars > 0
        |              THEN CAST(alpha AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio
        |  FROM t
        |), q AS (
        |  SELECT doc_id AS id, lang AS part,
        |         (CASE WHEN n_words BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END
        |          + CASE WHEN avg_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END
        |          + CASE WHEN stopword_ratio > 0.01 THEN 1.0 ELSE 0.0 END
        |          + CASE WHEN alpha_ratio > 0.6 THEN 1.0 ELSE 0.0 END) / 4.0 AS score,
        |         CAST(tok AS BIGINT) AS n_tokens
        |  FROM m
        |), c AS (
        |  SELECT id, part, score, n_tokens,
        |         CAST(sum(n_tokens) OVER (PARTITION BY part
        |           ORDER BY score DESC, id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM q)
        |SELECT id, part, score, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens - n_tokens < 5000
        |ORDER BY part, id""".stripMargin,
    // mixture-plan replay (SelectionOps.mixturePlan): per-source
    // integer token totals joined to literal target shares; epochs is
    // one double division then a min — every share*budget product is
    // integral so round() never faces a half case
    "q_mixture_plan" ->
      """WITH t AS (
        |  SELECT source,
        |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS tok
        |  FROM documents
        |), a AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(tok) AS BIGINT) AS n_tokens
        |  FROM t GROUP BY source
        |), s AS (
        |  SELECT * FROM (VALUES
        |    ('src0', 3.0E-1), ('src1', 2.5E-1), ('src2', 2.0E-1),
        |    ('src3', 1.5E-1), ('src4', 1.0E-1)) AS v(source, target_share))
        |SELECT a.source, a.n_docs, a.n_tokens, s.target_share,
        |       CAST(round(s.target_share * 100000) AS BIGINT) AS needed_tokens,
        |       least(CAST(CAST(round(s.target_share * 100000) AS BIGINT) AS DOUBLE)
        |             / a.n_tokens, 4.0E0) AS epochs
        |FROM a JOIN s USING (source) ORDER BY source""".stripMargin,
    // composed-selection replay: the quality/rarity/ntile/budget/
    // mixture/materialize/pack/manifest CTEs chained over the SAME
    // shrinking doc set the Spark pipeline sees (note the rarity
    // stats are computed over quality SURVIVORS, not the full corpus)
    "q_selection_e2e" ->
      """WITH qm AS (
        |  SELECT doc_id, lang, source, text, length(text) AS n_chars,
        |         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_words,
        |         len(list_filter(string_split_regex(text, '\s+'),
        |             x -> x IN ('the','a','of','and','to','is','in','it','that'))) AS stop_hits,
        |         len(regexp_extract_all(text, '[a-zA-Z]')) AS alpha,
        |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS tok
        |  FROM documents
        |), scored AS (
        |  SELECT doc_id, lang, source, text, tok,
        |         (CASE WHEN n_words BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END
        |          + CASE WHEN (CASE WHEN n_words > 0
        |                THEN CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words
        |                ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END
        |          + CASE WHEN (CASE WHEN n_words > 0
        |                THEN CAST(stop_hits AS DOUBLE) / n_words ELSE 0.0 END) > 0.01
        |                THEN 1.0 ELSE 0.0 END
        |          + CASE WHEN (CASE WHEN n_chars > 0
        |                THEN CAST(alpha AS DOUBLE) / n_chars ELSE 0.0 END) > 0.6
        |                THEN 1.0 ELSE 0.0 END) / 4.0 AS quality_score
        |  FROM qm
        |), sv AS (SELECT * FROM scored WHERE quality_score >= 0.5
        |), tkn AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
        |           x -> x <> '')) AS token
        |  FROM sv
        |), v AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tkn GROUP BY token),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM tkn GROUP BY doc_id, token),
        |rar AS (
        |  SELECT tf.doc_id,
        |         CAST(sum(tf.tf * v.freq) AS DOUBLE) / sum(tf.tf) AS avg_token_freq
        |  FROM tf JOIN v USING (token) GROUP BY tf.doc_id
        |), bkt AS (
        |  SELECT r.doc_id,
        |         ntile(3) OVER (PARTITION BY s.lang
        |           ORDER BY r.avg_token_freq DESC, r.doc_id) AS bucket
        |  FROM rar r JOIN sv s USING (doc_id)
        |), keepb AS (SELECT doc_id FROM bkt WHERE bucket <= 2
        |), sv2 AS (SELECT sv.* FROM sv JOIN keepb USING (doc_id)
        |), cum AS (
        |  SELECT doc_id, lang, source, tok,
        |         CAST(sum(tok) OVER (PARTITION BY lang
        |           ORDER BY quality_score DESC, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM sv2
        |), picked AS (
        |  SELECT doc_id, lang, source, tok FROM cum
        |  WHERE cum_tokens - tok < 4000
        |), agg AS (
        |  SELECT source, CAST(sum(tok) AS BIGINT) AS n_tokens
        |  FROM picked GROUP BY source
        |), sh AS (
        |  SELECT * FROM (VALUES
        |    ('src0', 3.0E-1), ('src1', 2.5E-1), ('src2', 2.0E-1),
        |    ('src3', 1.5E-1), ('src4', 1.0E-1)) AS v(source, target_share)
        |), pl AS (
        |  SELECT agg.source,
        |         least(CAST(CAST(round(sh.target_share * 50000) AS BIGINT) AS DOUBLE)
        |               / agg.n_tokens, 4.0E0) AS epochs
        |  FROM agg JOIN sh USING (source)
        |), nc AS (
        |  SELECT p.doc_id, p.tok,
        |         CAST(floor(pl.epochs) AS BIGINT)
        |         + CASE WHEN CAST(('0x' || substr(md5(CAST(p.doc_id AS VARCHAR) || ':sel7'), 1, 15)) AS BIGINT)
        |                     % 10000 < (pl.epochs - floor(pl.epochs)) * 10000
        |                THEN 1 ELSE 0 END AS n_copies
        |  FROM picked p JOIN pl USING (source)
        |), cop AS (
        |  SELECT doc_id * 8 + unnest(generate_series(0, n_copies - 1)) AS cid, tok
        |  FROM nc WHERE n_copies > 0
        |), run AS (
        |  SELECT cid, tok,
        |         CAST(coalesce(sum(tok) OVER (ORDER BY cid
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
        |  FROM cop
        |), sq AS (
        |  SELECT cid, tok, before,
        |         unnest(generate_series(before // 256, (before + tok - 1) // 256)) AS seq_id
        |  FROM run WHERE tok > 0
        |), spans AS (
        |  SELECT cid, CAST(seq_id AS BIGINT) AS seq_id,
        |         CAST(greatest(before, seq_id * 256) - seq_id * 256 AS BIGINT) AS start_in_seq,
        |         CAST(least(before + tok, (seq_id + 1) * 256)
        |              - greatest(before, seq_id * 256) AS BIGINT) AS n_taken
        |  FROM sq)
        |SELECT seq_id,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_taken) AS BIGINT) AS n_tokens,
        |       CAST(min(cid) AS BIGINT) AS first_doc,
        |       CAST(max(cid) AS BIGINT) AS last_doc,
        |       md5(string_agg(cid || ':' || start_in_seq || ':' || n_taken,
        |                      ',' ORDER BY cid)) AS sig
        |FROM spans GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    // mixture materialization replay: the plan CTEs + per-doc
    // n_copies = floor(epochs) + (md5 bucket < frac * 10000), fanned
    // out by generate_series — pure integer/hash arithmetic on top of
    // the already-bit-exact epochs
    "q_mixture_materialize" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS tok
        |  FROM documents
        |), a AS (
        |  SELECT source, CAST(sum(tok) AS BIGINT) AS n_tokens
        |  FROM t GROUP BY source
        |), s AS (
        |  SELECT * FROM (VALUES
        |    ('src0', 3.0E-1), ('src1', 2.5E-1), ('src2', 2.0E-1),
        |    ('src3', 1.5E-1), ('src4', 1.0E-1)) AS v(source, target_share)
        |), p AS (
        |  SELECT a.source,
        |         least(CAST(CAST(round(s.target_share * 100000) AS BIGINT) AS DOUBLE)
        |               / a.n_tokens, 4.0E0) AS epochs
        |  FROM a JOIN s USING (source)
        |), j AS (
        |  SELECT t.doc_id AS id, t.source,
        |         CAST(floor(p.epochs) AS BIGINT)
        |         + CASE WHEN CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR) || ':mix7'), 1, 15)) AS BIGINT)
        |                     % 10000 < (p.epochs - floor(p.epochs)) * 10000
        |                THEN 1 ELSE 0 END AS n_copies
        |  FROM t JOIN p USING (source))
        |SELECT id, source,
        |       CAST(unnest(generate_series(0, n_copies - 1)) AS BIGINT) AS copy
        |FROM j WHERE n_copies > 0
        |ORDER BY id, copy""".stripMargin,
    // sequence-manifest replay (PackingOps.shardManifest over
    // packSequences): per-sequence doc/token counts plus the md5 of
    // the ascending-id `id:start:len` triples — DuckDB's ordered
    // string_agg is the same canonicalization as Spark's
    // sort_array(collect_list(struct))
    "q_shard_manifest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tok,
        |         CAST(coalesce(sum(tok) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
        |  FROM t
        |), s AS (
        |  SELECT doc_id, tok, before,
        |         unnest(generate_series(before // 512, (before + tok - 1) // 512)) AS seq_id
        |  FROM c WHERE tok > 0
        |), r AS (
        |  SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
        |         CAST(greatest(before, seq_id * 512) - seq_id * 512 AS BIGINT) AS start_in_seq,
        |         CAST(least(before + tok, (seq_id + 1) * 512)
        |              - greatest(before, seq_id * 512) AS BIGINT) AS n_taken
        |  FROM s)
        |SELECT seq_id,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_taken) AS BIGINT) AS n_tokens,
        |       CAST(min(doc_id) AS BIGINT) AS first_doc,
        |       CAST(max(doc_id) AS BIGINT) AS last_doc,
        |       md5(string_agg(doc_id || ':' || start_in_seq || ':' || n_taken,
        |                      ',' ORDER BY doc_id)) AS sig
        |FROM r GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    // cross-source contamination replay (TextOps.sourceOverlap,
    // portable md5-60bit grams): distinct (source, 8-gram) sets,
    // universal grams (> 16 sources) dropped before the pair join
    "q_source_overlap" ->
      """WITH t AS (
        |  SELECT source,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g0 AS (
        |  SELECT source,
        |         unnest(list_transform(range(1, greatest(len(toks) - 7, 1) + 1),
        |           i -> CAST(('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15)) AS BIGINT))) AS gh
        |  FROM t),
        |g AS (SELECT DISTINCT source, gh FROM g0),
        |deg AS (SELECT gh, count(*) AS ns FROM g GROUP BY gh),
        |kept AS (SELECT g.source, g.gh FROM g JOIN deg USING (gh) WHERE deg.ns <= 16),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |             CAST(count(*) AS BIGINT) AS shared_grams
        |      FROM kept a JOIN kept b USING (gh)
        |      WHERE a.source < b.source GROUP BY 1, 2),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM kept GROUP BY source)
        |SELECT p.source_a, p.source_b, p.shared_grams,
        |       sa.n_grams AS grams_a, sb.n_grams AS grams_b,
        |       CAST(p.shared_grams AS DOUBLE)
        |         / (sa.n_grams + sb.n_grams - p.shared_grams) AS jaccard
        |FROM p
        |JOIN sz sa ON p.source_a = sa.source
        |JOIN sz sb ON p.source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin,
    // PSI drift replay: golden-edge bucketing of the even/odd
    // populations, exact-integer counts, epsilon-floored shares, the
    // (p-q)*ln(p/q) chain (ln ulp class)
    "q_psi_drift" ->
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
         |FROM j CROSS JOIN t ORDER BY bin_id""".stripMargin,
    // JSONL round-trip: the Spark side goes parquet -> JSONL -> back;
    // the oracle reads the parquet directly, so the equality gate IS
    // the losslessness of the interchange
    "q_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // CSV round-trip: same gate, tabular wire format
    "q_csv_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // ORC round-trip: same gate, columnar peer format
    "q_orc_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // compaction preserves content exactly → identity oracle over the
    // original table (the roundtrip-gate pattern)
    "q_compact_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // span-removal replay (DedupOps.removeDuplicateSpans): positioned
    // windows, keeper = min id per hash, covered tokens cut, cleaned
    // text re-hashed — list lambdas mirror the Spark HOFs exactly
    "q_span_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, greatest(len(toks) - 7, 1) + 1),
        |           i -> {'start': i,
        |                 'wh': CAST(('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15)) AS BIGINT)})) AS s
        |  FROM t),
        |ww AS (SELECT doc_id, s.start AS start, s.wh AS wh FROM w),
        |own AS (
        |  SELECT wh, count(DISTINCT doc_id) AS nd, min(doc_id) AS keeper
        |  FROM ww GROUP BY wh),
        |rm AS (
        |  SELECT ww.doc_id, list_sort(list(DISTINCT ww.start)) AS starts
        |  FROM ww JOIN own USING (wh)
        |  WHERE own.nd >= 2 AND ww.doc_id <> own.keeper
        |  GROUP BY ww.doc_id),
        |c AS (
        |  SELECT t.doc_id, t.toks, coalesce(rm.starts, []) AS st
        |  FROM t LEFT JOIN rm ON t.doc_id = rm.doc_id),
        |k AS (
        |  SELECT doc_id, toks,
        |         list_filter(range(1, len(toks) + 1),
        |           j -> len(list_filter(st, s -> j >= s AND j <= s + 7)) = 0) AS kept
        |  FROM c)
        |SELECT doc_id,
        |       CAST(len(toks) AS BIGINT) AS n_tokens,
        |       CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
        |       md5(coalesce(array_to_string(list_transform(kept,
        |         j -> toks[CAST(j AS INT)]), ' '), '')) AS clean_md5
        |FROM k ORDER BY doc_id""".stripMargin,
    // surgical-decontamination replay: corpus (doc_id >= 20) windows
    // cut where the 8-token window hash appears in the benchmark
    // slice (doc_id < 20); same cut arithmetic as q_span_dedup
    "q_decontaminate_spans" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE doc_id >= 20),
        |bt AS (
        |  SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE doc_id < 20),
        |ref AS (
        |  SELECT DISTINCT
        |         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS wh
        |  FROM (SELECT unnest(list_distinct(list_transform(
        |          range(1, greatest(len(toks) - 7, 1) + 1),
        |          i -> array_to_string(toks[i:i+7], ' ')))) AS g FROM bt)),
        |w AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, greatest(len(toks) - 7, 1) + 1),
        |           i -> {'start': i,
        |                 'wh': CAST(('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15)) AS BIGINT)})) AS s
        |  FROM t),
        |ww AS (SELECT doc_id, s.start AS start, s.wh AS wh FROM w),
        |rm AS (
        |  SELECT ww.doc_id, list_sort(list(DISTINCT ww.start)) AS starts
        |  FROM ww WHERE ww.wh IN (SELECT wh FROM ref)
        |  GROUP BY ww.doc_id),
        |c AS (
        |  SELECT t.doc_id, t.toks, coalesce(rm.starts, []) AS st
        |  FROM t LEFT JOIN rm ON t.doc_id = rm.doc_id),
        |k AS (
        |  SELECT doc_id, toks,
        |         list_filter(range(1, len(toks) + 1),
        |           j -> len(list_filter(st, s -> j >= s AND j <= s + 7)) = 0) AS kept
        |  FROM c)
        |SELECT doc_id,
        |       CAST(len(toks) AS BIGINT) AS n_tokens,
        |       CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
        |       md5(coalesce(array_to_string(list_transform(kept,
        |         j -> toks[CAST(j AS INT)]), ' '), '')) AS clean_md5
        |FROM k ORDER BY doc_id""".stripMargin,
    // duplicate-window replay (DedupOps.duplicateWindowStats, k=8):
    // overlapping 8-token windows as md5-60bit hashes, per-hash
    // distinct-doc counts, per-doc share of windows seen in ≥2 docs
    "q_window_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, greatest(len(toks) - 7, 1) + 1),
        |           i -> CAST(('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15)) AS BIGINT))) AS wh
        |  FROM t),
        |d AS (SELECT wh, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
        |      FROM g GROUP BY wh)
        |SELECT g.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_windows,
        |       CAST(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
        |       CAST(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac
        |FROM g JOIN d USING (wh)
        |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,
    // salted-join replay: salting only re-routes rows, so the oracle
    // is the PLAIN join + aggregation (result-set equality is the
    // whole point of the skew-mitigation rewrite)
    "q_salted_join" ->
      """WITH dim AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS type_count
        |  FROM events GROUP BY event_type)
        |SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(type_count) AS BIGINT) AS sum_tc
        |FROM events JOIN dim USING (event_type)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // one-pass profile replay (ProfileOps.profile): per-column UNION
    // branches — DuckDB re-scans per branch where Spark uses a single
    // Expand pass, but the rows are identical
    "q_profile_stats" -> Seq("doc_id", "lang", "source", "n_chars").map { c =>
      s"""SELECT '$c' AS col_name,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |       CAST(min($c) AS VARCHAR) AS min_val,
         |       CAST(max($c) AS VARCHAR) AS max_val
         |FROM documents""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    // per-group top-k replay (TextOps.topTokensByGroup): same (freq
    // DESC, token ASC) deterministic tie-break as q_token_topk, ranked
    // within each language
    "q_token_topk_by_lang" ->
      """WITH tok AS (
        |  SELECT lang AS grp,
        |         unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |f AS (SELECT grp, token, CAST(count(*) AS BIGINT) AS freq
        |      FROM tok GROUP BY grp, token),
        |r AS (SELECT grp, token, freq,
        |             CAST(row_number() OVER (PARTITION BY grp
        |               ORDER BY freq DESC, token ASC) AS BIGINT) AS rank
        |      FROM f)
        |SELECT grp, token, freq, rank FROM r WHERE rank <= 10
        |ORDER BY grp, rank""".stripMargin,
    // fixed-N stratified sample replay (SampleOps.stratifiedFixedN):
    // DuckDB ranks each stratum in ONE window — the naive formulation
    // the Spark side deliberately avoids (two-phase pre-bucketed
    // top-n) while producing the identical row set
    "q_stratified_topn" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |         CAST(('0x' || substr(md5(doc_id || ':r6topn'), 1, 15)) AS BIGINT) AS ord
        |  FROM documents),
        |r AS (SELECT doc_id, lang,
        |             CAST(row_number() OVER (PARTITION BY lang
        |               ORDER BY ord, doc_id) AS BIGINT) AS sample_rank
        |      FROM h)
        |SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 20
        |ORDER BY lang, sample_rank""".stripMargin,
    // temperature-sample replay (SampleOps.temperatureSample, α=0.5):
    // per-stratum cutoffs are pure INTEGER arithmetic — floor(sqrt)
    // weights (exact for counts ≪ 2^52), integer floor division — so
    // DuckDB recomputes the identical cutoffs from the same counts,
    // then filters by the same md5 hash bucket
    "q_temperature_sample" ->
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, cnt, CAST(floor(sqrt(cnt)) AS BIGINT) AS wt FROM c),
        |s AS (SELECT CAST(sum(wt) AS BIGINT) AS sw FROM w),
        |cut AS (
        |  SELECT lang, least(10000, (10000 * 250 * wt) // (sw * cnt)) AS cutoff
        |  FROM w CROSS JOIN s)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN cut USING (lang)
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':r6temp'), 1, 15)) AS BIGINT)
        |        % 10000 < cutoff
        |ORDER BY doc_id""".stripMargin,
    // tokenization = \s+ regex with empties dropped, matching
    // TextOps.tokens exactly (a plain ' ' split would diverge on
    // tabs/newlines); empty docs guard the word-length division
    "q_text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_words,
        |         len(list_filter(string_split_regex(text, '\s+'),
        |             x -> x IN ('the','a','of','and','to','is','in','it','that'))) AS stop_hits,
        |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens
        |  FROM documents)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(n_words AS BIGINT) AS n_words,
        |       CASE WHEN n_words > 0
        |            THEN CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words
        |            ELSE NULL END AS avg_word_len,
        |       CAST(stop_hits AS BIGINT) AS stop_hits,
        |       CAST(bpe_tokens AS BIGINT) AS bpe_tokens
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk,
        |    len(list_filter(string_split_regex(text,'\s+'), x -> x IN ('the','a','of','and','to','is','in','it','that'))) AS en_hits,
        |    len(list_filter(string_split_regex(text,'\s+'), x -> x IN ('der','die','das','und','ist','ein','nicht','mit'))) AS de_hits,
        |    len(list_filter(string_split_regex(text,'\s+'), x -> x IN ('le','la','les','et','est','un','une','dans'))) AS fr_hits,
        |    len(list_filter(string_split_regex(text,'\s+'), x -> x IN ('el','los','las','y','es','un','una','en'))) AS es_hits
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN cjk * 2 > n_chars THEN 'zh'
        |            WHEN en_hits > 0 AND en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
        |            WHEN de_hits > 0 AND de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
        |            WHEN fr_hits > 0 AND fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
        |            WHEN es_hits > 0 AND es_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'es'
        |            ELSE 'und' END AS lang_guess
        |FROM s ORDER BY doc_id""".stripMargin,
    // hot-block guard mirrored from DedupOps.tokenJaccardPairs: blocks
    // with population > 10000 never enter the self-join
    "q_dedup_token_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |         list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS toks
        |  FROM documents),
        |cold AS (
        |  SELECT * FROM t WHERE n_chars IN (
        |    SELECT n_chars FROM t GROUP BY n_chars HAVING count(*) <= 10000))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM cold a JOIN cold b ON a.n_chars = b.n_chars AND a.doc_id < b.doc_id
        |WHERE len(list_distinct(list_concat(a.toks, b.toks))) > 0
        |  AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.7
        |ORDER BY id_a, id_b""".stripMargin,
    "q_embed_cosine_dups" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, a.v) > 0 AND list_dot_product(b.v, b.v) > 0
        |  AND list_dot_product(a.v, b.v)
        |        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    // quality gates are all-rational arithmetic (no exp/log), so the
    // division trees match Spark's bit-for-bit
    "q_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_words,
        |         len(list_filter(string_split_regex(text, '\s+'),
        |             x -> x IN ('the','a','of','and','to','is','in','it','that'))) AS stop_hits,
        |         len(regexp_extract_all(text, '[a-zA-Z]')) AS alpha
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, n_words,
        |         CASE WHEN n_words > 0
        |              THEN CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words
        |              ELSE 0.0 END AS avg_word_len,
        |         CASE WHEN n_words > 0
        |              THEN CAST(stop_hits AS DOUBLE) / n_words ELSE 0.0 END AS stopword_ratio,
        |         CASE WHEN n_chars > 0
        |              THEN CAST(alpha AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio
        |  FROM t)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |       avg_word_len, stopword_ratio, alpha_ratio,
        |       (CASE WHEN n_words BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END
        |        + CASE WHEN avg_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END
        |        + CASE WHEN stopword_ratio > 0.01 THEN 1.0 ELSE 0.0 END
        |        + CASE WHEN alpha_ratio > 0.6 THEN 1.0 ELSE 0.0 END) / 4.0 AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin,
    // brute-force cosine top-k: same dot/norm/divide tree as
    // q_embed_cosine_dups (bit-parity proven there); rank ties broken
    // by corpus_id so both engines rank identically
    "q_ann_topk" -> annExactTopkSql,
    // retrieval-quality metrics: recall@10 of the IVF list against
    // the exact top-10, plus the reciprocal rank of the TRUE nearest
    // inside the IVF list — both engines reduce the two (already
    // independently replayed) result sets identically
    "q_retrieval_metrics" -> {
      val ivf = ivfTopKOracleSql(ivfCentroidsSf001, nProbe = 4, k = 10)
      s"""WITH exact AS ($annExactTopkSql),
         |ivf AS ($ivf),
         |hits AS (
         |  SELECT e.query_id,
         |         CAST(count(i.corpus_id) AS BIGINT) AS hits10
         |  FROM exact e LEFT JOIN ivf i
         |    ON e.query_id = i.query_id AND e.corpus_id = i.corpus_id
         |  GROUP BY 1),
         |nn AS (SELECT query_id, corpus_id AS nn_id FROM exact WHERE rank = 1),
         |rr AS (
         |  SELECT nn.query_id,
         |         coalesce(max(1.0 / i.rank), CAST(0.0 AS DOUBLE)) AS mrr
         |  FROM nn LEFT JOIN ivf i
         |    ON nn.query_id = i.query_id AND nn.nn_id = i.corpus_id
         |  GROUP BY 1)
         |SELECT h.query_id AS query_id, h.hits10,
         |       CAST(h.hits10 AS DOUBLE) / 10.0 AS recall10, rr.mrr
         |FROM hits h JOIN rr ON h.query_id = rr.query_id
         |ORDER BY query_id""".stripMargin
    },
    // contrastive pair mining: same cosine tree as q_ann_topk, rank
    // windowed per (anchor, pos|neg relation), self excluded
    "q_mine_pairs" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), c AS (
        |  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
        |  FROM e WHERE sqrt(list_dot_product(v, v)) > 0
        |), s AS (
        |  SELECT a.vec_id AS anchor_id, c.vec_id AS pair_id,
        |         CASE WHEN c.label = a.label THEN 'pos' ELSE 'neg' END AS relation,
        |         list_dot_product(c.v, a.v) / (c.nrm * a.nrm) AS cosine
        |  FROM c CROSS JOIN (SELECT * FROM c WHERE vec_id < 8) a
        |  WHERE c.vec_id <> a.vec_id
        |), r AS (
        |  SELECT anchor_id, pair_id, relation, cosine,
        |         CAST(row_number() OVER (PARTITION BY anchor_id, relation
        |              ORDER BY cosine DESC, pair_id) AS BIGINT) AS rank
        |  FROM s)
        |SELECT anchor_id, pair_id, relation, cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY anchor_id, relation, rank""".stripMargin,
    "q_events_window" ->
      """SELECT epoch_us(ts) // 300000000 AS bucket5m, event_type,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_millis
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // hopping replay: the same (tus DIV slide − o)·slide start, both
    // offsets always inside the 2× window when slide divides window
    "q_events_hopping" ->
      """SELECT wstart_us, event_type,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_millis
        |FROM (
        |  SELECT (epoch_us(ts) // 300000000 - o.o) * 300000000 AS wstart_us,
        |         epoch_us(ts) AS tus, event_type, value
        |  FROM events, (SELECT unnest(range(2)) AS o) o) x
        |WHERE tus - wstart_us < 600000000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_events_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |f AS (SELECT user_id, tus,
        |        CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL THEN 1
        |             WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) > 1800000000 THEN 1
        |             ELSE 0 END AS new_session,
        |        event_id
        |      FROM e),
        |s AS (SELECT user_id, tus,
        |        sum(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST((max(tus) - min(tus)) // 1000 AS BIGINT) AS duration_ms
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    // as-of join replay: IDENTICAL union-tag + carry-forward window
    // formulation (AsofOps.asofJoin), right-before-left at equal time
    // top-k-per-key replay: the row_number spelling — the custom
    // operator must keep EXACTLY the rows the window form ranks
    "q_topk_per_key" ->
      """WITH v AS (SELECT o_orderkey, o_orderpriority AS grp,
        |    CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders),
        |r AS (SELECT *, row_number() OVER (PARTITION BY grp
        |        ORDER BY v DESC, o_orderkey) AS rn FROM v)
        |SELECT grp, o_orderkey, v FROM r WHERE rn <= 5
        |ORDER BY grp, v DESC, o_orderkey""".stripMargin,
    // grouped-median replay: quantile_disc/_cont per group — the
    // engine computes the same ranks by window, the oracle natively
    "q_grouped_median" ->
      """WITH v AS (SELECT o_orderpriority AS grp,
        |    CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |       CAST(quantile_disc(v, 0.5) AS BIGINT) AS med_disc,
        |       CAST(quantile_cont(CAST(v AS DOUBLE), 0.5) AS DOUBLE) AS med_cont
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    // percent_rank/cume_dist replay: ANSI tie semantics, exact ratios
    "q_percent_rank" ->
      """WITH v AS (SELECT o_orderkey, o_orderpriority AS grp,
        |    CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders)
        |SELECT o_orderkey, grp, v,
        |       percent_rank() OVER (PARTITION BY grp ORDER BY v) AS pr,
        |       cume_dist() OVER (PARTITION BY grp ORDER BY v) AS cd
        |FROM v ORDER BY o_orderkey""".stripMargin,
    // path replay: two lags per user in (time, id) order, top-10
    // trigram paths with a (count desc, path asc) tie-break
    "q_event_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             epoch_us(ts) AS tus FROM events),
        |p AS (SELECT event_type AS c,
        |        lag(event_type, 1) OVER w AS p1,
        |        lag(event_type, 2) OVER w AS p2
        |      FROM e WINDOW w AS (PARTITION BY user_id
        |                          ORDER BY tus, event_id)),
        |t AS (SELECT p2 || '>' || p1 || '>' || c AS path,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE p2 IS NOT NULL GROUP BY 1)
        |SELECT path, n FROM t ORDER BY n DESC, path LIMIT 10""".stripMargin,
    // SCD2 time travel replay: the snapshot at t=0 is the base frame,
    // at t=1 the base with updates applied and new keys present —
    // both reconstructed ONLY from version spans
    "q_scd2_snapshot" ->
      """WITH base AS (SELECT c_custkey AS k,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS val_cents FROM customer),
        |upd AS (SELECT k, val_cents + 100000 AS val_cents
        |        FROM base WHERE k % 7 = 0
        |        UNION ALL
        |        SELECT k + 1000000 AS k, CAST(12345 AS BIGINT) AS val_cents
        |        FROM base WHERE k % 97 = 0),
        |s0 AS (SELECT CAST(0 AS BIGINT) AS as_of, k, val_cents FROM base),
        |s1 AS (SELECT CAST(1 AS BIGINT) AS as_of, coalesce(u.k, b.k) AS k,
        |         coalesce(u.val_cents, b.val_cents) AS val_cents
        |       FROM base b FULL OUTER JOIN upd u ON b.k = u.k)
        |SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |ORDER BY as_of, k""".stripMargin,
    // retrieval-metrics replay: per query the IVF hit list vs the
    // exact top-10 (both already SQL-replayable) reduced to
    // recall@10 and the reciprocal rank of the true nearest
    // k-core replay: 8 unrolled peel rounds over the thresholded
    // token co-occurrence graph (fixpoint measured at 4 rounds, so
    // rounds 5-8 are stable and the unroll equals the engine's
    // iterate-to-fixpoint loop); final degrees inside the core
    "q_kcore" -> kcoreOracleSql,
    // the SAME fixpoint through the above-the-gate SHUFFLE path
    // (broadcastThreshold = 0): results must be identical — the oracle
    // checks the fixed scale path end-to-end, not just the spec pin
    "q_kcore_shuffle" -> kcoreOracleSql,
    // histogram replay: the same clamped equi-width bucket arithmetic
    "q_histogram" ->
      """WITH v AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders),
        |b AS (SELECT v, least(greatest(v // 50000, 0), 11) AS bucket FROM v)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(v) AS BIGINT) AS min_v, CAST(max(v) AS BIGINT) AS max_v
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // MJPEG frame replay: real JDK codec per sampled frame — decoded-
    // domain literals per (stream key, frame) derived by JpegGolden
    // (golden-literal discipline); DuckDB replays only id → key and
    // the every-2nd sampling
    "q_mp4_frames" -> {
      val lits =
        """  (0, 0, 97337, '12966dc246ff1fd5bca2512cef93e83a', 19),
          |  (0, 2, 97131, '9f35c2ed413db7da531b2d9b4c3aae14', 18),
          |  (1, 0, 83906, '0801ac7bbf0b9cfb554ed8b735b57a68', 24),
          |  (1, 2, 64619, 'dea75f567b4b3a40ea4fd3065c78eaad', 18),
          |  (2, 0, 50310, '618ba33e197d5707de29f57b435104f6', 22),
          |  (2, 2, 48913, '02f789c5b6dfddfe6532db04d13bfd1f', 19),
          |  (3, 0, 61004, 'abfc5bb723c23461a30f0ca7d2c35d53', 28),
          |  (3, 2, 80226, 'ea5f902f52336365071f5eefcfe87b53', 20),
          |  (4, 0, 95445, 'af3f0df26d2679c37adf030808b3ccb3', 21),
          |  (4, 2, 98592, 'd8cf1afbd91c1f15319bd37e5c829f3a', 19),
          |  (5, 0, 87755, 'c1336b1f4954836a9705178538c7e196', 27),
          |  (5, 2, 69007, '7d30fe12ff1634c44f8995c4c011b9ec', 21),
          |  (6, 0, 52650, '5073abe9ead140f0b3d7b95abbe8b297', 21),
          |  (6, 2, 47934, '2bcb4d99df1db040d135b48f785c135d', 19),
          |  (7, 0, 57330, 'a7651394a5a55e78c2e554f15c95c46a', 29),
          |  (7, 2, 75903, '89fa5ccb3fdd75d9e8f327e91114d919', 26),
          |  (8, 0, 92952, 'd811b793f5873c3ae65ba3d2017ef2c2', 23),
          |  (8, 2, 99174, '86588702a4b1a155b11c8254c84534f4', 19),
          |  (9, 0, 91148, '8eda6c959a3a257f37f7d89559eeea77', 31),
          |  (9, 2, 73255, 'c403e2b78ff0fafda5515fb963938256', 26)""".stripMargin
      s"""WITH g(k, frame_idx, px_sum, thumb_md5, max_err) AS (VALUES
         |$lits)
         |SELECT d.doc_id AS doc_id, CAST(g.frame_idx AS BIGINT) AS frame_idx,
         |       CAST(16 AS INT) AS width, CAST(12 AS INT) AS height,
         |       CAST(g.px_sum AS BIGINT) AS px_sum, g.thumb_md5,
         |       CAST(g.max_err AS INT) AS max_err
         |FROM documents d JOIN g ON d.doc_id % 10 = g.k
         |ORDER BY doc_id, frame_idx""".stripMargin
    },
    // graftdoc replay: content fidelity through the binary format —
    // the DuckDB side reads the parquet truth; byte-identical text
    // md5s prove the DSv2 encode/decode round-trip under a pushed
    // range filter (which also exercises the shard skipping)
    "q_graftdoc_scan" ->
      """SELECT doc_id, md5(text) AS fp FROM documents
        |WHERE doc_id < 250 ORDER BY doc_id""".stripMargin,
    // data-quality replay: each metric a ratio of exact counts
    "q_dq_checks" ->
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
        |FROM v ORDER BY check_name""".stripMargin,
    // set-operation replay: INTERSECT / EXCEPT / UNION distinct counts
    "q_set_ops" ->
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
        |ORDER BY op""".stripMargin,
    // EWMA replay: same (t, id)-sorted per-user list, same
    // first-element seed, same fold — the float chain is a
    // deterministic function of the ordered data in both engines
    "q_ewma" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id AS i,
        |             CAST(floor(value * 1000) AS BIGINT) AS vm FROM events),
        |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |        list_transform(
        |          list_sort(list({'t': t, 'i': i, 'vm': vm})),
        |          x -> CAST(x.vm AS DOUBLE)) AS vs
        |      FROM e GROUP BY 1)
        |SELECT user_id, n_events,
        |       list_reduce(vs, (a, b) -> a + 0.125 * (b - a)) AS ewma_millis
        |FROM g ORDER BY user_id""".stripMargin,
    // native session-window replay: gaps-and-islands with the SAME
    // boundary rule Spark's session_window uses (new session when the
    // gap is >= 30 min; window end = last event + gap)
    "q_events_session_native" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        |m AS (SELECT user_id, t,
        |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
        |                  >= 1800000000 OR
        |                  lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |             THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |s AS (SELECT user_id, t,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m)
        |SELECT user_id, CAST(min(t) AS BIGINT) AS session_start_us,
        |       CAST(max(t) + 1800000000 AS BIGINT) AS session_end_us,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin,
    // moments replay: HUGEINT power sums, the identical float chains
    // (skew uses m2*sqrt(m2), never libm pow)
    "q_moments" ->
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
        |       m4 / (m2 * m2) - 3.0 AS kurtosis_excess FROM y""".stripMargin,
    // correlation replay: five exact sums, one float chain for r
    "q_correlation" ->
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
        |FROM m""".stripMargin,
    // chi-square replay: per-cell observed/expected/term — no float
    // sum crosses the engine boundary
    "q_chi2_cells" ->
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
        |ORDER BY a, b""".stripMargin,
    // standardize replay: exact integer moments, the identical IEEE
    // chain for mean/std/z — bit-equal under any partitioning
    "q_standardize" ->
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
        |FROM v, m ORDER BY o_orderkey""".stripMargin,
    // SCD2 replay: deterministic update batch (every 7th key changes,
    // every 97th is brand-new); changed opens close at batch 1, new
    // versions open; history length and flags all gated
    "q_scd2_merge" ->
      """WITH base AS (SELECT c_custkey AS k,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS val_cents FROM customer),
        |upd AS (SELECT k, val_cents + 100000 AS val_cents
        |        FROM base WHERE k % 7 = 0
        |        UNION ALL
        |        SELECT k + 1000000 AS k, CAST(12345 AS BIGINT) AS val_cents
        |        FROM base WHERE k % 97 = 0),
        |merged AS (
        |  SELECT b.k, b.val_cents, CAST(0 AS BIGINT) AS version_start,
        |         CASE WHEN u.k IS NOT NULL AND u.val_cents <> b.val_cents
        |              THEN CAST(1 AS BIGINT)
        |              ELSE 9223372036854775807 END AS version_end,
        |         NOT (u.k IS NOT NULL AND u.val_cents <> b.val_cents) AS is_current
        |  FROM base b LEFT JOIN upd u ON b.k = u.k
        |  UNION ALL
        |  SELECT u.k, u.val_cents, CAST(1 AS BIGINT) AS version_start,
        |         9223372036854775807 AS version_end, true AS is_current
        |  FROM upd u LEFT JOIN base b ON u.k = b.k
        |  WHERE b.k IS NULL OR b.val_cents <> u.val_cents)
        |SELECT k, val_cents, version_start, version_end, is_current
        |FROM merged ORDER BY k, version_start""".stripMargin,
    // transition replay: lag pairs per user in (time, id) order;
    // per-from share is one division of exact counts
    "q_event_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             epoch_us(ts) AS tus FROM events),
        |p AS (SELECT user_id, event_type,
        |        lag(event_type) OVER (PARTITION BY user_id
        |                              ORDER BY tus, event_id) AS prev
        |      FROM e),
        |c AS (SELECT prev AS from_type, event_type AS to_type,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       CAST(n AS DOUBLE)
        |         / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS share
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    // cohort replay: epoch-aligned integer week buckets; retention vs
    // the cohort's own week 0
    "q_cohort_retention" ->
      """WITH w AS (SELECT DISTINCT user_id,
        |             epoch_us(ts) // 604800000000 AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1),
        |g AS (SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
        |        CAST(count(*) AS BIGINT) AS n_users
        |      FROM w JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
        |       CAST(week_offset AS BIGINT) AS week_offset, n_users,
        |       CAST(n_users AS DOUBLE)
        |         / CAST(max(CASE WHEN week_offset = 0 THEN n_users END)
        |                OVER (PARTITION BY cohort_week) AS DOUBLE) AS retention
        |FROM g ORDER BY 1, 2""".stripMargin,
    // rolling replay: the same ANSI ROWS frame; integer value millis
    "q_rolling_sum" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus,
        |             CAST(floor(value * 1000) AS BIGINT) AS vm FROM events)
        |SELECT event_id, user_id, CAST(tus AS BIGINT) AS tus,
        |       CAST(count(*) OVER w AS BIGINT) AS roll_n,
        |       CAST(sum(vm) OVER w AS BIGINT) AS roll_millis
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
        |                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // bloom-join replay: the PLAIN join — bloom pruning must be
    // invisible in the result (false positives die in the join)
    "q_bloom_join" ->
      """SELECT o.o_orderkey AS o_orderkey,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderstatus = 'F' AND o.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // triangle replay: a<b enumeration closes each triangle once;
    // the engine's degree-ordered orientation is intermediate-size
    // optimization only, the triangle set is identical
    "q_triangles" ->
      s"""WITH e0 AS (
         |${OraclePageRank.nationEdgesSql}
         |),
         |ue AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM e0 WHERE src <> dst),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM ue e1 JOIN ue e2 ON e2.a = e1.b
         |        JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b),
         |n AS (SELECT unnest([x, y, z]) AS node FROM tri)
         |SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS n_tri
         |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    // MAD replay: both medians are quantile_disc (the same
    // ceil(p*n)-1 rank the radix selection computes); all integer
    "q_mad_outliers" ->
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
        |FROM d, md WHERE dev > 2 * md.mad ORDER BY o_orderkey""".stripMargin,
    // CUBE replay: all four grouping sets of (status, priority), the
    // subtotal rows' NULLs folded to 'ALL'; cents are exact integers
    "q_cube_agg" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY 1, 2""".stripMargin,
    // pivot replay: conditional sums per event type over user buckets
    "q_events_pivot" ->
      """SELECT user_id % 10 AS ub,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // funnel replay: first view, first click strictly after it, first
    // purchase strictly after that — µs integers end-to-end
    "q_event_funnel" ->
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1
        |            FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
        |       FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
        |       GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
        |       FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
        |       GROUP BY 1)
        |SELECT s1.user_id AS user_id, CAST(s1.t1 AS BIGINT) AS t_view,
        |       CAST(s2.t2 AS BIGINT) AS t_click,
        |       CAST(s3.t3 AS BIGINT) AS t_purchase,
        |       CAST(1 + (CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END)
        |              + (CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS depth
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // interval-join replay: every click in the 4h before a same-user
    // purchase; µs integer band on both sides
    "q_events_interval_join" ->
      """SELECT e1.user_id AS user_id, e1.event_id AS purchase_id,
        |       e2.event_id AS click_id,
        |       CAST(epoch_us(e1.ts) - epoch_us(e2.ts) AS BIGINT) AS gap_us
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND e1.event_type = 'purchase' AND e2.event_type = 'click'
        | AND epoch_us(e2.ts) BETWEEN epoch_us(e1.ts) - 14400000000 AND epoch_us(e1.ts)
        |ORDER BY 1, 2, 3""".stripMargin,
    "q_events_asof" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |         event_type = 'purchase' AS is_left
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |c AS (
        |  SELECT user_id, tus, event_id, is_left,
        |    last_value(CASE WHEN NOT is_left THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tus, is_left, event_id
        |            ROWS UNBOUNDED PRECEDING) AS view_id,
        |    last_value(CASE WHEN NOT is_left THEN tus END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tus, is_left, event_id
        |            ROWS UNBOUNDED PRECEDING) AS view_tus
        |  FROM e)
        |SELECT user_id, event_id AS purchase_id, view_id,
        |       CAST(tus - view_tus AS BIGINT) AS gap_us
        |FROM c WHERE is_left ORDER BY user_id, purchase_id""".stripMargin,
    // raw-TimestampType as-of: AsofOps normalizes timestamps to exact
    // integer µs internally, so the µs-integer oracle is IDENTICAL
    "q_events_asof_ts" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |         event_type = 'purchase' AS is_left
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |c AS (
        |  SELECT user_id, tus, event_id, is_left,
        |    last_value(CASE WHEN NOT is_left THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tus, is_left, event_id
        |            ROWS UNBOUNDED PRECEDING) AS view_id,
        |    last_value(CASE WHEN NOT is_left THEN tus END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tus, is_left, event_id
        |            ROWS UNBOUNDED PRECEDING) AS view_tus
        |  FROM e)
        |SELECT user_id, event_id AS purchase_id, view_id,
        |       CAST(tus - view_tus AS BIGINT) AS gap_us
        |FROM c WHERE is_left ORDER BY user_id, purchase_id""".stripMargin,
    // word-bigram repetition (TextOps.repetitionStats): duplicate-gram
    // fraction + duplicate-char fraction via the same sort-and-charge-
    // predecessor formulation; all-ASCII grams so list_sort and
    // array_sort agree byte-for-byte
    "q_repetition_stats" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |         list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
        |           i -> array_to_string(toks[i:i+1], ' ')) AS grams
        |  FROM t
        |), s AS (
        |  SELECT doc_id, grams, list_sort(grams) AS sg,
        |         coalesce(list_sum(list_transform(grams, x -> length(x))), 0) AS total_chars
        |  FROM g
        |), d AS (
        |  SELECT doc_id, grams, total_chars,
        |         coalesce(list_sum(list_transform(range(2, len(sg) + 1),
        |           i -> CASE WHEN sg[i] = sg[i-1] THEN length(sg[i]) ELSE 0 END)), 0) AS dup_chars
        |  FROM s)
        |SELECT doc_id,
        |       CAST(len(grams) AS BIGINT) AS n_grams,
        |       CAST(len(list_distinct(grams)) AS BIGINT) AS uniq_grams,
        |       CASE WHEN len(grams) > 0
        |            THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
        |            END AS dup_gram_frac,
        |       CASE WHEN total_chars > 0
        |            THEN CAST(dup_chars AS DOUBLE) / total_chars
        |            END AS dup_char_frac
        |FROM d ORDER BY doc_id""".stripMargin,
    // corpus vocabulary: the wordcount shape with a deterministic
    // (freq DESC, token ASC) tie-break so both engines cut the same
    // top-100
    "q_token_topk" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS freq
        |FROM tok GROUP BY token
        |ORDER BY freq DESC, token ASC LIMIT 100""".stripMargin,
    // PII scrub replay: the documents carry no PII, so both engines
    // synthesize the same deterministic PII suffix per doc and must
    // scrub it identically.  DuckDB needs the 'g' flag (its
    // regexp_replace is first-match by default; Spark's is global).
    "q_pii_redact" -> {
      val synth = "text || ' contact user' || doc_id || '@example.com at 10.0.0.'" +
        " || (doc_id % 256) || ' ssn 123-45-6789 tel 415-555-0199'"
      val redacted = TextOps.piiPatterns.foldLeft(synth) {
        case (acc, (pat, repl)) => s"regexp_replace($acc, '$pat', '$repl', 'g')"
      }
      s"""SELECT doc_id, $redacted AS clean
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // decontamination replay: docs 0-19 act as the "benchmark", the
    // rest as corpus; word 3-gram md5-60bit hashes on both sides, per
    // doc DISTINCT-gram overlap counts, flag at >= 10 shared grams
    "q_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, greatest(len(toks) - 2, 1) + 1),
        |           i -> CAST(('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 15)) AS BIGINT))) AS ghs
        |  FROM t
        |), bench AS (
        |  SELECT DISTINCT unnest(ghs) AS gh FROM g WHERE doc_id < 20
        |), corp AS (
        |  SELECT doc_id, unnest(ghs) AS gh FROM g WHERE doc_id >= 20
        |), ov AS (
        |  SELECT doc_id, count(*) AS n_overlap
        |  FROM corp JOIN bench USING (gh) GROUP BY doc_id
        |)
        |SELECT g.doc_id, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
        |       CAST(coalesce(ov.n_overlap, 0) >= 10 AS BIGINT) AS contaminated
        |FROM g LEFT JOIN ov ON g.doc_id = ov.doc_id
        |WHERE g.doc_id >= 20 ORDER BY g.doc_id""".stripMargin,
    // bloom decontamination replay: the bit SET equals the position
    // set, so membership = "all k double-hash positions appear among
    // the benchmark's positions" — Kirsch–Mitzenmacher pos_j =
    // (h1 + j·h2) mod 2^17 with h1/h2 the two md5-60bit slices both
    // engines compute identically (false positives replay exactly too)
    "q_bloom_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, greatest(len(toks) - 2, 1) + 1),
        |           i -> array_to_string(toks[i:i+2], ' '))) AS grams
        |  FROM t
        |), js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |bg AS (SELECT DISTINCT unnest(grams) AS g FROM g WHERE doc_id < 20),
        |bpos AS (
        |  SELECT DISTINCT (CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
        |       + j * CAST(('0x' || substr(md5(g), 17, 15)) AS BIGINT)) % 131072 AS pos
        |  FROM bg CROSS JOIN js
        |), cg AS (
        |  SELECT doc_id, unnest(grams) AS g FROM g WHERE doc_id >= 20
        |), cpos AS (
        |  SELECT doc_id, g, j,
        |         (CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
        |       + j * CAST(('0x' || substr(md5(g), 17, 15)) AS BIGINT)) % 131072 AS pos
        |  FROM cg CROSS JOIN js
        |), hits AS (
        |  SELECT doc_id, g
        |  FROM cpos JOIN bpos USING (pos)
        |  GROUP BY doc_id, g
        |  HAVING count(DISTINCT j) = 4
        |), ov AS (
        |  SELECT doc_id, count(*) AS n_flagged FROM hits GROUP BY doc_id
        |)
        |SELECT g.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |       CAST(coalesce(ov.n_flagged, 0) AS BIGINT) AS n_flagged,
        |       CAST(coalesce(ov.n_flagged, 0) >= 10 AS BIGINT) AS contaminated
        |FROM g LEFT JOIN ov ON g.doc_id = ov.doc_id
        |WHERE g.doc_id >= 20 ORDER BY g.doc_id""".stripMargin,
    // intra-doc paragraph dedup replay: 8-token windows as synthetic
    // paragraphs (+ the first two re-appended as the injected dup),
    // first-occurrence order preserved via min(ordinal) + ordered
    // string_agg — the exact semantics of Spark's array_distinct
    "q_paragraph_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, list_transform(
        |      range(0, greatest(CAST(ceil(len(toks) / 8.0) AS INT), 1)),
        |      i -> array_to_string(toks[CAST(i*8+1 AS INT):CAST(i*8+8 AS INT)], ' ')) AS paras
        |  FROM t
        |), w AS (
        |  SELECT doc_id, list_concat(paras, paras[1:2]) AS ps FROM p
        |), u AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ps) + 1),
        |      i -> {'ord': i, 'para': ps[CAST(i AS INT)]})) AS s
        |  FROM w
        |), f AS (
        |  SELECT doc_id, s.para AS para, min(s.ord) AS ord FROM u GROUP BY doc_id, s.para
        |), c AS (
        |  SELECT doc_id, string_agg(para, chr(10) ORDER BY ord) AS cleaned
        |  FROM f GROUP BY doc_id
        |)
        |SELECT w.doc_id, CAST(len(ps) AS BIGINT) AS n_paras,
        |       CAST(len(list_distinct(ps)) AS BIGINT) AS n_unique,
        |       md5(c.cleaned) AS clean_hash,
        |       CAST(length(c.cleaned) AS BIGINT) AS clean_len
        |FROM w JOIN c ON w.doc_id = c.doc_id ORDER BY w.doc_id""".stripMargin,
    // deterministic split replay: same md5-60bit("id:salt") % 10000
    // bucket and the same cumulative thresholds (8000/9000)
    "q_hash_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':r3'), 1, 15)) AS BIGINT)
        |           % 10000 AS bucket
        |  FROM documents)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |       CASE WHEN bucket < 8000 THEN 'train'
        |            WHEN bucket < 9000 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // shard-packing replay: the distributed two-pass prefix scan must
    // equal DuckDB's single global running sum exactly (all-integer)
    "q_doc_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tok,
        |         coalesce(sum(tok) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM t)
        |SELECT doc_id, CAST(tok AS BIGINT) AS n_tokens,
        |       CAST(before // 4096 AS BIGINT) AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin,
    // sequence-packing replay (PackingOps.packSequences): same global
    // running sum, then each doc fans out to the training sequences
    // it intersects — all-integer boundary arithmetic
    "q_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tok,
        |         CAST(coalesce(sum(tok) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
        |  FROM t
        |), s AS (
        |  SELECT doc_id, tok, before,
        |         unnest(generate_series(before // 512, (before + tok - 1) // 512)) AS seq_id
        |  FROM c WHERE tok > 0)
        |SELECT doc_id,
        |       CAST(seq_id AS BIGINT) AS seq_id,
        |       CAST(greatest(before, seq_id * 512) - seq_id * 512 AS BIGINT) AS start_in_seq,
        |       CAST(least(before + tok, (seq_id + 1) * 512)
        |            - greatest(before, seq_id * 512) AS BIGINT) AS n_taken,
        |       CAST(before AS BIGINT) AS doc_offset
        |FROM s ORDER BY doc_id, seq_id""".stripMargin,
    // stratified rebalance replay: same md5 bucket, per-lang cutoffs
    // (en halved, zh quartered, everything else kept)
    "q_stratified_sample" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 15)) AS BIGINT)
        |           % 10000 AS bucket
        |  FROM documents)
        |SELECT doc_id, lang FROM b
        |WHERE bucket < CASE WHEN lang = 'en' THEN 5000
        |                    WHEN lang = 'zh' THEN 2500
        |                    ELSE 10000 END
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_clusters" -> (clusterCtes +
      """
        |SELECT CAST(id AS BIGINT) AS doc_id,
        |       CAST(cluster_id AS BIGINT) AS cluster_id
        |FROM comp ORDER BY doc_id""".stripMargin),
    "q_dedup_purge" -> (clusterCtes +
      """
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster_id)
        |ORDER BY doc_id""".stripMargin),
    // END-TO-END composed pipeline replay (PipelineDemo.run): every
    // stage formula is the SAME SQL its individually-green oracle uses
    // — quality gate + paragraph scrub → exact+jaccard dedup → CC
    // purge → window-dedup gate → bloom decontamination → temperature
    // rebalance (the packing stage assigns every survivor, so its
    // count equals rebalance).  Corpus = doc_id >= 20, benchmark =
    // doc_id < 20, salts fixed ('demo') — deterministic end to end.
    "q_pipeline_e2e" ->
      """WITH RECURSIVE base AS MATERIALIZED (
        |  SELECT doc_id, lang, n_chars, text FROM documents WHERE doc_id >= 20
        |), qm AS (
        |  SELECT doc_id, length(text) AS qn_chars,
        |         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_words,
        |         len(list_filter(string_split_regex(text, '\s+'),
        |             x -> x IN ('the','a','of','and','to','is','in','it','that'))) AS stop_hits,
        |         len(regexp_extract_all(text, '[a-zA-Z]')) AS alpha
        |  FROM base
        |), qs AS (
        |  SELECT doc_id,
        |         (CASE WHEN n_words BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END
        |          + CASE WHEN (CASE WHEN n_words > 0
        |                THEN CAST(qn_chars - (n_words - 1) AS DOUBLE) / n_words
        |                ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END
        |          + CASE WHEN (CASE WHEN n_words > 0
        |                THEN CAST(stop_hits AS DOUBLE) / n_words ELSE 0.0 END) > 0.01
        |                THEN 1.0 ELSE 0.0 END
        |          + CASE WHEN (CASE WHEN qn_chars > 0
        |                THEN CAST(alpha AS DOUBLE) / qn_chars ELSE 0.0 END) > 0.6
        |                THEN 1.0 ELSE 0.0 END) / 4.0 AS quality_score
        |  FROM qm
        |), rg AS (
        |  SELECT doc_id,
        |         list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
        |           i -> array_to_string(toks[i:i+1], ' ')) AS grams
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |        FROM base)
        |), rf AS (
        |  SELECT doc_id,
        |         CASE WHEN len(grams) > 0
        |              THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
        |              END AS dup_gram_frac
        |  FROM rg
        |), qual_ids AS MATERIALIZED (
        |  SELECT q.doc_id FROM qs q JOIN rf r USING (doc_id)
        |  WHERE q.quality_score >= 0.5 AND r.dup_gram_frac <= 0.5
        |), paras AS (
        |  SELECT b.doc_id,
        |         unnest(list_transform(range(1, len(string_split(b.text, chr(10))) + 1),
        |           i -> {'ord': i, 'para': string_split(b.text, chr(10))[CAST(i AS INT)]})) AS s
        |  FROM base b JOIN qual_ids USING (doc_id)
        |), pf AS (
        |  SELECT doc_id, s.para AS para, min(s.ord) AS ord FROM paras GROUP BY doc_id, s.para
        |), pc AS (
        |  SELECT doc_id, string_agg(para, chr(10) ORDER BY ord) AS text FROM pf GROUP BY doc_id
        |), quality AS MATERIALIZED (
        |  SELECT b.doc_id, b.lang, b.n_chars, pc.text
        |  FROM base b JOIN pc USING (doc_id)
        |), t AS MATERIALIZED (
        |  SELECT doc_id, lang, n_chars, text, md5(text) AS h,
        |         list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS toks
        |  FROM quality
        |), grp AS (
        |  SELECT h, min(doc_id) AS keep_id, count(*) AS cnt FROM t GROUP BY h
        |), exact_pairs AS (
        |  SELECT grp.keep_id AS id_a, t.doc_id AS id_b
        |  FROM t JOIN grp USING (h) WHERE grp.cnt > 1 AND t.doc_id <> grp.keep_id
        |), cold AS (
        |  SELECT * FROM t WHERE n_chars IN (
        |    SELECT n_chars FROM t GROUP BY n_chars HAVING count(*) <= 10000)
        |), tj_pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM cold a JOIN cold b ON a.n_chars = b.n_chars AND a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |          / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.7
        |), und AS (
        |  SELECT id_a AS u, id_b AS v FROM exact_pairs
        |  UNION SELECT id_b, id_a FROM exact_pairs
        |  UNION SELECT id_a, id_b FROM tj_pairs
        |  UNION SELECT id_b, id_a FROM tj_pairs
        |), reach AS (
        |  SELECT u AS id, u AS lbl FROM (SELECT DISTINCT u FROM und)
        |  UNION
        |  SELECT e.v AS id, r.lbl FROM reach r JOIN und e ON e.u = r.id
        |), comp AS MATERIALIZED (
        |  SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
        |), deduped AS MATERIALIZED (
        |  SELECT * FROM t
        |  WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster_id)
        |), wg AS (
        |  -- raw token SEQUENCE from the text (deduped.toks is the
        |  -- DISTINCT token set built for jaccard — wrong for windows)
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, greatest(len(wtoks) - 7, 1) + 1),
        |           i -> CAST(('0x' || substr(md5(array_to_string(wtoks[i:i+7], ' ')), 1, 15)) AS BIGINT))) AS wh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS wtoks
        |        FROM deduped)
        |), wd AS (
        |  SELECT wh, count(DISTINCT doc_id) AS nd FROM wg GROUP BY wh
        |), wstat AS (
        |  SELECT wg.doc_id,
        |         CAST(sum(CASE WHEN wd.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac
        |  FROM wg JOIN wd USING (wh) GROUP BY wg.doc_id
        |), winclean AS MATERIALIZED (
        |  SELECT * FROM deduped
        |  WHERE doc_id NOT IN (SELECT doc_id FROM wstat WHERE dup_frac > 0.8)
        |), js AS (SELECT unnest([0, 1, 2, 3]) AS j
        |), bg AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |           range(1, greatest(len(btoks) - 2, 1) + 1),
        |           i -> array_to_string(btoks[i:i+2], ' ')))) AS g
        |  FROM (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS btoks
        |        FROM documents WHERE doc_id < 20)
        |), bpos AS MATERIALIZED (
        |  SELECT DISTINCT (CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
        |       + j * CAST(('0x' || substr(md5(g), 17, 15)) AS BIGINT)) % 131072 AS pos
        |  FROM bg CROSS JOIN js
        |), cg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           range(1, greatest(len(ctoks) - 2, 1) + 1),
        |           i -> array_to_string(ctoks[i:i+2], ' ')))) AS g
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ctoks
        |        FROM winclean)
        |), cpos AS (
        |  SELECT doc_id, g, j,
        |         (CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
        |       + j * CAST(('0x' || substr(md5(g), 17, 15)) AS BIGINT)) % 131072 AS pos
        |  FROM cg CROSS JOIN js
        |), hits AS (
        |  SELECT doc_id, g FROM cpos JOIN bpos USING (pos)
        |  GROUP BY doc_id, g HAVING count(DISTINCT j) = 4
        |), flagged AS (
        |  SELECT doc_id, count(*) AS n_flagged FROM hits GROUP BY doc_id
        |), clean AS MATERIALIZED (
        |  SELECT w.* FROM winclean w LEFT JOIN flagged USING (doc_id)
        |  WHERE coalesce(n_flagged, 0) < 10
        |), lc AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM clean GROUP BY lang
        |), lw AS (
        |  SELECT lang, cnt, CAST(floor(sqrt(cnt)) AS BIGINT) AS wt FROM lc
        |), ls AS (SELECT CAST(sum(wt) AS BIGINT) AS sw FROM lw
        |), tgt AS (
        |  SELECT greatest(1, (CAST(count(*) AS BIGINT) * 8) // 10) AS t FROM clean
        |), cuts AS (
        |  SELECT lang, least(10000, (10000 * t * wt) // (sw * cnt)) AS cutoff
        |  FROM lw CROSS JOIN ls CROSS JOIN tgt
        |), balanced AS MATERIALIZED (
        |  SELECT c.* FROM clean c JOIN cuts USING (lang)
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':demo'), 1, 15)) AS BIGINT)
        |          % 10000 < cutoff
        |)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage_ord, 'input' AS stage,
        |         (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_docs
        |  UNION ALL SELECT 1, 'quality_gate', (SELECT count(*) FROM quality)
        |  UNION ALL SELECT 2, 'dedup_purge', (SELECT count(*) FROM deduped)
        |  UNION ALL SELECT 3, 'window_dedup', (SELECT count(*) FROM winclean)
        |  UNION ALL SELECT 4, 'decontaminate', (SELECT count(*) FROM clean)
        |  UNION ALL SELECT 5, 'rebalance', (SELECT count(*) FROM balanced)
        |  UNION ALL SELECT 6, 'packed', (SELECT count(*) FROM balanced)
        |) ORDER BY stage_ord""".stripMargin)

  /** Connected components replayed in DuckDB: the SAME pair sources as
    * the Spark side (exact-dup star pairs + the hot-block-guarded
    * token-jaccard pairs of q_dedup_token_jaccard), then min-label
    * reachability as a recursive CTE (UNION dedups rows, so the
    * fixpoint is the transitive closure — Σ component² rows, fine at
    * oracle scale; the Spark side's star contraction is the form that
    * scales).  `comp` maps every non-isolated doc to its component
    * minimum.
    */
  /** CC replay over the SAME edge set the Spark side clusters: exact
    * md5 groups + the banded-minhash near pairs (XXH64 replay — the
    * banding, not just the verify, must agree for the pair set to
    * match), then label propagation as a recursive CTE.
    */
  private lazy val clusterCtes: String =
    s"""WITH RECURSIVE ex AS (
      |  SELECT doc_id, md5(text) AS h FROM documents
      |), grp AS (
      |  SELECT h, min(doc_id) AS keep_id, count(*) AS cnt FROM ex GROUP BY h
      |), exact_pairs AS (
      |  SELECT grp.keep_id AS id_a, ex.doc_id AS id_b
      |  FROM ex JOIN grp USING (h) WHERE grp.cnt > 1 AND ex.doc_id <> grp.keep_id
      |), ${OracleXxh64.minhashPairsCtes(numHashes = 32, bands = 8, threshold = 0.7)}, und AS (
      |  SELECT id_a AS u, id_b AS v FROM exact_pairs
      |  UNION SELECT id_b, id_a FROM exact_pairs
      |  UNION SELECT id_a, id_b FROM mh_pairs
      |  UNION SELECT id_b, id_a FROM mh_pairs
      |), reach AS (
      |  SELECT u AS id, u AS lbl FROM (SELECT DISTINCT u FROM und)
      |  UNION
      |  SELECT e.v AS id, r.lbl FROM reach r JOIN und e ON e.u = r.id
      |), comp AS (
      |  SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
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

  /** Sign-LSH bucket as DuckDB SQL: one CASE per hyperplane, using the
    * SAME deterministic-LCG hyperplane literals SimilarityOps ships, so
    * both engines compute bit-identical bucket ids (the dot products
    * are the same sequential fold; a sign can only differ if the bits
    * differ).
    */
  private def lshPairsOracleSql(bits: Int, dim: Int, threshold: Double): String = {
    val bucketExpr = graft.ops.SimilarityOps.hyperplanes(bits, dim).zipWithIndex
      .map { case (h, i) =>
        val arr = h.map(dlit).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("\n       + ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |         $bucketExpr AS bucket
       |  FROM e WHERE sqrt(list_dot_product(v, v)) > 0
       |)
       |SELECT a.vec_id AS id_a, c.vec_id AS id_b
       |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |WHERE list_dot_product(a.v, c.v) / (a.nrm * c.nrm) >= ${dlit(threshold)}
       |ORDER BY id_a, id_b""".stripMargin
  }

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

  /** `lshTopK` as DuckDB SQL: same hyperplane-literal buckets as
    * [[lshPairsOracleSql]], the multi-probe list (own bucket + every
    * 1-bit flip) via unnest, and the identical
    * (cosine DESC, corpus_id ASC) rank window.  Each corpus vector has
    * exactly one bucket and the probe list per query is distinct, so
    * the probe join cannot duplicate a candidate.
    */
  private def lshTopKOracleSql(bits: Int, dim: Int, k: Int): String = {
    val bucketExpr = graft.ops.SimilarityOps.hyperplanes(bits, dim).zipWithIndex
      .map { case (h, i) =>
        val arr = h.map(dlit).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("\n       + ")
    val probes = ("bucket" +: (0 until bits).map(i => s"xor(bucket, ${1L << i})"))
      .mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |         $bucketExpr AS bucket
       |  FROM e WHERE sqrt(list_dot_product(v, v)) > 0
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv, nrm AS qn,
       |         unnest([$probes]) AS bucket
       |  FROM b WHERE vec_id < 8
       |), s AS (
       |  SELECT q.query_id, c.vec_id AS corpus_id,
       |         list_dot_product(c.v, q.qv) / (c.nrm * q.qn) AS cosine
       |  FROM b c JOIN q ON c.bucket = q.bucket
       |), r AS (
       |  SELECT query_id, corpus_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cosine DESC, corpus_id) AS BIGINT) AS rank
       |  FROM s)
       |SELECT query_id, corpus_id, cosine, rank FROM r
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** The deterministic-centroid IVF fixture for the verify SF
    * (tools: `sbt "runMain graft.GenIvfCentroids"`).  Not a second
    * source of truth — the centroid derivation is bit-deterministic
    * and OpsSpec pins runtime == fixture; the fixture exists so the
    * oracle SQL can embed the literals without a SparkSession.
    */
  private lazy val ivfCentroidsSf001: Array[Array[Double]] = {
    val t = Golden.load("sf0.01_ivf_centroids.json")
    t.rows.sortBy(_.head.asInstanceOf[Double])
      .map(_.drop(1).map(_.asInstanceOf[Double]).toArray).toArray
  }

  /** The AUTO-geometry centroid fixture for the verify SF: the same
    * derivation at `autoCells(500) = 22` cells (tools:
    * `sbt "runMain graft.GenIvfCentroids <sf> <out> 22"`).  OpsSpec
    * pins runtime == fixture, same contract as [[ivfCentroidsSf001]].
    */
  private lazy val ivfCentroidsSf001Auto: Array[Array[Double]] = {
    val t = Golden.load("sf0.01_ivf_centroids_auto.json")
    t.rows.sortBy(_.head.asInstanceOf[Double])
      .map(_.drop(1).map(_.asInstanceOf[Double]).toArray).toArray
  }

  /** The FULL-CORPUS distributed-Lloyd centroid fixture (tools:
    * `sbt "runMain graft.GenDistCentroids"`).  Same contract as
    * [[ivfCentroidsSf001]]: OpsSpec pins runtime == fixture.
    */
  private lazy val distCentroidsSf001: Array[Array[Double]] = {
    val t = Golden.load("sf0.01_dist_centroids.json")
    t.rows.sortBy(_.head.asInstanceOf[Double])
      .map(_.drop(1).map(_.asInstanceOf[Double]).toArray).toArray
  }

  /** `ivfTopKWithCentroids` as DuckDB SQL: the same centroid literals
    * (`dlit`-printed, so both engines strtod the same bits), the same
    * `||c||² − 2·v·c` scores (the `||c||²` term is the same
    * driver-computed literal), nearest-cell assignment via a sorted
    * struct list (struct comparison is field-lexicographic in BOTH
    * engines: score, then cell — identical tie-break), the nProbe
    * probe list via unnest, and the identical
    * (cosine DESC, corpus_id ASC) rank window.
    */
  /** The `||c||² − 2·v·c` nearest-cell struct list as DuckDB SQL —
    * shared by every oracle that replays a centroid-literal
    * assignment (IVF top-k, semantic dedup).
    */
  private def centroidStructList(
      centroids: Array[Array[Double]], vecExpr: String): String =
    centroids.zipWithIndex.map { case (cent, i) =>
      val arr = cent.map(dlit).mkString("[", ", ", "]")
      val c2 = dlit(graft.ops.SimilarityOps.sumSquares(cent))
      s"{'score': $c2 - 2.0E0 * list_dot_product($vecExpr, $arr), 'cell': $i}"
    }.mkString(",\n            ")

  /** The deterministic PQ codebook fixture for the verify SF
    * (tools: `sbt "runMain graft.GenPqCodebooks"`).  Same contract as
    * [[ivfCentroidsSf001]]: OpsSpec pins runtime == fixture.
    */
  private lazy val pqCodebooksSf001: Array[Array[Array[Double]]] = {
    val t = Golden.load("sf0.01_pq_codebooks.json")
    t.rows
      .groupBy(_.head.asInstanceOf[Double])
      .toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        rs.sortBy(_(1).asInstanceOf[Double])
          .map(_.drop(2).map(_.asInstanceOf[Double]).toArray).toArray
      }.toArray
  }

  /** PQ encode as DuckDB SQL: per-subspace argmin over the (score,
    * code) struct list built from the SAME codebook literals the
    * Spark plan ships (`||cw||² − 2·v_s·cw` ranks like squared L2 —
    * the [[centroidStructList]] pattern per subspace).
    */
  private def pqCodesSql(cbs: Array[Array[Array[Double]]], vecExpr: String): String = {
    val sub = cbs.head.head.length
    (0 until cbs.length).map { s =>
      val lo = s * sub + 1
      val hi = s * sub + sub
      val structs = cbs(s).zipWithIndex.map { case (cw, j) =>
        val arr = cw.map(dlit).mkString("[", ", ", "]")
        val c2 = dlit(graft.ops.SimilarityOps.sumSquares(cw))
        s"{'score': $c2 - 2.0E0 * list_dot_product($vecExpr[$lo:$hi], $arr), 'code': $j}"
      }.mkString(",\n              ")
      s"(list_sort([$structs]))[1].code"
    }.mkString("[", ",\n           ", "]")
  }

  /** `SimilarityOps.pqTopKADC` as DuckDB SQL: the same codebook
    * literals, the same per-subspace argmin codes, and the same ADC
    * accumulation `||q_s||² − 2·q_s·cw + ||cw||²` summed left-to-right
    * over subspaces — every piece a literal (dlit round-trip) or a
    * sequential dot fold, so the float scores match bit-for-bit.
    */
  private def pqTopKOracleSql(cbs: Array[Array[Array[Double]]], k: Int): String = {
    val m = cbs.length
    val sub = cbs.head.head.length
    // per-subspace ADC term against a code column: q-side dots stay
    // DATA (the oracle recomputes them from the same embeddings rows),
    // cw reconstruction + ||cw||² come from literals indexed by code
    val terms = (0 until m).map { s =>
      val lo = s * sub + 1
      val hi = s * sub + sub
      val cwList = cbs(s).map(_.map(dlit).mkString("[", ", ", "]"))
        .mkString("[", ",\n              ", "]")
      val cw2List = cbs(s).map(cw =>
        dlit(graft.ops.SimilarityOps.sumSquares(cw))).mkString("[", ", ", "]")
      s"""(list_dot_product(q.qv[$lo:$hi], q.qv[$lo:$hi])
         |            - 2.0E0 * list_dot_product(q.qv[$lo:$hi], ($cwList)[c.codes[${s + 1}] + 1])
         |            + ($cw2List)[c.codes[${s + 1}] + 1])""".stripMargin
    }.mkString("\n          + ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id, v FROM e WHERE sqrt(list_dot_product(v, v)) > 0
       |), c AS (
       |  SELECT vec_id, ${pqCodesSql(cbs, "v")} AS codes
       |  FROM b
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv FROM b WHERE vec_id < 8
       |), s AS (
       |  SELECT q.query_id, c.vec_id AS corpus_id,
       |         $terms AS adc
       |  FROM c CROSS JOIN q
       |), r AS (
       |  SELECT query_id, corpus_id, adc,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY adc ASC, corpus_id) AS BIGINT) AS rank
       |  FROM s)
       |SELECT query_id, corpus_id, adc, rank FROM r
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** `SimilarityOps.ivfPqTopK` as DuckDB SQL: the IVF oracle's
    * cell-assignment/probe CTEs + the PQ oracle's code argmin and ADC
    * terms, joined on the probed cell — the composition replays
    * because both halves do.  `refine > 0` appends the exact-re-rank
    * replay: the ADC ranking keeps a `k·refine` shortlist (the ADC
    * floats are bit-identical across engines, so the CUT is
    * replayable), then true cosine — the same left-fold dot product
    * every exact oracle uses — re-ranks it to the final k.
    */
  private def ivfPqOracleSql(
      centroids: Array[Array[Double]],
      cbs: Array[Array[Array[Double]]], nProbe: Int, k: Int,
      refine: Int = 0): String = {
    val m = cbs.length
    val sub = cbs.head.head.length
    val terms = (0 until m).map { s =>
      val lo = s * sub + 1
      val hi = s * sub + sub
      val cwList = cbs(s).map(_.map(dlit).mkString("[", ", ", "]"))
        .mkString("[", ",\n              ", "]")
      val cw2List = cbs(s).map(cw =>
        dlit(graft.ops.SimilarityOps.sumSquares(cw))).mkString("[", ", ", "]")
      s"""(list_dot_product(q.qv[$lo:$hi], q.qv[$lo:$hi])
         |            - 2.0E0 * list_dot_product(q.qv[$lo:$hi], ($cwList)[a.codes[${s + 1}] + 1])
         |            + ($cw2List)[a.codes[${s + 1}] + 1])""".stripMargin
    }.mkString("\n          + ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id, v FROM e WHERE sqrt(list_dot_product(v, v)) > 0
       |), a AS (
       |  SELECT vec_id, v,
       |         (list_sort([${centroidStructList(centroids, "v")}]))[1].cell AS cell,
       |         ${pqCodesSql(cbs, "v")} AS codes
       |  FROM b
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv,
       |         unnest(list_transform(
       |           (list_sort([${centroidStructList(centroids, "v")}]))[1:$nProbe],
       |           s -> s.cell)) AS cell
       |  FROM b WHERE vec_id < 8
       |), s AS (
       |  SELECT q.query_id, a.vec_id AS corpus_id,
       |         $terms AS adc
       |  FROM a JOIN q USING (cell)
       |), r AS (
       |  SELECT query_id, corpus_id, adc,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY adc ASC, corpus_id) AS BIGINT) AS rank
       |  FROM s)
       |${
      if (refine <= 0)
        s"""SELECT query_id, corpus_id, adc, rank FROM r
           |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
      else
        s"""SELECT f.query_id, f.corpus_id, f.cosine, f.rank FROM (
           |  SELECT x.query_id, x.corpus_id, x.cosine,
           |         CAST(row_number() OVER (PARTITION BY x.query_id
           |              ORDER BY x.cosine DESC, x.corpus_id) AS BIGINT) AS rank
           |  FROM (
           |    SELECT sl.query_id, sl.corpus_id,
           |           list_dot_product(c.v, qq.v)
           |             / (sqrt(list_dot_product(c.v, c.v))
           |                * sqrt(list_dot_product(qq.v, qq.v))) AS cosine
           |    FROM (SELECT query_id, corpus_id FROM r
           |          WHERE rank <= ${k * refine}) sl
           |    JOIN b c ON c.vec_id = sl.corpus_id
           |    JOIN b qq ON qq.vec_id = sl.query_id) x) f
           |WHERE f.rank <= $k ORDER BY f.query_id, f.rank""".stripMargin
    }""".stripMargin
  }

  /** `SimilarityOps.randomProject` as DuckDB SQL: one
    * `list_dot_product` against each literal sign row — both engines
    * fold the dot sequentially, so the doubles match bit-for-bit.
    */
  private def randProjOracleSql(matrix: Array[Array[Double]]): String = {
    val cols = matrix.zipWithIndex.map { case (row, j) =>
      s"list_dot_product(v, ${row.map(dlit).mkString("[", ", ", "]")}) AS p$j"
    }.mkString(",\n       ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings)
       |SELECT vec_id,
       |       $cols
       |FROM e ORDER BY vec_id""".stripMargin
  }

  /** The deterministic PCA fixture for the verify SF (tools:
    * `sbt "runMain graft.GenPcaBasis"`).  Row 0 = mean, rows 1..k =
    * eigenvalue-ordered sign-canonical axes; same not-a-second-truth
    * contract as [[ivfCentroidsSf001]] (OpsSpec pins runtime ==
    * fixture).
    */
  private lazy val pcaBasisSf001: (Array[Double], Array[Array[Double]]) = {
    val t = Golden.load("sf0.01_pca_basis.json")
    val rows = t.rows.sortBy(_.head.asInstanceOf[Double])
      .map(_.drop(1).map(_.asInstanceOf[Double]).toArray)
    (rows.head, rows.tail.toArray)
  }

  /** `SimilarityOps.pcaProject` as DuckDB SQL: per axis one
    * `list_dot_product` against the basis literal minus the
    * driver-folded `mean·axis` offset literal — the randProj replay
    * shape plus one IEEE subtraction, so the doubles match
    * bit-for-bit.
    */
  private def pcaOracleSql(
      mean: Array[Double], basis: Array[Array[Double]]): String = {
    val offsets = SimilarityOps.pcaOffsets(mean, basis)
    val cols = basis.zip(offsets).zipWithIndex.map { case ((b, off), j) =>
      s"list_dot_product(v, ${b.map(dlit).mkString("[", ", ", "]")}) - ${dlit(off)} AS p$j"
    }.mkString(",\n       ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings)
       |SELECT vec_id,
       |       $cols
       |FROM e ORDER BY vec_id""".stripMargin
  }

  /** `SimilarityOps.semanticDupDrops` as DuckDB SQL: centroid-literal
    * nearest-cell assignment (the IVF oracle's struct sort), hot-cell
    * exclusion, the within-cell `lower id × cosine ≥ t` pair rule, and
    * the per-dropped-vector (count, max) rollup.
    */
  private def semanticDedupOracleSql(
      centroids: Array[Array[Double]], cosThreshold: Double, maxCell: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
       |  FROM e WHERE v IS NOT NULL AND sqrt(list_dot_product(v, v)) > 0
       |), a AS (
       |  SELECT vec_id, v, nrm,
       |         (list_sort([${centroidStructList(centroids, "v")}]))[1].cell AS cell
       |  FROM b
       |), h AS (
       |  SELECT cell FROM a GROUP BY cell HAVING count(*) > $maxCell
       |), c AS (
       |  SELECT * FROM a WHERE cell NOT IN (SELECT cell FROM h)
       |), p AS (
       |  SELECT l.cell AS cell, r.vec_id AS dup_id,
       |         list_dot_product(l.v, r.v) / (l.nrm * r.nrm) AS cosine
       |  FROM c l JOIN c r ON l.cell = r.cell AND l.vec_id < r.vec_id
       |)
       |SELECT dup_id AS vec_id, CAST(cell AS BIGINT) AS cell,
       |       CAST(count(*) AS BIGINT) AS n_near, max(cosine) AS max_cosine
       |FROM p WHERE cosine >= ${dlit(cosThreshold)}
       |GROUP BY dup_id, cell ORDER BY vec_id""".stripMargin

  private def ivfTopKOracleSql(
      centroids: Array[Array[Double]], nProbe: Int, k: Int): String = {
    def structList(vecExpr: String): String =
      centroidStructList(centroids, vecExpr)
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
       |  FROM e WHERE sqrt(list_dot_product(v, v)) > 0
       |), a AS (
       |  SELECT vec_id, v, nrm,
       |         (list_sort([${structList("v")}]))[1].cell AS cell
       |  FROM b
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv, nrm AS qn,
       |         unnest(list_transform(
       |           (list_sort([${structList("v")}]))[1:$nProbe],
       |           s -> s.cell)) AS cell
       |  FROM b WHERE vec_id < 8
       |), s AS (
       |  SELECT q.query_id, a.vec_id AS corpus_id,
       |         list_dot_product(a.v, q.qv) / (a.nrm * q.qn) AS cosine
       |  FROM a JOIN q USING (cell)
       |), r AS (
       |  SELECT query_id, corpus_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cosine DESC, corpus_id) AS BIGINT) AS rank
       |  FROM s)
       |SELECT query_id, corpus_id, cosine, rank FROM r
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** The incremental minhash-store probe (IncrementalDedup
    * .minhashDupsAgainstStore, portable flavor) in DuckDB: identical
    * signatures/banding to [[minhashPortableOracleSql]], but the
    * candidate join is STORE (doc_id < splitId) vs BATCH (doc_id >=
    * splitId), and the verify is the signature-AGREEMENT estimate —
    * count of equal components / numHashes, an exact small-int
    * division by a power of two, so even the float column is
    * bit-identical across engines.
    */
  private def incrMinhashOracleSql(
      numHashes: Int, bands: Int, splitId: Long, threshold: Double): String = {
    val rows = numHashes / bands
    val bigP = 2147483647L
    val sigExprs = graft.ops.DedupOps.hashParams(numHashes).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> ($a * h + $b) % $bigP))"
    }.mkString(",\n           ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents
       |), shing AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           range(1, greatest(len(toks) - 2, 1) + 1),
       |           i -> array_to_string(toks[i:i+2], ' '))) AS sh
       |  FROM t
       |), hashed AS (
       |  SELECT doc_id, sh,
       |         list_transform(sh, s ->
       |           CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % $bigP) AS hs
       |  FROM shing
       |), sigs AS (
       |  SELECT doc_id,
       |         [$sigExprs] AS sig
       |  FROM hashed
       |), banded AS (
       |  SELECT doc_id, u.b,
       |         array_to_string(sig[u.b*$rows+1 : u.b*$rows+$rows], ',') AS band_key
       |  FROM sigs, (SELECT unnest(range($bands)) AS b) u
       |), cand AS (
       |  SELECT DISTINCT p.doc_id AS doc_id, st.doc_id AS dup_of
       |  FROM banded p JOIN banded st
       |    ON p.b = st.b AND p.band_key = st.band_key
       |  WHERE p.doc_id >= $splitId AND st.doc_id < $splitId
       |)
       |SELECT doc_id, dup_of, est_jaccard FROM (
       |  SELECT cand.doc_id, cand.dup_of,
       |         CAST(list_sum(list_transform(range(1, $numHashes + 1),
       |              i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END))
       |           AS DOUBLE) / $numHashes AS est_jaccard
       |  FROM cand JOIN sigs x ON x.doc_id = cand.doc_id
       |            JOIN sigs y ON y.doc_id = cand.dup_of) v
       |WHERE est_jaccard >= ${dlit(threshold)}
       |ORDER BY doc_id, dup_of""".stripMargin
  }

  /** The `portableHash` minhash pipeline recomputed end-to-end in
    * DuckDB: word 3-shingles, md5-derived 60-bit base hashes mod P,
    * the 32 (a·h+b) mod P signature minima from the SAME LCG (a,b)
    * literals DedupOps ships, comma-joined band keys, the band
    * self-join, and the exact-Jaccard verify.  Every intermediate is
    * integer arithmetic, so both engines agree bit-for-bit; only the
    * final jaccard ratio is float (an exact division of two small
    * ints, identical in both).
    */
  private def minhashPortableOracleSql(
      numHashes: Int, bands: Int, threshold: Double): String = {
    val rows = numHashes / bands
    val bigP = 2147483647L
    val sigExprs = graft.ops.DedupOps.hashParams(numHashes).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> ($a * h + $b) % $bigP))"
    }.mkString(",\n           ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents
       |), shing AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           range(1, greatest(len(toks) - 2, 1) + 1),
       |           i -> array_to_string(toks[i:i+2], ' '))) AS sh
       |  FROM t
       |), hashed AS (
       |  SELECT doc_id, sh,
       |         list_transform(sh, s ->
       |           CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % $bigP) AS hs
       |  FROM shing
       |), sigs AS (
       |  SELECT doc_id,
       |         [$sigExprs] AS sig
       |  FROM hashed
       |), banded AS (
       |  SELECT doc_id, u.b,
       |         array_to_string(sig[u.b*$rows+1 : u.b*$rows+$rows], ',') AS band_key
       |  FROM sigs, (SELECT unnest(range($bands)) AS b) u
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM banded a JOIN banded c
       |    ON a.b = c.b AND a.band_key = c.band_key AND a.doc_id < c.doc_id
       |)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT cand.id_a, cand.id_b,
       |         CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |           / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
       |  FROM cand JOIN shing x ON x.doc_id = cand.id_a
       |            JOIN shing y ON y.doc_id = cand.id_b) v
       |WHERE jaccard >= ${dlit(threshold)}
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The `portableHash` simhash pipeline in DuckDB: per-token-occurrence
    * md5-derived 60-bit hashes, the 60 per-bit ±1 majority votes,
    * 4×15-bit chunk blocking with the same hot-bucket cap, distinct
    * pairs, bit_count(xor) ≤ maxHamming.  All-integer — exact.
    * Docs with zero tokens vanish in both engines (Spark's explode
    * emits no row; the len(toks) > 0 filter mirrors it).
    */
  private def simhashPortableOracleSql(maxHamming: Int, maxBucket: Int): String = {
    val bitVotes = (0 until 60).map { b =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $b) & 1) * 2 - 1)) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n       + ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents
       |), h AS (
       |  SELECT doc_id,
       |         list_transform(toks, t ->
       |           CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
       |  FROM t WHERE len(toks) > 0
       |), s AS (
       |  SELECT doc_id,
       |       $bitVotes AS simhash
       |  FROM h
       |), chunked AS (
       |  SELECT doc_id, simhash, u.c,
       |         (simhash >> (u.c * 15)) & 32767 AS chunk_val
       |  FROM s, (SELECT unnest(range(4)) AS c) u
       |), cold AS (
       |  SELECT ch.* FROM chunked ch
       |  JOIN (SELECT c, chunk_val FROM chunked GROUP BY c, chunk_val
       |        HAVING count(*) <= $maxBucket) ok
       |    ON ch.c = ok.c AND ch.chunk_val = ok.chunk_val
       |)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM cold a JOIN cold b
       |    ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id) p
       |WHERE hamming <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Fit-family oracles, SF-keyed to sf0.01 — the driver's verify SF.
    * (The fit output is a function of the data, so a fixture-literal
    * oracle is necessarily per-SF; every other oracle stays SF-free.)
    */
  /** Golden-literal oracle for the zlib compression-ratio signal.
    * Deflate is not SQL-expressible, but it IS deterministic for a
    * fixed level and zlib build, so the integer byte counts captured
    * once from the engine (REGRESSION PIN — same contract as the
    * prebin fixture) replay as literals and DuckDB recomputes the
    * ratio with the same single IEEE division the Scala side does.
    */
  private def compressOracleSql(
      fixture: String, sizeCol: String = "n_deflate"): String = {
    val t = Golden.load(fixture)
    val valueRows = t.rows.map { r =>
      r.map(v => s"CAST(${v.toString.toDouble.toLong} AS BIGINT)")
        .mkString("(", ", ", ")")
    }.mkString(",\n")
    s"""SELECT doc_id, n_bytes, $sizeCol,
       |       CASE WHEN n_bytes > 0
       |            THEN CAST($sizeCol AS DOUBLE) / CAST(n_bytes AS DOUBLE)
       |            ELSE 1.0 END AS ratio
       |FROM (VALUES
       |$valueRows
       |) AS t(${t.columns.mkString(", ")})
       |ORDER BY doc_id""".stripMargin
  }

  /** Golden-literal oracle for the BPE merge table.  The training loop
    * is exact-integer argmax with a total-order tie-break, so the
    * learned merges are bit-deterministic (verified across separate
    * JVM runs at capture time) — REGRESSION PIN, the prebin/compress
    * contract: an engine change that alters any merge breaks the hash.
    */
  private def bpeOracleSql(fixture: String): String = {
    val t = Golden.load(fixture)
    val valueRows = t.rows.map { r =>
      val rank = r(0).toString.toDouble.toLong
      val n = r(3).toString.toDouble.toLong
      // learned tokens are corpus-derived strings — escape quotes so a
      // merge like "'t" cannot break the literal SQL
      def q(v: Any) = "'" + v.toString.replace("'", "''") + "'"
      s"(CAST($rank AS BIGINT), ${q(r(1))}, ${q(r(2))}, CAST($n AS BIGINT))"
    }.mkString(",\n")
    s"""SELECT * FROM (VALUES
       |$valueRows
       |) AS t(merge_rank, "left", "right", n)
       |ORDER BY merge_rank""".stripMargin
  }

  /** Golden-literal oracle for the BPE ENCODE output: pure string
    * rewriting with a fixed merge table is bit-deterministic (verified
    * across separate JVM runs at capture time) — REGRESSION PIN, same
    * contract as the bpe_train/compress fixtures.
    */
  private def bpeEncodeOracleSql(fixture: String): String = {
    val t = Golden.load(fixture)
    val valueRows = t.rows.map { r =>
      val id = r(0).toString.toDouble.toLong
      val nw = r(1).toString.toDouble.toLong
      val nt = r(2).toString.toDouble.toLong
      s"(CAST($id AS BIGINT), CAST($nw AS BIGINT), CAST($nt AS BIGINT), '${r(3)}')"
    }.mkString(",\n")
    s"""SELECT * FROM (VALUES
       |$valueRows
       |) AS t(doc_id, n_words, n_bpe_tokens, bpe_md5)
       |ORDER BY doc_id""".stripMargin
  }

  /** The sf0.01-trained merge table in rank order — the engine's demo
    * tokenizer, compiled in from the [[bpeOracleSql]] fixture exactly
    * as a production pipeline compiles in its trained tokenizer.
    */
  lazy val bpeFixtureMerges: Seq[(String, String)] =
    Golden.load("sf0.01_bpe_train_m12.json").rows
      .sortBy(_(0).toString.toDouble)
      .map(r => (r(1).toString, r(2).toString))

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

  private lazy val fitOracleSqls: Map[String, String] = Map(
    "q_isotonic_calibrate" -> isotonicOracleSql("sf0.01_isotonic_quantity.json"),
    "q_bpe_train" -> bpeOracleSql("sf0.01_bpe_train_m12.json"),
    "q_bpe_encode" -> bpeEncodeOracleSql("sf0.01_bpe_encode_m12.json"),
    "q_compress_ratio" -> compressOracleSql("sf0.01_compress_ratio_l6.json"),
    "q_compress_zstd" ->
      compressOracleSql("sf0.01_compress_zstd_l3.json", "n_zstd"),
    "q_fit_bins" -> fitOracleSql("sf0.01_extendedprice_n300.json",
      "sf0.01_quantity_n300.json", "sf0.01_discount_n300.json"),
    "q_fit_default_threshold" -> fitOracleSql("sf0.01_extendedprice_n3000.json"),
    "q_fit_sentinel" -> fitOracleSql("sf0.01_quantity_sep1_n60.json"),
    "q_fit_merge_threshold" -> fitOracleSql("sf0.01_extendedprice_n300_mt0.2.json"),
    "q_fit_streaming" -> fitOracleSql("sf0.01_extendedprice_n300.json"),
    // REGRESSION PIN, not reference parity: maxDistinct pre-binning is
    // a beyond-reference approximation (the reference has no such
    // knob), so this fixture is the engine's own output, captured once
    // after verifying bit-identical results across separate JVM runs
    // (approxQuantile is deterministic for a fixed file layout).  The
    // oracle pins that determinism + any future kernel regression.
    "q_fit_prebinned" -> fitOracleSql("sf0.01_extendedprice_n300_prebin1000.json"),
    // single-column exact fit == the extendedprice fixture of q_fit_bins
    // (variables fit independently, so the 1-col and 3-col fits agree)
    "q_fit_exact" -> fitOracleSql("sf0.01_extendedprice_n300.json"),
    // per-segment fit: reference run per l_returnflag subset (the
    // manual filter-then-fit workflow fitByGroup folds into one pass)
    "q_fit_by_group" -> fitByGroupOracleSql(
      Seq("A", "N", "R").flatMap(f => Seq(
        f -> s"sf0.01_extendedprice_flag${f}_n300.json",
        f -> s"sf0.01_quantity_flag${f}_n300.json"))),
    // full-data apply: every row of the 60k-row verify SF bucketed by
    // the fixture-compiled CASE.  Only extendedprice survives the
    // transform's default IV threshold (quantity/discount IV ≈ 0
    // against the extendedprice-driven LCG target), so one bin column.
    "q_apply_bins" ->
      s"""$baseCte
         |SELECT CAST(target AS BIGINT) AS target,
         |       extendedprice, quantity, discount,
         |       ${applyWoeCase("sf0.01_extendedprice_n300.json", "extendedprice")} AS extendedprice_bin
         |FROM base""".stripMargin,
    "q_dedup_embed_lsh" -> lshPairsOracleSql(bits = 4, dim = 64, threshold = 0.4),
    "q_ann_topk_lsh" -> lshTopKOracleSql(bits = 8, dim = 64, k = 10),
    "q_ann_topk_ivf" -> ivfTopKOracleSql(ivfCentroidsSf001, nProbe = 4, k = 10),
    // same probe/rank replay, centroids from the FULL-CORPUS
    // quantized-integer-sum Lloyd (fixture literals, OpsSpec-pinned)
    "q_ann_topk_ivf_dist" ->
      ivfTopKOracleSql(distCentroidsSf001, nProbe = 4, k = 10),
    // base-build + delta-append must equal the all-at-once index, so
    // the incremental flavor shares q_ann_topk_ivf's exact oracle
    "q_ann_topk_ivf_incr" ->
      ivfTopKOracleSql(ivfCentroidsSf001, nProbe = 4, k = 10),
    // the persisted-index flavor materializes the SAME assignment and
    // prunes to probed cells — identical result set, identical oracle
    "q_ann_topk_ivf_index" -> ivfTopKOracleSql(ivfCentroidsSf001, nProbe = 4, k = 10),
    // product-quantization replay: codebook literals → per-subspace
    // argmin codes → left-to-right ADC accumulation, bit-for-bit
    "q_ann_topk_pq" -> pqTopKOracleSql(pqCodebooksSf001, k = 10),
    "q_ann_topk_ivfpq" ->
      ivfPqOracleSql(ivfCentroidsSf001, pqCodebooksSf001, nProbe = 4, k = 10),
    // the auto-geometry flavor replays against its OWN centroid
    // literals (autoCells(500) = 22 at the oracle SF) — the oracle
    // checks the geometry the deployment knob actually picks
    "q_ann_topk_ivfpq_auto" ->
      ivfPqOracleSql(ivfCentroidsSf001Auto, pqCodebooksSf001, nProbe = 4, k = 10),
    // same shortlist replay + exact-cosine re-rank (the refine flavor)
    "q_ann_topk_ivfpq_refine" ->
      ivfPqOracleSql(ivfCentroidsSf001, pqCodebooksSf001, nProbe = 4, k = 10,
        refine = 8),
    // the hybrid persisted-index flavor materializes the same probed
    // cells, shortlist, and float fetch — identical result set,
    // identical oracle
    "q_ann_topk_ivfpq_index_refine" ->
      ivfPqOracleSql(ivfCentroidsSf001, pqCodebooksSf001, nProbe = 4, k = 10,
        refine = 8),
    // corpus-diff replay: the same synthetic revision (drop %11,
    // uppercase %7, add %13 shifted), md5 content hashes, full outer
    // join on id
    "q_corpus_diff" ->
      """WITH b AS (
        |  SELECT doc_id AS id, md5(text) AS base_md5 FROM documents
        |), rev AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 13 = 0
        |), r AS (
        |  SELECT doc_id AS id, md5(text) AS rev_md5 FROM rev)
        |SELECT coalesce(b.id, r.id) AS id,
        |       CASE WHEN b.base_md5 IS NULL THEN 'added'
        |            WHEN r.rev_md5 IS NULL THEN 'removed'
        |            WHEN b.base_md5 = r.rev_md5 THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |       b.base_md5, r.rev_md5
        |FROM b FULL OUTER JOIN r ON b.id = r.id
        |ORDER BY id""".stripMargin,
    // BPE first-merge replay: per-word adjacent char pairs, corpus
    // counts, (n desc, pair) top-k
    "q_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |           x -> x <> '')) AS w
        |  FROM documents
        |), p AS (
        |  SELECT unnest(list_transform(range(1, length(w)),
        |           i -> substr(w, CAST(i AS INT), 2))) AS pair
        |  FROM w WHERE length(w) >= 2
        |), c AS (
        |  SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY pair)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank,
        |       pair, n
        |FROM c ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    // Unicode-normalization replay: the NFC column goes through
    // DuckDB's own nfc_normalize (genuine cross-engine normalization
    // check); the NFKC column's oracle exploits that the corpus text
    // is ASCII (NFKC = identity there), so NFKC(text || suffix) =
    // text || NFKC(suffix) with the suffix's NFKC form written as a
    // literal ("café final AB" — ligature and full-width forms folded)
    "q_text_normalize" ->
      ("""SELECT doc_id,
        |       md5(nfc_normalize(text || ' cafe""" + "́ ﬁnal ＡＢ" +
        """')) AS nfc_md5,
        |       md5(text || ' caf""" + "é" + """ final AB') AS nfkc_md5
        |FROM documents ORDER BY doc_id""").stripMargin,
    // hot-key skew replay: per-key counts, (n desc, key) top-k, exact
    // integer shares
    "q_key_skew" ->
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1
        |), t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM events),
        |r AS (
        |  SELECT key, n,
        |         CAST(row_number() OVER (ORDER BY n DESC, key) AS BIGINT) AS rank,
        |         CAST(sum(n) OVER (ORDER BY n DESC, key
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
        |  FROM c)
        |SELECT r.rank, r.key, r.n,
        |       CAST(r.n AS DOUBLE) / t.total AS share,
        |       CAST(r.cum_n AS DOUBLE) / t.total AS cum_share
        |FROM r CROSS JOIN t WHERE r.rank <= 10 ORDER BY rank""".stripMargin,
    // JL sign projection: 16 literal-row dot folds (dim 64 -> 16)
    "q_rand_proj" ->
      randProjOracleSql(SimilarityOps.signProjectionMatrix(64, 16, "rp7")),
    // data-aware reduction: basis literals from the PCA fixture
    // (runtime == fixture pinned by OpsSpec, the IVF-centroid contract)
    "q_pca_project" ->
      pcaOracleSql(pcaBasisSf001._1, pcaBasisSf001._2),
    // the persisted-index flavor answers the same batch with the same
    // scores (pruned scan over stored codes) -> identical replay
    "q_ann_topk_ivfpq_index" ->
      ivfPqOracleSql(ivfCentroidsSf001, pqCodebooksSf001, nProbe = 4, k = 10),
    "q_pq_encode" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), b AS (
         |  SELECT vec_id, v FROM e WHERE sqrt(list_dot_product(v, v)) > 0
         |)
         |SELECT vec_id,
         |       array_to_string(${pqCodesSql(pqCodebooksSf001, "v")}, ',') AS code_str
         |FROM b ORDER BY vec_id""".stripMargin,
    // SemDeDup replay: the SAME centroid literals + nearest-cell
    // struct sort as the IVF oracle, then the within-cell lower-id
    // neighbor rule (count/max are order-free aggregates; the cosine
    // is the same sequential dot fold both engines share)
    "q_semantic_dedup" ->
      semanticDedupOracleSql(ivfCentroidsSf001, cosThreshold = 0.3, maxCell = 100000),
    "q_dedup_minhash_md5" ->
      minhashPortableOracleSql(numHashes = 32, bands = 8, threshold = 0.5),
    // the xxhash64 scale flavors, closed by the XXH64-in-SQL replay
    "q_dedup_minhash" ->
      OracleXxh64.minhashOracleSql(numHashes = 32, bands = 8, threshold = 0.5),
    // identical pipeline + identical pair set through the hot-band
    // grid salt — same replay
    "q_dedup_minhash_salted" ->
      OracleXxh64.minhashOracleSql(numHashes = 32, bands = 8, threshold = 0.5),
    "q_dedup_simhash" ->
      OracleXxh64.simhashOracleSql(maxHamming = 3, maxBucket = 10000),
    // incremental-dedup store probes: the exact store keyed on md5
    // content (probe = re-ingest detection over doc_id >= 250), and
    // the minhash store probe with signature-agreement verify
    // erasure replay: a from-scratch rebuild of the filtered corpus —
    // the engine's INCREMENTAL store patch must equal it exactly
    "q_erasure" ->
      """SELECT md5(text) AS content_hash,
        |       CAST(min(doc_id) AS BIGINT) AS keep_id
        |FROM documents WHERE doc_id % 13 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_incr_dedup_exact" ->
      """WITH store AS (
        |  SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id
        |  FROM documents GROUP BY md5(text))
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, s.keep_id AS dup_of
        |FROM documents d JOIN store s ON md5(d.text) = s.h
        |WHERE d.doc_id >= 250 ORDER BY doc_id, dup_of""".stripMargin,
    "q_incr_dedup_minhash_md5" ->
      incrMinhashOracleSql(numHashes = 32, bands = 8, splitId = 250L,
        threshold = 0.5),
    // winnowing replay: same char 8-grams, md5-60bit gram hashes,
    // window-of-16 minima, distinct; summaries are all order-free
    "q_doc_winnow_md5" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |           i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 8)), 1, 15)) AS BIGINT)) AS grams
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, greatest(len(grams) - 15, 1) + 1),
        |           i -> list_min(grams[i:i+15]))) AS fps
        |  FROM g)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
        |       list_min(fps) AS fp_min, list_max(fps) AS fp_max,
        |       list_reduce(fps, (a, b) -> xor(a, b)) AS fp_xor
        |FROM f ORDER BY doc_id""".stripMargin,
    // int8 quantization replay: scale is an exact max (order-free), the
    // quantized values are floor(x/scale + 0.5) in both engines, and
    // the fidelity cosine uses the same sequential dot fold
    "q_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), s AS (
        |  SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |  FROM e
        |), q AS (
        |  SELECT vec_id, v, scale,
        |         CASE WHEN scale > 0
        |              THEN list_transform(v, x -> floor(x / scale + 0.5))
        |              ELSE list_transform(v, x -> 0.0) END AS qv
        |  FROM s)
        |SELECT vec_id, scale,
        |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_abs_sum,
        |       CASE WHEN scale > 0
        |            THEN list_dot_product(qv, v)
        |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
        |            END AS q_cosine
        |FROM q ORDER BY vec_id""".stripMargin,
    "q_dedup_simhash_md5" ->
      simhashPortableOracleSql(maxHamming = 3, maxBucket = 10000),
    // honest multimodal features only: items, payload bytes, and one
    // byte-histogram bucket (bucket 6 = bytes 0x60-0x6f), recomputed
    // byte-for-byte in DuckDB via the hex dump of the UTF-8 payload —
    // the fabricated decode dims stay out of the oracle surface
    "q_multimodal_features" ->
      """WITH m AS (
        |  SELECT 'text/' || lang AS kind,
        |         octet_length(encode(text)) AS n_bytes,
        |         len(list_filter(regexp_extract_all(hex(encode(text)), '..'),
        |             p -> p[1] = '6')) AS hist6
        |  FROM documents)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |       CAST(sum(hist6) AS BIGINT) AS hist_bucket6_total
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin)

  /** q_doc_chunk / q_bm25 parameters, single-sourced for the Spark
    * query and its oracle (terms picked from the synthetic vocabulary;
    * mid-frequency so tf, df and dl all vary).  Declared BEFORE
    * sharedDocSql: object vals initialize in order, and the oracle SQL
    * interpolates these.
    */
  private val chunkWindow = 32
  private val chunkStride = 16
  private val bm25Terms = Seq("join", "scan", "window")
  private val bm25K1 = 1.2
  private val bm25B = 0.75
  private val postingTerms = Seq("part", "spark", "table")
  private val phraseTerms = Seq("table", "part")
  private val quantilePs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
  private val winsorLo = 0.05
  private val winsorHi = 0.95
  private val shuffleEpoch = 3
  private val shuffleShards = 8

  /** One oracle text for both phrase-query flavors (scan + indexed):
    * start positions i with toks[i]=w0 ∧ toks[i+1]=w1, 1-based.
    */
  private lazy val phraseOracleSql: String = {
    val Seq(w0, w1) = phraseTerms
    s"""WITH s AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |m AS (SELECT doc_id,
       |        list_filter(range(1, len(toks)),
       |          i -> toks[i] = '$w0' AND toks[i+1] = '$w1') AS starts
       |      FROM s)
       |SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_matches,
       |       CAST(list_min(starts) AS BIGINT) AS first_pos
       |FROM m WHERE len(starts) > 0 ORDER BY doc_id""".stripMargin
  }

  /** The q_blocklist_match pattern list, single-sourced for the Spark
    * side and the oracle.  All entries are borderless strings (see the
    * oracle comment); mixes whole vocabulary words, cross-token
    * phrases, and intra-token substrings.  Declared BEFORE
    * [[sharedDocSql]], which interpolates it eagerly.
    */
  private[graft] val blockPatterns: Seq[String] = Seq(
    "spark", "merge", "filter", "dup", "row", "an", "ta",
    "slow scan", "big table", "key value")

  /** DuckDB CTE producing the CDC chunk spans of TextOps.cdcChunks
    * (window 8, divisor 64) — shared by the chunk and chunk-dedup
    * oracles.  `ch` yields (doc_id, start, len, text).  The boundary
    * rule replays CdcBoundaries' closed form positionally:
    * h(i) = Σ_j gear(char at i−j) << j, gear = Knuth-multiplicative
    * mod 1048573 — what the engine computes ROLLING, one update per
    * char.
    */
  private val cdcChunkCte: String =
    """WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
      |b AS (SELECT doc_id, text, n,
      |        list_filter(range(8, n + 1),
      |          i -> list_sum(list_transform(range(0, 8),
      |                 j -> ((CAST(ascii(substr(text, CAST(i - j AS INT), 1))
      |                         AS BIGINT) * 2654435761) % 1048573) << j))
      |               % 64 = 0) AS bounds
      |      FROM t),
      |s AS (SELECT doc_id, text,
      |        list_prepend(CAST(0 AS BIGINT), bounds) AS st,
      |        list_append(bounds, n) AS en FROM b),
      |u AS (SELECT doc_id, text, unnest(range(1, len(st) + 1)) AS k, st, en
      |      FROM s),
      |ch AS (SELECT doc_id, st[k] + 1 AS start, en[k] - st[k] AS len, text
      |       FROM u WHERE en[k] > st[k])
      |""".stripMargin

  /** Shared-dialect oracles over documents (same text, both engines). */
  /** q_jsonl_shard's oracle — shared verbatim by the .jsonl.zst
    * flavor (compression must be invisible to the record table).
    * Lines are pure ASCII by synthesis, so offsets replay as
    * octet_length running sums; the (doc_id + k) % 7 malformed arm
    * drops the closing brace, so its parse columns quarantine.
    */
  private val jsonlShardOracleSql: String =
    s"""WITH px AS (
      |  SELECT doc_id, octet_length(encode(text)) AS tn, 1 + doc_id % 4 AS ns
      |  FROM documents),
      |ks AS (SELECT doc_id, tn, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
      |m AS (
      |  SELECT doc_id, k,
      |         tn // ns + CASE WHEN k < tn % ns THEN 1 ELSE 0 END AS take,
      |         (doc_id + k) % 7 = 0 AS bad
      |  FROM ks),
      |l AS (
      |  SELECT doc_id, k, take, bad,
      |         '{"id":"' || CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR) ||
      |           '","seq":' || CAST(k AS VARCHAR) || ',"n":' ||
      |           CAST(take AS VARCHAR) || '}' AS fl
      |  FROM m),
      |l2 AS (
      |  SELECT doc_id, k, take, bad,
      |         CASE WHEN bad THEN substr(fl, 1, length(fl) - 1)
      |              ELSE fl END AS line
      |  FROM l),
      |o AS (
      |  SELECT doc_id, k, take, bad,
      |         octet_length(encode(line)) AS lb,
      |         coalesce(sum(octet_length(encode(line)) + 1)
      |           OVER (PARTITION BY doc_id ORDER BY k
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM l2)
      |SELECT doc_id,
      |       CAST(k AS BIGINT) AS rec_idx,
      |       CAST(off AS BIGINT) AS offset,
      |       CAST(lb AS BIGINT) AS n_bytes,
      |       CASE WHEN bad THEN ''
      |            ELSE CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR) END AS rec_id,
      |       CAST(CASE WHEN bad THEN -1 ELSE take END AS BIGINT) AS n,
      |       CAST(NOT bad AS BIGINT) AS valid
      |FROM o ORDER BY doc_id, rec_idx""".stripMargin

  /** The EXIF field oracle — shared verbatim by q_multimodal_tiff:
    * a standalone .tif file is exactly the TIFF block APP1 carries,
    * so the JPEG-wrapped and bare flavors must census identically
    * (the two-physical-paths-one-oracle pattern).
    */
  private val exifFieldsOracleSql: String =
      s"""SELECT doc_id,
        |       CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
        |       'C' || CAST(doc_id % 5 AS VARCHAR) AS make,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END AS BIGINT) AS has_gps,
        |       CASE WHEN doc_id % 4 = 0 THEN '' WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END AS lat_ref,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id % 90 END AS BIGINT) AS lat_deg,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id % 60 END AS BIGINT) AS lat_min,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id * 7 % 60 END AS BIGINT) AS lat_sec,
        |       CASE WHEN doc_id % 4 = 0 THEN '' WHEN (doc_id // 2) % 2 = 0 THEN 'E' ELSE 'W' END AS lon_ref,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id % 180 END AS BIGINT) AS lon_deg,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id * 3 % 60 END AS BIGINT) AS lon_min,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id * 11 % 60 END AS BIGINT) AS lon_sec
        |FROM documents ORDER BY doc_id""".stripMargin

  /** q_warc_cdx's oracle — shared verbatim by the streaming flavor
    * (q_warc_cdx_stream): the drained stream must equal the batch
    * census row-for-row, the two-physical-paths-one-oracle pattern.
    */
  private val warcCdxOracleSql: String =

      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 3 AS ns
        |  FROM documents),
        |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
        |m AS (
        |  SELECT doc_id, k,
        |         CASE k % 3 WHEN 0 THEN 'response' WHEN 1 THEN 'request'
        |                    ELSE 'metadata' END AS typ,
        |         'https://example.com/' || CAST(doc_id AS VARCHAR) || '/' ||
        |           CAST(k AS VARCHAR) AS uri,
        |         n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END AS len
        |  FROM ks),
        |h AS (
        |  SELECT doc_id, k, typ, uri, len,
        |         octet_length(encode(
        |           'WARC/1.0' || chr(13) || chr(10) ||
        |           'WARC-Type: ' || typ || chr(13) || chr(10) ||
        |           'WARC-Record-ID: <urn:uuid:' || lpad(CAST(doc_id AS VARCHAR), 10, '0') ||
        |             '-' || CAST(k AS VARCHAR) || '>' || chr(13) || chr(10) ||
        |           'WARC-Date: 2026-01-01T00:00:00Z' || chr(13) || chr(10) ||
        |           'WARC-Target-URI: ' || uri || chr(13) || chr(10) ||
        |           'Content-Type: text/plain' || chr(13) || chr(10) ||
        |           'Content-Length: ' || CAST(len AS VARCHAR) || chr(13) || chr(10) ||
        |           chr(13) || chr(10))) AS hb
        |  FROM m)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS rec_idx,
        |       typ AS warc_type,
        |       uri AS target_uri,
        |       CAST(hb + len + 4 AS BIGINT) AS record_bytes,
        |       CAST(len AS BIGINT) AS content_length
        |FROM h ORDER BY doc_id, rec_idx""".stripMargin

  val sharedDocSql: Map[String, String] = Map(
    // DuckDB replays the bucketed self-join un-bucketed — identical
    // rows, no Exchange claim (that lives in StorageSpec's plan test)
    "q_bucketed_join" ->
      """SELECT a.lang AS lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(a.n_chars + b.n_chars) AS BIGINT) AS sum_chars2
        |FROM documents a JOIN documents b ON a.doc_id = b.doc_id
        |GROUP BY a.lang ORDER BY lang""".stripMargin,
    "q_doc_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id",
    // positional posting replay: 1-based whitespace-token positions
    // per (term, doc) for the fixed term subset — DuckDB indexes the
    // token list by an unnested position range
    "q_inverted_postings" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks FROM s),
         |t AS (SELECT doc_id, toks[pos] AS term, pos FROM p)
         |SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
         |       CAST(min(pos) AS BIGINT) AS first_pos,
         |       CAST(max(pos) AS BIGINT) AS last_pos
         |FROM t WHERE term IN (${postingTerms.map("'" + _ + "'").mkString(", ")})
         |GROUP BY term, doc_id ORDER BY term, doc_id""".stripMargin,
    // phrase-match replay: start positions i with toks[i]=w0 ∧
    // toks[i+1]=w1 — the same integer position algebra both engines
    // run (Spark: projection scan / posting intersection)
    "q_phrase_search" -> phraseOracleSql,
    // the INDEXED flavor must agree with the scan flavor exactly —
    // one oracle text, two physical paths (bucket-pruned posting
    // probe vs corpus projection; the pruning claim lives in IndexSpec)
    "q_phrase_search_index" -> phraseOracleSql,
    // exact-percentile replay: ANSI percentile_disc/_cont semantics
    // (disc rank ⌈p·n⌉−1; cont lo+(hi−lo)·frac at (n−1)·p) — Spark
    // computes them by 4-pass radix selection, never a sort
    "q_quantiles" -> {
      val branches = quantilePs.map { p =>
        s"""SELECT CAST($p AS DOUBLE) AS p, CAST(count(*) AS BIGINT) AS n,
           |       CAST(quantile_disc(v, $p) AS BIGINT) AS q_disc,
           |       CAST(quantile_cont(v, $p) AS DOUBLE) AS q_cont FROM v""".stripMargin
      }
      s"""WITH v AS (
         |  SELECT CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |         x -> x <> '')) AS BIGINT) AS v
         |  FROM documents)
         |${branches.mkString("\nUNION ALL\n")}
         |ORDER BY p""".stripMargin
    },
    // winsorize replay: clip at the exact [p05, p95] discrete
    // percentiles of tokens-per-doc
    "q_winsorize" ->
      s"""WITH v AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |         x -> x <> '')) AS BIGINT) AS v
         |  FROM documents),
         |b AS (SELECT quantile_disc(v, $winsorLo) AS lo,
         |             quantile_disc(v, $winsorHi) AS hi FROM v)
         |SELECT doc_id, v,
         |       CAST(greatest(b.lo, least(b.hi, v)) AS BIGINT) AS clipped,
         |       (v < b.lo OR v > b.hi) AS was_clipped
         |FROM v, b ORDER BY doc_id""".stripMargin,
    // epoch-shuffle replay: the deterministic per-epoch permutation is
    // the rank of md5(id ":" epoch) — DuckDB ranks with one window,
    // Spark with the two-pass prefix scan (no global single-reducer)
    "q_epoch_shuffle" ->
      s"""WITH r AS (
         |  SELECT doc_id,
         |         CAST(row_number() OVER (
         |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':$shuffleEpoch'),
         |           doc_id) - 1 AS BIGINT) AS position
         |  FROM documents)
         |SELECT doc_id, position, position % $shuffleShards AS shard
         |FROM r ORDER BY position""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(min(doc_id) AS BIGINT) AS keep_id
        |FROM documents GROUP BY md5(text) HAVING count(*) > 1
        |ORDER BY content_hash""".stripMargin,
    // REAL BMP decode replay: the synthesized pixel region is the
    // first 192 UTF-8 bytes of the text zero-padded, so width/height/
    // n_bytes are header constants and mean/histogram are byte math
    // over the same text both engines see (hex() is uppercase, but
    // the bucket-6 prefix '6' is a digit)
    "q_multimodal_decode" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         regexp_extract_all(substr(hex(encode(text)), 1, 384), '..') AS pairs
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(16 AS BIGINT) AS width,
        |       CAST(4 AS BIGINT) AS height,
        |       CAST(246 AS BIGINT) AS n_bytes,
        |       CAST(COALESCE(list_sum(list_transform(pairs,
        |            p -> CAST(('0x' || p) AS INT))), 0) AS DOUBLE) / 192E0 AS mean_byte,
        |       CAST(len(list_filter(pairs, p -> p[1] = '6')) AS BIGINT) AS hist_bucket6
        |FROM px ORDER BY doc_id""".stripMargin,
    // REAL PNG IHDR decode replay: dims are header constants (the
    // synthesized 33-byte signature+IHDR prefix), n_bytes = 33 + text
    // bytes, and the stats region is exactly the UTF-8 text — byte
    // math over the same payload both engines see
    "q_multimodal_png" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         regexp_extract_all(hex(encode(text)), '..') AS pairs
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(24 AS BIGINT) AS width,
        |       CAST(7 AS BIGINT) AS height,
        |       CAST(33 + len(pairs) AS BIGINT) AS n_bytes,
        |       CASE WHEN len(pairs) = 0 THEN 0E0
        |            ELSE CAST(list_sum(list_transform(pairs,
        |                 p -> CAST(('0x' || p) AS INT))) AS DOUBLE) / len(pairs)
        |       END AS mean_byte,
        |       CAST(len(list_filter(pairs, p -> p[1] = '6')) AS BIGINT) AS hist_bucket6
        |FROM px ORDER BY doc_id""".stripMargin,
    // FULL PNG codec replay: the decoded pixels are a closed-form
    // function of (doc_id % 50, x, y, channel), so the oracle
    // recomputes pixel sum / identity md5 (over the lowercase hex
    // dump — same ASCII both engines) / gradient hash from arithmetic
    // alone; deflate+inflate must round-trip bit-exactly for the
    // Spark side to match.  Scanline index algebra: i = y*48 + x*3 + c
    // for w=16, h=12; the gradient grid is 15×12 (j = y*15 + x).
    "q_png_pixel_stats" -> {
      val pv = "(k*31 + ((i % 48) // 3) * 7 + (i // 48) * 13 + (i % 3) * 101) % 256"
      def gray(xExpr: String) =
        s"((k*31 + $xExpr * 7 + (j // 15) * 13) % 256 + " +
          s"(k*31 + $xExpr * 7 + (j // 15) * 13 + 101) % 256 + " +
          s"(k*31 + $xExpr * 7 + (j // 15) * 13 + 202) % 256) // 3"
      s"""WITH keys AS (
         |  SELECT DISTINCT doc_id % 50 AS k FROM documents
         |), f AS (
         |  SELECT k,
         |    list_transform(range(0, 576), i -> $pv) AS pxs,
         |    list_transform(range(0, 180), j ->
         |      CASE WHEN ${gray("(j % 15 + 1)")} > ${gray("(j % 15)")}
         |           THEN 1 ELSE 0 END) AS gb
         |  FROM keys
         |), fs AS (
         |  SELECT k,
         |    CAST(list_sum(pxs) AS BIGINT) AS px_sum,
         |    md5(array_to_string(list_transform(pxs,
         |        v -> lpad(lower(to_hex(v)), 2, '0')), '')) AS px_md5,
         |    CAST(list_sum(gb) AS BIGINT) AS grad_bits,
         |    CAST(list_sum(list_transform(range(0, 63),
         |        j -> gb[j+1] * (CAST(1 AS BIGINT) << j))) AS BIGINT) AS grad_word
         |  FROM f
         |)
         |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
         |       px_sum, px_md5, grad_bits, grad_word
         |FROM documents JOIN fs ON documents.doc_id % 50 = fs.k
         |ORDER BY doc_id""".stripMargin
    },
    "q_png_pixel_dedup" ->
      """WITH keys AS (
        |  SELECT DISTINCT doc_id % 50 AS k FROM documents
        |), f AS (
        |  SELECT k, md5(array_to_string(list_transform(range(0, 576), i ->
        |      lpad(lower(to_hex(
        |        (k*31 + ((i % 48) // 3) * 7 + (i // 48) * 13 + (i % 3) * 101) % 256
        |      )), 2, '0')), '')) AS px_md5
        |  FROM keys
        |)
        |SELECT px_md5, CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(min(doc_id) AS BIGINT) AS keep_id
        |FROM documents JOIN f ON documents.doc_id % 50 = f.k
        |GROUP BY px_md5 HAVING count(*) > 1
        |ORDER BY keep_id""".stripMargin,
    // sample-level WAV replay: samples are (k*13 + ch*7 + t*31) % 65536
    // − 32768 with k = doc_id % 40 — the RIFF walk and the 16-bit LE
    // wire format must both be right for Spark to reproduce these
    "q_wav_sample_stats" ->
      """WITH keys AS (
        |  SELECT DISTINCT doc_id % 40 AS k FROM documents
        |), f AS (
        |  SELECT k, ch.c AS channel,
        |    list_transform(range(0, 200),
        |      t -> (k*13 + ch.c*7 + t*31) % 65536 - 32768) AS sv
        |  FROM keys, (SELECT unnest(range(2)) AS c) ch
        |), fs AS (
        |  SELECT k, channel,
        |    CAST(200 AS BIGINT) AS n_samples,
        |    CAST(list_sum(sv) AS BIGINT) AS s_sum,
        |    CAST(list_min(sv) AS BIGINT) AS s_min,
        |    CAST(list_max(sv) AS BIGINT) AS s_max,
        |    CAST(list_sum(list_transform(range(1, 200), t ->
        |      CASE WHEN (sv[t+1] >= 0) <> (sv[t] >= 0) THEN 1 ELSE 0 END))
        |      AS BIGINT) AS zero_cross
        |  FROM f
        |)
        |SELECT doc_id, channel, n_samples, s_sum, s_min, s_max, zero_cross
        |FROM documents JOIN fs ON documents.doc_id % 40 = fs.k
        |ORDER BY doc_id, channel""".stripMargin,
    // JPEG decoded-domain replay: lossy DCT decode is not SQL
    // arithmetic, so the per-key decoded stats are golden literals
    // (derived by graft.tools.JpegGolden — same codec calls the
    // distributed path runs; keyMod=30 w=16 h=12 quality=0.9 thumb=4);
    // DuckDB replays only the doc_id → key mapping.  The error columns
    // double as the decode-fidelity pin: a broken codec path cannot
    // reproduce the decoded md5 AND a ≤33 max error vs the closed-form
    // source simultaneously.
    "q_multimodal_jpeg_pixels" ->
      """WITH g(k, px_sum, px_md5, thumb_md5, sum_abs_err, max_err) AS (VALUES
        |  (0, 97337, '3464f80dea9f6298e9425f602c032deb', '12966dc246ff1fd5bca2512cef93e83a', 2085, 19),
        |  (1, 99097, 'ba4f7f667ce08c592876f661f54f63af', '37df2dc292862a303047683b43d9d575', 1999, 18),
        |  (2, 97131, '1bd7b12f1f08ed8d667fb4f300132937', '9f35c2ed413db7da531b2d9b4c3aae14', 1973, 18),
        |  (3, 91740, '809eec706a7c5df3cdf5fc9c7b60ab1e', '35948f9e74a152958db81efc53d4fd98', 1876, 29),
        |  (4, 83906, '10942a7f1fbd16df49af91b703295239', '0801ac7bbf0b9cfb554ed8b735b57a68', 2050, 24),
        |  (5, 74326, '60f9760f1ea478f7c837c45288aec386', '535f41373d9b3c87dbfe125ae85804eb', 2036, 28),
        |  (6, 64619, '696ba13d23d2114293e998bdb9c473af', 'dea75f567b4b3a40ea4fd3065c78eaad', 1919, 18),
        |  (7, 56160, '27f3ff09b0d4522c66a294088971e883', '4cb44b29ed172cd91d0822788e94cd4c', 1926, 21),
        |  (8, 50310, '8bfa461b29fb9e28e3b7418657a2df2f', '618ba33e197d5707de29f57b435104f6', 2012, 22),
        |  (9, 47780, '8e09937e8e0b64e2447661f7bcfd9792', '2d27507467f03dfea5b9eac4fa5df6f2', 1980, 19),
        |  (10, 48913, '2bd9fd40c2ec7b46a702dff15d800d71', '02f789c5b6dfddfe6532db04d13bfd1f', 2111, 19),
        |  (11, 53557, '5d04a20cba3b84c25c7737cd92b7d52f', 'c4efa4c119b7484f07ca91fad65ef0c8', 1955, 24),
        |  (12, 61004, '22f4d104e1b64877ee54a5bb0d4ff124', 'abfc5bb723c23461a30f0ca7d2c35d53', 2010, 28),
        |  (13, 70333, '09b61dfe7c74fe85cb1e803d15a2f545', 'b8ea8b4249f0ddea95ef629b60ad225f', 2051, 30),
        |  (14, 80226, '1333240b0fdab6f6bb9b9393d826025e', 'ea5f902f52336365071f5eefcfe87b53', 2008, 20),
        |  (15, 88933, '66341fe6a0875e8fe38f2f2a910a977c', '2614c69b5f991db8550df2a7ffc4e9c6', 1983, 26),
        |  (16, 95445, 'e17fe7f2e8f972b640e4a64c5290e9fc', 'af3f0df26d2679c37adf030808b3ccb3', 1959, 21),
        |  (17, 98829, 'ddc38562865c6d884ed7d66cddaa508a', '22d1a28c54b42b4983ad2ddc20daaaa6', 2009, 21),
        |  (18, 98592, '35868022f31800268df10124d8541c07', 'd8cf1afbd91c1f15319bd37e5c829f3a', 1906, 19),
        |  (19, 94641, '1cfa229f952b6960e63555b0f5cccee3', 'a6b33e254df61042383c7ac89eea599b', 1799, 19),
        |  (20, 87755, '89bb3df7d6a648a6f556e39340add82a', 'c1336b1f4954836a9705178538c7e196', 2121, 27),
        |  (21, 78667, 'b5e6f5186452f31b7f18960ccf0dd5d7', '5a4034fcb1fe4f454497a7615031d360', 2027, 32),
        |  (22, 69007, 'def792ef574e5e0e616bc15037dbb792', '7d30fe12ff1634c44f8995c4c011b9ec', 2049, 21),
        |  (23, 59680, 'b32b361a054b29d97d7ac2a9369a8d22', 'fc2beff927c17ff8b8910f388a63eee5', 2030, 26),
        |  (24, 52650, '71872b92f14a5e3e8a4f3ad430ba53cf', '5073abe9ead140f0b3d7b95abbe8b297', 1966, 21),
        |  (25, 48473, 'fe3adaad77ea59dce55637d2d81a1173', 'a2f22853831cd472cb3965cea64d9f1c', 2075, 17),
        |  (26, 47934, 'ed1307e0108ceee56e4e5d2f1e456b4e', '2bcb4d99df1db040d135b48f785c135d', 1970, 19),
        |  (27, 51002, 'a04bbbfe1da11c277c395c857a424829', '87044db656dc3b8afcb7e27b33ba99f6', 2056, 20),
        |  (28, 57330, 'f8aa8b07431b5432b1cf6de24cc75271', 'a7651394a5a55e78c2e554f15c95c46a', 1942, 29),
        |  (29, 66024, '5becaec117b30fb46d96ee6e68a4f668', 'fbddb95df06d0e96bc6a1323db30b20e', 2134, 33))
        |SELECT doc_id,
        |       CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
        |       CAST(px_sum AS BIGINT) AS px_sum, px_md5, thumb_md5,
        |       CAST(sum_abs_err AS BIGINT) AS sum_abs_err,
        |       CAST(max_err AS BIGINT) AS max_err
        |FROM documents JOIN g ON documents.doc_id % 30 = g.k
        |ORDER BY doc_id""".stripMargin,
    // REAL MP4 box-walk replay: dims and duration are moov header
    // constants (the synthesized 240-byte ftyp+moov+mdat prefix),
    // n_bytes = 240 + text bytes, and the stats region is exactly the
    // mdat payload — the UTF-8 text
    "q_multimodal_mp4" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         regexp_extract_all(hex(encode(text)), '..') AS pairs
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(320 AS BIGINT) AS width,
        |       CAST(180 AS BIGINT) AS height,
        |       CAST(7125 AS BIGINT) AS duration_ms,
        |       CAST(240 + len(pairs) AS BIGINT) AS n_bytes,
        |       CASE WHEN len(pairs) = 0 THEN 0E0
        |            ELSE CAST(list_sum(list_transform(pairs,
        |                 p -> CAST(('0x' || p) AS INT))) AS DOUBLE) / len(pairs)
        |       END AS mean_byte,
        |       CAST(len(list_filter(pairs, p -> p[1] = '6')) AS BIGINT) AS hist_bucket6
        |FROM px ORDER BY doc_id""".stripMargin,
    // fragmented-MP4 replay: nFrags = 1 + doc_id%3, duration = the
    // tfdt+trun accumulation = nFrags × Fmp4FragMs, n_bytes = fixed
    // header + per-fragment moof/mdat overhead (size constants from
    // MultimodalOps.fmp4Sizes) + text bytes, stats over all mdats =
    // the text bytes
    "q_multimodal_fmp4" -> {
      val (hdr, moofMid, moofLast) = graft.ops.MultimodalOps.fmp4Sizes
      val fragMs = graft.ops.MultimodalOps.Fmp4FragMs
      s"""WITH px AS (
        |  SELECT doc_id,
        |         regexp_extract_all(hex(encode(text)), '..') AS pairs,
        |         CAST(1 + doc_id % 3 AS BIGINT) AS n_frags
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(640 AS BIGINT) AS width,
        |       CAST(360 AS BIGINT) AS height,
        |       n_frags * $fragMs AS duration_ms,
        |       CAST($hdr + (n_frags - 1) * $moofMid + $moofLast
        |            + 8 * n_frags + len(pairs) AS BIGINT) AS n_bytes,
        |       CASE WHEN len(pairs) = 0 THEN 0E0
        |            ELSE CAST(list_sum(list_transform(pairs,
        |                 p -> CAST(('0x' || p) AS INT))) AS DOUBLE) / len(pairs)
        |       END AS mean_byte,
        |       CAST(len(list_filter(pairs, p -> p[1] = '6')) AS BIGINT) AS hist_bucket6
        |FROM px ORDER BY doc_id""".stripMargin
    },
    // fMP4 keyframe replay: keyframes live in trun sample flags (no
    // stss in a fragmented file) — first sample of every fragment sync
    // (even fragments via first-sample-flags, odd via per-sample
    // flags, which also mark the LAST sample), so offsets are the
    // moof-relative data_offset plus real size accumulation, all
    // replayable from the fmp4KfSizes constants + text length
    "q_multimodal_fmp4_kf" -> {
      val (hdr, me, mo) = graft.ops.MultimodalOps.fmp4KfSizes
      val k = graft.ops.MultimodalOps.Fmp4SamplesPerFrag
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         CAST(1 + doc_id % 3 AS BIGINT) AS nf
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, n, nf,
        |         n // nf AS len0,
        |         (2 * n) // nf - (n // nf) AS len1
        |  FROM px)
        |SELECT doc_id,
        |       nf AS n_frags,
        |       nf + nf // 2 AS n_keyframes,
        |       CAST($hdr + $me + 8 AS BIGINT) AS kf1_off,
        |       CAST(CASE WHEN nf >= 2
        |            THEN $hdr + $me + 8 + len0 + $mo + 8
        |            ELSE -1 END AS BIGINT) AS kf2_off,
        |       CAST(CASE WHEN nf >= 2
        |            THEN $hdr + $me + 8 + len0 + $mo + 8
        |                 + ${k - 1} * (len1 // $k) + least(${k - 1}, len1 % $k)
        |            ELSE -1 END AS BIGINT) AS kf3_off
        |FROM d ORDER BY doc_id""".stripMargin
    },
    // H.264 metadata replay: the synthesized avcC SPS encodes profile/
    // level/dims as pure functions of doc_id (the DECODER recovers them
    // by real exp-Golomb bitstream parsing + crop arithmetic), the
    // free-box pad makes the mdat payload offset a constant, and the
    // keyframe offsets are stco + stsz prefix sums the SQL replays
    "q_multimodal_h264_meta" -> {
      val off = graft.ops.MultimodalOps.Avc1MdatPayloadOff
      val ns = graft.ops.MultimodalOps.Avc1SampleCount
      s"""WITH px AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) AS n,
        |         320 + 2 * (doc_id % 5) AS w,
        |         2 + doc_id % 3 AS g
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(CASE doc_id % 3 WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END AS BIGINT) AS profile,
        |       CAST(CASE doc_id % 3 WHEN 0 THEN 30 WHEN 1 THEN 31 ELSE 41 END AS BIGINT) AS level,
        |       CAST(((w + 15) // 16) * 16 AS BIGINT) AS coded_width,
        |       CAST(192 AS BIGINT) AS coded_height,
        |       CAST(w AS BIGINT) AS width,
        |       CAST(180 + 2 * (doc_id % 3) AS BIGINT) AS height,
        |       CAST(1 + ${ns - 1} // g AS BIGINT) AS n_keyframes,
        |       CAST($off AS BIGINT) AS kf1_off,
        |       CAST($off + g * (n // $ns) + least(g, n % $ns) AS BIGINT) AS kf2_off
        |FROM px ORDER BY doc_id""".stripMargin
    },
    // AV1 sequence-header replay: profile id%3, 10-bit when id%2=1,
    // level 4+id%4, exact max-frame dims; keyframe offsets fold in the
    // profile/bitdepth-dependent sequence-OBU length (a layout
    // constant per (profile, high) pair, CASE over id%6)
    "q_multimodal_av1_meta" -> {
      val off = graft.ops.MultimodalOps.Av1FirstTuOff
      val ns = graft.ops.MultimodalOps.Av1FrameCount
      val ovh = graft.ops.MultimodalOps.Av1BlockOverhead + 3 +
        graft.ops.MultimodalOps.Av1FramePadBytes
      val seqLenCase = (0 until 6).map { m =>
        s"WHEN $m THEN ${graft.ops.MultimodalOps.av1SeqObuLen(m % 3, m % 2 == 1)}"
      }.mkString(" ")
      s"""WITH px AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) AS n,
        |         2 + doc_id % 3 AS g,
        |         CASE doc_id % 6 $seqLenCase END AS sl
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(doc_id % 3 AS BIGINT) AS profile,
        |       CAST(4 + doc_id % 4 AS BIGINT) AS level,
        |       CAST(CASE WHEN doc_id % 2 = 1 THEN 10 ELSE 8 END AS BIGINT) AS bit_depth,
        |       CAST(640 + doc_id % 9 AS BIGINT) AS width,
        |       CAST(360 + doc_id % 7 AS BIGINT) AS height,
        |       CAST(1 + ${ns - 1} // g AS BIGINT) AS n_keyframes,
        |       CAST($off AS BIGINT) AS kf1_off,
        |       CAST($off + sl + $ovh * g + g * (n // $ns) + least(g, n % $ns) AS BIGINT) AS kf2_off
        |FROM px ORDER BY doc_id""".stripMargin
    },
    // VP9 uncompressed-header replay: all fields are the synthesis
    // parameterization (profile id%4, 10-bit for profiles ≥ 2, color
    // space 1+id%5, exact frame_size dims); keyframe offsets are the
    // fixed header pad + per-block overhead + the text-split frame
    // lengths — pure integer arithmetic
    "q_multimodal_vp9_meta" -> {
      val off = graft.ops.MultimodalOps.Vp9FirstFrameOff
      val ns = graft.ops.MultimodalOps.Vp9FrameCount
      val ovh = graft.ops.MultimodalOps.Vp9BlockOverhead +
        graft.ops.MultimodalOps.Vp9FramePadBytes
      s"""WITH px AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) AS n,
        |         2 + doc_id % 3 AS g
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(doc_id % 4 AS BIGINT) AS profile,
        |       CAST(CASE WHEN doc_id % 4 >= 2 THEN 10 ELSE 8 END AS BIGINT) AS bit_depth,
        |       CAST(1 + doc_id % 5 AS BIGINT) AS color_space,
        |       CAST(426 + doc_id % 7 AS BIGINT) AS width,
        |       CAST(240 + doc_id % 5 AS BIGINT) AS height,
        |       CAST(1 + ${ns - 1} // g AS BIGINT) AS n_keyframes,
        |       CAST($off AS BIGINT) AS kf1_off,
        |       CAST($off + $ovh * g + g * (n // $ns) + least(g, n % $ns) AS BIGINT) AS kf2_off
        |FROM px ORDER BY doc_id""".stripMargin
    },
    // npy replay: the ASCII dict header reconstructs byte-for-byte, so
    // the 64-aligned data offset is digit arithmetic both engines do
    "q_multimodal_npy" ->
      s"""WITH px AS (
        |  SELECT doc_id,
        |         CASE doc_id % 3 WHEN 0 THEN '<f4' WHEN 1 THEN '<f2' ELSE '<i8' END AS descr,
        |         CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 2 ELSE 8 END AS isz,
        |         1 + doc_id % 4 AS r, 3 + doc_id % 5 AS c
        |  FROM documents),
        |h AS (
        |  SELECT px.*, length('{''descr'': ''' || descr ||
        |         ''', ''fortran_order'': False, ''shape'': (' ||
        |         CAST(r AS VARCHAR) || ', ' || CAST(c AS VARCHAR) || '), }') AS dlen
        |  FROM px)
        |SELECT doc_id, descr,
        |       false AS fortran_order,
        |       CAST(2 AS BIGINT) AS rank,
        |       CAST(r * c AS BIGINT) AS n_elements,
        |       CAST(isz AS BIGINT) AS item_size,
        |       CAST(((10 + dlen + 1 + 63) // 64) * 64 AS BIGINT) AS data_offset,
        |       CAST(r * c * isz AS BIGINT) AS n_bytes
        |FROM h ORDER BY doc_id""".stripMargin,
    // safetensors replay: the JSON header both engines can RECONSTRUCT
    // byte-for-byte (ASCII, deterministic field order), so even the
    // absolute byte offsets — 8 + header length + running data offset —
    // are exact id arithmetic plus a string_agg length
    "q_multimodal_safetensors" ->
      s"""WITH px AS (
        |  SELECT doc_id, 1 + doc_id % 4 AS nt, 3 + doc_id % 5 AS cols FROM documents),
        |ks AS (SELECT doc_id, cols, unnest(generate_series(0, nt - 1)) AS k FROM px),
        |t AS (SELECT doc_id, k, cols,
        |        CASE WHEN (doc_id + k) % 2 = 0 THEN 'F32' ELSE 'F16' END AS dtype,
        |        (k + 1) * cols AS n_el,
        |        CASE WHEN (doc_id + k) % 2 = 0 THEN 4 ELSE 2 END AS bp
        |      FROM ks),
        |c AS (SELECT doc_id, k, dtype, n_el, cols, n_el * bp AS nb,
        |        coalesce(sum(n_el * bp) OVER (PARTITION BY doc_id ORDER BY k
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS datoff
        |      FROM t),
        |f AS (SELECT doc_id, k, dtype, n_el, nb, datoff,
        |        '"t' || CAST(k AS VARCHAR) || '":{"dtype":"' || dtype || '","shape":[' ||
        |        CAST(k + 1 AS VARCHAR) || ',' || CAST(cols AS VARCHAR) ||
        |        '],"data_offsets":[' || CAST(datoff AS VARCHAR) || ',' ||
        |        CAST(datoff + nb AS VARCHAR) || ']}' AS frag
        |      FROM c),
        |h AS (SELECT doc_id,
        |        length('{"__metadata__":{"format":"pt"},' ||
        |               string_agg(frag, ',' ORDER BY k) || '}') AS hlen
        |      FROM f GROUP BY doc_id)
        |SELECT f.doc_id,
        |       't' || CAST(k AS VARCHAR) AS tensor,
        |       dtype,
        |       CAST(2 AS BIGINT) AS rank,
        |       CAST(n_el AS BIGINT) AS n_elements,
        |       CAST(8 + h.hlen + f.datoff AS BIGINT) AS byte_offset,
        |       CAST(nb AS BIGINT) AS n_bytes
        |FROM f JOIN h ON f.doc_id = h.doc_id
        |ORDER BY f.doc_id, byte_offset""".stripMargin,
    // WebDataset sample replay: members pair into samples by basename
    // key; per sample the member count, extension set, and byte total
    "q_webdataset_samples" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 3 AS ns
        |  FROM documents),
        |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px)
        |SELECT doc_id,
        |       's' || CAST(k AS VARCHAR) AS sample_key,
        |       CAST(2 AS BIGINT) AS n_members,
        |       'cls,txt' AS extensions,
        |       CAST(n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END + 1 AS BIGINT) AS n_bytes
        |FROM ks ORDER BY doc_id, sample_key""".stripMargin,
    // WebDataset tar replay: member names/sizes are the synthesis
    // parameterization; each member consumes 512 (header) +
    // 512-rounded data, so the exact data offsets replay as a
    // running sum over the member sequence
    "q_multimodal_tar_members" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 3 AS ns
        |  FROM documents),
        |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
        |m AS (
        |  SELECT doc_id, k, 0 AS sub, 's' || CAST(k AS VARCHAR) || '.txt' AS name,
        |         n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END AS size
        |  FROM ks
        |  UNION ALL
        |  SELECT doc_id, k, 1 AS sub, 's' || CAST(k AS VARCHAR) || '.cls' AS name,
        |         1 AS size
        |  FROM ks),
        |o AS (
        |  SELECT doc_id, name, size,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY k, sub) - 1 AS member_idx,
        |         coalesce(sum(512 + ((size + 511) // 512) * 512)
        |           OVER (PARTITION BY doc_id ORDER BY k, sub
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 512 AS data_offset
        |  FROM m)
        |SELECT doc_id,
        |       CAST(member_idx AS BIGINT) AS member_idx,
        |       name,
        |       CAST(size AS BIGINT) AS size,
        |       CAST(data_offset AS BIGINT) AS data_offset
        |FROM o ORDER BY doc_id, member_idx""".stripMargin,
    // .tar.gz replay: the gzip layer must be INVISIBLE to the member
    // table — same oracle arithmetic as the uncompressed shard
    "q_multimodal_targz_members" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 3 AS ns
        |  FROM documents),
        |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
        |m AS (
        |  SELECT doc_id, k, 0 AS sub, 's' || CAST(k AS VARCHAR) || '.txt' AS name,
        |         n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END AS size
        |  FROM ks
        |  UNION ALL
        |  SELECT doc_id, k, 1 AS sub, 's' || CAST(k AS VARCHAR) || '.cls' AS name,
        |         1 AS size
        |  FROM ks),
        |o AS (
        |  SELECT doc_id, name, size,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY k, sub) - 1 AS member_idx,
        |         coalesce(sum(512 + ((size + 511) // 512) * 512)
        |           OVER (PARTITION BY doc_id ORDER BY k, sub
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 512 AS data_offset
        |  FROM m)
        |SELECT doc_id,
        |       CAST(member_idx AS BIGINT) AS member_idx,
        |       name,
        |       CAST(size AS BIGINT) AS size,
        |       CAST(data_offset AS BIGINT) AS data_offset
        |FROM o ORDER BY doc_id, member_idx""".stripMargin,
    // .tar.zst replay: the zstd layer must be INVISIBLE to the member
    // table — same oracle arithmetic as the raw and gzip shards
    "q_multimodal_tarzst_members" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 3 AS ns
        |  FROM documents),
        |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
        |m AS (
        |  SELECT doc_id, k, 0 AS sub, 's' || CAST(k AS VARCHAR) || '.txt' AS name,
        |         n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END AS size
        |  FROM ks
        |  UNION ALL
        |  SELECT doc_id, k, 1 AS sub, 's' || CAST(k AS VARCHAR) || '.cls' AS name,
        |         1 AS size
        |  FROM ks),
        |o AS (
        |  SELECT doc_id, name, size,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY k, sub) - 1 AS member_idx,
        |         coalesce(sum(512 + ((size + 511) // 512) * 512)
        |           OVER (PARTITION BY doc_id ORDER BY k, sub
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 512 AS data_offset
        |  FROM m)
        |SELECT doc_id,
        |       CAST(member_idx AS BIGINT) AS member_idx,
        |       name,
        |       CAST(size AS BIGINT) AS size,
        |       CAST(data_offset AS BIGINT) AS data_offset
        |FROM o ORDER BY doc_id, member_idx""".stripMargin,
    // streaming shard-ingest census: the stream processed to
    // completion equals the batch walk, so the oracle is the SAME
    // member-table arithmetic as q_multimodal_tar_members
    "q_shard_census_stream" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 3 AS ns
        |  FROM documents),
        |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
        |m AS (
        |  SELECT doc_id, k, 0 AS sub, 's' || CAST(k AS VARCHAR) || '.txt' AS name,
        |         n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END AS size
        |  FROM ks
        |  UNION ALL
        |  SELECT doc_id, k, 1 AS sub, 's' || CAST(k AS VARCHAR) || '.cls' AS name,
        |         1 AS size
        |  FROM ks),
        |o AS (
        |  SELECT doc_id, name, size,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY k, sub) - 1 AS member_idx,
        |         coalesce(sum(512 + ((size + 511) // 512) * 512)
        |           OVER (PARTITION BY doc_id ORDER BY k, sub
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 512 AS data_offset
        |  FROM m)
        |SELECT doc_id,
        |       CAST(member_idx AS BIGINT) AS member_idx,
        |       name,
        |       CAST(size AS BIGINT) AS size,
        |       CAST(data_offset AS BIGINT) AS data_offset
        |FROM o ORDER BY doc_id, member_idx""".stripMargin,
    // ID3 replay, BOTH wire versions: even ids carry v2.3 tags (plain
    // u32 frame sizes), odd ids v2.4 (syncsafe frame sizes) with an
    // extra ≥128-byte TXXX pad frame — the size where the two
    // encodings diverge, so a parser applying the wrong rule mis-hops
    // and this oracle catches it.  Tag fields are the synthesis
    // parameterization, the album is the shared first-token rule, and
    // the tag byte count folds the 10-byte frame headers + encoding
    // bytes (+ the v2.4 arm's 138 + id%64 TXXX bytes).
    "q_multimodal_id3" ->
      s"""WITH px AS (
        |  SELECT doc_id,
        |         coalesce(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')[1],
        |                  'untitled') AS alb
        |  FROM documents)
        |SELECT doc_id,
        |       'doc ' || CAST(doc_id AS VARCHAR) AS title,
        |       'src' || CAST(doc_id % 5 AS VARCHAR) AS artist,
        |       alb AS album,
        |       CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS BIGINT) AS n_frames,
        |       CAST(51 + length(CAST(doc_id AS VARCHAR)) + octet_length(encode(alb))
        |            + CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 138 + doc_id % 64 END
        |         AS BIGINT) AS tag_bytes
        |FROM px ORDER BY doc_id""".stripMargin,
    // WebVTT replay: cue count/timings are id arithmetic, cue text is
    // the same token-window slice both engines compute from the raw
    // document (the q_doc_chunk tokenization pairing)
    "q_multimodal_vtt_cues" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
        |         1 + doc_id % 4 AS nc
        |  FROM documents),
        |c AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS k FROM t)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS cue_idx,
        |       CAST(k * (2000 + doc_id % 500) AS BIGINT) AS start_ms,
        |       CAST(k * (2000 + doc_id % 500) + 1500 + doc_id % 300 AS BIGINT) AS end_ms,
        |       coalesce(array_to_string(toks[k * 5 + 1 : k * 5 + 5], ' '), '') AS cue_text
        |FROM c ORDER BY doc_id, cue_idx""".stripMargin,
    // q_parquet_footer's oracle is NOT here: it must interpolate the
    // corpus dir the run actually reads (set by Verify), and this val
    // initializes at object load — see parquetFooterOracleSql below.
    // Delta-log replay: the staged commit log is corpus-independent by
    // design, so the live file set is closed-form arithmetic — adds
    // minus later removes, plus the v10 re-add that last-action-wins
    // must resurrect
    "q_delta_log_state" ->
      s"""WITH vk AS (
        |  SELECT v, k
        |  FROM generate_series(0, 11) t(v), generate_series(0, 2) u(k)),
        |removed AS (
        |  SELECT v - 3 AS rv, v % 3 AS rk FROM generate_series(3, 11) t(v)),
        |live AS (
        |  SELECT v, k FROM vk
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM removed r WHERE r.rv = vk.v AND r.rk = vk.k))
        |SELECT * FROM (
        |  SELECT 'part-' || CAST(v AS VARCHAR) || '-' || CAST(k AS VARCHAR)
        |           || '.parquet' AS path,
        |         CAST(1000 + 137 * v + k AS BIGINT) AS size,
        |         CAST(v AS BIGINT) AS version_added
        |  FROM live
        |  UNION ALL
        |  SELECT 'part-0-0.parquet', CAST(9999 AS BIGINT), CAST(10 AS BIGINT))
        |ORDER BY path""".stripMargin,
    // Hudi timeline replay: staged timeline is corpus-independent —
    // live slices are argmax-instant per file group (k = id % 2 since
    // 2t is even), minus the clustering-replaced f-0/f-1, plus the
    // replacecommit's own writes
    "q_hudi_archived_timeline" ->
      s"""SELECT CAST(20231201000000 + t AS VARCHAR) AS commit_time,
        |       CASE t % 3 WHEN 0 THEN 'commit'
        |            WHEN 1 THEN 'deltacommit'
        |            ELSE 'clean' END AS action_type
        |FROM generate_series(0, 29) s(t)
        |ORDER BY commit_time""".stripMargin,
    "q_hudi_incremental" ->
      s"""SELECT '20240102000000' AS _hoodie_commit_time,
        |       CAST(o_orderkey AS VARCHAR) AS _hoodie_record_key,
        |       'pt=0' AS _hoodie_partition_path,
        |       o_orderkey, o_custkey,
        |       o_totalprice + 1.5 AS o_totalprice,
        |       o_orderpriority
        |FROM orders WHERE o_orderkey % 4 = 1""".stripMargin,
    "q_hudi_read_optimized" ->
      s"""SELECT CAST(o_orderkey AS VARCHAR) AS _hoodie_record_key,
        |       o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders""".stripMargin,
    "q_hudi_cow_snapshot" ->
      s"""SELECT CASE WHEN o_orderkey % 4 = 1 THEN '20240102000000'
        |            ELSE '20240101000000' END AS _hoodie_commit_time,
        |       CAST(o_orderkey AS VARCHAR) AS _hoodie_record_key,
        |       'pt=' || CAST(CASE WHEN o_orderkey % 4 < 2 THEN 0 ELSE 1 END
        |                     AS VARCHAR) AS _hoodie_partition_path,
        |       o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey % 4 = 1 THEN o_totalprice + 1.5
        |            ELSE o_totalprice END AS o_totalprice,
        |       o_orderpriority
        |FROM orders""".stripMargin,
    "q_hudi_log_blocks" ->
      s"""SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'avro', CAST(1 AS BIGINT),
        |   '20240102000000', '', CAST(2 AS BIGINT),
        |   (SELECT CAST(count(*) AS BIGINT) FROM orders
        |    WHERE o_orderkey % 12 = 0), CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), ':delete', CAST(1 AS BIGINT),
        |   '20240103000000', '', CAST(2 AS BIGINT),
        |   (SELECT CAST(count(*) AS BIGINT) FROM orders
        |    WHERE o_orderkey % 20 = 0), CAST(0 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'avro', CAST(1 AS BIGINT),
        |   '20240104000000', '', CAST(2 AS BIGINT),
        |   (SELECT CAST(count(*) AS BIGINT) FROM orders
        |    WHERE o_orderkey % 8 = 0), CAST(1 AS BIGINT)),
        |  (CAST(3 AS BIGINT), ':command', CAST(1 AS BIGINT),
        |   '20240105000000', '20240104000000', CAST(3 AS BIGINT),
        |   CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(4 AS BIGINT), 'parquet', CAST(1 AS BIGINT),
        |   '20240106000000', '', CAST(1 AS BIGINT),
        |   (SELECT CAST(count(*) AS BIGINT) FROM orders
        |    WHERE o_orderkey % 16 = 0), CAST(0 AS BIGINT)))
        |  t(block_seq, block_type, format_version, instant,
        |    target_instant, header_n, record_count, rolled_back)""".stripMargin,
    "q_hudi_file_slices" ->
      s"""SELECT * FROM (VALUES
        |  ('pt=0', 'f-0', 'base', 'pt=0/f-0_20240101000000.parquet',
        |   CAST(20240101000000 AS BIGINT)),
        |  ('pt=0', 'f-0', 'log', 'pt=0/.f-0_20240101000000.log.1',
        |   CAST(20240102000000 AS BIGINT)),
        |  ('pt=0', 'f-1', 'base', 'pt=0/f-1_20240101000000.parquet',
        |   CAST(20240101000000 AS BIGINT)))
        |  t(partition, file_id, kind, path, instant)""".stripMargin,
    "q_hudi_mor_snapshot" ->
      s"""SELECT CAST(o_orderkey AS VARCHAR) AS _hoodie_record_key,
        |       o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey % 16 = 0 THEN o_totalprice * 3
        |            WHEN o_orderkey % 12 = 0 THEN o_totalprice * 2
        |            ELSE o_totalprice END AS o_totalprice,
        |       o_orderpriority
        |FROM orders
        |WHERE o_orderkey % 2 = 1
        |   OR (o_orderkey % 2 = 0
        |       AND (o_orderkey % 20 <> 0 OR o_orderkey % 16 = 0))""".stripMargin,
    "q_hudi_mor_read" ->
      s"""SELECT CAST(o_orderkey AS VARCHAR) AS _hoodie_record_key,
        |       o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey % 16 = 0 THEN o_totalprice * 3
        |            WHEN o_orderkey % 12 = 0 THEN o_totalprice * 2
        |            ELSE o_totalprice END AS o_totalprice,
        |       o_orderpriority
        |FROM orders
        |WHERE o_orderkey % 4 = 0
        |  AND (o_orderkey % 20 <> 0 OR o_orderkey % 16 = 0)""".stripMargin,
    "q_hudi_timeline_state" ->
      s"""WITH w AS (
        |  SELECT t, k, (2 * t + k) % 12 AS id
        |  FROM generate_series(0, 9) s(t), generate_series(0, 1) u(k)
        |  WHERE t <> 8),
        |last AS (SELECT id, max(t) AS t FROM w GROUP BY id),
        |live AS (SELECT id, t FROM last WHERE id NOT IN (0, 1))
        |SELECT * FROM (
        |  SELECT 'pt=' || CAST(t % 2 AS VARCHAR) AS partition,
        |         'f-' || CAST(id AS VARCHAR) AS file_id,
        |         'pt=' || CAST(t % 2 AS VARCHAR) || '/f-' || CAST(id AS VARCHAR)
        |           || '_' || CAST(20240100 + t AS VARCHAR) || '.parquet' AS path,
        |         CAST(2000 + 61 * t + id % 2 AS BIGINT) AS size,
        |         CAST(20240100 + t AS BIGINT) AS instant_added
        |  FROM live
        |  UNION ALL
        |  SELECT 'pt=0', 'f-100', 'pt=0/f-100_20240108.parquet',
        |         CAST(9000 AS BIGINT), CAST(20240108 AS BIGINT)
        |  UNION ALL
        |  SELECT 'pt=0', 'f-101', 'pt=0/f-101_20240108.parquet',
        |         CAST(9001 AS BIGINT), CAST(20240108 AS BIGINT))
        |ORDER BY partition, file_id""".stripMargin,
    // checkpoint replay: the SAME live set as q_delta_log_state, with
    // version_added clamped to the checkpoint (9) for files that
    // entered via the checkpoint — post-checkpoint adds stay exact
    "q_delta_checkpoint_state" ->
      s"""WITH vk AS (
        |  SELECT v, k
        |  FROM generate_series(0, 11) t(v), generate_series(0, 2) u(k)),
        |removed AS (
        |  SELECT v - 3 AS rv, v % 3 AS rk FROM generate_series(3, 11) t(v)),
        |live AS (
        |  SELECT v, k FROM vk
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM removed r WHERE r.rv = vk.v AND r.rk = vk.k))
        |SELECT * FROM (
        |  SELECT 'part-' || CAST(v AS VARCHAR) || '-' || CAST(k AS VARCHAR)
        |           || '.parquet' AS path,
        |         CAST(1000 + 137 * v + k AS BIGINT) AS size,
        |         CAST(CASE WHEN v > 9 THEN v ELSE 9 END AS BIGINT) AS version_added
        |  FROM live
        |  UNION ALL
        |  SELECT 'part-0-0.parquet', CAST(9999 AS BIGINT), CAST(10 AS BIGINT))
        |ORDER BY path""".stripMargin,
    // multi-part checkpoint: same table, same state — the layout
    // split must be invisible, so the oracle is IDENTICAL
    "q_delta_checkpoint_multipart" ->
      s"""WITH vk AS (
        |  SELECT v, k
        |  FROM generate_series(0, 11) t(v), generate_series(0, 2) u(k)),
        |removed AS (
        |  SELECT v - 3 AS rv, v % 3 AS rk FROM generate_series(3, 11) t(v)),
        |live AS (
        |  SELECT v, k FROM vk
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM removed r WHERE r.rv = vk.v AND r.rk = vk.k))
        |SELECT * FROM (
        |  SELECT 'part-' || CAST(v AS VARCHAR) || '-' || CAST(k AS VARCHAR)
        |           || '.parquet' AS path,
        |         CAST(1000 + 137 * v + k AS BIGINT) AS size,
        |         CAST(CASE WHEN v > 9 THEN v ELSE 9 END AS BIGINT) AS version_added
        |  FROM live
        |  UNION ALL
        |  SELECT 'part-0-0.parquet', CAST(9999 AS BIGINT), CAST(10 AS BIGINT))
        |ORDER BY path""".stripMargin,
        // v2 checkpoint: same table, same state — the third layout,
    // the same IDENTICAL oracle
    "q_delta_checkpoint_v2" ->
      s"""WITH vk AS (
        |  SELECT v, k
        |  FROM generate_series(0, 11) t(v), generate_series(0, 2) u(k)),
        |removed AS (
        |  SELECT v - 3 AS rv, v % 3 AS rk FROM generate_series(3, 11) t(v)),
        |live AS (
        |  SELECT v, k FROM vk
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM removed r WHERE r.rv = vk.v AND r.rk = vk.k))
        |SELECT * FROM (
        |  SELECT 'part-' || CAST(v AS VARCHAR) || '-' || CAST(k AS VARCHAR)
        |           || '.parquet' AS path,
        |         CAST(1000 + 137 * v + k AS BIGINT) AS size,
        |         CAST(CASE WHEN v > 9 THEN v ELSE 9 END AS BIGINT) AS version_added
        |  FROM live
        |  UNION ALL
        |  SELECT 'part-0-0.parquet', CAST(9999 AS BIGINT), CAST(10 AS BIGINT))
        |ORDER BY path""".stripMargin,
    // column-mapping replay: live files f-2..f-5 (v4 removed f-1),
    // stats arithmetic by version, physical col-* keys translated to
    // the logical doc_id/lang names
    "q_delta_column_mapping" ->
      s"""WITH live AS (SELECT unnest(generate_series(2, 5)) AS v),
        |c AS (SELECT * FROM (VALUES ('doc_id'), ('lang')) t(col_name))
        |SELECT 'f-' || CAST(v AS VARCHAR) || '.parquet' AS path,
        |       col_name,
        |       CASE col_name WHEN 'doc_id' THEN CAST(v * 10 AS VARCHAR)
        |            ELSE 'a' || CAST(v AS VARCHAR) END AS min_v,
        |       CASE col_name WHEN 'doc_id' THEN CAST(v * 10 + 9 AS VARCHAR)
        |            ELSE 'z' || CAST(v AS VARCHAR) END AS max_v,
        |       CAST(CASE col_name WHEN 'doc_id' THEN 0 ELSE v END
        |            AS BIGINT) AS null_count,
        |       CAST(100 + v AS BIGINT) AS num_records
        |FROM live, c
        |ORDER BY path, col_name""".stripMargin,
    // properties replay: the staged fixture's six keys verbatim
    "q_hudi_properties" ->
      s"""SELECT * FROM (VALUES
        |  ('hoodie.datasource.write.partitionpath.field', 'pt'),
        |  ('hoodie.table.keygenerator.class',
        |   'org.apache.hudi.keygen.SimpleKeyGenerator'),
        |  ('hoodie.table.name', 'graft_events'),
        |  ('hoodie.table.type', 'COPY_ON_WRITE'),
        |  ('hoodie.table.version', '6'),
        |  ('hoodie.timeline.layout.version', '1')) t(key, value)
        |ORDER BY key""".stripMargin,
    // vacuum replay: tombstones are the removed (v-3, v%3) pairs
    // minus the v10-resurrected part-0-0
    "q_delta_vacuum" ->
      s"""WITH removed AS (
        |  SELECT v - 3 AS rv, v % 3 AS rk, v FROM generate_series(3, 11) t(v))
        |SELECT 'part-' || CAST(rv AS VARCHAR) || '-' || CAST(rk AS VARCHAR)
        |         || '.parquet' AS path,
        |       CAST(v AS BIGINT) AS version_removed
        |FROM removed
        |WHERE NOT (rv = 0 AND rk = 0)
        |ORDER BY path""".stripMargin,
    // partition-values replay: live files f-2..f-5, one partition
    // column (lang, translated from its physical key), value p(v%2)
    "q_delta_partition_values" ->
      s"""WITH live AS (SELECT unnest(generate_series(2, 5)) AS v)
        |SELECT 'f-' || CAST(v AS VARCHAR) || '.parquet' AS path,
        |       'lang' AS col_name,
        |       'p' || CAST(v % 2 AS VARCHAR) AS value
        |FROM live ORDER BY path, col_name""".stripMargin,
    // GGUF replay: tensor table as id arithmetic — 52-byte infos, the
    // fixed 102-byte header+KV prefix, 32-aligned running offsets
    "q_multimodal_gguf" ->
      s"""WITH px AS (
        |  SELECT doc_id, 1 + doc_id % 3 AS nt FROM documents),
        |ks AS (SELECT doc_id, nt, unnest(generate_series(0, nt - 1)) AS t FROM px),
        |m AS (
        |  SELECT doc_id, nt, t,
        |         (1 + (doc_id + t) % 8) * (1 + (doc_id + t) % 16) AS n_elements,
        |         (doc_id + t) % 2 AS type_id
        |  FROM ks),
        |d AS (
        |  SELECT doc_id, nt, t, n_elements, type_id,
        |         n_elements * (4 - 2 * type_id) AS nb
        |  FROM m),
        |o AS (
        |  SELECT doc_id, nt, t, n_elements, type_id, nb,
        |         coalesce(sum((nb + 31) // 32 * 32)
        |           OVER (PARTITION BY doc_id ORDER BY t
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rel_off,
        |         (102 + 52 * nt + 31) // 32 * 32 AS data_start
        |  FROM d)
        |SELECT doc_id,
        |       CAST(t AS BIGINT) AS tensor_idx,
        |       'blk.' || CAST(t AS VARCHAR) || '.weight' AS name,
        |       CAST(type_id AS BIGINT) AS type_id,
        |       CAST(2 AS BIGINT) AS n_dims,
        |       CAST(n_elements AS BIGINT) AS n_elements,
        |       CAST(rel_off AS BIGINT) AS rel_offset,
        |       CAST(data_start + rel_off AS BIGINT) AS abs_offset,
        |       CAST(nb AS BIGINT) AS n_tensor_bytes,
        |       CAST(2 AS BIGINT) AS kv_count
        |FROM o ORDER BY doc_id, tensor_idx""".stripMargin,
    // Avro replay: block table as id arithmetic INCLUDING the zigzag
    // varint widths (1 byte below 64, 2 below 8192, 3 below 2^20 —
    // enough for any document in the corpus), fixed 58-byte header
    "q_multimodal_avro_blocks" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 3 AS ns
        |  FROM documents),
        |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
        |m AS (
        |  SELECT doc_id, k,
        |         n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END AS take
        |  FROM ks),
        |d AS (
        |  SELECT doc_id, k, take,
        |         (CASE WHEN take < 64 THEN 1 WHEN take < 8192 THEN 2 ELSE 3 END)
        |           + take AS data_size
        |  FROM m),
        |o AS (
        |  SELECT doc_id, k, data_size,
        |         58 + coalesce(sum(1 +
        |             (CASE WHEN data_size < 64 THEN 1
        |                   WHEN data_size < 8192 THEN 2 ELSE 3 END)
        |             + data_size + 16)
        |           OVER (PARTITION BY doc_id ORDER BY k
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM d)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS block_idx,
        |       CAST(1 AS BIGINT) AS n_records,
        |       CAST(data_size AS BIGINT) AS data_size,
        |       CAST(off AS BIGINT) AS offset,
        |       'null' AS codec
        |FROM o ORDER BY doc_id, block_idx""".stripMargin,
    // Iceberg manifest replay: every entry field is id arithmetic by
    // synthesis (ns = 1 + id%3 entries; the k=0 entry of id%5==0 rows
    // exercises the null snapshot union branch → the -1 sentinel)
    "q_iceberg_manifest" ->
      s"""WITH e AS (
        |  SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS k
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS entry_idx,
        |       CAST((doc_id + k) % 3 AS BIGINT) AS status,
        |       CAST(CASE WHEN k = 0 AND doc_id % 5 = 0 THEN -1
        |                 ELSE 3000 + doc_id END AS BIGINT) AS snapshot_id,
        |       'data/part-' || CAST(doc_id AS VARCHAR) || '-' ||
        |         CAST(k AS VARCHAR) || '.parquet' AS file_path,
        |       'PARQUET' AS file_format,
        |       CAST(100 + (doc_id + k) % 57 AS BIGINT) AS record_count,
        |       CAST(10000 + 137 * doc_id + k AS BIGINT) AS file_size_in_bytes
        |FROM e ORDER BY doc_id, entry_idx""".stripMargin,
    // v2 replay: same id arithmetic as v1 plus the content kind
    // ((doc_id + k) % 3 — data / position-delete / equality-delete)
    "q_iceberg_manifest_v2" ->
      s"""WITH e AS (
        |  SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS k
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS entry_idx,
        |       CAST((doc_id + k) % 3 AS BIGINT) AS status,
        |       CAST(CASE WHEN k = 0 AND doc_id % 5 = 0 THEN -1
        |                 ELSE 3000 + doc_id END AS BIGINT) AS snapshot_id,
        |       CAST((doc_id + k) % 3 AS BIGINT) AS content,
        |       'data/part-' || CAST(doc_id AS VARCHAR) || '-' ||
        |         CAST(k AS VARCHAR) || '.parquet' AS file_path,
        |       CAST(100 + (doc_id + k) % 57 AS BIGINT) AS record_count,
        |       CAST(10000 + 137 * doc_id + k AS BIGINT) AS file_size_in_bytes
        |FROM e ORDER BY doc_id, entry_idx""".stripMargin,
    // Iceberg manifest-list replay: 1 + id%4 entries, all fields id
    // arithmetic by synthesis
    "q_iceberg_manifest_list" ->
      s"""WITH e AS (
        |  SELECT doc_id, unnest(generate_series(0, doc_id % 4)) AS k
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS entry_idx,
        |       'meta/manifest-' || CAST(doc_id AS VARCHAR) || '-' ||
        |         CAST(k AS VARCHAR) || '.avro' AS manifest_path,
        |       CAST(5000 + 97 * doc_id + 13 * k AS BIGINT) AS manifest_length,
        |       CAST(doc_id % 3 AS BIGINT) AS partition_spec_id,
        |       CAST(3000 + doc_id AS BIGINT) AS added_snapshot_id,
        |       CAST(1 + (doc_id + k) % 9 AS BIGINT) AS added_files_count,
        |       CAST((doc_id + 2 * k) % 7 AS BIGINT) AS existing_files_count,
        |       CAST((doc_id + 3 * k) % 4 AS BIGINT) AS deleted_files_count
        |FROM e ORDER BY doc_id, entry_idx""".stripMargin,
    // v2 list replay: content kind, sequence range, and the renamed
    // count generation — all id arithmetic by synthesis
    "q_iceberg_manifest_list_v2" ->
      s"""WITH e AS (
        |  SELECT doc_id, unnest(generate_series(0, doc_id % 4)) AS k
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS entry_idx,
        |       'meta/m2-' || CAST(doc_id AS VARCHAR) || '-' ||
        |         CAST(k AS VARCHAR) || '.avro' AS manifest_path,
        |       CAST(6000 + 89 * doc_id + 11 * k AS BIGINT) AS manifest_length,
        |       CAST((doc_id + k) % 2 AS BIGINT) AS content,
        |       CAST(10 + (doc_id + k) % 9 AS BIGINT) AS sequence_number,
        |       CAST(1 + (doc_id + k) % 5 AS BIGINT) AS min_sequence_number,
        |       CAST((doc_id + k) % 7 AS BIGINT) AS added_files_count,
        |       CAST((doc_id + 2 * k) % 5 AS BIGINT) AS existing_files_count,
        |       CAST((doc_id + 3 * k) % 3 AS BIGINT) AS deleted_files_count
        |FROM e ORDER BY doc_id, entry_idx""".stripMargin,
    // TFRecord replay: record table as id arithmetic; offsets are a
    // running sum of (16-byte framing + payload)
    "q_multimodal_tfrecords" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 4 AS ns
        |  FROM documents),
        |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
        |m AS (
        |  SELECT doc_id, k,
        |         n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END AS len
        |  FROM ks),
        |o AS (
        |  SELECT doc_id, k, len,
        |         coalesce(sum(16 + len)
        |           OVER (PARTITION BY doc_id ORDER BY k
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM m)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS rec_idx,
        |       CAST(off AS BIGINT) AS offset,
        |       CAST(len AS BIGINT) AS length
        |FROM o ORDER BY doc_id, rec_idx""".stripMargin,
    // AVIF replay: every census field is id arithmetic; the byte count
    // folds the fixed box layout (24 ftyp + 89 meta + 41 per item +
    // 8 mdat header) around the text payload
    "q_multimodal_avif" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         1 + doc_id % 2 AS ni
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(1 + doc_id % 1200 AS BIGINT) AS width,
        |       CAST(1 + doc_id % 900 AS BIGINT) AS height,
        |       CAST(ni AS BIGINT) AS n_items,
        |       CAST(1 + doc_id % 7 AS BIGINT) AS primary_item,
        |       CAST(121 + 41 * ni + n AS BIGINT) AS n_bytes
        |FROM px ORDER BY doc_id""".stripMargin,
    // ZIP replay: the tar oracle's sibling — member table as id
    // arithmetic, local-header offsets as a running sum of
    // (30-byte header + 6-byte name + data)
    "q_multimodal_zip_members" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 3 AS ns
        |  FROM documents),
        |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
        |m AS (
        |  SELECT doc_id, k, 0 AS sub, 's' || CAST(k AS VARCHAR) || '.txt' AS name,
        |         n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END AS size
        |  FROM ks
        |  UNION ALL
        |  SELECT doc_id, k, 1 AS sub, 's' || CAST(k AS VARCHAR) || '.cls' AS name,
        |         1 AS size
        |  FROM ks),
        |o AS (
        |  SELECT doc_id, name, size,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY k, sub) - 1 AS member_idx,
        |         coalesce(sum(30 + 6 + size)
        |           OVER (PARTITION BY doc_id ORDER BY k, sub
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS local_off
        |  FROM m)
        |SELECT doc_id,
        |       CAST(member_idx AS BIGINT) AS member_idx,
        |       name,
        |       CAST(0 AS BIGINT) AS method,
        |       CAST(size AS BIGINT) AS comp_size,
        |       CAST(size AS BIGINT) AS uncomp_size,
        |       CAST(local_off AS BIGINT) AS local_off
        |FROM o ORDER BY doc_id, member_idx""".stripMargin,
    // HLS replay: segment table as pure id arithmetic (durations were
    // synthesized as exact-millisecond decimal strings)
    "q_multimodal_hls_segments" ->
      s"""WITH px AS (
        |  SELECT doc_id, 1 + doc_id % 6 AS nsegs FROM documents),
        |ks AS (SELECT doc_id, nsegs, unnest(generate_series(0, nsegs - 1)) AS k FROM px)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS seg_idx,
        |       CAST(doc_id % 100 + k AS BIGINT) AS seq_no,
        |       CAST(1500 + (doc_id + k) % 800 AS BIGINT) AS duration_ms,
        |       'seg' || CAST(k AS VARCHAR) || '.ts' AS uri
        |FROM ks ORDER BY doc_id, seg_idx""".stripMargin,
    // WARC replay: record table as id arithmetic (tar split rule for
    // the payload); header bytes are the octet_length of the SAME
    // header string the synthesizer emits, offsets a running sum of
    // (header + block + 4)
    "q_warc_records" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 3 AS ns
        |  FROM documents),
        |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
        |m AS (
        |  SELECT doc_id, k,
        |         CASE k % 3 WHEN 0 THEN 'response' WHEN 1 THEN 'request'
        |                    ELSE 'metadata' END AS typ,
        |         'https://example.com/' || CAST(doc_id AS VARCHAR) || '/' ||
        |           CAST(k AS VARCHAR) AS uri,
        |         n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END AS len
        |  FROM ks),
        |h AS (
        |  SELECT doc_id, k, typ, uri, len,
        |         octet_length(encode(
        |           'WARC/1.0' || chr(13) || chr(10) ||
        |           'WARC-Type: ' || typ || chr(13) || chr(10) ||
        |           'WARC-Record-ID: <urn:uuid:' || lpad(CAST(doc_id AS VARCHAR), 10, '0') ||
        |             '-' || CAST(k AS VARCHAR) || '>' || chr(13) || chr(10) ||
        |           'WARC-Date: 2026-01-01T00:00:00Z' || chr(13) || chr(10) ||
        |           'WARC-Target-URI: ' || uri || chr(13) || chr(10) ||
        |           'Content-Type: text/plain' || chr(13) || chr(10) ||
        |           'Content-Length: ' || CAST(len AS VARCHAR) || chr(13) || chr(10) ||
        |           chr(13) || chr(10))) AS hb
        |  FROM m),
        |o AS (
        |  SELECT doc_id, k, typ, uri, len, hb,
        |         coalesce(sum(hb + len + 4)
        |           OVER (PARTITION BY doc_id ORDER BY k
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM h)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS rec_idx,
        |       typ AS warc_type,
        |       uri AS target_uri,
        |       CAST(off AS BIGINT) AS offset,
        |       CAST(hb AS BIGINT) AS header_bytes,
        |       CAST(len AS BIGINT) AS content_length
        |FROM o ORDER BY doc_id, rec_idx""".stripMargin,
    // CDX replay: the same record table THROUGH the gzip layer — the
    // census must inflate, CRC-verify, and re-frame every member to
    // report these; compressed offsets are deflate-dependent and are
    // pinned by OpsSpec's ranged-read contract instead.  The STREAMING
    // flavor shares this text verbatim (stream == batch is the law).
    "q_warc_cdx" -> warcCdxOracleSql,
    "q_warc_cdx_stream" -> warcCdxOracleSql,
    // JSONL seek-table replay (ASCII lines → octet_length running
    // sums); the zst flavor shares the text verbatim
    "q_jsonl_shard" -> jsonlShardOracleSql,
    "q_jsonl_zst_shard" -> jsonlShardOracleSql,
    
    // sniff replay: the synthesized arm IS the expected magic
    "q_media_sniff" ->
      s"""SELECT doc_id,
        |       CASE doc_id % 9
        |         WHEN 0 THEN 'pdf' WHEN 1 THEN 'tar' WHEN 2 THEN 'gzip'
        |         WHEN 3 THEN 'zstd' WHEN 4 THEN 'warc' WHEN 5 THEN 'mp3-id3'
        |         WHEN 6 THEN 'zip' WHEN 7 THEN 'arrow-ipc'
        |         ELSE 'zip:epub' END AS kind
        |FROM documents ORDER BY doc_id""".stripMargin,
    // EPUB replay: container path constant by synthesis, counts are
    // id arithmetic (3 fixed members + one chapter per spine item)
    "q_epub_meta" ->
      s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS n FROM documents)
        |SELECT doc_id,
        |       'OEBPS/content.opf' AS opf_path,
        |       CAST(3 + n AS BIGINT) AS n_members,
        |       CAST(n AS BIGINT) AS n_manifest,
        |       CAST(n AS BIGINT) AS n_spine
        |FROM px ORDER BY doc_id""".stripMargin,
    // PDF replay: version constant, object count = catalog + page
    // tree + nPages pages + nPages content streams + the free entry
    "q_pdf_meta" ->
      s"""WITH px AS (SELECT doc_id, 1 + doc_id % 4 AS np FROM documents)
        |SELECT doc_id,
        |       '1.4' AS version,
        |       CAST(3 + 2 * np AS BIGINT) AS n_objects,
        |       CAST(np AS BIGINT) AS n_pages,
        |       CAST(1 AS BIGINT) AS n_sections,
        |       'classic' AS layout
        |FROM px ORDER BY doc_id""".stripMargin,
    // encrypted-arm replay: even ids add the /Encrypt dict object
    // (+1 in /Size) and census as encrypted=1, pages still resolved
    "q_pdf_meta_enc" ->
      s"""WITH px AS (SELECT doc_id, 1 + doc_id % 4 AS np FROM documents)
        |SELECT doc_id,
        |       '1.4' AS version,
        |       CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END
        |            + 2 * np AS BIGINT) AS n_objects,
        |       CAST(np AS BIGINT) AS n_pages,
        |       CAST(doc_id % 2 = 0 AS BIGINT) AS encrypted
        |FROM px ORDER BY doc_id""".stripMargin,
    // DV replay: the three synthesis arms as id arithmetic — base
    // positions, the 601-wide run, the two high-key (bitmap 2) rows
    "q_delta_dv" ->
      s"""WITH base AS (
        |  SELECT doc_id, CAST(k * 3 + doc_id % 3 AS BIGINT) AS pos
        |  FROM documents, unnest(generate_series(0, doc_id % 17)) t(k)),
        |run AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS pos
        |  FROM documents, unnest(generate_series(5000, 5600)) t(p)
        |  WHERE doc_id % 5 = 0),
        |high AS (
        |  SELECT doc_id, CAST(4294967296 + 7 AS BIGINT) AS pos
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id, CAST(4294967296 + 11 AS BIGINT) AS pos
        |  FROM documents WHERE doc_id % 4 = 0)
        |SELECT doc_id, pos
        |FROM (SELECT * FROM base UNION ALL SELECT * FROM run
        |      UNION ALL SELECT * FROM high)
        |ORDER BY doc_id, pos""".stripMargin,
    // Puffin replay: blob roster is id arithmetic by synthesis —
    // blob 0 on even ids is the DV, odd-k theta blobs declare zstd;
    // span_ok proves every blob sits inside the file geometry
    "q_puffin_meta" ->
      s"""WITH n AS (SELECT doc_id, doc_id % 3 AS top FROM documents),
        |b AS (SELECT doc_id, unnest(generate_series(0, top)) AS k FROM n)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS blob_idx,
        |       CASE WHEN k = 0 AND doc_id % 2 = 0 THEN 'deletion-vector-v1'
        |            ELSE 'apache-datasketches-theta-v1' END AS blob_type,
        |       CAST(100 + doc_id AS BIGINT) AS snapshot_id,
        |       CAST(doc_id % 10 AS BIGINT) AS sequence_number,
        |       CASE WHEN k % 2 = 1 THEN 'zstd' END AS codec,
        |       CASE WHEN k = 0 AND doc_id % 2 = 0
        |            THEN 'data/part-' || CAST(doc_id AS VARCHAR) || '.parquet'
        |       END AS ref_file,
        |       CASE WHEN k = 0 AND doc_id % 2 = 0
        |            THEN CAST(doc_id % 11 + 1 +
        |                 CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |       END AS cardinality,
        |       true AS span_ok
        |FROM b ORDER BY doc_id, blob_idx""".stripMargin,
    // Puffin DV replay: the two synthesis arms as id arithmetic —
    // base positions on even ids, the high-key (second bitmap) row
    // on ids % 4 == 0
    "q_puffin_dv" ->
      s"""WITH base AS (
        |  SELECT doc_id, CAST(k * 5 + doc_id % 5 AS BIGINT) AS pos
        |  FROM documents, unnest(generate_series(0, doc_id % 11)) t(k)
        |  WHERE doc_id % 2 = 0),
        |high AS (
        |  SELECT doc_id, CAST(4294967296 + 3 AS BIGINT) AS pos
        |  FROM documents WHERE doc_id % 4 = 0)
        |SELECT doc_id, pos
        |FROM (SELECT * FROM base UNION ALL SELECT * FROM high)
        |ORDER BY doc_id, pos""".stripMargin,
    // MOR replay: deletes target doc_id % 7 == 0 rows by physical
    // position, so survivors are the complement — position plumbing
    // must be invisible
    "q_iceberg_mor" ->
      s"""SELECT doc_id FROM documents
        |WHERE doc_id % 7 <> 0 ORDER BY doc_id""".stripMargin,
    // mixed-kind MOR replay: position deletes drop doc_id % 7 = 0;
    // an equality delete hits only data rows whose sequence
    // (1 + doc_id % 4) is STRICTLY below the delete's — the
    // later-sequence survivors are the spec's reinsert case
    "q_iceberg_mor_eq" ->
      s"""SELECT doc_id FROM documents
        |WHERE doc_id % 7 <> 0
        |  AND NOT (lang = 'de' AND 1 + doc_id % 4 < 3)
        |  AND NOT (lang = 'fr' AND 1 + doc_id % 4 < 5)
        |ORDER BY doc_id""".stripMargin,
    // v3 MOR-DV end-to-end replay: even ids carry a DV whose
    // positions are k*5 + id%5 for k <= id%11 (the high key 2^32+3
    // on id%4==0 is outside the 60-row data files and drops
    // nothing); survivors are each file's 60 positions minus the DV
    "q_iceberg_mor_dv" ->
      s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
        |r AS (SELECT doc_id, CAST(p AS BIGINT) AS pos
        |      FROM d, unnest(generate_series(0, 59)) t(p)),
        |dv AS (SELECT doc_id, CAST(k * 5 + doc_id % 5 AS BIGINT) AS pos
        |       FROM d, unnest(generate_series(0, doc_id % 11)) t(k))
        |SELECT r.doc_id, r.pos FROM r
        |WHERE NOT EXISTS (SELECT 1 FROM dv
        |                  WHERE dv.doc_id = r.doc_id AND dv.pos = r.pos)
        |ORDER BY doc_id, pos""".stripMargin,
    // manifest column-stats replay: every entry carries c = 1..3
    // stats — sizes 1000c+id, counts 100+c, lower bound bytes
    // [c, id & 0x7f] hex — all id arithmetic by synthesis
    "q_iceberg_manifest_stats" ->
      s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents),
        |ks AS (SELECT doc_id, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
        |cs AS (SELECT doc_id, k, unnest(generate_series(1, 3)) AS c FROM ks)
        |SELECT doc_id, CAST(k AS BIGINT) AS entry_idx,
        |       CAST(c AS BIGINT) AS col_id,
        |       CAST(1000 * c + doc_id AS BIGINT) AS column_size,
        |       CAST(100 + c AS BIGINT) AS value_count,
        |       CAST((doc_id + c) % 5 AS BIGINT) AS null_value_count,
        |       lower(lpad(to_hex(c), 2, '0') ||
        |         lpad(to_hex(doc_id & 127), 2, '0')) AS lower_bound_hex,
        |       lower(lpad(to_hex(c + 1), 2, '0') ||
        |         lpad(to_hex((doc_id * 3) & 127), 2, '0')) AS upper_bound_hex
        |FROM cs ORDER BY doc_id, entry_idx, col_id""".stripMargin,
    // partition replay: the synth writes {p_bucket: id % 16,
    // p_days: id % 365} on every entry — exact JSON string
    "q_iceberg_manifest_partition" ->
      s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents),
        |ks AS (SELECT doc_id, ns, unnest(generate_series(0, ns - 1)) AS k FROM px)
        |SELECT doc_id, CAST(k AS BIGINT) AS entry_idx,
        |       '{"p_bucket":' || CAST(doc_id % 16 AS VARCHAR) ||
        |         ',"p_days":' || CAST(doc_id % 365 AS VARCHAR) || '}'
        |         AS partition_json
        |FROM ks ORDER BY doc_id, entry_idx""".stripMargin,
    // v3 DV-routing replay: entry k is a position delete when
    // (doc_id + k) % 3 = 1; its referenced file and blob span are
    // id arithmetic by synthesis
    "q_iceberg_manifest_dv" ->
      s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents),
        |ks AS (SELECT doc_id, ns, unnest(generate_series(0, ns - 1)) AS k FROM px)
        |SELECT doc_id, CAST(k AS BIGINT) AS entry_idx,
        |       'data/part-' || CAST(doc_id AS VARCHAR) || '-' ||
        |         CAST(k AS VARCHAR) || '.parquet' AS referenced_data_file,
        |       CAST(4 + doc_id % 100 AS BIGINT) AS content_offset,
        |       CAST(20 + doc_id % 50 AS BIGINT) AS content_size_in_bytes
        |FROM ks WHERE (doc_id + k) % 3 = 1
        |ORDER BY doc_id, entry_idx""".stripMargin,
    // v2 equality-delete manifest replay: entry k is a delete file
    // when (doc_id + k) % 3 = 2; its equality_ids list and sequence
    // number are id arithmetic by synthesis
    "q_iceberg_manifest_eq" ->
      s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents),
        |ks AS (SELECT doc_id, ns, unnest(generate_series(0, ns - 1)) AS k FROM px)
        |SELECT doc_id, CAST(k AS BIGINT) AS entry_idx,
        |       CAST(7 + doc_id % 9 AS BIGINT) AS sequence_number,
        |       CAST(doc_id % 3 + 1 AS VARCHAR) || ',5' AS equality_ids
        |FROM ks WHERE (doc_id + k) % 3 = 2
        |ORDER BY doc_id, entry_idx""".stripMargin,
    // WET replay: the conversion record is record 1 (after warcinfo)
    // and carries the document text verbatim — the gzip/WARC framing
    // must be byte-invisible
    "q_cc_wet" ->
      s"""SELECT doc_id,
        |       CAST(1 AS BIGINT) AS rec_idx,
        |       'https://example.com/' || CAST(doc_id AS VARCHAR) || '/1' AS uri,
        |       text AS page_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    // WAT replay: link count and first link are id arithmetic by
    // synthesis; the JSON envelope round-trips through the framing
    "q_cc_wat" ->
      s"""SELECT doc_id,
        |       'https://example.com/' || CAST(doc_id AS VARCHAR) || '/1' AS uri,
        |       CAST(1 + doc_id % 4 AS BIGINT) AS n_links,
        |       'https://example.com/' || CAST(doc_id AS VARCHAR) || '/out0' AS first_link
        |FROM documents ORDER BY doc_id""".stripMargin,
    // revisit replay: even ids carry one revisit whose digest is the
    // deterministic md5(id:text) — the join must resolve it to the
    // k=0 response's URI; DuckDB recomputes the digest itself
    "q_warc_revisit" ->
      s"""SELECT doc_id,
        |       'https://example.com/' || CAST(doc_id AS VARCHAR) || '/re0'
        |         AS revisit_uri,
        |       'https://example.com/' || CAST(doc_id AS VARCHAR) || '/0'
        |         AS original_uri,
        |       'md5:' || md5(CAST(doc_id AS VARCHAR) || ':' || text)
        |         AS digest
        |FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,
    // PDF text replay: page k shows the k-th 6-token window — the
    // same token-slice convention as the VTT/SRT cue oracles; the
    // literal/TJ/hex show forms and the flate layer must be
    // byte-invisible
    "q_pdf_text" ->
      raw"""WITH t AS (
           |  SELECT doc_id,
           |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
           |         1 + doc_id % 4 AS np
           |  FROM documents),
           |p AS (SELECT doc_id, toks, unnest(generate_series(0, np - 1)) AS k FROM t)
           |SELECT doc_id,
           |       CAST(k AS BIGINT) AS page_idx,
           |       coalesce(array_to_string(toks[k * 6 + 1 : k * 6 + 6], ' '), '') AS page_text
           |FROM p ORDER BY doc_id, page_idx""".stripMargin,
    // CID text replay: identical window rule — the Type0 remapped
    // codes, ToUnicode CMap, and resources inheritance must be
    // text-invisible end to end
    "q_pdf_text_cid" ->
      raw"""WITH t AS (
           |  SELECT doc_id,
           |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
           |         1 + doc_id % 4 AS np
           |  FROM documents),
           |p AS (SELECT doc_id, toks, unnest(generate_series(0, np - 1)) AS k FROM t)
           |SELECT doc_id,
           |       CAST(k AS BIGINT) AS page_idx,
           |       coalesce(array_to_string(toks[k * 6 + 1 : k * 6 + 6], ' '), '') AS page_text
           |FROM p ORDER BY doc_id, page_idx""".stripMargin,
    // xref-stream replay: even ids add the object stream (+1 object);
    // the xref stream object itself is always one more
    "q_pdf_meta_xrs" ->
      s"""WITH px AS (SELECT doc_id, 1 + doc_id % 4 AS np FROM documents)
        |SELECT doc_id,
        |       '1.5' AS version,
        |       CAST(CASE WHEN doc_id % 2 = 0 THEN 5 ELSE 4 END
        |            + 2 * np AS BIGINT) AS n_objects,
        |       CAST(np AS BIGINT) AS n_pages,
        |       CAST(1 AS BIGINT) AS n_sections,
        |       'xref-stream' AS layout
        |FROM px ORDER BY doc_id""".stripMargin,
    // incremental replay: the appended revision adds one info object
    // (/Size + 1) and a second xref section chained via /Prev
    "q_pdf_meta_incr" ->
      s"""WITH px AS (SELECT doc_id, 1 + doc_id % 4 AS np FROM documents)
        |SELECT doc_id,
        |       '1.4' AS version,
        |       CAST(4 + 2 * np AS BIGINT) AS n_objects,
        |       CAST(np AS BIGINT) AS n_pages,
        |       CAST(2 AS BIGINT) AS n_sections,
        |       'classic' AS layout
        |FROM px ORDER BY doc_id""".stripMargin,
    // crawl-faithful e2e replay: q_cc_e2e's chain gated on the
    // synthesized status rule (404 for doc_id % 7 = 0) with the
    // envelope's type/charset carried through
    "q_cc_http_e2e" -> {
      val synth = "'<html><head><title>Doc ' || doc_id || " +
        "'</title><style>p { color: red }</style>" +
        "<script>var x = 1; if (x < 2) { x = 3; }</script>" +
        "</head><body><h1>Doc ' || doc_id || '</h1>\n<p>' || text || " +
        "' &amp; 5 &lt; 7</p><!-- crawl footer -->\n</body></html>'"
      val clean = graft.ops.TextOps.htmlPatterns.foldLeft(synth) {
        case (acc, (pat, repl)) =>
          s"regexp_replace($acc, '${pat.replace("'", "''")}', " +
            s"'${repl.replace("'", "''")}', 'g')"
      }
      raw"""WITH c AS (
           |  SELECT doc_id,
           |         'https://example.com/' || CAST(doc_id AS VARCHAR) || '/1' AS target_uri,
           |         $clean AS clean
           |  FROM documents WHERE doc_id % 7 <> 0),
           |t AS (
           |  SELECT doc_id, target_uri, clean,
           |         CAST(len(list_filter(string_split_regex(clean, '\s+'),
           |           x -> x <> '')) AS BIGINT) AS n_tokens
           |  FROM c)
           |SELECT doc_id, target_uri,
           |       CAST(200 AS BIGINT) AS status,
           |       'text/html' AS content_type,
           |       'utf-8' AS charset,
           |       clean, n_tokens,
           |       CAST(n_tokens >= 5 AS BIGINT) AS keep
           |FROM t ORDER BY doc_id""".stripMargin
    },
    // table-state replay: only the CURRENT snapshot (k = ns-1)
    // contributes; per manifest j, entry e is live when status
    // (doc_id+k+j+e) % 3 != 2 — all fields id arithmetic
    "q_iceberg_table_state" ->
      s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents),
        |base AS (SELECT doc_id, ns - 1 AS k FROM px),
        |js AS (
        |  SELECT doc_id, k,
        |         unnest(generate_series(0, (doc_id + k) % 2)) AS j
        |  FROM base),
        |es AS (
        |  SELECT doc_id, k, j,
        |         unnest(generate_series(0, (doc_id + j) % 3)) AS e
        |  FROM js)
        |SELECT doc_id,
        |       'mf-' || CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR)
        |         || '-' || CAST(j AS VARCHAR) || '.avro' AS manifest_path,
        |       'data/d-' || CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR)
        |         || '-' || CAST(j AS VARCHAR) || '-' || CAST(e AS VARCHAR)
        |         || '.parquet' AS file_path,
        |       CAST(100 + (doc_id + e) % 57 AS BIGINT) AS record_count,
        |       CAST(1000 + 53 * doc_id + 17 * k + 5 * j + e AS BIGINT)
        |         AS file_size_in_bytes
        |FROM es WHERE (doc_id + k + j + e) % 3 <> 2
        |ORDER BY doc_id, manifest_path, file_path""".stripMargin,
    // time-travel replay: the EARLIEST snapshot is k = 0 — same
    // chain arithmetic as q_iceberg_table_state with the pointer
    // moved
    "q_iceberg_time_travel" ->
      s"""WITH base AS (SELECT doc_id, 0 AS k FROM documents),
        |js AS (
        |  SELECT doc_id, k,
        |         unnest(generate_series(0, (doc_id + k) % 2)) AS j
        |  FROM base),
        |es AS (
        |  SELECT doc_id, k, j,
        |         unnest(generate_series(0, (doc_id + j) % 3)) AS e
        |  FROM js)
        |SELECT doc_id,
        |       'mf-' || CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR)
        |         || '-' || CAST(j AS VARCHAR) || '.avro' AS manifest_path,
        |       'data/d-' || CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR)
        |         || '-' || CAST(j AS VARCHAR) || '-' || CAST(e AS VARCHAR)
        |         || '.parquet' AS file_path,
        |       CAST(100 + (doc_id + e) % 57 AS BIGINT) AS record_count,
        |       CAST(1000 + 53 * doc_id + 17 * k + 5 * j + e AS BIGINT)
        |         AS file_size_in_bytes
        |FROM es WHERE (doc_id + k + j + e) % 3 <> 2
        |ORDER BY doc_id, manifest_path, file_path""".stripMargin,
    // Iceberg metadata replay: every snapshot row is id arithmetic;
    // the last snapshot is current; format version alternates 1/2
    "q_iceberg_metadata" ->
      s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents),
        |ks AS (SELECT doc_id, ns, unnest(generate_series(0, ns - 1)) AS k FROM px)
        |SELECT doc_id,
        |       CAST(1 + doc_id % 2 AS BIGINT) AS format_version,
        |       't-' || CAST(doc_id AS VARCHAR) AS table_uuid,
        |       CAST(3000 + doc_id + k AS BIGINT) AS snapshot_id,
        |       CAST(1690000000000 + doc_id + k AS BIGINT) AS timestamp_ms,
        |       'ml-' || CAST(doc_id AS VARCHAR) || '-' ||
        |         CAST(k AS VARCHAR) || '.avro' AS manifest_list,
        |       CASE WHEN k = 0 THEN 'append' ELSE 'overwrite' END AS operation,
        |       CAST(k = ns - 1 AS BIGINT) AS is_current
        |FROM ks ORDER BY doc_id, snapshot_id""".stripMargin,
    // CDXJ replay: the index line's parsed fields in closed form —
    // urlkey is the SURT of the synthesized URI, timestamp constant,
    // url/type/clen the q_warc_cdx record table
    "q_warc_cdxj" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 3 AS ns
        |  FROM documents),
        |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
        |m AS (
        |  SELECT doc_id, k,
        |         CASE k % 3 WHEN 0 THEN 'response' WHEN 1 THEN 'request'
        |                    ELSE 'metadata' END AS typ,
        |         n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END AS len
        |  FROM ks)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS rec_idx,
        |       'com,example)/' || CAST(doc_id AS VARCHAR) || '/' ||
        |         CAST(k AS VARCHAR) AS urlkey,
        |       '20260101000000' AS ts,
        |       'https://example.com/' || CAST(doc_id AS VARCHAR) || '/' ||
        |         CAST(k AS VARCHAR) AS url,
        |       typ AS type,
        |       CAST(len AS BIGINT) AS content_length
        |FROM m ORDER BY doc_id, rec_idx""".stripMargin,
    // SURT replay: the identical lowercase/extract/reverse/sort steps
    // over the same synthesized URL — byte-for-byte, with the
    // default-port strip gated on the extracted scheme; the alt arm
    // derives the scheme×port keep/strip matrix independently from
    // doc_id arithmetic
    "q_surt_keys" ->
      raw"""WITH u0 AS (
           |  SELECT doc_id, lower($urlSynthSql) AS lu FROM documents),
           |h0 AS (
           |  SELECT doc_id, lu,
           |         regexp_extract(lu, '^([a-z][a-z0-9+.-]*)://', 1) AS sch,
           |         regexp_extract(lu, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS hostport,
           |         regexp_extract(lu, '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path0,
           |         regexp_extract(lu, '\?([^#]*)', 1) AS q
           |  FROM u0),
           |h AS (
           |  SELECT doc_id, lu,
           |         regexp_replace(
           |           CASE WHEN sch = 'https' THEN regexp_replace(hostport, ':443$$', '')
           |                WHEN sch = 'http'  THEN regexp_replace(hostport, ':80$$', '')
           |                ELSE hostport END, '^www\.', '') AS host,
           |         path0, q
           |  FROM h0),
           |alt AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END AS asch,
           |         CASE doc_id % 3 WHEN 0 THEN '80' WHEN 1 THEN '443'
           |              ELSE '8080' END AS aprt
           |  FROM documents),
           |alt2 AS (
           |  SELECT doc_id,
           |         'com,example,host' || CAST(doc_id AS VARCHAR) ||
           |           CASE WHEN (asch = 'http' AND aprt = '80')
           |                  OR (asch = 'https' AND aprt = '443') THEN ''
           |                ELSE ':' || aprt END || ')/path' AS url_surt_alt
           |  FROM alt),
           |p AS (
           |  SELECT doc_id,
           |         regexp_replace(host, ':[0-9]+$$', '') AS hostname,
           |         regexp_extract(host, ':([0-9]+)$$', 1) AS port,
           |         path0,
           |         array_to_string(list_sort(list_filter(
           |           string_split(q, '&'), x -> x <> '')), '&') AS qq
           |  FROM h)
           |SELECT p.doc_id,
           |       array_to_string(list_reverse(string_split(hostname, '.')), ',')
           |         || CASE WHEN port = '' THEN '' ELSE ':' || port END
           |         || ')'
           |         || CASE WHEN path0 = '' THEN '/' ELSE path0 END
           |         || CASE WHEN qq = '' THEN '' ELSE '?' || qq END AS url_surt,
           |       alt2.url_surt_alt
           |FROM p JOIN alt2 ON p.doc_id = alt2.doc_id
           |ORDER BY p.doc_id""".stripMargin,
    // feed replay: kept (link-bearing) entries re-indexed by a window
    // — the (doc_id+k)%6 link-less arm must vanish without a gap
    "q_feed_entries" ->
      s"""WITH px AS (
        |  SELECT doc_id, doc_id % 3 = 0 AS atom, doc_id % 4 + 1 AS n
        |  FROM documents),
        |ks AS (SELECT doc_id, atom, unnest(generate_series(0, n - 1)) AS k FROM px),
        |kept AS (SELECT doc_id, atom, k FROM ks WHERE (doc_id + k) % 6 <> 0),
        |e AS (
        |  SELECT doc_id, atom, k,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS entry_idx
        |  FROM kept)
        |SELECT doc_id,
        |       CAST(entry_idx AS BIGINT) AS entry_idx,
        |       CASE WHEN atom THEN 'atom' ELSE 'rss' END AS kind,
        |       'Post ' || CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR) ||
        |         CASE WHEN k = 1 THEN ' & more' ELSE '' END AS title,
        |       'https://example.com/' || CAST(doc_id AS VARCHAR) || '/post' ||
        |         CAST(k AS VARCHAR) AS link,
        |       CASE WHEN atom THEN
        |         '2026-01-0' || CAST(k % 9 + 1 AS VARCHAR) || 'T00:00:00Z'
        |       ELSE
        |         '0' || CAST(k % 9 + 1 AS VARCHAR) || ' Jan 2026 00:00:00 GMT'
        |       END AS ts
        |FROM e ORDER BY doc_id, entry_idx""".stripMargin,
    // sitemap replay: every entry is doc_id arithmetic — index hosts
    // (doc_id % 4 = 0) emit child-sitemap rows, the rest page rows
    // with the k=1 entity-decoded loc and the every-3rd lastmod drop
    "q_sitemap_entries" ->
      s"""WITH px AS (
        |  SELECT doc_id,
        |         doc_id % 4 = 0 AS is_index,
        |         CASE WHEN doc_id % 4 = 0 THEN doc_id % 3 + 1
        |              ELSE doc_id % 5 + 1 END AS n
        |  FROM documents),
        |ks AS (SELECT doc_id, is_index, unnest(generate_series(0, n - 1)) AS k FROM px)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS entry_idx,
        |       CASE WHEN is_index THEN 'sitemap' ELSE 'url' END AS kind,
        |       CASE WHEN is_index THEN
        |         'https://example.com/sm/' || CAST(doc_id AS VARCHAR) || '/' ||
        |           CAST(k AS VARCHAR) || '.xml'
        |       ELSE
        |         'https://example.com/' || CAST(doc_id AS VARCHAR) || '/p' ||
        |           CAST(k AS VARCHAR) ||
        |           CASE WHEN k = 1 THEN '?a=1&b=2' ELSE '' END
        |       END AS loc,
        |       CASE WHEN is_index THEN
        |         '2026-0' || CAST(k % 9 + 1 AS VARCHAR) || '-01'
        |       WHEN k % 3 <> 2 THEN
        |         '2026-0' || CAST(k % 9 + 1 AS VARCHAR) || '-02'
        |       ELSE '' END AS lastmod,
        |       CASE WHEN is_index THEN ''
        |            ELSE '0.' || CAST(k % 10 AS VARCHAR) END AS priority
        |FROM ks ORDER BY doc_id, entry_idx""".stripMargin,
    // robots.txt parse replay: the rule table is doc_id arithmetic —
    // BGZF replay: block k's inflated size is the byte-split rule,
    // plus the zero-size EOF marker block
    "q_bgzf_blocks" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         1 + doc_id % 3 AS nb
        |  FROM documents),
        |ks AS (SELECT doc_id, n, nb,
        |              unnest(generate_series(0, nb - 1)) AS k FROM px),
        |blocks AS (
        |  SELECT doc_id, k,
        |         n // nb + CASE WHEN k < n % nb THEN 1 ELSE 0 END AS isize
        |  FROM ks
        |  UNION ALL
        |  SELECT doc_id, nb, 0 FROM px)
        |SELECT doc_id, CAST(k AS BIGINT) AS block_idx,
        |       CAST(isize AS BIGINT) AS isize
        |FROM blocks ORDER BY doc_id, block_idx""".stripMargin,
    // seekable-zstd replay: frame k's decompressed geometry is the
    // byte-split rule (the codec's compressed sizes never appear)
    "q_zstd_seek" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         1 + doc_id % 4 AS nf
        |  FROM documents),
        |ks AS (SELECT doc_id, n, nf,
        |              unnest(generate_series(0, nf - 1)) AS k FROM px)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS frame_idx,
        |       CAST(k * (n // nf) + least(k, n % nf) AS BIGINT) AS d_offset,
        |       CAST(n // nf + CASE WHEN k < n % nf THEN 1 ELSE 0 END
        |            AS BIGINT) AS d_size
        |FROM ks ORDER BY doc_id, frame_idx""".stripMargin,
    // sitemap-directive replay: one per doc plus the lowercase arm
    // on every third
    "q_robots_sitemaps" ->
      s"""WITH one AS (
        |  SELECT doc_id, 0 AS k,
        |         'https://example.com/' || CAST(doc_id AS VARCHAR) ||
        |           '/sitemap.xml' AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 1,
        |         'https://example.com/' || CAST(doc_id AS VARCHAR) ||
        |           '/sitemap-news.xml'
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, CAST(k AS BIGINT) AS sitemap_idx, url
        |FROM one ORDER BY doc_id, sitemap_idx""".stripMargin,
    // group 0 is graftbot (2-3 rules + crawl-delay), group 1 the
    // multi-agent */legacybot pair (one row per agent per rule)
    "q_robots_rules" ->
      s"""WITH px AS (
        |  SELECT doc_id, doc_id % 5 AS m, doc_id % 3 AS b,
        |         1 + doc_id % 4 AS d, doc_id % 2 AS e
        |  FROM documents),
        |g0 AS (
        |  SELECT doc_id, 0 AS group_idx, 'graftbot' AS agent,
        |         0 AS rule_idx, 0 AS allow,
        |         '/private' || m || '/' AS pattern,
        |         d * 1000 AS crawl_delay_ms
        |  FROM px
        |  UNION ALL
        |  SELECT doc_id, 0, 'graftbot', 1, 1, '/private' || m || '/pub',
        |         d * 1000
        |  FROM px
        |  UNION ALL
        |  SELECT doc_id, 0, 'graftbot', 2, 0, '/docs', d * 1000
        |  FROM px WHERE e = 0),
        |g1 AS (
        |  SELECT doc_id, 1 AS group_idx, a.agent, 0 AS rule_idx,
        |         0 AS allow, '/blocked' || b || '/' AS pattern,
        |         -1 AS crawl_delay_ms
        |  FROM px CROSS JOIN (VALUES ('*'), ('legacybot')) AS a(agent)
        |  UNION ALL
        |  SELECT doc_id, 1, a.agent, 1, 0, '/tmp$$', -1
        |  FROM px CROSS JOIN (VALUES ('*'), ('legacybot')) AS a(agent))
        |SELECT doc_id,
        |       CAST(group_idx AS BIGINT) AS group_idx, agent,
        |       CAST(rule_idx AS BIGINT) AS rule_idx,
        |       CAST(allow AS BIGINT) AS allow, pattern,
        |       CAST(crawl_delay_ms AS BIGINT) AS crawl_delay_ms
        |FROM (SELECT * FROM g0 UNION ALL SELECT * FROM g1)
        |ORDER BY doc_id, group_idx, agent, rule_idx""".stripMargin,
    // robots eval replay: the RFC decisions in closed form — p0
    // disallowed (prefix match), p1 allowed (longer allow wins), p2
    // allowed (the specific graftbot group SHADOWS the * group), p3
    // decided by the even-id conditional rule, p4 unmatched → allowed
    "q_robots_eval" ->
      s"""WITH px AS (
        |  SELECT doc_id, doc_id % 5 AS m, doc_id % 3 AS b, doc_id % 2 AS e
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, '/private' || m || '/page' AS path, 0 AS allowed FROM px
        |  UNION ALL
        |  SELECT doc_id, '/private' || m || '/pub/x', 1 FROM px
        |  UNION ALL
        |  SELECT doc_id, '/blocked' || b || '/y', 1 FROM px
        |  UNION ALL
        |  SELECT doc_id, '/docs/readme', CASE WHEN e = 0 THEN 0 ELSE 1 END FROM px
        |  UNION ALL
        |  SELECT doc_id, '/open', 1 FROM px)
        |SELECT doc_id, path, CAST(allowed AS BIGINT) AS allowed
        |FROM p ORDER BY doc_id, path""".stripMargin,
    // Arrow IPC replay: one schema message then nb record batches,
    // row counts as id arithmetic (the byte geometry is the Arrow
    // library's own and is pinned in OpsSpec, not here)
    "q_arrow_ipc" ->
      s"""WITH px AS (SELECT doc_id, 1 + doc_id % 4 AS nb FROM documents),
        |ks AS (SELECT doc_id, nb, unnest(generate_series(0, nb - 1)) AS k FROM px),
        |m AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS msg_idx,
        |         CAST(1 AS BIGINT) AS header_type,
        |         CAST(-1 AS BIGINT) AS n_rows
        |  FROM px
        |  UNION ALL
        |  SELECT doc_id, CAST(k + 1 AS BIGINT),
        |         CAST(3 AS BIGINT),
        |         CAST(1 + (doc_id + k) % 5 AS BIGINT)
        |  FROM ks)
        |SELECT doc_id, msg_idx, header_type, n_rows
        |FROM m ORDER BY doc_id, msg_idx""".stripMargin,
    // SubRip replay: same token-slice pattern as the VTT oracle, with
    // the declared sequence number and comma-millisecond timings
    "q_multimodal_srt_cues" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
        |         1 + doc_id % 5 AS nc
        |  FROM documents),
        |c AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS k FROM t)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS cue_idx,
        |       CAST(k + 1 AS BIGINT) AS seq_no,
        |       CAST(k * (1800 + doc_id % 400) AS BIGINT) AS start_ms,
        |       CAST(k * (1800 + doc_id % 400) + 1200 + doc_id % 250 AS BIGINT) AS end_ms,
        |       coalesce(array_to_string(toks[k * 4 + 1 : k * 4 + 4], ' '), '') AS cue_text
        |FROM c ORDER BY doc_id, cue_idx""".stripMargin,
    // WebP replay: every census field is id arithmetic; the byte count
    // is the RIFF header + the fixed-size flavor chunk (VP8L pads its
    // odd 5-byte body) + the even-padded payload chunk
    "q_multimodal_webp" ->
      s"""WITH px AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
        |SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'VP8' WHEN 1 THEN 'VP8L' ELSE 'VP8X' END AS format,
        |       CAST(1 + doc_id % 997 AS BIGINT) AS width,
        |       CAST(1 + doc_id % 737 AS BIGINT) AS height,
        |       CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 2 END AS BIGINT) AS has_alpha,
        |       CAST(2 AS BIGINT) AS n_chunks,
        |       CAST(12 + CASE doc_id % 3 WHEN 1 THEN 14 ELSE 18 END
        |              + 8 + n + n % 2 AS BIGINT) AS n_bytes
        |FROM px ORDER BY doc_id""".stripMargin,
    // GIF replay: dims/colors/frames/delay are id arithmetic; the byte
    // count replays the per-frame sub-block split (255-byte blocks,
    // one length byte each, terminator per frame)
    "q_multimodal_gif" ->
      s"""WITH px AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) AS n,
        |         1 + doc_id % 3 AS nf,
        |         1 << (1 + CAST(doc_id % 8 AS INTEGER)) AS ncol
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, n, nf, ncol, unnest(generate_series(0, nf - 1)) AS f
        |  FROM px),
        |fb AS (
        |  SELECT doc_id, nf, ncol,
        |         n // nf + CASE WHEN f < n % nf THEN 1 ELSE 0 END AS take
        |  FROM fr),
        |agg AS (
        |  SELECT doc_id, nf, ncol,
        |         sum(8 + 10 + 1 + take + (take + 254) // 255 + 1) AS frame_bytes
        |  FROM fb GROUP BY doc_id, nf, ncol)
        |SELECT doc_id,
        |       CAST(1 + doc_id % 500 AS BIGINT) AS width,
        |       CAST(1 + doc_id % 300 AS BIGINT) AS height,
        |       CAST(ncol AS BIGINT) AS n_colors,
        |       CAST(nf AS BIGINT) AS n_frames,
        |       CAST(nf * (doc_id % 100) AS BIGINT) AS total_delay_cs,
        |       CAST(13 + 3 * ncol + frame_bytes + 1 AS BIGINT) AS n_bytes
        |FROM agg ORDER BY doc_id""".stripMargin,
    // Ogg Vorbis replay: header fields are id arithmetic; page count
    // is fixed (BOS + comment/setup + 3 data pages); the byte count
    // replays the RFC 3533 page overhead (27 + lacing + body) with the
    // fixed 58-byte BOS and 65-byte header pages
    "q_multimodal_vorbis_meta" ->
      s"""WITH px AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) AS n,
        |         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr,
        |         1024 * (1 + doc_id % 4) AS tpp
        |  FROM documents),
        |fr AS (SELECT doc_id, n, unnest(generate_series(0, 2)) AS f FROM px),
        |fb AS (
        |  SELECT doc_id, n // 3 + CASE WHEN f < n % 3 THEN 1 ELSE 0 END AS take
        |  FROM fr),
        |agg AS (
        |  SELECT doc_id, sum(27 + take // 255 + 1 + take) AS data_bytes
        |  FROM fb GROUP BY doc_id)
        |SELECT p.doc_id AS doc_id,
        |       CAST(1 + p.doc_id % 2 AS BIGINT) AS channels,
        |       CAST(sr AS BIGINT) AS sample_rate,
        |       CAST(1000 * (64 + 16 * (p.doc_id % 13)) AS BIGINT) AS bitrate_nominal,
        |       CAST(5 AS BIGINT) AS n_pages,
        |       CAST(3 * tpp AS BIGINT) AS last_granule,
        |       CAST(3 * tpp * 1000 // sr AS BIGINT) AS duration_ms,
        |       CAST(58 + 65 + data_bytes AS BIGINT) AS n_bytes
        |FROM px p JOIN agg a ON p.doc_id = a.doc_id
        |ORDER BY doc_id""".stripMargin,
    // EXIF replay: every field is the synthesis parameterization
    // (fixed little-endian TIFF layout, so the whole block is id
    // arithmetic); GPS-less rows (id % 4 = 0) carry empty refs/zeros
    "q_multimodal_exif" -> exifFieldsOracleSql,
    "q_multimodal_tiff" -> exifFieldsOracleSql,
    // EXIF-strip governance replay: the APP1 segment is the only thing
    // removed, so the byte deltas are the fixed TIFF-layout sizes
    "q_multimodal_exif_strip" ->
      s"""WITH px AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) AS n,
        |         CASE WHEN doc_id % 4 = 0 THEN 48 ELSE 162 END AS app1
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(4 + app1 + n + 4 * greatest(1, (n + 59999) // 60000) AS BIGINT) AS n_before,
        |       CAST(4 + n + 4 * greatest(1, (n + 59999) // 60000) AS BIGINT) AS n_after,
        |       CAST(app1 AS BIGINT) AS exif_bytes,
        |       CAST(0 AS BIGINT) AS exif_after
        |FROM px ORDER BY doc_id""".stripMargin,
    // Ogg/Opus replay: ID-header fields are the synthesis
    // parameterization; page count is fixed (2 header + 4 data), the
    // duration is the RFC 7845 rule ((last_granule - pre_skip) 48 kHz
    // ticks), and the byte census folds the RFC 3533 lacing rule
    // (27-byte header + ceil-ish (p/255 + 1) lacing values + payload)
    "q_multimodal_opus_meta" -> {
      val np = graft.ops.MultimodalOps.OpusDataPages
      s"""WITH px AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) AS n,
        |         480 * (1 + doc_id % 4) AS ticks
        |  FROM documents),
        |pg AS (
        |  SELECT doc_id, n, ticks, unnest(generate_series(0, ${np - 1})) AS k
        |  FROM px),
        |sz AS (
        |  SELECT doc_id, any_value(n) AS n, any_value(ticks) AS ticks,
        |         sum((n // $np + CASE WHEN k < n % $np THEN 1 ELSE 0 END) // 255) AS lace255
        |  FROM pg GROUP BY doc_id)
        |SELECT doc_id,
        |       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |       CAST(312 + doc_id % 100 AS BIGINT) AS pre_skip,
        |       CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 16000 END AS BIGINT) AS input_sample_rate,
        |       CAST(2 + $np AS BIGINT) AS n_pages,
        |       CAST(312 + doc_id % 100 + $np * ticks AS BIGINT) AS last_granule,
        |       CAST($np * ticks * 1000 // 48000 AS BIGINT) AS duration_ms,
        |       CAST(203 + n + lace255 AS BIGINT) AS n_bytes
        |FROM sz ORDER BY doc_id""".stripMargin
    },
    // VBR MP3 replay: frame f's bitrate is 1 + (id+f) % 14, so the
    // frame census walks the same per-frame capacity series with a
    // running sum (generate_series + window) — variable-length layout,
    // still pure integer arithmetic
    "q_multimodal_mp3_vbr" -> {
      val brCase = (1 to 14).map { i =>
        s"WHEN $i THEN ${graft.ops.MultimodalOps.Mp3BitrateKbps(i)}"
      }.mkString(" ")
      s"""WITH px AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) AS n,
        |         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, n, sr,
        |         unnest(generate_series(0, 4095)) AS fi
        |  FROM px),
        |cum AS (
        |  SELECT doc_id, n, sr, fi,
        |         144 * (CASE 1 + (doc_id + fi) % 14 $brCase END) * 1000 // sr AS flen,
        |         CASE 1 + (doc_id + fi) % 14 $brCase END AS br,
        |         sum(144 * (CASE 1 + (doc_id + fi) % 14 $brCase END) * 1000 // sr - 4)
        |           OVER (PARTITION BY doc_id ORDER BY fi) AS cumcap
        |  FROM fr),
        |nf AS (
        |  SELECT doc_id, greatest(1, min(fi + 1)) AS n_frames
        |  FROM cum WHERE cumcap >= n GROUP BY doc_id),
        |kept AS (
        |  SELECT c.doc_id, c.sr, c.n, f.n_frames,
        |         min(c.br) AS br_min, max(c.br) AS br_max,
        |         sum(c.flen) AS body_bytes
        |  FROM cum c JOIN nf f ON c.doc_id = f.doc_id AND c.fi < f.n_frames
        |  GROUP BY c.doc_id, c.sr, c.n, f.n_frames)
        |SELECT doc_id,
        |       CAST(sr AS BIGINT) AS sample_rate,
        |       CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS BIGINT) AS channels,
        |       CAST(n_frames AS BIGINT) AS n_frames,
        |       CAST(n_frames * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
        |       CAST(br_min AS BIGINT) AS br_min_kbps,
        |       CAST(br_max AS BIGINT) AS br_max_kbps,
        |       CAST(10 + doc_id % 17 AS BIGINT) AS first_frame_off,
        |       CAST(10 + doc_id % 17 + body_bytes AS BIGINT) AS n_bytes
        |FROM kept ORDER BY doc_id""".stripMargin
    },
    // AAC ADTS replay: header fields are the synthesis
    // parameterization; the frame census is fixed (6 frames), frame
    // lengths are the 7-byte header plus the text-split payload, and
    // the duration is 1024-samples-per-frame integer arithmetic
    "q_multimodal_aac_meta" -> {
      val srCase = (0 to 4).map { i =>
        s"WHEN $i THEN ${graft.ops.MultimodalOps.AdtsSampleRates(3 + i)}"
      }.mkString(" ")
      val ns = graft.ops.MultimodalOps.AdtsFrameCount
      s"""WITH px AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) AS n,
        |         CASE doc_id % 5 $srCase END AS sr
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(1 + doc_id % 3 AS BIGINT) AS object_type,
        |       CAST(sr AS BIGINT) AS sample_rate,
        |       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |       CAST($ns AS BIGINT) AS n_frames,
        |       CAST($ns * 1024 * 1000 // sr AS BIGINT) AS duration_ms,
        |       CAST(n + 7 * $ns AS BIGINT) AS n_bytes,
        |       CAST(7 + n // $ns + CASE WHEN n % $ns > 0 THEN 1 ELSE 0 END AS BIGINT) AS max_frame_len
        |FROM px ORDER BY doc_id""".stripMargin
    },
    // MP3 frame-header replay: every header field is the synthesis
    // parameterization; the frame census and duration are pure integer
    // arithmetic over the UTF-8 byte count (frameLen = 144·br·1000/sr,
    // capacity = frameLen − 4, MPEG-1 Layer III = 1152 samples/frame)
    "q_multimodal_mp3_meta" -> {
      val brCase = (1 to 14).map { i =>
        s"WHEN $i THEN ${graft.ops.MultimodalOps.Mp3BitrateKbps(i)}"
      }.mkString(" ")
      s"""WITH px AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) AS n,
        |         CASE 1 + doc_id % 14 $brCase END AS br,
        |         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
        |  FROM documents),
        |fx AS (
        |  SELECT doc_id, n, br, sr, 144 * br * 1000 // sr - 4 AS cap FROM px)
        |SELECT doc_id,
        |       CAST(1 AS BIGINT) AS version,
        |       CAST(3 AS BIGINT) AS layer,
        |       CAST(br AS BIGINT) AS bitrate_kbps,
        |       CAST(sr AS BIGINT) AS sample_rate,
        |       CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS BIGINT) AS channels,
        |       CAST(greatest(1, (n + cap - 1) // cap) AS BIGINT) AS n_frames,
        |       CAST(greatest(1, (n + cap - 1) // cap) * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
        |       CAST(10 + doc_id % 17 AS BIGINT) AS first_frame_off
        |FROM fx ORDER BY doc_id""".stripMargin
    },
    // FLAC STREAMINFO replay: rate/channels/precision are the packed
    // 64-bit group's synthesis parameterization; total samples and the
    // audio offset are integer arithmetic over the byte count and the
    // padding-block hop (4 magic + 38 STREAMINFO + 4 + id%31 padding)
    "q_multimodal_flac_meta" ->
      s"""WITH px AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) AS n,
        |         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 96000 END AS sr
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(sr AS BIGINT) AS sample_rate,
        |       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |       CAST(CASE WHEN doc_id % 2 = 1 THEN 24 ELSE 16 END AS BIGINT) AS bits_per_sample,
        |       CAST(4 * n + doc_id % 1000 AS BIGINT) AS total_samples,
        |       CAST((4 * n + doc_id % 1000) * 1000 // sr AS BIGINT) AS duration_ms,
        |       CAST(46 + doc_id % 31 AS BIGINT) AS audio_off,
        |       CAST(n AS BIGINT) AS n_audio_bytes
        |FROM px ORDER BY doc_id""".stripMargin,
    // token-window chunking replay: same whitespace tokens, same
    // full-windows-plus-short-doc-clamp start rule, same md5 of the
    // space-rejoined window
    "q_doc_chunk" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(1, greatest(len(toks) - ${chunkWindow - 1}, 1),
        |                                $chunkStride)) AS start_token
        |  FROM t),
        |c AS (
        |  SELECT doc_id, start_token,
        |         toks[start_token : start_token + ${chunkWindow - 1}] AS chunk
        |  FROM s)
        |SELECT doc_id,
        |       CAST((start_token - 1) // $chunkStride + 1 AS BIGINT) AS chunk_idx,
        |       CAST(start_token AS BIGINT) AS start_token,
        |       CAST(len(chunk) AS BIGINT) AS chunk_tokens,
        |       md5(array_to_string(chunk, ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // BM25 replay: every input to the float math is an exact integer
    // (tf, df, dl, N, Σdl), constants ship as round-trip double
    // literals, and the expression tree mirrors bm25Scores' grouping
    // exactly — per-(doc,term) rows so no float-sum ordering exists
    "q_bm25" ->
      s"""WITH d AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(len(toks)) AS BIGINT) AS total_tokens FROM d),
        |tf AS (
        |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
        |  WHERE term IN (${bm25Terms.map("'" + _ + "'").mkString(", ")})
        |  GROUP BY doc_id, dl, term),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY term)
        |SELECT tf.doc_id, tf.term, tf.tf, dfq.df_docs,
        |       ln(1E0 + (st.n_docs - dfq.df_docs + 5E-1) / (dfq.df_docs + 5E-1))
        |       * ((tf.tf * ${dlit(bm25K1 + 1.0)})
        |          / (tf.tf + ${dlit(bm25K1)}
        |             * (${dlit(1.0 - bm25B)} + (${dlit(bm25B)} * tf.dl)
        |                / (CAST(st.total_tokens AS DOUBLE) / st.n_docs)))) AS bm25
        |FROM tf JOIN dfq USING (term) CROSS JOIN st
        |ORDER BY doc_id, term""".stripMargin,
    // pooled-centroid replay: zipped unnests give (dim, x); the same
    // floor(x*1e6) integer quantization makes the per-(label,dim) sums
    // order-free exact — mean is the one terminal division
    "q_embed_pool" ->
      """WITH u AS (
        |  SELECT label, unnest(range(len(embedding))) AS dim,
        |         unnest(embedding) AS x
        |  FROM embeddings)
        |SELECT label, CAST(dim AS BIGINT) AS dim,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
        |            AS BIGINT) AS q_sum,
        |       CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
        |            AS DOUBLE) / count(*) AS q_mean
        |FROM u GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,
    // k-anonymity replay: QI groups under k=8 collapse into the '*'
    // residual; the released group-size table is the gate (row-level
    // release is the same frame pre-aggregation)
    "q_k_anonymize" ->
      """WITH g AS (SELECT c_mktsegment, c_nationkey, count(*) AS n
        |           FROM customer GROUP BY 1, 2),
        |m AS (SELECT CASE WHEN g.n >= 8 THEN c.c_mktsegment ELSE '*' END AS seg,
        |             CASE WHEN g.n >= 8 THEN CAST(c.c_nationkey AS VARCHAR)
        |                  ELSE '*' END AS nat
        |      FROM customer c JOIN g USING (c_mktsegment, c_nationkey))
        |SELECT seg, nat, CAST(count(*) AS BIGINT) AS n
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // pseudonymization replay: every surrogate token recomputed —
    // md5('salt:' || value) — and the tokenized-key join reproduced
    "q_pseudonymize" ->
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
        |FROM p JOIN nn ON p.ck = nn.nk ORDER BY c_custkey""".stripMargin,
    // DSIR replay: same md5-60bit bigram buckets, same integer mass
    // sums, the one float (the final ratio of exact integers) formed
    // identically — see SelectionOps.dsirWeights for why the paper's
    // float log-sum is replaced by the mass ratio
    "q_dsir_weights" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS is_target,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, is_target,
        |        unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
        |          i -> CAST(('0x' || substr(md5(array_to_string(toks[i:i+1], ' ')), 1, 15))
        |                 AS BIGINT) % 1024)) AS bucket
        |      FROM t),
        |pb AS (SELECT doc_id, is_target, bucket,
        |         CAST(count(*) AS BIGINT) AS tf FROM g GROUP BY 1, 2, 3),
        |bf AS (SELECT bucket, CAST(sum(tf * is_target) AS BIGINT) AS ct,
        |         CAST(sum(tf) AS BIGINT) AS cr FROM pb GROUP BY bucket)
        |SELECT pb.doc_id, pb.is_target,
        |       CAST(sum(tf) AS BIGINT) AS n_grams,
        |       CAST(sum(tf * ct) AS BIGINT) AS sum_t,
        |       CAST(sum(tf * cr) AS BIGINT) AS sum_r,
        |       (CAST(sum(tf * ct) AS DOUBLE) + 1.0)
        |         / (CAST(sum(tf * cr) AS DOUBLE) + 1.0) AS w
        |FROM pb JOIN bf USING (bucket)
        |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    // CDC replay: identical boundary rule (md5-60bit of the trailing
    // 8-char window ≡ 0 mod 64) evaluated positionally, chunk spans
    // from the shifted boundary lists, chunk_md5 over the exact
    // substring — the whole chunker is hash-gated, not just counts
    "q_cdc_chunks" -> (cdcChunkCte +
      """SELECT doc_id,
        |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start)
        |            - 1 AS BIGINT) AS chunk_idx,
        |       CAST(start AS BIGINT) AS start, CAST(len AS BIGINT) AS len,
        |       md5(substr(text, start, len)) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin),
    "q_cdc_chunk_dedup" -> (cdcChunkCte +
      """SELECT md5(substr(text, start, len)) AS chunk_md5,
        |       CAST(count(*) AS BIGINT) AS n_copies,
        |       CAST(min(len) AS BIGINT) AS len,
        |       CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM ch GROUP BY 1 HAVING count(*) > 1
        |ORDER BY chunk_md5""".stripMargin),
    // blocklist replay: per (doc, pattern) occurrence count via the
    // replace-length delta.  Every pattern is BORDERLESS (no proper
    // prefix = suffix), so occurrences can never self-overlap and the
    // greedy non-overlapping replace count equals the Aho–Corasick
    // all-end-positions count the engine computes in ONE text pass
    // ("an"/"ta" deliberately hit INSIDE tokens — substring, not
    // word, semantics on both sides)
    "q_blocklist_match" -> {
      val vals = blockPatterns.map(p => s"('$p')").mkString(", ")
      s"""WITH p AS (SELECT * FROM (VALUES $vals) AS t(pattern)),
         |h AS (
         |  SELECT d.doc_id, p.pattern,
         |         (length(d.text) - length(replace(d.text, p.pattern, '')))
         |           // length(p.pattern) AS hits
         |  FROM documents d CROSS JOIN p)
         |SELECT doc_id, pattern, CAST(hits AS BIGINT) AS hits
         |FROM h WHERE hits > 0 ORDER BY doc_id, pattern""".stripMargin
    })

  /** The FIXTURES.md §2 target-derivation projection, single-sourced
    * for the batch frame, the streaming fit, and external callers
    * (Demo, specs).
    */
  private[graft] def lcgColumns: Seq[org.apache.spark.sql.Column] = {
    val k = col("l_orderkey") * lit(7919L) + col("l_linenumber").cast("long")
    // reduce k mod 2^31 BEFORE the multiply: k*1103515245 overflows
    // Long for orderkeys ≥ ~1.06M and Spark 4's default ANSI mode
    // throws on overflow; (k mod m)*a + b ≡ k*a + b (mod m), and the
    // reduced product peaks at 2^31·1.1e9 ≈ 2.4e18 < Long.Max
    val kr = pmod(k, lit(2147483648L))
    val u = pmod(kr * lit(1103515245L) + lit(12345L), lit(2147483648L))
      .cast(DoubleType) / lit(2147483648.0)
    val p = lit(1.0) /
      (lit(1.0) + exp(-(col("l_extendedprice") - lit(38000.0)) / lit(15000.0)))
    Seq(
      when(u < p, 1L).otherwise(0L).as("target"),
      col("l_extendedprice").cast(DoubleType).as("extendedprice"),
      col("l_quantity").cast(DoubleType).as("quantity"),
      col("l_discount").cast(DoubleType).as("discount"))
  }

  /** Builds the target frame via the DataFrame API (the non-SQL path
    * the library itself uses).
    */
  def lcgFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet").select(lcgColumns: _*)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val df = lcgFrame(spark, "/root/testdata/sf0.001")
    val model = WoeBinning.fit(df, "target",
      Seq("extendedprice", "quantity", "discount"),
      WoeFitOptions(nThreshold = Some(300)))
    model.binsDf(spark)
  }

  private def sqlQuery(name: String): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      registerViews(spark, dir, Seq("lineitem"))
      spark.sql(sqlQueries(name))
    }

  /** Queries whose body materializes a one-time store/table/index
    * (session-memoized via [[BuildOnce]]) before probing it.  The bench
    * runs each of these ONCE untimed at the benchmark SF so every timed
    * pass measures only the probe — the operation the store exists to
    * serve — instead of re-measuring parquet-write jitter.
    */
  val oneTimeBuild: Set[String] = Set(
    "q_graftdoc_scan", "q_erasure",
    "q_incr_dedup_exact", "q_incr_dedup_minhash_md5", "q_bucketed_join",
    "q_ann_topk_ivf_index", "q_ann_topk_ivf_incr", "q_ann_topk_ivfpq_index",
    "q_ann_topk_ivfpq_index_refine", "q_phrase_search_index")

  /** Per-stage timing attribution for the composed e2e chains: one
    * instrumented run per query name, returning stage → seconds.  The
    * e2e wall-times are the only bench rows a single plan can't
    * explain; Bench runs these ONCE after its timed passes (untimed
    * w.r.t. the medians) and embeds the map in the durable record, so
    * an sf10 e2e number is attributable to the stage that grew.
    * Parameters mirror the corresponding `queries` entries exactly.
    */
  def stagedRuns: Map[String, (SparkSession, String) => Seq[(String, Double)]] = Map(
    "q_pipeline_e2e" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val (out, seqPlan, _) = PipelineDemo.run(s,
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20))
      out.unpersist(); seqPlan.unpersist()
      PipelineDemo.lastStageSeconds
    },
    "q_selection_e2e" -> { (s, dir) =>
      val (out, secs) = graft.ops.SelectionOps.selectionPipelineTimed(
        s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", "lang", "source",
        budgetPerLang = 4000L,
        targets = Map("src0" -> 0.30, "src1" -> 0.25, "src2" -> 0.20,
          "src3" -> 0.15, "src4" -> 0.10),
        totalBudget = 50000L, seqLen = 256L, salt = "sel7")
      out.unpersist()
      secs
    },
    // the two streaming drains are the board's most expensive rows and
    // are mostly microbatch MACHINERY, which smears the headline total
    // under host weather — the stage split (staging / drain / result
    // materialization) makes a future regression attributable to the
    // stage that actually grew
    "q_shard_census_stream" -> { (s, dir) =>
      streamDrainStages(s, stageShardFiles(s, dir),
        d => graft.ops.StreamingOps.shardCensusStream(
          s, d, maxFilesPerTrigger = 16384))
    },
    "q_warc_cdx_stream" -> { (s, dir) =>
      streamDrainStages(s, stageWarcGzFiles(s, dir),
        d => graft.ops.StreamingOps.warcCdxStream(
          s, d, maxFilesPerTrigger = 16384))
    })

  /** One instrumented AvailableNow drain for the stagedRuns entries:
    * times the fixture staging (fingerprint-skipped on warm runs),
    * the stream's start→self-termination window (the microbatch
    * machinery the verdict asked to isolate), and the memory-sink
    * result materialization, separately.
    */
  private def streamDrainStages(
      s: SparkSession, stagedDir: => String,
      stream: String => DataFrame): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    val staged = stagedDir
    val t1 = System.nanoTime()
    val name = s"stage_probe_${System.nanoTime()}"
    // same driver-side batch-listing discipline as the query runners
    // (StreamingOps.withDriverSideBatchListing): the probe must time
    // the path the query actually takes
    graft.ops.StreamingOps.withDriverSideBatchListing(s, 16384) {
      val q = stream(staged)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination() // AvailableNow self-terminates when drained
        val t2 = System.nanoTime()
        s.table(name).count()
        val t3 = System.nanoTime()
        Seq("staging" -> (t1 - t0) / 1e9,
          "stream_drain" -> (t2 - t1) / 1e9,
          "materialize" -> (t3 - t2) / 1e9)
      } finally {
        q.stop()
        s.catalog.dropTempView(name)
      }
    }
  }

  /** A named A/B comparison for `tools.BenchAB`: two flavors of the
    * same operation (two flag sets / two code paths) timed ROUND-ROBIN
    * in one JVM session.  CONTENTION.md's host-state rule says
    * cross-record deltas (one bench today vs one last round) carry a
    * ±10-15% smear no per-query statistic can remove; an interleaved
    * same-session pair is smear-immune by construction, and the
    * sibling controls measure whatever smear remains.
    */
  final case class AbVariant(
      labelA: String, a: (SparkSession, String) => DataFrame,
      labelB: String, b: (SparkSession, String) => DataFrame)

  /** PipelineDemo's stage-1+2 sub-chain (quality gate → exact star +
    * token-Jaccard pairs → connected components → canonical purge),
    * replicated verbatim for the same-code `pipeline_dedup_smear`
    * arm — keep in sync with `PipelineDemo` if the stage changes.
    */
  private def pipelineDedupStage(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val quality = TextOps.repetitionStats(
        TextOps.qualityMetrics(docs, "text"), "text", 2)
      .where(col("quality_score") >= 0.5 && col("dup_gram_frac") <= 0.5)
      .select(docs.columns.map(col): _*)
      .withColumn("text", TextOps.dedupParagraphs(col("text")))
    val exactPairs = DedupOps.exactDupMembers(quality, "text", "doc_id")
      .join(DedupOps.exactDupGroups(quality, "text", "doc_id")
        .select("content_hash", "keep_id"), "content_hash")
      .where(col("id") =!= col("keep_id"))
      .select(col("keep_id").as("id_a"), col("id").as("id_b"))
    val nearPairs = DedupOps
      .tokenJaccardPairs(quality, "text", "doc_id", "n_chars", 0.7)
      .select("id_a", "id_b")
    val cc = ClusterOps.connectedComponents(
      exactPairs.union(nearPairs), "id_a", "id_b")
    ClusterOps.dedupedCorpus(quality, "doc_id", cc)
  }

  private def fuzzyLinkOn(
      s: SparkSession, dir: String, bandedVerify: Boolean): DataFrame = {
    // the q_fuzzy_link fixture: one-char deletions over 48-char keys
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .where(length(col("text")) >= 48)
    val pre = substring(col("text"), 1, 48)
    val p = (col("doc_id") % 20 + 1).cast("int")
    graft.ops.LinkOps.sortedNeighborhoodLink(
      docs.select(col("doc_id"),
        concat(pre.substr(lit(1), p - 1), pre.substr(p + 1, lit(100))).as("k")),
      docs.select(col("doc_id"), pre.as("k")),
      "doc_id", "k", window = 12, maxLev = 3, reversePass = true,
      bandedVerify = bandedVerify)
  }

  private def md5GramCount(
      s: SparkSession, dir: String, composed: Boolean): DataFrame = {
    val h: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (composed) graft.ops.DedupOps.md5Hash60Composed
      else graft.ops.DedupOps.md5Hash60
    s.read.parquet(s"$dir/documents.parquet")
      .select(explode(graft.ops.TextOps.wordNgrams(col("text"), 8)).as("g"))
      .select(h(col("g")).as("gh"))
      .agg(count_distinct(col("gh")).as("n"))
  }

  def abVariants: Map[String, AbVariant] = Map(
    // r12 change 1: the hot-band auto-salt default.
    // A = the new default (salt on at 2^13); B = the r11 default (off).
    // Identical pair sets (spec-pinned), so the delta is pure plan cost.
    "minhash_salt_default" -> AbVariant(
      "saltHotBands=8192(default)",
      (s, dir) => DedupOps.minhashPairs(
        s.read.parquet(s"$dir/documents.parquet"),
        "text", "doc_id", jaccardThreshold = 0.5),
      "saltHotBands=0(r11)",
      (s, dir) => DedupOps.minhashPairs(
        s.read.parquet(s"$dir/documents.parquet"),
        "text", "doc_id", jaccardThreshold = 0.5, saltHotBands = 0)),
    // r12 change 2: prefix-filtered vs nested-loop token-Jaccard
    // candidates (pair-identical by spec; the delta is the candidate
    // join's shape)
    "jaccard_prefix_filter" -> AbVariant(
      "prefixFilter=true(default)",
      (s, dir) => DedupOps.tokenJaccardPairs(
        s.read.parquet(s"$dir/documents.parquet"),
        "text", "doc_id", "n_chars", threshold = 0.7),
      "prefixFilter=false(r11)",
      (s, dir) => DedupOps.tokenJaccardPairs(
        s.read.parquet(s"$dir/documents.parquet"),
        "text", "doc_id", "n_chars", threshold = 0.7, prefixFilter = false)),
    // r12 change 8: one-shuffle source-overlap (collect_set's map-side
    // partial dedup) vs the distinct-then-aggregate two-shuffle form
    // (result-identical: set union ignores multiplicity)
    "overlap_single_shuffle" -> AbVariant(
      "collect_set only(default)",
      (s, dir) => graft.ops.TextOps.sourceOverlap(
        s.read.parquet(s"$dir/documents.parquet"), "source", "text",
        k = 8, maxSources = 16),
      "distinct first(r11)",
      (s, dir) => graft.ops.TextOps.sourceOverlap(
        s.read.parquet(s"$dir/documents.parquet"), "source", "text",
        k = 8, maxSources = 16, preDistinct = true)),
    // r12 change 7: fused minhash signature (one projection off the
    // persisted gram arrays) vs the explode + 33-column aggregation
    // (identical signatures, spec-pinned)
    "minhash_fused_signature" -> AbVariant(
      "MinhashFromGrams(default)",
      (s, dir) => DedupOps.minhashPairs(
        s.read.parquet(s"$dir/documents.parquet"),
        "text", "doc_id", jaccardThreshold = 0.7),
      "explode+agg(r11)",
      (s, dir) => DedupOps.minhashPairs(
        s.read.parquet(s"$dir/documents.parquet"),
        "text", "doc_id", jaccardThreshold = 0.7, fusedSignature = false)),
    // r12 change 6: fused md5-60 (digest bytes -> long) vs the
    // composed conv(substring(md5)) hex round-trip, isolated on the
    // gram-hash projection every portable-flavor pipeline runs
    "md5_60_fused" -> AbVariant(
      "Md5Hash60(default)",
      (s, dir) => md5GramCount(s, dir, composed = false),
      "conv(substring(md5))(r11)",
      (s, dir) => md5GramCount(s, dir, composed = true)),
    // r12 change 5: fused scalar simhash signature (one shuffle-free
    // projection) vs the explode + 65-column aggregation (identical
    // signatures, spec-pinned; the delta is the signature stage)
    "simhash_fused_scalar" -> AbVariant(
      "SimhashBits scalar(default)",
      (s, dir) => DedupOps.simhashPairs(
        s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id"),
      "explode+agg(r11)",
      (s, dir) => DedupOps.simhashPairs(
        s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
        fusedSignature = false)),
    // r12 change 4: banded threshold-levenshtein verify (length band +
    // early-exit O(len·maxLev) DP) vs the full-table verify (pair sets
    // identical by spec; the delta is pure verify-stage cost)
    "link_banded_verify" -> AbVariant(
      "banded(default)",
      (s, dir) => fuzzyLinkOn(s, dir, bandedVerify = true),
      "full-table(r11)",
      (s, dir) => fuzzyLinkOn(s, dir, bandedVerify = false)),
    // r13 change: the approximate per-language perplexity cut-point
    // path (SCALE.md §Selection's promised 100 TB swap — sketch
    // cut-points instead of the exact per-language ntile sort).
    // Results differ only at bucket edges (documented semantics knob),
    // so this record is a COST comparison; the exact path stays the
    // oracle default.
    "selection_approx_buckets" -> AbVariant(
      "approxCutpoints=true(100TB path)",
      (s, dir) => SelectionOps.selectionPipeline(
        s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", "lang", "source", budgetPerLang = 4000L,
        targets = Map("src0" -> 0.30, "src1" -> 0.25, "src2" -> 0.20,
          "src3" -> 0.15, "src4" -> 0.10),
        totalBudget = 50000L, seqLen = 256L, salt = "sel7",
        approxBuckets = true),
      "exact ntile(default/oracle)",
      (s, dir) => SelectionOps.selectionPipeline(
        s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", "lang", "source", budgetPerLang = 4000L,
        targets = Map("src0" -> 0.30, "src1" -> 0.25, "src2" -> 0.20,
          "src3" -> 0.15, "src4" -> 0.10),
        totalBudget = 50000L, seqLen = 256L, salt = "sel7")),
    // r13 adjudication: the graph family's sf10 cross-record deltas
    // (q_pagerank 6.4→10.2 s, q_triangles 6.4→7.9 s with ~10 changed
    // lines) were claimed as host smear — CONTENTION.md's rule demands
    // interleaved evidence.  Both arms run the SAME current code, so
    // the A−B delta IS the session's smear on this exact plan; a
    // genuine code regression would instead need A≠B arms, which don't
    // exist (the code didn't change).  Done when |delta| sits inside
    // the controls' drift.
    "graph_pagerank_smear" -> AbVariant(
      "pagerank(current)", (s, dir) => queries("q_pagerank")(s, dir),
      "pagerank(current)", (s, dir) => queries("q_pagerank")(s, dir)),
    "graph_triangles_smear" -> AbVariant(
      "triangles(current)", (s, dir) => queries("q_triangles")(s, dir),
      "triangles(current)", (s, dir) => queries("q_triangles")(s, dir)),
    // r14: same-code smear arm for q_pipeline_e2e's dedup_purge stage
    // (the one r13 cross-record stage delta, 1.64 → 2.50 s, not yet
    // covered by the protocol).  Both arms run the pipeline's exact
    // quality-gate → exact/near pairs → CC → purge sub-chain; the
    // interleaved A/A delta IS the host-drift band for this plan
    // shape, and the absolute medians adjudicate the r12→r13 records.
    "pipeline_dedup_smear" -> AbVariant(
      "pipeline dedup stage(current)", pipelineDedupStage,
      "pipeline dedup stage(current)", pipelineDedupStage),
    // r14: the approxCutpoints evidence gap (VERDICT r13 #6) — run on
    // the GenSelSkew fixture (SPARK_GRAFT_SF_DIR=/tmp/selskew), where
    // 90% of documents share one language: the exact arm's per-lang
    // ntile sorts the hot language in ONE window task; the sketch arm
    // replaces it with a mergeable percentile_approx agg + broadcast
    // cut-point join.  Same rarity-stats prefix in both arms, so the
    // delta isolates the bucketing strategy.
    "selection_approx_buckets" -> AbVariant(
      "approxCutpoints(sketch)",
      (s, dir) => SelectionOps.perplexityBuckets(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", "lang",
        approxCutpoints = true),
      "exact per-lang ntile",
      (s, dir) => SelectionOps.perplexityBuckets(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", "lang")),
    // r13 change: the eval guard is fused into the metric's own plan
    // (limit bounding the window input + an assert on a count riding
    // the existing pass — zero extra jobs, zero persist, ONE corpus
    // aggregation).  A = guarded default; B = gate off (maxGroups=0),
    // the r11 unguarded cost the guarded path must sit within noise of.
    "eval_guard_fused" -> AbVariant(
      "guarded(limit-fused, default)",
      (s, dir) => graft.ops.EvalOps.aucReport(
        scoredFrame(s, dir), "score", "target"),
      "unguarded(r11)",
      (s, dir) => graft.ops.EvalOps.aucReport(
        scoredFrame(s, dir), "score", "target", maxGroups = 0)),
    // r12 change 3: fused GramRepetition expression vs the interpreted
    // HOF chain, measured UNDER the quality-gate filter where the
    // pushdown re-evaluation lives
    "repetition_fused_expr" -> AbVariant(
      "GramRepetition(default)",
      (s, dir) => graft.ops.TextOps.repetitionStats(
        s.read.parquet(s"$dir/documents.parquet"), "text", 2)
        .where(col("dup_gram_frac") <= 0.5),
      "HOF chain(r11)",
      (s, dir) => graft.ops.TextOps.repetitionStatsHof(
        s.read.parquet(s"$dir/documents.parquet"), "text", 2)
        .where(col("dup_gram_frac") <= 0.5)))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    sqlQueries.keys.map(k => k -> sqlQuery(k)).toMap ++ Map[String, (SparkSession, String) => DataFrame](
      // iterative fit surface — rows-only checks (no SQL equivalent);
      // correctness pinned by GoldenParitySpec golden fixtures
      "q_fit_bins" -> { (s, dir) =>
        val df = lcgFrame(s, dir)
        WoeBinning.fit(df, "target", Seq("extendedprice", "quantity", "discount"),
          WoeFitOptions(nThreshold = Some(300))).binsDf(s)
      },
      "q_fit_by_group" -> { (s, dir) =>
        // per-l_returnflag scorecards, one stats pass for all segments
        val df = s.read.parquet(s"$dir/lineitem.parquet")
          .select(lcgColumns :+ col("l_returnflag").as("flag"): _*)
        WoeBinning.fitByGroup(df, "target", Seq("extendedprice", "quantity"),
            "flag", WoeFitOptions(nThreshold = Some(300)))
          .map { case (g, m) => m.binsDf(s).withColumn("segment", lit(g)) }
          .reduce(_.unionByName(_))
      },
      "q_fit_default_threshold" -> { (s, dir) =>
        val df = lcgFrame(s, dir)
        WoeBinning.fit(df, "target", Seq("extendedprice")).binsDf(s) // ceil(N/20)
      },
      "q_fit_sentinel" -> { (s, dir) =>
        val df = lcgFrame(s, dir)
        WoeBinning.fit(df, "target", Seq("quantity"),
          WoeFitOptions(nThreshold = Some(60), sepValue = Some(1.0))).binsDf(s)
      },
      "q_fit_merge_threshold" -> { (s, dir) =>
        val df = lcgFrame(s, dir)
        WoeBinning.fit(df, "target", Seq("extendedprice"),
          WoeFitOptions(nThreshold = Some(300), mergeThreshold = Some(0.2))).binsDf(s)
      },
      "q_fit_prebinned" -> { (s, dir) => // the 100 TB scale knob
        val df = lcgFrame(s, dir)
        WoeBinning.fit(df, "target", Seq("extendedprice"),
          WoeFitOptions(nThreshold = Some(300), maxDistinct = Some(1000))).binsDf(s)
      },
      "q_fit_exact" -> { (s, dir) =>
        // the EXACT twin of q_fit_prebinned (same column, same
        // nThreshold, no maxDistinct cap) so the scale knob's
        // cost/fidelity trade-off is a tracked pair of bench medians,
        // not a one-off Stress run
        val df = lcgFrame(s, dir)
        WoeBinning.fit(df, "target", Seq("extendedprice"),
          WoeFitOptions(nThreshold = Some(300))).binsDf(s)
      },
      "q_apply_bins" -> { (s, dir) =>
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

      // ---- scorecard evaluation (EvalOps) over the golden WoE score
      "q_eval_auc" -> { (s, dir) =>
        EvalOps.aucReport(scoredFrame(s, dir), "score", "target")
      },
      "q_eval_ks" -> { (s, dir) =>
        EvalOps.ksReport(scoredFrame(s, dir), "score", "target")
      },
      "q_gains_table" -> { (s, dir) =>
        EvalOps.gainsTable(scoredFrame(s, dir), "score", "target")
      },
      "q_iv_ranking" -> { (s, dir) =>
        EvalOps.ivRanking(lcgFrame(s, dir), "target", ivRankingBins)
      },
      "q_eval_auc_by_flag" -> { (s, dir) =>
        val df = s.read.parquet(s"$dir/lineitem.parquet")
          .select(lcgColumns :+ col("l_returnflag").as("flag"): _*)
          .withColumn("score", goldenWoeCol(col("extendedprice")))
        EvalOps.aucBySegment(df, "score", "target", Seq("flag"))
      },
      "q_isotonic_calibrate" -> { (s, dir) =>
        // oracle is the sf0.01 golden-literal pin (integer-exact PAV)
        EvalOps.isotonicCalibrate(lcgFrame(s, dir), "quantity", "target")
      },
      "q_isotonic_per_score" -> { (s, dir) =>
        // per-score PAV fit over RAW quantity (whose bad rate is NOT
        // monotone, so pooling genuinely happens — same input as the
        // calibrate fixture): the oracle is a TRUE independent replay,
        // the minimax characterization max_{j<=i} min_{k>=i} mean(j..k)
        // over the same integer sums
        EvalOps.isotonicFitPerScore(lcgFrame(s, dir), "quantity", "target")
          .orderBy("score")
      },
      "q_isotonic_by_flag" -> { (s, dir) =>
        // calibration-within-segment (the aucBySegment companion):
        // each l_returnflag gets its own monotone quantity → rate map;
        // oracle = the same minimax replay PARTITIONED by the segment
        val df = s.read.parquet(s"$dir/lineitem.parquet")
          .select(lcgColumns :+ col("l_returnflag").as("flag"): _*)
        EvalOps.isotonicFitPerScoreBySegment(
            df, Seq("flag"), "quantity", "target")
          .orderBy("flag", "score")
      },

      // ---- training-data pipeline ops (documents / embeddings / events)
      "q_text_stats" -> { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val t = col("text")
        val nWords = TextOps.tokenCount(t)
        docs.select(col("doc_id"),
            length(t).cast("bigint").as("n_chars"),
            nWords.cast("bigint").as("n_words"),
            // empty docs → NULL (and ANSI-safe), matching the oracle
            when(nWords > 0,
              (length(t) - (nWords - lit(1))).cast("double") / nWords)
              .as("avg_word_len"),
            TextOps.stopwordHits(TextOps.tokens(t),
              TextOps.langFunctionWords.toMap.apply("en")).cast("bigint").as("stop_hits"),
            TextOps.bpeTokenEstimate(t).cast("bigint").as("bpe_tokens"))
          .orderBy("doc_id")
      },
      "q_lang_id" -> { (s, dir) =>
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), TextOps.langId(col("text")).as("lang_guess"))
          .orderBy("doc_id")
      },
      "q_doc_fingerprint" -> { (s, dir) =>
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), TextOps.fingerprintMd5(col("text")).as("fp"))
          .orderBy("doc_id")
      },
      "q_zorder_layout" -> { (s, dir) =>
        // dims normalized to 16 bits, Morton-interleaved by the
        // codegen'd zValue term sum; the z-buckets' min/max
        // rectangles are what parquet file stats would prune on after
        // a zorderWrite (the write path itself is StorageSpec-pinned)
        val d = s.read.parquet(s"$dir/orders.parquet").select(
          pmod(col("o_custkey"), lit(65536L)).as("x"),
          pmod(floor(col("o_totalprice") / 16).cast("long"), lit(65536L)).as("y"))
        d.withColumn("bucket",
            shiftright(graft.ops.StorageOps.zValue(Seq(col("x"), col("y"))), 22))
          .groupBy("bucket")
          .agg(count("*").cast("long").as("n"),
            min("x").cast("long").as("min_x"), max("x").cast("long").as("max_x"),
            min("y").cast("long").as("min_y"), max("y").cast("long").as("max_y"))
          .orderBy("bucket")
      },
      "q_embed_pool" -> { (s, dir) =>
        SimilarityOps.quantizedLabelCentroids(
            s.read.parquet(s"$dir/embeddings.parquet"), "label", "embedding")
          .select(col("label").cast("bigint").as("label"), col("dim"),
            col("n").cast("bigint").as("n"), col("q_sum"), col("q_mean"))
          .orderBy("label", "dim")
      },
      "q_k_anonymize" -> { (s, dir) =>
        graft.ops.ProfileOps.kAnonymize(
            s.read.parquet(s"$dir/customer.parquet"),
            Seq("c_mktsegment", "c_nationkey"), k = 8)
          .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
          .agg(count("*").cast("long").as("n"))
          .orderBy("seg", "nat")
      },
      "q_pseudonymize" -> { (s, dir) =>
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
      "q_dsir_weights" -> { (s, dir) =>
        SelectionOps.dsirWeights(
            s.read.parquet(s"$dir/documents.parquet"),
            "doc_id", "text", col("lang") === "en")
          .select(col("doc_id").cast("bigint").as("doc_id"),
            col("is_target"), col("n_grams"), col("sum_t"), col("sum_r"),
            col("w"))
          .orderBy("doc_id")
      },
      "q_cdc_chunks" -> { (s, dir) =>
        TextOps.cdcChunks(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .select(col("doc_id").cast("bigint").as("doc_id"),
            col("chunk_idx"), col("start"), col("len"), col("chunk_md5"))
          .orderBy("doc_id", "chunk_idx")
      },
      "q_cdc_chunk_dedup" -> { (s, dir) =>
        TextOps.cdcChunkDups(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .orderBy("chunk_md5")
      },
      "q_blocklist_match" -> { (s, dir) =>
        // ONE Aho–Corasick pass per document for the whole pattern
        // list (the oracle replays it as |patterns| replace scans —
        // exactly the P-pass plan this operator exists to beat)
        graft.ops.MatchOps.matchHits(
            s.read.parquet(s"$dir/documents.parquet"),
            "doc_id", "text", blockPatterns)
          .select(col("doc_id").cast("bigint").as("doc_id"),
            col("pattern"), col("hits").cast("bigint").as("hits"))
          .orderBy("doc_id", "pattern")
      },
      "q_quality_score" -> { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        TextOps.qualityMetrics(docs, "text")
          .select(col("doc_id"), col("n_words").cast("bigint").as("n_words"),
            col("avg_word_len"), col("stopword_ratio"),
            col("alpha_ratio"), col("quality_score"))
          .orderBy("doc_id")
      },
      "q_repetition_stats" -> { (s, dir) =>
        TextOps.repetitionStats(
            s.read.parquet(s"$dir/documents.parquet"), "text", 2)
          .select(col("doc_id"), col("n_grams"), col("uniq_grams"),
            col("dup_gram_frac"), col("dup_char_frac"))
          .orderBy("doc_id")
      },
      "q_hash_split" -> { (s, dir) =>
        SampleOps.hashSplit(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "r3")
          .select(col("doc_id"), col("bucket"), col("split"))
          .orderBy("doc_id")
      },
      "q_bloom_decontaminate" -> { (s, dir) =>
        // the bloom flavor of q_decontaminate: same benchmark
        // convention (doc_id < 20), but membership runs against an
        // O(m)-bit broadcast filter instead of the exact gram-hash
        // set — via the PER-ROW form (bloomContaminationCols): pure
        // array expressions, no explode/groupBy/join, zero shuffle
        // (OpsSpec pins equality with the relational form)
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val positions = TextOps.bloomBuild(
          docs.filter(col("doc_id") < 20), "text", n = 3)
        docs.filter(col("doc_id") >= 20)
          .select(col("doc_id").cast("bigint").as("doc_id"),
            TextOps.tokens(col("text")).as("__toks"))
          .select(col("doc_id"),
            TextOps.bloomContaminationCols(col("__toks"), positions, n = 3).as("b"))
          .select(col("doc_id"), col("b.n_grams").as("n_grams"),
            col("b.n_flagged").as("n_flagged"),
            (col("b.n_flagged") >= 10).cast("bigint").as("contaminated"))
          .orderBy("doc_id")
      },
      "q_paragraph_dedup" -> { (s, dir) =>
        // synthetic paragraph structure (8-token windows + the first
        // two re-appended as injected duplicates — the PII-query
        // convention: synthesize what the operator exists to scrub),
        // then the order-preserving intra-doc dedup
        val docs = s.read.parquet(s"$dir/documents.parquet")
        // tokens and paragraph arrays materialize as columns so the
        // per-paragraph lambda slices an attribute, not a re-evaluated
        // tokenize expression (the wordNgramsOf contract)
        val toks = col("__toks")
        val paras = transform(
          sequence(lit(0),
            greatest(ceil(size(toks) / lit(8.0)).cast("int"), lit(1)) - lit(1)),
          i => array_join(slice(toks, i * lit(8) + lit(1), lit(8)), " "))
        val withDup = concat(paras, slice(paras, 1, 2))
        docs
          .withColumn("__toks", TextOps.tokens(col("text")))
          .withColumn("__paras", withDup)
          .withColumn("__clean",
            TextOps.dedupParagraphs(array_join(col("__paras"), "\n"), "\n"))
          .select(col("doc_id"),
            size(col("__paras")).cast("bigint").as("n_paras"),
            size(array_distinct(col("__paras"))).cast("bigint").as("n_unique"),
            md5(col("__clean")).as("clean_hash"),
            length(col("__clean")).cast("bigint").as("clean_len"))
          .orderBy("doc_id")
      },
      "q_semantic_dedup" -> { (s, dir) =>
        // SemDeDup over the embeddings: deterministic literal
        // centroids (the IVF pattern) so the cluster-blocked
        // drop rule replays end-to-end in DuckDB
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        SimilarityOps.semanticDupDrops(
            emb, "vec_id", "embedding", cents, cosThreshold = 0.3)
          .select(col("vec_id"), col("cell").cast("bigint").as("cell"),
            col("n_near"), col("max_cosine"))
          .orderBy("vec_id")
      },
      "q_token_topk" -> { (s, dir) =>
        TextOps.topTokens(
          s.read.parquet(s"$dir/documents.parquet"), "text", 100)
      },
      "q_inverted_postings" -> { (s, dir) =>
        IndexOps.postingSummary(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            postingTerms)
          .orderBy("term", "doc_id")
      },
      "q_phrase_search" -> { (s, dir) =>
        // baseline flavor: pure projection scan of the corpus
        IndexOps.phraseScan(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            phraseTerms)
          .orderBy("doc_id")
      },
      "q_phrase_search_index" -> { (s, dir) =>
        // scale flavor: one hash-partitioned posting-index build
        // (session memoized — the bench times only the probe), then a
        // partition-pruned probe of the phrase's terms; output must
        // agree with q_phrase_search exactly
        val key = Integer.toHexString(dir.hashCode)
        val idx = s"/tmp/graft-postings-index/$key"
        BuildOnce.once(s"postings|$idx", token = dir) {
          IndexOps.writePostingsIndex(
            s.read.parquet(s"$dir/documents.parquet"),
            "doc_id", "text", idx, nParts = 16)
        }
        IndexOps.phraseProbe(s, idx, phraseTerms, nParts = 16)
          .orderBy("doc_id")
      },
      "q_quantiles" -> { (s, dir) =>
        val v = s.read.parquet(s"$dir/documents.parquet")
          .select(TextOps.tokenCount(col("text")).cast("long").as("v"))
        QuantileOps.exactQuantilesLong(v, "v", quantilePs).orderBy("p")
      },
      "q_winsorize" -> { (s, dir) =>
        val v = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            TextOps.tokenCount(col("text")).cast("long").as("tl"))
        QuantileOps.winsorize(v, "doc_id", "tl", winsorLo, winsorHi)
          .orderBy("doc_id")
      },
      "q_epoch_shuffle" -> { (s, dir) =>
        graft.ops.PackingOps.epochShuffle(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id",
            epoch = shuffleEpoch, nShards = shuffleShards)
          .orderBy("position")
      },
      "q_doc_chunk" -> { (s, dir) =>
        TextOps.chunkByTokens(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            window = chunkWindow, stride = chunkStride)
          .orderBy("doc_id", "chunk_idx")
      },
      "q_bm25" -> { (s, dir) =>
        TextOps.bm25Scores(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            bm25Terms, k1 = bm25K1, b = bm25B)
          .orderBy("doc_id", "term")
      },
      "q_doc_pack" -> { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            TextOps.bpeTokenEstimate(col("text")).as("tok"))
        graft.ops.PackingOps.packByTokenBudget(docs, "doc_id", "tok", 4096L)
          .orderBy("doc_id")
      },
      "q_seq_pack" -> { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            TextOps.bpeTokenEstimate(col("text")).as("tok"))
        graft.ops.PackingOps.packSequences(docs, "doc_id", "tok", 512L)
          .orderBy("doc_id", "seq_id")
      },
      "q_shard_manifest" -> { (s, dir) =>
        // per-sequence manifest with a deterministic content signature
        // over the packed layout q_seq_pack already gates
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            TextOps.bpeTokenEstimate(col("text")).as("tok"))
        graft.ops.PackingOps.shardManifest(
            graft.ops.PackingOps.packSequences(docs, "doc_id", "tok", 512L),
            "doc_id")
          .orderBy("seq_id")
      },
      "q_source_overlap" -> { (s, dir) =>
        // which corpus slices copy from each other: distinct shared
        // 8-gram counts + gram-set jaccard per source pair
        TextOps.sourceOverlap(
            s.read.parquet(s"$dir/documents.parquet"), "source", "text",
            k = 8, maxSources = 16, portableHash = true)
          .orderBy("source_a", "source_b")
      },
      "q_compact_roundtrip" -> { (s, dir) =>
        // storage-maintenance gate (r8): the small-file compaction
        // rewrite must preserve row content exactly — the oracle reads
        // the ORIGINAL table, so any lost/duplicated/mutated row
        // breaks the hash
        val src = s"$dir/documents.parquet"
        val tmp = s"/tmp/graft_compact_rt_${Integer.toHexString(dir.hashCode)}"
        graft.ops.StorageOps.compactParquet(s, src, tmp, targetFileMB = 256)
        s.read.parquet(tmp)
          .select(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))
          .orderBy("doc_id")
      },
      "q_orc_roundtrip" -> { (s, dir) =>
        // columnar-interchange gate: parquet -> ORC -> schema'd read
        // must be lossless (ORC is parquet's peer for Hive/Trino-era
        // stacks)
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val tmp = s"/tmp/graft_orc_rt_${Integer.toHexString(dir.hashCode)}"
        graft.sources.OrcCorpus.write(docs, tmp)
        graft.sources.OrcCorpus.read(s, tmp, docs.schema)
          .select(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))
          .orderBy("doc_id")
      },
      "q_csv_roundtrip" -> { (s, dir) =>
        // the tabular interchange gate, same shape as the JSONL one:
        // parquet -> quoted CSV -> schema'd read must be lossless
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val tmp = s"/tmp/graft_csv_rt_${Integer.toHexString(dir.hashCode)}"
        graft.sources.CsvCorpus.write(docs, tmp)
        graft.sources.CsvCorpus.readClean(s, tmp, docs.schema)
          .select(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))
          .orderBy("doc_id")
      },
      "q_jsonl_roundtrip" -> { (s, dir) =>
        // JSONL interchange gate: parquet -> JSONL sink -> schema'd
        // JSONL source must be lossless (the oracle reads the parquet
        // directly, so any escaping/typing drift in either direction
        // hash-fails); clean corpus -> zero quarantined lines
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val tmp = s"/tmp/graft_jsonl_rt_${Integer.toHexString(dir.hashCode)}"
        graft.sources.JsonlCorpus.write(docs, tmp)
        graft.sources.JsonlCorpus.readClean(s, tmp, docs.schema)
          .select(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))
          .orderBy("doc_id")
      },
      "q_stratified_sample" -> { (s, dir) =>
        SampleOps.stratifiedSample(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang",
            Map("en" -> 0.5, "zh" -> 0.25), "strat")
          .select(col("doc_id"), col("lang")).orderBy("doc_id")
      },
      "q_decontaminate" -> { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        TextOps.contaminationScores(
            docs.filter(col("doc_id") >= 20), "doc_id", "text",
            docs.filter(col("doc_id") < 20), "text",
            n = 3, portableHash = true)
          .select(col("id").cast("bigint").as("doc_id"), col("n_overlap"),
            // bigint 0/1, not boolean: every driver-hashed column so
            // far is numeric/string — stay in the proven type envelope
            (col("n_overlap") >= 10).cast("bigint").as("contaminated"))
          .orderBy("doc_id")
      },
      "q_decontaminate_spans" -> { (s, dir) =>
        // surgical decontamination: cut exactly the 8-token windows
        // that appear in the benchmark slice, keep the rest of the doc
        val docs = s.read.parquet(s"$dir/documents.parquet")
        TextOps.removeContaminatedSpans(
            docs.filter(col("doc_id") >= 20), "doc_id", "text",
            docs.filter(col("doc_id") < 20), "text",
            k = 8, portableHash = true)
          .select(col("id").cast("bigint").as("doc_id"),
            col("n_tokens"), col("n_removed"), col("clean_md5"))
          .orderBy("doc_id")
      },
      "q_pii_redact" -> { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val pii = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com at 10.0.0."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(" ssn 123-45-6789 tel 415-555-0199"))
        docs.select(col("doc_id"), TextOps.redactPii(pii).as("clean"))
          .orderBy("doc_id")
      },
      // HTML -> text extraction: the oracle replays the same
      // htmlPatterns chain, so both engines wrap each doc in the SAME
      // deterministic markup (script/style/comment blocks, tags,
      // entities) and must strip it identically (the q_pii_redact
      // synthesis pattern)
      "q_html_extract" -> { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val html = concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title><style>p { color: red }</style>" +
            "<script>var x = 1; if (x < 2) { x = 3; }</script>" +
            "</head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1>\n<p>"), col("text"),
          lit(" &amp; 5 &lt; 7</p><!-- crawl footer -->\n</body></html>"))
        docs.select(col("doc_id"),
            TextOps.extractHtmlText(html).as("clean"))
          .orderBy("doc_id")
      },
      // URL canonicalization + registrable domain over a synthesized
      // URL (mixed case, default port, tracking params, fragment,
      // multi-part suffix) — the crawl-corpus canonicalize-before-
      // group discipline; oracle replays the identical part rules
      "q_url_normalize" -> { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val url = urlSynthCol
        docs.select(col("doc_id"),
            UrlOps.normalizeUrl(url).as("url_norm"),
            UrlOps.registrableDomain(url).as("domain"))
          .orderBy("doc_id")
      },
      // per-domain frequency cap: at most 5 docs per registrable
      // domain, rank by doc_id — the Common Crawl anti-domination cut
      "q_domain_cap" -> { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        UrlOps.capPerDomain(
            docs.select(col("doc_id"), urlSynthCol.as("url")),
            "url", "doc_id", cap = 5)
          .select(col("doc_id"), col("domain"),
            col("domain_rank").cast("long").as("domain_rank"))
          .orderBy("doc_id")
      },
      // learned quality filter (fasttext-shape): md5-bucketed token
      // hashing into a literal integer weight vector, integer score
      // fold, logistic only for reporting — score/keep bit-exact in
      // both engines
      "q_quality_classifier" -> { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        SelectionOps.linearQualityScore(docs, "doc_id", "text",
            SelectionOps.demoWeights(64), bias = 17L)
          .orderBy("doc_id")
      },
      // schema-explicit JSON sidecar parse over events.props: struct
      // parse (from_json), flatten, single-path extraction — grouped to
      // integer-exact aggregates
      "q_json_extract" -> { (s, dir) =>
        val ev = StreamingOps.readEventsBatch(s, dir) // nanos-ts-safe read
        val schema = new org.apache.spark.sql.types.StructType()
          .add("k", org.apache.spark.sql.types.LongType)
        val parsed = graft.ops.JsonOps.parseSidecar(ev, "props", schema, "meta")
        graft.ops.JsonOps.flattenSidecar(parsed, "meta", "meta_")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("meta_k")).as("sum_k"),
            min(col("meta_k")).as("min_k"),
            max(col("meta_k")).as("max_k"),
            sum(graft.ops.JsonOps.extractPath(col("props"), "$.k")
              .cast("long")).as("sum_k_path"))
          .orderBy("event_type")
      },
      "q_dedup_clusters" -> { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        ClusterOps.connectedComponents(dedupPairs(docs), "id_a", "id_b")
          .select(col("id").cast("bigint").as("doc_id"),
            col("cluster_id").cast("bigint").as("cluster_id"))
          .orderBy("doc_id")
      },
      "q_dedup_purge" -> { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val cc = ClusterOps.connectedComponents(dedupPairs(docs), "id_a", "id_b")
        ClusterOps.dedupedCorpus(docs, "doc_id", cc)
          .select(col("doc_id").cast("bigint").as("doc_id"))
          .orderBy("doc_id")
      },
      "q_dedup_exact" -> { (s, dir) =>
        DedupOps.exactDupGroups(
            s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
          .select(col("content_hash"), col("cnt"),
            col("keep_id").cast("bigint").as("keep_id"))
          .orderBy("content_hash")
      },
      "q_pipeline_e2e" -> { (s, dir) =>
        // the COMPOSED pipeline under the driver's hash gate: the full
        // PipelineDemo chain (fixed 'demo' salts, corpus = doc_id >=
        // 20, benchmark = doc_id < 20) reduced to its per-stage count
        // table — gating the glue (stage ordering, column plumbing)
        // that the per-stage oracles can't see
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val (out, seqPlan, stages) = PipelineDemo.run(s,
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20))
        out.unpersist(); seqPlan.unpersist()
        import s.implicits._
        stages.zipWithIndex
          .map { case ((name, n), i) => (i.toLong, name, n) }
          .toDF("stage_ord", "stage", "n_docs")
          .orderBy("stage_ord")
      },
      "q_dedup_token_jaccard" -> { (s, dir) =>
        DedupOps.tokenJaccardPairs(
            s.read.parquet(s"$dir/documents.parquet"),
            "text", "doc_id", "n_chars", 0.7)
          .select("id_a", "id_b").orderBy("id_a", "id_b")
      },
      "q_erasure" -> { (s, dir) =>
        // right-to-be-forgotten: erase every 13th doc, patch the
        // persisted exact store incrementally (keeper reassignment
        // only where the keeper died) — the gate is that the PATCHED
        // store hash-equals the oracle's from-scratch rebuild of the
        // filtered corpus
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        val store = s"/tmp/graft-exact-store/$key"
        BuildOnce.once(s"exact-store|$store") {
          graft.ops.IncrementalDedup.writeExactStore(docs, "text", "doc_id", store)
        }
        val erased = docs.where(pmod(col("doc_id"), lit(13L)) === 0)
          .select(col("doc_id"))
        val out = s"/tmp/graft-exact-store-erased/$key"
        graft.ops.IncrementalDedup.eraseExactStore(
          s, store, docs.where(pmod(col("doc_id"), lit(13L)) =!= 0),
          "text", "doc_id", erased, out)
        s.read.parquet(out)
          .select(col("content_hash"),
            col("keep_id").cast("bigint").as("keep_id"))
          .orderBy("content_hash")
      },
      "q_incr_dedup_exact" -> { (s, dir) =>
        // incremental ingest: build the exact content store once, then
        // probe a batch against it — re-ingesting already-stored docs
        // flags every one of them with its canonical keeper
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        val store = s"/tmp/graft-exact-store/$key"
        // store is dir-keyed and deterministic → build once per session,
        // so repeat invocations (the bench loop) time only the probe
        BuildOnce.once(s"exact-store|$store") {
          graft.ops.IncrementalDedup.writeExactStore(docs, "text", "doc_id", store)
        }
        graft.ops.IncrementalDedup.exactDupsAgainstStore(
            s, store, docs.filter(col("doc_id") >= 250), "text", "doc_id")
          .select(col("id").cast("long").as("doc_id"),
            col("dup_of").cast("long").as("dup_of"))
          .orderBy("doc_id", "dup_of")
      },
      "q_incr_dedup_minhash_md5" -> { (s, dir) =>
        // near-dup ingest check WITHOUT the old corpus text: store =
        // banded minhash signatures of doc_id < 250, batch = the rest,
        // verify = signature-agreement Jaccard estimate (exact k/32
        // division — hash-gateable)
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        val store = s"/tmp/graft-minhash-store/$key"
        BuildOnce.once(s"minhash-store|$store") {
          graft.ops.IncrementalDedup.writeMinhashStore(
            docs.filter(col("doc_id") < 250), "text", "doc_id", store,
            numHashes = 32, bands = 8, shingleSize = 3, portableHash = true)
        }
        graft.ops.IncrementalDedup.minhashDupsAgainstStore(
            s, store, docs.filter(col("doc_id") >= 250), "text", "doc_id",
            numHashes = 32, bands = 8, shingleSize = 3,
            simThreshold = 0.5, portableHash = true)
          .select(col("id").cast("long").as("doc_id"),
            col("dup_of").cast("long").as("dup_of"), col("est_jaccard"))
          .orderBy("doc_id", "dup_of")
      },
      // xxhash64 scale flavors — oracled via the DuckDB XXH64 replay
      // (OracleXxh64), so the bench/scale path itself is hash-checked,
      // not just its md5 twin
      "q_dedup_minhash" -> { (s, dir) =>
        DedupOps.minhashPairs(
            s.read.parquet(s"$dir/documents.parquet"),
            "text", "doc_id", jaccardThreshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      "q_dedup_minhash_salted" -> { (s, dir) =>
        // the SAME pipeline through the triangular-grid hot-band salt
        // (saltHotBands = 4): the pair set is bit-identical by
        // construction — this row proves the skew-bounded scale path
        // against the full XXH64 oracle, not just the OpsSpec pin
        DedupOps.minhashPairs(
            s.read.parquet(s"$dir/documents.parquet"),
            "text", "doc_id", jaccardThreshold = 0.5, saltHotBands = 4)
          .orderBy("id_a", "id_b")
      },
      "q_dedup_simhash" -> { (s, dir) =>
        DedupOps.simhashPairs(
            s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
            maxHamming = 3)
          .withColumn("hamming", col("hamming").cast("bigint"))
          .orderBy("id_a", "id_b")
      },
      // the same banding/verify pipelines with the portable md5 hash —
      // hash-checked end-to-end by DuckDB oracles (the xxhash64
      // flavors above stay the bench/scale path)
      "q_dedup_minhash_md5" -> { (s, dir) =>
        DedupOps.minhashPairs(
            s.read.parquet(s"$dir/documents.parquet"),
            "text", "doc_id", jaccardThreshold = 0.5, portableHash = true)
          .orderBy("id_a", "id_b")
      },
      "q_dedup_simhash_md5" -> { (s, dir) =>
        DedupOps.simhashPairs(
            s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
            maxHamming = 3, portableHash = true)
          .withColumn("hamming", col("hamming").cast("bigint"))
          .orderBy("id_a", "id_b")
      },
      "q_hll_agg" -> { (s, dir) =>
        // the AGGREGATE-function flavor of q_hll_distinct: identical
        // registers and estimator inside one TypedImperativeAggregate
        // expression — shares the DuckDB oracle text verbatim (the
        // phrase-search two-flavor pattern)
        val sh = s.read.parquet(s"$dir/documents.parquet")
          .select(col("source").as("scope"),
            explode(DedupOps.shingles(col("text"))).as("sh"))
        sh.groupBy("scope")
          .agg(SketchOps.hllAggCol(col("sh"), p = 10).as("h"),
            countDistinct("sh").as("exact_distinct"))
          .select(col("scope"), col("h.buckets_used").as("buckets_used"),
            col("h.est_distinct").as("est_distinct"), col("exact_distinct"))
          .orderBy("scope")
      },
      "q_hll_distinct" -> { (s, dir) =>
        // mergeable-HLL corpus profile: distinct shingles per source.
        // The register table (≤ 2^10 rows/source) is the 100 TB
        // artifact; estimate AND exact ride in the output so the
        // oracle pins accuracy, not just arithmetic.
        val sh = s.read.parquet(s"$dir/documents.parquet")
          .select(col("source").as("scope"),
            explode(DedupOps.shingles(col("text"))).as("sh"))
        SketchOps.hllDistinct(sh, Seq("scope"), "sh", p = 10)
          .join(sh.groupBy("scope")
            .agg(countDistinct("sh").as("exact_distinct")), "scope")
          .select(col("scope"), col("buckets_used"), col("est_distinct"),
            col("exact_distinct"))
          .orderBy("scope")
      },
      "q_hll_merged" -> { (s, dir) =>
        // lossless-merge law end-to-end: the 'ALL' row is the FOLDED
        // merge of the three per-flag register tables; DuckDB computes
        // it directly over the union of occurrences — equal by HLL's
        // defining property
        val li = s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_returnflag").as("scope"), col("l_orderkey"))
        val regs = SketchOps.hllRegisters(li, Seq("scope"), "l_orderkey", p = 12)
        val merged = Seq("A", "N", "R")
          .map(f => regs.where(col("scope") === f).withColumn("scope", lit("ALL")))
          .reduce(SketchOps.hllMerge(_, _, Seq("scope")))
        val est = SketchOps.hllEstimate(regs, Seq("scope"), p = 12)
          .unionByName(SketchOps.hllEstimate(merged, Seq("scope"), p = 12))
        val exact = li.groupBy("scope")
          .agg(countDistinct("l_orderkey").as("exact_distinct"))
          .unionByName(li.agg(countDistinct("l_orderkey").as("exact_distinct"))
            .withColumn("scope", lit("ALL")))
        est.join(exact, "scope")
          .select(col("scope"), col("buckets_used"), col("est_distinct"),
            col("exact_distinct"))
          .orderBy("scope")
      },
      "q_embed_cosine_dups" -> { (s, dir) =>
        SimilarityOps.blockedCosinePairs(
            s.read.parquet(s"$dir/embeddings.parquet"),
            "vec_id", "embedding", "label", 0.4)
          .select("id_a", "id_b").orderBy("id_a", "id_b")
      },
      "q_ann_topk" -> { (s, dir) =>
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        SimilarityOps.bruteForceTopK(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      "q_pagerank" -> { (s, dir) =>
        // source-quality ranking on the nation trade graph: 10
        // fixed-point iterations, bit-identical across engines
        val l = s.read.parquet(s"$dir/lineitem.parquet")
        val o = s.read.parquet(s"$dir/orders.parquet")
        val c = s.read.parquet(s"$dir/customer.parquet")
        val su = s.read.parquet(s"$dir/supplier.parquet")
        val edges = l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(su, l("l_suppkey") === su("s_suppkey"))
          .select(c("c_nationkey").cast("long").as("src"),
            su("s_nationkey").cast("long").as("dst"))
          .distinct()
        graft.ops.GraphOps.pageRankFixedPoint(edges, "src", "dst", iters = 10)
          .orderBy("node")
      },
      "q_maxsim_topk" -> { (s, dir) =>
        // late-interaction retrieval: vec_id DIV 8 groups as
        // multi-vector docs, groups 0-1 as queries
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
          .withColumn("gid", expr("vec_id DIV 8"))
        SimilarityOps.maxSimTopK(
            emb, "gid", "embedding",
            emb.where(col("gid") < 2), "gid", "vec_id", k = 5)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_group", "rank")
      },
      "q_fuzzy_link" -> { (s, dir) =>
        // record linkage: deterministic one-char deletions (pos =
        // doc_id%20+1) over 48-char keys, recovered by sorted-
        // neighborhood blocking + Levenshtein verify; edits in the
        // first character move the record out of the window — those
        // misses are deterministic and replayed by the oracle, not
        // hidden
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .where(length(col("text")) >= 48)
        val pre = substring(col("text"), 1, 48)
        val p = (col("doc_id") % 20 + 1).cast("int")
        val clean = docs.select(col("doc_id"), pre.as("k"))
        val dirty = docs.select(col("doc_id"),
          concat(pre.substr(lit(1), p - 1), pre.substr(p + 1, lit(100))).as("k"))
        graft.ops.LinkOps.sortedNeighborhoodLink(
            dirty, clean, "doc_id", "k", window = 12, maxLev = 3,
            reversePass = true)
          .withColumn("lev", col("lev").cast("bigint"))
          .orderBy("dirty_id", "clean_id")
      },
      "q_kmv_overlap" -> { (s, dir) =>
        // set-operation sketch: pairwise source overlap estimated from
        // k=256 KMV registers (~KB per source) next to the exact
        // intersection — the scale path for q_source_overlap's exact
        // gram-join form
        val sh = s.read.parquet(s"$dir/documents.parquet")
          .where(col("source").isin("src0", "src1", "src2", "src3"))
          .select(col("source").as("scope"),
            explode(DedupOps.shingles(col("text"))).as("sh"))
        val est = SketchOps.kmvOverlap(
          SketchOps.kmvRegisters(sh, Seq("scope"), "sh", k = 256),
          "scope", k = 256)
        val dsh = sh.distinct()
        val exact = dsh.select(col("scope").as("scope_a"), col("sh"))
          .join(dsh.select(col("scope").as("scope_b"), col("sh")), "sh")
          .where(col("scope_a") < col("scope_b"))
          .groupBy("scope_a", "scope_b")
          .agg(count(lit(1)).as("exact_inter"))
        est.join(exact, Seq("scope_a", "scope_b"), "left")
          .select(col("scope_a"), col("scope_b"), col("n_common"),
            col("est_inter"),
            coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
          .orderBy("scope_a", "scope_b")
      },
      "q_incr_hll" -> { (s, dir) =>
        // incremental cardinality telemetry: batch-1 registers persist
        // as a tiny parquet store (BuildOnce, untimed), each later
        // ingest absorbs via hllMerge — estimate equals the
        // whole-corpus build exactly (lossless merge), so this shares
        // q_hll_distinct's oracle verbatim
        val docs = s.read.parquet(s"$dir/documents.parquet")
        def shingled(part: DataFrame) = part.select(
          col("source").as("scope"),
          explode(DedupOps.shingles(col("text"))).as("sh"))
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        val store = s"/tmp/graft-hll-store/$key"
        BuildOnce.once(s"hll-store|$store") {
          SketchOps.hllRegisters(
              shingled(docs.filter(col("doc_id") < 250)), Seq("scope"), "sh",
              p = 10)
            .write.mode("overwrite").parquet(store)
        }
        val merged = SketchOps.hllMerge(
          s.read.parquet(store),
          SketchOps.hllRegisters(
            shingled(docs.filter(col("doc_id") >= 250)), Seq("scope"), "sh",
            p = 10),
          Seq("scope"))
        val sh = shingled(docs)
        SketchOps.hllEstimate(merged, Seq("scope"), p = 10)
          .join(sh.groupBy("scope")
            .agg(countDistinct("sh").as("exact_distinct")), "scope")
          .select(col("scope"), col("buckets_used"), col("est_distinct"),
            col("exact_distinct"))
          .orderBy("scope")
      },
      "q_cms_topk" -> { (s, dir) =>
        // frequency telemetry: CMS estimates for the exact top-10
        // tokens ride next to their true counts, so the oracle pins
        // the never-underestimate guarantee row by row
        val toks = s.read.parquet(s"$dir/documents.parquet")
          .select(lit("g").as("scope"),
            explode(TextOps.tokens(col("text"))).as("token"))
        val regs = SketchOps.cmsRegisters(toks, Seq("scope"), "token",
          d = 4, p = 10)
        val exact = toks.groupBy("scope", "token")
          .agg(count(lit(1)).as("exact"))
        val top = exact.orderBy(col("exact").desc, col("token").asc).limit(10)
        SketchOps.cmsLookup(regs, Seq("scope"), top, "token", d = 4, p = 10)
          .select(col("token"), col("exact"), col("est"))
          .orderBy("token")
      },
      "q_hdr_quantiles" -> { (s, dir) =>
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
      "q_weighted_sample" -> { (s, dir) =>
        // deterministic weighted systematic draw: k=100 picks across
        // the n_chars-weighted doc spans (two-pass prefix scan +
        // closed-form pick counts — zero RNG, integer-exact)
        SampleOps.weightedSystematicSample(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "n_chars",
          k = 100)
      },
      "q_mine_pairs" -> { (s, dir) =>
        // hard-negative + positive mining for contrastive training:
        // partition-local bounded heaps per (anchor, relation), corpus
        // never shuffles (SimilarityOps.minePairs)
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        SimilarityOps.minePairs(emb, "vec_id", "embedding", "label",
            emb.filter(col("vec_id") < 8), kPos = 5, kNeg = 5)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("anchor_id", "relation", "rank")
      },
      "q_ann_topk_lsh" -> { (s, dir) => // the scale path
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        SimilarityOps.lshTopK(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            bits = 8, dim = 64, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      "q_doc_winnow_md5" -> { (s, dir) =>
        // winnowing fingerprints (portable gram hash), summarized
        // order-free (min/max/xor/count) so list_distinct ordering
        // differences between engines cannot matter
        TextOps.winnowFingerprints(
            s.read.parquet(s"$dir/documents.parquet"), "text", "fps",
            k = 8, w = 16, portableHash = true)
          .select(col("doc_id"),
            size(col("fps")).cast("bigint").as("n_fp"),
            array_min(col("fps")).as("fp_min"),
            array_max(col("fps")).as("fp_max"),
            aggregate(col("fps"), lit(0L), (a, b) => a.bitwiseXOR(b)).as("fp_xor"))
          .orderBy("doc_id")
      },
      "q_embed_quantize" -> { (s, dir) =>
        val q = SimilarityOps.quantizeInt8(
          s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
        // scalar summaries instead of the array columns (the driver's
        // hash compare is row/scalar-shaped): exact integer sums of
        // the quantized values + the quantization-fidelity cosine
        q.select(col("id").as("vec_id"), col("scale"),
            aggregate(col("qv"), lit(0.0), (a, x) => a + x)
              .cast("bigint").as("q_sum"),
            aggregate(col("qv"), lit(0.0), (a, x) => a + abs(x))
              .cast("bigint").as("q_abs_sum"),
            when(col("scale") > 0,
              SimilarityOps.dot(col("qv"), col("v")) /
                (SimilarityOps.norm(col("qv")) * SimilarityOps.norm(col("v"))))
              .as("q_cosine"))
          .orderBy("vec_id")
      },
      "q_ann_topk_ivf_index" -> { (s, dir) =>
        // build-once/probe-forever: write the cell-partitioned index,
        // then answer the SAME query batch as q_ann_topk_ivf reading
        // ONLY the probed cell directories (static partition pruning —
        // OpsSpec pins the PartitionFilters property)
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        val idx = s"/tmp/graft-ivf-index/$key"
        BuildOnce.once(s"ivf-index|$idx") {
          SimilarityOps.saveIvfIndex(emb, "vec_id", "embedding", cents, idx)
        }
        SimilarityOps.ivfTopKFromIndex(
            s, idx, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, nProbe = 4, k = 10)
          .orderBy("query_id", "rank")
      },
      "q_ann_topk_pq" -> { (s, dir) =>
        // product quantization: deterministic per-subspace codebooks
        // (same sorted-sample Lloyd as the IVF centroids) → 32×
        // compressed integer codes → exhaustive ADC scan; at 100 TB
        // the scan reads m codes per vector instead of 4·dim bytes
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        SimilarityOps.pqTopKADC(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cbs, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      "q_pq_encode" -> { (s, dir) =>
        // the compressed corpus itself: every vector's m-byte code
        // word (integer-exact, so the whole surface hash-gates)
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        SimilarityOps.pqEncode(emb, "vec_id", "embedding", cbs)
          .select(col("id").as("vec_id"),
            concat_ws(",", col("codes")).as("code_str"))
          .orderBy("vec_id")
      },
      "q_ann_topk_ivfpq" -> { (s, dir) =>
        // the production composition: IVF cell pruning × PQ codes —
        // the scan touches ~nProbe/nCells of the corpus AND reads
        // codes instead of floats; deterministic end to end, so the
        // composed plan replays in DuckDB like its two halves
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        SimilarityOps.ivfPqTopK(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, cbs, nProbe = 4, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      "q_ann_topk_ivfpq_auto" -> { (s, dir) =>
        // the DEPLOYMENT-GEOMETRY flavor of the composition: identical
        // code path to q_ann_topk_ivfpq, but the cell count tracks the
        // corpus (autoCells = √n clamped — the knob BENCH_sf10
        // isolated: probe cost ∝ corpus/nCells at fixed geometry).
        // At the driver's sf0.01 (500 vectors) this is 22 cells,
        // hash-gated against its own 22-cell centroid fixture; at
        // bench SFs the probed mass shrinks as nProbe·√n instead of
        // growing as nProbe·n/16.  nProbe
        // stays the constant recall knob a deployment tunes (FAISS
        // discipline) — RecallSpec separately pins that recall holds
        // across cell counts at constant probe FRACTION.
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cells = SimilarityOps.autoCells(emb.count())
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = cells,
          sampleN = math.max(256, 4 * cells), iters = 10)
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        SimilarityOps.ivfPqTopK(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, cbs, nProbe = 4, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      "q_ann_topk_ivfpq_refine" -> { (s, dir) =>
        // the quality flavor of the composition (r8): same probed
        // cells, same ADC shortlist cut, then EXACT cosine re-rank of
        // the k·refine candidates — the standard recall-recovery step
        // (RecallSpec measures the lift); shortlist broadcasts, the
        // corpus never shuffles, and the whole chain stays
        // deterministic, so the oracle replays shortlist + re-rank
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        SimilarityOps.ivfPqTopK(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, cbs, nProbe = 4, k = 10, refine = 8)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      "q_ann_topk_ivf" -> { (s, dir) =>
        // deterministic IVF: centroids from a sorted driver-side
        // sample + sequential Lloyd (bit-identical every run), shipped
        // as literals into the plan — the hyperplanes pattern, but
        // LEARNED — so assignment + probe + rank replays end-to-end in
        // DuckDB (fixture-captured centroid literals, SF-keyed like
        // the fit oracles).  The MLlib-KMeans flavor (ivfTopK) remains
        // the API for callers who want sampled training at scale.
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        SimilarityOps.ivfTopKWithCentroids(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, nProbe = 4, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      "q_corpus_diff" -> { (s, dir) =>
        // governance audit between corpus snapshots: the "revised"
        // corpus drops ids % 11 == 0, uppercases ids % 7 == 0, and
        // adds ids shifted by 100000 for % 13 == 0 — all expressible
        // identically in the oracle
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val revised = docs.filter(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, upper(col("text")))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        TextOps.corpusDiff(docs, revised, "doc_id", "text")
          .orderBy("id")
      },
      "q_bpe_pairs" -> { (s, dir) =>
        // BPE training's first merge table: corpus-wide adjacent
        // char-pair counts, top 20
        TextOps.bpePairCounts(
            s.read.parquet(s"$dir/documents.parquet"), "text", topK = 20)
          .orderBy("rank")
      },
      "q_ann_topk_ivf_incr" -> { (s, dir) =>
        // incremental maintenance gate: base build + delta append
        // must answer queries identically to indexing everything at
        // once — same oracle as q_ann_topk_ivf
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        val idx = s"/tmp/graft-ivf-incr/$key"
        // base build + delta append memoize as ONE unit: replaying the
        // append without the overwrite would duplicate the delta rows
        BuildOnce.once(s"ivf-incr|$idx") {
          SimilarityOps.saveIvfIndex(
            emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", cents, idx)
          SimilarityOps.appendIvfIndex(
            emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding", cents, idx)
        }
        SimilarityOps.ivfTopKFromIndex(
            s, idx, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, nProbe = 4, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      "q_text_normalize" -> { (s, dir) =>
        // normalize-then-hash: the dedup-key discipline for unicode
        // corpora, via the codegen'd NormalizeText expression; the
        // spliced suffix carries a combining accent, a ligature, and
        // full-width letters so both forms do real work
        import org.apache.spark.sql.graft.ColumnBridge
        // decomposed accent (e + U+0301) so the Spark-side NFC does
        // real composition work, not a pass-through
        val mixed = concat(col("text"),
          lit(" cafe\u0301 \ufb01nal \uff21\uff22"))
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            md5(ColumnBridge.column(graft.functions.NormalizeText(
              ColumnBridge.expression(mixed)))).as("nfc_md5"),
            md5(ColumnBridge.column(graft.functions.NormalizeText(
              ColumnBridge.expression(mixed), compat = true))).as("nfkc_md5"))
          .orderBy("doc_id")
      },
      "q_key_skew" -> { (s, dir) =>
        // pre-shuffle skew report on the natural join key of events:
        // the decision input for plain vs broadcast vs salted joins
        graft.ops.ProfileOps.keySkew(
            StreamingOps.readEventsBatch(s, dir), "user_id", topK = 10)
          .orderBy("rank")
      },
      "q_rand_proj" -> { (s, dir) =>
        // storage/bandwidth lever before any ANN structure: 64 -> 16
        // dims via a salt-derived sign matrix, pure projection
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val m = SimilarityOps.signProjectionMatrix(64, 16, "rp7")
        SimilarityOps.randomProject(emb, "vec_id", "embedding", m)
          .select(col("id").as("vec_id") +:
            (0 until 16).map(j => element_at(col("proj"), j + 1).as(s"p$j")): _*)
          .orderBy("vec_id")
      },
      "q_pca_project" -> { (s, dir) =>
        // DATA-AWARE reduction (r8): 64 -> 8 dims onto the corpus's own
        // principal axes — deterministic sample basis (eigenvalue
        // order, canonical signs), projection a pure literal dot fold
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val (mean, basis) = SimilarityOps.pcaBasis(
          emb, "vec_id", "embedding", k = 8, sampleN = 256)
        SimilarityOps.pcaProject(emb, "vec_id", "embedding", mean, basis)
          .select(col("id").as("vec_id") +:
            (0 until 8).map(j => element_at(col("proj"), j + 1).as(s"p$j")): _*)
          .orderBy("vec_id")
      },
      "q_ann_topk_ivfpq_index" -> { (s, dir) =>
        // the on-disk composition: partition-pruned probe over a
        // cell-partitioned index of PQ CODES — ~1/32 the bytes of the
        // float index per probed cell; same oracle as the in-memory
        // IVF-PQ because the scores are the same expression
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        val idx = s"/tmp/graft-ivfpq-index/$key"
        BuildOnce.once(s"ivfpq-index|$idx") {
          SimilarityOps.saveIvfPqIndex(emb, "vec_id", "embedding", cents, cbs, idx)
        }
        SimilarityOps.ivfPqTopKFromIndex(
            s, idx, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, cbs, nProbe = 4, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      "q_ann_topk_ivfpq_index_refine" -> { (s, dir) =>
        // production hybrid-index serving shape (r8): PQ code index
        // drives the ADC scan, a float IVF index serves the shortlist
        // fetch for exact re-rank — BOTH reads pruned to the probed
        // cells.  The float index is the SAME artifact (path + memo
        // key) q_ann_topk_ivf_index builds: one build serves both.
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        val codeIdx = s"/tmp/graft-ivfpq-index/$key"
        val floatIdx = s"/tmp/graft-ivf-index/$key"
        BuildOnce.once(s"ivfpq-index|$codeIdx") {
          SimilarityOps.saveIvfPqIndex(emb, "vec_id", "embedding", cents, cbs, codeIdx)
        }
        BuildOnce.once(s"ivf-index|$floatIdx") {
          SimilarityOps.saveIvfIndex(emb, "vec_id", "embedding", cents, floatIdx)
        }
        SimilarityOps.ivfPqTopKFromIndex(
            s, codeIdx, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, cbs, nProbe = 4, k = 10, refine = 8,
            floatIndexPath = Some(floatIdx))
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      "q_ann_topk_ivf_dist" -> { (s, dir) =>
        // the scale flavor of centroid learning: full-corpus Lloyd
        // with quantized-integer-sum means — distributed yet
        // bit-deterministic, so the same oracle replay applies
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.distributedCentroids(
          emb, "vec_id", "embedding", nCells = 16, iters = 10)
        SimilarityOps.ivfTopKWithCentroids(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, nProbe = 4, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      "q_bucketed_join" -> { (s, dir) =>
        // the storage-layout lever under the driver's hash gate: one
        // bucketed write (StorageOps), then a bucket-key self-join
        // whose plan has ZERO Exchange before the join (StorageSpec
        // pins the plan property); the output is deterministic integer
        // aggregates so DuckDB replays the same join un-bucketed
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        // the table NAME is fixed but its content derives from `dir`, so
        // the dir rides in the TOKEN: a sf0.001 warmup build must not
        // satisfy the sf0.1 timed probe, and flipping back re-builds
        BuildOnce.once("bucketed|graft_docs_bucketed_q", token = dir) {
          graft.ops.StorageOps.writeBucketedReplacing(
            docs, "graft_docs_bucketed_q", "doc_id", 8)
        }
        val t = s.table("graft_docs_bucketed_q")
        t.as("a").join(t.as("b"), col("a.doc_id") === col("b.doc_id"))
          .groupBy(col("a.lang"))
          .agg(count(lit(1)).cast("bigint").as("n_docs"),
            sum(col("a.n_chars") + col("b.n_chars")).cast("bigint").as("sum_chars2"))
          .orderBy("lang")
      },
      "q_multimodal_features" -> { (s, dir) =>
        // the honest subset of the stub pipeline (real payload
        // measurements); the fabricated decode dims stay spec-only
        MultimodalOps.pipeline(s, dir)
          .select("kind", "n_items", "total_bytes", "hist_bucket6_total")
      },
      "q_multimodal_decode" -> { (s, dir) =>
        // REAL codec path under the hash gate: synthesize a valid
        // 24-bit BMP per doc (header literal + first 192 text bytes as
        // pixels), decode through the batched partition-local decoder,
        // and emit the TRUE width/height/mean/histogram — every output
        // byte is a pure function of the text, so DuckDB replays it
        val media = MultimodalOps.synthesizeBmp(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          width = 16, height = 4)
        MultimodalOps.decodeFeatures(media).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("nBytes").cast("long").as("n_bytes"),
            col("meanByte").as("mean_byte"),
            element_at(col("byteHistogram"), 7).as("hist_bucket6"))
          .orderBy("doc_id")
      },
      "q_multimodal_png" -> { (s, dir) =>
        // REAL PNG header decode under the hash gate: synthesize a
        // PNG-framed record per doc (signature + IHDR literal with
        // valid CRC, text bytes as the chunk stream), decode through
        // the same batched decoder, and emit the TRUE IHDR dims —
        // width/height are header constants and the stats region is
        // exactly the text bytes, so DuckDB replays every column
        val media = MultimodalOps.synthesizePng(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          width = 24, height = 7)
        MultimodalOps.decodeFeatures(media).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("nBytes").cast("long").as("n_bytes"),
            col("meanByte").as("mean_byte"),
            element_at(col("byteHistogram"), 7).as("hist_bucket6"))
          .orderBy("doc_id")
      },
      "q_png_pixel_stats" -> { (s, dir) =>
        // FULL compressed-pixel codec path under the hash gate: per
        // doc a complete valid PNG is encoded (closed-form RGB pixels,
        // per-scanline filters cycling all five spec types, real zlib
        // deflate) and decoded back (real inflate + unfilter), then
        // reduced to exact pixel stats.  The pixel content is a pure
        // function of (doc_id % 50, x, y, c), so DuckDB recomputes
        // every column from arithmetic alone — compression cancels
        // out of the oracle but NOT out of the measured path
        val media = MultimodalOps.synthesizePngPixels(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          w = 16, h = 12, keyMod = 50)
        MultimodalOps.pngPixelFeatures(media).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("px_sum"), col("px_md5"), col("grad_bits"), col("grad_word"))
          .orderBy("doc_id")
      },
      "q_png_pixel_dedup" -> { (s, dir) =>
        // pixel-level image dedup (the thing byte-level hashing can't
        // do: these PNGs deflate the same pixels into identical files
        // only because the encoder is shared — pixel identity is the
        // decoded-domain key): decode → group by pixel md5 → groups
        val media = MultimodalOps.synthesizePngPixels(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          w = 16, h = 12, keyMod = 50)
        MultimodalOps.pngPixelFeatures(media).toDF()
          .groupBy(col("px_md5"))
          .agg(count(lit(1)).as("n_items"), min(col("id")).as("keep_id"))
          .filter(col("n_items") > 1)
          .orderBy("keep_id")
      },
      "q_wav_sample_stats" -> { (s, dir) =>
        // sample-level audio decode under the hash gate: per doc a
        // canonical PCM WAV (closed-form 16-bit samples, 2ch × 200
        // frames) goes through the real RIFF walk + LE sample
        // extraction; every stat is exact integer arithmetic the
        // oracle recomputes without the container
        val media = MultimodalOps.synthesizeWavPcm(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          channels = 2, samples = 200, sampleRate = 8000, keyMod = 40)
        MultimodalOps.wavSampleStats(media).toDF()
          .select(col("id").as("doc_id"),
            col("channel").cast("long").as("channel"),
            col("n_samples"), col("s_sum"),
            col("s_min").cast("long").as("s_min"),
            col("s_max").cast("long").as("s_max"),
            col("zero_cross"))
          .orderBy("doc_id", "channel")
      },
      "q_multimodal_jpeg_pixels" -> { (s, dir) =>
        // REAL lossy-codec pixel path under the hash gate: per doc a
        // baseline JPEG (closed-form triangle-wave RGB source, JDK
        // ImageIO encode at fixed quality) is decoded back through
        // ImageIO and reduced to exact decoded-domain integers — pixel
        // sum, decoded-pixel md5, 4×4 average-pooled gray thumb md5
        // (the downsampled perceptual key), and exact error-vs-source
        // columns that pin decode fidelity (max_err ≤ 33 across keys).
        // DCT+entropy decode is not SQL-replayable in principle, so
        // the oracle joins doc_id % 30 against the golden per-key
        // literal table derived by graft.tools.JpegGolden — the
        // q_bpe_train golden-literal discipline.
        val media = MultimodalOps.synthesizeJpegPixels(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          w = 16, h = 12, keyMod = 30, quality = 0.9f)
        MultimodalOps.jpegPixelFeatures(media, keyMod = 30).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("px_sum"), col("px_md5"), col("thumb_md5"),
            col("sum_abs_err"), col("max_err").cast("long").as("max_err"))
          .orderBy("doc_id")
      },
      "q_multimodal_mp4" -> { (s, dir) =>
        // REAL ISO BMFF container parse under the hash gate: synthesize
        // an MP4-framed record per doc (ftyp + structurally complete
        // moov with true dims/duration, text bytes as the mdat
        // payload), walk the boxes through the same batched decoder,
        // and emit the TRUE tkhd dims + mvhd duration — header
        // constants + text-byte stats, so DuckDB replays every column
        val media = MultimodalOps.synthesizeMp4(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          width = 320, height = 180, durationMs = 7125L)
        MultimodalOps.decodeFeatures(media).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("durationMs").as("duration_ms"),
            col("nBytes").cast("long").as("n_bytes"),
            col("meanByte").as("mean_byte"),
            element_at(col("byteHistogram"), 7).as("hist_bucket6"))
          .orderBy("doc_id")
      },
      "q_multimodal_fmp4" -> { (s, dir) =>
        // FRAGMENTED MP4 (streaming-packager layout): moov declares no
        // duration; the decoder accumulates it from the moof/traf/
        // tfdt/trun chain (1 + doc_id%3 fragments × 200 ms), and byte
        // stats span every fragment's mdat — all replayable arithmetic
        val media = MultimodalOps.synthesizeFmp4(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          width = 640, height = 360)
        MultimodalOps.decodeFeatures(media).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("durationMs").as("duration_ms"),
            col("nBytes").cast("long").as("n_bytes"),
            col("meanByte").as("mean_byte"),
            element_at(col("byteHistogram"), 7).as("hist_bucket6"))
          .orderBy("doc_id")
      },
      "q_multimodal_fmp4_kf" -> { (s, dir) =>
        // keyframes of a STREAMING-PACKAGER file: no stss — the §8.8.8
        // trun flag resolution (per-sample → first-sample-flags → tfhd
        // default) decides sync samples, and offsets accumulate real
        // trun sample sizes from the moof-based data_offset
        val media = MultimodalOps.synthesizeFmp4Kf(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          width = 640, height = 360)
        MultimodalOps.fmp4Keyframes(media).toDF()
          .select(col("id").as("doc_id"),
            col("nFrags").as("n_frags"),
            col("nKeyframes").as("n_keyframes"),
            col("kf1Off").as("kf1_off"), col("kf2Off").as("kf2_off"),
            col("kf3Off").as("kf3_off"))
          .orderBy("doc_id")
      },
      "q_multimodal_h264_meta" -> { (s, dir) =>
        // H.264 metadata WITHOUT pixel decode: real exp-Golomb SPS
        // parse (profile/level/coded dims/crop-adjusted display dims)
        // out of the avcC box, keyframe byte offsets from
        // stss × stsz/stsc/stco arithmetic — the sampling surface a
        // video-corpus user needs even when the codec stays undecoded
        val media = MultimodalOps.synthesizeAvc1Mp4(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.h264Meta(media).toDF()
          .select(col("id").as("doc_id"), col("profile"), col("level"),
            col("codedWidth").as("coded_width"),
            col("codedHeight").as("coded_height"),
            col("width"), col("height"),
            col("nKeyframes").as("n_keyframes"),
            col("kf1Off").as("kf1_off"), col("kf2Off").as("kf2_off"))
          .orderBy("doc_id")
      },
      "q_multimodal_av1_meta" -> { (s, dir) =>
        // AV1 metadata WITHOUT pixel decode: real §5.5 sequence-header
        // OBU bit parse (profile/level/bit-depth/max dims) + keyframe
        // census from the frame OBUs' uncompressed-header prefix via
        // the WebM SimpleBlock + §5.3.2 OBU walk — keyframe offsets
        // are temporal-unit starts (the sequence OBU a seek must feed)
        val media = MultimodalOps.synthesizeAv1Webm(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.av1Meta(media).toDF()
          .select(col("id").as("doc_id"), col("profile"), col("level"),
            col("bitDepth").as("bit_depth"),
            col("width"), col("height"),
            col("nKeyframes").as("n_keyframes"),
            col("kf1Off").as("kf1_off"), col("kf2Off").as("kf2_off"))
          .orderBy("doc_id")
      },
      "q_multimodal_vp9_meta" -> { (s, dir) =>
        // VP9 metadata WITHOUT pixel decode: real §6.2 uncompressed-
        // header bit parse (profile, bit depth, color space, TRUE
        // frame_size dims) + keyframe census from the WebM SimpleBlock
        // walk — the VP9 analog of the avcC/SPS surface
        val media = MultimodalOps.synthesizeVp9Webm(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.vp9Meta(media).toDF()
          .select(col("id").as("doc_id"), col("profile"),
            col("bitDepth").as("bit_depth"),
            col("colorSpace").as("color_space"),
            col("width"), col("height"),
            col("nKeyframes").as("n_keyframes"),
            col("kf1Off").as("kf1_off"), col("kf2Off").as("kf2_off"))
          .orderBy("doc_id")
      },
      "q_multimodal_npy" -> { (s, dir) =>
        // NumPy array census: dtype/order/shape/exact data offset from
        // the v1 ASCII header — no array bytes read
        val media = MultimodalOps.synthesizeNpy(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.npyMeta(media).toDF()
          .select(col("id").as("doc_id"), col("descr"),
            col("fortranOrder").as("fortran_order"), col("rank"),
            col("nElements").as("n_elements"),
            col("itemSize").as("item_size"),
            col("dataOffset").as("data_offset"),
            col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      "q_multimodal_safetensors" -> { (s, dir) =>
        // checkpoint-lake census: tensor names/dtypes/shapes/byte
        // spans from the safetensors JSON header — no weight bytes read
        val media = MultimodalOps.synthesizeSafetensors(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.safetensorsMeta(media).toDF()
          .select(col("id").as("doc_id"), col("tensor"), col("dtype"),
            col("rank"), col("nElements").as("n_elements"),
            col("byteOffset").as("byte_offset"), col("nBytes").as("n_bytes"))
          .orderBy("doc_id", "byte_offset")
      },
      "q_webdataset_samples" -> { (s, dir) =>
        // the member table feeding the distributed aggregation every
        // shard pipeline runs: group members into SAMPLES by basename
        // key (the WebDataset convention) — count, extension set, bytes
        val media = MultimodalOps.synthesizeTarShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.tarMembers(media).toDF()
          .select(col("id").as("doc_id"),
            regexp_extract(col("name"), "^(.*)\\.[^.]+$", 1).as("sample_key"),
            regexp_extract(col("name"), "\\.([^.]+)$", 1).as("ext"),
            col("size"))
          .groupBy("doc_id", "sample_key")
          .agg(count(lit(1)).as("n_members"),
            array_join(array_sort(collect_list(col("ext"))), ",").as("extensions"),
            sum(col("size")).as("n_bytes"))
          .orderBy("doc_id", "sample_key")
      },
      "q_multimodal_tar_members" -> { (s, dir) =>
        // WebDataset shard census: POSIX ustar member walk with
        // verified header checksums — names, sizes, and the exact
        // data offsets a random-access shard reader seeks to
        val media = MultimodalOps.synthesizeTarShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.tarMembers(media).toDF()
          .select(col("id").as("doc_id"), col("memberIdx").as("member_idx"),
            col("name"), col("size"), col("dataOffset").as("data_offset"))
          .orderBy("doc_id", "member_idx")
      },
      "q_multimodal_targz_members" -> { (s, dir) =>
        // compressed-shard census: gzip inflate (bomb-guarded) + the
        // same verified ustar walk — the compression layer must not
        // change what the reader sees
        val media = MultimodalOps.synthesizeTarGzShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.tarGzMembers(media).toDF()
          .select(col("id").as("doc_id"), col("memberIdx").as("member_idx"),
            col("name"), col("size"), col("dataOffset").as("data_offset"))
          .orderBy("doc_id", "member_idx")
      },
      "q_multimodal_tarzst_members" -> { (s, dir) =>
        // the zstd-compressed shard flavor: same bomb-guarded inflate
        // discipline, same walk, same oracle as raw/gzip
        val media = MultimodalOps.synthesizeTarZstShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.tarZstMembers(media).toDF()
          .select(col("id").as("doc_id"), col("memberIdx").as("member_idx"),
            col("name"), col("size"), col("dataOffset").as("data_offset"))
          .orderBy("doc_id", "member_idx")
      },
      "q_multimodal_id3" -> { (s, dir) =>
        // ID3v2.3 text-frame census: real tag walk (syncsafe header,
        // plain-u32 v2.3 frame sizes, ISO-8859-1 + UTF-8 encodings) —
        // audio attribution/provenance metadata, the EXIF sibling
        val media = MultimodalOps.synthesizeMp3Id3(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.id3Meta(media).toDF()
          .select(col("id").as("doc_id"), col("title"), col("artist"),
            col("album"), col("nFrames").as("n_frames"),
            col("tagBytes").as("tag_bytes"))
          .orderBy("doc_id")
      },
      "q_multimodal_vtt_cues" -> { (s, dir) =>
        // WebVTT cue extraction: real timestamp/settings/NOTE parsing
        // over synthesized caption files — the video-text alignment
        // rows a multimodal pairing pipeline joins on
        val vtt = MultimodalOps.synthesizeVtt(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.vttCues(vtt, "id", "vtt").toDF()
          .select(col("id").as("doc_id"), col("cueIdx").as("cue_idx"),
            col("startMs").as("start_ms"), col("endMs").as("end_ms"),
            col("text").as("cue_text"))
          .orderBy("doc_id", "cue_idx")
      },
      "q_parquet_footer" -> { (s, dir) =>
        // the lake introspecting its own format: footer-only census of
        // three tables, oracled against DuckDB's parquet_metadata()
        graft.ops.StorageOps.parquetFooters(s, Seq(
            s"$dir/documents.parquet", s"$dir/lineitem.parquet",
            s"$dir/orders.parquet"))
          .orderBy("file_name", "row_group_id", "path_in_schema")
      },
      "q_parquet_footer_dist" -> { (s, dir) =>
        // the DISTRIBUTED-listing flavor: executor tasks walk their
        // directory shards with the streaming recursive iterator —
        // the 10^7-file lake shape — and must produce byte-identical
        // footer rows to the driver-listing flavor (same DuckDB
        // parquet_metadata() oracle); the partitioned-tree listing
        // path is pinned by StorageSpec's equality test
        graft.ops.StorageOps.parquetFootersDistributed(s, Seq(
            s"$dir/documents.parquet", s"$dir/lineitem.parquet",
            s"$dir/orders.parquet"))
          .orderBy("file_name", "row_group_id", "path_in_schema")
      },
      "q_orc_footer_dist" -> { (s, dir) =>
        // the DISTRIBUTED-listing flavor of the ORC footer census —
        // completing the flavor symmetry with q_parquet_footer_dist:
        // same staged files, same oracle, executor-walked listing
        val staged = stageOrcFiles(s, dir)
        Seq("region", "nation", "supplier").map { t =>
          graft.ops.StorageOps.orcFootersDistributed(s, Seq(s"$staged/$t"))
            .withColumn("tbl", lit(t))
        }.reduce(_ unionByName _)
          .groupBy("tbl", "file_name")
          .agg(first("compression").as("compression"),
            first("n_types").as("n_types"),
            first("total_rows").as("file_rows"),
            sum("stripe_rows").as("stripe_rows"))
          .groupBy("tbl")
          .agg(count(lit(1)).as("n_files"),
            first("compression").as("compression"),
            first("n_types").as("n_types"),
            sum("file_rows").as("total_rows"),
            sum("stripe_rows").as("stripe_rows"))
          .orderBy("tbl")
      },
      "q_parquet_stats" -> { (s, dir) =>
        // zone-map census: the min/max/null-count bounds a planner
        // prunes row groups with, footer-only, oracled against
        // DuckDB's own parquet_metadata() stats columns
        graft.ops.StorageOps.parquetColumnStats(s, Seq(
            s"$dir/documents.parquet", s"$dir/lineitem.parquet",
            s"$dir/orders.parquet"),
          Seq("doc_id", "l_orderkey", "l_partkey", "l_suppkey",
            "l_linenumber", "o_orderkey", "o_custkey"))
          .orderBy("file_name", "row_group_id", "path_in_schema")
      },
      "q_orc_footer" -> { (s, dir) =>
        // the lake's OTHER columnar format: from-spec ORC postscript/
        // protobuf footer walk (through the zlib compressed-stream
        // framing) over a staged write of three flat tables, checked
        // against DuckDB's metadata of the SOURCE parquet — two
        // independent readers agreeing on row counts and schema width
        // through two different storage formats
        val staged = stageOrcFiles(s, dir)
        Seq("region", "nation", "supplier").map { t =>
          graft.ops.StorageOps.orcFooters(s, Seq(s"$staged/$t"))
            .withColumn("tbl", lit(t))
        }.reduce(_ unionByName _)
          .groupBy("tbl", "file_name")
          .agg(first("compression").as("compression"),
            first("n_types").as("n_types"),
            first("total_rows").as("file_rows"),
            sum("stripe_rows").as("stripe_rows"))
          .groupBy("tbl")
          .agg(count(lit(1)).as("n_files"),
            first("compression").as("compression"),
            first("n_types").as("n_types"),
            sum("file_rows").as("total_rows"),
            sum("stripe_rows").as("stripe_rows"))
          .orderBy("tbl")
      },
      "q_delta_dv" -> { (s, dir) =>
        // Delta DELETION VECTORS: per-row tombstones as Roaring
        // bitmaps — the from-spec portable-RoaringBitmapArray walk
        // (both cookies, array/bitset/run containers, multi-bitmap
        // high keys) behind the file form's CRC-verified framing and
        // the inline form's Z85 decode; the library wrote the inner
        // bitmaps, our walk reads them, DuckDB replays the positions
        val dv = graft.ops.StorageOps.synthesizeDeltaDv(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        graft.ops.StorageOps.deltaDvPositions(dv)
          .select(col("id").as("doc_id"), col("pos"))
          .orderBy("doc_id", "pos")
      },
      "q_puffin_meta" -> { (s, dir) =>
        // Iceberg PUFFIN container census — the statistics/DV file:
        // framing walk returns the footer JSON as a string; the
        // query layer parses with an EXPLICIT schema (the
        // JSON-sidecar discipline) and validates every blob span
        // against the file geometry in SQL
        import org.apache.spark.sql.types._
        val blobT = new StructType()
          .add("type", StringType).add("fields", ArrayType(IntegerType))
          .add("snapshot-id", LongType).add("sequence-number", LongType)
          .add("offset", LongType).add("length", LongType)
          .add("compression-codec", StringType)
          .add("properties", MapType(StringType, StringType))
        val schema = new StructType()
          .add("blobs", ArrayType(blobT))
          .add("properties", MapType(StringType, StringType))
        val media = graft.ops.StorageOps.synthesizePuffin(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        graft.ops.StorageOps.puffinFooters(media, "id", "content")
          .select(col("id").as("doc_id"), col("file_size"),
            col("footer_size"),
            from_json(col("footer_json"), schema).as("f"))
          .select(col("doc_id"), col("file_size"), col("footer_size"),
            posexplode(col("f.blobs")).as(Seq("blob_idx", "b")))
          .select(col("doc_id"), col("blob_idx").cast("long").as("blob_idx"),
            col("b.type").as("blob_type"),
            col("b").getField("snapshot-id").as("snapshot_id"),
            col("b").getField("sequence-number").as("sequence_number"),
            col("b").getField("compression-codec").as("codec"),
            col("b.properties")("referenced-data-file").as("ref_file"),
            col("b.properties")("cardinality").cast("long")
              .as("cardinality"),
            (col("b.offset") >= 4 && col("b.offset") + col("b.length") <=
              col("file_size") - col("footer_size") - 16).as("span_ok"))
          .orderBy("doc_id", "blob_idx")
      },
      "q_puffin_dv" -> { (s, dir) =>
        // Iceberg v3 DELETION VECTORS out of Puffin: DV blobs located
        // through the footer JSON, framed BE-length + D1D33964 magic
        // + CRC-verified portable RoaringBitmapArray (the wire format
        // v3 deliberately shares with Delta DVs — one decoder, two
        // lakes), cardinality cross-checked against the blob
        // metadata; DuckDB replays the positions from id arithmetic
        import org.apache.spark.sql.types._
        val blobT = new StructType()
          .add("type", StringType)
          .add("offset", LongType).add("length", LongType)
          .add("properties", MapType(StringType, StringType))
        val schema = new StructType().add("blobs", ArrayType(blobT))
        // persist the fixture: it is read TWICE (footer walk + the
        // content join below) — a real lake file is also staged once
        val media = graft.ops.DedupOps.registerPersist(
          graft.ops.StorageOps.synthesizePuffin(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id"))
        val dvBlobs = graft.ops.StorageOps
          .puffinFooters(media, "id", "content")
          .select(col("id"), from_json(col("footer_json"), schema).as("f"))
          .select(col("id"), explode(col("f.blobs")).as("b"))
          .filter(col("b.type") === "deletion-vector-v1")
          .select(col("id"), col("b.offset").as("offset"),
            col("b.length").as("length"),
            col("b.properties")("cardinality").cast("long")
              .as("cardinality"))
        // broadcast the DESCRIPTORS (KBs per file), stream the
        // content side — at lake scale the content is the big side
        // and must never build a hash relation
        graft.ops.StorageOps.puffinDvPositions(
            media.join(broadcast(dvBlobs), "id"))
          .select(col("id").as("doc_id"), col("pos"))
          .orderBy("doc_id", "pos")
      },
      "q_iceberg_mor" -> { (s, dir) =>
        // the v2 MERGE-ON-READ apply step: data rows keyed by the
        // scan's own _metadata.file_path/row_index, position-delete
        // tuples (every doc_id % 7 == 0 row) broadcast anti-joined —
        // survivors are the rows a v2 table scan would return
        val data = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("pos"))
        val deletes = data
          .filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("file_path"), col("pos"))
        graft.ops.StorageOps.applyPositionDeletes(data, deletes)
          .select(col("doc_id"))
          .orderBy("doc_id")
      },
      "q_iceberg_mor_eq" -> { (s, dir) =>
        // v2 merge-on-read with BOTH delete kinds: position deletes
        // (doc_id % 7 == 0 rows by physical (file, pos)) and
        // EQUALITY deletes decoded from a real parquet
        // equality-delete file — its rows ARE the tuples over the
        // equality_ids columns: (lang='de', seq 3), (lang='fr',
        // seq 5) — applied sequence-aware: a data row (seq
        // 1 + doc_id % 4) drops only when its sequence is STRICTLY
        // below the delete's, so later-sequence de/fr rows SURVIVE
        // the earlier delete (the reinsert-after-delete case a
        // CDC-fed table depends on)
        val data = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"),
            col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("pos"))
          .withColumn("data_seq", lit(1) + pmod(col("doc_id"), lit(4)))
        val posDeletes = data
          .filter(pmod(col("doc_id"), lit(7)) === 0)
          .select("file_path", "pos")
        val eqDeletes =
          s.read.parquet(s"${stageIcebergEqDeleteFile(s)}/eqdel")
        val afterPos =
          graft.ops.StorageOps.applyPositionDeletes(data, posDeletes)
        graft.ops.StorageOps.applyEqualityDeletes(
            afterPos, eqDeletes, Seq("lang"))
          .select(col("doc_id")).orderBy("doc_id")
      },
      "q_iceberg_mor_dv" -> { (s, dir) =>
        // the v3 MERGE-ON-READ-with-DELETION-VECTORS scan path END
        // TO END — the splice of q_iceberg_manifest_dv (routing) and
        // q_puffin_dv (blob decode): manifest position-delete entries
        // (content = 1) name the Puffin file in file_path, the data
        // file in referenced_data_file, the blob span in
        // content_offset/content_size_in_bytes, and the DV
        // cardinality in record_count; the routed span decodes
        // through the framed-roaring walk WITHOUT reading the Puffin
        // footer (exactly why v3 put the span in the manifest), and
        // the positions broadcast-anti-join the data rows
        import s.implicits._
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val media = graft.ops.DedupOps.registerPersist(
          graft.ops.StorageOps.synthesizePuffin(docs, "doc_id"))
        val routes = MultimodalOps.icebergManifestEntries(
            MultimodalOps.synthesizeIcebergV3DvManifest(docs, "doc_id"))
          .toDF()
          .filter(col("content") === 1)
          .select(
            regexp_extract(col("filePath"), "dv-(\\d+)\\.puffin$", 1)
              .cast("long").as("id"),
            col("referencedDataFile").as("file_path"),
            col("contentOffset").as("offset"),
            col("contentSizeInBytes").as("length"),
            col("recordCount").as("cardinality"))
        // descriptors are manifest-sized (KBs) — broadcast them onto
        // the content side, never the reverse
        val deletes = graft.ops.StorageOps.puffinDvPositions(
            media.join(broadcast(routes), "id"))
          .join(broadcast(routes.select(col("id"), col("file_path"))), "id")
          .select(col("file_path"), col("pos"))
        val data = docs
          .filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"),
            explode(sequence(lit(0L), lit(59L))).as("pos"))
          .withColumn("file_path",
            concat(lit("data/part-"), col("doc_id"), lit(".parquet")))
        graft.ops.StorageOps.applyPositionDeletes(data, deletes)
          .select(col("doc_id"), col("pos"))
          .orderBy("doc_id", "pos")
      },
      "q_parquet_bloom" -> { (s, dir) =>
        // bloom-filter probe census over a staged bloom-enabled
        // write: the planner contract is NO FALSE NEGATIVES, so
        // probing the chunk's own distinct keys must hit every one —
        // n_hits == n_probed == count(distinct), closed form; the
        // false-positive side is probabilistic and bounded in
        // StorageSpec instead
        import s.implicits._
        val staged = stageParquetBloomFiles(s, dir)
        // probe dictionary BOUNDED (the 50k smallest keys): the
        // closure-shipped probe is for dictionaries, not joins — at
        // sf1+ the full distinct set outgrows the probe's loud cap
        val present = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_custkey").cast("long")).distinct()
          .orderBy(col("o_custkey")).limit(50000).as[Long].collect().toSeq
        graft.ops.StorageOps.parquetBloomProbe(
            s, Seq(s"$staged/orders"), "o_custkey", present)
          .select(col("row_group_id"), col("path_in_schema"),
            col("has_bloom").cast("long").as("has_bloom"),
            col("n_probed"), col("n_hits"))
          .orderBy("row_group_id")
      },
      "q_orc_encodings" -> { (s, dir) =>
        // ORC per-(stripe, column) encoding census — the compaction
        // planner's physical-layout surface, parquet-encodings'
        // sibling: struct/double DIRECT, ints/timestamps DIRECT_V2,
        // low-cardinality strings DICTIONARY_V2 with their exact
        // dictionary sizes (writer-deterministic at the 0.8 ratio)
        val staged = stageOrcRowIndexFiles(s, dir)
        graft.ops.StorageOps.orcColumnEncodings(s, Seq(s"$staged/orders"))
          .select(col("stripe_id"), col("column_id"),
            col("encoding_kind"), col("dictionary_size"))
          .orderBy("stripe_id", "column_id")
      },
      "q_orc_dict_probe" -> { (s, dir) =>
        // ORC string-dictionary probe: DICTIONARY_V2 per-stripe
        // dictionaries decoded through the from-spec RLEv2 LENGTH
        // walk — exact membership, so the five real priorities hit
        // and the two planted absent probes miss (the parquet
        // dictionary probe's ORC sibling)
        import s.implicits._
        val staged = stageOrcRowIndexFiles(s, dir)
        val present = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderpriority")).distinct()
          .orderBy("o_orderpriority").as[String].collect().toSeq
        graft.ops.StorageOps.orcDictionaryProbe(
            s, Seq(s"$staged/orders"), 6L,
            present ++ Seq("0-ABSENT", "9-NOPE"))
          .select(col("stripe_id"), col("column_id"),
            col("has_dict").cast("long").as("has_dict"),
            col("dict_size"), col("n_probed"), col("n_hits"))
          .orderBy("stripe_id")
      },
      "q_parquet_dict_probe" -> { (s, dir) =>
        // dictionary-FILTER probe: the third chunk-skipping surface
        // and the only EXACT one — a fully-dictionary-encoded
        // chunk's dictionary page is its exact value set, so the
        // five real priorities all hit and the two planted absent
        // probes all miss (no false positives, which blooms cannot
        // promise)
        import s.implicits._
        val staged = stageParquetIdxFiles(s, dir)
        val present = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderpriority")).distinct()
          .orderBy("o_orderpriority").as[String].collect().toSeq
        graft.ops.StorageOps.parquetDictionaryProbe(
            s, Seq(s"$staged/orders"), "o_orderpriority",
            present ++ Seq("0-ABSENT", "9-NOPE"))
          .select(col("row_group_id"), col("path_in_schema"),
            col("dict_encoded").cast("long").as("dict_encoded"),
            col("dict_size"), col("n_probed"), col("n_hits"))
          .orderBy("row_group_id")
      },
      "q_parquet_page_stats" -> { (s, dir) =>
        // PAGE-level zone maps (ColumnIndex/OffsetIndex — what page
        // predicate pushdown actually prunes with), aggregated back
        // to their chunks: min of page mins / max of page maxs / sum
        // of page null counts MUST equal the chunk's own statistics,
        // so this is a THIRD physical path onto the q_parquet_stats
        // DuckDB parquet_metadata() oracle
        // row-group-SHARDED flavor: the staged coalesce(1) files are
        // exactly the one-giant-file shape where the per-file walk
        // degrades to one task — this one fans out per (file, row
        // group) with identical output
        val staged = stageParquetIdxFiles(s, dir)
        graft.ops.StorageOps.parquetPageIndexSharded(s, Seq(
            s"$staged/documents", s"$staged/lineitem",
            s"$staged/orders"),
          Seq("doc_id", "l_orderkey", "l_partkey", "l_suppkey",
            "l_linenumber", "o_orderkey", "o_custkey"))
          .groupBy("file_name", "row_group_id", "path_in_schema")
          .agg(sum("null_count").as("null_count"),
            min("min_v").as("min_v"), max("max_v").as("max_v"))
          .filter(col("min_v").isNotNull)
          .orderBy("file_name", "row_group_id", "path_in_schema")
      },
      "q_orc_stats" -> { (s, dir) =>
        // ORC stripe-level zone maps (the ORC sibling of
        // q_parquet_stats): per-stripe integer min/max/value-count/
        // has-null from the Metadata section of the staged
        // single-stripe writes, oracled against DuckDB aggregates of
        // the SOURCE parquet — two readers, two formats, one answer
        val staged = stageOrcFiles(s, dir)
        Seq("region", "nation", "supplier").map { t =>
          graft.ops.StorageOps.orcStripeStats(s, Seq(s"$staged/$t"))
            .withColumn("tbl", lit(t))
        }.reduce(_ unionByName _)
          .filter(col("kind") === "int")
          .select(col("tbl"), col("stripe_id"), col("column_id"),
            col("n_values"), col("has_null").cast("long").as("has_null"),
            col("int_min").as("min_v"), col("int_max").as("max_v"))
          .orderBy("tbl", "stripe_id", "column_id")
      },
      "q_orc_stats_typed" -> { (s, dir) =>
        // the NON-integer stripe statistics real pruning needs:
        // string min/max (exact writer fields only) and double
        // min/max from the same Metadata walk, oracled against
        // DuckDB aggregates of the source parquet — a planner that
        // can only prune integer columns skips most real predicates
        val staged = stageOrcFiles(s, dir)
        Seq("region", "nation", "supplier").map { t =>
          graft.ops.StorageOps.orcStripeStats(s, Seq(s"$staged/$t"))
            .withColumn("tbl", lit(t))
        }.reduce(_ unionByName _)
          .filter(col("kind").isin("string", "double"))
          .select(col("tbl"), col("stripe_id"), col("column_id"),
            col("kind"), col("n_values"),
            col("has_null").cast("long").as("has_null"),
            col("str_min"), col("str_max"),
            col("dbl_min"), col("dbl_max"))
          .orderBy("tbl", "stripe_id", "column_id")
      },
      "q_orc_row_index" -> { (s, dir) =>
        // ORC ROW-INDEX zone maps (the per-10k-row sibling of
        // q_parquet_page_stats): stripe footers name the streams,
        // ROW_INDEX streams decode to per-row-group ColumnStatistics
        // through the same from-spec walk; the fixture is staged in
        // o_orderkey order so DuckDB replays row-group membership as
        // row_number() arithmetic — typed bounds for an int, a
        // double, a timestamp (UTC epoch-millis), and a string column
        val staged = stageOrcRowIndexFiles(s, dir)
        graft.ops.StorageOps.orcRowIndexStats(s, Seq(s"$staged/orders"))
          .filter(col("column_id").isin(1, 4, 5, 6))
          .select(col("stripe_id"), col("column_id"),
            col("row_group_id"), col("kind"), col("n_values"),
            col("has_null").cast("long").as("has_null"),
            col("int_min"), col("int_max"),
            col("dbl_min"), col("dbl_max"),
            col("str_min"), col("str_max"))
          .orderBy("stripe_id", "column_id", "row_group_id")
      },
      "q_parquet_encodings" -> { (s, dir) =>
        // chunk ENCODING census — the physical-layout surface a
        // compaction planner reads (codec mix, PLAIN-stuck chunks,
        // dictionary coverage): both readers walk the SAME staged
        // parquet-mr files; the encoding set is sorted on both sides
        // so the thrift list order is normalized away
        val staged = stageParquetIdxFiles(s, dir)
        graft.ops.StorageOps.parquetChunkEncodings(s, Seq(
            s"$staged/documents", s"$staged/lineitem", s"$staged/orders"))
          .orderBy("file_name", "row_group_id", "path_in_schema")
      },
      "q_orc_bloom" -> { (s, dir) =>
        // ORC BLOOM probe (the ORC sibling of q_parquet_bloom): one
        // BloomFilterUtf8 per ROW GROUP; probing the global distinct
        // o_orderpriority values — each present in every 10k-row
        // group of the sorted staging — makes no-false-negatives a
        // closed form: per-group hits == per-group count(DISTINCT)
        import s.implicits._
        val staged = stageOrcRowIndexFiles(s, dir)
        val probes = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderpriority")).distinct()
          .orderBy("o_orderpriority").as[String].collect().toSeq
        graft.ops.StorageOps.orcBloomProbe(
            s, Seq(s"$staged/orders"), 6L, probes)
          .select(col("stripe_id"), col("column_id"),
            col("row_group_id"), col("n_hits"))
          .orderBy("stripe_id", "row_group_id")
      },
      "q_multimodal_gguf" -> { (s, dir) =>
        // GGUF checkpoint census: KV walk (alignment from the file's
        // own metadata) + per-tensor exact byte spans, no weight reads
        val media = MultimodalOps.synthesizeGguf(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.ggufTensors(media).toDF()
          .select(col("id").as("doc_id"), col("tensorIdx").as("tensor_idx"),
            col("name"), col("typeId").as("type_id"),
            col("nDims").as("n_dims"), col("nElements").as("n_elements"),
            col("relOffset").as("rel_offset"),
            col("absOffset").as("abs_offset"),
            col("nTensorBytes").as("n_tensor_bytes"),
            col("kvCount").as("kv_count"))
          .orderBy("doc_id", "tensor_idx")
      },
      "q_multimodal_avro_blocks" -> { (s, dir) =>
        // Avro object-container census: metadata-map codec parse +
        // block walk with every sync marker verified against the
        // header's — record counts from the framing, no record decode
        val media = MultimodalOps.synthesizeAvro(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.avroBlocks(media).toDF()
          .select(col("id").as("doc_id"), col("blockIdx").as("block_idx"),
            col("nRecords").as("n_records"), col("dataSize").as("data_size"),
            col("offset"), col("codec"))
          .orderBy("doc_id", "block_idx")
      },
      "q_iceberg_manifest" -> { (s, dir) =>
        // Iceberg manifest census: the second open-lakehouse format
        // next to the Delta-log replay — manifest-entry record decode
        // (status / snapshot / path / format / rows / bytes) behind
        // the same sync-sealed Avro container walk, schema-DRIVEN
        val media = MultimodalOps.synthesizeIcebergManifest(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.icebergManifestEntries(media).toDF()
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("status"), col("snapshotId").as("snapshot_id"),
            col("filePath").as("file_path"),
            col("fileFormat").as("file_format"),
            col("recordCount").as("record_count"),
            col("fileSizeInBytes").as("file_size_in_bytes"))
          .orderBy("doc_id", "entry_idx")
      },
      "q_iceberg_manifest_v2" -> { (s, dir) =>
        // v2 PRODUCTION-shaped manifests written by the Avro library
        // (partition structs, column stats, sequence numbers, delete
        // files): the schema-driven walk extracts its fields and
        // skips the rest by the embedded writer schema — the gate
        // that used to return None on any non-v1 schema is gone; the
        // fixture is STAGED once per source fingerprint so the pass
        // times the decode, not the container synthesis
        val staged = stageIcebergManifestV2(s, dir)
        import s.implicits._
        val media = s.read.parquet(s"$staged/media")
          .as[graft.ops.MultimodalOps.MediaRecord]
        MultimodalOps.icebergManifestEntries(media).toDF()
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("status"), col("snapshotId").as("snapshot_id"),
            col("content"),
            col("filePath").as("file_path"),
            col("recordCount").as("record_count"),
            col("fileSizeInBytes").as("file_size_in_bytes"))
          .orderBy("doc_id", "entry_idx")
      },
      "q_iceberg_manifest_stats" -> { (s, dir) =>
        // the manifest COLUMN-STATS pruning surface — what an
        // Iceberg planner skips whole data files with, the
        // manifest-level sibling of the parquet/ORC zone maps:
        // column_sizes/value_counts/lower_bounds kv-arrays decoded
        // per entry, keyed by field id (map_from_entries at the
        // query layer); bound bytes surface as hex, type
        // interpretation belongs to the planner that holds the
        // table schema
        val staged = stageIcebergManifestV2(s, dir)
        import s.implicits._
        val media = s.read.parquet(s"$staged/media")
          .as[graft.ops.MultimodalOps.MediaRecord]
        MultimodalOps.icebergManifestEntries(media).toDF()
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            explode(col("columnSizes")).as("cs"),
            map_from_entries(col("valueCounts")).as("vcm"),
            map_from_entries(col("nullValueCounts")).as("nvm"),
            map_from_entries(col("lowerBounds")).as("lbm"),
            map_from_entries(col("upperBounds")).as("ubm"))
          .select(col("doc_id"), col("entry_idx"),
            col("cs.k").as("col_id"),
            col("cs.v").as("column_size"),
            element_at(col("vcm"), col("cs.k")).as("value_count"),
            element_at(col("nvm"), col("cs.k")).as("null_value_count"),
            element_at(col("lbm"), col("cs.k")).as("lower_bound_hex"),
            element_at(col("ubm"), col("cs.k")).as("upper_bound_hex"))
          .orderBy("doc_id", "entry_idx", "col_id")
      },
      "q_iceberg_manifest_partition" -> { (s, dir) =>
        // the FIRST-level Iceberg prune: the per-entry partition
        // struct, decoded generically (specs differ per table) and
        // surfaced as a JSON object string — exact-string oracled,
        // key order included
        val staged = stageIcebergManifestV2(s, dir)
        import s.implicits._
        val media = s.read.parquet(s"$staged/media")
          .as[graft.ops.MultimodalOps.MediaRecord]
        MultimodalOps.icebergManifestEntries(media).toDF()
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("partitionJson").as("partition_json"))
          .orderBy("doc_id", "entry_idx")
      },
      "q_iceberg_manifest_dv" -> { (s, dir) =>
        // v3 DELETION-VECTOR routing: position-delete entries
        // (content = 1) carry referenced_data_file + the blob's
        // (offset, size) inside its Puffin file — exactly the
        // descriptor a v3 scan hands to the puffin DV decoder
        // (q_puffin_dv); data and equality entries decode the null
        // union branches
        val staged = stageIcebergManifestV2(s, dir)
        import s.implicits._
        val media = s.read.parquet(s"$staged/media")
          .as[graft.ops.MultimodalOps.MediaRecord]
        MultimodalOps.icebergManifestEntries(media).toDF()
          .filter(col("content") === 1)
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("referencedDataFile").as("referenced_data_file"),
            col("contentOffset").as("content_offset"),
            col("contentSizeInBytes").as("content_size_in_bytes"))
          .orderBy("doc_id", "entry_idx")
      },
      "q_iceberg_manifest_eq" -> { (s, dir) =>
        // the equality-delete half of the v2 manifest decode: delete
        // entries (content = 2) surface the spec's equality_ids
        // column list (field-id 135) and the entry's data sequence
        // number — exactly what the MOR planner needs to route each
        // delete file into applyEqualityDeletes with the right
        // sequence cutoff; data and position-delete entries carry
        // the null union branch and must decode as empty
        val staged = stageIcebergManifestV2(s, dir)
        import s.implicits._
        val media = s.read.parquet(s"$staged/media")
          .as[graft.ops.MultimodalOps.MediaRecord]
        MultimodalOps.icebergManifestEntries(media).toDF()
          .filter(col("content") === 2)
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("sequenceNumber").as("sequence_number"),
            col("equalityIds").as("equality_ids"))
          .orderBy("doc_id", "entry_idx")
      },
      "q_iceberg_manifest_list" -> { (s, dir) =>
        // Iceberg manifest-LIST census: the snapshot's index of
        // manifests (one level above q_iceberg_manifest) — the
        // added/existing/deleted counts a planner prunes whole
        // manifests with
        val media = MultimodalOps.synthesizeIcebergManifestList(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.icebergManifestList(media).toDF()
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("manifestPath").as("manifest_path"),
            col("manifestLength").as("manifest_length"),
            col("partitionSpecId").as("partition_spec_id"),
            col("addedSnapshotId").as("added_snapshot_id"),
            col("addedFilesCount").as("added_files_count"),
            col("existingFilesCount").as("existing_files_count"),
            col("deletedFilesCount").as("deleted_files_count"))
          .orderBy("doc_id", "entry_idx")
      },
      "q_iceberg_manifest_list_v2" -> { (s, dir) =>
        // v2 PRODUCTION-shaped manifest lists written by the Avro
        // library: content kind (data vs DELETES — how a planner
        // prunes whole delete manifests by sequence range), sequence
        // numbers, the renamed *_data_files_count generation, row
        // counts, partition summaries skipped by schema — the
        // exact-schema gate on the list level is gone
        val media = MultimodalOps.synthesizeIcebergManifestListV2(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.icebergManifestList(media).toDF()
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("manifestPath").as("manifest_path"),
            col("manifestLength").as("manifest_length"),
            col("content"),
            col("sequenceNumber").as("sequence_number"),
            col("minSequenceNumber").as("min_sequence_number"),
            col("addedFilesCount").as("added_files_count"),
            col("existingFilesCount").as("existing_files_count"),
            col("deletedFilesCount").as("deleted_files_count"))
          .orderBy("doc_id", "entry_idx")
      },
      "q_multimodal_tfrecords" -> { (s, dir) =>
        // TFRecord shard census: length-framed walk with BOTH masked
        // CRC-32Cs verified per record — the TF training-shard seek
        // table
        val media = MultimodalOps.synthesizeTfRecordShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.tfRecords(media).toDF()
          .select(col("id").as("doc_id"), col("recIdx").as("rec_idx"),
            col("offset"), col("length"))
          .orderBy("doc_id", "rec_idx")
      },
      "q_multimodal_avif" -> { (s, dir) =>
        // AVIF census: ftyp brand gate + meta/iprp/ipco box walk to
        // the first ispe — dims, item count, primary item, no decode
        val media = MultimodalOps.synthesizeAvif(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.avifMeta(media).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("nItems").as("n_items"),
            col("primaryItem").as("primary_item"),
            col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      "q_multimodal_zip_members" -> { (s, dir) =>
        // ZIP shard census: EOCD-first central-directory walk (the
        // spec-correct read path) with local-header signature checks —
        // names, methods, sizes, and the exact seek offsets
        val media = MultimodalOps.synthesizeZipShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.zipMembers(media).toDF()
          .select(col("id").as("doc_id"), col("memberIdx").as("member_idx"),
            col("name"), col("method"),
            col("compSize").as("comp_size"),
            col("uncompSize").as("uncomp_size"),
            col("localOff").as("local_off"))
          .orderBy("doc_id", "member_idx")
      },
      "q_multimodal_hls_segments" -> { (s, dir) =>
        // HLS media-playlist census: per-segment URI, rolling media
        // sequence, and EXACT integer-ms EXTINF durations (decimal-
        // string parse, no float ever exists)
        val m3u8 = MultimodalOps.synthesizeHls(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.hlsSegments(m3u8, "id", "m3u8").toDF()
          .select(col("id").as("doc_id"), col("segIdx").as("seg_idx"),
            col("seqNo").as("seq_no"),
            col("durationMs").as("duration_ms"), col("uri"))
          .orderBy("doc_id", "seg_idx")
      },
      "q_multimodal_srt_cues" -> { (s, dir) =>
        // SubRip cue extraction: the comma-millisecond VTT sibling,
        // with the declared sequence number carried through
        val srt = MultimodalOps.synthesizeSrt(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.srtCues(srt, "id", "srt").toDF()
          .select(col("id").as("doc_id"), col("cueIdx").as("cue_idx"),
            col("seqNo").as("seq_no"),
            col("startMs").as("start_ms"), col("endMs").as("end_ms"),
            col("text").as("cue_text"))
          .orderBy("doc_id", "cue_idx")
      },
      "q_warc_records" -> { (s, dir) =>
        // WARC shard census (ISO 28500 — the Common Crawl record
        // format): strict version-line + header-field + Content-Length
        // framing walk; the offset/header/length columns are the seek
        // table a crawl consumer builds before any content fetch
        val media = MultimodalOps.synthesizeWarc(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.warcRecords(media).toDF()
          .select(col("id").as("doc_id"), col("recIdx").as("rec_idx"),
            col("warcType").as("warc_type"),
            col("targetUri").as("target_uri"),
            col("offset"), col("headerBytes").as("header_bytes"),
            col("contentLength").as("content_length"))
          .orderBy("doc_id", "rec_idx")
      },
      "q_warc_cdx" -> { (s, dir) =>
        // .warc.gz CDX census: per-record gzip members walked by hand
        // (RFC 1952 header, raw-deflate inflate, CRC32 + ISIZE both
        // verified), each member required to hold exactly one WARC
        // record — the Common Crawl random-access index shape.  The
        // compressed offsets aren't SQL-replayable (deflate output);
        // OpsSpec pins the ranged-read contract on them instead.
        val media = MultimodalOps.synthesizeWarcGz(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.warcGzRecords(media).toDF()
          .select(col("id").as("doc_id"), col("recIdx").as("rec_idx"),
            col("warcType").as("warc_type"),
            col("targetUri").as("target_uri"),
            col("recordBytes").as("record_bytes"),
            col("contentLength").as("content_length"))
          .orderBy("doc_id", "rec_idx")
      },
      "q_cc_e2e" -> { (s, dir) =>
        // the Common Crawl entry path END TO END: page HTML →
        // .warc.gz (request + response members, response carrying the
        // full page) → hand-walked member inflate with CRC verify →
        // response-block UTF-8 → HTML strip → token-count quality
        // gate.  The oracle replays synthesis + regex chain directly
        // on the documents table — the container round trip must be
        // byte-invisible to the text pipeline.
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val html = concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title><style>p { color: red }</style>" +
            "<script>var x = 1; if (x < 2) { x = 3; }</script>" +
            "</head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1>\n<p>"), col("text"),
          lit(" &amp; 5 &lt; 7</p><!-- crawl footer -->\n</body></html>"))
        val gz = MultimodalOps.synthesizeWarcGzPages(
          docs.withColumn("html", html), "doc_id", "html")
        MultimodalOps.warcGzPages(gz).toDF()
          .select(col("id").as("doc_id"),
            col("targetUri").as("target_uri"),
            TextOps.extractHtmlText(col("html")).as("clean"))
          .withColumn("n_tokens",
            size(filter(split(col("clean"), "\\s+"),
              t => t =!= lit(""))).cast("long"))
          .withColumn("keep", (col("n_tokens") >= 5).cast("long"))
          .orderBy("doc_id")
      },
      "q_arrow_ipc" -> { (s, dir) =>
        // Arrow IPC file census: hand-rolled flatbuffer walk of the
        // encapsulated-message stream (schema + record batches, row
        // counts from the RecordBatch table) over files written by
        // the Arrow LIBRARY itself — independent writer, from-spec
        // reader.  Byte geometry is library-owned, so the oracle
        // covers the message/row table; OpsSpec pins the geometry
        // against ArrowFileReader's own footer blocks.
        val media = MultimodalOps.synthesizeArrowIpc(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.arrowIpcMessages(media).toDF()
          .select(col("id").as("doc_id"), col("msgIdx").as("msg_idx"),
            col("headerType").as("header_type"),
            col("nRows").as("n_rows"))
          .orderBy("doc_id", "msg_idx")
      },
      "q_media_sniff" -> { (s, dir) =>
        // intake classification: a MIXED corpus (nine formats by
        // id % 9) classified by magic bytes BEFORE any per-format
        // census — the dispatch stage a lake with dishonest
        // extensions needs; the EPUB arm pins the ZIP second-stage
        // refine (zip:epub routes to the OCF census, plain zips stay).
        // ONE round-robin fan-out shared by all nine arms:
        // MultimodalOps.spread detects it (Filter over Repartition)
        // and skips its per-arm exchange — nine arm exchanges
        // measured +0.3-0.75 s on this row (r18)
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .repartition(math.max(1, s.sparkContext.defaultParallelism))
        def arm(m: Int)(f: org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.Dataset[MultimodalOps.MediaRecord]) =
          f(docs.filter(pmod(col("doc_id"), lit(9)) === m))
        val mixed = Seq(
          arm(0)(d => MultimodalOps.synthesizePdf(d, "doc_id", "text")),
          arm(1)(d => MultimodalOps.synthesizeTarShard(d, "doc_id", "text")),
          arm(2)(d => MultimodalOps.synthesizeWarcGz(d, "doc_id", "text")),
          arm(3)(d => MultimodalOps.synthesizeJsonlZstShard(d, "doc_id", "text")),
          arm(4)(d => MultimodalOps.synthesizeWarc(d, "doc_id", "text")),
          arm(5)(d => MultimodalOps.synthesizeMp3Id3(d, "doc_id", "text")),
          arm(6)(d => MultimodalOps.synthesizeZipShard(d, "doc_id", "text")),
          arm(7)(d => MultimodalOps.synthesizeArrowIpc(d, "doc_id", "text")),
          arm(8)(d => MultimodalOps.synthesizeEpub(d, "doc_id", "text")))
          .reduce(_ union _)
        MultimodalOps.sniff(mixed)
          .select(col("id").as("doc_id"), col("kind"))
          .orderBy("doc_id")
      },
      "q_epub_meta" -> { (s, dir) =>
        // EPUB census (OCF): the ZIP walk + the container rules a
        // reader depends on — mimetype-first-and-stored, container.xml
        // → OPF path, manifest/spine counts
        val media = MultimodalOps.synthesizeEpub(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.epubMeta(media).toDF()
          .select(col("id").as("doc_id"), col("opfPath").as("opf_path"),
            col("nMembers").as("n_members"),
            col("nManifest").as("n_manifest"),
            col("nSpine").as("n_spine"))
          .orderBy("doc_id")
      },
      "q_jsonl_shard" -> { (s, dir) =>
        // JSONL shard census (the Dolma/HF one-doc-per-line staple):
        // structural seek table — offset/length per line, strict
        // ends-with-newline framing — with the parse step on top
        // (get_json_object; malformed lines keep their seek row,
        // quarantined by the valid flag)
        val media = MultimodalOps.synthesizeJsonlShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.jsonlRecords(media).toDF()
          .select(col("id").as("doc_id"), col("recIdx").as("rec_idx"),
            col("offset"), col("nBytes").as("n_bytes"),
            coalesce(get_json_object(col("line"), "$.id"), lit(""))
              .as("rec_id"),
            coalesce(get_json_object(col("line"), "$.n").cast("long"),
              lit(-1L)).as("n"),
            get_json_object(col("line"), "$.id").isNotNull
              .cast("long").as("valid"))
          .orderBy("doc_id", "rec_idx")
      },
      "q_jsonl_zst_shard" -> { (s, dir) =>
        // the .jsonl.zst flavor (Dolma's wire format): bomb-guarded
        // zstd inflate then the same walk — shares q_jsonl_shard's
        // oracle verbatim, the compression-invisibility law
        val media = MultimodalOps.synthesizeJsonlZstShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.jsonlZstRecords(media).toDF()
          .select(col("id").as("doc_id"), col("recIdx").as("rec_idx"),
            col("offset"), col("nBytes").as("n_bytes"),
            coalesce(get_json_object(col("line"), "$.id"), lit(""))
              .as("rec_id"),
            coalesce(get_json_object(col("line"), "$.n").cast("long"),
              lit(-1L)).as("n"),
            get_json_object(col("line"), "$.id").isNotNull
              .cast("long").as("valid"))
          .orderBy("doc_id", "rec_idx")
      },
      "q_pdf_meta" -> { (s, dir) =>
        // PDF structure census: header version gate, startxref window,
        // classic xref walk with every in-use offset bounds-checked,
        // chain coverage == /Size, page-tree /Count resolved through
        // the xref — the document-corpus intake metadata
        val media = MultimodalOps.synthesizePdf(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.pdfMeta(media).toDF()
          .select(col("id").as("doc_id"), col("version"),
            col("nObjects").as("n_objects"), col("nPages").as("n_pages"),
            col("nSections").as("n_sections"), col("layout"))
          .orderBy("doc_id")
      },
      "q_pdf_meta_enc" -> { (s, dir) =>
        // encrypted-PDF detection: even ids carry a standard-
        // security-handler /Encrypt trailer (+1 object in /Size) —
        // the census surfaces encrypted=true with the page count
        // still resolved (dicts are never encrypted, only
        // strings/streams), making the extraction drop ATTRIBUTABLE
        // instead of indistinguishable from bit rot
        val media = MultimodalOps.synthesizePdfEncrypted(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.pdfMeta(media).toDF()
          .select(col("id").as("doc_id"), col("version"),
            col("nObjects").as("n_objects"), col("nPages").as("n_pages"),
            col("encrypted").cast("long").as("encrypted"))
          .orderBy("doc_id")
      },
      "q_cc_wet" -> { (s, dir) =>
        // the WET sidecar — Common Crawl's extracted-text files, the
        // entry format most LLM text pipelines actually consume:
        // warcinfo lead + one conversion record per page through the
        // CRC-verified member walk; non-conversion records are
        // framing-checked but not emitted
        val media = MultimodalOps.synthesizeWetGz(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.wetGzRecords(media).toDF()
          .select(col("id").as("doc_id"), col("recIdx").as("rec_idx"),
            col("targetUri").as("uri"), col("text").as("page_text"))
          .orderBy("doc_id")
      },
      "q_cc_wat" -> { (s, dir) =>
        // the WAT sidecar — metadata records whose blocks are JSON
        // envelopes (the crawl's link graph); extraction stays
        // structural, the JSON parsed here with explicit
        // get_json_object paths (the JSON-sidecar discipline)
        val media = MultimodalOps.synthesizeWatGz(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        val links = "$['Envelope']['Payload-Metadata']" +
          "['HTTP-Response-Metadata']['HTML-Metadata']['Links']"
        MultimodalOps.watGzRecords(media).toDF()
          .select(col("id").as("doc_id"),
            col("targetUri").as("uri"),
            json_array_length(get_json_object(col("json"), links))
              .cast("long").as("n_links"),
            get_json_object(col("json"), links + "[0]['url']")
              .as("first_link"))
          .orderBy("doc_id")
      },
      "q_warc_revisit" -> { (s, dir) =>
        // the crawl's OWN dedup signal: revisit records resolve to
        // their originals by WARC-Payload-Digest equality — a pure
        // equi-join over the census (shuffle on digest: at crawl
        // scale revisits are half the archive, never broadcastable)
        val media = MultimodalOps.synthesizeWarcRevisit(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        val recs = graft.ops.DedupOps.registerPersist(
          MultimodalOps.warcRecords(media).toDF())
        val revisits = recs.filter(col("warcType") === "revisit")
          .select(col("id").as("doc_id"),
            col("targetUri").as("revisit_uri"),
            col("payloadDigest").as("digest"))
        val originals = recs.filter(col("warcType") === "response")
          .select(col("payloadDigest").as("digest"),
            col("targetUri").as("original_uri"))
        revisits.join(originals, "digest")
          .select(col("doc_id"), col("revisit_uri"),
            col("original_uri"), col("digest"))
          .orderBy("doc_id")
      },
      "q_pdf_text" -> { (s, dir) =>
        // the PDF CONTENT step (the document-corpus sibling of the
        // WARC content path): page tree resolved through the xref
        // chain, content streams decoded (FlateDecode on odd ids),
        // shown text extracted from Tj / TJ / hex-string operators —
        // one row per page, text replaying the 6-token-window rule
        val media = MultimodalOps.synthesizePdfText(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.pdfPageTexts(media).toDF()
          .select(col("id").as("doc_id"), col("pageIdx").as("page_idx"),
            col("text").as("page_text"))
          .orderBy("doc_id", "page_idx")
      },
      "q_pdf_text_cid" -> { (s, dir) =>
        // the COMPOSITE-font (Type0/CID) text layout — what modern
        // Unicode-producing tools emit by default: odd pages show
        // 2-byte REMAPPED codes that only the font's ToUnicode CMap
        // (bfchar + both bfrange forms) can restore, even pages stay
        // simple-font — so Tf font tracking, CMap decode, and
        // /Resources inheritance from the Pages node must all work
        // for the text to replay
        val media = MultimodalOps.synthesizePdfCid(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.pdfPageTexts(media).toDF()
          .select(col("id").as("doc_id"), col("pageIdx").as("page_idx"),
            col("text").as("page_text"))
          .orderBy("doc_id", "page_idx")
      },
      "q_pdf_meta_xrs" -> { (s, dir) =>
        // PDF >= 1.5 cross-reference STREAMS — the modern-producer
        // default layout: /W field widths, /Index subsections,
        // FlateDecode with PNG predictors, type-2 entries resolved
        // through /Type/ObjStm object streams; the catalog uses the
        // no-whitespace /Type/Catalog form the tokenizer must accept
        val media = MultimodalOps.synthesizePdfXrs(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.pdfMeta(media).toDF()
          .select(col("id").as("doc_id"), col("version"),
            col("nObjects").as("n_objects"), col("nPages").as("n_pages"),
            col("nSections").as("n_sections"), col("layout"))
          .orderBy("doc_id")
      },
      "q_pdf_meta_incr" -> { (s, dir) =>
        // incrementally-updated classic PDF (an editor re-save): the
        // census follows the trailer /Prev chain, counts coverage
        // across BOTH sections against the newest /Size, and resolves
        // the REPLACED catalog (newest entry wins)
        val media = MultimodalOps.synthesizePdfIncremental(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.pdfMeta(media).toDF()
          .select(col("id").as("doc_id"), col("version"),
            col("nObjects").as("n_objects"), col("nPages").as("n_pages"),
            col("nSections").as("n_sections"), col("layout"))
          .orderBy("doc_id")
      },
      "q_cc_http_e2e" -> { (s, dir) =>
        // the crawl-FAITHFUL chain: page HTML → HTTP response (status
        // line, Content-Type charset, headers) → .warc.gz → member
        // inflate → WARC record → HTTP head parse → 200-gate → body
        // by declared charset → HTML strip → token gate.  404 pages
        // (id % 7 == 0) are censused then dropped by the status gate,
        // exactly like a production fetch filter.
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val html = concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title><style>p { color: red }</style>" +
            "<script>var x = 1; if (x < 2) { x = 3; }</script>" +
            "</head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1>\n<p>"), col("text"),
          lit(" &amp; 5 &lt; 7</p><!-- crawl footer -->\n</body></html>"))
        val gz = MultimodalOps.synthesizeWarcGzHttp(
          docs.withColumn("html", html), "doc_id", "html")
        MultimodalOps.warcGzHttpPages(gz).toDF()
          .filter(col("status") === 200)
          .select(col("id").as("doc_id"),
            col("targetUri").as("target_uri"),
            col("status"), col("contentType").as("content_type"),
            col("charset"),
            TextOps.extractHtmlText(col("body")).as("clean"))
          .withColumn("n_tokens",
            size(filter(split(col("clean"), "\\s+"),
              t => t =!= lit(""))).cast("long"))
          .withColumn("keep", (col("n_tokens") >= 5).cast("long"))
          .orderBy("doc_id")
      },
      "q_warc_cdx_stream" -> { (s, dir) =>
        // the STREAMING CDX builder: crawl segments in a landing zone,
        // each walked exactly once as it arrives (AvailableNow drain
        // for the gate); shares q_warc_cdx's oracle verbatim — the
        // drained stream must equal the batch census row-for-row
        val staged = stageWarcGzFiles(s, dir)
        graft.ops.StreamingOps.runWarcCdxStream(s, staged)
          .select(col("id").as("doc_id"), col("recIdx").as("rec_idx"),
            col("warcType").as("warc_type"),
            col("targetUri").as("target_uri"),
            col("recordBytes").as("record_bytes"),
            col("contentLength").as("content_length"))
          .orderBy("doc_id", "rec_idx")
      },
      "q_iceberg_table_state" -> { (s, dir) =>
        // the FULL Iceberg read chain in one call — the
        // deltaLogState sibling: metadata.json → current snapshot →
        // its manifest list → its manifests → live files (status !=
        // DELETED).  Non-current snapshots' lists/manifests are in
        // the fixture as DECOYS: the composition must follow the
        // pointer chain, not union everything it can decode.  The
        // two upper levels broadcast; only the manifest side streams
        val docs = s.read.parquet(s"$dir/documents.parquet")
        graft.ops.StorageOps.icebergTableState(
            graft.ops.StorageOps.synthesizeIcebergMetadata(docs, "doc_id"),
            MultimodalOps.synthesizeIcebergTableLists(docs, "doc_id"),
            MultimodalOps.synthesizeIcebergTableManifests(docs, "doc_id"))
          .select(col("id").as("doc_id"), col("manifest_path"),
            col("file_path"), col("record_count"),
            col("file_size_in_bytes"))
          .orderBy("doc_id", "manifest_path", "file_path")
      },
      "q_iceberg_time_travel" -> { (s, dir) =>
        // TIME TRAVEL through the same composition: replay each
        // table at its EARLIEST retained snapshot (per-table picks
        // broadcast) — the chain is identical, only the entry
        // pointer moves, and the current snapshot's manifests become
        // the decoys this time
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val meta = graft.ops.StorageOps.synthesizeIcebergMetadata(docs, "doc_id")
        val picks = graft.ops.StorageOps
          .icebergMetadata(meta, "id", "metadata_json")
          .groupBy(col("id")).agg(min(col("snapshot_id")).as("snapshot_id"))
        graft.ops.StorageOps.icebergTableState(
            meta,
            MultimodalOps.synthesizeIcebergTableLists(docs, "doc_id"),
            MultimodalOps.synthesizeIcebergTableManifests(docs, "doc_id"),
            Some(picks))
          .select(col("id").as("doc_id"), col("manifest_path"),
            col("file_path"), col("record_count"),
            col("file_size_in_bytes"))
          .orderBy("doc_id", "manifest_path", "file_path")
      },
      "q_iceberg_metadata" -> { (s, dir) =>
        // the Iceberg chain's entry point: metadata.json parsed
        // schema-explicitly, one row per snapshot with the current
        // flag — above the manifest-list and manifest censuses
        val docs = s.read.parquet(s"$dir/documents.parquet")
        graft.ops.StorageOps.icebergMetadata(
            graft.ops.StorageOps.synthesizeIcebergMetadata(docs, "doc_id"),
            "id", "metadata_json")
          .select(col("id").as("doc_id"), col("format_version"),
            col("table_uuid"), col("snapshot_id"), col("timestamp_ms"),
            col("manifest_list"), col("operation"), col("is_current"))
          .orderBy("doc_id", "snapshot_id")
      },
      "q_warc_cdxj" -> { (s, dir) =>
        // the cc-index CDXJ line format end to end: census the
        // .warc.gz shards, BUILD each record's "urlkey timestamp
        // {json}" index line (SURT key + to_json), then PARSE the
        // lines back (substring splits + get_json_object) — the
        // round trip the index writer and every index consumer share
        val gz = MultimodalOps.synthesizeWarcGz(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        val cdx = MultimodalOps.warcGzRecords(gz).toDF()
        val lines = cdx.select(col("id"), col("recIdx"),
          concat(
            UrlOps.surtKey(col("targetUri")), lit(" 20260101000000 "),
            to_json(struct(col("targetUri").as("url"),
              col("warcType").as("type"),
              col("contentLength").as("clen")))).as("line"))
        lines.select(col("id").as("doc_id"), col("recIdx").as("rec_idx"),
            substring_index(col("line"), " ", 1).as("urlkey"),
            element_at(split(col("line"), " ", 3), 2).as("ts"),
            get_json_object(element_at(split(col("line"), " ", 3), 3),
              "$.url").as("url"),
            get_json_object(element_at(split(col("line"), " ", 3), 3),
              "$.type").as("type"),
            get_json_object(element_at(split(col("line"), " ", 3), 3),
              "$.clen").cast("long").as("content_length"))
          .orderBy("doc_id", "rec_idx")
      },
      "q_surt_keys" -> { (s, dir) =>
        // SURT urlkey (the cc-index/CDX sort key): reversed host
        // labels, SCHEME-AWARE default-port drop (:443 only for
        // https, :80 only for http — https://h:80 keeps its port),
        // sorted query params — one codegen'd projection, the
        // prefix-scan key that makes a domain's pages contiguous in
        // a 100 TB index.  The alt arm cycles scheme×port so every
        // keep/strip case is pinned by the oracle.
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val altUrl = concat(
          when(pmod(col("doc_id"), lit(2)) === 0, lit("http://"))
            .otherwise(lit("https://")),
          lit("Host"), col("doc_id").cast("string"), lit(".example.com:"),
          element_at(
            array(lit("80"), lit("443"), lit("8080")),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int")),
          lit("/Path"))
        docs.select(col("doc_id"),
            UrlOps.surtKey(urlSynthCol).as("url_surt"),
            UrlOps.surtKey(altUrl).as("url_surt_alt"))
          .orderBy("doc_id")
      },
      "q_feed_entries" -> { (s, dir) =>
        // RSS/Atom feed census (the frontier's freshness signal next
        // to sitemaps): items/entries with title, link (RSS element
        // text vs Atom href attribute), raw timestamp; link-less
        // entries dropped
        val docs = s.read.parquet(s"$dir/documents.parquet")
        UrlOps.feedEntries(
            docs.select(col("doc_id"), feedSynthCol.as("xml")),
            "doc_id", "xml")
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("kind"), col("title"), col("link"), col("ts"))
          .orderBy("doc_id", "entry_idx")
      },
      "q_sitemap_entries" -> { (s, dir) =>
        // sitemap.xml census (robots' URL-discovery sibling): urlset
        // page entries and sitemapindex child entries, loc entity
        // decode, optional lastmod/priority carried as strings
        val docs = s.read.parquet(s"$dir/documents.parquet")
        UrlOps.sitemapEntries(
            docs.select(col("doc_id"), sitemapSynthCol.as("xml")),
            "doc_id", "xml")
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("kind"), col("loc"), col("lastmod"), col("priority"))
          .orderBy("doc_id", "entry_idx")
      },
      "q_bgzf_blocks" -> { (s, dir) =>
        // BGZF blocked gzip (the gzip-family random-access sibling of
        // q_zstd_seek): BC-subfield BSIZE verified against each
        // member's actual compressed length, EOF marker required —
        // inflated sizes replay from the byte-split rule
        val media = MultimodalOps.synthesizeBgzf(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.bgzfBlocks(media).toDF()
          .select(col("id").as("doc_id"), col("blockIdx").as("block_idx"),
            col("isize"))
          .orderBy("doc_id", "block_idx")
      },
      "q_zstd_seek" -> { (s, dir) =>
        // zstd SEEKABLE shards (the random-access .zst convention):
        // the seek-table walk with strict frame tiling, per-frame
        // zstd magic, and XXH64 verification on the checksum arm —
        // decompressed geometry replays from byte-split arithmetic;
        // compressed sizes are the codec's own, pinned by the tiling
        // check and OpsSpec's ranged-read contract instead
        val media = MultimodalOps.synthesizeSeekableZstd(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.zstdSeekTable(media).toDF()
          .select(col("id").as("doc_id"), col("frameIdx").as("frame_idx"),
            col("dOffset").as("d_offset"), col("dSize").as("d_size"))
          .orderBy("doc_id", "frame_idx")
      },
      "q_robots_sitemaps" -> { (s, dir) =>
        // sitemap AUTODISCOVERY: the group-independent Sitemap:
        // directives a frontier follows out of robots.txt — the
        // lowercase arm pins field-name case-insensitivity
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val robots = concat(robotsSynthCol,
          lit("Sitemap: https://example.com/"),
          col("doc_id").cast("string"), lit("/sitemap.xml\n"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("sitemap: https://example.com/"),
              col("doc_id").cast("string"), lit("/sitemap-news.xml\n")))
            .otherwise(lit("")))
        UrlOps.robotsSitemaps(
            docs.select(col("doc_id"), robots.as("robots")),
            "doc_id", "robots")
          .select(col("id").as("doc_id"),
            col("sitemap_idx"), col("url"))
          .orderBy("doc_id", "sitemap_idx")
      },
      "q_robots_rules" -> { (s, dir) =>
        // robots.txt parse census (RFC 9309): group/agent/rule table
        // from a synthesized per-host politeness file — multi-agent
        // groups, a conditional rule, crawl-delay carried per group
        val docs = s.read.parquet(s"$dir/documents.parquet")
        UrlOps.robotsRules(
            docs.select(col("doc_id"), robotsSynthCol.as("robots")),
            "doc_id", "robots")
          .select(col("id").as("doc_id"), col("groupIdx").as("group_idx"),
            col("agent"), col("ruleIdx").as("rule_idx"),
            col("allow").cast("long").as("allow"), col("pattern"),
            col("crawlDelayMs").as("crawl_delay_ms"))
          .orderBy("doc_id", "group_idx", "agent", "rule_idx")
      },
      "q_robots_eval" -> { (s, dir) =>
        // crawl-permission evaluation: five candidate paths per host
        // decided for agent "graftbot" — longest-match precedence,
        // allow wins ties, specific group shadows the * group, no
        // match means allowed
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val rules = UrlOps.robotsRules(
          docs.select(col("doc_id"), robotsSynthCol.as("robots")),
          "doc_id", "robots")
        val m = (col("doc_id") % 5).cast("string")
        val b = (col("doc_id") % 3).cast("string")
        val urls = docs.select(col("doc_id"), explode(array(
          concat(lit("/private"), m, lit("/page")),
          concat(lit("/private"), m, lit("/pub/x")),
          concat(lit("/blocked"), b, lit("/y")),
          lit("/docs/readme"), lit("/open"))).as("path"))
        UrlOps.robotsAllowed(rules, "graftbot", urls, "doc_id", "path")
          .select(col("id").as("doc_id"), col("path"),
            col("allowed").cast("long").as("allowed"))
          .orderBy("doc_id", "path")
      },
      "q_multimodal_webp" -> { (s, dir) =>
        // WebP header census: RIFF chunk walk + per-flavor (VP8/VP8L/
        // VP8X) dimension parse — no pixel decode
        val media = MultimodalOps.synthesizeWebp(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.webpMeta(media).toDF()
          .select(col("id").as("doc_id"), col("format"),
            col("width"), col("height"), col("hasAlpha").as("has_alpha"),
            col("nChunks").as("n_chunks"), col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      "q_multimodal_gif" -> { (s, dir) =>
        // GIF89a structure census: screen dims, color-table size,
        // frame count, and total animation delay — the LZW payload is
        // hopped via the format's own sub-block lengths, not decoded
        val media = MultimodalOps.synthesizeGif(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.gifMeta(media).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("nColors").as("n_colors"), col("nFrames").as("n_frames"),
            col("totalDelayCs").as("total_delay_cs"),
            col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      "q_multimodal_vorbis_meta" -> { (s, dir) =>
        // Ogg Vorbis census: same verified-CRC page walk as Opus, with
        // the Vorbis identification header and the granule-is-PCM-
        // samples duration rule
        val media = MultimodalOps.synthesizeVorbis(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.vorbisMeta(media).toDF()
          .select(col("id").as("doc_id"), col("channels"),
            col("sampleRate").as("sample_rate"),
            col("bitrateNominal").as("bitrate_nominal"),
            col("nPages").as("n_pages"), col("lastGranule").as("last_granule"),
            col("durationMs").as("duration_ms"), col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      "q_multimodal_exif" -> { (s, dir) =>
        // EXIF census WITHOUT decode: JPEG marker walk + TIFF IFD
        // parse (orientation, make, GPS deg/min/sec rationals) — the
        // image-side PII surface the text redaction family can't see
        val media = MultimodalOps.synthesizeExifJpeg(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.exifMeta(media).toDF()
          .select(col("id").as("doc_id"), col("orientation"), col("make"),
            col("hasGps").as("has_gps"),
            col("latRef").as("lat_ref"), col("latDeg").as("lat_deg"),
            col("latMin").as("lat_min"), col("latSec").as("lat_sec"),
            col("lonRef").as("lon_ref"), col("lonDeg").as("lon_deg"),
            col("lonMin").as("lon_min"), col("lonSec").as("lon_sec"))
          .orderBy("doc_id")
      },
      "q_multimodal_tiff" -> { (s, dir) =>
        // standalone .tif census: the same IFD walk at offset 0 —
        // shares q_multimodal_exif's oracle verbatim (bare vs
        // JPEG-wrapped TIFF must census identically).  Odd ids take
        // the BigTIFF flavor (version 43, 8-byte offsets/counts) —
        // three physical paths, ONE oracle
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val media = MultimodalOps.synthesizeTiff(
            docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id")
          .union(MultimodalOps.synthesizeBigTiff(
            docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id"))
        MultimodalOps.tiffMeta(media).toDF()
          .select(col("id").as("doc_id"), col("orientation"), col("make"),
            col("hasGps").as("has_gps"),
            col("latRef").as("lat_ref"), col("latDeg").as("lat_deg"),
            col("latMin").as("lat_min"), col("latSec").as("lat_sec"),
            col("lonRef").as("lon_ref"), col("lonDeg").as("lon_deg"),
            col("lonMin").as("lon_min"), col("lonSec").as("lon_sec"))
          .orderBy("doc_id")
      },
      "q_multimodal_exif_strip" -> { (s, dir) =>
        // the governance ACTION: strip every APP1 segment; everything
        // else byte-preserved, and re-parsing finds no EXIF
        import s.implicits._
        val media = MultimodalOps.synthesizeExifJpeg(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        media.map { r =>
          val stripped = MultimodalOps.exifStripBytes(r.content)
          (r.id, r.content.length.toLong, stripped.length.toLong,
            (r.content.length - stripped.length).toLong,
            if (MultimodalOps.exifMetaOf(
              MultimodalOps.MediaRecord(r.id, r.kind, stripped)).isDefined) 1L else 0L)
        }.toDF("doc_id", "n_before", "n_after", "exif_bytes", "exif_after")
          .orderBy("doc_id")
      },
      "q_multimodal_opus_meta" -> { (s, dir) =>
        // Ogg/Opus census WITHOUT decode: RFC 3533 page walk with
        // REAL per-page CRC verification + RFC 7845 OpusHead parse;
        // duration from the last granule position minus pre-skip
        val media = MultimodalOps.synthesizeOpus(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.opusMeta(media).toDF()
          .select(col("id").as("doc_id"), col("channels"),
            col("preSkip").as("pre_skip"),
            col("inputSampleRate").as("input_sample_rate"),
            col("nPages").as("n_pages"),
            col("lastGranule").as("last_granule"),
            col("durationMs").as("duration_ms"),
            col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      "q_multimodal_mp3_vbr" -> { (s, dir) =>
        // VBR census: bitrate varies per frame (the real-corpus case
        // the CBR walk rejects); rate/mode stay consistent, duration
        // is exact 1152-samples arithmetic, bitrate RANGE reported
        val media = MultimodalOps.synthesizeMp3Vbr(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.mp3VbrMeta(media).toDF()
          .select(col("id").as("doc_id"),
            col("sampleRate").as("sample_rate"), col("channels"),
            col("nFrames").as("n_frames"),
            col("durationMs").as("duration_ms"),
            col("brMinKbps").as("br_min_kbps"),
            col("brMaxKbps").as("br_max_kbps"),
            col("firstFrameOff").as("first_frame_off"),
            col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      "q_multimodal_aac_meta" -> { (s, dir) =>
        // AAC ADTS census WITHOUT decode: real 7-byte header parse
        // (sync/ID/layer/profile/rate/channels) hopping by the
        // EXPLICIT 13-bit frame length the stream declares
        val media = MultimodalOps.synthesizeAac(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.aacMeta(media).toDF()
          .select(col("id").as("doc_id"),
            col("objectType").as("object_type"),
            col("sampleRate").as("sample_rate"), col("channels"),
            col("nFrames").as("n_frames"),
            col("durationMs").as("duration_ms"),
            col("nBytes").as("n_bytes"),
            col("maxFrameLen").as("max_frame_len"))
          .orderBy("doc_id")
      },
      "q_multimodal_mp3_meta" -> { (s, dir) =>
        // MP3 census WITHOUT decode: real ISO 11172-3 frame-header
        // parse (sync/version/layer/bitrate/rate/mode) + ID3v2 skip +
        // CBR frame-chain walk — the compressed-audio sibling of the
        // avcC/SPS surface
        val media = MultimodalOps.synthesizeMp3(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.mp3Meta(media).toDF()
          .select(col("id").as("doc_id"), col("version"), col("layer"),
            col("bitrateKbps").as("bitrate_kbps"),
            col("sampleRate").as("sample_rate"), col("channels"),
            col("nFrames").as("n_frames"),
            col("durationMs").as("duration_ms"),
            col("firstFrameOff").as("first_frame_off"))
          .orderBy("doc_id")
      },
      "q_multimodal_flac_meta" -> { (s, dir) =>
        // FLAC census WITHOUT decode: real STREAMINFO bit parse
        // (20/3/5/36-bit packed group) + metadata-block-chain hop to
        // the first audio byte
        val media = MultimodalOps.synthesizeFlac(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.flacMeta(media).toDF()
          .select(col("id").as("doc_id"),
            col("sampleRate").as("sample_rate"), col("channels"),
            col("bitsPerSample").as("bits_per_sample"),
            col("totalSamples").as("total_samples"),
            col("durationMs").as("duration_ms"),
            col("audioOff").as("audio_off"),
            col("nAudioBytes").as("n_audio_bytes"))
          .orderBy("doc_id")
      },
      "q_dedup_embed_lsh" -> { (s, dir) =>
        SimilarityOps.lshCosinePairs(
            s.read.parquet(s"$dir/embeddings.parquet"),
            "vec_id", "embedding", bits = 4, dim = 64, threshold = 0.4)
          .select("id_a", "id_b").orderBy("id_a", "id_b")
      },
      "q_lm_score" -> { (s, dir) =>
        TextOps.unigramLogProbs(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .orderBy("doc_id", "token")
      },
      "q_token_rarity" -> { (s, dir) =>
        TextOps.tokenRarityStats(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .orderBy("doc_id")
      },
      "q_psi_drift" -> { (s, dir) =>
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
      "q_compress_ratio" -> { (s, dir) =>
        // zlib-ratio quality signal; deflate is not SQL-expressible,
        // but it is deterministic at a fixed level, so the golden-
        // literal byte counts gate it (compressOracleSql) on top of
        // the OpsSpec monotonicity/determinism properties
        TextOps.compressionRatio(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .orderBy("doc_id")
      },
      "q_compress_zstd" -> { (s, dir) =>
        // zstd-ratio quality signal — the lake's own codec; same
        // golden-literal gate as the deflate flavor (deterministic at
        // a fixed level), context reused per partition and closed when
        // the partition drains
        TextOps.zstdCompressionRatio(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .orderBy("doc_id")
      },
      "q_tfidf_terms" -> { (s, dir) =>
        // per-doc top-3 TF-IDF keywords over the corpus's own counts
        TextOps.tfIdfTopTerms(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 3)
          .orderBy("doc_id", "rank")
      },
      "q_bigram_lm" -> { (s, dir) =>
        // Jelinek-Mercer interpolated bigram scores under the
        // corpus's own counts — the next step up from q_lm_score
        TextOps.bigramLogProbs(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .orderBy("doc_id", "w1", "w2")
      },
      "q_bpe_encode" -> { (s, dir) =>
        // the ENCODE half (r8): the sf0.01-trained 12-merge table
        // (golden fixture — "train once on a sample, apply
        // corpus-wide") applied to every document; counts feed
        // packing/budget selection, the md5 pins the exact tokens
        TextOps.bpeEncode(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            bpeFixtureMerges)
          .withColumn("doc_id", col("doc_id").cast("long"))
          .orderBy("doc_id")
      },
      "q_bpe_train" -> { (s, dir) =>
        // FULL tokenizer-training loop (r8): 12 BPE merges learned
        // from the corpus's own words — vocab-scale iterations, exact
        // integer counts, total-order tie-break → the merge table is
        // bit-deterministic and golden-literal-oracled
        TextOps.bpeTrain(
            s.read.parquet(s"$dir/documents.parquet"), "text",
            numMerges = 12, minCount = 2)
          .orderBy("merge_rank")
      },
      "q_lm_buckets" -> { (s, dir) =>
        // CCNet-style head/middle/tail: per-language ntile over the
        // integer-exact token-commonness ranking
        SelectionOps.perplexityBuckets(
            s.read.parquet(s"$dir/documents.parquet"),
            "doc_id", "text", "lang", nBuckets = 3)
          .orderBy("doc_id")
      },
      "q_budget_select" -> { (s, dir) =>
        // greedy quality-ranked selection until each language's token
        // budget is spent — the data-selection primitive
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val scored = TextOps.qualityMetrics(docs, "text")
          .select(col("doc_id"), col("lang"), col("quality_score"),
            TextOps.bpeTokenEstimate(col("text")).as("tok"))
        SelectionOps.budgetSelect(
            scored, "doc_id", "lang", "quality_score", "tok", budget = 5000L)
          .orderBy("part", "id")
      },
      "q_mixture_plan" -> { (s, dir) =>
        // domain weights -> concrete per-source epochs under a total
        // token budget (shares * budget all integral: no round() halves)
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("source"), TextOps.bpeTokenEstimate(col("text")).as("tok"))
        SelectionOps.mixturePlan(docs, "source", "tok",
            Map("src0" -> 0.30, "src1" -> 0.25, "src2" -> 0.20,
                "src3" -> 0.15, "src4" -> 0.10),
            totalBudget = 100000L, maxEpochs = 4.0)
          .orderBy("source")
      },
      "q_selection_e2e" -> { (s, dir) =>
        // the composed data-selection pipeline: quality gate ->
        // head/middle buckets -> per-lang budget -> mixture ->
        // fractional-epoch copies -> sequence pack -> manifest; every
        // stage is individually oracled, this gates the glue
        SelectionOps.selectionPipeline(
            s.read.parquet(s"$dir/documents.parquet"),
            "doc_id", "text", "lang", "source",
            budgetPerLang = 4000L,
            targets = Map("src0" -> 0.30, "src1" -> 0.25, "src2" -> 0.20,
              "src3" -> 0.15, "src4" -> 0.10),
            totalBudget = 50000L, seqLen = 256L, salt = "sel7")
          .orderBy("seq_id")
      },
      "q_mixture_materialize" -> { (s, dir) =>
        // plan -> repeat-expanded corpus: floor(epochs) copies + a
        // deterministic hash-fraction extra copy per doc
        val raw = s.read.parquet(s"$dir/documents.parquet")
        val docs = raw.select(col("doc_id"), col("source"),
          TextOps.bpeTokenEstimate(col("text")).as("tok"))
        val plan = SelectionOps.mixturePlan(docs, "source", "tok",
          Map("src0" -> 0.30, "src1" -> 0.25, "src2" -> 0.20,
              "src3" -> 0.15, "src4" -> 0.10),
          totalBudget = 100000L, maxEpochs = 4.0)
        SelectionOps.materializeMixture(docs, "doc_id", "source", plan, "mix7")
          .orderBy("id", "copy")
      },
      "q_span_dedup" -> { (s, dir) =>
        // Lee et al. substring dedup as an ACTION: cut every k-token
        // window already owned by a lower-id doc; narrow output
        // (counts + cleaned-text md5)
        DedupOps.removeDuplicateSpans(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            k = 8, portableHash = true)
          .select(col("id").cast("bigint").as("doc_id"),
            col("n_tokens"), col("n_removed"), col("clean_md5"))
          .orderBy("doc_id")
      },
      "q_window_dedup" -> { (s, dir) =>
        DedupOps.duplicateWindowStats(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            k = 8, portableHash = true)
          .select(col("id").cast("bigint").as("doc_id"),
            col("n_windows"), col("n_dup_windows"), col("dup_frac"))
          .orderBy("doc_id")
      },
      "q_salted_join" -> { (s, dir) =>
        // events fact × per-type dim through the skew-safe salted
        // join; the aggregation collapses the salt so the result is
        // bit-identical to the plain join the oracle runs
        val ev = StreamingOps.readEventsBatch(s, dir)
          .select("event_id", "user_id", "event_type")
        val dim = ev.groupBy("event_type")
          .agg(count(lit(1)).as("type_count"))
        graft.ops.JoinOps.saltedJoin(ev, dim, "event_type", salt = 8,
          idCol = "event_id")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum("type_count").as("sum_tc"))
          .orderBy("user_id")
      },
      "q_profile_stats" -> { (s, dir) =>
        graft.ops.ProfileOps.profile(
            s.read.parquet(s"$dir/documents.parquet"),
            Seq("doc_id", "lang", "source", "n_chars"))
          .orderBy("col_name")
      },
      "q_token_topk_by_lang" -> { (s, dir) =>
        TextOps.topTokensByGroup(
            s.read.parquet(s"$dir/documents.parquet"), "lang", "text", k = 10)
          .orderBy("grp", "rank")
      },
      "q_stratified_topn" -> { (s, dir) =>
        SampleOps.stratifiedFixedN(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang",
            n = 20, salt = "r6topn")
          .select(col("doc_id"), col("lang"), col("sample_rank"))
          .orderBy("lang", "sample_rank")
      },
      "q_temperature_sample" -> { (s, dir) =>
        SampleOps.temperatureSample(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang",
            targetRows = 250, salt = "r6temp")
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      "q_events_window" -> { (s, dir) =>
        StreamingOps.windowedCounts(StreamingOps.readEventsBatch(s, dir))
          .orderBy("bucket5m", "event_type")
      },
      "q_events_hopping" -> { (s, dir) =>
        // 10-min windows every 5 min — each event in 2 overlapping
        // windows via the integer offset explode
        StreamingOps.hoppingCounts(StreamingOps.readEventsBatch(s, dir))
          .orderBy("wstart_us", "event_type")
      },
      "q_events_asof" -> { (s, dir) =>
        // purchase ← most recent prior (or equal-time) view per user:
        // the classic attribution as-of, µs integer time end-to-end
        val ev = StreamingOps.readEventsBatch(s, dir)
          .withColumn("tus", expr("ts DIV 1000"))
        AsofOps.asofJoin(
            ev.filter(col("event_type") === "purchase"),
            ev.filter(col("event_type") === "view"),
            Seq("user_id"), "tus", "event_id")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("matched_id").as("view_id"), col("gap").as("gap_us"))
          .orderBy("user_id", "purchase_id")
      },
      "q_events_asof_ts" -> { (s, dir) =>
        // the SAME attribution as q_events_asof but feeding the RAW
        // TimestampType column: pins AsofOps' type-aware normalization
        // (exact integer µs — a seconds-floored cast("long") would tie
        // sub-second pairs and leak future views into the match)
        val ev = s.read.parquet(s"$dir/events.parquet")
        AsofOps.asofJoin(
            ev.filter(col("event_type") === "purchase"),
            ev.filter(col("event_type") === "view"),
            Seq("user_id"), "ts", "event_id")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("matched_id").as("view_id"), col("gap").as("gap_us"))
          .orderBy("user_id", "purchase_id")
      },
      "q_topk_per_key" -> { (s, dir) =>
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
      "q_grouped_median" -> { (s, dir) =>
        QuantileOps.groupedMedian(
            s.read.parquet(s"$dir/orders.parquet")
              .select(col("o_orderpriority").as("grp"),
                floor(col("o_totalprice")).cast("long").as("v")),
            "grp", "v")
          .orderBy("grp")
      },
      "q_percent_rank" -> { (s, dir) =>
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
      "q_event_paths" -> { (s, dir) =>
        val ev = StreamingOps.readEventsBatch(s, dir)
          .withColumn("tus", expr("ts DIV 1000"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
        ev.withColumn("p1", lag(col("event_type"), 1).over(w))
          .withColumn("p2", lag(col("event_type"), 2).over(w))
          .where(col("p2").isNotNull)
          .groupBy(concat_ws(">", col("p2"), col("p1"), col("event_type"))
            .as("path"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path"))
          .limit(10)
      },
      "q_scd2_snapshot" -> { (s, dir) =>
        import graft.ops.StorageOps
        val base = s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey").cast("long").as("k"),
            floor(col("c_acctbal") * 100).cast("long").as("val_cents"))
        val dim0 = StorageOps.scd2Init(base, "k", Seq("val_cents"))
        val upd = base.where(pmod(col("k"), lit(7L)) === 0)
          .select(col("k"), (col("val_cents") + 100000L).as("val_cents"))
          .unionByName(base.where(pmod(col("k"), lit(97L)) === 0)
            .select((col("k") + 1000000L).as("k"),
              lit(12345L).as("val_cents")))
        val dim1 = StorageOps.scd2Merge(dim0, upd, "k", Seq("val_cents"), 1L)
        // time travel: both snapshots reconstructed from version spans
        StorageOps.scd2Snapshot(dim1, 0L)
          .select(lit(0L).as("as_of"), col("k"), col("val_cents"))
          .unionByName(StorageOps.scd2Snapshot(dim1, 1L)
            .select(lit(1L).as("as_of"), col("k"), col("val_cents")))
          .orderBy("as_of", "k")
      },
      "q_retrieval_metrics" -> { (s, dir) =>
        // IR evaluation of the ANN index: recall@10 vs the exact
        // top-10 and the reciprocal rank of the true nearest — the
        // metrics a retrieval deployment tracks per index rebuild
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val queries = emb.filter(col("vec_id") < 8)
        val exact = SimilarityOps.bruteForceTopK(
          emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10)
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val ivf = SimilarityOps.ivfTopKWithCentroids(
          emb, "vec_id", "embedding", queries, "vec_id", "embedding",
          cents, nProbe = 4, k = 10)
        val e = exact.select(col("query_id"), col("corpus_id"), col("rank"))
        val i = ivf.select(col("query_id").as("iq"),
          col("corpus_id").as("ic"), col("rank").as("ir"))
        val hits = e.join(i,
            col("query_id") === col("iq") && col("corpus_id") === col("ic"),
            "left")
          .groupBy("query_id")
          .agg(count(col("ic")).cast("long").as("hits10"))
        val rr = e.where(col("rank") === 1)
          .select(col("query_id"), col("corpus_id").as("nn_id"))
          .join(i, col("query_id") === col("iq") && col("nn_id") === col("ic"),
            "left")
          .groupBy("query_id")
          .agg(coalesce(max(lit(1.0) / col("ir")), lit(0.0)).as("mrr"))
        hits.join(rr, "query_id")
          .select(col("query_id"), col("hits10"),
            (col("hits10").cast("double") / 10.0).as("recall10"), col("mrr"))
          .orderBy("query_id")
      },
      "q_kcore" -> { (s, dir) =>
        // 6-core of the token co-occurrence graph (bigram count ≥ 66):
        // iterate-to-fixpoint peeling, oracle unrolls the rounds
        val t = s.read.parquet(s"$dir/documents.parquet")
          .select(TextOps.tokens(col("text")).as("__t"))
        val edges = t
          .select(col("__t"), explode(
            when(size(col("__t")) >= 2,
              sequence(lit(1), size(col("__t")) - 1))
              .otherwise(array().cast("array<int>"))).as("i"))
          .select(element_at(col("__t"), col("i")).as("x"),
            element_at(col("__t"), col("i") + 1).as("y"))
          .where(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n"))
          .where(col("n") >= 66)
        graft.ops.GraphOps.kCore(edges, "a", "b", k = 6)
          .orderBy("node")
      },
      "q_kcore_shuffle" -> { (s, dir) =>
        // the SAME 6-core through the above-the-gate SHUFFLE path:
        // broadcastThreshold = 0 disables every node-set broadcast
        // hint, so all peel rounds run the 100×-safe shuffle joins —
        // results must equal q_kcore's (GraphSpec pins bit-parity;
        // this row proves the scale path against the oracle too)
        val t = s.read.parquet(s"$dir/documents.parquet")
          .select(TextOps.tokens(col("text")).as("__t"))
        val edges = t
          .select(col("__t"), explode(
            when(size(col("__t")) >= 2,
              sequence(lit(1), size(col("__t")) - 1))
              .otherwise(array().cast("array<int>"))).as("i"))
          .select(element_at(col("__t"), col("i")).as("x"),
            element_at(col("__t"), col("i") + 1).as("y"))
          .where(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n"))
          .where(col("n") >= 66)
        graft.ops.GraphOps.kCore(edges, "a", "b", k = 6,
            broadcastThreshold = 0L)
          .orderBy("node")
      },
      "q_histogram" -> { (s, dir) =>
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
      "q_mp4_frames" -> { (s, dir) =>
        // real MJPEG frames through the container: synthesize, frame-
        // sample every 2nd, decode sampled frames with the JDK codec
        val recs = MultimodalOps.synthesizeMjpegMp4(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          w = 16, h = 12, keyMod = 10, nFrames = 4)
        MultimodalOps.mjpegSampleFrames(recs, keyMod = 10, nFrames = 4,
            everyN = 2)
          .toDF()
          .select(col("id").cast("bigint").as("doc_id"), col("frame_idx"),
            col("width"), col("height"), col("px_sum"), col("thumb_md5"),
            col("max_err"))
          .orderBy("doc_id", "frame_idx")
      },
      "q_graftdoc_scan" -> { (s, dir) =>
        // the DataSource V2 connector end-to-end: shard the corpus
        // once (BuildOnce), read through the connector with a pushed
        // doc_id bound, fingerprint the decoded text
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        val store = s"/tmp/graft-gdoc-store/$key"
        BuildOnce.once(s"gdoc|$store") {
          graft.sources.GraftDoc.write(
            s.read.parquet(s"$dir/documents.parquet")
              .select(col("doc_id"), col("text"))
              .repartitionByRange(8, col("doc_id")),
            store)
        }
        s.read.format(classOf[graft.sources.GraftDocSource].getName)
          .option("path", store).load()
          .where(col("doc_id") < 250)
          .select(col("doc_id").cast("bigint").as("doc_id"),
            md5(col("text")).as("fp"))
          .orderBy("doc_id")
      },
      "q_dq_checks" -> { (s, dir) =>
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
      "q_set_ops" -> { (s, dir) =>
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
      "q_ewma" -> { (s, dir) =>
        val ev = StreamingOps.readEventsBatch(s, dir)
          .withColumn("tus", expr("ts DIV 1000"))
        StreamingOps.ewmaPerUser(ev).orderBy("user_id")
      },
      "q_events_session_native" -> { (s, dir) =>
        // the NATIVE session_window operator (merging session windows
        // in one aggregation) — the gaps-and-islands q_events_sessionize
        // computes the same sessions by windows; this gates Spark's
        // built-in operator against that independent formulation
        StreamingOps.readEventsBatch(s, dir)
          .groupBy(session_window(col("event_time"), "30 minutes"),
            col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            expr("CAST(unix_micros(session_window.start) AS BIGINT)")
              .as("session_start_us"),
            expr("CAST(unix_micros(session_window.end) AS BIGINT)")
              .as("session_end_us"),
            col("n").cast("long").as("n"))
          .orderBy("user_id", "session_start_us")
      },
      "q_moments" -> { (s, dir) =>
        graft.ops.ProfileOps.moments(
          s.read.parquet(s"$dir/orders.parquet")
            .select(floor(col("o_totalprice")).cast("long").as("units")),
          "units")
      },
      "q_correlation" -> { (s, dir) =>
        graft.ops.ProfileOps.correlation(
          s.read.parquet(s"$dir/lineitem.parquet")
            .select(floor(col("l_quantity")).cast("long").as("x"),
              floor(col("l_extendedprice")).cast("long").as("y")),
          "x", "y")
      },
      "q_chi2_cells" -> { (s, dir) =>
        graft.ops.ProfileOps.chiSquareCells(
            s.read.parquet(s"$dir/customer.parquet")
              .select(col("c_mktsegment"),
                col("c_nationkey").cast("long").as("nat")),
            "c_mktsegment", "nat")
          .select(col("a"), col("b"), col("obs"), col("expected"),
            col("chi2_term"))
          .orderBy("a", "b")
      },
      "q_standardize" -> { (s, dir) =>
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
      "q_scd2_merge" -> { (s, dir) =>
        import graft.ops.StorageOps
        val base = s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey").cast("long").as("k"),
            floor(col("c_acctbal") * 100).cast("long").as("val_cents"))
        val dim0 = StorageOps.scd2Init(base, "k", Seq("val_cents"))
        val upd = base.where(pmod(col("k"), lit(7L)) === 0)
          .select(col("k"), (col("val_cents") + 100000L).as("val_cents"))
          .unionByName(base.where(pmod(col("k"), lit(97L)) === 0)
            .select((col("k") + 1000000L).as("k"),
              lit(12345L).as("val_cents")))
        StorageOps.scd2Merge(dim0, upd, "k", Seq("val_cents"), batchId = 1L)
          .orderBy("k", "version_start")
      },
      "q_event_transitions" -> { (s, dir) =>
        val ev = StreamingOps.readEventsBatch(s, dir)
          .withColumn("tus", expr("ts DIV 1000"))
        StreamingOps.transitionCounts(ev)
          .orderBy("from_type", "to_type")
      },
      "q_cohort_retention" -> { (s, dir) =>
        val ev = StreamingOps.readEventsBatch(s, dir)
          .withColumn("tus", expr("ts DIV 1000"))
        StreamingOps.cohortRetention(ev)
          .orderBy("cohort_week", "week_offset")
      },
      "q_rolling_sum" -> { (s, dir) =>
        val ev = StreamingOps.readEventsBatch(s, dir)
          .withColumn("tus", expr("ts DIV 1000"))
        StreamingOps.rollingStats(ev, k = 5)
          .select(col("event_id"), col("user_id"), col("tus"),
            col("roll_n").cast("long").as("roll_n"),
            col("roll_millis"))
          .orderBy("event_id")
      },
      "q_bloom_join" -> { (s, dir) =>
        val big = s.read.parquet(s"$dir/lineitem.parquet")
        val small = s.read.parquet(s"$dir/orders.parquet")
          .where(col("o_orderstatus") === "F" &&
            col("o_orderpriority") === "1-URGENT")
        graft.ops.JoinOps.bloomPrunedJoin(
            big, "l_orderkey", small, "o_orderkey")
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).cast("long").as("n_lines"),
            sum(floor(col("l_quantity")).cast("long")).cast("long").as("sum_qty"))
          .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
            col("n_lines"), col("sum_qty"))
          .orderBy("o_orderkey")
      },
      "q_triangles" -> { (s, dir) =>
        // triangle census of the nation trade graph (same edge frame
        // as q_pagerank), degree-ordered node-iterator
        val l = s.read.parquet(s"$dir/lineitem.parquet")
        val o = s.read.parquet(s"$dir/orders.parquet")
        val c = s.read.parquet(s"$dir/customer.parquet")
        val su = s.read.parquet(s"$dir/supplier.parquet")
        val edges = l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(su, l("l_suppkey") === su("s_suppkey"))
          .select(c("c_nationkey").cast("long").as("src"),
            su("s_nationkey").cast("long").as("dst"))
          .distinct()
        graft.ops.GraphOps.triangleCounts(edges, "src", "dst")
          .select(col("node").cast("bigint").as("node"),
            col("n_tri").cast("bigint").as("n_tri"))
          .orderBy("node")
      },
      "q_mad_outliers" -> { (s, dir) =>
        val v = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"),
            floor(col("o_totalprice") * 100).cast("long").as("cents"))
        QuantileOps.madOutliers(v, "o_orderkey", "cents", k = 2)
          .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
            col("value"), col("dev"), col("med"), col("mad"))
          .orderBy("o_orderkey")
      },
      "q_cube_agg" -> { (s, dir) =>
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
      "q_events_pivot" -> { (s, dir) =>
        // the native pivot operator: one pass, map-side partial aggs
        // per (bucket, type), then the wide reshape
        StreamingOps.readEventsBatch(s, dir)
          .groupBy(pmod(col("user_id"), lit(10L)).as("ub"))
          .pivot("event_type",
            Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .select(col("ub") +: Seq("click", "error", "purchase", "signup", "view")
            .map(c => col(c).cast("long").as(c)): _*)
          .orderBy("ub")
      },
      "q_event_funnel" -> { (s, dir) =>
        val ev = StreamingOps.readEventsBatch(s, dir)
          .withColumn("tus", expr("ts DIV 1000"))
        StreamingOps.funnelSteps(ev, Seq("view", "click", "purchase"))
          .select(col("user_id"), col("t_1").as("t_view"),
            col("t_2").as("t_click"), col("t_3").as("t_purchase"),
            col("depth"))
          .orderBy("user_id")
      },
      "q_events_interval_join" -> { (s, dir) =>
        // batch twin of the stream-stream interval join (OpsSpec pins
        // the streaming flavor equal on this data)
        val ev = StreamingOps.readEventsBatch(s, dir)
          .withColumn("tus", expr("ts DIV 1000"))
        AsofOps.intervalJoin(
            ev.filter(col("event_type") === "purchase"),
            ev.filter(col("event_type") === "click"),
            Seq("user_id"), "tus", "event_id", lookback = 14400000000L)
          .select(col("user_id"), col("left_id").as("purchase_id"),
            col("right_id").as("click_id"), col("gap").as("gap_us"))
          .orderBy("user_id", "purchase_id", "click_id")
      },
      "q_events_sessionize" -> { (s, dir) =>
        StreamingOps.sessionize(StreamingOps.readEventsBatch(s, dir))
          .orderBy("user_id", "session_id")
      },
      "q_delta_log_state" -> { (s, dir) =>
        // lakehouse table-state reconstruction: replay a Delta-style
        // commit log (filename = version, last action per path wins)
        // into the live file set — no table-format library
        val staged = stageDeltaLog(dir)
        graft.ops.StorageOps.deltaLogState(s, staged)
          .orderBy("path")
      },
      "q_hudi_timeline_state" -> { (s, dir) =>
        // the third lakehouse format: Hudi timeline replay — latest
        // file slice per (partition, file group), replacecommits
        // killing the groups they cluster away
        val staged = stageHudiTimeline(dir)
        graft.ops.StorageOps.hudiTimelineState(s, staged)
          .orderBy("partition", "file_id")
      },
      "q_hudi_archived_timeline" -> { (s, dir) =>
        // the long-history half of the timeline: archived instants as
        // HoodieLogFormat avro records — same wire walk as the MOR
        // delta logs, typed projection on top
        val arch = stageHudiArchive(dir)
        graft.ops.StorageOps.hudiArchivedTimeline(s, arch)
          .orderBy("commit_time")
      },
      "q_hudi_incremental" -> { (s, dir) =>
        // Hudi's signature read path: rows committed after c1 — file
        // pruning from the timeline (only the c2-rewritten slice is
        // scanned), then the _hoodie_commit_time row filter drops the
        // carried-forward rows a partial rewrite would copy
        val root = stageHudiCowTable(s, dir)
        graft.ops.StorageOps.hudiIncremental(s, root, "20240101000000")
          .orderBy("o_orderkey")
      },
      "q_hudi_read_optimized" -> { (s, dir) =>
        // the MOR base-only path: log deltas deliberately skipped —
        // the snapshot's updates/deletes/resurrections must all be
        // ABSENT (staleness bounded by compaction is the contract)
        val root = stageHudiMorTable(s, dir)
        graft.ops.StorageOps.hudiReadOptimized(s, root)
          .orderBy("o_orderkey")
      },
      "q_hudi_cow_snapshot" -> { (s, dir) =>
        // the Hudi TABLE-level read: properties gate (COPY_ON_WRITE)
        // → timeline replay to live slices → scan exactly those base
        // files; commit 2's rewrite of file group f-1 must shadow
        // commit 1's file — the third lakehouse format at the same
        // state-composition depth as Delta and Iceberg
        val root = stageHudiCowTable(s, dir)
        graft.ops.StorageOps.hudiCowSnapshot(s, root)
          .orderBy("o_orderkey")
      },
      "q_hudi_log_blocks" -> { (s, dir) =>
        // MOR delta-side census: one row per HoodieLogFormat block —
        // type, instant, record count, rollback fencing — decoded by
        // the from-spec byte walk (magic, BE sizes, ordinal header
        // maps, sized avro-binary records); what compaction planning
        // reads.  Block 2 is the c4 poison write, block 3 the
        // :command rollback that fences it — rolled_back pins the
        // marking
        val slice = stageHudiMorSlice(s, dir)
        graft.ops.StorageOps.hudiLogBlocks(s, Seq(s"$slice/logs"))
          .select(col("block_seq"), col("block_type"),
            col("format_version"), col("instant"),
            col("target_instant"), col("header_n"),
            col("record_count"),
            col("rolled_back").cast("long").as("rolled_back"))
          .orderBy("block_seq")
      },
      "q_hudi_file_slices" -> { (s, dir) =>
        // the MOR read-planning surface itself: latest base per file
        // group + logs at-or-after it, from the deltacommit timeline
        val root = stageHudiMorTable(s, dir)
        graft.ops.StorageOps.hudiFileSlices(s, s"$root/.hoodie")
          .select(col("partition"), col("file_id"), col("kind"),
            col("path"), col("instant"))
          .orderBy("file_id", "kind")
      },
      "q_hudi_mor_snapshot" -> { (s, dir) =>
        // the FULL MOR table read: properties gate (MERGE_ON_READ) ->
        // deltacommit timeline -> file slices -> one merged read over
        // all slices; f-0 merges its five-block log (updates, deletes,
        // rolled-back poison), f-1 passes through base-only
        val root = stageHudiMorTable(s, dir)
        graft.ops.StorageOps.hudiMorSnapshot(s, root)
          .orderBy("o_orderkey")
      },
      "q_hudi_mor_read" -> { (s, dir) =>
        // the MERGE_ON_READ snapshot: base file ⟕ broadcast(latest
        // log action per key) — c2's avro block doubles %12 keys'
        // price, c3's delete block drops %20 keys, %60 keys pin
        // update-then-delete ordering; the base scan never shuffles
        val slice = stageHudiMorSlice(s, dir)
        graft.ops.StorageOps.hudiMorRead(
            s, Seq(s"$slice/base"), Seq(s"$slice/logs"))
          .orderBy("o_orderkey")
      },
      "q_delta_checkpoint_state" -> { (s, dir) =>
        // the 10^6-commit path: state from the checkpoint parquet +
        // only the commits AFTER it — same live set as the full
        // replay, with version_added clamped to the checkpoint for
        // files that entered through it (the protocol's own loss)
        val staged = stageDeltaLogCheckpointed(s, dir)
        graft.ops.StorageOps.deltaLogStateFromCheckpoint(s, staged)
          .orderBy("path")
      },
      "q_delta_checkpoint_multipart" -> { (s, dir) =>
        // the protocol's large-table checkpoint LAYOUT: the same
        // state split across V.checkpoint.i-of-N.parquet parts named
        // by `parts` in _last_checkpoint — same live set, same
        // oracle as the single-file flavor (two layouts, one answer)
        val staged = stageDeltaLogCheckpointedMultipart(s, dir)
        graft.ops.StorageOps.deltaLogStateFromCheckpoint(s, staged)
          .orderBy("path")
      },
      "q_delta_checkpoint_v2" -> { (s, dir) =>
        // the v2 (UUID-named) checkpoint LAYOUT: tombstones + sidecar
        // actions in the top file, adds in _sidecars/ files — the
        // THIRD physical layout onto the same oracle (single-file,
        // multi-part, v2: one answer)
        val staged = stageDeltaLogCheckpointedV2(s, dir)
        graft.ops.StorageOps.deltaLogStateFromCheckpoint(s, staged)
          .orderBy("path")
      },
      "q_hudi_properties" -> { (s, dir) =>
        // the Hudi ENTRY POINT: .hoodie/hoodie.properties — table
        // identity, type (which read path applies), version,
        // partition fields — parsed with the JDK Properties loader
        // (the format IS java.util.Properties); completes the
        // three-format entry-point trio next to icebergMetadata and
        // the Delta protocol/checkpoint reads
        val root = stageHudiTableRoot(dir)
        graft.ops.StorageOps.hudiTableProperties(s, root)
          .orderBy("key")
      },
      "q_delta_vacuum" -> { (s, dir) =>
        // the tombstone set — what vacuum deletes after retention:
        // paths whose latest action is a remove, with the removing
        // version; the v10 resurrection of part-0-0 must keep it
        // OUT of the candidates (re-add beats its older tombstone)
        val staged = stageDeltaLog(dir)
        graft.ops.StorageOps.deltaTombstones(s, staged)
          .orderBy("path")
      },
      "q_delta_column_mapping" -> { (s, dir) =>
        // COLUMN-MAPPED per-file stats census: the staged log's
        // metaData sets delta.columnMapping.mode=name, so add-action
        // stats are keyed by physical col-<id> names — the census
        // must translate them to logical names via the schema's
        // physicalName metadata, over the LIVE file set only (v4
        // removes f-1); protocol v3 + columnMapping feature passes
        // the reader gate
        val staged = stageDeltaLogMapped(dir)
        graft.ops.StorageOps.deltaFileStats(s, staged)
          .withColumnRenamed("column", "col_name")
          .orderBy("path", "col_name")
      },
      "q_delta_partition_values" -> { (s, dir) =>
        // the FIRST-level Delta prune: per-live-file partition
        // values from the add actions, with the physical
        // partitionValues keys (mode=name) translated back to the
        // logical column name — the same mapped log as
        // q_delta_column_mapping
        val staged = stageDeltaLogMapped(dir)
        graft.ops.StorageOps.deltaPartitionValues(s, staged)
          .withColumnRenamed("column", "col_name")
          .orderBy("path", "col_name")
      },
      "q_shard_census_stream" -> { (s, dir) =>
        // shards land as files; the binaryFile stream censuses each
        // exactly once — drained stream == batch walk (same oracle as
        // q_multimodal_tar_members)
        val staged = stageShardFiles(s, dir)
        StreamingOps.runShardCensusStream(s, staged)
          .select(col("id").as("doc_id"), col("memberIdx").as("member_idx"),
            col("name"), col("size"), col("dataOffset").as("data_offset"))
          .orderBy("doc_id", "member_idx")
      },
      "q_fit_streaming" -> { (s, dir) => // rows-only: incremental fit
        // == batch fit after one pass (StreamingWoeSpec pins equality)
        val staged = stageAsDir(dir, "lineitem")
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
      })

  /** Pair source for the clustering queries: exact-dup star pairs
    * (canonical → member, linear in group size — NOT all-pairs, so a
    * billion-copy boilerplate group contributes a billion edges, not
    * 10^18) unioned with the hot-block-guarded token-jaccard near-dup
    * pairs.  Both flavors are DuckDB-replayable, so the clustering
    * result hash-checks end-to-end.
    */
  /** Cluster-input edges: exact-dup membership plus the BANDED minhash
    * near-dup pairs (the scale path).  The near source was
    * tokenJaccardPairs until r10 — its length-block populations grow
    * linearly with the corpus, so candidate verify work grows
    * quadratically (measured: 10× data → ~25× q_dedup_clusters at the
    * sf10 scratch SF).  Banded minhash keeps candidates proportional
    * to true near-dup mass; exact pairs stay unioned so whole-corpus
    * duplicate groups keep their keep_id-centered edges.
    */
  private def dedupPairs(docs: DataFrame): DataFrame = {
    // hash once into a slim persisted (id, h) table: the group-by side
    // and the member join would otherwise each re-scan and re-md5 the
    // full text column (3 passes via the exactDupMembers+Groups
    // composition — measurable at the sf10 scratch SF)
    val hashed = graft.ops.DedupOps.registerPersist(
      docs.select(col("doc_id").as("id"), md5(col("text")).as("h")))
    val grp = hashed.groupBy("h")
      .agg(count(lit(1)).as("cnt"), min(col("id")).as("keep_id"))
      .filter(col("cnt") > 1)
    val exact = hashed.join(grp.select("h", "keep_id"), "h")
      .where(col("id") =!= col("keep_id"))
      .select(col("keep_id").as("id_a"), col("id").as("id_b"))
    val near = DedupOps.minhashPairs(docs, "text", "doc_id",
        jaccardThreshold = 0.7)
      .select("id_a", "id_b")
    exact.union(near)
  }

  private val stageLock = new Object

  /** Stage a single-file table behind a directory symlink (file-stream
    * sources require a directory).  Keyed by sanitized path PLUS an
    * md5 suffix (sanitization alone can collide: "sf-1" vs "sf_1");
    * the symlink is re-created under a lock so a dangling link cannot
    * poison later runs and concurrent suites cannot interleave the
    * delete/create pair.
    */
  /** Stage a deterministic Delta-style commit log: 12 versions, each
    * a `%020d.json` of add/remove/commitInfo lines — version v adds
    * `part-v-k.parquet` (k 0..2, size 1000 + 137v + k), v ≥ 3 removes
    * `part-(v-3)-(v%3).parquet`, and v10 RE-ADDS the v3-removed
    * `part-0-0.parquet` at size 9999 (the last-action-wins case).
    * Corpus-independent by design so the oracle is pure arithmetic.
    */
  private[graft] def stageDeltaLog(dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md
      val staged = java.nio.file.Paths.get("/tmp/graft-stream", key, "deltalog")
      java.nio.file.Files.createDirectories(staged)
      (0 until 12).foreach { v =>
        val lines = Seq.newBuilder[String]
        lines += s"""{"commitInfo":{"timestamp":${1700000000000L + v}}}"""
        (0 until 3).foreach { k =>
          lines += s"""{"add":{"path":"part-$v-$k.parquet","size":${1000 + 137 * v + k},"dataChange":true}}"""
        }
        if (v >= 3)
          lines += s"""{"remove":{"path":"part-${v - 3}-${v % 3}.parquet"}}"""
        if (v == 10)
          lines += s"""{"add":{"path":"part-0-0.parquet","size":9999,"dataChange":true}}"""
        java.nio.file.Files.write(staged.resolve(f"$v%020d.json"),
          lines.result().mkString("\n").getBytes("UTF-8"))
      }
      staged.toString
    }

  /** Stage a COLUMN-MAPPED Delta log: protocol v3 with the
    * columnMapping reader feature, a metaData action whose schema
    * carries `delta.columnMapping.physicalName` per field
    * (mode=name), and add actions whose `stats` JSON is keyed by the
    * PHYSICAL names — the shape every Databricks-written table has
    * after a column rename.  v4 removes f-1 so the census proves it
    * reads the LIVE set only.
    */
  private[graft] def stageDeltaLogMapped(dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md
      val staged =
        java.nio.file.Paths.get("/tmp/graft-stream", key, "deltalogmap")
      java.nio.file.Files.createDirectories(staged)
      def esc(s: String): String =
        s.replace("\\", "\\\\").replace("\"", "\\\"")
      val schemaJson =
        """{"type":"struct","fields":[""" +
          """{"name":"doc_id","type":"long","nullable":true,"metadata":""" +
          """{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-9f8a"}},""" +
          """{"name":"lang","type":"string","nullable":true,"metadata":""" +
          """{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-3c7d"}}]}"""
      val v0 = Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""",
        s"""{"metaData":{"id":"m-1","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${esc(schemaJson)}","partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"2"},"createdTime":1700000000000}}""")
      java.nio.file.Files.write(staged.resolve(f"${0}%020d.json"),
        v0.mkString("\n").getBytes("UTF-8"))
      (1 to 5).foreach { v =>
        val stats =
          s"""{"numRecords":${100 + v},""" +
            s""""minValues":{"col-9f8a":${v * 10},"col-3c7d":"a$v"},""" +
            s""""maxValues":{"col-9f8a":${v * 10 + 9},"col-3c7d":"z$v"},""" +
            s""""nullCount":{"col-9f8a":0,"col-3c7d":$v}}"""
        val lines = Seq.newBuilder[String]
        lines += s"""{"commitInfo":{"timestamp":${1700000001000L + v}}}"""
        lines += s"""{"add":{"path":"f-$v.parquet","size":${5000 + v},""" +
          s""""dataChange":true,""" +
          s""""partitionValues":{"col-3c7d":"p${v % 2}"},""" +
          s""""stats":"${esc(stats)}"}}"""
        if (v == 4)
          lines += """{"remove":{"path":"f-1.parquet"}}"""
        java.nio.file.Files.write(staged.resolve(f"$v%020d.json"),
          lines.result().mkString("\n").getBytes("UTF-8"))
      }
      staged.toString
    }

  /** Stage the SAME deterministic commit log as [[stageDeltaLog]] PLUS
    * the protocol's checkpoint machinery: a checkpoint parquet at
    * version 9 holding the state AT v9 (live adds + remove
    * tombstones, computed by the same replay rules in driver code)
    * and the `_last_checkpoint` pointer.  Commits 0-11 all remain on
    * disk — realistic retention — so the reader must prove it ignores
    * the subsumed ones.  The v10 resurrection of `part-0-0.parquet`
    * happens AFTER the checkpoint, exercising re-add-over-tombstone
    * across the checkpoint boundary.
    */
  /** Stage `orders` as ONE deterministic-order ORC file for the
    * row-index census: sorted by o_orderkey in a single partition, so
    * row N is the same row for the ORC writer and for the oracle's
    * row_number() replay — row-group membership is then pure
    * arithmetic on the sort key.
    */
  /** The staged ORC fixture's DETERMINISTIC stripe geometry.  The
    * writer rolls a stripe on the first 1024-row batch that reaches
    * `orc.stripe.row.count`, so a count that is itself a batch
    * multiple rolls EXACTLY there — 5120-row stripes, 2000-row row
    * groups (2000/2000/1120 per full stripe) — and the DuckDB
    * oracles replay (stripe_id, row_group_id) as pure row_number()
    * arithmetic.  The staging footer check below pins the geometry
    * LOUDLY: if a future ORC writer rolls differently the stage
    * fails, never the oracle silently.
    */
  private[graft] val OrcStageStripeRows = 5120L
  private[graft] val OrcStageRowGroupRows = 2000L

  private[graft] def stageOrcRowIndexFiles(s: SparkSession, dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = s"/tmp/graft-orcridx-stage-$md"
      val fp = stageFingerprint(s, dir, Seq("orders"), "orcridx-v3")
      if (!stageUpToDate(out, fp)) {
        s.read.parquet(s"$dir/orders.parquet")
          // NTZ timestamps land in ORC as int64 micros; the INSTANT
          // cast makes column 5 a true ORC timestamp so the census
          // exercises TimestampStatistics (session TZ is UTC, so the
          // UTC-epoch-millis bounds equal DuckDB's epoch_ms replay)
          .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
          .repartition(1).sortWithinPartitions("o_orderkey")
          .write.mode("overwrite").option("compression", "zlib")
          .option("orc.bloom.filter.columns", "o_orderpriority")
          // GENUINELY multi-stripe (r17 verdict ask #3 retired the
          // old 2 GiB single-stripe pin): deterministic 5120-row
          // stripes, 2000-row row groups — per-stripe numbering in
          // every oracle
          .option("orc.stripe.row.count", OrcStageStripeRows.toString)
          .option("orc.row.index.stride", OrcStageRowGroupRows.toString)
          .orc(s"$out/orders")
        val ordersPath = new org.apache.hadoop.fs.Path(s"$out/orders")
        val ofs = ordersPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        ofs.listStatus(ordersPath)
          .filter(_.getPath.getName.endsWith(".orc")).foreach { st =>
            // two-step tail read: a couple hundred stripes of footer
            // entries already overflow a fixed 16 KiB read (hit at
            // the ×10 probe SF — the check, not the file, was broken)
            val meta = graft.ops.StorageOps
              .orcTailOfFile(ofs, st.getPath, st.getLen).getOrElse(
                sys.error(s"stageOrcRowIndexFiles: unreadable ORC tail at ${st.getPath}"))
            val n = meta.totalRows
            val expect = (0L until (n + OrcStageStripeRows - 1) /
                OrcStageStripeRows).map { i =>
              math.min(OrcStageStripeRows, n - i * OrcStageStripeRows)
            }.toVector
            require(meta.rowIndexStride == OrcStageRowGroupRows &&
              meta.stripes.map(_._5) == expect,
              s"stageOrcRowIndexFiles: ${st.getPath} geometry " +
                s"(stride ${meta.rowIndexStride}, stripes " +
                s"${meta.stripes.map(_._5).mkString(",")}) does not " +
                s"match the pinned $OrcStageStripeRows-row roll / " +
                s"$OrcStageRowGroupRows-row stride the oracles replay " +
                "— the ORC writer's batch-boundary behavior changed; " +
                "re-derive the oracle arithmetic before proceeding")
          }
        writeStageMarker(out, fp)
      }
      out
    }

  /** Stage the synthesized v2 Iceberg manifests to parquet ONCE per
    * source fingerprint (the stageShardFiles discipline, extended to
    * the board's most staging-bound row — 14× at ×10 data, all
    * synthesis): census passes then time the DECODE, not the Avro
    * container synthesis.  Shared by q_iceberg_manifest_v2 and
    * q_iceberg_manifest_eq.  Recipe key bumps when the synthesizer
    * changes (icebergv2-v2 carries equality_ids).
    */
  private[graft] def stageIcebergManifestV2(s: SparkSession, dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = s"/tmp/graft-icebergv2-stage-$md"
      val fp = stageFingerprint(s, dir, Seq("documents"), "icebergv2-v5")
      if (!stageUpToDate(out, fp)) {
        MultimodalOps.synthesizeIcebergManifestV2(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id")
          .write.mode("overwrite").parquet(s"$out/media")
        writeStageMarker(out, fp)
      }
      out
    }

  /** Stage the q_iceberg_mor_eq equality-delete FILE once: a real
    * parquet file whose rows ARE the delete tuples over the
    * equality_ids columns plus the delete's sequence number — the
    * decode step is the parquet read itself, per spec.
    */
  private[graft] def stageIcebergEqDeleteFile(s: SparkSession): String =
    stageLock.synchronized {
      val out = "/tmp/graft-iceberg-eqdel-stage"
      val fp = "iceberg-eqdel-v1"
      if (!stageUpToDate(out, fp)) {
        import s.implicits._
        Seq(("de", 3L), ("fr", 5L)).toDF("lang", "delete_seq")
          .coalesce(1).write.mode("overwrite").parquet(s"$out/eqdel")
        writeStageMarker(out, fp)
      }
      out
    }

  private[graft] def stageDeltaLogCheckpointed(s: SparkSession, dir: String): String =
    stageDeltaLogCheckpointedImpl(s, dir, parts = 1)

  /** Same table, multi-part checkpoint LAYOUT: the protocol's
    * large-table form (`parts` in `_last_checkpoint`, actions split
    * across `V.checkpoint.i-of-N.parquet`).  Adds land in part 1,
    * tombstones in part 2 — the split is arbitrary by design; the
    * reader must not care.
    */
  private[graft] def stageDeltaLogCheckpointedMultipart(
      s: SparkSession, dir: String): String =
    stageDeltaLogCheckpointedImpl(s, dir, parts = 2)

  /** Same table, v2 (UUID-named) checkpoint LAYOUT: the top file
    * carries the tombstones plus `sidecar` actions naming two
    * `_sidecars/` files that split the adds — the third physical
    * layout onto the same oracle.  parts == 0 is the v2 marker.
    */
  private[graft] def stageDeltaLogCheckpointedV2(
      s: SparkSession, dir: String): String =
    stageDeltaLogCheckpointedImpl(s, dir, parts = 0)

  private def stageDeltaLogCheckpointedImpl(
      s: SparkSession, dir: String, parts: Int): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md
      val sub = parts match {
        case 1 => "deltalogcp"
        case 0 => "deltalogcpv2"
        case n => s"deltalogcp$n"
      }
      val staged = java.nio.file.Paths.get("/tmp/graft-stream", key, sub)
      java.nio.file.Files.createDirectories(staged)
      (0 until 12).foreach { v =>
        val lines = Seq.newBuilder[String]
        lines += s"""{"commitInfo":{"timestamp":${1700000000000L + v}}}"""
        (0 until 3).foreach { k =>
          lines += s"""{"add":{"path":"part-$v-$k.parquet","size":${1000 + 137 * v + k},"dataChange":true}}"""
        }
        if (v >= 3)
          lines += s"""{"remove":{"path":"part-${v - 3}-${v % 3}.parquet"}}"""
        if (v == 10)
          lines += s"""{"add":{"path":"part-0-0.parquet","size":9999,"dataChange":true}}"""
        java.nio.file.Files.write(staged.resolve(f"$v%020d.json"),
          lines.result().mkString("\n").getBytes("UTF-8"))
      }
      val cpVersion = 9
      val sidecarNames = Seq("sc-00001.parquet", "sc-00002.parquet")
      val cpFiles: Seq[java.nio.file.Path] =
        if (parts == 1)
          Seq(staged.resolve(f"$cpVersion%020d.checkpoint.parquet"))
        else if (parts == 0) { // v2: UUID top + sidecars
          java.nio.file.Files.createDirectories(staged.resolve("_sidecars"))
          staged.resolve(f"$cpVersion%020d.checkpoint." +
            "0f16aa71-0000-4000-8000-000000000016.parquet") +:
            sidecarNames.map(n => staged.resolve("_sidecars").resolve(n))
        } else (1 to parts).map(i => staged.resolve(
          f"$cpVersion%020d.checkpoint.$i%010d.$parts%010d.parquet"))
      if (!cpFiles.forall(java.nio.file.Files.exists(_))) {
        // the state at v9 by the same replay rules, in driver code:
        // adds (v,k) v<=9 not yet removed; tombstones for the removed
        val removed = (3 to cpVersion).map(v => (v - 3, v % 3)).toSet
        val liveAdds = for {
          v <- 0 to cpVersion; k <- 0 until 3
          if !removed.contains((v, k))
        } yield (s"part-$v-$k.parquet", (1000 + 137 * v + k).toLong, true)
        import s.implicits._
        import org.apache.spark.sql.functions.{lit => flit, struct => fstruct, col => fcol}
        val addsDf =
          liveAdds.toDF("p", "sz", "dc")
            .select(fstruct(fcol("p").as("path"), fcol("sz").as("size"),
              fcol("dc").as("dataChange")).as("add"),
              flit(null).cast("struct<path:string>").as("remove"))
        val removesDf =
          removed.toSeq.sorted.map { case (rv, rk) => s"part-$rv-$rk.parquet" }
            .toDF("p")
            .select(flit(null)
              .cast("struct<path:string,size:bigint,dataChange:boolean>")
              .as("add"),
              fstruct(fcol("p").as("path")).as("remove"))
        // single-part: one file with everything; multi-part: adds in
        // part 1, tombstones in part 2; v2: tombstones + sidecar
        // actions in the UUID top file, adds split across the two
        // sidecars (the split is arbitrary by design — the reader
        // must not care)
        val chunks =
          if (parts == 1) Seq(addsDf.unionByName(removesDf))
          else if (parts == 0) {
            val scType = "struct<path:string>"
            val addType = "struct<path:string,size:bigint,dataChange:boolean>"
            val sidecarRows = sidecarNames.toDF("p")
              .select(flit(null).cast(addType).as("add"),
                flit(null).cast(scType).as("remove"),
                fstruct(fcol("p").as("path")).as("sidecar"))
            val top = removesDf
              .select(fcol("add"), fcol("remove"),
                flit(null).cast(scType).as("sidecar"))
              .unionByName(sidecarRows)
            val (evens, odds) = liveAdds.zipWithIndex.partition(_._2 % 2 == 0)
            def addsChunk(xs: Seq[((String, Long, Boolean), Int)]) =
              xs.map(_._1).toDF("p", "sz", "dc")
                .select(fstruct(fcol("p").as("path"), fcol("sz").as("size"),
                  fcol("dc").as("dataChange")).as("add"),
                  flit(null).cast(scType).as("remove"))
            Seq(top, addsChunk(evens), addsChunk(odds))
          }
          else Seq(addsDf, removesDf)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        chunks.zip(cpFiles).foreach { case (chunk, cpFile) =>
          val tmpOut = staged.resolve(s"_cp_build_$cpVersion")
          chunk.coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
          val part = java.nio.file.Files.list(tmpOut).toArray
            .map(_.asInstanceOf[java.nio.file.Path])
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error("checkpoint build produced no parquet"))
          java.nio.file.Files.copy(part, cpFile,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          rm(tmpOut.toFile)
        }
        val partsField = if (parts >= 2) s""","parts":$parts""" else ""
        java.nio.file.Files.write(staged.resolve("_last_checkpoint"),
          s"""{"version":$cpVersion,"size":${liveAdds.size + removed.size}$partsField}"""
            .getBytes("UTF-8"))
      }
      staged.toString
    }

  /** Stage a deterministic Hudi-style timeline: instants 20240100+t,
    * t 0..9; commit t writes file groups `f-<(2t+k)%12>` (k 0..1) in
    * partition `pt=<t%2>` at size `2000 + 61t + k` — fileId reuse
    * across commits is the update path (same parity → same
    * partition, so the newest slice supersedes).  t=8 is a
    * REPLACECOMMIT: it replaces `f-0`/`f-1` (whose last writes were
    * t=6 — clustering kills them) and writes `f-100`/`f-101`.
    * Corpus-independent so the oracle is closed-form arithmetic.
    */
  /** Stage a Hudi TABLE ROOT: `.hoodie/hoodie.properties` (written
    * through java.util.Properties, continuations/escapes included —
    * independent writer) for the entry-point census.
    */
  private[graft] def stageHudiTableRoot(dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md
      val root = java.nio.file.Paths.get("/tmp/graft-stream", key, "hudiroot")
      java.nio.file.Files.createDirectories(root.resolve(".hoodie"))
      val props = new java.util.Properties()
      props.setProperty("hoodie.table.name", "graft_events")
      props.setProperty("hoodie.table.type", "COPY_ON_WRITE")
      props.setProperty("hoodie.table.version", "6")
      props.setProperty("hoodie.timeline.layout.version", "1")
      props.setProperty("hoodie.datasource.write.partitionpath.field", "pt")
      props.setProperty("hoodie.table.keygenerator.class",
        "org.apache.hudi.keygen.SimpleKeyGenerator")
      val out = java.nio.file.Files.newOutputStream(
        root.resolve(".hoodie/hoodie.properties"))
      try props.store(out, "graft fixture")
      finally out.close()
      root.toString
    }

  private[graft] def stageHudiTimeline(dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md
      val staged = java.nio.file.Paths.get("/tmp/graft-stream", key, "hooditl")
      java.nio.file.Files.createDirectories(staged)
      (0 until 10).foreach { t =>
        val instant = 20240100 + t
        if (t != 8) {
          val stats = (0 until 2).map { k =>
            val id = (2 * t + k) % 12
            s"""{"fileId":"f-$id","path":"pt=${t % 2}/f-${id}_$instant.parquet","fileSizeInBytes":${2000 + 61 * t + k}}"""
          }.mkString(",")
          java.nio.file.Files.write(staged.resolve(s"$instant.commit"),
            s"""{"partitionToWriteStats":{"pt=${t % 2}":[$stats]}}"""
              .getBytes("UTF-8"))
        } else {
          val writes = Seq(9000, 9001).zipWithIndex.map { case (sz, i) =>
            s"""{"fileId":"f-10${i}","path":"pt=0/f-10${i}_$instant.parquet","fileSizeInBytes":$sz}"""
          }.mkString(",")
          java.nio.file.Files.write(staged.resolve(s"$instant.replacecommit"),
            s"""{"partitionToWriteStats":{"pt=0":[$writes]},"partitionToReplaceFileIds":{"pt=0":["f-0","f-1"]}}"""
              .getBytes("UTF-8"))
        }
      }
      staged.toString
    }

  /** Move-a-part-file single parquet write shared by the lakehouse
    * table stagings: the fixtures need FILES at protocol-mandated
    * names, Spark writes directories — write coalesced to a scratch
    * dir, move the one part file into place, drop the scratch.
    */
  private def stageSingleParquet(
      df: DataFrame, dest: java.nio.file.Path): Unit = {
    val tmp = dest.getParent.resolve(s"_build_${dest.getFileName}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"stageSingleParquet: no parquet part in $tmp"))
    java.nio.file.Files.move(part, dest,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(tmp.toFile)
  }

  /** Stage a REAL two-commit Hudi COPY_ON_WRITE table from orders:
    * commit c1 writes four base files (file groups f-0..f-3 keyed by
    * o_orderkey % 4; partitions pt=0 for groups 0-1, pt=1 for 2-3);
    * commit c2 REWRITES file group f-1's slice — the COW upsert
    * shape: the whole group re-written with o_totalprice + 1.5 — so
    * the snapshot must read f-1's c2 file and the other groups' c1
    * files.  Base files carry the meta columns the real writer
    * materializes (_hoodie_record_key, _hoodie_partition_path).
    * Pure o_orderkey arithmetic → closed-form DuckDB oracle.
    */
  private[graft] def stageHudiCowTable(s: SparkSession, dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = s"/tmp/graft-hudicow-stage-$md"
      val fp = stageFingerprint(s, dir, Seq("orders"), "hudicow-v2")
      if (!stageUpToDate(out, fp)) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(out))
        val root = java.nio.file.Paths.get(out)
        java.nio.file.Files.createDirectories(root.resolve(".hoodie"))
        val props = new java.util.Properties()
        props.setProperty("hoodie.table.name", "graft_orders_cow")
        props.setProperty("hoodie.table.type", "COPY_ON_WRITE")
        props.setProperty("hoodie.table.version", "6")
        props.setProperty("hoodie.datasource.write.partitionpath.field", "pt")
        val os = java.nio.file.Files.newOutputStream(
          root.resolve(".hoodie/hoodie.properties"))
        try props.store(os, "graft fixture") finally os.close()
        val c1 = "20240101000000"
        val c2 = "20240102000000"
        val orders = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderpriority"))
        def withMeta(df: DataFrame, pt: Int, ct: String): DataFrame = df
          .withColumn("_hoodie_commit_time", lit(ct))
          .withColumn("_hoodie_record_key", col("o_orderkey").cast("string"))
          .withColumn("_hoodie_partition_path", lit(s"pt=$pt"))
          .select(col("_hoodie_commit_time"), col("_hoodie_record_key"),
            col("_hoodie_partition_path"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
        val slices = (0 until 4).map { g =>
          val pt = if (g < 2) 0 else 1
          val rel = s"pt=$pt/f-${g}_$c1.parquet"
          val dest = root.resolve(rel)
          java.nio.file.Files.createDirectories(dest.getParent)
          stageSingleParquet(
            withMeta(orders.filter(col("o_orderkey") % 4 === g), pt, c1),
            dest)
          (s"pt=$pt", s"f-$g", rel, java.nio.file.Files.size(dest))
        }
        // the c2 COW rewrite updates EVERY group-1 row, so every row
        // of the new slice carries commit time c2 (unchanged rows in
        // a real partial upsert would retain their original time)
        val rel2 = s"pt=0/f-1_$c2.parquet"
        val dest2 = root.resolve(rel2)
        stageSingleParquet(
          withMeta(orders.filter(col("o_orderkey") % 4 === 1)
            .withColumn("o_totalprice", col("o_totalprice") + 1.5), 0, c2),
          dest2)
        def ws(fid: String, rel: String, sz: Long) =
          s"""{"fileId":"$fid","path":"$rel","fileSizeInBytes":$sz}"""
        val byPt = slices.groupBy(_._1).toSeq.sortBy(_._1).map {
          case (pt, xs) =>
            s""""$pt":[${xs.map(x => ws(x._2, x._3, x._4)).mkString(",")}]"""
        }.mkString(",")
        java.nio.file.Files.write(root.resolve(s".hoodie/$c1.commit"),
          s"""{"partitionToWriteStats":{$byPt}}""".getBytes("UTF-8"))
        java.nio.file.Files.write(root.resolve(s".hoodie/$c2.commit"),
          s"""{"partitionToWriteStats":{"pt=0":[${
            ws("f-1", rel2, java.nio.file.Files.size(dest2))}]}}"""
            .getBytes("UTF-8"))
        writeStageMarker(out, fp)
      }
      out
    }

  // ---- shared HoodieLogFormat byte writers (independent from-layout
  // writer: big-endian sizes, ordinal header maps, sized avro-binary
  // records — the reader decodes a foreign artifact, not its own
  // serializer's output) ----
  private def havZz(v: Long): Array[Byte] = {
    var u = (v << 1) ^ (v >> 63)
    val bb = Array.newBuilder[Byte]
    var done = false
    while (!done) {
      val x = (u & 0x7f).toInt
      u = u >>> 7
      bb += (if (u != 0) x | 0x80 else x).toByte
      done = u == 0
    }
    bb.result()
  }
  private def havStr(x: String): Array[Byte] = {
    val by = x.getBytes("UTF-8"); havZz(by.length.toLong) ++ by
  }
  private def havDbl(d: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(d)
    Array.tabulate(8)(i => ((bits >>> (8 * i)) & 0xff).toByte)
  }
  private def hbe32(v: Int): Array[Byte] = Array(
    (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def hbe64(v: Long): Array[Byte] =
    hbe32((v >>> 32).toInt) ++ hbe32(v.toInt)
  private def havroContent(recs: Seq[Array[Byte]]): Array[Byte] =
    hbe32(3) ++ hbe32(recs.length) ++
      recs.flatMap(r => hbe32(r.length) ++ r)
  private def hlogBlock(typeOrd: Int, headers: Seq[(Int, String)],
      content: Array[Byte]): Array[Byte] = {
    val hdrB = hbe32(headers.length) ++ headers.flatMap { case (o, v) =>
      val vb = v.getBytes("UTF-8")
      hbe32(o) ++ hbe32(vb.length) ++ vb
    }
    val body = hbe32(1) ++ hbe32(typeOrd) ++ hdrB ++
      hbe64(content.length.toLong) ++ content ++ hbe32(0)
    val bsize = body.length + 8L
    "#HUDI#".getBytes("UTF-8") ++ hbe64(bsize) ++ body ++
      hbe64(14L + bsize)
  }
  private val HudiUpdSchema: String =
    """{"type":"record","name":"r","fields":[""" +
      """{"name":"_hoodie_record_key","type":"string"},""" +
      """{"name":"o_orderkey","type":"long"},""" +
      """{"name":"o_custkey","type":"long"},""" +
      """{"name":"o_totalprice","type":"double"},""" +
      """{"name":"o_orderpriority","type":"string"}]}"""
  private val HudiDelSchema: String =
    """{"type":"record","name":"d","fields":[""" +
      """{"name":"recordKey","type":"string"}]}"""

  /** The five-block MOR delta log shared by the slice and table
    * fixtures (every touched key is even, so the log applies to any
    * base holding the even keys): c2 AVRO_DATA_BLOCK doubling %12
    * keys' price, c3 DELETE_BLOCK dropping %20 keys, c4 POISON
    * update (+1000 on %8 keys — would corrupt the merge), c5
    * :command rollback fencing c4, c6 PARQUET_DATA_BLOCK tripling
    * %16 keys' price.  %60 keys pin update-then-delete ordering, the
    * c4/c5 pair pins rollback fencing, %48 keys pin parquet-over-avro
    * instant ordering, and %80 keys pin delete-then-upsert
    * RESURRECTION across wire formats.
    */
  private def hudiMorLogBytes(orders: DataFrame): Array[Byte] = {
    val c2 = "20240102000000"
    val c3 = "20240103000000"
    val c4 = "20240104000000"
    val c5 = "20240105000000"
    val updRecs = orders.filter(col("o_orderkey") % 12 === 0)
      .orderBy("o_orderkey").collect().map { r =>
        val k = r.getLong(0)
        havStr(k.toString) ++ havZz(k) ++ havZz(r.getLong(1)) ++
          havDbl(r.getDouble(2) * 2) ++ havStr(r.getString(3))
      }.toSeq
    val delRecs = orders.filter(col("o_orderkey") % 20 === 0)
      .orderBy("o_orderkey").collect()
      .map(r => havStr(r.getLong(0).toString)).toSeq
    val poisonRecs = orders.filter(col("o_orderkey") % 8 === 0)
      .orderBy("o_orderkey").collect().map { r =>
        val k = r.getLong(0)
        havStr(k.toString) ++ havZz(k) ++ havZz(r.getLong(1)) ++
          havDbl(r.getDouble(2) + 1000.0) ++ havStr(r.getString(3))
      }.toSeq
    // block 5: PARQUET_DATA_BLOCK at c6 — the modern wide-table wire
    // format; %16 keys' price tripled, overriding c2's %12 doubling on
    // %48 keys and RESURRECTING %80 keys past c3's delete (latest
    // action wins, across wire formats)
    val c6 = "20240106000000"
    val tmp = java.nio.file.Files.createTempDirectory("graft-hudi-pqblk")
    val pqFile = tmp.resolve("blk.parquet")
    stageSingleParquet(
      hudiMetaKeyed(orders.filter(col("o_orderkey") % 16 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 3)),
      pqFile)
    val pqBytes = java.nio.file.Files.readAllBytes(pqFile)
    java.nio.file.Files.delete(pqFile)
    java.nio.file.Files.delete(tmp)
    hlogBlock(3, Seq(0 -> c2, 2 -> HudiUpdSchema), havroContent(updRecs)) ++
      hlogBlock(1, Seq(0 -> c3, 2 -> HudiDelSchema), havroContent(delRecs)) ++
      hlogBlock(3, Seq(0 -> c4, 2 -> HudiUpdSchema),
        havroContent(poisonRecs)) ++
      hlogBlock(0, Seq(0 -> c5, 1 -> c4, 3 -> "0"), Array.emptyByteArray) ++
      hlogBlock(5, Seq(0 -> c6), pqBytes)
  }

  private def hudiMetaKeyed(df: DataFrame): DataFrame = df
    .withColumn("_hoodie_record_key", col("o_orderkey").cast("string"))
    .select(col("_hoodie_record_key"), col("o_orderkey"),
      col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))

  /** Stage a single Hudi MOR file slice: base file f-0 (o_orderkey %
    * 4 == 0 rows, instant c1) plus its dot-prefixed five-block delta
    * log ([[hudiMorLogBytes]]).
    */
  private[graft] def stageHudiMorSlice(s: SparkSession, dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = s"/tmp/graft-hudimor-stage-$md"
      val fp = stageFingerprint(s, dir, Seq("orders"), "hudimor-v4")
      if (!stageUpToDate(out, fp)) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(out))
        val root = java.nio.file.Paths.get(out)
        java.nio.file.Files.createDirectories(root.resolve("base"))
        java.nio.file.Files.createDirectories(root.resolve("logs"))
        val c1 = "20240101000000"
        val orders = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderpriority"))
        stageSingleParquet(
          hudiMetaKeyed(orders.filter(col("o_orderkey") % 4 === 0)),
          root.resolve(s"base/f-0_$c1.parquet"))
        java.nio.file.Files.write(root.resolve(s"logs/.f-0_$c1.log.1"),
          hudiMorLogBytes(orders))
        writeStageMarker(out, fp)
      }
      out
    }

  /** Stage an archived-timeline dir: three HoodieLogFormat segments
    * (`commits_.archive.N`), each an AVRO_DATA_BLOCK of ten archived
    * instants — commitTime 20231201000000+t, actionType cycling
    * commit/deltacommit/clean — written by the shared independent
    * log writer.  Corpus-independent: the oracle is closed-form
    * generate_series arithmetic.
    */
  private[graft] def stageHudiArchive(dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = java.nio.file.Paths.get(s"/tmp/graft-hudiarch-stage-$md")
      java.nio.file.Files.createDirectories(out)
      val schema =
        """{"type":"record","name":"a","fields":[""" +
          """{"name":"commitTime","type":"string"},""" +
          """{"name":"actionType","type":"string"}]}"""
      val actions = Vector("commit", "deltacommit", "clean")
      (0 until 3).foreach { seg =>
        val recs = (0 until 10).map { k =>
          val t = seg * 10 + k
          havStr((20231201000000L + t).toString) ++ havStr(actions(t % 3))
        }
        java.nio.file.Files.write(
          out.resolve(s"commits_.archive.${seg + 1}"),
          hlogBlock(3, Seq(0 -> s"arch$seg", 2 -> schema),
            havroContent(recs)))
      }
      out.toString
    }

  /** Stage a FULL Hudi MERGE_ON_READ table root: hoodie.properties
    * (MERGE_ON_READ), c1.deltacommit writing two base files (f-0 =
    * even keys, f-1 = odd keys, one partition), c2.deltacommit
    * writing f-0's delta log ([[hudiMorLogBytes]] — every touched
    * key is even, so f-1 reads base-only).  The snapshot must merge
    * f-0 with its log and pass f-1 through untouched.
    */
  private[graft] def stageHudiMorTable(s: SparkSession, dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = s"/tmp/graft-hudimortbl-stage-$md"
      val fp = stageFingerprint(s, dir, Seq("orders"), "hudimortbl-v2")
      if (!stageUpToDate(out, fp)) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(out))
        val root = java.nio.file.Paths.get(out)
        java.nio.file.Files.createDirectories(root.resolve(".hoodie"))
        java.nio.file.Files.createDirectories(root.resolve("pt=0"))
        val props = new java.util.Properties()
        props.setProperty("hoodie.table.name", "graft_orders_mor")
        props.setProperty("hoodie.table.type", "MERGE_ON_READ")
        props.setProperty("hoodie.table.version", "6")
        props.setProperty("hoodie.datasource.write.partitionpath.field", "pt")
        val os = java.nio.file.Files.newOutputStream(
          root.resolve(".hoodie/hoodie.properties"))
        try props.store(os, "graft fixture") finally os.close()
        val c1 = "20240101000000"
        val c2 = "20240102000000"
        val orders = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderpriority"))
        val rels = (0 until 2).map { g =>
          val rel = s"pt=0/f-${g}_$c1.parquet"
          val dest = root.resolve(rel)
          stageSingleParquet(
            hudiMetaKeyed(orders.filter(col("o_orderkey") % 2 === g)), dest)
          (s"f-$g", rel, java.nio.file.Files.size(dest))
        }
        val logRel = s"pt=0/.f-0_$c1.log.1"
        java.nio.file.Files.write(root.resolve(logRel),
          hudiMorLogBytes(orders))
        def ws(fid: String, rel: String, sz: Long) =
          s"""{"fileId":"$fid","path":"$rel","fileSizeInBytes":$sz}"""
        java.nio.file.Files.write(root.resolve(s".hoodie/$c1.deltacommit"),
          s"""{"partitionToWriteStats":{"pt=0":[${
            rels.map(x => ws(x._1, x._2, x._3)).mkString(",")}]}}"""
            .getBytes("UTF-8"))
        java.nio.file.Files.write(root.resolve(s".hoodie/$c2.deltacommit"),
          s"""{"partitionToWriteStats":{"pt=0":[${
            ws("f-0", logRel,
              java.nio.file.Files.size(root.resolve(logRel)))}]}}"""
            .getBytes("UTF-8"))
        writeStageMarker(out, fp)
      }
      out
    }

  /** Stage three flat tables as zlib-coded ORC for the footer census
    * (always rewritten — the tables are tiny at every test SF, and a
    * fresh write is cheaper than a staleness bug).  Returns the
    * staging root; each table lands under its own subdirectory.
    */
  /** Stage a parquet-mr re-write of three tables: parquet-mr writes
    * ColumnIndex/OffsetIndex structures by default (the testdata
    * corpus, written by another engine, carries none), so the
    * page-zone-map census needs its own staged files — which DuckDB
    * then reads independently for the oracle.
    */
  /** Idempotence gate for the re-encode stagings (the stageShardFiles
    * discipline): the staged tree is a pure function of (source
    * tables, recipe), so if the CONTENT fingerprint + recipe tag
    * already match the marker, skip the rewrite — bench passes then
    * time the CENSUS, not the staging.  Content-sensitive (decimal
    * sum of per-row xxhash64 over all columns), never count-only; the
    * recipe tag busts the cache when the staging code changes.
    */
  private def stageFingerprint(
      s: SparkSession, dir: String, tables: Seq[String],
      recipe: String): String =
    tables.map { t =>
      val df = s.read.parquet(s"$dir/$t.parquet")
      val row = df.agg(
        count(lit(1)),
        sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()
      val v = (0 until 2).map(i =>
        if (row.isNullAt(i)) "null" else row.get(i).toString).mkString(":")
      s"$t=$v"
    }.mkString(";") + "|" + recipe

  private def stageUpToDate(out: String, fingerprint: String): Boolean = {
    val marker = java.nio.file.Paths.get(out, "_FINGERPRINT")
    java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker),
        "UTF-8") == fingerprint
  }

  private def writeStageMarker(out: String, fingerprint: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "_FINGERPRINT"),
      fingerprint.getBytes("UTF-8"))
    ()
  }

  private[graft] def stageParquetIdxFiles(s: SparkSession, dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = s"/tmp/graft-pqidx-stage-$md"
      val tables = Seq("documents", "lineitem", "orders")
      val fp = stageFingerprint(s, dir, tables, "pqidx-v1")
      if (!stageUpToDate(out, fp)) {
        tables.foreach { t =>
          s.read.parquet(s"$dir/$t.parquet").coalesce(1)
            .write.mode("overwrite").parquet(s"$out/$t")
        }
        writeStageMarker(out, fp)
      }
      out
    }

  /** Stage the orders table with a BLOOM FILTER on o_custkey (the
    * bloom-probe census fixture; blooms are opt-in per column in
    * parquet-mr).
    */
  private[graft] def stageParquetBloomFiles(s: SparkSession, dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = s"/tmp/graft-pqbloom-stage-$md"
      val fp = stageFingerprint(s, dir, Seq("orders"), "pqbloom-v1")
      if (!stageUpToDate(out, fp)) {
        // dictionary must be OFF for the column to actually get a
        // bloom: parquet-mr skips blooms on fully-dictionary-encoded
        // chunks (the dictionary is already an exact membership filter)
        s.read.parquet(s"$dir/orders.parquet").coalesce(1)
          .write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#o_custkey", "true")
          .option("parquet.enable.dictionary", "false")
          .parquet(s"$out/orders")
        writeStageMarker(out, fp)
      }
      out
    }

  private[graft] def stageOrcFiles(s: SparkSession, dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = s"/tmp/graft-orc-stage-$md"
      val tables = Seq("region", "nation", "supplier")
      val fp = stageFingerprint(s, dir, tables, "orc-v1")
      if (!stageUpToDate(out, fp)) {
        tables.foreach { t =>
          s.read.parquet(s"$dir/$t.parquet").coalesce(1)
            .write.mode("overwrite").option("compression", "zlib")
            .orc(s"$out/$t")
        }
        writeStageMarker(out, fp)
      }
      out
    }

  /** Stage the documents table as a landing zone of `shard-<id>.tar`
    * files for the streaming census (overwritten per call — the
    * landing zone must reflect the CURRENT corpus, and at sf0.01 the
    * write is 500 small files).
    */
  private[graft] def stageShardFiles(s: SparkSession, dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md
      val staged = java.nio.file.Paths.get("/tmp/graft-stream", key, "tarshards")
      java.nio.file.Files.createDirectories(staged)
      // idempotent: the landing zone is a pure function of the (static)
      // documents table, so if the CONTENT fingerprint already matches,
      // skip the rewrite — bench passes then time the STREAM, not the
      // stage.  The fingerprint is a cheap aggregate over doc_id and
      // byte length, not just the cardinality: a same-count corpus with
      // different content at the same dir must NOT reuse stale shards
      // (the gate would then census the wrong corpus).
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // decimal(38,0) sum of per-row xxhash64(doc_id, text): content-
      // sensitive, order-free, and overflow-proof under ANSI (a plain
      // long sum of products overflowed at the sf10 wave's 1e12 ids)
      val fpRow = docs.agg(
        count(lit(1)),
        sum(xxhash64(col("doc_id"), col("text")).cast("decimal(38,0)"))).head()
      val fingerprint = (0 until 2).map(i =>
        if (fpRow.isNullAt(i)) "null" else fpRow.get(i).toString).mkString(":")
      val nDocs = fpRow.getLong(0)
      val marker = staged.resolve("_FINGERPRINT")
      val prior =
        if (java.nio.file.Files.exists(marker))
          new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
        else ""
      val existing = staged.toFile.list((_, n) => n.endsWith(".tar")).length
      if (existing != nDocs || prior != fingerprint) {
        // stale shards from a different same-count corpus must go
        staged.toFile.list((_, n) => n.endsWith(".tar")).foreach { n =>
          java.nio.file.Files.deleteIfExists(staged.resolve(n)); ()
        }
        // collect() is the STAGING step, not the operator: it writes
        // the oracle-gate's landing zone (bounded by the documents
        // table). A production landing zone is written by the upstream
        // system; the streamed census itself never collects.
        MultimodalOps.synthesizeTarShard(docs, "doc_id", "text")
          .collect()
          .foreach { r =>
            java.nio.file.Files.write(
              staged.resolve(s"shard-${r.id}.tar"), r.content)
          }
        // marker LAST: a crash mid-write leaves no fingerprint, so the
        // next run rewrites instead of trusting a partial landing zone
        java.nio.file.Files.write(marker, fingerprint.getBytes("UTF-8"))
      }
      staged.toString
    }

  /** Stage the documents table as a crawl landing zone of
    * `shard-<id>.warc.gz` segments — [[stageShardFiles]]' discipline
    * verbatim: content-fingerprint idempotence, marker written LAST,
    * the collect() is the oracle-gate's STAGING step (bounded by the
    * documents table), never the operator.
    */
  private[graft] def stageWarcGzFiles(s: SparkSession, dir: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md
      val staged = java.nio.file.Paths.get("/tmp/graft-stream", key, "warcshards")
      java.nio.file.Files.createDirectories(staged)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val fpRow = docs.agg(
        count(lit(1)),
        sum(xxhash64(col("doc_id"), col("text")).cast("decimal(38,0)"))).head()
      val fingerprint = (0 until 2).map(i =>
        if (fpRow.isNullAt(i)) "null" else fpRow.get(i).toString).mkString(":")
      val nDocs = fpRow.getLong(0)
      val marker = staged.resolve("_FINGERPRINT")
      val prior =
        if (java.nio.file.Files.exists(marker))
          new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
        else ""
      val existing = staged.toFile.list((_, n) => n.endsWith(".warc.gz")).length
      if (existing != nDocs || prior != fingerprint) {
        staged.toFile.list((_, n) => n.endsWith(".warc.gz")).foreach { n =>
          java.nio.file.Files.deleteIfExists(staged.resolve(n)); ()
        }
        MultimodalOps.synthesizeWarcGz(docs, "doc_id", "text")
          .collect()
          .foreach { r =>
            java.nio.file.Files.write(
              staged.resolve(s"shard-${r.id}.warc.gz"), r.content)
          }
        java.nio.file.Files.write(marker, fingerprint.getBytes("UTF-8"))
      }
      staged.toString
    }

  private[graft] def stageAsDir(dir: String, table: String): String =
    stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md
      val staged = java.nio.file.Paths.get("/tmp/graft-stream", key, table)
      java.nio.file.Files.createDirectories(staged)
      val link = staged.resolve(s"$table.parquet")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(dir, s"$table.parquet"))
      staged.toString
    }

  /** k-core oracle: the peel fixpoint unrolled as 8 materialized
    * rounds (measured fixpoint is 4, so rounds 5-8 are stable).
    * Shared by q_kcore (adaptive broadcast path) and q_kcore_shuffle
    * (forced above-the-gate shuffle path) — identical results by the
    * GraphSpec bit-parity pin.
    */
  private lazy val kcoreOracleSql: String = {
    val base =
      """WITH t AS (SELECT list_filter(string_split_regex(text, '\s+'),
        |             x -> x <> '') AS toks FROM documents),
        |g AS (SELECT unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
        |        i -> {'x': toks[i], 'y': toks[i + 1]})) AS p FROM t),
        |c AS (SELECT least(p.x, p.y) AS a, greatest(p.x, p.y) AS b,
        |        count(*) AS n
        |      FROM g WHERE p.x IS NOT NULL AND p.y IS NOT NULL AND p.x <> p.y
        |      GROUP BY 1, 2),
        |ue AS (SELECT a, b FROM c WHERE n >= 66),
        |de AS (SELECT a AS u, b AS v FROM ue
        |       UNION ALL SELECT b, a FROM ue),
        |n0 AS (SELECT DISTINCT u AS n FROM de)""".stripMargin
    val rounds = (1 to 8).map { i =>
      s"""n$i AS (SELECT de.u AS n FROM de
         |  JOIN n${i - 1} x ON de.u = x.n JOIN n${i - 1} y ON de.v = y.n
         |  GROUP BY 1 HAVING count(*) >= 6)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT z.n AS node, CAST(count(*) AS BIGINT) AS deg
       |FROM de JOIN n8 z ON de.u = z.n JOIN n8 w ON de.v = w.n
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables (fit queries: reference-captured literal
    * tables). Omitted for the hash-signature queries → driver records
    * a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    sqlQueries ++ sharedDocSql ++ duckdbOnlySql ++ fitOracleSqls ++
      Map("q_parquet_footer" -> parquetFooterOracleSql,
        // the distributed-listing flavor must agree with the SAME
        // independent reader — two physical paths, one oracle
        "q_parquet_footer_dist" -> parquetFooterOracleSql,
        "q_orc_footer" -> orcFooterOracleSql,
        "q_orc_footer_dist" -> orcFooterOracleSql,
        "q_orc_stats" -> orcStatsOracleSql,
        "q_orc_stats_typed" -> orcStatsTypedOracleSql,
        "q_orc_row_index" -> orcRowIndexOracleSql,
        "q_orc_bloom" ->
          s"""WITH r AS (
             |  SELECT o_orderpriority,
             |         CAST((row_number() OVER (ORDER BY o_orderkey) - 1)
             |              // $OrcStageStripeRows AS BIGINT) AS sid,
             |         CAST(((row_number() OVER (ORDER BY o_orderkey) - 1)
             |              % $OrcStageStripeRows) // $OrcStageRowGroupRows
             |              AS BIGINT) AS rg
             |  FROM read_parquet('$oracleDir/orders.parquet'))
             |SELECT sid AS stripe_id,
             |       CAST(6 AS BIGINT) AS column_id,
             |       rg AS row_group_id,
             |       count(DISTINCT o_orderpriority) AS n_hits
             |FROM r GROUP BY sid, rg
             |ORDER BY stripe_id, row_group_id""".stripMargin,
        "q_parquet_stats" -> parquetStatsOracleSql,
        // page-index rows aggregated to chunks replay DuckDB's chunk
        // statistics of the SAME staged files — two readers, two
        // metadata structures, one answer
        "q_parquet_page_stats" -> parquetPageStatsOracleSql,
        "q_parquet_encodings" -> parquetEncodingsOracleSql,
        "q_parquet_bloom" -> parquetBloomOracleSql,
        "q_parquet_dict_probe" -> parquetDictOracleSql,
        "q_orc_dict_probe" -> orcDictOracleSql,
        "q_orc_encodings" -> orcEncodingsOracleSql)

  /** Corpus dir the oracle SQL is generated against.  Verify sets this
    * to its `sfDir` argument before dumping oracle_sql.json, so the
    * parquet-footer oracle reads the SAME files the Spark side read —
    * a pinned literal here would silently compare a different corpus
    * whenever the gate runs against any dir but the default.
    */
  @volatile private[graft] var oracleDir: String = "/root/testdata/sf0.01"

  /** parquet-footer oracle: DuckDB's own parquet_metadata() over the
    * same files — an independent second reader of the same footers.
    * A def (not a val entry in [[sharedDocSql]]) so it interpolates
    * [[oracleDir]] at dump time, after Verify has set it.
    */
  private def parquetFooterOracleSql: String =
    Seq("documents", "lineitem", "orders").map { t =>
      s"""SELECT regexp_extract(file_name, '[^/]+$$') AS file_name,
         |       CAST(row_group_id AS BIGINT) AS row_group_id,
         |       CAST(row_group_num_rows AS BIGINT) AS row_group_num_rows,
         |       path_in_schema,
         |       CAST(num_values AS BIGINT) AS num_values,
         |       CAST(total_compressed_size AS BIGINT) AS total_compressed_size,
         |       CAST(total_uncompressed_size AS BIGINT) AS total_uncompressed_size,
         |       compression
         |FROM parquet_metadata('$oracleDir/$t.parquet')""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY file_name, row_group_id, path_in_schema")

  /** Zone-map oracle: DuckDB's parquet_metadata() stats columns over
    * the same files and the same explicit integer-column list — two
    * independent readers of the exact pruning bounds.
    */
  private def parquetStatsOracleSql: String = {
    val cols = Seq("doc_id", "l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "o_orderkey", "o_custkey")
      .map(c => s"'$c'").mkString(", ")
    Seq("documents", "lineitem", "orders").map { t =>
      s"""SELECT regexp_extract(file_name, '[^/]+$$') AS file_name,
         |       CAST(row_group_id AS BIGINT) AS row_group_id,
         |       path_in_schema,
         |       CAST(stats_null_count AS BIGINT) AS null_count,
         |       CAST(stats_min_value AS BIGINT) AS min_v,
         |       CAST(stats_max_value AS BIGINT) AS max_v
         |FROM parquet_metadata('$oracleDir/$t.parquet')
         |WHERE path_in_schema IN ($cols)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY file_name, row_group_id, path_in_schema")
  }

  /** Bloom oracle: the staged write is ONE coalesced file (one row
    * group at these sizes); probing the chunk's own distinct keys
    * must hit every one — the no-false-negative contract in closed
    * form.
    */
  private def parquetBloomOracleSql: String =
    s"""SELECT CAST(0 AS BIGINT) AS row_group_id,
       |       'o_custkey' AS path_in_schema,
       |       CAST(1 AS BIGINT) AS has_bloom,
       |       (SELECT least(count(DISTINCT o_custkey), 50000)
       |        FROM read_parquet('$oracleDir/orders.parquet')) AS n_probed,
       |       (SELECT least(count(DISTINCT o_custkey), 50000)
       |        FROM read_parquet('$oracleDir/orders.parquet')) AS n_hits""".stripMargin

  /** ORC encodings oracle: the staged single-stripe roster in closed
    * form — struct/double DIRECT (0), longs/timestamp DIRECT_V2 (2),
    * the two low-cardinality strings DICTIONARY_V2 (3) with
    * dictionary sizes equal to their DuckDB distinct counts (the
    * writer's 0.8-ratio rule is deterministic at every test SF).
    */
  private def orcEncodingsOracleSql: String =
    s"""WITH r AS (
       |  SELECT o_orderstatus, o_orderpriority,
       |         CAST((row_number() OVER (ORDER BY o_orderkey) - 1)
       |              // $OrcStageStripeRows AS BIGINT) AS sid
       |  FROM read_parquet('$oracleDir/orders.parquet')),
       |d AS (
       |  SELECT sid, count(DISTINCT o_orderstatus) AS d3,
       |         count(DISTINCT o_orderpriority) AS d6
       |  FROM r GROUP BY sid)
       |SELECT sid AS stripe_id,
       |       CAST(c AS BIGINT) AS column_id,
       |       CAST(k AS BIGINT) AS encoding_kind,
       |       CAST(CASE c WHEN 3 THEN d3 WHEN 6 THEN d6
       |         ELSE 0 END AS BIGINT) AS dictionary_size
       |FROM d, (VALUES (0, 0), (1, 2), (2, 2), (3, 3), (4, 0), (5, 2),
       |      (6, 3)) t(c, k)
       |ORDER BY stripe_id, column_id""".stripMargin

  /** ORC dictionary-probe oracle: each stripe's DICTIONARY_V2
    * dictionary is THAT STRIPE's exact distinct set — so the probes
    * (global distinct + 2 planted absents) hit exactly the stripe's
    * own distinct count, replayed per stripe from the deterministic
    * roll arithmetic.  Same exactness contract as the parquet flavor,
    * third format path onto the same DuckDB aggregate.
    */
  private def orcDictOracleSql: String =
    s"""WITH r AS (
       |  SELECT o_orderpriority,
       |         CAST((row_number() OVER (ORDER BY o_orderkey) - 1)
       |              // $OrcStageStripeRows AS BIGINT) AS sid
       |  FROM read_parquet('$oracleDir/orders.parquet'))
       |SELECT sid AS stripe_id,
       |       CAST(6 AS BIGINT) AS column_id,
       |       CAST(1 AS BIGINT) AS has_dict,
       |       count(DISTINCT o_orderpriority) AS dict_size,
       |       (SELECT count(DISTINCT o_orderpriority) + 2
       |        FROM read_parquet('$oracleDir/orders.parquet')) AS n_probed,
       |       count(DISTINCT o_orderpriority) AS n_hits
       |FROM r GROUP BY sid ORDER BY stripe_id""".stripMargin

  /** Dictionary-probe oracle: the staged single-row-group write's
    * dictionary IS the column's exact distinct set, so present
    * probes all hit, the two planted absent probes all miss, and
    * dict_size == count(DISTINCT) — exactness in closed form (the
    * property blooms can't give).
    */
  private def parquetDictOracleSql: String =
    s"""SELECT CAST(0 AS BIGINT) AS row_group_id,
       |       'o_orderpriority' AS path_in_schema,
       |       CAST(1 AS BIGINT) AS dict_encoded,
       |       (SELECT count(DISTINCT o_orderpriority)
       |        FROM read_parquet('$oracleDir/orders.parquet')) AS dict_size,
       |       (SELECT count(DISTINCT o_orderpriority) + 2
       |        FROM read_parquet('$oracleDir/orders.parquet')) AS n_probed,
       |       (SELECT count(DISTINCT o_orderpriority)
       |        FROM read_parquet('$oracleDir/orders.parquet')) AS n_hits""".stripMargin

  /** Page-stats oracle: DuckDB's parquet_metadata() chunk statistics
    * over the STAGED parquet-mr files (the ones actually carrying
    * page indexes) — the page-index rows aggregated to chunks must
    * reproduce them exactly.  The staged dir is a pure function of
    * [[oracleDir]], recomputed here at dump time.
    */
  /** Encoding-census oracle: DuckDB's parquet_metadata over the SAME
    * staged parquet-mr files — encodings split, sorted, and rejoined
    * so both readers agree regardless of thrift list order.
    */
  private def parquetEncodingsOracleSql: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(oracleDir.getBytes("UTF-8")).map("%02x".format(_))
      .mkString.take(8)
    val staged = s"/tmp/graft-pqidx-stage-$md"
    Seq("documents", "lineitem", "orders").map { t =>
      s"""SELECT regexp_extract(file_name, '[^/]+$$') AS file_name,
         |       CAST(row_group_id AS BIGINT) AS row_group_id,
         |       path_in_schema,
         |       compression AS codec,
         |       array_to_string(list_sort(string_split(encodings, ', ')), ',')
         |         AS encodings,
         |       CAST(num_values AS BIGINT) AS num_values,
         |       CAST(total_compressed_size AS BIGINT) AS total_compressed,
         |       CAST(total_uncompressed_size AS BIGINT) AS total_uncompressed
         |FROM parquet_metadata('$staged/$t/*.parquet')""".stripMargin
    }.mkString("", "\nUNION ALL\n",
      "\nORDER BY file_name, row_group_id, path_in_schema")
  }

  private def parquetPageStatsOracleSql: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(oracleDir.getBytes("UTF-8")).map("%02x".format(_))
      .mkString.take(8)
    val staged = s"/tmp/graft-pqidx-stage-$md"
    val cols = Seq("doc_id", "l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "o_orderkey", "o_custkey")
      .map(c => s"'$c'").mkString(", ")
    Seq("documents", "lineitem", "orders").map { t =>
      s"""SELECT regexp_extract(file_name, '[^/]+$$') AS file_name,
         |       CAST(row_group_id AS BIGINT) AS row_group_id,
         |       path_in_schema,
         |       CAST(stats_null_count AS BIGINT) AS null_count,
         |       CAST(stats_min_value AS BIGINT) AS min_v,
         |       CAST(stats_max_value AS BIGINT) AS max_v
         |FROM parquet_metadata('$staged/$t/*.parquet')
         |WHERE path_in_schema IN ($cols)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY file_name, row_group_id, path_in_schema")
  }

  /** ORC-footer oracle: the SOURCE parquet's row count and schema
    * width from DuckDB — the ORC census (a staged re-encode of the
    * same tables) must agree through a completely different storage
    * format.  ORC's type list is the struct root + one entry per
    * column, exactly `parquet_schema`'s entry count for flat tables.
    * Interpolates [[oracleDir]] at dump time like the parquet twin.
    */
  /** ORC stripe-stats oracle: the staged write is coalesce(1) and far
    * below the stripe-size threshold, so each table is ONE file with
    * ONE stripe — its stripe statistics equal whole-table aggregates,
    * which DuckDB computes over the SOURCE parquet.  ORC column ids
    * are the flat schema's 1-based field positions (0 = root struct);
    * only integer-typed columns carry IntegerStatistics.
    */
  /** Row-index oracle: the staged file is single-partition sorted by
    * o_orderkey, so the writer's every-10k-rows row groups replay as
    * row_number() arithmetic over the same sort; one branch per
    * surfaced column (int / double / string), typed NULLs for the
    * bounds a branch doesn't carry.
    */
  private def orcRowIndexOracleSql: String =
    s"""WITH r AS (
       |  SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderdate,
       |         CAST((row_number() OVER (ORDER BY o_orderkey) - 1)
       |              // $OrcStageStripeRows AS BIGINT) AS sid,
       |         CAST(((row_number() OVER (ORDER BY o_orderkey) - 1)
       |              % $OrcStageStripeRows) // $OrcStageRowGroupRows
       |              AS BIGINT) AS rg
       |  FROM read_parquet('$oracleDir/orders.parquet')),
       |g AS (
       |  SELECT sid, rg, count(*) AS n,
       |         min(o_orderkey) AS k_min, max(o_orderkey) AS k_max,
       |         min(o_totalprice) AS p_min, max(o_totalprice) AS p_max,
       |         min(o_orderpriority) AS s_min, max(o_orderpriority) AS s_max,
       |         epoch_ms(min(o_orderdate)) AS t_min,
       |         epoch_ms(max(o_orderdate)) AS t_max
       |  FROM r GROUP BY sid, rg)
       |SELECT * FROM (
       |  SELECT sid AS stripe_id,
       |         CAST(1 AS BIGINT) AS column_id,
       |         rg AS row_group_id, 'int' AS kind,
       |         CAST(n AS BIGINT) AS n_values,
       |         CAST(0 AS BIGINT) AS has_null,
       |         CAST(k_min AS BIGINT) AS int_min,
       |         CAST(k_max AS BIGINT) AS int_max,
       |         CAST(NULL AS DOUBLE) AS dbl_min,
       |         CAST(NULL AS DOUBLE) AS dbl_max,
       |         CAST(NULL AS VARCHAR) AS str_min,
       |         CAST(NULL AS VARCHAR) AS str_max
       |  FROM g
       |  UNION ALL
       |  SELECT sid, CAST(4 AS BIGINT), rg, 'double',
       |         CAST(n AS BIGINT), CAST(0 AS BIGINT),
       |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       |         p_min, p_max,
       |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
       |  FROM g
       |  UNION ALL
       |  SELECT sid, CAST(5 AS BIGINT), rg, 'timestamp',
       |         CAST(n AS BIGINT), CAST(0 AS BIGINT),
       |         CAST(t_min AS BIGINT), CAST(t_max AS BIGINT),
       |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
       |  FROM g
       |  UNION ALL
       |  SELECT sid, CAST(6 AS BIGINT), rg, 'string',
       |         CAST(n AS BIGINT), CAST(0 AS BIGINT),
       |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       |         s_min, s_max
       |  FROM g)
       |ORDER BY stripe_id, column_id, row_group_id""".stripMargin

  private def orcStatsTypedOracleSql: String = {
    val cols = Seq(
      ("nation", "n_name", 2, "string"),
      ("region", "r_name", 2, "string"),
      ("supplier", "s_name", 2, "string"),
      ("supplier", "s_acctbal", 4, "double"))
    cols.map { case (t, c, cid, kind) =>
      val bounds =
        if (kind == "string")
          s"""min($c) AS str_min, max($c) AS str_max,
             |       CAST(NULL AS DOUBLE) AS dbl_min,
             |       CAST(NULL AS DOUBLE) AS dbl_max""".stripMargin
        else
          s"""CAST(NULL AS VARCHAR) AS str_min,
             |       CAST(NULL AS VARCHAR) AS str_max,
             |       min($c) AS dbl_min, max($c) AS dbl_max""".stripMargin
      s"""SELECT '$t' AS tbl,
         |       CAST(0 AS BIGINT) AS stripe_id,
         |       CAST($cid AS BIGINT) AS column_id,
         |       '$kind' AS kind,
         |       count($c) AS n_values,
         |       CAST(count(*) <> count($c) AS BIGINT) AS has_null,
         |       $bounds
         |FROM read_parquet('$oracleDir/$t.parquet')""".stripMargin
    }.mkString("", "\nUNION ALL\n",
      "\nORDER BY tbl, stripe_id, column_id")
  }

  private def orcStatsOracleSql: String = {
    val intCols = Seq(
      ("nation", Seq(("n_nationkey", 1), ("n_regionkey", 3))),
      ("region", Seq(("r_regionkey", 1))),
      ("supplier", Seq(("s_suppkey", 1), ("s_nationkey", 3))))
    intCols.flatMap { case (t, cols) =>
      cols.map { case (c, cid) =>
        s"""SELECT '$t' AS tbl,
           |       CAST(0 AS BIGINT) AS stripe_id,
           |       CAST($cid AS BIGINT) AS column_id,
           |       count($c) AS n_values,
           |       CAST(count(*) <> count($c) AS BIGINT) AS has_null,
           |       CAST(min($c) AS BIGINT) AS min_v,
           |       CAST(max($c) AS BIGINT) AS max_v
           |FROM read_parquet('$oracleDir/$t.parquet')""".stripMargin
      }
    }.mkString("", "\nUNION ALL\n",
      "\nORDER BY tbl, stripe_id, column_id")
  }

  private def orcFooterOracleSql: String =
    Seq("nation", "region", "supplier").map { t =>
      s"""SELECT '$t' AS tbl,
         |       CAST(1 AS BIGINT) AS n_files,
         |       'ZLIB' AS compression,
         |       (SELECT count(*) FROM parquet_schema('$oracleDir/$t.parquet')) AS n_types,
         |       (SELECT count(*) FROM read_parquet('$oracleDir/$t.parquet')) AS total_rows,
         |       (SELECT count(*) FROM read_parquet('$oracleDir/$t.parquet')) AS stripe_rows""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl")
}
