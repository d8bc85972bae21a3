package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.spark.{WoeBinning, WoeFitOptions}
import graft.ops.{ClusterOps, DedupOps, SelectionOps, TextOps}
import graft.board._

/** The query board — see SURVEY.md §7.
  *
  * The board is [[queries]]: one [[QuerySpec]] per query, joined from
  * the family files under `graft/board` (each holds its records next to
  * their oracle SQL and fixture stagers).  Every SQL-expressible stage
  * of the engine is exposed as a query whose oracle SQL is the SAME
  * text executed by Spark (over temp views) and by DuckDB — identical
  * expression trees keep float results hash-comparable.  The iterative
  * kernels (fit) compare against literal tables of reference-captured
  * outputs.  This object keeps the join and the helpers more than one
  * family shares.
  */
object SparkEntry {

  /** The board, in family order.  Building it does no I/O: runs and
    * oracles are closures, evaluated when a reader calls them.
    */
  lazy val queries: Seq[QuerySpec] = join(
    FitQueries.queries, TabularQueries.queries, TextQueries.queries,
    DedupQueries.queries, SimilarityQueries.queries, GraphQueries.queries,
    PipelineQueries.queries, CrawlQueries.queries, MultimodalQueries.queries,
    StorageQueries.queries, LakehouseQueries.queries, StreamingQueries.queries)

  /** The families concatenated; throws naming every name that occurs
    * more than once (a name-keyed reader would otherwise keep one of
    * them silently).
    */
  private[graft] def join(families: Seq[QuerySpec]*): Seq[QuerySpec] = {
    val all = families.flatten
    uniqueMap("query name")(all.map(q => q.name -> q): _*)
    all
  }

  /** `pairs` as a map; throws naming every key that occurs more than
    * once (a `Map` literal would keep the last one silently).  `what`
    * names the keys in the message.
    */
  private[graft] def uniqueMap[A](what: String)(pairs: (String, A)*): Map[String, A] = {
    val dups = pairs.groupBy(_._1).collect { case (k, ps) if ps.size > 1 => k }
    require(dups.isEmpty, s"duplicate $what(s): ${dups.toSeq.sorted.mkString(", ")}")
    pairs.toMap
  }

  private lazy val byName: Map[String, QuerySpec] =
    queries.map(q => q.name -> q).toMap

  /** The record named `name`; throws naming it when the board has none. */
  def query(name: String): QuerySpec =
    byName.getOrElse(name, throw new NoSuchElementException(s"no board query named $name"))

  /** Golden 12-bin model for extendedprice (sf0.001, n=300) as literal
    * edges/woes — used by the fixed-edge finalize/apply/range-join
    * oracle queries.  Values from src/test/resources/golden.
    */
  private[graft] val goldenEdges = Seq( // ascending interior edges
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
  private[graft] def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains('E') || s.contains('e')) s else s + "E0"
  }

  private[graft] def woeCase(valueExpr: String): String = {
    val whens = goldenEdges.zip(goldenWoes.dropRight(1))
      .map { case (e, w) => s"WHEN $valueExpr <= ${dlit(e)} THEN ${dlit(w)}" }
      .mkString(" ")
    s"CASE $whens ELSE ${dlit(goldenWoes.last)} END"
  }

  /** The golden WoE score as a Spark when-chain — the Column twin of
    * [[woeCase]], so the EvalOps queries grade exactly the score the
    * fixed-edge apply path emits.
    */
  private[graft] def goldenWoeCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    goldenEdges.zip(goldenWoes.dropRight(1)).foldRight(lit(goldenWoes.last)) {
      case ((e, w), rest) => when(c <= lit(e), lit(w)).otherwise(rest)
    }

  /** lcgFrame + the golden WoE score — the scored population every
    * EvalOps scorecard metric grades.
    */
  private[graft] def scoredFrame(s: SparkSession, dir: String): DataFrame =
    lcgFrame(s, dir).withColumn("score", goldenWoeCol(col("extendedprice")))

  /** The tar member-table oracle, shared by the raw, gzip and zstd
    * shards and the streaming census: compression layers and the
    * stream must all be invisible to the member table.
    */
  private[graft] val tarMembersOracleSql: String =
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
        |FROM o ORDER BY doc_id, member_idx""".stripMargin

  /** q_warc_cdx's oracle — shared verbatim by the streaming flavor
    * (q_warc_cdx_stream): the drained stream must equal the batch
    * census row-for-row, the two-physical-paths-one-oracle pattern.
    */
  private[graft] val warcCdxOracleSql: String =
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

  def abVariants: Map[String, AbVariant] = uniqueMap("comparison")(
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
    "selection_pipeline_approx_buckets" -> AbVariant(
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
      "pagerank(current)", (s, dir) => query("q_pagerank").run(s, dir),
      "pagerank(current)", (s, dir) => query("q_pagerank").run(s, dir)),
    "graph_triangles_smear" -> AbVariant(
      "triangles(current)", (s, dir) => query("q_triangles").run(s, dir),
      "triangles(current)", (s, dir) => query("q_triangles").run(s, dir)),
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

  /** Idempotence gate for the re-encode stagings (the stageShardFiles
    * discipline): the staged tree is a pure function of (source
    * tables, recipe), so if the CONTENT fingerprint + recipe tag
    * already match the marker, skip the rewrite — bench passes then
    * time the CENSUS, not the staging.  Content-sensitive (decimal
    * sum of per-row xxhash64 over all columns), never count-only; the
    * recipe tag busts the cache when the staging code changes.
    */
  private[graft] def stageFingerprint(
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

  private[graft] def stageUpToDate(out: String, fingerprint: String): Boolean = {
    val marker = java.nio.file.Paths.get(out, "_FINGERPRINT")
    java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker),
        "UTF-8") == fingerprint
  }

  private[graft] def writeStageMarker(out: String, fingerprint: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "_FINGERPRINT"),
      fingerprint.getBytes("UTF-8"))
    ()
  }
}
