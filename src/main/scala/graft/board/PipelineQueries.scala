package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{SampleOps, SelectionOps, TextOps}
import SparkEntry._

/** Data-selection and composed-pipeline rows: quality selection,
  * mixtures, sampling, packing and the two composed end-to-end chains.
  */
object PipelineQueries {

  /** q_epoch_shuffle parameters, single-sourced for the Spark query
    * and its oracle.
    */
  private val shuffleEpoch = 3
  private val shuffleShards = 8

  /** The PipelineDemo chain of q_pipeline_e2e (fixed 'demo' salts,
    * corpus = doc_id >= 20, benchmark = doc_id < 20): its run reads the
    * stage counts, its `stages` the wave seconds.
    */
  private def pipelineE2e(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Seq[(String, Long)], Seq[(String, Double)]) = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    PipelineDemo.run(s,
      docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20))
  }

  /** q_selection_e2e's arguments, applied to the plain selection
    * pipeline by its run and to the stage-timed one by its `stages`.
    */
  private def selectionE2e[T](s: SparkSession, dir: String)(
      pipeline: (DataFrame, String, String, String, String, Long,
        Map[String, Double], Long, Long, String, Boolean) => T): T =
    pipeline(s.read.parquet(s"$dir/documents.parquet"),
      "doc_id", "text", "lang", "source",
      4000L, // budgetPerLang
      Map("src0" -> 0.30, "src1" -> 0.25, "src2" -> 0.20,
        "src3" -> 0.15, "src4" -> 0.10),
      50000L, 256L, "sel7", // totalBudget, seqLen, salt
      false) // approxBuckets

  val queries: Seq[QuerySpec] = Seq(
    QuerySpec("q_dsir_weights", run = { (s, dir) =>
        SelectionOps.dsirWeights(
            s.read.parquet(s"$dir/documents.parquet"),
            "doc_id", "text", col("lang") === "en")
          .select(col("doc_id").cast("bigint").as("doc_id"),
            col("is_target"), col("n_grams"), col("sum_t"), col("sum_r"),
            col("w"))
          .orderBy("doc_id")
      },
      // DSIR replay: same md5-60bit bigram buckets, same integer mass
      // sums, the one float (the final ratio of exact integers) formed
      // identically — see SelectionOps.dsirWeights for why the paper's
      // float log-sum is replaced by the mass ratio
      oracle = _ =>
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
          |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin),
    QuerySpec("q_hash_split", run = { (s, dir) =>
        SampleOps.hashSplit(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "r3")
          .select(col("doc_id"), col("bucket"), col("split"))
          .orderBy("doc_id")
      },
      // deterministic split replay: same md5-60bit("id:salt") % 10000
      // bucket and the same cumulative thresholds (8000/9000)
      oracle = _ =>
        """WITH b AS (
          |  SELECT doc_id,
          |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':r3'), 1, 15)) AS BIGINT)
          |           % 10000 AS bucket
          |  FROM documents)
          |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
          |       CASE WHEN bucket < 8000 THEN 'train'
          |            WHEN bucket < 9000 THEN 'val'
          |            ELSE 'test' END AS split
          |FROM b ORDER BY doc_id""".stripMargin),
    QuerySpec("q_epoch_shuffle", run = { (s, dir) =>
        graft.ops.PackingOps.epochShuffle(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id",
            epoch = shuffleEpoch, nShards = shuffleShards)
          .orderBy("position")
      },
      // epoch-shuffle replay: the deterministic per-epoch permutation is
      // the rank of md5(id ":" epoch) — DuckDB ranks with one window,
      // Spark with the two-pass prefix scan (no global single-reducer)
      oracle = _ =>
        s"""WITH r AS (
           |  SELECT doc_id,
           |         CAST(row_number() OVER (
           |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':$shuffleEpoch'),
           |           doc_id) - 1 AS BIGINT) AS position
           |  FROM documents)
           |SELECT doc_id, position, position % $shuffleShards AS shard
           |FROM r ORDER BY position""".stripMargin),
    QuerySpec("q_doc_pack", run = { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            TextOps.bpeTokenEstimate(col("text")).as("tok"))
        graft.ops.PackingOps.packByTokenBudget(docs, "doc_id", "tok", 4096L)
          .orderBy("doc_id")
      },
      // shard-packing replay: the distributed two-pass prefix scan must
      // equal DuckDB's single global running sum exactly (all-integer)
      oracle = _ =>
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
          |FROM c ORDER BY doc_id""".stripMargin),
    QuerySpec("q_seq_pack", run = { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            TextOps.bpeTokenEstimate(col("text")).as("tok"))
        graft.ops.PackingOps.packSequences(docs, "doc_id", "tok", 512L)
          .orderBy("doc_id", "seq_id")
      },
      // sequence-packing replay (PackingOps.packSequences): same global
      // running sum, then each doc fans out to the training sequences
      // it intersects — all-integer boundary arithmetic
      oracle = _ =>
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
          |FROM s ORDER BY doc_id, seq_id""".stripMargin),
    QuerySpec("q_shard_manifest", run = { (s, dir) =>
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
      // sequence-manifest replay (PackingOps.shardManifest over
      // packSequences): per-sequence doc/token counts plus the md5 of
      // the ascending-id `id:start:len` triples — DuckDB's ordered
      // string_agg is the same canonicalization as Spark's
      // sort_array(collect_list(struct))
      oracle = _ =>
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
          |FROM r GROUP BY seq_id ORDER BY seq_id""".stripMargin),
    QuerySpec("q_stratified_sample", run = { (s, dir) =>
        SampleOps.stratifiedSample(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang",
            Map("en" -> 0.5, "zh" -> 0.25), "strat")
          .select(col("doc_id"), col("lang")).orderBy("doc_id")
      },
      // stratified rebalance replay: same md5 bucket, per-lang cutoffs
      // (en halved, zh quartered, everything else kept)
      oracle = _ =>
        """WITH b AS (
          |  SELECT doc_id, lang,
          |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 15)) AS BIGINT)
          |           % 10000 AS bucket
          |  FROM documents)
          |SELECT doc_id, lang FROM b
          |WHERE bucket < CASE WHEN lang = 'en' THEN 5000
          |                    WHEN lang = 'zh' THEN 2500
          |                    ELSE 10000 END
          |ORDER BY doc_id""".stripMargin),
    // learned quality filter (fasttext-shape): md5-bucketed token
    // hashing into a literal integer weight vector, integer score
    // fold, logistic only for reporting — score/keep bit-exact in
    // both engines
    QuerySpec("q_quality_classifier", run = { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        SelectionOps.linearQualityScore(docs, "doc_id", "text",
            SelectionOps.demoWeights(64), bias = 17L)
          .orderBy("doc_id")
      },
      // linear-classifier replay: same \s+ tokens, same md5-60-bit
      // bucket (the q_hash_split pattern), same literal weight vector
      // (demoWeights is the single source), integer fold + one logistic
      // of an exact integer
      oracle = _ => {
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
      }),
    QuerySpec("q_pipeline_e2e", run = { (s, dir) =>
        // the COMPOSED pipeline under the driver's hash gate: the full
        // PipelineDemo chain (fixed 'demo' salts, corpus = doc_id >=
        // 20, benchmark = doc_id < 20) reduced to its per-stage count
        // table — gating the glue (stage ordering, column plumbing)
        // that the per-stage oracles can't see
        val (out, seqPlan, stages, _) = pipelineE2e(s, dir)
        out.unpersist(); seqPlan.unpersist()
        import s.implicits._
        stages.zipWithIndex
          .map { case ((name, n), i) => (i.toLong, name, n) }
          .toDF("stage_ord", "stage", "n_docs")
          .orderBy("stage_ord")
      },
      // END-TO-END composed pipeline replay (PipelineDemo.run): every
      // stage formula is the SAME SQL its individually-green oracle uses
      // — quality gate + paragraph scrub → exact+jaccard dedup → CC
      // purge → window-dedup gate → bloom decontamination → temperature
      // rebalance (the packing stage assigns every survivor, so its
      // count equals rebalance).  Corpus = doc_id >= 20, benchmark =
      // doc_id < 20, salts fixed ('demo') — deterministic end to end.
      oracle = _ =>
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
          |) ORDER BY stage_ord""".stripMargin,
      stages = Some { (s, dir) =>
        val (out, seqPlan, _, waveSeconds) = pipelineE2e(s, dir)
        out.unpersist(); seqPlan.unpersist()
        waveSeconds
      }),
    QuerySpec("q_weighted_sample", run = { (s, dir) =>
        // deterministic weighted systematic draw: k=100 picks across
        // the n_chars-weighted doc spans (two-pass prefix scan +
        // closed-form pick counts — zero RNG, integer-exact)
        SampleOps.weightedSystematicSample(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "n_chars",
          k = 100)
      },
      // weighted systematic sample: one window cumsum + the same
      // closed-form integer pick count (all operands nonnegative, so
      // DuckDB's floor // == Spark's truncating DIV)
      oracle = _ =>
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
          |WHERE n_copies > 0 ORDER BY doc_id""".stripMargin),
    QuerySpec("q_lm_buckets", run = { (s, dir) =>
        // CCNet-style head/middle/tail: per-language ntile over the
        // integer-exact token-commonness ranking
        SelectionOps.perplexityBuckets(
            s.read.parquet(s"$dir/documents.parquet"),
            "doc_id", "text", "lang", nBuckets = 3)
          .orderBy("doc_id")
      },
      // CCNet head/middle/tail replay (SelectionOps.perplexityBuckets):
      // the rarity CTEs + per-language ntile(3) on the integer-exact
      // avg_token_freq ranking, ties on doc_id
      oracle = _ =>
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
          |FROM j ORDER BY doc_id""".stripMargin),
    QuerySpec("q_budget_select", run = { (s, dir) =>
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
      // token-budget selection replay (SelectionOps.budgetSelect): the
      // quality-score CTEs + per-language running token sum over the
      // (score desc, id) ranking; keep rows that START inside the budget
      oracle = _ =>
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
          |ORDER BY part, id""".stripMargin),
    QuerySpec("q_mixture_plan", run = { (s, dir) =>
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
      // mixture-plan replay (SelectionOps.mixturePlan): per-source
      // integer token totals joined to literal target shares; epochs is
      // one double division then a min — every share*budget product is
      // integral so round() never faces a half case
      oracle = _ =>
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
          |FROM a JOIN s USING (source) ORDER BY source""".stripMargin),
    QuerySpec("q_selection_e2e", run = { (s, dir) =>
        // the composed data-selection pipeline: quality gate ->
        // head/middle buckets -> per-lang budget -> mixture ->
        // fractional-epoch copies -> sequence pack -> manifest; every
        // stage is individually oracled, this gates the glue
        selectionE2e(s, dir)(SelectionOps.selectionPipeline).orderBy("seq_id")
      },
      // composed-selection replay: the quality/rarity/ntile/budget/
      // mixture/materialize/pack/manifest CTEs chained over the SAME
      // shrinking doc set the Spark pipeline sees (note the rarity
      // stats are computed over quality SURVIVORS, not the full corpus)
      oracle = _ =>
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
      stages = Some { (s, dir) =>
        val (out, secs) = selectionE2e(s, dir)(SelectionOps.selectionPipelineTimed)
        out.unpersist()
        secs
      }),
    QuerySpec("q_mixture_materialize", run = { (s, dir) =>
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
      // mixture materialization replay: the plan CTEs + per-doc
      // n_copies = floor(epochs) + (md5 bucket < frac * 10000), fanned
      // out by generate_series — pure integer/hash arithmetic on top of
      // the already-bit-exact epochs
      oracle = _ =>
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
          |ORDER BY id, copy""".stripMargin),
    QuerySpec("q_stratified_topn", run = { (s, dir) =>
        SampleOps.stratifiedFixedN(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang",
            n = 20, salt = "r6topn")
          .select(col("doc_id"), col("lang"), col("sample_rank"))
          .orderBy("lang", "sample_rank")
      },
      // fixed-N stratified sample replay (SampleOps.stratifiedFixedN):
      // DuckDB ranks each stratum in ONE window — the naive formulation
      // the Spark side deliberately avoids (two-phase pre-bucketed
      // top-n) while producing the identical row set
      oracle = _ =>
        """WITH h AS (
          |  SELECT doc_id, lang,
          |         CAST(('0x' || substr(md5(doc_id || ':r6topn'), 1, 15)) AS BIGINT) AS ord
          |  FROM documents),
          |r AS (SELECT doc_id, lang,
          |             CAST(row_number() OVER (PARTITION BY lang
          |               ORDER BY ord, doc_id) AS BIGINT) AS sample_rank
          |      FROM h)
          |SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 20
          |ORDER BY lang, sample_rank""".stripMargin),
    QuerySpec("q_temperature_sample", run = { (s, dir) =>
        SampleOps.temperatureSample(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang",
            targetRows = 250, salt = "r6temp")
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      // temperature-sample replay (SampleOps.temperatureSample, α=0.5):
      // per-stratum cutoffs are pure INTEGER arithmetic — floor(sqrt)
      // weights (exact for counts ≪ 2^52), integer floor division — so
      // DuckDB recomputes the identical cutoffs from the same counts,
      // then filters by the same md5 hash bucket
      oracle = _ =>
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
          |ORDER BY doc_id""".stripMargin))
}
