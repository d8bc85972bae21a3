package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{IndexOps, QuantileOps, TextOps}
import SparkEntry._

/** Text rows: normalization, tokens, BPE, compression, language
  * models, chunking and the search indexes.
  */
object TextQueries {

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

  /** q_doc_chunk / q_bm25 parameters, single-sourced for the Spark
    * query and its oracle (terms picked from the synthetic vocabulary;
    * mid-frequency so tf, df and dl all vary).
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

  val queries: Seq[QuerySpec] = Seq(
    // ---- training-data pipeline ops (documents / embeddings / events)
    QuerySpec("q_text_stats", run = { (s, dir) =>
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
      // tokenization = \s+ regex with empties dropped, matching
      // TextOps.tokens exactly (a plain ' ' split would diverge on
      // tabs/newlines); empty docs guard the word-length division
      oracle = _ =>
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
          |FROM t ORDER BY doc_id""".stripMargin),
    QuerySpec("q_lang_id", run = { (s, dir) =>
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), TextOps.langId(col("text")).as("lang_guess"))
          .orderBy("doc_id")
      },
      oracle = _ =>
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
          |FROM s ORDER BY doc_id""".stripMargin),
    QuerySpec("q_quality_score", run = { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        TextOps.qualityMetrics(docs, "text")
          .select(col("doc_id"), col("n_words").cast("bigint").as("n_words"),
            col("avg_word_len"), col("stopword_ratio"),
            col("alpha_ratio"), col("quality_score"))
          .orderBy("doc_id")
      },
      // quality gates are all-rational arithmetic (no exp/log), so the
      // division trees match Spark's bit-for-bit
      oracle = _ =>
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
          |FROM m ORDER BY doc_id""".stripMargin),
    QuerySpec("q_repetition_stats", run = { (s, dir) =>
        TextOps.repetitionStats(
            s.read.parquet(s"$dir/documents.parquet"), "text", 2)
          .select(col("doc_id"), col("n_grams"), col("uniq_grams"),
            col("dup_gram_frac"), col("dup_char_frac"))
          .orderBy("doc_id")
      },
      // word-bigram repetition (TextOps.repetitionStats): duplicate-gram
      // fraction + duplicate-char fraction via the same sort-and-charge-
      // predecessor formulation; all-ASCII grams so list_sort and
      // array_sort agree byte-for-byte
      oracle = _ =>
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
          |FROM d ORDER BY doc_id""".stripMargin),
    QuerySpec("q_token_topk", run = { (s, dir) =>
        TextOps.topTokens(
          s.read.parquet(s"$dir/documents.parquet"), "text", 100)
      },
      // corpus vocabulary: the wordcount shape with a deterministic
      // (freq DESC, token ASC) tie-break so both engines cut the same
      // top-100
      oracle = _ =>
        """WITH tok AS (
          |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
          |  FROM documents)
          |SELECT token, CAST(count(*) AS BIGINT) AS freq
          |FROM tok GROUP BY token
          |ORDER BY freq DESC, token ASC LIMIT 100""".stripMargin),
    QuerySpec("q_inverted_postings", run = { (s, dir) =>
        IndexOps.postingSummary(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            postingTerms)
          .orderBy("term", "doc_id")
      },
      // positional posting replay: 1-based whitespace-token positions
      // per (term, doc) for the fixed term subset — DuckDB indexes the
      // token list by an unnested position range
      oracle = _ =>
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
           |GROUP BY term, doc_id ORDER BY term, doc_id""".stripMargin),
    QuerySpec("q_phrase_search", run = { (s, dir) =>
        // baseline flavor: pure projection scan of the corpus
        IndexOps.phraseScan(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            phraseTerms)
          .orderBy("doc_id")
      },
      // phrase-match replay: start positions i with toks[i]=w0 ∧
      // toks[i+1]=w1 — the same integer position algebra both engines
      // run (Spark: projection scan / posting intersection)
      oracle = _ => phraseOracleSql),
    QuerySpec("q_phrase_search_index", run = { (s, dir) =>
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
      // the INDEXED flavor must agree with the scan flavor exactly —
      // one oracle text, two physical paths (bucket-pruned posting
      // probe vs corpus projection; the pruning claim lives in IndexSpec)
      oracle = _ => phraseOracleSql,
      oneTimeBuild = true),
    QuerySpec("q_quantiles", run = { (s, dir) =>
        val v = s.read.parquet(s"$dir/documents.parquet")
          .select(TextOps.tokenCount(col("text")).cast("long").as("v"))
        QuantileOps.exactQuantilesLong(v, "v", quantilePs).orderBy("p")
      },
      // exact-percentile replay: ANSI percentile_disc/_cont semantics
      // (disc rank ⌈p·n⌉−1; cont lo+(hi−lo)·frac at (n−1)·p) — Spark
      // computes them by 4-pass radix selection, never a sort
      oracle = _ => {
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
      }),
    QuerySpec("q_winsorize", run = { (s, dir) =>
        val v = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            TextOps.tokenCount(col("text")).cast("long").as("tl"))
        QuantileOps.winsorize(v, "doc_id", "tl", winsorLo, winsorHi)
          .orderBy("doc_id")
      },
      // winsorize replay: clip at the exact [p05, p95] discrete
      // percentiles of tokens-per-doc
      oracle = _ =>
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
           |FROM v, b ORDER BY doc_id""".stripMargin),
    QuerySpec("q_doc_chunk", run = { (s, dir) =>
        TextOps.chunkByTokens(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            window = chunkWindow, stride = chunkStride)
          .orderBy("doc_id", "chunk_idx")
      },
      // token-window chunking replay: same whitespace tokens, same
      // full-windows-plus-short-doc-clamp start rule, same md5 of the
      // space-rejoined window
      oracle = _ =>
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
          |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    QuerySpec("q_bm25", run = { (s, dir) =>
        TextOps.bm25Scores(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            bm25Terms, k1 = bm25K1, b = bm25B)
          .orderBy("doc_id", "term")
      },
      // BM25 replay: every input to the float math is an exact integer
      // (tf, df, dl, N, Σdl), constants ship as round-trip double
      // literals, and the expression tree mirrors bm25Scores' grouping
      // exactly — per-(doc,term) rows so no float-sum ordering exists
      oracle = _ =>
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
          |ORDER BY doc_id, term""".stripMargin),
    QuerySpec("q_pii_redact", run = { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val pii = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com at 10.0.0."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(" ssn 123-45-6789 tel 415-555-0199"))
        docs.select(col("doc_id"), TextOps.redactPii(pii).as("clean"))
          .orderBy("doc_id")
      },
      // PII scrub replay: the documents carry no PII, so both engines
      // synthesize the same deterministic PII suffix per doc and must
      // scrub it identically.  DuckDB needs the 'g' flag (its
      // regexp_replace is first-match by default; Spark's is global).
      oracle = _ => {
        val synth = "text || ' contact user' || doc_id || '@example.com at 10.0.0.'" +
          " || (doc_id % 256) || ' ssn 123-45-6789 tel 415-555-0199'"
        val redacted = TextOps.piiPatterns.foldLeft(synth) {
          case (acc, (pat, repl)) => s"regexp_replace($acc, '$pat', '$repl', 'g')"
        }
        s"""SELECT doc_id, $redacted AS clean
           |FROM documents ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("q_bpe_pairs", run = { (s, dir) =>
        // BPE training's first merge table: corpus-wide adjacent
        // char-pair counts, top 20
        TextOps.bpePairCounts(
            s.read.parquet(s"$dir/documents.parquet"), "text", topK = 20)
          .orderBy("rank")
      },
      // BPE first-merge replay: per-word adjacent char pairs, corpus
      // counts, (n desc, pair) top-k
      oracle = _ =>
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
          |FROM c ORDER BY n DESC, pair LIMIT 20""".stripMargin),
    QuerySpec("q_text_normalize", run = { (s, dir) =>
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
      // Unicode-normalization replay: the NFC column goes through
      // DuckDB's own nfc_normalize (genuine cross-engine normalization
      // check); the NFKC column's oracle exploits that the corpus text
      // is ASCII (NFKC = identity there), so NFKC(text || suffix) =
      // text || NFKC(suffix) with the suffix's NFKC form written as a
      // literal ("café final AB" — ligature and full-width forms folded)
      oracle = _ =>
        ("""SELECT doc_id,
        |       md5(nfc_normalize(text || ' cafe""" + "́ ﬁnal ＡＢ" +
          """')) AS nfc_md5,
        |       md5(text || ' caf""" + "é" + """ final AB') AS nfkc_md5
        |FROM documents ORDER BY doc_id""").stripMargin),
    QuerySpec("q_lm_score", run = { (s, dir) =>
        TextOps.unigramLogProbs(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .orderBy("doc_id", "token")
      },
      // corpus unigram LM replay (TextOps.unigramLogProbs): same \s+
      // tokens, vocab + per-doc tf as integer aggregations, one ln of a
      // ratio of exact integers per output row (the q_bm25 determinism
      // convention — no float sums exist)
      oracle = _ =>
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
          |ORDER BY doc_id, token""".stripMargin),
    QuerySpec("q_token_rarity", run = { (s, dir) =>
        TextOps.tokenRarityStats(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .orderBy("doc_id")
      },
      // integer-exact rarity profile (TextOps.tokenRarityStats): all
      // sums are integer, the single division happens once per doc
      oracle = _ =>
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
          |GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin),
    QuerySpec("q_compress_ratio", run = { (s, dir) =>
        // zlib-ratio quality signal; deflate is not SQL-expressible,
        // but it is deterministic at a fixed level, so the golden-
        // literal byte counts gate it (compressOracleSql) on top of
        // the OpsSpec monotonicity/determinism properties
        TextOps.compressionRatio(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .orderBy("doc_id")
      },
      oracle = _ => compressOracleSql("sf0.01_compress_ratio_l6.json")),
    QuerySpec("q_compress_zstd", run = { (s, dir) =>
        // zstd-ratio quality signal — the lake's own codec; same
        // golden-literal gate as the deflate flavor (deterministic at
        // a fixed level), context reused per partition and closed when
        // the partition drains
        TextOps.zstdCompressionRatio(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .orderBy("doc_id")
      },
      oracle = _ =>
        compressOracleSql("sf0.01_compress_zstd_l3.json", "n_zstd")),
    QuerySpec("q_tfidf_terms", run = { (s, dir) =>
        // per-doc top-3 TF-IDF keywords over the corpus's own counts
        TextOps.tfIdfTopTerms(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 3)
          .orderBy("doc_id", "rank")
      },
      // TF-IDF keyword replay: tf/df count CTEs, tf * ln(N/df), per-doc
      // (tfidf desc, token) rank window
      oracle = _ =>
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
          |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    QuerySpec("q_bigram_lm", run = { (s, dir) =>
        // Jelinek-Mercer interpolated bigram scores under the
        // corpus's own counts — the next step up from q_lm_score
        TextOps.bigramLogProbs(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .orderBy("doc_id", "w1", "w2")
      },
      // interpolated bigram-LM replay: bigram + unigram count CTEs, the
      // fixed λ·cb/c1 + (1−λ)·c2/N chain — single IEEE ops per row, no
      // float aggregation, so even logprob hash-gates
      oracle = _ =>
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
          |ORDER BY doc_id, w1, w2""".stripMargin),
    QuerySpec("q_bpe_encode", run = { (s, dir) =>
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
      oracle = _ => bpeEncodeOracleSql("sf0.01_bpe_encode_m12.json")),
    QuerySpec("q_bpe_train", run = { (s, dir) =>
        // FULL tokenizer-training loop (r8): 12 BPE merges learned
        // from the corpus's own words — vocab-scale iterations, exact
        // integer counts, total-order tie-break → the merge table is
        // bit-deterministic and golden-literal-oracled
        TextOps.bpeTrain(
            s.read.parquet(s"$dir/documents.parquet"), "text",
            numMerges = 12, minCount = 2)
          .orderBy("merge_rank")
      },
      oracle = _ => bpeOracleSql("sf0.01_bpe_train_m12.json")),
    QuerySpec("q_token_topk_by_lang", run = { (s, dir) =>
        TextOps.topTokensByGroup(
            s.read.parquet(s"$dir/documents.parquet"), "lang", "text", k = 10)
          .orderBy("grp", "rank")
      },
      // per-group top-k replay (TextOps.topTokensByGroup): same (freq
      // DESC, token ASC) deterministic tie-break as q_token_topk, ranked
      // within each language
      oracle = _ =>
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
          |ORDER BY grp, rank""".stripMargin))
}
