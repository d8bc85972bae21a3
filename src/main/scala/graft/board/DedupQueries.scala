package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, SketchOps, TextOps}
import SparkEntry._

/** Deduplication and decontamination rows: exact, minhash, simhash,
  * span and incremental dedup, bloom filters and the HLL/KMV sketches.
  */
object DedupQueries {

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

  /** The q_blocklist_match pattern list, single-sourced for the Spark
    * side and the oracle.  All entries are borderless strings (see the
    * oracle comment); mixes whole vocabulary words, cross-token
    * phrases, and intra-token substrings.
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

  val queries: Seq[QuerySpec] = Seq(
    QuerySpec("q_doc_fingerprint", run = { (s, dir) =>
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), TextOps.fingerprintMd5(col("text")).as("fp"))
          .orderBy("doc_id")
      },
      oracle = _ =>
        "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id"),
    QuerySpec("q_cdc_chunks", run = { (s, dir) =>
        TextOps.cdcChunks(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .select(col("doc_id").cast("bigint").as("doc_id"),
            col("chunk_idx"), col("start"), col("len"), col("chunk_md5"))
          .orderBy("doc_id", "chunk_idx")
      },
      // CDC replay: identical boundary rule (md5-60bit of the trailing
      // 8-char window ≡ 0 mod 64) evaluated positionally, chunk spans
      // from the shifted boundary lists, chunk_md5 over the exact
      // substring — the whole chunker is hash-gated, not just counts
      oracle = _ => (cdcChunkCte +
        """SELECT doc_id,
          |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start)
          |            - 1 AS BIGINT) AS chunk_idx,
          |       CAST(start AS BIGINT) AS start, CAST(len AS BIGINT) AS len,
          |       md5(substr(text, start, len)) AS chunk_md5
          |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin)),
    QuerySpec("q_cdc_chunk_dedup", run = { (s, dir) =>
        TextOps.cdcChunkDups(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
          .orderBy("chunk_md5")
      },
      oracle = _ => (cdcChunkCte +
        """SELECT md5(substr(text, start, len)) AS chunk_md5,
          |       CAST(count(*) AS BIGINT) AS n_copies,
          |       CAST(min(len) AS BIGINT) AS len,
          |       CAST(min(doc_id) AS BIGINT) AS first_doc
          |FROM ch GROUP BY 1 HAVING count(*) > 1
          |ORDER BY chunk_md5""".stripMargin)),
    QuerySpec("q_blocklist_match", run = { (s, dir) =>
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
      // blocklist replay: per (doc, pattern) occurrence count via the
      // replace-length delta.  Every pattern is BORDERLESS (no proper
      // prefix = suffix), so occurrences can never self-overlap and the
      // greedy non-overlapping replace count equals the Aho–Corasick
      // all-end-positions count the engine computes in ONE text pass
      // ("an"/"ta" deliberately hit INSIDE tokens — substring, not
      // word, semantics on both sides)
      oracle = _ => {
        val vals = blockPatterns.map(p => s"('$p')").mkString(", ")
        s"""WITH p AS (SELECT * FROM (VALUES $vals) AS t(pattern)),
           |h AS (
           |  SELECT d.doc_id, p.pattern,
           |         (length(d.text) - length(replace(d.text, p.pattern, '')))
           |           // length(p.pattern) AS hits
           |  FROM documents d CROSS JOIN p)
           |SELECT doc_id, pattern, CAST(hits AS BIGINT) AS hits
           |FROM h WHERE hits > 0 ORDER BY doc_id, pattern""".stripMargin
      }),
    QuerySpec("q_bloom_decontaminate", run = { (s, dir) =>
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
      // bloom decontamination replay: the bit SET equals the position
      // set, so membership = "all k double-hash positions appear among
      // the benchmark's positions" — Kirsch–Mitzenmacher pos_j =
      // (h1 + j·h2) mod 2^17 with h1/h2 the two md5-60bit slices both
      // engines compute identically (false positives replay exactly too)
      oracle = _ =>
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
          |WHERE g.doc_id >= 20 ORDER BY g.doc_id""".stripMargin),
    QuerySpec("q_paragraph_dedup", run = { (s, dir) =>
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
      // intra-doc paragraph dedup replay: 8-token windows as synthetic
      // paragraphs (+ the first two re-appended as the injected dup),
      // first-occurrence order preserved via min(ordinal) + ordered
      // string_agg — the exact semantics of Spark's array_distinct
      oracle = _ =>
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
          |FROM w JOIN c ON w.doc_id = c.doc_id ORDER BY w.doc_id""".stripMargin),
    QuerySpec("q_source_overlap", run = { (s, dir) =>
        // which corpus slices copy from each other: distinct shared
        // 8-gram counts + gram-set jaccard per source pair
        TextOps.sourceOverlap(
            s.read.parquet(s"$dir/documents.parquet"), "source", "text",
            k = 8, maxSources = 16, portableHash = true)
          .orderBy("source_a", "source_b")
      },
      // cross-source contamination replay (TextOps.sourceOverlap,
      // portable md5-60bit grams): distinct (source, 8-gram) sets,
      // universal grams (> 16 sources) dropped before the pair join
      oracle = _ =>
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
          |ORDER BY source_a, source_b""".stripMargin),
    QuerySpec("q_decontaminate", run = { (s, dir) =>
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
      // decontamination replay: docs 0-19 act as the "benchmark", the
      // rest as corpus; word 3-gram md5-60bit hashes on both sides, per
      // doc DISTINCT-gram overlap counts, flag at >= 10 shared grams
      oracle = _ =>
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
          |WHERE g.doc_id >= 20 ORDER BY g.doc_id""".stripMargin),
    QuerySpec("q_decontaminate_spans", run = { (s, dir) =>
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
      // surgical-decontamination replay: corpus (doc_id >= 20) windows
      // cut where the 8-token window hash appears in the benchmark
      // slice (doc_id < 20); same cut arithmetic as q_span_dedup
      oracle = _ =>
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
          |FROM k ORDER BY doc_id""".stripMargin),
    QuerySpec("q_dedup_exact", run = { (s, dir) =>
        DedupOps.exactDupGroups(
            s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
          .select(col("content_hash"), col("cnt"),
            col("keep_id").cast("bigint").as("keep_id"))
          .orderBy("content_hash")
      },
      oracle = _ =>
        """SELECT md5(text) AS content_hash,
          |       CAST(count(*) AS BIGINT) AS cnt,
          |       CAST(min(doc_id) AS BIGINT) AS keep_id
          |FROM documents GROUP BY md5(text) HAVING count(*) > 1
          |ORDER BY content_hash""".stripMargin),
    QuerySpec("q_dedup_token_jaccard", run = { (s, dir) =>
        DedupOps.tokenJaccardPairs(
            s.read.parquet(s"$dir/documents.parquet"),
            "text", "doc_id", "n_chars", 0.7)
          .select("id_a", "id_b").orderBy("id_a", "id_b")
      },
      // hot-block guard mirrored from DedupOps.tokenJaccardPairs: blocks
      // with population > 10000 never enter the self-join
      oracle = _ =>
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
          |ORDER BY id_a, id_b""".stripMargin),
    QuerySpec("q_incr_dedup_exact", run = { (s, dir) =>
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
      oracle = _ =>
        """WITH store AS (
          |  SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id
          |  FROM documents GROUP BY md5(text))
          |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, s.keep_id AS dup_of
          |FROM documents d JOIN store s ON md5(d.text) = s.h
          |WHERE d.doc_id >= 250 ORDER BY doc_id, dup_of""".stripMargin,
      oneTimeBuild = true),
    QuerySpec("q_incr_dedup_minhash_md5", run = { (s, dir) =>
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
      oracle = _ =>
        incrMinhashOracleSql(numHashes = 32, bands = 8, splitId = 250L,
          threshold = 0.5),
      oneTimeBuild = true),
    // xxhash64 scale flavors — oracled via the DuckDB XXH64 replay
    // (OracleXxh64), so the bench/scale path itself is hash-checked,
    // not just its md5 twin
    QuerySpec("q_dedup_minhash", run = { (s, dir) =>
        DedupOps.minhashPairs(
            s.read.parquet(s"$dir/documents.parquet"),
            "text", "doc_id", jaccardThreshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      // the xxhash64 scale flavors, closed by the XXH64-in-SQL replay
      oracle = _ =>
        OracleXxh64.minhashOracleSql(numHashes = 32, bands = 8, threshold = 0.5)),
    QuerySpec("q_dedup_minhash_salted", run = { (s, dir) =>
        // the SAME pipeline through the triangular-grid hot-band salt
        // (saltHotBands = 4): the pair set is bit-identical by
        // construction — this row proves the skew-bounded scale path
        // against the full XXH64 oracle, not just the OpsSpec pin
        DedupOps.minhashPairs(
            s.read.parquet(s"$dir/documents.parquet"),
            "text", "doc_id", jaccardThreshold = 0.5, saltHotBands = 4)
          .orderBy("id_a", "id_b")
      },
      // identical pipeline + identical pair set through the hot-band
      // grid salt — same replay
      oracle = _ =>
        OracleXxh64.minhashOracleSql(numHashes = 32, bands = 8, threshold = 0.5)),
    QuerySpec("q_dedup_simhash", run = { (s, dir) =>
        DedupOps.simhashPairs(
            s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
            maxHamming = 3)
          .withColumn("hamming", col("hamming").cast("bigint"))
          .orderBy("id_a", "id_b")
      },
      oracle = _ =>
        OracleXxh64.simhashOracleSql(maxHamming = 3, maxBucket = 10000)),
    // the same banding/verify pipelines with the portable md5 hash —
    // hash-checked end-to-end by DuckDB oracles (the xxhash64
    // flavors above stay the bench/scale path)
    QuerySpec("q_dedup_minhash_md5", run = { (s, dir) =>
        DedupOps.minhashPairs(
            s.read.parquet(s"$dir/documents.parquet"),
            "text", "doc_id", jaccardThreshold = 0.5, portableHash = true)
          .orderBy("id_a", "id_b")
      },
      oracle = _ =>
        minhashPortableOracleSql(numHashes = 32, bands = 8, threshold = 0.5)),
    QuerySpec("q_dedup_simhash_md5", run = { (s, dir) =>
        DedupOps.simhashPairs(
            s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
            maxHamming = 3, portableHash = true)
          .withColumn("hamming", col("hamming").cast("bigint"))
          .orderBy("id_a", "id_b")
      },
      oracle = _ =>
        simhashPortableOracleSql(maxHamming = 3, maxBucket = 10000)),
    QuerySpec("q_hll_agg", run = { (s, dir) =>
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
      // the aggregate-function flavor must equal the register-table
      // flavor exactly — one oracle text, two physical paths
      oracle = _ => OracleHll.hllDistinctSql),
    QuerySpec("q_hll_distinct", run = { (s, dir) =>
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
      // HLL sketch replays (OracleHll): same xxhash64 registers, same
      // exact harmonic sum, textually identical estimate doubles
      oracle = _ => OracleHll.hllDistinctSql),
    QuerySpec("q_hll_merged", run = { (s, dir) =>
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
      oracle = _ => OracleHll.hllMergedSql),
    QuerySpec("q_fuzzy_link", run = { (s, dir) =>
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
      // sorted-neighborhood linkage replay: same deterministic dirty
      // keys, same (s, kind, id) sort rank, window-5 candidates (range
      // form here, offset equi-joins in Spark — identical pair set),
      // same Levenshtein verify
      oracle = _ =>
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
          |ORDER BY dirty_id, clean_id""".stripMargin),
    QuerySpec("q_kmv_overlap", run = { (s, dir) =>
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
      // KMV replay: same signed-hash k-minimum registers (row_number
      // trim), theta normalization, below-theta intersection walk, and
      // exact set intersection from the same distinct (scope, shingle)s
      oracle = _ => {
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
      }),
    QuerySpec("q_incr_hll", run = { (s, dir) =>
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
      // the incremental (persisted-store) flavor must equal the direct
      // build exactly — one oracle text for both, the phrase-search
      // two-flavor pattern
      oracle = _ => OracleHll.hllDistinctSql),
    QuerySpec("q_cms_topk", run = { (s, dir) =>
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
      // CMS replay: same Kirsch–Mitzenmacher buckets from the XXH64
      // replay (h1 = hu mod 2^32; h2 = high half forced odd — `|1` on a
      // nonnegative is (x//2)*2+1), same register sums and min-walk
      oracle = _ => {
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
      }),
    QuerySpec("q_doc_winnow_md5", run = { (s, dir) =>
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
      // winnowing replay: same char 8-grams, md5-60bit gram hashes,
      // window-of-16 minima, distinct; summaries are all order-free
      oracle = _ =>
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
          |FROM f ORDER BY doc_id""".stripMargin),
    QuerySpec("q_corpus_diff", run = { (s, dir) =>
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
      // corpus-diff replay: the same synthetic revision (drop %11,
      // uppercase %7, add %13 shifted), md5 content hashes, full outer
      // join on id
      oracle = _ =>
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
          |ORDER BY id""".stripMargin),
    QuerySpec("q_span_dedup", run = { (s, dir) =>
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
      // span-removal replay (DedupOps.removeDuplicateSpans): positioned
      // windows, keeper = min id per hash, covered tokens cut, cleaned
      // text re-hashed — list lambdas mirror the Spark HOFs exactly
      oracle = _ =>
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
          |FROM k ORDER BY doc_id""".stripMargin),
    QuerySpec("q_window_dedup", run = { (s, dir) =>
        DedupOps.duplicateWindowStats(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            k = 8, portableHash = true)
          .select(col("id").cast("bigint").as("doc_id"),
            col("n_windows"), col("n_dup_windows"), col("dup_frac"))
          .orderBy("doc_id")
      },
      // duplicate-window replay (DedupOps.duplicateWindowStats, k=8):
      // overlapping 8-token windows as md5-60bit hashes, per-hash
      // distinct-doc counts, per-doc share of windows seen in ≥2 docs
      oracle = _ =>
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
          |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin),
    QuerySpec("q_bloom_join", run = { (s, dir) =>
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
      // bloom-join replay: the PLAIN join — bloom pruning must be
      // invisible in the result (false positives die in the join)
      oracle = _ =>
        """SELECT o.o_orderkey AS o_orderkey,
          |       CAST(count(*) AS BIGINT) AS n_lines,
          |       CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
          |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          |WHERE o.o_orderstatus = 'F' AND o.o_orderpriority = '1-URGENT'
          |GROUP BY 1 ORDER BY 1""".stripMargin))
}
