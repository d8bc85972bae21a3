package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, language-ID heuristics, quality
  * scoring, and document fingerprinting.
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * (higher-order array functions, no UDFs), so each operator is a pure
  * per-row projection: no shuffle, fully pushdown/pruning-friendly,
  * and embarrassingly parallel at 100 TB.
  */
object TextOps {

  /** Whitespace tokens, empty strings dropped — one codegen'd byte
    * scan (graft.functions.TokensArray; the regex form below is the
    * parity-spec reference).
    */
  def tokens(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.TokensArray(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** Regex form of [[tokens]] — parity-spec reference. */
  private[graft] def tokensRegex(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= lit(""))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count estimate: word / number / punctuation runs
    * (the usual pre-tokenizer shape), no model table needed — one
    * codegen'd byte scan (graft.functions.BpeTokenCount; the regex
    * form below is the spec-parity reference).
    */
  def bpeTokenEstimate(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.BpeTokenCount(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** Regex form of [[bpeTokenEstimate]] — parity-spec reference. */
  private[graft] def bpeTokenEstimateRegex(c: Column): Column =
    size(regexp_extract_all(c, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))

  /** Overlapping word n-grams over a PRE-MATERIALIZED token-array
    * column.  `toks` is referenced inside the per-window lambda, so it
    * MUST be a plain attribute (a `withColumn`/`select` output): an
    * expression-valued `toks` would re-evaluate — re-tokenize — once
    * per window (the re-inlining trap; measured ~5× on the window
    * family, since a w-token doc pays w regex splits instead of one).
    *
    * A token-less document yields a single empty-string gram (the
    * sequence clamp), which both engines agree on.
    */
  def wordNgramsOf(toks: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.WordNgramArray(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks), n))

  /** Composed higher-order form of [[wordNgramsOf]] — parity-spec
    * reference (four interpreted nodes; see WordNgramArray).  The
    * explicit null wrap defines the gram contract as null-in →
    * null-out: the raw chain accidentally produced one EMPTY gram for
    * a null array because `greatest` ignores null operands.
    */
  private[graft] def wordNgramsOfHof(toks: Column, n: Int): Column =
    when(toks.isNull, lit(null).cast("array<string>")).otherwise(
      transform(sequence(lit(1), greatest(size(toks) - lit(n - 1), lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Convenience single-expression form of [[wordNgramsOf]] — ONLY for
    * contexts that evaluate it once over few windows; every DataFrame-
    * level operator here materializes the token array first and calls
    * [[wordNgramsOf]] instead (see its scaladoc for why).
    */
  def wordNgrams(c: Column, n: Int): Column = wordNgramsOf(tokens(c), n)

  /** Gopher-style repetition metrics over word `n`-grams (the unit is
    * n-grams rather than lines because the line rule degenerates on
    * single-line corpora; same computation either way):
    *
    *  - `dup_gram_frac`  — fraction of grams that are repeat
    *    occurrences (1 − distinct/total)
    *  - `dup_char_frac`  — fraction of gram CHARACTERS inside repeat
    *    occurrences (the "fraction of characters in duplicate lines"
    *    rule), computed by sorting the gram array and charging every
    *    gram equal to its predecessor — O(g log g) per row, pure
    *    array expressions, no explode/shuffle.
    */
  def repetitionStats(df: DataFrame, textCol: String, n: Int = 2): DataFrame = {
    // ONE fused codegen'd pass (graft.functions.GramRepetition): the
    // composed higher-order chain below (kept as the spec-parity
    // reference) is ~7 interpreted CodegenFallback nodes, and a filter
    // on the output gets pushed below the projection with the chain
    // inlined per metric — measured 9.4× pure re-evaluation at sf10
    val rs = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.GramRepetition(
        org.apache.spark.sql.graft.ColumnBridge.expression(
          tokens(col(textCol))), n))
    df.withColumn("__rs", rs)
      .withColumn("n_grams", col("__rs.n_grams"))
      .withColumn("uniq_grams", col("__rs.uniq_grams"))
      .withColumn("dup_gram_frac", col("__rs.dup_gram_frac"))
      .withColumn("dup_char_frac", col("__rs.dup_char_frac"))
      .drop("__rs")
  }

  /** The composed higher-order-function form of [[repetitionStats]] —
    * the reference implementation TextSpec pins [[GramRepetition]]
    * against (do not use in pipelines: every metric re-evaluates under
    * filter pushdown, and the HOF nodes are interpreted).
    */
  private[graft] def repetitionStatsHof(
      df: DataFrame, textCol: String, n: Int = 2): DataFrame = {
    // materialized stages: inlining `grams` into each metric would
    // recompute the token + n-gram chain per reference (the same
    // re-inlining trap winnowFingerprints documents)
    val withG = df.withColumn("__rs_toks", tokens(col(textCol)))
      .withColumn("__grams", wordNgramsOfHof(col("__rs_toks"), n))
      .withColumn("__sg", array_sort(col("__grams")))
      .drop("__rs_toks")
    val g = col("__grams")
    val sg = col("__sg")
    val nGrams = size(g)
    val uniq = size(array_distinct(g))
    val totalChars = aggregate(
      transform(g, x => length(x).cast("long")), lit(0L), (a, x) => a + x)
    val dupChars = when(size(sg) < 2, lit(0L)).otherwise(
      aggregate(
        zip_with(
          slice(sg, lit(2), size(sg) - 1), slice(sg, lit(1), size(sg) - 1),
          (cur, pre) => when(cur === pre, length(cur).cast("long")).otherwise(lit(0L))),
        lit(0L), (a, x) => a + x))
    withG
      .withColumn("n_grams", nGrams.cast("long"))
      .withColumn("uniq_grams", uniq.cast("long"))
      .withColumn("dup_gram_frac",
        when(nGrams > 0, (nGrams - uniq).cast("double") / nGrams))
      .withColumn("dup_char_frac",
        when(totalChars > 0, dupChars.cast("double") / totalChars))
      .drop("__grams", "__sg")
  }

  /** Corpus-level token frequencies — the wordcount shape: explode
    * tokens → hash-agg.  Map-side partial aggregation bounds the
    * shuffle at (distinct tokens × partitions); at 100 TB the shuffled
    * payload is the vocabulary, not the corpus.
    */
  def tokenFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))

  /** Top-k vocabulary with a deterministic (freq DESC, token ASC)
    * tie-break.  The global sort runs on the already-aggregated
    * vocabulary (≪ corpus) and TakeOrdered keeps it partition-local
    * until the final k rows.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    tokenFrequencies(df, textCol)
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)

  /** Per-group top-k vocabulary (the per-language flavor of
    * [[topTokens]]): token frequencies keyed by (group, token), then
    * a rank window PER GROUP with the deterministic (freq DESC, token
    * ASC) tie-break.  The window runs over the already-aggregated
    * per-group vocabulary — ≪ corpus, and the per-group partitions
    * are vocabulary-sized, so no single-task funnel even when one
    * group dominates the corpus.
    */
  def topTokensByGroup(
      df: DataFrame, groupCol: String, textCol: String, k: Int): DataFrame = {
    val freqs = df
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("token"))
      .groupBy("grp", "token")
      .agg(count(lit(1)).as("freq"))
    freqs
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
          .orderBy(col("freq").desc, col("token").asc)).cast("long"))
      .where(col("rank") <= k)
  }

  /** Function-word tables for the language-ID heuristic. */
  val langFunctionWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "it", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "en"))

  /** Count of tokens that appear in `words`. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words.map(lit(_)))))

  /** n-gram-flavored language ID: argmax of per-language function-word
    * hit counts, with a CJK codepoint-ratio check first; "und"
    * (undetermined) when no signal.  Deterministic tie-break = table
    * order.
    */
  def langId(c: Column): Column = {
    val toks = tokens(c)
    val cjk = size(regexp_extract_all(c, lit("[\\u4e00-\\u9fff]"), lit(0)))
    val scores = langFunctionWords.map { case (l, ws) => l -> stopwordHits(toks, ws) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.reverse.foldLeft(lit("und")) { case (acc, (l, s)) =>
      when(s > lit(0) && s === best, lit(l)).otherwise(acc)
    }
    when(cjk * lit(2) > length(c), lit("zh")).otherwise(pick)
  }

  /** Per-document quality metrics + a composite score in [0,1].
    * All-rational arithmetic (no exp/log) keeps it cheap and
    * cross-engine reproducible.
    */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    // ONE fused codegen'd byte scan (graft.functions.QualityTextStats)
    // — the composed form below (kept as the spec-parity reference)
    // re-tokenizes per metric under filter pushdown and pays an
    // interpreted HOF for the stopword count
    val qs = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.QualityTextStats(
        org.apache.spark.sql.graft.ColumnBridge.expression(col(textCol))))
    df.withColumn("__qs", qs)
      .withColumn("n_chars_m", col("__qs.n_chars_m"))
      .withColumn("n_words", col("__qs.n_words"))
      .withColumn("avg_word_len", col("__qs.avg_word_len"))
      .withColumn("stopword_ratio", col("__qs.stopword_ratio"))
      .withColumn("alpha_ratio", col("__qs.alpha_ratio"))
      .withColumn("punct_ratio", col("__qs.punct_ratio"))
      .withColumn("quality_score", col("__qs.quality_score"))
      .drop("__qs")
  }

  /** The composed-column form of [[qualityMetrics]] — the reference
    * implementation the parity spec pins [[QualityTextStats]] against.
    */
  private[graft] def qualityMetricsHof(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    val toks = tokens(c)
    val nChars = length(c)
    val nWords = size(toks)
    val alpha = size(regexp_extract_all(c, lit("[a-zA-Z]"), lit(0)))
    val punct = size(regexp_extract_all(c, lit("[\\.,;:!\\?'\"]"), lit(0)))
    val stop = stopwordHits(toks, langFunctionWords.toMap.apply("en"))
    val avgWordLen = when(nWords > 0,
      (nChars - (nWords - lit(1))).cast("double") / nWords).otherwise(lit(0.0))
    val stopRatio = when(nWords > 0, stop.cast("double") / nWords).otherwise(lit(0.0))
    val alphaRatio = when(nChars > 0, alpha.cast("double") / nChars).otherwise(lit(0.0))
    val punctRatio = when(nChars > 0, punct.cast("double") / nChars).otherwise(lit(0.0))
    // heuristic gates in the C4/Gopher style: enough words, sane word
    // length, some function words, mostly-alphabetic
    val lenOk = when(nWords.between(5, 100000), lit(1.0)).otherwise(lit(0.0))
    val wordLenOk = when(avgWordLen.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0))
    val stopOk = when(stopRatio > 0.01, lit(1.0)).otherwise(lit(0.0))
    val alphaOk = when(alphaRatio > 0.6, lit(1.0)).otherwise(lit(0.0))
    df.withColumn("n_chars_m", nChars)
      .withColumn("n_words", nWords)
      .withColumn("avg_word_len", avgWordLen)
      .withColumn("stopword_ratio", stopRatio)
      .withColumn("alpha_ratio", alphaRatio)
      .withColumn("punct_ratio", punctRatio)
      .withColumn("quality_score",
        (lenOk + wordLenOk + stopOk + alphaOk) / lit(4.0))
  }

  /** Benchmark-decontamination scores: for every corpus doc, the
    * number of DISTINCT word n-grams it shares with any benchmark doc
    * (the standard eval-leakage check before training).  The benchmark
    * gram set is the small side by contract and is broadcast, so
    * corpus grams stream past it map-side — the only shuffle is the
    * per-doc overlap count (and grams travel as 8-byte hashes, not
    * strings).  Docs with zero overlap still appear (left join,
    * coalesce 0) so the output is a total score column.
    *
    * `portableHash` swaps xxhash64 for the md5-60bit gram hash so the
    * DuckDB oracle replays the identical pipeline (same convention as
    * DedupOps.minhashPairs).
    */
  /** SURGICAL decontamination — the span-level sibling of
    * [[contaminationScores]]: instead of flagging/dropping whole
    * documents whose n-gram overlap with a benchmark crosses a
    * threshold, cut exactly the k-token windows that literally appear
    * in the reference set and keep the rest of the document.  The
    * shape a training-data pipeline wants when a long document quotes
    * one benchmark item: doc-level dropping burns the other 99% of
    * its tokens.
    *
    * Output per doc: `(id, n_tokens, n_removed, clean_md5)` — the
    * [[DedupOps.removeDuplicateSpans]] summary contract (narrow at
    * any corpus size); overlapping cut spans merge naturally.
    *
    * Scale shape: the reference's distinct window hashes BROADCAST (a
    * benchmark set is MBs against a 100 TB corpus — if it ever is not,
    * Spark's size estimate falls back to a hash join on the same key);
    * corpus windows travel as (id, start, 8-byte hash) rows, the text
    * itself never shuffles, and the cut is the shared pure array
    * projection.
    */
  def removeContaminatedSpans(
      corpus: DataFrame, corpusId: String, corpusText: String,
      benchmark: DataFrame, benchText: String,
      k: Int = 8, portableHash: Boolean = false): DataFrame = {
    val gramHash: Column => Column =
      if (portableHash) DedupOps.md5Hash60 else c => xxhash64(c)
    val refHashes = benchmark
      .select(tokens(col(benchText)).as("__t"))
      .select(explode(array_distinct(wordNgramsOf(col("__t"), k))).as("g"))
      .select(gramHash(col("g")).as("wh")).distinct()
    val toks = corpus.select(col(corpusId).as("id"),
      tokens(col(corpusText)).as("toks"))
    val wins = toks.select(col("id"),
        posexplode(wordNgramsOf(col("toks"), k)).as(Seq("pos", "g")))
      .select(col("id"), (col("pos") + 1).as("start"),
        gramHash(col("g")).as("wh"))
    val rm = wins.join(broadcast(refHashes), Seq("wh"), "left_semi")
      .groupBy("id").agg(sort_array(collect_set(col("start"))).as("starts"))
    DedupOps.cutSpans(toks, rm, k)
  }

  def contaminationScores(
      corpus: DataFrame, corpusId: String, corpusText: String,
      benchmark: DataFrame, benchText: String,
      n: Int = 3, portableHash: Boolean = false): DataFrame = {
    val gramHash: Column => Column =
      if (portableHash) DedupOps.md5Hash60 else c => xxhash64(c)
    val bench = benchmark
      .select(tokens(col(benchText)).as("__t"))
      .select(explode(array_distinct(wordNgramsOf(col("__t"), n))).as("g"))
      .select(gramHash(col("g")).as("gh")).distinct()
    val corpusGrams = corpus
      .select(col(corpusId).as("id"), tokens(col(corpusText)).as("__t"))
      .select(col("id"), explode(array_distinct(wordNgramsOf(col("__t"), n))).as("g"))
      .select(col("id"), gramHash(col("g")).as("gh"))
    val overlaps = corpusGrams.join(broadcast(bench), "gh")
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
    corpus.select(col(corpusId).as("id"))
      .join(overlaps, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
  }

  /** The k bloom bit positions of one n-gram via Kirsch–Mitzenmacher
    * double hashing `pos_j = (h1 + j·h2) mod m`, with h1/h2 two
    * disjoint 60-bit slices of the gram's md5 — fully portable (any
    * engine with md5 + hex parsing replays the identical positions).
    * h1, h2 < 2⁶⁰ and j ≤ 7 keeps `h1 + j·h2 < 2⁶³` (no overflow).
    */
  private[ops] def bloomPositions(g: Column, mBits: Int, j: Int): Column = {
    val h1 = DedupOps.md5Hash60(g)
    val h2 = conv(substring(md5(g), 17, 15), 16, 10).cast("long")
    pmod(h1 + lit(j.toLong) * h2, lit(mBits.toLong))
  }

  /** Build side of the bloom-filter decontamination pass: the SET of
    * bit positions lit by the benchmark's distinct word n-grams,
    * collected to the driver (≤ min(k·|grams|, m) longs — the
    * benchmark side is small by the decontamination contract).
    */
  def bloomBuild(
      benchmark: DataFrame, benchText: String,
      n: Int = 3, mBits: Int = 1 << 17, k: Int = 4): Array[Long] = {
    require(k <= 7, s"bloomBuild: k=$k would overflow the position arithmetic")
    require(mBits % 64 == 0, s"bloomBuild: mBits=$mBits must pack into longs")
    benchmark
      .select(tokens(col(benchText)).as("__t"))
      .select(explode(array_distinct(wordNgramsOf(col("__t"), n))).as("g"))
      .select(explode(array((0 until k).map(j =>
        bloomPositions(col("g"), mBits, j)): _*)).as("pos"))
      .distinct().collect().map(_.getLong(0))
  }

  /** Membership pass: per-doc count of distinct n-grams whose k bloom
    * positions are ALL set.  The filter ships as a PACKED `mBits/64`-
    * long array literal (16 KiB at m = 2¹⁷) — O(m) broadcast state
    * independent of benchmark size, which is the point of the bloom
    * flavor over the exact hash-set join ([[contaminationScores]]):
    * at a 10⁹-gram benchmark the exact set no longer broadcasts, the
    * bloom still does, at the standard (1−e^(−k·n/m))^k
    * false-positive cost.  The per-gram test is k codegen'd
    * bit-probes — no UDF, no lambda.
    */
  /** The packed filter + bit-probe shared by both membership shapes. */
  private[ops] def bloomHitExpr(
      positions: Array[Long], mBits: Int, k: Int): Column => Column = {
    val words = new Array[Long](mBits / 64)
    positions.foreach { p => words((p / 64).toInt) |= 1L << (p % 64).toInt }
    val wordsLit = lit(words)
    def bitSet(pos: Column): Column =
      call_function("shiftrightunsigned",
        element_at(wordsLit, (pos / lit(64L)).cast("int") + lit(1)),
        (pos % lit(64L)).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    g => (0 until k).map(j => bitSet(bloomPositions(g, mBits, j))).reduce(_ && _)
  }

  def bloomContamination(
      corpus: DataFrame, corpusId: String, corpusText: String,
      positions: Array[Long],
      n: Int = 3, mBits: Int = 1 << 17, k: Int = 4): DataFrame = {
    val hit = bloomHitExpr(positions, mBits, k)(col("g"))
    val grams = corpus
      .select(col(corpusId).as("id"), tokens(col(corpusText)).as("__t"))
      .select(col("id"), explode(array_distinct(wordNgramsOf(col("__t"), n))).as("g"))
    val flagged = grams
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(hit, 1L).otherwise(0L)).as("n_flagged"))
    corpus.select(col(corpusId).as("id"))
      .join(flagged, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"))
  }

  /** Per-ROW form of [[bloomContamination]]: a struct column
    * `(n_grams, n_flagged)` computed entirely as array expressions —
    * no explode, no aggregation, NO SHUFFLE — so it drops into any
    * projection chain, including a `readStream` ingest filter (the
    * explode+groupBy shape can't run pre-aggregation on a stream
    * without watermark state; this one is stateless by construction).
    * Identical counts to the relational form (OpsSpec pins equality);
    * prefer it everywhere the per-doc counts are the goal and the
    * gram rows themselves aren't needed downstream.
    *
    * `toks` must be a MATERIALIZED token-array column (the
    * [[wordNgramsOf]] contract), and both counts come from ONE
    * `aggregate` fold so the gram array is built once per row.
    */
  def bloomContaminationCols(
      toks: Column, positions: Array[Long],
      n: Int = 3, mBits: Int = 1 << 17, k: Int = 4): Column = {
    // ONE fused pass (graft.functions.BloomContamination — one md5 per
    // distinct gram, k bit probes); the fold form below is the
    // parity-spec reference
    val words = new Array[Long](mBits / 64)
    positions.foreach { p => words((p / 64).toInt) |= 1L << (p % 64).toInt }
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.BloomContamination(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks),
        words, n, mBits, k))
  }

  /** Composed fold form of [[bloomContaminationCols]] — parity-spec
    * reference (interpreted aggregate, two md5 evaluations per gram).
    */
  private[graft] def bloomContaminationColsHof(
      toks: Column, positions: Array[Long],
      n: Int = 3, mBits: Int = 1 << 17, k: Int = 4): Column = {
    val hit = bloomHitExpr(positions, mBits, k)
    aggregate(
      array_distinct(wordNgramsOfHof(toks, n)),
      struct(lit(0L).as("n_grams"), lit(0L).as("n_flagged")),
      (acc, g) => struct(
        (acc("n_grams") + lit(1L)).as("n_grams"),
        (acc("n_flagged") + when(hit(g), 1L).otherwise(0L)).as("n_flagged")))
  }

  /** Order-preserving removal of exact duplicate paragraphs within a
    * document (the Gopher-style intra-document repetition scrub, Rae
    * et al. 2021 — distinct from the cross-document dedup family):
    * Spark's `array_distinct` keeps FIRST occurrences in encounter
    * order, so the whole operator is one codegen'd projection — no
    * shuffle, no UDF, trivially 100 TB-safe.
    */
  def dedupParagraphs(t: Column, sep: String = "\n"): Column =
    array_join(
      array_distinct(split(t, java.util.regex.Pattern.quote(sep))), sep)

  /** PII scrubbing patterns, applied in order (specific → general so
    * an IP or SSN is not half-eaten by the phone rule first).  Every
    * pattern sticks to the regex subset Java and RE2 interpret
    * identically (classes, bounded repeats, `\b`), so external engines
    * replay the redaction byte-for-byte.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b" -> "<PHONE>")

  /** Redact emails / IPv4s / SSNs / phone numbers — chained
    * `regexp_replace`, pure per-row projection (the usual pre-training
    * scrub pass).
    */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** HTML → text extraction as an ordered chained-`regexp_replace`
    * pass (the boilerplate-strip step crawl corpora run before any
    * quality/dedup stage).  Order matters: script/style/comment BLOCKS
    * go first (their content is not text), then every remaining tag,
    * then the five XML entities + `&nbsp;` decode (after tag-strip, so
    * entity-encoded markup in the content stays content), then
    * whitespace collapse.  Like [[piiPatterns]], every pattern sticks
    * to the Java/RE2-identical regex subset (inline `(?is)` flags,
    * lazy repeats, explicit classes — `\s` is avoided because Java
    * includes `\x0B` in it and RE2 does not), so external engines
    * replay the extraction byte-for-byte.  Entity decode is the
    * standard five + nbsp, not the full HTML5 table — the subset
    * covers machine-generated markup; a full table is a lookup join,
    * not a regex.
    */
  val htmlPatterns: Seq[(String, String)] = Seq(
    "(?is)<script[^>]*>.*?</script>" -> " ",
    "(?is)<style[^>]*>.*?</style>" -> " ",
    "(?s)<!--.*?-->" -> " ",
    "(?s)<[^>]*>" -> " ",
    "&nbsp;" -> " ",
    "&amp;" -> "&",
    "&lt;" -> "<",
    "&gt;" -> ">",
    "&quot;" -> "\"",
    "&#39;" -> "'",
    "[ \\t\\n\\r\\f]+" -> " ",
    "^ | $" -> "")

  /** Strip markup from an HTML document column — chained
    * `regexp_replace` over [[htmlPatterns]], pure per-row projection
    * (no UDF, no shuffle).
    */
  def extractHtmlText(c: Column): Column =
    htmlPatterns.foldLeft(c) { case (acc, (pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** Fixed-token-window document chunking with overlap — the standard
    * pre-training segmentation pass (context-length windows, stride <
    * window for overlap).  One output row per chunk:
    * `(doc_id, chunk_idx, start_token, chunk_tokens, chunk_hash)`,
    * where `chunk_hash` is the md5 of the space-rejoined token window
    * (chunk TEXT stays out of the row — at 100 TB the chunk table is
    * an index, and the text re-materializes from (doc, start, len)).
    *
    * Windowing rule: starts run `1, 1+stride, …` up to the last FULL
    * window; a document shorter than `window` yields exactly one
    * (short) chunk at start 1, and an empty document one empty chunk —
    * the same `greatest(…, 1)` clamp every sequence-based op here uses.
    *
    * Pure per-row projection + explode: no shuffle, no UDF; the
    * explode fan-out is ~nTokens/stride rows per doc, each a handful
    * of scalars.
    */
  def chunkByTokens(
      df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, s"window=$window stride=$stride must be positive")
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        explode(sequence(
          lit(1),
          greatest(size(col("__toks")) - lit(window - 1), lit(1)),
          lit(stride))).as("start_token"))
      .withColumn("__chunk", slice(col("__toks"), col("start_token"), lit(window)))
      .select(
        col("doc_id"),
        // starts are 1 + k*stride, so the division is exact
        (((col("start_token") - lit(1)) / lit(stride)) + lit(1))
          .cast("long").as("chunk_idx"),
        col("start_token").cast("long").as("start_token"),
        size(col("__chunk")).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", col("__chunk"))).as("chunk_hash"))
  }

  /** Content-defined chunking (CDC) — the storage/dedup community's
    * answer to "fixed-size chunks break on any insertion": a chunk
    * boundary is declared wherever a hash of the trailing `window`
    * characters hits `0 mod divisor`, so boundaries are a function of
    * LOCAL content only.  Insert a byte and only the chunk containing
    * the edit (and at most its neighbor) changes — every other chunk
    * hash survives, which is what makes chunk-level dedup robust to
    * near-identical documents (rsync/LBFS/backup-dedup lineage; the
    * fixed-window "Gear" formulation).
    *
    * Boundary positions come from the codegen'd rolling-Gear
    * expression [[graft.functions.CdcBoundaries]] — ONE integer
    * update per character (the telescoped closed form), which is the
    * real CDC cost model; an earlier per-position `md5(substr)` probe
    * formulation measured ~35× slower for identical semantics.  Chunk
    * spans via `zip_with` over the shifted boundary lists — the whole
    * operator is a pure per-row projection: no explode-then-window,
    * no shuffle.  Expected chunk length ≈ `divisor` characters.
    *
    * The boundary rule is pure integer arithmetic (see CdcBoundaries'
    * scaladoc), replayed positionally by the DuckDB oracle; chunk
    * IDENTITY is the md5 of the exact substring (one md5 per chunk,
    * not per character).
    *
    * Output per chunk: `doc_id, chunk_idx, start (1-based), len,
    * chunk_md5` — chunk_md5 over the exact substring, ready for
    * chunk-level dedup (`GROUP BY chunk_md5`).
    */
  def cdcChunks(
      df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, divisor: Int = 64): DataFrame = {
    require(window > 0 && divisor > 0, s"window=$window divisor=$divisor")
    val t = col("__text")
    val n = length(t)
    val bounds = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.CdcBoundaries(
        org.apache.spark.sql.graft.ColumnBridge.expression(t),
        window, divisor))
    df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("__bounds", bounds)
      .withColumn("__spans",
        filter(
          zip_with(
            concat(array(lit(0)), col("__bounds")),
            concat(col("__bounds"), array(n)),
            (s, e) => struct((s + 1).as("start"), (e - s).as("len"))),
          sp => sp.getField("len") > 0))
      .select(col("doc_id"), posexplode(col("__spans")).as(Seq("chunk_idx", "sp")),
        col("__text"))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("sp.start").cast("long").as("start"),
        col("sp.len").cast("long").as("len"),
        md5(col("__text").substr(col("sp.start"), col("sp.len"))).as("chunk_md5"))
  }

  /** Chunk-level dedup over [[cdcChunks]]: the repeated-content map a
    * CDC store maintains — every chunk hash seen more than once, with
    * its replication count and canonical (min doc, min start) copy.
    */
  def cdcChunkDups(
      df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, divisor: Int = 64): DataFrame =
    cdcChunks(df, idCol, textCol, window, divisor)
      .groupBy("chunk_md5")
      .agg(count("*").cast("long").as("n_copies"),
        min("len").cast("long").as("len"),
        min("doc_id").cast("long").as("first_doc"))
      .where(col("n_copies") > 1)

  /** BM25 relevance scores for a small set of query terms over the
    * corpus — one row per (document, matched term) with the exact
    * Robertson/Sparck-Jones idf flavor `ln(1 + (N-df+0.5)/(df+0.5))`.
    * Per-(doc,term) rows on purpose: summing float scores across terms
    * would make the result depend on aggregation order; the per-term
    * score is a deterministic scalar of exact integers (tf, df, dl, N,
    * Σdl), so it cross-engine-replays bit-near.
    *
    * Scale shape: tokens are filtered to the query terms BEFORE the
    * (doc,term) aggregation, so the shuffle carries only matching
    * occurrences (≪ corpus); `N`/`Σdl` is a 2-long global aggregate
    * and the per-term document frequencies are a ≤|terms|-row frame —
    * both broadcast.
    */
  def bm25Scores(
      corpus: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val docs = corpus.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__toks"), size(col("__toks")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_tokens"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .where(col("term").isInCollection(queryTerms.map(lit(_))))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
    val joined = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
    val avgdl = col("total_tokens").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df_docs") + lit(0.5)) / (col("df_docs") + lit(0.5)))
    val tfPart = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    joined.select(col("doc_id"), col("term"), col("tf"), col("df_docs"),
      (idf * tfPart).as("bm25"))
  }

  /** Per-(document, token) unigram language-model scores: tf within
    * the document, corpus frequency, and the token's negative log
    * probability `-ln(freq / N)` under the corpus unigram model — the
    * classic CCNet-style fluency/rarity signal computed from the
    * corpus itself (no external model table).
    *
    * Per-(doc, token) rows on purpose (the bm25Scores convention):
    * summing the float log-probs per document would make the result
    * depend on aggregation order; each output row is one `ln` of a
    * ratio of exact integers, so it cross-engine-replays bit-near.
    * Callers who need a per-doc total fold the rows in a fixed order
    * (or use [[tokenRarityStats]], which stays integer-exact).
    *
    * Scale shape: the explode path tokenizes the corpus ONCE — the
    * corpus frequency is a token-partitioned window sum over the
    * per-(doc, token) tf aggregate (`freq = Σ_docs tf`, identical
    * integers to a direct corpus count), which replaces the
    * vocab-join of the naive three-branch plan (whose branches each
    * re-scanned and re-tokenized: the lambda inside `tokens` defeats
    * exchange-reuse canonicalization).  The global total comes from a
    * second, explode-free scan — `Σ size(tokens)` is a plain partial
    * aggregate with zero shuffle — so no branch ever re-explodes, no
    * (possibly 10⁸-row) vocabulary is broadcast, and the 1-long total
    * is the only driver-size frame.
    */
  def unigramLogProbs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val byToken = org.apache.spark.sql.expressions.Window.partitionBy("token")
    val total = df.agg(sum(tokenCount(col(textCol))).cast("long").as("n_total"))
    tf.withColumn("freq", sum("tf").over(byToken))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("token"), col("tf"), col("freq"),
        (-log(col("freq").cast("double") / col("n_total"))).as("logprob"))
  }

  /** Per-(document, bigram) INTERPOLATED bigram-LM scores — the
    * standard next-step up from [[unigramLogProbs]] for perplexity
    * filtering: `-ln(λ·c(w₁w₂)/c(w₁) + (1−λ)·c(w₂)/N)` under the
    * corpus's own counts (Jelinek-Mercer interpolation, so unseen
    * continuations back off to the unigram term instead of -∞).
    * Every count is an exact integer and each row's score is a fixed
    * chain of single IEEE ops (two divisions, two products, one add,
    * one ln) — no float aggregation anywhere, so rows replay
    * bit-for-bit across engines regardless of partitioning.
    *
    * Scale shape: bigram and unigram vocabularies are token-keyed
    * hash aggs; the score join lands co-partitioned on the bigram and
    * the two unigram joins on their token — the classic n-gram-LM
    * count pipeline, never a broadcast of the (huge) vocabulary.
    */
  def bigramLogProbs(
      df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75): DataFrame = {
    require(lambda > 0 && lambda < 1, s"bigramLogProbs: lambda=$lambda not in (0,1)")
    val toks = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
    // toks is a materialized attribute, so the per-position lambda
    // does NOT re-tokenize (the n-gram re-inlining trap)
    val pairs = toks.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(
          element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val vocab = tokenFrequencies(df, textCol) // (token, freq)
    // Σ size(tokens) — a plain explode-free partial aggregate — is the
    // same integer as Σ freq but does not re-derive (re-tokenize) the
    // vocabulary branch
    val total = df.agg(sum(tokenCount(col(textCol))).cast("long").as("n_total"))
    val bigrams = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val tf = pairs.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
    tf.join(bigrams, Seq("w1", "w2"))
      .join(vocab.select(col("token").as("w1"), col("freq").as("c1")), "w1")
      .join(vocab.select(col("token").as("w2"), col("freq").as("c2")), "w2")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("w1"), col("w2"), col("tf"),
        (-log(lit(lambda) * (col("cb").cast("double") / col("c1"))
          + lit(1.0 - lambda) * (col("c2").cast("double") / col("n_total"))))
          .as("logprob"))
  }

  /** Integer-exact per-document rarity profile under the corpus
    * unigram model: token count, distinct-token count, the corpus
    * frequency of the document's RAREST token, and the mean corpus
    * frequency of its token occurrences (`Σ tf·freq / n_tokens` — all
    * integer sums, one final division, so the doubles are exact and
    * order-independent).  Low `avg_token_freq` / `min_freq` marks
    * documents full of corpus-rare tokens (typos, boilerplate IDs,
    * non-language content) — the integer-safe complement of
    * [[unigramLogProbs]].
    */
  def tokenRarityStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    unigramLogProbs(df, idCol, textCol)
      .groupBy("doc_id")
      .agg(
        sum("tf").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        min("freq").as("min_freq"),
        sum(col("tf") * col("freq")).as("sum_freq"))
      .withColumn("avg_token_freq",
        col("sum_freq").cast("double") / col("n_tokens"))

  /** Stable whole-document fingerprint (hex md5 — cross-engine). */
  def fingerprintMd5(c: Column): Column = md5(c)

  /** 64-bit fingerprint for joins/bucketing. */
  def fingerprint64(c: Column): Column = xxhash64(c)

  /** Rolling k-gram hashes of a string — step 1 of winnowing.
    * sequence(a,b) with a>b runs DESCENDING in Spark — clamp to 1 so
    * short documents yield a single (short-gram) fingerprint.
    */
  def kgramHashes(c: Column, k: Int = 8): Column =
    kgramHashesWith(c, k, s => xxhash64(s))

  /** As [[kgramHashes]] with a caller-chosen gram hash (the portable
    * flavor passes `DedupOps.md5Hash60` so DuckDB can replay it).
    */
  def kgramHashesWith(c: Column, k: Int, gramHash: Column => Column): Column =
    // null wrap: null text → null hashes (not [null]; `greatest`
    // would otherwise swallow the null length) — same contract as
    // the fused WinnowFingerprint
    when(c.isNull, lit(null).cast("array<bigint>")).otherwise(
      transform(
        sequence(lit(1), greatest(length(c) - lit(k - 1), lit(1))),
        i => gramHash(c.substr(i, lit(k)))))

  /** Winnowing-style rolling fingerprint: hash every character k-gram,
    * then keep the minimum hash of each sliding window of w k-grams
    * (distinct) — the classic local document fingerprint (Schleimer et
    * al., SIGMOD'03) as pure array expressions.
    *
    * Two-stage projection on purpose: nesting the k-gram transform
    * inside the window transform would re-inline (recompute) the whole
    * gram array per window — O(n²) per row.  Materializing the grams
    * as their own column keeps it O(n·w).
    */
  /** Per-document zlib compression ratio — the RefinedWeb/Dolma-style
    * "natural text compresses ~2-3×; templated boilerplate compresses
    * far more" quality signal: `deflate(text).length / text.length`
    * (raw-deflate, fixed level, no header so the constant overhead is
    * minimal).  Deflate is NOT expressible in SQL, so this is one of
    * the engine's rare `mapPartitions` surfaces — a genuinely
    * imperative per-row computation — with the Deflater instance
    * reused across the partition (allocation-free steady state) and
    * rows streaming through (no partition-wide buffering).  Output is
    * deterministic for a fixed zlib level; the correctness pin is the
    * spec (crafted monotonicity + rerun equality), and the driver
    * records the rows-only check (contract's sanctioned weaker gate
    * for non-SQL-expressible ops).
    */
  def compressionRatio(
      df: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    // Row-encoded so the id keeps its NATIVE type (string ids are as
    // legitimate here as everywhere else in this family — a long cast
    // would null them into encoder crashes)
    val in = df.select(col(idCol), col(textCol).cast("string"))
    val outSchema = StructType(in.schema.fields(0) +: Array(
      StructField("n_bytes", LongType, nullable = false),
      StructField("n_deflate", LongType, nullable = false),
      StructField("ratio", DoubleType, nullable = false)))
    in.mapPartitions { it =>
      val deflater = new java.util.zip.Deflater(level, true)
      val buf = new Array[Byte](64 * 1024)
      it.map { row =>
        val text = if (row.isNullAt(1)) "" else row.getString(1)
        val bytes = text.getBytes("UTF-8")
        deflater.reset()
        deflater.setInput(bytes)
        deflater.finish()
        var total = 0L
        while (!deflater.finished()) total += deflater.deflate(buf)
        val ratio =
          if (bytes.length > 0) total.toDouble / bytes.length else 1.0
        Row(row.get(0), bytes.length.toLong, total, ratio)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Zstandard flavor of [[compressionRatio]] — the codec the lake
    * itself runs on (parquet's default), so its ratio is the quality
    * signal most predictive of real storage cost.  Same execution
    * shape: one `mapPartitions` with the native compression context
    * reused across the partition (zstd-jni ships with Spark), rows
    * streaming through, the context CLOSED when the partition drains
    * (it holds off-heap memory — the tarGz lesson: native resources
    * release on every exit path, not at finalization).  Deterministic
    * for a fixed level, so the oracle is a golden-literal pin exactly
    * like the deflate flavor's.
    */
  def zstdCompressionRatio(
      df: DataFrame, idCol: String, textCol: String,
      level: Int = 3): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val in = df.select(col(idCol), col(textCol).cast("string"))
    val outSchema = StructType(in.schema.fields(0) +: Array(
      StructField("n_bytes", LongType, nullable = false),
      StructField("n_zstd", LongType, nullable = false),
      StructField("ratio", DoubleType, nullable = false)))
    in.mapPartitions { it =>
      val ctx = new com.github.luben.zstd.ZstdCompressCtx()
      ctx.setLevel(level)
      var closed = false
      // "Every exit path" includes the ones hasNext never sees: a
      // downstream limit/take that stops pulling, or a task kill.
      // The task-completion listener is the only hook that fires on
      // all of them; the hasNext close below is just the eager path.
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
        if (!closed) { closed = true; ctx.close() }
      }
      new scala.collection.AbstractIterator[Row] {
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !closed) { closed = true; ctx.close() }
          h
        }
        def next(): Row = {
          val row = it.next()
          val text = if (row.isNullAt(1)) "" else row.getString(1)
          val bytes = text.getBytes("UTF-8")
          val n = ctx.compress(bytes).length.toLong
          val ratio =
            if (bytes.length > 0) n.toDouble / bytes.length else 1.0
          Row(row.get(0), bytes.length.toLong, n, ratio)
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Per-document top-k TF-IDF terms — the classic "what is this
    * document about" keywords: `tf · ln(N / df)` with raw corpus
    * counts (N = doc count, df = docs containing the term).  Rank
    * ties break on the term string, so the per-doc top-k is a total
    * order; the score is one ln of a ratio of exact integers times an
    * integer — a single IEEE chain per row, cross-engine exact to the
    * ulp of ln.
    *
    * Scale shape: tf and df are token-keyed hash aggs (co-partitioned
    * join), the doc count is a 1-row broadcast, and the per-doc top-k
    * is one window partitioned by doc — bounded output k rows per doc.
    */
  def tfIdfTopTerms(
      df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    require(k > 0, s"tfIdfTopTerms: k=$k must be positive")
    val tf = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("token"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "token", "tf", "df", "tfidf")
  }

  /** Version diff between two corpus snapshots — the audit that runs
    * before promoting a re-crawled / re-filtered corpus: per document
    * id, whether it was `added`, `removed`, `changed`, or `unchanged`
    * between `base` and `revised`, decided by content hash (md5 so
    * external engines replay it).  Training-data governance wants
    * exactly this table: what changed since the mix we last trained
    * on, and how much.
    *
    * Scale shape: two hash projections and ONE full outer join on the
    * id — both sides shuffle once on the same key (co-partitioned
    * join), the hashes travel instead of the documents.
    */
  def corpusDiff(
      base: DataFrame, revised: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val b = base.select(col(idCol).as("id"), md5(col(textCol)).as("base_md5"))
    val r = revised.select(col(idCol).as("id"), md5(col(textCol)).as("rev_md5"))
    b.join(r, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("base_md5").isNull, "added")
          .when(col("rev_md5").isNull, "removed")
          .when(col("base_md5") === col("rev_md5"), "unchanged")
          .otherwise("changed"))
      .select("id", "status", "base_md5", "rev_md5")
  }

  /** Corpus-wide adjacent-symbol pair counts — the statistic BPE
    * tokenizer TRAINING maximizes at each merge step (Sennrich et al.
    * 2016): within every whitespace word, count each adjacent
    * character pair, then rank corpus totals.  This is the first
    * merge's exact decision table (and the shape of every later one —
    * full BPE training repeats this agg once per merge on the
    * re-tokenized corpus); emitted as (rank, pair, n) for the top-k
    * candidates, ties broken on the pair string so the ranking is a
    * total order.
    *
    * Scale shape: explode to pairs (bounded by corpus characters),
    * ONE hash agg, distributed TakeOrdered for the top-k — the
    * wordcount pattern on character pairs.
    */
  def bpePairCounts(df: DataFrame, textCol: String, topK: Int = 20): DataFrame = {
    require(topK > 0, s"bpePairCounts: topK=$topK must be positive")
    val toks = df.select(tokens(col(textCol)).as("toks"))
      .select(explode(col("toks")).as("w"))
      // single-char words carry no pair; filtering also keeps the
      // sequence bound >= 1 (Spark's sequence(1, 0) runs DESCENDING)
      .filter(length(col("w")) >= 2)
    val top = toks
      .select(explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("pair"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "pair", "n")
  }

  /** FULL BPE tokenizer training (Sennrich et al. 2016), distributed:
    * `numMerges` iterations of (count adjacent symbol pairs → take the
    * most frequent → merge it everywhere), returning the learned merge
    * table `(merge_rank, left, right, n)` — the artifact a tokenizer
    * ships.  [[bpePairCounts]] is one iteration's decision table; this
    * is the loop.
    *
    * Scale shape — the standard trick that makes the loop cheap: all
    * iterations run over the WORD VOCABULARY with counts (one
    * corpus-scale aggregation up front; every later job is
    * vocab-scale, usually orders of magnitude smaller).  Each
    * iteration is one pair-count aggregation (explode over symbol
    * positions, weighted by word count) plus a 1-row argmax collect,
    * and the winning merge is applied with a pure `aggregate`
    * expression (left-to-right greedy fold — matching the reference
    * algorithm's leftmost-first replacement), so there is no UDF and
    * no driver materialization of the vocabulary.  Round state
    * rotates through persist/unpersist with a periodic localCheckpoint
    * to keep lineage flat (the CC-loop discipline).
    *
    * Determinism: counts are exact integers and the argmax tie-breaks
    * on (n DESC, left ASC, right ASC) — a total order, so the merge
    * table replays identically on any partitioning (golden-literal
    * oracle material).  Simplification vs the paper: no end-of-word
    * marker symbol (merges may therefore cross what the marker flavor
    * would keep separate at word ends) — the marker is one
    * `concat(syms, array(lit("</w>")))` away if a consumer needs it.
    *
    * Stops early when no pair reaches `minCount` (the paper's
    * vocabulary-threshold stop).
    */
  def bpeTrain(
      df: DataFrame, textCol: String,
      numMerges: Int, minCount: Long = 2L,
      collectThreshold: Int = 1000000): DataFrame = {
    require(numMerges > 0, s"bpeTrain: numMerges=$numMerges must be positive")
    require(minCount >= 1, s"bpeTrain: minCount=$minCount must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // Adaptive driver kernel (r19, the fit/pageRank discipline): the
    // merge loop is vocabulary-scale, and word vocabularies grow
    // sub-linearly in corpus size (Heaps' law) — when the vocab fits
    // the driver budget, ONE distributed job (the corpus-scale
    // tokenize+count) replaces numMerges sequential vocab-scale jobs
    // whose ~0.2 s scheduler floor each dominated q_bpe_train at sf0.1
    // (guide §2.4: remove jobs outright).  The kernel reproduces the
    // distributed loop exactly: same overlapping adjacent-pair counts,
    // same (n DESC, left ASC, right ASC) argmax in UTF8-binary order,
    // same leftmost-first greedy merge fold (OpsSpec's "BPE training:
    // driver kernel equals the distributed merge loop" pins equality).
    // limit(threshold+1) bounds the collect — an over-budget
    // vocabulary never reaches the driver and the loop below handles
    // it distributed, so 100 TB corpora with enormous vocabularies keep
    // the r18 shape.
    val vocab = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    if (collectThreshold > 0) {
      val collected = vocab.as[(String, Long)]
        .limit(math.min(collectThreshold.toLong + 1L, Int.MaxValue.toLong).toInt)
        .collect()
      if (collected.length <= collectThreshold)
        return bpeTrainKernel(spark, collected, numMerges, minCount)
    }
    val emptySyms = array().cast("array<string>")
    var words = vocab
      .select(col("wc"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms"))
      .persist()
    // 2-slot persist rotation (the CC-loop discipline): the pair-count
    // job of iteration r materializes iteration r's words, which makes
    // it safe to release iteration r-1's blocks — so each iteration is
    // exactly ONE distributed job (the aggregation that also serves as
    // the argmax collect), with no extra count() materialization pass
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var rank = 1L
    var done = false
    while (!done && rank <= numMerges) {
      val best = words.filter(size(col("syms")) >= 2)
        .select(col("wc"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("left"),
            element_at(col("syms"), i + 1).as("right")))).as("p"))
        .groupBy(col("p.left").as("left"), col("p.right").as("right"))
        .agg(sum("wc").as("n"))
        .orderBy(col("n").desc, col("left"), col("right"))
        .limit(1).collect()
      prev.foreach(_.unpersist(blocking = false))
      prev = None
      if (best.isEmpty || best(0).getLong(2) < minCount) done = true
      else {
        val (l, r, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank, l, r, n))
        val merged = lit(l + r)
        // left-to-right greedy fold: append, or replace the tail when
        // it closes the winning pair ("aaa" under (a,a) → [aa, a])
        val applyMerge = aggregate(col("syms"), emptySyms, (acc, x) =>
          when(size(acc) > 0 &&
              element_at(acc, -1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
            .otherwise(concat(acc, array(x))))
        val next0 = words.select(col("wc"), applyMerge.as("syms"))
        // flat lineage: every 8th round cuts the plan chain
        val next = (if (rank % 8 == 0) next0.localCheckpoint(eager = false)
                    else next0).persist()
        prev = Some(words)
        words = next
        rank += 1
      }
    }
    prev.foreach(_.unpersist(blocking = false))
    words.unpersist(blocking = false)
    merges.toSeq.toDF("merge_rank", "left", "right", "n")
  }

  /** Driver merge loop of [[bpeTrain]] over a collected word
    * vocabulary — exact replay of the distributed loop:
    *   - symbols split by CODE POINT (Spark's `substr` counts code
    *     points; Java's `toCharArray` would split surrogate pairs),
    *   - adjacent pairs counted at every position (overlaps included),
    *     weighted by word count,
    *   - argmax on (n DESC, left ASC, right ASC) in UTF8-BINARY string
    *     order (Spark's default collation; UTF-16 compareTo diverges
    *     above the BMP),
    *   - the winning pair applied with the same leftmost-first greedy
    *     fold as the `aggregate` expression,
    *   - stop below `minCount`.
    * Pair counts update incrementally (only words containing the
    * winning adjacency recount), so the whole loop is O(vocab · merges)
    * scans with O(changed words) hash updates — microseconds against
    * the ~0.2 s/round distributed scheduler floor it replaces.
    */
  private def bpeTrainKernel(
      spark: org.apache.spark.sql.SparkSession,
      vocab: Array[(String, Long)],
      numMerges: Int, minCount: Long): DataFrame = {
    import spark.implicits._
    def utf8Cmp(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
    // symbol interning: the alphabet plus merged symbols is tiny, and
    // shared refs make the per-round adjacency scans reference-equal
    val intern = new java.util.HashMap[String, String]()
    def sym(s: String): String = {
      val p = intern.putIfAbsent(s, s); if (p == null) s else p
    }
    val words: Array[Array[String]] = vocab.map { case (w, _) =>
      w.codePoints().toArray.map(cp => sym(new String(Character.toChars(cp))))
    }
    val wcs: Array[Long] = vocab.map(_._2)
    val counts = new java.util.HashMap[(String, String), Long]()
    def bump(l: String, r: String, d: Long): Unit = {
      val k = (l, r)
      val n = counts.getOrDefault(k, 0L) + d
      if (n == 0L) counts.remove(k) else counts.put(k, n)
    }
    def bumpAll(s: Array[String], d: Long): Unit = {
      var i = 0
      while (i < s.length - 1) { bump(s(i), s(i + 1), d); i += 1 }
    }
    var wi = 0
    while (wi < words.length) { bumpAll(words(wi), wcs(wi)); wi += 1 }
    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var rank = 1L
    var done = false
    while (!done && rank <= numMerges) {
      var bl: String = null; var br: String = null; var bn = Long.MinValue
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val n = e.getValue
        val better = bl == null || n > bn || (n == bn && {
          val c = utf8Cmp(e.getKey._1, bl)
          c < 0 || (c == 0 && utf8Cmp(e.getKey._2, br) < 0)
        })
        if (better) { bl = e.getKey._1; br = e.getKey._2; bn = n }
      }
      if (bl == null || bn < minCount) done = true
      else {
        merges += ((rank, bl, br, bn))
        val merged = sym(bl + br)
        wi = 0
        while (wi < words.length) {
          val s = words(wi)
          var has = false
          var i = 0
          while (!has && i < s.length - 1) {
            if (s(i).eq(bl) && s(i + 1).eq(br)) has = true
            i += 1
          }
          if (has) {
            val wc = wcs(wi)
            bumpAll(s, -wc)
            // leftmost-first greedy fold, identical to the distributed
            // loop's `aggregate` expression
            val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
            var j = 0
            while (j < s.length) {
              val x = s(j)
              if (out.nonEmpty && out.last.eq(bl) && x.eq(br))
                out(out.length - 1) = merged
              else out += x
              j += 1
            }
            val ns = out.toArray
            bumpAll(ns, wc)
            words(wi) = ns
          }
          wi += 1
        }
        rank += 1
      }
    }
    merges.toSeq.toDF("merge_rank", "left", "right", "n")
  }

  /** Applies a trained BPE merge table to every document — the encode
    * half of the tokenizer family ([[bpeTrain]] is the train half):
    * per word, split to characters, then apply each merge in rank
    * order with the same greedy left-to-right fold the training loop
    * used.  Ascending-rank sequential application is equivalent to the
    * classic "merge the lowest-rank pair anywhere, repeat" algorithm
    * (a merge's operands are strictly lower-rank constructs, so later
    * merges can never create an occurrence of an earlier pair) —
    * OpsSpec pins that equivalence against an independent
    * implementation of the classic loop.
    *
    * Output per doc: word count, encoded token count (what packing /
    * budget selection actually consume), and an md5 fingerprint of the
    * full token sequence (so a fixture pins the exact encoding, not
    * just counts).  The merge table ships as a broadcast array and the
    * per-word merge loop runs in one of the engine's rare sanctioned
    * `mapPartitions` bodies — iterate-to-fixpoint string rewriting is
    * not expressible as a finite builtin expression tree for an
    * arbitrary merge table, and this IS the production shape anyway: a
    * tokenizer is trained once on a sample, then applied corpus-wide
    * as a tight partition-local loop (scan-bound, zero shuffle).
    */
  def bpeEncode(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(merges.toArray)
    val in = df.select(col(idCol), col(textCol).cast("string"))
    val outSchema = StructType(in.schema.fields(0) +: Array(
      StructField("n_words", LongType, nullable = false),
      StructField("n_bpe_tokens", LongType, nullable = false),
      StructField("bpe_md5", StringType, nullable = false)))
    in.mapPartitions { it =>
      val ms = bc.value
      it.map { row =>
        val text = if (row.isNullAt(1)) "" else row.getString(1)
        val words = text.split("\\s+").filter(_.nonEmpty)
        var total = 0L
        val md = java.security.MessageDigest.getInstance("MD5")
        words.foreach { w =>
          var syms: Array[String] = w.map(_.toString).toArray
          ms.foreach { case (l, r) =>
            // one greedy left-to-right pass exhausts the pair: the
            // merged symbol l+r can never itself be l's tail partner
            // (r is non-empty), so no (l, r) occurrence survives
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var i = 0
            while (i < syms.length) {
              if (out.nonEmpty && out(out.length - 1) == l && syms(i) == r)
                out(out.length - 1) = l + r
              else out += syms(i)
              i += 1
            }
            syms = out.toArray
          }
          total += syms.length
          // token-boundary and word-boundary separators keep the
          // fingerprint injective over token sequences
          syms.foreach { t =>
            md.update(t.getBytes("UTF-8")); md.update(1.toByte)
          }
          md.update(2.toByte)
        }
        val fp = md.digest().map("%02x".format(_)).mkString
        Row(row.get(0), words.length.toLong, total, fp)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Pairwise cross-source contamination matrix: for every pair of
    * sources, the number of DISTINCT word k-grams they share, each
    * side's kept gram count, and the gram-set Jaccard — the "which of
    * my corpus slices copy from each other" overview that runs before
    * choosing mixture weights (a source pair with high overlap
    * double-counts its content under independent sampling).
    *
    * Grams travel as 8-byte hashes (`portableHash` selects the
    * md5-60bit flavor the DuckDB oracle replays; default xxhash64 for
    * scale).  A gram present in more than `maxSources` sources is
    * dropped BEFORE the pair join — universal boilerplate would
    * otherwise contribute a `k²` row blow-up per gram while carrying
    * no pair-discrimination signal (same hot-key philosophy as
    * `DedupOps.maxBucket`).
    *
    * Shape: ONE aggregation per gram hash collects the (bounded, ≤
    * maxSources after the guard) source set, and the source pairs are
    * expanded ARRAY-SIDE from that set — a projection, not a
    * gram-keyed self-join, so the gram hashes shuffle twice total
    * (distinct, group) instead of four times, and no join ever sees
    * O(sources-per-gram²) shuffled rows.
    */
  def sourceOverlap(
      df: DataFrame, sourceCol: String, textCol: String,
      k: Int = 8, maxSources: Int = 16,
      portableHash: Boolean = false,
      preDistinct: Boolean = false): DataFrame = {
    val gramHash: Column => Column =
      if (portableHash) DedupOps.md5Hash60 else (s => xxhash64(s))
    val toks = df.select(col(sourceCol).as("source"),
      tokens(col(textCol)).as("toks"))
    // NO distinct before the set aggregation (the r12 default):
    // collect_set dedups map-side inside the partial aggregate, so a
    // separate distinct() is a SECOND corpus-volume shuffle of the
    // same (source, gh) rows for nothing — the partials entering the
    // one remaining shuffle are already per-partition sets.
    // preDistinct = true keeps the two-shuffle form as the A/B
    // reference (result-identical: set union ignores multiplicity).
    val grams0 = toks
      .select(col("source"), explode(wordNgramsOf(col("toks"), k)).as("gram"))
      .select(col("source"), gramHash(col("gram")).as("gh"))
    val grams = if (preDistinct) grams0.distinct() else grams0
    // one agg: the canonically-sorted source set per gram; the
    // hot-gram guard bounds the pair fan-out below to maxSources²
    val bySet = grams.groupBy("gh")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) <= maxSources)
      .persist()
    try {
      // per-source kept-gram counts: explode the (deduplicated) sets
      val sizes = bySet.select(explode(col("srcs")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("n_grams"))
      // ordered pairs straight from the sorted array — a projection
      val pairs = bySet
        .filter(size(col("srcs")) >= 2)
        .select(explode(flatten(transform(col("srcs"), (a, i) =>
          transform(slice(col("srcs"), i + 2, size(col("srcs"))), b =>
            struct(a.as("source_a"), b.as("source_b")))))).as("p"))
        .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
        .agg(count(lit(1)).as("shared_grams"))
      pairs
        .join(broadcast(sizes.select(col("source").as("source_a"),
          col("n_grams").as("grams_a"))), "source_a")
        .join(broadcast(sizes.select(col("source").as("source_b"),
          col("n_grams").as("grams_b"))), "source_b")
        .withColumn("jaccard", col("shared_grams").cast("double") /
          (col("grams_a") + col("grams_b") - col("shared_grams")))
        .select("source_a", "source_b", "shared_grams",
          "grams_a", "grams_b", "jaccard")
        // materialize while bySet is still cached: both branches read it
        .localCheckpoint(true)
    } finally { bySet.unpersist(); () }
  }

  def winnowFingerprints(
      df: DataFrame, textCol: String, outCol: String,
      k: Int = 8, w: Int = 16, portableHash: Boolean = false): DataFrame =
    // ONE fused pass (graft.functions.WinnowFingerprint: char→byte
    // offset table + O(grams) monotonic-deque window minima); the
    // composed form below is the parity-spec reference — measured
    // 63 s at sf10 for its O(chars·w) interpreted slices
    df.withColumn(outCol, org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.WinnowFingerprint(
        org.apache.spark.sql.graft.ColumnBridge.expression(col(textCol)),
        k, w, portableHash)))

  /** Composed array-expression form of [[winnowFingerprints]] —
    * parity-spec reference.
    */
  private[graft] def winnowFingerprintsHof(
      df: DataFrame, textCol: String, outCol: String,
      k: Int = 8, w: Int = 16, portableHash: Boolean = false): DataFrame = {
    val gcol = outCol + "__grams"
    val gramHash: Column => Column =
      if (portableHash) DedupOps.md5Hash60 else s => xxhash64(s)
    df.withColumn(gcol, kgramHashesWith(col(textCol), k, gramHash))
      .withColumn(outCol,
        when(col(gcol).isNull, lit(null).cast("array<bigint>")).otherwise(
          array_distinct(transform(
            sequence(lit(1), greatest(size(col(gcol)) - lit(w - 1), lit(1))),
            i => array_min(slice(col(gcol), i, lit(w)))))))
      .drop(gcol)
  }
}
