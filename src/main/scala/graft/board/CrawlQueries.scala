package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{MultimodalOps, TextOps, UrlOps}
import SparkEntry._

/** Crawl rows: URL governance (canonicalization, robots, sitemaps,
  * feeds, SURT keys) and the WARC/Common Crawl record walks.
  */
object CrawlQueries {

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

  val queries: Seq[QuerySpec] = Seq(
    // HTML -> text extraction: the oracle replays the same
    // htmlPatterns chain, so both engines wrap each doc in the SAME
    // deterministic markup (script/style/comment blocks, tags,
    // entities) and must strip it identically (the q_pii_redact
    // synthesis pattern)
    QuerySpec("q_html_extract", run = { (s, dir) =>
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
      // HTML->text replay: the same synthesized markup wrap, stripped by
      // the same ordered htmlPatterns chain (DuckDB needs the 'g' flag;
      // single quotes in replacements are SQL-escaped)
      oracle = _ => {
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
      }),
    // URL canonicalization + registrable domain over a synthesized
    // URL (mixed case, default port, tracking params, fragment,
    // multi-part suffix) — the crawl-corpus canonicalize-before-
    // group discipline; oracle replays the identical part rules
    QuerySpec("q_url_normalize", run = { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val url = urlSynthCol
        docs.select(col("doc_id"),
            UrlOps.normalizeUrl(url).as("url_norm"),
            UrlOps.registrableDomain(url).as("domain"))
          .orderBy("doc_id")
      },
      // URL canonicalization replay: same part extraction, same default-
      // port/tracking-param/fragment rules, same registrable-domain cut
      oracle = _ =>
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
             |FROM n ORDER BY doc_id""".stripMargin),
    // per-domain frequency cap: at most 5 docs per registrable
    // domain, rank by doc_id — the Common Crawl anti-domination cut
    QuerySpec("q_domain_cap", run = { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
        UrlOps.capPerDomain(
            docs.select(col("doc_id"), urlSynthCol.as("url")),
            "url", "doc_id", cap = 5)
          .select(col("doc_id"), col("domain"),
            col("domain_rank").cast("long").as("domain_rank"))
          .orderBy("doc_id")
      },
      // per-domain cap replay: same domain, same deterministic
      // row_number cut
      oracle = _ =>
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
             |FROM r WHERE domain_rank <= 5 ORDER BY doc_id""".stripMargin),
    QuerySpec("q_warc_records", run = { (s, dir) =>
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
      // WARC replay: record table as id arithmetic (tar split rule for
      // the payload); header bytes are the octet_length of the SAME
      // header string the synthesizer emits, offsets a running sum of
      // (header + block + 4)
      oracle = _ =>
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
          |FROM o ORDER BY doc_id, rec_idx""".stripMargin),
    QuerySpec("q_warc_cdx", run = { (s, dir) =>
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
      // CDX replay: the same record table THROUGH the gzip layer — the
      // census must inflate, CRC-verify, and re-frame every member to
      // report these; compressed offsets are deflate-dependent and are
      // pinned by OpsSpec's ranged-read contract instead.  The STREAMING
      // flavor shares this text verbatim (stream == batch is the law).
      oracle = _ => warcCdxOracleSql),
    QuerySpec("q_cc_e2e", run = { (s, dir) =>
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
      // Common Crawl e2e replay: SAME page synthesis and regex chain as
      // q_html_extract (the .warc.gz container round trip on the Spark
      // side must be invisible), plus the response URI and the
      // token-count gate
      oracle = _ => {
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
      }),
    QuerySpec("q_cc_wet", run = { (s, dir) =>
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
      // WET replay: the conversion record is record 1 (after warcinfo)
      // and carries the document text verbatim — the gzip/WARC framing
      // must be byte-invisible
      oracle = _ =>
        s"""SELECT doc_id,
          |       CAST(1 AS BIGINT) AS rec_idx,
          |       'https://example.com/' || CAST(doc_id AS VARCHAR) || '/1' AS uri,
          |       text AS page_text
          |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("q_cc_wat", run = { (s, dir) =>
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
      // WAT replay: link count and first link are id arithmetic by
      // synthesis; the JSON envelope round-trips through the framing
      oracle = _ =>
        s"""SELECT doc_id,
          |       'https://example.com/' || CAST(doc_id AS VARCHAR) || '/1' AS uri,
          |       CAST(1 + doc_id % 4 AS BIGINT) AS n_links,
          |       'https://example.com/' || CAST(doc_id AS VARCHAR) || '/out0' AS first_link
          |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("q_warc_revisit", run = { (s, dir) =>
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
      // revisit replay: even ids carry one revisit whose digest is the
      // deterministic md5(id:text) — the join must resolve it to the
      // k=0 response's URI; DuckDB recomputes the digest itself
      oracle = _ =>
        s"""SELECT doc_id,
          |       'https://example.com/' || CAST(doc_id AS VARCHAR) || '/re0'
          |         AS revisit_uri,
          |       'https://example.com/' || CAST(doc_id AS VARCHAR) || '/0'
          |         AS original_uri,
          |       'md5:' || md5(CAST(doc_id AS VARCHAR) || ':' || text)
          |         AS digest
          |FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin),
    QuerySpec("q_cc_http_e2e", run = { (s, dir) =>
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
      // crawl-faithful e2e replay: q_cc_e2e's chain gated on the
      // synthesized status rule (404 for doc_id % 7 = 0) with the
      // envelope's type/charset carried through
      oracle = _ => {
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
      }),
    QuerySpec("q_warc_cdxj", run = { (s, dir) =>
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
      // CDXJ replay: the index line's parsed fields in closed form —
      // urlkey is the SURT of the synthesized URI, timestamp constant,
      // url/type/clen the q_warc_cdx record table
      oracle = _ =>
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
          |FROM m ORDER BY doc_id, rec_idx""".stripMargin),
    QuerySpec("q_surt_keys", run = { (s, dir) =>
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
      // SURT replay: the identical lowercase/extract/reverse/sort steps
      // over the same synthesized URL — byte-for-byte, with the
      // default-port strip gated on the extracted scheme; the alt arm
      // derives the scheme×port keep/strip matrix independently from
      // doc_id arithmetic
      oracle = _ =>
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
             |ORDER BY p.doc_id""".stripMargin),
    QuerySpec("q_feed_entries", run = { (s, dir) =>
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
      // feed replay: kept (link-bearing) entries re-indexed by a window
      // — the (doc_id+k)%6 link-less arm must vanish without a gap
      oracle = _ =>
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
          |FROM e ORDER BY doc_id, entry_idx""".stripMargin),
    QuerySpec("q_sitemap_entries", run = { (s, dir) =>
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
      // sitemap replay: every entry is doc_id arithmetic — index hosts
      // (doc_id % 4 = 0) emit child-sitemap rows, the rest page rows
      // with the k=1 entity-decoded loc and the every-3rd lastmod drop
      oracle = _ =>
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
          |FROM ks ORDER BY doc_id, entry_idx""".stripMargin),
    QuerySpec("q_robots_sitemaps", run = { (s, dir) =>
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
      // sitemap-directive replay: one per doc plus the lowercase arm
      // on every third
      oracle = _ =>
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
          |FROM one ORDER BY doc_id, sitemap_idx""".stripMargin),
    QuerySpec("q_robots_rules", run = { (s, dir) =>
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
      // group 0 is graftbot (2-3 rules + crawl-delay), group 1 the
      // multi-agent */legacybot pair (one row per agent per rule)
      oracle = _ =>
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
          |ORDER BY doc_id, group_idx, agent, rule_idx""".stripMargin),
    QuerySpec("q_robots_eval", run = { (s, dir) =>
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
      // robots eval replay: the RFC decisions in closed form — p0
      // disallowed (prefix match), p1 allowed (longer allow wins), p2
      // allowed (the specific graftbot group SHADOWS the * group), p3
      // decided by the even-id conditional rule, p4 unmatched → allowed
      oracle = _ =>
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
          |FROM p ORDER BY doc_id, path""".stripMargin))
}
