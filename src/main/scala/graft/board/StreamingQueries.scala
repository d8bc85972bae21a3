package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{AsofOps, MultimodalOps, StreamingOps}
import SparkEntry._

/** Streaming rows: event-time windows, sessions and joins over the
  * events table, and the two file-stream drains.
  */
object StreamingQueries {

  /** The `stages` of the two drain rows: one instrumented AvailableNow
    * drain that times the fixture staging (fingerprint-skipped on warm runs),
    * the stream's start→self-termination window (the microbatch
    * machinery, apart from the census work), and the memory-sink
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
    StreamingOps.withDriverSideBatchListing(s, StreamingOps.drainFilesPerTrigger) {
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

  /** Stage the documents table as a landing zone of `shard-<id>.tar`
    * files for the streaming census (overwritten per call — the
    * landing zone must reflect the CURRENT corpus, and at sf0.01 the
    * write is 500 small files).
    */
  private[graft] def stageShardFiles(s: SparkSession, dir: String): String =
    StreamingOps.stageLock.synchronized {
      val staged = StreamingOps.streamStageDir(dir, "tarshards")
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
    StreamingOps.stageLock.synchronized {
      val staged = StreamingOps.streamStageDir(dir, "warcshards")
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

  /** The as-of join oracle, in exact integer µs (q_events_asof and the
    * raw-TimestampType flavor q_events_asof_ts).
    */
  private val asofOracleSql: String =
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
        |FROM c WHERE is_left ORDER BY user_id, purchase_id""".stripMargin

  val queries: Seq[QuerySpec] = Seq(
    // schema-explicit JSON sidecar parse over events.props: struct
    // parse (from_json), flatten, single-path extraction — grouped to
    // integer-exact aggregates
    QuerySpec("q_json_extract", run = { (s, dir) =>
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
      // JSON sidecar replay: json_extract_string = get_json_object /
      // from_json field access on the same path; DuckDB sums promote to
      // HUGEINT, so every aggregate is cast back to BIGINT
      oracle = _ =>
        """SELECT event_type,
          |       CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
          |       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
          |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k_path
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    QuerySpec("q_key_skew", run = { (s, dir) =>
        // pre-shuffle skew report on the natural join key of events:
        // the decision input for plain vs broadcast vs salted joins
        graft.ops.ProfileOps.keySkew(
            StreamingOps.readEventsBatch(s, dir), "user_id", topK = 10)
          .orderBy("rank")
      },
      // hot-key skew replay: per-key counts, (n desc, key) top-k, exact
      // integer shares
      oracle = _ =>
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
          |FROM r CROSS JOIN t WHERE r.rank <= 10 ORDER BY rank""".stripMargin),
    QuerySpec("q_warc_cdx_stream", run = { (s, dir) =>
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
      oracle = _ => warcCdxOracleSql,
      stages = Some((s, dir) => streamDrainStages(s, stageWarcGzFiles(s, dir),
        d => StreamingOps.warcCdxStream(
          s, d, maxFilesPerTrigger = StreamingOps.drainFilesPerTrigger)))),
    QuerySpec("q_salted_join", run = { (s, dir) =>
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
      // salted-join replay: salting only re-routes rows, so the oracle
      // is the PLAIN join + aggregation (result-set equality is the
      // whole point of the skew-mitigation rewrite)
      oracle = _ =>
        """WITH dim AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS type_count
          |  FROM events GROUP BY event_type)
          |SELECT user_id,
          |       CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(sum(type_count) AS BIGINT) AS sum_tc
          |FROM events JOIN dim USING (event_type)
          |GROUP BY user_id ORDER BY user_id""".stripMargin),
    QuerySpec("q_events_window", run = { (s, dir) =>
        StreamingOps.windowedCounts(StreamingOps.readEventsBatch(s, dir))
          .orderBy("bucket5m", "event_type")
      },
      oracle = _ =>
        """SELECT epoch_us(ts) // 300000000 AS bucket5m, event_type,
          |       CAST(count(*) AS BIGINT) AS cnt,
          |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_millis
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("q_events_hopping", run = { (s, dir) =>
        // 10-min windows every 5 min — each event in 2 overlapping
        // windows via the integer offset explode
        StreamingOps.hoppingCounts(StreamingOps.readEventsBatch(s, dir))
          .orderBy("wstart_us", "event_type")
      },
      // hopping replay: the same (tus DIV slide − o)·slide start, both
      // offsets always inside the 2× window when slide divides window
      oracle = _ =>
        """SELECT wstart_us, event_type,
          |       CAST(count(*) AS BIGINT) AS cnt,
          |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_millis
          |FROM (
          |  SELECT (epoch_us(ts) // 300000000 - o.o) * 300000000 AS wstart_us,
          |         epoch_us(ts) AS tus, event_type, value
          |  FROM events, (SELECT unnest(range(2)) AS o) o) x
          |WHERE tus - wstart_us < 600000000
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("q_events_asof", run = { (s, dir) =>
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
      oracle = _ => asofOracleSql),
    QuerySpec("q_events_asof_ts", run = { (s, dir) =>
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
      // raw-TimestampType as-of: AsofOps normalizes timestamps to exact
      // integer µs internally, so the µs-integer oracle is IDENTICAL
      oracle = _ => asofOracleSql),
    QuerySpec("q_event_paths", run = { (s, dir) =>
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
      // path replay: two lags per user in (time, id) order, top-10
      // trigram paths with a (count desc, path asc) tie-break
      oracle = _ =>
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
          |SELECT path, n FROM t ORDER BY n DESC, path LIMIT 10""".stripMargin),
    QuerySpec("q_ewma", run = { (s, dir) =>
        val ev = StreamingOps.readEventsBatch(s, dir)
          .withColumn("tus", expr("ts DIV 1000"))
        StreamingOps.ewmaPerUser(ev).orderBy("user_id")
      },
      // EWMA replay: same (t, id)-sorted per-user list, same
      // first-element seed, same fold — the float chain is a
      // deterministic function of the ordered data in both engines
      oracle = _ =>
        """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id AS i,
          |             CAST(floor(value * 1000) AS BIGINT) AS vm FROM events),
          |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          |        list_transform(
          |          list_sort(list({'t': t, 'i': i, 'vm': vm})),
          |          x -> CAST(x.vm AS DOUBLE)) AS vs
          |      FROM e GROUP BY 1)
          |SELECT user_id, n_events,
          |       list_reduce(vs, (a, b) -> a + 0.125 * (b - a)) AS ewma_millis
          |FROM g ORDER BY user_id""".stripMargin),
    QuerySpec("q_events_session_native", run = { (s, dir) =>
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
      // native session-window replay: gaps-and-islands with the SAME
      // boundary rule Spark's session_window uses (new session when the
      // gap is >= 30 min; window end = last event + gap)
      oracle = _ =>
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
          |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin),
    QuerySpec("q_event_transitions", run = { (s, dir) =>
        val ev = StreamingOps.readEventsBatch(s, dir)
          .withColumn("tus", expr("ts DIV 1000"))
        StreamingOps.transitionCounts(ev)
          .orderBy("from_type", "to_type")
      },
      // transition replay: lag pairs per user in (time, id) order;
      // per-from share is one division of exact counts
      oracle = _ =>
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
          |FROM c ORDER BY from_type, to_type""".stripMargin),
    QuerySpec("q_cohort_retention", run = { (s, dir) =>
        val ev = StreamingOps.readEventsBatch(s, dir)
          .withColumn("tus", expr("ts DIV 1000"))
        StreamingOps.cohortRetention(ev)
          .orderBy("cohort_week", "week_offset")
      },
      // cohort replay: epoch-aligned integer week buckets; retention vs
      // the cohort's own week 0
      oracle = _ =>
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
          |FROM g ORDER BY 1, 2""".stripMargin),
    QuerySpec("q_rolling_sum", run = { (s, dir) =>
        val ev = StreamingOps.readEventsBatch(s, dir)
          .withColumn("tus", expr("ts DIV 1000"))
        StreamingOps.rollingStats(ev, k = 5)
          .select(col("event_id"), col("user_id"), col("tus"),
            col("roll_n").cast("long").as("roll_n"),
            col("roll_millis"))
          .orderBy("event_id")
      },
      // rolling replay: the same ANSI ROWS frame; integer value millis
      oracle = _ =>
        """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus,
          |             CAST(floor(value * 1000) AS BIGINT) AS vm FROM events)
          |SELECT event_id, user_id, CAST(tus AS BIGINT) AS tus,
          |       CAST(count(*) OVER w AS BIGINT) AS roll_n,
          |       CAST(sum(vm) OVER w AS BIGINT) AS roll_millis
          |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
          |                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin),
    QuerySpec("q_events_pivot", run = { (s, dir) =>
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
      // pivot replay: conditional sums per event type over user buckets
      oracle = _ =>
        """SELECT user_id % 10 AS ub,
          |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
          |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
          |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
          |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
          |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q_event_funnel", run = { (s, dir) =>
        val ev = StreamingOps.readEventsBatch(s, dir)
          .withColumn("tus", expr("ts DIV 1000"))
        StreamingOps.funnelSteps(ev, Seq("view", "click", "purchase"))
          .select(col("user_id"), col("t_1").as("t_view"),
            col("t_2").as("t_click"), col("t_3").as("t_purchase"),
            col("depth"))
          .orderBy("user_id")
      },
      // funnel replay: first view, first click strictly after it, first
      // purchase strictly after that — µs integers end-to-end
      oracle = _ =>
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
          |ORDER BY user_id""".stripMargin),
    QuerySpec("q_events_interval_join", run = { (s, dir) =>
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
      // interval-join replay: every click in the 4h before a same-user
      // purchase; µs integer band on both sides
      oracle = _ =>
        """SELECT e1.user_id AS user_id, e1.event_id AS purchase_id,
          |       e2.event_id AS click_id,
          |       CAST(epoch_us(e1.ts) - epoch_us(e2.ts) AS BIGINT) AS gap_us
          |FROM events e1 JOIN events e2
          |  ON e1.user_id = e2.user_id
          | AND e1.event_type = 'purchase' AND e2.event_type = 'click'
          | AND epoch_us(e2.ts) BETWEEN epoch_us(e1.ts) - 14400000000 AND epoch_us(e1.ts)
          |ORDER BY 1, 2, 3""".stripMargin),
    QuerySpec("q_events_sessionize", run = { (s, dir) =>
        StreamingOps.sessionize(StreamingOps.readEventsBatch(s, dir))
          .orderBy("user_id", "session_id")
      },
      oracle = _ =>
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
          |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),
    QuerySpec("q_shard_census_stream", run = { (s, dir) =>
        // shards land as files; the binaryFile stream censuses each
        // exactly once — drained stream == batch walk (same oracle as
        // q_multimodal_tar_members)
        val staged = stageShardFiles(s, dir)
        StreamingOps.runShardCensusStream(s, staged)
          .select(col("id").as("doc_id"), col("memberIdx").as("member_idx"),
            col("name"), col("size"), col("dataOffset").as("data_offset"))
          .orderBy("doc_id", "member_idx")
      },
      // streaming shard-ingest census: the stream processed to
      // completion equals the batch walk, so the oracle is the SAME
      // member-table arithmetic as q_multimodal_tar_members
      oracle = _ => tarMembersOracleSql,
      stages = Some((s, dir) => streamDrainStages(s, stageShardFiles(s, dir),
        d => StreamingOps.shardCensusStream(
          s, d, maxFilesPerTrigger = StreamingOps.drainFilesPerTrigger)))))
}
