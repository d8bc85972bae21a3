package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{MultimodalOps, StreamingOps}
import SparkEntry._

/** Storage-format rows: parquet and ORC metadata (footers, stats,
  * encodings, dictionaries, blooms), round trips, layouts and shards.
  * The metadata oracles read the staged or corpus files under the dir
  * they are given.
  */
object StorageQueries {

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

  /** Stage `orders` as ONE deterministic-order ORC file for the
    * row-index census: sorted by o_orderkey in a single partition, so
    * row N is the same row for the ORC writer and for the oracle's
    * row_number() replay — row-group membership is then pure
    * arithmetic on the sort key.
    */
  private[graft] def stageOrcRowIndexFiles(s: SparkSession, dir: String): String =
    StreamingOps.stageLock.synchronized {
      val md = StreamingOps.dirKey(dir)
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

  /** Where [[stageParquetIdxFiles]] writes corpus dir `dir`'s tables,
    * which its two oracles read.
    */
  private def parquetIdxStageDir(dir: String): String =
    s"/tmp/graft-pqidx-stage-${StreamingOps.dirKey(dir)}"

  /** Stage a parquet-mr re-write of three tables: parquet-mr writes
    * ColumnIndex/OffsetIndex structures by default (the testdata
    * corpus, written by another engine, carries none), so the
    * page-zone-map census needs its own staged files — which DuckDB
    * then reads independently for the oracle.
    */
  private[graft] def stageParquetIdxFiles(s: SparkSession, dir: String): String =
    StreamingOps.stageLock.synchronized {
      val out = parquetIdxStageDir(dir)
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
    StreamingOps.stageLock.synchronized {
      val md = StreamingOps.dirKey(dir)
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

  /** Stage three flat tables as zlib-coded ORC for the footer census
    * (always rewritten — the tables are tiny at every test SF, and a
    * fresh write is cheaper than a staleness bug).  Returns the
    * staging root; each table lands under its own subdirectory.
    */
  private[graft] def stageOrcFiles(s: SparkSession, dir: String): String =
    StreamingOps.stageLock.synchronized {
      val md = StreamingOps.dirKey(dir)
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

  /** parquet-footer oracle: DuckDB's own parquet_metadata() over the
    * same files — an independent second reader of the same footers.
    * Reads the corpus dir it is given, the one the Spark side read.
    */
  private def parquetFooterOracleSql(dir: String): String =
    Seq("documents", "lineitem", "orders").map { t =>
      s"""SELECT regexp_extract(file_name, '[^/]+$$') AS file_name,
         |       CAST(row_group_id AS BIGINT) AS row_group_id,
         |       CAST(row_group_num_rows AS BIGINT) AS row_group_num_rows,
         |       path_in_schema,
         |       CAST(num_values AS BIGINT) AS num_values,
         |       CAST(total_compressed_size AS BIGINT) AS total_compressed_size,
         |       CAST(total_uncompressed_size AS BIGINT) AS total_uncompressed_size,
         |       compression
         |FROM parquet_metadata('$dir/$t.parquet')""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY file_name, row_group_id, path_in_schema")

  /** Zone-map oracle: DuckDB's parquet_metadata() stats columns over
    * the same files and the same explicit integer-column list — two
    * independent readers of the exact pruning bounds.
    */
  private def parquetStatsOracleSql(dir: String): String = {
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
         |FROM parquet_metadata('$dir/$t.parquet')
         |WHERE path_in_schema IN ($cols)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY file_name, row_group_id, path_in_schema")
  }

  /** Bloom oracle: the staged write is ONE coalesced file (one row
    * group at these sizes); probing the chunk's own distinct keys
    * must hit every one — the no-false-negative contract in closed
    * form.
    */
  private def parquetBloomOracleSql(dir: String): String =
    s"""SELECT CAST(0 AS BIGINT) AS row_group_id,
       |       'o_custkey' AS path_in_schema,
       |       CAST(1 AS BIGINT) AS has_bloom,
       |       (SELECT least(count(DISTINCT o_custkey), 50000)
       |        FROM read_parquet('$dir/orders.parquet')) AS n_probed,
       |       (SELECT least(count(DISTINCT o_custkey), 50000)
       |        FROM read_parquet('$dir/orders.parquet')) AS n_hits""".stripMargin

  /** ORC encodings oracle: the staged single-stripe roster in closed
    * form — struct/double DIRECT (0), longs/timestamp DIRECT_V2 (2),
    * the two low-cardinality strings DICTIONARY_V2 (3) with
    * dictionary sizes equal to their DuckDB distinct counts (the
    * writer's 0.8-ratio rule is deterministic at every test SF).
    */
  private def orcEncodingsOracleSql(dir: String): String =
    s"""WITH r AS (
       |  SELECT o_orderstatus, o_orderpriority,
       |         CAST((row_number() OVER (ORDER BY o_orderkey) - 1)
       |              // $OrcStageStripeRows AS BIGINT) AS sid
       |  FROM read_parquet('$dir/orders.parquet')),
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
  private def orcDictOracleSql(dir: String): String =
    s"""WITH r AS (
       |  SELECT o_orderpriority,
       |         CAST((row_number() OVER (ORDER BY o_orderkey) - 1)
       |              // $OrcStageStripeRows AS BIGINT) AS sid
       |  FROM read_parquet('$dir/orders.parquet'))
       |SELECT sid AS stripe_id,
       |       CAST(6 AS BIGINT) AS column_id,
       |       CAST(1 AS BIGINT) AS has_dict,
       |       count(DISTINCT o_orderpriority) AS dict_size,
       |       (SELECT count(DISTINCT o_orderpriority) + 2
       |        FROM read_parquet('$dir/orders.parquet')) AS n_probed,
       |       count(DISTINCT o_orderpriority) AS n_hits
       |FROM r GROUP BY sid ORDER BY stripe_id""".stripMargin

  /** Dictionary-probe oracle: the staged single-row-group write's
    * dictionary IS the column's exact distinct set, so present
    * probes all hit, the two planted absent probes all miss, and
    * dict_size == count(DISTINCT) — exactness in closed form (the
    * property blooms can't give).
    */
  private def parquetDictOracleSql(dir: String): String =
    s"""SELECT CAST(0 AS BIGINT) AS row_group_id,
       |       'o_orderpriority' AS path_in_schema,
       |       CAST(1 AS BIGINT) AS dict_encoded,
       |       (SELECT count(DISTINCT o_orderpriority)
       |        FROM read_parquet('$dir/orders.parquet')) AS dict_size,
       |       (SELECT count(DISTINCT o_orderpriority) + 2
       |        FROM read_parquet('$dir/orders.parquet')) AS n_probed,
       |       (SELECT count(DISTINCT o_orderpriority)
       |        FROM read_parquet('$dir/orders.parquet')) AS n_hits""".stripMargin

  /** Encoding-census oracle: DuckDB's parquet_metadata over the SAME
    * staged parquet-mr files — encodings split, sorted, and rejoined
    * so both readers agree regardless of thrift list order.
    */
  private def parquetEncodingsOracleSql(dir: String): String = {
    val staged = parquetIdxStageDir(dir)
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

  /** Page-stats oracle: DuckDB's parquet_metadata() chunk statistics
    * over the STAGED parquet-mr files (the ones actually carrying
    * page indexes) — the page-index rows aggregated to chunks must
    * reproduce them exactly.  The staged dir is a pure function of
    * the corpus dir ([[parquetIdxStageDir]]).
    */
  private def parquetPageStatsOracleSql(dir: String): String = {
    val staged = parquetIdxStageDir(dir)
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

  /** Row-index oracle: the staged file is single-partition sorted by
    * o_orderkey, so the writer's every-10k-rows row groups replay as
    * row_number() arithmetic over the same sort; one branch per
    * surfaced column (int / double / string), typed NULLs for the
    * bounds a branch doesn't carry.
    */
  private def orcRowIndexOracleSql(dir: String): String =
    s"""WITH r AS (
       |  SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderdate,
       |         CAST((row_number() OVER (ORDER BY o_orderkey) - 1)
       |              // $OrcStageStripeRows AS BIGINT) AS sid,
       |         CAST(((row_number() OVER (ORDER BY o_orderkey) - 1)
       |              % $OrcStageStripeRows) // $OrcStageRowGroupRows
       |              AS BIGINT) AS rg
       |  FROM read_parquet('$dir/orders.parquet')),
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

  private def orcStatsTypedOracleSql(dir: String): String = {
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
         |FROM read_parquet('$dir/$t.parquet')""".stripMargin
    }.mkString("", "\nUNION ALL\n",
      "\nORDER BY tbl, stripe_id, column_id")
  }

  /** ORC stripe-stats oracle: the staged write is coalesce(1) and far
    * below the stripe-size threshold, so each table is ONE file with
    * ONE stripe — its stripe statistics equal whole-table aggregates,
    * which DuckDB computes over the SOURCE parquet.  ORC column ids
    * are the flat schema's 1-based field positions (0 = root struct);
    * only integer-typed columns carry IntegerStatistics.
    */
  private def orcStatsOracleSql(dir: String): String = {
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
           |FROM read_parquet('$dir/$t.parquet')""".stripMargin
      }
    }.mkString("", "\nUNION ALL\n",
      "\nORDER BY tbl, stripe_id, column_id")
  }

  /** ORC-footer oracle: the SOURCE parquet's row count and schema
    * width from DuckDB — the ORC census (a staged re-encode of the
    * same tables) must agree through a completely different storage
    * format.  ORC's type list is the struct root + one entry per
    * column, exactly `parquet_schema`'s entry count for flat tables.
    */
  private def orcFooterOracleSql(dir: String): String =
    Seq("nation", "region", "supplier").map { t =>
      s"""SELECT '$t' AS tbl,
         |       CAST(1 AS BIGINT) AS n_files,
         |       'ZLIB' AS compression,
         |       (SELECT count(*) FROM parquet_schema('$dir/$t.parquet')) AS n_types,
         |       (SELECT count(*) FROM read_parquet('$dir/$t.parquet')) AS total_rows,
         |       (SELECT count(*) FROM read_parquet('$dir/$t.parquet')) AS stripe_rows""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl")

  /** The round-trip oracle: the source table read directly, so the
    * equality gate IS the losslessness of each interchange format.
    */
  private val roundtripOracleSql: String =
      """SELECT doc_id, text, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  val queries: Seq[QuerySpec] = Seq(
    QuerySpec("q_zorder_layout", run = { (s, dir) =>
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
      // Z-order replay: the SAME interleave term sum (zValueSql single-
      // sources it), bucket = top 10 of the 32-bit Morton value; the
      // per-bucket dim rectangles the query reports are the clustering
      // claim (tight min/max per z-region) made hash-checkable
      oracle = _ => {
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
      }),
    QuerySpec("q_compact_roundtrip", run = { (s, dir) =>
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
      // compaction preserves content exactly → identity oracle over the
      // original table (the roundtrip-gate pattern)
      oracle = _ => roundtripOracleSql),
    QuerySpec("q_orc_roundtrip", run = { (s, dir) =>
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
      // ORC round-trip: same gate, columnar peer format
      oracle = _ => roundtripOracleSql),
    QuerySpec("q_csv_roundtrip", run = { (s, dir) =>
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
      // CSV round-trip: same gate, tabular wire format
      oracle = _ => roundtripOracleSql),
    QuerySpec("q_jsonl_roundtrip", run = { (s, dir) =>
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
      // JSONL round-trip: the Spark side goes parquet -> JSONL -> back;
      // the oracle reads the parquet directly, so the equality gate IS
      // the losslessness of the interchange
      oracle = _ => roundtripOracleSql),
    QuerySpec("q_erasure", run = { (s, dir) =>
        // right-to-be-forgotten: erase every 13th doc, patch the
        // persisted exact store incrementally (keeper reassignment
        // only where the keeper died) — the gate is that the PATCHED
        // store hash-equals the oracle's from-scratch rebuild of the
        // filtered corpus
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val key = StreamingOps.dirKey(dir)
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
      // incremental-dedup store probes: the exact store keyed on md5
      // content (probe = re-ingest detection over doc_id >= 250), and
      // the minhash store probe with signature-agreement verify
      // erasure replay: a from-scratch rebuild of the filtered corpus —
      // the engine's INCREMENTAL store patch must equal it exactly
      oracle = _ =>
        """SELECT md5(text) AS content_hash,
          |       CAST(min(doc_id) AS BIGINT) AS keep_id
          |FROM documents WHERE doc_id % 13 <> 0
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      oneTimeBuild = true),
    QuerySpec("q_bucketed_join", run = { (s, dir) =>
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
      // DuckDB replays the bucketed self-join un-bucketed — identical
      // rows, no Exchange claim (that lives in StorageSpec's plan test)
      oracle = _ =>
        """SELECT a.lang AS lang, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(a.n_chars + b.n_chars) AS BIGINT) AS sum_chars2
          |FROM documents a JOIN documents b ON a.doc_id = b.doc_id
          |GROUP BY a.lang ORDER BY lang""".stripMargin,
      oneTimeBuild = true),
    QuerySpec("q_parquet_footer", run = { (s, dir) =>
        // the lake introspecting its own format: footer-only census of
        // three tables, oracled against DuckDB's parquet_metadata()
        graft.ops.StorageOps.parquetFooters(s, Seq(
            s"$dir/documents.parquet", s"$dir/lineitem.parquet",
            s"$dir/orders.parquet"))
          .orderBy("file_name", "row_group_id", "path_in_schema")
      },
      oracle = parquetFooterOracleSql),
    QuerySpec("q_parquet_footer_dist", run = { (s, dir) =>
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
      // the distributed-listing flavor must agree with the SAME
      // independent reader — two physical paths, one oracle
      oracle = parquetFooterOracleSql),
    QuerySpec("q_orc_footer_dist", run = { (s, dir) =>
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
      oracle = orcFooterOracleSql),
    QuerySpec("q_parquet_stats", run = { (s, dir) =>
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
      oracle = parquetStatsOracleSql),
    QuerySpec("q_orc_footer", run = { (s, dir) =>
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
      oracle = orcFooterOracleSql),
    QuerySpec("q_parquet_bloom", run = { (s, dir) =>
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
      oracle = parquetBloomOracleSql),
    QuerySpec("q_orc_encodings", run = { (s, dir) =>
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
      oracle = orcEncodingsOracleSql),
    QuerySpec("q_orc_dict_probe", run = { (s, dir) =>
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
      oracle = orcDictOracleSql),
    QuerySpec("q_parquet_dict_probe", run = { (s, dir) =>
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
      oracle = parquetDictOracleSql),
    QuerySpec("q_parquet_page_stats", run = { (s, dir) =>
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
      // page-index rows aggregated to chunks replay DuckDB's chunk
      // statistics of the SAME staged files — two readers, two
      // metadata structures, one answer
      oracle = parquetPageStatsOracleSql),
    QuerySpec("q_orc_stats", run = { (s, dir) =>
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
      oracle = orcStatsOracleSql),
    QuerySpec("q_orc_stats_typed", run = { (s, dir) =>
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
      oracle = orcStatsTypedOracleSql),
    QuerySpec("q_orc_row_index", run = { (s, dir) =>
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
      oracle = orcRowIndexOracleSql),
    QuerySpec("q_parquet_encodings", run = { (s, dir) =>
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
      oracle = parquetEncodingsOracleSql),
    QuerySpec("q_orc_bloom", run = { (s, dir) =>
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
      oracle = dir =>
        s"""WITH r AS (
           |  SELECT o_orderpriority,
           |         CAST((row_number() OVER (ORDER BY o_orderkey) - 1)
           |              // $OrcStageStripeRows AS BIGINT) AS sid,
           |         CAST(((row_number() OVER (ORDER BY o_orderkey) - 1)
           |              % $OrcStageStripeRows) // $OrcStageRowGroupRows
           |              AS BIGINT) AS rg
           |  FROM read_parquet('$dir/orders.parquet'))
           |SELECT sid AS stripe_id,
           |       CAST(6 AS BIGINT) AS column_id,
           |       rg AS row_group_id,
           |       count(DISTINCT o_orderpriority) AS n_hits
           |FROM r GROUP BY sid, rg
           |ORDER BY stripe_id, row_group_id""".stripMargin),
    QuerySpec("q_arrow_ipc", run = { (s, dir) =>
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
      // Arrow IPC replay: one schema message then nb record batches,
      // row counts as id arithmetic (the byte geometry is the Arrow
      // library's own and is pinned in OpsSpec, not here)
      oracle = _ =>
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
          |FROM m ORDER BY doc_id, msg_idx""".stripMargin),
    QuerySpec("q_jsonl_shard", run = { (s, dir) =>
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
      // JSONL seek-table replay (ASCII lines → octet_length running
      // sums); the zst flavor shares the text verbatim
      oracle = _ => jsonlShardOracleSql),
    QuerySpec("q_jsonl_zst_shard", run = { (s, dir) =>
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
      oracle = _ => jsonlShardOracleSql),
    QuerySpec("q_bgzf_blocks", run = { (s, dir) =>
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
      // robots.txt parse replay: the rule table is doc_id arithmetic —
      // BGZF replay: block k's inflated size is the byte-split rule,
      // plus the zero-size EOF marker block
      oracle = _ =>
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
          |FROM blocks ORDER BY doc_id, block_idx""".stripMargin),
    QuerySpec("q_zstd_seek", run = { (s, dir) =>
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
      // seekable-zstd replay: frame k's decompressed geometry is the
      // byte-split rule (the codec's compressed sizes never appear)
      oracle = _ =>
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
          |FROM ks ORDER BY doc_id, frame_idx""".stripMargin),
    QuerySpec("q_scd2_snapshot", run = { (s, dir) =>
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
      // SCD2 time travel replay: the snapshot at t=0 is the base frame,
      // at t=1 the base with updates applied and new keys present —
      // both reconstructed ONLY from version spans
      oracle = _ =>
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
          |ORDER BY as_of, k""".stripMargin),
    QuerySpec("q_graftdoc_scan", run = { (s, dir) =>
        // the DataSource V2 connector end-to-end: shard the corpus
        // once (BuildOnce), read through the connector with a pushed
        // doc_id bound, fingerprint the decoded text
        val key = StreamingOps.dirKey(dir)
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
      // graftdoc replay: content fidelity through the binary format —
      // the DuckDB side reads the parquet truth; byte-identical text
      // md5s prove the DSv2 encode/decode round-trip under a pushed
      // range filter (which also exercises the shard skipping)
      oracle = _ =>
        """SELECT doc_id, md5(text) AS fp FROM documents
          |WHERE doc_id < 250 ORDER BY doc_id""".stripMargin,
      oneTimeBuild = true),
    QuerySpec("q_scd2_merge", run = { (s, dir) =>
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
      // SCD2 replay: deterministic update batch (every 7th key changes,
      // every 97th is brand-new); changed opens close at batch 1, new
      // versions open; history length and flags all gated
      oracle = _ =>
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
          |FROM merged ORDER BY k, version_start""".stripMargin))
}
