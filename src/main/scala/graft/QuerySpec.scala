package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One board query: its Spark run, its DuckDB oracle, and how the bench
  * treats it.  [[SparkEntry.queries]] is the list of them.
  *
  * @param run builds the query's result over the corpus dir
  * @param oracle the corpus dir → DuckDB SQL that must return the same
  *   rows over the same parquet tables.  Most ignore the dir; the
  *   storage-metadata oracles read the files under it.  The
  *   golden-literal (fit) oracles are keyed to sf0.01, the verify SF.
  * @param oneTimeBuild the run materializes a one-time store, table or
  *   index (session-memoized via [[BuildOnce]]) before probing it.  The
  *   bench runs it ONCE untimed at the benchmark SF, so every timed pass
  *   measures only the probe, the operation the store exists to serve.
  * @param stages one instrumented run returning stage → seconds, for
  *   the rows a single plan cannot explain (the composed e2e chains and
  *   the stream drains).  The bench runs it once after its timed passes
  *   and embeds the map in its durable record.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String => String,
    oneTimeBuild: Boolean = false,
    stages: Option[(SparkSession, String) => Seq[(String, Double)]] = None)
