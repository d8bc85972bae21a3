package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming operators over the `events` table (reserved by
  * the driver testdata for stream extensions; the reference itself has
  * no streaming surface — SURVEY.md §2.10).
  *
  * The events parquet has shipped with BOTH TIMESTAMP(NANOS) and
  * TIMESTAMP(MICROS) `ts` columns across testdata generations, so the
  * readers sniff the file's physical type from its parquet FOOTER
  * (no session conf touched; the legacy nanosAsLong conf is set only
  * when a NANOS file genuinely needs it) and normalize to the
  * engine-canonical unit: `ts` as ns-since-epoch LONG (exact integer
  * arithmetic; ns epoch values fit a long until year 2262).  Each op
  * exists in a streaming form (readStream + watermark) and a batch
  * form with identical semantics — the batch form is what the DuckDB
  * oracle checks.
  */
object StreamingOps {

  /** The lock every stager under /tmp/graft-stream takes ([[stageAsDir]]
    * and the board's fixture stagers), so concurrent suites cannot
    * interleave a stager's delete/create pairs.
    */
  private[graft] val stageLock = new Object

  /** The first 8 hex digits of the md5 of corpus dir `dir`: the key of
    * every per-corpus scratch dir under /tmp, so that two corpora never
    * share one.
    */
  private[graft] def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** Corpus dir `dir`'s staging dir `sub` under /tmp/graft-stream, keyed
    * by the sanitized path PLUS its [[dirKey]] (sanitization alone can
    * collide: "sf-1" vs "sf_1").
    */
  private[graft] def streamStageDir(dir: String, sub: String): java.nio.file.Path =
    java.nio.file.Paths.get("/tmp/graft-stream",
      dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + dirKey(dir), sub)

  /** Stage a single-file table behind a directory symlink (file-stream
    * sources require a directory) in its [[streamStageDir]].  The
    * symlink is re-created under a lock so a dangling link cannot
    * poison later runs and concurrent suites cannot interleave the
    * delete/create pair.
    */
  private[graft] def stageAsDir(dir: String, table: String): String =
    stageLock.synchronized {
      val staged = streamStageDir(dir, table)
      java.nio.file.Files.createDirectories(staged)
      val link = staged.resolve(s"$table.parquet")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(dir, s"$table.parquet"))
      staged.toString
    }

  /** `maxFilesPerTrigger` of the AvailableNow drains
    * ([[runShardCensusStream]], [[runWarcCdxStream]]): each micro-batch
    * carries ~1.5 s of fixed machinery, so the drain takes few, large
    * batches.
    */
  private[graft] val drainFilesPerTrigger = 16384

  /** Run `body` (a start→drain of one file-source stream) with the
    * session's parallel-listing threshold raised to `filesPerBatch`,
    * restoring the prior value after.
    *
    * Why (r18 optimization, guide §2.4 "remove shuffles/jobs
    * outright"): `FileStreamSource.getBatch` re-resolves its batch's
    * file list through `DataSource.resolveRelation`, which re-stats
    * every file path — paths the source's OWN listing already
    * enumerated.  With the default
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` of 32,
    * any batch over 32 files launches a Spark job with ONE TASK PER
    * FILE just to re-stat known files: measured 8.2–8.7 s of a 9.0 s
    * drain for a 5000-file landing zone (per-batch progress
    * `durationMs.getBatch`), vs 0.25 s when the driver stats them
    * directly.  The threshold is tied to `maxFilesPerTrigger` — the
    * same knob that bounds in-flight bytes — so a production drain
    * that raises its batch size keeps driver-side listing in step;
    * on a store where per-file stats are high-latency (S3) a user
    * lowers maxFilesPerTrigger and the threshold follows.  The conf
    * is session-local and restored in `finally`; the streaming query
    * clones the session at `start()`, so the raised value must be in
    * place before `start()` — which wrapping the whole runner
    * guarantees.
    */
  private[graft] def withDriverSideBatchListing[T](
      spark: SparkSession, filesPerBatch: Int)(body: => T): T = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, math.max(32, filesPerBatch))
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Canonical post-normalization schema: `ts` is ns-since-epoch. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // ns since epoch (normalized)
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def withEventTime(df: DataFrame): DataFrame =
    // integer DIV: double division of ns values (> 2^53) is off by
    // 1µs on ~13% of timestamps, shifting window-boundary events
    df.withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))

  /** The file's physical `ts` flavor, from the parquet footer. */
  private[graft] sealed trait TsKind
  private[graft] object TsKind {
    /** TIMESTAMP(NANOS) — readable as ns-long only under the
      * session-wide nanosAsLong legacy conf. */
    case object NanosTs extends TsKind
    /** Plain INT64, no logical type — already ns-since-epoch. */
    case object RawLong extends TsKind
    /** TIMESTAMP(MICROS/MILLIS, adjustedToUTC=true) — an instant. */
    case object MicrosLtz extends TsKind
    /** TIMESTAMP(MICROS/MILLIS, adjustedToUTC=false) — a wall time
      * the testdata means as UTC. */
    case object MicrosNtz extends TsKind
  }

  /** Footer-only sniff of the `ts` flavor (one ParquetFileReader
    * metadata read — no data scan and, unlike a spark.read probe under
    * the nanosAsLong conf, NO session state touched; ADVICE r09).  A
    * directory resolves through its first parquet file.  A path with
    * no parquet file yet (a staged stream dir before the first batch
    * lands — a valid state for a file-stream source) falls back to the
    * current testdata generation's MICROS/NTZ so the stream can still
    * be DEFINED; the sniff re-runs on the next reader construction.
    */
  private[graft] def sniffTsKind(spark: SparkSession, path: String): TsKind = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val hconf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    val file: Option[Path] =
      if (!fs.exists(p)) None
      else if (fs.getFileStatus(p).isFile) Some(p)
      else fs.listStatus(p).iterator.map(_.getPath).find { q =>
        val n = q.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
    file match {
      case None => TsKind.MicrosNtz
      case Some(f) =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hconf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val schema = reader.getFooter.getFileMetaData.getSchema
          val prim = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType()
          prim.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              if (t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS)
                TsKind.NanosTs
              else if (t.isAdjustedToUTC) TsKind.MicrosLtz
              else TsKind.MicrosNtz
            case _ => TsKind.RawLong
          }
        } finally reader.close()
    }
  }

  /** Reader-side schema matching the SNIFFED `ts` type exactly (no
    * LTZ forcing onto NTZ files — ADVICE r09).  For NANOS the session
    * conf below makes the scan yield longs.
    */
  private def fileSchema(kind: TsKind): StructType = {
    val tsType: DataType = kind match {
      case TsKind.NanosTs | TsKind.RawLong => LongType
      case TsKind.MicrosLtz => TimestampType
      case TsKind.MicrosNtz => TimestampNTZType
    }
    StructType(eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
  }

  /** NANOS only: nanosAsLong is a session-wide SQL conf (no
    * reader-level equivalent) and must stay set while the NANOS scan
    * EXECUTES, so it is set — and left on — only when the file
    * actually needs it; MICROS/NTZ generations no longer flip it at
    * all (ADVICE r09).  Isolate sessions (spark.newSession()) if a
    * later unrelated NANOS read in the same session must see
    * timestamps.
    */
  private def confFor(spark: SparkSession, kind: TsKind): Unit =
    if (kind == TsKind.NanosTs)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Normalize `ts` to ns-long — exact integer arithmetic in every
    * branch.  LTZ: unix_micros ×1000 (tz-free: an LTZ value IS its
    * epoch micros).  NTZ: wall-clock field decomposition ×1000 — also
    * tz-free (date/hour/minute/second of an NTZ value are plain wall
    * fields; `extract(SECOND)` is an exact DECIMAL(8,6) so ×1e6 is
    * exact), unlike a cast to TimestampType, which would shift by the
    * session offset.  The testdata's NTZ wall times mean UTC, so wall
    * micros == epoch micros.
    */
  private def normalizeTs(df: DataFrame, kind: TsKind): DataFrame = kind match {
    case TsKind.NanosTs | TsKind.RawLong => df
    case TsKind.MicrosLtz =>
      df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
    case TsKind.MicrosNtz =>
      df.withColumn("ts", expr(
        """(cast(unix_date(cast(ts AS date)) AS BIGINT) * 86400000000 +
          | (cast(hour(ts) AS BIGINT) * 3600 + minute(ts) * 60) * 1000000 +
          | cast(extract(SECOND FROM ts) * 1000000 AS BIGINT)) * 1000""".stripMargin))
  }

  def readEventsBatch(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val kind = sniffTsKind(spark, path)
    confFor(spark, kind)
    withEventTime(normalizeTs(
      spark.read.schema(fileSchema(kind)).parquet(path), kind))
  }

  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    // the file-stream source insists on a directory; the testdata ships
    // one parquet FILE per table → stage a symlink dir
    val staged = stageAsDir(dir, "events")
    val kind = sniffTsKind(spark, staged)
    confFor(spark, kind)
    withEventTime(normalizeTs(
      spark.readStream.schema(fileSchema(kind)).parquet(staged), kind))
  }

  /** 5-minute tumbling window counts per event type.  Works on both
    * the batch and streaming frames (same expression).  Integer DIV on
    * MICROSECONDS: double division would lose precision (ts > 2^53),
    * and DuckDB's TIMESTAMP is µs — µs is the cross-engine unit.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .groupBy(
        expr("(ts DIV 1000) DIV 300000000").as("bucket5m"),
        col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(floor(col("value") * 1000).cast(LongType)).as("value_millis"))

  /** HOPPING (sliding) windows — `windowUs`-wide, every `slideUs`:
    * each event lands in `window/slide` overlapping windows, produced
    * by an integer offset explode over the same µs bucket arithmetic
    * as [[windowedCounts]] (no `window()` struct, no timestamps — the
    * epoch-aligned start is `(tus DIV slide − o)·slide`, identical in
    * any engine).  Fan-out is the window/slide ratio, applied BEFORE
    * the groupBy so map-side partial aggregation still collapses each
    * partition to O(windows × types) rows.
    */
  def hoppingCounts(
      events: DataFrame, windowUs: Long = 600000000L,
      slideUs: Long = 300000000L): DataFrame = {
    require(windowUs > 0 && slideUs > 0 && windowUs % slideUs == 0,
      s"hoppingCounts: window $windowUs must be a multiple of slide $slideUs")
    val nOff = (windowUs / slideUs).toInt
    events
      .withColumn("__tus", expr("ts DIV 1000"))
      .withColumn("__o", explode(array((0 until nOff).map(lit(_)): _*)))
      .withColumn("wstart_us",
        expr(s"(__tus DIV ${slideUs}L - __o) * ${slideUs}L"))
      .where(col("__tus") - col("wstart_us") < windowUs)
      .groupBy(col("wstart_us"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(floor(col("value") * 1000).cast(LongType)).as("value_millis"))
  }

  /** One-shot memory-sink runner shared by the stream test/demo
    * surfaces: runs the frame to completion, materializes the result
    * into a cached DataFrame, and — even on failure — stops the query
    * and drops the sink's temp view (the per-call nanoTime names would
    * otherwise accumulate in the catalog for the session's lifetime).
    * The returned frame stays cached; callers owning long sessions
    * should unpersist it when done.
    */
  private[graft] def runToMemory(
      df: DataFrame, prefix: String, outputMode: String): DataFrame = {
    val spark = df.sparkSession
    val name = s"${prefix}_${System.nanoTime()}"
    val q = df.writeStream.outputMode(outputMode).format("memory")
      .queryName(name).start()
    try {
      q.processAllAvailable()
      val out = spark.table(name).cache()
      out.count() // materialize before the query stops / view drops
      out
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Streaming shard-ingest census — the continuous-arrival shape of
    * the shard family: watch a directory with Spark's `binaryFile`
    * streaming source (exactly-once per file, `maxFilesPerTrigger`
    * backpressure — the JSONL file-watch discipline) and run each
    * newly landed `.tar` shard through the verified ustar member walk
    * as it arrives.  The per-task memory bound is unchanged from the
    * batch walk: one shard byte[] in flight per task, nothing
    * shard-sized in state — the census rows are the only output, so a
    * 100 TB/day landing zone streams through a fixed-size cluster.
    * The shard id comes from the landed file's name
    * (`shard-<id>.tar`), the convention every WebDataset layout uses.
    */
  def shardCensusStream(
      spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 8): DataFrame = {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // the binaryFile source's FIXED schema (file streams require it
    // declared explicitly even when the format defines it)
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("modificationTime", TimestampType, nullable = false),
      StructField("length", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true)))
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.tar")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .select(regexp_extract(col("path"), "(\\d+)\\.tar$", 1)
        .cast(LongType).as("id"), col("content"))
      // a glob-matching file WITHOUT a numeric name (backup.tar landing
      // in the zone) extracts '' -> null id; dropping it here keeps the
      // typed flatMap total instead of NPE-killing the whole query
      .filter(col("id").isNotNull)
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        MultimodalOps.tarMembersOf(
          MultimodalOps.MediaRecord(id, "application/x-tar", bytes))
          .getOrElse(Nil)
      }
      .toDF()
  }

  /** One-shot runner: process every shard currently in `dir` to
    * completion and return the member table (StreamingWoe's
    * stream-equals-batch contract: the drained stream must equal the
    * batch walk over the same shards — the driver's oracle gates it).
    * The trigger cap is raised for the drain: `maxFilesPerTrigger`
    * bounds IN-FLIGHT shard bytes per micro-batch, and a backlog
    * drain of N small shards at the live-tailing default would pay
    * N/8 micro-batch scheduling rounds for no memory benefit — size
    * the cap to (executor memory budget / shard size), not to the
    * tailing cadence.
    */
  def runShardCensusStream(spark: SparkSession, dir: String): DataFrame = {
    // Trigger.AvailableNow for the drain: it plans the listing ONCE
    // (the default trigger relists the directory and rescans the
    // seen-files map every micro-batch — quadratic on a backlog) and
    // still honors maxFilesPerTrigger as the in-flight-bytes cap.
    // The cap itself is sized for the drain: each micro-batch carries
    // ~1.5 s of fixed machinery (incremental planning + metadata-log
    // fsyncs), so a 50k-file backlog at cap 1024 paid 49 batches
    // (~75 s) for ~2 s of census work; cap 16384 pays 4.  Size the
    // cap to (executor memory budget / shard size) — for design-size
    // 100 MB-1 GB shards that means HUNDREDS, and the per-batch
    // machinery vanishes against the per-shard walk time.
    val name = s"shard_census_${System.nanoTime()}"
    withDriverSideBatchListing(spark, drainFilesPerTrigger) {
      val q = shardCensusStream(spark, dir, maxFilesPerTrigger = drainFilesPerTrigger)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination() // AvailableNow self-terminates when drained
        val out = spark.table(name).cache()
        out.count()
        out
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    }
  }

  /** File-sink flavor of the shard-census drain — the actual
    * landing-zone consumer shape ([[runShardCensusStream]]'s memory
    * sink is the test/demo runner): census rows land as parquet under
    * `outDir` with the sink's own `_spark_metadata` transaction log,
    * and the source's seen-files state lives in `checkpointDir`.
    * Exactly-once ACROSS RESTARTS comes from the pair: a killed run
    * resumes from the checkpoint (files already censused are never
    * re-read), and a batch whose write died mid-flight is invisible
    * to readers until its metadata-log commit — so `spark.read
    * .parquet(outDir)` (which honors `_spark_metadata`) sees each
    * shard's members exactly once, kill or no kill.  Same
    * `Trigger.AvailableNow` one-shot-listing economics as the memory
    * runner; re-invoking after new files land drains just the delta.
    */
  def runShardCensusStreamToFiles(
      spark: SparkSession, dir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 16384): Unit =
    withDriverSideBatchListing(spark, maxFilesPerTrigger) {
      val q = shardCensusStream(spark, dir, maxFilesPerTrigger)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpointDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() // AvailableNow self-terminates when drained
      finally q.stop()
    }

  /** Streaming flavor with watermark + event-time window (the idiom a
    * live source needs); memory-sink runner for tests/demo.
    */
  def runWindowedStream(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEventsStream(spark, dir)
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 1000).cast(LongType)).as("value_millis"))
    runToMemory(agg, "events_window", "complete")
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("value_millis"))
      .orderBy("window_start", "event_type")
  }

  /** Per-user exponentially-weighted moving average of the event
    * value — the sequential-decay statistic (spend velocity,
    * engagement decay) that CANNOT be a distributed float sum: its
    * recurrence `e_i = e_{i-1} + α(v_i − e_{i-1})` is order-DEPENDENT
    * by definition.  The engine's answer: collect each user's events
    * into an array, `sort_array` fixes the (time, id) order
    * bit-identically everywhere, and ONE `aggregate` lambda folds the
    * recurrence — the float chain is then a deterministic function of
    * the data, replayable in any engine with ordered-list folds.
    * Seed = the first event's value (the DuckDB `list_reduce`
    * convention, matched exactly).
    *
    * State bound: one user's events must fit an array (~events per
    * entity, not corpus) — the same per-key bound the sessionizer
    * documents; past it, the streaming flavor with running state is
    * the right tool.  α must be exactly representable (1/8 default).
    */
  def ewmaPerUser(
      events: DataFrame, alpha: Double = 0.125,
      userCol: String = "user_id", timeCol: String = "tus",
      idCol: String = "event_id", valueCol: String = "value"): DataFrame =
    events
      .select(col(userCol).as("user_id"), col(timeCol).as("t"),
        col(idCol).as("i"),
        floor(col(valueCol) * 1000).cast("long").as("vm"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(struct(col("t"), col("i"), col("vm"))))
          .as("__seq"))
      .withColumn("ewma_millis",
        aggregate(
          slice(col("__seq"), lit(2),
            greatest(size(col("__seq")) - 1, lit(0))),
          element_at(col("__seq"), 1).getField("vm").cast("double"),
          (acc, x) =>
            acc + lit(alpha) * (x.getField("vm").cast("double") - acc)))
      .select(col("user_id"), col("n_events").cast("long").as("n_events"),
        col("ewma_millis"))

  /** First-order (Markov) transition matrix over per-user event
    * sequences: for every consecutive pair in a user's time-ordered
    * stream, count (from_type → to_type) and the per-from share — the
    * behavioral fingerprint behind next-event prediction, bot
    * detection (improbable transitions), and session-model QA.
    *
    * One window shuffle on the user key pairs each event with its
    * predecessor (`lag` — deterministic (time, id) order), then the
    * aggregation collapses to a |types|² frame; the share window runs
    * over that tiny frame only.  Exact-integer counts, one division
    * per output row.
    */
  def transitionCounts(
      events: DataFrame, userCol: String = "user_id",
      typeCol: String = "event_type", timeCol: String = "tus",
      idCol: String = "event_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(timeCol), col(idCol))
    val tot = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    events
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .where(col("__prev").isNotNull)
      .groupBy(col("__prev").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") / sum("n").over(tot).cast("double"))
  }

  /** Cohort retention: users bucketed by the week of their FIRST
    * event; for each (cohort week, week offset), the count of cohort
    * members active that week and the retention ratio vs the cohort's
    * own week 0.  The growth-analytics table every event warehouse
    * serves.
    *
    * Plan shape: distinct (user, week) — the only corpus-sized
    * shuffle — then a per-user min and one equi-join back, all keyed
    * on the user; the retention window runs over the tiny
    * (cohorts × offsets) frame.  Weeks are integer µs-divisions
    * (epoch-aligned), exact in any engine.
    */
  def cohortRetention(
      events: DataFrame, userCol: String = "user_id",
      timeCol: String = "tus"): DataFrame = {
    val weekUs = 604800000000L
    // persisted: both the per-user cohort aggregate and the join
    // consume the distinct (user, week) frame — unpinned, the corpus
    // scans twice
    val weeks = DedupOps.registerPersist(events
      .select(col(userCol).as("user_id"),
        expr(s"$timeCol DIV ${weekUs}L").as("week"))
      .distinct())
    val cohorts = weeks.groupBy("user_id").agg(min("week").as("cohort_week"))
    val w0 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_week"))
    weeks.join(cohorts, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("retention",
        col("n_users").cast("double") /
          max(when(col("week_offset") === 0, col("n_users"))).over(w0)
            .cast("double"))
  }

  /** Trailing `k`-row rolling aggregates per user (time-ordered):
    * event-level rolling count and value sum — the moving-baseline
    * primitive behind rate limiting, spend velocity, and per-entity
    * anomaly scores.  ONE window shuffle on the user key; the frame
    * is ROWS-bounded so state per key is k rows regardless of
    * history.  Values ride as exact integer millis.
    */
  def rollingStats(
      events: DataFrame, k: Int = 5, userCol: String = "user_id",
      timeCol: String = "tus", idCol: String = "event_id",
      valueCol: String = "value"): DataFrame = {
    require(k >= 1, s"rollingStats: k=$k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(timeCol), col(idCol))
      .rowsBetween(-(k - 1), 0)
    events.select(col(idCol), col(userCol), col(timeCol),
        floor(col(valueCol) * 1000).cast("long").as("__vm"))
      .withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_millis", sum("__vm").over(w))
      .drop("__vm")
  }

  /** Funnel (ordered-sequence) analysis — the product-analytics
    * staple: how many users performed step 1, then step 2 strictly
    * AFTER their first step-1 event, then step 3 after that, …  The
    * strict ordering is what distinguishes it from a per-type count:
    * a purchase before the first view does not count as funnel depth 3.
    *
    * Semantics: `t_1` = user's first step-1 event; `t_{i+1}` = first
    * step-(i+1) event strictly after `t_i`; depth = number of steps
    * reached.  Users with no step-1 event don't appear.
    *
    * Plan shape: one aggregation per step plus an equi-join per step
    * boundary — ALL keyed on user_id, so after the first shuffle every
    * later stage reuses the same hash partitioning (Exchange reuse; no
    * new partitioning is ever introduced).  The alternative
    * collect-events-per-user fold is one shuffle but unbounded per-key
    * state; this form's state is one timestamp per user per step.
    *
    * `timeCol` must be an integer (µs) column — exact comparisons,
    * no timestamp equality hazards.
    */
  def funnelSteps(
      events: DataFrame, steps: Seq[String],
      typeCol: String = "event_type", userCol: String = "user_id",
      timeCol: String = "tus"): DataFrame = {
    require(steps.nonEmpty, "funnelSteps: need at least one step")
    // each step's accumulated frame is referenced twice (the hit
    // derivation and the left join) and feeds the NEXT step's lineage
    // — unpinned, the recursion re-executed the whole chain per
    // reference (a 3-step funnel re-scanned the events source 14
    // times in the explain).  The persists pin only the SMALL
    // per-user step frames (one timestamp row per surviving user);
    // the events source deliberately stays unpinned — one
    // filter-pushed scan per step is the normal multi-aggregate
    // shape, and caching the full projection measured SLOWER at sf1
    // than the scans it saved.  Released by DedupOps.unpersistAll.
    val ev = events.select(col(userCol), col(typeCol), col(timeCol))
    val first = DedupOps.registerPersist(
      ev.filter(col(typeCol) === steps.head)
        .groupBy(col(userCol))
        .agg(min(col(timeCol)).as("t_1")))
    val full = steps.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (step, i)) =>
        val hit = ev.filter(col(typeCol) === step)
          .select(col(userCol), col(timeCol).as("__ht"))
          .join(acc.select(col(userCol), col(s"t_$i").as("__pt")), Seq(userCol))
          .where(col("__ht") > col("__pt"))
          .groupBy(col(userCol))
          .agg(min(col("__ht")).as(s"t_${i + 1}"))
        DedupOps.registerPersist(acc.join(hit, Seq(userCol), "left"))
    }
    val depth = steps.indices
      .map(i => col(s"t_${i + 1}").isNotNull.cast("long"))
      .reduce(_ + _)
    full.withColumn("depth", depth)
  }

  /** STREAM-STREAM interval join — the live twin of
    * [[AsofOps.intervalJoin]]: purchases joined to every same-user
    * click in the preceding `lookbackMinutes`.  Both sides are
    * unbounded streams; what makes the join FEASIBLE is the pair of
    * watermarks plus the explicit time band in the join condition —
    * Spark derives from them exactly how long each side's rows must be
    * buffered in the state store (a click older than
    * `watermark − lookback` can never match a future purchase and is
    * evicted), so state is bounded by rate × lookback, never by
    * history.  An unbanded stream-stream join is rejected by the
    * engine for precisely this reason.
    *
    * Output (append mode, rows final once both watermarks pass):
    * `user_id, purchase_id, click_id, gap_us` — identical rows to the
    * batch twin (OpsSpec pins set-equality on the testdata).
    */
  def intervalJoinStream(
      purchases: DataFrame, clicks: DataFrame,
      lookbackMinutes: Int = 240): DataFrame = {
    val p = purchases
      .withWatermark("event_time", "10 minutes")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("event_time").as("p_time"), expr("ts DIV 1000").as("p_tus"))
    val c = clicks
      .withWatermark("event_time", "10 minutes")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("event_time").as("c_time"), expr("ts DIV 1000").as("c_tus"))
    // the band stays in TIMESTAMP form only: event_time is exactly
    // timestamp_micros(tus), so the timestamp band IS the µs integer
    // band — and re-stating it on the long columns would defeat
    // StreamingJoinHelper's state-constraint extraction (it parses
    // timestamp±interval conditions, not long arithmetic), silently
    // downgrading state eviction to "keep everything"
    p.join(c,
        col("p_user") === col("c_user") &&
          col("c_time") >= col("p_time") - expr(s"INTERVAL $lookbackMinutes MINUTES") &&
          col("c_time") <= col("p_time"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        (col("p_tus") - col("c_tus")).as("gap_us"))
  }

  /** Memory-sink runner for [[intervalJoinStream]] over the staged
    * events directory.
    */
  def runIntervalJoinStream(
      spark: SparkSession, dir: String,
      lookbackMinutes: Int = 240): DataFrame = {
    val src = readEventsStream(spark, dir)
    val out = intervalJoinStream(
      src.filter(col("event_type") === "purchase"),
      src.filter(col("event_type") === "click"),
      lookbackMinutes)
    runToMemory(out, "events_ijoin", "append")
      .orderBy("user_id", "purchase_id", "click_id")
  }

  /** Exact streaming dedup (idempotent ingestion): at-most-once per
    * key, with state BOUNDED by the watermark horizon —
    * `dropDuplicatesWithinWatermark` evicts seen-keys older than the
    * watermark, which is what makes exact dedup viable on an unbounded
    * stream (a plain `dropDuplicates` would grow state forever).
    * Batch equivalent: `df.dropDuplicates(keys)`.
    */
  def streamingDedup(
      events: DataFrame, keys: Seq[String] = Seq("event_id"),
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Memory-sink runner: streams `dir` (a directory whose files may
    * repeat rows, e.g. a doubled staging of the events file) through
    * [[streamingDedup]] and returns the deduplicated frame.
    */
  def runDedupStream(
      spark: SparkSession, stagedDir: String,
      keys: Seq[String] = Seq("event_id")): DataFrame = {
    val kind = sniffTsKind(spark, stagedDir)
    confFor(spark, kind)
    val src = withEventTime(normalizeTs(
      spark.readStream.schema(fileSchema(kind)).parquet(stagedDir), kind))
    runToMemory(streamingDedup(src, keys), "events_dedup", "append")
  }

  /** Event carried into the custom-state sessionizer (event_time is
    * the watermark column; tus the exact µs arithmetic twin).
    */
  case class SessEvent(
      user_id: Long, tus: Long, event_id: Long,
      event_time: java.sql.Timestamp)

  /** Open-session state per user: running session counter + bounds. */
  case class SessState(seq: Long, startUs: Long, lastUs: Long, n: Long)

  case class SessionRow(
      user_id: Long, session_id: Long, n_events: Long, duration_ms: Long)

  /** Streaming sessionization with CUSTOM state
    * (`flatMapGroupsWithState` + event-time timeout): per-user open
    * session lives in the state store; a session is emitted when the
    * inactivity gap closes it in-stream, or when the watermark passes
    * `last + gap` (timeout) — so state is one row per ACTIVE user,
    * bounded by the watermark horizon, never by history.  Emits the
    * same (user_id, session_id, n_events, duration_ms) rows as the
    * batch [[sessionize]] (StreamingOpsSpec pins equality); the
    * still-open session per user flushes on timeout once the watermark
    * moves past it.
    *
    * Cross-trigger order contract: a later trigger's events are
    * normally newer than the open session's `lastUs`.  A LATE event
    * (older than `lastUs`, admitted by the watermark) that falls
    * within the gap of the open session is ABSORBED correctly — the
    * session keeps `startUs = min`, `lastUs = max`, so duration and
    * count match what the batch sort would produce (OpsSpec pins
    * this).  A late event older than `lastUs − gap` cannot re-open or
    * renumber already-emitted sessions (their state is gone) — it
    * extends the open session's start; reordering OLDER than the gap
    * horizon needs an upstream sort, the standard streaming
    * sessionizer contract.
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val src = events
      .withWatermark("event_time", s"$gapMinutes minutes")
      .select(col("user_id").cast("long").as("user_id"),
        expr("ts DIV 1000").as("tus"),
        col("event_id").cast("long").as("event_id"),
        col("event_time"))
      .as[SessEvent]
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, it, state) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap: the open session is final.
            // A TOMBSTONE (startUs = -1) keeps the per-user session
            // counter so a user who returns after a timeout continues
            // numbering — removing state here would re-emit
            // session_id 1 and break batch parity.  The state row
            // shrinks to the counter; callers needing strictly
            // active-user-bounded state can trade renumbering for
            // state.remove().  No new timeout is set, so tombstones
            // never re-fire.
            val s = state.get
            state.update(SessState(s.seq, -1L, -1L, 0L))
            if (s.startUs < 0) Iterator.empty // defensive: tombstone timeout
            else Iterator(
              SessionRow(uid, s.seq, s.n, (s.lastUs - s.startUs) / 1000L))
          } else {
            // batch-internal order restored here; cross-trigger order
            // is the documented source contract
            val evs = it.toVector.sortBy(e => (e.tus, e.event_id))
            val out = Vector.newBuilder[SessionRow]
            var st = state.getOption.getOrElse(SessState(0L, -1L, -1L, 0L))
            evs.foreach { e =>
              if (st.startUs < 0)
                st = SessState(st.seq + 1, e.tus, e.tus, 1L)
              else if (e.tus - st.lastUs > gapUs) {
                out += SessionRow(uid, st.seq, st.n,
                  (st.lastUs - st.startUs) / 1000L)
                st = SessState(st.seq + 1, e.tus, e.tus, 1L)
              } else
                // min/max bounds (not plain assignment): a LATE event
                // from a later trigger — older than lastUs but within
                // the gap — must widen the session, not regress its
                // end (a regressed lastUs would shrink duration AND
                // re-arm the timeout too early)
                st = st.copy(
                  startUs = math.min(st.startUs, e.tus),
                  lastUs = math.max(st.lastUs, e.tus),
                  n = st.n + 1)
            }
            state.update(st)
            // µs → ms; +1 so the timeout fires strictly after the gap
            state.setTimeoutTimestamp((st.lastUs + gapUs) / 1000L + 1L)
            out.result().iterator
          }
      }.toDF()
  }

  /** Sessionization: per-user sessions split on ≥ 30 min inactivity
    * gaps — the classic gaps-and-islands form (lag + cumulative sum),
    * expressible identically in the batch oracle.  [[sessionizeStream]]
    * is the custom-state streaming equivalent; this batch form keeps
    * the semantics oracle-checkable.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    // µs granularity end-to-end (see windowedCounts precision note)
    val e = events.withColumn("tus", expr("ts DIV 1000"))
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val flagged = e.withColumn("new_session",
      when(lag("tus", 1).over(w).isNull, 1)
        .when(col("tus") - lag("tus", 1).over(w) > gapUs, 1)
        .otherwise(0))
    flagged
      .withColumn("session_id",
        sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        expr("(max(tus) - min(tus)) DIV 1000").as("duration_ms"))
  }

  /** Streaming CDX builder over a crawl landing zone: `.warc.gz`
    * segments land, each is walked ONCE (gzip members by hand, both
    * trailer CRC words verified, one record per member enforced), and
    * the CDX seek-table rows stream out — the index Common Crawl
    * consumers range-GET with, built exactly-once as segments arrive.
    * Same binaryFile file-watch discipline as [[shardCensusStream]];
    * per-task bound = one compressed segment + one inflated record.
    */
  def warcCdxStream(
      spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 8): DataFrame = {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("modificationTime", TimestampType, nullable = false),
      StructField("length", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true)))
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.warc.gz")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .select(regexp_extract(col("path"), "(\\d+)\\.warc\\.gz$", 1)
        .cast(LongType).as("id"), col("content"))
      // same non-numeric-name guard as the tar flavor: '' -> null id
      // rows are dropped, not NPE'd, so one stray backup.warc.gz
      // can't kill the streaming query
      .filter(col("id").isNotNull)
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        MultimodalOps.warcGzRecordsOf(
          MultimodalOps.MediaRecord(id, "application/warc+gz", bytes))
          .getOrElse(Nil)
      }
      .toDF()
  }

  /** One-shot drain of [[warcCdxStream]] (the memory-sink test/demo
    * runner; [[runShardCensusStreamToFiles]] shows the production
    * file-sink shape).  Same `Trigger.AvailableNow` one-shot-listing
    * + drain-sized trigger-cap economics as [[runShardCensusStream]].
    */
  def runWarcCdxStream(spark: SparkSession, dir: String): DataFrame = {
    val name = s"warc_cdx_${System.nanoTime()}"
    withDriverSideBatchListing(spark, drainFilesPerTrigger) {
      val q = warcCdxStream(spark, dir, maxFilesPerTrigger = drainFilesPerTrigger)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination()
        val out = spark.table(name).cache()
        out.count()
        out
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    }
  }
}
