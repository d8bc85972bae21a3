package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Shuffle-budget assertions: SCALE.md claims several plans shuffle
  * O(distinct)/O(state) bytes, not O(corpus) — this spec measures the
  * actual shuffle-write bytes through a SparkListener and pins hard
  * ceilings, so a regression that silently starts shuffling the corpus
  * fails a test instead of a 100 TB bill.
  */
class ShuffleBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf01 = "/root/testdata/sf0.1"

  /** Total shuffle-write bytes of every task run inside `f`. */
  private def shuffleBytes(f: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) acc.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      // listener events are async: wait until the bus delivered them
      TestListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    acc.get()
  }

  /** What `f` ran: jobs, tasks, shuffle-write bytes, and the serialized
    * task result bytes the driver collected.
    */
  private final case class JobCost(jobs: Int, tasks: Int, shuffleBytes: Long, resultBytes: Long)

  private def jobCost(f: => Unit): JobCost = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val shuffle = new java.util.concurrent.atomic.AtomicLong(0L)
    val result = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        tasks.incrementAndGet()
        if (m != null) {
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          result.addAndGet(m.resultSize)
        }
        ()
      }
    }
    val sc = spark.sparkContext
    TestListenerBus.drain(sc) // no earlier test's events leak in
    sc.addSparkListener(listener)
    try { f; TestListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    JobCost(jobs.get(), tasks.get(), shuffle.get(), result.get())
  }

  /** (total shuffle-read bytes, max single-task shuffle-read bytes)
    * of every task run inside `f` — the funnel detector: an
    * unpartitioned window rank pulls ~100% of the rows through ONE
    * task regardless of cluster size.
    */
  private def shuffleReadSpread(f: => Unit): (Long, Long) = {
    val total = new java.util.concurrent.atomic.AtomicLong(0L)
    val maxTask = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val r = m.shuffleReadMetrics.totalBytesRead
          total.addAndGet(r)
          maxTask.getAndAccumulate(r, math.max(_, _))
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { f; TestListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    (total.get(), maxTask.get())
  }

  test("link prefix-rank: no single task funnels the rank phase") {
    import spark.implicits._
    // 40k records with md5-ish keys: the r10 window rank read ALL of
    // them in one task; the two-pass prefix-rank must spread the rank
    // shuffle across partitions (max task ≲ a few partitions' worth)
    def side(lo: Long, hi: Long) = (lo until hi).map(i => (i,
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"k$i".getBytes).map("%02x".format(_)).mkString)).toDF("id", "k")
    val dirty = side(0L, 20000L).cache()
    val clean = side(20000L, 40000L).cache()
    dirty.count(); clean.count()
    // AQE's small-partition coalescing legitimately merges this tiny
    // corpus into few tasks, which would mimic a funnel — disable it
    // for the measurement so task spread reflects the PLAN's
    // partitioning, which is what survives at 100× where coalescing
    // has nothing to merge.  And run at 16 shuffle partitions (the
    // suite default of 4 makes an even spread 25-35%/task —
    // indistinguishable from a mild funnel).
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    val (total, maxTask) =
      try shuffleReadSpread {
        graft.ops.LinkOps.sortedNeighborhoodLink(
          dirty, clean, "id", "k", window = 3, maxLev = 2).count()
        ()
      } finally {
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        graft.ops.DedupOps.unpersistAll()
        dirty.unpersist(); clean.unpersist()
      }
    assert(total > 0L, "expected some shuffle")
    // 16 shuffle partitions: a funnel task reads ~100%; even spread is
    // ~6%/task. 25% is loose enough for range-boundary imbalance,
    // tight enough that a single-partition regression can never pass
    assert(maxTask < total / 4,
      s"rank funnel: one task read $maxTask of $total shuffle bytes")
  }

  test("fit stats pass shuffles O(distinct values), far below corpus bytes") {
    // the fit reads its stats in one narrow pass (FitStats): each task
    // returns sorted (value, count, Σtarget) runs, merged by treeReduce.
    // No melt and no groupBy exchange: up to 4 partitions, treeReduce
    // merges on the driver and nothing is shuffled; above that only the
    // per-partition runs (O(distinct values) each) are shuffled
    val cols = Seq("quantity", "discount") // about 50 and 11 distinct values
    val distinct = {
      val d = TestSpark.lcgFrame(sf01).agg(countDistinct("quantity"), countDistinct("discount")).head()
      d.getLong(0) + d.getLong(1)
    }
    def fitCost(partitions: Int): JobCost = {
      val df = TestSpark.lcgFrame(sf01).repartition(partitions).cache()
      df.count() // the repartition shuffle happens outside the meter
      try jobCost {
        graft.spark.WoeBinning.fit(df, "target", cols,
          graft.spark.WoeFitOptions(nThreshold = Some(300)))
        ()
      } finally df.unpersist()
    }
    for (p <- Seq(1, 4)) {
      val cost = fitCost(p)
      assert(cost.jobs == 1, s"$p partitions: ${cost.jobs} jobs")
      assert(cost.shuffleBytes == 0L, s"$p partitions: fit shuffled ${cost.shuffleBytes} bytes")
    }
    // at 64 partitions treeReduce adds one level of sqrt(64) = 8
    // merging tasks; each returns at most every distinct value (24 bytes:
    // value, count, Σtarget).  Every task, the 64 that shuffle partial
    // runs included, also returns its metrics (about 2-4 kB).  A per-row
    // collect would be at least 8 bytes for each of 600k rows
    val cost = fitCost(64)
    val bound = 8L * 24L * distinct + cost.tasks * 8192L
    assert(cost.jobs == 1, s"64 partitions: ${cost.jobs} jobs")
    assert(cost.resultBytes > 0L && cost.resultBytes < bound,
      s"64 partitions: collected ${cost.resultBytes} bytes, bound $bound " +
        s"($distinct distinct values, ${cost.tasks} tasks)")
    assert(cost.tasks <= 64 + 8, s"64 partitions: ${cost.tasks} tasks")
    // the treeReduce level shuffles the 64 partial runs, never the rows
    val corpusBytes = 600000L * 8 * 2
    assert(cost.shuffleBytes > 0L, "64 partitions: expected a (small) treeReduce shuffle")
    assert(cost.shuffleBytes < corpusBytes / 20,
      s"64 partitions: stats pass shuffled ${cost.shuffleBytes} bytes — corpus-scale, not distinct-scale")
    info(s"64 partitions: ${cost.resultBytes} task-result bytes from ${cost.tasks} tasks, bound $bound, " +
      s"${cost.shuffleBytes} treeReduce shuffle bytes ($distinct distinct values)")
  }

  test("fitByGroup: one narrow stats job, collect bounded by segments × distinct values") {
    // every segment's runs come from the fit's one pass: each task keeps
    // per-segment runs and treeReduce merges them segment by segment,
    // with no melt and no groupBy exchange
    val cols = Seq("quantity", "discount") // about 50 and 11 distinct values
    val base = spark.read.parquet(s"$sf01/lineitem.parquet")
      .select(SparkEntry.lcgColumns :+ concat(col("l_returnflag"), col("l_linestatus")).as("seg"): _*)
    val (segments, distinct) = {
      val d = base.agg(countDistinct("seg"), countDistinct("quantity"),
        countDistinct("discount")).head()
      (d.getLong(0), d.getLong(1) + d.getLong(2))
    }
    for (p <- Seq(1, 4)) {
      val df = base.repartition(p).cache()
      df.count() // the repartition shuffle happens outside the meter
      val cost =
        try jobCost {
          graft.spark.WoeBinning.fitByGroup(df, "target", cols, "seg",
            graft.spark.WoeFitOptions(nThreshold = Some(300)))
          ()
        } finally df.unpersist()
      // each task returns at most every segment's distinct values (24
      // bytes: value, count, Σtarget), about 1 kB of framing per
      // segment, and its metrics (about 2-4 kB).  A per-row collect
      // would be at least 8 bytes for each of 600k rows
      val bound = p * (segments * (24L * distinct + 1024L) + 8192L)
      assert(cost.jobs == 1, s"$p partitions: ${cost.jobs} jobs")
      assert(cost.shuffleBytes == 0L, s"$p partitions: fitByGroup shuffled ${cost.shuffleBytes} bytes")
      assert(cost.resultBytes > 0L && cost.resultBytes < bound,
        s"$p partitions: collected ${cost.resultBytes} bytes, bound $bound " +
          s"($segments segments, $distinct distinct values)")
      info(s"$p partitions: ${cost.resultBytes} task-result bytes, bound $bound " +
        s"($segments segments, $distinct distinct values)")
    }
  }

  test("transform (apply) is shuffle-free") {
    val df = TestSpark.lcgFrame(sf01)
    val model = graft.spark.WoeBinning.fit(df, "target", Seq("extendedprice"),
      graft.spark.WoeFitOptions(nThreshold = Some(300)))
    val bytes = shuffleBytes {
      model.transform(df).count()
      ()
    }
    // count()'s own final aggregation exchanges one tiny row per
    // partition; the TRANSFORM itself must add nothing beyond that
    assert(bytes < 50000, s"apply shuffled $bytes bytes")
  }

  test("transform of a new batch: one narrow imputation job, collect bounded by bins") {
    // a near-unique apply column: the exact-medians job it replaced
    // shuffled and collected one row per distinct value; the imputation
    // pass collects per-bin (count, min, max) per task, whatever the
    // number of distinct values
    val fitDf = spark.range(0, 20000, 1, 4).select(
      (col("id") * 0.731).as("x"), (col("id") % 7).cast("double").as("y"),
      when(rand(7) < col("id") / 20000.0, 1.0).otherwise(0.0).as("target"))
    val model = graft.spark.WoeBinning.fit(fitDf, "target", Seq("x", "y"),
      graft.spark.WoeFitOptions(nThreshold = Some(300)))
    val bins = Seq("x", "y").map(model.bins(_).length).sum
    def batch(n: Long) = spark.range(0, n, 1, 4).select(
      when(col("id") % 11 === 0, lit(null)).otherwise(col("id") * 0.377).as("x"),
      (col("id") % 5).cast("double").as("y"))
    // 4 tasks, each returning 3 arrays of `bins` slots plus a fixed
    // serialization overhead (about 1.4 kB); independent of the
    // distinct count
    val bound = 4L * (24L * bins + 4096L)
    for (n <- Seq(20000L, 400000L)) {
      val df = batch(n)
      val cost = jobCost { model.transform(df); () }
      assert(cost.jobs == 1, s"$n rows: ${cost.jobs} jobs before the output action")
      assert(cost.shuffleBytes == 0L, s"$n rows: imputation shuffled ${cost.shuffleBytes} bytes")
      assert(cost.resultBytes > 0L && cost.resultBytes < bound,
        s"$n rows: collected ${cost.resultBytes} bytes, bound $bound ($bins bins)")
      info(s"$n rows: ${cost.resultBytes} task-result bytes, bound $bound ($bins bins)")
    }
    // the bound bites: the exact medians collect grows with distinct values
    val exact = jobCost {
      graft.spark.WoeBinning.exactMedians(batch(400000L), Seq("x", "y")); ()
    }
    assert(exact.resultBytes > 10 * bound, s"exact medians collected ${exact.resultBytes}")
    // a counts-only pass ships each task's runs as a value and a count,
    // no target sums: at most 16 B per run plus a fixed 8 kB per task
    val runs = batch(400000L).groupBy(spark_partition_id())
      .agg(countDistinct("x") + countDistinct("y")).collect().map(_.getLong(1)).sum
    val countsBound = 16L * runs + 8192L * exact.tasks
    assert(exact.resultBytes <= countsBound,
      s"exact medians collected ${exact.resultBytes} bytes, bound $countsBound " +
        s"($runs runs from ${exact.tasks} tasks)")
    info(s"exact medians at 400000 rows: ${exact.resultBytes} task-result bytes, bound " +
      s"$countsBound ($runs runs from ${exact.tasks} tasks)")
    // a middle pair that can overflow takes the exact job as well
    val huge = spark.range(0, 6, 1, 2).select(
      (lit(Double.MaxValue) - col("id")).as("x"), lit(1.0).as("y"))
    assert(jobCost { model.transform(huge); () }.jobs > 1)
  }

  test("blocklist match scans without shuffling text") {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val textBytes = docs.agg(sum(length(col("text")))).head.getLong(0)
    val bytes = shuffleBytes {
      graft.ops.MatchOps.matchSummary(
        docs, "doc_id", "text", board.DedupQueries.blockPatterns).count()
      ()
    }
    // only the tiny (pattern, counts) agg shuffles — never the text
    assert(bytes < textBytes / 100,
      s"blocklist shuffled $bytes bytes vs $textBytes of text")
  }

  test("TopKPerKey shuffles at most partitions*keys*k rows, not the corpus") {
    val orders = spark.read.parquet(s"$sf01/orders.parquet")
      .select(col("o_orderkey").cast("long").as("id"),
        col("o_orderpriority").as("grp"),
        floor(col("o_totalprice")).cast("long").as("v"))
      .repartition(8).cache()
    orders.count() // the repartition shuffle happens OUTSIDE the meter
    val full = shuffleBytes { orders.groupBy("grp").count().count(); () }
    val topk = shuffleBytes {
      graft.ops.TopKOps.topKPerKey(orders, Seq("grp"),
        Seq("v" -> false, "id" -> true), 5).count()
      ()
    }
    // 8 partitions x 5 groups x 5 rows = 200 rows max into the
    // exchange — a fraction of even the groupBy's partial-agg shuffle,
    // and orders of magnitude under the 150k-row corpus
    assert(topk < 200L * 500, s"TopK shuffled $topk bytes")
    assert(topk <= full * 4, s"TopK ($topk) >> groupBy baseline ($full)")
    orders.unpersist()
  }

  test("fused simhash/minhash signature stages are shuffle-free") {
    // the late-r12 claim: signatures are per-row scalars, so deriving
    // (id, signature) from the corpus must write ZERO shuffle bytes —
    // the explode+aggregate formulations they replaced shuffled every
    // token/gram occurrence
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    // foreachPartition, not count(): a global count is itself a
    // 1-row-per-partition exchange (~59 bytes) that would mask the pin
    val sim = shuffleBytes {
      docs.select(col("doc_id"),
          graft.ops.DedupOps.simhashOfText(col("text")).as("s"))
        .where(col("s").isNotNull)
        .foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
    }
    assert(sim == 0L, s"scalar simhash wrote $sim shuffle bytes")
    val mh = shuffleBytes {
      docs.select(col("doc_id"),
          graft.ops.DedupOps.minhashFromGrams(
            graft.ops.DedupOps.shingles(col("text"), 3), 16).as("sig"))
        .where(col("sig").isNotNull)
        .foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
    }
    assert(mh == 0L, s"fused minhash signature wrote $mh shuffle bytes")
  }

  /** Shuffle-write bytes of `parse` over a MATERIALIZED media frame.
    * Since the r18 `MultimodalOps.spread` fan-out, synthesis itself
    * carries one exchange of the small pre-synthesis input rows
    * (id + text — never the built media bytes); the 100 TB pin is on
    * the PARSE side: once media exists, the metadata walk must be a
    * per-row projection with ZERO shuffle — real pipelines read media
    * from storage (binaryFile), so an exchange in the parse chain is
    * the one that would re-shuffle raw bytes at scale.
    */
  private def parseShuffleBytes[M, R](
      media: org.apache.spark.sql.Dataset[M])(
      parse: org.apache.spark.sql.Dataset[M] => org.apache.spark.sql.Dataset[R]): Long = {
    val m = media.cache()
    m.count()
    val b = shuffleBytes {
      parse(m).foreachPartition((_: Iterator[R]) => ())
    }
    m.unpersist()
    b
  }

  test("media metadata parsers are shuffle-free per-row projections") {
    // the r13 audio/EXIF census family (mp3/vbr/flac/aac/opus/exif) is
    // claimed scan-bound: the parse must write ZERO shuffle bytes —
    // a regression that sneaks an exchange into the mapPartitions
    // chain would silently re-shuffle raw media at 100 TB
    import graft.ops.MultimodalOps
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
      .select("doc_id", "text").cache()
    docs.count()
    val b =
      parseShuffleBytes(MultimodalOps.synthesizeMp3(docs, "doc_id", "text"))(
        MultimodalOps.mp3Meta) +
      parseShuffleBytes(MultimodalOps.synthesizeFlac(docs, "doc_id", "text"))(
        MultimodalOps.flacMeta) +
      parseShuffleBytes(MultimodalOps.synthesizeAac(docs, "doc_id", "text"))(
        MultimodalOps.aacMeta) +
      parseShuffleBytes(MultimodalOps.synthesizeOpus(docs, "doc_id", "text"))(
        MultimodalOps.opusMeta) +
      parseShuffleBytes(MultimodalOps.synthesizeExifJpeg(docs, "doc_id", "text"))(
        MultimodalOps.exifMeta)
    docs.unpersist()
    assert(b == 0L, s"media metadata chain wrote $b shuffle bytes")
  }

  test("r14 census families are shuffle-free per-row projections") {
    // same contract for the r14 surfaces: image headers (webp/gif/
    // avif), the vorbis page walk, the shard family (zip/tfrecord/
    // avro), the text manifests (srt/hls), and the zstd ratio —
    // synthesize -> parse writes ZERO shuffle bytes
    import graft.ops.MultimodalOps
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
      .select("doc_id", "text").cache()
    docs.count()
    val b =
      parseShuffleBytes(MultimodalOps.synthesizeWebp(docs, "doc_id", "text"))(
        MultimodalOps.webpMeta) +
      parseShuffleBytes(MultimodalOps.synthesizeGif(docs, "doc_id", "text"))(
        MultimodalOps.gifMeta) +
      parseShuffleBytes(MultimodalOps.synthesizeAvif(docs, "doc_id", "text"))(
        MultimodalOps.avifMeta) +
      parseShuffleBytes(MultimodalOps.synthesizeVorbis(docs, "doc_id", "text"))(
        MultimodalOps.vorbisMeta) +
      parseShuffleBytes(MultimodalOps.synthesizeZipShard(docs, "doc_id", "text"))(
        MultimodalOps.zipMembers) +
      parseShuffleBytes(MultimodalOps.synthesizeTfRecordShard(docs, "doc_id", "text"))(
        MultimodalOps.tfRecords) +
      parseShuffleBytes(MultimodalOps.synthesizeAvro(docs, "doc_id", "text"))(
        MultimodalOps.avroBlocks) +
      parseShuffleBytes(MultimodalOps.synthesizeSrt(docs, "doc_id", "text"))(
        MultimodalOps.srtCues(_, "id", "srt")) +
      parseShuffleBytes(MultimodalOps.synthesizeHls(docs, "doc_id"))(
        MultimodalOps.hlsSegments(_, "id", "m3u8")) +
      shuffleBytes {
        graft.ops.TextOps.zstdCompressionRatio(docs, "doc_id", "text")
          .foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
      }
    docs.unpersist()
    assert(b == 0L, s"r14 census chain wrote $b shuffle bytes")
  }
}
