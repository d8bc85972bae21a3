package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.spark.{WoeBinning, WoeFitOptions}

/** Manual scale stress (not part of the driver bench).
  *
  * Default mode: inflates sf0.1 lineitem 10× with value jitter → ~6M
  * rows / ~6M distinct values, then fits exact vs quantile-prebinned —
  * the distinct-value-explosion story beyond the shipped testdata.
  * Run: `sbt "runMain graft.Stress"`.
  *
  * `pipeline` mode: inflates sf0.1 documents 10× (each original plus 9
  * near-dup replicas) and drives the dedup → connected-components →
  * purge → pack chain with the DISTRIBUTED CC path forced
  * (collectThreshold=0), recording per-stage wall time, total and
  * max-single-stage shuffle write, and peak driver RSS — the measured
  * numbers SCALE.md's 100 TB claims cite.
  * Run: `sbt "runMain graft.Stress pipeline"`.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.headOption.contains("pipeline")) { pipelineStress(spark); spark.stop(); return }
    if (args.headOption.contains("text")) { textStress(spark); spark.stop(); return }
    val base = SparkEntry.lcgFrame(spark, "/root/testdata/sf0.1")
    val inflated = spark.range(10).crossJoin(base)
      .withColumn("extendedprice",
        col("extendedprice") + col("id").cast("double") * lit(0.0001))
      .drop("id")
      .cache()
    val n = inflated.count()
    val distinct = inflated.select(countDistinct("extendedprice")).head().getLong(0)
    println(s"rows=$n distinctPrices=$distinct")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val exact = time("exact fit (collect ~6M stats)") {
      WoeBinning.fit(inflated, "target", Seq("extendedprice"),
        WoeFitOptions(nThreshold = Some(300000)))
    }
    println(s"exact bins=${exact.bins("extendedprice").length} " +
      s"iv=${exact.bins("extendedprice").map(_.ivComponents).sum}")
    val pre = time("prebinned fit (maxDistinct=10000)") {
      WoeBinning.fit(inflated, "target", Seq("extendedprice"),
        WoeFitOptions(nThreshold = Some(300000), maxDistinct = Some(10000)))
    }
    println(s"prebinned bins=${pre.bins("extendedprice").length} " +
      s"iv=${pre.bins("extendedprice").map(_.ivComponents).sum}")
    spark.stop()
  }

  /** VmRSS of this JVM from /proc (MiB); -1 where /proc is absent. */
  private def rssMb(): Long =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmRSS")).getOrElse("")
      line.split("\\s+").lift(1).map(_.toLong / 1024).getOrElse(-1L)
    } catch { case _: Throwable => -1L }

  private def pipelineStress(spark: SparkSession): Unit = {
    import graft.ops.{ClusterOps, DedupOps, PackingOps, TextOps}
    // shuffle accounting: total + max single stage, via listener
    val totalShuffle = new java.util.concurrent.atomic.AtomicLong
    val maxStageShuffle = new java.util.concurrent.atomic.AtomicLong
    var peakRss = rssMb()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          totalShuffle.addAndGet(w)
          maxStageShuffle.getAndUpdate(m => math.max(m, w))
          peakRss = math.max(peakRss, rssMb())
        }
      })
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    // 10 near-dup replicas per doc: same text + a replica marker token,
    // ids offset into disjoint ranges — clusters of ~10 are the target
    val corpus = spark.range(10).crossJoin(base)
      .select((col("doc_id") + col("id") * lit(10000000L)).as("doc_id"),
        when(col("id") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" replica"), col("id"))).as("text"),
        col("lang"))
      .persist()
    val n = corpus.count()
    println(s"[stress] corpus rows=$n (10x sf0.1 documents) rss=${rssMb()}MiB")

    def stage[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      peakRss = math.max(peakRss, rssMb())
      println(f"[stress] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        f"(cum shuffle ${totalShuffle.get / (1 << 20)}%d MiB, rss ${rssMb()}%d MiB)")
      r
    }
    val pairs = stage("minhash pairs (xxhash64 scale flavor)") {
      val p = DedupOps.minhashPairs(corpus, "text", "doc_id",
        jaccardThreshold = 0.5).select("id_a", "id_b").persist()
      println(s"[stress]   pairs=${p.count()}")
      p
    }
    val cc = stage("connected components (distributed contraction forced)") {
      val c = ClusterOps.connectedComponents(pairs, "id_a", "id_b",
        collectThreshold = 0L).persist()
      println(s"[stress]   assignments=${c.count()}")
      c
    }
    val deduped = stage("purge (keep one per cluster)") {
      val d = ClusterOps.dedupedCorpus(corpus, "doc_id", cc).persist()
      println(s"[stress]   survivors=${d.count()}")
      d
    }
    stage("pack (token budget 4096)") {
      val packed = PackingOps.packByTokenBudget(
        deduped.select(col("doc_id"),
          TextOps.bpeTokenEstimate(col("text")).as("tok")),
        "doc_id", "tok", 4096L)
      println(s"[stress]   shards=${packed.select(max("shard_id")).head().get(0)}")
    }
    println(f"[stress] TOTAL shuffle write ${totalShuffle.get / (1 << 20)}%d MiB, " +
      f"max single stage ${maxStageShuffle.get / (1 << 20)}%d MiB, " +
      f"peak driver RSS $peakRss%d MiB")
    corpus.unpersist(); pairs.unpersist(); cc.unpersist(); deduped.unpersist()
    DedupOps.unpersistAll()
  }

  /** `text` mode (r8): 10× corpus through the per-row text family —
    * HTML extraction, the learned quality classifier, BPE encode, URL
    * normalize + per-domain cap.  The claim under test: everything but
    * the cap window shuffles ZERO bytes (pure projections), and the
    * cap's one shuffle carries (id, domain) pairs, not text.
    * Run: `sbt "runMain graft.Stress text"`.
    */
  private def textStress(spark: SparkSession): Unit = {
    import graft.ops.{SelectionOps, TextOps, UrlOps}
    val totalShuffle = new java.util.concurrent.atomic.AtomicLong
    val maxStageShuffle = new java.util.concurrent.atomic.AtomicLong
    var peakRss = rssMb()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          totalShuffle.addAndGet(w)
          maxStageShuffle.getAndUpdate(m => math.max(m, w))
          peakRss = math.max(peakRss, rssMb())
        }
      })
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val corpus = spark.range(10).crossJoin(base)
      .select((col("doc_id") + col("id") * lit(10000000L)).as("doc_id"),
        col("text"), col("source"))
      .persist()
    val n = corpus.count()
    println(s"[stress] corpus rows=$n (10x sf0.1 documents) rss=${rssMb()}MiB")

    def stage[A](label: String)(f: => A): A = {
      val before = totalShuffle.get
      val t0 = System.nanoTime()
      val r = f
      peakRss = math.max(peakRss, rssMb())
      println(f"[stress] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        f"(stage shuffle ${(totalShuffle.get - before) / (1 << 10)}%d KiB, " +
        f"rss ${rssMb()}%d MiB)")
      r
    }
    stage("html extract (12-pattern chain)") {
      val html = concat(lit("<html><body><p>"), col("text"),
        lit("</p><!-- x --></body></html>"))
      println("[stress]   total clean chars: " + corpus
        .select(sum(length(TextOps.extractHtmlText(html)))).head().get(0))
    }
    stage("quality classifier (64-bucket linear)") {
      val scored = SelectionOps.linearQualityScore(
        corpus, "doc_id", "text", SelectionOps.demoWeights(64), bias = 17L)
      println("[stress]   kept: " + scored.filter(col("keep") === 1).count())
    }
    stage("bpe encode (12 merges)") {
      println("[stress]   total bpe tokens: " + TextOps.bpeEncode(
          corpus, "doc_id", "text", board.TextQueries.bpeFixtureMerges)
        .select(sum("n_bpe_tokens")).head().get(0))
    }
    stage("url normalize + domain cap (the ONE shuffle)") {
      val urls = corpus.select(col("doc_id"),
        concat(lit("HTTPS://WWW."), col("source"),
          lit(".COM:443/d/"), col("doc_id").cast("string"),
          lit("?utm_source=x&id=1#f")).as("url"))
      println("[stress]   capped rows: " +
        UrlOps.capPerDomain(urls, "url", "doc_id", cap = 1000).count())
    }
    println(f"[stress] TOTAL shuffle write ${totalShuffle.get / (1 << 20)}%d MiB, " +
      f"max single stage ${maxStageShuffle.get / (1 << 20)}%d MiB, " +
      f"peak driver RSS $peakRss%d MiB")
    corpus.unpersist()
  }
}
