package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev probe for the two streaming drains (r18 optimization): runs
  * each AvailableNow drain once and prints the per-microbatch
  * progress JSON — batch count, rows, and the durationMs breakdown
  * (latestOffset / getBatch / queryPlanning / walCommit / addBatch /
  * commitOffsets / triggerExecution) — so the ~11–15 s gap between
  * the stream rows and their 0.3–0.5 s batch equivalents is
  * attributable to a SPECIFIC machinery phase instead of "overhead".
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def drain(label: String, stagedDir: String,
        stream: String => org.apache.spark.sql.DataFrame): Unit = {
      val name = s"probe_${System.nanoTime()}"
      val t0 = System.nanoTime()
      val q = stream(stagedDir)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val t1 = System.nanoTime()
      val n = spark.table(name).count()
      println(s"== $label: drain ${(t1 - t0) / 1e9}%s s, rows $n, " +
        s"batches ${q.recentProgress.length}")
      q.recentProgress.foreach { p =>
        println(s"  batch ${p.batchId}: rows=${p.numInputRows} " +
          s"durations=${p.durationMs}")
      }
      q.stop()
      spark.catalog.dropTempView(name)
    }

    val tarDir = graft.board.StreamingQueries.stageShardFiles(spark, sfDir)
    val warcDir = graft.board.StreamingQueries.stageWarcGzFiles(spark, sfDir)
    // A/B: default listing threshold (32 → a 5000-task Spark job per
    // getBatch) vs driver-side listing of the already-enumerated files
    if (args.length > 1 && args(1) == "driver-list")
      spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold", 1 << 30)
    // one warm pass each (JIT/codegen), then the measured pass
    for (round <- Seq("warm", "timed")) {
      drain(s"$round shard_census", tarDir,
        d => graft.ops.StreamingOps.shardCensusStream(spark, d,
          maxFilesPerTrigger = 16384))
      drain(s"$round warc_cdx", warcDir,
        d => graft.ops.StreamingOps.warcCdxStream(spark, d,
          maxFilesPerTrigger = 16384))
    }
    spark.stop()
  }
}
