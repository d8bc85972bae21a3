package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev A/B (r18): spark.sql.join.preferSortMergeJoin=false (guide §3.1
  * — shuffled-hash join when per-partition build side fits) across the
  * join-heavy board rows, interleaved in one JVM session.
  */
object ShjProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = Seq("q_triangles", "q_fuzzy_link", "q_source_overlap",
      "q_kmv_overlap", "q_dedup_token_jaccard", "q_event_funnel",
      "q_kcore", "q_dedup_minhash_md5")
    // warm both flavors
    for (pref <- Seq("true", "false"); q <- qs) {
      spark.conf.set("spark.sql.join.preferSortMergeJoin", pref)
      graft.SparkEntry.query(q).run(spark, dir).count()
      graft.ops.DedupOps.unpersistAll()
    }
    val acc = collection.mutable.Map.empty[(String, String), List[Double]]
      .withDefaultValue(Nil)
    for (pass <- 1 to 3; pref <- Seq("true", "false"); q <- qs) {
      spark.conf.set("spark.sql.join.preferSortMergeJoin", pref)
      val t0 = System.nanoTime()
      graft.SparkEntry.query(q).run(spark, dir).count()
      graft.ops.DedupOps.unpersistAll()
      acc((q, pref)) = (System.nanoTime() - t0) / 1e9 :: acc((q, pref))
    }
    qs.foreach { q =>
      def med(l: List[Double]) = l.sorted.apply(l.length / 2)
      println(f"[shj] $q%-24s smj=${med(acc((q, "true")))}%.3f shj=${med(acc((q, "false")))}%.3f")
    }
    spark.stop()
  }
}
