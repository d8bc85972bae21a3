package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev stage-bisect for the puffin pair (r18 optimization): times
  * synthesis, footer walk, JSON explode, DV decode, and the final
  * orderBy separately (noop sink per guide §1.4) so the 6 s medians
  * are attributable to a stage instead of "the query".
  */
object PuffinProbe {
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
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"  $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    for (round <- Seq("warm", "timed")) {
      println(s"== $round")
      time("docs id scan") { noop(docs.select(col("doc_id"))) }
      val media = graft.ops.StorageOps.synthesizePuffin(docs, "doc_id")
      time("synthesizePuffin") { noop(media) }
      val footers = graft.ops.StorageOps.puffinFooters(media, "id", "content")
      time("synth+footers") { noop(footers) }
      time("q_puffin_meta full") {
        noop(graft.SparkEntry.query("q_puffin_meta").run(spark, sfDir))
      }
      time("q_puffin_dv full") {
        noop(graft.SparkEntry.query("q_puffin_dv").run(spark, sfDir))
        graft.ops.DedupOps.unpersistAll()
      }
    }
    spark.stop()
  }
}
