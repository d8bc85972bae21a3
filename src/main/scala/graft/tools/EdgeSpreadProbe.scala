package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev A/B (r18): does fanning the 1-row-group documents scan out
  * before a HEAVY per-row stage (tokenize + bigram explode + partial
  * agg) pay, where it measurably did NOT pay for the fit's light
  * stats pass (then a melt + groupBy; the fit now reads its stats in
  * one narrow pass, graft.spark.FitStats)?  Round-robin interleaved in
  * one JVM session.
  */
object EdgeSpreadProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.TextOps
    def edges(docs: org.apache.spark.sql.DataFrame) = {
      val t = docs.select(TextOps.tokens(col("text")).as("__t"))
      t.select(col("__t"), explode(
          when(size(col("__t")) >= 2,
            sequence(lit(1), size(col("__t")) - 1))
            .otherwise(array().cast("array<int>"))).as("i"))
        .select(element_at(col("__t"), col("i")).as("x"),
          element_at(col("__t"), col("i") + 1).as("y"))
        .where(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
        .where(col("n") >= 66)
    }
    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body
      println(f"[edge] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm both
    noop(edges(docs)); noop(edges(docs.repartition(32)))
    (1 to 3).foreach { i =>
      println(s"-- pass $i")
      time("edges (1-task scan)")(noop(edges(docs)))
      time("edges (spread scan)")(noop(edges(docs.repartition(32))))
      time("kcore full (1-task)") {
        noop(graft.ops.GraphOps.kCore(edges(docs), "a", "b", k = 6))
        graft.ops.DedupOps.unpersistAll()
      }
      time("kcore full (spread)") {
        noop(graft.ops.GraphOps.kCore(edges(docs.repartition(32)), "a", "b", k = 6))
        graft.ops.DedupOps.unpersistAll()
      }
    }
    spark.stop()
  }
}
