package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** Registry-wide plan audit (r18 optimization deliverable): for every
  * declared query, build the DataFrame at a small SF and print a
  * compact physical-plan census — Exchange count, join strategies,
  * aggregate kinds, cartesians, non-codegen generators — so the
  * "examined every operator" checklist is grounded in plan evidence
  * rather than spot reads.  Queries are BUILT, not executed (the
  * DataFrame-returning closure may run its eager staging/fit parts);
  * the printed counts are from the pre-AQE executed plan.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def census(p: SparkPlan): Map[String, Int] = {
      val m = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      p.foreach { n =>
        val k = n.getClass.getSimpleName
          .replace("Exec", "")
        m(k) += 1
      }
      m.toMap
    }
    val interesting = Seq("ShuffleExchange", "BroadcastExchange",
      "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct", "SortAggregate",
      "HashAggregate", "ObjectHashAggregate", "Sort", "Window", "Generate",
      "SerializeFromObject", "MapElements", "MapPartitions", "Expand")
    var failed = List.empty[String]
    graft.SparkEntry.queries.sortBy(_.name).foreach { q =>
      val name = q.name
      try {
        val df = q.run(spark, dir)
        // sparkPlan, not executedPlan: AdaptiveSparkPlanExec exposes no
        // children, so foreach over the AQE wrapper sees one node
        val c = census(df.queryExecution.sparkPlan)
        val parts = interesting.flatMap { k =>
          val n = c.getOrElse(k, 0)
          if (n > 0) Some(s"$k=$n") else None
        }
        println(s"[plan] $name :: ${parts.mkString(" ")}")
        graft.ops.DedupOps.unpersistAll()
      } catch { case e: Throwable =>
        failed ::= name
        println(s"[plan] $name :: BUILD FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(s"[plan] done, build failures: ${failed.size}")
    spark.stop()
  }
}
