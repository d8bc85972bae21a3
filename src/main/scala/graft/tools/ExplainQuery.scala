package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only: print the formatted physical plan of a board query
  * (args: queryName [sfDir]) — the `.explain("formatted")` iterate-on-
  * the-plan loop the build discipline calls for, without ad-hoc code.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    // flags are positional-independent: "-run" anywhere must not be
    // mistaken for the sfDir
    val positional = args.filterNot(_.startsWith("-"))
    val name = positional.headOption.getOrElse("q_lm_score")
    val dir = if (positional.length > 1) positional(1) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.query(name).run(spark, dir)
    if (args.contains("-run")) { df.count(); df.explain("formatted") }
    else df.explain("formatted")
    spark.stop()
  }
}
