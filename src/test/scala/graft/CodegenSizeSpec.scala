package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.core.WoeBin
import graft.spark.WoeBinningModel

/** HotSpot does not JIT-compile a method over 8000 bytes of bytecode
  * (`-XX:+DontCompileHugeMethods`, the default), so a whole-stage
  * generated method above that size runs every row in the bytecode
  * interpreter.  Scoring a wide model must keep every generated method
  * of the stage under the limit.
  */
class CodegenSizeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  test("a 40-variable x 12-bin transform compiles to methods under HotSpot's 8000-byte JIT limit") {
    val nVars = 40
    val nBins = 12
    val names = (0 until nVars).map(i => s"x$i")
    val fitted = names.zipWithIndex.map { case (v, i) =>
      // ascending cuts 0, 10, ..., 110; distinct WoE per bin and a
      // distinct total IV per variable, so all 40 survive the filters
      val cuts = Double.NegativeInfinity +: (1 until nBins).map(_ * 10.0) :+
        Double.PositiveInfinity
      v -> (0 until nBins).map { k =>
        WoeBin(v, cuts(k), cuts(k + 1), 10, 0.5, 5, 5, 0.1, 0.1,
          k * 0.25 - 1.5 + i * 1e-3, 0.05 + i * 1e-3)
      }.toVector
    }
    val model = new WoeBinningModel(fitted)
    val rows = (0 until 200).map(r =>
      Row(names.indices.map(i => if ((r + i) % 17 == 0) null else ((r * 7 + i) % 130).toDouble): _*))
    val schema = StructType(names.map(StructField(_, DoubleType, nullable = true)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

    val scored = model.transform(df)
    assert(scored.columns.length == nVars)
    val agg = scored.agg(count(lit(1)),
      sum(xxhash64(scored.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
    // collect on `agg` itself, so its adaptive plan is the final one
    assert(agg.collect().head.getLong(0) == 200L)

    val stages = collect(agg.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty, "no whole-stage codegen in the executed plan")
    val sizes = stages.map(w => CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize)
    info(s"largest generated method per stage: ${sizes.mkString(", ")} bytes")
    assert(sizes.forall(_ < 8000), sizes)
  }
}
