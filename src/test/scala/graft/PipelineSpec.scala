package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Integration: the composed training-data pipeline (PipelineDemo.run)
  * — each stage is oracle-checked individually; this pins that they
  * COMPOSE (counts shrink monotonically where they must, the output is
  * deterministic, and the packing covers exactly the surviving docs).
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf001 = "/root/testdata/sf0.001"

  test("composed pipeline: monotone stage counts, deterministic output") {
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val corpus = docs.filter(col("doc_id") >= 20)
    val bench = docs.filter(col("doc_id") < 20)
    val (out, seqPlan, stages) = PipelineDemo.run(spark, corpus, bench)
    val counts = stages.map(_._2)
    assert(stages.head._1 == "input" && counts.head == corpus.count())
    // every filtering stage can only shrink the corpus
    counts.sliding(2).foreach { case Seq(a, b) => assert(b <= a, stages) }
    assert(counts.last > 0, "pipeline must not empty the corpus")
    val rows = out.select("doc_id", "split", "shard_id", "n_tokens")
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == counts.last)
    assert(rows.map(_._1).distinct.length == rows.length, "doc_id unique")
    assert(rows.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // sequence plan covers exactly the train split's tokens
    val trainTokens = rows.filter(_._2 == "train").map(_._4).sum
    val spanRows = seqPlan.select("doc_id", "n_taken").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(spanRows.map(_._2).sum == trainTokens, "token conservation")
    assert(spanRows.map(_._1).distinct.toSet.subsetOf(
      rows.filter(_._2 == "train").map(_._1).toSet))
    // deterministic: a second full run yields the identical plan
    val (out2, seqPlan2, stages2) = PipelineDemo.run(spark, corpus, bench)
    assert(stages2 == stages)
    val rows2 = out2.select("doc_id", "split", "shard_id", "n_tokens")
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows2.sortBy(_._1).toSeq == rows.sortBy(_._1).toSeq)
    // run() releases every intermediate cache itself; the returned
    // frames (out AND the pinned seqPlan) are the caller's to release
    out.unpersist(); out2.unpersist()
    seqPlan.unpersist(); seqPlan2.unpersist()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty,
      s"pipeline must not leak cached RDDs across runs: $leaked")
    // the wave→seconds attribution covers every BLOCKING wave of the
    // fused pipeline (r19 boundary fusion: the oracle-gated stage
    // counts come from one union job, so attribution is per driver
    // barrier, not per stage), in order
    assert(PipelineDemo.lastStageSeconds.map(_._1) ==
      Seq("quality_gate", "dedup_cc", "decontaminate", "rebalance_pack",
        "seq_pack", "stage_counts"))
    assert(PipelineDemo.lastStageSeconds.forall(_._2 >= 0.0))
  }

  test("selection pipeline: timed (staged) flavor returns the identical result") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val targets = Map("src0" -> 0.30, "src1" -> 0.25, "src2" -> 0.20,
      "src3" -> 0.15, "src4" -> 0.10)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val plain = graft.ops.SelectionOps.selectionPipeline(
      docs, "doc_id", "text", "lang", "source",
      budgetPerLang = 4000L, targets = targets,
      totalBudget = 50000L, seqLen = 256L, salt = "sel7")
    val (timedOut, secs) = graft.ops.SelectionOps.selectionPipelineTimed(
      docs, "doc_id", "text", "lang", "source",
      budgetPerLang = 4000L, targets = targets,
      totalBudget = 50000L, seqLen = 256L, salt = "sel7")
    assert(rowsOf(timedOut) == rowsOf(plain),
      "staged boundaries must not change the result")
    assert(secs.map(_._1) == Seq("quality_gate", "perplexity_buckets",
      "budget_select", "mixture", "seq_pack_manifest"))
    assert(secs.forall(_._2 >= 0.0))
    timedOut.unpersist()
    graft.ops.DedupOps.unpersistAll()
  }

  test("a failed stage count surfaces its own exception, not ExecutionException") {
    val ok = spark.range(10).toDF("id")
    val boom = udf((x: Long) => if (x == 3L) throw new IllegalStateException("stage boom") else x)
    val failing = spark.range(10).toDF("id").where(boom(col("id")) >= 0L)
    assert(PipelineDemo.countConcurrently(Seq("ok" -> ok, "ok2" -> ok)) ==
      Seq("ok" -> 10L, "ok2" -> 10L))
    // what the failing frame's own count throws, called directly
    val direct = intercept[Exception](failing.count())
    val surfaced = intercept[Exception](
      PipelineDemo.countConcurrently(Seq("ok" -> ok, "failing" -> failing)))
    assert(!surfaced.isInstanceOf[java.util.concurrent.ExecutionException], surfaced)
    assert(surfaced.getClass == direct.getClass, surfaced)
    val causes = Iterator.iterate[Throwable](surfaced)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage == "stage boom"), causes)
  }
}
