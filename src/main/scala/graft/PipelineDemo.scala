package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** End-to-end training-data pipeline over the documents table — the
  * composed form of the operator families (each stage is individually
  * oracle-checked; `PipelineSpec` pins the composition):
  *
  *   quality gate + intra-doc paragraph scrub →
  *   exact+near dedup → cluster purge → substring window-dedup gate →
  *   bloom benchmark decontamination → PII scrub →
  *   temperature (√-weighted) source rebalance →
  *   train/val/test split → token-budget shard packing →
  *   GPT-style sequence packing
  *
  * Run: `sbt "runMain graft.PipelineDemo [sfDir]"`.
  */
object PipelineDemo {

  /** The pipeline as a function: corpus in, packed training plan out.
    * Returns (kept corpus with split+shard columns, the per-(doc,
    * sequence) packing plan for the train split, per-stage counts,
    * wave → seconds).
    *
    * The pipeline blocks only where a driver-side value is genuinely
    * needed (the CC loop, the decontamination count that sizes the
    * rebalance target, the packers' per-partition offset collects, the
    * final sequence count, and ONE union-of-counts job that yields
    * every remaining stage count), so the seconds are per blocking
    * WAVE, not per oracle stage: each wave is timed from the end of the
    * previous wave through its own action, construction work included,
    * and they sum to ≈ the e2e wall time.
    *
    * Every stage boundary is persisted, so each stage EXECUTES ONCE:
    * downstream actions materialize the caches they pass through, and
    * later stages read the cache instead of re-deriving the whole
    * upstream lineage per action (at cluster scale, swap persist for
    * checkpoint-to-store — the composition shape is the same).  Since
    * r19 the per-boundary `count()` barriers are FUSED: the pipeline
    * blocks only where a driver-side value is required (the CC loop,
    * the decontamination count that sizes the rebalance target, the
    * packers' offset collects, the final sequence count), and every
    * other stage count is read back in ONE union-of-counts job over
    * the already-cached boundaries — same counts, same stage names and
    * order, ~6 fewer sequential job waves (guide §2.4/§5: each barrier
    * was a full multi-exchange job wave whose latency is pure
    * composition overhead at any scale).  All intermediate caches
    * (including DedupOps' registered ones) are released before
    * returning, success or failure; the returned `out` frame STAYS
    * cached — callers `unpersist()` it when done (`seqPlan` is a cheap
    * derivation of cached `out` and needs no cache of its own).
    */
  def run(spark: SparkSession, docs: DataFrame,
      benchmark: DataFrame)
      : (DataFrame, DataFrame, Seq[(String, Long)], Seq[(String, Double)]) = {
    val secs = Seq.newBuilder[(String, Double)]
    val boundaries = scala.collection.mutable.Buffer.empty[DataFrame]
    def boundary(df: DataFrame): DataFrame = { boundaries += df.persist(); df }
    // inclusive wave clock: each blocking wave owns everything since
    // the previous one, driver-side construction work included
    var mark = System.nanoTime()
    def timed[T](name: String)(action: => T): T = {
      val v = action
      val now = System.nanoTime()
      secs += name -> (now - mark) / 1e9
      mark = now
      v
    }
    try {
      // 1. quality gate (C4/Gopher-style composite + repetition cap),
      //    then the intra-doc paragraph scrub on the survivors (so the
      //    cross-doc dedup stages see repetition-free text).  The
      //    count here is a MATERIALIZATION barrier, not (only) a stage
      //    count: three dedup subtrees below read this cache inside
      //    one job, and concurrent tasks racing a cold cache each run
      //    the compute (the hudiMorRead decode-once lesson — measured
      //    +0.8 s on this chain when the barrier was dropped in the
      //    first r19 fusion cut).
      val quality = boundary(TextOps.repetitionStats(
          TextOps.qualityMetrics(docs, "text"), "text", 2)
        .where(col("quality_score") >= 0.5 && col("dup_gram_frac") <= 0.5)
        .select(docs.columns.map(col): _*)
        .withColumn("text", TextOps.dedupParagraphs(col("text"))))
      timed("quality_gate")(quality.count())

      // 2. dedup: exact star pairs + token-jaccard near-dups → components
      //   → one canonical doc per cluster.  The CC contraction loop is
      //   an inherent blocking wave (per-iteration convergence sigs);
      //   deduped's count is again a cache-race barrier (the window-
      //   dedup stats and the anti-join below both read it in one job).
      val exactPairs = DedupOps.exactDupMembers(quality, "text", "doc_id")
        .join(DedupOps.exactDupGroups(quality, "text", "doc_id")
          .select("content_hash", "keep_id"), "content_hash")
        .where(col("id") =!= col("keep_id"))
        .select(col("keep_id").as("id_a"), col("id").as("id_b"))
      val nearPairs = DedupOps
        .tokenJaccardPairs(quality, "text", "doc_id", "n_chars", 0.7)
        .select("id_a", "id_b")
      val cc = ClusterOps.connectedComponents(
        exactPairs.union(nearPairs), "id_a", "id_b")
      val deduped = boundary(ClusterOps.dedupedCorpus(quality, "doc_id", cc))
      timed("dedup_cc")(deduped.count())

      // 3. substring window-dedup gate: drop docs mostly stitched from
      //    text duplicated elsewhere (whole-doc tests can't see these).
      //    No barrier: substringClean has ONE consumer (the clean
      //    chain), so the decontaminate count below fills its cache
      //    without a race.
      val windowDups = DedupOps.duplicateWindowStats(deduped, "doc_id", "text", k = 8)
        .where(col("dup_frac") > 0.8).select(col("id").as("doc_id"))
      val substringClean = boundary(deduped.join(windowDups, Seq("doc_id"), "left_anti"))

      // 4. benchmark decontamination via the PER-ROW bloom probe (O(m)
      //    broadcast state, zero shuffle; >= 10 flagged trigrams drops).
      //    This count is the one boundary count that must block: it
      //    sizes the rebalance target below.  The single job fills the
      //    deduped → substringClean → clean caches in one wave.
      val positions = TextOps.bloomBuild(benchmark, "text", n = 3)
      val clean = boundary(substringClean
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__b",
          TextOps.bloomContaminationCols(col("__toks"), positions, n = 3))
        .where(col("__b.n_flagged") < 10)
        .drop("__toks", "__b"))
      val nClean = timed("decontaminate")(clean.count())

      // 5. PII scrub (projection; row count unchanged by construction)
      val scrubbed = clean.withColumn("text", TextOps.redactPii(col("text")))

      // 6. temperature rebalance (√-weighted source mixing toward 80%
      //    of the surviving corpus)
      val balanced = boundary(SampleOps.temperatureSample(
        scrubbed, "doc_id", "lang", targetRows = math.max(1L, nClean * 8 / 10),
        salt = "demo"))

      // 7. deterministic split + 8. token-budget shard packing.  The
      //    packer's offset collect materializes `balanced`; no count
      //    barrier of its own.
      val split = SampleOps.hashSplit(balanced, "doc_id", "demo")
      val packed = timed("rebalance_pack")(PackingOps.packByTokenBudget(
        split.select(col("doc_id"),
          TextOps.bpeTokenEstimate(col("text")).as("tok")),
        "doc_id", "tok", 4096L))
      val out = split.join(
        packed.select(col("doc_id"), col("n_tokens"), col("shard_id")), "doc_id")
        .persist() // kept cached for the caller (NOT in `boundaries`)

      // 9. GPT-style sequence packing of the train split: the final
      //    (doc, sequence) layout a pretraining loader consumes.
      //    EAGERLY persisted+materialized before the finally releases
      //    the packer's registered persist: packSequences' offset pass
      //    collected per-partition sums from the pinned range
      //    partitioning, and a caller action AFTER unpersistAll would
      //    re-plan that exchange with freshly-sampled boundaries —
      //    silently mismatching the baked-in offsets.  The persist
      //    (same caller-released convention as `out`) materializes
      //    through the still-live cache (filling `out` en route); even
      //    on block eviction the InMemoryRelation recomputes its
      //    RETAINED physical plan — the same exchange instance, hence
      //    the same boundaries.
      val seqPlan = PackingOps.packSequences(
        out.where(col("split") === "train")
          .select(col("doc_id"), col("n_tokens").as("tok")),
        "doc_id", "tok", 512L)
        .persist()
      timed("seq_pack")(seqPlan.count())

      // Stage counts for the oracle-gated table, in one CONCURRENT
      // wave: every boundary is cached (materialized by the waves
      // above), so each count is a cheap cached scan — submitted from
      // a small driver thread pool so the seven jobs overlap instead
      // of paying seven sequential job-wave latencies (guide §2.6; a
      // single union-of-aggregates job measured ~1.0 s because AQE
      // materializes each branch's exchange as its own stage wave).
      // MUST run before the finally releases the upstream caches:
      // recomputation after release could re-sample range boundaries
      // inside the dedup chain.  Counts are identical to the
      // per-boundary counts by the execute-once persist discipline.
      val stageFrames = Seq(
        "input" -> docs, "quality_gate" -> quality, "dedup_purge" -> deduped,
        "window_dedup" -> substringClean, "decontaminate" -> clean,
        "rebalance" -> balanced, "packed" -> out)
      val stages = timed("stage_counts")(countConcurrently(stageFrames))
      (out, seqPlan, stages, secs.result())
    } finally {
      // releasing upstream caches is safe: `out` and `seqPlan` are
      // materialized caller-owned caches
      boundaries.foreach(_.unpersist())
      DedupOps.unpersistAll()
      ClusterOps.unpersistAll()
    }
  }

  /** Each frame's `count()`, all submitted at once from a driver pool
    * of one thread per frame, in input order.  A failed count rethrows
    * its own exception, not the pool's `ExecutionException` wrapper.
    */
  private[graft] def countConcurrently(
      frames: Seq[(String, DataFrame)]): Seq[(String, Long)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(frames.size)
    try {
      import scala.jdk.CollectionConverters._
      val tasks = frames.map { case (name, df) =>
        new java.util.concurrent.Callable[(String, Long)] {
          def call(): (String, Long) = name -> df.count()
        }
      }
      pool.invokeAll(tasks.asJava).asScala.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }.toSeq
    } finally pool.shutdown()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (out, seqPlan, stages, _) = run(spark, docs.filter(col("doc_id") >= 20),
      docs.filter(col("doc_id") < 20))
    println("== pipeline stages ==")
    stages.foreach { case (name, n) => println(f"$name%-16s $n%7d docs") }
    println("== split x shard summary ==")
    out.groupBy("split").agg(count(lit(1)).as("docs"),
        sum("n_tokens").as("tokens"),
        countDistinct("shard_id").as("shards"))
      .orderBy("split").show(truncate = false)
    println("== train sequence-packing summary ==")
    seqPlan.agg(countDistinct("seq_id").as("sequences"),
        count(lit(1)).as("doc_spans"),
        sum("n_taken").as("tokens")).show(truncate = false)
    out.unpersist()
    seqPlan.unpersist() // run() persists it for the caller; release both
    spark.stop()
  }
}
