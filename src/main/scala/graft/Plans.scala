package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Prints the physical plans of the engine's load-bearing queries —
  * the review loop for shuffle/pushdown/broadcast hygiene.
  * Run: `sbt "runMain graft.Plans [sfDir]"`.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def show(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n=============== $name ===============")
      df.explain("formatted")
    }

    val df = SparkEntry.lcgFrame(spark, sfDir)
    show("transform (apply)") {
      val m = graft.spark.WoeBinning.fit(df, "target", Seq("extendedprice"),
        graft.spark.WoeFitOptions(nThreshold = Some(300)))
      m.transform(df)
    }
    show("minhash pairs") {
      graft.ops.DedupOps.minhashPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id")
    }
    show("ann topk (broadcast queries)") {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      graft.ops.SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10)
    }
    show("events windowed counts") {
      graft.ops.StreamingOps.windowedCounts(
        graft.ops.StreamingOps.readEventsBatch(spark, sfDir))
    }
    show("ivf topk (kmeans cells + broadcast probe join)") {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      graft.ops.SimilarityOps.ivfTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        nCells = 4, nProbe = 2, k = 5)
    }
    show("simhash pairs (hot-bucket guard: broadcast anti-join)") {
      graft.ops.DedupOps.simhashPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id")
    }
    show("int8 quantization (pure projection)") {
      graft.ops.SimilarityOps.quantizeInt8(
        spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", "embedding")
    }
    show("cc one round (edge-set shuffles only, no arrays)") {
      // one large-star+small-star round over a toy edge set — the
      // repeated unit of connectedComponents (the loop itself is
      // checkpoint-truncated so the full plan never materializes)
      import spark.implicits._
      val pairs = Seq((2L, 1L), (3L, 2L)).toDF("id_a", "id_b")
      graft.ops.ClusterOps.connectedComponents(pairs, "id_a", "id_b")
    }
    show("token topk (partial agg + TakeOrdered)") {
      graft.ops.TextOps.topTokens(
        spark.read.parquet(s"$sfDir/documents.parquet"), "text", 100)
    }
    show("hash split (pure projection)") {
      graft.ops.SampleOps.hashSplit(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "r3")
    }
    show("doc chunking (projection + explode, no shuffle)") {
      graft.ops.TextOps.chunkByTokens(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", 32, 16)
    }
    show("bm25 (term-filter before agg, broadcast stats + df)") {
      graft.ops.TextOps.bm25Scores(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text",
        Seq("join", "scan", "window"))
    }
    show("window dedup (hash-keyed agg + co-partitioned join-back)") {
      graft.ops.DedupOps.duplicateWindowStats(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
    }
    show("unigram LM (vocab join co-partitioned on token, no broadcast vocab)") {
      graft.ops.TextOps.unigramLogProbs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
    }
    show("salted join (join keys include the salt)") {
      val ev = graft.ops.StreamingOps.readEventsBatch(spark, sfDir)
        .select("event_id", "user_id", "event_type")
      val dim = ev.groupBy("event_type").agg(count(lit(1)).as("type_count"))
      graft.ops.JoinOps.saltedJoin(ev, dim, "event_type", 8, "event_id")
    }
    show("profile (ONE scan: single Expand aggregate, inline unpivot)") {
      graft.ops.ProfileOps.profile(
        spark.read.parquet(s"$sfDir/documents.parquet"),
        Seq("doc_id", "lang", "source", "n_chars"))
    }
    show("stratified fixed-N (two-phase windows, pre-bucketed then bounded)") {
      graft.ops.SampleOps.stratifiedFixedN(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "lang",
        n = 5, salt = "p")
    }
    show("bloom decontaminate per-row (zero shuffle)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val positions = graft.ops.TextOps.bloomBuild(
        docs.filter(col("doc_id") < 20), "text", n = 3)
      docs.filter(col("doc_id") >= 20)
        .select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          graft.ops.TextOps.bloomContaminationCols(col("__toks"), positions, n = 3))
    }
    show("random projection (pure projection, zero shuffle)") {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      graft.ops.SimilarityOps.randomProject(emb, "vec_id", "embedding",
        graft.ops.SimilarityOps.signProjectionMatrix(64, 16, "rp7"))
    }
    show("mixture materialize (broadcast plan + bounded explode, no shuffle)") {
      import spark.implicits._
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val plan = Seq(("src0", 1.5), ("src1", 0.25)).toDF("source", "epochs")
      graft.ops.SelectionOps.materializeMixture(
        docs, "doc_id", "source", plan, "p")
    }
    show("span removal (hash-keyed keeper agg, per-row array cut)") {
      graft.ops.DedupOps.removeDuplicateSpans(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
    }
    show("key skew (TakeOrdered over counts, never a global sort)") {
      graft.ops.ProfileOps.keySkew(
        graft.ops.StreamingOps.readEventsBatch(spark, sfDir), "user_id")
    }
    show("source overlap (one set-agg, array-side pair expansion)") {
      graft.ops.TextOps.sourceOverlap(
        spark.read.parquet(s"$sfDir/documents.parquet"), "source", "text")
    }
    show("budget select (one window per language)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val scored = graft.ops.TextOps.qualityMetrics(docs, "text")
        .select(col("doc_id"), col("lang"), col("quality_score"),
          graft.ops.TextOps.bpeTokenEstimate(col("text")).as("tok"))
      graft.ops.SelectionOps.budgetSelect(
        scored, "doc_id", "lang", "quality_score", "tok", 5000L)
    }
    spark.stop()
  }
}
