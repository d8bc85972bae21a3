package graft

import org.apache.spark.sql.SparkSession

/** Dev-only stage profiler: times labeled sub-stages of the slowest
  * bench queries so optimization is measurement-driven.  Not part of
  * the driver contract.
  *
  * Usage: sbt "runMain graft.Profile [sfDir]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    // ---- fit phases
    val df = SparkEntry.lcgFrame(spark, sfDir).cache()
    time("lcgFrame count (cache)")(df.count())
    // the fit's one narrow stats job, the driver's per-variable view of
    // its runs, then the MOB kernels over them
    val fs = time("FitStats pass (one job)") {
      graft.spark.FitStats.of(df, "target", Seq("extendedprice"))
    }
    val s = time("  FitStats.varStats driver")(fs.varStats(Seq("extendedprice")))("extendedprice")
    println(s"[profile] distinct values: ${s.size}")
    val cfgDefault = graft.core.WoeConfig(nThreshold = math.ceil(s.totalRows / 20.0))
    val cfg300 = graft.core.WoeConfig(nThreshold = 300)
    Seq(("Kernels.fitVariable nThr=default(N/20)", cfgDefault),
        ("Kernels.fitVariable nThr=300", cfg300)).foreach { case (label, cfg) =>
      val bins = time(label)(graft.core.Kernels.fitVariable(s, cfg))
      println(s"[profile]   bins: ${bins.length}")
    }

    // ---- minhash stages
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").cache()
    time("documents count (cache)")(docs.count())
    time("q_dedup_minhash full") {
      graft.ops.DedupOps.minhashPairs(docs, "text", "doc_id", jaccardThreshold = 0.5).count()
    }
    time("q_dedup_minhash full 2nd") {
      graft.ops.DedupOps.minhashPairs(docs, "text", "doc_id", jaccardThreshold = 0.5).count()
    }
    // minhash sub-stages
    locally {
      val P = 2147483647L
      val shingled = docs.select(col("doc_id").as("id"),
          graft.ops.DedupOps.shingles(col("text"), 3).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("  shingled materialize")(shingled.count())
      println(s"[profile]   total shingles: " +
        shingled.agg(sum(size(col("sh")))).head().getLong(0))
      val exploded = shingled.select(col("id"),
        explode(transform(col("sh"), s => pmod(xxhash64(s), lit(P)))).as("h"))
      time("  explode count")(exploded.count())
      val sigs = {
        val minCols = graft.ops.DedupOps.hashParams(32).zipWithIndex.map {
          case ((a, b), i) => min(pmod(col("h") * lit(a) + lit(b), lit(P))).as(s"m$i")
        }
        exploded.groupBy("id").agg(minCols.head, minCols.tail: _*)
          .select(col("id"), array((0 until 32).map(i => col(s"m$i")): _*).as("sig"))
      }
      time("  sigs compute")(sigs.count())
      val sigsP = sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sigsP.count()
      val banded = sigsP.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(7)),
          b => xxhash64(slice(col("sig"), b * lit(4) + lit(1), lit(4)))))
          .as(Seq("band", "band_hash")))
      val cand = banded.as("l").join(banded.as("r"),
          col("l.band") === col("r.band") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      time("  band join (sigs persisted)")(cand.count())
      val verified = cand
        .join(shingled.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(shingled.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))))
        .select(col("id_a"), col("id_b"),
          (col("__i").cast("double") /
            (size(col("sh_a")) + size(col("sh_b")) - col("__i"))).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
      time("  verify join")(verified.count())
      shingled.unpersist(); sigsP.unpersist()
    }
    time("q_dedup_simhash full") {
      graft.ops.DedupOps.simhashPairs(docs, "text", "doc_id", maxHamming = 3).count()
    }

    // ---- apply phases
    val m = time("fit 3 cols nThr=300") {
      graft.spark.WoeBinning.fit(df, "target",
        Seq("extendedprice", "quantity", "discount"),
        graft.spark.WoeFitOptions(nThreshold = Some(300)))
    }
    // a new batch: the fit frame's plan would take transform's
    // zero-job path and reuse the fit medians, so score it behind a
    // no-op filter.  Each pass runs the imputation pass, then an
    // aggregate that evaluates every output cell (a bare count would
    // prune the scoring projection away).
    val batch = df.where(lit(true))
    def scoreBatch(): Unit = {
      val out = m.transform(batch)
      out.agg(count(lit(1)),
        sum(xxhash64(out.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    }
    time("transform + aggregate, new batch")(scoreBatch())
    time("  transform + aggregate, 2nd pass")(scoreBatch())

    // ---- streaming fit (needs the testdata file layout — a ScaleUp
    // scratch dir has no stageable single-file table, so don't abort
    // the later stages over it)
    try time("q_fit_streaming full") {
      SparkEntry.query("q_fit_streaming").run(spark, sfDir).count()
    } catch {
      case e: RuntimeException =>
        println(s"[profile] q_fit_streaming skipped: ${e.getMessage}")
    }

    // ---- window-dedup hash flavors
    locally {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      (1 to 2).foreach { pass =>
        time(s"window dedup xxhash64 (pass $pass)") {
          graft.ops.DedupOps.duplicateWindowStats(
            docs, "doc_id", "text", k = 8, portableHash = false).count()
        }
        graft.ops.DedupOps.unpersistAll()
        time(s"window dedup md5-60bit (pass $pass)") {
          graft.ops.DedupOps.duplicateWindowStats(
            docs, "doc_id", "text", k = 8, portableHash = true).count()
        }
        graft.ops.DedupOps.unpersistAll()
        // the two "bare" probes below use the single-expression
        // wordNgrams ON PURPOSE: they measure the re-inlining trap
        // (tokenize per window) that wordNgramsOf + materialized
        // token columns eliminate — keep as the regression reference
        time(s"  bare window-gram md5 projection (pass $pass)") {
          docs.select(explode(graft.ops.TextOps.wordNgrams(col("text"), 8)).as("g"))
            .select(pmod(graft.ops.DedupOps.md5Hash60(col("g")), lit(1000003L)).as("wh"))
            .agg(sum("wh")).head()
        }
        time(s"  bare window-gram build only (pass $pass)") {
          docs.select(explode(graft.ops.TextOps.wordNgrams(col("text"), 8)).as("g"))
            .select(length(col("g")).as("l")).agg(sum("l")).head()
        }
        time(s"  agg stage only: docsPerHash (pass $pass)") {
          docs.select(col("doc_id").as("id"),
              explode(graft.ops.TextOps.wordNgrams(col("text"), 8)).as("g"))
            .select(col("id"), xxhash64(col("g")).as("wh"))
            .groupBy("wh").agg(count_distinct(col("id"))).count()
        }
      }
    }

    // ---- TopKPerKey custom operator vs the window spelling
    {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey").cast("long").as("id"),
          col("o_orderpriority").as("grp"),
          floor(col("o_totalprice")).cast("long").as("v"))
      for (pass <- 1 to 2) {
        time(s"topKPerKey custom operator (pass $pass)") {
          graft.ops.TopKOps.topKPerKey(orders, Seq("grp"),
            Seq("v" -> false, "id" -> true), 5).count()
        }
        time(s"topK via row_number window (pass $pass)") {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("grp")).orderBy(col("v").desc, col("id"))
          orders.withColumn("rn", row_number().over(w))
            .where(col("rn") <= 5).count()
        }
      }
    }
    spark.stop()
  }
}
