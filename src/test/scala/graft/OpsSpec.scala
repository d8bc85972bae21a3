package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._

/** Behavior tests for the training-data pipeline operators (the
  * SQL-oracled ones are additionally cross-checked against DuckDB by
  * the driver; these cover the hash-signature/stub ops and the
  * streaming/batch equivalence).
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf01 = "/root/testdata/sf0.1"
  private val sf001 = "/root/testdata/sf0.001"

  test("minhash LSH finds exactly the near-dup pairs token-jaccard confirms") {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val pairs = DedupOps.minhashPairs(docs, "text", "doc_id",
      jaccardThreshold = 0.9).collect()
    // sf0.1 has 8 exact-duplicate text pairs — all must surface with j=1.0
    assert(DedupOps.exactDupGroups(docs, "text", "doc_id").count() == 8)
    val exactPairs = dupPairs(docs)
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.subsetOf(found),
      s"missing exact pairs: ${exactPairs.diff(found)}")
    pairs.foreach(r => assert(r.getDouble(2) >= 0.9))
  }

  /** The exact-duplicate id pairs via the bounded membership form. */
  private def dupPairs(docs: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    DedupOps.exactDupMembers(docs, "text", "doc_id").collect()
      .groupBy(_.getString(0)).values.map { rs =>
        val ids = rs.map(_.getLong(1)).sorted
        (ids(0), ids(1))
      }.toSet

  test("portable-hash minhash finds the exact-duplicate pairs too") {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val found = DedupOps.minhashPairs(docs, "text", "doc_id",
        jaccardThreshold = 0.9, portableHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dupPairs(docs).subsetOf(found),
      "md5-hash banding must still surface every identical-text pair")
  }

  test("portable-hash simhash: exact duplicates collide at hamming 0") {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val zeroHam = DedupOps.simhashPairs(docs, "text", "doc_id",
        maxHamming = 3, portableHash = true)
      .collect().filter(_.getInt(2) == 0)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dupPairs(docs).subsetOf(zeroHam))
    DedupOps.unpersistAll()
  }

  test("simhash pairs include the exact duplicates at hamming 0") {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val pairs = DedupOps.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exact = dupPairs(docs)
    val zeroHam = pairs.filter(_._3 == 0).map(p => (p._1, p._2)).toSet
    assert(exact.subsetOf(zeroHam))
  }

  test("brute-force ANN topk: self is rank 1 with cosine ~1") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val topk = SimilarityOps.bruteForceTopK(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3).collect()
    assert(topk.length == 15)
    val rank1 = topk.filter(_.getInt(3) == 1)
    rank1.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "rank-1 neighbor must be self")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("LSH topk recall vs brute force (self always found via own bucket)") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val lsh = SimilarityOps.lshTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3).collect()
    val self = lsh.filter(r => r.getLong(0) == r.getLong(1))
    assert(self.length == 5, "each query must find itself in its own bucket")
  }

  test("IVF topk: self at rank 1, cosines exact, recall vs brute force") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val ivf = SimilarityOps.ivfTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      nCells = 8, nProbe = 2, k = 5).collect()
    // self lives in its own nearest cell, which nProbe >= 1 probes
    val rank1 = ivf.filter(_.getInt(3) == 1)
    assert(rank1.length == 5)
    rank1.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "rank-1 must be self")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
    // every reported cosine must equal the brute-force cosine for the
    // same pair (IVF restricts candidates, it must not perturb scores)
    val brute = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = emb.count().toInt)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(brute.contains(key) && brute(key) == r.getDouble(2),
        s"IVF cosine for $key diverges from brute force")
    }
  }

  test("autoCells sizes IVF geometry as sqrt(n), clamped to training/scan bounds") {
    // the BENCH_sf10 finding: probe cost ∝ corpus/nCells at fixed
    // geometry — √n cells keeps per-query probe work at √n
    assert(SimilarityOps.autoCells(2000) == 44)           // sf0.1 fixture
    assert(SimilarityOps.autoCells(200000) == 447)        // sf10 scratch
    assert(SimilarityOps.autoCells(1L << 40) == 65536)    // capped
    assert(SimilarityOps.autoCells(100) == 16)            // floored
    assert(SimilarityOps.autoCells(0) == 16)
    // monotone non-decreasing in n
    val cs = Seq(1L << 10, 1L << 16, 1L << 22, 1L << 30, 1L << 40)
      .map(SimilarityOps.autoCells(_))
    assert(cs == cs.sorted)
  }

  test("autoBits tracks corpus scale; fixed bits=8 would blow the bucket budget") {
    // at a billion vectors, bits=8 means ~n/256 ≈ 4M candidates per
    // probe bucket — autoBits sizes to the target instead
    assert(SimilarityOps.autoBits(1L << 30, targetBucket = 1024) == 20)
    assert((1L << 30) >> 8 >= 4L * 1024 * 1024, "bits=8 leaves 4M+ per bucket")
    // small corpora collapse to few bits (more recall, buckets still small)
    assert(SimilarityOps.autoBits(500, targetBucket = 1024) == 1)
    assert(SimilarityOps.autoBits(0, targetBucket = 1024) == 1)
    // monotone non-decreasing in n
    val bs = Seq(1L << 10, 1L << 15, 1L << 20, 1L << 30, 1L << 40)
      .map(SimilarityOps.autoBits(_, 1024))
    assert(bs == bs.sorted)
    // capped: probe count (bits+1) and bucket count stay bounded
    assert(SimilarityOps.autoBits(Long.MaxValue, 1) == 24)
    // end-to-end on the auto path (bits <= 0): every query still finds
    // itself via its own bucket
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val auto = SimilarityOps.lshTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      bits = 0, k = 3, targetBucket = 64).collect()
    assert(auto.filter(r => r.getLong(0) == r.getLong(1)).length == 5)
  }

  test("product quantization: codebooks reproduce the fixture, exact-reconstructible " +
    "vectors round-trip, ADC finds self first") {
    import spark.implicits._
    val sf01emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val cbs = SimilarityOps.pqCodebooks(
      sf01emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
    // oracle-literal parity: the fixture IS this computation
    val fixture = Golden.load("sf0.01_pq_codebooks.json")
    assert(fixture.rows.length == 8 * 16)
    fixture.rows.foreach { row =>
      val s = row(0).asInstanceOf[Double].toInt
      val j = row(1).asInstanceOf[Double].toInt
      row.drop(2).map(_.asInstanceOf[Double]).zip(cbs(s)(j)).foreach {
        case (a, b) => assert(a == b, s"codebook drift at ($s,$j): $a vs $b")
      }
    }
    // exact-reconstruction invariant: a corpus whose vectors ARE
    // concatenated codewords must encode back to the constructing
    // codes, and its ADC self-distance is exactly 0
    val built = Seq(
      (100L, (0 until 8).flatMap(s => cbs(s)(3)).map(_.toFloat).toArray),
      (101L, (0 until 8).flatMap(s => cbs(s)(7)).map(_.toFloat).toArray))
      .toDF("vec_id", "embedding")
    val codes = SimilarityOps.pqEncode(built, "vec_id", "embedding", cbs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(100L) == Seq.fill(8)(3), codes(100L))
    assert(codes(101L) == Seq.fill(8)(7), codes(101L))
    val self = SimilarityOps.pqTopKADC(built, "vec_id", "embedding",
        built, "vec_id", "embedding", cbs, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    self.foreach { case (q, c, adc) =>
      assert(q == c, s"rank-1 of $q is $c")
      // not exactly 0: the float embedding column rounds the double
      // codewords, and the ||q||²−2q·cw+||cw||² form cancels — a few
      // ulps is the true floor
      assert(math.abs(adc) < 1e-12, s"self ADC of $q is $adc")
    }
    // on real embeddings: every query's own vector is its ADC rank-1
    // (2000 docs, 16^8 code space — quantization ties are absent here)
    val top = SimilarityOps.pqTopKADC(sf01emb, "vec_id", "embedding",
        sf01emb.filter(col("vec_id") < 5), "vec_id", "embedding", cbs, k = 3)
      .collect()
    val rank1 = top.filter(_.getInt(3) == 1)
    assert(rank1.length == 5)
    rank1.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"rank-1 of ${r.getLong(0)} is ${r.getLong(1)}"))

    // IVF-PQ: the cell restriction prunes candidates but must not
    // perturb the ADC score of any surviving pair (column-wise vs
    // literal-collected query arithmetic both fold sequentially)
    val cents = SimilarityOps.deterministicCentroids(
      sf01emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
    val ivfpq = SimilarityOps.ivfPqTopK(sf01emb, "vec_id", "embedding",
        sf01emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        cents, cbs, nProbe = 4, k = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val full = SimilarityOps.pqTopKADC(sf01emb, "vec_id", "embedding",
        sf01emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        cbs, k = sf01emb.count().toInt)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(ivfpq.nonEmpty)
    ivfpq.foreach { case (key, adc) =>
      assert(full.contains(key) && full(key) == adc,
        s"IVF-PQ adc for $key diverges from the full ADC scan")
    }
  }

  test("distributed Lloyd: fixture parity, partition invariance, exact quantized means") {
    val sf01emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val cents = SimilarityOps.distributedCentroids(
      sf01emb, "vec_id", "embedding", nCells = 16, iters = 10)
    val fixture = Golden.load("sf0.01_dist_centroids.json")
    assert(fixture.rows.length == 16)
    fixture.rows.sortBy(_.head.asInstanceOf[Double]).zip(cents).foreach {
      case (row, cent) =>
        row.drop(1).map(_.asInstanceOf[Double]).zip(cent).foreach {
          case (a, b) => assert(a == b, s"distributed centroid drift: $a vs $b")
        }
    }
    // the claim that matters: an ADVERSARIAL partition layout cannot
    // change a single bit (this is what MLlib KMeans does NOT give)
    val cents31 = SimilarityOps.distributedCentroids(
      sf01emb.repartition(31), "vec_id", "embedding", nCells = 16, iters = 10)
    assert(cents.flatten.toSeq == cents31.flatten.toSeq)
    // one-cell, one-iteration crafted case: the mean must be EXACTLY
    // (sum of round(v*2^20)) / n / 2^20
    import spark.implicits._
    val tiny = Seq((1L, Array(1.5f, -2.25f)), (2L, Array(0.5f, 0.75f)),
        (3L, Array(2.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val one = SimilarityOps.distributedCentroids(
      tiny, "vec_id", "embedding", nCells = 1, iters = 1)
    val s = 1048576.0
    def q(x: Double) = math.round(x * s)
    assert(one.head.toSeq == Seq(
      (q(1.5) + q(0.5) + q(2.0)).toDouble / 3.0 / s,
      (q(-2.25) + q(0.75) + q(1.0)).toDouble / 3.0 / s))
  }

  test("deterministic IVF: centroids reproduce the fixture bit-for-bit, topk matches brute cosines") {
    val sf01emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val cents = SimilarityOps.deterministicCentroids(
      sf01emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
    // the oracle's literal centroids ARE this computation (captured by
    // GenIvfCentroids); any drift would silently invalidate the oracle
    val fixture = Golden.load("sf0.01_ivf_centroids.json")
    assert(fixture.rows.length == 16)
    fixture.rows.sortBy(_.head.asInstanceOf[Double]).zip(cents).foreach {
      case (row, cent) =>
        row.drop(1).map(_.asInstanceOf[Double]).zip(cent).foreach {
          case (a, b) => assert(a == b, s"centroid drift: $a vs $b")
        }
    }
    // rerun determinism (same JVM, fresh plan)
    val cents2 = SimilarityOps.deterministicCentroids(
      sf01emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
    assert(cents.flatten.toSeq == cents2.flatten.toSeq)
    // the AUTO-geometry fixture (autoCells(500) = 22, same derivation)
    // under the same not-a-second-truth contract
    assert(SimilarityOps.autoCells(sf01emb.count()) == 22)
    val centsAuto = SimilarityOps.deterministicCentroids(
      sf01emb, "vec_id", "embedding", nCells = 22, sampleN = 256, iters = 10)
    val fixtureAuto = Golden.load("sf0.01_ivf_centroids_auto.json")
    assert(fixtureAuto.rows.length == 22)
    fixtureAuto.rows.sortBy(_.head.asInstanceOf[Double]).zip(centsAuto).foreach {
      case (row, cent) =>
        row.drop(1).map(_.asInstanceOf[Double]).zip(cent).foreach {
          case (a, b) => assert(a == b, s"auto-centroid drift: $a vs $b")
        }
    }
    // self at rank 1; every reported cosine equals the brute-force
    // cosine for the same pair (candidate restriction must not perturb
    // scores)
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val c001 = SimilarityOps.deterministicCentroids(
      emb, "vec_id", "embedding", nCells = 8, sampleN = 128, iters = 10)
    val ivf = SimilarityOps.ivfTopKWithCentroids(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      c001, nProbe = 2, k = 5).collect()
    val rank1 = ivf.filter(_.getInt(3) == 1)
    assert(rank1.length == 5)
    rank1.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "rank-1 must be self")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
    val brute = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = emb.count().toInt)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(brute.contains(key) && brute(key) == r.getDouble(2),
        s"IVF cosine for $key diverges from brute force")
    }
  }

  test("codegen DotProduct == interpreted aggregate/zip_with, incl null semantics") {
    import spark.implicits._
    // real float embeddings: bit-identical sums in the same fold order
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet").limit(200)
    val diff = emb.select(
        SimilarityOps.dot(col("embedding"), col("embedding")).as("fast"),
        SimilarityOps.dotHof(col("embedding"), col("embedding")).as("slow"))
      .where(col("fast") =!= col("slow") ||
        col("fast").isNull =!= col("slow").isNull)
      .count()
    assert(diff == 0, "custom expression diverged from the HOF form")
    // null/length edge cases must match the zip_with/aggregate contract
    val edge = Seq(
      (Seq(1.0, 2.0), Seq(3.0, 4.0)), // 11.0
      (Seq(1.0), Seq(1.0, 2.0)), // length mismatch → null
      (Seq(1.0, 2.0), Seq(1.0, 2.0))) // control
      .toDF("a", "b")
      .union(Seq((null.asInstanceOf[Seq[Double]], Seq(1.0))).toDF("a", "b"))
    val rows = edge.select(
        SimilarityOps.dot(col("a"), col("b")).as("fast"),
        SimilarityOps.dotHof(col("a"), col("b")).as("slow"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1), s"$r")
    }
    assert(rows.count(_.isNullAt(0)) == 2) // mismatch + null array
  }

  test("int8 quantization: values in [-127,127], cosine fidelity > 0.99") {
    val q = SimilarityOps.quantizeInt8(
      spark.read.parquet(s"$sf001/embeddings.parquet"), "vec_id", "embedding")
    val checked = q.select(col("id"),
        aggregate(col("qv"), lit(0.0), (m, x) => greatest(m, abs(x))).as("qmax"),
        (SimilarityOps.dot(col("qv"), col("v")) /
          (SimilarityOps.norm(col("qv")) * SimilarityOps.norm(col("v"))))
          .as("fid"))
      .collect()
    assert(checked.nonEmpty)
    checked.foreach { r =>
      assert(r.getDouble(1) <= 127.0, s"quantized magnitude out of range: $r")
      assert(r.getDouble(2) > 0.99, s"fidelity too low: $r")
    }
    // round-trip: dequantized values within scale/2 of the original
    val err = q.select(aggregate(
        zip_with(SimilarityOps.dequantizeInt8(col("qv"), col("scale")), col("v"),
          (a, b) => abs(a - b)),
        lit(0.0), (m, x) => greatest(m, x)).as("maxerr"), col("scale"))
      .collect()
    err.foreach(r => assert(r.getDouble(0) <= r.getDouble(1) / 2 + 1e-12))
  }

  test("LSH cosine pairs find every exact-duplicate vector pair") {
    import spark.implicits._
    // duplicate the corpus under shifted ids: every vector then has an
    // exact twin (identical vector → identical bucket → cosine 1.0)
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val doubled = emb.union(emb.withColumn("vec_id", col("vec_id") + lit(100000L)))
    val pairs = SimilarityOps.lshCosinePairs(
        doubled, "vec_id", "embedding", bits = 8, dim = 64, threshold = 0.9999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = emb.count()
    val expected = (0L until n).map(i => (i, i + 100000L)).toSet
    assert(expected.subsetOf(pairs),
      s"missing twin pairs: ${expected.diff(pairs).take(5)}")
  }

  test("LSH cosine pairs are a subset of the unblocked threshold pairs") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
      .withColumn("one", lit(1))
    val lsh = SimilarityOps.lshCosinePairs(
        emb, "vec_id", "embedding", bits = 4, dim = 64, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = SimilarityOps.blockedCosinePairs(emb, "vec_id", "embedding", "one", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(all), "bucketing must never ADD pairs")
  }

  test("token-jaccard hot-block guard drops oversized blocks (skewed corpus)") {
    import spark.implicits._
    // 400 same-length docs (one hot block) + 4 in a small block
    val hotDocs = (0 until 400).map(i => (i.toLong, f"aaa bbb ccc d$i%03d", 15))
    val coldDocs = (1000 until 1004).map(i => (i.toLong, s"xx yy zz $i", 11))
    val df = (hotDocs ++ coldDocs).toDF("doc_id", "text", "n_chars")
    val capped = DedupOps.tokenJaccardPairs(df, "text", "doc_id", "n_chars",
      threshold = 0.5, maxBlock = 100).count()
    assert(capped == 6, // only the 4-doc cold block self-joins: C(4,2)
      s"hot block must be excluded, got $capped pairs")
    val uncapped = DedupOps.tokenJaccardPairs(df, "text", "doc_id", "n_chars",
      threshold = 0.5, maxBlock = 1000).count()
    assert(uncapped > 6, "generous cap must keep the hot block")
  }

  test("token-jaccard prefix filter is pair-identical to the nested-loop") {
    // real corpus (sf0.001 documents, the oracle's blocking column) at
    // two thresholds, plus the skewed fixture above — the prefix path
    // is a candidate PRUNE, so any divergence is a missed true pair
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    for (t <- Seq(0.7, 0.9)) {
      val fast = DedupOps.tokenJaccardPairs(
        docs, "text", "doc_id", "n_chars", threshold = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val slow = DedupOps.tokenJaccardPairs(
        docs, "text", "doc_id", "n_chars", threshold = t,
        prefixFilter = false).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fast == slow, s"prefix/nested-loop divergence at t=$t: " +
        s"only-fast=${(fast -- slow).take(3)} only-slow=${(slow -- fast).take(3)}")
      DedupOps.unpersistAll()
    }
    import spark.implicits._
    val tiny = ((0 until 40).map(i => (i.toLong, f"aaa bbb ccc d${i % 7}%03d", 15)) ++
      Seq((100L, "", 0), (101L, "", 0))) // token-less docs never pair
      .toDF("doc_id", "text", "n_chars")
    val fastTiny = DedupOps.tokenJaccardPairs(tiny, "text", "doc_id", "n_chars",
      threshold = 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val slowTiny = DedupOps.tokenJaccardPairs(tiny, "text", "doc_id", "n_chars",
      threshold = 0.5, prefixFilter = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fastTiny == slowTiny)
    DedupOps.unpersistAll()
  }

  test("token-jaccard prefix demotion keeps stopwords out of prefixes") {
    import spark.implicits._
    // 50 one-block docs all sharing 3 stopwords + 3 unique rare tokens:
    // with hash order a stopword lands in ~half the 2-token prefixes
    // (C(50,2)-class candidates); demoted, prefixes are rare-only
    val docs = (0 until 50)
      .map(i => (i.toLong, s"the of and r${i}a r${i}b r${i}c", 7))
      .toDF("doc_id", "text", "n_chars")
    val base = docs.select(col("doc_id").as("id"), col("n_chars").as("blk"),
      array_distinct(TextOps.tokens(col("text"))).as("toks"))
      .withColumn("sz", size(col("toks")))
    val stop = Set("the", "of", "and")
    val demoted = DedupOps.jaccardPrefixes(base, 0.7, demoteHotTokens = 3)
      .select("ptok").collect().map(_.getString(0))
    assert(demoted.nonEmpty && !demoted.exists(stop),
      s"stopwords leaked into demoted prefixes: ${demoted.filter(stop).take(3).toSeq}")
    val hashOrdered = DedupOps.jaccardPrefixes(base, 0.7, demoteHotTokens = 0)
      .select("ptok").collect().map(_.getString(0))
    assert(hashOrdered.exists(stop), // the hazard the demotion removes
      "expected the undemoted hash order to put some stopword in a prefix")
    // demotion is selectivity only: pair sets agree either way
    val on = DedupOps.tokenJaccardPairs(docs, "text", "doc_id", "n_chars",
      threshold = 0.3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    DedupOps.unpersistAll()
    val off = DedupOps.tokenJaccardPairs(docs, "text", "doc_id", "n_chars",
      threshold = 0.3, demoteHotTokens = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    DedupOps.unpersistAll()
    val loop = DedupOps.tokenJaccardPairs(docs, "text", "doc_id", "n_chars",
      threshold = 0.3, prefixFilter = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(on == loop && off == loop,
      s"demotion changed the pair set: on=${on.size} off=${off.size} loop=${loop.size}")
  }

  test("simhash hot-bucket guard bounds an identical-prefix corpus") {
    import spark.implicits._
    val prefix = (0 until 64).map(i => s"tok$i").mkString(" ")
    val docs = (0 until 1000).map(i => (i.toLong, s"$prefix unique$i")).toDF("doc_id", "text")
    // every doc shares every chunk with ~every other → all 4 chunk
    // buckets are hot; the guard must drop them rather than join 10⁶ pairs
    val guarded = DedupOps.simhashPairs(docs, "text", "doc_id",
      maxHamming = 3, maxBucket = 50)
    assert(guarded.count() == 0, "hot buckets must be dropped")
    val hot = DedupOps.simhashHotBuckets(docs, "text", "doc_id", 50).collect()
    assert(hot.nonEmpty && hot.forall(_.getLong(2) > 50))
    DedupOps.unpersistAll()
  }

  test("minhash band join: AQE skew-split fires on a hot band; maxBand caps the tail") {
    import spark.implicits._
    // 1000 identical docs (ONE signature → every band bucket hot) +
    // 320 unique docs spread thin: the hot buckets' shuffle partitions
    // dwarf the median, which is exactly the shape AQE's skew-split is
    // for — pin that it actually fires on the band self-join
    val hot = (10000 until 11000).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta"))
    val cold = (0 until 320).map(i => (i.toLong, s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f"))
    val docs = (hot ++ cold).toDF("doc_id", "text")
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // test-scaled thresholds (production keeps the 256m default —
      // same rule, same trigger shape, smaller bytes)
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1024")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.shuffle.partitions", "32")
      // plain path (salt off): the band self-join's hot key is fed by
      // MANY mappers (posexplode straight off the cached signatures),
      // so AQE skew-split can and must subdivide it
      val pairs = DedupOps.minhashPairs(docs, "text", "doc_id",
        saltHotBands = 0)
      // collect() (not count()) so THIS DataFrame's adaptive plan is
      // the one that executes and finalizes
      val n = pairs.collect().length
      assert(n == 1000 * 999 / 2, s"all hot pairs survive verify, got $n")
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew-split must fire on the hot band join:\n$plan")
      DedupOps.unpersistAll()
      // default (salted) path: the grid join's input arrives pre-
      // shuffled on (band, band_hash) by the bucket-count join, which
      // concentrates each hot key in ONE mapper — AQE cannot split a
      // single-mapper key, so there the THRESHOLD is the skew guard
      // (sub-threshold bucket ⇒ one task, ≤ C(threshold, 2) pairs).
      // Pin both halves: identical pair count, and no skew=true needed
      val salted = DedupOps.minhashPairs(docs, "text", "doc_id")
      assert(salted.collect().length == 1000 * 999 / 2,
        "default salted path must keep the identical pair set")
      DedupOps.unpersistAll()
      // the guard: oversized buckets dropped whole → zero candidates
      // from the boilerplate group, cold uniques unaffected
      val capped = DedupOps.minhashPairs(docs, "text", "doc_id", maxBand = 100)
      assert(capped.count() == 0, "hot buckets past maxBand must be dropped")
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(conf.unset(k))(conf.set(k, _))
      }
      DedupOps.unpersistAll()
    }
  }

  test("bpe token estimate counts word/number/punctuation runs") {
    import spark.implicits._
    val df = Seq(("ab12 cd, e-f!", 1L)).toDF("text", "id")
    val n = df.select(TextOps.bpeTokenEstimate(col("text"))).head().getInt(0)
    // runs: ab, 12, cd, ',', e, '-', f, '!'
    assert(n == 8, s"expected 8 runs, got $n")
  }

  test("multimodal stub pipeline: deterministic, batch-shaped, per-kind aggregate") {
    val out1 = MultimodalOps.pipeline(spark, sf001).collect()
    val out2 = MultimodalOps.pipeline(spark, sf001).collect()
    assert(out1.toSeq == out2.toSeq, "stub decode must be deterministic")
    assert(out1.map(_.getString(0)).toSeq == out1.map(_.getString(0)).toSeq.sorted)
    assert(out1.map(_.getLong(1)).sum == 500L) // all docs decoded exactly once
    // total_bytes equals the ascii byte length = n_chars sum
    val expBytes = spark.read.parquet(s"$sf001/documents.parquet")
      .agg(sum("n_chars")).head().getLong(0)
    assert(out1.map(_.getLong(2)).sum == expBytes)
  }

  test("events ts sniff: footer-only, no session conf side effect, empty-dir fallback") {
    // VERDICT r09 "done =": reading a MICROS-generation events file
    // must leave spark.sql.legacy.parquet.nanosAsLong untouched — the
    // footer sniff must not flip session-global state for files that
    // don't need it
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val kind = StreamingOps.sniffTsKind(spark, s"$sf001/events.parquet")
    assert(kind != StreamingOps.TsKind.NanosTs,
      s"testdata generation changed to NANOS? sniff said $kind")
    StreamingOps.readEventsBatch(spark, sf001).count()
    assert(spark.conf.getOption(key) == before,
      s"sniff/read leaked $key into the session")
    // a staged stream dir with no parquet yet (valid for a file-stream
    // source) must still let the reader be DEFINED: the sniff falls
    // back instead of throwing
    val empty = java.nio.file.Files.createTempDirectory("graft-sniff-empty")
    assert(StreamingOps.sniffTsKind(spark, empty.toString) ==
      StreamingOps.TsKind.MicrosNtz)
    assert(StreamingOps.sniffTsKind(spark, "/tmp/graft-sniff-nonexistent-xyz") ==
      StreamingOps.TsKind.MicrosNtz)
  }

  test("streaming windowed counts == batch windowed counts") {
    val batch = StreamingOps.windowedCounts(
      StreamingOps.readEventsBatch(spark, sf001))
      .orderBy("bucket5m", "event_type").collect()
    val streamed = StreamingOps.runWindowedStream(spark, sf001)
      .orderBy("window_start", "event_type").collect()
    assert(batch.length == streamed.length,
      s"windows: batch ${batch.length} vs stream ${streamed.length}")
    batch.zip(streamed).foreach { case (b, s) =>
      assert(b.getString(1) == s.getString(1))
      assert(b.getLong(2) == s.getLong(2), s"cnt mismatch at ${b.getLong(0)}")
      assert(b.getLong(3) == s.getLong(3))
    }
  }

  test("mjpeg: marker-walk frame split, sampling, parity with the still path") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val rec = MultimodalOps.mjpegRecordOf(3L, 16, 12, 10, 4, 0.9f)
    // the marker walk finds exactly nFrames spans, each a valid JPEG
    val spans = MultimodalOps.jpegFrameSpans(rec.content, 0, rec.content.length)
    assert(spans.length == 4)
    spans.foreach { case (s, e) =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(
          java.util.Arrays.copyOfRange(rec.content, s, e)))
      assert(img != null && img.getWidth == 16 && img.getHeight == 12)
    }
    // sampling keeps frames 0 and 2; features equal the STILL JPEG
    // path for the same pixel key (one codec, two containers)
    val ds = MultimodalOps.synthesizeMjpegMp4(
      Seq(3L).toDF("doc_id"), "doc_id", 16, 12, 10, 4)
    val frames = MultimodalOps.mjpegSampleFrames(ds, 10, 4, everyN = 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0L, 2L))
    frames.foreach { fr =>
      val still = MultimodalOps.jpegFeaturesOf(
        MultimodalOps.jpegRecordOf(3L * 4 + fr.frame_idx, 16, 12, 40, 0.9f),
        40, 4).get
      assert(fr.px_sum == still.px_sum && fr.thumb_md5 == still.thumb_md5,
        s"frame ${fr.frame_idx} != still path")
    }
  }

  test("h264: hand-built SPS bitstream parses; avcC walk; keyframe offsets") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // HAND-WRITTEN SPS (not via the synthesis writer, so an encode/
    // decode-symmetric bug cannot hide): Baseline 66, level 30,
    // 320×192 coded, no cropping.  Bit layout after the 3 header
    // bytes (66, 0, 30):
    //   ue(0) sps_id            1
    //   ue(0) log2_max_frame    1
    //   ue(0) poc_type          1
    //   ue(0) log2_max_poc_lsb  1
    //   ue(1) max_num_ref       010
    //   0     gaps_flag         0
    //   ue(19) width_mbs-1      000010100
    //   ue(11) height_units-1   0001100
    //   1     frame_mbs_only    1
    //   1     direct_8x8        1
    //   0     crop              0
    //   0     vui               0
    //   1     stop bit → 1111 0100 0000 1010 0000 1100 1100 1000
    val hand = Array[Byte](0x67, 66, 0, 30,
      0xf4.toByte, 0x0a, 0x0c, 0xc8.toByte)
    val got = MultimodalOps.parseSps(hand, 0, hand.length)
    assert(got.contains((66, 30, 320, 192, 320, 192)), s"hand SPS: $got")
    // emulation-prevention: a synthesized SPS with 00 00 0x runs must
    // round-trip through escape + de-escape (crop values of 0 create
    // long zero runs in the bitstream)
    val sps100 = MultimodalOps.spsNal(100, 41, 322, 180)
    val parsed = MultimodalOps.parseSps(sps100, 0, sps100.length)
    assert(parsed.contains((100, 41, 336, 192, 322, 180)),
      s"High-profile crop SPS: $parsed")
    // end-to-end: synthesized container → h264Meta — dims/profile per
    // id, keyframe offsets = payload base + stsz prefix sums
    val text = "0123456789abcdef" * 4 // 64 bytes → 8 samples of 8
    val metas = MultimodalOps.h264Meta(
        MultimodalOps.synthesizeAvc1Mp4(
          Seq((0L, text), (2L, text)).toDF("doc_id", "text"),
          "doc_id", "text"))
      .collect().sortBy(_.id)
    val base = MultimodalOps.Avc1MdatPayloadOff
    assert(metas(0) == MultimodalOps.H264Meta(
      0L, 66, 30, 320, 192, 320, 180, 4, base, base + 2 * 8))
    assert(metas(1) == MultimodalOps.H264Meta(
      2L, 100, 41, 336, 192, 324, 184, 2, base, base + 4 * 8))
    // malformed payload (truncated box) drops, never throws
    val dropped = MultimodalOps.h264Meta(
      Seq(MultimodalOps.MediaRecord(9L, "video/mp4",
        Array[Byte](0, 0, 0, 16, 'f', 't', 'y', 'p', 0, 0, 0, 0, 0, 0, 0))).toDS())
    assert(dropped.count() == 0)
  }

  test("mp3: hand-built frame chain parses; ID3v2 skip; CBR drift rejected") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // HAND-WRITTEN frames (not via synthesizeMp3, so an encode/decode-
    // symmetric bug cannot hide): 128 kbps (idx 9) @ 44100 (idx 0),
    // joint stereo (mode 1) → frameLen = 144·128000/44100 = 417; the
    // second frame sets the PADDING bit → 418 bytes.  Led by an ID3v2
    // tag of 200 payload bytes (0x81 0x48 syncsafe = 1·128 + 72 = 200,
    // exercising the multi-byte 7-bit math).
    def frame(padding: Int): Array[Byte] =
      Array[Byte](0xff.toByte, 0xfb.toByte,
        (9 << 4 | 0 << 2 | padding << 1).toByte, (1 << 6).toByte) ++
        new Array[Byte](417 + padding - 4)
    val id3 = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0x01, 0x48) ++
      new Array[Byte](200)
    val hand = id3 ++ frame(0) ++ frame(1) ++ frame(0)
    val got = MultimodalOps.mp3MetaOf(MultimodalOps.MediaRecord(7L, "audio/mpeg", hand))
    assert(got.contains(MultimodalOps.Mp3Meta(7L, 1, 3, 128, 44100, 2,
      nFrames = 3, durationMs = 3L * 1152 * 1000 / 44100, firstFrameOff = 210)))
    // bitrate drift mid-file (VBR) is rejected, not half-censused
    val vbr = id3 ++ frame(0) ++ (Array[Byte](0xff.toByte, 0xfb.toByte,
      (10 << 4).toByte, (1 << 6).toByte) ++ new Array[Byte](100))
    assert(MultimodalOps.mp3MetaOf(
      MultimodalOps.MediaRecord(8L, "audio/mpeg", vbr)).isEmpty)
    // broken sync and free-bitrate headers are rejected
    assert(MultimodalOps.mp3MetaOf(MultimodalOps.MediaRecord(9L, "audio/mpeg",
      Array[Byte](0x12, 0x34, 0x56, 0x78, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))).isEmpty)
    // end-to-end: synthesized corpus → mp3Meta matches the closed form
    val text = "q" * 1000
    val metas = MultimodalOps.mp3Meta(
        MultimodalOps.synthesizeMp3(
          Seq((3L, text), (17L, text)).toDF("doc_id", "text"), "doc_id", "text"))
      .collect().sortBy(_.id)
    // id 3: brIdx 4 (56 kbps), srIdx 0 (44100), mode 3 (mono), pad 3
    val len3 = 144 * 56000 / 44100
    val nf3 = (1000 + len3 - 5) / (len3 - 4)
    assert(metas(0) == MultimodalOps.Mp3Meta(3L, 1, 3, 56, 44100, 1,
      nf3, nf3.toLong * 1152 * 1000 / 44100, 13))
    // id 17: brIdx 4, srIdx 2 (32000), mode 1 (joint), pad 0
    val len17 = 144 * 56000 / 32000
    val nf17 = (1000 + len17 - 5) / (len17 - 4)
    assert(metas(1) == MultimodalOps.Mp3Meta(17L, 1, 3, 56, 32000, 2,
      nf17, nf17.toLong * 1152 * 1000 / 32000, 10))
  }

  test("npy: hand-built v2 header parses; truncated data rejected") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // HAND-WRITTEN v2 header (u32 length), Fortran order, 3-D shape,
    // non-canonical spacing — the parser must not depend on numpy's
    // own formatting
    val dict = "{'shape': ( 2,3, 4 ), 'fortran_order': True, 'descr': '<c16'}"
    def v2(d: String, dataBytes: Int): Array[Byte] = {
      val h = d.getBytes("US-ASCII")
      Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y', 2, 0,
        h.length.toByte, (h.length >> 8).toByte, 0, 0) ++ h ++
        new Array[Byte](dataBytes)
    }
    val got = MultimodalOps.npyMetaOf(
      MultimodalOps.MediaRecord(4L, "application/x-npy", v2(dict, 24 * 16)))
    assert(got.contains(MultimodalOps.NpyMeta(4L, "<c16", fortranOrder = true,
      rank = 3, nElements = 24, itemSize = 16,
      dataOffset = 12L + dict.length, nBytes = 384)))
    // declared array larger than the file -> None
    assert(MultimodalOps.npyMetaOf(
      MultimodalOps.MediaRecord(5L, "application/x-npy", v2(dict, 100))).isEmpty)
    // mangled dict -> None, never a throw
    assert(MultimodalOps.npyMetaOf(
      MultimodalOps.MediaRecord(6L, "application/x-npy",
        v2("{'shape': oops", 0))).isEmpty)
    // synthesized round-trip (id 11: '<i8', shape (4, 4), 64-aligned)
    val metas = MultimodalOps.npyMeta(
        MultimodalOps.synthesizeNpy(Seq(11L).toDF("doc_id"), "doc_id"))
      .collect()
    assert(metas.length == 1)
    val m = metas.head
    assert(m == MultimodalOps.NpyMeta(11L, "<i8", fortranOrder = false,
      rank = 2, nElements = 16, itemSize = 8, dataOffset = m.dataOffset,
      nBytes = 128))
    assert(m.dataOffset % 64 == 0, s"numpy alignment: ${m.dataOffset}")
  }

  test("safetensors: hand-built header parses; bad offsets and JSON rejected") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    def file(json: String, dataBytes: Int): Array[Byte] = {
      val h = json.getBytes("UTF-8")
      Array.tabulate(8)(i => (h.length.toLong >> (8 * i)).toByte) ++ h ++
        new Array[Byte](dataBytes)
    }
    // hand JSON: metadata skipped, one 3-D F16 tensor, one scalar-ish
    val hand = file(
      """{"__metadata__":{"x":"y"},""" +
        """"w.q":{"dtype":"F16","shape":[2,3,4],"data_offsets":[0,48]},""" +
        """"bias":{"dtype":"F32","shape":[4],"data_offsets":[48,64]}}""", 64)
    val got = MultimodalOps.safetensorsOf(
      MultimodalOps.MediaRecord(1L, "application/safetensors", hand))
    val base = 8L + (hand.length - 8 - 64)
    assert(got == Seq(
      MultimodalOps.TensorMeta(1L, "w.q", "F16", 3, 24, base, 48),
      MultimodalOps.TensorMeta(1L, "bias", "F32", 1, 4, base + 48, 16)))
    // a tensor whose span runs past the file is dropped; the rest stay
    val overrun = file(
      """{"a":{"dtype":"F32","shape":[2],"data_offsets":[0,8]},""" +
        """"b":{"dtype":"F32","shape":[999],"data_offsets":[8,99999]}}""", 8)
    assert(MultimodalOps.safetensorsOf(
      MultimodalOps.MediaRecord(2L, "application/safetensors", overrun))
      .map(_.tensor) == Seq("a"))
    // malformed JSON / short file -> no rows, never a throw
    assert(MultimodalOps.safetensorsOf(
      MultimodalOps.MediaRecord(3L, "application/safetensors", file("{oops", 0))).isEmpty)
    assert(MultimodalOps.safetensorsOf(
      MultimodalOps.MediaRecord(3L, "application/safetensors", Array[Byte](1, 2))).isEmpty)
    // synthesized round-trip (id 9: 2 tensors, cols 3 + 9 % 5 = 7)
    val metas = MultimodalOps.safetensorsMeta(
        MultimodalOps.synthesizeSafetensors(Seq(9L).toDF("doc_id"), "doc_id"))
      .collect().sortBy(_.byteOffset)
    assert(metas.map(m => (m.tensor, m.dtype, m.nElements, m.nBytes)).toSeq ==
      Seq(("t0", "F16", 7L, 14L), ("t1", "F32", 14L, 56L)))
  }

  test("tar: member walk with checksum verify; system tar cross-check") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val shard = MultimodalOps.synthesizeTarShard(
        Seq((7L, "abcdefghij klmno")).toDF("doc_id", "text"),
        "doc_id", "text").collect().head
    val members = MultimodalOps.tarMembersOf(shard).get
    // id 7: 2 samples, text 16 bytes -> txt sizes 8, 8
    assert(members.map(m => (m.name, m.size)) ==
      Seq(("s0.txt", 8L), ("s0.cls", 1L), ("s1.txt", 8L), ("s1.cls", 1L)))
    assert(members.map(_.dataOffset) == Seq(512L, 1536L, 2560L, 3584L))
    // payload bytes at the reported offsets are exactly the split
    assert(new String(shard.content, 512, 8, "UTF-8") == "abcdefgh")
    assert(new String(shard.content, 2560, 8, "UTF-8") == "ij klmno")
    // a flipped header byte breaks that member's checksum -> None
    val bad = shard.content.clone(); bad(1) = 'X'
    assert(MultimodalOps.tarMembersOf(
      MultimodalOps.MediaRecord(7L, "application/x-tar", bad)).isEmpty)
    // truncation (no end-of-archive marker) -> None
    assert(MultimodalOps.tarMembersOf(MultimodalOps.MediaRecord(7L,
      "application/x-tar", shard.content.take(shard.content.length - 1024))).isEmpty)
    // INDEPENDENT reader: the system tar must list the same members
    // (skipped gracefully where no tar binary exists)
    val tarBin = Seq("/bin/tar", "/usr/bin/tar").find(new java.io.File(_).exists)
    tarBin.foreach { bin =>
      val f = java.io.File.createTempFile("graft-shard", ".tar")
      try {
        java.nio.file.Files.write(f.toPath, shard.content)
        val out = new StringBuilder
        val p = new ProcessBuilder(bin, "-tf", f.getAbsolutePath).start()
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream))
        var line = r.readLine()
        while (line != null) { out.append(line).append('\n'); line = r.readLine() }
        assert(p.waitFor() == 0, s"system tar rejected the shard")
        assert(out.toString.trim.split("\n").toSeq ==
          Seq("s0.txt", "s0.cls", "s1.txt", "s1.cls"))
      } finally { f.delete(); () }
    }
  }

  test("tar long names: GNU L entries, PAX path records, ustar prefix — vs system tar") {
    import graft.ops.MultimodalOps
    // archives written by the SYSTEM tar binary in all three formats,
    // with a >100-char member name — the census must list the REAL
    // members with FULL names, never a ././@LongLink marker
    val tarBin = Seq("/bin/tar", "/usr/bin/tar")
      .find(new java.io.File(_).exists)
    assume(tarBin.isDefined)
    val bin = tarBin.get
    val work = java.nio.file.Files.createTempDirectory("tarlong")
    val longDir = "deeply/nested/directory/structure/holding/webdataset/" +
      "samples/with/very/long/paths/shard-000017"
    val longName = s"$longDir/sample-000000042-of-training-corpus.txt"
    assert(longName.length > 100)
    val full = work.resolve(longName)
    java.nio.file.Files.createDirectories(full.getParent)
    java.nio.file.Files.write(full, "payload".getBytes("UTF-8"))
    java.nio.file.Files.write(work.resolve("short.txt"),
      "x".getBytes("UTF-8"))
    for (fmt <- Seq("gnu", "pax", "ustar")) {
      val tarPath = work.resolve(s"$fmt.tar").toString
      val p = new ProcessBuilder(bin, s"--format=$fmt", "-cf", tarPath,
        "-C", work.toString, longName, "short.txt").start()
      assert(p.waitFor() == 0, s"system tar ($fmt) failed")
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(tarPath))
      val members = MultimodalOps.tarMembersOf(
        MultimodalOps.MediaRecord(1L, "application/x-tar", bytes))
        .getOrElse(fail(s"$fmt-format archive rejected"))
      // only the two REAL files — meta entries produce no rows
      assert(members.map(_.name) == Seq(longName, "short.txt"), fmt)
      assert(members.map(_.size) == Seq(7L, 1L), fmt)
      // the reported data offset really holds the payload
      val m0 = members.head
      assert(new String(bytes, m0.dataOffset.toInt, 7, "UTF-8") ==
        "payload", fmt)
    }
  }

  test("tar.gz: inflate + walk equals the raw shard; corrupt gzip rejected") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "the quick brown fox")).toDF("doc_id", "text")
    val raw = MultimodalOps.tarMembersOf(
      MultimodalOps.synthesizeTarShard(docs, "doc_id", "text").collect().head).get
    val gz = MultimodalOps.synthesizeTarGzShard(docs, "doc_id", "text").collect().head
    assert(MultimodalOps.tarGzMembersOf(gz).contains(raw))
    // corrupt deflate stream -> None, never a throw
    val bad = gz.content.clone(); bad(gz.content.length / 2) = 0x55
    assert(MultimodalOps.tarGzMembersOf(
      MultimodalOps.MediaRecord(5L, "application/gzip", bad)).isEmpty)
    // the bomb guard caps inflation
    assert(MultimodalOps.tarGzMembersOf(gz, maxInflated = 100).isEmpty)
  }

  test("tar.zst: inflate + walk equals the raw shard; corrupt frame rejected") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "the quick brown fox")).toDF("doc_id", "text")
    val raw = MultimodalOps.tarMembersOf(
      MultimodalOps.synthesizeTarShard(docs, "doc_id", "text").collect().head).get
    val zst = MultimodalOps.synthesizeTarZstShard(docs, "doc_id", "text").collect().head
    // the compression layer is invisible: identical member table
    assert(MultimodalOps.tarZstMembersOf(zst).contains(raw))
    // a flipped frame byte -> None, never a throw
    val bad = zst.content.clone(); bad(zst.content.length / 2) = 0x55
    assert(MultimodalOps.tarZstMembersOf(
      MultimodalOps.MediaRecord(5L, "application/zstd", bad)).isEmpty)
    // gzip bytes do not pass the zstd magic gate, and vice versa
    val gz2 = MultimodalOps.synthesizeTarGzShard(docs, "doc_id", "text").collect().head
    assert(MultimodalOps.tarZstMembersOf(gz2).isEmpty)
    assert(MultimodalOps.tarGzMembersOf(zst).isEmpty)
    // the bomb guard caps inflation; null content is None
    assert(MultimodalOps.tarZstMembersOf(zst, maxInflated = 100).isEmpty)
    assert(MultimodalOps.tarZstMembersOf(
      MultimodalOps.MediaRecord(5L, "x", null)).isEmpty)
  }

  test("id3v2: hand-built tag parses; padding stops the walk; overrun rejected") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    def frame(fid: String, enc: Int, txt: Array[Byte]): Array[Byte] = {
      val sz = 1 + txt.length
      fid.getBytes("US-ASCII") ++ Array[Byte](
        (sz >> 24).toByte, (sz >> 16).toByte, (sz >> 8).toByte, sz.toByte,
        0, 0, enc.toByte) ++ txt
    }
    // hand tag: TIT2 + an unknown text frame + non-text frame skipped
    // by id, then PADDING (a zero byte) before the declared end
    val frames = frame("TIT2", 0, "Title A".getBytes("ISO-8859-1")) ++
      frame("TXXX", 0, "extra".getBytes("ISO-8859-1")) ++
      frame("WOAR", 0, "http".getBytes("ISO-8859-1")) // W-frame: counted, not decoded
    val size = frames.length + 6 // + padding bytes
    val tag = Array[Byte]('I', 'D', '3', 3, 0, 0,
      ((size >> 21) & 0x7f).toByte, ((size >> 14) & 0x7f).toByte,
      ((size >> 7) & 0x7f).toByte, (size & 0x7f).toByte) ++ frames ++
      new Array[Byte](6)
    val got = MultimodalOps.id3MetaOf(MultimodalOps.MediaRecord(2L, "audio/mpeg", tag))
    assert(got.contains(MultimodalOps.Id3Meta(2L, "Title A", "", "", 3, (10 + size).toLong)))
    // a frame size overrunning the tag ends in None, never a throw
    val overrun = tag.clone(); overrun(14) = 0x7f // TIT2 size huge
    assert(MultimodalOps.id3MetaOf(
      MultimodalOps.MediaRecord(3L, "audio/mpeg", overrun)).isEmpty)
    // synthesized round-trip incl. the UTF-8 album path
    val metas = MultimodalOps.id3Meta(
        MultimodalOps.synthesizeMp3Id3(
          Seq((12L, "naïve tokens here")).toDF("doc_id", "text"),
          "doc_id", "text"))
      .collect()
    assert(metas.toSeq == Seq(MultimodalOps.Id3Meta(12L, "doc 12", "src2",
      "naïve", 3, 51 + 2 + 6))) // "naïve" = 6 UTF-8 bytes
    // and the audio behind the tag still censuses as MP3
    val rec = MultimodalOps.synthesizeMp3Id3(
        Seq((12L, "naïve tokens here")).toDF("doc_id", "text"),
        "doc_id", "text").collect().head
    val mp3 = MultimodalOps.mp3MetaOf(rec)
    assert(mp3.exists(m => m.nFrames == 1L && m.sampleRate == 44100L))
  }

  test("id3v2.4: syncsafe frame sizes; v2.2 own wire rule; flags enforced") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // the fixture PAIR: identical frames, one tag per version, with a
    // 200-byte frame — exactly where plain-u32 (0x000000C8) and
    // syncsafe (0x00000148) size encodings diverge on the wire
    def mkFrame(fid: String, ver: Int, payload: Array[Byte]): Array[Byte] = {
      val sz = payload.length
      val szb =
        if (ver == 3) Array[Byte]((sz >> 24).toByte, (sz >> 16).toByte,
          (sz >> 8).toByte, sz.toByte)
        else Array[Byte](((sz >> 21) & 0x7f).toByte, ((sz >> 14) & 0x7f).toByte,
          ((sz >> 7) & 0x7f).toByte, (sz & 0x7f).toByte)
      fid.getBytes("US-ASCII") ++ szb ++ Array[Byte](0, 0) ++ payload
    }
    def mkTag(ver: Int, frames: Array[Byte], flags: Int = 0): Array[Byte] = {
      val size = frames.length
      Array[Byte]('I', 'D', '3', ver.toByte, 0, flags.toByte,
        ((size >> 21) & 0x7f).toByte, ((size >> 14) & 0x7f).toByte,
        ((size >> 7) & 0x7f).toByte, (size & 0x7f).toByte) ++ frames
    }
    val big = Array[Byte](0) ++ ("T" * 199).getBytes("ISO-8859-1") // TIT2, 200 B
    val small = Array[Byte](0) ++ "Artist Z".getBytes("ISO-8859-1")
    def framesFor(ver: Int) =
      mkFrame("TIT2", ver, big) ++ mkFrame("TPE1", ver, small)
    val v23 = mkTag(3, framesFor(3))
    val v24 = mkTag(4, framesFor(4))
    // both versions parse to the SAME census — each with its own rule
    for ((tag, id) <- Seq((v23, 23L), (v24, 24L))) {
      val got = MultimodalOps.id3MetaOf(MultimodalOps.MediaRecord(id, "audio/mpeg", tag))
      assert(got.contains(MultimodalOps.Id3Meta(
        id, "T" * 199, "Artist Z", "", 2, (10 + framesFor(3).length).toLong)), s"v$id")
    }
    // the divergence is REAL: v2.4 bytes walked as if they were v2.3
    // (same frames, version byte forced to 3) mis-hop on the 200-byte
    // frame and must NOT reproduce the true census
    val mislabeled = mkTag(3, framesFor(4))
    val wrong = MultimodalOps.id3MetaOf(
      MultimodalOps.MediaRecord(25L, "audio/mpeg", mislabeled))
    assert(!wrong.exists(m => m.artist == "Artist Z" && m.nFrames == 2))
    // v2.2 (r15): 3-char ids + 3-byte BE sizes parse on their own
    // wire rule — TT2/TP1/TAL decode, padding stops the walk
    val v22 = Array[Byte]('I', 'D', '3', 2, 0, 0, 0, 0, 0, 30) ++
      "TT2".getBytes("ISO-8859-1") ++ Array[Byte](0, 0, 11, 0) ++
      "old title ".getBytes("ISO-8859-1") ++
      new Array[Byte](13) // pad to the declared 30 tag bytes exactly
    val got22 = MultimodalOps.id3MetaOf(
      MultimodalOps.MediaRecord(22L, "audio/mpeg", v22))
    assert(got22.contains(MultimodalOps.Id3Meta(
      22L, "old title ", "", "", 1L, 40L)))
    // v2.2 multi-frame: TP1 and TAL land in their fields; UTF-16
    // (encoding 1) is counted-not-decoded
    val v22b = {
      def fr(id: String, enc: Int, s: String): Array[Byte] = {
        val payload = Array[Byte](enc.toByte) ++ s.getBytes("ISO-8859-1")
        id.getBytes("ISO-8859-1") ++ Array[Byte](0,
          (payload.length >> 8).toByte, payload.length.toByte) ++ payload
      }
      val body = fr("TP1", 0, "Artist W") ++ fr("TAL", 1, "xx") ++
        fr("TT2", 0, "t2")
      Array[Byte]('I', 'D', '3', 2, 0, 0) ++
        Array[Byte](0, 0, (body.length >> 7).toByte,
          (body.length & 0x7f).toByte) ++ body
    }
    val got22b = MultimodalOps.id3MetaOf(
      MultimodalOps.MediaRecord(23L, "audio/mpeg", v22b))
    assert(got22b.exists(m => m.artist == "Artist W" && m.album == "" &&
      m.title == "t2" && m.nFrames == 3))
    // v2.2 tag-level unsync / whole-tag compression: reject
    for (flag <- Seq(0x80, 0x40)) {
      val f = v22.clone(); f(5) = flag.toByte
      assert(MultimodalOps.id3MetaOf(
        MultimodalOps.MediaRecord(22L, "audio/mpeg", f)).isEmpty,
        s"v2.2 flag $flag")
    }
    // v2.2 lowercase/invalid frame id: framing error, never a mis-walk
    val badId = v22.clone(); badId(10) = 't'
    assert(MultimodalOps.id3MetaOf(
      MultimodalOps.MediaRecord(22L, "audio/mpeg", badId)).isEmpty)
    // tag-level unsync / extended-header / footer flags are outside
    // the walk's envelope: reject, never mis-parse
    for (flag <- Seq(0x80, 0x40, 0x10))
      assert(MultimodalOps.id3MetaOf(MultimodalOps.MediaRecord(
        26L, "audio/mpeg", mkTag(4, framesFor(4), flag))).isEmpty, s"flag $flag")
    // a v2.4 frame size with a high bit set is a framing error
    val badSync = v24.clone(); badSync(14) = 0x80.toByte // TIT2 size byte 0
    assert(MultimodalOps.id3MetaOf(
      MultimodalOps.MediaRecord(27L, "audio/mpeg", badSync)).isEmpty)
    // v2.4 format flags that transform the payload (unsync bit 0x02)
    // keep the frame COUNTED but undecoded
    val flaggedFrames = {
      val f = framesFor(4)
      f(9) = 0x02.toByte // TIT2 format-flags byte
      f
    }
    val counted = MultimodalOps.id3MetaOf(MultimodalOps.MediaRecord(
      28L, "audio/mpeg", mkTag(4, flaggedFrames)))
    assert(counted.exists(m => m.nFrames == 2 && m.title == "" &&
      m.artist == "Artist Z"))
    // grouping flags SHIFT the payload (a group byte precedes the
    // encoding byte): v2.4 bit 0x40, v2.3 bit 0x20 — both must leave
    // the frame counted-not-decoded, never decode the group byte as
    // the text encoding
    for ((ver, bit) <- Seq((4, 0x40), (3, 0x20))) {
      val fg = framesFor(ver)
      fg(9) = bit.toByte
      val got = MultimodalOps.id3MetaOf(MultimodalOps.MediaRecord(
        29L, "audio/mpeg", mkTag(ver, fg)))
      assert(got.exists(m => m.nFrames == 2 && m.title == "" &&
        m.artist == "Artist Z"), s"v2.$ver grouping")
    }
    // synthesized v2.4 round-trip (odd id): extra TXXX pad frame, tag
    // bytes replay the 138 + id%64 arithmetic the oracle pins
    val m13 = MultimodalOps.id3Meta(
        MultimodalOps.synthesizeMp3Id3(
          Seq((13L, "naïve tokens here")).toDF("doc_id", "text"),
          "doc_id", "text"))
      .collect().toSeq
    assert(m13 == Seq(MultimodalOps.Id3Meta(13L, "doc 13", "src3",
      "naïve", 4, 51 + 2 + 6 + 138 + 13 % 64)))
  }

  test("webvtt: cue parse with both timestamp forms, settings, blocks, junk") {
    import graft.ops.MultimodalOps
    val doc = Seq(
      "WEBVTT - with a header remark",
      "",
      "NOTE a comment block",
      "spanning two lines",
      "",
      "intro",
      "00:01.000 --> 00:02.500 align:middle", // MM:SS.mmm + settings
      "first line",
      "second line",
      "",
      "01:02:03.450 --> 01:02:04.000",        // HH:MM:SS.mmm
      "hour cue",
      "",
      "garbage --> 00:99.000",                 // malformed: skipped
      "not a cue",
      "",
      "00:05.000 --> 00:04.000",               // end < start: skipped
      "backwards",
      "").mkString("\n")
    val cues = MultimodalOps.vttCuesOf(9L, doc)
    assert(cues == Seq(
      MultimodalOps.VttCue(9L, 0, 1000, 2500, "first line\nsecond line"),
      MultimodalOps.VttCue(9L, 1, 3723450, 3724000, "hour cue")))
    // a non-VTT document yields nothing, never throws
    assert(MultimodalOps.vttCuesOf(1L, "just some prose").isEmpty)
    assert(MultimodalOps.vttCuesOf(1L, null).isEmpty)
    // synthesized round-trip: cue 1 of id 6 carries tokens [5, 10)
    import spark.implicits._
    val got = MultimodalOps.vttCues(
        MultimodalOps.synthesizeVtt(
          Seq((6L, "a b c d e f g h i j k")).toDF("doc_id", "text"),
          "doc_id", "text"), "id", "vtt")
      .collect().sortBy(_.cueIdx)
    assert(got.length == 3) // 1 + 6 % 4
    assert(got(0) == MultimodalOps.VttCue(6L, 0, 0, 1506, "a b c d e"))
    assert(got(1) == MultimodalOps.VttCue(6L, 1, 2006, 3512, "f g h i j"))
    assert(got(2) == MultimodalOps.VttCue(6L, 2, 4012, 5518, "k"))
  }

  test("media parsers are total on null content; synthesizers total on null text") {
    // regression (r13 advice): id3MetaOf lacked the null-content guard
    // its siblings have, and six synthesizers called text.getBytes
    // without coalescing a null text column.  Contract: EVERY parser
    // returns None/Nil on a null-content record, and EVERY synthesizer
    // treats null text as "" — a null cell must never kill a task.
    import spark.implicits._
    import graft.ops.MultimodalOps
    val nullRec = MultimodalOps.MediaRecord(7L, "application/octet-stream", null)
    assert(MultimodalOps.mp3MetaOf(nullRec).isEmpty)
    assert(MultimodalOps.mp3VbrMetaOf(nullRec).isEmpty)
    assert(MultimodalOps.flacMetaOf(nullRec).isEmpty)
    assert(MultimodalOps.aacMetaOf(nullRec).isEmpty)
    assert(MultimodalOps.opusMetaOf(nullRec).isEmpty)
    assert(MultimodalOps.exifMetaOf(nullRec).isEmpty)
    assert(MultimodalOps.id3MetaOf(nullRec).isEmpty)
    assert(MultimodalOps.tarMembersOf(nullRec).isEmpty)
    assert(MultimodalOps.tarGzMembersOf(nullRec).isEmpty)
    assert(MultimodalOps.safetensorsOf(nullRec).isEmpty)
    assert(MultimodalOps.npyMetaOf(nullRec).isEmpty)
    assert(MultimodalOps.warcRecordsOf(nullRec).isEmpty)
    assert(MultimodalOps.warcGzRecordsOf(nullRec).isEmpty)
    assert(MultimodalOps.warcGzPagesOf(nullRec).isEmpty)
    assert(MultimodalOps.arrowIpcMessagesOf(nullRec).isEmpty)
    assert(MultimodalOps.warcGzHttpPagesOf(nullRec).isEmpty)
    assert(MultimodalOps.pdfMetaOf(nullRec).isEmpty)
    assert(MultimodalOps.jsonlRecordsOf(nullRec).isEmpty)
    assert(MultimodalOps.jsonlZstRecordsOf(nullRec).isEmpty)
    assert(MultimodalOps.epubMetaOf(nullRec).isEmpty)
    assert(MultimodalOps.tiffMetaOf(nullRec).isEmpty)
    val docs = Seq((1L, "some text"), (2L, null))
      .toDF("doc_id", "text")
    // null text synthesizes the empty-document shape, same as ""
    assert(MultimodalOps.synthesizeMp3(docs, "doc_id", "text").count() == 2)
    assert(MultimodalOps.synthesizeMp3Vbr(docs, "doc_id", "text").count() == 2)
    assert(MultimodalOps.synthesizeFlac(docs, "doc_id", "text").count() == 2)
    assert(MultimodalOps.synthesizeAac(docs, "doc_id", "text").count() == 2)
    assert(MultimodalOps.synthesizeOpus(docs, "doc_id", "text").count() == 2)
    assert(MultimodalOps.synthesizeExifJpeg(docs, "doc_id", "text").count() == 2)
    // the null-text record round-trips through its parser like ""
    val viaNull = MultimodalOps.synthesizeMp3(docs, "doc_id", "text")
      .filter(_.id == 2L).collect().head
    val viaEmpty = MultimodalOps.synthesizeMp3(
        Seq((2L, "")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    assert(java.util.Arrays.equals(viaNull.content, viaEmpty.content))
  }

  test("warc: strict record walk — version gate, mandatory length, exact framing") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    def rec(ver: String, headers: Seq[(String, String)], block: String,
        tail: String = "\r\n\r\n"): Array[Byte] =
      (s"WARC/$ver\r\n" +
        headers.map { case (k, v) => s"$k: $v\r\n" }.mkString +
        "\r\n" + block + tail).getBytes("UTF-8")
    val good = rec("1.0", Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> "https://a.example/x",
      "Content-Length" -> "5"), "hello")
    val one = MultimodalOps.warcRecordsOf(
      MultimodalOps.MediaRecord(3L, "application/warc", good))
    assert(one.contains(Seq(MultimodalOps.WarcRecord(
      3L, 0L, "response", "https://a.example/x", 0L,
      (good.length - 5 - 4).toLong, 5L, ""))))
    // WARC/1.1 accepted; other versions rejected
    assert(MultimodalOps.warcRecordsOf(MultimodalOps.MediaRecord(1L, "w",
      rec("1.1", Seq("Content-Length" -> "0"), ""))).nonEmpty)
    assert(MultimodalOps.warcRecordsOf(MultimodalOps.MediaRecord(1L, "w",
      rec("0.18", Seq("Content-Length" -> "0"), ""))).isEmpty)
    // header names are case-insensitive; absent URI reads as ""
    val ci = MultimodalOps.warcRecordsOf(MultimodalOps.MediaRecord(1L, "w",
      rec("1.0", Seq("warc-type" -> "request", "CONTENT-LENGTH" -> "2"), "ab")))
    assert(ci.exists(s => s.head.warcType == "request" &&
      s.head.targetUri == "" && s.head.contentLength == 2L))
    // missing Content-Length, short block, wrong terminator, trailing
    // garbage, bare-LF header line: all fail the SHARD, never throw
    assert(MultimodalOps.warcRecordsOf(MultimodalOps.MediaRecord(1L, "w",
      rec("1.0", Seq("WARC-Type" -> "response"), "hello"))).isEmpty)
    assert(MultimodalOps.warcRecordsOf(MultimodalOps.MediaRecord(1L, "w",
      rec("1.0", Seq("Content-Length" -> "9"), "hello"))).isEmpty)
    assert(MultimodalOps.warcRecordsOf(MultimodalOps.MediaRecord(1L, "w",
      rec("1.0", Seq("Content-Length" -> "5"), "hello", "\r\n\r"))).isEmpty)
    assert(MultimodalOps.warcRecordsOf(MultimodalOps.MediaRecord(1L, "w",
      good ++ "junk".getBytes("UTF-8"))).isEmpty)
    assert(MultimodalOps.warcRecordsOf(MultimodalOps.MediaRecord(1L, "w",
      ("WARC/1.0\nContent-Length: 0\n\n\r\n\r\n").getBytes("UTF-8"))).isEmpty)
    // multi-record shard: offsets are exact running sums
    val two = good ++ rec("1.0", Seq(
      "WARC-Type" -> "metadata", "Content-Length" -> "3"), "xyz")
    val got2 = MultimodalOps.warcRecordsOf(
      MultimodalOps.MediaRecord(9L, "w", two)).get
    assert(got2.length == 2 && got2(1).offset == good.length.toLong &&
      got2(1).warcType == "metadata" && got2(1).recIdx == 1L)
    // synthesized round-trip: ns records, tar payload split, oracle
    // header arithmetic (id 5 → 3 records over 10 payload bytes)
    val text5 = "0123456789"
    val rows = MultimodalOps.warcRecords(
        MultimodalOps.synthesizeWarc(
          Seq((5L, text5)).toDF("doc_id", "text"), "doc_id", "text"))
      .collect().sortBy(_.recIdx)
    assert(rows.length == 3) // 1 + 5 % 3
    assert(rows.map(_.contentLength).toSeq == Seq(4L, 3L, 3L))
    assert(rows.map(_.warcType).toSeq == Seq("response", "request", "metadata"))
    assert(rows(0).targetUri == "https://example.com/5/0")
    // header bytes replay: the synthesizer's exact header string
    val hb0 = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:uuid:0000000005-0>\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
      "WARC-Target-URI: https://example.com/5/0\r\n" +
      "Content-Type: text/plain\r\nContent-Length: 4\r\n\r\n").length.toLong
    assert(rows(0).headerBytes == hb0 && rows(0).offset == 0L)
    assert(rows(1).offset == hb0 + 4 + 4)
  }

  test("warc revisit: digest capture; revisit resolves to its original") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = (0L to 5L).map(id => (id, s"text for $id")).toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeWarcRevisit(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    for ((id, rec) <- media) {
      val rows = MultimodalOps.warcRecordsOf(rec)
        .getOrElse(fail(s"id=$id rejected"))
      val ns = 1 + (id % 3).toInt
      val expectDigest = "md5:" + java.security.MessageDigest
        .getInstance("MD5").digest(s"$id:text for $id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(rows.count(_.warcType == "revisit") ==
        (if (id % 2 == 0) 1 else 0), s"id=$id")
      // the response carries the digest; non-responses carry none
      assert(rows.find(_.warcType == "response")
        .exists(_.payloadDigest == expectDigest), s"id=$id")
      assert(rows.filter(r => r.warcType == "request" ||
        r.warcType == "metadata").forall(_.payloadDigest == ""))
      if (id % 2 == 0) {
        val rv = rows.find(_.warcType == "revisit").get
        assert(rv.payloadDigest == expectDigest &&
          rv.contentLength == 0L &&
          rv.targetUri == s"https://example.com/$id/re0" &&
          rv.recIdx == ns.toLong, s"id=$id")
      }
    }
  }

  test("warc.gz: member CRCs verified; ranged reads gunzip to single records") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "0123456789"), (2L, "warc gz census text payload"),
      (0L, "")).toDF("doc_id", "text")
    val gz = MultimodalOps.synthesizeWarcGz(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    val plain = MultimodalOps.synthesizeWarc(docs, "doc_id", "text")
      .collect().map(r => r.id -> r.content).toMap
    for ((id, r) <- gz) {
      val cdx = MultimodalOps.warcGzRecordsOf(r).get
      assert(cdx.length == (1 + id % 3).toInt)
      // members tile the shard exactly
      assert(cdx.head.offset == 0L)
      assert(cdx.map(c => c.offset + c.compLen).max == r.content.length.toLong)
      // the CDX contract: gunzipping [offset, offset+compLen) yields
      // exactly one record, and concatenating them rebuilds the plain
      // .warc shard byte for byte
      val rebuilt = new java.io.ByteArrayOutputStream()
      for (c <- cdx.sortBy(_.recIdx)) {
        val slice = java.util.Arrays.copyOfRange(
          r.content, c.offset.toInt, (c.offset + c.compLen).toInt)
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(slice))
        val member = in.readAllBytes()
        in.close()
        assert(member.length.toLong == c.recordBytes)
        rebuilt.write(member)
      }
      assert(java.util.Arrays.equals(rebuilt.toByteArray, plain(id)))
      // agreement with the plain census on the content columns
      val flat = MultimodalOps.warcRecordsOf(
        MultimodalOps.MediaRecord(id, "w", plain(id))).get
      assert(cdx.map(c => (c.recIdx, c.warcType, c.targetUri, c.contentLength)) ==
        flat.map(f => (f.recIdx, f.warcType, f.targetUri, f.contentLength)))
    }
    // tampering anywhere in a member fails the shard: payload byte
    // (CRC32), ISIZE trailer word, reserved FLG bit
    val base = gz(5L).content
    def flipAt(i: Int): Option[_] = {
      val m = base.clone(); m(i) = (m(i) ^ 0x01).toByte
      MultimodalOps.warcGzRecordsOf(MultimodalOps.MediaRecord(5L, "w", m))
    }
    assert(flipAt(base.length / 2).isEmpty) // mid-stream byte
    assert(flipAt(base.length - 1).isEmpty) // ISIZE
    assert(flipAt(base.length - 6).isEmpty) // CRC32
    val badFlg = base.clone(); badFlg(3) = (badFlg(3) | 0x80).toByte
    assert(MultimodalOps.warcGzRecordsOf(
      MultimodalOps.MediaRecord(5L, "w", badFlg)).isEmpty)
    // FNAME members parse: re-wrap record 0 with a filename field
    val rec0 = {
      val cdx = MultimodalOps.warcGzRecordsOf(gz(5L).asInstanceOf[MultimodalOps.MediaRecord]).get.head
      val slice = java.util.Arrays.copyOfRange(
        base, cdx.offset.toInt, (cdx.offset + cdx.compLen).toInt)
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(slice))
      val out = in.readAllBytes(); in.close(); out
    }
    val named = {
      val body = new java.io.ByteArrayOutputStream()
      val raw = {
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        d.setInput(rec0); d.finish()
        val buf = new Array[Byte](rec0.length * 2 + 64)
        val n = d.deflate(buf); d.end()
        java.util.Arrays.copyOf(buf, n)
      }
      body.write(Array[Byte](0x1f, 0x8b.toByte, 8, 8, 0, 0, 0, 0, 0, 0))
      body.write("rec0.warc".getBytes("US-ASCII")); body.write(0)
      body.write(raw)
      val crc = new java.util.zip.CRC32; crc.update(rec0)
      def le32(v: Long) = Array[Byte](v.toByte, (v >> 8).toByte,
        (v >> 16).toByte, (v >> 24).toByte)
      body.write(le32(crc.getValue)); body.write(le32(rec0.length.toLong))
      body.toByteArray
    }
    val viaName = MultimodalOps.warcGzRecordsOf(
      MultimodalOps.MediaRecord(5L, "w", named))
    assert(viaName.exists(s => s.length == 1 &&
      s.head.warcType == "response" && s.head.recordBytes == rec0.length.toLong))
  }

  test("warc.gz pages: response blocks round-trip UTF-8; non-responses filtered") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // multi-byte page content must survive synthesis → gzip member →
    // inflate → block slice → UTF-8 decode byte-for-byte
    val html = "<p>naïve résumé — 日本語 🎉</p>"
    val docs = Seq((7L, html), (2L, ""), (11L, null.asInstanceOf[String]))
      .toDF("doc_id", "html")
    val pages = MultimodalOps.warcGzPages(
        MultimodalOps.synthesizeWarcGzPages(docs, "doc_id", "html"))
      .collect().map(p => p.id -> p).toMap
    assert(pages.size == 3) // exactly one response per doc
    assert(pages(7L).html == html)
    assert(pages(7L).targetUri == "https://example.com/7/1")
    assert(pages(7L).recIdx == 1L) // request is record 0, filtered
    assert(pages(2L).html == "" && pages(11L).html == "")
    // the generic multi-record shard: only response records emitted
    // (id 5 → response/request/metadata → 1 page with the first slice)
    val gz5 = MultimodalOps.synthesizeWarcGz(
        Seq((5L, "0123456789")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    val p5 = MultimodalOps.warcGzPagesOf(gz5).get
    assert(p5.length == 1 && p5.head.html == "0123" && p5.head.recIdx == 0L)
    // a tampered member fails the whole shard (shared CRC walk)
    val base = MultimodalOps.synthesizeWarcGzPages(
        Seq((7L, html)).toDF("doc_id", "html"), "doc_id", "html")
      .collect().head.content
    val m = base.clone(); m(base.length / 2) = (m(base.length / 2) ^ 1).toByte
    assert(MultimodalOps.warcGzPagesOf(
      MultimodalOps.MediaRecord(7L, "w", m)).isEmpty)
  }

  test("arrow ipc: flatbuffer walk == ArrowFileReader blocks; strict framing") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "alpha beta gamma delta"), (2L, "x"), (0L, ""))
      .toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeArrowIpc(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    for ((id, rec) <- media) {
      val msgs = MultimodalOps.arrowIpcMessagesOf(rec).get.sortBy(_.msgIdx)
      val nb = (1 + id % 4).toInt
      assert(msgs.length == 1 + nb)
      assert(msgs.head.headerType == 1L && msgs.head.nRows == -1L) // schema
      msgs.tail.zipWithIndex.foreach { case (m, k) =>
        assert(m.headerType == 3L)
        assert(m.nRows == 1 + (id + k) % 5)
      }
      // independent-reader cross-check: the library's own footer
      // blocks must agree with the walk's byte geometry per batch
      val alloc = new org.apache.arrow.memory.RootAllocator(1L << 28)
      try {
        val reader = new org.apache.arrow.vector.ipc.ArrowFileReader(
          new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(
            rec.content), alloc)
        try {
          import scala.jdk.CollectionConverters._
          val blocks = reader.getRecordBlocks.asScala.toVector
          assert(blocks.length == nb)
          blocks.zip(msgs.tail).foreach { case (blk, m) =>
            assert(blk.getOffset == m.offset, "block offset")
            assert(blk.getMetadataLength == m.metaLen + 8, "metadata length")
            assert(blk.getBodyLength == m.bodyLen, "body length")
          }
          // and the batches actually load with the walked row counts
          var k = 0
          while (reader.loadNextBatch()) {
            assert(reader.getVectorSchemaRoot.getRowCount ==
              1 + ((id + k) % 5).toInt)
            k += 1
          }
          assert(k == nb)
        } finally reader.close()
      } finally alloc.close()
    }
    // strict framing: truncation, flipped trailing magic, flipped
    // continuation marker, and a mid-stream metadata-length lie all
    // fail the shard, never throw
    val base = media(5L).content
    assert(MultimodalOps.arrowIpcMessagesOf(
      MultimodalOps.MediaRecord(5L, "a",
        java.util.Arrays.copyOf(base, base.length - 3))).isEmpty)
    val badMagic = base.clone(); badMagic(base.length - 1) = 'X'
    assert(MultimodalOps.arrowIpcMessagesOf(
      MultimodalOps.MediaRecord(5L, "a", badMagic)).isEmpty)
    val badCont = base.clone(); badCont(8) = 0
    assert(MultimodalOps.arrowIpcMessagesOf(
      MultimodalOps.MediaRecord(5L, "a", badCont)).isEmpty)
    val badLen = base.clone()
    badLen(12) = (badLen(12) ^ 0x40).toByte // metadata length bit flip
    assert(MultimodalOps.arrowIpcMessagesOf(
      MultimodalOps.MediaRecord(5L, "a", badLen)).isEmpty)
  }

  test("surt key: host reversal, default-port drop, sorted params, edges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val got = Seq(
      "https://a.b.com/x?b=2&a=1",
      "HTTP://WWW.Ex.Co.UK:80/Path/Sub?z=1&y=2#frag",
      "https://single:8443",
      "http://h.io/",
      "https://www.q.org/p?&a=1&",
      "https://h.io:80/",
      "http://h.io:443/",
      "https://h.io:443/")
      .toDF("u")
      .select(graft.ops.UrlOps.surtKey(col("u")))
      .as[String].collect().toSeq
    assert(got == Seq(
      "com,b,a)/x?a=1&b=2",
      "uk,co,ex)/path/sub?y=2&z=1",
      "single:8443)/",   // non-default port kept, empty path → /
      "io,h)/",
      "org,q)/p?a=1",    // empty params dropped, fragment gone
      "io,h:80)/",       // :80 is NOT https's default — kept
      "io,h:443)/",      // :443 is NOT http's default — kept
      "io,h)/"))         // :443 IS https's default — stripped
  }

  test("sitemap.xml: urlset and index entries, entity decode, missing-loc drop") {
    import graft.ops.UrlOps
    val urlset = """<?xml version="1.0"?>
      |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      |  <url><loc> https://a.com/x?p=1&amp;q=2 </loc>
      |       <lastmod>2026-01-02</lastmod><priority>0.8</priority></url>
      |  <url><lastmod>2026-01-03</lastmod></url>
      |  <url><loc>https://a.com/y</loc></url>
      |</urlset>""".stripMargin
    val got = UrlOps.sitemapEntriesOf(4L, urlset)
    assert(got == Seq(
      UrlOps.SitemapEntry(4L, 0, "url", "https://a.com/x?p=1&q=2",
        "2026-01-02", "0.8"),
      UrlOps.SitemapEntry(4L, 1, "url", "https://a.com/y", "", "")))
    val index = "<sitemapindex><sitemap><loc>https://a.com/s1.xml</loc>" +
      "</sitemap><sitemap><loc>https://a.com/s2.xml</loc></sitemap>" +
      "</sitemapindex>"
    assert(UrlOps.sitemapEntriesOf(1L, index).map(e => (e.kind, e.loc)) ==
      Seq(("sitemap", "https://a.com/s1.xml"), ("sitemap", "https://a.com/s2.xml")))
    assert(UrlOps.sitemapEntriesOf(1L, null).isEmpty)
    assert(UrlOps.sitemapEntriesOf(1L, "just prose, no xml").isEmpty)
    assert(UrlOps.sitemapEntriesOf(1L, "<urlset><url><loc></loc></url></urlset>").isEmpty)
  }

  test("feed census: rss items and atom entries, link forms, linkless drop") {
    import graft.ops.UrlOps
    val rss = "<rss version=\"2.0\"><channel>" +
      "<item><title>A &amp; B</title><link> https://a.com/1 </link>" +
      "<pubDate>01 Jan 2026 00:00:00 GMT</pubDate></item>" +
      "<item><title>no link, dropped</title></item>" +
      "<item><link>https://a.com/2</link></item>" +
      "</channel></rss>"
    assert(UrlOps.feedEntriesOf(7L, rss) == Seq(
      UrlOps.FeedEntry(7L, 0, "rss", "A & B", "https://a.com/1",
        "01 Jan 2026 00:00:00 GMT"),
      UrlOps.FeedEntry(7L, 1, "rss", "", "https://a.com/2", "")))
    val atom = "<feed xmlns=\"http://www.w3.org/2005/Atom\">" +
      "<entry><title>T1</title><link rel=\"alternate\" href=\"https://b.io/x\"/>" +
      "<updated>2026-01-02T00:00:00Z</updated></entry></feed>"
    assert(UrlOps.feedEntriesOf(1L, atom) == Seq(
      UrlOps.FeedEntry(1L, 0, "atom", "T1", "https://b.io/x",
        "2026-01-02T00:00:00Z")))
    assert(UrlOps.feedEntriesOf(1L, null).isEmpty)
    assert(UrlOps.feedEntriesOf(1L, "plain prose").isEmpty)
  }

  test("robots.txt: RFC 9309 parse, wildcard match, precedence, group selection") {
    import graft.ops.UrlOps
    // parser: comments, CRLF, case-insensitive fields, multi-agent
    // groups, empty-pattern rules dropped, fractional crawl-delay
    val robots = Seq(
      "# comment line",
      "USER-AGENT: GraftBot   # inline comment",
      "Disallow: /a/",
      "Allow:    /a/ok",
      "Crawl-Delay: 2.5",
      "",
      "User-agent: *",
      "User-agent: other",
      "Disallow:",          // empty pattern: matches nothing, dropped
      "Disallow: /b$",
      "Sitemap: https://x/sitemap.xml").mkString("\r\n")
    val rules = UrlOps.robotsRulesOf(9L, robots)
    assert(rules == Seq(
      UrlOps.RobotsRule(9L, 0, "graftbot", 0, false, "/a/", 2500),
      UrlOps.RobotsRule(9L, 0, "graftbot", 1, true, "/a/ok", 2500),
      UrlOps.RobotsRule(9L, 1, "*", 0, false, "/b$", -1),
      UrlOps.RobotsRule(9L, 1, "other", 0, false, "/b$", -1)))
    assert(UrlOps.robotsRulesOf(1L, null).isEmpty)
    assert(UrlOps.robotsRulesOf(1L, "Disallow: /x\n").isEmpty) // rule before any UA
    // wildcard matcher: prefix, mid-star, multi-star, trailing $,
    // $ in the middle is literal
    assert(UrlOps.robotsPathMatches("/a/", "/a/b"))
    assert(!UrlOps.robotsPathMatches("/a/", "/ab"))
    assert(UrlOps.robotsPathMatches("/*/x", "/q/x/y"))
    assert(UrlOps.robotsPathMatches("/a*b*c", "/a__b__c__"))
    assert(!UrlOps.robotsPathMatches("/a*b*c", "/a__c__b"))
    assert(UrlOps.robotsPathMatches("/p$", "/p"))
    assert(!UrlOps.robotsPathMatches("/p$", "/pq"))
    assert(UrlOps.robotsPathMatches("/*.php$", "/dir/x.php"))
    assert(!UrlOps.robotsPathMatches("/*.php$", "/dir/x.php?q=1"))
    assert(UrlOps.robotsPathMatches("", "/anything"))
    // precedence: longest pattern wins; allow wins length ties
    val prec = Seq(
      UrlOps.RobotsRule(1, 0, "bot", 0, false, "/d/", -1),
      UrlOps.RobotsRule(1, 0, "bot", 1, true, "/d/x", -1),
      UrlOps.RobotsRule(1, 0, "bot", 2, false, "/t/a", -1),
      UrlOps.RobotsRule(1, 0, "bot", 3, true, "/t/a", -1))
    assert(!UrlOps.robotsDecide(prec, "bot", "/d/y"))
    assert(UrlOps.robotsDecide(prec, "bot", "/d/x1"))
    assert(UrlOps.robotsDecide(prec, "bot", "/t/a")) // tie → allow
    assert(UrlOps.robotsDecide(prec, "bot", "/elsewhere"))
    assert(UrlOps.robotsDecide(Nil, "bot", "/d/y")) // no rules → allowed
    // group selection: a specific group SHADOWS *, and the most
    // specific (longest) agent token wins among specific matches
    val groups = Seq(
      UrlOps.RobotsRule(1, 0, "graftbot", 0, false, "/only-bot/", -1),
      UrlOps.RobotsRule(1, 1, "graft", 0, false, "/only-graft/", -1),
      UrlOps.RobotsRule(1, 2, "*", 0, false, "/star/", -1))
    assert(UrlOps.robotsDecide(groups, "GraftBot", "/star/x")) // * shadowed
    assert(!UrlOps.robotsDecide(groups, "graftbot", "/only-bot/x"))
    assert(UrlOps.robotsDecide(groups, "graftbot", "/only-graft/x")) // longer token won
    assert(!UrlOps.robotsDecide(groups, "graft/1.0", "/only-graft/x")) // product-token prefix
    assert(!UrlOps.robotsDecide(groups, "unrelated", "/star/x")) // falls to *
  }

  test("warc http envelope: status/charset parse, 404 arm, strict head") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((3L, "<p>naïve body — 日本語</p>"), (7L, "<p>gone</p>"),
      (1L, "")).toDF("doc_id", "html")
    val pages = MultimodalOps.warcGzHttpPages(
        MultimodalOps.synthesizeWarcGzHttp(docs, "doc_id", "html"))
      .collect().map(p => p.id -> p).toMap
    assert(pages.size == 3)
    assert(pages(3L).status == 200L && pages(3L).contentType == "text/html" &&
      pages(3L).charset == "utf-8")
    assert(pages(3L).body == "<p>naïve body — 日本語</p>") // UTF-8 through
    assert(pages(7L).status == 404L && pages(7L).body == "not found") // id % 7
    assert(pages(1L).body == "")
    // head parse directly: iso-8859-1 charset, quoted charset, unknown
    // charset censused-not-decoded, LF-only head rejected
    def head(s: String, body: Array[Byte] = Array.emptyByteArray) = {
      val b = s.getBytes("ISO-8859-1") ++ body
      MultimodalOps.httpResponseHeadAt(b, 0, b.length)
    }
    assert(head("HTTP/1.1 301 Moved\r\nLocation: /x\r\n\r\n")
      .contains((301, "", "", 36, false, false)))
    assert(head("HTTP/1.0 200 OK\r\nContent-Type: TEXT/Plain; charset=ISO-8859-1\r\n\r\n")
      .exists(t => t._2 == "text/plain" && t._3 == "iso-8859-1"))
    assert(head("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=\"utf-8\"\r\n\r\n")
      .exists(_._3 == "utf-8"))
    assert(head("HTTP/1.1 200\r\n\r\n")
      .contains((200, "", "", 16, false, false))) // bare code, no reason
    assert(head("HTTP/1.1 200x OK\r\n\r\n").isEmpty) // junk after the code
    assert(head("HTTP/2 200 OK\r\n\r\n").isEmpty)
    assert(head("HTTP/1.1 200 OK\nX: y\n\n").isEmpty) // bare LF
    // transfer-encoding: chunked detected only as the FINAL coding
    assert(head("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n")
      .exists(_._5))
    assert(head("HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip, chunked\r\n\r\n")
      .exists(_._5))
    assert(head("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked, gzip\r\n\r\n")
      .exists(t => !t._5))
    // content-encoding: single gzip coding only; others undecoded
    assert(head("HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n")
      .exists(_._6))
    assert(head("HTTP/1.1 200 OK\r\nContent-Encoding: x-gzip\r\n\r\n")
      .exists(_._6))
    assert(head("HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n")
      .exists(t => !t._6))
    // unknown charset: the row survives with an empty body
    val exotic = {
      val body = "body".getBytes("UTF-8")
      val h = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=shift_jis\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1")
      val block = h ++ body
      // hand-wrap the block as one gzip member
      val member = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(member)
      gz.write(graftWarcRecord(2L, 1, "response", block))
      gz.close()
      MultimodalOps.warcGzHttpPagesOf(
        MultimodalOps.MediaRecord(2L, "w", member.toByteArray))
    }
    assert(exotic.exists(s => s.length == 1 && s.head.charset == "shift_jis" &&
      s.head.body == "" && s.head.status == 200L))
  }

  test("warc http chunked: de-chunk byte-identical to content-length twin; strict rejects") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // synthesizer arm: id % 3 == 1 frames chunked — the decoded body
    // must be identical to the content-length twin of the same text
    val docs = Seq(
      (1L, "chunked body — naïve 日本語 " * 9),
      (2L, "chunked body — naïve 日本語 " * 9),
      (4L, ""), (7L, "x")).toDF("doc_id", "html")
    val pages = MultimodalOps.warcGzHttpPages(
        MultimodalOps.synthesizeWarcGzHttp(docs, "doc_id", "html"))
      .collect().map(p => p.id -> p).toMap
    assert(pages(1L).body == pages(2L).body) // chunked == plain twin
    assert(pages(1L).body.startsWith("chunked body"))
    assert(pages(4L).body == "") // last-chunk-only empty body
    assert(pages(7L).status == 404L && pages(7L).body == "not found") // 404 + chunked
    // direct dechunk: extensions dropped, trailer headers consumed
    def de(s: String) = {
      val b = s.getBytes("ISO-8859-1")
      MultimodalOps.httpDechunkAt(b, 0, b.length).map(new String(_, "UTF-8"))
    }
    assert(de("5;a=b\r\nhello\r\n3\r\n wo\r\n0\r\nX-T: v\r\n\r\n")
      .contains("hello wo"))
    assert(de("0\r\n\r\n").contains(""))
    // rejects: bad hex, missing data CRLF, size overrun, trailing
    // junk, truncated trailer, colon-less trailer line
    assert(de("zz\r\nhi\r\n0\r\n\r\n").isEmpty)
    assert(de("5\r\nhelloXX0\r\n\r\n").isEmpty)
    assert(de("ff\r\nhi\r\n0\r\n\r\n").isEmpty)
    assert(de("2\r\nhi\r\n0\r\n\r\nEXTRA").isEmpty)
    assert(de("2\r\nhi\r\n0\r\n").isEmpty)
    assert(de("2\r\nhi\r\n0\r\nnotaheader\r\n\r\n").isEmpty)
  }

  test("warc http content-encoding gzip: plain/gzip/chunked+gzip twins identical; corrupt fails shard") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val txt = "gzip body — compressible compressible naïve 日本語 " * 8
    // id 3: plain; id 12: gzip + Content-Length; id 22: gzip INSIDE
    // chunked (content-coding first, then transfer-coding)
    val docs = Seq((3L, txt), (12L, txt), (22L, txt))
      .toDF("doc_id", "html")
    val pages = MultimodalOps.warcGzHttpPages(
        MultimodalOps.synthesizeWarcGzHttp(docs, "doc_id", "html"))
      .collect().map(p => p.id -> p).toMap
    assert(pages(3L).body == txt)
    assert(pages(12L).body == txt) // gunzipped back to the twin
    assert(pages(22L).body == txt) // de-chunk then gunzip
    // corrupt gzip content: the shard fails, never a garbled body
    val badBody = "not gzip at all".getBytes("UTF-8")
    val h = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
      "Content-Encoding: gzip\r\n" +
      s"Content-Length: ${badBody.length}\r\n\r\n").getBytes("ISO-8859-1")
    val member = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(member)
    gz.write(graftWarcRecord(9L, 1, "response", h ++ badBody))
    gz.close()
    assert(MultimodalOps.warcGzHttpPagesOf(
      MultimodalOps.MediaRecord(9L, "w", member.toByteArray)).isEmpty)
  }

  /** test helper: one framed WARC record (mirrors the synthesizer). */
  private def graftWarcRecord(
      id: Long, k: Int, typ: String, block: Array[Byte]): Array[Byte] = {
    val head = (s"WARC/1.0\r\nWARC-Type: $typ\r\n" +
      f"WARC-Record-ID: <urn:uuid:$id%010d-$k%d>\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
      s"WARC-Target-URI: https://example.com/$id/$k\r\n" +
      "Content-Type: text/plain\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n").getBytes("ISO-8859-1")
    head ++ block ++ "\r\n\r\n".getBytes("ISO-8859-1")
  }

  test("pdf: classic xref census round-trip; xref-stream and bound violations reject") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "page text for a pdf " * 6), (0L, ""), (3L, "x"))
      .toDF("doc_id", "text")
    val pdfs = MultimodalOps.synthesizePdf(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    for ((id, rec) <- pdfs) {
      val m = MultimodalOps.pdfMetaOf(rec).get
      val np = 1 + (id % 4)
      assert(m.version == "1.4" && m.nPages == np &&
        m.nObjects == 3 + 2 * np && m.nBytes == rec.content.length.toLong &&
        m.layout == "classic" && m.nSections == 1)
      // the census's xref offset must actually point at the table
      assert(new String(rec.content, m.xrefOffset.toInt, 4, "ISO-8859-1") == "xref")
    }
    val base = pdfs(5L).content
    // garbage at the startxref offset (neither a classic table nor a
    // parseable xref-stream object) rejects
    val asStream = base.clone()
    val xo = MultimodalOps.pdfMetaOf(pdfs(5L)).get.xrefOffset.toInt
    "5 0 ".getBytes("ISO-8859-1").copyToArray(asStream, xo)
    assert(MultimodalOps.pdfMetaOf(
      MultimodalOps.MediaRecord(5L, "p", asStream)).isEmpty)
    // an in-use entry offset past EOF rejects (a lying xref would
    // otherwise mis-seek every reader downstream)
    val lying = base.clone()
    val xrefText = new String(base, "ISO-8859-1")
    val entryAt = xrefText.indexOf("\n", xrefText.indexOf("xref\n0 ")) // subsection line
    val firstEntry = xrefText.indexOf("65535 f \n") + 9
    "9999999999".getBytes("ISO-8859-1").copyToArray(lying, firstEntry)
    assert(MultimodalOps.pdfMetaOf(
      MultimodalOps.MediaRecord(5L, "p", lying)).isEmpty)
    assert(entryAt > 0)
    // truncation and a non-PDF header reject
    assert(MultimodalOps.pdfMetaOf(MultimodalOps.MediaRecord(
      5L, "p", java.util.Arrays.copyOf(base, base.length / 2))).isEmpty)
    assert(MultimodalOps.pdfMetaOf(MultimodalOps.MediaRecord(
      5L, "p", "%PDX-1.4 nope".getBytes("ISO-8859-1"))).isEmpty)
    // PDF 2.0 (ISO 32000-2) headers are in-envelope; 1.8/2.1 are not
    val v20 = base.clone()
    "%PDF-2.0".getBytes("ISO-8859-1").copyToArray(v20, 0)
    assert(MultimodalOps.pdfMetaOf(
      MultimodalOps.MediaRecord(5L, "p", v20)).get.version == "2.0")
    val v18 = base.clone()
    "%PDF-1.8".getBytes("ISO-8859-1").copyToArray(v18, 0)
    assert(MultimodalOps.pdfMetaOf(
      MultimodalOps.MediaRecord(5L, "p", v18)).isEmpty)
    val v21 = base.clone()
    "%PDF-2.1".getBytes("ISO-8859-1").copyToArray(v21, 0)
    assert(MultimodalOps.pdfMetaOf(
      MultimodalOps.MediaRecord(5L, "p", v21)).isEmpty)
  }

  test("pdf /Encrypt: censused as encrypted, not dropped; extraction attributably None") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((2L, "secret body text here " * 4), (3L, "plain " * 8))
      .toDF("doc_id", "text")
    val media = MultimodalOps.synthesizePdfEncrypted(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    // even id: /Encrypt trailer — censused, encrypted=true, pages
    // still resolved (dicts are never encrypted), +1 object in /Size
    val enc = MultimodalOps.pdfMetaOf(media(2L)).get
    assert(enc.encrypted && enc.nPages == 3 && enc.nObjects == 4 + 2 * 3)
    // odd id: plain — encrypted=false, classic shape unchanged
    val plain = MultimodalOps.pdfMetaOf(media(3L)).get
    assert(!plain.encrypted && plain.nObjects == 3 + 2 * 4)
    // text extraction: None for the encrypted doc (the reason is
    // attributable via the meta census), pages for the plain one
    assert(MultimodalOps.pdfPageTextsOf(media(2L)).isEmpty)
    assert(MultimodalOps.pdfPageTextsOf(media(3L)).nonEmpty ||
      // classicPdfBytes streams are raw payload splits, not text
      // operators — extraction may legitimately yield empty pages,
      // but must NOT reject the unencrypted doc at the chain step
      MultimodalOps.pdfChainOf(media(3L).content).exists(!_.encrypted))
  }

  test("pdf: xref-stream census — W fields, predictors, object streams, /Index") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // ids chosen to cover every synthesizer arm: objstm on/off,
    // FlateDecode+PNG-Up / plain flate / unfiltered, explicit /Index
    val docs = (0L to 5L).map(id => (id, s"xrs page text $id " * 8))
      .toDF("doc_id", "text")
    val pdfs = MultimodalOps.synthesizePdfXrs(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    for ((id, rec) <- pdfs) {
      val m = MultimodalOps.pdfMetaOf(rec).getOrElse(
        fail(s"id=$id: xref-stream pdf rejected"))
      val np = 1 + (id % 4)
      val expectObjs = (if (id % 2 == 0) 5 else 4) + 2 * np
      assert(m.version == "1.5" && m.nPages == np &&
        m.nObjects == expectObjs && m.layout == "xref-stream" &&
        m.nSections == 1, s"id=$id: $m")
    }
    // a corrupted xref-stream payload (bit flip inside the flate
    // data) must reject, never mis-decode offsets
    val v = pdfs(1L).content.clone()
    val sxAt = new String(v, "ISO-8859-1").lastIndexOf("startxref")
    val xOff = new String(v, "ISO-8859-1").substring(sxAt + 9).trim
      .takeWhile(_.isDigit).toInt
    val streamAt = new String(v, "ISO-8859-1").indexOf("stream", xOff)
    v(streamAt + 10) = (v(streamAt + 10) ^ 0x55).toByte
    assert(MultimodalOps.pdfMetaOf(
      MultimodalOps.MediaRecord(1L, "p", v)).isEmpty)
  }

  test("pdf: incremental update follows /Prev; newest catalog wins; no-space names") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = (0L to 4L).map(id => (id, s"incr text $id " * 6))
      .toDF("doc_id", "text")
    val pdfs = MultimodalOps.synthesizePdfIncremental(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    for ((id, rec) <- pdfs) {
      val m = MultimodalOps.pdfMetaOf(rec).getOrElse(
        fail(s"id=$id: incremental pdf rejected"))
      val np = 1 + (id % 4)
      // /Size grows by the appended info object; the update's
      // /Type/Catalog (no whitespace) must resolve through the chain
      assert(m.version == "1.4" && m.nPages == np &&
        m.nObjects == 4 + 2 * np && m.layout == "classic" &&
        m.nSections == 2, s"id=$id: $m")
    }
    // breaking the /Prev offset must reject (chain can't be silently
    // truncated — coverage would no longer account /Size)
    val v = pdfs(2L).content.clone()
    val s = new String(v, "ISO-8859-1")
    val prevAt = s.lastIndexOf("/Prev ")
    v(prevAt + 6) = '9'
    assert(MultimodalOps.pdfMetaOf(
      MultimodalOps.MediaRecord(2L, "p", v)).isEmpty)
  }

  test("bgzf: ranged single-block reads; lying BSIZE rejects; EOF marker required") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((4L, "blocked gzip corpus text " * 8), (0L, ""))
      .toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeBgzf(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    for ((id, rec) <- media) {
      val blocks = MultimodalOps.bgzfBlocksOf(rec)
        .getOrElse(fail(s"id=$id rejected"))
      val nb = 1 + (id % 3).toInt
      assert(blocks.length == nb + 1) // data blocks + EOF marker
      assert(blocks.last.isize == 0L)
      // THE point of BGZF: [offset, offset+bsize) is one complete
      // gzip member — a ranged read + gunzip yields exactly one block
      val payload = (if (id == 4L) "blocked gzip corpus text " * 8
                     else "").getBytes("UTF-8")
      var dOff = 0
      for (blk <- blocks.dropRight(1)) {
        val span = java.util.Arrays.copyOfRange(
          rec.content, blk.offset.toInt, (blk.offset + blk.bsize).toInt)
        val gz = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(span))
        val plain = gz.readAllBytes()
        assert(plain.toSeq ==
          payload.slice(dOff, dOff + blk.isize.toInt).toSeq, s"id=$id")
        dOff += blk.isize.toInt
      }
      // blocks tile the file exactly
      assert(blocks.map(_.bsize).sum == rec.content.length.toLong)
    }
    // a lying BSIZE (would mis-seek every later block) rejects
    val v = media(4L).content.clone()
    v(16) = (v(16) ^ 1).toByte // BSIZE low byte of block 0
    assert(MultimodalOps.bgzfBlocksOf(
      MultimodalOps.MediaRecord(4L, "b", v)).isEmpty)
    // dropping the EOF marker rejects (truncated-file detection)
    val noEof = media(4L).content
    val lastStart = MultimodalOps.bgzfBlocksOf(media(4L)).get.last.offset
    assert(MultimodalOps.bgzfBlocksOf(MultimodalOps.MediaRecord(
      4L, "b", java.util.Arrays.copyOf(noEof, lastStart.toInt))).isEmpty)
    // a PLAIN gzip member (no BC subfield) is not BGZF
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write("plain".getBytes); g.close()
    assert(MultimodalOps.bgzfBlocksOf(MultimodalOps.MediaRecord(
      4L, "b", bos.toByteArray ++ noEof.drop(lastStart.toInt))).isEmpty)
  }

  test("zstd seekable: ranged-read contract; checksum tamper; tiling strict") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((3L, "seekable shard text payload " * 9), (5L, "abc"),
      (0L, "")).toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeSeekableZstd(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    for ((id, rec) <- media) {
      val frames = MultimodalOps.zstdSeekTableOf(rec)
        .getOrElse(fail(s"id=$id rejected"))
      assert(frames.length == 1 + (id % 4).toInt)
      // THE contract: decompressing exactly [cOffset, cOffset+cSize)
      // yields exactly [dOffset, dOffset+dSize) of the original text
      val payload = (if (id == 3L) "seekable shard text payload " * 9
                     else if (id == 5L) "abc" else "").getBytes("UTF-8")
      for (f <- frames) {
        val span = java.util.Arrays.copyOfRange(
          rec.content, f.cOffset.toInt, (f.cOffset + f.cSize).toInt)
        val plain = com.github.luben.zstd.Zstd.decompress(
          span, f.dSize.toInt)
        assert(plain.toSeq == payload.slice(
          f.dOffset.toInt, (f.dOffset + f.dSize).toInt).toSeq,
          s"id=$id frame ${f.frameIdx}")
      }
    }
    // id 3 is the checksum arm: flip a byte inside frame 0's payload
    // region — the XXH64 verify must fail the census
    val v = media(3L).content.clone()
    v(8) = (v(8) ^ 0x11).toByte
    assert(MultimodalOps.zstdSeekTableOf(
      MultimodalOps.MediaRecord(3L, "z", v)).isEmpty)
    // a lying compressed size breaks the tiling -> reject
    val frames3 = MultimodalOps.zstdSeekTableOf(media(3L)).get
    val t = media(3L).content.clone()
    val tableStart = t.length - 9 -
      frames3.length * 12 // checksum arm: 12-byte entries
    t(tableStart) = (t(tableStart) + 1).toByte // first frame's cSize
    assert(MultimodalOps.zstdSeekTableOf(
      MultimodalOps.MediaRecord(3L, "z", t)).isEmpty)
    // truncation / wrong magic reject
    assert(MultimodalOps.zstdSeekTableOf(MultimodalOps.MediaRecord(
      3L, "z", media(3L).content.take(10))).isEmpty)
  }

  test("wet/wat sidecars: conversion text + metadata JSON round-trip; tamper fails") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "extracted page text δ"), (12L, ""), (3L, "one"))
      .toDF("doc_id", "text")
    val wets = MultimodalOps.synthesizeWetGz(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    for ((id, rec) <- wets) {
      val got = MultimodalOps.wetGzRecordsOf(rec).get
      // exactly one conversion record (warcinfo filtered), text verbatim
      assert(got.length == 1 && got.head.recIdx == 1L &&
        got.head.targetUri == s"https://example.com/$id/1")
    }
    assert(MultimodalOps.wetGzRecordsOf(wets(5L)).get.head.text ==
      "extracted page text δ")
    // a flipped byte inside a member fails the CRC walk -> None
    val bad = wets(5L).content.clone()
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x20).toByte
    assert(MultimodalOps.wetGzRecordsOf(
      MultimodalOps.MediaRecord(5L, "w", bad)).isEmpty)
    val wats = MultimodalOps.synthesizeWatGz(docs, "doc_id")
      .collect().map(r => r.id -> r).toMap
    for ((id, rec) <- wats) {
      val got = MultimodalOps.watGzRecordsOf(rec).get
      assert(got.length == 1 && got.head.recIdx == 1L)
      // the JSON envelope carries 1 + id % 4 links, parseable as JSON
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(got.head.json)
      val linksN = root.path("Envelope").path("Payload-Metadata")
        .path("HTTP-Response-Metadata").path("HTML-Metadata")
        .path("Links").size()
      assert(linksN == 1 + (id % 4).toInt, s"id=$id")
    }
  }

  test("pdf text: Tj/TJ/hex show forms round-trip; escapes, unicode, flate invisible") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // text with every byte the literal form must escape, plus
    // multi-byte UTF-8 — and enough tokens for all four pages
    val tricky = ("al(pha be\\ta gam)ma δέλτα ε)(ψ ζζ " * 4).trim
    val docs = (0L to 5L).map(id => (id, tricky)).toDF("doc_id", "text")
    val pdfs = MultimodalOps.synthesizePdfText(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    val toks = tricky.split("\\s+").filter(_.nonEmpty)
    for ((id, rec) <- pdfs) {
      val np = 1 + (id % 4).toInt
      val got = MultimodalOps.pdfPageTextsOf(rec)
        .getOrElse(fail(s"id=$id rejected"))
      assert(got.length == np, s"id=$id")
      got.zipWithIndex.foreach { case (p, k) =>
        val expect = toks.slice(k * 6, k * 6 + 6).mkString(" ")
        assert(p.text == expect, s"id=$id page $k: '${p.text}'")
        assert(p.pageIdx == k.toLong)
      }
      // the same fixture censuses structurally too (font object adds 1)
      val m = MultimodalOps.pdfMetaOf(rec).get
      assert(m.nObjects == 4 + 2 * np && m.nPages == np)
    }
    // raw scanner edges: nested parens, octal, continuation, array drop
    def scan(s: String) = MultimodalOps.pdfContentTextOf(
      s.getBytes("ISO-8859-1")).get
    assert(scan("BT (a(b)c) Tj ET") == "a(b)c") // balanced nesting
    assert(scan("(\\101\\102) Tj") == "AB")     // octal escapes
    assert(scan("(li\\\nne) Tj") == "line")     // line continuation
    assert(scan("(x) Td (y) Tj") == "y")        // Td consumed x
    assert(scan("[ (a) -20 (b) ] TJ") == "ab")  // TJ concatenation
    assert(scan("<4142> Tj <43 4> Tj") == "ABC@") // hex ws + odd pad
    assert(scan("(keep ' quote) Tj") == "keep ' quote")
    // unterminated string rejects
    assert(MultimodalOps.pdfContentTextOf("(open Tj".getBytes).isEmpty)
  }

  test("pdf CID text: ToUnicode decode, Tf tracking, resources inheritance") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val tricky = ("al(pha be\\ta gam)ma δέλτα ε)(ψ ζζ " * 4).trim
    val docs = (0L to 6L).map(id => (id, tricky)).toDF("doc_id", "text")
    val pdfs = MultimodalOps.synthesizePdfCid(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    val toks = tricky.split("\\s+").filter(_.nonEmpty)
    for ((id, rec) <- pdfs) {
      val np = 1 + (id % 4).toInt
      val got = MultimodalOps.pdfPageTextsOf(rec)
        .getOrElse(fail(s"id=$id rejected"))
      assert(got.length == np, s"id=$id")
      got.zipWithIndex.foreach { case (p, k) =>
        val expect = toks.slice(k * 6, k * 6 + 6).mkString(" ")
        assert(p.text == expect, s"id=$id page $k: '${p.text}'")
      }
    }
    // CMap unit edges
    def cm(s: String) = MultimodalOps.pdfCMapOf(s.getBytes("ISO-8859-1"))
    val base = "1 begincodespacerange <0000> <FFFF> endcodespacerange "
    val m1 = cm(base +
      "2 beginbfchar <1100> <0041> <1101> <00580059> endbfchar").get
    assert(m1.codeBytes == 2 && m1.map(0x1100) == "A" && m1.map(0x1101) == "XY")
    val m2 = cm(base + "1 beginbfrange <1100> <1102> <0061> endbfrange").get
    assert(m2.map(0x1100) == "a" && m2.map(0x1102) == "c") // increment form
    val m3 = cm(base +
      "1 beginbfrange <1100> <1101> [ <005A> <0040> ] endbfrange").get
    assert(m3.map(0x1100) == "Z" && m3.map(0x1101) == "@") // array form
    assert(cm(base + "1 beginbfrange <1102> <1100> <0061> endbfrange").isEmpty)
    assert(cm(base + "1 beginbfchar <110> <0041> endbfchar").isEmpty) // odd hex
    assert(cm(base + "1 beginbfrange <1100> <1101> [ <005A> ] endbfrange").isEmpty)
    assert(cm("no ranges no mappings").isEmpty)
    val m4 = cm("1 begincodespacerange <00> <FF> endcodespacerange " +
      "1 beginbfchar <41> <0042> endbfchar").get
    assert(m4.codeBytes == 1 && m4.map(0x41) == "B") // one-byte codes
    // the production preamble: CIDSystemInfo DICT and literal strings
    // must be token-invisible (<< is not a hex string)
    val m5 = cm("/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) " +
      "/Supplement 0 >> def " + base +
      "1 beginbfchar <1100> <0041> endbfchar").get
    assert(m5.map(0x1100) == "A")
    assert(cm(base + "(open literal beginbfchar").isEmpty) // unterminated
    // content-level: Tf switches between CID and simple mid-stream
    val fonts = Map("C" ->
      MultimodalOps.PdfCodeMap(2, Map(0x1100 -> "hi", 0x1101 -> "!")))
    def scan(s: String) = MultimodalOps.pdfContentTextOf(
      s.getBytes("ISO-8859-1"), fonts).get
    assert(scan("BT /C 10 Tf <11001101> Tj ET") == "hi!")
    assert(scan("BT /C 10 Tf <1100> Tj /F9 10 Tf (raw) Tj ET") == "hiraw")
    assert(scan("/C 1 Tf <11FF> Tj") == "�")      // unmapped code
    assert(scan("/C 1 Tf <110011> Tj") == "hi�")  // trailing partial
    assert(scan("/C 1 Tf [ <1100> -2 <1101> ] TJ") == "hi!") // per-piece
    // #xx name escapes resolve to the same key on the Tf side
    assert(scan("/#43 1 Tf <1100> Tj") == "hi") // /#43 == /C
    // a Type0 font whose ToUnicode is GONE makes the document's text
    // unrecoverable: the walk must reject (drop, never garble) —
    // equal-length key swap keeps every xref offset valid
    val broken = new String(pdfs(1L).content, "ISO-8859-1")
      .replace("/ToUnicode ", "/ToUnicodX ")
    assert(MultimodalOps.pdfPageTextsOf(MultimodalOps.MediaRecord(
      1L, "application/pdf", broken.getBytes("ISO-8859-1"))).isEmpty)
  }

  test("pdf: hybrid-reference file — classic table + /XRefStm entries") {
    import graft.ops.MultimodalOps
    // hand-built hybrid: catalog(1) + pages(2) live in an object
    // stream(5); the classic table marks them FREE (pre-1.5 readers
    // skip them) and the trailer's /XRefStm supplies the type-2
    // entries — the census must prefer the stream's entries
    val out = new java.io.ByteArrayOutputStream()
    def w(str: String): Unit = out.write(str.getBytes("ISO-8859-1"))
    w("%PDF-1.5\n")
    val catalogStr = "<< /Type/Catalog /Pages 2 0 R >>"
    val pagesStr = "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
    val body = catalogStr + "\n" + pagesStr + "\n"
    val header = s"1 0 2 ${catalogStr.length + 1}\n"
    val stmData = (header + body).getBytes("ISO-8859-1")
    val off5 = out.size()
    w(s"5 0 obj << /Type /ObjStm /N 2 /First ${header.length} " +
      s"/Length ${stmData.length} >>\nstream\n")
    out.write(stmData)
    w("\nendstream endobj\n")
    val off3 = out.size()
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    val off4 = out.size()
    w("4 0 obj << /Length 2 >> stream\nhi\nendstream endobj\n")
    // the xref STREAM: entries for all 7 objects (0..6)
    val off6 = out.size()
    val rows = new java.io.ByteArrayOutputStream()
    def row(t: Int, f2: Long, f3: Long): Unit = {
      rows.write(t)
      var j = 3; while (j >= 0) { rows.write(((f2 >> (8 * j)) & 0xff).toInt); j -= 1 }
      j = 1; while (j >= 0) { rows.write(((f3 >> (8 * j)) & 0xff).toInt); j -= 1 }
    }
    row(0, 0, 65535) // 0: free head
    row(2, 5, 0)     // 1: catalog, in objstm 5 idx 0
    row(2, 5, 1)     // 2: pages, in objstm 5 idx 1
    row(1, off3, 0); row(1, off4, 0); row(1, off5, 0); row(1, off6, 0)
    val rdata = rows.toByteArray
    w(s"6 0 obj << /Type /XRef /Size 7 /W [1 4 2] /Root 1 0 R " +
      s"/Length ${rdata.length} >>\nstream\n")
    out.write(rdata)
    w("\nendstream endobj\n")
    // the CLASSIC table: 1 and 2 marked free, stream objects in-use
    val xrefAt = out.size()
    w("xref\n0 7\n")
    w("0000000000 65535 f \n")
    w("0000000000 00000 f \n") // 1: free here, real entry in XRefStm
    w("0000000000 00000 f \n") // 2: free here, real entry in XRefStm
    w(f"$off3%010d 00000 n \n")
    w(f"$off4%010d 00000 n \n")
    w(f"$off5%010d 00000 n \n")
    w(f"$off6%010d 00000 n \n")
    w(s"trailer << /Size 7 /Root 1 0 R /XRefStm $off6 >>\n")
    w(s"startxref\n$xrefAt\n%%EOF\n")
    val m = MultimodalOps.pdfMetaOf(
      MultimodalOps.MediaRecord(9L, "application/pdf", out.toByteArray))
      .getOrElse(fail("hybrid pdf rejected"))
    assert(m.nObjects == 7 && m.nPages == 1 && m.layout == "hybrid" &&
      m.nSections == 2 && m.xrefOffset == xrefAt.toLong)
  }

  test("jsonl shard: seek table exact; truncated tail fails; zst invisible") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((6L, "abcdefghij"), (0L, "")).toDF("doc_id", "text")
    val raw = MultimodalOps.synthesizeJsonlShard(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    // id 6 → 3 lines; (6+1)%7==0 → line 1 malformed (brace dropped)
    val recs = MultimodalOps.jsonlRecordsOf(raw(6L)).get
    assert(recs.length == 3)
    assert(recs(0).line == """{"id":"6-0","seq":0,"n":4}""")
    assert(recs(1).line == """{"id":"6-1","seq":1,"n":3""") // malformed kept
    // offsets tile the shard exactly (each line + its newline)
    assert(recs(0).offset == 0L)
    recs.sliding(2).foreach { case Seq(a, b) =>
      assert(b.offset == a.offset + a.nBytes + 1)
    }
    assert(recs.last.offset + recs.last.nBytes + 1 ==
      raw(6L).content.length.toLong)
    // slicing the shard at a seek row yields exactly that line
    val r1 = new String(raw(6L).content, recs(1).offset.toInt,
      recs(1).nBytes.toInt, "UTF-8")
    assert(r1 == recs(1).line)
    // strict framing: a shard not ending in a newline fails whole
    val chopped = java.util.Arrays.copyOf(
      raw(6L).content, raw(6L).content.length - 1)
    assert(MultimodalOps.jsonlRecordsOf(
      MultimodalOps.MediaRecord(6L, "j", chopped)).isEmpty)
    // the zstd layer is invisible to the record table
    val zst = MultimodalOps.synthesizeJsonlZstShard(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    assert(MultimodalOps.jsonlZstRecordsOf(zst(6L)).get == recs)
    // a truncated zst frame fails the shard (totality: Option, no throw)
    val m = java.util.Arrays.copyOf(zst(6L).content, zst(6L).content.length / 2)
    assert(MultimodalOps.jsonlZstRecordsOf(
      MultimodalOps.MediaRecord(6L, "j", m)).isEmpty)
  }

  test("epub: OCF rules enforced — mimetype first/stored/exact, JDK cross-read") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "chapter text for an epub " * 4), (0L, ""))
      .toDF("doc_id", "text")
    val epubs = MultimodalOps.synthesizeEpub(docs, "doc_id", "text")
      .collect().map(r => r.id -> r).toMap
    for ((id, rec) <- epubs) {
      val m = MultimodalOps.epubMetaOf(rec).get
      val n = 1 + (id % 3)
      assert(m.opfPath == "OEBPS/content.opf" && m.nMembers == 3 + n &&
        m.nManifest == n && m.nSpine == n)
      // independent reader: the JDK's ZipInputStream sees the same
      // members with the OCF-required order, and the mimetype content
      val zin = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(rec.content))
      val first = zin.getNextEntry
      assert(first.getName == "mimetype" &&
        first.getMethod == java.util.zip.ZipEntry.STORED)
      assert(new String(zin.readAllBytes(), "US-ASCII") ==
        "application/epub+zip")
      var count = 1L
      while (zin.getNextEntry != null) count += 1
      zin.close()
      assert(count == m.nMembers)
    }
    // OCF violations reject: wrong first member content, a zip with
    // no container.xml (the plain shard), truncation
    val bad = epubs(5L).content.clone()
    // flip one content byte of the stored mimetype payload
    val at = new String(bad, "ISO-8859-1").indexOf("application/epub+zip")
    bad(at) = 'x'
    assert(MultimodalOps.epubMetaOf(
      MultimodalOps.MediaRecord(5L, "e", bad)).isEmpty)
    val plainZip = MultimodalOps.synthesizeZipShard(docs, "doc_id", "text")
      .collect().head
    assert(MultimodalOps.epubMetaOf(plainZip).isEmpty)
    assert(MultimodalOps.epubMetaOf(MultimodalOps.MediaRecord(5L, "e",
      java.util.Arrays.copyOf(epubs(5L).content, 40))).isEmpty)
  }

  test("sniff: every magic the engine parses classifies; no-magic formats honest") {
    import graft.ops.MultimodalOps
    def k(bytes: Array[Byte]): String = MultimodalOps.sniffKind(bytes)
    def ascii(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
    assert(k(ascii("%PDF-1.4\n...")) == "pdf")
    assert(k(ascii("PK") ++ Array[Byte](3, 4) ++ ascii("rest")) == "zip")
    assert(k(Array(0x1f.toByte, 0x8b.toByte, 8, 0)) == "gzip")
    assert(k(Array(0x28.toByte, 0xb5.toByte, 0x2f.toByte, 0xfd.toByte)) == "zstd")
    assert(k(ascii("WARC/1.0\r\n")) == "warc")
    assert(k(ascii("ARROW1") ++ Array[Byte](0, 0) ++ ascii("rest")) == "arrow-ipc")
    assert(k(ascii("PAR1....")) == "parquet")
    assert(k(ascii("PARE....")) == "parquet-encrypted")
    assert(k(ascii("ORC....")) == "orc")
    assert(k(Array(0x89.toByte) ++ ascii("PNG\r\n")) == "png")
    assert(k(Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte)) == "jpeg")
    assert(k(ascii("GIF89a..")) == "gif")
    assert(k(ascii("RIFF1234WEBPVP8 ")) == "webp")
    assert(k(ascii("RIFF1234WAVEfmt ")) == "wav")
    assert(k(ascii("BM......")) == "bmp")
    assert(k(ascii("fLaC....")) == "flac")
    assert(k(ascii("ID3") ++ Array[Byte](3, 0) ++ ascii("....")) == "mp3-id3")
    assert(k(ascii("OggS....")) == "ogg")
    assert(k(ascii("GGUF....")) == "gguf")
    assert(k(ascii("Obj") ++ Array[Byte](1) ++ ascii("meta")) == "avro")
    assert(k(Array(0x1a.toByte, 0x45.toByte, 0xdf.toByte, 0xa3.toByte)) == "webm")
    // ISO BMFF brand refine: stills vs movies vs unknown brands
    assert(k(Array[Byte](0, 0, 0, 32) ++ ascii("ftypisom")) == "isobmff:mp4")
    assert(k(Array[Byte](0, 0, 0, 32) ++ ascii("ftypavif")) == "isobmff:avif")
    assert(k(Array[Byte](0, 0, 0, 32) ++ ascii("ftypheic")) == "isobmff:heic")
    assert(k(Array[Byte](0, 0, 0, 32) ++ ascii("ftypM4A ")) == "isobmff:m4a")
    assert(k(Array[Byte](0, 0, 0, 32) ++ ascii("ftypqt  ")) == "isobmff:mov")
    assert(k(Array[Byte](0, 0, 0, 32) ++ ascii("ftypXXXX")) == "isobmff")
    import graft.ops.MultimodalOps.{synthesizeAvif, synthesizeMp4}
    import spark.implicits._
    val bmffDoc = Seq((7L, "x")).toDF("doc_id", "text")
    assert(synthesizeAvif(bmffDoc, "doc_id", "text")
      .collect().forall(r => k(r.content) == "isobmff:avif"))
    assert(synthesizeMp4(bmffDoc, "doc_id", "text", 320, 200, 1500L)
      .collect().forall(r => k(r.content) == "isobmff:mp4"))
    assert(k(new Array[Byte](257) ++ ascii("ustar")) == "tar")
    assert(k(Array(0x93.toByte) ++ ascii("NUMPY")) == "npy")
    // precedence: tar's DEEP offset-257 magic beats the weak 2-3-byte
    // prefixes — a tar whose first member is named "BMfoo" or
    // "ID3.mp3" is still a tar
    import spark.implicits._
    for (trap <- Seq("BMfoo.bin", "ID3.mp3", "ORCfile", "ObjX")) {
      val tarTrap = MultimodalOps.synthesizeTarShard(
        Seq((1L, "x")).toDF("doc_id", "text"), "doc_id", "text")
        .collect().head.content.clone()
      java.util.Arrays.fill(tarTrap, 0, 100, 0.toByte)
      trap.getBytes("US-ASCII").copyToArray(tarTrap, 0)
      // (checksum now stale, but the sniffer only reads magic)
      assert(k(tarTrap) == "tar", trap)
    }
    assert(k(ascii("II") ++ Array[Byte](42, 0, 8, 0, 0, 0)) == "tiff")
    assert(k(ascii("MM") ++ Array[Byte](0, 42, 0, 0, 0, 8)) == "tiff")
    // standalone TIFF == the TIFF block EXIF wraps: same census
    val tiffDoc = Seq((9L, "x")).toDF("doc_id", "text")
    val bareTiff = MultimodalOps.tiffMeta(
      MultimodalOps.synthesizeTiff(tiffDoc, "doc_id")).collect().toSeq
    val wrapped = MultimodalOps.exifMeta(
      MultimodalOps.synthesizeExifJpeg(tiffDoc, "doc_id", "text")).collect().toSeq
    assert(bareTiff == wrapped && bareTiff.nonEmpty)
    // BigTIFF (version 43): wider reads, identical census fields
    val bigTiff = MultimodalOps.tiffMeta(
      MultimodalOps.synthesizeBigTiff(tiffDoc, "doc_id")).collect().toSeq
    assert(bigTiff == bareTiff)
    assert(k(ascii("II") ++ Array[Byte](43, 0, 8, 0, 0, 0)) == "tiff")
    assert(k(ascii("MM") ++ Array[Byte](0, 43, 0, 8, 0, 0)) == "tiff")
    // a BigTIFF whose offset-size field is not 8 rejects in census
    val badBig = MultimodalOps.synthesizeBigTiff(tiffDoc, "doc_id")
      .collect().head.content.clone()
    badBig(4) = 4
    assert(MultimodalOps.tiffMetaOf(
      MultimodalOps.MediaRecord(9L, "t", badBig)).isEmpty)
    // no-magic formats and junk are honestly unknown; empty is empty
    assert(k(ascii("{\"id\":1}\n")) == "unknown") // jsonl has no magic
    assert(k(ascii("just prose")) == "unknown")
    assert(k(Array.emptyByteArray) == "empty")
    assert(k(null) == "empty")
    // ZIP second-stage refine: EPUBs route to their census, OOXML
    // and JAR shapes get their flavor, plain zips stay "zip"
    import spark.implicits._
    val one = Seq((8L, "text")).toDF("doc_id", "text")
    assert(MultimodalOps.synthesizeEpub(one, "doc_id", "text")
      .collect().forall(r => k(r.content) == "zip:epub"))
    assert(MultimodalOps.synthesizeZipShard(one, "doc_id", "text")
      .collect().forall(r => k(r.content) == "zip"))
    def zipWithFirst(name: String, data: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      val e = new java.util.zip.ZipEntry(name)
      z.setMethod(java.util.zip.ZipOutputStream.STORED)
      val db = data.getBytes("ISO-8859-1")
      e.setSize(db.length.toLong)
      val crc = new java.util.zip.CRC32(); crc.update(db)
      e.setCrc(crc.getValue)
      z.putNextEntry(e); z.write(db); z.closeEntry(); z.close()
      bos.toByteArray
    }
    assert(k(zipWithFirst("[Content_Types].xml", "<Types/>")) == "zip:ooxml")
    assert(k(zipWithFirst("META-INF/MANIFEST.MF", "Main")) == "zip:jar")
    // a STORED mimetype entry with the WRONG content is not an epub
    assert(k(zipWithFirst("mimetype", "application/x-not-epub")) == "zip")
    assert(MultimodalOps.synthesizeOpus(one, "doc_id", "text")
      .collect().forall(r => k(r.content) == "ogg"))
  }

  test("media parsers never throw on mutated/truncated bytes (fuzz, seeded)") {
    // the 100 TB contract: a malformed payload must yield None, never
    // an exception that kills the pass.  Seeded fuzz: take each
    // format's synthesized bytes, apply random single-byte flips and
    // truncations, and demand every parser returns (Some or None)
    // without throwing.
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((3L, "fuzz seed text " * 40), (8L, "x"), (12L, ""))
      .toDF("doc_id", "text")
    val corpora: Seq[(String, Array[Array[Byte]], MultimodalOps.MediaRecord => Any)] = Seq(
      ("mp3", MultimodalOps.synthesizeMp3(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.mp3MetaOf(r)),
      ("mp3vbr", MultimodalOps.synthesizeMp3Vbr(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.mp3VbrMetaOf(r)),
      ("flac", MultimodalOps.synthesizeFlac(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.flacMetaOf(r)),
      ("aac", MultimodalOps.synthesizeAac(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.aacMetaOf(r)),
      ("opus", MultimodalOps.synthesizeOpus(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.opusMetaOf(r)),
      ("exif", MultimodalOps.synthesizeExifJpeg(docs, "doc_id", "text")
        .collect().map(_.content),
        r => { MultimodalOps.exifMetaOf(r); MultimodalOps.exifStripBytes(r.content) }),
      ("id3", MultimodalOps.synthesizeMp3Id3(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.id3MetaOf(r)),
      ("vtt", MultimodalOps.synthesizeVtt(docs, "doc_id", "text")
        .collect().map(r => r.getString(1).getBytes("UTF-8")),
        r => MultimodalOps.vttCuesOf(r.id, new String(r.content, "UTF-8"))),
      ("tar", MultimodalOps.synthesizeTarShard(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.tarMembersOf(r)),
      ("targz", MultimodalOps.synthesizeTarGzShard(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.tarGzMembersOf(r)),
      ("tarzst", MultimodalOps.synthesizeTarZstShard(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.tarZstMembersOf(r)),
      ("safetensors", MultimodalOps.synthesizeSafetensors(docs, "doc_id")
        .collect().map(_.content), r => MultimodalOps.safetensorsOf(r)),
      ("npy", MultimodalOps.synthesizeNpy(docs, "doc_id")
        .collect().map(_.content), r => MultimodalOps.npyMetaOf(r)),
      ("webp", MultimodalOps.synthesizeWebp(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.webpMetaOf(r)),
      ("gif", MultimodalOps.synthesizeGif(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.gifMetaOf(r)),
      ("vorbis", MultimodalOps.synthesizeVorbis(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.vorbisMetaOf(r)),
      ("srt", MultimodalOps.synthesizeSrt(docs, "doc_id", "text")
        .collect().map(r => r.getString(1).getBytes("UTF-8")),
        r => MultimodalOps.srtCuesOf(r.id, new String(r.content, "UTF-8"))),
      ("zip", MultimodalOps.synthesizeZipShard(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.zipMembersOf(r)),
      ("avif", MultimodalOps.synthesizeAvif(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.avifMetaOf(r)),
      ("tfrecord", MultimodalOps.synthesizeTfRecordShard(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.tfRecordsOf(r)),
      ("warc", MultimodalOps.synthesizeWarc(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.warcRecordsOf(r)),
      ("warcgz", MultimodalOps.synthesizeWarcGz(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.warcGzRecordsOf(r)),
      ("warcgz-pages", MultimodalOps.synthesizeWarcGzPages(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.warcGzPagesOf(r)),
      ("arrow-ipc", MultimodalOps.synthesizeArrowIpc(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.arrowIpcMessagesOf(r)),
      ("warcgz-http", MultimodalOps.synthesizeWarcGzHttp(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.warcGzHttpPagesOf(r)),
      ("pdf", MultimodalOps.synthesizePdf(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.pdfMetaOf(r)),
      ("pdf-enc", MultimodalOps.synthesizePdfEncrypted(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.pdfMetaOf(r)),
      ("pdf-xrs", MultimodalOps.synthesizePdfXrs(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.pdfMetaOf(r)),
      ("pdf-incr", MultimodalOps.synthesizePdfIncremental(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.pdfMetaOf(r)),
      ("pdf-text", MultimodalOps.synthesizePdfText(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.pdfPageTextsOf(r)),
      ("pdf-text-cid", MultimodalOps.synthesizePdfCid(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.pdfPageTextsOf(r)),
      ("warc-revisit", MultimodalOps.synthesizeWarcRevisit(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.warcRecordsOf(r)),
      ("wet", MultimodalOps.synthesizeWetGz(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.wetGzRecordsOf(r)),
      ("wat", MultimodalOps.synthesizeWatGz(docs, "doc_id")
        .collect().map(_.content), r => MultimodalOps.watGzRecordsOf(r)),
      ("zstd-seek", MultimodalOps.synthesizeSeekableZstd(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.zstdSeekTableOf(r)),
      ("bgzf", MultimodalOps.synthesizeBgzf(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.bgzfBlocksOf(r)),
      ("jsonl", MultimodalOps.synthesizeJsonlShard(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.jsonlRecordsOf(r)),
      ("epub", MultimodalOps.synthesizeEpub(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.epubMetaOf(r)),
      ("tiff", MultimodalOps.synthesizeTiff(docs, "doc_id")
        .collect().map(_.content), r => MultimodalOps.tiffMetaOf(r)),
      ("bigtiff", MultimodalOps.synthesizeBigTiff(docs, "doc_id")
        .collect().map(_.content), r => MultimodalOps.tiffMetaOf(r)),
      ("jsonl-zst", MultimodalOps.synthesizeJsonlZstShard(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.jsonlZstRecordsOf(r)),
      ("avro", MultimodalOps.synthesizeAvro(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.avroBlocksOf(r)),
      ("iceberg", MultimodalOps.synthesizeIcebergManifest(docs, "doc_id")
        .collect().map(_.content),
        r => MultimodalOps.icebergManifestEntriesOf(r)),
      ("iceberg-v2", MultimodalOps.synthesizeIcebergManifestV2(docs, "doc_id")
        .collect().map(_.content),
        r => MultimodalOps.icebergManifestEntriesOf(r)),
      ("iceberg-list-v2", MultimodalOps.synthesizeIcebergManifestListV2(docs, "doc_id")
        .collect().map(_.content),
        r => MultimodalOps.icebergManifestListOf(r)),
      ("iceberg-list", MultimodalOps.synthesizeIcebergManifestList(docs, "doc_id")
        .collect().map(_.content),
        r => MultimodalOps.icebergManifestListOf(r)),
      ("gguf", MultimodalOps.synthesizeGguf(docs, "doc_id")
        .collect().map(_.content), r => MultimodalOps.ggufTensorsOf(r)),
      ("hls", MultimodalOps.synthesizeHls(docs, "doc_id")
        .collect().map(r => r.getString(1).getBytes("UTF-8")),
        r => MultimodalOps.hlsSegmentsOf(r.id, new String(r.content, "UTF-8"))))
    // the pre-r13 walks take attacker-controlled offsets too (box
    // sizes, EBML varints, SPS bit reads, trun tables) — same contract
    val mjpeg = MultimodalOps.synthesizeMjpegMp4(docs, "doc_id", 32, 24, 3, 2)
      .collect().map(_.content)
    val preR13: Seq[(String, Array[Array[Byte]], MultimodalOps.MediaRecord => Any)] = Seq(
      ("dispatcher/mp4", MultimodalOps.synthesizeMp4(docs, "doc_id", "text", 320, 200, 1500L)
        .collect().map(_.content), r => MultimodalOps.decode(r)),
      ("h264", MultimodalOps.synthesizeAvc1Mp4(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.h264MetaOf(r)),
      ("fmp4kf", MultimodalOps.synthesizeFmp4Kf(docs, "doc_id", "text", 320, 180)
        .collect().map(_.content), r => MultimodalOps.fmp4KeyframesOf(r)),
      ("vp9", MultimodalOps.synthesizeVp9Webm(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.vp9MetaOf(r)),
      ("av1", MultimodalOps.synthesizeAv1Webm(docs, "doc_id", "text")
        .collect().map(_.content), r => MultimodalOps.av1MetaOf(r)),
      ("pngpix", MultimodalOps.synthesizePngPixels(docs, "doc_id", 9, 7, 5)
        .collect().map(_.content), r => MultimodalOps.decodePngPixels(r.content)),
      ("mjpeg-spans", mjpeg,
        r => MultimodalOps.jpegFrameSpans(r.content, 0, r.content.length)),
      ("dispatcher/wav", MultimodalOps.synthesizeWavPcm(docs, "doc_id", 2, 64, 8000, 5)
        .collect().map(_.content),
        r => MultimodalOps.decode(MultimodalOps.MediaRecord(r.id, "audio/wav", r.content))),
      ("dispatcher/bmp", MultimodalOps.synthesizeBmp(docs, "doc_id", "text", 16, 12)
        .collect().map(_.content),
        r => MultimodalOps.decode(MultimodalOps.MediaRecord(r.id, "image/bmp", r.content))),
      ("dispatcher/webm", MultimodalOps.synthesizeVp9Webm(docs, "doc_id", "text")
        .collect().map(_.content),
        r => MultimodalOps.decode(MultimodalOps.MediaRecord(r.id, "video/webm", r.content))),
      ("jpeg-features", mjpeg, // any jpeg-ish bytes exercise the ImageIO path
        r => MultimodalOps.jpegFeaturesOf(
          MultimodalOps.MediaRecord(r.id, "image/jpeg", r.content), 3, 4)))
    val rnd = new scala.util.Random(1313)
    (corpora ++ preR13).foreach { case (name, bases, parse) =>
      bases.foreach { base =>
        for (trial <- 0 until 1000) {
          val mutated = base.clone()
          // 1-4 random byte flips
          (0 to rnd.nextInt(4)).foreach { _ =>
            if (mutated.nonEmpty) {
              val i = rnd.nextInt(mutated.length)
              mutated(i) = (mutated(i) ^ (1 << rnd.nextInt(8))).toByte
            }
          }
          val victim =
            if (rnd.nextInt(3) == 0 && mutated.length > 1)
              mutated.take(rnd.nextInt(mutated.length))
            else mutated
          try parse(MultimodalOps.MediaRecord(1L, name, victim))
          catch { case e: Throwable =>
            fail(s"$name threw on fuzz trial $trial: $e")
          }
        }
      }
    }
  }

  test("exif: big-endian TIFF parses; strip removes only APP1; GPS-less path") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // HAND-WRITTEN big-endian (MM) TIFF — the synthesizer emits II
    // only, so the MM branch can't hide behind encode/decode symmetry.
    // IFD0: orientation 6, next IFD 0 (no make, no GPS).
    val tiff = Array[Byte]('M', 'M', 0, 42, 0, 0, 0, 8,
      0, 1, // one entry
      0x01, 0x12, 0, 3, 0, 0, 0, 1, 0, 6, 0, 0, // orientation SHORT 6
      0, 0, 0, 0)
    val app1 = Array[Byte]('E', 'x', 'i', 'f', 0, 0) ++ tiff
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xe1.toByte,
      ((app1.length + 2) >> 8).toByte, ((app1.length + 2) & 0xff).toByte) ++
      app1 ++ Array[Byte](0xff.toByte, 0xd9.toByte)
    val got = MultimodalOps.exifMetaOf(MultimodalOps.MediaRecord(1L, "image/jpeg", jpeg))
    assert(got.contains(MultimodalOps.ExifMeta(1L, 6, "", 0, "", 0, 0, 0, "", 0, 0, 0)))
    // strip: APP1 gone, SOI/COM/EOI byte-identical, re-parse finds none
    val synth = MultimodalOps.synthesizeExifJpeg(
        Seq((7L, "hello exif")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    val full = MultimodalOps.exifMetaOf(synth).get
    assert(full == MultimodalOps.ExifMeta(7L, 1 + 7 % 8, "C2", 1,
      "S", 7, 7, 49, "W", 7, 21, 17))
    val stripped = MultimodalOps.exifStripBytes(synth.content)
    assert(stripped.length == synth.content.length - 162)
    assert(MultimodalOps.exifMetaOf(
      MultimodalOps.MediaRecord(7L, "image/jpeg", stripped)).isEmpty)
    // the COM payload survives verbatim
    assert(new String(stripped, "ISO-8859-1").contains("hello exif"))
    // non-JPEG bytes pass through strip untouched
    val notJpeg = "plainly not a jpeg".getBytes("US-ASCII")
    assert(MultimodalOps.exifStripBytes(notJpeg).sameElements(notJpeg))
  }

  test("ogg/opus: page walk + OpusHead; CRC catches corruption") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // end-to-end: synthesized stream parses to the closed form
    // (id 9: channels 2, preSkip 312+9=321, rate idx 0 -> 44100,
    // ticks 480*(1+1)=960, 4 data pages, payload 777 bytes — the
    // 255-lacing path triggers on the 195-byte... no: 777/4 = 194+
    // remainder 1, all < 255 -> one lacing each)
    val text = "o" * 777
    val metas = MultimodalOps.opusMeta(
        MultimodalOps.synthesizeOpus(
          Seq((9L, text)).toDF("doc_id", "text"), "doc_id", "text"))
      .collect()
    val nBytes = 47 + 44 + (0 until 4).map { k =>
      val p = 777 / 4 + (if (k < 777 % 4) 1 else 0); 27 + (p / 255 + 1) + p
    }.sum
    assert(metas.toSeq == Seq(MultimodalOps.OpusMeta(9L, 2, 321, 44100,
      nPages = 6, lastGranule = 321 + 4 * 960,
      durationMs = 4L * 960 * 1000 / 48000, nBytes = nBytes)))
    // >255-byte packets take the 255-run lacing path and round-trip
    val big = MultimodalOps.opusMeta(
        MultimodalOps.synthesizeOpus(
          Seq((4L, "B" * 3000)).toDF("doc_id", "text"), "doc_id", "text"))
      .collect()
    assert(big.head.nPages == 6 && big.head.nBytes > 3000)
    // CRC vector derived from an INDEPENDENT implementation (a pure-
    // Python bit-loop replica of RFC 3533's poly 0x04c11db7, init 0,
    // no reflection): crc("123456789") = 0x89A1897F — so a shared bug
    // between the synth and parse sides of oggCrc cannot cancel out
    assert(MultimodalOps.oggCrc("123456789".getBytes("US-ASCII"), 0, 9, 999) == 0x89a1897fL)
    // a single flipped payload byte breaks that page's CRC -> None
    val bytes = MultimodalOps.synthesizeOpus(
        Seq((9L, text)).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head.content
    val corrupt = bytes.clone(); corrupt(bytes.length - 1) = (corrupt(bytes.length - 1) ^ 0x40).toByte
    assert(MultimodalOps.opusMetaOf(
      MultimodalOps.MediaRecord(9L, "audio/ogg", corrupt)).isEmpty)
    // structural negatives: bad capture pattern, truncated page
    val badMagic = bytes.clone(); badMagic(0) = 'X'
    assert(MultimodalOps.opusMetaOf(
      MultimodalOps.MediaRecord(1L, "audio/ogg", badMagic)).isEmpty)
    assert(MultimodalOps.opusMetaOf(
      MultimodalOps.MediaRecord(1L, "audio/ogg", bytes.take(bytes.length - 3))).isEmpty)
  }

  test("mp3 vbr: per-frame bitrate census; CBR walk rejects the same bytes") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // hand-built two-bitrate chain @ 44100 joint stereo: 128 kbps
    // (idx 9, 417 B) then 160 kbps (idx 10, 522 B)
    def frame(brIdx: Int, len: Int): Array[Byte] =
      Array[Byte](0xff.toByte, 0xfb.toByte,
        (brIdx << 4).toByte, (1 << 6).toByte) ++ new Array[Byte](len - 4)
    val hand = frame(9, 417) ++ frame(10, 522)
    val vbr = MultimodalOps.mp3VbrMetaOf(MultimodalOps.MediaRecord(2L, "audio/mpeg", hand))
    assert(vbr.contains(MultimodalOps.Mp3VbrMeta(2L, 44100, 2, nFrames = 2,
      durationMs = 2L * 1152 * 1000 / 44100, brMinKbps = 128, brMaxKbps = 160,
      firstFrameOff = 0, nBytes = 939)))
    // the CBR walk refuses exactly these bytes (bitrate drift)
    assert(MultimodalOps.mp3MetaOf(
      MultimodalOps.MediaRecord(2L, "audio/mpeg", hand)).isEmpty)
    // sample-rate drift is still rejected even in the VBR flavor
    val srDrift = frame(9, 417) ++ (Array[Byte](0xff.toByte, 0xfb.toByte,
      (9 << 4 | 1 << 2).toByte, (1 << 6).toByte) ++ new Array[Byte](100))
    assert(MultimodalOps.mp3VbrMetaOf(
      MultimodalOps.MediaRecord(3L, "audio/mpeg", srDrift)).isEmpty)
    // end-to-end: synthesized VBR corpus matches the capacity-walk
    // closed form (id 5: sr 32000, mode 1 -> stereo, id3 pad 5)
    val text = "v" * 800
    val metas = MultimodalOps.mp3VbrMeta(
        MultimodalOps.synthesizeMp3Vbr(
          Seq((5L, text)).toDF("doc_id", "text"), "doc_id", "text"))
      .collect()
    val sr = 32000
    var covered = 0; var f = 0; var brs = List.empty[Int]; var bytes = 0L
    while (f == 0 || covered < 800) {
      val br = MultimodalOps.Mp3BitrateKbps(1 + ((5 + f) % 14))
      val len = 144 * br * 1000 / sr
      covered += len - 4; bytes += len; brs ::= br; f += 1
    }
    assert(metas.toSeq == Seq(MultimodalOps.Mp3VbrMeta(5L, sr, 2, f,
      f.toLong * 1152 * 1000 / sr, brs.min, brs.max,
      firstFrameOff = 15, nBytes = 15 + bytes)))
  }

  test("aac adts: hand-built frames parse; declared-length hop; drift rejected") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // HAND-WRITTEN frames: LC profile (2-bit value 1), 44100 (idx 4),
    // stereo (config 2), two frames of declared lengths 7+5 and 7+3 —
    // header bits laid out by hand, not via synthesizeAac
    def frame(payload: Int): Array[Byte] = {
      val len = 7 + payload
      Array[Byte](0xff.toByte, 0xf1.toByte,
        (1 << 6 | 4 << 2 | 0).toByte,
        (2 << 6 | (len >> 11)).toByte,
        (len >> 3).toByte,
        ((len & 7) << 5 | 0x1f).toByte, 0xfc.toByte) ++ new Array[Byte](payload)
    }
    val hand = frame(5) ++ frame(3)
    val got = MultimodalOps.aacMetaOf(MultimodalOps.MediaRecord(3L, "audio/aac", hand))
    assert(got.contains(MultimodalOps.AacMeta(3L, objectType = 2, sampleRate = 44100,
      channels = 2, nFrames = 2, durationMs = 2L * 1024 * 1000 / 44100,
      nBytes = 22, maxFrameLen = 12)))
    // a frame whose declared length overruns the file is malformed
    val overrun = hand.clone(); overrun(4) = 0x40 // frameLen huge
    assert(MultimodalOps.aacMetaOf(
      MultimodalOps.MediaRecord(4L, "audio/aac", overrun)).isEmpty)
    // rate drift mid-stream is rejected (same discipline as mp3)
    val drift = frame(5) ++ { val f = frame(3); f(2) = (1 << 6 | 5 << 2).toByte; f }
    assert(MultimodalOps.aacMetaOf(
      MultimodalOps.MediaRecord(5L, "audio/aac", drift)).isEmpty)
    // end-to-end: synthesized corpus matches the closed form
    val text = "y" * 100
    val metas = MultimodalOps.aacMeta(
        MultimodalOps.synthesizeAac(
          Seq((7L, text)).toDF("doc_id", "text"), "doc_id", "text"))
      .collect()
    // id 7: profile 1 (LC -> objectType 2), srIdx 3+2=5 -> 32000, ch 2
    assert(metas.toSeq == Seq(MultimodalOps.AacMeta(7L, 2, 32000, 2,
      nFrames = 6, durationMs = 6L * 1024 * 1000 / 32000,
      nBytes = 100 + 42, maxFrameLen = 7 + 17)))
  }

  test("flac: hand-built STREAMINFO parses; block-chain hop; malformed dropped") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // HAND-WRITTEN STREAMINFO: 96000 Hz, 6 channels, 24-bit, and a
    // totalSamples above 2^32 (0x1_2345_6789) exercising the full
    // 36-bit field; followed by a VORBIS_COMMENT (type 4, 5 bytes)
    // and a LAST PADDING block (type 1, 3 bytes) before the audio.
    val packed = 96000L << 44 | 5L << 41 | 23L << 36 | 0x123456789L
    val si = new Array[Byte](34)
    si(0) = 0x10; si(2) = 0x10
    (0 until 8).foreach(i => si(10 + i) = (packed >>> (56 - 8 * i)).toByte)
    val hand = "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 34) ++ si ++
      Array[Byte](4, 0, 0, 5) ++ new Array[Byte](5) ++
      Array[Byte](0x81.toByte, 0, 0, 3) ++ new Array[Byte](3) ++
      Array[Byte](1, 2, 3, 4, 5, 6, 7) // "audio"
    val got = MultimodalOps.flacMetaOf(MultimodalOps.MediaRecord(5L, "audio/flac", hand))
    assert(got.contains(MultimodalOps.FlacMeta(5L, 96000, 6, 24,
      0x123456789L, 0x123456789L * 1000 / 96000,
      audioOff = 42 + 9 + 7, nAudioBytes = 7)))
    // a chain whose declared block length runs past EOF is malformed
    val overrun = hand.take(42) ++ Array[Byte](0x81.toByte, 0, 0x40, 0)
    assert(MultimodalOps.flacMetaOf(
      MultimodalOps.MediaRecord(6L, "audio/flac", overrun)).isEmpty)
    // STREAMINFO not first (type != 0) is malformed per spec
    val wrongFirst = hand.clone(); wrongFirst(4) = 2
    assert(MultimodalOps.flacMetaOf(
      MultimodalOps.MediaRecord(7L, "audio/flac", wrongFirst)).isEmpty)
    // end-to-end: synthesized corpus → flacMeta matches the closed form
    val text = "z" * 321
    val metas = MultimodalOps.flacMeta(
        MultimodalOps.synthesizeFlac(
          Seq((4L, text)).toDF("doc_id", "text"), "doc_id", "text"))
      .collect()
    assert(metas.toSeq == Seq(MultimodalOps.FlacMeta(4L, 48000, 1, 16,
      4L * 321 + 4, (4L * 321 + 4) * 1000 / 48000,
      audioOff = 46 + 4, nAudioBytes = 321)))
  }

  test("fmp4 keyframes: trun flag resolution and size-accumulated offsets") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val text = "x" * 50 // 3 frags of 16|17|17 bytes → samples of 3|4
    val metas = MultimodalOps.fmp4Keyframes(
        MultimodalOps.synthesizeFmp4Kf(
          Seq((0L, text), (1L, text), (2L, text)).toDF("doc_id", "text"),
          "doc_id", "text", width = 640, height = 360))
      .collect().sortBy(_.id)
    val (hdr, me, mo) = MultimodalOps.fmp4KfSizes
    // id 0: one fragment (even variant) → exactly one keyframe at the
    // first media byte; per-sample flags never used
    assert(metas(0) == MultimodalOps.Fmp4Kf(0L, 1, 1, hdr + me + 8, -1, -1))
    // id 1: two fragments; frag1 (odd variant) adds first AND last
    // sample keyframes — the last one's offset needs the real trun
    // size accumulation (len0 = 25, len1 = 25; frag1 samples 5|5|5|5|5)
    val kf1 = hdr + me + 8L
    val kf2 = kf1 + 25L + mo + 8L
    assert(metas(1) == MultimodalOps.Fmp4Kf(1L, 2, 3, kf1, kf2, kf2 + 20L))
    // id 2: three fragments (len 16|17|17; frag1 samples 4|4|3|3|3) —
    // kf3 = frag1's last sample after 4+4+3+3 bytes
    val k1 = hdr + me + 8L
    val k2 = k1 + 16L + mo + 8L
    assert(metas(2) == MultimodalOps.Fmp4Kf(2L, 3, 4, k1, k2, k2 + 14L))
    // non-fragmented input drops (the classic-MP4 path owns stss)
    val classic = MultimodalOps.fmp4Keyframes(
      MultimodalOps.synthesizeAvc1Mp4(
        Seq((5L, text)).toDF("doc_id", "text"), "doc_id", "text"))
    assert(classic.count() == 0)
  }

  test("eraseExactStore: keeper reassignment, member-only erase, group death") {
    import spark.implicits._
    import graft.ops.IncrementalDedup
    val docs = Seq(
      (1L, "aaa"), (2L, "aaa"), (3L, "aaa"), // keeper 1 erased -> 2
      (4L, "bbb"), (5L, "bbb"),              // member 5 erased -> untouched
      (6L, "ccc"),                           // sole member erased -> gone
      (7L, "ddd"))                           // untouched
      .toDF("doc_id", "text")
    val store = "/tmp/graft-test-erase-store"
    val out = "/tmp/graft-test-erase-out"
    IncrementalDedup.writeExactStore(docs, "text", "doc_id", store)
    val erased = Seq(1L, 5L, 6L).toDF("doc_id")
    val after = docs.where(!col("doc_id").isin(1L, 5L, 6L))
    IncrementalDedup.eraseExactStore(spark, store, after, "text", "doc_id",
      erased, out)
    val got = spark.read.parquet(out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val h = (s: String) => org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(got == Map(h("aaa") -> 2L, h("bbb") -> 4L, h("ddd") -> 7L))
  }

  test("eraseMinhashStore drops exactly the erased ids' signature rows") {
    import spark.implicits._
    import graft.ops.IncrementalDedup
    val docs = (1L to 6L).map(i => (i, s"tok$i alpha beta gamma delta " * 3))
      .toDF("doc_id", "text")
    val store = "/tmp/graft-test-erase-mh"
    val out = "/tmp/graft-test-erase-mh-out"
    IncrementalDedup.writeMinhashStore(docs, "text", "doc_id", store,
      portableHash = true)
    IncrementalDedup.eraseMinhashStore(spark,
      store, Seq(2L, 4L).toDF("doc_id"), out)
    val ids = spark.read.parquet(out).select("id").distinct()
      .as[Long].collect().toSet
    assert(ids == Set(1L, 3L, 5L, 6L))
    // surviving rows are byte-identical to the original store's
    val before = spark.read.parquet(store).where(!col("id").isin(2L, 4L))
      .select("band", "band_hash", "id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val afterRows = spark.read.parquet(out)
      .select("band", "band_hash", "id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(afterRows == before)
  }

  test("bloomPrunedJoin == plain join; pre-filter drops most non-matching rows") {
    val big = spark.read.parquet(s"$sf001/lineitem.parquet")
    val small = spark.read.parquet(s"$sf001/orders.parquet")
      .where(col("o_orderstatus") === "F" &&
        col("o_orderpriority") === "1-URGENT")
    val pruned = graft.ops.JoinOps.bloomPrunedJoin(
        big, "l_orderkey", small, "o_orderkey")
      .select(col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getLong(0), r.get(1).toString.toLong)).toSet
    val plain = big.join(small, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getLong(0), r.get(1).toString.toLong)).toSet
    assert(pruned == plain && plain.nonEmpty)
    // the reduction claim: survivors ≈ matches, far below the corpus
    val survivors = graft.ops.JoinOps.bloomSurvivors(
      big, "l_orderkey", small, "o_orderkey")
    val bigN = big.count()
    assert(survivors < bigN / 2,
      s"bloom left $survivors of $bigN probe rows — no pruning happened")
    assert(survivors >= plain.size, "bloom must never drop a true match")
  }

  test("bloomPrunedJoin resolves when both sides share the key name") {
    import spark.implicits._
    val a = (1L to 200L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = Seq((5L, "x"), (17L, "y")).toDF("k", "vb")
    val got = graft.ops.JoinOps.bloomPrunedJoin(a, "k", b, "k")
      .select(col("va"), col("vb"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a5", "x"), ("a17", "y")))
  }

  test("ewmaPerUser: hand-checked recurrence in (time, id) order") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, 1L, 8.0),   // seed 8000
      (1L, 20L, 2L, 16.0),  // 8000 + (16000-8000)/8 = 9000
      (1L, 5L, 3L, 0.0),    // sorts FIRST: real seq is 0, 8000, 16000
      (2L, 1L, 4L, 4.0))    // singleton: ewma = value
      .toDF("user_id", "tus", "event_id", "value")
    val got = StreamingOps.ewmaPerUser(ev)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // user 1 ordered values: 0, 8000, 16000 ->
    //   e1 = 0; e2 = 0 + 1000 = 1000; e3 = 1000 + (16000-1000)/8 = 2875
    assert(got == Map(1L -> (3L, 2875.0), 2L -> (1L, 4000.0)))
  }

  test("transitionCounts and rollingStats: hand-checked sequences") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, "a", 1.0, 1L), (1L, 20L, "b", 2.0, 2L),
      (1L, 30L, "a", 4.0, 3L), (2L, 10L, "a", 8.0, 4L),
      (2L, 20L, "a", 16.0, 5L))
      .toDF("user_id", "tus", "event_type", "value", "event_id")
    val trans = StreamingOps.transitionCounts(ev)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // user1: a->b, b->a; user2: a->a
    assert(trans == Map(
      ("a", "b") -> (1L, 0.5), ("a", "a") -> (1L, 0.5), ("b", "a") -> (1L, 1.0)))
    val roll = StreamingOps.rollingStats(ev, k = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    // trailing-2 sums of value millis in (tus, id) order per user
    assert(roll == Map(
      1L -> (1L, 1000L), 2L -> (2L, 3000L), 3L -> (2L, 6000L),
      4L -> (1L, 8000L), 5L -> (2L, 24000L)))
  }

  test("funnelSteps: strict ordering, partial depths, out-of-order purchase ignored") {
    import spark.implicits._
    val ev = Seq(
      // user 1: full funnel in order
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // user 2: purchase BEFORE the first view — depth stops at click
      (2L, "purchase", 5L), (2L, "view", 10L), (2L, "click", 15L),
      // user 3: click at the same instant as the view (not strictly
      // after) — depth 1
      (3L, "view", 10L), (3L, "click", 10L),
      // user 4: never viewed — absent from the funnel
      (4L, "click", 1L), (4L, "purchase", 2L))
      .toDF("user_id", "event_type", "tus")
    val got = StreamingOps.funnelSteps(ev, Seq("view", "click", "purchase"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(4))).toSeq
    assert(got == Seq((1L, 3L), (2L, 2L), (3L, 1L)))
  }

  test("stream-stream interval join == batch interval join") {
    val ev = StreamingOps.readEventsBatch(spark, sf001)
      .withColumn("tus", expr("ts DIV 1000"))
    val batch = graft.ops.AsofOps.intervalJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        Seq("user_id"), "tus", "event_id", lookback = 14400000000L)
      .select(col("user_id"), col("left_id"), col("right_id"), col("gap"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val streamed = StreamingOps.runIntervalJoinStream(spark, sf001)
    val got = streamed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    streamed.unpersist()
    assert(batch.nonEmpty, "test window must produce pairs at sf0.001")
    assert(got == batch,
      s"stream ${got.size} vs batch ${batch.size}; diff ${(got diff batch) ++ (batch diff got)}")
  }

  test("intervalJoin: band edges inclusive, key-scoped, many matches") {
    import spark.implicits._
    val buys = Seq((1L, 100L, 10L), (2L, 100L, 11L)).toDF("user_id", "tus", "event_id")
    val clicks = Seq(
      (1L, 80L, 1L),   // inside (gap 20)
      (1L, 90L, 2L),   // inside (gap 10)
      (1L, 100L, 3L),  // equal time: inclusive
      (1L, 79L, 4L),   // one past the band: excluded
      (1L, 101L, 5L),  // after the purchase: excluded
      (2L, 85L, 6L))   // other key
      .toDF("user_id", "tus", "event_id")
    val got = graft.ops.AsofOps.intervalJoin(
        buys, clicks, Seq("user_id"), "tus", "event_id", lookback = 20L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((10L, 1L, 20L), (10L, 2L, 10L), (10L, 3L, 0L), (11L, 6L, 15L)))
  }

  test("as-of join: latest prior match, equal-time visible, no-match null") {
    import spark.implicits._
    // user 1: views at t=10 (id 1) and t=30 (id 3); purchases at t=20
    // (id 2, matches view 1), t=30 (id 4, equal-time view 3 visible),
    // t=5 (id 5, nothing prior). user 2: purchase with no views at all.
    val views = Seq((1L, 10L, 1L), (1L, 30L, 3L)).toDF("user_id", "tus", "event_id")
    val buys = Seq((1L, 20L, 2L), (1L, 30L, 4L), (1L, 5L, 5L), (2L, 7L, 6L))
      .toDF("user_id", "tus", "event_id")
    // columns: user_id, event_id, tus, matched_id, matched_time, gap
    val out = AsofOps.asofJoin(buys, views, Seq("user_id"), "tus", "event_id")
      .collect().map(r => r.getLong(1) -> (
        (if (r.isNullAt(3)) -1L else r.getLong(3)),
        (if (r.isNullAt(5)) -1L else r.getLong(5)))).toMap
    assert(out(2L) == (1L, 10L))  // id 2 → view 1, gap 10
    assert(out(4L) == (3L, 0L))   // equal-time view is visible
    assert(out(5L) == (-1L, -1L)) // nothing prior
    assert(out(6L) == (-1L, -1L)) // user with no views
  }

  test("as-of join: timestamps keep sub-second order (µs, not floored seconds)") {
    import spark.implicits._
    // view 300 ms AFTER the purchase within the same wall-clock second:
    // a cast-to-long (seconds) normalization would tie them and leak
    // the future view into the match
    val buys = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:05.1"), 10L))
      .toDF("user_id", "ts", "event_id")
    val views = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:05.4"), 1L), // future
      (1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:04.9"), 2L)) // prior
      .toDF("user_id", "ts", "event_id")
    val r = AsofOps.asofJoin(buys, views, Seq("user_id"), "ts", "event_id")
      .select("matched_id", "gap").collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 2L, "must match the 200ms-prior view")
    assert(r(0).getLong(1) == 200000L, "gap is exact integer microseconds")
    // and an un-orderable time column fails loudly instead of nulling
    val bad = Seq((1L, "yesterday", 1L)).toDF("user_id", "ts", "event_id")
    val ex = intercept[IllegalArgumentException] {
      AsofOps.asofJoin(bad, bad, Seq("user_id"), "ts", "event_id")
    }
    assert(ex.getMessage.contains("un-orderable"))
  }

  test("streaming dedup collapses a doubled input to the batch distinct set") {
    // stage a directory holding TWO links to the same events file —
    // every event_id arrives exactly twice on the stream
    val staged = java.nio.file.Paths.get("/tmp/graft-stream", "dedup-test")
    java.nio.file.Files.createDirectories(staged)
    Seq("a.parquet", "b.parquet").foreach { n =>
      val link = staged.resolve(n)
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(sf001, "events.parquet"))
    }
    val deduped = StreamingOps.runDedupStream(spark, staged.toString)
    val batch = StreamingOps.readEventsBatch(spark, sf001)
    assert(batch.count() * 2 ==
      spark.read.parquet(staged.toString).count(),
      "staging must double the input")
    assert(deduped.count() == batch.dropDuplicates("event_id").count(),
      "stream dedup must equal the batch distinct count")
  }

  test("winnowing fingerprints: deterministic and shared for identical docs") {
    val docs = TextOps.winnowFingerprints(
        spark.read.parquet(s"$sf01/documents.parquet"), "text", "fps")
      .select(col("doc_id"), col("text"), col("fps"))
    val dups = docs.as("a").join(docs.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.fps").as("fa"), col("b.fps").as("fb")).collect()
    assert(dups.length == 8)
    dups.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("quality metrics are in-range and deterministic") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val m = TextOps.qualityMetrics(docs, "text")
      .select("doc_id", "quality_score", "stopword_ratio", "alpha_ratio").collect()
    assert(m.length == 500)
    m.foreach { r =>
      val q = r.getDouble(1)
      assert(q >= 0.0 && q <= 1.0)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("connected components: chain + separate pair + isolated node") {
    import spark.implicits._
    // 1-2-3-4 chained through distinct pairs, {10,11} separate; 99 is
    // never paired so it must not appear
    val pairs = Seq((2L, 1L), (3L, 2L), (4L, 3L), (11L, 10L))
      .toDF("id_a", "id_b")
    val cc = ClusterOps.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connected components: long path converges within the log-round budget") {
    import spark.implicits._
    // a 200-node path is the adversarial case for naive propagation
    // (diameter 199); star contraction must still finish in ≤ 25 rounds
    // (collectThreshold = 0 forces the DISTRIBUTED path — the default
    // would take the driver fast path on a graph this small)
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = ClusterOps.connectedComponents(pairs, "id_a", "id_b",
      collectThreshold = 0L).collect()
    assert(cc.length == 200)
    cc.foreach(r => assert(r.getLong(1) == 0L, s"node ${r.getLong(0)}"))
  }

  test("connected components: driver fast path == distributed contraction") {
    import spark.implicits._
    // deterministic pseudo-random graph: several components of mixed
    // shapes (chains via i->i+1 strides, cross links via hashes)
    val pairs = ((0L until 300L).map(i => (i, i + 3)) ++
      (0L until 100L).map(i => (i * 7 % 311, i * 13 % 311)) ++
      Seq((1000L, 1001L), (1002L, 1001L)))
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = toMap(ClusterOps.connectedComponents(pairs, "id_a", "id_b"))
    val dist = toMap(ClusterOps.connectedComponents(pairs, "id_a", "id_b",
      collectThreshold = 0L))
    assert(fast == dist, "adaptive cutoff must not change the mapping")
    // string ids exercise the generic-orderable fast path
    val spairs = Seq(("b", "a"), ("c", "b"), ("e", "d")).toDF("id_a", "id_b")
    val sm = ClusterOps.connectedComponents(spairs, "id_a", "id_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sm == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d", "e" -> "d"))
  }

  test("connected components: reliable-checkpoint flag writes to the dir " +
    "and matches the local flavor; round blocks are released") {
    import spark.implicits._
    val pairs = Seq((2L, 1L), (3L, 2L), (4L, 3L), (11L, 10L))
      .toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val rel = ClusterOps.connectedComponents(pairs, "id_a", "id_b",
        checkpointDir = Some(dir), collectThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rel == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // the rounds really went through the reliable dir
    def countFiles(p: java.io.File): Int =
      if (p.isDirectory) p.listFiles().map(countFiles).sum else 1
    assert(countFiles(new java.io.File(dir)) > 0, s"no checkpoint files in $dir")

    // local flavor (distributed path forced): superseded rounds
    // release as the loop runs, and unpersistAll releases the final
    // round once results are consumed
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val local = ClusterOps.connectedComponents(pairs, "id_a", "id_b",
      collectThreshold = 0L)
    assert(local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == rel)
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.size <= 1, s"more than the final round is cached: $during")
    ClusterOps.unpersistAll()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty, s"final round not released: $after")
  }

  test("incremental dedup: exact store probe, snapshot merge, minhash store probe") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-incr").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different document about spark plans"),
      (3L, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text")
    IncrementalDedup.writeExactStore(corpus, "text", "doc_id", s"$dir/exact")

    // batch: one re-ingest of stored content (new id), one novel doc
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "novel content never seen before")).toDF("doc_id", "text")
    val dups = IncrementalDedup.exactDupsAgainstStore(
        spark, s"$dir/exact", batch, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(dups.toSeq == Seq(10L -> 1L), s"${dups.toSeq}")

    // snapshot merge: novel content joins the store, min-id keeper kept
    IncrementalDedup.mergeExactStore(
      spark, s"$dir/exact", batch, "text", "doc_id", s"$dir/exact2")
    val merged = spark.read.parquet(s"$dir/exact2")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.size == 3)
    assert(merged.values.toSet == Set(1L, 2L, 11L), "min-id keepers survive the merge")

    // minhash store: near-dup (one token changed) found across the
    // split, novel doc not flagged; agreement is an exact k/32
    val storeDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "unrelated text entirely about something else altogether")).toDF("doc_id", "text")
    val probeDocs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (11L, "yet another topic with no overlap at all whatsoever")).toDF("doc_id", "text")
    IncrementalDedup.writeMinhashStore(storeDocs, "text", "doc_id",
      s"$dir/mh", portableHash = true)
    val near = IncrementalDedup.minhashDupsAgainstStore(
        spark, s"$dir/mh", probeDocs, "text", "doc_id",
        simThreshold = 0.5, portableHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(near.map(t => (t._1, t._2)).toSeq == Seq((10L, 1L)), near.toSeq)
    assert(near.head._3 > 0.5 && near.head._3 <= 1.0)
    assert((near.head._3 * 32) == math.rint(near.head._3 * 32),
      "agreement must be an exact k/32 fraction")
  }

  test("incremental dedup probe plan: batch broadcasts, store never shuffles") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-plan").toString
    val corpus = (1L to 50L).map(i => (i, s"doc body number $i with words"))
      .toDF("doc_id", "text")
    IncrementalDedup.writeExactStore(corpus, "text", "doc_id", s"$dir/exact")
    val probe = IncrementalDedup.exactDupsAgainstStore(
      spark, s"$dir/exact", corpus.limit(5), "text", "doc_id")
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the store side must reach the join straight from its scan — any
    // hash-partitioned Exchange would mean the 100 TB store reshuffles
    // per ingest batch
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("deduped corpus keeps one canonical doc per cluster") {
    import spark.implicits._
    val docs = Seq((1L, "aaa"), (2L, "aaa"), (3L, "aaa"), (4L, "bbb"),
      (5L, "unique")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val cc = ClusterOps.connectedComponents(pairs, "id_a", "id_b")
    val kept = ClusterOps.dedupedCorpus(docs, "doc_id", cc)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L))
  }

  test("hash split: deterministic, near-nominal weights, salt-sensitive") {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val a = SampleOps.hashSplit(docs, "doc_id", "s1")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a.keySet == Set("train", "val", "test"))
    val n = a.values.sum.toDouble
    assert(math.abs(a("train") / n - 0.8) < 0.05, s"train frac off: $a")
    // identical rerun → identical assignment (the rand() failure mode)
    val a2 = SampleOps.hashSplit(docs, "doc_id", "s1")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == a2)
    // a different salt draws a different (but still complete) split
    val b = SampleOps.hashSplit(docs, "doc_id", "s2")
    assert(SampleOps.hashSplit(docs, "doc_id", "s1").withColumnRenamed("split", "s")
      .join(b.select(col("doc_id"), col("split").as("s2")), "doc_id")
      .where(col("s") =!= col("s2")).count() > 0)
  }

  test("deterministic sample: stable membership, ~fraction size") {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val s1 = SampleOps.deterministicSample(docs, "doc_id", 0.3, "x")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = SampleOps.deterministicSample(docs, "doc_id", 0.3, "x")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    assert(math.abs(s1.size / 5000.0 - 0.3) < 0.05)
  }

  test("top tokens: counts and the deterministic tie-break") {
    import spark.implicits._
    val df = Seq("b a a", "c b a", "d c").toDF("text")
    val top = TextOps.topTokens(df, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.toSeq == Seq(("a", 3L), ("b", 2L), ("c", 2L)))
  }

  test("custom-state streaming sessionization == batch sessionize") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // real events, globally time-ordered, replayed in 3 triggers
    val ev = StreamingOps.readEventsBatch(spark, sf001)
      .select(col("event_id").cast("long"), col("ts").cast("long"),
        col("user_id").cast("long"))
      .orderBy(expr("ts DIV 1000"), col("event_id"))
      .limit(3000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val maxTs = ev.map(_._2).max
    val stream = MemoryStream[(Long, Long, Long)]
    val src = stream.toDF().toDF("event_id", "ts", "user_id")
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
    val name = s"sess_stream_${System.nanoTime()}"
    val q = StreamingOps.sessionizeStream(src).writeStream
      .outputMode("append").format("memory").queryName(name).start()
    ev.grouped(1000).foreach { c => stream.addData(c.toSeq); q.processAllAvailable() }
    // two far-future sentinels: the first advances the watermark past
    // every open session's last+gap, the second forces the no-data
    // trigger that fires the event-time timeouts
    stream.addData(Seq((999999L, maxTs + 360000L * 1000000000L, 999999L)))
    q.processAllAvailable()
    stream.addData(Seq((999998L, maxTs + 360001L * 1000000000L, 999999L)))
    q.processAllAvailable()
    val got = spark.table(name).where(col("user_id") =!= 999999L)
      .select("user_id", "session_id", "n_events", "duration_ms")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    val batch = StreamingOps.sessionize(
        ev.toSeq.toDF("event_id", "ts", "user_id"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == batch,
      s"missing: ${(batch -- got).take(5)}; extra: ${(got -- batch).take(5)}")
  }

  test("streaming sessionization: session numbering survives a mid-stream timeout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val hour = 3600L * 1000000000L // ns
    val t0 = 1700000000L * 1000000000L
    val stream = MemoryStream[(Long, Long, Long)]
    val src = stream.toDF().toDF("event_id", "ts", "user_id")
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
    val name = s"sess_resume_${System.nanoTime()}"
    val q = StreamingOps.sessionizeStream(src).writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try {
      // user 1's first session, closed mid-stream by user 2 advancing
      // the watermark far past t0+gap (timeout path, user 1 has no data)
      stream.addData(Seq((1L, t0, 1L), (2L, t0 + hour / 6, 1L)))
      q.processAllAvailable()
      stream.addData(Seq((3L, t0 + 10 * hour, 2L)))
      q.processAllAvailable()
      stream.addData(Seq((4L, t0 + 10 * hour + 1, 2L))) // no-data trigger for user 1
      q.processAllAvailable()
      // user 1 RETURNS: must open session 2, not a duplicate session 1
      stream.addData(Seq((5L, t0 + 20 * hour, 1L)))
      q.processAllAvailable()
      stream.addData(Seq((6L, t0 + 40 * hour, 3L))) // flush user 1's session 2
      q.processAllAvailable()
      stream.addData(Seq((7L, t0 + 40 * hour + 1, 3L)))
      q.processAllAvailable()
      val u1 = spark.table(name).where(col("user_id") === 1L)
        .select("session_id", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(u1 == Set((1L, 2L), (2L, 1L)),
        s"expected sessions 1 (2 events) and 2 (1 event), got $u1")
    } finally q.stop()
  }

  test("streaming sessionization absorbs a late within-gap event (no lastUs regression)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val minNs = 60L * 1000000000L
    val t0 = 1700000000L * 1000000000L
    val stream = MemoryStream[(Long, Long, Long)]
    val src = stream.toDF().toDF("event_id", "ts", "user_id")
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
    val name = s"sess_late_${System.nanoTime()}"
    val q = StreamingOps.sessionizeStream(src).writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try {
      stream.addData(Seq((1L, t0, 1L), (2L, t0 + 10 * minNs, 1L)))
      q.processAllAvailable()
      // LATE: older than the open session's lastUs, within both the
      // 30-min gap and the 30-min watermark — batch order would place
      // it inside the same session
      stream.addData(Seq((3L, t0 + 5 * minNs, 1L)))
      q.processAllAvailable()
      stream.addData(Seq((8L, t0 + 600 * minNs, 9L))) // advance watermark
      q.processAllAvailable()
      stream.addData(Seq((9L, t0 + 601 * minNs, 9L))) // no-data timeout trigger
      q.processAllAvailable()
      val u1 = spark.table(name).where(col("user_id") === 1L)
        .select("session_id", "n_events", "duration_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // one session of 3 events whose duration spans first..last event
      // (a regressed lastUs would report 5 minutes, not 10)
      assert(u1 == Set((1L, 3L, 600000L)), s"got $u1")
    } finally q.stop()
  }

  test("png full codec: deflate round-trip, spec compliance via ImageIO") {
    // round-trip: encode (all five filters exercised, h >= 5) then
    // decode must reproduce the exact pixel bytes
    val w = 16
    val h = 12
    val px = Array.tabulate(3 * w * h) { i =>
      MultimodalOps.pixelValue(7L, (i % (3 * w)) / 3, i / (3 * w), i % 3).toByte
    }
    val png = MultimodalOps.encodePng(px, w, h)
    val (dw, dh, dpx) = MultimodalOps.decodePngPixels(png).get
    assert(dw == w && dh == h)
    assert(java.util.Arrays.equals(dpx, px), "inflate+unfilter must invert")

    // spec compliance, not just self-consistency: the JDK's ImageIO
    // PNG reader is an INDEPENDENT decoder — if our filter/deflate
    // logic deviated from the spec in mutually-cancelling ways, this
    // catches it
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      val o = (y * w + x) * 3
      assert(((rgb >> 16) & 0xff) == (px(o) & 0xff) &&
        ((rgb >> 8) & 0xff) == (px(o + 1) & 0xff) &&
        (rgb & 0xff) == (px(o + 2) & 0xff),
        s"pixel ($x,$y) mismatch vs ImageIO")
    }

    // and the reverse direction: our decoder must read a PNG written
    // by the JDK's INDEPENDENT encoder (different filter choices,
    // different deflate stream) back to the same pixels
    val bi = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      bi.setRGB(x, y, ((px(o) & 0xff) << 16) |
        ((px(o + 1) & 0xff) << 8) | (px(o + 2) & 0xff))
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", baos)
    val (ew, eh, epx) = MultimodalOps.decodePngPixels(baos.toByteArray).get
    assert(ew == w && eh == h)
    assert(java.util.Arrays.equals(epx, px), "must decode ImageIO's PNG too")

    // degenerate inputs fall back to None, never throw
    assert(MultimodalOps.decodePngPixels(png.take(50)).isEmpty)
    assert(MultimodalOps.decodePngPixels(Array.fill(60)(0x7f.toByte)).isEmpty)

    // distributed: features over synthesized corpus — keyMod groups
    // share pixel identity, distinct keys differ
    val feats = MultimodalOps.pngPixelFeatures(
      MultimodalOps.synthesizePngPixels(
        spark.range(0, 20).toDF("doc_id"), "doc_id", w, h, keyMod = 5))
      .collect().sortBy(_.id)
    assert(feats.length == 20)
    assert(feats.map(_.px_md5).distinct.length == 5, "5 pixel identities")
    val f0 = feats.filter(_.id % 5 == 0)
    assert(f0.map(_.px_md5).distinct.length == 1 &&
      f0.map(_.grad_word).distinct.length == 1,
      "same key => same pixels => same perceptual hash")
  }

  test("jpeg lossy codec: decode fidelity, determinism, perceptual key") {
    val w = 16
    val h = 12
    // per-row pure path: encode → decode must land near the source
    // (lossy, so near — the fidelity columns ARE the pin) and be
    // bit-deterministic call-to-call (the golden-literal premise)
    val rec = MultimodalOps.jpegRecordOf(7L, w, h, keyMod = 30, quality = 0.9f)
    val f1 = MultimodalOps.jpegFeaturesOf(rec, keyMod = 30, thumb = 4).get
    val f2 = MultimodalOps.jpegFeaturesOf(
      MultimodalOps.jpegRecordOf(7L, w, h, 30, 0.9f), 30, 4).get
    assert(f1.width == w && f1.height == h)
    assert(f1.max_err <= 40, s"smooth-gradient source must survive q=0.9 decode, got ${f1.max_err}")
    assert(f1.sum_abs_err <= 40L * 3 * w * h / 10, "mean error must stay small")
    assert(f1 == f2, "encode+decode must be deterministic per JDK")
    // SOI marker really present — this is a JPEG, not a renamed bitmap
    assert((rec.content(0) & 0xff) == 0xd8 || (rec.content(1) & 0xff) == 0xd8)

    // degenerate input degrades to None, never throws
    assert(MultimodalOps.jpegFeaturesOf(
      MultimodalOps.MediaRecord(1L, "image/jpeg", Array.fill(60)(0x3f.toByte)),
      30, 4).isEmpty)

    // distributed: keyMod identity groups share BOTH the decoded md5
    // and the pooled perceptual key; distinct keys differ; results
    // are partition-invariant (no per-partition codec state)
    val feats = MultimodalOps.jpegPixelFeatures(
      MultimodalOps.synthesizeJpegPixels(
        spark.range(0, 20).toDF("doc_id"), "doc_id", w, h, keyMod = 5),
      keyMod = 5).collect().sortBy(_.id)
    assert(feats.length == 20)
    assert(feats.map(_.px_md5).distinct.length == 5, "5 decoded identities")
    val g0 = feats.filter(_.id % 5 == 0)
    assert(g0.map(_.px_md5).distinct.length == 1 &&
      g0.map(_.thumb_md5).distinct.length == 1,
      "same key => same decoded pixels => same perceptual key")
    val feats1p = MultimodalOps.jpegPixelFeatures(
      MultimodalOps.synthesizeJpegPixels(
        spark.range(0, 20).toDF("doc_id").repartition(1), "doc_id", w, h, keyMod = 5),
      keyMod = 5).collect().sortBy(_.id)
    assert(feats.toSeq == feats1p.toSeq, "partitioning must not change codec output")
  }

  test("codec robustness: corrupted containers degrade to None, never throw") {
    // a 100 TB pass meets truncated shards and bit-rotted files; every
    // decoder's contract is Option-out, throw-never.  Seeded fuzz:
    // byte flips and truncations of VALID containers through each
    // strict parser — any uncaught exception fails the test by itself
    val w = 16
    val h = 12
    val px = Array.tabulate(3 * w * h)(i =>
      MultimodalOps.pixelValue(3L, (i % (3 * w)) / 3, i / (3 * w), i % 3).toByte)
    val png = MultimodalOps.encodePng(px, w, h)
    val jpg = MultimodalOps.jpegRecordOf(3L, w, h, 30, 0.9f).content
    val wav = MultimodalOps.synthesizeWavPcm(
      spark.range(0, 1).toDF("doc_id"), "doc_id",
      channels = 2, samples = 50, sampleRate = 8000, keyMod = 3)
      .collect().head.content
    val rnd = new scala.util.Random(20260814L)
    def corrupt(b: Array[Byte]): Array[Byte] = {
      val c = b.clone()
      (0 until (1 + rnd.nextInt(4))).foreach { _ =>
        c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
      }
      c
    }
    (0 until 200).foreach { i =>
      val pc = corrupt(png)
      val jc = corrupt(jpg)
      val wc = corrupt(wav)
      // decode either succeeds or returns None — both fine; a throw
      // is the defect this test exists to catch
      try {
        MultimodalOps.decodePngPixels(pc)
        MultimodalOps.jpegFeaturesOf(
          MultimodalOps.MediaRecord(i.toLong, "image/jpeg", jc), 30, 4)
        MultimodalOps.decodeWav(
          MultimodalOps.MediaRecord(i.toLong, "audio/wav", wc))
      } catch {
        case e: Throwable => fail(s"fuzz iteration $i threw ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // truncations at every prefix length band
    Seq(png, jpg, wav).foreach { b =>
      Seq(0, 3, 11, 32, 45, b.length / 2, b.length - 1).foreach { n =>
        val t = b.take(n)
        MultimodalOps.decodePngPixels(t)
        MultimodalOps.jpegFeaturesOf(
          MultimodalOps.MediaRecord(0L, "image/jpeg", t), 30, 4)
        MultimodalOps.decodeWav(MultimodalOps.MediaRecord(0L, "audio/wav", t))
      }
    }
    // the intact originals still decode (the fuzz clones, never mutates)
    assert(MultimodalOps.decodePngPixels(png).isDefined)
    assert(MultimodalOps.jpegFeaturesOf(
      MultimodalOps.MediaRecord(0L, "image/jpeg", jpg), 30, 4).isDefined)
    assert(MultimodalOps.decodeWav(
      MultimodalOps.MediaRecord(0L, "audio/wav", wav)).isDefined)
  }

  test("wav sample stats: real RIFF walk + 16-bit LE extraction") {
    val stats = MultimodalOps.wavSampleStats(
      MultimodalOps.synthesizeWavPcm(
        spark.range(0, 6).toDF("doc_id"), "doc_id",
        channels = 2, samples = 50, sampleRate = 8000, keyMod = 3))
      .collect().sortBy(s => (s.id, s.channel))
    assert(stats.length == 12, "6 streams x 2 channels")
    // pin against the closed form computed independently here
    for (s <- stats) {
      val k = s.id % 3
      val sv = (0 until 50).map(t => MultimodalOps.sampleValue(k, s.channel, t))
      assert(s.n_samples == 50 && s.s_sum == sv.map(_.toLong).sum)
      assert(s.s_min == sv.min && s.s_max == sv.max)
      val zc = (1 until 50).count(t => (sv(t) >= 0) != (sv(t - 1) >= 0))
      assert(s.zero_cross == zc, s"zc ${s.zero_cross} vs $zc")
    }
    // same stream key => identical stats (the audio dedup invariant)
    assert(stats.filter(_.id % 3 == 1).groupBy(_.channel)
      .forall { case (_, g) => g.map(x => (x.s_sum, x.zero_cross)).distinct.length == 1 })
  }

  test("multimodal decode: real BMP and WAV headers, stub for everything else") {
    // 4x2 24-bit uncompressed BMP: 54-byte headers + 12-byte rows
    def u16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def u32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val pixels = Array.tabulate(24)(i => (i * 10).toByte)
    val bmp = Array[Byte]('B', 'M') ++ u32(54 + 24) ++ u32(0) ++ u32(54) ++
      u32(40) ++ u32(4) ++ u32(2) ++ u16(1) ++ u16(24) ++ u32(0) ++ u32(24) ++
      u32(2835) ++ u32(2835) ++ u32(0) ++ u32(0) ++ pixels
    val bf = MultimodalOps.decodeBmp(
      MultimodalOps.MediaRecord(1L, "image/bmp", bmp)).get
    assert(bf.width == 4 && bf.height == 2, s"${bf.width}x${bf.height}")
    assert(bf.nBytes == bmp.length)
    assert(bf.byteHistogram.sum == 24, "stats must cover the pixel region only")

    // 16-bit stereo PCM WAV with 16 data bytes = 4 samples/channel
    val data = Array.tabulate(16)(i => (i * 3).toByte)
    val wav = "RIFF".getBytes ++ u32(36 + 16) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ u32(16) ++ u16(1) ++ u16(2) ++ u32(8000) ++
      u32(32000) ++ u16(4) ++ u16(16) ++
      "data".getBytes ++ u32(16) ++ data
    val wf = MultimodalOps.decodeWav(
      MultimodalOps.MediaRecord(2L, "audio/wav", wav)).get
    assert(wf.width == 4 && wf.height == 2, "4 samples/channel, 2 channels")
    assert(wf.byteHistogram.sum == 16)
    assert(wf.frameOffsets.length == 8)
    // offsets are payload-relative: first sampled frame sits at the
    // data-chunk start (44 for a canonical header), not at 0
    assert(wf.frameOffsets(0) == 44, s"${wf.frameOffsets(0)}")

    // kind gate: a payload that IS a valid BMP but is DECLARED text
    // must take the stub path (full-payload stats), not the
    // region-limited image path (ADVICE r04)
    val misdeclared = MultimodalOps.decode(
      MultimodalOps.MediaRecord(5L, "text/en", bmp))
    assert(misdeclared.byteHistogram.sum == bmp.length,
      "declared-text payload must get full-payload stub stats")
    // untyped kinds (no MIME slash) still probe both real decoders
    val untyped = MultimodalOps.decode(
      MultimodalOps.MediaRecord(6L, "blob", bmp))
    assert(untyped.width == 4 && untyped.height == 2)

    // text payloads never false-positive into media; truncated headers
    // fall back to the stub rather than erroring
    val txt = MultimodalOps.MediaRecord(3L, "text/en", "BMW RIFFs along".getBytes)
    assert(MultimodalOps.decodeBmp(txt).isEmpty && MultimodalOps.decodeWav(txt).isEmpty)
    assert(MultimodalOps.decode(txt).nBytes == txt.content.length)
    val trunc = MultimodalOps.MediaRecord(4L, "image/bmp", bmp.take(30))
    assert(MultimodalOps.decodeBmp(trunc).isEmpty)
    assert(MultimodalOps.decode(trunc).nBytes == 30)

    // end-to-end through the batched partition-local decode stage
    import spark.implicits._
    val ds = spark.createDataset(Seq(
      MultimodalOps.MediaRecord(1L, "image/bmp", bmp),
      MultimodalOps.MediaRecord(2L, "audio/wav", wav),
      MultimodalOps.MediaRecord(3L, "text/en", "plain text".getBytes)))
    val feats = MultimodalOps.decodeFeatures(ds).collect().sortBy(_.id)
    assert(feats(0).width == 4 && feats(0).height == 2)
    assert(feats(1).width == 4 && feats(1).height == 2)
    assert(feats(2).nBytes == 10)
  }

  test("multimodal decode: real PNG and JPEG headers (JDK-written files)") {
    // REAL compressed images written by the JDK's own encoders — the
    // header parsers must read back the true dimensions
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x =>
        img.setRGB(x, y, (x * 31 + y * 97) & 0xffffff)))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    val png = encode("png", 37, 23)
    val pf = MultimodalOps.decodePng(
      MultimodalOps.MediaRecord(1L, "image/png", png)).get
    assert(pf.width == 37 && pf.height == 23, s"${pf.width}x${pf.height}")
    assert(pf.nBytes == png.length)
    // stats region = post-IHDR chunk stream (PNG analog of BMP pixels)
    assert(pf.byteHistogram.sum == png.length - 33)

    val jpg = encode("jpg", 41, 17)
    val jf = MultimodalOps.decodeJpeg(
      MultimodalOps.MediaRecord(2L, "image/jpeg", jpg)).get
    assert(jf.width == 41 && jf.height == 17, s"${jf.width}x${jf.height}")

    // the dispatch reaches them through the declared-image gate
    val viaDispatch = MultimodalOps.decode(
      MultimodalOps.MediaRecord(3L, "image/png", png))
    assert(viaDispatch.width == 37 && viaDispatch.height == 23)

    // imageIoDecode agrees with the header parse on a real file and
    // degrades to None on junk instead of throwing
    val io = MultimodalOps.imageIoDecode(
      MultimodalOps.MediaRecord(4L, "image/png", png)).get
    assert(io.width == 37 && io.height == 23)
    assert(MultimodalOps.imageIoDecode(
      MultimodalOps.MediaRecord(5L, "image/png", "not an image".getBytes)).isEmpty)

    // synthesizePng: constant header (valid CRC) + text bytes as the
    // stats region; decode returns the constant dims and text stats
    import spark.implicits._
    val docs = Seq((10L, "hello png"), (11L, null: String))
      .toDF("doc_id", "text")
    val fs = MultimodalOps.decodeFeatures(
      MultimodalOps.synthesizePng(docs, "doc_id", "text", 24, 7))
      .collect().sortBy(_.id)
    assert(fs(0).width == 24 && fs(0).height == 7)
    assert(fs(0).nBytes == 33 + "hello png".length)
    assert(fs(0).byteHistogram.sum == "hello png".length)
    assert(fs(1).width == 24 && fs(1).height == 7, "null text → header-only PNG")
    assert(fs(1).nBytes == 33 && fs(1).meanByte == 0.0)
    // truncated PNG headers fall back, never error
    assert(MultimodalOps.decodePng(
      MultimodalOps.MediaRecord(6L, "image/png", png.take(20))).isEmpty)
  }

  test("multimodal decode: real MP4 box walk (dims, duration, mdat stats)") {
    import spark.implicits._
    val docs = Seq((10L, "mdat payload text"), (11L, null: String))
      .toDF("doc_id", "text")
    val fs = MultimodalOps.decodeFeatures(
      MultimodalOps.synthesizeMp4(docs, "doc_id", "text",
        width = 320, height = 180, durationMs = 7125L))
      .collect().sortBy(_.id)
    // tkhd dims and mvhd duration parsed back from the box walk
    assert(fs(0).width == 320 && fs(0).height == 180,
      s"${fs(0).width}x${fs(0).height}")
    assert(fs(0).durationMs == 7125L)
    assert(fs(0).nBytes == 240 + "mdat payload text".length)
    // stats region = the mdat payload (exactly the text bytes)
    assert(fs(0).byteHistogram.sum == "mdat payload text".length)
    assert(fs(1).nBytes == 240 && fs(1).meanByte == 0.0, "null text → header-only")
    assert(fs(1).durationMs == 7125L)

    // text payloads must never false-positive into a video container
    assert(MultimodalOps.decodeMp4(
      MultimodalOps.MediaRecord(1L, "video/mp4", "ftyp but not really".getBytes)).isEmpty)
    // truncated container falls back, never errors
    val good = MultimodalOps.synthesizeMp4(
      Seq((1L, "x")).toDF("doc_id", "text"), "doc_id", "text", 320, 180, 1000L)
      .collect()(0).content
    assert(MultimodalOps.decodeMp4(
      MultimodalOps.MediaRecord(2L, "video/mp4", good.take(100))).isEmpty)
    // the dispatch reaches mp4 through the declared-video gate AND the
    // untyped probe
    assert(MultimodalOps.decode(
      MultimodalOps.MediaRecord(3L, "video/mp4", good)).width == 320)
    assert(MultimodalOps.decode(
      MultimodalOps.MediaRecord(4L, "", good)).width == 320)

    // multi-mdat: stats span BOTH regions, frame offsets stay within
    // the FIRST one (not spilled by the total length)
    def be32(v: Long) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(t: String, payload: Array[Byte]) =
      be32(8L + payload.length) ++ t.getBytes("US-ASCII") ++ payload
    val moovEnd = good.length - "x".length - 8 // header minus mdat hdr+payload
    val headerBoxes = good.take(moovEnd - 0)   // ftyp+moov (232 bytes)
    val two = headerBoxes.dropRight(0) ++
      box("mdat", Array.fill[Byte](16)(1)) ++ box("mdat", Array.fill[Byte](16)(2))
    val f2 = MultimodalOps.decodeMp4(
      MultimodalOps.MediaRecord(5L, "video/mp4", two)).get
    assert(f2.byteHistogram.sum == 32) // both regions counted
    val firstStart = moovEnd + 8
    assert(f2.frameOffsets.nonEmpty &&
      f2.frameOffsets.forall(o => o >= firstStart && o < firstStart + 16),
      f2.frameOffsets.toSeq)
  }

  test("multimodal decode: fragmented MP4 (moof/traf/tfdt/trun duration)") {
    import spark.implicits._
    // synthesized path: nFrags = 1 + id%3 → duration = nFrags × 200 ms;
    // text bytes split across the fragments' mdats, stats unchanged
    val docs = Seq((3L, "fragmented mdat payload"), (4L, "xy"), (5L, null: String))
      .toDF("doc_id", "text")
    val fs = MultimodalOps.decodeFeatures(
      MultimodalOps.synthesizeFmp4(docs, "doc_id", "text", 640, 360))
      .collect().sortBy(_.id).map(f => f.id -> f).toMap
    assert(fs(3L).width == 640 && fs(3L).height == 360)
    assert(fs(3L).durationMs == 200L, s"id 3: ${fs(3L).durationMs}") // 1 frag
    assert(fs(4L).durationMs == 400L, s"id 4: ${fs(4L).durationMs}") // 2 frags
    assert(fs(5L).durationMs == 600L, s"id 5: ${fs(5L).durationMs}") // 3 frags
    assert(fs(3L).byteHistogram.sum == "fragmented mdat payload".length,
      "stats must span every fragment's mdat")
    val (hdr, moofMid, moofLast) = MultimodalOps.fmp4Sizes
    assert(fs(4L).nBytes == hdr + moofMid + moofLast + 16 + 2)
    // hand-built single-fragment file WITHOUT tfdt: duration falls back
    // to the Σ-trun accumulation (5 × 3600 / 90000 = 200 ms)
    def be32(v: Long) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(t: String, p: Array[Byte]) =
      be32(8L + p.length) ++ t.getBytes("US-ASCII") ++ p
    val tfhd = box("tfhd", be32(0x08L) ++ be32(1L) ++ be32(3600L))
    val trun = box("trun", be32(0L) ++ be32(5L))
    val noTfdt = MultimodalOps.fmp4Header(320, 180) ++
      box("moof", box("mfhd", be32(0L) ++ be32(1L)) ++
        box("traf", tfhd ++ trun)) ++
      box("mdat", "abc".getBytes("US-ASCII"))
    val f = MultimodalOps.decodeMp4(
      MultimodalOps.MediaRecord(9L, "video/mp4", noTfdt)).get
    assert(f.durationMs == 200L && f.width == 320)
    // mehd declaration (movie timescale 1000) wins over fragment walk
    // when mvhd duration is 0: splice an mehd into the mvex
    val mehd = box("mehd", be32(0L) ++ be32(4321L))
    val hdrB = MultimodalOps.fmp4Header(320, 180)
    // rebuild header with mvex = trex + mehd: easiest is hand-built mvex
    val trex = box("trex", be32(0L) ++ be32(1L) ++ be32(1L) ++
      be32(7777L) ++ be32(0L) ++ be32(0L))
    val ftypLen = 16
    val moovPayloadOld = hdrB.drop(ftypLen + 8) // inside moov
    val oldMvexLen = 8 + trex.length
    val moovPayloadNoMvex = moovPayloadOld.dropRight(oldMvexLen)
    val newMoov = box("moov", moovPayloadNoMvex ++ box("mvex", trex ++ mehd))
    val withMehd = hdrB.take(ftypLen) ++ newMoov ++
      box("mdat", "zz".getBytes("US-ASCII"))
    val fm = MultimodalOps.decodeMp4(
      MultimodalOps.MediaRecord(10L, "video/mp4", withMehd)).get
    assert(fm.durationMs == 4321L, s"mehd: ${fm.durationMs}")
  }

  test("multimodal decode: real MKV/EBML walk (dims, duration, cluster stats)") {
    // hand-built minimal Matroska: EBML header, Segment(Info(
    // TimestampScale 1ms, Duration 2500.0f), Tracks(TrackEntry(Video(
    // PixelWidth 640, PixelHeight 360))), Cluster with 5 media bytes)
    def id(v: Long, len: Int): Array[Byte] =
      (0 until len).map(i => ((v >> (8 * (len - 1 - i))) & 0xff).toByte).toArray
    def sz(v: Int): Array[Byte] = Array((0x80 | v).toByte) // 1-byte size
    def uint(v: Long, len: Int): Array[Byte] =
      (0 until len).map(i => ((v >> (8 * (len - 1 - i))) & 0xff).toByte).toArray
    def el(eid: Long, idLen: Int, payload: Array[Byte]): Array[Byte] =
      id(eid, idLen) ++ sz(payload.length) ++ payload
    val ebmlHeader = el(0x1A45DFA3L, 4, Array.empty)
    val info = el(0x1549A966L, 4,
      el(0x2AD7B1L, 3, uint(1000000L, 4)) ++ // TimestampScale 1ms
        el(0x4489L, 2, uint(java.lang.Float.floatToIntBits(2500f).toLong, 4)))
    val video = el(0xE0L, 1,
      el(0xB0L, 1, uint(640, 2)) ++ el(0xBAL, 1, uint(360, 2)))
    val tracks = el(0x1654AE6BL, 4, el(0xAEL, 1, video))
    val cluster = el(0x1F43B675L, 4, Array[Byte](1, 2, 3, 4, 5))
    val segment = el(0x18538067L, 4, info ++ tracks ++ cluster)
    val mkv = ebmlHeader ++ segment
    val f = MultimodalOps.decodeMkv(
      MultimodalOps.MediaRecord(1L, "video/webm", mkv)).get
    assert(f.width == 640 && f.height == 360, s"${f.width}x${f.height}")
    assert(f.durationMs == 2500L)
    assert(f.byteHistogram.sum == 5 && f.meanByte == 3.0)
    // junk and truncation fall back, never error
    assert(MultimodalOps.decodeMkv(
      MultimodalOps.MediaRecord(2L, "video/webm", "not ebml".getBytes)).isEmpty)
    assert(MultimodalOps.decodeMkv(
      MultimodalOps.MediaRecord(3L, "video/webm", mkv.take(20))).isEmpty)
    // dispatch: declared video reaches the EBML parser
    assert(MultimodalOps.decode(
      MultimodalOps.MediaRecord(4L, "video/webm", mkv)).width == 640)
  }

  test("multimodal av1: sequence-header OBU parse + keyframe census") {
    import spark.implicits._
    // ids 0..11 cover all profiles × bit depths (id%6) and all gops
    val docs = ((0L until 11L).map(i => (i, s"av1 sample text $i " * (i.toInt + 1))) :+
      (11L, "")).toDF("doc_id", "text")
    val metas = MultimodalOps.av1Meta(
      MultimodalOps.synthesizeAv1Webm(docs, "doc_id", "text"))
      .collect().map(m => m.id -> m).toMap
    assert(metas.size == 12)
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (id <- 0L until 12L) {
      val m = metas(id)
      val n = texts(id).getBytes("UTF-8").length
      val g = 2 + (id % 3).toInt
      assert(m.profile == id % 3, s"id $id profile ${m.profile}")
      assert(m.level == 4 + id % 4, s"id $id level ${m.level}")
      assert(m.bitDepth == (if (id % 2 == 1) 10 else 8), s"id $id depth ${m.bitDepth}")
      assert(m.width == 640 + id % 9 && m.height == 360 + id % 7,
        s"id $id dims ${m.width}x${m.height}")
      assert(m.nKeyframes == 1 + 7 / g, s"id $id nkf ${m.nKeyframes}")
      assert(m.kf1Off == MultimodalOps.Av1FirstTuOff, s"id $id kf1 ${m.kf1Off}")
      val seqLen = MultimodalOps.av1SeqObuLen((id % 3).toInt, id % 2 == 1)
      val expectKf2 = MultimodalOps.Av1FirstTuOff + seqLen +
        (MultimodalOps.Av1BlockOverhead + 3 + MultimodalOps.Av1FramePadBytes) * g +
        g * (n / MultimodalOps.Av1FrameCount) +
        math.min(g, n % MultimodalOps.Av1FrameCount)
      assert(m.kf2Off == expectKf2, s"id $id kf2 ${m.kf2Off} != $expectKf2")
    }
    // junk / truncation / frame-before-config drop, never error
    val webm = MultimodalOps.synthesizeAv1Webm(docs.limit(1), "doc_id", "text")
      .collect()(0).content
    assert(MultimodalOps.av1MetaOf(
      MultimodalOps.MediaRecord(1L, "video/webm", "junk".getBytes)).isEmpty)
    assert(MultimodalOps.av1MetaOf(
      MultimodalOps.MediaRecord(2L, "video/webm", webm.take(600))).isEmpty)
    // corrupt the sequence OBU's type to padding: frames then precede
    // any config → malformed → drops
    val broken = webm.clone()
    val tu = MultimodalOps.Av1FirstTuOff.toInt
    broken(tu) = ((15 << 3) | 0x02).toByte // OBU_PADDING instead of SEQ
    assert(MultimodalOps.av1MetaOf(
      MultimodalOps.MediaRecord(3L, "video/webm", broken)).isEmpty)
  }

  test("multimodal vp9: uncompressed-header parse + keyframe census") {
    import spark.implicits._
    // ids 0..11 cover all four profiles (incl. profile-3's reserved
    // bit), all gops, and both dim moduli; empty text exercises the
    // min frame length
    val docs = ((0L until 11L).map(i => (i, s"vp9 sample text $i " * (i.toInt + 1))) :+
      (11L, "")).toDF("doc_id", "text")
    val metas = MultimodalOps.vp9Meta(
      MultimodalOps.synthesizeVp9Webm(docs, "doc_id", "text"))
      .collect().map(m => m.id -> m).toMap
    assert(metas.size == 12)
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (id <- 0L until 12L) {
      val m = metas(id)
      val n = texts(id).getBytes("UTF-8").length
      val g = 2 + (id % 3).toInt
      assert(m.profile == id % 4, s"id $id profile ${m.profile}")
      assert(m.bitDepth == (if (id % 4 >= 2) 10 else 8), s"id $id depth")
      assert(m.colorSpace == 1 + id % 5, s"id $id cs ${m.colorSpace}")
      assert(m.width == 426 + id % 7 && m.height == 240 + id % 5,
        s"id $id dims ${m.width}x${m.height}")
      assert(m.nKeyframes == 1 + 7 / g, s"id $id nkf ${m.nKeyframes}")
      assert(m.kf1Off == MultimodalOps.Vp9FirstFrameOff, s"id $id kf1 ${m.kf1Off}")
      val expectKf2 = MultimodalOps.Vp9FirstFrameOff +
        (MultimodalOps.Vp9BlockOverhead + MultimodalOps.Vp9FramePadBytes) * g +
        g * (n / MultimodalOps.Vp9FrameCount) +
        math.min(g, n % MultimodalOps.Vp9FrameCount)
      assert(m.kf2Off == expectKf2, s"id $id kf2 ${m.kf2Off} != $expectKf2")
    }
    // junk / truncation / foreign codec drop, never error
    val webm = MultimodalOps.synthesizeVp9Webm(docs.limit(1), "doc_id", "text")
      .collect()(0).content
    assert(MultimodalOps.vp9MetaOf(
      MultimodalOps.MediaRecord(1L, "video/webm", "junk".getBytes)).isEmpty)
    assert(MultimodalOps.vp9MetaOf(
      MultimodalOps.MediaRecord(2L, "video/webm", webm.take(600))).isEmpty)
    // flip the sync code of the first keyframe: malformed → drops
    val broken = webm.clone()
    val kf1 = MultimodalOps.Vp9FirstFrameOff.toInt
    broken(kf1 + 1) = (broken(kf1 + 1) ^ 0x20).toByte // inside sync code bits
    assert(MultimodalOps.vp9MetaOf(
      MultimodalOps.MediaRecord(3L, "video/webm", broken)).isEmpty)
  }

  test("multimodal decode: WAV duration is real (samples over rate)") {
    // 8000 Hz mono 16-bit, 4000 samples → 500 ms
    val sampleRate = 8000
    val samples = 4000
    val dataLen = samples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes).putInt(dataLen)
    (0 until samples).foreach(i => bb.putShort((i % 251).toShort))
    val f = MultimodalOps.decodeWav(
      MultimodalOps.MediaRecord(1L, "audio/wav", bb.array())).get
    assert(f.width == samples && f.height == 1)
    assert(f.durationMs == 500L)
  }

  test("GraftExtensions: graft_dot is a SQL function via spark.sql.extensions") {
    // TestSpark wires spark.sql.extensions=graft.GraftExtensions — the
    // same config a pure-SQL deployment would set
    val r = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head()
    assert(r.getDouble(0) == 11.0)
    // null semantics match the HOF form: length mismatch -> NULL
    assert(spark.sql(
      "SELECT graft_dot(array(1.0D), array(1.0D, 2.0D)) AS d").head().isNullAt(0))
    // registered with catalog metadata (DESCRIBE resolves)
    val desc = spark.sql("DESCRIBE FUNCTION graft_dot")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("graft_dot"), desc)
  }

  test("GraftExtensions: fused-expression SQL functions equal the Scala-API columns") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
    docs.createOrReplaceTempView("graft_fused_sql_t")
    val viaSql = spark.sql(
      """SELECT doc_id,
        |       graft_quality(text) AS q,
        |       graft_winnow(text, 8, 16) AS wn,
        |       graft_word_ngrams(text, 3) AS ng,
        |       graft_repetition(text, 2) AS rep,
        |       graft_minhash(text, 3, 16) AS mh,
        |       graft_simhash(text) AS sh,
        |       graft_md5_60(text) AS h60
        |FROM graft_fused_sql_t""".stripMargin)
    val viaApi = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.QualityTextStats(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("text")))).as("q"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.WinnowFingerprint(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("text")),
          8, 16, portable = false)).as("wn"),
      graft.ops.TextOps.wordNgrams(col("text"), 3).as("ng"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.GramRepetition(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            graft.ops.TextOps.tokens(col("text"))), 2)).as("rep"),
      graft.ops.DedupOps.minhashSignatureOfText(col("text"), 3, 16).as("mh"),
      graft.ops.DedupOps.simhashOfText(col("text")).as("sh"),
      graft.ops.DedupOps.md5Hash60(col("text")).as("h60"))
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty,
      "SQL and Scala-API forms diverge")
    // parameter arguments must be INT literals — fail like the analyzer
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_winnow(text, doc_id, 16) FROM graft_fused_sql_t")
    }
    assert(ex.getMessage.contains("foldable"), ex.getMessage)
  }

  test("GraftExtensions: text-family SQL functions expand to the Scala-API plans") {
    // macro-style Column expansions, not UDFs — each SQL call builds
    // the identical expression tree the Scala API builds
    val row = spark.sql(
      """SELECT graft_tokens('a  b c') AS toks,
        |       graft_bpe_estimate('hello, world42') AS bpe,
        |       graft_lang_id('the cat is in the hat and it is that') AS lang,
        |       graft_redact_pii('mail me at a.b@example.com now') AS clean,
        |       graft_dedup_paragraphs('p1\np2\np1') AS paras,
        |       graft_fingerprint('doc body') AS fp""".stripMargin).head()
    assert(row.getSeq[String](0) == Seq("a", "b", "c"))
    assert(row.getInt(1) == 4) // hello , world 42
    assert(row.getString(2) == "en")
    assert(row.getString(3) == "mail me at <EMAIL> now")
    assert(row.getString(4) == "p1\np2")
    val viaApi = spark.range(1)
      .select(TextOps.fingerprint64(lit("doc body"))).head().getLong(0)
    assert(row.getLong(5) == viaApi)
    // keyed pseudonymization: SQL form == ProfileOps form, null-safe
    val ps = spark.sql(
      """SELECT graft_pseudonymize('alice', 's1') AS t1,
        |       graft_pseudonymize(42, 's1') AS t2,
        |       graft_pseudonymize(CAST(NULL AS STRING), 's1') AS t3""".stripMargin)
      .head()
    import spark.implicits._
    val viaOps = graft.ops.ProfileOps.pseudonymize(
        Seq(("alice", 42L)).toDF("a", "b"), Seq("a", "b"), "s1")
      .head()
    assert(ps.getString(0) == viaOps.getString(0))
    assert(ps.getString(1) == viaOps.getString(1))
    assert(ps.isNullAt(2))
    // arity errors are analyzer errors, not raw stack traces
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_lang_id('a', 'b')")
    }
    assert(e.getMessage.contains("graft_lang_id"))

    // the real usage shape: UNRESOLVED column references from a view,
    // exercising the eagerExpression conversion path with non-literal
    // children (ADVICE r06 — only literals were pinned before)
    import spark.implicits._
    Seq((1L, "a  b c", "mail a.b@example.com"),
        (2L, "the cat is in the hat and it is that", "clean"))
      .toDF("id", "txt", "pii").createOrReplaceTempView("graft_sqlfn_t")
    val rows = spark.sql(
      """SELECT id, graft_tokens(txt) AS toks, graft_bpe_estimate(txt) AS bpe,
        |       graft_lang_id(txt) AS lang, graft_redact_pii(pii) AS clean,
        |       graft_fingerprint(txt) AS fp
        |FROM graft_sqlfn_t ORDER BY id""".stripMargin).collect()
    assert(rows(0).getSeq[String](1) == Seq("a", "b", "c"))
    assert(rows(0).getString(4) == "mail <EMAIL>")
    assert(rows(1).getString(3) == "en")
    val fpApi = Seq("a  b c", "the cat is in the hat and it is that")
      .toDF("txt").select(TextOps.fingerprint64(col("txt")))
      .collect().map(_.getLong(0))
    assert(rows.map(_.getLong(5)).toSeq == fpApi.toSeq)
  }

  test("NormalizeText: composes/folds correctly, codegen == interpreted, SQL path on a view column") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    def nfc(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(graft.functions.NormalizeText(ColumnBridge.expression(c)))
    def nfkc(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(graft.functions.NormalizeText(
        ColumnBridge.expression(c), compat = true))
    val composed = "caf\u00e9"
    val decomposed = "cafe\u0301"
    val ligFw = "\ufb01nal \uff21\uff22"      // ligature fi + full-width AB
    val df = Seq(
      (1L, decomposed),
      (2L, ligFw),
      (3L, "plain ascii"),
      (4L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val got = df.select(col("id"), nfc(col("s")).as("c"), nfkc(col("s")).as("k"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)), Option(r.getString(2)))).toMap
    assert(got(1L) == ((Some(composed), Some(composed))))
    // NFC keeps ligature/full-width; NFKC folds them
    assert(got(2L) == ((Some(ligFw), Some("final AB"))))
    assert(got(3L) == ((Some("plain ascii"), Some("plain ascii"))))
    assert(got(4L) == ((None, None)))
    // interpreted eval must agree with the codegen path
    val interp = graft.functions.NormalizeText(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString(decomposed),
        org.apache.spark.sql.types.StringType)).eval(null)
    assert(interp.toString == composed)
    // SQL functions resolve over a real view column (not just literals)
    df.filter(col("s").isNotNull).createOrReplaceTempView("graft_nfc_t")
    val viaSql = spark.sql(
      "SELECT id, graft_nfc(s) AS c, graft_nfkc(s) AS k FROM graft_nfc_t ORDER BY id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(viaSql(1L) == ((composed, composed)))
    assert(viaSql(2L)._2 == "final AB")
  }

  test("resizeBmp: nearest-neighbor pixels exact, validator accepts, small passes through") {
    import spark.implicits._
    // deterministic 16x4 gradient: pixel byte = (row*16 + col) pattern
    val w = 16; val h = 4
    val stride = (w * 3 + 3) / 4 * 4
    val text = new String(
      Array.tabulate(stride * h)(i => (32 + i % 64).toByte), "ISO-8859-1")
    val rec = MultimodalOps.synthesizeBmp(
        Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text", w, h)
      .collect().head
    val resized = MultimodalOps.resizeBmp(rec, maxSide = 8).get
    val f = MultimodalOps.decodeBmp(resized).get
    assert(f.width == 8 && f.height == 2)
    // nearest-neighbor: dst logical pixel (x,y) = src logical (2x, 2y)
    val sOff = 54; val dOff = 54
    val sStride = stride; val dStride = (8 * 3 + 3) / 4 * 4
    for (y <- 0 until 2; x <- 0 until 8; c <- 0 until 3) {
      val srcRow = sOff + (h - 1 - y * 2) * sStride     // bottom-up
      val dstRow = dOff + (2 - 1 - y) * dStride
      assert(resized.content(dstRow + x * 3 + c) == rec.content(srcRow + x * 2 * 3 + c),
        s"pixel ($x,$y,$c)")
    }
    // already-small image: byte-identical pass-through
    val small = MultimodalOps.resizeBmp(rec, maxSide = 64).get
    assert(small.content.toSeq == rec.content.toSeq)
    // dataset form leaves non-BMP kinds untouched
    val mixed = Seq(rec, rec.copy(id = 2L, kind = "video/mp4")).toDS()
    val out = MultimodalOps.resizeBmpPayloads(mixed, 8)
      .collect().sortBy(_.id)
    assert(out(0).content.length < rec.content.length)
    assert(out(1).content.toSeq == rec.content.toSeq)
  }

  test("downsampleWav: frame decimation exact, rescaled header validates") {
    def u16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def u32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    // 16-bit stereo, 8 frames (32 data bytes), 8 kHz
    val data = Array.tabulate(32)(i => (i * 5).toByte)
    val wav = "RIFF".getBytes ++ u32(36 + 32) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ u32(16) ++ u16(1) ++ u16(2) ++ u32(8000) ++
      u32(32000) ++ u16(4) ++ u16(16) ++
      "data".getBytes ++ u32(32) ++ data
    val rec = MultimodalOps.MediaRecord(1L, "audio/wav", wav)
    val half = MultimodalOps.downsampleWav(rec, 2).get
    val f = MultimodalOps.decodeWav(half).get
    // 4 frames remain, still stereo
    assert(f.width == 4 && f.height == 2, s"${f.width}x${f.height}")
    // every kept frame is the exact bytes of source frame 2i
    for (i <- 0 until 4; j <- 0 until 4)
      assert(half.content(44 + i * 4 + j) == data(i * 2 * 4 + j), s"frame $i byte $j")
    // sample rate halves in the emitted header
    val rate = (half.content(24) & 0xff) | ((half.content(25) & 0xff) << 8) |
      ((half.content(26) & 0xff) << 16)
    assert(rate == 4000, s"sample rate $rate")
    // factor 1: identity
    assert(MultimodalOps.downsampleWav(rec, 1).get.content.toSeq == wav.toSeq)
  }

  test("synthesizeBmp round-trips through the REAL decoder") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello bmp world"),          // short: zero-padded pixels
      (2L, "x" * 500),                  // long: truncated to 192 bytes
      (3L, "")                          // empty: all-zero pixels
    ).toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeBmp(docs, "doc_id", "text", 16, 4)
      .collect().sortBy(_.id)
    // every payload is a VALID BMP the strict validator accepts
    media.foreach { r =>
      val f = MultimodalOps.decodeBmp(r).get
      assert(f.width == 16 && f.height == 4 && f.nBytes == 246)
    }
    // mean over the pixel region: doc 1 = sum of its 15 UTF-8 bytes
    // (padding contributes 0) / 192
    val f1 = MultimodalOps.decode(media(0))
    val expected = "hello bmp world".getBytes("UTF-8").map(_ & 0xff).sum / 192.0
    assert(math.abs(f1.meanByte - expected) < 1e-12, s"${f1.meanByte} vs $expected")
    // doc 2: exactly 192 'x' (0x78) bytes -> mean 0x78, histogram
    // bucket 7 (0x70-0x7f) holds all 192
    val f2 = MultimodalOps.decode(media(1))
    assert(f2.meanByte == 0x78.toDouble && f2.byteHistogram(7) == 192L)
    // doc 3: all-zero pixels -> mean 0, bucket 0 holds all 192
    val f3 = MultimodalOps.decode(media(2))
    assert(f3.meanByte == 0.0 && f3.byteHistogram(0) == 192L)
  }

  test("chunkByTokens: full windows, overlap, short/empty-doc clamp") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 80).map(i => s"t$i").mkString(" ")), // 80 tokens
      (2L, "alpha beta gamma"),                       // shorter than window
      (3L, "   ")                                     // no tokens at all
    ).toDF("doc_id", "text")
    val chunks = TextOps.chunkByTokens(docs, "doc_id", "text", window = 32, stride = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(c => (c._1, c._2))
    // doc 1: starts 1,17,33,49 (last full window 49..80); NOT 65 (would be short)
    val d1 = chunks.filter(_._1 == 1L)
    assert(d1.map(_._3).toSeq == Seq(1L, 17L, 33L, 49L), d1.mkString(","))
    assert(d1.forall(_._4 == 32L))
    assert(d1.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L))
    // consecutive chunks overlap by window - stride = 16 tokens
    val c1 = (1 to 32).map(i => s"t$i").mkString(" ")
    assert(d1(0)._5 == org.apache.commons.codec.digest.DigestUtils.md5Hex(c1))
    // doc 2: one short chunk of its 3 tokens
    val d2 = chunks.filter(_._1 == 2L)
    assert(d2.length == 1 && d2(0)._3 == 1L && d2(0)._4 == 3L)
    // doc 3: the clamp yields one empty chunk (hash of "")
    val d3 = chunks.filter(_._1 == 3L)
    assert(d3.length == 1 && d3(0)._4 == 0L)
    assert(d3(0)._5 == "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("dataQualityReport: crafted violations per check type") {
    import spark.implicits._
    import graft.ops.ProfileOps._
    val df = Seq(
      (Some(1L), 5.0, "x"), (Some(2L), 50.0, "x"), // 50 out of range
      (None, 7.0, "y"),                            // null id
      (Some(2L), 9.0, "z"))                        // dup id, z not in ref
      .toDF("id", "v", "k")
    val ref = Seq("x", "y").toDF("rk")
    val got = dataQualityReport(df, Seq(
        Complete("id", 0.8),
        InRange("v", 0.0, 10.0, 0.9),
        Unique(Seq("id"), 1.0),
        RefIntegrity("k", ref, "rk", 1.0)))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getBoolean(3))).toMap
    assert(got("complete:id") == (0.75, false))
    assert(got("in_range:v") == (0.75, false))
    assert(got("unique:id") == (0.75, false))
    assert(got("ref:k") == (0.75, false))
    // all-green variant
    val clean = dataQualityReport(df, Seq(Complete("v"), InRange("v", 0.0, 50.0)))
      .collect().map(_.getBoolean(3))
    assert(clean.forall(identity))
  }

  test("moments/correlation: serial replicas; known-shape sanity") {
    import spark.implicits._
    // right-skewed integer sample with a long tail
    val vals = Seq.tabulate(200)(i => (i % 10).toLong) ++ Seq(50L, 60L, 80L)
    val m = graft.ops.ProfileOps.moments(vals.toDF("v").repartition(4), "v").head
    val n = vals.size.toDouble
    val mean = vals.sum / n
    val m2 = vals.map(v => (v - mean) * (v - mean)).sum / n
    assert(m.getLong(0) == vals.size)
    assert(math.abs(m.getDouble(1) - mean) < 1e-9)
    assert(math.abs(m.getDouble(2) - m2) < 1e-6)
    assert(m.getDouble(3) > 2.0, s"tail sample must be right-skewed, got ${m.getDouble(3)}")
    // correlation: exact linear relation -> r = 1; anti-linear -> -1
    val xs = (1L to 100L)
    val lin = xs.map(x => (x, 3 * x + 7)).toDF("x", "y")
    val rLin = graft.ops.ProfileOps.correlation(lin, "x", "y").head.getDouble(1)
    assert(math.abs(rLin - 1.0) < 1e-12, s"r=$rLin")
    val anti = xs.map(x => (x, -2 * x)).toDF("x", "y")
    val rAnti = graft.ops.ProfileOps.correlation(anti, "x", "y").head.getDouble(1)
    assert(math.abs(rAnti + 1.0) < 1e-12, s"r=$rAnti")
  }

  test("chiSquareCells: independent uniform table has zero chi2; margins exact") {
    import spark.implicits._
    val rows = for { a <- Seq("p", "q"); b <- Seq(1L, 2L, 3L); _ <- 1 to 4 }
      yield (a, b)
    val cells = graft.ops.ProfileOps.chiSquareCells(
        rows.toDF("a", "b"), "a", "b")
      .collect()
    assert(cells.length == 6)
    cells.foreach { r =>
      assert(r.getLong(2) == 4L && r.getDouble(3) == 4.0 && r.getDouble(4) == 0.0)
    }
  }

  test("pseudonymize: deterministic tokens, joins survive, null stays null") {
    import spark.implicits._
    val a = Seq((1L, Some("alice"), 7L), (2L, Some("bob"), 8L),
      (3L, Option.empty[String], 7L)).toDF("id", "name", "key")
    val b = Seq((7L, "x"), (8L, "y")).toDF("key", "v")
    val pa = graft.ops.ProfileOps.pseudonymize(a, Seq("name", "key"), "s1")
    val pb = graft.ops.ProfileOps.pseudonymize(b, Seq("key"), "s1")
    // identity severed: no raw value survives
    val rows = pa.collect()
    assert(rows.forall(r => r.isNullAt(1) ||
      (r.getString(1).length == 32 && r.getString(1) != "alice")))
    // null carries no identity → stays null (not a salt-only token)
    assert(rows.find(_.getLong(0) == 3L).get.isNullAt(1))
    // referential integrity: tokenized keys still join 1:1
    val joined = pa.join(pb, "key").select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(joined == Map(1L -> "x", 3L -> "x", 2L -> "y"))
    // different salt → unlinkable tokens
    val pa2 = graft.ops.ProfileOps.pseudonymize(a, Seq("key"), "s2")
    assert(pa2.join(pb, "key").count() == 0)
    // deterministic across invocations
    assert(graft.ops.ProfileOps.pseudonymize(a, Seq("name"), "s1")
      .collect().toSeq == graft.ops.ProfileOps.pseudonymize(a, Seq("name"), "s1")
      .collect().toSeq)
  }

  test("kAnonymize: small QI groups suppressed into the residual, totals reconcile") {
    import spark.implicits._
    val rows = Seq(
      ("A", 1, 10L), ("A", 1, 11L), ("A", 1, 12L), // group of 3: kept at k=3
      ("A", 2, 13L), ("B", 1, 14L))                // two singletons: suppressed
      .toDF("seg", "nat", "id")
    val out = graft.ops.ProfileOps.kAnonymize(rows, Seq("seg", "nat"), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.length == 5) // suppression never drops rows
    assert(out.count(r => r._1 == "A" && r._2 == "1") == 3)
    assert(out.count(r => r._1 == "*" && r._2 == "*") == 2)
    // every released non-residual group has >= k members
    out.filter(_._1 != "*").groupBy(r => (r._1, r._2))
      .foreach { case (g, rs) => assert(rs.length >= 3, s"group $g under k") }
  }

  test("quantizedLabelCentroids: exact integer sums, hand-checked") {
    import spark.implicits._
    val df = Seq(
      (0, Array(0.5f, -1.25f)), (0, Array(1.5f, 0.75f)), (1, Array(2.0f, 0.0f)))
      .toDF("label", "embedding")
    val got = SimilarityOps.quantizedLabelCentroids(df, "label", "embedding")
      .orderBy("label", "dim")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (0, 0L, 2L, 2000000L, 1000000.0),   // 500000 + 1500000
      (0, 1L, 2L, -500000L, -250000.0),   // -1250000 + 750000
      (1, 0L, 1L, 2000000L, 2000000.0),
      (1, 1L, 1L, 0L, 0.0)))
  }

  test("dsirWeights: hand-checked mass ratios; target-like docs score higher") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y", "en"),   // target; gram "x y"
      (2L, "x y", "de"),   // raw twin of the target gram
      (3L, "p q", "de"))   // raw-only gram
      .toDF("doc_id", "text", "lang")
    val got = SelectionOps.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // gram "x y": ct=1 (doc1), cr=2; gram "p q": ct=0, cr=1
    assert(got(0) == (1L, 1L, 1L, 2L, 2.0 / 3.0))
    assert(got(1) == (2L, 1L, 1L, 2L, 2.0 / 3.0))
    assert(got(2) == (3L, 1L, 0L, 1L, 0.5))
    // the selection property: the doc sharing the target's grams
    // outranks the one with none
    assert(got(1)._5 > got(2)._5)
  }

  test("cdcChunks: spans tile the doc; edits only change local chunks") {
    import spark.implicits._
    // aperiodic text (a periodic string can have NO boundary-hitting
    // window at all, and then CDC degenerates to one whole-doc chunk)
    val text = (1 to 250).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, text), (2L, "short"), (3L, "")).toDF("doc_id", "text")
    val chunks = TextOps.cdcChunks(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // spans tile each doc exactly: contiguous, summing to its length
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.head._3 == 1L && d1.map(_._4).sum == text.length)
    d1.toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(b._3 == a._3 + a._4, s"gap between $a and $b")
      case _ => ()
    }
    // short doc (< window): one whole-doc chunk; empty doc: no chunks
    val d2 = chunks.filter(_._1 == 2L)
    assert(d2.length == 1 && d2(0)._4 == 5L)
    assert(!chunks.exists(_._1 == 3L))
    // THE CDC property: prepend a char — a fixed-size chunker would
    // shift every boundary; CDC re-finds the same content boundaries,
    // so all chunk hashes except the first survive
    val edited = Seq((1L, "X" + text)).toDF("doc_id", "text")
    val e1 = TextOps.cdcChunks(edited, "doc_id", "text")
      .collect().map(r => (r.getLong(3), r.getString(4))).sortBy(_._1)
    val origHashes = d1.map(_._5).toSet
    val survived = e1.count(c => origHashes.contains(c._2))
    assert(survived >= d1.length - 1 && d1.length >= 5,
      s"${d1.length} orig chunks, only $survived hashes survived the edit")
  }

  test("bm25Scores: exact formula on a hand-checked corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark join join scan"),  // dl=4, tf(join)=2, tf(scan)=1
      (2L, "scan scan scan"),        // dl=3, tf(scan)=3
      (3L, "merge sort window")      // dl=3, no query terms except window
    ).toDF("doc_id", "text")
    val out = TextOps.bm25Scores(docs, "doc_id", "text", Seq("join", "scan"))
      .collect().map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out.keySet == Set((1L, "join"), (1L, "scan"), (2L, "scan")))
    val n = 3.0
    val avgdl = 10.0 / 3.0
    def score(tf: Long, df: Long, dl: Long): Double = {
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    }
    val (tfj, dfj, sj) = out((1L, "join"))
    assert(tfj == 2L && dfj == 1L)
    assert(math.abs(sj - score(2, 1, 4)) < 1e-12, s"$sj vs ${score(2, 1, 4)}")
    val (tfs2, dfs2, ss2) = out((2L, "scan"))
    assert(tfs2 == 3L && dfs2 == 2L)
    assert(math.abs(ss2 - score(3, 2, 3)) < 1e-12)
  }

  test("sequence packing: boundary-crossing docs, exact spans, empty docs dropped") {
    import spark.implicits._
    // stream of 18 tokens into L=8 sequences:
    //   doc 1 (5 tok)  @0  → seq 0 [0,5)
    //   doc 2 (3 tok)  @5  → seq 0 [5,8)        (fills seq 0 exactly)
    //   doc 3 (10 tok) @8  → seq 1 [0,8) + seq 2 [0,2)
    //   doc 4 (0 tok)       → dropped
    val docs = Seq((1L, 5L), (2L, 3L), (3L, 10L), (4L, 0L)).toDF("doc_id", "tok")
    val got = PackingOps.packSequences(docs, "doc_id", "tok", 8L, numPartitions = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, 5L, 0L),
      (2L, 0L, 5L, 3L, 5L),
      (3L, 1L, 0L, 8L, 8L),
      (3L, 2L, 0L, 2L, 8L)))
    // conservation: every token lands in exactly one (doc, seq) span
    assert(got.map(_._4).sum == 18L)
    // larger randomized corpus: per-sequence totals are exactly seqLen
    // except the trailing sequence
    val big = (0 until 1000).map(i => (i.toLong, (i % 13 + 1).toLong))
      .toDF("doc_id", "tok")
    val spans = PackingOps.packSequences(big, "doc_id", "tok", 64L, numPartitions = 7)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    val bySeq = spans.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (s, tot) =>
      if (s < lastSeq) assert(tot == 64L, s"seq $s total $tot")
    }
    assert(spans.map(_._2).sum == (0 until 1000).map(_ % 13 + 1).sum.toLong)
  }

  test("shard packing: two-pass scan equals a single-machine running sum") {
    import spark.implicits._
    val n = 5000
    val docs = (0 until n).map(i => (i.toLong, (i % 97 + 1).toLong))
      .toDF("doc_id", "tok")
    val packed = PackingOps.packByTokenBudget(docs, "doc_id", "tok", 1000L,
        numPartitions = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var running = 0L
    packed.foreach { case (id, tok, shard) =>
      assert(shard == running / 1000L, s"doc $id: shard $shard, before=$running")
      assert(tok == id % 97 + 1)
      running += tok
    }
    // shards fill in order: ids within a shard are contiguous
    val byShard = packed.groupBy(_._3).view.mapValues(_.map(_._1)).toMap
    byShard.foreach { case (_, ids) =>
      assert(ids.max - ids.min + 1 == ids.length)
    }
  }

  test("stratified sample: per-stratum fractions, default pass-through, stable") {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val sampled = SampleOps.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.5, "zh" -> 0.25), "x")
    val kept = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("de") == full("de"), "unnamed strata must pass through")
    assert(math.abs(kept("en").toDouble / full("en") - 0.5) < 0.07, s"$kept / $full")
    assert(math.abs(kept("zh").toDouble / full("zh") - 0.25) < 0.07, s"$kept / $full")
    // stability: same call → identical membership
    assert(sampled.select("doc_id").collect().map(_.getLong(0)).toSet ==
      SampleOps.stratifiedSample(docs, "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.25), "x")
        .select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("hash split and deterministic sample fail fast on null ids") {
    import spark.implicits._
    val df = Seq(Some(1L), Some(2L), None).toDF("doc_id")
    val ex = intercept[Exception] {
      SampleOps.hashSplit(df, "doc_id", "s").count()
    }
    assert(ex.getMessage != null)
    intercept[Exception] {
      SampleOps.deterministicSample(df, "doc_id", 0.5, "s").count()
    }
    // non-null frames are unaffected
    assert(SampleOps.hashSplit(df.na.drop(), "doc_id", "s").count() == 2)
  }

  test("contamination scores: copied text maxes, disjoint text zeroes") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // verbatim copy
      (2L, "prefix words then alpha beta gamma inside"), // partial
      (3L, "totally unrelated content with no shared trigrams at all"))
      .toDF("doc_id", "text")
    val m = TextOps.contaminationScores(corpus, "doc_id", "text", bench, "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == 4L) // 6 tokens → 4 distinct trigrams, all shared
    assert(m(2L) == 1L) // only "alpha beta gamma"
    assert(m(3L) == 0L)
  }

  test("pii redaction scrubs emails/ips/ssns/phones, leaves prose alone") {
    import spark.implicits._
    val df = Seq(
      "mail a.b+c@ex-ample.co.uk now",
      "host 192.168.0.1 port",
      "ssn 123-45-6789 phone 415-555-0199",
      "version 1.2 costs 3.50 no pii here").toDF("text")
    val out = df.select(TextOps.redactPii(col("text")).as("c"))
      .collect().map(_.getString(0))
    assert(out(0) == "mail <EMAIL> now")
    assert(out(1) == "host <IP> port")
    assert(out(2) == "ssn <SSN> phone <PHONE>")
    assert(out(3) == "version 1.2 costs 3.50 no pii here")
  }

  test("semantic dedup drops the higher id of a near-identical pair, keeps singletons") {
    import spark.implicits._
    // two tight clusters on orthogonal axes + one lone vector; ids
    // chosen so the keep-first-id rule is observable
    def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val emb = Seq(
      (1L, vec(1, 0, 0, 0)), (5L, vec(0.999, 0.01, 0, 0)), // near-dups
      (2L, vec(0, 1, 0, 0)), (7L, vec(0, 0.998, 0.02, 0)), // near-dups
      (3L, vec(0.7, 0.7, 0, 0))) // between clusters, not a dup at 0.99
      .toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0, 0, 0), Array(0.0, 1, 0, 0))
    val drops = SimilarityOps.semanticDupDrops(
        emb, "vec_id", "embedding", cents, cosThreshold = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(drops.keySet == Set(5L, 7L)) // higher ids dropped, 1/2/3 kept
    assert(drops(5L)._1 == 1L && drops(5L)._2 > 0.99)
    // maxCell guard: cap 1 excludes every cell from the pair join
    assert(SimilarityOps.semanticDupDrops(
      emb, "vec_id", "embedding", cents, 0.99, maxCell = 1).count() == 0)
    DedupOps.unpersistAll()
  }

  test("key skew: exact shares on a crafted hot key, no global sort of the counts") {
    import spark.implicits._
    val df = (Seq.fill(50)("hot") ++ (1 to 30).map(i => s"k$i")).toDF("k")
    val rep = ProfileOps.keySkew(df, "k", topK = 3)
    val rows = rep.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.head == ((1L, "hot", 50L, 50.0 / 80.0, 50.0 / 80.0)))
    // ranks 2..3 are singleton keys in key order, cum share accumulates
    assert(rows(1)._3 == 1L && rows(2)._3 == 1L)
    assert(rows(2)._5 == 52.0 / 80.0)
    // the per-key count frame must reach the limit as a TakeOrdered,
    // never a global sort of all distinct keys
    val plan = rep.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("similarity ops degrade gracefully on degenerate inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val m = SimilarityOps.signProjectionMatrix(2, 2, "x")
    assert(SimilarityOps.randomProject(empty, "vec_id", "embedding", m).count() == 0)
    // centroid learning on too-few vectors fails FAST with a clear
    // message (silent tiny-k centroids would poison every probe)
    val e1 = intercept[IllegalArgumentException] {
      SimilarityOps.distributedCentroids(empty, "vec_id", "embedding", nCells = 4)
    }
    assert(e1.getMessage.contains("non-null vectors"))
    // IVF-PQ over an empty corpus: no candidates, no throw
    val cents = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    val cbs = Array(Array(Array(0.0), Array(1.0)), Array(Array(0.0), Array(1.0)))
    val q = Seq((1L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    assert(SimilarityOps.ivfPqTopK(empty, "vec_id", "embedding",
      q, "vec_id", "embedding", cents, cbs, nProbe = 1, k = 3).count() == 0)
    // zero-norm vectors are dropped from assignment, not scored as NaN
    val zero = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val enc = SimilarityOps.pqEncode(zero, "vec_id", "embedding", cbs)
      .collect().map(_.getLong(0)).toSeq
    assert(enc == Seq(2L))
  }

  test("sign projection: deterministic matrix, linear map, cosine roughly preserved") {
    val m = SimilarityOps.signProjectionMatrix(64, 16, "rp7")
    val m2 = SimilarityOps.signProjectionMatrix(64, 16, "rp7")
    assert(m.flatten.toSeq == m2.flatten.toSeq, "matrix must be salt-pure")
    assert(m.flatten.forall(x => math.abs(x) == 1.0 / 4.0))
    // a different salt gives a different matrix
    assert(m.flatten.toSeq !=
      SimilarityOps.signProjectionMatrix(64, 16, "rp8").flatten.toSeq)
    // JL sanity on real embeddings: projected cosine tracks the
    // original within loose distortion for 16 dims
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val proj = SimilarityOps.randomProject(emb, "vec_id", "embedding", m)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray).toMap
    val orig = emb.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = orig.keys.toSeq.sorted.take(20)
    val errs = for (i <- ids; j <- ids if i < j) yield
      math.abs(cos(orig(i), orig(j)) - cos(proj(i), proj(j)))
    // JL at d'=16 has per-pair std ~ 1/sqrt(16) = 0.25; the mean
    // absolute distortion lands ~0.21 on this data — bound at 0.3
    assert(errs.nonEmpty && errs.sum / errs.size < 0.3,
      s"mean cosine distortion ${errs.sum / errs.size}")
  }

  test("persisted IVF-PQ index: stored-code probe equals the in-memory composition") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = SimilarityOps.deterministicCentroids(
      emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
    val cbs = SimilarityOps.pqCodebooks(
      emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
    val idx = s"/tmp/graft-test-ivfpq-${System.nanoTime()}"
    SimilarityOps.saveIvfPqIndex(emb, "vec_id", "embedding", cents, cbs, idx)
    val queries = emb.filter(col("vec_id") < 8)
    val fromIndex = SimilarityOps.ivfPqTopKFromIndex(
      spark, idx, queries, "vec_id", "embedding", cents, cbs, nProbe = 4, k = 10)
    val direct = SimilarityOps.ivfPqTopK(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding",
      cents, cbs, nProbe = 4, k = 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    assert(rows(fromIndex).toSeq == rows(direct).toSeq)
    // pruning must reach the code index too (same partition mechanism)
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    // and the stored rows must be codes, not vectors: schema check
    val stored = spark.read.parquet(idx)
    assert(stored.columns.toSet == Set("corpus_id", "cell", "codes"))
  }

  test("PCA basis: orthonormal, variance-ordered, sign-canonical, fixture-pinned") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val (mean, basis) = SimilarityOps.pcaBasis(
      emb, "vec_id", "embedding", k = 8, sampleN = 256)
    assert(mean.length == 64 && basis.length == 8)
    // orthonormal within solver tolerance
    for (i <- basis.indices; j <- i until basis.length) {
      val d = basis(i).zip(basis(j)).map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-9, s"<b$i,b$j> = $d")
    }
    // sign canonicalization: the largest-|component| entry is positive
    basis.foreach { b => assert(b(b.map(math.abs).zipWithIndex.maxBy(_._1)._2) >= 0) }
    // axis ordering: sample variance along axes is non-increasing
    val rows = emb.orderBy("vec_id").limit(256).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    def variance(b: Array[Double]): Double = {
      val projs = rows.map(v => v.zip(b).map { case (x, w) => x * w }.sum)
      val m = projs.sum / projs.length
      projs.map(p => (p - m) * (p - m)).sum / (projs.length - 1)
    }
    val vars = basis.map(variance)
    vars.sliding(2).foreach { case Array(a, b) => assert(a >= b - 1e-9, vars.toSeq) }
    // runtime == fixture (the IVF-centroid not-a-second-truth contract)
    val t = Golden.load("sf0.01_pca_basis.json")
    val fixRows = t.rows.sortBy(_.head.asInstanceOf[Double])
      .map(_.drop(1).map(_.asInstanceOf[Double]).toArray)
    assert(mean.sameElements(fixRows.head))
    basis.zip(fixRows.tail).foreach { case (a, b) => assert(a.sameElements(b)) }
  }

  test("quantizer training cache: plan-keyed memo, param-sensitive, clearable") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    SimilarityOps.clearTrainingCache()
    val a = SimilarityOps.deterministicCentroids(
      emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
    // same plan + params → the SAME array instance (memo hit, no retrain)
    val b = SimilarityOps.deterministicCentroids(
      emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
    assert(a eq b)
    // a fresh read of the same files canonicalizes to the same plan —
    // the documented fitMedians-style staleness contract
    val emb2 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c = SimilarityOps.deterministicCentroids(
      emb2, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
    assert(a eq c)
    // different params retrain; clearing the cache retrains but lands
    // on bit-identical values (the determinism the oracles rely on)
    val d = SimilarityOps.deterministicCentroids(
      emb, "vec_id", "embedding", nCells = 8, sampleN = 256, iters = 10)
    assert(!(a eq d) && d.length == 8)
    SimilarityOps.clearTrainingCache()
    val e = SimilarityOps.deterministicCentroids(
      emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
    assert(!(a eq e) && a.length == e.length &&
      a.zip(e).forall { case (x, y) => x.sameElements(y) })
  }

  test("hybrid-index refine: code-index ADC + float-index re-rank equals in-memory refine") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = SimilarityOps.deterministicCentroids(
      emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
    val cbs = SimilarityOps.pqCodebooks(
      emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
    val codeIdx = s"/tmp/graft-test-hybrid-code-${System.nanoTime()}"
    val floatIdx = s"/tmp/graft-test-hybrid-float-${System.nanoTime()}"
    SimilarityOps.saveIvfPqIndex(emb, "vec_id", "embedding", cents, cbs, codeIdx)
    SimilarityOps.saveIvfIndex(emb, "vec_id", "embedding", cents, floatIdx)
    val queries = emb.filter(col("vec_id") < 8)
    val hybrid = SimilarityOps.ivfPqTopKFromIndex(
      spark, codeIdx, queries, "vec_id", "embedding", cents, cbs,
      nProbe = 4, k = 10, refine = 8, floatIndexPath = Some(floatIdx))
    val direct = SimilarityOps.ivfPqTopK(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding",
      cents, cbs, nProbe = 4, k = 10, refine = 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    assert(rows(hybrid).toSeq == rows(direct).toSeq)
    // refine without a float index must fail fast, not mis-rank
    assertThrows[RuntimeException] {
      SimilarityOps.ivfPqTopKFromIndex(
        spark, codeIdx, queries, "vec_id", "embedding", cents, cbs,
        nProbe = 4, k = 10, refine = 8)
    }
  }

  test("streaming IVF ingest: the streamed index equals the batch build") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val cents = SimilarityOps.deterministicCentroids(
      emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
    // stage the vectors as parquet shards and stream them in
    val staged = s"/tmp/graft-test-stream-emb-${System.nanoTime()}"
    emb.repartition(4).write.parquet(staged)
    val idx = s"/tmp/graft-test-stream-ivf-${System.nanoTime()}"
    val batchIdx = s"/tmp/graft-test-batch-ivf-${System.nanoTime()}"
    val q = SimilarityOps.streamIntoIvfIndex(
      spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1)
        .parquet(staged),
      "vec_id", "embedding", cents, idx, s"$idx-ckpt")
    try q.processAllAvailable() finally q.stop()
    SimilarityOps.saveIvfIndex(emb, "vec_id", "embedding", cents, batchIdx)
    def content(p: String) = spark.read.parquet(p)
      .select("corpus_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(content(idx) == content(batchIdx))
  }

  test("streaming minhash ingest: per-batch dups equal the batch probe; store grows") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text")
    // stage two shards: ids < 250 land first, the rest (including the
    // corpus's exact-dup partners) arrive as the second micro-batch
    val staged = s"/tmp/graft-test-stream-mh-src-${System.nanoTime()}"
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(staged)
    val store = s"/tmp/graft-test-stream-mh-store-${System.nanoTime()}"
    val dupsOut = s"/tmp/graft-test-stream-mh-dups-${System.nanoTime()}"
    val q = graft.ops.IncrementalDedup.streamIntoMinhashStore(
      spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
        .parquet(staged),
      "text", "doc_id", store, dupsOut, s"$store-ckpt",
      simThreshold = 0.5, portableHash = true)
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(staged)
      q.processAllAvailable()
    } finally q.stop()
    // batch-2 dups must equal the BATCH probe of the same split
    // (the q_incr_dedup_minhash_md5 construction)
    val streamed = spark.read.parquet(dupsOut)
      .where(col("batch") === 1)
      .select("id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val batchStore = s"/tmp/graft-test-stream-mh-batchstore-${System.nanoTime()}"
    graft.ops.IncrementalDedup.writeMinhashStore(
      docs.filter(col("doc_id") < 250), "text", "doc_id", batchStore,
      portableHash = true)
    val direct = graft.ops.IncrementalDedup.minhashDupsAgainstStore(
        spark, batchStore, docs.filter(col("doc_id") >= 250), "text", "doc_id",
        simThreshold = 0.5, portableHash = true)
      .select("id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed.nonEmpty && streamed == direct)
    // batch 0 probed an empty history → no dups; the store holds both
    // batches' signatures
    assert(spark.read.parquet(dupsOut).where(col("batch") === 0).count() == 0)
    assert(spark.read.parquet(store).select("batch").distinct().count() == 2)
  }

  test("incremental IVF index: base + delta append equals the all-at-once build") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = SimilarityOps.deterministicCentroids(
      emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
    val full = s"/tmp/graft-test-ivf-full-${System.nanoTime()}"
    val incr = s"/tmp/graft-test-ivf-incr-${System.nanoTime()}"
    SimilarityOps.saveIvfIndex(emb, "vec_id", "embedding", cents, full)
    SimilarityOps.saveIvfIndex(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", cents, incr)
    SimilarityOps.appendIvfIndex(
      emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding", cents, incr)
    // stored content identical (cell assignment is centroid-pure)
    def content(p: String) = spark.read.parquet(p)
      .select("corpus_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(content(incr) == content(full))
    // probe answers identical
    val q = emb.filter(col("vec_id") < 5)
    def topk(p: String) = SimilarityOps.ivfTopKFromIndex(
        spark, p, q, "vec_id", "embedding", cents, nProbe = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sorted.toSeq
    assert(topk(incr) == topk(full))
  }

  test("span removal: keep-first cuts exact spans, overlaps merge, keeper intact") {
    import spark.implicits._
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")   // one full window
    val df = Seq(
      (1L, s"$shared tail1 tail2"),        // keeper of the shared window
      (2L, s"head1 head2 $shared tail3"),  // loses tokens 3..10
      (3L, shared),                        // exact window -> empties
      (4L, "totally different words here never repeated anywhere else ok"))
      .toDF("doc_id", "text")
    val got = DedupOps.removeDuplicateSpans(df, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1 keeps everything (it is the min-id owner of every dup window)
    assert(got(1L) == ((10L, 0L, md5(s"$shared tail1 tail2"))))
    // doc 2: windows at starts 3..3 (the only full shared window) cut
    // tokens 3..10; head and tail survive
    assert(got(2L) == ((11L, 8L, md5("head1 head2 tail3"))))
    // doc 3: fully covered -> empty
    assert(got(3L) == ((8L, 8L, md5(""))))
    // doc 4: untouched
    assert(got(4L)._2 == 0L)
    DedupOps.unpersistAll()
  }

  test("PSI drift: exact terms on a crafted shift, epsilon floors empty bins") {
    import spark.implicits._
    val edges = Seq(10.0, 20.0)
    // baseline: 8 low, 2 mid, 0 high; current: 2 low, 2 mid, 6 high
    val base = (Seq.fill(8)(5.0) ++ Seq.fill(2)(15.0)).toDF("v")
    val curr = (Seq.fill(2)(5.0) ++ Seq.fill(2)(15.0) ++ Seq.fill(6)(25.0)).toDF("v")
    val got = DriftOps.psi(base, curr, "v", edges)
      .collect().map(r => r.getInt(0).toLong ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    def term(p: Double, q: Double) = (p - q) * StrictMath.log(p / q)
    assert(got(0L) == ((8L, 2L, 0.8, 0.2, term(0.8, 0.2))))
    assert(got(1L) == ((2L, 2L, 0.2, 0.2, term(0.2, 0.2))))
    // bin 2 is EMPTY in the baseline: share floors at epsilon
    assert(got(2L)._1 == 0L && got(2L)._3 == 1e-6)
    assert(got(2L)._5 == term(1e-6, 0.6))
    // headline sum says "re-fit" for this blatant shift
    assert(got.values.map(_._5).sum > 0.25)
    // null values land in the -1 missing bin, not the top value bin
    val withNull = (Seq(5.0, 15.0).map(Option(_)) :+ None)
      .toDF("v")
    val nb = DriftOps.psi(base, withNull, "v", edges)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(nb(-1) == 1L, s"missing bin: $nb")
    assert(nb.getOrElse(2, 0L) == 0L, "null must not inflate the top bin")
    // left-closed flavor: a boundary-exact value goes UP a bin
    val b10 = Seq(10.0).toDF("v")
    def bin(rc: Boolean) = DriftOps.psi(b10, b10, "v", edges, rightClosed = rc)
      .collect().map(_.getInt(0)).min
    assert(bin(true) == 0 && bin(false) == 1)
  }

  test("psiForModel: recovered edges reproduce the model's own bin sizes; self-PSI is zero") {
    val df = SparkEntry.lcgFrame(spark, sf001)
    val model = graft.spark.WoeBinning.fit(df, "target", Seq("extendedprice"),
      graft.spark.WoeFitOptions(nThreshold = Some(300)))
    val edges = DriftOps.modelEdges(model, "extendedprice")
    assert(edges == edges.sorted && edges.nonEmpty)
    // psiForModel's own (orientation-aware) bucketing must re-derive
    // the model's recorded bin sizes on the fit data — integer
    // equality ties edge recovery AND comparator choice to the model
    val rep = DriftOps.psiForModel(model, df, df, "extendedprice").collect()
    val counts = rep.filter(_.getInt(0) >= 0).map(_.getLong(1)).sorted.toSeq
    val sizes = model.bins("extendedprice")
      .filter(b => !b.intervalStartInclude.isNaN)
      .map(_.size.toLong).sorted
    assert(counts == sizes, s"$counts vs $sizes")
    // fit population against itself: every PSI term is exactly 0
    assert(rep.map(_.getDouble(5)).forall(_ == 0.0))
  }

  test("psiReport: one stacked frame covering every fitted variable") {
    val df = SparkEntry.lcgFrame(spark, sf001)
    val model = graft.spark.WoeBinning.fit(df, "target",
      Seq("extendedprice", "quantity"),
      graft.spark.WoeFitOptions(nThreshold = Some(300)))
    val rep = DriftOps.psiReport(model, df, df)
      .collect().map(r => (r.getString(0), r.getDouble(6)))
    assert(rep.map(_._1).toSet == Set("extendedprice", "quantity"))
    assert(rep.forall(_._2 == 0.0), "self-PSI must be zero for every variable")
  }

  test("corpus diff: added/removed/changed/unchanged partition exactly") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val revised = Seq((2L, "b"), (3L, "C"), (4L, "d")).toDF("doc_id", "text")
    val got = TextOps.corpusDiff(base, revised, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("bigram LM: interpolated scores exact on a crafted corpus") {
    import spark.implicits._
    // corpus: "a b a b" + "b c" -> unigrams a:2 b:3 c:1, N=6
    // bigrams: (a,b):2 (b,a):1 (b,c):1
    val df = Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextOps.bigramLogProbs(df, "doc_id", "text", lambda = 0.75)
      .collect().map(r => ((r.getLong(0), r.getString(1), r.getString(2)),
        (r.getLong(3), r.getDouble(4)))).toMap
    def lp(cb: Long, c1: Long, c2: Long): Double =
      -math.log(0.75 * (cb.toDouble / c1) + 0.25 * (c2.toDouble / 6L))
    assert(got((1L, "a", "b")) == ((2L, lp(2, 2, 3))))
    assert(got((1L, "b", "a")) == ((1L, lp(1, 3, 2))))
    assert(got((2L, "b", "c")) == ((1L, lp(1, 3, 1))))
    // a doc with fewer than 2 tokens contributes no rows
    assert(TextOps.bigramLogProbs(
      Seq((9L, "solo")).toDF("doc_id", "text"), "doc_id", "text").count() == 0)
  }

  test("compression ratio: repetition compresses, determinism holds") {
    import spark.implicits._
    val repetitive = "spam ham " * 200
    val varied = (1 to 400).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, repetitive), (2L, varied), (3L, "")).toDF("doc_id", "text")
    val got = TextOps.compressionRatio(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // repetitive text must compress far better than varied text
    assert(got(1L)._3 < 0.1, s"repetitive ratio ${got(1L)._3}")
    assert(got(1L)._3 < got(2L)._3 / 3)
    // empty text: neutral ratio, zero bytes
    assert(got(3L) == ((0L, got(3L)._2, 1.0)))
    // deterministic across reruns and partitionings
    val again = TextOps.compressionRatio(df.repartition(3), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(again == got)
  }

  test("zstd ratio: repetition compresses, determinism holds, fixture pins runtime") {
    import spark.implicits._
    val repetitive = "spam ham " * 200
    val varied = (1 to 400).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, repetitive), (2L, varied), (3L, "")).toDF("doc_id", "text")
    val got = TextOps.zstdCompressionRatio(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(1L)._3 < 0.1, s"repetitive ratio ${got(1L)._3}")
    assert(got(1L)._3 < got(2L)._3 / 3)
    assert(got(3L) == ((0L, got(3L)._2, 1.0)))
    val again = TextOps.zstdCompressionRatio(df.repartition(3), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(again == got)
    // the golden fixture is not a second truth: runtime at the default
    // level over sf0.01 must reproduce it bit-for-bit
    val fixture = Golden.load("sf0.01_compress_zstd_l3.json").rows
      .map(r => (r(0).toString.toDouble.toLong,
        (r(1).toString.toDouble.toLong, r(2).toString.toDouble.toLong))).toMap
    val runtime = TextOps.zstdCompressionRatio(
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(runtime == fixture, "zstd runtime byte counts must equal the fixture")
  }

  test("webp census: hand-built flavors parse; malformed fail loud") {
    import graft.ops.MultimodalOps
    def u32(v: Long) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def riff(chunks: Array[Byte]): Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++ u32(4L + chunks.length) ++
        "WEBP".getBytes("US-ASCII") ++ chunks
    // VP8 lossy: 320x240, keyframe start code
    val vp8 = riff("VP8 ".getBytes ++ u32(10) ++
      Array[Byte](0x30, 0, 0, 0x9d.toByte, 0x01, 0x2a,
        64, 1, /* 320 */ 0xf0.toByte, 0 /* 240 */))
    val m1 = MultimodalOps.webpMetaOf(
      MultimodalOps.MediaRecord(1L, "image/webp", vp8)).get
    assert(m1 == MultimodalOps.WebpMeta(1L, "VP8", 320L, 240L, 0L, 1L, vp8.length.toLong))
    // VP8L lossless: 17x9 with alpha -> bits = 16 | 8<<14 | 1<<28
    val bits = 16L | 8L << 14 | 1L << 28
    val vp8l = riff("VP8L".getBytes ++ u32(5) ++
      (0x2f.toByte +: u32(bits)) ++ Array[Byte](0))
    val m2 = MultimodalOps.webpMetaOf(
      MultimodalOps.MediaRecord(2L, "image/webp", vp8l)).get
    assert(m2 == MultimodalOps.WebpMeta(2L, "VP8L", 17L, 9L, 1L, 1L, vp8l.length.toLong))
    // VP8X extended: 100000x50000 canvas (24-bit), alpha flag, 2nd chunk
    val vp8x = riff("VP8X".getBytes ++ u32(10) ++
      Array[Byte](0x10, 0, 0, 0,
        0x9f.toByte, 0x86.toByte, 0x01, /* 99999 = 0x1869f */
        0x4f.toByte, 0xc3.toByte, 0x00 /* 49999 = 0xc34f */) ++
      "XPAY".getBytes ++ u32(3) ++ Array[Byte](7, 8, 9, 0))
    val m3 = MultimodalOps.webpMetaOf(
      MultimodalOps.MediaRecord(3L, "image/webp", vp8x)).get
    assert(m3 == MultimodalOps.WebpMeta(3L, "VP8X", 100000L, 50000L, 1L, 2L, vp8x.length.toLong))
    // malformed: non-keyframe VP8, bad VP8L version, unknown first
    // chunk, truncated chunk -> all None, never a throw
    val nonKey = vp8.clone(); nonKey(20) = 0x31
    assert(MultimodalOps.webpMetaOf(MultimodalOps.MediaRecord(4L, "x", nonKey)).isEmpty)
    val badVer = riff("VP8L".getBytes ++ u32(5) ++
      (0x2f.toByte +: u32(bits | 0x2L << 29)) ++ Array[Byte](0))
    assert(MultimodalOps.webpMetaOf(MultimodalOps.MediaRecord(5L, "x", badVer)).isEmpty)
    val unknownFirst = riff("JUNK".getBytes ++ u32(2) ++ Array[Byte](1, 2))
    assert(MultimodalOps.webpMetaOf(MultimodalOps.MediaRecord(6L, "x", unknownFirst)).isEmpty)
    assert(MultimodalOps.webpMetaOf(
      MultimodalOps.MediaRecord(7L, "x", vp8.take(vp8.length - 3))).isEmpty)
  }

  test("gif census: hand-built animation parses; strict trailer framing") {
    import graft.ops.MultimodalOps
    val out = Array.newBuilder[Byte]
    out ++= "GIF89a".getBytes("US-ASCII")
    out ++= Array[Byte](10, 0, 7, 0)          // 10 x 7
    out += (0x80 | 1).toByte                   // GCT, 4 colors
    out += 0; out += 0
    out ++= new Array[Byte](12)                // 4-color table
    // frame 1: GCE delay 25cs + descriptor + 2 data sub-blocks
    out ++= Array[Byte](0x21, 0xf9.toByte, 4, 0, 25, 0, 0, 0)
    out ++= Array[Byte](0x2c, 0, 0, 0, 0, 10, 0, 7, 0, 0, 8)
    out ++= Array[Byte](3, 1, 2, 3, 2, 4, 5, 0)
    // frame 2: GCE delay 50cs + descriptor + no data
    out ++= Array[Byte](0x21, 0xf9.toByte, 4, 0, 50, 0, 0, 0)
    out ++= Array[Byte](0x2c, 0, 0, 0, 0, 10, 0, 7, 0, 0, 8, 0)
    // a comment extension the walk must hop structurally
    out ++= Array[Byte](0x21, 0xfe.toByte, 2, 'h', 'i', 0)
    out += 0x3b.toByte
    val gif = out.result()
    val m = MultimodalOps.gifMetaOf(
      MultimodalOps.MediaRecord(1L, "image/gif", gif)).get
    assert(m == MultimodalOps.GifMeta(1L, 10L, 7L, 4L, 2L, 75L, gif.length.toLong))
    // GIF87a accepted too (no GCEs there in practice, parser is lax)
    val g87 = gif.clone(); g87(4) = '7'
    assert(MultimodalOps.gifMetaOf(
      MultimodalOps.MediaRecord(2L, "x", g87)).nonEmpty)
    // strict framing: bytes after the trailer, or no trailer -> None
    assert(MultimodalOps.gifMetaOf(
      MultimodalOps.MediaRecord(3L, "x", gif ++ Array[Byte](0))).isEmpty)
    assert(MultimodalOps.gifMetaOf(
      MultimodalOps.MediaRecord(4L, "x", gif.take(gif.length - 1))).isEmpty)
  }

  test("vorbis census: ident fields parse and a corrupt page CRC fails the census") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "alpha beta gamma delta epsilon zeta"), (6L, ""))
      .toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeVorbis(docs, "doc_id", "text").collect()
    val m5 = MultimodalOps.vorbisMetaOf(media.find(_.id == 5L).get).get
    // id 5: channels 2, rate 32000, brNom 1000*(64+16*5), tpp 1024*2
    assert(m5.channels == 2L && m5.sampleRate == 32000L)
    assert(m5.bitrateNominal == 1000L * (64 + 16 * 5))
    assert(m5.nPages == 5L && m5.lastGranule == 3L * 2048L)
    assert(m5.durationMs == 3L * 2048L * 1000L / 32000L)
    val m6 = MultimodalOps.vorbisMetaOf(media.find(_.id == 6L).get).get
    assert(m6.nPages == 5L) // empty doc still carries its page census
    // flip one body byte in the LAST page: its CRC no longer matches
    val corrupt = media.find(_.id == 5L).get.content.clone()
    corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 0x01).toByte
    assert(MultimodalOps.vorbisMetaOf(
      MultimodalOps.MediaRecord(5L, "audio/vorbis", corrupt)).isEmpty,
      "a corrupt page must fail the census, not mis-count")
  }

  test("srt cues: declared numbering, comma timings, renumber tolerance") {
    import graft.ops.MultimodalOps
    val srt =
      """1
        |00:00:01,500 --> 00:00:04,000
        |first line
        |second line
        |
        |41
        |01:02:03,004 --> 01:02:59,999
        |later cue
        |
        |00:10:00,000 --> 00:10:01,000
        |no sequence line
        |""".stripMargin
    val cues = MultimodalOps.srtCuesOf(9L, srt)
    assert(cues.length == 3)
    assert(cues(0) == MultimodalOps.SrtCue(9L, 0L, 1L, 1500L, 4000L,
      "first line\nsecond line"))
    assert(cues(1) == MultimodalOps.SrtCue(9L, 1L, 41L,
      3723004L, 3779999L, "later cue"))
    // real-world renumbered/missing sequence: cue still extracted
    assert(cues(2) == MultimodalOps.SrtCue(9L, 2L, -1L,
      600000L, 601000L, "no sequence line"))
    assert(MultimodalOps.srtCuesOf(1L, null).isEmpty)
    assert(MultimodalOps.srtCuesOf(1L, "not a subtitle file").isEmpty)
  }

  test("zip census: JDK ZipInputStream reads the synthesized shard; walk is strict") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "zip shard sample text payload for members"), (6L, ""))
      .toDF("doc_id", "text")
    val shards = MultimodalOps.synthesizeZipShard(docs, "doc_id", "text").collect()
    val s5 = shards.find(_.id == 5L).get
    // independent reader: the JDK's own zip stream must see the same
    // members with the same sizes (the tar-vs-system-tar discipline)
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(s5.content))
    val jdkSeen = Iterator.continually(zin.getNextEntry)
      .takeWhile(_ != null)
      .map { e =>
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = zin.read(tmp)
        while (n > 0) { buf.write(tmp, 0, n); n = zin.read(tmp) }
        (e.getName, buf.size.toLong)
      }.toVector
    zin.close()
    val walked = MultimodalOps.zipMembersOf(s5).get
    assert(walked.map(m => (m.name, m.uncompSize)) == jdkSeen)
    // payload reassembles from the member offsets (STORE: data follows
    // the 30-byte local header + name)
    val text5 = walked.filter(_.name.endsWith(".txt")).map { m =>
      new String(s5.content, m.localOff.toInt + 30 + m.name.length,
        m.uncompSize.toInt, "UTF-8")
    }.mkString
    assert(text5 == "zip shard sample text payload for members")
    // empty doc: members still there, txt member is 0 bytes
    val walked6 = MultimodalOps.zipMembersOf(shards.find(_.id == 6L).get).get
    assert(walked6.map(_.uncompSize) == Seq(0L, 1L))
    // strict framing: trailing garbage, truncation, corrupt local sig
    assert(MultimodalOps.zipMembersOf(MultimodalOps.MediaRecord(
      7L, "x", s5.content ++ Array[Byte](9))).isEmpty)
    assert(MultimodalOps.zipMembersOf(MultimodalOps.MediaRecord(
      7L, "x", s5.content.take(s5.content.length - 3))).isEmpty)
    val corrupt = s5.content.clone(); corrupt(0) = 0x51
    assert(MultimodalOps.zipMembersOf(MultimodalOps.MediaRecord(
      7L, "x", corrupt)).isEmpty)
    assert(MultimodalOps.zipMembersOf(MultimodalOps.MediaRecord(
      7L, "x", null)).isEmpty)
  }

  test("zip64: EOCD64 locator/record + 0x0001 extras; markers without them reject") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "zip shard sample text payload for members"), (6L, "pair"))
      .toDF("doc_id", "text")
    val shards = MultimodalOps.synthesizeZipShard(docs, "doc_id", "text").collect()
    val z64 = shards.find(_.id == 5L).get  // odd id = the ZIP64 arm
    val cls = shards.find(_.id == 6L).get  // even id = classic
    // the odd arm is GENUINELY zip64 on the wire: classic EOCD entry
    // count is the 0xFFFF marker, and the locator signature precedes it
    val b = z64.content
    val eocd = b.length - 22
    assert((b(eocd + 10) & 0xff) == 0xff && (b(eocd + 11) & 0xff) == 0xff)
    assert(b(eocd - 20) == 0x50 && b(eocd - 19) == 0x4b &&
      b(eocd - 18) == 0x06 && b(eocd - 17) == 0x07)
    // while the even arm has none of it
    val ce = cls.content.length - 22
    assert((cls.content(ce + 10) & 0xff) != 0xff)
    // independent reader: java.util.zip.ZipFile walks the CENTRAL
    // directory (zip64-aware), unlike ZipInputStream's local-header
    // scan — both readers, same member table
    val tmp = java.nio.file.Files.createTempFile("graft-zip64", ".zip")
    try {
      java.nio.file.Files.write(tmp, b)
      val zf = new java.util.zip.ZipFile(tmp.toFile)
      val jdk = try {
        import scala.jdk.CollectionConverters._
        zf.entries().asScala.map(e => (e.getName, e.getSize)).toVector
      } finally zf.close()
      val walked = MultimodalOps.zipMembersOf(z64).get
      assert(walked.map(m => (m.name, m.uncompSize)) == jdk)
      // and the resolved (non-marker) values reassemble the payload
      val text = walked.filter(_.name.endsWith(".txt")).map { m =>
        new String(b, m.localOff.toInt + 30 + m.name.length,
          m.uncompSize.toInt, "UTF-8")
      }.mkString
      assert(text == "zip shard sample text payload for members")
    } finally java.nio.file.Files.deleteIfExists(tmp)
    // classic markers WITHOUT the zip64 structures are a framing
    // error: truncate away the EOCD64 record + locator, keep the
    // all-marker EOCD — must reject, never census zero members
    val markerOnly = java.util.Arrays.copyOfRange(b, 0, b.length - 22) match {
      case body =>
        // find where the EOCD64 record begins (the locator points at it)
        def u64le(a: Array[Byte], off: Int): Long =
          (0 until 8).map(i => (a(off + i) & 0xffL) << (8 * i)).sum
        val e64 = u64le(b, eocd - 20 + 8).toInt
        java.util.Arrays.copyOfRange(b, 0, e64) ++
          java.util.Arrays.copyOfRange(b, eocd, b.length)
    }
    assert(MultimodalOps.zipMembersOf(
      MultimodalOps.MediaRecord(9L, "x", markerOnly)).isEmpty)
    // a corrupted EOCD64 signature rejects too
    val badRec = b.clone()
    def u64le2(a: Array[Byte], off: Int): Long =
      (0 until 8).map(i => (a(off + i) & 0xffL) << (8 * i)).sum
    badRec(u64le2(b, eocd - 20 + 8).toInt) = 0x51
    assert(MultimodalOps.zipMembersOf(
      MultimodalOps.MediaRecord(9L, "x", badRec)).isEmpty)
  }

  test("gguf census: alignment honored from metadata, strict spans, quantized rejected") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((7L, "x"), (8L, "y")).toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeGguf(docs, "doc_id").collect()
    val s7 = media.find(_.id == 7L).get
    val ts = MultimodalOps.ggufTensorsOf(s7).get
    assert(ts.length == 2) // 1 + 7 % 3
    // tensor 0: dims (1+7%8, 1+7%16) = (8, 8), F16 (7%2=1) -> 128 B
    assert(ts(0).name == "blk.0.weight" && ts(0).typeId == 1L)
    assert(ts(0).nElements == 64L && ts(0).nTensorBytes == 128L)
    assert(ts(0).relOffset == 0L && ts(0).kvCount == 2L)
    // tensor 1: dims (1, 9), F32 -> 36 B at the 32-aligned offset 128
    assert(ts(1).relOffset == 128L && ts(1).nTensorBytes == 36L)
    // offsets are absolute-seekable: abs = 32-aligned data start + rel
    assert(ts(0).absOffset % 32L == 0L)
    assert(ts(1).absOffset == ts(0).absOffset + 128L)
    assert(ts(1).absOffset + 36L == s7.content.length.toLong)
    // a quantized type id the size table doesn't know is REJECTED, not
    // guessed (type id patch at the first tensor's type field)
    val q = s7.content.clone()
    val typeOff = ts(0).absOffset.toInt // recompute: find via parse instead
    // patch: first tensor info's type field = header(24)+kv(78)+name(20)+ndims(4)+dims(16)
    val infoType = 24 + 78 + 20 + 4 + 16
    q(infoType) = 2 // Q4_0
    assert(MultimodalOps.ggufTensorsOf(MultimodalOps.MediaRecord(7L, "x", q)).isEmpty)
    // truncation, bad magic, null: None, never a throw
    assert(MultimodalOps.ggufTensorsOf(MultimodalOps.MediaRecord(
      7L, "x", s7.content.take(s7.content.length - 1))).isEmpty)
    val bad = s7.content.clone(); bad(0) = 'X'
    assert(MultimodalOps.ggufTensorsOf(MultimodalOps.MediaRecord(7L, "x", bad)).isEmpty)
    assert(MultimodalOps.ggufTensorsOf(MultimodalOps.MediaRecord(7L, "x", null)).isEmpty)
  }

  test("streaming shard census: exactly-once per landed file across waves") {
    import spark.implicits._
    import graft.ops.{MultimodalOps, StreamingOps}
    val docs = Seq((1L, "first shard text tokens"), (2L, "second wave doc"),
      (3L, "third doc payload here")).toDF("doc_id", "text")
    val shards = MultimodalOps.synthesizeTarShard(docs, "doc_id", "text")
      .collect()
    val dir = java.nio.file.Files.createTempDirectory("landing")
    def land(id: Long): Unit = java.nio.file.Files.write(
      dir.resolve(s"shard-$id.tar"), shards.find(_.id == id).get.content)
    land(1L)
    val name = s"wave_census_${System.nanoTime()}"
    val q = StreamingOps.shardCensusStream(spark, dir.toString)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .start()
    try {
      q.processAllAvailable()
      val wave1 = spark.table(name).collect()
      assert(wave1.map(_.getLong(0)).toSet == Set(1L))
      // wave 2 lands two more shards; the first is NOT re-censused
      land(2L); land(3L)
      q.processAllAvailable()
      val all = spark.table(name).collect()
      assert(all.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
      // exactly-once: drained stream == batch walk, no duplicates
      val batch = MultimodalOps.tarMembers(
        spark.createDataset(shards.toSeq)).collect()
      assert(all.map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(5))).sorted.toSeq ==
        batch.map(m => (m.id, m.memberIdx, m.name, m.size, m.dataOffset))
          .sorted.toSeq)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  test("drain runner: driver-side batch listing conf is scoped and restored") {
    import spark.implicits._
    import graft.ops.{MultimodalOps, StreamingOps}
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val docs = Seq((1L, "alpha doc"), (2L, "beta doc")).toDF("doc_id", "text")
    val shards = MultimodalOps.synthesizeTarShard(docs, "doc_id", "text")
      .collect()
    val dir = java.nio.file.Files.createTempDirectory("landing-conf")
    shards.foreach(s => java.nio.file.Files.write(
      dir.resolve(s"shard-${s.id}.tar"), s.content))
    // a caller-set prior value must survive the runner (restore, not unset)
    spark.conf.set(key, 77)
    val out = StreamingOps.runShardCensusStream(spark, dir.toString)
    assert(out.select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(spark.conf.get(key) == "77")
    // and with NO prior value, the runner leaves the conf unset (default)
    spark.conf.unset(key)
    StreamingOps.runShardCensusStream(spark, dir.toString)
    assert(spark.conf.getOption(key).forall(_ == "32"))
  }

  test("synthesis spread is idempotent under an explicit round-robin fan-out") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val docs = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    def nRoundRobin(df: org.apache.spark.sql.Dataset[_]): Int =
      df.queryExecution.analyzed.collect { case r: Repartition => r }.size
    // un-spread input: synthesize adds its own fan-out
    assert(nRoundRobin(MultimodalOps.synthesizeMp3(docs, "doc_id", "text")) == 1)
    // caller already fanned out (the q_media_sniff shape: Filter over
    // an explicit repartition): synthesize must NOT add a second one
    val pre = docs.repartition(4).filter(col("doc_id") % 2 === 1)
    assert(nRoundRobin(MultimodalOps.synthesizeMp3(pre, "doc_id", "text")) == 1)
    // a RANGE repartition serves ordering, not fan-out — spread still applies
    val ranged = docs.repartitionByRange(2, col("doc_id"))
    assert(nRoundRobin(MultimodalOps.synthesizeMp3(ranged, "doc_id", "text")) == 1)
    // and the content is unchanged either way
    val a = MultimodalOps.synthesizeMp3(docs, "doc_id", "text")
      .collect().map(r => (r.id, r.content.toSeq)).sortBy(_._1)
    val b = MultimodalOps.synthesizeMp3(docs.repartition(4), "doc_id", "text")
      .collect().map(r => (r.id, r.content.toSeq)).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("synthesis spread: graft.spread.force=true (session conf) disables the idempotence skip") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val docs = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    def nRoundRobin(df: org.apache.spark.sql.Dataset[_]): Int =
      df.queryExecution.analyzed.collect { case r: Repartition => r }.size
    val pre = docs.repartition(4)
    val prior = spark.conf.getOption("graft.spread.force")
    try {
      spark.conf.set("graft.spread.force", "true")
      // forced: spread adds its exchange even over a pre-fanned input
      assert(nRoundRobin(MultimodalOps.synthesizeMp3(pre, "doc_id", "text")) == 2)
      // content identical under the forced path
      val forced = MultimodalOps.synthesizeMp3(pre, "doc_id", "text")
        .collect().map(r => (r.id, r.content.toSeq)).sortBy(_._1)
      spark.conf.set("graft.spread.force", "false")
      // only an explicit true forces: "false" restores the skip
      assert(nRoundRobin(MultimodalOps.synthesizeMp3(pre, "doc_id", "text")) == 1)
      val skipped = MultimodalOps.synthesizeMp3(pre, "doc_id", "text")
        .collect().map(r => (r.id, r.content.toSeq)).sortBy(_._1)
      assert(forced.toSeq == skipped.toSeq)
    } finally {
      prior match {
        case Some(v) => spark.conf.set("graft.spread.force", v)
        case None => spark.conf.unset("graft.spread.force")
      }
    }
  }

  test("streaming warc cdx: exactly-once per landed segment across waves") {
    import spark.implicits._
    import graft.ops.{MultimodalOps, StreamingOps}
    val docs = Seq((1L, "first crawl segment text"), (2L, "second wave page"),
      (5L, "third segment body here")).toDF("doc_id", "text")
    val segs = MultimodalOps.synthesizeWarcGz(docs, "doc_id", "text")
      .collect()
    val dir = java.nio.file.Files.createTempDirectory("cc-landing")
    def land(id: Long): Unit = java.nio.file.Files.write(
      dir.resolve(s"shard-$id.warc.gz"), segs.find(_.id == id).get.content)
    land(1L)
    val name = s"cdx_wave_${System.nanoTime()}"
    val q = StreamingOps.warcCdxStream(spark, dir.toString)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).collect().map(_.getLong(0)).toSet == Set(1L))
      // wave 2: two more segments land; segment 1 is NOT re-censused
      land(2L); land(5L)
      q.processAllAvailable()
      val all = spark.table(name).collect()
      // exactly-once: drained stream == the batch walk, no duplicates
      val batch = MultimodalOps.warcGzRecords(
        spark.createDataset(segs.toSeq)).collect()
      assert(all.length == batch.length)
      assert(all.map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(6), r.getLong(7))).sorted.toSeq ==
        batch.map(c => (c.id, c.recIdx, c.warcType, c.targetUri,
          c.recordBytes, c.contentLength)).sorted.toSeq)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  test("shard census file sink: exactly-once across restart on the checkpoint") {
    import spark.implicits._
    import graft.ops.{MultimodalOps, StreamingOps}
    val docs = Seq((1L, "first shard text tokens"), (2L, "second wave doc"),
      (3L, "third doc payload here"), (4L, "fourth arrives later"),
      (5L, "fifth closes the wave")).toDF("doc_id", "text")
    val shards = MultimodalOps.synthesizeTarShard(docs, "doc_id", "text")
      .collect()
    val landing = java.nio.file.Files.createTempDirectory("landing-fs")
    val out = java.nio.file.Files.createTempDirectory("census-out")
    val ckpt = java.nio.file.Files.createTempDirectory("census-ckpt")
    def land(id: Long): Unit = java.nio.file.Files.write(
      landing.resolve(s"shard-$id.tar"), shards.find(_.id == id).get.content)
    // run 1: three shards drain to parquet, then the query TERMINATES
    // (AvailableNow) — the kill point every restart story starts from
    land(1L); land(2L); land(3L)
    StreamingOps.runShardCensusStreamToFiles(
      spark, landing.toString, out.toString, ckpt.toString)
    val afterRun1 = spark.read.parquet(out.toString).collect()
    assert(afterRun1.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // run 2: two more shards land; RESUME on the same checkpoint +
    // sink — wave-1 shards must not be re-censused (checkpointed
    // source state), wave-2 must appear (the delta drains)
    land(4L); land(5L)
    StreamingOps.runShardCensusStreamToFiles(
      spark, landing.toString, out.toString, ckpt.toString)
    val all = spark.read.parquet(out.toString).collect()
    val batch = MultimodalOps.tarMembers(
      spark.createDataset(shards.toSeq)).collect()
    // exactly-once: resumed stream total == batch walk, no dup rows
    assert(all.map(r => (r.getLong(0), r.getLong(1), r.getString(2),
      r.getLong(3), r.getLong(5))).sorted.toSeq ==
      batch.map(m => (m.id, m.memberIdx, m.name, m.size, m.dataOffset))
        .sorted.toSeq)
    // the sink's transaction log is present — the reader-side half of
    // the exactly-once contract (uncommitted batches stay invisible)
    assert(java.nio.file.Files.exists(out.resolve("_spark_metadata")))
  }

  test("avro census: the Avro library's own reader consumes the synthesized file") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "avro container payload split across blocks"), (6L, ""))
      .toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeAvro(docs, "doc_id", "text").collect()
    val s5 = media.find(_.id == 5L).get
    // independent reader: org.apache.avro's DataFileReader must decode
    // the same records (the ZipInputStream / system-tar discipline)
    val reader = new org.apache.avro.file.DataFileReader(
      new org.apache.avro.file.SeekableByteArrayInput(s5.content),
      new org.apache.avro.generic.GenericDatumReader[java.nio.ByteBuffer]())
    val decoded = Iterator.continually(
      if (reader.hasNext) Some(reader.next()) else None)
      .takeWhile(_.isDefined).map { bb =>
        val buf = bb.get
        val arr = new Array[Byte](buf.remaining()); buf.get(arr)
        new String(arr, "UTF-8")
      }.toVector
    assert(reader.getMetaString("avro.codec") == "null")
    reader.close()
    assert(decoded.mkString == "avro container payload split across blocks")
    assert(decoded.length == 3) // 1 + 5 % 3 blocks x 1 record
    // our walk agrees with the library on the block census
    val blocks = MultimodalOps.avroBlocksOf(s5).get
    assert(blocks.length == 3 && blocks.forall(_.nRecords == 1L))
    assert(blocks.forall(_.codec == "null"))
    // a corrupt sync marker fails the census (the format's seal)
    val corrupt = s5.content.clone()
    corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 1).toByte
    assert(MultimodalOps.avroBlocksOf(
      MultimodalOps.MediaRecord(5L, "x", corrupt)).isEmpty)
    assert(MultimodalOps.avroBlocksOf(MultimodalOps.MediaRecord(
      5L, "x", s5.content.take(70))).isEmpty)
    assert(MultimodalOps.avroBlocksOf(
      MultimodalOps.MediaRecord(5L, "x", null)).isEmpty)
    // empty doc: one zero-byte record still framed
    assert(MultimodalOps.avroBlocksOf(media.find(_.id == 6L).get).get
      .map(_.dataSize) == Seq(1L)) // varint(0) alone
  }

  test("iceberg manifest: entry decode matches Avro's GenericDatumReader; gates hold") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "a"), (10L, "b"), (7L, "c")).toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeIcebergManifest(docs, "doc_id").collect()
    for (m <- media) {
      // independent reader: the Avro library decodes the same entries
      // through the writer schema in the header (the DataFileReader
      // discipline of the block census)
      val reader = new org.apache.avro.file.DataFileReader(
        new org.apache.avro.file.SeekableByteArrayInput(m.content),
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      val lib = Iterator.continually(
        if (reader.hasNext) Some(reader.next()) else None)
        .takeWhile(_.isDefined).map { o =>
          val rec = o.get
          val df = rec.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
          val snap = rec.get("snapshot_id")
          (rec.get("status").asInstanceOf[Int].toLong,
            if (snap == null) -1L else snap.asInstanceOf[Long],
            df.get("file_path").toString, df.get("file_format").toString,
            df.get("record_count").asInstanceOf[Long],
            df.get("file_size_in_bytes").asInstanceOf[Long])
        }.toVector
      reader.close()
      val ours = MultimodalOps.icebergManifestEntriesOf(m).get.map(e =>
        (e.status, e.snapshotId, e.filePath, e.fileFormat, e.recordCount,
          e.fileSizeInBytes))
      assert(ours == lib, s"id ${m.id}")
      assert(ours.length == 1 + (m.id % 3).toInt)
    }
    // id 10 (id%5==0): entry 0 took the null snapshot union branch
    val e10 = MultimodalOps.icebergManifestEntriesOf(
      media.find(_.id == 10L).get).get
    assert(e10.head.snapshotId == -1L && e10(1).snapshotId == 3010L)
    // schema gate: a container with a DIFFERENT writer schema (the
    // plain bytes-schema shard) must be rejected, not mis-decoded
    val plainAvro = MultimodalOps.synthesizeAvro(docs, "doc_id", "text")
      .collect().head
    assert(MultimodalOps.icebergManifestEntriesOf(plainAvro).isEmpty)
    // ...while the generic block census still reads the manifest
    val blocks = MultimodalOps.avroBlocksOf(media.find(_.id == 7L).get).get
    assert(blocks.length == 2 && blocks.forall(_.nRecords == 1L))
    // corrupt sync seal / truncation / null all reject
    val corrupt = media.head.content.clone()
    corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 1).toByte
    assert(MultimodalOps.icebergManifestEntriesOf(
      MultimodalOps.MediaRecord(5L, "x", corrupt)).isEmpty)
    assert(MultimodalOps.icebergManifestEntriesOf(MultimodalOps.MediaRecord(
      5L, "x", media.head.content.take(90))).isEmpty)
    assert(MultimodalOps.icebergManifestEntriesOf(
      MultimodalOps.MediaRecord(5L, "x", null)).isEmpty)
    // a status outside 0..2 is a framing error (strict field domain)
    val entries = MultimodalOps.icebergManifestEntriesOf(media.head).get
    assert(entries.forall(e => e.status >= 0 && e.status <= 2))
    // v1 entries default content = 0 (data files)
    assert(entries.forall(_.content == 0L))
  }

  test("iceberg manifest v2: schema-driven decode skips partition/stats; Avro cross-check") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "a"), (10L, "b"), (7L, "c"), (4L, "d"))
      .toDF("doc_id", "text")
    // production-shaped v2 manifests WRITTEN BY THE AVRO LIBRARY:
    // sequence numbers, content, partition struct, column-stats
    // arrays, bounds bytes, split offsets — the census must extract
    // its fields and SKIP the rest by the embedded writer schema
    val media = MultimodalOps.synthesizeIcebergManifestV2(docs, "doc_id")
      .collect()
    for (m <- media) {
      val reader = new org.apache.avro.file.DataFileReader(
        new org.apache.avro.file.SeekableByteArrayInput(m.content),
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      val lib = Iterator.continually(
        if (reader.hasNext) Some(reader.next()) else None)
        .takeWhile(_.isDefined).map { o =>
          val rec = o.get
          val df = rec.get("data_file")
            .asInstanceOf[org.apache.avro.generic.GenericRecord]
          val snap = rec.get("snapshot_id")
          (rec.get("status").asInstanceOf[Int].toLong,
            if (snap == null) -1L else snap.asInstanceOf[Long],
            df.get("content").asInstanceOf[Int].toLong,
            df.get("file_path").toString, df.get("file_format").toString,
            df.get("record_count").asInstanceOf[Long],
            df.get("file_size_in_bytes").asInstanceOf[Long])
        }.toVector
      reader.close()
      val ours = MultimodalOps.icebergManifestEntriesOf(m)
        .getOrElse(fail(s"v2 manifest ${m.id} rejected")).map(e =>
          (e.status, e.snapshotId, e.content, e.filePath, e.fileFormat,
            e.recordCount, e.fileSizeInBytes))
      assert(ours == lib, s"id ${m.id}")
      assert(ours.length == 1 + (m.id % 3).toInt)
    }
    // delete-file kinds surface: content cycles (id + k) % 3
    val e5 = MultimodalOps.icebergManifestEntriesOf(
      media.find(_.id == 5L).get).get
    assert(e5.map(_.content) == Seq(2L, 0L, 1L))
    // truncation / corrupt seal reject for v2 exactly as v1
    val v = media.head.content
    assert(MultimodalOps.icebergManifestEntriesOf(
      MultimodalOps.MediaRecord(1L, "x", v.take(v.length - 3))).isEmpty)
  }

  test("avro schema-driven skip: map/enum/fixed/named-ref fields walk correctly") {
    import graft.ops.MultimodalOps
    // a writer schema exercising every AvType the manifest decoder
    // may need to SKIP: map, enum, fixed, double, boolean, and a
    // NAMED back-reference to a fixed type — library writes, the
    // schema-driven entry decode must hop all of it by wire shape
    val schemaJson =
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"exotic","type":{"type":"map","values":"long"}},
        |{"name":"kind","type":{"type":"enum","name":"K","symbols":["A","B","C"]}},
        |{"name":"sig","type":{"type":"fixed","name":"Sig","size":6}},
        |{"name":"sig2","type":"Sig"},
        |{"name":"ratio","type":"double"},
        |{"name":"flag","type":"boolean"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"props","type":{"type":"map","values":"string"}},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}]}}]}"""
        .stripMargin.replaceAll("\n", "")
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    val writer = new org.apache.avro.generic.GenericDatumWriter[
      org.apache.avro.generic.GenericRecord](schema)
    val dfw = new org.apache.avro.file.DataFileWriter(writer)
    val bos = new java.io.ByteArrayOutputStream()
    dfw.create(schema, bos)
    val rec = new org.apache.avro.generic.GenericData.Record(schema)
    rec.put("status", 1)
    rec.put("snapshot_id", java.lang.Long.valueOf(42L))
    val m = new java.util.HashMap[String, java.lang.Long]()
    m.put("a", 7L); m.put("bb", 9L)
    rec.put("exotic", m)
    rec.put("kind", new org.apache.avro.generic.GenericData.EnumSymbol(
      schema.getField("kind").schema(), "B"))
    val sigBytes = new org.apache.avro.generic.GenericData.Fixed(
      schema.getField("sig").schema(), Array[Byte](1, 2, 3, 4, 5, 6))
    rec.put("sig", sigBytes)
    rec.put("sig2", sigBytes)
    rec.put("ratio", java.lang.Double.valueOf(2.5))
    rec.put("flag", java.lang.Boolean.TRUE)
    val df2 = new org.apache.avro.generic.GenericData.Record(
      schema.getField("data_file").schema())
    df2.put("file_path", "data/x.parquet")
    df2.put("file_format", "PARQUET")
    val props = new java.util.HashMap[String, String]()
    props.put("k", "v")
    df2.put("props", props)
    df2.put("record_count", java.lang.Long.valueOf(100L))
    df2.put("file_size_in_bytes", java.lang.Long.valueOf(2048L))
    rec.put("data_file", df2)
    dfw.append(rec); dfw.close()
    val got = MultimodalOps.icebergManifestEntriesOf(
      MultimodalOps.MediaRecord(9L, "a", bos.toByteArray))
      .getOrElse(fail("exotic-schema manifest rejected"))
    assert(got.length == 1)
    val e = got.head
    assert(e.status == 1L && e.snapshotId == 42L &&
      e.filePath == "data/x.parquet" && e.fileFormat == "PARQUET" &&
      e.recordCount == 100L && e.fileSizeInBytes == 2048L &&
      e.content == 0L)
  }

  test("iceberg manifest list: library cross-check; schema gates keep levels apart") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((3L, "x"), (8L, "y")).toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeIcebergManifestList(docs, "doc_id")
      .collect()
    for (m <- media) {
      val reader = new org.apache.avro.file.DataFileReader(
        new org.apache.avro.file.SeekableByteArrayInput(m.content),
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      val lib = Iterator.continually(
        if (reader.hasNext) Some(reader.next()) else None)
        .takeWhile(_.isDefined).map { o =>
          val r = o.get
          (r.get("manifest_path").toString,
            r.get("manifest_length").asInstanceOf[Long],
            r.get("partition_spec_id").asInstanceOf[Int].toLong,
            r.get("added_snapshot_id").asInstanceOf[Long],
            r.get("added_files_count").asInstanceOf[Int].toLong,
            r.get("existing_files_count").asInstanceOf[Int].toLong,
            r.get("deleted_files_count").asInstanceOf[Int].toLong)
        }.toVector
      reader.close()
      val ours = MultimodalOps.icebergManifestListOf(m).get.map(e =>
        (e.manifestPath, e.manifestLength, e.partitionSpecId,
          e.addedSnapshotId, e.addedFilesCount, e.existingFilesCount,
          e.deletedFilesCount))
      assert(ours == lib, s"id ${m.id}")
      assert(ours.length == 1 + (m.id % 4).toInt)
    }
    // the two Iceberg levels must not cross-decode: each decoder's
    // schema gate rejects the other's container
    val manifests = MultimodalOps.synthesizeIcebergManifest(docs, "doc_id")
      .collect()
    assert(MultimodalOps.icebergManifestListOf(manifests.head).isEmpty)
    assert(MultimodalOps.icebergManifestEntriesOf(media.head).isEmpty)
    // ...and the generic block census reads both
    assert(MultimodalOps.avroBlocksOf(media.head).nonEmpty)
    // corrupt sync / truncation / null reject
    val corrupt = media.head.content.clone()
    corrupt(corrupt.length - 5) = (corrupt(corrupt.length - 5) ^ 1).toByte
    assert(MultimodalOps.icebergManifestListOf(
      MultimodalOps.MediaRecord(3L, "x", corrupt)).isEmpty)
    assert(MultimodalOps.icebergManifestListOf(MultimodalOps.MediaRecord(
      3L, "x", media.head.content.take(100))).isEmpty)
    assert(MultimodalOps.icebergManifestListOf(
      MultimodalOps.MediaRecord(3L, "x", null)).isEmpty)
  }

  test("iceberg manifest list v2: schema-driven decode, both count generations, library cross-check") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((3L, "x"), (8L, "y"), (5L, "z")).toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeIcebergManifestListV2(docs, "doc_id")
      .collect()
    for (m <- media) {
      val entries = MultimodalOps.icebergManifestListOf(m)
        .getOrElse(fail(s"v2 list ${m.id} rejected"))
      assert(entries.length == 1 + (m.id % 4).toInt)
      entries.zipWithIndex.foreach { case (e, k) =>
        assert(e.manifestPath == s"meta/m2-${m.id}-$k.avro")
        assert(e.content == (m.id + k) % 2) // delete-manifest pruning kind
        assert(e.sequenceNumber == 10L + (m.id + k) % 9)
        assert(e.minSequenceNumber == 1L + (m.id + k) % 5)
        // the RENAMED v2 count fields land in the same columns
        assert(e.addedFilesCount == (m.id + k) % 7)
        assert(e.existingFilesCount == (m.id + 2 * k) % 5)
        assert(e.deletedFilesCount == (m.id + 3 * k) % 3)
      }
      // library cross-check on the paths (partition summaries and
      // row counts ride along and must be skipped cleanly)
      val reader = new org.apache.avro.file.DataFileReader(
        new org.apache.avro.file.SeekableByteArrayInput(m.content),
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      val libPaths = Iterator.continually(
        if (reader.hasNext) Some(reader.next()) else None)
        .takeWhile(_.isDefined)
        .map(_.get.get("manifest_path").toString).toVector
      reader.close()
      assert(entries.map(_.manifestPath).toVector == libPaths)
    }
    // v1 lists still decode through the schema-driven walk (the
    // exact-string gate is gone, not replaced by a v2-only one)
    val v1 = MultimodalOps.synthesizeIcebergManifestList(docs, "doc_id")
      .collect().head
    assert(MultimodalOps.icebergManifestListOf(v1).nonEmpty)
  }

  test("tfrecord census: known CRC-32C vector, verified framing, flip fails loud") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // independent anchor: the standard CRC-32C check value
    // crc32c("123456789") = 0xE3069283, masked by the TF rule
    val nine = "123456789".getBytes("US-ASCII")
    val expected = ((0xE3069283L >>> 15) | (0xE3069283L << 17)) +
      0xa282ead8L & 0xffffffffL
    assert(MultimodalOps.maskedCrc32c(nine, 0, 9) == expected)
    val docs = Seq((7L, "tfrecord shard payload split across records"), (8L, ""))
      .toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeTfRecordShard(docs, "doc_id", "text")
      .collect()
    val s7 = media.find(_.id == 7L).get
    val recs = MultimodalOps.tfRecordsOf(s7).get
    assert(recs.length == 4) // 1 + 7 % 4
    // payload reassembles from the offsets (data starts 12 bytes in)
    val text7 = recs.map(r => new String(
      s7.content, r.offset.toInt + 12, r.length.toInt, "UTF-8")).mkString
    assert(text7 == "tfrecord shard payload split across records")
    // empty doc: zero-length records still framed and verified
    val recs8 = MultimodalOps.tfRecordsOf(media.find(_.id == 8L).get).get
    assert(recs8.length == 1 && recs8.head.length == 0L)
    // one flipped payload byte: the data CRC fails the census
    val flip = s7.content.clone()
    flip(recs(1).offset.toInt + 12) = (flip(recs(1).offset.toInt + 12) ^ 1).toByte
    assert(MultimodalOps.tfRecordsOf(
      MultimodalOps.MediaRecord(7L, "x", flip)).isEmpty)
    // a flipped length byte: the length CRC fails first
    val flen = s7.content.clone(); flen(0) = (flen(0) ^ 1).toByte
    assert(MultimodalOps.tfRecordsOf(
      MultimodalOps.MediaRecord(7L, "x", flen)).isEmpty)
    // truncation and null: None, never a throw
    assert(MultimodalOps.tfRecordsOf(MultimodalOps.MediaRecord(
      7L, "x", s7.content.take(s7.content.length - 2))).isEmpty)
    assert(MultimodalOps.tfRecordsOf(
      MultimodalOps.MediaRecord(7L, "x", null)).isEmpty)
  }

  test("avif census: hand-built box tree parses; wrong brand and truncation fail loud") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((9L, "avif payload bytes"), (10L, "")).toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeAvif(docs, "doc_id", "text").collect()
    val m9 = MultimodalOps.avifMetaOf(media.find(_.id == 9L).get).get
    // id 9: w = 1 + 9 % 1200, h = 1 + 9 % 900, items 1 + 9 % 2 = 2,
    // primary 1 + 9 % 7 = 3
    assert(m9 == MultimodalOps.AvifMeta(9L, 10L, 10L, 2L, 3L,
      media.find(_.id == 9L).get.content.length.toLong))
    val m10 = MultimodalOps.avifMetaOf(media.find(_.id == 10L).get).get
    assert(m10.nItems == 1L && m10.width == 11L && m10.height == 11L)
    // wrong major brand (heic) must not pass the avif gate
    val heic = media.find(_.id == 9L).get.content.clone()
    heic(8) = 'h'; heic(9) = 'e'; heic(10) = 'i'; heic(11) = 'c'
    assert(MultimodalOps.avifMetaOf(
      MultimodalOps.MediaRecord(9L, "x", heic)).isEmpty)
    // truncation inside the meta box fails the walk, never throws
    assert(MultimodalOps.avifMetaOf(MultimodalOps.MediaRecord(
      9L, "x", media.find(_.id == 9L).get.content.take(60))).isEmpty)
    assert(MultimodalOps.avifMetaOf(
      MultimodalOps.MediaRecord(9L, "x", null)).isEmpty)
  }

  test("hls census: exact-ms durations, rolling sequence, live/vod and malformed shapes") {
    import graft.ops.MultimodalOps
    val m3u8 =
      """#EXTM3U
        |#EXT-X-VERSION:3
        |#EXT-X-TARGETDURATION:4
        |#EXT-X-MEDIA-SEQUENCE:17
        |#EXTINF:3.003,
        |seg0.ts
        |#EXTINF:2.5,first title
        |seg1.ts
        |#EXT-X-DISCONTINUITY
        |#EXTINF:4,
        |seg2.ts
        |#EXT-X-ENDLIST
        |""".stripMargin
    val segs = MultimodalOps.hlsSegmentsOf(3L, m3u8)
    assert(segs == Seq(
      MultimodalOps.HlsSegment(3L, 0L, 17L, 3003L, "seg0.ts"),
      MultimodalOps.HlsSegment(3L, 1L, 18L, 2500L, "seg1.ts"),
      MultimodalOps.HlsSegment(3L, 2L, 19L, 4000L, "seg2.ts")))
    // EXTINF with no URI (end of live playlist), bad duration: dropped
    assert(MultimodalOps.hlsSegmentsOf(1L,
      "#EXTM3U\n#EXTINF:2.0,\n#EXT-X-ENDLIST\n").isEmpty)
    assert(MultimodalOps.hlsSegmentsOf(1L,
      "#EXTM3U\n#EXTINF:abc,\nseg.ts\n").isEmpty)
    assert(MultimodalOps.hlsSegmentsOf(1L, "not a playlist").isEmpty)
    assert(MultimodalOps.hlsSegmentsOf(1L, null).isEmpty)
    // four fractional digits exceed the format's ms precision: dropped
    assert(MultimodalOps.hlsSegmentsOf(1L,
      "#EXTM3U\n#EXTINF:2.0001,\nseg.ts\n").isEmpty)
  }

  test("tf-idf top terms: exact keywords on a crafted corpus") {
    import spark.implicits._
    // 3 docs; "rare" only in doc 1, "the" in all three
    val df = Seq((1L, "rare the the"), (2L, "the common common"),
      (3L, "the common word")).toDF("doc_id", "text")
    val got = TextOps.tfIdfTopTerms(df, "doc_id", "text", k = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // Spark's log expression evaluates via StrictMath (1 ulp off
    // Math.log for some inputs, e.g. ln 3)
    def s(tf: Long, dfc: Long) = tf.toDouble * StrictMath.log(3.0 / dfc)
    // doc 1: rare (1, df 1) beats the (tf 2, df 3 -> idf 0)
    assert(got((1L, 1L)) == (("rare", 1L, 1L, s(1, 1))))
    assert(got((1L, 2L))._1 == "the" && got((1L, 2L))._4 == s(2, 3))
    // doc 2: common tf 2 df 2 ranks first
    assert(got((2L, 1L)) == (("common", 2L, 2L, s(2, 2))))
  }

  test("BPE pair counts: exact decision table on a crafted corpus") {
    import spark.implicits._
    // "abab" pairs: ab, ba, ab ; "ab" pairs: ab ; "x" none
    val df = Seq((1L, "abab ab x"), (2L, "ba")).toDF("doc_id", "text")
    val got = TextOps.bpePairCounts(df, "text", topK = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "ab", 3L), (2L, "ba", 2L)))
  }

  test("persisted IVF index: pruned probe reads equal the in-memory path") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = SimilarityOps.deterministicCentroids(
      emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
    val idx = s"/tmp/graft-test-ivf-${System.nanoTime()}"
    SimilarityOps.saveIvfIndex(emb, "vec_id", "embedding", cents, idx)
    val queries = emb.filter(col("vec_id") < 8)
    val fromIndex = SimilarityOps.ivfTopKFromIndex(
      spark, idx, queries, "vec_id", "embedding", cents, nProbe = 4, k = 10)
    val direct = SimilarityOps.ivfTopKWithCentroids(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding",
      cents, nProbe = 4, k = 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    assert(rows(fromIndex).toSeq == rows(direct).toSeq)
    // the scan must PRUNE to probed cell directories at planning time
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    // probing 8 queries x 4 cells cannot touch all 16 cells' files
    // unwrap AQE to reach the actual scans, then count the pruned
    // partition directories each scan will read
    def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          leaves(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          leaves(s.plan)
        case other if other.children.isEmpty => Seq(other)
        case other => other.children.flatMap(leaves)
      }
    val probed = leaves(fromIndex.queryExecution.executedPlan)
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(idx)) =>
          s.selectedPartitions.partitionCount }
    assert(probed.nonEmpty && probed.forall(_ <= 16), probed)
  }

  test("bloom decontamination: no false negatives vs the exact gram join") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "prefix words then alpha beta gamma inside"),
      (3L, "totally unrelated content with no shared trigrams at all"))
      .toDF("doc_id", "text")
    val positions = TextOps.bloomBuild(bench, "text", n = 3)
    // 4 distinct benchmark grams × k=4 → ≤ 16 positions of 2^17 set
    assert(positions.length <= 16 && positions.forall(p => p >= 0 && p < (1 << 17)))
    val bloom = TextOps.bloomContamination(corpus, "doc_id", "text", positions, n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = TextOps.contaminationScores(corpus, "doc_id", "text", bench, "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a bloom filter can over-count (false positives), never under-count
    exact.foreach { case (id, n) => assert(bloom(id)._2 >= n) }
    // at 16/131072 bits set, a false positive needs a 4-probe collision
    // (~1e-15): the counts are exact here in practice
    assert(bloom(1L)._2 == 4L && bloom(2L)._2 == 1L && bloom(3L)._2 == 0L)
    assert(bloom(2L)._1 == 5L) // 7 tokens → 5 distinct trigrams
  }

  test("per-row bloom membership equals the explode+groupBy form") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val positions = TextOps.bloomBuild(
      docs.filter(col("doc_id") < 20), "text", n = 3)
    val relational = TextOps.bloomContamination(
        docs.filter(col("doc_id") >= 20), "doc_id", "text", positions, n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val inline = docs.filter(col("doc_id") >= 20)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        TextOps.bloomContaminationCols(col("__toks"), positions, n = 3).as("b"))
      .select(col("doc_id"), col("b.n_grams"), col("b.n_flagged"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(inline == relational)
    assert(inline.values.exists(_._2 > 0)) // the check has signal
  }

  test("streaming ingest filter: quality + bloom + PII scrub == batch") {
    // the whole pre-training ingest scrub is projection-pure, so the
    // SAME column expressions run unchanged on a readStream source —
    // stateless (no watermark, no aggregation), which is the design
    // claim for the text family at 100 TB streaming ingest
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/documents.parquet")
    val positions = TextOps.bloomBuild(
      batch.filter(col("doc_id") < 20), "text", n = 3)
    def scrub(df: org.apache.spark.sql.DataFrame) =
      TextOps.qualityMetrics(df, "text")
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("b", TextOps.bloomContaminationCols(col("__toks"), positions, n = 3))
        .where(col("quality_score") >= 0.5 && col("b.n_flagged") < 10)
        .select(col("doc_id"), col("quality_score"), col("b.n_flagged"),
          TextOps.redactPii(col("text")).as("clean"))
    val staged = graft.ops.StreamingOps.stageAsDir(dir, "documents")
    val stream = spark.readStream.schema(batch.schema).parquet(staged)
    val name = s"scrub_${System.nanoTime()}"
    val q = scrub(stream).writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1)
      val want = scrub(batch).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1)
      assert(got.nonEmpty && got.length < 500) // the filter actually cut rows
      assert(got.toSeq == want.toSeq)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  test("paragraph dedup preserves first-occurrence order") {
    import spark.implicits._
    val df = Seq("a\nb\na\nc\nb", "x", "").toDF("t")
    val out = df.select(TextOps.dedupParagraphs(col("t")).as("c"))
      .collect().map(_.getString(0))
    assert(out(0) == "a\nb\nc")
    assert(out(1) == "x")
    assert(out(2) == "")
  }

  test("duplicate-window stats: cross-doc windows count, within-doc repeats don't") {
    import spark.implicits._
    val docs = Seq(
      // A: 10 tokens → 3 windows; shares [a..h] with B
      (1L, "a b c d e f g h i j"),
      // B: exactly 8 tokens → 1 window, duplicated in A
      (2L, "a b c d e f g h"),
      // C: unrelated → 2 windows, none duplicated
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9"),
      // D: repeats ITS OWN window (nd stays 1 → not corpus duplication)
      (4L, "p q r s t u v w p q r s t u v w"))
      .toDF("doc_id", "text")
    val m = DedupOps.duplicateWindowStats(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(1L) == ((3L, 1L)))
    assert(m(2L) == ((1L, 1L)))
    assert(m(3L) == ((2L, 0L)))
    assert(m(4L) == ((9L, 0L)))
    DedupOps.unpersistAll()
  }

  test("unigram LM: per-(doc,token) tf/freq/logprob on a counted corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val rows = TextOps.unigramLogProbs(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows.size == 4) // (1,a) (1,b) (2,b) (2,c)
    assert(rows((1L, "a")) == ((2L, 2L, -math.log(2.0 / 5.0))))
    assert(rows((1L, "b")) == ((1L, 2L, -math.log(2.0 / 5.0))))
    assert(rows((2L, "c")) == ((1L, 1L, -math.log(1.0 / 5.0))))
  }

  test("token rarity stats: integer-exact per-doc aggregates") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val m = TextOps.tokenRarityStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    // doc 1: tf·freq = a:2·2 + b:1·2 = 6 over 3 tokens
    assert(m(1L) == ((3L, 2L, 2L, 6L, 2.0)))
    // doc 2: b:1·2 + c:1·1 = 3 over 2 tokens
    assert(m(2L) == ((2L, 2L, 1L, 3L, 1.5)))
  }

  test("salted join equals the plain join on a degenerate hot key") {
    import spark.implicits._
    val big = ((1 to 100).map(i => (i.toLong, "hot")) ++
      Seq((101L, "cold1"), (102L, "cold2"))).toDF("row_id", "k")
    val dim = Seq(("hot", 1L), ("cold1", 2L), ("cold3", 3L)).toDF("k", "v")
    val salted = JoinOps.saltedJoin(big, dim, "k", salt = 7, idCol = "row_id")
      .select("row_id", "k", "v").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val plain = big.join(dim, "k")
      .select("row_id", "k", "v").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(salted.length == 101) // 100 hot + cold1; cold2/cold3 unmatched
    assert(salted.toSeq == plain.toSeq)
  }

  test("profile: one-pass per-column stats with nulls and strings") {
    import spark.implicits._
    val df = Seq((1L, Some("x")), (2L, None), (3L, Some("y")), (3L, Some("x")))
      .toDF("id", "name")
    val p = ProfileOps.profile(df, Seq("id", "name"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(p("id") == ((4L, 0L, 3L, "1", "3")))
    assert(p("name") == ((4L, 1L, 2L, "x", "y")))
    val err = intercept[IllegalArgumentException] {
      ProfileOps.profile(df, Seq("nope"))
    }
    assert(err.getMessage.contains("nope"))
    // the approx (HLL++) scale path: no Expand in the plan, distincts
    // within the documented ~2% on real data, all other columns exact
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = ProfileOps.profile(docs, Seq("doc_id", "lang"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val approx = ProfileOps.profile(docs, Seq("doc_id", "lang"), approxDistinct = true)
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
    approx.collect().foreach { r =>
      val (c, d) = (r.getString(0), r.getLong(3))
      assert(math.abs(d - exact(c)) <= math.max(1L, (exact(c) * 0.05).toLong),
        s"$c: approx $d vs exact ${exact(c)}")
    }
  }

  test("fixed-N stratified sample: exact n per stratum, two-phase == naive window") {
    import spark.implicits._
    val rows = (1L to 300L).map(i => (i, if (i % 3 == 0) "en" else "de"))
    val df = rows.toDF("doc_id", "lang")
    val got = SampleOps.stratifiedFixedN(df, "doc_id", "lang", n = 7,
        salt = "s", preBuckets = 4)
      .select("doc_id", "lang", "sample_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.count(_._2 == "en") == 7 && got.count(_._2 == "de") == 7)
    // naive single-window formulation picks the identical rows
    val ord = coalesce(DedupOps.md5Hash60(
      concat(col("doc_id").cast("string"), lit(":s"))), lit(-1L))
    val naive = df.withColumn("__o", ord)
      .withColumn("sample_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
          .orderBy(col("__o"), col("doc_id"))).cast("long"))
      .where(col("sample_rank") <= 7)
      .select("doc_id", "lang", "sample_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.sorted.toSeq == naive.sorted.toSeq)
    // a stratum smaller than n yields all its rows, ranked
    val tiny = Seq((1L, "en"), (2L, "zh")).toDF("doc_id", "lang")
    assert(SampleOps.stratifiedFixedN(tiny, "doc_id", "lang", 5, "s").count() == 2)
  }

  test("temperature sample: sqrt-weighted cutoffs, integer-exact, isqrt edge cases") {
    import spark.implicits._
    // strata 100 vs 400 rows → weights 10 vs 20; target 150 →
    // cutoffs 5000 (keep ~half of a) and 2500 (keep ~quarter of b):
    // the 1:4 imbalance rebalances to 1:2 (√ temperature)
    val df = ((1L to 100L).map(i => (i, "a")) ++
      (101L to 500L).map(i => (i, "b"))).toDF("doc_id", "lang")
    val got = SampleOps.temperatureSample(df, "doc_id", "lang", 150L, "t")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // replay the cutoffs by hand with the public hashBucket
    val manual = df
      .withColumn("bucket", SampleOps.hashBucket(col("doc_id"), "t"))
      .where((col("lang") === "a" && col("bucket") < 5000) ||
             (col("lang") === "b" && col("bucket") < 2500))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.sorted.toSeq == manual.sorted.toSeq)
    val byLang = got.groupBy(_._2).view.mapValues(_.length).toMap
    // hash buckets are ~uniform: expect ≈50 and ≈100
    assert(byLang("a") > 30 && byLang("a") < 70, byLang)
    assert(byLang("b") > 75 && byLang("b") < 125, byLang)
    // exact integer sqrt at the double-rounding danger spots
    assert(SampleOps.isqrt(0L) == 0L && SampleOps.isqrt(1L) == 1L)
    assert(SampleOps.isqrt(999999L) == 999L)
    assert(SampleOps.isqrt(1000000L) == 1000L)
    assert(SampleOps.isqrt((1L << 52) - 1) == 67108863L)
    // the Long-overflow region the (x+1)² form wrapped on (ADVICE r06):
    // near and at Long.MaxValue the root must stay the true floor
    assert(SampleOps.isqrt(Long.MaxValue) == 3037000499L)
    assert(SampleOps.isqrt(3037000499L * 3037000499L) == 3037000499L)
    assert(SampleOps.isqrt(3037000499L * 3037000499L - 1) == 3037000498L)
    // a NULL stratum is a REAL stratum (null-safe cutoff join): it was
    // counted, so it samples at its own cutoff instead of vanishing
    val withNull = ((1L to 100L).map(i => (i, "a")) ++
      (101L to 200L).map(i => (i, null: String))).toDF("doc_id", "lang")
    val sampled = SampleOps.temperatureSample(withNull, "doc_id", "lang", 100L, "t")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val nullKept = sampled.count(_._2 == null)
    // equal counts → equal cutoffs → null stratum keeps ≈ the same
    // share as 'a' (both ~50); zero would mean it was silently dropped
    assert(nullKept > 25 && nullKept < 75, s"null stratum kept $nullKept")
    assert(sampled.count(_._2 == "a") > 25, sampled.length)
    // a degenerate stratum column fails fast instead of flooding the driver
    val err = intercept[IllegalArgumentException] {
      SampleOps.temperatureSample(df, "doc_id", "doc_id", 10L, "t", maxStrata = 50)
    }
    assert(err.getMessage.contains("maxStrata"))
  }

  test("weighted systematic sample: exact-k copies, serial parity, invariance") {
    import spark.implicits._
    val rows = (1L to 200L).map(i => (i, 1L + (i * 37) % 503))
    val df = rows.toDF("id", "w")
    val k = 17
    val got = SampleOps.weightedSystematicSample(df, "id", "w", k)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    // invariant: copy counts total EXACTLY k (independent draws drift)
    assert(got.map(_._2).sum == k)
    // serial reference: same grid positions over the same cumsum
    val totalW = rows.map(_._2).sum
    val cum = rows.map(_._2).scanLeft(0L)(_ + _).init
    val picks = (0 until k).map(i => (2L * i + 1) * totalW / (2L * k))
    val expect = rows.zip(cum).map { case ((id, w), before) =>
      id -> picks.count(p => p >= before && p < before + w).toLong
    }.filter(_._2 > 0)
    assert(got == expect)
    // a heavy row spanning many grid cells repeats
    val heavy = (Seq((1L, 10000L)) ++ (2L to 50L).map(i => (i, 1L))).toDF("id", "w")
    val h = SampleOps.weightedSystematicSample(heavy, "id", "w", 10)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(h.find(_._1 == 1L).get._2 >= 9, h.mkString(","))
    // partition invariance: the two-pass scan is repartition-proof
    val rep = SampleOps.weightedSystematicSample(df.repartition(7), "id", "w", k)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(rep == got)
    // zero-weight rows can't be drawn
    val wz = (Seq((1L, 0L), (2L, 5L))).toDF("id", "w")
    val z = SampleOps.weightedSystematicSample(wz, "id", "w", 3)
      .collect().map(_.getLong(0))
    assert(z.forall(_ == 2L))
  }

  test("hopping windows = sum of the two tumbling buckets they cover") {
    val ev = StreamingOps.readEventsBatch(spark, sf001)
    val tumb = StreamingOps.windowedCounts(ev).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val hop = StreamingOps.hoppingCounts(ev).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
    assert(hop.map(_._2).sum == 2 * ev.count(), "each event must land in 2 windows")
    hop.foreach { case ((ws, t), c) =>
      val b = ws / 300000000L
      assert(c == tumb.getOrElse((b, t), 0L) + tumb.getOrElse((b + 1, t), 0L),
        s"window $ws/$t: $c")
    }
  }

  test("sorted-neighborhood link: recovers edits, reverse pass catches front edits") {
    import spark.implicits._
    // distinct random-ish keys (md5 hex), edits at front/middle/end
    val clean = (1L to 300L).map(i => (i,
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"key-$i".getBytes("UTF-8")).map("%02x".format(_)).mkString))
    val dirty = clean.map { case (i, s) =>
      val pos = (i % 3) match {
        case 0 => 0 // front edit — invisible to the forward pass
        case 1 => s.length / 2
        case _ => s.length - 1
      }
      (i, s.substring(0, pos) + s.substring(pos + 1))
    }
    val linked = LinkOps.sortedNeighborhoodLink(
      dirty.toDF("id", "k"), clean.toDF("id", "k"), "id", "k",
      window = 4, maxLev = 2, reversePass = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every dirty record finds its clean original at lev=1, nothing else
    // (md5 keys are far apart, so no cross-links survive maxLev=2)
    assert(linked.toSet == clean.map(c => (c._1, c._1, 1)).toSet)
    // the forward-only pass must MISS the front-edited third
    val fwdOnly = LinkOps.sortedNeighborhoodLink(
      dirty.toDF("id", "k"), clean.toDF("id", "k"), "id", "k",
      window = 4, maxLev = 2, reversePass = false)
      .collect().map(_.getLong(0)).toSet
    val frontIds = clean.map(_._1).filter(_ % 3 == 0).toSet
    // a front edit usually jumps out of the forward window (a few land
    // adjacent by chance); the reverse pass is what recovers the rest
    val frontMissed = frontIds.count(!fwdOnly.contains(_))
    assert(frontMissed >= frontIds.size / 2,
      s"expected most front edits to defeat forward-only blocking " +
        s"($frontMissed/${frontIds.size} missed)")
    assert(clean.map(_._1).filterNot(frontIds).forall(fwdOnly.contains),
      "middle/end edits must survive the forward pass")
  }

  test("SimhashBits scalar == explode formulation, both hash flavors") {
    import spark.implicits._
    // edge zoo: empty + whitespace-only + null text must be ABSENT
    // (the explode form emits no row); single token; multi-byte UTF-8;
    // even token count (vote ties resolve to 0 the same way)
    val edge = Seq((1L, "the quick brown fox"), (2L, ""), (3L, "   \t "),
      (4L, "solo"), (5L, "é中 café 中文"), (6L, "a b c d"), (7L, null))
      .toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text"))
    for (df <- Seq(edge, docs)) {
      def viaScalar(nBits: Int, portable: Boolean) =
        df.select(col("doc_id").as("id"),
            DedupOps.simhashOfText(col("text"), nBits, portable).as("simhash"))
          .where(col("simhash").isNotNull)
      val exDefault = DedupOps.simhashByExplode(df, "text", "doc_id")
      assert(viaScalar(64, portable = false).exceptAll(exDefault).isEmpty &&
        exDefault.exceptAll(viaScalar(64, portable = false)).isEmpty,
        "xxhash64 flavor diverges")
      val exPortable = DedupOps.simhashByExplodePortable(df, "text", "doc_id")
      assert(viaScalar(60, portable = true).exceptAll(exPortable).isEmpty &&
        exPortable.exceptAll(viaScalar(60, portable = true)).isEmpty,
        "md5-60 flavor diverges")
    }
  }

  test("fused expressions: interpreted eval == codegen (NO_CODEGEN parity)") {
    // every fused expression has TWO execution paths — nullSafeEval and
    // doGenCode — and the regular parity specs only exercise whichever
    // one planning picks (codegen, normally).  Force the interpreted
    // factory and re-check a cross-section against values computed
    // under default codegen: a divergence here is the classic
    // expression bug the per-path specs cannot see.
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
    def viaBridge(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.graft.ColumnBridge.column(e)
    def ex(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graft.ColumnBridge.expression(c)
    def snapshot(): Map[Long, String] = docs.select(col("doc_id"),
        concat_ws("|",
          TextOps.tokens(col("text")).cast("string"),
          TextOps.wordNgrams(col("text"), 3).cast("string"),
          DedupOps.simhashOfText(col("text")).cast("string"),
          DedupOps.md5Hash60(col("text")).cast("string"),
          DedupOps.minhashFromGrams(
            DedupOps.shingles(col("text"), 3), 8).cast("string"),
          viaBridge(graft.functions.WinnowFingerprint(
            ex(col("text")), 8, 16, portable = false)).cast("string"),
          viaBridge(graft.functions.QualityTextStats(ex(col("text"))))
            .cast("string"),
          // the pre-r12 fused family, same two-path exposure
          viaBridge(graft.functions.BpeTokenCount(ex(col("text"))))
            .cast("string"),
          viaBridge(graft.functions.GramRepetition(
            ex(TextOps.tokens(col("text"))), 2)).cast("string"),
          viaBridge(graft.functions.CdcBoundaries(
            ex(col("text")), 8, 64)).cast("string"),
          viaBridge(graft.functions.NormalizeText(ex(col("text")),
            compat = true)).cast("string"),
          MatchOps.multiMatchCounts(col("text"),
            Seq("the", "data", "zz-never")).cast("string"),
          graft.ops.SimilarityOps.dot(
            array(lit(1.0), lit(2.0), lit(3.0)),
            array(lit(0.5), crc32(col("text")).cast("double") / 1e12,
              lit(-1.0))).cast("string")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaCodegen = snapshot()
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevWhole = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val viaInterpreted = snapshot()
      assert(viaInterpreted == viaCodegen,
        "interpreted eval diverges from codegen on " +
          viaCodegen.keys.filter(k => viaInterpreted(k) != viaCodegen(k))
            .take(3).mkString(", "))
    } finally {
      prevFactory match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      spark.conf.set("spark.sql.codegen.wholeStage", prevWhole)
    }
  }

  test("every abVariants pair is result-identical (the A/B contract)") {
    // BenchAB exists to measure PLAN deltas; a variant whose sides
    // return different ROWS is measuring two different operators.
    // Loop the whole registry so every future knob inherits the pin.
    // Materialized-multiset compare, not exceptAll: both sides persist
    // plan-identical subtrees, and Spark's cache-manager dedup plus
    // the exceptAll rewrite collide into
    // INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on the shared relation.
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    for ((name, v) <- SparkEntry.abVariants) {
      val a = rows(v.a(spark, sf001))
      val b = rows(v.b(spark, sf001))
      assert(a == b, s"abVariants '$name': ${v.labelA} != ${v.labelB}")
      graft.ops.DedupOps.unpersistAll()
    }
  }

  test("removeContaminatedSpans cuts exactly the benchmark windows") {
    import spark.implicits._
    val bench = Seq("the secret benchmark answer is forty two exactly here")
      .toDF("text") // 9 tokens → 2 overlapping 8-token windows
    val corpus = Seq(
      // quotes the full benchmark inside a longer doc → tokens 3..11
      // covered by starts {3, 4}: spans [3,10] ∪ [4,11]
      (1L, "aa bb the secret benchmark answer is forty two exactly here cc dd"),
      (2L, "completely unrelated text with enough tokens to not match anything"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextOps.removeContaminatedSpans(
        corpus, "doc_id", "text", bench, "text", k = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (13L, 9L), s"doc 1: ${got(1L)}") // tokens 3..11 cut
    assert(got(2L) == (10L, 0L), "clean doc must be untouched")
    assert(got(3L)._2 == 0L, "empty doc: nothing to cut")
    // the cleaned doc 1 is the surviving tokens, md5-checkable
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("aa bb cc dd".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val cleanMd5 = TextOps.removeContaminatedSpans(
        corpus, "doc_id", "text", bench, "text", k = 8)
      .filter(col("id") === 1L).head().getString(3)
    assert(cleanMd5 == md, "clean_md5 must hash the surviving tokens")
  }

  test("sourceOverlap: one-shuffle form == distinct-first form") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val a = TextOps.sourceOverlap(docs, "source", "text", k = 8, maxSources = 16)
    val b = TextOps.sourceOverlap(docs, "source", "text", k = 8, maxSources = 16,
      preDistinct = true)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "overlap forms diverge")
  }

  test("MinhashFromGrams projection == explode formulation, both hash flavors") {
    import spark.implicits._
    val edge = Seq((1L, "the quick brown fox jumps over it"), (2L, ""),
      (3L, "   "), (4L, "one two"), (5L, "é中 café 中文 mixed bytes here"),
      (6L, null)).toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text"))
    for (df <- Seq(edge, docs); portable <- Seq(false, true)) {
      // both flavors of minhashPairs' signature stage, lifted verbatim
      val shingled = df.select(col("doc_id").as("id"),
        DedupOps.shinglesOf(graft.ops.TextOps.tokens(col("text")), 3).as("sh"))
      val fused = shingled.select(col("id"),
          DedupOps.minhashFromGrams(col("sh"), 16, portable).as("sig"))
        .where(col("sig").isNotNull)
      val baseHash: org.apache.spark.sql.Column =
        if (portable) pmod(DedupOps.md5Hash60(col("s")), lit((1L << 31) - 1))
        else pmod(xxhash64(col("s")), lit((1L << 31) - 1))
      val exploded = shingled.select(col("id"), explode(col("sh")).as("s"))
        .select(col("id"), baseHash.as("h"))
      val minCols = DedupOps.hashParams(16).zipWithIndex.map { case ((a, b), i) =>
        min(pmod(col("h") * lit(a) + lit(b), lit((1L << 31) - 1))).as(s"m$i")
      }
      val viaExplode = exploded.groupBy("id").agg(minCols.head, minCols.tail: _*)
        .select(col("id"), array((0 until 16).map(i => col(s"m$i")): _*).as("sig"))
      assert(fused.exceptAll(viaExplode).isEmpty &&
        viaExplode.exceptAll(fused).isEmpty,
        s"minhash signature diverges (portable=$portable)")
    }
  }

  test("fuzzy link: banded threshold verify == full-table verify, incl. maxLev=0") {
    import spark.implicits._
    val clean = (1L to 200L).map(i => (i,
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"bv-$i".getBytes("UTF-8")).map("%02x".format(_)).mkString))
    val dirty = clean.map { case (i, s) =>
      (i, if (i % 4 == 0) s else s.substring(0, (i % 30 + 1).toInt) +
        s.substring((i % 30 + 2).toInt)) // 1/4 exact, 3/4 one-deletion
    }
    def run(banded: Boolean, lev: Int) = LinkOps.sortedNeighborhoodLink(
        dirty.toDF("id", "k"), clean.toDF("id", "k"), "id", "k",
        window = 4, maxLev = lev, reversePass = true, bandedVerify = banded)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    for (lev <- Seq(0, 1, 2)) {
      val a = run(banded = true, lev)
      val b = run(banded = false, lev)
      assert(a == b, s"banded != full at maxLev=$lev")
      if (lev == 0) assert(a == clean.map(_._1).filter(_ % 4 == 0)
        .map(i => (i, i, 0)).toSet, "maxLev=0 must keep exactly the exact matches")
    }
  }

  test("sorted-neighborhood link keeps string ids (no silent long-cast nulls)") {
    import spark.implicits._
    // string-keyed records (doc ids) — the r11 triangles wart class: a
    // cast("long") would null every id and emit null-id pairs
    val clean = Seq(("doc-a", "alpha-key-0001"), ("doc-b", "beta-key-0002"))
      .toDF("id", "k")
    val dirty = Seq(("x-a", "alpha-key-001"), ("x-b", "beta-key-002"))
      .toDF("id", "k")
    val got = LinkOps.sortedNeighborhoodLink(dirty, clean, "id", "k",
        window = 4, maxLev = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(("x-a", "doc-a", 1), ("x-b", "doc-b", 1)))
  }

  test("NearestCells == struct-form cell scores, bit-for-bit, all tie paths") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_min, sort_array, slice => fslice, transform => ftransform}
    // deterministic centroids incl. DUPLICATES (cells 3 and 7 equal) so
    // the tie-to-lower-cell path is exercised, plus float input vectors
    val dim = 8
    def cent(seed: Int): Array[Double] =
      Array.tabulate(dim)(j => ((seed * 31 + j * 17) % 13 - 6) / 3.0)
    val cents = Array.tabulate(10)(cent)
    cents(7) = cent(3) // exact duplicate → every vector ties 3 vs 7
    val vecs = (0 until 300).map(i =>
      (i.toLong, Array.tabulate(dim)(j =>
        (((i * 131 + j * 29) % 97) - 48) / 7.0f)))
      .toDF("id", "v")
    val refCell = array_min(
      org.apache.spark.sql.functions.array(
        graft.ops.SimilarityOps.cellScoresFor(cents)(col("v")): _*))
      .getField("cell")
    val refProbe = ftransform(
      fslice(sort_array(org.apache.spark.sql.functions.array(
        graft.ops.SimilarityOps.cellScoresFor(cents)(col("v")): _*)), 1, 4),
      s => s.getField("cell"))
    val got = vecs.select(col("id"),
        refCell.as("ref1"),
        element_at(graft.ops.SimilarityOps.nearestCellsExpr(col("v"), cents, 1), 1).as("new1"),
        refProbe.as("ref4"),
        graft.ops.SimilarityOps.nearestCellsExpr(col("v"), cents, 4).as("new4"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"id ${r.getLong(0)} argmin")
      assert(r.getSeq[Int](3) == r.getSeq[Int](4), s"id ${r.getLong(0)} probe order")
    }
    // duplicate centroid: the winner must be the LOWER cell id (3, never 7)
    assert(got.forall(r => r.getInt(1) != 7))
    // n past the cell count clamps to all cells, nearest-first
    val all = vecs.limit(1).select(
      graft.ops.SimilarityOps.nearestCellsExpr(col("v"), cents, 99)).collect()
    assert(all(0).getSeq[Int](0).length == 10)
  }

  test("large-geometry ANN paths compile under codegen.fallback=false") {
    import spark.implicits._
    // pre-r11, 512 centroids / 256 codewords blew Janino's 64 KB
    // method limit and the stage silently ran interpreted; with
    // fallback DISABLED that failure mode becomes a hard error, so
    // this passing IS the proof the constant-matrix expressions keep
    // codegen alive at production geometry
    val dim = 16
    val cents = Array.tabulate(512)(c =>
      Array.tabulate(dim)(j => ((c * 31 + j * 17) % 101 - 50) / 25.0))
    val cbs = Array.tabulate(2)(s =>
      Array.tabulate(256)(j => Array.tabulate(8)(i =>
        ((s * 41 + j * 13 + i * 7) % 51 - 25) / 12.0)))
    val vecs = (0 until 500).map(i =>
      (i.toLong, Array.tabulate(dim)(j =>
        (((i * 131 + j * 29) % 97) - 48) / 7.0f))).toDF("id", "v")
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val assigned = vecs.select(col("id"), col("v"),
          element_at(graft.ops.SimilarityOps.nearestCellsExpr(col("v"), cents, 1), 1).as("cell"),
          {
            import org.apache.spark.sql.graft.ColumnBridge
            ColumnBridge.column(graft.functions.PqCodes(
              ColumnBridge.expression(col("v")), cbs)).as("codes")
          })
        .withColumn("adc", {
          import org.apache.spark.sql.graft.ColumnBridge
          ColumnBridge.column(graft.functions.PqAdc(
            ColumnBridge.expression(col("v")),
            ColumnBridge.expression(col("codes")), cbs))
        })
        // the SORT stage is where the 64 KB overflow actually fired
        // (sort_addToSorter inlines the upstream projection)
        .orderBy(col("adc").asc, col("id").asc)
        .collect()
      assert(assigned.length == 500)
      assert(assigned.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 512))
      assert(assigned.forall(!_.isNullAt(4)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("PqCodes/PqAdc == expression-tree forms, bit-for-bit") {
    import spark.implicits._
    // m=4 subspaces of dim 4; 12 codewords incl. a duplicate pair so
    // the tie-to-lower-code path is exercised; float vectors
    val sub = 4
    def cw(s: Int, j: Int): Array[Double] =
      Array.tabulate(sub)(i => ((s * 37 + j * 13 + i * 7) % 11 - 5) / 2.0)
    val cbs = Array.tabulate(4)(s => Array.tabulate(12)(j => cw(s, j)))
    cbs(2)(9) = cw(2, 4) // duplicate codeword → tie in subspace 2
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.tabulate(4 * sub)(j =>
        (((i * 113 + j * 41) % 89) - 44) / 9.0f)))
      .toDF("id", "v")
    val both = vecs.select(col("id"),
        graft.ops.SimilarityOps.pqCodesExprTree(col("v"), cbs).as("ref_codes"),
        col("v"))
      .withColumn("new_codes", {
        import org.apache.spark.sql.graft.ColumnBridge
        ColumnBridge.column(graft.functions.PqCodes(
          ColumnBridge.expression(col("v")), cbs))
      })
      .withColumn("ref_adc",
        graft.ops.SimilarityOps.adcExprTree(col("v"), col("ref_codes"), cbs))
      .withColumn("new_adc", {
        import org.apache.spark.sql.graft.ColumnBridge
        ColumnBridge.column(graft.functions.PqAdc(
          ColumnBridge.expression(col("v")),
          ColumnBridge.expression(col("new_codes")), cbs))
      })
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](3), s"id ${r.getLong(0)} codes")
      // ADC doubles must be IDENTICAL BITS, not just close
      assert(java.lang.Double.doubleToLongBits(r.getDouble(4)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(5)),
        s"id ${r.getLong(0)} adc ${r.getDouble(4)} vs ${r.getDouble(5)}")
    }
    // duplicate codeword: subspace 2 never emits the higher code 9
    assert(both.forall(_.getSeq[Int](3)(2) != 9))
  }

  test("saltHotBands: grid split bounds hot-band cells, pair set identical") {
    import spark.implicits._
    // 40 identical boilerplate docs → every band is a hot bucket of 40;
    // 60 distinct docs → cold buckets stay on the s=1 path
    val boiler = (1L to 40L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val distinct = (101L to 160L).map(i =>
      (i, s"unique document number $i with words w${i}a w${i * 7}b w${i * 13}c end"))
    val docs = (boiler ++ distinct).toDF("doc_id", "text")
    def pairs(salt: Int) = graft.ops.DedupOps.minhashPairs(
        docs, "text", "doc_id", saltHotBands = salt)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairs(0)
    val salted = pairs(8)
    assert(plain.nonEmpty && salted == plain,
      s"salted path changed the pair set: ${salted.size} vs ${plain.size}")
    // the boilerplate clique must be fully present (C(40,2) pairs)
    assert((1L to 40L).flatMap(a => (a + 1 to 40L).map(a -> _))
      .forall(plain.contains), "boilerplate clique incomplete")
    graft.ops.DedupOps.unpersistAll()
    // the bound itself: no grid cell of a hot bucket holds more than a
    // fraction of the bucket (split factor ⌈40/8⌉ = 5)
    val banded = (1L to 40L).map(i => (0, 12345L, i)).toDF("band", "band_hash", "id")
    val cells = graft.ops.DedupOps.bandCells(banded, 8)
    val perCell = cells.groupBy("band", "band_hash", "__c")
      .count().collect().map(_.getLong(3))
    assert(cells.select("__s").distinct().collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(perCell.max < 40L / 2,
      s"hot bucket not split: max cell ${perCell.max} of 40")
    assert(perCell.sum == 40L)
    graft.ops.DedupOps.unpersistAll()
  }

  test("link prefix-rank == global window rank, no single-partition Exchange") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // crafted corpus with DUPLICATE sort keys across kinds so the
    // (s, kind, id) tiebreak is load-bearing
    val df = (1L to 500L).map(i =>
        (if (i % 2 == 0) "c" else "d", i, s"key-${i % 37}"))
      .toDF("kind", "id", "s")
    val got = LinkOps.withGlobalRank(df, col("s"))
    // the scale-safe rank must not funnel through one reducer
    assert(!got.queryExecution.executedPlan.toString
      .contains("Exchange SinglePartition"),
      "prefix-rank plan regressed to a single-partition sort")
    val expect = df.withColumn("rn",
        row_number().over(Window.orderBy(col("s"), col("kind"), col("id")))
          .cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    val gotMap = got.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(gotMap == expect)
  }

  test("per-group top-k tokens: deterministic rank within each group") {
    import spark.implicits._
    val df = Seq(
      ("en", "b b b a a c"),
      ("en", "a"),
      ("de", "x y y"))
      .toDF("lang", "text")
    val got = TextOps.topTokensByGroup(df, "lang", "text", k = 2)
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).sorted
    // en: a=3, b=3 → tie broken token ASC → a rank 1, b rank 2 (c cut)
    // de: y=2 rank 1, x=1 rank 2
    assert(got.toSeq == Seq(
      ("de", "x", 1L, 2L), ("de", "y", 2L, 1L),
      ("en", "a", 3L, 1L), ("en", "b", 3L, 2L)))
  }

  test("repetition stats: exact fractions on a crafted doc") {
    import spark.implicits._
    // "a b a b a b" bigrams: [a b, b a, a b, b a, a b] → 5 grams,
    // 2 distinct; sorted charge-predecessor marks 3 repeats of 3 chars
    // over 15 total chars
    val df = Seq((1L, "a b a b a b"), (2L, "all words differ here now"))
      .toDF("doc_id", "text")
    val m = TextOps.repetitionStats(df, "text", 2)
      .select("doc_id", "n_grams", "uniq_grams", "dup_gram_frac", "dup_char_frac")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(m(1L) == ((5L, 2L, 0.6, 0.6)))
    assert(m(2L)._3 == 0.0 && m(2L)._4 == 0.0)
  }

  test("quality metrics: fused expression matches the composed reference") {
    import spark.implicits._
    // edge zoo: empty, whitespace-only, unicode (multi-byte chars in
    // the char count), stopword-dense, punctuation-dense, exotic
    // whitespace (\t \x0B \f \r), boundary word counts for the gates
    val edge = Seq((1L, ""), (2L, "   \t  "), (3L, "é中 café né 中文 ok"),
      (4L, "the a of and to is in it that"), (5L, "!!! ,,, ??? ;;; :::"),
      (6L, "one\ttwothree\ffour\rfive the"),
      (7L, "w x y z v"), (8L, "abcdefghijkl " * 20),
      (9L, null)) // null text: counts null, ratios/score 0.0 (otherwise branches)
      .toDF("doc_id", "text")
    val cols = Seq("doc_id", "n_chars_m", "n_words", "avg_word_len",
      "stopword_ratio", "alpha_ratio", "punct_ratio", "quality_score")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getInt(1),
          if (r.isNullAt(2)) null else r.getInt(2),
          r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toSet
    assert(rows(TextOps.qualityMetrics(edge, "text")) ==
      rows(TextOps.qualityMetricsHof(edge, "text")), "edge zoo")
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    assert(rows(TextOps.qualityMetrics(docs, "text")) ==
      rows(TextOps.qualityMetricsHof(docs, "text")), "corpus")
  }

  test("word n-grams: fused expression matches the HOF reference") {
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "solo"), (3L, "a b"), (4L, "a b c d e"),
      (5L, "é中 tail x"), (6L, "  gap   in\tmiddle  "))
      .toDF("doc_id", "text")
    def grams(df: org.apache.spark.sql.DataFrame, mk: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column, n: Int) =
      df.select(col("doc_id"),
          mk(TextOps.tokens(col("text")), n).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    for (n <- Seq(1, 2, 3, 5)) {
      assert(grams(edge, TextOps.wordNgramsOf, n) ==
        grams(edge, TextOps.wordNgramsOfHof, n), s"edge zoo n=$n")
    }
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val d = docs.select(TextOps.tokens(col("text")).as("__t"))
      .select(TextOps.wordNgramsOf(col("__t"), 3).as("a"),
        TextOps.wordNgramsOfHof(col("__t"), 3).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(d == 0, s"$d corpus rows diverge")
  }

  test("tokens: fused byte scan matches the regex reference") {
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "   "), (3L, " lead"), (4L, "trail "),
      (5L, "a\tbc\fd\re\nf"), (6L, "é中  文  café"),
      (7L, "one"), (8L, "  双  byte  mix\tok "), (9L, null))
      .toDF("doc_id", "text")
    def toks(c: org.apache.spark.sql.Column) =
      edge.select(col("doc_id"), c.as("t")).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap
    assert(toks(TextOps.tokens(col("text"))) ==
      toks(TextOps.tokensRegex(col("text"))), "edge zoo")
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val d = docs.select(TextOps.tokens(col("text")).as("a"),
        TextOps.tokensRegex(col("text")).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(d == 0, s"$d corpus rows diverge")
  }

  test("fused expressions: null input matches each composed reference") {
    import spark.implicits._
    val df = Seq((1L, Option("some text here")), (2L, Option.empty[String]))
      .toDF("id", "text")
    def pair(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
      val ra = a.orderBy("id").collect().map(_.toString).toSeq
      val rb = b.orderBy("id").collect().map(_.toString).toSeq
      assert(ra == rb, s"null-row divergence:\n fused $ra\n ref   $rb")
    }
    pair(TextOps.repetitionStats(df, "text", 2).select("id", "n_grams", "dup_char_frac"),
      TextOps.repetitionStatsHof(df, "text", 2).select("id", "n_grams", "dup_char_frac"))
    pair(df.select(col("id"), TextOps.bpeTokenEstimate(col("text")).as("n")),
      df.select(col("id"), TextOps.bpeTokenEstimateRegex(col("text")).as("n")))
    val toks = df.withColumn("__t",
      when(col("text").isNotNull, TextOps.tokens(col("text"))))
    pair(toks.select(col("id"), TextOps.wordNgramsOf(col("__t"), 2).as("g")),
      toks.select(col("id"), TextOps.wordNgramsOfHof(col("__t"), 2).as("g")))
    pair(TextOps.winnowFingerprints(df, "text", "f").select("id", "f"),
      TextOps.winnowFingerprintsHof(df, "text", "f").select("id", "f"))
    val pos = Array(1L, 5L, 1000L)
    pair(toks.select(col("id"),
        TextOps.bloomContaminationCols(col("__t"), pos).as("b")),
      toks.select(col("id"),
        TextOps.bloomContaminationColsHof(col("__t"), pos).as("b")))
    val bh = df.withColumn("__bh",
      when(col("text").isNotNull,
        array(pmod(xxhash64(col("text")), lit(2147483647L)))))
    pair(bh.select(col("id"), DedupOps.minhashSignatureFromBase(col("__bh"), 4).as("s")),
      bh.select(col("id"), DedupOps.minhashSignatureFromBaseHof(col("__bh"), 4).as("s")))
  }

  test("winnow fingerprint: fused expression matches the composed reference") {
    import spark.implicits._
    // edges: empty (one empty gram), shorter than k, shorter than k+w,
    // multi-byte chars (char-based substr), repetitive text (distinct
    // collapse + tie-heavy windows)
    val edge = Seq((1L, ""), (2L, "abc"), (3L, "abcdefghij"),
      (4L, "é中文 café née 中文abc"), (5L, "ababababababababababababab"),
      (6L, "the quick brown fox jumps over the lazy dog and then some more"))
      .toDF("doc_id", "text")
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for (portable <- Seq(false, true); (k, w) <- Seq((8, 16), (3, 4))) {
      val a = fp(TextOps.winnowFingerprints(edge, "text", "f", k, w, portable)
        .select("doc_id", "f"))
      val b = fp(TextOps.winnowFingerprintsHof(edge, "text", "f", k, w, portable)
        .select("doc_id", "f"))
      assert(a == b, s"edge zoo diverges portable=$portable k=$k w=$w")
    }
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    for (portable <- Seq(false, true)) {
      val d = TextOps.winnowFingerprints(docs, "text", "a", 8, 16, portable)
        .join(TextOps.winnowFingerprintsHof(docs, "text", "b", 8, 16, portable)
          .select("doc_id", "b"), "doc_id")
        .where(col("a") =!= col("b")).count()
      assert(d == 0, s"$d corpus rows diverge (portable=$portable)")
    }
  }

  test("bloom contamination: fused expression matches the fold reference") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val positions = TextOps.bloomBuild(docs.filter(col("doc_id") < 20), "text", n = 3)
    val corpus = docs.withColumn("__t", TextOps.tokens(col("text")))
    def counts(c: org.apache.spark.sql.Column) =
      corpus.select(col("doc_id"), c.as("b"))
        .select(col("doc_id"), col("b.n_grams"), col("b.n_flagged"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(counts(TextOps.bloomContaminationCols(col("__t"), positions, n = 3)) ==
      counts(TextOps.bloomContaminationColsHof(col("__t"), positions, n = 3)),
      "corpus")
    // edge: empty doc (one empty gram), token-less whitespace doc
    val edge = Seq((1L, ""), (2L, " \t "), (3L, "one two three four"))
      .toDF("doc_id", "text").withColumn("__t", TextOps.tokens(col("text")))
    def ecounts(c: org.apache.spark.sql.Column) =
      edge.select(col("doc_id"), c.as("b"))
        .select(col("doc_id"), col("b.n_grams"), col("b.n_flagged"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ecounts(TextOps.bloomContaminationCols(col("__t"), positions, n = 3)) ==
      ecounts(TextOps.bloomContaminationColsHof(col("__t"), positions, n = 3)),
      "edge zoo")
  }

  test("minhash signature: fused expression matches the HOF reference") {
    import spark.implicits._
    // empty base (all-null slots), single element, many elements
    val base = Seq((1L, Seq.empty[Long]), (2L, Seq(7L)),
      (3L, Seq(0L, 2147483646L, 12345L, 99L, 424242L)))
      .toDF("id", "bh")
    def sig(c: org.apache.spark.sql.Column) =
      base.select(col("id"), c.as("s")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(sig(DedupOps.minhashSignatureFromBase(col("bh"), 32)) ==
      sig(DedupOps.minhashSignatureFromBaseHof(col("bh"), 32)))
    // real corpus base hashes
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(TextOps.tokens(col("text")).as("__t"))
      .select(DedupOps.shinglesOf(col("__t")).as("__sh"))
      .select(transform(col("__sh"),
        s => pmod(xxhash64(s), lit(2147483647L))).as("bh"))
    val d = docs.select(
        DedupOps.minhashSignatureFromBase(col("bh"), 16).as("a"),
        DedupOps.minhashSignatureFromBaseHof(col("bh"), 16).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(d == 0, s"$d corpus rows diverge")
  }

  test("bpe token estimate: fused scan matches the regex reference") {
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "hello world"), (3L, "abc123def"),
      (4L, "a1b2 c3!d4?"), (5L, "é中文, café 42€"), (6L, " \t\r\n "),
      (7L, "snake_case-kebab.dot"), (8L, "2026-08-15T12:00:00Z"))
      .toDF("doc_id", "text")
    def counts(c: org.apache.spark.sql.Column) =
      edge.select(col("doc_id"), c.as("n")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(counts(TextOps.bpeTokenEstimate(col("text"))) ==
      counts(TextOps.bpeTokenEstimateRegex(col("text"))), "edge zoo")
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val d = docs.select(
      TextOps.bpeTokenEstimate(col("text")).as("a"),
      TextOps.bpeTokenEstimateRegex(col("text")).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(d == 0, s"$d corpus rows diverge")
  }

  test("repetition stats: fused expression matches the HOF reference") {
    import spark.implicits._
    // edge zoo: empty doc (one empty gram), single token (short-doc
    // clamp), all-identical tokens, unicode, the crafted doc above —
    // plus the real corpus at n = 2 and 3
    val edge = Seq((1L, ""), (2L, "solo"), (3L, "x x x x x"),
      (4L, "a b a b a b"), (5L, "é中 é中 tail"), (6L, "  spaced   out  "))
      .toDF("doc_id", "text")
    val cols = Seq("doc_id", "n_grams", "uniq_grams", "dup_gram_frac", "dup_char_frac")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getDouble(3),
          if (r.isNullAt(4)) null else r.getDouble(4))).toSet
    for (n <- Seq(1, 2, 3)) {
      assert(rows(TextOps.repetitionStats(edge, "text", n)) ==
        rows(TextOps.repetitionStatsHof(edge, "text", n)), s"edge zoo n=$n")
    }
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    for (n <- Seq(2, 3)) {
      assert(rows(TextOps.repetitionStats(docs, "text", n)) ==
        rows(TextOps.repetitionStatsHof(docs, "text", n)), s"corpus n=$n")
    }
  }

  test("jsonl source: schema'd read quarantines corrupt lines, round-trip lossless") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    // hand-broken file: 2 valid lines, 1 truncated JSON, 1 non-JSON
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part-bad.json"),
      """{"doc_id": 1, "text": "hello \"quoted\" world"}
        |{"doc_id": 2, "text": "tab\there"}
        |{"doc_id": 3, "text": "trunc
        |not json at all
        |""".stripMargin)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    // collect the full frame once: Spark disallows queries that
    // reference ONLY the corrupt column from a raw JSON scan
    val rows = graft.sources.JsonlCorpus.read(spark, dir, schema)
      .select("doc_id", "text", "_corrupt_record").collect()
    assert(rows.count(r => !r.isNullAt(2)) == 2)
    val clean = rows.filter(_.isNullAt(2))
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean == Map(1L -> "hello \"quoted\" world", 2L -> "tab\there"))
    // round-trip: exotic strings survive write -> read bit-for-bit
    val exotic = Seq((10L, "line\nbreak"), (11L, "unié中"), (12L, "back\\slash"))
      .toDF("doc_id", "text")
    val rt = java.nio.file.Files.createTempDirectory("graft_jsonl_rt").toString
    graft.sources.JsonlCorpus.write(exotic, rt)
    val back = graft.sources.JsonlCorpus.readClean(spark, rt, schema)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(back == Map(10L -> "line\nbreak", 11L -> "unié中", 12L -> "back\\slash"))
    // readClean on the hand-broken dir: malformed lines just vanish,
    // and a bare count() is legal (the PERMISSIVE form rejects it)
    assert(graft.sources.JsonlCorpus.readClean(spark, dir, schema).count() == 2)
  }

  test("csv source: quoted fields with delimiters and quotes round-trip") {
    import spark.implicits._
    val nasty = Seq(
      (1L, "comma, inside"),
      (2L, "a \"quoted\" word"),
      (3L, "both, \"and\", more"),
      (4L, ""))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    graft.sources.CsvCorpus.write(nasty, dir)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val back = graft.sources.CsvCorpus.readClean(spark, dir, schema)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    assert(back == Map(1L -> "comma, inside", 2L -> "a \"quoted\" word",
      3L -> "both, \"and\", more", 4L -> ""))
  }

  test("csv source: embedded newlines survive the write-then-readClean round-trip") {
    import spark.implicits._
    // quoteAll legally emits quoted embedded newlines; without multiLine
    // those rows parsed as two malformed lines and DROPMALFORMED made
    // the loss silent (ADVICE r07)
    val nasty = Seq(
      (1L, "line\nbreak"),
      (2L, "two\n\nbreaks"),
      (3L, "crlf\r\nstyle"),
      (4L, "plain"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_nl").toString
    graft.sources.CsvCorpus.write(nasty, dir)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val back = graft.sources.CsvCorpus.readClean(spark, dir, schema)
      .as[(Long, String)].collect().toMap
    assert(back == Map(1L -> "line\nbreak", 2L -> "two\n\nbreaks",
      3L -> "crlf\r\nstyle", 4L -> "plain"))
  }

  test("compactParquet: content-identical, file count tracks bytes, input untouched") {
    import spark.implicits._
    val src = s"/tmp/graft-test-compact-src-${System.nanoTime()}"
    val out = s"/tmp/graft-test-compact-out-${System.nanoTime()}"
    // the small-file problem in miniature: 64 files for ~60 KB of rows
    (1 to 2000).map(i => (i.toLong, s"doc $i body")).toDF("id", "text")
      .repartition(64).write.parquet(src)
    def files(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files(src) == 64)
    val n = graft.ops.StorageOps.compactParquet(spark, src, out, targetFileMB = 256)
    assert(n == 1 && files(out) == 1, s"n=$n files=${files(out)}")
    // rows preserved exactly; the input dir is not touched
    def rows(p: String) = spark.read.parquet(p).as[(Long, String)]
      .collect().sorted.toSeq
    assert(rows(out) == rows(src) && files(src) == 64)
    // a tiny target forces multiple output files
    val out2 = s"/tmp/graft-test-compact-out2-${System.nanoTime()}"
    assert(graft.ops.StorageOps.compactParquet(spark, src, out2, targetFileMB = 1) >= 1)
  }

  test("compactParquet: PARTITIONED layouts size from the recursive listing") {
    import spark.implicits._
    val src = s"/tmp/graft-test-compact-part-${System.nanoTime()}"
    val out = s"/tmp/graft-test-compact-part-out-${System.nanoTime()}"
    // ~6 MB of high-entropy strings under partition subdirectories — a
    // flat listing sees only dirs (0 bytes) and would coalesce to 1
    (1 to 200000).map(i => (i.toLong, i % 4,
        java.security.MessageDigest.getInstance("MD5")
          .digest(i.toString.getBytes).map("%02x".format(_)).mkString))
      .toDF("id", "part", "text")
      .write.partitionBy("part").parquet(src)
    val n = graft.ops.StorageOps.compactParquet(spark, src, out, targetFileMB = 1)
    assert(n >= 2, s"partitioned dir sized at $n files — bytes not counted recursively?")
    assert(spark.read.parquet(out).count() == 200000)
  }

  test("BPE training: hand-computed merges on a crafted corpus") {
    import spark.implicits._
    // words: aaab ×2, ab ×1
    // r1: (a,a)=4 [two per 'aaab' × wc 2], (a,b)=3 → merge (a,a)
    //     'aaab'→[aa,a,b] (LEFTMOST-first: greedy fold), 'ab'→[a,b]
    // r2: (aa,a)=2, (a,b)=3 → merge (a,b) → [aa,ab], [ab]
    // r3: (aa,ab)=2 → merge (aa,ab) → [aaab], [ab]; then nothing ≥ 2
    val docs = Seq("aaab aaab ab").toDF("text")
    val m = TextOps.bpeTrain(docs, "text", numMerges = 10, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(m == Seq((1L, "a", "a", 4L), (2L, "a", "b", 3L), (3L, "aa", "ab", 2L)), m)
  }

  test("BPE training: deterministic tie-break and minCount stop") {
    import spark.implicits._
    // (a,b) and (c,d) both count 2 → left-asc tie-break picks (a,b)
    val docs = Seq("ab cd", "ab cd").toDF("text")
    val m = TextOps.bpeTrain(docs, "text", numMerges = 2, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(m.head == ((1L, "a", "b", 2L)), m)
    assert(m == Seq((1L, "a", "b", 2L), (2L, "c", "d", 2L)), m)
    // raising minCount above every count stops before any merge
    assert(TextOps.bpeTrain(docs, "text", numMerges = 5, minCount = 99).count() == 0)
  }

  test("BPE training: driver kernel equals the distributed merge loop") {
    import spark.implicits._
    // richer corpus: repeated stems, overlapping runs ('aaa'),
    // count ties, multi-char merges chaining across rounds
    val docs = Seq(
      "the theme then there aaa aaab abab",
      "the then banana bandana aaa ab",
      "theme there banana ab ab aaab").toDF("text")
    def table(m: org.apache.spark.sql.DataFrame) =
      m.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    // collectThreshold=0 forces the r18 distributed loop — the
    // equality target the kernel must replay merge-for-merge
    val dist = table(TextOps.bpeTrain(docs, "text", numMerges = 12,
      minCount = 2, collectThreshold = 0))
    val kern = table(TextOps.bpeTrain(docs, "text", numMerges = 12,
      minCount = 2))
    assert(dist.nonEmpty && kern == dist, s"kernel=$kern dist=$dist")
  }

  test("salted join keeps null-id rows and still equals the plain join") {
    import spark.implicits._
    // null idCol: xxhash64 skips null inputs, so an id-only salt sent
    // every null-id row to ONE bucket; the full-row salt must neither
    // drop these rows nor change the result set (ADVICE r07)
    val big = ((1 to 50).map(i => (Option(i.toLong), "hot", s"p$i")) ++
      (51 to 100).map(i => (None: Option[Long], "hot", s"p$i")) ++
      Seq((Some(101L), "cold", "x")))
      .toDF("row_id", "k", "payload")
      // un-hashable column type: the companion-column selection must
      // skip it, not throw DATATYPE_MISMATCH at analysis
      .withColumn("meta", map(lit("a"), lit("b")))
    val dim = Seq(("hot", 1L), ("cold", 2L)).toDF("k", "v")
    val salted = JoinOps.saltedJoin(big, dim, "k", salt = 7, idCol = "row_id")
      .select("payload", "k", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val plain = big.join(dim, "k")
      .select("payload", "k", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(salted.length == 101)
    assert(salted == plain)
  }

  test("streaming JSONL ingest == batch: same clean rows, corrupt shards skipped") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_stream").toString
    graft.sources.JsonlCorpus.write(docs, dir)
    // drop a malformed shard into the landing dir alongside the good ones
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part-corrupt.json"),
      "this is not json\n{\"doc_id\": broken\n")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string").add("lang", "string")
    // stream the directory through the SAME downstream projection as
    // batch (quality metrics), into a memory sink
    val streamed = StreamingOps.runToMemory(
      TextOps.qualityMetrics(
        graft.sources.JsonlCorpus.readCleanStream(spark, dir, schema,
          maxFilesPerTrigger = 2), "text")
        .select("doc_id", "n_words", "quality_score"),
      "jsonl_ingest", "append")
    val batch = TextOps.qualityMetrics(
        graft.sources.JsonlCorpus.readClean(spark, dir, schema), "text")
      .select("doc_id", "n_words", "quality_score")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sorted.toSeq
    assert(key(streamed) == key(batch))
    assert(streamed.count() == docs.count(), "corrupt shard must drop, clean rows all land")
  }

  test("shard manifest: token conservation, full interior sequences, layout-stable sig") {
    import spark.implicits._
    val docs = Seq((1L, 300L), (2L, 300L), (3L, 100L), (4L, 50L))
      .toDF("doc_id", "tok")
    val packed = PackingOps.packSequences(docs, "doc_id", "tok", 256L)
    val m = PackingOps.shardManifest(packed, "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(5))).toMap
    // 750 tokens -> seqs 0,1 full (256), seq 2 holds the 238-token tail
    assert(m.keySet == Set(0L, 1L, 2L))
    assert(m(0L)._2 == 256L && m(1L)._2 == 256L && m(2L)._2 == 238L)
    assert(m.values.map(_._2).sum == 750L)
    // the signature is a pure function of the layout, not partitioning
    val m8 = PackingOps.shardManifest(
        PackingOps.packSequences(docs.repartition(8), "doc_id", "tok", 256L),
        "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    m.foreach { case (seq, (_, _, sig)) => assert(m8(seq) == sig) }
  }

  test("source overlap: shared-gram counts exact, universal grams dropped") {
    import spark.implicits._
    val eight = "w1 w2 w3 w4 w5 w6 w7 w8"          // one shared 8-gram
    val df = Seq(
      ("a", s"$eight xa ya za qa ra sa ta ua"),
      ("b", s"$eight xb yb zb qb rb sb tb ub"),
      ("c", "only c words here nothing shared at all")) // no overlap
      .toDF("source", "text")
    val got = TextOps.sourceOverlap(df, "source", "text", k = 8)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // a and b share exactly the grams fully inside the common prefix:
    // windows starting at tokens 1..9 of 16 stay identical only while
    // all 8 words match -> exactly 1 such window... compute instead:
    assert(got.keySet == Set(("a", "b")))
    assert(got(("a", "b")) >= 1L)
    // a gram in every source vanishes when maxSources forces the drop
    val all3 = Seq(("a", eight), ("b", eight), ("c", eight))
      .toDF("source", "text")
    assert(TextOps.sourceOverlap(all3, "source", "text",
      k = 8, maxSources = 2).count() == 0)
  }

  test("perplexity buckets: per-lang ntile sizes within 1, head outranks tail") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val rows = SelectionOps.perplexityBuckets(docs, "doc_id", "text", "lang")
      .collect()
      .map(r => (r.getString(1), r.getDouble(3), r.getLong(4), r.getString(5)))
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val sizes = rs.groupBy(_._3).view.mapValues(_.length).toMap
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$lang ntile sizes $sizes differ by more than 1")
      // every head score >= every tail score within the language
      val headMin = rs.filter(_._4 == "head").map(_._2).min
      val tailMax = rs.filter(_._4 == "tail").map(_._2).max
      assert(headMin >= tailMax, s"$lang head $headMin < tail $tailMax")
    }
  }

  test("perplexity buckets: approx cut-points agree with exact off the edges") {
    // the 100 TB path: sketch cut-points per language instead of the
    // per-language ntile sort.  Invariants: buckets in [1, n], band
    // mapping consistent, bucket monotone non-increasing in score
    // within a language; and vs the exact split, disagreement is
    // confined to the cut edges (ties + sketch rank error) — on this
    // corpus with a tight accuracy that means a high agreement rate
    // and never more than one bucket of difference.
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val exact = SelectionOps.perplexityBuckets(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(3), r.getLong(4))).toMap
    val approx = SelectionOps.perplexityBuckets(docs, "doc_id", "text", "lang",
        approxCutpoints = true)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(3), r.getLong(4))).toMap
    assert(approx.keySet == exact.keySet)
    approx.values.foreach { case (_, _, b) => assert(b >= 1L && b <= 3L) }
    // within a language, a higher score must never land in a LOWER
    // bucket number's complement (monotone: score desc -> bucket asc)
    approx.values.groupBy(_._1).foreach { case (lang, rs) =>
      val sorted = rs.toSeq.sortBy(-_._2)
      sorted.sliding(2).foreach {
        case Seq((_, s1, b1), (_, s2, b2)) =>
          assert(b1 <= b2 || s1 == s2, s"$lang: score $s1 bucket $b1 vs $s2 bucket $b2")
        case _ =>
      }
    }
    val diffs = exact.keys.map(k => math.abs(exact(k)._3 - approx(k)._3)).toSeq
    assert(diffs.max <= 1L, "approx bucket may differ from exact only at a cut edge")
    val agree = diffs.count(_ == 0L).toDouble / diffs.size
    assert(agree >= 0.9, f"approx/exact bucket agreement $agree%.3f below 0.9")
  }

  test("perplexity buckets: null-lang docs survive BOTH the exact and approx paths") {
    // regression (r13 advice): the approx path's equi-join on lang
    // dropped null-lang docs that the exact ntile path kept as their
    // own window partition — the two paths must bucket the SAME set.
    import spark.implicits._
    val docs = Seq.tabulate(30)(i =>
        (i.toLong, ("tok " * (1 + i % 7)).trim, if (i % 5 == 0) null else s"l${i % 2}"))
      .toDF("doc_id", "text", "lang")
    val exact = SelectionOps.perplexityBuckets(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    val approx = SelectionOps.perplexityBuckets(docs, "doc_id", "text", "lang",
        approxCutpoints = true)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(exact.keySet == (0L until 30L).toSet, "exact path must keep null-lang docs")
    assert(approx.keySet == exact.keySet,
      "approx path must bucket the same survivor set as exact (incl. null lang)")
    // null-lang docs form their own group in both paths: every one is
    // bucketed in [1, n] (this fixture's texts repeat, so scores tie
    // heavily and per-doc buckets may differ by the documented tie
    // mass — set membership is the regression under test)
    (0L until 30L by 5L).foreach { id =>
      assert(exact(id) >= 1L && exact(id) <= 3L)
      assert(approx(id) >= 1L && approx(id) <= 3L)
    }
  }

  test("budget select: greedy prefix property per partition") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val scored = TextOps.qualityMetrics(docs, "text")
      .select(col("doc_id"), col("lang"), col("quality_score"),
        TextOps.bpeTokenEstimate(col("text")).as("tok"))
    val budget = 2000L
    val kept = SelectionOps.budgetSelect(
        scored, "doc_id", "lang", "quality_score", "tok", budget)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(kept.nonEmpty)
    kept.groupBy(_._1).foreach { case (lang, rs) =>
      // every kept row starts inside the budget; the running total is
      // consistent with the row's own token count
      rs.foreach { case (_, id, tok, cum) =>
        assert(cum - tok < budget, s"$lang doc $id starts past the budget")
      }
      // the greedy set is a PREFIX of the ranking: kept count must
      // equal the number of ranked docs whose predecessors fit
      val ranked = scored.filter(col("lang") === lang)
        .orderBy(col("quality_score").desc, col("doc_id"))
        .select(col("tok").cast("long")).collect().map(_.getLong(0))
      val expected = ranked.scanLeft(0L)(_ + _).init.count(_ < budget)
      assert(rs.length == expected,
        s"$lang kept ${rs.length}, greedy prefix says $expected")
    }
  }

  test("mixture plan: epochs = min(needed/available, cap), missing sources excluded") {
    import spark.implicits._
    val df = Seq.tabulate(60)(i => (s"s${i % 3}", 10L + i % 7))
      .toDF("source", "tok")
    val plan = SelectionOps.mixturePlan(df, "source", "tok",
        Map("s0" -> 0.9, "s1" -> 0.1), totalBudget = 10000L, maxEpochs = 4.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getDouble(5))).toMap
    assert(!plan.contains("s2"), "untargeted source must be excluded")
    val (_, n0, need0, ep0) = (0, plan("s0")._2, plan("s0")._3, plan("s0")._4)
    assert(need0 == 9000L)
    assert(ep0 == math.min(need0.toDouble / n0, 4.0))
    assert(plan("s1")._4 == math.min(1000.0 / plan("s1")._2, 4.0))
  }

  test("selection/overlap/skew ops degrade gracefully on degenerate corpora") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    // empty corpus: every stage yields empty, nothing throws
    assert(SelectionOps.perplexityBuckets(empty, "doc_id", "text", "lang").count() == 0)
    assert(SelectionOps.budgetSelect(
      empty.withColumn("tok", lit(1L)), "doc_id", "lang", "doc_id", "tok", 10L)
      .count() == 0)
    assert(TextOps.sourceOverlap(empty, "source", "text").count() == 0)
    assert(TextOps.corpusDiff(empty, empty, "doc_id", "text").count() == 0)
    assert(TextOps.bpePairCounts(empty, "text").count() == 0)
    assert(TextOps.tfIdfTopTerms(empty, "doc_id", "text").count() == 0)
    // single source: overlap has no pairs but does not throw
    val one = Seq((1L, "a b c d e f g h", "en", "s0"),
      (2L, "a b c d e f g h", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    assert(TextOps.sourceOverlap(one, "source", "text").count() == 0)
    // all-zero tokens: budget keeps every row (all start at 0 < budget)
    val zeros = Seq((1L, "en", 1.0, 0L), (2L, "en", 0.5, 0L))
      .toDF("id", "lang", "score", "tok")
    assert(SelectionOps.budgetSelect(zeros, "id", "lang", "score", "tok", 5L)
      .count() == 2)
    // a zero-token source can realize no tokens at any repeat count:
    // epochs must be 0, not an ANSI division error (caught by this
    // test before the guard existed)
    val zt = Seq(("s0", 0L)).toDF("source", "tok")
    val p = SelectionOps.mixturePlan(zt, "source", "tok",
      Map("s0" -> 1.0), 100L, maxEpochs = 4.0).collect()
    assert(p.head.getDouble(5) == 0.0, "zero-token source must yield 0 epochs")
  }

  test("selection pipeline: full interior sequences, rerun-stable manifest") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    def run() = SelectionOps.selectionPipeline(docs,
        "doc_id", "text", "lang", "source", budgetPerLang = 2000L,
        targets = Map("src0" -> 0.5, "src1" -> 0.5),
        totalBudget = 20000L, seqLen = 128L, salt = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(5)))
      .sortBy(_._1).toSeq
    val m = run()
    assert(m.nonEmpty)
    // every sequence except the last is exactly full
    m.init.foreach { case (seq, _, n, _) => assert(n == 128L, s"seq $seq has $n") }
    assert(m.last._3 <= 128L)
    // the whole composition is a pure function of its inputs
    assert(run() == m)
  }

  test("mixture materialization: fractional epochs realize as hash-fraction extra copies") {
    import spark.implicits._
    val docs = Seq.tabulate(400)(i => (i.toLong, s"s${i % 2}"))
      .toDF("doc_id", "source")
    // crafted plan: s0 gets 1.5 epochs, s1 gets 0.25 (sub-one epoch:
    // only the hash-selected quarter appears at all)
    val plan = Seq(("s0", 1.5), ("s1", 0.25)).toDF("source", "epochs")
    val rows = SelectionOps.materializeMixture(docs, "doc_id", "source", plan, "t7")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDoc = rows.groupBy(_._1).view.mapValues(_.length).toMap
    // recompute the expected copy count from the same md5 bucket rule
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:t7".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 10000
    }
    (0 until 400).foreach { i =>
      val id = i.toLong
      val (full, frac) = if (i % 2 == 0) (1L, 0.5) else (0L, 0.25)
      val expected = full + (if (bucket(id) < frac * 10000) 1L else 0L)
      assert(byDoc.getOrElse(id, 0) == expected,
        s"doc $id: ${byDoc.getOrElse(id, 0)} copies, expected $expected")
    }
    // copies are dense 0..n-1 per doc
    rows.groupBy(_._1).foreach { case (id, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (0L until rs.length.toLong).toSeq, s"doc $id")
    }
    // s0 realized volume ~ 1.5 epochs (hash half), s1 ~ 0.25
    val s0 = rows.count(_._2 == "s0")
    val s1 = rows.count(_._2 == "s1")
    assert(s0 > 250 && s0 < 350, s"s0 got $s0 rows for 200 docs at 1.5 epochs")
    assert(s1 > 20 && s1 < 80, s"s1 got $s1 rows for 200 docs at 0.25 epochs")
  }

  test("JsonOps: schema-explicit sidecar parse, flatten, path extraction, quarantine") {
    import spark.implicits._
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
      .add("tag", org.apache.spark.sql.types.StringType)
    val df = Seq(
      (1L, """{"k": 7, "tag": "a"}"""),
      (2L, """{"k": 9}"""),           // missing field -> null field
      (3L, """not json at all"""),    // corrupt -> null struct
      (4L, null.asInstanceOf[String]) // null sidecar stays null, NOT corrupt
    ).toDF("id", "props")
    val parsed = JsonOps.parseSidecar(df, "props", schema, "meta")
    val flat = JsonOps.flattenSidecar(parsed, "meta", "m_")
      .orderBy("id").collect()
    assert(flat.map(_.schema.fieldNames.toSeq).head == Seq("id", "props", "m_k", "m_tag"))
    assert(flat(0).getLong(2) == 7L && flat(0).getString(3) == "a")
    assert(flat(1).getLong(2) == 9L && flat(1).isNullAt(3))
    assert(flat(2).isNullAt(2) && flat(2).isNullAt(3))
    assert(flat(3).isNullAt(2) && flat(3).isNullAt(3))
    // quarantine = non-null sidecar that failed the parse: exactly id 3
    val bad = JsonOps.corruptSidecars(df, "props", schema).collect()
    assert(bad.map(_.getLong(0)).toSeq == Seq(3L))
    // single-path extraction agrees with the struct parse
    val viaPath = df.select($"id",
        JsonOps.extractPath($"props", "$.k").cast("long").as("k"))
      .orderBy("id").collect().map(r => if (r.isNullAt(1)) None else Some(r.getLong(1)))
    assert(viaPath.toSeq == Seq(Some(7L), Some(9L), None, None))
  }

  test("extractHtmlText: blocks, tags, entities, whitespace — in that order") {
    import spark.implicits._
    val html =
      """<html><head><style>p { b: 1 }</style>
        |<script>if (a < b) { go(); }</script></head>
        |<body><h1>Title</h1>
        |<p>plain &amp; simple, 5 &lt; 7, say &quot;hi&quot; &#39;now&#39;</p>
        |<p>literal markup stays text: &lt;script&gt;evil()&lt;/script&gt;</p>
        |<!-- comment out --></body></html>""".stripMargin
    val out = Seq(html).toDF("h")
      .select(TextOps.extractHtmlText(col("h")).as("t")).head().getString(0)
    assert(out == "Title plain & simple, 5 < 7, say \"hi\" 'now' " +
      "literal markup stays text: <script>evil()</script>", s"got: [$out]")
    // entity-encoded markup decoded AFTER tag-strip stays content —
    // the '<script>' above is text, not an executed strip target
    assert(out.contains("<script>evil()</script>"))
    // null propagates
    assert(Seq((null.asInstanceOf[String], 1)).toDF("h", "i")
      .select(TextOps.extractHtmlText(col("h"))).head().isNullAt(0))
  }

  test("GraftRules: HOF dot product rewrites to the codegen'd DotProduct") {
    // TestSpark wires graft.GraftExtensions, so the injected optimizer
    // rule must fire on BOTH the Scala-API HOF form and the SQL form
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet").limit(50)
    val viaHof = emb.select(col("vec_id"),
      SimilarityOps.dotHof(col("embedding"), col("embedding")).as("d"))
    val optimized = viaHof.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot") && !optimized.contains("aggregate("),
      s"HOF form not rewritten:\n$optimized")
    // bit-identical to the direct expression
    val direct = emb.select(col("vec_id"),
      SimilarityOps.dot(col("embedding"), col("embedding")).as("d"))
    assert(viaHof.exceptAll(direct).isEmpty && direct.exceptAll(viaHof).isEmpty)
    // SQL spelling (casts written explicitly) rewrites too
    emb.createOrReplaceTempView("graft_rules_emb")
    val sqlPlan = spark.sql(
      """SELECT aggregate(zip_with(embedding, embedding,
        |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |  CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS d
        |FROM graft_rules_emb""".stripMargin)
    assert(sqlPlan.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      "SQL HOF form not rewritten")
    // negative control: FLOAT multiply has different rounding — must NOT rewrite
    val floatMul = emb.select(aggregate(
      zip_with(col("embedding"), col("embedding"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v).as("d"))
    assert(!floatMul.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      "float-multiply HOF must be left alone")
  }

  test("GraftRules: nested Unicode normalizations collapse to one pass") {
    // NFC(NFKC(x)), NFKC(NFC(x)), NFC(NFC(x)) -- all collapse to a
    // single pass with the stronger (compat) form winning.  The input
    // must be neither foldable nor a LocalRelation: ConstantFolding
    // and ConvertToLocalRelation would otherwise evaluate the nest
    // away before the node count.
    val df = spark.read.parquet(s"$sf001/documents.parquet").limit(2)
      .select(concat(lit("\uFB01x "), col("text")).as("s")) // fi ligature prefix
    val plan = df.select(
      expr("graft_nfc(graft_nfkc(s))").as("a"),
      expr("graft_nfkc(graft_nfc(s))").as("b"),
      expr("graft_nfc(graft_nfc(s))").as("c"))
    val opt = plan.queryExecution.optimizedPlan
    val norms = opt.collect { case node =>
      node.expressions.flatMap(_.collect {
        case n: graft.functions.NormalizeText => n })
    }.flatten
    assert(norms.length == 3, s"expected 3 collapsed normalize nodes in:\n$opt")
    assert(norms.count(_.compat) == 2, s"compat must win in both compositions: $norms")
    // value check: NFKC folds the ligature wherever it appears in the
    // composition; the pure-NFC chain keeps it
    val row = plan.head()
    assert(row.getString(0).startsWith("fix ") && row.getString(1).startsWith("fix ") &&
      row.getString(2).startsWith("\uFB01x "), s"values: $row")
  }

  test("linearQualityScore: hand-computed hashed-linear score; empty doc = bias") {
    import spark.implicits._
    val w = SelectionOps.demoWeights(64)
    // reproduce the portable bucket (md5 60-bit % d) independently
    def bucket(t: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(15), 16) % 64).toInt
    }
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, ""), (3L, "   "),        // empty / whitespace-only -> bias
      (4L, "the the the")           // repeated token sums its weight
    ).toDF("doc_id", "text")
    val out = SelectionOps.linearQualityScore(docs, "doc_id", "text", w, bias = 17L)
      .orderBy("doc_id").collect()
    val exp1 = 17L + Seq("the", "quick", "brown", "fox").map(t => w(bucket(t)).toLong).sum
    assert(out(0).getLong(2) == exp1 && out(0).getLong(1) == 4L)
    assert(out(1).getLong(2) == 17L && out(1).getLong(1) == 0L)
    assert(out(2).getLong(2) == 17L && out(2).getLong(1) == 0L)
    assert(out(3).getLong(2) == 17L + 3L * w(bucket("the")))
    // prob is the logistic of the exact integer score; keep thresholds at 0
    out.foreach { r =>
      val p = 1.0 / (1.0 + math.exp(-(r.getLong(2).toDouble / 1000.0)))
      assert(r.getDouble(3) == p, s"prob mismatch: $r")
      assert(r.getLong(4) == (if (r.getLong(2) >= 0L) 1L else 0L))
    }
  }

  test("UrlOps: canonicalization and registrable-domain edge cases") {
    import spark.implicits._
    val cases = Seq(
      // default https port + tracking params + fragment all go
      "HTTPS://WWW.Ex.COM:443/A/b?utm_source=x&id=2&gclid=z#top" ->
        ("https://www.ex.com/A/b?id=2", "ex.com"),
      // http default port; params all tracking -> query dropped entirely
      "http://News.Site.ORG:80/p?utm_a=1&fbclid=2" ->
        ("http://news.site.org/p", "site.org"),
      // non-default port survives normalization; domain strips ANY port
      "https://a.b.co.uk:8443/x" ->
        ("https://a.b.co.uk:8443/x", "b.co.uk"),
      // unknown scheme: host untouched beyond lowercase
      "ftp://Files.Ex.COM:443/d" ->
        ("ftp://files.ex.com:443/d", "ex.com"),
      // single-label host passes through whole
      "https://localhost/x" -> ("https://localhost/x", "localhost"),
      // IPv4: no registrable domain
      "http://10.1.2.3/x" -> ("http://10.1.2.3/x", "10.1.2.3"),
      // deep subdomain under a multi-part suffix
      "https://a.b.c.gov.uk/" -> ("https://a.b.c.gov.uk/", "c.gov.uk"))
    val df = cases.map(_._1).toDF("url")
    val out = df.select(col("url"),
        UrlOps.normalizeUrl(col("url")).as("n"),
        UrlOps.registrableDomain(col("url")).as("d"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    cases.foreach { case (u, exp) =>
      assert(out(u) == exp, s"$u: got ${out(u)}, want $exp")
    }
  }

  test("UrlOps: capPerDomain keeps exactly cap rows per domain, by order") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, s"https://site${i % 2}.com/p/$i")).toDF("id", "url")
    val kept = UrlOps.capPerDomain(docs, "url", "id", cap = 3)
      .select("id", "domain", "domain_rank").collect()
    assert(kept.length == 6)
    // lowest ids win inside each domain
    assert(kept.filter(_.getString(1) == "site0.com").map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 2L, 4L))
    assert(kept.filter(_.getString(1) == "site1.com").map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L, 5L))
    kept.foreach(r => assert(r.getInt(2) <= 3))
    // the bounded-heap TopK route (long-id default) == the window form
    val viaWindow = UrlOps.capPerDomain(docs, "url", "id", cap = 3,
        viaTopK = false)
      .select("id", "domain", "domain_rank")
    val viaTopK = UrlOps.capPerDomain(docs, "url", "id", cap = 3)
      .select("id", "domain", "domain_rank")
    assert(viaTopK.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaTopK).isEmpty, "TopK route != window route")
  }

  test("bpeEncode == classic lowest-rank-anywhere BPE; hand example; partition-invariant") {
    import spark.implicits._
    // independent implementation of the classic algorithm: repeatedly
    // merge the LOWEST-RANK pair present anywhere in the word
    def classic(w: String, merges: Seq[(String, String)]): Seq[String] = {
      var syms = w.map(_.toString).toVector
      var go = true
      while (go) {
        val hit = merges.zipWithIndex.flatMap { case ((l, r), rank) =>
          (0 until syms.length - 1)
            .find(i => syms(i) == l && syms(i + 1) == r)
            .map(i => (rank, i))
        }.sortBy(_._1).headOption
        hit match {
          case Some((rank, i)) =>
            val (l, r) = merges(rank)
            syms = (syms.take(i) :+ (l + r)) ++ syms.drop(i + 2)
          case None => go = false
        }
      }
      syms
    }
    // train on the real corpus so merges chain (multi-char operands)
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val merges = TextOps.bpeTrain(docs, "text", numMerges = 10, minCount = 2)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty)
    val out = TextOps.bpeEncode(docs.limit(50), "doc_id", "text", merges)
      .orderBy("doc_id").collect()
    val texts = docs.limit(50).orderBy("doc_id")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      val words = texts(r.getLong(0)).split("\\s+").filter(_.nonEmpty)
      val expected = words.map(w => classic(w, merges).length.toLong).sum
      assert(r.getLong(2) == expected,
        s"doc ${r.getLong(0)}: got ${r.getLong(2)}, classic $expected")
      assert(r.getLong(1) == words.length.toLong)
    }
    // hand example: merges (l,o) then (lo,w)
    val hand = Seq((7L, "low lower wow")).toDF("id", "t")
    val h = TextOps.bpeEncode(hand, "id", "t", Seq("l" -> "o", "lo" -> "w")).head()
    // low -> [low]; lower -> [low,e,r]; wow -> [w,o,w]  => 1+3+3
    assert(h.getLong(2) == 7L, s"hand: $h")
    // partition invariance: md5 fingerprints identical under any layout
    val p1 = TextOps.bpeEncode(docs.repartition(8), "doc_id", "text", merges)
      .select("doc_id", "bpe_md5").as[(Long, String)].collect().toMap
    val p2 = TextOps.bpeEncode(docs.coalesce(1), "doc_id", "text", merges)
      .select("doc_id", "bpe_md5").as[(Long, String)].collect().toMap
    assert(p1 == p2)
  }
}
